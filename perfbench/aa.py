"""A/A steadiness check: the same code measured twice, at different times.

    python3 perfbench/aa.py --runs 10 [--workloads crawl_html ...]

Runs set A, then set B. Each set makes ``--runs``
runs of every workload with seeds 1..runs (set B uses runs+1..2*runs),
round-robin over the workloads so that both sets span their whole time
window. For every end-to-end metric it prints, per set, the median, the
quartiles and the spread (inter-quartile distance over the median), then
the gap between the two medians, next to the metric's bound from
BENCHMARK.json. Raw results go to ``.perfbench/aa/<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t
    steal = re.search(r"steal during the timed ops: ([\d.]+)%", p.stderr)
    res["steal_pct"] = float(steal.group(1)) if steal else None
    res["seed"] = seed
    return res


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def report(bench: dict, sets: dict[str, dict[str, list[dict]]]) -> list[str]:
    lines = []
    for w in sets["A"]:
        lines.append(f"\n{w}")
        lines.append(f"  {'metric':16s} {'set':3s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
                     f"{'spread':>7s} {'gap':>7s} {'bound':>6s}")
        for m in bench["end_to_end"]:
            st = {k: stats([r["metrics"][m["name"]]["value"] for r in sets[k][w]])
                  for k in sets}
            worse = (st["B"]["median"] / st["A"]["median"] - 1.0) * (
                1 if m["better"] == "lower" else -1)
            gap = f"{100 * worse:+6.1f}%"
            for k, s in st.items():
                lines.append(
                    f"  {m['name']:16s} {k:3s} {s['median']:10.4g} {s['q1']:10.4g} "
                    f"{s['q3']:10.4g} {100 * s['spread']:6.1f}% "
                    f"{gap if k == 'B' else '':>7s} {100 * m['bound']:5.0f}%")
        fails = {k: sum(r["failed"] for r in sets[k][w]) / sum(r["attempted"] for r in sets[k][w])
                 for k in sets}
        walls = [r["wall_s"] for k in sets for r in sets[k][w]]
        lines.append(f"  failed share {fails}; run wall {min(walls):.1f}-{max(walls):.1f} s")
    return lines


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    sets: dict[str, dict[str, list[dict]]] = {}
    for n, name in enumerate("AB"):
        sets[name] = {w: [] for w in args.workloads}
        for r in range(args.runs):
            for w in args.workloads:
                res = one_run(bench["command"], w, n * args.runs + r + 1, bench["run_seconds"])
                sets[name][w].append(res)
                print(f"set {name} {w} seed {res['seed']}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                      + f" wall={res['wall_s']:.1f}s steal={res['steal_pct']}%",
                      file=sys.stderr, flush=True)
    out = ROOT / ".perfbench" / "aa" / f"{time.strftime('%Y%m%dT%H%M%S')}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(sets, indent=1))
    print("\n".join(report(bench, sets)))
    print(f"\nraw results: {out.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
