"""sparktika extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds (or reuses) the seed's inputs under
``.perfbench/inputs``, starts the engine's own Spark session, runs untimed
warm-up ops, then whole rounds of timed ops until ``--seconds`` of op time
have passed, checking every op's output against the generator's
expectations. The last
line of standard output is one JSON object::

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
other timed op, runs the isolated layer actions afterwards, reports the
per-layer metrics and writes spans and metrics to
``.perfbench/traces/<workload>-s<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
CORES = 2               # local[2]: leaves the host's other cores to the JVM's
DRIVER_MEM = "1g"       # own threads and to the rest of the machine


def _env(work: Path) -> None:
    """Confines Spark and its workers to the run's work directory, before
    the JVM starts. These are the session factory's own knobs
    (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM) plus where temp files go."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES), SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"), TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = str(tmp)


def _setup(gen_s: float):
    """build_session plus one tiny extraction that starts and imports the
    Python workers. Returns (spark, setup_s, session_start_s, worker_start_s)."""
    from sparktika.pipeline.extract import extract_pages
    from sparktika.pipeline.session import build_session
    from sparktika.synth import SYNTH_CONFIG

    from perfbench import procstat
    from perfbench.sparkstats import StatusStore

    t0 = time.monotonic()
    spark = build_session(app_name="perfbench")
    session_start_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    store = StatusStore(spark)
    before = store.last_id()
    tiny = spark.createDataFrame([("https://setup.example.com/", b"<p>up</p>")],
                                 "url string, html binary")
    extract_pages(tiny, SYNTH_CONFIG).write.format("noop").mode("overwrite").save()
    setup_s = procstat.process_uptime_s() - gen_s
    worker_start_s = sum(e.metric("MapInArrow", "time to start Python workers")
                         + e.metric("MapInArrow", "time to initialize Python workers")
                         for e in store.since(before))
    return spark, setup_s, session_start_s, worker_start_s


def _stop(spark) -> None:
    """Stops the session and the JVM and waits for every process this run
    started (JVM, worker daemon, workers) to exit."""
    from pyspark import SparkContext

    from perfbench import procstat

    pids = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procstat.reap(pids)


def _log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _run_ops(wl, seconds: int, tracer) -> tuple[list[dict], list[str]]:
    """Warm-up ops, then whole rounds of timed ops until `seconds` of op
    time. With a tracer, every other timed op is traced. Returns the timed
    ops (wall, documents, CPU by process kind) and the check failures."""
    from perfbench import procstat
    from perfbench.trace import NullTracer

    errs: list[str] = []
    ops: list[dict] = []
    steal = [0, 0]
    i = 0
    while (i < wl.warmup_ops or len(ops) % wl.round_ops
           or sum(o["wall"] for o in ops) < seconds):
        wl.prepare(i)
        timed = i >= wl.warmup_ops
        traced = tracer is not None and timed and (i - wl.warmup_ops) % 2 == 0
        tr = tracer if traced else NullTracer()
        tr.op_id = i
        c0, h0 = procstat.cpu_seconds(), procstat.host_cpu_ticks()
        t = time.monotonic()
        with tr.span("op"):
            docs = wl.op(i, tr)
        wall = time.monotonic() - t
        c1, h1 = procstat.cpu_seconds(), procstat.host_cpu_ticks()
        if timed:
            steal = [steal[0] + h1[0] - h0[0], steal[1] + h1[1] - h0[1]]
            ops.append({"i": i, "wall": wall, "docs": docs, "traced": traced,
                        "cpu_jvm": c1["jvm"] - c0["jvm"],
                        "cpu_python": c1["python"] - c0["python"]})
        t = time.monotonic()
        errs += [f"op {i}: {e}" for e in wl.check(i)]
        _log(f"op {i} ({'timed' if timed else 'warm-up'}) {wall:.2f} s, "
             f"checked in {time.monotonic() - t:.2f} s")
        i += 1
    _log(f"host CPU steal during the timed ops: {100.0 * steal[0] / max(steal[1], 1):.1f}%")
    return ops, errs


def _end_to_end(ops: list[dict], setup_s: float) -> dict[str, tuple[float, str]]:
    from perfbench import procstat

    docs = sum(o["docs"] for o in ops)
    cpu = sum(o["cpu_jvm"] + o["cpu_python"] for o in ops)
    return {
        "docs_per_s": (docs / sum(o["wall"] for o in ops), "doc/s"),
        "op_s": (statistics.median(o["wall"] for o in ops), "s"),
        "cpu_s_per_kdoc": (1000.0 * cpu / docs, "s/kdoc"),
        "worker_rss_mb": (procstat.worker_peak_rss_mb(), "MiB"),
        "setup_s": (setup_s, "s"),
    }


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cache = STATE / "inputs"
    work = STATE / "work" / f"{workload}-s{seed}-{os.getpid()}"
    cls = WORKLOADS[workload]
    t0 = time.monotonic()
    cls.generate(cache, seed)
    gen_s = time.monotonic() - t0
    _log(f"inputs ready in {gen_s:.1f} s")
    _env(work)
    spark = None
    try:
        spark, setup_s, session_start_s, worker_start_s = _setup(gen_s)
        _log(f"session and workers up, setup_s {setup_s:.1f}")
        wl = cls(spark, seed, cache, work)
        tracer = Tracer() if trace else None
        ops, errs = _run_ops(wl, seconds, tracer)
        if errs:
            from perfbench.checks import summarize

            print(f"perfbench: output check failed: {summarize(errs)}", file=sys.stderr)
        if trace:
            from perfbench.layers import layer_metrics

            metrics = layer_metrics(wl, tracer, ops, session_start_s, worker_start_s)
            tracer.write(STATE / "traces" / f"{workload}-s{seed}.json", metrics)
        else:
            metrics = _end_to_end(ops, setup_s)
        return {"correct": not errs, "attempted": len(ops), "failed": 0,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if spark is not None:
            _log("stopping")
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        _log("done")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_html", "mixed_formats", "incremental_warc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import sparktika  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
