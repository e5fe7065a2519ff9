"""Per-layer metrics of a traced run.

Three sources, all outside the program:
- the spans the traced ops recorded around each layer call, with the
  job's Spark SQL executions as child spans (kind, duration, plan metrics);
- isolated layer actions run once after the timed ops, each forced with a
  ``noop`` write: extraction alone, the newest-per-url window, the resume
  anti-join, the committed-output read, WARC ingestion on workloads that
  do not ingest WARC;
- single-threaded kernel calls in this process over the workload's own
  documents, and per format family over the seed's mixed_formats corpus.
"""

from __future__ import annotations

import statistics
import time

from . import gen
from .checks import read_rows
from .formats import FAMILIES, family
from .sparkstats import StatusStore

KERNEL_SECONDS = 1.5      # time budget of the kernel.ms_per_doc loop
MIME_SECONDS = 0.3        # time budget of the kernels.mime loop
MIB = 2.0**20


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _children(tracer, span: dict) -> list[dict]:
    return [s for s in tracer.spans if s["parent"] == span["id"]]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


def _job_metrics(tracer, op_ids: list[int]) -> dict[str, float]:
    """Medians over the traced ops of the job's own numbers."""
    per_op: dict[str, list[float]] = {}

    def put(k, v):
        per_op.setdefault(k, []).append(v)

    for i in op_ids:
        op = tracer.of_op(i, "op")[0]
        for job in tracer.of_op(i, "job.run_extraction_job"):
            sql = _children(tracer, job)
            writes = [s for s in sql if s["name"] == "sql.write"]
            python = [s for s in sql if s["runs_python"]]
            put("job.run_s", _dur(job))
            put("job.spark_executions", len(sql))
            put("job.python_stage_runs", len(python))
            put("job.checkpoint_mb", job["checkpoint_mb"])
            put("job.sql_covered_pct", 100.0 * sum(s["duration_s"] for s in sql) / _dur(job))
            put("extract.py_run_s", sum(s["metrics"]["python_run_s"] for s in sql))
            put("extract.arrow_in_mb", sum(s["metrics"]["arrow_in_b"] for s in sql) / MIB)
            put("extract.arrow_out_mb", sum(s["metrics"]["arrow_out_b"] for s in sql) / MIB)
            put("extract.batches", sum(s["metrics"]["input_batches"] for s in python))
            # the job's first write is the data append, the second the lineage
            put("io.append_s", writes[0]["duration_s"])
            put("io.written_mb", writes[0]["metrics"]["written_b"] / MIB)
            put("io.files_written", writes[0]["metrics"]["files_written"])
            put("metrics.lineage_s", writes[1]["duration_s"] if len(writes) > 1 else 0.0)
            put("metrics.summary_s", sum(s["duration_s"] for s in sql if s["name"] == "sql.collect"))
        for name in ("sources.pages", "sources.errors"):
            for s in tracer.of_op(i, name):
                put(f"{name}_s", _dur(s))
                put(f"{name}.files_read", sum(c.get("metrics", {}).get("files_read", 0.0)
                                              for c in _children(tracer, s)))
        put("trace.covered_pct",
            100.0 * sum(_dur(s) for s in _children(tracer, op)) / _dur(op))
    return {k: _median(v) for k, v in per_op.items()}


def _sources_isolated(wl) -> dict[str, float]:
    """WARC ingestion of the seed's drop 0, for workloads whose ops do
    not ingest WARC: read_warc_pages + append, read_warc_errors."""
    from sparktika.pipeline import io as tio
    from sparktika.pipeline.sources import read_warc_errors, read_warc_pages

    archives, exp = gen.warc_drop(wl.cache, wl.seed, 0)
    glob = f"{archives}/*.warc.gz"
    store = StatusStore(wl.spark)
    before = store.last_id()
    t = time.monotonic()
    tio.append_table(read_warc_pages(wl.spark, glob).select(
        "url", "warc_ts", "html", "text", "lang"), str(wl.work / "warc-pages"))
    pages_s = time.monotonic() - t
    t = time.monotonic()
    read_warc_errors(wl.spark, glob).collect()
    errors_s = time.monotonic() - t
    files = sum(e.metric("Scan binaryFile", "number of files read") for e in store.since(before))
    return {"sources.pages_s": pages_s, "sources.errors_s": errors_s,
            "sources.files_read_per_archive": files / exp["archives"],
            "sources.archive_mb": exp["archive_bytes"] / MIB}


def _kernel_loop(docs, seconds: float, fn) -> tuple[float, int]:
    """Calls fn(url, data) over docs (cycling) until `seconds` have
    passed, after at least one full pass; returns (total s, calls)."""
    n, spent = 0, 0.0
    while n < len(docs) or spent < seconds:
        url, data = docs[n % len(docs)]
        t = time.perf_counter()
        fn(url, data)
        spent += time.perf_counter() - t
        n += 1
    return spent, n


def _kernels(wl) -> dict[str, float]:
    from sparktika.kernels.extract import extract_document
    from sparktika.kernels.mime import detect_mime

    cfg = wl.cfg
    out = {}
    # per family: one copy of the seed's mixed_formats corpus (its warm-up
    # table). The untimed first pass also imports every kernel module, which
    # the engine imports lazily on a format's first document.
    path, _ = gen.inputs(wl.cache, "mixed_formats", wl.seed)
    mixed = [(r["url"], r["html"]) for r in read_rows(path / "warm", ["url", "html"])]
    for u, d in mixed:
        extract_document(u, None, d, cfg)
    cost = {f: [0.0, 0] for f in FAMILIES}
    for u, d in mixed:
        t = time.perf_counter()
        r = extract_document(u, None, d, cfg)
        c = cost[family(r.content_type_detected)]
        c[0] += time.perf_counter() - t
        c[1] += 1
    for f, (s, k) in cost.items():
        out[f"kernels.{f}.ms_per_doc"] = 1000.0 * s / k if k else 0.0
    own = wl.kernel_docs()
    spent, n = _kernel_loop(own, KERNEL_SECONDS,
                            lambda u, d: extract_document(u, None, d, cfg))
    out["kernels.ms_per_doc"] = 1000.0 * spent / n
    spent, n = _kernel_loop(own, MIME_SECONDS, lambda u, d: detect_mime(d, None, u))
    out["kernels.mime.us_per_doc"] = 1e6 * spent / n
    return out


def _isolated(wl) -> dict[str, float]:
    """Each layer action alone over the workload's own input and the
    latest committed output, forced with a noop write."""
    from sparktika.pipeline import io as tio
    from sparktika.pipeline.extract import extract_pages
    from sparktika.pipeline.resume import newest_per_url, pending_pages
    from .workloads import NUM_PARTITIONS

    spark, pages, out = wl.spark, wl.pages_location(), wl.output_location()
    return {
        "extract.noop_s": _noop(extract_pages(tio.read_table(spark, pages), wl.cfg,
                                              num_partitions=NUM_PARTITIONS)),
        "resume.newest_s": _noop(newest_per_url(tio.read_table(spark, pages))),
        "resume.pending_s": _noop(pending_pages(tio.read_table(spark, pages),
                                                tio.read_table(spark, out).select("url"))),
        "io.read_committed_s": _noop(tio.read_table(spark, out).select("url")),
    }


def layer_metrics(wl, tracer, ops: list[dict], session_start_s: float,
                  worker_start_s: float) -> dict[str, tuple[float, str]]:
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    m = _job_metrics(tracer, [o["i"] for o in traced])
    m.update(_isolated(wl))
    if "sources.pages_s" in m:
        archives = wl.drops[traced[0]["i"]][1]
        m["sources.files_read_per_archive"] = (
            (m.pop("sources.pages.files_read") + m.pop("sources.errors.files_read"))
            / archives["archives"])
        m["sources.archive_mb"] = _median(wl.drops[o["i"]][1]["archive_bytes"]
                                          for o in traced) / MIB
    else:
        m.update(_sources_isolated(wl))
    m.update(_kernels(wl))
    docs = sum(o["docs"] for o in ops)
    m["cpu.jvm_s_per_kdoc"] = 1000.0 * sum(o["cpu_jvm"] for o in ops) / docs
    m["cpu.python_s_per_kdoc"] = 1000.0 * sum(o["cpu_python"] for o in ops) / docs
    m["session.start_s"] = session_start_s
    m["session.worker_start_s"] = worker_start_s
    m["trace.overhead_pct"] = 100.0 * (_median(o["wall"] for o in traced)
                                       / _median(o["wall"] for o in untraced) - 1.0)
    missing = set(UNITS) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not produced: {sorted(missing)}")
    return {k: (m[k], UNITS[k]) for k in sorted(UNITS)}


UNITS = {
    "session.start_s": "s", "session.worker_start_s": "s",
    "kernels.ms_per_doc": "ms", "kernels.mime.us_per_doc": "us",
    **{f"kernels.{f}.ms_per_doc": "ms" for f in FAMILIES},
    "extract.noop_s": "s", "extract.py_run_s": "s",
    "extract.arrow_in_mb": "MiB", "extract.arrow_out_mb": "MiB", "extract.batches": "count",
    "resume.newest_s": "s", "resume.pending_s": "s",
    "io.append_s": "s", "io.written_mb": "MiB", "io.files_written": "count",
    "io.read_committed_s": "s",
    "metrics.lineage_s": "s", "metrics.summary_s": "s",
    "job.run_s": "s", "job.spark_executions": "count", "job.python_stage_runs": "count",
    "job.checkpoint_mb": "MiB", "job.sql_covered_pct": "%",
    "cpu.jvm_s_per_kdoc": "s/kdoc", "cpu.python_s_per_kdoc": "s/kdoc",
    "sources.pages_s": "s", "sources.errors_s": "s",
    "sources.files_read_per_archive": "count", "sources.archive_mb": "MiB",
    "trace.covered_pct": "%", "trace.overhead_pct": "%",
}
