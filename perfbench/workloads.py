"""The three workloads. An op is one user-visible unit of work; the run
loop times ``op`` and nothing else, and calls ``prepare`` (untimed, input
generation) before and ``check`` (untimed, correctness) after it.

Each op writes to a fresh location under the run's work directory, which
the run removes when it ends.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from . import checks, gen
from .sparkstats import StatusStore, stored_rdds

# salted repartition of the job (extract_pages num_partitions): spreads the
# extraction over 2 tasks per core at local[2] instead of one scan task per core
NUM_PARTITIONS = 4
_OUT_COLS = ["url", "status", "title", "links", "text_extracted",
             "content_type_detected"]


class Workload:
    name = ""
    warmup_ops = 1
    round_ops = 1       # timed ops come in whole rounds of this many

    def __init__(self, spark, seed: int, cache: Path, work: Path):
        from sparktika.synth import SYNTH_CONFIG

        self.spark, self.seed, self.cache, self.work = spark, seed, cache, work
        self.cfg = SYNTH_CONFIG
        self.store = StatusStore(spark)
        self.manifests: dict[int, dict] = {}

    @classmethod
    def generate(cls, cache: Path, seed: int) -> None:
        """Before set-up: build (or find cached) the run's inputs."""

    def prepare(self, i: int) -> None:
        """Untimed: make sure op i's inputs exist."""

    def op(self, i: int, tracer) -> int:
        """Runs op i; returns the number of input documents it handled."""
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        raise NotImplementedError

    def pages_location(self) -> str:
        raise NotImplementedError

    def output_location(self) -> str:
        """Committed output of the latest op (for the isolated layer actions)."""
        raise NotImplementedError

    def kernel_docs(self) -> list[tuple[str, bytes]]:
        """(url, bytes) of the workload's own documents."""
        raise NotImplementedError

    def job(self, tracer, pages: str, out: str, metrics: str) -> dict:
        """One run_extraction_job call; traced, it also records the job's
        Spark SQL executions and the storage its checkpoint holds."""
        from sparktika.pipeline.job import run_extraction_job

        if tracer.enabled:
            before, held = self.store.last_id(), stored_rdds(self.spark)
        with tracer.span("job.run_extraction_job") as span:
            manifest = run_extraction_job(self.spark, pages, out, metrics, self.cfg,
                                          num_partitions=NUM_PARTITIONS)
        if tracer.enabled:
            # RDDs stored by this call (older ones may be released meanwhile)
            span["checkpoint_mb"] = sum(mb for rdd, mb in stored_rdds(self.spark).items()
                                        if rdd not in held)
            record_executions(tracer, self.store, before, span)
        return manifest

    def lineage(self, metrics: str) -> list[dict]:
        return checks.read_rows(metrics, ["run_id", "docs_in"])


def record_executions(tracer, store: StatusStore, before: int, parent: dict) -> None:
    """Adds one child span per Spark SQL execution that ran since
    execution id `before`, with its callsite, kind and plan metrics."""
    for e in store.since(before):
        start = e.submitted - tracer.origin_epoch
        tracer.add(f"sql.{e.kind}", start, start + e.duration_s, parent["id"],
                   callsite=e.callsite, execution_id=e.id, duration_s=e.duration_s,
                   runs_python=e.runs_python,
                   metrics={"python_run_s": e.metric("MapInArrow", "time to run Python workers"),
                            "arrow_in_b": e.metric("MapInArrow", "data sent to Python workers"),
                            "arrow_out_b": e.metric("MapInArrow", "data returned from Python workers"),
                            "input_batches": e.metric("ColumnarToRow", "number of input batches"),
                            "written_b": e.metric("Execute", "written output"),
                            "files_written": e.metric("Execute", "number of written files"),
                            "files_read": e.metric("Scan binaryFile", "number of files read")})


class PagesJob(Workload):
    """One run_extraction_job over a generated parquet pages table: the
    first (coldest) warm-up op over the small 'warm' table, every other op
    over the 'main' table."""

    warmup_ops = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.inputs, self.expected = gen.inputs(self.cache, self.name, self.seed)
        self.last = -1

    @classmethod
    def generate(cls, cache: Path, seed: int) -> None:
        gen.inputs(cache, cls.name, seed)

    def _table(self, i: int) -> str:
        return "warm" if i == 0 else "main"

    def _dirs(self, i: int) -> tuple[Path, Path]:
        return self.work / f"op-{i:04d}" / "out", self.work / f"op-{i:04d}" / "metrics"

    def pages_location(self) -> str:
        return str(self.inputs / "main")

    def output_location(self) -> str:
        return str(self._dirs(self.last)[0])

    def op(self, i: int, tracer) -> int:
        out, met = self._dirs(i)
        self.manifests[i] = self.job(tracer, str(self.inputs / self._table(i)),
                                     str(out), str(met))
        self.last = i
        return self.expected[self._table(i)]["rows"]

    def check(self, i: int) -> list[str]:
        out, met = self._dirs(i)
        exp = self.expected[self._table(i)]
        errs = self.check_rows(checks.read_rows(out, _OUT_COLS), exp)
        errs += checks.check_manifest(self.manifests[i], self.lineage(met),
                                      self.n_committed(exp))
        if i > 0:   # keep only the latest output (the isolated actions read it)
            shutil.rmtree(out.parent.with_name(f"op-{i - 1:04d}"), ignore_errors=True)
        return errs

    def kernel_docs(self) -> list[tuple[str, bytes]]:
        return [(r["url"], r["html"])
                for r in checks.read_rows(self.inputs / "main", ["url", "html"])]


class CrawlHtml(PagesJob):
    name = "crawl_html"
    round_ops = 3

    @staticmethod
    def n_committed(exp) -> int:
        return len(exp["pages"])

    @staticmethod
    def check_rows(rows, exp):
        return checks.check_heavy_pages(rows, exp["pages"])


class MixedFormats(PagesJob):
    name = "mixed_formats"
    round_ops = 4

    @staticmethod
    def n_committed(exp) -> int:
        return len(exp["docs"])

    @staticmethod
    def check_rows(rows, exp):
        return checks.check_mixed(rows, exp["docs"])


class IncrementalWarc(Workload):
    """One crawl drop per op, into one growing pages table and output:
    ingest the drop's archives, append them, check the error side output,
    commit with a resuming job. Drops 0 (the first commit) and 1 are
    warm-up."""

    name = "incremental_warc"
    warmup_ops = 2
    round_ops = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.pages = str(self.work / "pages")
        self.out, self.met = str(self.work / "out"), str(self.work / "metrics")
        self.drops: dict[int, tuple[Path, dict]] = {}
        self.errors: dict[int, list[dict]] = {}
        self.all_urls: set[str] = set()

    def prepare(self, i: int) -> None:
        self.drops[i] = gen.warc_drop(self.cache, self.seed, i)

    def pages_location(self) -> str:
        return self.pages

    def output_location(self) -> str:
        return self.out

    def op(self, i: int, tracer) -> int:
        from sparktika.pipeline import io as tio
        from sparktika.pipeline.sources import read_warc_errors, read_warc_pages

        archives, exp = self.drops[i]
        glob = f"{archives}/*.warc.gz"
        before = self.store.last_id() if tracer.enabled else None
        with tracer.span("sources.pages") as span:
            with tracer.span("sources.read_warc_pages"):
                pages = read_warc_pages(self.spark, glob).select(
                    "url", "warc_ts", "html", "text", "lang")
            with tracer.span("io.append_table"):
                tio.append_table(pages, self.pages)
        if tracer.enabled:
            record_executions(tracer, self.store, before, span)
            before = self.store.last_id()
        with tracer.span("sources.errors") as span:
            with tracer.span("sources.read_warc_errors"):
                self.errors[i] = [r.asDict() for r in
                                  read_warc_errors(self.spark, glob).collect()]
        if tracer.enabled:
            record_executions(tracer, self.store, before, span)
        self.manifests[i] = self.job(tracer, self.pages, self.out, self.met)
        return exp["records"]

    def check(self, i: int) -> list[str]:
        _, exp = self.drops[i]
        self.all_urls |= set(exp["new"])
        committed = checks.read_rows(self.out, ["url", "status", "title"])
        errs = checks.check_drop(committed, self.all_urls, exp["new"],
                                 self.errors[i], exp["malformed"])
        return errs + checks.check_manifest(self.manifests[i], self.lineage(self.met),
                                            len(exp["new"]))

    def kernel_docs(self) -> list[tuple[str, bytes]]:
        from sparktika.synth import build_heavy_payload

        return [(r["url"], build_heavy_payload(r["doc_id"], r["text"], gen.WARC_BODY_REPEAT))
                for k in sorted(self.drops) for r in gen.warc_drop_records(self.seed, k)]


WORKLOADS = {w.name: w for w in (CrawlHtml, MixedFormats, IncrementalWarc)}
