"""Spark's own per-execution SQL metrics, read from outside the program.

``spark._jsparkSession.sharedState().statusStore()`` keeps every SQL
execution with its callsite, wall time and plan-node metrics, also with the
UI disabled. Metric values arrive as Spark's display strings (``"1.2 s"``,
``"total (min, med, max ...)\\n3.6 MiB (...)"``); they are parsed back to
numbers here, so they carry Spark's display precision.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
# plan nodes whose metrics the benchmark reads
NODES = ("MapInArrow", "ColumnarToRow", "Execute", "Scan")
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Spark metric display string -> number (seconds, bytes or a count)."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Execution:
    id: int
    callsite: str          # the user-code frame that triggered it
    kind: str              # checkpoint / write / collect / other
    submitted: float       # wall-clock (epoch) seconds
    duration_s: float
    # '<node name>#<node id>' -> {metric name: (accumulator id, value)}
    nodes: dict[str, dict[str, tuple[int, float]]] = field(default_factory=dict)

    def metric(self, node: str, name: str) -> float:
        """Sum of `name` over the plan nodes whose name starts with `node`,
        each accumulator counted once (an adaptive plan lists a node of
        the initial and of the final plan with the same accumulators)."""
        seen = {acc: v for n, mets in self.nodes.items() if n.startswith(node)
                for m, (acc, v) in mets.items() if m == name}
        return sum(seen.values())

    @property
    def runs_python(self) -> bool:
        """Whether the execution ran the extraction stage."""
        return any(n.startswith("MapInArrow") for n in self.nodes)


def _kind(details: str) -> str:
    first = details.split("\n", 1)[0]
    for marker, kind in (("localCheckpoint", "checkpoint"), ("DataFrameWriter", "write"),
                         ("collectToPython", "collect")):
        if marker in first:
            return kind
    return "other"


class StatusStore:
    """Reads executions that completed after a given point."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def last_id(self) -> int:
        n = self._store.executionsCount()
        if n == 0:
            return -1
        it = self._store.executionsList(n - 1, 1).iterator()
        return it.next().executionId() if it.hasNext() else -1

    def since(self, after_id: int) -> list[Execution]:
        """Executions with id > after_id, oldest first, with the metrics of
        the plan nodes named in NODES (reading every node's metrics costs
        a py4j round trip each)."""
        self._sc.listenerBus().waitUntilEmpty()   # the store is fed asynchronously
        out = []
        first = after_id + 1     # execution ids are sequential from 0
        it = self._store.executionsList(first, self._store.executionsCount() - first).iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= after_id:
                continue
            done = e.completionTime()
            dur = ((done.get().getTime() - e.submissionTime()) / 1000.0
                   if done.isDefined() else 0.0)
            values = self._store.executionMetrics(eid)
            nodes = {}
            gi = self._store.planGraph(eid).allNodes().iterator()
            while gi.hasNext():
                node = gi.next()
                if not node.name().startswith(NODES):
                    continue
                mets = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    v = values.get(pm.accumulatorId())
                    mets[pm.name()] = (pm.accumulatorId(),
                                       parse_metric(v.get() if v.isDefined() else None))
                nodes[f"{node.name()}#{node.id()}"] = mets
            out.append(Execution(eid, e.description(), _kind(e.details()),
                                 e.submissionTime() / 1000.0, dur, nodes))
        out.sort(key=lambda x: x.id)
        return out


def stored_rdds(spark) -> dict[int, float]:
    """{RDD id: MiB held in memory + on disk} of every cached or
    checkpointed RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return {i.id(): (i.memSize() + i.diskSize()) / 2.0**20 for i in infos}
