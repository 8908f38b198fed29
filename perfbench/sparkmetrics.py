"""Read Spark's SQL operator metrics for finished executions.

Spark keeps per-operator metrics for every SQL execution in the shared
status store, even with the UI disabled.  The values arrive as display
strings ("16.8 s", "162.6 KiB", "1,324", or a task distribution such as
``"total (min, med, max (stageId: taskId))\\n16.8 s (238 ms, 344 ms,
1.1 s (stage 10.0: task 40))"``); :func:`parse_metric` is the one parser
for all of them.  Times come back in seconds, sizes in MiB, counts as
plain numbers.

Traps: drain the listener bus before reading (the store is filled
asynchronously), and read executions from the status store, never from
``df._jdf.queryExecution()`` — that is the DataFrame's own plan, not the
execution that ran, and its metrics read empty.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SECONDS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
            "h": 3600.0}
_MIB = {"B": 1.0 / 2**20, "KiB": 1.0 / 2**10, "MiB": 1.0, "GiB": 2.0**10,
        "TiB": 2.0**20, "PiB": 2.0**30, "EiB": 2.0**40}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)\s*$")
_DIST = re.compile(
    r"^(?P<total>[^(]*?)\s*\((?P<min>[^,]+),\s*(?P<med>[^,]+),\s*"
    r"(?P<max>[^(),]+?)\s*(?:\(stage (?P<stage>\d+)\.\d+: task \d+\))?\)\s*$")


def parse_value(text: str) -> float:
    """``"16.8 s"`` -> 16.8, ``"162.6 KiB"`` -> 0.1588 (MiB),
    ``"1,324"`` -> 1324.0."""
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return num
    if unit in _SECONDS:
        return num * _SECONDS[unit]
    if unit in _MIB:
        return num * _MIB[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


@dataclass(frozen=True)
class Metric:
    """One operator metric: the total, plus the per-task distribution
    and the stage that ran it when Spark shows one."""
    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None
    stage: int | None = None


def parse_metric(text: str) -> Metric:
    """Parse any metric display string Spark's status store returns."""
    line = text.strip().rpartition("\n")[2]
    m = _DIST.match(line)
    if m is None:
        return Metric(parse_value(line))
    # average metrics ("avg hash probes per key") show no total: the
    # median task stands for it
    med = parse_value(m["med"])
    return Metric(parse_value(m["total"]) if m["total"] else med,
                  parse_value(m["min"]), med, parse_value(m["max"]),
                  int(m["stage"]) if m["stage"] else None)


@dataclass
class Node:
    """A physical operator of one execution, with its parsed metrics."""
    name: str
    metrics: dict[str, Metric] = field(default_factory=dict)


@dataclass
class Execution:
    id: int
    submitted_ms: int
    jobs: int
    nodes: list[Node]

    def metric(self, op_prefix: str, name: str) -> list[Metric]:
        return [n.metrics[name] for n in self.nodes
                if n.name.startswith(op_prefix) and name in n.metrics]

    def total(self, op_prefix: str, name: str) -> float:
        return sum(m.total for m in self.metric(op_prefix, name))


class StatusStore:
    """Handle on the session's SQL status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()

    def drain(self, timeout_ms: int = 30_000) -> None:
        """Wait until every posted listener event has been processed."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)

    def last_id(self) -> int:
        ex = self._store.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def executions_after(self, last_id: int) -> list[Execution]:
        """Every finished execution with an id above ``last_id``."""
        self.drain()
        out = []
        ex = self._store.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() > last_id:
                out.append(self._read(e))
        return out

    def _read(self, e) -> Execution:
        eid = e.executionId()
        values = self._store.executionMetrics(eid)
        nodes: list[Node] = []

        def add(jnode):
            ms = {}
            it = jnode.metrics().iterator()
            while it.hasNext():
                sm = it.next()
                v = values.get(sm.accumulatorId())
                if v.isDefined():
                    ms[sm.name()] = parse_metric(v.get())
            nodes.append(Node(jnode.name(), ms))

        # whole-stage-codegen clusters carry their own duration metric and
        # hold the operators fused into them
        it = self._store.planGraph(eid).nodes().iterator()
        while it.hasNext():
            jn = it.next()
            add(jn)
            if jn.getClass().getSimpleName() == "SparkPlanGraphCluster":
                ci = jn.nodes().iterator()
                while ci.hasNext():
                    add(ci.next())
        return Execution(eid, e.submissionTime(), e.jobs().size(), nodes)

    def stage_tasks(self, stage_id: int) -> int:
        info = self._sc.statusTracker().getStageInfo(stage_id)
        return info.numTasks if info is not None else 0
