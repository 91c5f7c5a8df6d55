"""In-memory spans plus the Spark-side counters attached to them.

A ``Tracer`` records spans (name, start, end, parent) around the
benchmark's calls into the engine and keeps them in memory until the
run ends. ``SparkCounters`` reads what Spark already exposes about the
same intervals: jobs, stages and SQL executions from the UI's REST API,
Catalyst phase times from a DataFrame's ``QueryExecution`` tracker, and
GC / heap figures from the JVM's management beans. Jobs are attributed
to spans by submission time, which is exact because the benchmark runs
one thing at a time; it also catches streaming jobs, whose job group
Spark sets itself.

Importable on its own: nothing here starts Spark or reads a file at
import time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from dataclasses import dataclass, field

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
NESTED_LOOP_NODES = ("BroadcastNestedLoopJoin", "CartesianProduct")
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` free."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def children(self, index: int) -> list[Span]:
        return [s for s in self.spans if s.parent == index]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            covered = union_length(
                [(c.start, c.end) for c in self.children(i)], sp.start, sp.end
            )
            out[sp.name] = out.get(sp.name, 0.0) + sp.duration - covered
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "counters": s.counters,
            }
            for i, s in enumerate(self.spans)
        ]


def union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _epoch(stamp: str | None) -> float | None:
    """Spark REST time ('2026-10-17T12:30:05.123GMT') -> epoch seconds."""
    if not stamp:
        return None
    parsed = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return parsed.replace(tzinfo=dt.timezone.utc).timestamp()


def _num(text) -> float:
    try:
        return float(str(text).replace(",", ""))
    except ValueError:
        return 0.0


class SparkCounters:
    """Reads job / stage / SQL / JVM counters of one live session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self) -> None:
        """Wait until the status store has seen every posted event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        """Jobs, stages and SQL executions known to the UI right now."""
        self.settle()
        jobs = []
        for j in self._get("/jobs"):
            start = _epoch(j.get("submissionTime"))
            if start is None:
                continue
            jobs.append(
                {
                    "id": j["jobId"],
                    "start": start,
                    "end": _epoch(j.get("completionTime")) or time.time(),
                    "stages": j.get("stageIds", []),
                }
            )
        stages = {}
        for s in self._get("/stages"):
            if s.get("status") != "COMPLETE":
                continue
            stages[s["stageId"]] = s
        sql = []
        for e in self._get("/sql?details=true&planDescription=false&length=100000"):
            start = _epoch(e.get("submissionTime"))
            if start is None:
                continue
            sql.append(
                {
                    "start": start,
                    "end": start + e.get("duration", 0) / 1000.0,
                    "nodes": [
                        (
                            n.get("nodeName", ""),
                            {m["name"]: m["value"] for m in n.get("metrics", [])},
                        )
                        for n in e.get("nodes", [])
                    ],
                }
            )
        return {"jobs": jobs, "stages": stages, "sql": sql}

    @staticmethod
    def attribute(snap: dict, start: float, end: float) -> dict:
        """Counters of the jobs and SQL executions started in [start, end]."""
        jobs = [j for j in snap["jobs"] if start <= j["start"] <= end]
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        stages = [snap["stages"][s] for s in stage_ids if s in snap["stages"]]
        join_rows = 0.0
        nested_loops = 0
        for e in snap["sql"]:
            if not start <= e["start"] <= end:
                continue
            for name, metrics in e["nodes"]:
                if name in JOIN_NODES:
                    join_rows += _num(metrics.get("number of output rows", 0))
                if name in NESTED_LOOP_NODES:
                    nested_loops += 1
        mb = 1024.0 * 1024.0
        return {
            "jobs": len(jobs),
            "job_busy_s": union_length(
                [(j["start"], j["end"]) for j in jobs], start, end
            ),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / mb,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / mb,
            "spill_mb": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            )
            / mb,
            "input_mb": sum(s.get("inputBytes", 0) for s in stages) / mb,
            "input_rows": sum(s.get("inputRecords", 0) for s in stages),
            "join_rows_out": join_rows,
            "nested_loop_nodes": nested_loops,
        }

    def catalyst_phases(self, df) -> dict[str, float]:
        """Force the physical plan of ``df`` and return the seconds each
        Catalyst phase took on its ``QueryExecution``."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in CATALYST_PHASES:
            opt = phases.get(phase)
            out[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def heap_peak_mb(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType() == heap
        ) / (1024.0 * 1024.0)
