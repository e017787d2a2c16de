"""Spans and Spark stage metrics for the traced benchmark run.

A :class:`Tracer` records one span around each call the benchmark makes
into the package (name, layer, start, end, parent, operation id) and
runs each call's Spark jobs under their own job group. After the timed
window it reads per-stage metrics from Spark's ``AppStatusStore`` (the
data source of the web UI, populated with the UI off) and folds them
into per-layer totals. The untraced run uses a :class:`NullTracer` with
the same interface, so both runs execute the same benchmark code.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass

# AppStatusStore v1.StageData getters, summed per job group
STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "jvmGcTime",  # ms
)


def stage_metrics(spark) -> dict[int, dict[str, int]]:
    """{stage id: {field: value}} for every stage the status store holds
    (attempts of one stage are summed)."""
    store = spark._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    jvm = spark._jvm
    # Spark 4.1: stageList(statuses, details, withSummaries,
    #                      unsortedQuantiles, taskStatus)
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict[str, int]] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        row = out.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
        for f in STAGE_FIELDS:
            row[f] += int(getattr(s, f)())
    return out


def max_stage_id(spark) -> int:
    return max(stage_metrics(spark), default=-1)


def sum_stages(metrics: dict[int, dict[str, int]], ids) -> dict[str, int]:
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in ids:
        for f, v in metrics.get(sid, {}).items():
            tot[f] += v
    return tot


@dataclass
class Span:
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None  # Spark job group of the span's own jobs
    id: int = 0


class NullTracer:
    """Same interface as :class:`Tracer`; records nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False):
        yield None

    def new_op(self) -> None:
        pass


class Tracer:
    """In-memory span recorder with one Spark job group per traced call."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._op = 0
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def new_op(self) -> None:
        """Start a new operation id; spans until the next call share it."""
        self._op = next(self._ops)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False):
        """Span around one call; ``jobs=True`` also runs the call's Spark
        jobs under a job group named after the span."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, self._op, parent.id if parent else None, 0.0,
                 id=next(self._ids))
        sc = self.spark.sparkContext
        if jobs:
            s.group = f"perfbench:{s.id}:{name}"
            sc.setJobGroup(s.group, name)
        self._stack.append(s)
        self.spans.append(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            outer = next((p for p in reversed(self._stack) if p.group), None)
            if jobs:
                if outer is not None:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - s.end

    # ---- after the timed window ------------------------------------
    def group_stats(self) -> dict[str, dict]:
        """Per job group: job count and summed stage metrics."""
        tracker = self.spark.sparkContext.statusTracker()
        metrics = stage_metrics(self.spark)
        out = {}
        for s in self.spans:
            if not s.group:
                continue
            jobs = list(tracker.getJobIdsForGroup(s.group))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            out[s.group] = {"jobs": len(jobs), **sum_stages(metrics, stage_ids)}
        return out

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, group_stats: dict[str, dict]) -> dict:
        """Spans plus per-layer self time, for the trace output file."""
        selft = self.self_times()
        layer_self: dict[str, float] = {}
        for s in self.spans:
            layer_self[s.layer] = layer_self.get(s.layer, 0.0) + selft[s.id]
        t0 = min((s.start for s in self.spans), default=0.0)
        return {
            "spans": [
                {
                    "id": s.id, "name": s.name, "layer": s.layer,
                    "op_id": s.op_id, "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(selft[s.id], 6),
                    "group": s.group,
                    "spark": group_stats.get(s.group) if s.group else None,
                }
                for s in self.spans
            ],
            "layer_self_s": {k: round(v, 6) for k, v in sorted(layer_self.items())},
            "tracer_bookkeeping_s": round(self.bookkeeping_s, 6),
        }
