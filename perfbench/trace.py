"""Spans for the traced run, and the Spark status-store reads behind
them.

A span is recorded around each call the benchmark makes into a layer
(name, start, end, parent, op id). After an op ends, the Spark jobs it
ran become child spans, taken from the status store with their
submission and completion times. Spans are kept in memory and written
once, when the run ends.

The untraced run uses ``NullTracer``: it records nothing and never
touches the status store.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {s.sid: s.dur - covered(kids.get(s.sid, []), s.t0, s.t1) for s in spans}


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def begin_op(self, name: str, spark):
        return None

    def end_op(self, spark) -> None:
        pass


class Tracer:
    """In-memory span recorder. Times are ``time.perf_counter``; Spark
    job times (epoch ms) are mapped onto that clock through an offset
    taken at construction."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: Span | None = None
        self._op_id = 0
        self._epoch_offset = time.time() - time.perf_counter()
        self._job_marker = -1
        self._stage_marker = -1

    def _open(self, name: str, attrs: dict) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        op = self._op.sid if self._op is not None else None
        s = Span(len(self.spans), parent, op, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self._open(name, attrs)
        try:
            yield s
        finally:
            self._close(s)

    # ---- op spans: one tree per op, Spark jobs attached at the end

    def mark(self, spark) -> None:
        """Remember the newest job and stage ids, so the next op's jobs
        are exactly the newer ones."""
        self._job_marker, self._stage_marker = newest_ids(spark)

    def begin_op(self, name: str, spark) -> Span:
        self.mark(spark)
        self._op_id += 1
        s = self._open(name, {"op": self._op_id})
        s.op = s.sid
        self._op = s
        return s

    def end_op(self, spark) -> None:
        """Close the op span, wait for the status store to absorb the
        op's jobs, and attach them (and their stage totals) as child
        spans of the innermost layer span open at submission."""
        op = self._op
        self._close(op)
        self._op = None
        jobs, stages = settled(spark, self._job_marker, self._stage_marker)
        layer_spans = [s for s in self.spans if s.op == op.sid]
        for j in jobs:
            t0 = j["submitted_ms"] / 1000.0 - self._epoch_offset
            t1 = j["completed_ms"] / 1000.0 - self._epoch_offset
            inner = [s for s in layer_spans if s.t0 <= t0 <= s.t1]
            parent = max(inner, key=lambda s: s.t0) if inner else op
            self.spans.append(
                Span(len(self.spans), parent.sid, op.sid, "spark.job", t0, t1,
                     attrs={"job": j["id"], "tasks": j["tasks"],
                            "failed_tasks": j["failed_tasks"], "stages": j["stages"]})
            )
        op.attrs["stages"] = stages

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None and "op" in s.attrs]

    def dump(self, path: str) -> None:
        """Write every span with its self time (seconds)."""
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump({"spans": [{**asdict(s), "self": selfs[s.sid]} for s in self.spans]}, fh)


# ---- Spark status store (traced run only) -------------------------------


def _store(spark):
    return spark._jsparkSession.sparkContext().statusStore()


def _opt_ms(opt) -> int:
    return int(opt.get().getTime()) if opt.isDefined() else 0


def _newer(it, after: int, key) -> list:
    """Items of a newest-first status-store iterator whose id is above
    ``after`` (the store lists jobs and stages in reverse id order, so
    the walk stops at the first older one instead of crossing py4j for
    every job of the run)."""
    out, prev = [], None
    while it.hasNext():
        x = it.next()
        i = int(key(x))
        if prev is not None and i > prev:
            raise RuntimeError("status store no longer lists newest first")
        if i <= after:
            break
        out.append(x)
        prev = i
    return out


def _jobs_it(spark):
    return _store(spark).jobsList(spark.sparkContext._gateway.jvm.java.util.ArrayList()).iterator()


def _stages_it(spark):
    gw = spark.sparkContext._gateway
    empty = gw.jvm.java.util.ArrayList()
    return _store(spark).stageList(
        empty, False, False, gw.new_array(gw.jvm.double, 0), empty
    ).iterator()


def newest_ids(spark) -> tuple[int, int]:
    """(newest job id, newest stage id), -1 when there is none."""
    out = []
    for it, key in ((_jobs_it(spark), lambda j: j.jobId()), (_stages_it(spark), lambda s: s.stageId())):
        out.append(int(key(it.next())) if it.hasNext() else -1)
    return out[0], out[1]


def status_jobs(spark, after: int = -1) -> list[dict]:
    """Jobs with an id above ``after``."""
    out = []
    for j in _newer(_jobs_it(spark), after, lambda j: j.jobId()):
        out.append(
            {
                "id": int(j.jobId()),
                "status": str(j.status()),
                "submitted_ms": _opt_ms(j.submissionTime()),
                "completed_ms": _opt_ms(j.completionTime()),
                "tasks": int(j.numTasks()),
                "failed_tasks": int(j.numFailedTasks()),
                "stages": int(j.stageIds().size()),
            }
        )
    return out


def status_stages(spark, after: int = -1) -> list[dict]:
    """Stage attempts with a stage id above ``after``."""
    out = []
    for s in _newer(_stages_it(spark), after, lambda s: s.stageId()):
        out.append(
            {
                "id": int(s.stageId()),
                "status": str(s.status()),
                "tasks": int(s.numCompleteTasks()),
                "failed_tasks": int(s.numFailedTasks()),
                "run_ms": int(s.executorRunTime()),
                "cpu_ns": int(s.executorCpuTime()),
                "gc_ms": int(s.jvmGcTime()),
                "shuffle_read": int(s.shuffleReadBytes()),
                "shuffle_write": int(s.shuffleWriteBytes()),
                "spill": int(s.diskBytesSpilled()) + int(s.memoryBytesSpilled()),
                "input": int(s.inputBytes()),
            }
        )
    return out


STAGE_KEYS = ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
              "shuffle_read", "shuffle_write", "spill", "input")


def settled(spark, job_marker: int, stage_marker: int, settle_s: float = 10.0):
    """Jobs newer than ``job_marker`` and summed metrics of stages newer
    than ``stage_marker``, read once the asynchronous listener has
    caught up: every job finished and two identical reads in a row."""

    def snap():
        jobs = status_jobs(spark, job_marker)
        stages = status_stages(spark, stage_marker)
        agg = {k: sum(s[k] for s in stages) for k in STAGE_KEYS}
        agg["stages"] = len(stages)
        busy = any(j["completed_ms"] == 0 for j in jobs) or any(
            s["status"] == "ACTIVE" for s in stages
        )
        return busy, jobs, agg

    deadline = time.perf_counter() + settle_s
    busy, jobs, agg = snap()
    while time.perf_counter() < deadline:
        time.sleep(0.05)
        busy2, jobs2, agg2 = snap()
        if not busy2 and agg2 == agg and len(jobs2) == len(jobs):
            return jobs2, agg2
        busy, jobs, agg = busy2, jobs2, agg2
    return jobs, agg


def plan_phases(df) -> dict[str, float]:
    """Seconds per planning phase of ``df``'s own QueryExecution
    (analysis, optimization, planning), read from its tracker after
    forcing the executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        p = kv._2()
        out[str(kv._1())] = (int(p.endTimeMs()) - int(p.startTimeMs())) / 1000.0
    return out


def codegen_compiles(spark) -> int:
    """Whole-stage codegen compilations so far (Spark's CodegenMetrics)."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())
