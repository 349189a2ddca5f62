"""Spans around layer calls, their Spark attribution, and the statistics
the report is built from.

A traced run records, in memory, one span per workload op, one per layer
call inside it, and below each call the Spark jobs and stages that ran in
the call's own job group (read back from Spark's status store). Python
UDF time per call comes from the ``perf`` UDF profiler. An untraced run
records the op and call spans only: no job groups, no profiler, no
harvest.
"""

from __future__ import annotations

import math
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MB = float(1 << 20)

# per-call quantities, in report order
CALL_FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s",
               "python_udf_s", "jvm_gc_s", "shuffle_write_mb")


def check_name(name: str) -> str:
    """Metric and span names: a letter or digit, then up to 63 of
    ``[A-Za-z0-9_.-]``."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
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


def uncovered(start: float, end: float, intervals) -> float:
    """Part of ``[start, end]`` no interval covers: a span's self time
    given its children, or a call's driver time given its jobs."""
    return (end - start) - union_length(intervals, start, end)


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2


TAIL_LADDER = (99, 95, 90, 75)


def tail_percentile(n: int) -> int | None:
    """Highest percentile of the ladder with at least ten of ``n`` samples
    beyond it, or None when even p75 has fewer."""
    for p in TAIL_LADDER:
        if n * (100 - p) >= 1000:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


@dataclass
class Span:
    name: str
    kind: str  # op | call | job | stage
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; ``traced`` turns on Spark attribution."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None
        self._groups: dict[str, int] = {}
        self._kids: dict[int | None, list[int]] = {}
        self._kids_len = -1
        # perf_counter is monotonic; the offset puts spans on the epoch
        # clock the status store's job times use
        self._epoch = time.time() - time.perf_counter()
        self.harness_s = 0.0

    def now(self) -> float:
        return time.perf_counter() + self._epoch

    def bind(self, spark) -> None:
        """Attach the (re)started session whose jobs the next calls run."""
        self._spark = spark

    @contextmanager
    def span(self, name: str, kind: str = "op", **attrs):
        check_name(name)
        idx = len(self.spans)
        s = Span(name, kind, self.now(),
                 parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = self.now()
            self._stack.pop()

    def call(self, name: str, fn):
        """Run ``fn`` as one call into a layer; returns (result, wall s).

        In a traced run the call gets its own job group and a cleared UDF
        profile, both read back outside the timed interval."""
        if not self.traced:
            with self.span(name, "call") as s:
                out = fn()
            return out, s.wall
        h0 = time.perf_counter()
        sc = self._spark.sparkContext
        group = f"{self.run_id}.{len(self.spans)}"
        sc.setJobGroup(group, name)
        self._spark.profile.clear(type="perf")
        self.harness_s += time.perf_counter() - h0
        idx = len(self.spans)
        with self.span(name, "call") as s:
            out = fn()
        h0 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        results = self._spark.profile.profiler_collector._perf_profile_results
        s.attrs["python_udf_s"] = sum(st.total_tt for st in results.values())
        self._groups[group] = idx
        self.harness_s += time.perf_counter() - h0
        return out, s.wall

    def harvest(self) -> None:
        """Read the jobs and stages of every traced call from the bound
        session's status store. Must run before that session stops."""
        if not self.traced or self._spark is None:
            return
        h0 = time.perf_counter()
        store = self._spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in self._groups:
                continue
            parent = self._groups[group.get()]
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            jidx = len(self.spans)
            self.spans.append(Span(
                f"job.{job.jobId()}", "job", sub.get().getTime() / 1000,
                done.get().getTime() / 1000, parent, self.run_id,
            ))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                self._add_stage(store, stage_ids.apply(k), jidx)
        self._groups.clear()
        self.harness_s += time.perf_counter() - h0

    def _add_stage(self, store, stage_id: int, parent: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # a skipped stage has no attempt
            return
        if str(st.status()) != "COMPLETE":
            return
        sub, done = st.submissionTime(), st.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            return
        self.spans.append(Span(
            f"stage.{stage_id}", "stage", sub.get().getTime() / 1000,
            done.get().getTime() / 1000, parent, self.run_id,
            attrs={
                "tasks": st.numCompleteTasks(),
                "executor_run_s": st.executorRunTime() / 1000,
                "jvm_gc_s": st.jvmGcTime() / 1000,
                "shuffle_write_mb": st.shuffleWriteBytes() / MB,
                "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB,
            },
        ))

    # ------------------------------------------------------------------
    # aggregation

    def children(self, idx: int, kind: str | None = None) -> list[int]:
        if self._kids_len != len(self.spans):
            self._kids = {}
            for i, s in enumerate(self.spans):
                self._kids.setdefault(s.parent, []).append(i)
            self._kids_len = len(self.spans)
        return [i for i in self._kids.get(idx, ())
                if kind is None or self.spans[i].kind == kind]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return uncovered(s.start, s.end,
                         [(c.start, c.end) for c in map(self.spans.__getitem__,
                                                        self.children(idx))])

    def call_profile(self, idx: int) -> dict:
        """The eight per-call quantities of one call span."""
        s = self.spans[idx]
        out = dict.fromkeys(CALL_FIELDS, 0.0)
        out["wall_s"] = s.wall
        out["python_udf_s"] = s.attrs.get("python_udf_s", 0.0)
        jobs = self.children(idx, "job")
        out["jobs"] = len(jobs)
        out["driver_s"] = (self.self_time(idx) if self.traced else 0.0)
        for j in jobs:
            for st in self.children(j, "stage"):
                a = self.spans[st].attrs
                for key in ("tasks", "executor_run_s", "jvm_gc_s",
                            "shuffle_write_mb"):
                    out[key] += a[key]
        return out

    def calls(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s.kind == "call" and s.name == name]

    def spill_mb(self) -> float:
        return sum(s.attrs["spill_mb"] for s in self.spans if s.kind == "stage")

    def to_records(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "kind": s.kind, "start": s.start,
             "end": s.end, "parent": s.parent, "run_id": s.run_id, **s.attrs}
            for i, s in enumerate(self.spans)
        ]
