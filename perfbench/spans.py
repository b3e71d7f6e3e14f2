"""Spans, outside-in Spark job accounting, and the run statistics.

A :class:`Tracer` records spans (name, start, end, parent, operation
id) in memory. Spark jobs are attributed to spans from outside the
program: after an operation's timer has stopped, :meth:`Tracer.account`
reads every job submitted since the last call from the driver's status
store (job submission/completion times plus the metrics of each job's
stages) and bills each job to the innermost span whose interval holds
its submission time. With one closed-loop client thread this is exact,
and it also catches jobs that the program submits from its own worker
threads, which carry no job group.

The pure functions at the bottom (:func:`union_length`,
:func:`self_time`, :func:`driver_gap`, :func:`percentile`,
:func:`failed_frac`) hold all the arithmetic and are unit-tested without
Spark.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager

SPAN_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "self_s", "driver_gap_s",
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "op_id",
                 "jobs", "attrs")

    def __init__(self, name, layer, start, parent, op_id):
        self.name, self.layer, self.start = name, layer, start
        self.end = None
        self.parent, self.op_id = parent, op_id
        self.jobs: list[dict] = []  # jobs submitted inside, children excluded
        self.attrs: dict = {}

    def as_dict(self, idx: int) -> dict:
        return {
            "id": idx, "name": self.name, "layer": self.layer,
            "start": self.start, "end": self.end, "parent": self.parent,
            "op_id": self.op_id, "jobs": [j["id"] for j in self.jobs],
            **self.attrs,
        }


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, so the untraced run pays nothing but a function call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_job = 0
        self._new_spans = 0  # first span not yet offered to account()
        self.accounting_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sp = Span(name, layer, time.time(), parent, op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def skip_jobs(self, spark) -> None:
        """Forget every job submitted so far (warm-up, input checks)."""
        if self.enabled:
            self._next_job = _job_count(spark)

    def account(self, spark) -> None:
        """Bill every job submitted since the last call to its span.
        Call between operations, never inside a timed region."""
        if not self.enabled:
            return
        t0 = time.time()
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        end = _job_count(spark)
        fresh = [i for i in range(self._new_spans, len(self.spans))
                 if self.spans[i].end is not None]
        for jid in range(self._next_job, end):
            job = _read_job(store, jid)
            if job is not None:
                owner = _innermost(self.spans, fresh, job["submit"])
                if owner is not None:
                    self.spans[owner].jobs.append(job)
        self._next_job = end
        self._new_spans = len(self.spans)
        self.accounting_s += time.time() - t0

    def dump(self) -> list[dict]:
        return [s.as_dict(i) for i, s in enumerate(self.spans)]

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def subtree_jobs(self, idx: int) -> list[dict]:
        out = list(self.spans[idx].jobs)
        for c in self.children(idx):
            out.extend(self.subtree_jobs(c))
        return out

    def span_metrics(self, idx: int) -> dict[str, float]:
        """The ten per-span metrics; job figures include child spans."""
        sp = self.spans[idx]
        jobs = self.subtree_jobs(idx)
        kids = [(self.spans[c].start, self.spans[c].end)
                for c in self.children(idx)]
        m = {k: 0.0 for k in SPAN_METRICS}
        m["jobs"] = float(len(jobs))
        for j in jobs:
            for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                m[k] += j[k]
        m["self_s"] = self_time(sp.start, sp.end, kids)
        m["driver_gap_s"] = driver_gap(
            sp.start, sp.end, [(j["submit"], j["end"]) for j in jobs]
        )
        return m


def _job_count(spark) -> int:
    # job ids are dense from 0; the scheduler's counter is the next id
    nxt = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(nxt if isinstance(nxt, int) else nxt.get())


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _read_job(store, jid: int) -> dict | None:
    try:
        jd = store.job(jid)
    except Exception:  # evicted from the store, or never registered
        return None
    submit = _opt_ms(jd.submissionTime())
    if submit is None:
        return None
    end = _opt_ms(jd.completionTime()) or time.time()
    job = {
        "id": jid, "submit": submit, "end": end, "stages": 0.0,
        "tasks": 0.0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
        "spill_bytes": 0.0, "input_bytes": 0.0,
    }
    ids = jd.stageIds().mkString(",")
    for sid in (int(x) for x in ids.split(",") if x):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:
            continue
        if st.status().toString() == "SKIPPED":
            continue
        job["stages"] += 1
        job["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        job["executor_run_s"] += st.executorRunTime() / 1e3
        job["executor_cpu_s"] += st.executorCpuTime() / 1e9
        job["shuffle_read_bytes"] += (
            st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
        )
        job["shuffle_write_bytes"] += st.shuffleWriteBytes()
        job["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        job["input_bytes"] += st.inputBytes()
    return job


def _innermost(spans: list[Span], idxs: list[int], t: float) -> int | None:
    """Deepest closed span whose [start, end] holds ``t``. Job times
    carry millisecond precision, so the interval is widened by 1 ms."""
    best, best_depth = None, -1
    for i in idxs:
        s = spans[i]
        if s.start - 1e-3 <= t <= s.end + 1e-3:
            d, p = 0, s.parent
            while p is not None:
                d, p = d + 1, spans[p].parent
            if d > best_depth:
                best, best_depth = i, d
    return best


# ---------------------------------------------------------------- arithmetic


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_time(start: float, end: float, children) -> float:
    """Span duration minus the time covered by its children (overlapping
    children count once)."""
    return (end - start) - union_length(children, start, end)


def driver_gap(start: float, end: float, jobs) -> float:
    """Span wall time during which no Spark job of the span was running:
    planning, Python and other driver-side time."""
    return (end - start) - union_length(jobs, start, end)


def percentile(values, q: float, min_tail: int = 10) -> float | None:
    """Nearest-rank ``q``-quantile, or ``None`` when fewer than
    ``min_tail`` samples lie beyond it (p90 needs at least 100)."""
    n = len(values)
    if n == 0 or math.floor(n * (1.0 - q) + 1e-9) < min_tail:
        return None
    return sorted(values)[max(0, math.ceil(q * n) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def failed_frac(attempted: int, raised: int, mismatched: int) -> float:
    """(raised + wrong-output operations) / attempted; an operation that
    raised was still attempted."""
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return (raised + mismatched) / attempted
