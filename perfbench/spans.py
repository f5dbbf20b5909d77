"""Span recorder: times calls into the package from the benchmark side and
attributes Spark jobs to them by job-ID interval.

A span records the DAG scheduler's next job id when it opens and when it
closes; every job with an id in between ran during the span.  Job groups
are not used, because jobs submitted from helper threads (the package's
``functions.par.run_parallel``) do not inherit the caller's group, while
job ids are one global counter.

Spans stay in memory.  After the workload, ``resolve`` waits for the
listener bus to drain and reads Spark's own status store
(``job(id)`` with its ``stageIds``, ``lastStageAttempt(stage)``) to give each span:

- ``wall_ms``: its duration;
- ``busy_ms``: executor run time summed over its stages;
- ``driver_ms``: the part of the span during which none of its jobs ran;
- ``jobs``: the number of jobs;
- input, output and shuffle bytes, and failed tasks;
- ``self_ms``: its duration minus the part covered by its child spans.

A stage listed by several jobs (a reused shuffle) is counted once, for the
first job that lists it, which is the one that ran it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    parent: int | None
    t0_ms: float
    job_lo: int
    t1_ms: float = 0.0
    job_hi: int = 0
    # filled by resolve()
    jobs: int = 0
    busy_ms: float = 0.0
    driver_ms: float = 0.0
    self_ms: float = 0.0
    in_bytes: int = 0
    out_bytes: int = 0
    shuffle_bytes: int = 0
    failed_tasks: int = 0
    job_intervals: list = field(default_factory=list)

    @property
    def wall_ms(self) -> float:
        return self.t1_ms - self.t0_ms


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


class SpanRecorder:
    """Records spans around calls into the package.

    ``enabled=False`` makes ``span`` a plain pass-through, so the untraced
    run executes the same code path with no status-store reads."""

    def __init__(self, spark, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jsc = spark.sparkContext._jsc.sc() if enabled else None

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time() * 1000.0, self.next_job_id())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_hi = self.next_job_id()
            s.t1_ms = time.time() * 1000.0

    # -- status-store reads --------------------------------------------------

    def resolve(self) -> None:
        """Fill the Spark-side measures of every recorded span."""
        if self._jsc is None or not self.spans:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        lo = min(s.job_lo for s in self.spans)
        hi = max(s.job_hi for s in self.spans)
        jobs = {jid: self._job(store, jid) for jid in range(lo, hi)}
        # a stage is charged to the first job that lists it — the one
        # that ran it; later jobs list it again when they reuse its
        # shuffle output, and the status store keeps its metrics as run
        first_job: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid][2]:
                first_job.setdefault(sid, jid)
        stages = {sid: self._stage(store, sid) for sid in first_job}
        for s in self.spans:
            s.jobs = s.job_hi - s.job_lo
            s.job_intervals = [jobs[j][:2] for j in range(s.job_lo, s.job_hi)]
            for sid, jid in first_job.items():
                st = stages[sid]
                if st is None or not s.job_lo <= jid < s.job_hi:
                    continue
                s.busy_ms += st["run_ms"]
                s.in_bytes += st["in"]
                s.out_bytes += st["out"]
                s.shuffle_bytes += st["shuffle"]
                s.failed_tasks += st["failed"]
            s.driver_ms = s.wall_ms - union_length(s.job_intervals,
                                                   s.t0_ms, s.t1_ms)
        for i, s in enumerate(self.spans):
            kids = [(c.t0_ms, c.t1_ms) for c in self.spans if c.parent == i]
            s.self_ms = s.wall_ms - union_length(kids, s.t0_ms, s.t1_ms)

    @staticmethod
    def _job(store, jid: int):
        j = store.job(jid)
        sub = j.submissionTime()
        done = j.completionTime()
        t_sub = float(sub.get().getTime()) if sub.isDefined() else 0.0
        t_done = float(done.get().getTime()) if done.isDefined() else t_sub
        ids = j.stageIds()
        sids = [int(ids.apply(i)) for i in range(ids.size())]
        return t_sub, t_done, sids, int(j.numFailedTasks())

    @staticmethod
    def _stage(store, sid: int):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # no attempt recorded: the stage never ran
            return None
        if st.status().toString() == "SKIPPED":
            return None
        return {"run_ms": float(st.executorRunTime()),
                "in": int(st.inputBytes()),
                "out": int(st.outputBytes()),
                "shuffle": int(st.shuffleWriteBytes()),
                "failed": int(st.numFailedTasks())}

    def failed_tasks(self) -> int:
        """Failed tasks over every job any span saw."""
        return sum(s.failed_tasks for s in self.spans if s.parent is None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["wall_ms"] = s.wall_ms
                f.write(json.dumps(d) + "\n")
