"""Per-call Spark counters and the span recorder of a traced run.

Everything here is measured from outside the engine: a call into a layer
runs under its own job group, and afterwards Spark's live status stores
are read for the jobs, stages and SQL executions that call started.

- ``CallStats`` holds one call's counters: jobs, stages, tasks, executor
  run and CPU time, shuffle, spill and I/O bytes, parquet files read and
  written, and ``plan_s`` — the call's wall time not covered by any of
  its jobs (driver-side planning, Python and py4j work).
- ``Tracer`` keeps one span per layer call in memory (name, start, end,
  parent, operation id, counters) and writes them out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class CallStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_s: float = 0.0
    plan_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    files_read: int = 0
    files_written: int = 0

    def add(self, other: "CallStats") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def _covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusReader:
    """Reads the counters of the jobs one job group ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self._seen_exec = self._sql.executionsCount()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._seen_exec = self._sql.executionsCount()

    def end(self, group: str, t0: float, t1: float) -> CallStats:
        """Counters of ``group``'s jobs; ``t0``/``t1`` are the call's
        epoch-second bounds."""
        st = CallStats()
        # the status stores are filled from the listener bus; drain it so
        # the call's last job and SQL execution are recorded
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        intervals = []
        for jid in sorted(job_ids):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = self._store.stageData(
                    stage_ids.apply(i), False, None, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped (shuffle reuse) or failed attempt
                    st.stages += 1
                    st.tasks += sd.numCompleteTasks()
                    st.executor_run_s += sd.executorRunTime() / 1e3
                    st.executor_cpu_s += sd.executorCpuTime() / 1e9
                    st.shuffle_bytes += sd.shuffleWriteBytes()
                    st.spill_bytes += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
                    st.input_bytes += sd.inputBytes()
                    st.output_bytes += sd.outputBytes()
        st.jobs = len(job_ids)
        clipped = [(max(s, t0), min(e, t1)) for s, e in intervals if e > t0 and s < t1]
        st.job_s = _covered_s(clipped)
        st.plan_s = max(0.0, (t1 - t0) - st.job_s)
        self._read_sql_files(st, job_ids)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return st

    def _read_sql_files(self, st: CallStats, job_ids: set[int]) -> None:
        n = self._sql.executionsCount()
        if n <= self._seen_exec:
            return
        execs = self._sql.executionsList(self._seen_exec, n - self._seen_exec)
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keySet()
            it = ex_jobs.iterator()
            ours = False
            while it.hasNext():
                if int(it.next()) in job_ids:
                    ours = True
                    break
            if not ours:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for m in range(metrics.size()):
                pm = metrics.apply(m)
                name = pm.name()
                if name not in ("number of files read", "number of written files"):
                    continue
                v = values.get(pm.accumulatorId())
                if v.isEmpty():
                    continue
                try:
                    count = int(str(v.get()).replace(",", ""))
                except ValueError:
                    continue
                if name == "number of files read":
                    st.files_read += count
                else:
                    st.files_written += count


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    stats: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. An operation (``op``) is a timing-only parent span;
    each layer call inside it (``call``) is a child span that, when
    tracing is on, runs under its own job group and keeps its counters.
    With tracing off nothing is recorded and ``call`` costs nothing."""

    def __init__(self, reader: StatusReader | None):
        self.reader = reader
        self.spans: list[Span] = []
        self._op: int | None = None
        self.overhead_s = 0.0

    @contextmanager
    def op(self, name: str):
        if self.reader is None:
            yield
            return
        sp = Span(name, len(self.spans), None, time.time())
        self.spans.append(sp)
        self._op = sp.op_id
        try:
            yield
        finally:
            sp.end = time.time()
            total = CallStats()
            for child in self.spans[sp.op_id + 1:]:
                total.add(CallStats(**child.stats))
            sp.stats = asdict(total)
            self._op = None

    @contextmanager
    def call(self, name: str):
        if self.reader is None:
            yield
            return
        op_id = self._op if self._op is not None else len(self.spans)
        sp = Span(name, op_id, self._op, 0.0)
        self.spans.append(sp)
        group = f"perfbench-{len(self.spans) - 1}"
        b0 = time.perf_counter()
        self.reader.begin(group)
        self.overhead_s += time.perf_counter() - b0
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            b0 = time.perf_counter()
            sp.stats = asdict(self.reader.end(group, sp.start, sp.end))
            self.overhead_s += time.perf_counter() - b0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
