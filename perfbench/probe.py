"""Measurement helpers: spans, Spark job/stage counters and /proc readings.

Spans are kept in memory (name, start, end, parent, op id) and written out
once at the end of a run. Spark jobs become child spans of the span that
fired them: a traced span sets a Spark job group named after its id, and
after the run the jobs are read back from the AppStatusStore with their
submission and completion times. Stage counters come through the engine's
own ``metrics._stage_list`` reader.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from bonobo_sqlalchemy_spark import metrics as engine_metrics

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it are space-separated
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two readings that the hypervisor gave
    to other guests; a high value means the run's timings are not usable."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


@dataclass
class ProcessTree:
    """The driver Python process, its JVM, the PySpark daemon and workers."""

    driver: int = field(default_factory=os.getpid)
    #: pid -> largest VmHWM (kB) seen; a reaped worker keeps its last reading
    hwm_kb: dict[int, int] = field(default_factory=dict)

    def roles(self) -> dict[str, list[int]]:
        jvm, daemon, workers = [], [], []
        for c in _children(self.driver):
            if "java" in _cmdline(c).split(" ")[0]:
                jvm.append(c)
                for d in _children(c):
                    if "pyspark.daemon" in _cmdline(d):
                        daemon.append(d)
                        workers.extend(_children(d))
        return {"jvm": jvm, "daemon": daemon, "workers": workers}

    def sample_rss(self) -> None:
        r = {"driver": [self.driver], **self.roles()}
        for pid in (p for ps in r.values() for p in ps):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))
            except OSError:
                continue

    def peak_rss_mb(self) -> float:
        """Sum over the tree's processes of each one's peak resident set."""
        return sum(self.hwm_kb.values()) / 1024.0

    def cpu_s(self) -> dict[str, float]:
        """Cumulative CPU seconds per role.

        The PySpark daemon forks a worker per task slot and reaps it when it
        exits, so its ``cutime``/``cstime`` already hold the time of every
        reaped worker; live workers are added from their own counters. A
        worker that exits between two readings moves from the second term
        to the first, so a delta across readings never goes negative.
        """
        r = self.roles()

        def own(pid: int) -> float:
            s = _stat(pid)
            return (int(s[11]) + int(s[12])) / _TICK if s else 0.0

        def with_children(pid: int) -> float:
            s = _stat(pid)
            return sum(int(x) for x in s[11:15]) / _TICK if s else 0.0

        return {
            "driver_py": own(self.driver),
            "jvm": sum(own(p) for p in r["jvm"]),
            "pyworker": sum(with_children(p) for p in r["daemon"] + r["workers"]),
        }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


class Tracer:
    """In-memory span recorder. With ``enabled`` false, :meth:`span` only
    times the block, so an untraced run pays for two clock reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent.id if parent else None,
                 op=op if op is not None else (parent.op if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-{s.id}", name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


@dataclass
class StageCounters:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0

    def add(self, o: "StageCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int
    counters: StageCounters


def _opt(o):
    return o.get() if o.isDefined() else None


def wait_for_listeners(spark) -> None:
    """Block until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def read_jobs(spark) -> list[Job]:
    """Every retained job with the summed counters of its stages."""
    stages: dict[int, StageCounters] = {}
    for s in _iter(engine_metrics._stage_list(spark)):
        c = StageCounters(
            tasks=s.numCompleteTasks() + s.numFailedTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_write=s.shuffleWriteBytes(),
            shuffle_read=s.shuffleReadBytes(),
            spill=s.diskBytesSpilled() + s.memoryBytesSpilled(),
            input_bytes=s.inputBytes(),
            input_records=s.inputRecords(),
            output_bytes=s.outputBytes(),
        )
        stages.setdefault(s.stageId(), StageCounters()).add(c)
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _iter(store.jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        ids = [int(i) for i in _iter(j.stageIds())]
        total = StageCounters()
        for i in ids:
            if i in stages:
                total.add(stages[i])
        jobs.append(
            Job(j.jobId(), _opt(j.jobGroup()), sub.getTime() / 1e3,
                done.getTime() / 1e3, len(ids), total)
        )
    return jobs


def _iter(coll):
    """Iterate a java.util.List or a scala.collection.Seq from py4j."""
    if hasattr(coll, "iterator"):
        it = coll.iterator()
        while it.hasNext():
            yield it.next()
        return
    for i in range(coll.size()):
        yield coll.apply(i)


def storage(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes they hold in memory)."""
    sc = spark.sparkContext._jsc.sc()
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    mem = sum(i.memSize() for i in sc.getRDDStorageInfo())
    return n, mem


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
