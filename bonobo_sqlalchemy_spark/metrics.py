"""Execution-metric capture: shuffle / spill / scan volumes per query run.

Wall-clock alone can't answer the 100 TB question — a query can look fast
at sf0.1 while its shuffle volume grows super-linearly. This module reads
Spark's AppStatusStore (the same numbers the UI's Stages tab shows) so the
scaling audit can report DATA-MOVEMENT scaling alongside time scaling:
shuffle bytes are deterministic per plan+input (unlike seconds), which
makes their decade exponents the cleanest scale signal we can measure
in-container.

Access note: ``SparkContext._jsc.sc().statusStore().stageList`` is a
Scala method with default parameters; py4j requires passing them
explicitly, which is what :func:`_stage_list` does via the compiler's
``stageList$default$N`` accessors.

Eviction note: the store retains a bounded number of stages
(``spark.ui.retainedStages``, default 1000) and evicts the OLDEST once
full. A naive totals-after − totals-before delta therefore goes WRONG
(even negative) in long sessions, because eviction of pre-existing stages
shrinks the "after" total. :class:`measure_volumes` instead records the
max stage id at entry and sums ONLY stages newer than it — old-stage
eviction can no longer corrupt the delta, and the result is exact unless
the measured block ALONE creates more stages than the retention window
(no registered query comes within an order of magnitude of that)."""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass


def _stage_list(spark):
    core = spark.sparkContext._jsc.sc().statusStore()
    statuses = spark._jvm.java.util.ArrayList()
    # Probe the compiler-synthesized default accessors dynamically instead
    # of hardcoding one Scala signature: a Spark upgrade that adds/removes
    # a default parameter would otherwise break all volume capture with an
    # opaque py4j error (r13 ADVICE). getattr on a missing synthetic
    # method raises py4j.Py4JError only at CALL time, so probe by calling.
    args = []
    for i in range(2, 12):
        try:
            args.append(getattr(core, f"stageList$default${i}")())
        except Exception:
            break
    try:
        return core.stageList(statuses, *args)
    except Exception as exc:  # pragma: no cover - version-dependent
        raise RuntimeError(
            "unsupported Spark version: AppStatusStore.stageList signature "
            f"not recognized ({len(args)} default params probed) — volume "
            "capture (metrics.measure_volumes / scaling_report data "
            "movement) is unavailable on this build"
        ) from exc


@dataclass(frozen=True)
class VolumeTotals:
    stages: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    input_bytes: int
    output_bytes: int


def _collect(spark, min_stage_id_exclusive: int) -> tuple[VolumeTotals, int]:
    """Totals over stages with id > ``min_stage_id_exclusive``, plus the
    max stage id seen."""
    it = _stage_list(spark).iterator()
    n = w = r = sp = ib = ob = 0
    max_id = min_stage_id_exclusive
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid > max_id:
            max_id = sid
        if sid <= min_stage_id_exclusive:
            continue
        n += 1
        w += s.shuffleWriteBytes()
        r += s.shuffleReadBytes()
        sp += s.diskBytesSpilled() + s.memoryBytesSpilled()
        ib += s.inputBytes()
        ob += s.outputBytes()
    return VolumeTotals(n, w, r, sp, ib, ob), max_id


def volume_totals(spark) -> VolumeTotals:
    """Cumulative stage-level data volumes for the RETAINED stages of the
    application (bounded by ``spark.ui.retainedStages`` — prefer
    :class:`measure_volumes` deltas for per-block numbers)."""
    totals, _ = _collect(spark, -1)
    return totals


class measure_volumes:
    """Context manager: data-volume totals for the enclosed work.

    >>> with measure_volumes(spark) as m:
    ...     df.collect()
    >>> m.delta.shuffle_write_bytes

    The delta counts ONLY stages submitted after ``__enter__`` (by stage
    id), so concurrent history eviction cannot produce negative or
    inflated numbers.
    """

    def __init__(self, spark):
        self._spark = spark
        self.delta: VolumeTotals | None = None

    def __enter__(self):
        _, self._floor = _collect(self._spark, -1)
        return self

    def __exit__(self, *exc):
        self.delta, _ = _collect(self._spark, self._floor)
        return False


@contextmanager
def job_description(spark, label: str):
    """Label every job the enclosed block runs (``op:mode:step``, shown in
    the status store and UI), then restore the caller's description — a
    job group set around the block keeps its own label."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
