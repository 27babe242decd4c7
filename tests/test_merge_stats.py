"""Parquet MERGE sinks take ``last_stats`` from counters observed inside
the write job, not from extra count jobs. These edge cases check them
against a recount done on the driver, in both publish modes (in-place swap
and snapshot commit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bonobo_sqlalchemy_spark import InsertOrUpdate, PathService
from bonobo_sqlalchemy_spark.operators.scd2 import Scd2Sink
from bonobo_sqlalchemy_spark.operators.snapshot import snapshot_read

SCHEMA = "id int, value string"
BASE = [(i, f"v{i}") for i in range(5)]
BATCHES = {
    # a sum over zero observed rows is NULL; the stats must still be 0
    "empty": [],
    "duplicate_keys": [(1, "x"), (1, "y"), (7, "n"), (7, "m")],
    "null_values": [(2, None), (8, None)],
    "all_updates": [(0, "u"), (1, "u"), (2, "u")],
}
MODES = pytest.mark.parametrize("snapshot", [False, True], ids=["in_place", "snapshot"])


def _frame(spark, rows):
    # one partition: keep-last on duplicate keys follows list order
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _read(spark, root: str, snapshot: bool):
    return snapshot_read(spark, root) if snapshot else spark.read.parquet(root)


@MODES
@pytest.mark.parametrize("case", sorted(BATCHES))
def test_upsert_stats_match_recount(spark, tmp_path, snapshot, case):
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    InsertOrUpdate("t", snapshot=snapshot).write(_frame(spark, BASE), spark, svc)
    root = str(tmp_path / "t.parquet")
    before = {r.id for r in _read(spark, root, snapshot).select("id").collect()}

    rows = BATCHES[case]
    sink = InsertOrUpdate("t", snapshot=snapshot)
    sink.write(_frame(spark, rows), spark, svc)

    keys = {k for k, _ in rows}
    assert sink.last_stats == {
        "insert": len(keys - before),
        "update": len(keys & before),
    }
    assert sink.last_errors == []
    model = dict(BASE)
    model.update(rows)
    got = _read(spark, root, snapshot).collect()
    assert sorted(map(tuple, got)) == sorted(model.items())


def _recount(history) -> dict[str, int]:
    rows = history.collect()
    return {"rows": len(rows), "open": sum(bool(r.is_current) for r in rows)}


@MODES
@pytest.mark.parametrize("case", sorted(BATCHES) + ["remerge"])
def test_scd2_stats_match_recount(spark, tmp_path, snapshot, case):
    path = str(tmp_path / "dim.parquet")
    sink = Scd2Sink(keys=["id"], snapshot=snapshot)
    sink.write(_frame(spark, BASE), spark, path, "2024-01-01 00:00:00")
    rows = BATCHES["all_updates"] if case == "remerge" else BATCHES[case]
    sink.write(_frame(spark, rows), spark, path, "2024-01-02 00:00:00")
    first = dict(sink.last_stats)
    assert first == _recount(_read(spark, path, snapshot))
    if case != "remerge":
        return
    # idempotent: the same batch again changes neither rows nor open versions
    sink.write(_frame(spark, rows), spark, path, "2024-01-03 00:00:00")
    assert sink.last_stats == first == _recount(_read(spark, path, snapshot))
    assert _read(spark, path, snapshot).where(
        F.col("valid_from") == "2024-01-03 00:00:00"
    ).count() == 0


def test_sink_jobs_carry_merge_labels_and_restore_the_callers(spark, tmp_path):
    sc = spark.sparkContext
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    path = str(tmp_path / "dim.parquet")
    writes = {
        "upsert:path:merge": lambda df: InsertOrUpdate("p").write(df, spark, svc),
        "upsert:snapshot:merge": lambda df: InsertOrUpdate("s", snapshot=True).write(
            df, spark, svc
        ),
        "scd2:path:merge": lambda df: Scd2Sink(["id"]).write(
            df, spark, path, "2024-01-01 00:00:00"
        ),
        "scd2:snapshot:merge": lambda df: Scd2Sink(["id"], snapshot=True).write(
            df, spark, str(tmp_path / "dim_snap"), "2024-01-01 00:00:00"
        ),
    }
    store = sc._jsc.sc().statusStore()
    try:
        for label, write in writes.items():
            group = f"labels-{label}"
            sc.setJobGroup(group, "caller")
            write(_frame(spark, BASE))
            assert sc.getLocalProperty("spark.job.description") == "caller"
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids = sc.statusTracker().getJobIdsForGroup(group)
            assert ids
            assert {store.job(i).description().getOrElse(None) for i in ids} == {label}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
