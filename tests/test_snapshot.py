"""SCD2 snapshot semantics across three batches."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from dbt_pro3_spark.plans.snapshot import apply_snapshot

ROOT = Path(__file__).resolve().parent.parent
BASE = str(ROOT / ".scratch" / "snapshot_customers")


def test_scd2_three_batches(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    b1 = spark.createDataFrame(
        [("C1", "FL", 100.0), ("C2", "TX", 200.0), ("C3", "CA", 300.0)],
        "customer_id string, state string, balance double",
    )
    # C1 changes state, C2 unchanged, C4 is new, C3 absent (not a delete)
    b2 = spark.createDataFrame(
        [("C1", "NY", 100.0), ("C2", "TX", 200.0), ("C4", "WA", 400.0)],
        "customer_id string, state string, balance double",
    )
    # C1 changes again
    b3 = spark.createDataFrame(
        [("C1", "NJ", 150.0)],
        "customer_id string, state string, balance double",
    )

    apply_snapshot(spark, BASE, b1, "customer_id", ["state", "balance"], "2025-01-01 00:00:00")
    apply_snapshot(spark, BASE, b2, "customer_id", ["state", "balance"], "2025-02-01 00:00:00")
    hist = apply_snapshot(
        spark, BASE, b3, "customer_id", ["state", "balance"], "2025-03-01 00:00:00"
    )

    rows = {
        (r.customer_id, r.state, r.is_current): (str(r.valid_from), str(r.valid_to))
        for r in hist.collect()
    }
    # C1: three versions, two closed
    assert rows[("C1", "FL", False)] == ("2025-01-01 00:00:00", "2025-02-01 00:00:00")
    assert rows[("C1", "NY", False)] == ("2025-02-01 00:00:00", "2025-03-01 00:00:00")
    assert rows[("C1", "NJ", True)][1] == "None"
    # C2 unchanged: single current version from batch 1
    assert rows[("C2", "TX", True)][0] == "2025-01-01 00:00:00"
    # C3 absent in later batches: still current (absence is not deletion)
    assert rows[("C3", "CA", True)][0] == "2025-01-01 00:00:00"
    # C4 inserted in batch 2, current
    assert rows[("C4", "WA", True)][0] == "2025-02-01 00:00:00"
    # exactly one current row per key
    cur_counts = (
        hist.filter(F.col("is_current")).groupBy("customer_id").count().collect()
    )
    assert all(r["count"] == 1 for r in cur_counts)
    assert hist.count() == 6
