"""Plan-level proofs for the scale utilities: not just correct rows, but the
Exchange/scan shape you'd want at 100 TB."""

from __future__ import annotations

import io
import contextlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dbt_pro3_spark.operators.scale import (
    salted_join,
    write_bucketed,
    write_partitioned,
)
from dbt_pro3_spark.sources.readers import load

from .conftest import SF_DIR

ROOT = Path(__file__).resolve().parent.parent
SCRATCH = str(ROOT / ".scratch" / "scale")


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "event_type")
    dim = (
        load(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .withColumn("user_bucket", F.pmod("user_id", F.lit(10)))
    )
    plain = ev.join(dim, "user_id").groupBy("user_bucket").count()
    salted = salted_join(ev, dim, "user_id", salt_buckets=8).groupBy("user_bucket").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_has_no_shuffle(spark):
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(ROOT / "spark-warehouse" / t, ignore_errors=True)
    write_bucketed(
        load(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "b_orders",
        "o_orderkey",
        num_buckets=8,
    )
    write_bucketed(
        load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_extendedprice"),
        "b_lineitem",
        "l_orderkey",
        num_buckets=8,
    )
    # disable broadcast so the join is sort-merge — the shape where
    # bucketing saves the shuffle (a broadcast join has no shuffle anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan_str(j)
        assert "Exchange hashpartitioning" not in p, p
        assert "Bucketed: true" in p, p
        assert j.count() == load(spark, SF_DIR, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruning(spark):
    path = f"{SCRATCH}/orders_by_month"
    orders = load(spark, SF_DIR, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    write_partitioned(orders, path, ["order_month"])
    pruned = spark.read.parquet(path).filter(F.col("order_month") == "1996-03")
    p = plan_str(pruned)
    # the scan must report a partition-filter pushdown, and the row count
    # must match a full-scan filter
    assert "PartitionFilters" in p and "order_month" in p, p
    expected = (
        load(spark, SF_DIR, "orders")
        .filter(F.date_format("o_orderdate", "yyyy-MM") == "1996-03")
        .count()
    )
    assert pruned.count() == expected
    # pruning proof: number of files read should be far below total partitions
    n_partitions = (
        spark.read.parquet(path).select("order_month").distinct().count()
    )
    assert n_partitions > 50  # ~80 months exist


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_how_modes(spark, how):
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id").limit(1000)
    dim = load(spark, SF_DIR, "events").select("user_id").distinct().limit(50)
    plain = ev.join(dim, "user_id", how).count()
    salted = salted_join(ev, dim, "user_id", salt_buckets=4, how=how).count()
    assert plain == salted


@pytest.mark.parametrize("how", ["right", "full", "left_semi", "left_anti"])
def test_salted_join_rejects_nonequivalent_modes(spark, how):
    """Replicating the small side S times breaks right/full/semi/anti
    semantics — salted_join must refuse instead of silently diverging."""
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id").limit(10)
    dim = load(spark, SF_DIR, "events").select("user_id").distinct().limit(5)
    with pytest.raises(ValueError, match="inner"):
        salted_join(ev, dim, "user_id", salt_buckets=4, how=how)


def test_spread_is_noop_on_well_partitioned_input(spark):
    """spread() must add NO exchange when the input already has >= slots
    partitions (the 100 TB case — real scans arrive in thousands of
    splits), and must repartition single-split inputs (the local case)."""
    from dbt_pro3_spark.sources.readers import spread

    wide = spark.range(0, 1000, 1, 64)
    assert spread(wide) is wide, "spread added a shuffle to a wide input"
    narrow = spark.range(0, 1000, 1, 1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_compaction_reduces_file_count(spark):
    """sink_compaction's claimed file counts must be the on-disk truth."""
    import glob
    import os

    from dbt_pro3_spark.queries import all_queries
    from dbt_pro3_spark.queries.core_scan import SCRATCH

    from .conftest import SF_DIR

    all_queries()["sink_compaction"](spark, SF_DIR).collect()
    base = os.path.join(SCRATCH, os.path.basename(SF_DIR.rstrip("/")), "orders_compaction")
    small = glob.glob(os.path.join(base, "small", "part-*"))
    compact = glob.glob(os.path.join(base, "compact", "part-*"))
    assert len(small) == 64
    assert len(compact) == 4


def test_ngram_jaccard_stop_shingle_cap_bounds_candidates(spark):
    """Planted pathological skew: a boilerplate prefix shared by ALL docs.

    Without the stop-shingle cap, candidate generation would emit
    ~binom(n_docs, 2) pairs from the viral shingles alone (2M pairs for
    2000 docs). With the cap (df > max_df shingles excluded from candidate
    gen), the candidate join is bounded by sum over non-hot shingles of
    binom(df, 2) — here just the planted near-dup pairs. This measures the
    cap math claimed in ext/dedup.py ngram_jaccard_pairs' docstring.
    """
    from dbt_pro3_spark.ext.dedup import ngram_jaccard_pairs

    n_docs = 2000
    boiler = "the quick brown fox jumps over the lazy dog again"  # df = n_docs
    rows = []
    for i in range(n_docs):
        pair_id = i // 2  # docs (2j, 2j+1) share a rare 6-token phrase
        rare = f"shared phrase number {pair_id} is quite unique"
        salt = f"doc {i} noise token{i}"
        rows.append((i, f"{boiler} {rare} {salt}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    pairs = ngram_jaccard_pairs(docs, n=3, min_common=2, max_df=16)
    got = pairs.filter("common_shingles >= 2").select("doc_a", "doc_b").collect()

    # exactly the planted pairs — no boilerplate-driven quadratic blow-up
    expect = {(2 * j, 2 * j + 1) for j in range(n_docs // 2)}
    assert {(r.doc_a, r.doc_b) for r in got} == expect

    # measured bound: candidate pairs <= sum_sh binom(min(df, cap), 2) over
    # NON-hot shingles. Compute the bound from the data itself.
    from pyspark.sql import functions as F
    from dbt_pro3_spark.ext.dedup import shingles

    df_counts = (
        docs.select(F.explode(shingles(F.col("text"), 3)).alias("s"), "doc_id")
        .dropDuplicates(["s", "doc_id"])
        .groupBy("s")
        .count()
        .filter("count <= 16")
        .selectExpr("sum(count * (count - 1) / 2) AS bound")
        .first()
        .bound
    )
    assert len(got) <= df_counts
    # and the bound itself is tiny versus the uncapped binom(2000, 2)
    assert df_counts < 0.01 * (n_docs * (n_docs - 1) / 2)


def test_bucketed_colocate_sweeps_the_session_warehouse(spark):
    """join_bucketed_colocate stages its tables under the session's
    spark.sql.warehouse.dir and sweeps other runs' day-old bk_ dirs there,
    leaving younger ones alone."""
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    from dbt_pro3_spark.queries import all_queries
    from dbt_pro3_spark.queries.extensions import _RUN_TOKEN

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(wh, "bk_orders_sf0_01_stalerun")
    live = os.path.join(wh, "bk_orders_sf0_01_liverun")
    for d in (stale, live):
        os.makedirs(d, exist_ok=True)
    day_old = time.time() - 2 * 86400
    os.utime(stale, (day_old, day_old))
    try:
        all_queries()["join_bucketed_colocate"](spark, SF_DIR)
        assert not os.path.exists(stale)
        assert os.path.isdir(live)
        suffix = f"{os.path.basename(SF_DIR.rstrip('/')).replace('.', '_')}_{_RUN_TOKEN}"
        for t in ("orders", "lineitem"):
            assert os.path.isdir(os.path.join(wh, f"bk_{t}_{suffix}"))
    finally:
        shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)
