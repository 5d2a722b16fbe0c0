"""Source-reader contracts.

The driver regenerates testdata between rounds and has already shipped two
physical timestamp encodings (nanos-as-INT64, micros isAdjustedToUTC=false).
These tests pin the loader contract: whatever the parquet encoding, every
table column arrives as plain session-UTC TIMESTAMP — never TIMESTAMP_NTZ
(breaks unix_micros/double casts/watermarks) and never a raw bigint.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from dbt_pro3_spark.ext.graph import shared_adjacency
from dbt_pro3_spark.memo import clear_session_memo
from dbt_pro3_spark.sources.readers import TESTDATA_TABLES, load, normalize_ts

from .conftest import SF_DIR, SF_SMALL


def test_no_ntz_or_raw_ts_survives_load(spark):
    for name in TESTDATA_TABLES:
        df = load(spark, SF_DIR, name)
        for col, dtype in df.dtypes:
            assert dtype != "timestamp_ntz", f"{name}.{col} leaked TIMESTAMP_NTZ"
            if col == "ts":
                assert dtype == "timestamp", f"{name}.ts is {dtype}, want timestamp"


def test_normalize_ts_casts_ntz(spark):
    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-05 10:30:00' AS ts, 1 AS x"
    )
    out = normalize_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # session tz is UTC -> the wall-clock value is preserved
    row = out.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")).first()
    assert row["s"] == "2024-01-05 10:30:00"


def test_normalize_ts_converts_nanos_long(spark):
    # 2024-01-05 10:30:00 UTC in nanoseconds since epoch
    ns = 1_704_450_600_000_000_000
    df = spark.range(1).select(F.lit(ns).alias("ts"))
    out = normalize_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    row = out.select(F.unix_micros("ts").alias("us")).first()
    assert row["us"] == ns // 1000


def test_timestamp_filter_pushdown_reaches_scan(spark):
    """The NTZ fix must keep working AT THE SCAN: a timestamp predicate on
    l_shipdate has to appear in PushedFilters, not as a post-scan cast
    filter (the difference is a full-table read at 100 TB)."""
    li = (
        load(spark, SF_DIR, "lineitem")
        .filter(F.col("l_shipdate") >= "1996-09-01")
        .select("l_orderkey")
    )
    plan = li._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def _li_fn(session):
    return lambda: load(session, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")


def test_scan_memo_is_keyed_by_session(spark):
    """Session-memo boundary: a second SparkSession in the same application
    gets frames bound to itself (so they run under its own conf), and each
    session still hits its own memo. Checked for the scan family and for an
    index family (graph adjacency)."""
    first = load(spark, SF_SMALL, "region")
    assert load(spark, SF_SMALL, "region") is first

    other = spark.newSession()
    df = load(other, SF_SMALL, "region")
    assert df.sparkSession is other
    assert df._jdf.sparkSession().equals(other._jsparkSession)
    assert load(other, SF_SMALL, "region") is df
    assert load(spark, SF_SMALL, "region") is first

    adj = shared_adjacency(spark, SF_SMALL, _li_fn(spark))
    other_adj = shared_adjacency(other, SF_SMALL, _li_fn(other))
    assert other_adj.sparkSession is other
    assert other_adj._jdf.sparkSession().equals(other._jsparkSession)
    assert shared_adjacency(other, SF_SMALL, _li_fn(other)) is other_adj
    assert shared_adjacency(spark, SF_SMALL, _li_fn(spark)) is adj
    clear_session_memo()


def test_memoized_scan_is_the_plain_normalized_scan(spark):
    """The scan family memoizes metadata only: the frame is exactly
    normalize_ts(spark.read.parquet(path)), nothing is persisted, and its
    analyzed plan computes the same result as a fresh build."""
    for name in ("lineitem", "events"):
        df = load(spark, SF_SMALL, name)
        fresh = normalize_ts(spark.read.parquet(f"{SF_SMALL}/{name}.parquet"))
        assert not df.is_cached
        assert df.storageLevel == StorageLevel.NONE
        assert df.schema == fresh.schema
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.sameResult(fresh._jdf.queryExecution().analyzed())
