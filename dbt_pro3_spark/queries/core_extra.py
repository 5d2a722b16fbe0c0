"""Beyond-reference relational coverage.

SURVEY.md §2 notes these operator families are ABSENT from the reference
(no semi/anti joins §2.D, no set operations §2.H, no grouping sets /
percentiles / stddev §2.E, no RANK/NTILE/frames §2.F, no LIMIT §2.G) but
are table stakes for an engine users would actually switch to — and all are
stock Spark. Each gets the same oracle treatment as the core keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import month_bucket
from ..sources.readers import load
from . import dround, register


# ------------------------------------------------------- semi / anti joins

@register(
    "join_left_semi",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: customers having at least one finished order. No fan-out,
    no duplicate rows — and Spark never materializes the right side's
    payload columns."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders at all — the orphan/uncovered-key
    audit every pipeline needs."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# ------------------------------------------------------------ set operations

@register(
    "setop_union_all",
    """
    SELECT c_custkey AS entity_key, 'customer' AS entity_kind FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_key, 'supplier' AS entity_kind FROM supplier
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name (unionByName — positional union is a silent-bug
    factory once schemas drift)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"), F.lit("customer").alias("entity_kind")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"), F.lit("supplier").alias("entity_kind")
    )
    return c.unionByName(s)


@register(
    "setop_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — nations having both customers and suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — nations with customers but no suppliers.

    subtract() is EXCEPT DISTINCT; exceptAll() is bag semantics (removes one
    occurrence per match) and would be wrong here."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# --------------------------------------------------- grouping sets / stats

@register(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           {dround('SUM(l_extendedprice)', 2)} AS gross
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total) in one
    pass — one shuffle, grouping-set expansion handled by Catalyst."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("gross"),
        )
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations in one pass."""
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "agg_percentile",
    f"""
    SELECT l_returnflag,
           {dround('quantile_cont(l_extendedprice, 0.5)', 4)} AS median_price,
           {dround('quantile_cont(l_extendedprice, 0.9)', 4)} AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont). At 100 TB prefer approx_percentile — exact requires a
    per-group sort; documented tradeoff, exact here for the oracle."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        )
    )


@register(
    "agg_stddev",
    f"""
    SELECT l_returnflag,
           {dround('stddev_samp(l_discount)', 6)} AS discount_stddev,
           {dround('var_samp(l_discount)', 6)} AS discount_var
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance per group."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_discount"), 6).alias("discount_stddev"),
            F.round(F.var_samp("l_discount"), 6).alias("discount_var"),
        )
    )


# ------------------------------------------------------ ranking / frames

@register(
    "win_rank_dense_ntile",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS bal_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS bal_dense_rank,
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS bal_quartile
    FROM customer
    """,
)
def win_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK / NTILE with a full tiebreak so the ordering (and
    therefore every ranking function) is deterministic."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.col("c_custkey"))
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
    )


@register(
    "win_running_sum",
    f"""
    WITH monthly AS (
        SELECT o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
               {dround('SUM(o_totalprice)', 2)} AS monthly_value
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, order_month, monthly_value,
           {dround('''SUM(monthly_value) OVER (PARTITION BY o_orderpriority ORDER BY order_month
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 2)} AS running_value
    FROM monthly
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with an explicit ROWS frame over a unique per-partition
    ordering (cumulative revenue per priority)."""
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", month_bucket(F.col("o_orderdate")).alias("order_month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("monthly_value"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("order_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "o_orderpriority",
        "order_month",
        "monthly_value",
        F.round(F.sum("monthly_value").over(w), 2).alias("running_value"),
    )


@register(
    "win_first_last_value",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS event_day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, event_day, n,
           FIRST_VALUE(n) OVER (PARTITION BY event_type ORDER BY event_day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_day_n,
           LAST_VALUE(n)  OVER (PARTITION BY event_type ORDER BY event_day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_day_n
    FROM daily
    """,
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE with the full-partition frame (the default
    frame's LAST_VALUE-of-current-row trap, avoided explicitly)."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("event_day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return daily.select(
        "event_type",
        "event_day",
        "n",
        F.first("n").over(w).alias("first_day_n"),
        F.last("n").over(w).alias("last_day_n"),
    )


# ----------------------------------------------------------- limit / top-k

@register(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by value with id tiebreak. Spark compiles ORDER BY+LIMIT to
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(10)
    )


# ------------------------------------------------- full medallion pipeline

# Engine-order-dependent LAG columns (documented reference nondeterminism,
# tests/test_pipeline.py header): excluded from the layer checksums so the
# summary is deterministic for ANY correct engine, not just this one.
_MEDALLION_CHECKSUM_EXCLUDE = {
    "gold_policy_performance": {"premium_revenue_prev_year", "policy_count_prev_year"},
    "gold_claims_operations": {"prev_month_claims", "prev_month_claim_amount"},
}

_MEDALLION_GOLDEN = [
    # (model, n_cols, n_rows, checksum) — golden summary of the 12-model DAG
    # on the seed-42/scale-0.2 fixtures. The VALUES here are pinned from a
    # verified run whose full per-row outputs match the independent DuckDB
    # replication in tests/test_pipeline.py (the real correctness evidence);
    # this oracle turns that golden into a driver-hashable contract so any
    # regression in bronze/silver/gold logic, dedup ordering, flag rules, or
    # the audit/test hooks flips the hash. CALENDAR-INVARIANT: every
    # date-derived column (report_date/age/churned_flag) is computed from the
    # injected run_ts date, never CURRENT_DATE (round-5 date-bomb fix —
    # tests/test_pipeline.py::test_injected_run_date_no_wall_clock guards the
    # class), so these constants are valid on every calendar day.
    ("claims_bronze", 18, 1015, "312001496376808775345"),
    ("claims_silver", 26, 983, "-31898734014238245386"),
    ("customers_bronze", 18, 204, "7106422083167842290"),
    ("customers_silver", 22, 196, "29955884301404197139"),
    ("gold_claims_operations", 26, 870, "-67324293188984407705"),
    ("gold_customer_360", 31, 187, "39451440873503645857"),
    ("gold_executive_summary", 22, 34, "-46299711832532922444"),
    ("gold_policy_performance", 25, 461, "-148929567040284575642"),
    ("policies_bronze", 17, 612, "-101419116030403293445"),
    ("policies_silver", 23, 585, "13420469975845498771"),
    ("premiums_bronze", 19, 2038, "-266296204160056593705"),
    ("premiums_silver", 19, 2000, "-411757235386267999522"),
]


@register(
    "pipeline_medallion",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{m}', CAST({c} AS BIGINT), CAST({n} AS BIGINT), "
        + (f"CAST('{cs}' AS VARCHAR)" if cs is not None else "CAST(NULL AS VARCHAR)")
        + ")"
        for m, c, n, cs in _MEDALLION_GOLDEN
    )
    + ") AS t(model, n_cols, n_rows, checksum) ORDER BY model",
)
def pipeline_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """End-to-end run of the 12-model insurance medallion DAG on the
    deterministic fixtures (bronze -> silver -> gold with audit hooks and
    schema tests), summarized per layer table: row count, column count, and
    an order-invariant content checksum (sum of xxhash64, widened to
    decimal(38,0) so the fold can't overflow, then emitted as its canonical
    digit STRING — the only type-lane both engines fetch losslessly). The
    oracle is the PINNED
    golden summary (_MEDALLION_GOLDEN) — the per-row evidence behind those
    constants is the full-output DuckDB replication in
    tests/test_pipeline.py. Checksum columns are the EXACT-typed ones
    (string/int/decimal/date/timestamp — order-invariant bit-stable);
    double columns are excluded because gold-layer double aggregates carry
    summation-order noise in their low bits (run-to-run nondeterministic
    even within one engine), as are the two tables' documented
    engine-order-dependent LAG columns. Every published checksum is
    therefore invariant for any correct engine."""
    return medallion_summary(spark, scale=0.2)


def medallion_summary(spark: SparkSession, scale: float) -> DataFrame:
    """Run the 12-model DAG on the seed-42 fixtures at ``scale`` and return
    the per-layer (model, n_cols, n_rows, checksum) summary — the key above
    pins it at scale=0.2; tests/test_pipeline.py pins a second scale so a
    fixture-generator or lifecycle regression that happens to preserve the
    0.2 constants still trips."""
    from ..pipeline import build_registry
    from ..pipeline.fixtures import raw_tables

    raw = raw_tables(spark, seed=42, scale=scale)
    result = build_registry(raw).run(spark)
    assert not result.test_failures, result.test_failures
    summaries = []
    for name in sorted(result.outputs):
        df = result.outputs[name]
        skip = _MEDALLION_CHECKSUM_EXCLUDE.get(name, set())
        cols = [
            f.name for f in df.schema.fields
            if f.name not in skip
            and f.dataType.typeName() not in ("double", "float")
        ]
        cs = F.coalesce(
            F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        )
        summaries.append(
            df.select(
                F.lit(name).alias("model"),
                F.lit(len(df.columns)).cast("bigint").alias("n_cols"),
                F.count(F.lit(1)).alias("n_rows"),
                # VARCHAR lane: the decimal(38,0) fold exceeds both int64 and
                # float64-exact range, and DuckDB's pandas fetch demotes
                # DECIMAL to lossy float64 while Spark keeps Decimal objects
                # (round-5 driver hash-miss class). A canonical digit string
                # is the one type-lane both engines fetch losslessly.
                cs.cast("string").alias("checksum"),
            )
        )
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out.orderBy("model")


@register(
    "join_salted_skew",
    """
    SELECT user_id % 10 AS user_bucket, COUNT(*) AS n_events
    FROM events JOIN (SELECT DISTINCT user_id FROM events) d USING (user_id)
    GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (operators.scale.salted_join): the big side is
    salted into 8 sub-keys, the small side replicated 8x, so a hot key
    spreads over 8 tasks. The oracle is the UNSALTED equivalent join —
    proving salting changes the shuffle layout, never the result."""
    from ..operators.scale import salted_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    dim = load(spark, sf_dir, "events").select("user_id").distinct()
    return (
        salted_join(ev, dim, "user_id", salt_buckets=8)
        .groupBy(F.pmod("user_id", F.lit(10)).alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ------------------------------------------------------ reshaping / sampling

@register(
    "agg_pivot",
    """
    SELECT l_returnflag,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit value list (always name the pivot values — the
    inferred-values form needs an extra distinct pass over the data).

    Pivoted cells with zero rows come back NULL from .pivot().count(), but
    the oracle's COUNT(CASE ...) yields 0 — coalesce so an absent
    (returnflag, status) combination is 0 on both sides, not only when the
    testdata happens to populate every cell.
    """
    pivoted = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .count()
    )
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).alias("F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("O"),
    )


@register(
    "reshape_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric, l_extendedprice AS amount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt wide metrics to long form — one narrow expand, the
    layout normalization step feature stores want."""
    return load(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "amount",
    )


@register(
    "sample_deterministic",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 sample by content hash — unlike rand()-based
    sampling this is reproducible across engines, runs, and partitionings
    (the only sane sampling for pipelines that must be replayable)."""
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").filter(
        F.md5(F.col("o_orderkey").cast("string").cast("binary")).substr(1, 1) == "0"
    )


@register(
    "profile_table",
    """
    SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler in long form: rows/nulls/distincts/min/max per
    column — the data-quality sweep run before trusting any new source.
    One aggregate pass per column batched into a single union plan."""
    o = load(spark, sf_dir, "orders")

    def profile(col: str) -> DataFrame:
        return o.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_value"),
            F.max(col).cast("string").alias("max_value"),
        )

    return (
        profile("o_custkey")
        .unionByName(profile("o_totalprice"))
        .unionByName(profile("o_orderstatus"))
    )


# ----------------------------------------------- partitioned-write pruning

@register(
    "scan_partition_pruned",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dround('SUM(o_totalprice)', 2)} AS total_value
    FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
    GROUP BY o_orderstatus
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: materialize orders partitioned by month
    (operators.scale.write_partitioned — the gold-table layout a 100 TB
    deployment writes), then aggregate ONE month. The month predicate is a
    partition filter, so the scan touches 1 of ~80 directories instead of
    the whole table — the pruning payoff measured in BENCH. The write is a
    one-time materialization (skipped when already present), mirroring how
    the partitioned table exists ahead of queries in production.
    """
    import os as _os

    from ..operators.scale import write_partitioned
    from .core_scan import SCRATCH

    base = _os.path.join(SCRATCH, "orders_by_month_" + _os.path.basename(sf_dir.rstrip("/")))
    if not _os.path.exists(f"{base}/_SUCCESS"):
        o = load(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        write_partitioned(o, base, ["o_month"])
    pruned = spark.read.parquet(base).filter(F.col("o_month") == "1995-03")
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


@register(
    "sample_stratified",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal FROM (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
               ) AS rn
        FROM customer
    ) t WHERE rn <= 50
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: exactly N rows per stratum, chosen
    by ranking on a content hash — reproducible across engines, runs, and
    partitionings (rand()-based stratified sampling is not), which is what
    training-data curation needs for replayable subset builds."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string").cast("binary")), F.col("c_custkey")
    )
    return (
        c.select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )


@register(
    "q_customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) t GROUP BY c_count
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution per customer INCLUDING
    zero-order customers. The hallmark is the predicate inside the LEFT
    JOIN's ON clause (filtering in WHERE would silently drop the
    zero-order customers) followed by a double aggregation."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def _zorder_sql(xcol: str, ycol: str, bits: int = 16) -> str:
    """DuckDB bit-interleave: z = sum_i x_i<<2i | y_i<<(2i+1)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({xcol} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({ycol} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "scan_zorder_key",
    f"""
    SELECT l_partkey, l_suppkey,
           CAST({_zorder_sql('(l_partkey % 65536)', '(l_suppkey % 65536)')} AS BIGINT) AS zval
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def scan_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the low 16 bits of two
    join/filter keys into one sort key. Writing a table
    sortWithinPartitions(zval) co-locates rows that are close in BOTH key
    dimensions, so parquet row-group min/max stats prune scans for
    predicates on EITHER column — the multi-dimensional clustering trick
    behind Delta OPTIMIZE ZORDER, here as a pure Column expression (32
    shift-mask-or terms, whole-stage codegen, no shuffle; the optional
    re-sort is the only exchange). Single-row-group local files can't
    demonstrate the pruning payoff, so this key verifies the z-value
    arithmetic bit-for-bit against the oracle instead."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    x = F.pmod(F.col("l_partkey"), F.lit(65536))
    y = F.pmod(F.col("l_suppkey"), F.lit(65536))
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i + 1)
        )
    return li.select("l_partkey", "l_suppkey", z.alias("zval"))


@register(
    "win_cume_percent_rank",
    f"""
    SELECT c_custkey, c_mktsegment,
           {dround('PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)', 6)} AS bal_percent_rank,
           {dround('CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)', 6)} AS bal_cume_dist
    FROM customer
    """,
)
def win_cume_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank, cume_dist) per segment —
    completes the ranking-family coverage (§2.F lists rank/dense_rank/ntile
    already). Deterministic ORDER BY tiebreak on the PK so both engines
    agree on equal balances; one window sort per partition key."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("bal_percent_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


@register(
    "q_shipmode_priority",
    """
    SELECT o_orderpriority,
           COUNT(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY THEN 1 END) AS late_lines,
           COUNT(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 45 DAY THEN 1 END) AS ontime_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: the testdata has no l_shipmode/commitdate,
    so the breakdown is late-vs-ontime per order priority at a 45-day SLA —
    the conditional-count-over-join structure is Q12's). One shuffle on the
    join key; the conditional counts aggregate map-side."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(late, 1)).alias("late_lines"),
            F.count(F.when(~late, 1)).alias("ontime_lines"),
        )
    )


@register(
    "ext_event_funnel",
    """
    WITH t1 AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS first_click
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.first_view
        GROUP BY e.user_id
    ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.first_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM t1) AS n_viewed,
           (SELECT COUNT(*) FROM t2) AS n_clicked_after,
           (SELECT COUNT(*) FROM t3) AS n_purchased_after
    """,
)
def ext_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users progressing view -> click (after their first
    view) -> purchase (after that click) — the ordered-sequence match
    every product-analytics stack ships (match_recognize's common case).
    Three conditional MIN aggregates all keyed on user_id: the first
    shuffle establishes the partitioning and the step joins reuse it
    (AQE-local); step N's survivor set only shrinks, so each stage is
    cheaper than the last. Timestamps compare exactly (micros both
    engines)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        t1.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n_clicked_after")))
        .crossJoin(t3.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )


@register(
    "ext_retention_cohorts",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.active_week) / 7 AS INTEGER) AS week_no,
           COUNT(*) AS n_active
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_no
    """,
)
def ext_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted as active in each subsequent week — the (cohort, week_no)
    triangle behind every retention chart. Both aggregates key on
    user_id (one shuffle, reused); the matrix itself is tiny (weeks²).
    Week buckets are Monday-start in both engines and the week offset is
    an exact integer (both weeks are Monday-aligned, so the day diff is
    divisible by 7). COUNT(*) over the distinct (user, week) activity set
    == COUNT(DISTINCT user) per cell."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_no"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "win_lead_next_gap",
    """
    SELECT event_id, user_id,
           CAST(datediff('microsecond', ts,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             AS BIGINT) AS gap_us
    FROM events
    """,
)
def win_lead_next_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD window: inter-event gap per user (time to the NEXT event;
    NULL on each user's last event) — the forward-looking sibling of the
    lag keys and the raw material of think-time / churn features.
    Partitioned by user_id with a deterministic (ts, event_id) order;
    gaps are exact integer microseconds on both engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (
            F.unix_micros(F.lead(F.col("ts").cast("timestamp")).over(w))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        )
        .cast("bigint")
        .alias("gap_us"),
    )


@register(
    "agg_histogram",
    f"""
    SELECT LEAST(CAST(FLOOR(o_totalprice / 25000.0) AS INTEGER), 19) AS bucket,
           COUNT(*) AS n_orders,
           {dround('MIN(o_totalprice)', 2)} AS lo,
           {dround('MAX(o_totalprice)', 2)} AS hi
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (width_bucket shape): order values into
    20 x 25k buckets with per-bucket count and observed min/max. Bucketing
    is a narrow arithmetic expression feeding a partial+final hash
    aggregate over at most 20 groups — the profiling primitive behind
    distribution dashboards. IEEE double division and FLOOR are bit-exact
    on both engines, so bucket assignment can't straddle the hash."""
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("int"), F.lit(19)
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "ext_date_spine_fill",
    f"""
    WITH bounds AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
        FROM orders
    ), spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month
        FROM bounds
    ), jumbo AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_jumbo_orders,
               SUM(o_totalprice) AS rev
        FROM orders WHERE o_totalprice > 495000 GROUP BY 1
    )
    SELECT s.month,
           CAST(COALESCE(j.n_jumbo_orders, 0) AS BIGINT) AS n_jumbo_orders,
           {dround('COALESCE(j.rev, 0)', 2)} AS jumbo_revenue
    FROM spine s LEFT JOIN jumbo j USING (month)
    """,
)
def ext_date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill (the dbt_utils.date_spine staple): generate a
    complete monthly calendar from the data's own bounds with
    sequence()+explode, then left-join a sparse aggregate (jumbo orders,
    top ~0.2% by value) onto it so empty months surface as explicit zero
    rows instead of silently missing — the difference between a correct
    and a misleading time series.

    Scale shape: bounds is a 1-row all-reduce; the spine is O(months),
    generated driver-free from that single row; the sparse aggregate
    shuffles only the filtered slice (predicate pushed to the scan); the
    final join broadcasts the tiny spine. Nothing here grows with corpus
    size except the one pushed-down filtered aggregation."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("month")
    )
    jumbo = (
        o.filter(F.col("o_totalprice") > 495000)
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_jumbo_orders"),
            F.sum("o_totalprice").alias("rev"),
        )
    )
    return spine.join(jumbo, "month", "left").select(
        "month",
        F.coalesce(F.col("n_jumbo_orders"), F.lit(0)).cast("bigint").alias(
            "n_jumbo_orders"
        ),
        F.round(F.coalesce(F.col("rev"), F.lit(0.0)), 2).alias("jumbo_revenue"),
    )


BLOOM_W = 4096  # bit-set width
BLOOM_K = 3     # hash functions


@register(
    "join_bloom_prefilter",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(CAST(CAST(SUM(l_extendedprice) AS VARCHAR) AS DECIMAL(38,2)) AS VARCHAR)::DOUBLE AS gross_revenue
    FROM lineitem
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_orderkey = l_orderkey
          AND o_orderpriority = '1-URGENT' AND o_totalprice > 450000
    )
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style runtime pre-filter join: the selective build side
    (urgent jumbo orders, ~2%) is condensed into a broadcastable SET BIT
    TABLE (K md5-derived positions per key over a W-bit space, distinct),
    the probe side keeps only rows whose K positions ALL hit — three
    broadcast semi joins, so the big side is filtered IN PLACE with no
    shuffle — and survivors get the exact semi join (bloom hits are
    candidates, never answers: no false negatives, so the result equals
    the plain semi join, which is exactly what the oracle runs).

    This is the manual, engine-portable form of what Spark's
    InjectRuntimeFilter/DPP does when thresholds allow: at 100 TB the
    bit table is O(W) regardless of build-side row count, and the probe
    scan discards non-matching rows before ANY exchange. The final
    aggregate rounds through DECIMAL like every money key.

    Reference parity: extends §2.D's join family (the reference joins are
    plain equi-joins; models/silver/*.sql) with the shuffle-avoidance
    pattern those joins need at scale."""
    from .llm_ops import _spark_md5_32

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    small = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 450000)
    ).select("o_orderkey")

    def positions(key: F.Column, j: int) -> F.Column:
        return F.pmod(
            _spark_md5_32(F.concat(F.lit(f"bf{j}:"), key.cast("string"))),
            F.lit(BLOOM_W),
        ).cast("int")

    pre = li
    for j in range(BLOOM_K):
        bits_j = small.select(
            positions(F.col("o_orderkey"), j).alias("pos")
        ).distinct()
        pre = pre.join(
            F.broadcast(bits_j),
            positions(F.col("l_orderkey"), j) == F.col("pos"),
            "left_semi",
        )
    exact = pre.join(
        F.broadcast(small),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    return exact.agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum("l_extendedprice")
        .cast("string")
        .cast("decimal(38,2)")
        .cast("string")
        .cast("double")
        .alias("gross_revenue"),
    )


# ----------------------------------------------- ANSI-safe expressions

@register(
    "expr_try_arithmetic",
    f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE {dround('o_totalprice / CAST(o_orderkey % 7 AS DOUBLE)', 2)}
           END AS ratio_or_null
    FROM orders WHERE o_orderkey < 5000
    """,
)
def expr_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic via Spark's try_* family: try_divide yields
    NULL on division by zero instead of failing the job under ANSI mode —
    the row-level fault tolerance a 100 TB batch needs (one bad row must
    not kill a 6-hour job; the NULLs surface in DQ counts instead). The
    oracle spells out the same semantics with an explicit CASE guard."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(
                F.col("o_totalprice"), (F.col("o_orderkey") % 7).cast("double")
            ),
            2,
        ).alias("ratio_or_null"),
    )


@register(
    "agg_string_concat_ordered",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation (Spark 4 listagg ...
    WITHIN GROUP): the reporting primitive behind 'list the members of
    each group' columns. Unordered collect/concat is nondeterministic
    under parallel execution — WITHIN GROUP (ORDER BY) is what makes the
    result reproducible across partitionings, which is exactly what the
    cross-engine hash check proves."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
                "nations"
            )
        )
    )


@register(
    "join_null_safe_eq",
    """
    WITH a AS (
        SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg, COUNT(*) AS n_a
        FROM customer GROUP BY 1
    ), b AS (
        SELECT NULLIF(c_mktsegment, 'MACHINERY') AS seg, COUNT(*) AS n_b
        FROM customer GROUP BY 1
    )
    SELECT a.seg, a.n_a, b.n_b
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join equality (eqNullSafe / <=>, DuckDB IS NOT DISTINCT
    FROM): NULL keys MATCH each other instead of silently dropping — the
    semantics gap behind many 'rows vanished after the join' bugs when
    keys are nullable. Each side aggregates BEFORE the join so the
    NULL-bucket match is one row against one row, never a NULL-key
    cartesian blow-up (the scale hazard of null-safe joins: all NULLs
    hash to ONE partition — pre-aggregate or filter them)."""
    c = load(spark, sf_dir, "customer")
    a = c.groupBy(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    ).agg(F.count(F.lit(1)).alias("n_a"))
    b = c.groupBy(
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg_b")
    ).agg(F.count(F.lit(1)).alias("n_b"))
    return (
        a.join(b, a.seg.eqNullSafe(b.seg_b), "inner")
        .select("seg", "n_a", "n_b")
    )


@register(
    "agg_corr_regression",
    """
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_qty_price,
           round(covar_samp(l_discount, l_quantity), 6) AS covar_qty_disc,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covar_samp / regr_slope): the
    exploratory-analytics surface beyond plain moments — one partial+final
    hash aggregate carrying the co-moment accumulators (sum, sum2,
    sum_xy), so the cost shape is identical to SUM/AVG at any scale.
    Cross-engine parity holds at 6/4 dp because both engines use the
    numerically-stable co-moment formulation."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
    )


@register(
    "agg_max_by",
    """
    SELECT c_mktsegment, c_custkey AS richest_cust, c_acctbal AS max_bal
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        FROM customer
    ) WHERE rn = 1
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a STRUCT ordering key — 'the row that had the max' in
    one aggregate pass instead of a window + filter (one shuffle, no sort
    of the whole partition; the window formulation is the oracle). The
    struct (acctbal, custkey) makes ties deterministic — bare
    max_by(x, acctbal) is nondeterministic under parallel aggregation
    whenever the max is not unique, which is exactly the kind of
    plan-dependent flakiness the cross-engine hash check exists to catch."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", F.struct("c_acctbal", "c_custkey")).alias(
            "richest_cust"
        ),
        F.max(F.struct("c_acctbal", "c_custkey")).getField("c_acctbal").alias(
            "max_bal"
        ),
    )


@register(
    "agg_bitmask_or",
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
           bit_or(1 << (CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END))
               AS type_mask
    FROM events GROUP BY 1, 2
    """,
)
def agg_bitmask_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap presence encoding via bit_or: pack the set of event types a
    user touched each day into one integer mask — the compact
    feature-flag representation (set membership tests become bitwise ANDs,
    set union across periods becomes another bit_or; the roll-up never
    rescans raw events). Same partial+final aggregate cost shape as SUM."""
    ev = load(spark, sf_dir, "events")
    bit = F.expr(
        "shiftleft(1, CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 "
        "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END)"
    )
    return (
        ev.select("user_id", F.col("ts").cast("date").alias("day"), bit.alias("bit"))
        .groupBy("user_id", "day")
        .agg(F.bit_or("bit").alias("type_mask"))
    )


@register(
    "agg_grouping_id",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS is_total
    FROM orders GROUP BY ROLLUP(o_orderstatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() disambiguation in rollups: a NULL group key can mean
    'the data was NULL' or 'this is the rollup total row' — GROUPING()
    tells them apart, which every downstream consumer of a rollup needs
    before it can trust the NULL rows. Costless: the grouping id rides
    the same expanded aggregate."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("o_orderstatus").cast("int").alias("is_total"),
    )


@register(
    "win_moving_avg_rows",
    f"""
    WITH monthly AS (
        SELECT o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
               {dround('SUM(o_totalprice)', 2)} AS monthly_value
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, order_month, monthly_value,
           {dround('''AVG(monthly_value) OVER (PARTITION BY o_orderpriority ORDER BY order_month
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)''', 2)} AS moving_avg_3m
    FROM monthly
    """,
)
def win_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED ROWS frame (3-month trailing average) — the sliding-frame
    member of the window family: win_running_sum is the unbounded ROWS
    frame, win_time_range_rolling the RANGE frame; this completes the
    frame-type matrix over a unique per-partition ordering (months), so
    the 3-row average is deterministic on both engines. Window state is
    O(frame) per partition — constant memory however large the fact table
    that fed the monthly rollup."""
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", month_bucket(F.col("o_orderdate")).alias("order_month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("monthly_value"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("order_month")
        .rowsBetween(-2, Window.currentRow)
    )
    return monthly.select(
        "o_orderpriority",
        "order_month",
        "monthly_value",
        F.round(F.avg("monthly_value").over(w), 2).alias("moving_avg_3m"),
    )
