"""SURVEY.md §2.A (scans/sources/sinks), §2.B (projections/filters/
predicates), §2.C (scalar functions) — one registered query per operator key,
each with its DuckDB oracle twin unless inherently non-SQL (file metadata).

Testdata role mapping (FIXTURES.md §B): customers→customer, policies→orders,
claims/premiums→lineitem.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import EMAIL_RE, null_or_empty, safe_div  # noqa: F401
from ..operators.project import typed_cast
from ..operators.quality import dq_flags
from ..plans.registry import ModelRegistry
from ..sources.readers import load
from ..sources.sinks import audit_row
from . import dround, register

# staging root of the write keys: .scratch/ at the top of the checkout
SCRATCH = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..", ".scratch"))


# ---------------------------------------------------------------- 2.A scans

@register(
    "src_table_scan",
    "SELECT r_regionkey, r_name FROM region",
)
def src_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cataloged raw-table scan (sources.yml:4-16; used e.g.
    customers_bronze.sql:42)."""
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "src_file_metadata",
    """
    SELECT r_regionkey,
           'region.parquet' AS source_file_name,
           TRUE AS path_nonnull,
           TRUE AS mtime_nonnull,
           TRUE AS size_positive
    FROM region
    """,
)
def src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist ingestion-lineage columns from the hidden _metadata struct —
    Auto Loader's source_file_path/time (claims_bronze.sql:41-42).

    DuckDB views can't see Spark's _metadata, so the driver-checkable
    contract is the set of invariants the lineage columns must satisfy:
    the source file basename is exactly the table file, and path/mtime/size
    are populated per row. A NULL or wrong metadata value flips a row and
    fails the hash; row-count parity with the raw scan is implied by the
    per-row shape.
    """
    df = load(spark, sf_dir, "region")
    mtime = F.col("_metadata.file_modification_time")
    return df.select(
        "r_regionkey",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "source_file_name"
        ),
        F.col("_metadata.file_path").isNotNull().alias("path_nonnull"),
        (
            mtime.isNotNull()
            & (mtime > F.lit("2000-01-01").cast("timestamp"))
        ).alias("mtime_nonnull"),
        (F.col("_metadata.file_size") > F.lit(0)).alias("size_positive"),
    )


@register(
    "src_rescued_data",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(NULL AS VARCHAR) AS _rescued_data
    FROM events
    """,
)
def src_rescued_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE parse with malformed-payload capture — Auto Loader
    _rescued_data semantics (policies_bronze.sql:38) applied to the events
    JSON payload. Well-formed rows leave the rescue column NULL."""
    events = load(spark, sf_dir, "events")
    parsed = F.from_json(
        F.col("props"),
        "k INT, _rescued_data STRING",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_rescued_data"},
    )
    return events.select(
        "event_id",
        parsed.getField("k").alias("k"),
        parsed.getField("_rescued_data").alias("_rescued_data"),
    )


@register(
    "sink_table_materialize",
    "SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders GROUP BY o_orderstatus",
)
def sink_table_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-refresh table materialization (dbt_project.yml:31-43 CTAS):
    overwrite-write the model, read it back, aggregate the read-back copy —
    proves the round trip, not just the plan."""
    path = os.path.join(SCRATCH, os.path.basename(sf_dir.rstrip("/")), "orders_materialized")
    load(spark, sf_dir, "orders").write.mode("overwrite").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "sink_audit_insert",
    """
    SELECT 'lineitem' AS dataset, 'silver' AS layer,
           (SELECT COUNT(*) FROM lineitem) AS source_records,
           (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS target_records,
           CAST(0 AS BIGINT) AS bad_records
    """,
)
def sink_audit_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hook audit record: cross join of two scalar COUNT(*) subqueries
    (customers_bronze.sql:15-17), bad_records hard-coded 0 (:14)."""
    li = load(spark, sf_dir, "lineitem")
    target = li.dropDuplicates(["l_orderkey", "l_linenumber"])
    return audit_row(spark, li, target, dataset="lineitem", layer="silver")


@register(
    "ref_dependency",
    f"""
    WITH orders_base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_totalprice > 0
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {dround('SUM(o_totalprice)', 2)} AS total_value
    FROM orders_base GROUP BY o_orderstatus
    """,
)
def ref_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{{ ref('model') }} DAG-edge resolution (customers_silver.sql:54,
    gold_customer_360.sql:32,48,65-66) via the engine's model registry."""
    reg = ModelRegistry()

    @reg.model("orders_base")
    def orders_base(spark_, ref):
        return (
            load(spark_, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
            .filter(F.col("o_totalprice") > 0)
        )

    @reg.model("orders_by_status", deps=("orders_base",))
    def orders_by_status(spark_, ref):
        return (
            ref("orders_base")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            )
        )

    return reg.run(spark).outputs["orders_by_status"]


# ------------------------------------------------- 2.B projections/filters

@register(
    "proj_typed_cast",
    """
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INTEGER) AS l_linenumber,
           CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS l_quantity,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS l_extendedprice,
           CAST(l_discount AS DOUBLE) AS l_discount,
           CAST(l_tax AS DOUBLE) AS l_tax,
           CAST(l_returnflag AS VARCHAR) AS l_returnflag,
           CAST(l_linestatus AS VARCHAR) AS l_linestatus,
           CAST(l_shipdate AS DATE) AS l_shipdate
    FROM lineitem
    """,
)
def proj_typed_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze full-width typed projection — CAST every column to an explicit
    type (customers_bronze.sql:23-41 pattern; DECIMAL(18,2) money as at
    policies_bronze.sql:27-29).

    The DECIMAL(18,2) money casts are the semantics being demonstrated; the
    final output re-casts them to DOUBLE (both here and in the oracle SQL)
    because Decimal stringification ("17.00" vs "17.0") differs between
    Spark and DuckDB in the driver's value-hash canonicalization even when
    every value is identical (CORRECTNESS_r01 proj_typed_cast: rows+schema
    matched, hash did not).
    """
    df = typed_cast(
        load(spark, sf_dir, "lineitem"),
        {
            "l_orderkey": "bigint",
            "l_linenumber": "int",
            "l_quantity": "decimal(18,2)",
            "l_extendedprice": "decimal(18,2)",
            "l_discount": "double",
            "l_tax": "double",
            "l_returnflag": "string",
            "l_linestatus": "string",
            "l_shipdate": "date",
        },
    )
    return df.withColumn("l_quantity", F.col("l_quantity").cast("double")).withColumn(
        "l_extendedprice", F.col("l_extendedprice").cast("double")
    )


@register(
    "filter_flag_eq",
    """
    WITH flagged AS (
        SELECT c_custkey, c_acctbal, c_mktsegment,
               CASE WHEN c_mktsegment IS NULL OR c_mktsegment = '' THEN 1 ELSE 0 END AS missing_segment_flag,
               CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS negative_balance_flag
        FROM customer
    )
    SELECT c_custkey, c_acctbal, c_mktsegment, missing_segment_flag, negative_balance_flag
    FROM flagged WHERE missing_segment_flag = 0 AND negative_balance_flag = 0
    """,
)
def filter_flag_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row filter on computed 0/1 quality flags — WHERE flag = 0
    (customers_silver.sql:64, gold_customer_360.sql:33)."""
    df = dq_flags(
        load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment"),
        {
            "missing_segment_flag": null_or_empty(F.col("c_mktsegment")),
            "negative_balance_flag": F.col("c_acctbal") < 0,
        },
    )
    return df.filter((F.col("missing_segment_flag") == 0) & (F.col("negative_balance_flag") == 0))


@register(
    "pred_null_or_empty",
    "SELECT c_custkey, c_name FROM customer WHERE NOT (c_name IS NULL OR c_name = '')",
)
def pred_null_or_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``col IS NULL OR col = ''`` missing-key predicate
    (customers_silver.sql:49)."""
    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", "c_name").filter(~null_or_empty(F.col("c_name")))


@register(
    "pred_is_not_null",
    """
    SELECT user_id, COUNT(*) AS n_events FROM events
    WHERE props IS NOT NULL GROUP BY user_id
    """,
)
def pred_is_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL filter (gold_claims_operations.sql:55 adjuster_id)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("props").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "pred_rlike_regex",
    r"""
    SELECT c_custkey, c_name,
           CASE WHEN NOT regexp_matches(c_name, '^Customer#[0-9]{9}$') THEN 1 ELSE 0 END AS invalid_name_flag
    FROM customer
    """,
)
def pred_rlike_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity via NOT RLIKE regex — the invalid-email flag pattern
    (customers_silver.sql:50-53) applied to customer name format."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_name",
        F.when(~F.col("c_name").rlike(r"^Customer#[0-9]{9}$"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("invalid_name_flag"),
    )


@register(
    "pred_in_list",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
    GROUP BY c_mktsegment
    """,
)
def pred_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list membership (state IN ('FL','TX','CA'),
    gold_claims_operations.sql:101-103)."""
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "pred_between",
    "SELECT p_partkey, p_size FROM part WHERE p_size BETWEEN 10 AND 30",
)
def pred_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN range predicate (age BETWEEN 25 AND 65,
    gold_claims_operations.sql:109)."""
    return (
        load(spark, sf_dir, "part")
        .select("p_partkey", "p_size")
        .filter(F.col("p_size").between(10, 30))
    )


@register(
    "case_multibranch",
    f"""
    SELECT CASE WHEN c_acctbal > 8000 THEN 'Premium'
                WHEN c_acctbal > 5000 THEN 'Gold'
                WHEN c_acctbal > 2000 THEN 'Silver'
                WHEN c_acctbal > 0 THEN 'Basic'
                ELSE 'Negative' END AS value_segment,
           COUNT(*) AS n_customers,
           {dround('SUM(c_acctbal)', 2)} AS segment_balance
    FROM customer GROUP BY 1
    """,
)
def case_multibranch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-branch CASE segmentation (value segments,
    gold_customer_360.sql:118-130)."""
    seg = (
        F.when(F.col("c_acctbal") > 8000, "Premium")
        .when(F.col("c_acctbal") > 5000, "Gold")
        .when(F.col("c_acctbal") > 2000, "Silver")
        .when(F.col("c_acctbal") > 0, "Basic")
        .otherwise("Negative")
    )
    return (
        load(spark, sf_dir, "customer")
        .groupBy(seg.alias("value_segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("segment_balance"),
        )
    )


@register(
    "expr_coalesce_default",
    f"""
    WITH agg AS (
        SELECT o_custkey, COUNT(*) AS cnt, SUM(o_totalprice) AS spent
        FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey,
           COALESCE(cnt, 0) AS order_count,
           {dround('COALESCE(spent, 0.0)', 2)} AS total_spent
    FROM customer LEFT JOIN agg ON c_custkey = o_custkey
    """,
)
def expr_coalesce_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE(x, 0) null-defaulting after an outer join
    (gold_customer_360.sql:88-102)."""
    cust = load(spark, sf_dir, "customer")
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("o_totalprice").alias("spent"))
    )
    return cust.join(agg, cust.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("cnt", F.lit(0)).alias("order_count"),
        F.round(F.coalesce("spent", F.lit(0.0)), 2).alias("total_spent"),
    )


@register(
    "expr_nullif_guard",
    f"""
    SELECT l_returnflag,
           {dround('SUM(l_extendedprice) / NULLIF(CAST(SUM(l_quantity) AS DOUBLE), 0)', 4)} AS price_per_unit
    FROM lineitem GROUP BY l_returnflag
    """,
)
def expr_nullif_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x / NULLIF(y, 0) divide-by-zero guard
    (gold_policy_performance.sql:103-105)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            safe_div(F.sum("l_extendedprice"), F.sum("l_quantity"), 4).alias("price_per_unit")
        )
    )


@register(
    "expr_clamp_negative",
    """
    SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal < 0 THEN 0 ELSE c_acctbal END AS acctbal_clamped
    FROM customer
    """,
)
def expr_clamp_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-amount clamp CASE WHEN amt < 0 THEN 0 ELSE amt END
    (premiums_silver.sql:60,64-67)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("c_acctbal") < 0, F.lit(0).cast("double"))
        .otherwise(F.col("c_acctbal"))
        .alias("acctbal_clamped"),
    )


# ------------------------------------------------------ 2.C scalar functions

@register(
    "str_trim",
    "SELECT c_custkey, TRIM(c_name) AS name_clean FROM customer",
)
def str_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIM on string columns (premiums_bronze.sql:24-38)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey", F.trim(F.col("c_name")).alias("name_clean")
    )


@register(
    "str_initcap",
    """
    SELECT c_custkey,
           upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2) AS segment_title
    FROM customer
    """,
)
def str_initcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INITCAP title-casing (customers_silver.sql:24-25). DuckDB has no
    initcap, so the oracle builds it manually — fixture values are single
    words, where the two are equivalent (SURVEY §7 hazard 7)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey", F.initcap(F.col("c_mktsegment")).alias("segment_title")
    )


@register(
    "str_lower",
    "SELECT p_partkey, LOWER(p_type) AS type_lower FROM part",
)
def str_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOWER normalization (customers_silver.sql:26 email)."""
    return load(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_type")).alias("type_lower")
    )


@register(
    "str_upper",
    "SELECT doc_id, UPPER(lang) AS lang_upper FROM documents",
)
def str_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPPER normalization (policies_silver.sql:32 status)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.upper(F.col("lang")).alias("lang_upper")
    )


@register(
    "str_concat",
    "SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS full_label FROM customer",
)
def str_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAT(first, ' ', last) full-name build (customers_silver.sql:47)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat_ws(" ", F.col("c_name"), F.col("c_mktsegment")).alias("full_label"),
    )


@register(
    "date_year_diff_age",
    """
    SELECT o_orderkey,
           CAST(year(current_date) - year(o_orderdate) AS INTEGER) AS order_age_years
    FROM orders
    """,
)
def date_year_diff_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Age as plain year subtraction — NOT exact age; replicate the quirk
    (customers_silver.sql:44-46, SURVEY §7 hazard 2)."""
    from ..functions.scalar import age_years

    return load(spark, sf_dir, "orders").select(
        "o_orderkey", age_years(F.col("o_orderdate")).alias("order_age_years")
    )


@register(
    "date_datediff",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(datediff('day', o_orderdate, l_shipdate) AS INTEGER) AS ship_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def date_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATEDIFF(end, start) day delta (claims_silver.sql:80 reporting delay).
    Spark/Databricks take (end, start); DuckDB datediff('day', start, end) —
    argument order deliberately mirrored (SURVEY §7 hazard 2)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("ship_delay_days"),
    )


@register(
    "date_trunc_month",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def date_trunc_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE_TRUNC('month') bucketing (gold_policy_performance.sql:26,44)."""
    from ..functions.scalar import month_bucket

    return (
        load(spark, sf_dir, "orders")
        .groupBy(month_bucket(F.col("o_orderdate")).alias("order_month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "date_current",
    "SELECT c_custkey, current_date AS as_of_date FROM customer",
)
def date_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRENT_DATE audit stamp (customers_silver.sql:42). Timestamp variants
    are excluded from oracle comparison by design (SURVEY §7 hazard 1)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey", F.current_date().alias("as_of_date")
    )


@register(
    "math_round",
    f"""
    SELECT l_orderkey, l_linenumber,
           {dround('l_extendedprice * (1 - l_discount)', 3)} AS net_price
    FROM lineitem
    """,
)
def math_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND(x, 3) (claims_silver.sql:82 settlement ratio)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 3).alias("net_price"),
    )


@register(
    "math_arith",
    f"""
    SELECT l_orderkey, l_linenumber,
           {dround('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)} AS charge,
           {dround('l_extendedprice - l_quantity * 100.0', 2)} AS price_minus_cost,
           {dround('l_discount * 100.0', 2)} AS discount_pct
    FROM lineitem
    """,
)
def math_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money arithmetic + - * / and *100 percentages
    (gold_executive_summary.sql:119-131)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 2
        ).alias("charge"),
        F.round(F.col("l_extendedprice") - F.col("l_quantity") * 100.0, 2).alias(
            "price_minus_cost"
        ),
        F.round(F.col("l_discount") * 100.0, 2).alias("discount_pct"),
    )


@register(
    "cast_inline_double",
    f"""
    SELECT o_orderstatus,
           {dround('CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) / COUNT(*)', 6)} AS custkey_density
    FROM orders GROUP BY o_orderstatus
    """,
)
def cast_inline_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST(x AS DOUBLE) before division to avoid integer division
    (gold_customer_360.sql:114,127-128)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                F.countDistinct("o_custkey").cast("double") / F.count(F.lit(1)), 6
            ).alias("custkey_density")
        )
    )


@register(
    "src_schema_evolution",
    """
    SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN '<pre-evolution>'
                ELSE o_orderpriority END AS priority,
           COUNT(*) AS n_orders,
           CAST(CAST(CAST(SUM(o_totalprice) AS VARCHAR) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY 1
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema: the table's early files
    were written WITHOUT o_orderpriority (the column was added later — the
    drift every long-lived lakehouse table accumulates); a mergeSchema
    read unions the file schemas and null-fills the missing column in old
    files. The oracle recomputes the same drift directly from the source
    table, proving the evolved read loses nothing.

    At scale: mergeSchema's footer reconciliation is a one-time planning
    cost (driver reads footers in parallel); the scan itself stays
    columnar and pruned. Production tables pin the merged schema in a
    catalog instead of re-inferring per query — this key demonstrates the
    read path works when they haven't."""
    base = os.path.join(
        SCRATCH, os.path.basename(sf_dir.rstrip("/")), "orders_evolved"
    )
    o = load(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    new = o.filter(F.col("o_orderdate") >= "1997-01-01").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(base, "v1"))
    new.write.mode("overwrite").parquet(os.path.join(base, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").cast("string").cast("decimal(38,2)").cast("double").alias("total_value"),
    )


@register(
    "src_orc_roundtrip",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(CAST(CAST(SUM(o_totalprice) AS VARCHAR) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format support: write orders as ORC, read it back, aggregate
    the read-back copy — proves the second columnar format end-to-end
    (schema, predicate pushdown and column pruning work the same as
    parquet through the native ORC reader). The oracle aggregates the
    source table: the round trip must be lossless."""
    path = os.path.join(SCRATCH, os.path.basename(sf_dir.rstrip("/")), "orders_orc")
    load(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("string").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
    )


@register(
    "sink_partition_overwrite",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                        THEN o_totalprice * 0.9 ELSE o_totalprice END) AS VARCHAR)
                 AS DECIMAL(38,2)) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the backfill primitive: a
    status-partitioned table gets ONE partition ('F') rewritten (here
    with a 10% price adjustment) while every other partition's files are
    left untouched; the read-back aggregate proves surgical replacement.
    partitionOverwriteMode=dynamic replaces only partitions present in
    the written DataFrame — at 100 TB this is how a single bad day/region
    is repaired without rewriting the table."""
    path = os.path.join(
        SCRATCH, os.path.basename(sf_dir.rstrip("/")), "orders_by_status"
    )
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fixed = (
        o.filter(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 0.9)
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("string").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
    )


@register(
    "sink_compaction",
    """
    SELECT CAST(64 AS INTEGER) AS n_files_before,
           CAST(4 AS INTEGER) AS n_files_after,
           COUNT(*) AS n_rows,
           CAST(CAST(CAST(SUM(o_totalprice) AS VARCHAR) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
    FROM orders
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every streaming/
    micro-batch sink eventually needs: a 64-way fragmented write is
    compacted to 4 right-sized files with coalesce (narrow: no shuffle,
    each output file concatenates input splits; use repartition instead
    only when output skew matters more than the extra exchange). The
    returned row carries the file counts plus a content aggregate the
    oracle recomputes from the source — compaction must move bytes, never
    change them. Actual on-disk file counts are asserted in
    tests/test_scale.py."""
    base = os.path.join(SCRATCH, os.path.basename(sf_dir.rstrip("/")), "orders_compaction")
    o = load(spark, sf_dir, "orders")
    o.repartition(64).write.mode("overwrite").parquet(os.path.join(base, "small"))
    frag = spark.read.parquet(os.path.join(base, "small"))
    frag.coalesce(4).write.mode("overwrite").parquet(os.path.join(base, "compact"))
    compacted = spark.read.parquet(os.path.join(base, "compact"))
    return compacted.agg(
        F.lit(64).alias("n_files_before"),
        F.lit(4).alias("n_files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_totalprice").cast("string").cast("decimal(38,2)").cast("double").alias("total_value"),
    )
