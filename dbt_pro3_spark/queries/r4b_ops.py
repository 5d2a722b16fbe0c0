"""Round-4 batch-B operators: probabilistic membership, grouped trend
fitting, windowed correlation, categorical independence testing, and
model-evaluation reports (calibration / decile lift).

Every key keeps the registry's exactness disciplines (scale_ops.py
header): integer quantization before any cross-engine float,
ratio-of-identical-integers for doubles, FLOOR (never engine-default int
casts) for quantization steps, per-row integer-unit rounding BEFORE any
corpus-sized float sum, total-order tiebreaks, terminal dround(6).

New named patterns this module demonstrates:

- ext_sketch_bloom: a Bloom filter as a relational aggregate — the bitset
  is a grid of 63-bit words built with one map-side-combined bit_or
  aggregate, broadcast back for probing (three broadcast hash joins, no
  probe-side shuffle). 63-bit words are deliberate: DuckDB raises on
  `1::BIGINT << 63` (signed overflow) while Spark wraps, so the sign bit
  is never used and the word grid is bit-identical across engines.
- ext_trend_ols: per-group ordinary-least-squares trend where every
  moment (n, Σx, Σy, Σxx, Σxy, Σyy) is an exact BIGINT and the slope is
  a ratio of identical integers — per-group regression with zero
  float-summation-order exposure.
- ext_ts_rolling_corr: rolling Pearson correlation over a monthly grid
  with the second-moment window sums widened to 128-bit (Spark
  decimal(38,0) / DuckDB HUGEINT) so squares of month-level cent totals
  cannot wrap; HUGEINT→DOUBLE goes through the correctly-rounded
  VARCHAR path (see spark-graft discipline: DuckDB's direct
  HUGEINT→DOUBLE cast is off by 1 ulp above 2^53).
- ext_chi2_independence: chi-square grid test with per-cell
  contributions frozen to integer nano-units before the grid sum (the
  ext_drift_psi discipline), so the statistic is bit-identical.
- ext_eval_calibration: reliability bins + Brier score where the
  squared error is EXACT per-row integer arithmetic in milli-unit² space
  ((p_mills - 1000·y)², ≤ 10^6), so even the corpus-sized Brier sum is
  an integer.
- ext_eval_lift: decile gains/lift chart whose global spend ranking is
  a two-level value-range-bucketed rank (the ext_text_pack prefix-sum
  shape) — no corpus-sized single-partition window.
- ext_eval_threshold_sweep: F1-optimal operating point from suffix sums
  over the score grid, argmax ranked on nano-unit-frozen F1.
- ext_weighted_quantiles: exact weighted order statistics by two-level
  value-range prefix scan + broadcast band join (no interpolation).
- ext_linkage_patterns: blocked Fellegi-Sunter agreement-pattern
  evidence table with independence-expected baselines and log-odds.
- ext_price_elasticity: grouped log-log OLS with per-row nano-unit ln
  freezing and 128-bit second moments.

Reference parity: the reference exposes only dbt SQL models
(/root/reference/models/*.sql); these keys are beyond-reference
LLM-pipeline / analytics surface mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load
from . import dround, register
from .llm_ops import _md5_32, _spark_md5_32

# ---------------------------------------------------------------------------
# ext_sketch_bloom — Bloom-filter membership sketch, build + probe + audit
# ---------------------------------------------------------------------------

BLOOM_WORD_BITS = 63  # sign-safe word width (DuckDB raises on 1<<63)
BLOOM_WORDS = 260
BLOOM_M = BLOOM_WORDS * BLOOM_WORD_BITS  # 16380 bits
BLOOM_K = 3
BLOOM_SEG = "BUILDING"


def _bloom_oracle() -> str:
    p_exprs = []
    for i in range(BLOOM_K):
        h = _md5_32(f"'bl{i}:' || CAST(c_custkey AS VARCHAR)")
        p_exprs.append(f"{h} % {BLOOM_M} AS p{i}")
    p_cols = ",\n               ".join(p_exprs)
    joins = "\n        ".join(
        f"LEFT JOIN words w{i} ON w{i}.w = CAST(FLOOR(pr.p{i} / {BLOOM_WORD_BITS}.0) AS BIGINT)"
        for i in range(BLOOM_K)
    )
    hits = ",\n               ".join(
        f"COALESCE((w{i}.bits >> (pr.p{i} % {BLOOM_WORD_BITS})) & 1, 0) AS h{i}"
        for i in range(BLOOM_K)
    )
    allhit = " * ".join(f"h{i}" for i in range(BLOOM_K))
    return f"""
    WITH probe AS MATERIALIZED (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = '{BLOOM_SEG}' THEN 1 ELSE 0 END AS is_mem,
               {p_cols}
        FROM customer
    ), pos AS (
        SELECT p0 AS p FROM probe WHERE is_mem = 1
        UNION ALL SELECT p1 FROM probe WHERE is_mem = 1
        UNION ALL SELECT p2 FROM probe WHERE is_mem = 1
    ), words AS MATERIALIZED (
        SELECT CAST(FLOOR(p / {BLOOM_WORD_BITS}.0) AS BIGINT) AS w,
               bit_or(CAST(1 AS BIGINT) << (p % {BLOOM_WORD_BITS})) AS bits
        FROM pos GROUP BY 1
    ), hit AS (
        SELECT pr.c_custkey, pr.is_mem,
               {hits}
        FROM probe pr
        {joins}
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(is_mem) AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN {allhit} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos,
               CAST(SUM(CASE WHEN {allhit} = 1 AND is_mem = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos,
               CAST(SUM(CASE WHEN {allhit} = 0 AND is_mem = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_neg
        FROM hit
    ), wstat AS (
        SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS bits_set FROM words
    )
    SELECT a.n_probes, a.n_members, a.n_bloom_pos, a.n_false_pos, a.n_false_neg,
           {dround('a.n_false_pos * 1.0 / (a.n_probes - a.n_members)', 6)} AS fp_rate,
           ws.bits_set,
           {dround(f'ws.bits_set * 1.0 / {BLOOM_M}', 6)} AS fill_ratio
    FROM agg a CROSS JOIN wstat ws
    """


@register("ext_sketch_bloom", _bloom_oracle())
def ext_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch: build a {BLOOM_M}-bit filter
    (k={BLOOM_K} md5-derived hash functions) over the '{BLOOM_SEG}'
    customer segment, probe EVERY customer against it, and audit the
    result — false-negative count (must be 0: a Bloom filter never
    misses a member), measured false-positive rate, and bitset fill
    ratio. The join-prefilter sketch every scale-out engine ships.

    Determinism: bit positions are md5_32-derived integers; the word
    grid uses {BLOOM_WORD_BITS}-bit words so the BIGINT sign bit is
    never shifted into (DuckDB raises on `1 << 63`, Spark wraps — the
    one semantic divergence in the engines' shift ops, designed out).
    All reported numbers are exact integers or ratios of them.

    Scale shape: the build is one map-side-combined bit_or aggregate
    collapsing members to ≤{BLOOM_WORDS} word rows; the probe is
    {BLOOM_K} broadcast hash joins against that grid — the probe side
    never shuffles, exactly how a 1000-executor join prefilter deploys
    a Bloom filter. At 100 TB the filter grid is still {BLOOM_WORDS}
    rows (size it up by raising BLOOM_WORDS, not by changing shape)."""
    cust = load(spark, sf_dir, "customer")
    probe = cust.select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == BLOOM_SEG, 1).otherwise(0).alias("is_mem"),
        *[
            (
                _spark_md5_32(
                    F.concat(F.lit(f"bl{i}:"), F.col("c_custkey").cast("string"))
                )
                % BLOOM_M
            ).alias(f"p{i}")
            for i in range(BLOOM_K)
        ],
    ).localCheckpoint(eager=False)  # feeds build AND probe sides
    pos = None
    for i in range(BLOOM_K):
        part = probe.filter(F.col("is_mem") == 1).select(F.col(f"p{i}").alias("p"))
        pos = part if pos is None else pos.unionAll(part)
    words = (
        pos.select(
            F.floor(F.col("p") / float(BLOOM_WORD_BITS)).cast("bigint").alias("w"),
            (F.col("p") % BLOOM_WORD_BITS).alias("b"),
        )
        .groupBy("w")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)))")
            .alias("bits")
        )
        .localCheckpoint(eager=False)  # feeds 3 probe joins AND the fill stat
    )
    hit = probe
    for i in range(BLOOM_K):
        wi = words.select(
            F.col("w").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        hit = hit.join(
            F.broadcast(wi),
            F.floor(F.col(f"p{i}") / float(BLOOM_WORD_BITS)).cast("bigint")
            == F.col(f"w{i}"),
            "left",
        )
    for i in range(BLOOM_K):
        hit = hit.withColumn(
            f"h{i}",
            F.coalesce(
                F.expr(
                    f"shiftright(bits{i}, CAST(p{i} % {BLOOM_WORD_BITS} AS INT)) & 1"
                ),
                F.lit(0),
            ).cast("int"),
        )
    allhit = F.col("h0") * F.col("h1") * F.col("h2")
    agg = hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("is_mem").cast("bigint").alias("n_members"),
        F.sum(F.when(allhit == 1, 1).otherwise(0)).cast("bigint").alias("n_bloom_pos"),
        F.sum(F.when((allhit == 1) & (F.col("is_mem") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(F.when((allhit == 0) & (F.col("is_mem") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_neg"),
    )
    wstat = words.agg(F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set"))
    return agg.crossJoin(F.broadcast(wstat)).select(
        "n_probes", "n_members", "n_bloom_pos", "n_false_pos", "n_false_neg",
        F.round(
            F.col("n_false_pos") * F.lit(1.0) / (F.col("n_probes") - F.col("n_members")),
            6,
        ).alias("fp_rate"),
        "bits_set",
        F.round(F.col("bits_set") * F.lit(1.0) / BLOOM_M, 6).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# ext_trend_ols — per-part OLS revenue trend from exact integer moments
# ---------------------------------------------------------------------------

OLS_MIN_MONTHS = 6


@register(
    "ext_trend_ols",
    f"""
    WITH m AS (
        SELECT l_partkey,
               CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1, 2
    ), s AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM m GROUP BY 1
        HAVING COUNT(*) >= {OLS_MIN_MONTHS}
    )
    SELECT l_partkey, n AS n_months,
           {dround('(n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)', 6)}
               AS slope_cents_per_month,
           {dround('(sy - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)) * sx) / n', 6)}
               AS intercept_cents,
           CASE WHEN n * syy - sy * sy = 0 THEN NULL
                ELSE {dround('((n * sxy - sx * sy) * 1.0 * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * 1.0 * ((n * syy - sy * sy) * 1.0))', 6)}
           END AS r2,
           CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
                WHEN n * sxy - sx * sy < 0 THEN 'down'
                ELSE 'flat' END AS trend
    FROM s
    """,
)
def ext_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part OLS revenue trend: regress monthly revenue (exact integer
    cents) on the absolute month index and report slope, intercept, R²
    and an exact-sign trend class for every part with ≥{OLS_MIN_MONTHS}
    active months — the grouped linear-trend fit behind demand planning
    and drift triage, computed as a pure aggregate (no window, no ML
    library).

    Determinism: every regression moment (n, Σx, Σy, Σxx, Σxy, Σyy) is
    an exact BIGINT; slope is a ratio of identical integers and R² is
    assembled from the same integers in identical double expressions.
    Magnitude bound: x ≈ 24e3 (absolute month), y = monthly part cents;
    Σxy stays < 2^63 while per-part monthly revenue < ~4.5e12 cents —
    five orders above the observed data; widen the moments to
    decimal(38,0)/HUGEINT (the ext_ts_rolling_corr recipe) before that.

    Scale shape: two hash aggregates — (part, month) then part — both
    map-side combined; no join, no window, no sort. Output is one row
    per qualifying part."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    m = (
        li.select(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("x"),
            cents.alias("c"),
        )
        .groupBy("l_partkey", "x")
        .agg(F.sum("c").cast("bigint").alias("y"))
    )
    s = (
        m.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        )
        .filter(F.col("n") >= OLS_MIN_MONTHS)
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num * F.lit(1.0) / den
    return s.select(
        "l_partkey",
        F.col("n").alias("n_months"),
        F.round(slope, 6).alias("slope_cents_per_month"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept_cents"),
        F.when(deny == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (num * F.lit(1.0) * num) / (den * F.lit(1.0) * (deny * F.lit(1.0))),
                6,
            )
        )
        .alias("r2"),
        F.when(num > 0, "up").when(num < 0, "down").otherwise("flat").alias("trend"),
    )


# ---------------------------------------------------------------------------
# ext_ts_rolling_corr — rolling Pearson corr over the monthly grid
# ---------------------------------------------------------------------------

CORR_WIN = 6  # months


@register(
    "ext_ts_rolling_corr",
    f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qx,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS qy
        FROM lineitem GROUP BY 1
    ), w AS (
        SELECT month, qx, qy,
               CAST(COUNT(*) OVER win AS HUGEINT) AS n,
               CAST(SUM(qx) OVER win AS HUGEINT) AS sx,
               CAST(SUM(qy) OVER win AS HUGEINT) AS sy,
               SUM(CAST(qx AS HUGEINT) * qx) OVER win AS sxx,
               SUM(CAST(qx AS HUGEINT) * qy) OVER win AS sxy,
               SUM(CAST(qy AS HUGEINT) * qy) OVER win AS syy,
               ROW_NUMBER() OVER (ORDER BY month) AS rn
        FROM m
        WINDOW win AS (ORDER BY month ROWS BETWEEN {CORR_WIN - 1} PRECEDING
                       AND CURRENT ROW)
    )
    SELECT month, qx AS qty_units, qy AS rev_cents,
           {dround('''CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / NULLIF(sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                      * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)), 0)''', 6)}
               AS corr{CORR_WIN}
    FROM w WHERE rn >= {CORR_WIN}
    ORDER BY month
    """,
)
def ext_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {CORR_WIN}-month Pearson correlation between shipped
    quantity and net revenue over the monthly grid — the co-movement
    monitor that flags when volume and revenue decouple (mix shift,
    discount drift). Emitted only for complete windows.

    Determinism: month-level inputs are exact BIGINTs; the second-moment
    window sums are widened to 128-bit (Spark decimal(38,0) sums, DuckDB
    HUGEINT) so cent-total squares cannot wrap at ANY scale factor; the
    128-bit→double step goes through the correctly-rounded VARCHAR path
    on DuckDB (its direct HUGEINT→DOUBLE cast misrounds ~1.7% of values
    above 2^53) against Spark's BigDecimal.doubleValue — bit-identical.
    sqrt(a)·sqrt(b) (not sqrt(a·b)) keeps both operands inside exactly
    convertible range and is the same expression both engines.

    Scale shape: one corpus-sized month aggregate (map-side combined);
    every window runs over the ~#months grid post-aggregation — the
    win_lag_12_global precedent, never a corpus-sized ordered window."""
    li = load(spark, sf_dir, "lineitem")
    m = (
        li.select(
            F.date_trunc("month", F.col("l_shipdate")).alias("month"),
            F.round(F.col("l_quantity")).cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("month")
        .agg(
            F.sum("q").cast("bigint").alias("qx"),
            F.sum("c").cast("bigint").alias("qy"),
        )
    )
    win = Window.orderBy("month").rowsBetween(-(CORR_WIN - 1), 0)
    d38 = "decimal(38,0)"
    w = (
        m.withColumn("n", F.count(F.lit(1)).over(win).cast(d38))
        .withColumn("sx", F.sum("qx").over(win).cast(d38))
        .withColumn("sy", F.sum("qy").over(win).cast(d38))
        .withColumn(
            "sxx", F.sum(F.col("qx").cast(d38) * F.col("qx")).over(win).cast(d38)
        )
        .withColumn(
            "sxy", F.sum(F.col("qx").cast(d38) * F.col("qy")).over(win).cast(d38)
        )
        .withColumn(
            "syy", F.sum(F.col("qy").cast(d38) * F.col("qy")).over(win).cast(d38)
        )
        .withColumn("rn", F.row_number().over(Window.orderBy("month")))
        .filter(F.col("rn") >= CORR_WIN)
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return w.select(
        "month",
        F.col("qx").alias("qty_units"),
        F.col("qy").alias("rev_cents"),
        F.round(
            num / F.nullif(F.sqrt(denx) * F.sqrt(deny), F.lit(0.0)), 6
        ).alias(f"corr{CORR_WIN}"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# ext_chi2_independence — chi-square grid test, integer-nano-unit sum
# ---------------------------------------------------------------------------


@register(
    "ext_chi2_independence",
    f"""
    WITH g AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), t AS MATERIALIZED (
        SELECT seg, pri, obs,
               CAST(SUM(obs) OVER (PARTITION BY seg) AS BIGINT) AS rt,
               CAST(SUM(obs) OVER (PARTITION BY pri) AS BIGINT) AS ct,
               CAST(SUM(obs) OVER () AS BIGINT) AS n
        FROM g
    ), u AS (
        SELECT n,
               CAST(ROUND(
                   (obs - (rt * ct) * 1.0 / n) * (obs - (rt * ct) * 1.0 / n)
                   / ((rt * ct) * 1.0 / n) * 1000000000.0
               ) AS BIGINT) AS units
        FROM t
    ), dims AS (
        SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT pri) AS BIGINT) AS c
        FROM g
    )
    SELECT MAX(u.n) AS n,
           d.r AS n_rows, d.c AS n_cols,
           (d.r - 1) * (d.c - 1) AS dof,
           {dround('SUM(u.units) / 1000000000.0', 6)} AS chi2,
           {dround('''sqrt((SUM(u.units) / 1000000000.0)
                      / (MAX(u.n) * LEAST(d.r - 1, d.c - 1)))''', 6)} AS cramers_v
    FROM u CROSS JOIN dims d
    GROUP BY d.r, d.c
    """,
)
def ext_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market segment
    and order priority: observed-vs-expected over the contingency grid,
    with the statistic, degrees of freedom, and Cramér's V effect size —
    the categorical-association screen run before trusting a segmentation.

    Determinism: observed/row/column/total counts are exact BIGINTs;
    expected counts are ratios of identical integers; each cell's
    (o-e)²/e contribution is frozen to integer NANO-UNITS per cell
    before the grid sum (the ext_drift_psi discipline), so the chi²
    total has no float-summation-order exposure. Cramér's V derives
    from the same summed integer.

    Scale shape: one shuffle (orders⋈customer on custkey, then the
    segment×priority aggregate — map-side combined to a ≤25-cell grid);
    all test math runs on the grid. Marginals use grid-sized windows."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
        .localCheckpoint(eager=False)  # grid feeds marginals AND dims
    )
    t = (
        g.withColumn("rt", F.sum("obs").over(Window.partitionBy("seg")).cast("bigint"))
        .withColumn("ct", F.sum("obs").over(Window.partitionBy("pri")).cast("bigint"))
        .withColumn(
            "n", F.sum("obs").over(Window.partitionBy(F.lit(1))).cast("bigint")
        )
    )
    e = (F.col("rt") * F.col("ct")) * F.lit(1.0) / F.col("n")
    u = t.select(
        "n",
        F.round((F.col("obs") - e) * (F.col("obs") - e) / e * 1000000000.0)
        .cast("bigint")
        .alias("units"),
    )
    dims = g.agg(
        F.countDistinct("seg").cast("bigint").alias("r"),
        F.countDistinct("pri").cast("bigint").alias("c"),
    )
    chi2 = F.sum("units") / 1000000000.0
    return (
        u.crossJoin(F.broadcast(dims))
        .groupBy("r", "c")
        .agg(
            F.max("n").alias("n"),
            chi2.alias("_chi2"),
            F.sqrt(
                (F.sum("units") / 1000000000.0)
                / (F.max("n") * F.least(F.max("r") - 1, F.max("c") - 1))
            ).alias("_cv"),
        )
        .select(
            "n",
            F.col("r").alias("n_rows"),
            F.col("c").alias("n_cols"),
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            F.round(F.col("_chi2"), 6).alias("chi2"),
            F.round(F.col("_cv"), 6).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# ext_eval_calibration — reliability bins + exact-integer Brier score
# ---------------------------------------------------------------------------


@register(
    "ext_eval_calibration",
    f"""
    WITH r AS (
        SELECT CAST(ROUND(l_discount * 1000) AS BIGINT) AS pm,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), b AS (
        SELECT LEAST(CAST(FLOOR(pm / 10.0) AS BIGINT), 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pm) AS BIGINT) AS sum_pm,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM((pm - 1000 * y) * (pm - 1000 * y)) AS BIGINT) AS sum_sq
        FROM r GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(sum_sq) AS BIGINT) AS tsq
        FROM b
    )
    SELECT b.bin, b.n, b.n_pos,
           {dround('b.sum_pm * 1.0 / (1000 * b.n)', 6)} AS mean_pred,
           {dround('b.n_pos * 1.0 / b.n', 6)} AS frac_pos,
           {dround('b.n_pos * 1.0 / b.n - b.sum_pm * 1.0 / (1000 * b.n)', 6)} AS calib_gap,
           {dround('t.tsq * 1.0 / (1000000.0 * t.tn)', 6)} AS brier_overall
    FROM b CROSS JOIN tot t
    ORDER BY b.bin
    """,
)
def ext_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration report: treating the line-item discount as a
    pseudo-probability of return (milli-unit score 0..100) and the
    actual return flag as the label, bin scores into deciles and report
    mean predicted vs observed positive rate per bin (the reliability
    diagram) plus the overall Brier score — the standard probabilistic-
    forecast audit, here exercised end-to-end on deterministic columns.

    Determinism: the score is quantized to integer mills BEFORE any
    math; the per-row squared error (pm - 1000y)² is EXACT integer
    arithmetic in milli-unit² space (≤10^6 per row), so the corpus-sized
    Brier sum is an integer sum — zero float-summation-order exposure.
    All reported doubles are ratios of identical integers, dround(6).

    Scale shape: one map-side-combined 10-bin aggregate; the overall
    Brier total is a broadcast of the 10-row grid's re-aggregate. No
    joins, no windows, no sort beyond the 10-row output."""
    li = load(spark, sf_dir, "lineitem")
    r = li.select(
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("pm"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    sq = (F.col("pm") - 1000 * F.col("y")) * (F.col("pm") - 1000 * F.col("y"))
    b = (
        r.groupBy(
            F.least(F.floor(F.col("pm") / 10.0).cast("bigint"), F.lit(9).cast("bigint"))
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pm").cast("bigint").alias("sum_pm"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(sq).cast("bigint").alias("sum_sq"),
        )
        .localCheckpoint(eager=False)  # feeds bins AND the overall total
    )
    tot = b.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sum_sq").cast("bigint").alias("tsq"),
    )
    mean_pred = F.col("sum_pm") * F.lit(1.0) / (1000 * F.col("n"))
    frac_pos = F.col("n_pos") * F.lit(1.0) / F.col("n")
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bin", "n", "n_pos",
            F.round(mean_pred, 6).alias("mean_pred"),
            F.round(frac_pos, 6).alias("frac_pos"),
            F.round(frac_pos - mean_pred, 6).alias("calib_gap"),
            F.round(F.col("tsq") * F.lit(1.0) / (1000000.0 * F.col("tn")), 6)
            .alias("brier_overall"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# ext_eval_lift — decile lift/gains via two-level value-range ranking
# ---------------------------------------------------------------------------

LIFT_BUCKET_CENTS = 250_000  # spend-range bucket width for the two-level rank


@register(
    "ext_eval_lift",
    f"""
    WITH cs AS (
        SELECT c.c_custkey,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                    AS BIGINT) AS spend,
               CAST(MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                    AS BIGINT) AS resp
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ), rk AS (
        SELECT c_custkey, spend, resp,
               ROW_NUMBER() OVER (ORDER BY spend DESC, c_custkey) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM cs
    ), d AS (
        SELECT CAST(FLOOR((rnk - 1) * 10.0 / n) AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(resp) AS BIGINT) AS n_resp,
               CAST(SUM(spend) AS BIGINT) AS spend_cents
        FROM rk GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(n_cust) AS BIGINT) AS tn, CAST(SUM(n_resp) AS BIGINT) AS tr
        FROM d
    )
    SELECT d.decile, d.n_cust, d.n_resp, d.spend_cents,
           {dround('d.n_resp * 1.0 / d.n_cust', 6)} AS resp_rate,
           {dround('(d.n_resp * 1.0 / d.n_cust) / (t.tr * 1.0 / t.tn)', 6)} AS lift,
           {dround('''SUM(d.n_resp) OVER (ORDER BY d.decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      * 1.0 / t.tr''', 6)} AS cum_gain
    FROM d CROSS JOIN t
    ORDER BY d.decile
    """,
)
def ext_eval_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains chart: rank customers by lifetime spend (exact
    integer cents), split into ranked deciles, and report per-decile
    response rate (placed ≥1 urgent order), lift vs the base rate, and
    cumulative gains — the targeting-model report card.

    Determinism: the ranking is a total order (spend DESC, custkey);
    deciles come from FLOOR((rank-1)·10/n) on exact integers; every
    reported double is a ratio of identical integers, dround(6).

    Scale shape: the global rank is TWO-LEVEL — spend-range buckets
    ({LIFT_BUCKET_CENTS}-cent width) get a partitioned local
    row_number, bucket subtotals (a ~hundreds-row grid) get the ordered
    offset scan, and broadcast offsets join back (the ext_text_pack
    prefix-sum shape; descending bucket order IS descending spend order
    because buckets are value ranges). The only single-partition window
    runs over the bucket grid and the 10-row decile grid — never the
    customer corpus. The oracle's plain ROW_NUMBER is the semantic spec;
    the Spark plan is the 1000-executor shape."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cs = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("spend"),
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("resp"),
        )
        .withColumn(
            "bucket", F.floor(F.col("spend") / float(LIFT_BUCKET_CENTS)).cast("bigint")
        )
        .localCheckpoint(eager=False)  # feeds local ranks AND bucket subtotals
    )
    w_local = Window.partitionBy("bucket").orderBy(F.desc("spend"), "c_custkey")
    local = cs.withColumn("lrk", F.row_number().over(w_local))
    subtot = cs.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_bucket = Window.orderBy(F.desc("bucket"))
    offsets = subtot.withColumn(
        "offset", (F.sum("cnt").over(w_bucket) - F.col("cnt")).cast("bigint")
    ).select("bucket", "offset")
    n_tot = cs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rk = (
        local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("rnk", (F.col("offset") + F.col("lrk")).cast("bigint"))
    )
    d = (
        rk.groupBy(
            F.floor((F.col("rnk") - 1) * 10.0 / F.col("n")).cast("bigint")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum("resp").cast("bigint").alias("n_resp"),
            F.sum("spend").cast("bigint").alias("spend_cents"),
        )
        .localCheckpoint(eager=False)  # feeds deciles AND totals
    )
    t = d.agg(
        F.sum("n_cust").cast("bigint").alias("tn"),
        F.sum("n_resp").cast("bigint").alias("tr"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.col("n_resp") * F.lit(1.0) / F.col("n_cust")
    return (
        d.crossJoin(F.broadcast(t))
        .withColumn("cum_resp", F.sum("n_resp").over(w_cum).cast("bigint"))
        .select(
            "decile", "n_cust", "n_resp", "spend_cents",
            F.round(rate, 6).alias("resp_rate"),
            F.round(rate / (F.col("tr") * F.lit(1.0) / F.col("tn")), 6).alias("lift"),
            F.round(F.col("cum_resp") * F.lit(1.0) / F.col("tr"), 6).alias("cum_gain"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# ext_eval_threshold_sweep — F1-optimal decision threshold from suffix sums
# ---------------------------------------------------------------------------


@register(
    "ext_eval_threshold_sweep",
    f"""
    WITH r AS (
        SELECT CAST(ROUND(l_discount * 1000) AS BIGINT) AS pm,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), g AS (
        SELECT pm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM r GROUP BY 1
    ), s AS (
        SELECT pm,
               CAST(SUM(pos) OVER (ORDER BY pm DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
               CAST(SUM(n) OVER (ORDER BY pm DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp,
               CAST(SUM(pos) OVER () AS BIGINT) AS p
        FROM g
    ), f AS (
        SELECT pm AS threshold_mills, tp, pp - tp AS fp, p - tp AS fn,
               CAST(ROUND(2.0 * tp * 1000000000.0 / (pp + p)) AS BIGINT) AS f1_units,
               pp, p
        FROM s
    )
    SELECT threshold_mills, tp, fp, fn,
           {dround('tp * 1.0 / pp', 6)} AS precision_,
           {dround('tp * 1.0 / p', 6)} AS recall_,
           {dround('f1_units / 1000000000.0', 6)} AS f1,
           CASE WHEN ROW_NUMBER() OVER (ORDER BY f1_units DESC, threshold_mills)
                = 1 THEN 1 ELSE 0 END AS is_best
    FROM f
    ORDER BY threshold_mills
    """,
)
def ext_eval_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold sweep: for every observed score threshold
    (the milli-unit pseudo-probability of ext_eval_calibration), the
    confusion counts if we predict positive at score >= threshold, plus
    precision/recall/F1 and a flag on the F1-optimal threshold — the
    operating-point report that turns a scored corpus into a classifier.

    Determinism: per-score counts are exact; TP/PP at each threshold are
    suffix sums over the <=101-row score grid; F1 = 2TP/(PP+P) is frozen
    to integer nano-units per row before the argmax ranking, so the
    is_best row is the same on both engines (tiebreak: lowest threshold).

    Scale shape: one map-side-combined score-grid aggregate; every
    window (suffix sums, argmax rank) runs over the bounded score grid —
    never the corpus."""
    li = load(spark, sf_dir, "lineitem")
    r = li.select(
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("pm"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = r.groupBy("pm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w_sfx = Window.orderBy(F.desc("pm")).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    s = (
        g.withColumn("tp", F.sum("pos").over(w_sfx).cast("bigint"))
        .withColumn("pp", F.sum("n").over(w_sfx).cast("bigint"))
        .withColumn("p", F.sum("pos").over(w_all).cast("bigint"))
    )
    f = s.select(
        F.col("pm").alias("threshold_mills"),
        "tp",
        (F.col("pp") - F.col("tp")).alias("fp"),
        (F.col("p") - F.col("tp")).alias("fn"),
        F.round(2.0 * F.col("tp") * 1000000000.0 / (F.col("pp") + F.col("p")))
        .cast("bigint")
        .alias("f1_units"),
        "pp", "p",
    )
    w_best = Window.orderBy(F.desc("f1_units"), "threshold_mills")
    return f.select(
        "threshold_mills", "tp", "fp", "fn",
        F.round(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fp")), 6)
        .alias("precision_"),
        F.round(F.col("tp") * F.lit(1.0) / F.col("p"), 6).alias("recall_"),
        F.round(F.col("f1_units") / 1000000000.0, 6).alias("f1"),
        F.when(F.row_number().over(w_best) == 1, 1).otherwise(0).alias("is_best"),
    ).orderBy("threshold_mills")


# ---------------------------------------------------------------------------
# ext_weighted_quantiles — dollar-weighted order-value quantiles
# ---------------------------------------------------------------------------

WQ_TWENTIETHS = [2, 5, 10, 15, 18]  # q = k/20
WQ_BUCKET_CENTS = 1_000_000  # value-range bucket width for the two-level scan


def _wq_oracle() -> str:
    ks = ", ".join(f"({k})" for k in WQ_TWENTIETHS)
    return f"""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS val,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS w
        FROM orders GROUP BY 1
    ), c AS MATERIALIZED (
        SELECT val, w,
               CAST(SUM(w) OVER (ORDER BY val
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(SUM(w) OVER () AS BIGINT) AS tot
        FROM v
    ), q AS (SELECT k FROM (VALUES {ks}) t(k))
    SELECT CAST(q.k AS BIGINT) AS q_twentieths,
           {dround('q.k / 20.0', 6)} AS q,
           c.val AS value_cents, c.cum AS cum_weight_cents, c.tot AS total_weight_cents
    FROM q JOIN c
      ON c.cum >= CAST(FLOOR((q.k * c.tot + 19) / 20.0) AS BIGINT)
     AND c.cum - c.w < CAST(FLOOR((q.k * c.tot + 19) / 20.0) AS BIGINT)
    ORDER BY q_twentieths
    """


@register("ext_weighted_quantiles", _wq_oracle())
def ext_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantiles: the order value at which 10/25/50/75/90% of
    total DOLLARS sit at-or-below — the dollar-weighted distribution
    (`where does the median dollar live`), not the order-count one.
    Weight = the order's own value in exact integer cents.

    Determinism: the quantile is an exact order statistic — smallest
    value whose cumulative weight reaches ceil(q*W), all integers; no
    interpolation (sidesteps the Spark/DuckDB percentile-interpolation
    divergence entirely).

    Scale shape: the value-grid cumulative weight is TWO-LEVEL
    (ext_text_pack shape): {WQ_BUCKET_CENTS}-cent value-range buckets
    get partitioned local prefix sums, the bucket-subtotal grid gets the
    only ordered scan, broadcast offsets join back. Threshold selection
    is a broadcast nested-loop band join against the 5-row quantile
    grid. The oracle's single cumulative window is the semantic spec;
    the Spark plan is the 1000-executor shape."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    v = (
        o.select(cents.alias("val"))
        .groupBy("val")
        .agg(F.sum("val").cast("bigint").alias("w"))
        .withColumn(
            "bucket", F.floor(F.col("val") / float(WQ_BUCKET_CENTS)).cast("bigint")
        )
        .localCheckpoint(eager=False)  # feeds local scans AND bucket subtotals
    )
    w_local = Window.partitionBy("bucket").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = v.withColumn("local_cum", F.sum("w").over(w_local).cast("bigint"))
    subtot = v.groupBy("bucket").agg(F.sum("w").cast("bigint").alias("bt"))
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    offsets = subtot.withColumn(
        "offset", (F.sum("bt").over(w_bucket) - F.col("bt")).cast("bigint")
    ).select("bucket", "offset")
    tot = v.agg(F.sum("w").cast("bigint").alias("tot"))
    c = (
        local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(tot))
        .withColumn("cum", (F.col("offset") + F.col("local_cum")).cast("bigint"))
    )
    q = spark.createDataFrame([(k,) for k in WQ_TWENTIETHS], ["k"])
    thr = F.floor((F.col("k") * F.col("tot") + 19) / 20.0).cast("bigint")
    return (
        c.join(
            F.broadcast(q),
            (F.col("cum") >= thr) & (F.col("cum") - F.col("w") < thr),
        )
        .select(
            F.col("k").cast("bigint").alias("q_twentieths"),
            F.round(F.col("k") / 20.0, 6).alias("q"),
            F.col("val").alias("value_cents"),
            F.col("cum").alias("cum_weight_cents"),
            F.col("tot").alias("total_weight_cents"),
        )
        .orderBy("q_twentieths")
    )


# ---------------------------------------------------------------------------
# ext_linkage_patterns — blocked record-linkage agreement-pattern profile
# ---------------------------------------------------------------------------


@register(
    "ext_linkage_patterns",
    f"""
    WITH pairs AS MATERIALIZED (
        SELECT CASE WHEN CAST(FLOOR(a.c_acctbal / 1000.0) AS BIGINT)
                       = CAST(FLOOR(b.c_acctbal / 1000.0) AS BIGINT)
                    THEN 1 ELSE 0 END AS a_bucket,
               CASE WHEN (a.c_acctbal >= 0) = (b.c_acctbal >= 0)
                    THEN 1 ELSE 0 END AS a_sign,
               CASE WHEN ABS(a.c_acctbal - b.c_acctbal) < 500.0
                    THEN 1 ELSE 0 END AS a_close
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
    ), g AS MATERIALIZED (
        SELECT 4 * a_bucket + 2 * a_sign + a_close AS pattern,
               a_bucket, a_sign, a_close,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1, 2, 3, 4
    ), m AS (
        SELECT CAST(SUM(n_pairs) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN a_bucket = 1 THEN n_pairs ELSE 0 END) AS BIGINT) AS mb,
               CAST(SUM(CASE WHEN a_sign = 1 THEN n_pairs ELSE 0 END) AS BIGINT) AS ms,
               CAST(SUM(CASE WHEN a_close = 1 THEN n_pairs ELSE 0 END) AS BIGINT) AS mc
        FROM g
    ), e AS (
        SELECT g.pattern, g.n_pairs, m.d,
               g.n_pairs * 1.0 / m.d AS frac,
               (CASE WHEN g.a_bucket = 1 THEN m.mb * 1.0 / m.d
                     ELSE 1.0 - m.mb * 1.0 / m.d END)
             * (CASE WHEN g.a_sign = 1 THEN m.ms * 1.0 / m.d
                     ELSE 1.0 - m.ms * 1.0 / m.d END)
             * (CASE WHEN g.a_close = 1 THEN m.mc * 1.0 / m.d
                     ELSE 1.0 - m.mc * 1.0 / m.d END) AS expected
        FROM g CROSS JOIN m
    )
    SELECT pattern, n_pairs,
           {dround('frac', 6)} AS frac,
           {dround('expected', 6)} AS expected_frac,
           {dround('frac / NULLIF(expected, 0)', 6)} AS obs_exp_ratio,
           {dround('ln(frac / NULLIF(expected, 0))', 6)} AS fs_weight
    FROM e
    ORDER BY pattern
    """,
)
def ext_linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage agreement-pattern profile (the Fellegi-Sunter
    evidence table): block candidate customer pairs on (nation,
    segment), evaluate three agreement fields on the balance (same
    thousand-bucket, same sign, within-500 closeness), and report each
    pattern's observed frequency against its expectation under
    independent field agreement, plus the log-odds weight — the table a
    linkage engine thresholds to call matches.

    Determinism: pair and marginal counts are exact integers; observed
    and expected fractions are ratios/products of identical integers;
    the single ln per 8-row grid applies to identical doubles (the
    mixture-temperature parity class), dround(6).

    Scale shape: candidate generation is BLOCKED — the self-join runs
    on (nation, segment) equi-keys, so pair cost is sum of block-size
    squares, never corpus². At 100 TB, refine the block key (add the
    balance thousand-bucket) to hold block sizes flat; the pattern grid
    is 8 rows regardless of corpus."""
    c = load(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("ak"),
        F.col("c_nationkey").alias("an"),
        F.col("c_mktsegment").alias("asg"),
        F.col("c_acctbal").alias("ab"),
    )
    b = c.select(
        F.col("c_custkey").alias("bk"),
        F.col("c_nationkey").alias("bn"),
        F.col("c_mktsegment").alias("bsg"),
        F.col("c_acctbal").alias("bb"),
    )
    pairs = a.join(
        b,
        (F.col("an") == F.col("bn"))
        & (F.col("asg") == F.col("bsg"))
        & (F.col("ak") < F.col("bk")),
    ).select(
        F.when(
            F.floor(F.col("ab") / 1000.0).cast("bigint")
            == F.floor(F.col("bb") / 1000.0).cast("bigint"),
            1,
        )
        .otherwise(0)
        .alias("a_bucket"),
        F.when((F.col("ab") >= 0) == (F.col("bb") >= 0), 1).otherwise(0)
        .alias("a_sign"),
        F.when(F.abs(F.col("ab") - F.col("bb")) < 500.0, 1).otherwise(0)
        .alias("a_close"),
    )
    g = (
        pairs.groupBy("a_bucket", "a_sign", "a_close")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn(
            "pattern",
            (4 * F.col("a_bucket") + 2 * F.col("a_sign") + F.col("a_close")),
        )
        .localCheckpoint(eager=False)  # 8-row grid feeds marginals AND output
    )
    m = g.agg(
        F.sum("n_pairs").cast("bigint").alias("d"),
        F.sum(F.when(F.col("a_bucket") == 1, F.col("n_pairs")).otherwise(0))
        .cast("bigint")
        .alias("mb"),
        F.sum(F.when(F.col("a_sign") == 1, F.col("n_pairs")).otherwise(0))
        .cast("bigint")
        .alias("ms"),
        F.sum(F.when(F.col("a_close") == 1, F.col("n_pairs")).otherwise(0))
        .cast("bigint")
        .alias("mc"),
    )
    e = g.crossJoin(F.broadcast(m))
    frac = F.col("n_pairs") * F.lit(1.0) / F.col("d")
    rb = F.col("mb") * F.lit(1.0) / F.col("d")
    rs = F.col("ms") * F.lit(1.0) / F.col("d")
    rc = F.col("mc") * F.lit(1.0) / F.col("d")
    expected = (
        F.when(F.col("a_bucket") == 1, rb).otherwise(1.0 - rb)
        * F.when(F.col("a_sign") == 1, rs).otherwise(1.0 - rs)
        * F.when(F.col("a_close") == 1, rc).otherwise(1.0 - rc)
    )
    ratio = frac / F.nullif(expected, F.lit(0.0))
    return e.select(
        "pattern", "n_pairs",
        F.round(frac, 6).alias("frac"),
        F.round(expected, 6).alias("expected_frac"),
        F.round(ratio, 6).alias("obs_exp_ratio"),
        F.round(F.log(ratio), 6).alias("fs_weight"),
    ).orderBy("pattern")


# ---------------------------------------------------------------------------
# ext_price_elasticity — log-log demand slope per brand, 128-bit moments
# ---------------------------------------------------------------------------

ELAST_MIN_POINTS = 8


@register(
    "ext_price_elasticity",
    f"""
    WITH pp AS (
        SELECT p.p_brand AS brand,
               CAST(ROUND(l.l_extendedprice / l.l_quantity * 100) AS BIGINT) AS up_cents,
               CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ), xy AS (
        SELECT brand,
               CAST(ROUND(ln(up_cents * 1.0) * 1000000000.0) AS BIGINT) AS xu,
               CAST(ROUND(ln(qty * 1.0) * 1000000000.0) AS BIGINT) AS yu
        FROM pp
    ), s AS (
        SELECT brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xu) AS BIGINT) AS sx,
               CAST(SUM(yu) AS BIGINT) AS sy,
               SUM(CAST(xu AS HUGEINT) * xu) AS sxx,
               SUM(CAST(xu AS HUGEINT) * yu) AS sxy,
               SUM(CAST(yu AS HUGEINT) * yu) AS syy
        FROM xy GROUP BY 1
        HAVING COUNT(*) >= {ELAST_MIN_POINTS}
    )
    SELECT brand, n AS n_price_points,
           {dround('''CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                          AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                          AS VARCHAR) AS DOUBLE)''', 6)} AS elasticity,
           CASE WHEN CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
                ELSE {dround('''(CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                          AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                          AS VARCHAR) AS DOUBLE))
                    / (CAST(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                          AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                          AS VARCHAR) AS DOUBLE))''', 6)}
           END AS r2
    FROM s
    ORDER BY brand
    """,
)
def ext_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand: the OLS slope of ln(total
    quantity sold) on ln(unit price) across a brand's observed price
    points — the log-log regression whose slope IS the elasticity, plus
    fit R². Brands need >={ELAST_MIN_POINTS} distinct price points.

    Determinism: unit price is quantized to integer cents; both logs
    apply to exact-integer-valued doubles and are frozen to integer
    NANO-units per row/point BEFORE summation (the ext_drift_psi ln
    discipline); second moments are 128-bit (HUGEINT / decimal(38,0))
    since nano-ln squares reach ~6e20 per term; the 128-bit->double
    step uses DuckDB's correctly-rounded VARCHAR path; R² is assembled
    from those identical doubles (num² would overflow 128-bit).

    Scale shape: one lineitem⋈part equi-join (at 100 TB: broadcast part
    or co-partition on partkey), one (brand, price) aggregate, one
    brand aggregate — all map-side combined; no windows, no sort beyond
    the ~25-row output."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    pp = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
            .cast("bigint")
            .alias("up_cents"),
            F.round(F.col("l_quantity")).cast("bigint").alias("q"),
        )
        .groupBy("brand", "up_cents")
        .agg(F.sum("q").cast("bigint").alias("qty"))
    )
    xy = pp.select(
        "brand",
        F.round(F.log(F.col("up_cents") * F.lit(1.0)) * 1000000000.0)
        .cast("bigint")
        .alias("xu"),
        F.round(F.log(F.col("qty") * F.lit(1.0)) * 1000000000.0)
        .cast("bigint")
        .alias("yu"),
    )
    d38 = "decimal(38,0)"
    s = (
        xy.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xu").cast("bigint").alias("sx"),
            F.sum("yu").cast("bigint").alias("sy"),
            F.sum(F.col("xu").cast(d38) * F.col("xu")).alias("sxx"),
            F.sum(F.col("xu").cast(d38) * F.col("yu")).alias("sxy"),
            F.sum(F.col("yu").cast(d38) * F.col("yu")).alias("syy"),
        )
        .filter(F.col("n") >= ELAST_MIN_POINTS)
    )
    num = (
        F.col("n").cast(d38) * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")
    ).cast("double")
    den = (
        F.col("n").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")
    ).cast("double")
    deny_i = F.col("n").cast(d38) * F.col("syy") - F.col("sy").cast(d38) * F.col("sy")
    return s.select(
        "brand",
        F.col("n").alias("n_price_points"),
        F.round(num / den, 6).alias("elasticity"),
        F.when(deny_i == 0, F.lit(None).cast("double"))
        .otherwise(F.round((num * num) / (den * deny_i.cast("double")), 6))
        .alias("r2"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# ext_ses_forecast — dyadic-exact exponential smoothing over the month grid
# ---------------------------------------------------------------------------

SES_L = 40  # truncation depth: terms below 2^-40 (~1e-4 cents) are dropped


@register(
    "ext_ses_forecast",
    f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ), r AS MATERIALIZED (
        SELECT month, y, ROW_NUMBER() OVER (ORDER BY month) AS rn FROM m
    ), terms AS (
        SELECT t.rn AS trn, t.month, t.y,
               j.y AS yj,
               CASE WHEN j.rn = 1 THEN t.rn - 1 ELSE t.rn - j.rn + 1 END AS e
        FROM (SELECT r.*, unnest(generate_series(0, {SES_L - 1})) AS off FROM r) t
        JOIN r j ON j.rn = t.rn - t.off
    ), s AS (
        SELECT trn, month, y,
               SUM(CAST(yj AS HUGEINT)
                   * (CAST(1 AS BIGINT) << ({SES_L} - e))) AS su
        FROM terms GROUP BY 1, 2, 3
    )
    SELECT month, y AS rev_cents,
           {dround(f'CAST(CAST(su AS VARCHAR) AS DOUBLE) / {float(2 ** SES_L)}', 6)}
               AS ses_cents
    FROM s
    ORDER BY month
    """,
)
def ext_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (alpha = 1/2) of monthly revenue — the
    one-step-ahead forecast s_t = (y_t + s_(t-1))/2, i.e. each month's
    smoothed level doubles as next month's forecast. Truncated at
    {SES_L} terms: dropped contributions are below 2^-{SES_L} cents.

    Determinism: alpha = 1/2 makes every smoothing weight a POWER OF
    TWO, so each term y_j * 2^-(k) is an exact dyadic rational — the
    whole smoothed value is computed on a 2^{SES_L} integer lattice
    (HUGEINT / decimal(38,0)), and the final division by 2^{SES_L} is
    exact double scaling. No float summation anywhere; the one
    128-bit->double step uses the correctly-rounded VARCHAR path.

    Scale shape: one corpus-sized month collapse; the term fan-out is
    an {SES_L}-way sequence explode on the ~#months grid joined back
    EQUI on row number (no band join); all windows grid-sized."""
    li = load(spark, sf_dir, "lineitem")
    m = (
        li.select(
            F.date_trunc("month", F.col("l_shipdate")).alias("month"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("y"),
        )
        .groupBy("month")
        .agg(F.sum("y").cast("bigint").alias("y"))
    )
    r = m.withColumn("rn", F.row_number().over(Window.orderBy("month"))).localCheckpoint(
        eager=False
    )  # grid feeds both sides of the lag join
    t = r.withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(SES_L - 1)))).select(
        F.col("rn").alias("trn"), "month", "y", (F.col("rn") - F.col("off")).alias("jrn")
    )
    j = r.select(F.col("rn").alias("jrn"), F.col("y").alias("yj"))
    e = F.when(F.col("jrn") == 1, F.col("trn") - 1).otherwise(
        F.col("trn") - F.col("jrn") + 1
    )
    terms = t.join(F.broadcast(j), "jrn").withColumn("e", e)
    s = terms.groupBy("trn", "month", "y").agg(
        F.sum(
            F.col("yj").cast("decimal(38,0)")
            * F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({SES_L} - e AS INT))")
        ).alias("su")
    )
    return s.select(
        "month",
        F.col("y").alias("rev_cents"),
        F.round(F.col("su").cast("double") / float(2 ** SES_L), 6).alias("ses_cents"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# ext_gini_feature_importance — decision-stump split gains per feature
# ---------------------------------------------------------------------------


@register(
    "ext_gini_feature_importance",
    f"""
    WITH r AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CAST(CAST(FLOOR(ROUND(l_discount * 1000) / 10.0) AS BIGINT)
                    AS VARCHAR) AS f_discount,
               CAST(CAST(FLOOR(ROUND(l_quantity) / 10.0) AS BIGINT)
                    AS VARCHAR) AS f_quantity,
               CAST(month(l_shipdate) AS VARCHAR) AS f_month,
               l_linestatus AS f_status
        FROM lineitem
    ), x AS (
        SELECT y, 'discount' AS feature, f_discount AS val FROM r
        UNION ALL SELECT y, 'quantity', f_quantity FROM r
        UNION ALL SELECT y, 'month', f_month FROM r
        UNION ALL SELECT y, 'status', f_status FROM r
    ), g AS (
        SELECT feature, val,
               CAST(COUNT(*) AS BIGINT) AS nv,
               CAST(SUM(y) AS BIGINT) AS pv
        FROM x GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p FROM r
    ), u AS (
        SELECT g.feature,
               CAST(ROUND((g.nv * 1000000000.0 / t.n)
                    * (1.0 - (g.pv * g.pv + (g.nv - g.pv) * (g.nv - g.pv)) * 1.0
                       / (g.nv * g.nv))) AS BIGINT) AS units,
               CAST(ROUND((1.0 - (t.p * t.p + (t.n - t.p) * (t.n - t.p)) * 1.0
                    / (t.n * t.n)) * 1000000000.0) AS BIGINT) AS parent_units
        FROM g CROSS JOIN tot t
    ), f AS (
        SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(SUM(units) AS BIGINT) AS gu,
               MAX(parent_units) AS pu
        FROM u GROUP BY 1
    )
    SELECT feature, n_values,
           {dround('pu / 1000000000.0', 6)} AS parent_impurity,
           {dround('gu / 1000000000.0', 6)} AS weighted_impurity,
           {dround('(pu - gu) / 1000000000.0', 6)} AS gini_gain,
           CAST(ROW_NUMBER() OVER (ORDER BY pu - gu DESC, feature) AS BIGINT) AS rk
    FROM f
    ORDER BY rk
    """,
)
def ext_gini_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature screen: for four candidate features
    (discount decile, quantity bucket, ship month, line status), the
    Gini impurity reduction a one-level split on that feature achieves
    predicting the return flag — the split-gain ranking a tree learner
    computes at its root, as a pure relational aggregate.

    Determinism: all class counts are exact BIGINTs; each value's
    weighted-impurity contribution is frozen to integer nano-units
    (identical double expression from identical integers) before the
    per-feature sum; the ranking compares those exact integers with a
    feature-name tiebreak.

    Scale shape: one 4-way per-row explode (union in the oracle) into a
    map-side-combined (feature, value) aggregate — grids are 2..31
    rows; parent stats broadcast back. No windows beyond the 4-row
    ranking."""
    li = load(spark, sf_dir, "lineitem")
    r = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.floor(F.round(F.col("l_discount") * 1000) / 10.0)
        .cast("bigint")
        .cast("string")
        .alias("f_discount"),
        F.floor(F.round(F.col("l_quantity")) / 10.0)
        .cast("bigint")
        .cast("string")
        .alias("f_quantity"),
        F.month("l_shipdate").cast("string").alias("f_month"),
        F.col("l_linestatus").alias("f_status"),
    )
    x = r.select(
        "y",
        F.explode(
            F.array(
                F.struct(
                    F.lit("discount").alias("feature"), F.col("f_discount").alias("val")
                ),
                F.struct(F.lit("quantity").alias("feature"), F.col("f_quantity").alias("val")),
                F.struct(F.lit("month").alias("feature"), F.col("f_month").alias("val")),
                F.struct(F.lit("status").alias("feature"), F.col("f_status").alias("val")),
            )
        ).alias("fv"),
    ).select("y", F.col("fv.feature").alias("feature"), F.col("fv.val").alias("val"))
    g = x.groupBy("feature", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv"),
        F.sum("y").cast("bigint").alias("pv"),
    )
    tot = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
    )
    nv, pv = F.col("nv"), F.col("pv")
    n, p = F.col("n"), F.col("p")
    u = g.crossJoin(F.broadcast(tot)).select(
        "feature",
        F.round(
            (nv * 1000000000.0 / n)
            * (1.0 - (pv * pv + (nv - pv) * (nv - pv)) * F.lit(1.0) / (nv * nv))
        )
        .cast("bigint")
        .alias("units"),
        F.round(
            (1.0 - (p * p + (n - p) * (n - p)) * F.lit(1.0) / (n * n)) * 1000000000.0
        )
        .cast("bigint")
        .alias("parent_units"),
    )
    f = u.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum("units").cast("bigint").alias("gu"),
        F.max("parent_units").alias("pu"),
    )
    w_rk = Window.orderBy((F.col("pu") - F.col("gu")).desc(), "feature")
    return f.select(
        "feature", "n_values",
        F.round(F.col("pu") / 1000000000.0, 6).alias("parent_impurity"),
        F.round(F.col("gu") / 1000000000.0, 6).alias("weighted_impurity"),
        F.round((F.col("pu") - F.col("gu")) / 1000000000.0, 6).alias("gini_gain"),
        F.row_number().over(w_rk).cast("bigint").alias("rk"),
    ).orderBy("rk")


# ---------------------------------------------------------------------------
# ext_chi2_gof — day-of-week goodness-of-fit (sample-ratio-mismatch check)
# ---------------------------------------------------------------------------

GOF_CRIT_95_DOF6 = 12.591587243743977  # chi2 95th percentile, 6 dof (inlined)


@register(
    "ext_chi2_gof",
    f"""
    WITH d AS (
        SELECT ((CAST(o_orderdate AS DATE) - DATE '1995-01-02') % 7 + 7) % 7 AS dow
        FROM orders
    ), g AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS obs FROM d GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(obs) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS cells
        FROM g
    ), u AS (
        SELECT t.n, t.cells,
               CAST(ROUND((g.obs - t.n / 7.0) * (g.obs - t.n / 7.0)
                    / (t.n / 7.0) * 1000000000.0) AS BIGINT) AS units,
               ABS(g.obs - t.n / 7.0) / t.n AS dev_share
        FROM g CROSS JOIN t
    )
    SELECT MAX(n) AS n, MAX(cells) AS n_cells, CAST(6 AS BIGINT) AS dof,
           {dround('SUM(units) / 1000000000.0', 6)} AS chi2,
           {dround('MAX(dev_share)', 6)} AS max_dev_share,
           CASE WHEN SUM(units) / 1000000000.0 > {GOF_CRIT_95_DOF6!r}
                THEN 1 ELSE 0 END AS is_suspect
    FROM u
    """,
)
def ext_chi2_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of order day-of-week against a uniform
    split — the sample-ratio-mismatch (SRM) check every experimentation
    platform runs before trusting an assignment: observed per-bucket
    counts vs the expected equal share, the chi² statistic against the
    95% critical value (6 dof, constant inlined identically in both
    engines), and the worst single-bucket deviation share.

    Determinism: day-of-week comes from integer date arithmetic against
    an anchor Monday (sign-safe double-mod — DuckDB's % is signed,
    Spark's pmod is not); per-cell contributions are frozen to integer
    nano-units before the 7-row sum (ext_drift_psi discipline).

    Scale shape: one map-side-combined 7-row aggregate; all test math
    on the 7-row grid."""
    o = load(spark, sf_dir, "orders")
    d = o.select(
        F.pmod(
            F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-02").cast("date")),
            F.lit(7),
        ).alias("dow")
    )
    g = d.groupBy("dow").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    t = g.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("cells"),
    )
    e = F.col("n") / 7.0
    u = g.crossJoin(F.broadcast(t)).select(
        "n", "cells",
        F.round((F.col("obs") - e) * (F.col("obs") - e) / e * 1000000000.0)
        .cast("bigint")
        .alias("units"),
        (F.abs(F.col("obs") - e) / F.col("n")).alias("dev_share"),
    )
    chi2 = F.sum("units") / 1000000000.0
    return u.agg(
        F.max("n").alias("n"),
        F.max("cells").alias("n_cells"),
        F.lit(6).cast("bigint").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.max("dev_share"), 6).alias("max_dev_share"),
        F.when(chi2 > GOF_CRIT_95_DOF6, 1).otherwise(0).alias("is_suspect"),
    )


# ---------------------------------------------------------------------------
# ext_text_rake — RAKE keyphrase extraction (degree/frequency scoring)
# ---------------------------------------------------------------------------

RAKE_STOPS = ("the", "a")
RAKE_TOPK = 25
RAKE_SALTS = 32


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in RAKE_STOPS)
    return f"""
    WITH toks AS (
        SELECT doc_id, l, unnest(generate_series(1, len(l))) AS pos
        FROM (SELECT doc_id, {{toks_sql}} AS l FROM documents) t
    ), tk AS (
        SELECT doc_id, pos, l[pos] AS tok,
               CASE WHEN l[pos] IN ({stops}) THEN 1 ELSE 0 END AS st
        FROM toks
    ), pid AS MATERIALIZED (
        SELECT doc_id, pos, tok, st,
               SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        FROM tk
    ), words AS MATERIALIZED (
        SELECT doc_id, pid, pos, tok,
               CAST(COUNT(*) OVER (PARTITION BY doc_id, pid) AS BIGINT) AS plen
        FROM pid WHERE st = 0
    ), ws AS MATERIALIZED (
        SELECT tok,
               CAST(ROUND(SUM(plen) * 1000000000.0 / COUNT(*)) AS BIGINT) AS units
        FROM words GROUP BY 1
    ), ph AS MATERIALIZED (
        SELECT w.doc_id, w.pid,
               string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen,
               CAST(SUM(ws.units) AS BIGINT) AS units
        FROM words w JOIN ws ON ws.tok = w.tok
        GROUP BY 1, 2
    ), pg AS (
        SELECT phrase, MAX(plen) AS phrase_len,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               MAX(units) AS units
        FROM ph GROUP BY 1
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY units DESC, phrase) AS BIGINT) AS rk,
           phrase, phrase_len, n_occurrences,
           {dround('units / 1000000000.0', 6)} AS rake_score
    FROM pg
    ORDER BY units DESC, phrase
    LIMIT {RAKE_TOPK}
    """


@register("ext_text_rake", None)  # oracle attached below (needs _TOKS_SQL)
def ext_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: phrases are maximal stopword-free runs
    ({'/'.join(RAKE_STOPS)} as delimiters); each word scores
    degree/frequency (degree = summed length of phrases containing it),
    a phrase scores the sum of its word scores, and the global
    top-{RAKE_TOPK} phrases are reported — the classic unsupervised
    keyword extractor, fully relational.

    Determinism: word scores are frozen to integer nano-units (ratio of
    exact integers) so phrase scores are integer sums; the top-k order
    is (score, phrase) total order; phrases are built in token order by
    construction (sentinel split preserves the array order — no
    collect_list nondeterminism anywhere).

    Scale shape: phrases are built INSIDE the row — stop tokens become
    a \\x00 sentinel, the token array re-joins, and one split yields
    the maximal stopword-free runs — so the token stream is never
    exploded into a doc-partitioned window shuffle (the pre-r7 shape
    paid a full-corpus doc-keyed shuffle plus a collect_list rebuild).
    The first shuffle is already the distinct-PHRASE grid (map-side
    combined count); word stats aggregate over that bounded grid
    weighted by occurrence counts and broadcast back; the global top-k
    is two-level ({RAKE_SALTS} hash groups keep local top-{RAKE_TOPK},
    then one bounded final sort — the vocab_coverage discipline)."""
    from ..ext import text as tx

    docs = load(spark, sf_dir, "documents")
    # stop tokens -> sentinel, re-join, split on sentinel: each segment is
    # a maximal stopword-free run; trim strips the join spaces around the
    # sentinel and empty segments (adjacent stops / leading / trailing)
    # are filtered out. Pure array/string expressions — whole-stage
    # codegen, zero shuffle until the phrase-keyed count below.
    marked = F.transform(
        tx.tokens(F.col("text")),
        lambda t: F.when(t.isin(*RAKE_STOPS), F.lit("\x00")).otherwise(t),
    )
    phrases = F.filter(
        # explicit lambda: bare F.trim is binary (col, trimstr) and
        # transform would feed the element INDEX as trimstr
        F.transform(F.split(F.array_join(marked, " "), "\x00"), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    pg0 = (
        docs.select(F.explode(phrases).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .withColumn("toks", F.split(F.col("phrase"), " "))
        .withColumn("plen", F.size("toks").cast("bigint"))
        .localCheckpoint(eager=False)  # feeds ws AND the rescore join
    )
    # word score = degree/frequency over word INSTANCES; a distinct phrase
    # seen c times contributes (plen*c, c) per token instance it contains —
    # exactly the instance-level ratio, computed on the bounded phrase grid.
    ws = (
        pg0.select("plen", "n_occurrences", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(
            F.round(
                F.sum(F.col("plen") * F.col("n_occurrences")) * 1000000000.0
                / F.sum("n_occurrences")
            )
            .cast("bigint")
            .alias("units")
        )
    )
    pg = (
        pg0.select(
            "phrase", "n_occurrences",
            F.col("plen").alias("phrase_len"),
            F.explode("toks").alias("tok"),
        )
        .join(F.broadcast(ws), "tok")
        .groupBy("phrase")
        .agg(
            F.max("phrase_len").alias("phrase_len"),
            F.max("n_occurrences").alias("n_occurrences"),
            F.sum("units").cast("bigint").alias("units"),
        )
    )
    # Two-level top-k: any global top-k row is in its hash group's local top-k.
    w_grp = Window.partitionBy("grp").orderBy(F.desc("units"), "phrase")
    pruned = (
        pg.withColumn("grp", F.pmod(F.xxhash64("phrase"), F.lit(RAKE_SALTS)))
        .withColumn("lrk", F.row_number().over(w_grp))
        .filter(F.col("lrk") <= RAKE_TOPK)
        .drop("grp", "lrk")
    )
    w_rk = Window.orderBy(F.desc("units"), "phrase")
    return (
        pruned.withColumn("rk", F.row_number().over(w_rk).cast("bigint"))
        .filter(F.col("rk") <= RAKE_TOPK)
        .select(
            "rk", "phrase", "phrase_len", "n_occurrences",
            F.round(F.col("units") / 1000000000.0, 6).alias("rake_score"),
        )
        .orderBy("rk")
    )


from . import ORACLE as _ORACLE  # noqa: E402
from .llm_ops import _TOKS_SQL as _T  # noqa: E402

_ORACLE["ext_text_rake"] = _rake_oracle().replace("{toks_sql}", _T)


# ---------------------------------------------------------------------------
# ext_moments_profile — exact-integer skewness / kurtosis of order values
# ---------------------------------------------------------------------------


@register(
    "ext_moments_profile",
    f"""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               SUM(CAST(c AS HUGEINT) * c) AS s2,
               SUM(CAST(c AS HUGEINT) * c * c) AS s3,
               SUM(CAST(c AS HUGEINT) * c * c * c) AS s4
        FROM v
    ), d AS (
        SELECT n,
               s1 * 1.0 / n AS m1,
               CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n AS r2,
               CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / n AS r3,
               CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / n AS r4
        FROM s
    ), m AS (
        SELECT n, m1,
               r2 - m1 * m1 AS m2,
               r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
               r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                  - 3.0 * m1 * m1 * m1 * m1 AS m4
        FROM d
    )
    SELECT n,
           {dround('m1', 6)} AS mean_cents,
           {dround('sqrt(m2)', 6)} AS std_cents,
           {dround('m3 / (sqrt(m2) * m2)', 6)} AS skewness,
           {dround('m4 / (m2 * m2) - 3.0', 6)} AS kurtosis_excess
    FROM m
    """,
)
def ext_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile of order values: mean, standard
    deviation, skewness and excess kurtosis from the first four raw
    moments — the numeric-profiling step that flags heavy tails before
    choosing clip/winsorize thresholds.

    Determinism: all four raw moment sums are EXACT (cents as BIGINT;
    2nd-4th powers in 128-bit — c^4 ~ 6e30 per row, the HUGEINT /
    decimal(38,0) sum holds to ~sf10 order volume; rescale to dollars
    beyond). Central moments are assembled from those exact sums in
    identical double expressions (VARCHAR-path conversion on DuckDB);
    skew divides by sqrt(m2)*m2, the same expression both engines.

    Scale shape: one map-side-combined scalar aggregate — no shuffle
    beyond the 1-row combine, no window, no join."""
    o = load(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    v = o.select(c.alias("c"))
    cc = F.col("c").cast(d38)
    s = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(cc * F.col("c")).alias("s2"),
        F.sum(cc * F.col("c") * F.col("c")).alias("s3"),
        F.sum(cc * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    m1 = F.col("s1") * F.lit(1.0) / F.col("n")
    r2 = F.col("s2").cast("double") / F.col("n")
    r3 = F.col("s3").cast("double") / F.col("n")
    r4 = F.col("s4").cast("double") / F.col("n")
    d = s.select("n", m1.alias("m1"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"))
    m1c, r2c, r3c, r4c = F.col("m1"), F.col("r2"), F.col("r3"), F.col("r4")
    m = d.select(
        "n", "m1",
        (r2c - m1c * m1c).alias("m2"),
        (r3c - 3.0 * m1c * r2c + 2.0 * m1c * m1c * m1c).alias("m3"),
        (
            r4c - 4.0 * m1c * r3c + 6.0 * m1c * m1c * r2c
            - 3.0 * m1c * m1c * m1c * m1c
        ).alias("m4"),
    )
    m2c, m3c, m4c = F.col("m2"), F.col("m3"), F.col("m4")
    return m.select(
        "n",
        F.round(F.col("m1"), 6).alias("mean_cents"),
        F.round(F.sqrt(m2c), 6).alias("std_cents"),
        F.round(m3c / (F.sqrt(m2c) * m2c), 6).alias("skewness"),
        F.round(m4c / (m2c * m2c) - 3.0, 6).alias("kurtosis_excess"),
    )


# ---------------------------------------------------------------------------
# ext_feature_mi — mutual information feature screen (entropy counterpart
# of ext_gini_feature_importance)
# ---------------------------------------------------------------------------


@register(
    "ext_feature_mi",
    f"""
    WITH r AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CAST(CAST(FLOOR(ROUND(l_discount * 1000) / 10.0) AS BIGINT)
                    AS VARCHAR) AS f_discount,
               CAST(CAST(FLOOR(ROUND(l_quantity) / 10.0) AS BIGINT)
                    AS VARCHAR) AS f_quantity,
               CAST(month(l_shipdate) AS VARCHAR) AS f_month,
               l_linestatus AS f_status
        FROM lineitem
    ), x AS (
        SELECT y, 'discount' AS feature, f_discount AS val FROM r
        UNION ALL SELECT y, 'quantity', f_quantity FROM r
        UNION ALL SELECT y, 'month', f_month FROM r
        UNION ALL SELECT y, 'status', f_status FROM r
    ), cell AS (
        SELECT feature, val, y, CAST(COUNT(*) AS BIGINT) AS nxy
        FROM x GROUP BY 1, 2, 3
    ), marg AS MATERIALIZED (
        SELECT feature, val, y, nxy,
               CAST(SUM(nxy) OVER (PARTITION BY feature, val) AS BIGINT) AS nx,
               CAST(SUM(nxy) OVER (PARTITION BY feature, y) AS BIGINT) AS ny,
               CAST(SUM(nxy) OVER (PARTITION BY feature) AS BIGINT) AS n
        FROM cell
    ), u AS (
        SELECT feature,
               CAST(ROUND((nxy * 1.0 / n)
                    * ln((nxy * 1.0 * n) / (nx * 1.0 * ny))
                    * 1000000000.0) AS BIGINT) AS units
        FROM marg
    ), hy AS (
        SELECT feature,
               CAST(ROUND(SUM(CASE WHEN rn = 1
                    THEN -(ny * 1.0 / n) * ln(ny * 1.0 / n) * 1000000000.0
                    ELSE 0 END)) AS BIGINT) AS hy_units
        FROM (
            SELECT feature, y, ny, n,
                   ROW_NUMBER() OVER (PARTITION BY feature, y ORDER BY val) AS rn
            FROM marg
        ) GROUP BY 1
    ), f AS (
        SELECT u.feature, CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(u.units) AS BIGINT) AS mi_units,
               MAX(h.hy_units) AS hy_units
        FROM u JOIN hy h ON h.feature = u.feature
        GROUP BY 1
    )
    SELECT feature, n_cells,
           {dround('mi_units / 1000000000.0', 6)} AS mutual_information,
           {dround('mi_units * 1.0 / hy_units', 6)} AS normalized_mi,
           CAST(ROW_NUMBER() OVER (ORDER BY mi_units DESC, feature) AS BIGINT) AS rk
    FROM f
    ORDER BY rk
    """,
)
def ext_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature screen: I(feature; return flag) for
    the same four candidate features as ext_gini_feature_importance,
    plus the label-entropy-normalized score — the information-theoretic
    counterpart of the Gini split gain (catches associations an
    impurity split can under-rank).

    Determinism: every probability is a ratio of exact integers; each
    cell's p*ln(p_xy/(p_x p_y)) term is frozen to integer nano-units
    before the per-feature sum (the ext_drift_psi ln discipline — the
    ln argument (nxy*n)/(nx*ny) is a ratio of exact sub-2^53 integer
    products); H(y) is frozen the same way over the 2-row label grid.

    Scale shape: one 4-way per-row explode into map-side-combined
    (feature, value, label) grids (4..62 rows); marginals are grid
    windows; everything downstream is grid math."""
    li = load(spark, sf_dir, "lineitem")
    r = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.floor(F.round(F.col("l_discount") * 1000) / 10.0)
        .cast("bigint")
        .cast("string")
        .alias("f_discount"),
        F.floor(F.round(F.col("l_quantity")) / 10.0)
        .cast("bigint")
        .cast("string")
        .alias("f_quantity"),
        F.month("l_shipdate").cast("string").alias("f_month"),
        F.col("l_linestatus").alias("f_status"),
    )
    x = r.select(
        "y",
        F.explode(
            F.array(
                F.struct(F.lit("discount").alias("feature"), F.col("f_discount").alias("val")),
                F.struct(F.lit("quantity").alias("feature"), F.col("f_quantity").alias("val")),
                F.struct(F.lit("month").alias("feature"), F.col("f_month").alias("val")),
                F.struct(F.lit("status").alias("feature"), F.col("f_status").alias("val")),
            )
        ).alias("fv"),
    ).select("y", F.col("fv.feature").alias("feature"), F.col("fv.val").alias("val"))
    cell = x.groupBy("feature", "val", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("nxy")
    )
    marg = (
        cell.withColumn(
            "nx", F.sum("nxy").over(Window.partitionBy("feature", "val")).cast("bigint")
        )
        .withColumn(
            "ny", F.sum("nxy").over(Window.partitionBy("feature", "y")).cast("bigint")
        )
        .withColumn(
            "n", F.sum("nxy").over(Window.partitionBy("feature")).cast("bigint")
        )
        .localCheckpoint(eager=False)  # grid feeds MI cells AND H(y)
    )
    u = marg.select(
        "feature",
        F.round(
            (F.col("nxy") * F.lit(1.0) / F.col("n"))
            * F.log(
                (F.col("nxy") * F.lit(1.0) * F.col("n"))
                / (F.col("nx") * F.lit(1.0) * F.col("ny"))
            )
            * 1000000000.0
        )
        .cast("bigint")
        .alias("units"),
    )
    hy = (
        marg.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("feature", "y").orderBy("val")
            ),
        )
        .groupBy("feature")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("rn") == 1,
                        -(F.col("ny") * F.lit(1.0) / F.col("n"))
                        * F.log(F.col("ny") * F.lit(1.0) / F.col("n"))
                        * 1000000000.0,
                    ).otherwise(0.0)
                )
            )
            .cast("bigint")
            .alias("hy_units")
        )
    )
    f = (
        u.join(hy, "feature")
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("units").cast("bigint").alias("mi_units"),
            F.max("hy_units").alias("hy_units"),
        )
    )
    w_rk = Window.orderBy(F.desc("mi_units"), "feature")
    return f.select(
        "feature", "n_cells",
        F.round(F.col("mi_units") / 1000000000.0, 6).alias("mutual_information"),
        F.round(F.col("mi_units") * F.lit(1.0) / F.col("hy_units"), 6)
        .alias("normalized_mi"),
        F.row_number().over(w_rk).cast("bigint").alias("rk"),
    ).orderBy("rk")


# ---------------------------------------------------------------------------
# ext_text_collocations — Dunning G^2 bigram collocation mining
# ---------------------------------------------------------------------------

COLL_TOPK = 25
COLL_SALTS = 32


def _coll_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
        FROM (SELECT doc_id, {{toks_sql}} AS l FROM documents) t
        WHERE len(l) >= 2
    ), bg AS MATERIALIZED (
        SELECT l[i] AS w1, l[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM toks GROUP BY 1, 2
    ), lt AS MATERIALIZED (
        SELECT w1, CAST(SUM(k) AS BIGINT) AS r FROM bg GROUP BY 1
    ), rt AS MATERIALIZED (
        SELECT w2, CAST(SUM(k) AS BIGINT) AS cc FROM bg GROUP BY 1
    ), n AS (
        SELECT CAST(SUM(k) AS BIGINT) AS nn FROM bg
    ), cells AS (
        SELECT bg.w1, bg.w2, bg.k,
               CAST(
                 CASE WHEN bg.k > 0 THEN ROUND(bg.k *
                      ln((bg.k * 1.0 * n.nn) / (lt.r * 1.0 * rt.cc))
                      * 1000000000.0) ELSE 0 END AS BIGINT)
             + CAST(
                 CASE WHEN lt.r - bg.k > 0 THEN ROUND((lt.r - bg.k) *
                      ln(((lt.r - bg.k) * 1.0 * n.nn) / (lt.r * 1.0 * (n.nn - rt.cc)))
                      * 1000000000.0) ELSE 0 END AS BIGINT)
             + CAST(
                 CASE WHEN rt.cc - bg.k > 0 THEN ROUND((rt.cc - bg.k) *
                      ln(((rt.cc - bg.k) * 1.0 * n.nn) / ((n.nn - lt.r) * 1.0 * rt.cc))
                      * 1000000000.0) ELSE 0 END AS BIGINT)
             + CAST(
                 CASE WHEN n.nn - lt.r - rt.cc + bg.k > 0 THEN
                      ROUND((n.nn - lt.r - rt.cc + bg.k) *
                      ln(((n.nn - lt.r - rt.cc + bg.k) * 1.0 * n.nn)
                         / ((n.nn - lt.r) * 1.0 * (n.nn - rt.cc)))
                      * 1000000000.0) ELSE 0 END AS BIGINT) AS g2h_units
        FROM bg JOIN lt ON lt.w1 = bg.w1
                JOIN rt ON rt.w2 = bg.w2
                CROSS JOIN n
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY g2h_units DESC, w1, w2) AS BIGINT) AS rk,
           w1 || ' ' || w2 AS bigram, k AS n_pair,
           {dround('2.0 * g2h_units / 1000000000.0', 6)} AS g2
    FROM cells
    ORDER BY g2h_units DESC, w1, w2
    LIMIT {COLL_TOPK}
    """


@register("ext_text_collocations", None)  # oracle attached below
def ext_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: Dunning's G² log-likelihood-ratio test over
    adjacent-token bigrams — the statistically-sound collocation
    extractor (robust where PMI over-ranks rare pairs; complements
    ext_keyword_pmi). Reports the top-{COLL_TOPK} bigrams.

    Determinism: all 2x2 table cells are exact integers derived from
    the bigram/margin counts; each of the four O*ln(O/E) terms is
    frozen to integer nano-units (ln arguments are ratios of exact
    sub-2^53 integer products; zero cells contribute exactly 0), so
    the ranking compares exact integers with a (w1, w2) tiebreak.
    Magnitude bound: k*N < 2^53 holds while total bigram count N and
    the hottest bigram keep k*N below 9e15 (~1e8 bigrams corpus-wide
    at observed skew); beyond that split the ln into frozen ln-parts.

    Scale shape: one doc-positional explode into a map-side-combined
    bigram aggregate; margins are vocabulary-sized re-aggregates of
    the bigram grid joined back (broadcast); top-k over the bigram
    grid is two-level ({COLL_SALTS} hash groups)."""
    from ..ext import text as tx

    docs = load(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("i", "tok")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    bg = (
        tk.withColumn("w2", F.lead("tok", 1).over(w_doc))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("tok").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        .localCheckpoint(eager=False)  # feeds margins AND cells
    )
    lt = bg.groupBy("w1").agg(F.sum("k").cast("bigint").alias("r"))
    rt = bg.groupBy("w2").agg(F.sum("k").cast("bigint").alias("cc"))
    n = bg.agg(F.sum("k").cast("bigint").alias("nn"))

    def term(o, row, col):
        return (
            F.when(
                o > 0,
                F.round(
                    o
                    * F.log((o * F.lit(1.0) * F.col("nn")) / (row * F.lit(1.0) * col))
                    * 1000000000.0
                ),
            )
            .otherwise(0)
            .cast("bigint")
        )

    k = F.col("k")
    r = F.col("r")
    cc = F.col("cc")
    nn = F.col("nn")
    cells = (
        bg.join(F.broadcast(lt), "w1")
        .join(F.broadcast(rt), "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "g2h_units",
            term(k, r, cc)
            + term(r - k, r, nn - cc)
            + term(cc - k, nn - r, cc)
            + term(nn - r - cc + k, nn - r, nn - cc),
        )
    )
    w_grp = Window.partitionBy("grp").orderBy(F.desc("g2h_units"), "w1", "w2")
    pruned = (
        cells.withColumn(
            "grp",
            F.pmod(F.xxhash64(F.concat_ws(" ", "w1", "w2")), F.lit(COLL_SALTS)),
        )
        .withColumn("lrk", F.row_number().over(w_grp))
        .filter(F.col("lrk") <= COLL_TOPK)
        .drop("grp", "lrk")
    )
    w_rk = Window.orderBy(F.desc("g2h_units"), "w1", "w2")
    return (
        pruned.withColumn("rk", F.row_number().over(w_rk).cast("bigint"))
        .filter(F.col("rk") <= COLL_TOPK)
        .select(
            "rk",
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("k").alias("n_pair"),
            F.round(2.0 * F.col("g2h_units") / 1000000000.0, 6).alias("g2"),
        )
        .orderBy("rk")
    )


_ORACLE["ext_text_collocations"] = _coll_oracle().replace("{toks_sql}", _T)


# ---------------------------------------------------------------------------
# ext_privacy_t_closeness — EMD-based t-closeness audit (k-anon/l-div triad)
# ---------------------------------------------------------------------------

TCLOSE_T5 = 5  # violation threshold t = 1/5 = 0.2, compared in exact integers


@register(
    "ext_privacy_t_closeness",
    f"""
    WITH c AS (
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bucket
        FROM customer
    ), cls AS (SELECT DISTINCT nation, segment FROM c),
    bks AS (SELECT DISTINCT bucket FROM c),
    cnt AS (
        SELECT nation, segment, bucket, CAST(COUNT(*) AS BIGINT) AS ci
        FROM c GROUP BY 1, 2, 3
    ), dense AS MATERIALIZED (
        SELECT cl.nation, cl.segment, b.bucket, COALESCE(cnt.ci, 0) AS ci
        FROM cls cl CROSS JOIN bks b
        LEFT JOIN cnt ON cnt.nation = cl.nation AND cnt.segment = cl.segment
                     AND cnt.bucket = b.bucket
    ), tot AS MATERIALIZED (
        SELECT d.nation, d.segment, d.bucket, d.ci,
               CAST(SUM(d.ci) OVER (PARTITION BY d.nation, d.segment) AS BIGINT) AS nc,
               CAST(SUM(d.ci) OVER () AS BIGINT) AS n
        FROM dense d
    ), gl AS (
        SELECT bucket, CAST(SUM(ci) AS BIGINT) AS gi FROM dense GROUP BY 1
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bks
    ), cd AS (
        SELECT t.nation, t.segment, t.nc, t.n, m.nb,
               CAST(SUM(t.ci * t.n - g.gi * t.nc) OVER (
                   PARTITION BY t.nation, t.segment ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cumdiff
        FROM tot t JOIN gl g ON g.bucket = t.bucket CROSS JOIN m
    ), cum AS (
        SELECT nation, segment, nc, n, nb,
               CAST(SUM(ABS(cumdiff)) AS BIGINT) AS sum_abs_cum
        FROM cd GROUP BY 1, 2, 3, 4, 5
    )
    SELECT nation, segment, nc AS n_rows,
           {dround('sum_abs_cum * 1.0 / ((nb - 1) * nc * n)', 6)} AS t_closeness,
           CASE WHEN sum_abs_cum * {TCLOSE_T5} > (nb - 1) * nc * n
                THEN 1 ELSE 0 END AS is_violation
    FROM cum
    ORDER BY nation, segment
    """,
)
def ext_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (completes the k-anonymity / l-diversity /
    t-closeness privacy triad): for every quasi-identifier class
    (nation, segment), the 1-D earth-mover's distance between the
    class's sensitive-attribute distribution (account-balance
    thousand-buckets, ordered) and the global one, flagged against
    t = 1/{TCLOSE_T5}.

    Determinism: the ordered-1D EMD is sum of |cumulative difference|;
    each cumulative term ci*N - gi*nc is an EXACT integer, so the
    distance is a ratio of exact integers and the violation flag is an
    exact integer cross-multiplication — no float compare at the
    threshold boundary.

    Scale shape: one (class, bucket) aggregate, densified by a
    grid-sized cross join (classes x buckets, ~125x12); all EMD math is
    grid windows. The only corpus pass is the counting aggregate."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bucket"),
    )
    cnt = c.groupBy("nation", "segment", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("ci")
    ).localCheckpoint(eager=False)  # feeds classes, buckets, dense grid
    cls = cnt.select("nation", "segment").distinct()
    bks = cnt.select("bucket").distinct()
    dense = (
        cls.crossJoin(F.broadcast(bks))
        .join(cnt, ["nation", "segment", "bucket"], "left")
        .withColumn("ci", F.coalesce(F.col("ci"), F.lit(0)).cast("bigint"))
        .localCheckpoint(eager=False)  # grid feeds marginals AND cumulative
    )
    w_cl = Window.partitionBy("nation", "segment")
    gl = dense.groupBy("bucket").agg(F.sum("ci").cast("bigint").alias("gi"))
    nb = bks.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    n_all = dense.agg(F.sum("ci").cast("bigint").alias("n"))
    t = (
        dense.withColumn("nc", F.sum("ci").over(w_cl).cast("bigint"))
        .join(F.broadcast(gl), "bucket")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(n_all))
    )
    w_cum = (
        Window.partitionBy("nation", "segment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = t.withColumn(
        "cumdiff",
        F.sum(F.col("ci") * F.col("n") - F.col("gi") * F.col("nc")).over(w_cum)
        .cast("bigint"),
    )
    g = cum.groupBy("nation", "segment", "nc", "n", "nb").agg(
        F.sum(F.abs(F.col("cumdiff"))).cast("bigint").alias("sum_abs_cum")
    )
    return g.select(
        "nation", "segment",
        F.col("nc").alias("n_rows"),
        F.round(
            F.col("sum_abs_cum")
            * F.lit(1.0)
            / ((F.col("nb") - 1) * F.col("nc") * F.col("n")),
            6,
        ).alias("t_closeness"),
        F.when(
            F.col("sum_abs_cum") * TCLOSE_T5
            > (F.col("nb") - 1) * F.col("nc") * F.col("n"),
            1,
        )
        .otherwise(0)
        .alias("is_violation"),
    ).orderBy("nation", "segment")


# ---------------------------------------------------------------------------
# ext_theilsen_trend — robust median-of-slopes trend over the month grid
# ---------------------------------------------------------------------------


@register(
    "ext_theilsen_trend",
    f"""
    WITH m AS MATERIALIZED (
        SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ), pr AS MATERIALIZED (
        SELECT a.x AS xi, a.y AS yi,
               CAST(ROUND((b.y - a.y) * 1000.0 / (b.x - a.x)) AS BIGINT) AS s_mc
        FROM m a JOIN m b ON b.x > a.x
    ), sl AS (
        SELECT s_mc, ROW_NUMBER() OVER (ORDER BY s_mc, xi, yi) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS np
        FROM pr
    ), slope AS MATERIALIZED (
        SELECT s_mc AS slope_mc, np FROM sl
        WHERE rn = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
    ), res AS (
        SELECT m.x, m.y, s.slope_mc, s.np,
               m.y * 1000 - s.slope_mc * m.x AS r_mc,
               ROW_NUMBER() OVER (ORDER BY m.y * 1000 - s.slope_mc * m.x, m.x) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS nm
        FROM m CROSS JOIN slope s
    )
    SELECT nm AS n_months, np AS n_pairs,
           {dround('slope_mc / 1000.0', 6)} AS theilsen_slope_cents_per_month,
           {dround('r_mc / 1000.0', 6)} AS intercept_cents
    FROM res
    WHERE rn = CAST(FLOOR((nm + 1) / 2.0) AS BIGINT)
    """,
)
def ext_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the median of all
    pairwise month-to-month slopes, plus the median-residual intercept —
    the outlier-robust alternative to OLS (a few anomalous months
    cannot move it, unlike ext_trend_ols).

    Determinism: pairwise slopes are frozen to integer MILLI-cents per
    month ((dy*1000)/dx stays below 2^53 before rounding); both medians
    are exact lower-median order statistics over total orders; the
    intercept residuals y*1000 - slope*x are exact integers.

    Scale shape: the pair fan-out runs on the POST-AGGREGATION month
    grid (~84 rows -> ~3.5k pairs), never the corpus; the corpus cost
    is one month collapse. Windows are grid-sized."""
    li = load(spark, sf_dir, "lineitem")
    m = (
        li.select(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("x"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("y"))
        .localCheckpoint(eager=False)  # grid feeds both pair sides AND residuals
    )
    a = m.select(F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = m.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    pr = a.join(F.broadcast(b), F.col("xj") > F.col("xi")).select(
        "xi", "yi",
        F.round((F.col("yj") - F.col("yi")) * 1000.0 / (F.col("xj") - F.col("xi")))
        .cast("bigint")
        .alias("s_mc"),
    )
    w_all = Window.partitionBy(F.lit(1))
    sl = pr.withColumn(
        "rn", F.row_number().over(Window.orderBy("s_mc", "xi", "yi"))
    ).withColumn("np", F.count(F.lit(1)).over(w_all).cast("bigint"))
    slope = sl.filter(
        F.col("rn") == F.floor((F.col("np") + 1) / 2.0).cast("bigint")
    ).select(F.col("s_mc").alias("slope_mc"), "np")
    res = (
        m.crossJoin(F.broadcast(slope))
        .withColumn("r_mc", F.col("y") * 1000 - F.col("slope_mc") * F.col("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("r_mc", "x")))
        .withColumn("nm", F.count(F.lit(1)).over(w_all).cast("bigint"))
    )
    return res.filter(
        F.col("rn") == F.floor((F.col("nm") + 1) / 2.0).cast("bigint")
    ).select(
        F.col("nm").alias("n_months"),
        F.col("np").alias("n_pairs"),
        F.round(F.col("slope_mc") / 1000.0, 6).alias("theilsen_slope_cents_per_month"),
        F.round(F.col("r_mc") / 1000.0, 6).alias("intercept_cents"),
    )


# ---------------------------------------------------------------------------
# ext_stickiness_dau_mau — product-analytics stickiness per month
# ---------------------------------------------------------------------------


@register(
    "ext_stickiness_dau_mau",
    f"""
    WITH d AS (
        SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
               CAST(ts AS DATE) AS day, user_id
        FROM events
    ), daily AS (
        SELECT month, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM d GROUP BY 1, 2
    ), per_day AS (
        SELECT month, CAST(SUM(dau) AS BIGINT) AS sum_dau,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
    ), monthly AS (
        SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM d GROUP BY 1
    )
    SELECT p.month, p.n_days, p.sum_dau, m.mau,
           {dround('p.sum_dau * 1.0 / (p.n_days * m.mau)', 6)} AS stickiness
    FROM per_day p JOIN monthly m ON m.month = p.month
    ORDER BY p.month
    """,
)
def ext_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month: average daily active users over
    monthly active users — the engagement ratio every product dashboard
    leads with. Computed as sum(daily distinct users) / (days x monthly
    distinct users), all exact integers.

    Determinism: both distinct counts are exact (no HLL); stickiness is
    a ratio of identical integers, dround(6).

    Scale shape: two distinct aggregates over the events stream — the
    (month, day, user) collapse feeds daily counts map-side; the
    (month, user) distinct is its own hash aggregate; both shuffle on
    bounded keys and join on the ~#months grid."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily = d.groupBy("month", "day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    per_day = daily.groupBy("month").agg(
        F.sum("dau").cast("bigint").alias("sum_dau"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    monthly = d.groupBy("month").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    return (
        per_day.join(monthly, "month")
        .select(
            "month", "n_days", "sum_dau", "mau",
            F.round(
                F.col("sum_dau") * F.lit(1.0) / (F.col("n_days") * F.col("mau")), 6
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# ext_graph_assortativity — degree correlation of the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "ext_graph_assortativity",
    f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), und AS MATERIALIZED (
        SELECT pa, pb FROM pairs
        UNION ALL SELECT pb, pa FROM pairs
    ), deg AS MATERIALIZED (
        SELECT pa AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1
    ), e AS (
        SELECT da.d AS dx, db.d AS dy
        FROM und u JOIN deg da ON da.node = u.pa JOIN deg db ON db.node = u.pb
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ne,
               CAST(SUM(dx) AS BIGINT) AS sx,
               SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
               SUM(CAST(dx AS HUGEINT) * dy) AS sxy
        FROM e
    ), nd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg
    )
    SELECT nd.n_nodes, CAST(s.ne // 2 AS BIGINT) AS n_edges,
           {dround('s.sx * 1.0 / nd.n_nodes', 6)} AS avg_degree,
           {dround('''CAST(CAST(CAST(s.ne AS HUGEINT) * s.sxy
                         - CAST(s.sx AS HUGEINT) * s.sx AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(CAST(s.ne AS HUGEINT) * s.sxx
                         - CAST(s.sx AS HUGEINT) * s.sx AS VARCHAR) AS DOUBLE)''', 6)}
               AS assortativity
    FROM s CROSS JOIN nd
    """,
)
def ext_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all directed edges — positive
    means hubs link to hubs (assortative mixing), the one-number
    topology summary after PageRank/triangles/communities. On the
    symmetric directed edge list, sum(dx)=sum(dy) and sxx=syy, so the
    correlation reduces to (ne*sxy - sx^2) / (ne*sxx - sx^2).

    Determinism: degrees and all moment sums are exact integers
    (second moments in 128-bit); the correlation is a ratio of exact
    128-bit integers through the correctly-rounded VARCHAR->double
    path. avg_degree is a ratio of identical integers.

    Scale shape: the adjacency is per-node sorted neighbor arrays
    (ext/graph.py:adjacency_sets — one node-keyed fold, no edge
    distinct, no directional union), so a node's degree is just
    size(nbrs) and the source-side degree rides the explode for free;
    the single remaining join attaches the destination degree from the
    node-count-sized degree table (AQE broadcasts it at any SF where it
    fits, shuffle join beyond). No windows; output is one row."""
    from ..ext.graph import shared_adjacency

    # session-shared persisted adjacency (memo family "graph", ext/graph.py)
    adj = shared_adjacency(
        spark,
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
    )  # deg + edges
    deg = adj.select(
        F.col("node").alias("nb"), F.size("nbrs").cast("bigint").alias("dy")
    )
    e = adj.select(
        F.size("nbrs").cast("bigint").alias("dx"), F.explode("nbrs").alias("nb")
    ).join(deg, "nb")
    d38 = "decimal(38,0)"
    s = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("ne"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx").cast(d38) * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx").cast(d38) * F.col("dy")).alias("sxy"),
    )
    nd = adj.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    num = (
        F.col("ne").cast(d38) * F.col("sxy") - F.col("sx").cast(d38) * F.col("sx")
    ).cast("double")
    den = (
        F.col("ne").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")
    ).cast("double")
    return s.crossJoin(F.broadcast(nd)).select(
        "n_nodes",
        (F.col("ne") / 2).cast("bigint").alias("n_edges"),
        F.round(F.col("sx") * F.lit(1.0) / F.col("n_nodes"), 6).alias("avg_degree"),
        F.round(num / den, 6).alias("assortativity"),
    )
