"""Round-4 batch-C operators: non-parametric statistics and queueing
analytics — Mann-Kendall trend test, per-nation Spearman rank
correlation, Wald-Wolfowitz runs test, and Little's-law time-weighted
concurrency.

Every key keeps the registry's exactness disciplines (scale_ops.py
header): integer quantization before any cross-engine float,
ratio-of-identical-integers for doubles, FLOOR (never engine-default int
casts) for quantization steps, per-row integer-unit rounding BEFORE any
corpus-sized float sum, total-order tiebreaks, terminal dround(6).

New named patterns this module demonstrates:

- ext_mann_kendall: significance verdicts decided by EXACT integer
  cross-multiplication ((S-1)^2 * 18 * 10^4 vs 38416 * 18Var), so the
  1.96 threshold can never flip on a last-ulp z difference.
- ext_spearman_corr: average ranks computed on the COLLAPSED
  (nation, dollar-value) grid — rank windows run over distinct values
  (bounded by the value range after dollar quantization), never over
  the customer corpus; 2x-average-ranks stay integer (avg rank of a tie
  block = (rmin + rmax)/2, so twice that is 2*cum - cnt + 1).
- ext_runs_test: the randomness verdict is again an exact integer
  cross-multiplication of z^2 = (Rn - n - a)^2 (n-1) / (a (a - n)).
- ext_littles_law: session busy-time clipped per day in exact integer
  microseconds (epoch_us / unix_micros), days spanned via sequence()
  explode, so L = busy / 86400e6 is a ratio of identical integers.

Reference parity: the reference exposes only dbt SQL models
(/root/reference/models/*.sql); these keys are beyond-reference
analytics surface mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load
from . import dround, register
from .llm_ops import _TOKS_SQL
from .scale_ops import BOUNCE_GAP_MIN

# ---------------------------------------------------------------------------
# ext_mann_kendall — Mann-Kendall monotonic-trend test on monthly revenue
# ---------------------------------------------------------------------------

# 1.96^2 * 10^4 — the two-sided 5% z threshold squared, exact in integers.
_Z95_SQ_X1E4 = 38416

_MK_Z = dround(
    """CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
            WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
            ELSE 0.0 END""",
    6,
)

_SPEAR_RHO = dround(
    """CAST(CAST(m.n * m.sxy - m.sx * m.sy AS VARCHAR) AS DOUBLE)
       / sqrt(CAST(CAST(m.n * m.sxx - m.sx * m.sx AS VARCHAR) AS DOUBLE)
              * CAST(CAST(m.n * m.syy - m.sy * m.sy AS VARCHAR) AS DOUBLE))""",
    6,
)

_RUNS_Z = dround(
    """(r_runs - (1.0 + a / CAST(n AS DOUBLE)))
       / sqrt(CAST(a AS DOUBLE) * (a - n)
              / (CAST(n AS DOUBLE) * n * (n - 1)))""",
    6,
)

_LL_W = dround(
    """CASE WHEN SUM(started) > 0
            THEN SUM(dur_us) / (SUM(started) * 1000000.0)
            ELSE 0.0 END""",
    6,
)


@register(
    "ext_mann_kendall",
    f"""
    WITH m AS MATERIALIZED (
        SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ), s AS (
        SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM m a JOIN m b ON b.x > a.x
    ), nrow AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m
    ), ties AS (
        SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0) AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY y) g
        WHERE t > 1
    ), stat AS (
        SELECT n, s_stat,
               n * (n - 1) * (2 * n + 5) - tie_term AS var18
        FROM s CROSS JOIN nrow CROSS JOIN ties
    )
    SELECT n AS n_months, s_stat, var18 AS var_s_x18,
           {_MK_Z} AS z_score,
           CASE WHEN s_stat > 0
                     AND (s_stat - 1) * (s_stat - 1) * 18 * 10000
                         > {_Z95_SQ_X1E4} * var18 THEN 'increasing'
                WHEN s_stat < 0
                     AND (s_stat + 1) * (s_stat + 1) * 18 * 10000
                         > {_Z95_SQ_X1E4} * var18 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM stat
    """,
)
def ext_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on monthly revenue: the
    non-parametric S statistic (sum of pairwise slope signs), its
    tie-corrected variance, the continuity-corrected z score, and a 5%
    two-sided verdict — the hypothesis-test companion to
    ext_theilsen_trend (same grid, same pair fan-out; Theil-Sen gives
    the magnitude, Mann-Kendall the significance).

    Determinism: S, n and 18*Var(S) (var18 = n(n-1)(2n+5) - sum of
    t(t-1)(2t+5) over tie groups) are exact integers; the z score is
    the identical float sequence (int/int division, one sqrt, one
    division — all IEEE correctly-rounded ops) on both engines, then
    dround(6). The 5% verdict never touches floats: (S-+1)^2 * 18 * 1e4
    is cross-multiplied against 38416 * var18 in exact integers.

    Scale shape: identical to ext_theilsen_trend — one corpus-scale
    month collapse, then an ~84-row grid pair join, tie grouping on the
    grid, scalar output."""
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
        .localCheckpoint(eager=False)  # grid feeds pairs, count AND tie groups
    )
    a = m.select(F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = m.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    s = (
        a.join(F.broadcast(b), F.col("xj") > F.col("xi"))
        .agg(
            F.sum(
                F.when(F.col("yj") > F.col("yi"), 1)
                .when(F.col("yj") < F.col("yi"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nrow = m.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        m.groupBy("y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).cast(
                    "bigint"
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    stat = (
        s.crossJoin(F.broadcast(nrow))
        .crossJoin(F.broadcast(ties))
        .withColumn(
            "var18",
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term"),
        )
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var18") / 18.0),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var18") / 18.0),
        )
        .otherwise(F.lit(0.0))
    )
    return stat.select(
        F.col("n").alias("n_months"),
        "s_stat",
        F.col("var18").alias("var_s_x18"),
        F.round(z, 6).alias("z_score"),
        F.when(
            (F.col("s_stat") > 0)
            & (
                (F.col("s_stat") - 1) * (F.col("s_stat") - 1) * 18 * 10000
                > _Z95_SQ_X1E4 * F.col("var18")
            ),
            F.lit("increasing"),
        )
        .when(
            (F.col("s_stat") < 0)
            & (
                (F.col("s_stat") + 1) * (F.col("s_stat") + 1) * 18 * 10000
                > _Z95_SQ_X1E4 * F.col("var18")
            ),
            F.lit("decreasing"),
        )
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# ext_spearman_corr — per-nation Spearman rank correlation (balance vs spend)
# ---------------------------------------------------------------------------


@register(
    "ext_spearman_corr",
    f"""
    WITH c AS MATERIALIZED (
        SELECT c.c_custkey, c.c_nationkey AS nation,
               CAST(FLOOR(CAST(ROUND(c.c_acctbal * 100) AS BIGINT) / 100.0)
                    AS BIGINT) AS bal_d,
               CAST(FLOOR(COALESCE(o.sp, 0) / 100.0) AS BIGINT) AS spend_d
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
            FROM orders GROUP BY 1
        ) o ON o.o_custkey = c.c_custkey
    ), bgrid AS (
        SELECT nation, bal_d, CAST(COUNT(*) AS BIGINT) AS cnt,
               2 * SUM(CAST(COUNT(*) AS BIGINT)) OVER (
                   PARTITION BY nation ORDER BY bal_d
                   ROWS UNBOUNDED PRECEDING
               ) - CAST(COUNT(*) AS BIGINT) + 1 AS r2
        FROM c GROUP BY nation, bal_d
    ), sgrid AS (
        SELECT nation, spend_d, CAST(COUNT(*) AS BIGINT) AS cnt,
               2 * SUM(CAST(COUNT(*) AS BIGINT)) OVER (
                   PARTITION BY nation ORDER BY spend_d
                   ROWS UNBOUNDED PRECEDING
               ) - CAST(COUNT(*) AS BIGINT) + 1 AS r2
        FROM c GROUP BY nation, spend_d
    ), rk AS (
        SELECT c.nation, b.r2 AS rx, s.r2 AS ry
        FROM c
        JOIN bgrid b ON b.nation = c.nation AND b.bal_d = c.bal_d
        JOIN sgrid s ON s.nation = c.nation AND s.spend_d = c.spend_d
    ), mom AS (
        SELECT nation, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(rx AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(SUM(CAST(ry AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(SUM(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy
        FROM rk GROUP BY nation
    )
    SELECT n.n_name AS nation_name, CAST(m.n AS BIGINT) AS n_customers,
           {_SPEAR_RHO} AS rho_spearman
    FROM mom m JOIN nation n ON n.n_nationkey = m.nation
    WHERE m.n * m.sxx - m.sx * m.sx > 0 AND m.n * m.syy - m.sy * m.sy > 0
    ORDER BY nation_name
    """,
)
def ext_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation between a customer's account
    balance and their lifetime spend (sum of order totals, 0 when no
    orders) — the monotone-association screen ("do richer accounts
    actually buy more?"), robust to the heavy right tail that would
    distort Pearson on raw amounts.

    Ties use average ranks via Pearson-on-ranks (the correct tied-data
    estimator, not the 6*sum(d^2) shortcut which assumes no ties). Both
    variables are quantized to whole DOLLARS (FLOOR of exact cents/100)
    before ranking, which (a) makes tie blocks well-defined across
    engines and (b) collapses the rank computation onto a bounded
    (nation, dollar-value) grid.

    Determinism: 2x-average-ranks are exact integers (2*cum - cnt + 1
    on the value grid); all six moments are exact 128-bit integers
    (decimal(38,0) / HUGEINT); num and the two variance terms convert
    through the correctly-rounded VARCHAR->double path, and rho is the
    identical float sequence num / sqrt(dx * dy), dround(6).

    Scale shape: rank windows run on the COLLAPSED (nation, dollar)
    grid — bounded by the value range, not the customer count — so no
    corpus-sized single-partition sort exists anywhere. The rank
    join-back is a shuffle join on (nation, value); moments partial-
    aggregate map-side per nation."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nat = load(spark, sf_dir, "nation")
    sp = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sp")
        )
    )
    c = (
        cust.join(sp, cust.c_custkey == sp.o_custkey, "left")
        .select(
            F.col("c_custkey"),
            F.col("c_nationkey").alias("nation"),
            F.floor(
                F.round(F.col("c_acctbal") * 100).cast("bigint") / 100.0
            )
            .cast("bigint")
            .alias("bal_d"),
            F.floor(F.coalesce(F.col("sp"), F.lit(0)) / 100.0)
            .cast("bigint")
            .alias("spend_d"),
        )
        .localCheckpoint(eager=False)  # feeds both value grids AND the join-back
    )

    def grid(col: str) -> DataFrame:
        w = (
            Window.partitionBy("nation")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            c.groupBy("nation", col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .withColumn(
                "r2", 2 * F.sum("cnt").over(w) - F.col("cnt") + F.lit(1)
            )
            .select("nation", col, "r2")
        )

    rk = (
        c.join(grid("bal_d").withColumnRenamed("r2", "rx"), ["nation", "bal_d"])
        .join(grid("spend_d").withColumnRenamed("r2", "ry"), ["nation", "spend_d"])
        .select("nation", "rx", "ry")
    )
    d = "decimal(38,0)"
    mom = rk.groupBy("nation").agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum(F.col("rx").cast(d)).cast(d).alias("sx"),
        F.sum(F.col("ry").cast(d)).cast(d).alias("sy"),
        F.sum((F.col("rx").cast(d) * F.col("ry")).cast(d)).cast(d).alias("sxy"),
        F.sum((F.col("rx").cast(d) * F.col("rx")).cast(d)).cast(d).alias("sxx"),
        F.sum((F.col("ry").cast(d) * F.col("ry")).cast(d)).cast(d).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d)
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d)
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(d)
    return (
        mom.filter((dx > 0) & (dy > 0))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("nation"))
        .select(
            F.col("n_name").alias("nation_name"),
            F.col("n").cast("bigint").alias("n_customers"),
            F.round(
                num.cast("string").cast("double")
                / F.sqrt(
                    dx.cast("string").cast("double")
                    * dy.cast("string").cast("double")
                ),
                6,
            ).alias("rho_spearman"),
        )
        .orderBy("nation_name")
    )


# ---------------------------------------------------------------------------
# ext_runs_test — Wald-Wolfowitz runs test on monthly revenue vs its median
# ---------------------------------------------------------------------------


@register(
    "ext_runs_test",
    f"""
    WITH m AS MATERIALIZED (
        SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ), med AS MATERIALIZED (
        SELECT y AS med FROM (
            SELECT y, ROW_NUMBER() OVER (ORDER BY y, x) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS nm
            FROM m
        ) WHERE rn = CAST(FLOOR((nm + 1) / 2.0) AS BIGINT)
    ), sgn AS MATERIALIZED (
        SELECT m.x, CASE WHEN m.y > d.med THEN 1 ELSE 0 END AS s
        FROM m CROSS JOIN med d
        WHERE m.y <> d.med
    ), runs AS (
        SELECT CAST(1 + SUM(CASE WHEN s <> prev THEN 1 ELSE 0 END) AS BIGINT) AS r_runs,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(SUM(1 - s) AS BIGINT) AS n2
        FROM (SELECT s, LAG(s) OVER (ORDER BY x) AS prev FROM sgn)
        WHERE prev IS NOT NULL
    ), base AS (
        SELECT r_runs, n1 + fs AS n1, n2 + (1 - fs) AS n2
        FROM runs CROSS JOIN (
            SELECT s AS fs FROM (
                SELECT s, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM sgn
            ) WHERE rn = 1
        )
    ), stat AS (
        SELECT r_runs, n1, n2, n1 + n2 AS n, 2 * n1 * n2 AS a
        FROM base
    )
    SELECT n AS n_months_used, n1 AS n_above, n2 AS n_below, r_runs,
           {_RUNS_Z} AS z_score,
           CASE WHEN (r_runs * n - n - a) * (r_runs * n - n - a) * (n - 1) * 10000
                     > {_Z95_SQ_X1E4} * a * (a - n)
                THEN 'non_random' ELSE 'random' END AS verdict
    FROM stat
    WHERE a > n
    """,
)
def ext_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the monthly-revenue series: months
    are classified above/below the (lower-median) monthly revenue
    (median-equal months dropped, the standard treatment), the number of
    sign runs R is compared against its randomness expectation
    E[R] = 1 + 2 n1 n2 / n, and |z| > 1.96 flags the series as
    non-random — the classic check that a KPI series has structure
    (trend or oscillation) rather than noise, complementing
    ext_mann_kendall (which only detects MONOTONE structure).

    Determinism: R, n1, n2 are exact integers from the ordered grid;
    z is one identical float sequence (correctly-rounded divisions and
    one sqrt) on both engines, dround(6); the verdict is decided by the
    exact integer cross-multiplication of
    z^2 = (Rn - n - a)^2 (n - 1) / (a (a - n)) with a = 2 n1 n2 against
    1.96^2 — no float at the threshold.

    Note the run-counting shape: the LAG window yields n-1 comparison
    rows, so the first month's sign re-enters via the rn = 1 row (base
    adds it to n1/n2 and the +1 run seed) — both engines compute the
    identical decomposition.

    Scale shape: one corpus-scale month collapse; every window after it
    is grid-sized (~84 rows). The median is an exact order statistic on
    the grid."""
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
        .localCheckpoint(eager=False)  # grid feeds median AND sign series
    )
    w_all = Window.partitionBy(F.lit(1))
    med = (
        m.withColumn("rn", F.row_number().over(Window.orderBy("y", "x")))
        .withColumn("nm", F.count(F.lit(1)).over(w_all).cast("bigint"))
        .filter(F.col("rn") == F.floor((F.col("nm") + 1) / 2.0).cast("bigint"))
        .select(F.col("y").alias("med"))
    )
    sgn = (
        m.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("med"))
        .select("x", F.when(F.col("y") > F.col("med"), 1).otherwise(0).alias("s"))
        .localCheckpoint(eager=False)  # feeds the lag series AND the first-row seed
    )
    lagged = sgn.withColumn("prev", F.lag("s").over(Window.orderBy("x")))
    runs = lagged.filter(F.col("prev").isNotNull()).agg(
        (1 + F.sum(F.when(F.col("s") != F.col("prev"), 1).otherwise(0)))
        .cast("bigint")
        .alias("r_runs"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n2"),
    )
    first = (
        sgn.withColumn("rn", F.row_number().over(Window.orderBy("x")))
        .filter(F.col("rn") == 1)
        .select(F.col("s").alias("fs"))
    )
    stat = runs.crossJoin(F.broadcast(first)).select(
        F.col("r_runs").alias("r_runs"),
        (F.col("n1") + F.col("fs")).alias("n1"),
        (F.col("n2") + (1 - F.col("fs"))).alias("n2"),
    )
    stat = stat.withColumn("n", F.col("n1") + F.col("n2")).withColumn(
        "a", 2 * F.col("n1") * F.col("n2")
    )
    z = (
        F.col("r_runs") - (F.lit(1.0) + F.col("a") / F.col("n").cast("double"))
    ) / F.sqrt(
        F.col("a").cast("double")
        * (F.col("a") - F.col("n"))
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
    )
    q = (F.col("r_runs") * F.col("n") - F.col("n") - F.col("a"))
    return stat.filter(F.col("a") > F.col("n")).select(
        F.col("n").alias("n_months_used"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "r_runs",
        F.round(z, 6).alias("z_score"),
        F.when(
            q * q * (F.col("n") - 1) * 10000
            > _Z95_SQ_X1E4 * F.col("a") * (F.col("a") - F.col("n")),
            F.lit("non_random"),
        )
        .otherwise(F.lit("random"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# ext_littles_law — time-weighted average concurrency per day (Little's law)
# ---------------------------------------------------------------------------


@register(
    "ext_littles_law",
    f"""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > INTERVAL {BOUNCE_GAP_MIN} MINUTE
                    OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
    ), sess AS (
        SELECT user_id, ts,
               SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM marked
    ), spans AS (
        SELECT user_id, session_id,
               epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us,
               CAST(MIN(ts) AS DATE) AS s_day, CAST(MAX(ts) AS DATE) AS e_day
        FROM sess GROUP BY 1, 2
    ), exploded AS (
        SELECT s_us, e_us, s_day,
               CAST(UNNEST(generate_series(CAST(s_day AS TIMESTAMP),
                                           CAST(e_day AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM spans
    ), clipped AS (
        SELECT day,
               LEAST(e_us, epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY))
               - GREATEST(s_us, epoch_us(CAST(day AS TIMESTAMP))) AS busy_us,
               CASE WHEN day = s_day THEN 1 ELSE 0 END AS started,
               CASE WHEN day = s_day THEN e_us - s_us ELSE 0 END AS dur_us
        FROM exploded
    )
    SELECT day,
           CAST(SUM(started) AS BIGINT) AS n_sessions_started,
           CAST(SUM(busy_us) AS BIGINT) AS busy_us,
           {dround("SUM(busy_us) / 86400000000.0", 6)} AS avg_concurrency,
           {dround("SUM(started) / 24.0", 6)} AS arrivals_per_hour,
           {_LL_W} AS avg_session_seconds
    FROM clipped
    GROUP BY day
    ORDER BY day
    """,
)
def ext_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law operating report per day: time-weighted average
    session concurrency L (total clipped busy-seconds / 86400), the
    arrival rate lambda (sessions started per hour) and the average
    session duration W — the L = lambda * W triple every capacity plan
    starts from, and the time-INTEGRAL companion to
    ext_peak_concurrency's max (same {BOUNCE_GAP_MIN}-min-gap
    sessionization, scale_ops.py).

    Sessions are closed intervals (MIN ts .. MAX ts, zero-length when a
    session has one event); busy time is clipped per calendar day by
    exploding each span over the days it overlaps, so a midnight-
    crossing session contributes exactly its within-day microseconds to
    each day.

    Determinism: all clipping happens in exact integer microseconds
    (Spark unix_micros vs DuckDB epoch_us — the established exact
    integer-time discipline); every reported float is a ratio of exact
    integers, dround(6).

    Scale shape: sessionization is the user-partitioned lag/cumsum pair
    (one shuffle on user_id); the day explode fans out only to the
    number of days a session touches (~1 for {BOUNCE_GAP_MIN}-min-gap
    sessions); the per-day aggregate partial-aggregates map-side onto
    ~#days keys."""
    ev = load(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_lag))
                > BOUNCE_GAP_MIN * 60 * 1_000_000
            )
            | F.lag("ts").over(w_lag).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = marked.withColumn("session_id", F.sum("is_start").over(w_run))
    spans = sess.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts")).alias("s_us"),
        F.unix_micros(F.max("ts")).alias("e_us"),
        F.min("ts").cast("date").alias("s_day"),
        F.max("ts").cast("date").alias("e_day"),
    )
    clipped = (
        spans.withColumn(
            "day", F.explode(F.sequence("s_day", "e_day", F.expr("interval 1 day")))
        )
        .select(
            "day",
            (
                F.least(
                    F.col("e_us"),
                    F.unix_micros(
                        F.col("day").cast("timestamp") + F.expr("interval 1 day")
                    ),
                )
                - F.greatest(
                    F.col("s_us"), F.unix_micros(F.col("day").cast("timestamp"))
                )
            ).alias("busy_us"),
            F.when(F.col("day") == F.col("s_day"), 1).otherwise(0).alias("started"),
            F.when(F.col("day") == F.col("s_day"), F.col("e_us") - F.col("s_us"))
            .otherwise(F.lit(0))
            .alias("dur_us"),
        )
    )
    return (
        clipped.groupBy("day")
        .agg(
            F.sum("started").cast("bigint").alias("n_sessions_started"),
            F.sum("busy_us").cast("bigint").alias("busy_us"),
            F.round(F.sum("busy_us") / 86400000000.0, 6).alias("avg_concurrency"),
            F.round(F.sum("started") / 24.0, 6).alias("arrivals_per_hour"),
            F.round(
                F.when(
                    F.sum("started") > 0,
                    F.sum("dur_us") / (F.sum("started") * 1000000.0),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("avg_session_seconds"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ext_croston_forecast — intermittent-demand forecasting (Croston's method)
# ---------------------------------------------------------------------------

CROSTON_L = 40  # SES truncation depth (terms below 2^-40 dropped), alpha = 1/2
# ADI > 1.32 (x100 for exact integer compare) is the standard
# Syntetos-Boylan boundary between smooth and intermittent demand.
_ADI_X100 = 132

_CR_Z = dround(f"CAST(CAST(z_lat AS VARCHAR) AS DOUBLE) / {float(2 ** CROSTON_L)}", 6)
_CR_P = dround(f"CAST(CAST(p_lat AS VARCHAR) AS DOUBLE) / {float(2 ** CROSTON_L)}", 6)
_CR_R = dround(
    "CAST(CAST(z_lat AS VARCHAR) AS DOUBLE) / CAST(CAST(p_lat AS VARCHAR) AS DOUBLE)",
    6,
)


@register(
    "ext_croston_forecast",
    f"""
    WITH d AS (
        SELECT l_partkey AS part,
               CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS m,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ), r AS MATERIALIZED (
        SELECT part, m, q,
               ROW_NUMBER() OVER (PARTITION BY part ORDER BY m) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY part) AS BIGINT) AS k,
               m - LAG(m) OVER (PARTITION BY part ORDER BY m) AS gap,
               CAST(MIN(m) OVER (PARTITION BY part) AS BIGINT) AS m1,
               CAST(MAX(m) OVER (PARTITION BY part) AS BIGINT) AS mk
        FROM d
    ), elig AS MATERIALIZED (
        SELECT part, k FROM r
        WHERE rn = 1 AND k >= 2 AND (mk - m1) * 100 > {_ADI_X100} * (k - 1)
    ), zt AS (
        SELECT r.part,
               SUM(CAST(r.q AS HUGEINT)
                   * (CAST(1 AS BIGINT) << CAST({CROSTON_L}
                      - (CASE WHEN r.rn = 1 THEN e.k - 1
                              ELSE e.k - r.rn + 1 END) AS INT))) AS z_lat
        FROM r JOIN elig e USING (part)
        WHERE (CASE WHEN r.rn = 1 THEN e.k - 1 ELSE e.k - r.rn + 1 END)
              <= {CROSTON_L}
        GROUP BY 1
    ), pt AS (
        SELECT r.part,
               SUM(CAST(r.gap AS HUGEINT)
                   * (CAST(1 AS BIGINT) << CAST({CROSTON_L}
                      - (CASE WHEN r.rn = 2 THEN e.k - 2
                              ELSE e.k - r.rn + 1 END) AS INT))) AS p_lat
        FROM r JOIN elig e USING (part)
        WHERE r.rn >= 2
          AND (CASE WHEN r.rn = 2 THEN e.k - 2 ELSE e.k - r.rn + 1 END)
              <= {CROSTON_L}
        GROUP BY 1
    )
    SELECT z.part AS partkey, e.k AS n_demand_months,
           {_CR_Z} AS croston_demand_units,
           {_CR_P} AS croston_interval_months,
           {_CR_R} AS croston_units_per_month
    FROM zt z JOIN pt p ON p.part = z.part JOIN elig e ON e.part = z.part
    ORDER BY p_lat DESC, z_lat DESC, partkey
    LIMIT 25
    """,
)
def ext_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand: per part, SES
    (alpha = 1/2, the ext_ses_forecast dyadic lattice) over the NONZERO
    monthly demand sizes and separately over the inter-demand intervals;
    the demand rate forecast is their ratio — the standard forecaster
    for sparse/spiky series where plain SES systematically undershoots
    (Croston 1972). Parts qualify as intermittent when their average
    demand interval exceeds 1.32 months (the Syntetos-Boylan cutoff,
    checked as the exact integer cross-multiplication
    (span * 100 > 132 * (K-1))). Reports the 25 slowest movers (largest
    smoothed interval; exact-lattice descending order, part tiebreak).

    Determinism: both smoothed levels live on the 2^{CROSTON_L} integer
    lattice (alpha = 1/2 makes every SES weight a power of two; terms
    below 2^-{CROSTON_L} are dropped on both engines identically);
    128-bit sums convert through Spark's correctly-rounded
    decimal->double and DuckDB's VARCHAR->double; the rate is a ratio
    of identical 128-bit integers; top-25 ordering compares exact
    lattice integers, never floats.

    Scale shape: one corpus-scale (part, month) collapse; every window
    after it is partitioned BY PART (bounded by #months per part); the
    SES "unroll" here is a plain per-part weighted aggregate (the
    weight depends only on rn and K — no term explode at all, unlike
    the per-month ext_ses_forecast); top-25 is TakeOrdered, not a
    global sort."""
    li = load(spark, sf_dir, "lineitem")
    d = (
        li.select(
            F.col("l_partkey").alias("part"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("m"),
            F.round(F.col("l_quantity")).cast("bigint").alias("q"),
        )
        .groupBy("part", "m")
        .agg(F.sum("q").cast("bigint").alias("q"))
    )
    w = Window.partitionBy("part").orderBy("m")
    w_all = Window.partitionBy("part")
    r = d.select(
        "part",
        "m",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("k"),
        (F.col("m") - F.lag("m").over(w)).alias("gap"),
        F.min("m").over(w_all).cast("bigint").alias("m1"),
        F.max("m").over(w_all).cast("bigint").alias("mk"),
    ).localCheckpoint(eager=False)  # windowed grid feeds elig, zt AND pt
    elig = r.filter(
        (F.col("rn") == 1)
        & (F.col("k") >= 2)
        & ((F.col("mk") - F.col("m1")) * 100 > _ADI_X100 * (F.col("k") - 1))
    ).select("part", "k")
    e_z = F.when(F.col("rn") == 1, F.col("k") - 1).otherwise(
        F.col("k") - F.col("rn") + 1
    )
    zt = (
        r.drop("k")
        .join(elig, "part")
        .withColumn("e", e_z)
        .filter(F.col("e") <= CROSTON_L)
        .groupBy("part")
        .agg(
            F.sum(
                F.col("q").cast("decimal(38,0)")
                * F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({CROSTON_L} - e AS INT))"
                )
            ).alias("z_lat")
        )
    )
    e_p = F.when(F.col("rn") == 2, F.col("k") - 2).otherwise(
        F.col("k") - F.col("rn") + 1
    )
    pt = (
        r.drop("k")
        .join(elig, "part")
        .filter(F.col("rn") >= 2)
        .withColumn("e", e_p)
        .filter(F.col("e") <= CROSTON_L)
        .groupBy("part")
        .agg(
            F.sum(
                F.col("gap").cast("decimal(38,0)")
                * F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({CROSTON_L} - e AS INT))"
                )
            ).alias("p_lat")
        )
    )
    scale = float(2 ** CROSTON_L)
    return (
        zt.join(pt, "part")
        .join(elig, "part")
        .orderBy(F.col("p_lat").desc(), F.col("z_lat").desc(), F.col("part"))
        .limit(25)
        .select(
            F.col("part").alias("partkey"),
            F.col("k").alias("n_demand_months"),
            F.round(F.col("z_lat").cast("double") / scale, 6).alias(
                "croston_demand_units"
            ),
            F.round(F.col("p_lat").cast("double") / scale, 6).alias(
                "croston_interval_months"
            ),
            F.round(
                F.col("z_lat").cast("double") / F.col("p_lat").cast("double"), 6
            ).alias("croston_units_per_month"),
        )
    )


# ---------------------------------------------------------------------------
# ext_cramers_v — categorical association matrix across column pairs
# ---------------------------------------------------------------------------

_CV_CHI2 = dround("SUM(units) / 1000000000.0", 6)
_CV_V = dround(
    """sqrt((SUM(units) / 1000000000.0)
       / (MAX(n) * LEAST(MAX(nr) - 1, MAX(nc) - 1)))""",
    6,
)


@register(
    "ext_cramers_v",
    f"""
    WITH raw AS (
        SELECT 'returnflag_x_linestatus' AS pair, l_returnflag AS a,
               l_linestatus AS b
        FROM lineitem
        UNION ALL
        SELECT 'brand_x_type', p_brand, p_type FROM part
        UNION ALL
        SELECT 'orderpriority_x_orderstatus', o_orderpriority, o_orderstatus
        FROM orders
        UNION ALL
        SELECT 'mktsegment_x_nation', c.c_mktsegment, n.n_name
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), g AS (
        SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS obs
        FROM raw GROUP BY 1, 2, 3
    ), t AS MATERIALIZED (
        SELECT pair, a, b, obs,
               CAST(SUM(obs) OVER (PARTITION BY pair, a) AS BIGINT) AS rt,
               CAST(SUM(obs) OVER (PARTITION BY pair, b) AS BIGINT) AS ct,
               CAST(SUM(obs) OVER (PARTITION BY pair) AS BIGINT) AS n
        FROM g
    ), dims AS (
        SELECT pair, CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT b) AS BIGINT) AS nc
        FROM g GROUP BY 1
    ), u AS (
        SELECT t.pair, t.n, d.nr, d.nc,
               CAST(ROUND(
                   (t.obs - (t.rt * t.ct) * 1.0 / t.n)
                   * (t.obs - (t.rt * t.ct) * 1.0 / t.n)
                   / ((t.rt * t.ct) * 1.0 / t.n) * 1000000000.0
               ) AS BIGINT) AS units
        FROM t JOIN dims d ON d.pair = t.pair
    )
    SELECT pair, MAX(n) AS n, MAX(nr) AS n_rows, MAX(nc) AS n_cols,
           (MAX(nr) - 1) * (MAX(nc) - 1) AS dof,
           {_CV_CHI2} AS chi2,
           {_CV_V} AS cramers_v
    FROM u
    GROUP BY pair
    ORDER BY pair
    """,
)
def ext_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association matrix: Cramér's V (with the underlying
    chi-square) for five column pairs at once — the screen a feature
    platform runs over ALL candidate categorical pairs to find
    redundant/entangled dimensions, generalizing
    ext_chi2_independence's single pair to a stacked multi-pair pass.

    Determinism: the ext_drift_psi / ext_chi2_independence discipline —
    counts and marginals are exact BIGINTs, each cell's (o-e)^2/e is
    frozen to integer nano-units BEFORE the per-pair sum, and V derives
    from the summed integer with one identical float sequence (divide,
    divide, sqrt), dround(6).

    Scale shape: the union stacks (pair, a, b) tuples and collapses
    them in ONE map-side-combined aggregate to at most a few hundred
    cells total; marginals are grid-sized windows partitioned by pair;
    every scan reads only the two columns its pair needs (column
    pruning per branch)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    raw = (
        li.select(
            F.lit("returnflag_x_linestatus").alias("pair"),
            F.col("l_returnflag").alias("a"),
            F.col("l_linestatus").alias("b"),
        )
        .unionByName(
            p.select(
                F.lit("brand_x_type").alias("pair"),
                F.col("p_brand").alias("a"),
                F.col("p_type").alias("b"),
            )
        )
        .unionByName(
            o.select(
                F.lit("orderpriority_x_orderstatus").alias("pair"),
                F.col("o_orderpriority").alias("a"),
                F.col("o_orderstatus").alias("b"),
            )
        )
        .unionByName(
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
                F.lit("mktsegment_x_nation").alias("pair"),
                F.col("c_mktsegment").alias("a"),
                F.col("n_name").alias("b"),
            )
        )
    )
    g = raw.groupBy("pair", "a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    ).localCheckpoint(eager=False)  # cell grid feeds marginals AND dims
    t = g.select(
        "pair",
        "a",
        "b",
        "obs",
        F.sum("obs").over(Window.partitionBy("pair", "a")).cast("bigint").alias("rt"),
        F.sum("obs").over(Window.partitionBy("pair", "b")).cast("bigint").alias("ct"),
        F.sum("obs").over(Window.partitionBy("pair")).cast("bigint").alias("n"),
    )
    dims = g.groupBy("pair").agg(
        F.countDistinct("a").cast("bigint").alias("nr"),
        F.countDistinct("b").cast("bigint").alias("nc"),
    )
    e = (F.col("rt") * F.col("ct")) * 1.0 / F.col("n")
    u = t.join(F.broadcast(dims), "pair").select(
        "pair",
        "n",
        "nr",
        "nc",
        F.round((F.col("obs") - e) * (F.col("obs") - e) / e * 1000000000.0)
        .cast("bigint")
        .alias("units"),
    )
    return (
        u.groupBy("pair")
        .agg(
            F.max("n").alias("n"),
            F.max("nr").alias("n_rows"),
            F.max("nc").alias("n_cols"),
            ((F.max("nr") - 1) * (F.max("nc") - 1)).alias("dof"),
            F.round(F.sum("units") / 1000000000.0, 6).alias("chi2"),
            F.round(
                F.sqrt(
                    (F.sum("units") / 1000000000.0)
                    / (F.max("n") * F.least(F.max("nr") - 1, F.max("nc") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# ext_price_volume_mix — YoY revenue bridge per brand (price/volume split)
# ---------------------------------------------------------------------------

_PVM_VOL = dround("SUM(vol_mc) / 1000.0", 6)
_PVM_PM = dround("SUM(pm_mc) / 1000.0", 6)


@register(
    "ext_price_volume_mix",
    f"""
    WITH yy AS MATERIALIZED (
        SELECT CAST(MAX(year(l_shipdate)) AS BIGINT) AS y1 FROM lineitem
    ), py AS MATERIALIZED (
        SELECT p.p_brand AS brand, l.l_partkey AS part,
               CAST(year(l.l_shipdate) AS BIGINT) AS yr, y.y1,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS rev,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        CROSS JOIN yy y
        WHERE year(l.l_shipdate) >= y.y1 - 1
        GROUP BY 1, 2, 3, 4
    ), w AS MATERIALIZED (
        SELECT brand, part,
               CAST(COALESCE(MAX(CASE WHEN yr = y1 - 1 THEN rev END), 0)
                    AS BIGINT) AS rev0,
               CAST(COALESCE(MAX(CASE WHEN yr = y1 - 1 THEN q END), 0)
                    AS BIGINT) AS q0,
               CAST(COALESCE(MAX(CASE WHEN yr = y1 THEN rev END), 0)
                    AS BIGINT) AS rev1,
               CAST(COALESCE(MAX(CASE WHEN yr = y1 THEN q END), 0)
                    AS BIGINT) AS q1
        FROM py GROUP BY 1, 2
    ), eff AS (
        SELECT brand,
               CASE WHEN q0 > 0 AND q1 > 0 THEN 1 ELSE 0 END AS both_yr,
               rev1 - rev0 AS d_rev,
               CASE WHEN q0 > 0 AND q1 > 0
                    THEN CAST(FLOOR((q1 - q0) * rev0 * 1000.0 / q0 + 0.5)
                              AS BIGINT) ELSE 0 END AS vol_mc,
               CASE WHEN q0 > 0 AND q1 > 0
                    THEN CAST(FLOOR((rev1 * q0 - rev0 * q1) * 1000.0 / q0 + 0.5)
                              AS BIGINT) ELSE 0 END AS pm_mc,
               CASE WHEN q0 = 0 THEN rev1 ELSE 0 END AS new_rev,
               CASE WHEN q1 = 0 THEN rev0 ELSE 0 END AS disc_rev
        FROM w
    )
    SELECT brand,
           CAST(SUM(both_yr) AS BIGINT) AS n_parts_both,
           CAST(SUM(d_rev) AS BIGINT) AS d_rev_cents,
           {_PVM_VOL} AS volume_effect_cents,
           {_PVM_PM} AS price_mix_effect_cents,
           CAST(SUM(new_rev) AS BIGINT) AS new_parts_cents,
           CAST(SUM(disc_rev) AS BIGINT) AS discontinued_cents
    FROM eff
    GROUP BY brand
    ORDER BY brand
    """,
)
def ext_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge per brand: the change in revenue
    between the latest shipping year and the one before, decomposed per
    part into a VOLUME effect ((q1-q0) * p0, valued at last year's unit
    price) and a PRICE/MIX effect (q1 * (p1-p0) = (rev1*q0 - rev0*q1)/q0
    — exact algebra, the two effects sum to d_rev for every part sold
    in both years), plus the revenue of newly introduced and
    discontinued parts — the finance price-volume-mix waterfall, at
    part grain rolled to brand.

    Determinism: per-part (year, revenue-cents, quantity) are exact
    integers; each effect is frozen per part to integer MILLI-cents via
    FLOOR(x + 0.5) — exact-floor plus one correctly-rounded addition,
    bit-identical on both engines regardless of round() tie modes —
    BEFORE the brand sum. Numerators stay below 2^53 while per-part
    yearly revenue-cents x quantity < 2^43 (document bound: ~9 x 10^5
    parts/brand-year at 100 TB still holds; no silent cap).

    Scale shape: one corpus-scale (brand, part, year) collapse with the
    year filter pushed to the scan (two years read, not seven); the
    per-part pivot and effects are a second hash aggregate on
    (brand, part); brand rollup is map-side combined onto ~25 keys."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    yy = li.agg(F.max(F.year("l_shipdate")).cast("bigint").alias("y1"))
    py = (
        li.join(F.broadcast(yy))
        .filter(F.year("l_shipdate") >= F.col("y1") - 1)
        .join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_partkey").alias("part"),
            F.year("l_shipdate").cast("bigint").alias("yr"),
            "y1",
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("bigint")
            )
            .cast("bigint")
            .alias("rev"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("q"),
        )
    )
    w = py.groupBy("brand", "part").agg(
        F.coalesce(
            F.max(F.when(F.col("yr") == F.col("y1") - 1, F.col("rev"))), F.lit(0)
        )
        .cast("bigint")
        .alias("rev0"),
        F.coalesce(
            F.max(F.when(F.col("yr") == F.col("y1") - 1, F.col("q"))), F.lit(0)
        )
        .cast("bigint")
        .alias("q0"),
        F.coalesce(F.max(F.when(F.col("yr") == F.col("y1"), F.col("rev"))), F.lit(0))
        .cast("bigint")
        .alias("rev1"),
        F.coalesce(F.max(F.when(F.col("yr") == F.col("y1"), F.col("q"))), F.lit(0))
        .cast("bigint")
        .alias("q1"),
    )
    both = (F.col("q0") > 0) & (F.col("q1") > 0)
    eff = w.select(
        "brand",
        F.when(both, 1).otherwise(0).alias("both_yr"),
        (F.col("rev1") - F.col("rev0")).alias("d_rev"),
        F.when(
            both,
            F.floor(
                (F.col("q1") - F.col("q0")) * F.col("rev0") * 1000.0 / F.col("q0")
                + 0.5
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("vol_mc"),
        F.when(
            both,
            F.floor(
                (F.col("rev1") * F.col("q0") - F.col("rev0") * F.col("q1"))
                * 1000.0
                / F.col("q0")
                + 0.5
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("pm_mc"),
        F.when(F.col("q0") == 0, F.col("rev1")).otherwise(F.lit(0)).alias("new_rev"),
        F.when(F.col("q1") == 0, F.col("rev0")).otherwise(F.lit(0)).alias("disc_rev"),
    )
    return (
        eff.groupBy("brand")
        .agg(
            F.sum("both_yr").cast("bigint").alias("n_parts_both"),
            F.sum("d_rev").cast("bigint").alias("d_rev_cents"),
            F.round(F.sum("vol_mc") / 1000.0, 6).alias("volume_effect_cents"),
            F.round(F.sum("pm_mc") / 1000.0, 6).alias("price_mix_effect_cents"),
            F.sum("new_rev").cast("bigint").alias("new_parts_cents"),
            F.sum("disc_rev").cast("bigint").alias("discontinued_cents"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# ext_qq_points — Q-Q comparison of order-value distributions (F vs O)
# ---------------------------------------------------------------------------

_QQ_RATIO = dround(
    "MAX(CASE WHEN st = 'F' THEN qv END) * 1.0"
    " / MAX(CASE WHEN st = 'O' THEN qv END)",
    6,
)


@register(
    "ext_qq_points",
    f"""
    WITH v AS (
        SELECT o_orderstatus AS st,
               CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0)
                    AS BIGINT) AS d
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), g AS MATERIALIZED (
        SELECT st, d, CAST(COUNT(*) AS BIGINT) AS cnt,
               SUM(CAST(COUNT(*) AS BIGINT)) OVER (
                   PARTITION BY st ORDER BY d ROWS UNBOUNDED PRECEDING
               ) AS cum,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY st) AS BIGINT) AS n
        FROM v GROUP BY 1, 2
    ), ps AS (
        SELECT CAST(UNNEST(generate_series(5, 95, 5)) AS BIGINT) AS p
    ), q AS (
        SELECT ps.p, g.st, CAST(MIN(g.d) AS BIGINT) AS qv
        FROM ps JOIN g ON g.cum * 100 >= ps.p * g.n
        GROUP BY 1, 2
    )
    SELECT p AS percentile,
           MAX(CASE WHEN st = 'F' THEN qv END) AS q_f_dollars,
           MAX(CASE WHEN st = 'O' THEN qv END) AS q_o_dollars,
           {_QQ_RATIO} AS qq_ratio
    FROM q
    GROUP BY p
    ORDER BY p
    """,
)
def ext_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q comparison of fulfilled ('F') vs open ('O') order-value
    distributions: the exact lower empirical quantile (type-1, smallest
    value whose cumulative count reaches ceil(p*n/100)) of each group at
    the 5%..95% grid, paired per percentile with their ratio — the
    distribution-shift diagnostic that SHOWS WHERE two distributions
    diverge, complementing ext_two_sample_ks's single max-gap number.

    Determinism: order values are quantized to exact whole dollars
    (FLOOR of exact cents/100); quantiles are exact order statistics
    selected by the integer cross-multiplication cum*100 >= p*n (never
    interpolated — the percentile-interpolation trap is structurally
    avoided); the ratio is a ratio of exact integers, dround(6).

    Scale shape: the cumulative window runs on the COLLAPSED
    (status, dollar) grid — bounded by the value range, not the order
    count; the 19-row percentile grid broadcast-joins against it; the
    per-(p, status) MIN is a tiny aggregate."""
    o = load(spark, sf_dir, "orders")
    v = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.col("o_orderstatus").alias("st"),
        F.floor(F.round(F.col("o_totalprice") * 100).cast("bigint") / 100.0)
        .cast("bigint")
        .alias("d"),
    )
    w_cum = (
        Window.partitionBy("st")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        v.groupBy("st", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("st")).cast("bigint")
        )
    )
    ps = spark.range(1, 20).select((F.col("id") * 5).cast("bigint").alias("p"))
    q = (
        g.join(F.broadcast(ps), F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p", "st")
        .agg(F.min("d").cast("bigint").alias("qv"))
    )
    return (
        q.groupBy("p")
        .agg(
            F.max(F.when(F.col("st") == "F", F.col("qv"))).alias("q_f_dollars"),
            F.max(F.when(F.col("st") == "O", F.col("qv"))).alias("q_o_dollars"),
            F.round(
                F.max(F.when(F.col("st") == "F", F.col("qv"))) * 1.0
                / F.max(F.when(F.col("st") == "O", F.col("qv"))),
                6,
            ).alias("qq_ratio"),
        )
        .select(
            F.col("p").alias("percentile"),
            "q_f_dollars",
            "q_o_dollars",
            "qq_ratio",
        )
        .orderBy("percentile")
    )


# ---------------------------------------------------------------------------
# ext_backlog_aging — open-order aging buckets as of the data horizon
# ---------------------------------------------------------------------------

_BA_SHARE = dround(
    "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * 1.0"
    " / MAX(tot.total_cents)",
    6,
)


@register(
    "ext_backlog_aging",
    f"""
    WITH horizon AS MATERIALIZED (
        SELECT MAX(o_orderdate) AS h FROM orders
    ), open_o AS MATERIALIZED (
        SELECT o.o_orderpriority AS priority,
               CASE WHEN date_diff('day', o.o_orderdate, hz.h) <= 30 THEN '0_030d'
                    WHEN date_diff('day', o.o_orderdate, hz.h) <= 90 THEN '1_031_090d'
                    WHEN date_diff('day', o.o_orderdate, hz.h) <= 180 THEN '2_091_180d'
                    WHEN date_diff('day', o.o_orderdate, hz.h) <= 365 THEN '3_181_365d'
                    ELSE '4_over_1y' END AS age_bucket,
               o.o_totalprice
        FROM orders o CROSS JOIN horizon hz
        WHERE o.o_orderstatus IN ('O', 'P')
    ), tot AS (
        SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
        FROM open_o
    )
    SELECT priority, age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS backlog_cents,
           {_BA_SHARE} AS backlog_share
    FROM open_o CROSS JOIN tot
    GROUP BY priority, age_bucket, tot.total_cents
    ORDER BY priority, age_bucket
    """,
)
def ext_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: every order still open or partially
    fulfilled ('O'/'P') bucketed by its age at the data horizon (the
    max order date), crossed with order priority — count, backlog value
    and share of total backlog per cell. The operations report that
    answers "how much old demand is sitting unfulfilled, and is any of
    it urgent?".

    Determinism: ages are exact integer day diffs against the exact MAX
    horizon; bucket edges are integer compares; money is exact cents;
    the share is a ratio of exact integers, dround(6).

    Scale shape: the status filter pushes to the scan; the horizon is a
    1-row broadcast; the aggregate map-side-combines onto <=25
    (priority, bucket) cells. No corpus-scale shuffle beyond the one
    aggregate."""
    o = load(spark, sf_dir, "orders")
    hz = o.agg(F.max("o_orderdate").alias("h"))
    age = F.datediff(F.col("h"), F.col("o_orderdate"))
    open_o = (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .join(F.broadcast(hz))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.when(age <= 30, "0_030d")
            .when(age <= 90, "1_031_090d")
            .when(age <= 180, "2_091_180d")
            .when(age <= 365, "3_181_365d")
            .otherwise("4_over_1y")
            .alias("age_bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .localCheckpoint(eager=False)  # feeds the cell aggregate AND the total
    )
    tot = open_o.agg(F.sum("cents").cast("bigint").alias("total_cents"))
    return (
        open_o.join(F.broadcast(tot))
        .groupBy("priority", "age_bucket", "total_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("backlog_cents"),
        )
        .select(
            "priority",
            "age_bucket",
            "n_orders",
            "backlog_cents",
            F.round(F.col("backlog_cents") * 1.0 / F.col("total_cents"), 6).alias(
                "backlog_share"
            ),
        )
        .orderBy("priority", "age_bucket")
    )


# ---------------------------------------------------------------------------
# ext_new_vs_returning — monthly order mix by customer tenure
# ---------------------------------------------------------------------------

_NVR_SHARE = dround("SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 6)


@register(
    "ext_new_vs_returning",
    f"""
    WITH o AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), first_m AS MATERIALIZED (
        SELECT o_custkey, MIN(month) AS first_month FROM o GROUP BY 1
    ), tagged AS (
        SELECT o.month,
               CASE WHEN o.month = f.first_month THEN 1 ELSE 0 END AS is_new,
               o.cents
        FROM o JOIN first_m f ON f.o_custkey = o.o_custkey
    )
    SELECT month,
           CAST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS new_cust_orders,
           CAST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_orders,
           CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS new_cust_cents,
           CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS BIGINT)
               AS returning_cents,
           {_NVR_SHARE} AS new_order_share
    FROM tagged
    GROUP BY month
    ORDER BY month
    """,
)
def ext_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly new-vs-returning order mix: each order is tagged by
    whether its month is the ordering customer's FIRST month, and each
    month reports order counts, revenue and the new-order share — the
    top-of-dashboard growth-accounting split (ext_revenue_waterfall
    explains the revenue delta; this explains WHO drove it).

    Determinism: first months are exact MINs; tags are integer
    compares; money is exact cents; the share is a ratio of exact
    integers, dround(6).

    Scale shape: one (custkey, month) collapse for first months, one
    shuffle join back on custkey (both sides partial-aggregate
    map-side), then a map-side-combined rollup onto ~#months keys. At
    100 TB the custkey join is the only corpus-scale shuffle and it
    carries three narrow columns."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first_m = o.groupBy("o_custkey").agg(F.min("month").alias("first_month"))
    tagged = o.join(first_m, "o_custkey").select(
        "month",
        F.when(F.col("month") == F.col("first_month"), 1).otherwise(0).alias(
            "is_new"
        ),
        "cents",
    )
    return (
        tagged.groupBy("month")
        .agg(
            F.sum(F.when(F.col("is_new") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("new_cust_orders"),
            F.sum(F.when(F.col("is_new") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("returning_orders"),
            F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("new_cust_cents"),
            F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("returning_cents"),
            F.round(
                F.sum(F.when(F.col("is_new") == 1, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("new_order_share"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# ext_price_dispersion — per-part unit-price consistency screen
# ---------------------------------------------------------------------------

_PD_MEAN = dround("CAST(sx AS DOUBLE) / n / 1000.0", 6)
_PD_CV = dround(
    """sqrt(CAST(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                 AS VARCHAR) AS DOUBLE))
       / CAST(sx AS DOUBLE)""",
    6,
)


@register(
    "ext_price_dispersion",
    f"""
    WITH u AS (
        SELECT l_partkey AS part,
               CAST(ROUND(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 10.0
                          / CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS up_mc
        FROM lineitem
        WHERE CAST(ROUND(l_quantity) AS BIGINT) > 0
    ), mom AS MATERIALIZED (
        SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(up_mc) AS BIGINT) AS sx,
               CAST(SUM(CAST(up_mc AS HUGEINT) * up_mc) AS HUGEINT) AS sxx
        FROM u GROUP BY 1
    ), scored AS MATERIALIZED (
        SELECT part, n, sx, sxx,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS disp
        FROM mom WHERE n >= 5 AND sx > 0
    )
    SELECT part AS partkey, n AS n_sales,
           {_PD_MEAN} AS mean_unit_price_cents,
           {_PD_CV} AS cv_unit_price
    FROM scored
    ORDER BY CAST(CAST(disp AS VARCHAR) AS DOUBLE)
             / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) DESC, part
    LIMIT 25
    """,
)
def ext_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part unit-price dispersion screen: the coefficient of
    variation of the realized unit price (extended price / quantity)
    across a part's line items, reporting the 25 most price-inconsistent
    parts — the pricing-governance check for discounting leakage and
    data errors (a part selling at wildly different unit prices).

    Determinism: unit prices are frozen per row to integer DECI-cents
    (ROUND of cents*10/qty, a ratio of exact integers — the theilsen
    slope discipline); moments are exact (second moment 128-bit);
    n*sxx - sx^2 is exact 128-bit; CV converts through the correctly-
    rounded VARCHAR->double path; the top-25 ordering compares
    n-normalized dispersion by exact 128-bit integer DIVISION
    (disp * 1e6 // sx^2) with part tiebreak — CV^2's n-scaling (same n
    >= 5 floor applies to ties only via the integer quotient) never
    consults a float.

    Scale shape: one (part) aggregate with map-side combine; the rank
    is TakeOrdered over #parts rows; no window anywhere."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    u = li.filter(qty > 0).select(
        F.col("l_partkey").alias("part"),
        F.round(
            F.round(F.col("l_extendedprice") * 100).cast("bigint") * 10.0 / qty
        )
        .cast("bigint")
        .alias("up_mc"),
    )
    d = "decimal(38,0)"
    mom = u.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("up_mc").cast("bigint").alias("sx"),
        F.sum(F.col("up_mc").cast(d) * F.col("up_mc")).cast(d).alias("sxx"),
    )
    scored = mom.filter((F.col("n") >= 5) & (F.col("sx") > 0)).withColumn(
        "disp",
        (F.col("n").cast(d) * F.col("sxx") - F.col("sx").cast(d) * F.col("sx")).cast(
            d
        ),
    )
    rank_key = F.col("disp").cast("string").cast("double") / (
        F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        scored.orderBy(rank_key.desc(), F.col("part"))
        .limit(25)
        .select(
            F.col("part").alias("partkey"),
            F.col("n").alias("n_sales"),
            F.round(F.col("sx").cast("double") / F.col("n") / 1000.0, 6).alias(
                "mean_unit_price_cents"
            ),
            F.round(
                F.sqrt(F.col("disp").cast("string").cast("double"))
                / F.col("sx").cast("double"),
                6,
            ).alias("cv_unit_price"),
        )
    )


# ---------------------------------------------------------------------------
# ext_value_band_migration — YoY customer spend-band transition matrix
# ---------------------------------------------------------------------------

# Band edges in exact cents: 1k$, 5k$, 20k$ annual spend.
_VB_EDGES = (100_000, 500_000, 2_000_000)

_VB_CASE_SQL = f"""CASE WHEN spend IS NULL OR spend = 0 THEN '0_none'
         WHEN spend < {_VB_EDGES[0]} THEN '1_under_1k'
         WHEN spend < {_VB_EDGES[1]} THEN '2_1k_5k'
         WHEN spend < {_VB_EDGES[2]} THEN '3_5k_20k'
         ELSE '4_over_20k' END"""

_VB_SHARE = dround("COUNT(*) * 1.0 / MAX(tot.n_total)", 6)


@register(
    "ext_value_band_migration",
    f"""
    WITH yy AS MATERIALIZED (
        SELECT CAST(MAX(year(o_orderdate)) AS BIGINT) AS y1 FROM orders
    ), sp AS MATERIALIZED (
        SELECT o.o_custkey AS cust, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS spend
        FROM orders o CROSS JOIN yy y
        WHERE year(o.o_orderdate) >= y.y1 - 1
        GROUP BY 1, 2
    ), piv AS MATERIALIZED (
        SELECT sp.cust,
               MAX(CASE WHEN sp.yr = y.y1 - 1 THEN sp.spend END) AS spend0,
               MAX(CASE WHEN sp.yr = y.y1 THEN sp.spend END) AS spend1
        FROM sp CROSS JOIN yy y
        GROUP BY 1
    ), banded AS MATERIALIZED (
        SELECT cust,
               {_VB_CASE_SQL.replace('spend', 'spend0')} AS band_from,
               {_VB_CASE_SQL.replace('spend', 'spend1')} AS band_to,
               COALESCE(spend1, 0) AS spend1_cents
        FROM piv
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM banded
    )
    SELECT band_from, band_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(spend1_cents) AS BIGINT) AS to_year_cents,
           {_VB_SHARE} AS customer_share
    FROM banded CROSS JOIN tot
    GROUP BY band_from, band_to
    ORDER BY band_from, band_to
    """,
)
def ext_value_band_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer value-band migration: every customer
    active in either of the last two order years is assigned a spend
    band per year (none / <1k / 1k-5k / 5k-20k / >20k dollars, exact
    cent edges) and the transition matrix reports counts, destination-
    year revenue and customer share per (from, to) cell — the
    upsell/downgrade/churn picture behind ext_revenue_waterfall's
    aggregate deltas, at band grain.

    Determinism: yearly spends are exact cent sums; band edges are
    exact integer compares (no float can sit on an edge); the share is
    a ratio of exact integers, dround(6).

    Scale shape: the two-year filter pushes to the scan; one
    (cust, year) collapse, one (cust) pivot — both map-side combined —
    then a rollup onto <=25 matrix cells. The only corpus-scale
    shuffle key is custkey."""
    o = load(spark, sf_dir, "orders")
    yy = o.agg(F.max(F.year("o_orderdate")).cast("bigint").alias("y1"))
    sp = (
        o.join(F.broadcast(yy))
        .filter(F.year("o_orderdate") >= F.col("y1") - 1)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
            "y1",
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("spend")
        )
    )
    piv = sp.groupBy("cust").agg(
        F.max(F.when(F.col("yr") == F.col("y1") - 1, F.col("spend"))).alias(
            "spend0"
        ),
        F.max(F.when(F.col("yr") == F.col("y1"), F.col("spend"))).alias("spend1"),
    )

    def band(col: str):
        c = F.col(col)
        return (
            F.when(c.isNull() | (c == 0), "0_none")
            .when(c < _VB_EDGES[0], "1_under_1k")
            .when(c < _VB_EDGES[1], "2_1k_5k")
            .when(c < _VB_EDGES[2], "3_5k_20k")
            .otherwise("4_over_20k")
        )

    banded = piv.select(
        "cust",
        band("spend0").alias("band_from"),
        band("spend1").alias("band_to"),
        F.coalesce(F.col("spend1"), F.lit(0)).alias("spend1_cents"),
    ).localCheckpoint(eager=False)  # feeds the matrix AND the total
    tot = banded.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        banded.join(F.broadcast(tot))
        .groupBy("band_from", "band_to", "n_total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("spend1_cents").cast("bigint").alias("to_year_cents"),
        )
        .select(
            "band_from",
            "band_to",
            "n_customers",
            "to_year_cents",
            F.round(F.col("n_customers") * 1.0 / F.col("n_total"), 6).alias(
                "customer_share"
            ),
        )
        .orderBy("band_from", "band_to")
    )


# ---------------------------------------------------------------------------
# ext_graph_kcore — bounded-round k-core peeling of the co-purchase graph
# ---------------------------------------------------------------------------

KCORE_K = 3  # the core order being peeled toward
KCORE_ROUNDS = 5  # peeling rounds (bounded-budget contract, both engines)


def _kcore_oracle() -> str:
    lines = [
        """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        p = f"e{r - 1}"
        lines.append(
            f""", n{r} AS MATERIALIZED (
        SELECT node FROM (
            SELECT u AS node FROM {p} UNION ALL SELECT v FROM {p}
        ) GROUP BY node HAVING COUNT(*) >= {KCORE_K}
    ), e{r} AS MATERIALIZED (
        SELECT e.u, e.v FROM {p} e
        JOIN n{r} x ON x.node = e.u
        JOIN n{r} y ON y.node = e.v
    )"""
        )
    stats = "\n    UNION ALL\n".join(
        f"""    SELECT {r} AS round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM n{r}) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"""
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return "".join(lines) + f"\n{stats}\n    ORDER BY round\n"


@register("ext_graph_kcore", _kcore_oracle())
def ext_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round {K}-core peeling of the co-purchase graph
    (k = KCORE_K, KCORE_ROUNDS rounds): each round drops nodes with
    degree < k and the edges touching them, reporting surviving node
    and edge counts per round — the dense-substructure extraction that
    follows ext_graph_triangles/_assortativity (cores are where the
    triangles live), with the same bounded-iteration contract as
    ext_graph_label_prop (a fixed round budget is the honest
    distributed form; full convergence is data-dependent).

    Determinism: everything is exact integer counting on exact distinct
    edges; no floats anywhere.

    Scale shape: the edge list is basket-bounded (the l_orderkey
    self-join); each round is one degree aggregate (map-side combined
    on node id) plus two hash joins back to the edge list — all
    shuffles keyed on node/edge ids; per-round results are
    localCheckpointed so the plan stays linear in rounds, not
    exponential. Cited parity anchor: /root/reference/models (no
    graph ops in the reference; beyond-reference surface)."""
    from ..ext.graph import shared_adjacency

    # session-shared persisted adjacency (memo family "graph", ext/graph.py);
    # the (u < v) edge list is a NARROW explode of the sorted neighbor
    # arrays — no basket shuffle, no pair distinct; oracle keeps the
    # self-join twin
    adj = shared_adjacency(
        spark,
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
    )
    edges = adj.select(
        F.col("node").alias("u"),
        F.explode(F.filter("nbrs", lambda n: n > F.col("node"))).alias("v"),
    ).localCheckpoint(eager=False)
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("node")
            # referenced 3x per round (two joins + the node count): pin it
            # so the degree aggregate runs once, not three times
            .localCheckpoint(eager=False)
        )
        edges = (
            edges.join(deg.withColumnRenamed("node", "u"), "u")
            .join(deg.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)  # keep the peeling plan linear
        )
        n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        stats.append(
            n_nodes.crossJoin(n_edges).select(
                F.lit(r).alias("round"), "n_nodes", "n_edges"
            )
        )
    out = stats[0]
    for s_df in stats[1:]:
        out = out.unionByName(s_df)
    return out.orderBy("round")


ext_graph_kcore.__doc__ = ext_graph_kcore.__doc__.replace("{K}", str(KCORE_K))


# ---------------------------------------------------------------------------
# ext_text_heaps_law — vocabulary-growth (Heaps' law) fit over the corpus
# ---------------------------------------------------------------------------

# Doc-count checkpoints: powers of two (filtered to <= corpus size at run
# time), so both engines see the identical grid at any sf.
_HEAPS_CHECKPOINTS = [2 ** j for j in range(4, 21)]

_HEAPS_BETA = dround(
    """CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       / CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE)""",
    6,
)
_HEAPS_ICPT = dround(
    """(CAST(sy AS DOUBLE) - (CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        / CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE)) * CAST(sx AS DOUBLE))
       / np / 1000000000.0""",
    6,
)


@register(
    "ext_text_heaps_law",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL.replace("text", "d.text")}) AS tok
        FROM documents d
    ), first_doc AS MATERIALIZED (
        SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS fd FROM toks GROUP BY 1
    ), nd AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), cps AS MATERIALIZED (
        SELECT c FROM (
            SELECT UNNEST(ARRAY{_HEAPS_CHECKPOINTS}) AS c
        ) CROSS JOIN nd WHERE c <= nd.n_docs
    ), pts AS MATERIALIZED (
        SELECT cp.c,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id < cp.c)
                   AS n_c,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM first_doc WHERE fd < cp.c)
                   AS v_c
        FROM cps cp
    ), lp AS (
        SELECT CAST(ROUND(ln(n_c) * 1000000000.0) AS BIGINT) AS x_n,
               CAST(ROUND(ln(v_c) * 1000000000.0) AS BIGINT) AS y_n
        FROM pts WHERE n_c > 0 AND v_c > 0
    ), mom AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS np,
               CAST(SUM(CAST(x_n AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(SUM(CAST(y_n AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x_n AS HUGEINT) * y_n) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x_n AS HUGEINT) * x_n) AS HUGEINT) AS sxx
        FROM lp
    )
    SELECT CAST(np AS BIGINT) AS n_checkpoints,
           {_HEAPS_BETA} AS heaps_beta,
           {_HEAPS_ICPT} AS heaps_ln_k
    FROM mom
    """,
)
def ext_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ~ K * n^beta, fitted by
    log-log OLS over doc-count checkpoints (powers of two up to the
    corpus size) — the corpus-statistics dial that tells a pipeline how
    fast the token vocabulary will keep growing at 100x the data (beta
    near 0.5 = healthy natural text; near 1 = ID-like noise flooding
    the vocab).

    The checkpoint trick: V at EVERY checkpoint comes from ONE pass —
    each token's first-occurrence doc id (MIN doc_id) is computed once,
    and V(c) is just a count of first_doc < c; no per-checkpoint corpus
    rescan.

    Determinism: checkpoint counts are exact integers; ln() values are
    frozen per checkpoint to integer nano-units (the ext_drift_psi
    ln discipline — identical int inputs, one correctly-rounded-enough
    libm call, nano rounding absorbs last-ulp drift) BEFORE the
    <=17-row OLS moments, which are exact 128-bit integers; slope and
    intercept are ratios through the VARCHAR->double path, dround(6).

    Scale shape: one token explode + (token) MIN aggregate (map-side
    combined), then checkpoint counting on the token-type table; the
    OLS runs on <=17 rows."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias(
            "tok"
        ),
    )
    first_doc = toks.groupBy("tok").agg(F.min("doc_id").cast("bigint").alias("fd"))
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    cps = (
        spark.createDataFrame(
            [(c,) for c in _HEAPS_CHECKPOINTS], "c bigint"
        )
        .join(F.broadcast(nd))
        .filter(F.col("c") <= F.col("n_docs"))
        .select("c")
    )
    n_c = (
        docs.join(F.broadcast(cps), F.col("doc_id") < F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
    )
    v_c = (
        first_doc.join(F.broadcast(cps), F.col("fd") < F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v_c"))
    )
    pts = n_c.join(v_c, "c").filter((F.col("n_c") > 0) & (F.col("v_c") > 0))
    lp = pts.select(
        F.round(F.log(F.col("n_c")) * 1000000000.0).cast("bigint").alias("x_n"),
        F.round(F.log(F.col("v_c")) * 1000000000.0).cast("bigint").alias("y_n"),
    )
    d = "decimal(38,0)"
    mom = lp.agg(
        F.count(F.lit(1)).cast(d).alias("np"),
        F.sum(F.col("x_n").cast(d)).cast(d).alias("sx"),
        F.sum(F.col("y_n").cast(d)).cast(d).alias("sy"),
        F.sum((F.col("x_n").cast(d) * F.col("y_n")).cast(d)).cast(d).alias("sxy"),
        F.sum((F.col("x_n").cast(d) * F.col("x_n")).cast(d)).cast(d).alias("sxx"),
    )
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d)
    den = (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d)
    beta = num.cast("string").cast("double") / den.cast("string").cast("double")
    return mom.select(
        F.col("np").cast("bigint").alias("n_checkpoints"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
            / F.col("np")
            / 1000000000.0,
            6,
        ).alias("heaps_ln_k"),
    )


# ---------------------------------------------------------------------------
# ext_order_cycle_time — inter-purchase-time distribution (exact quantiles)
# ---------------------------------------------------------------------------

_OCT_MEAN = dround("MAX(s.total_days) * 1.0 / MAX(s.n_gaps)", 6)


@register(
    "ext_order_cycle_time",
    f"""
    WITH g AS (
        SELECT CAST(date_diff('day',
                   LAG(o_orderdate) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ), o_orderdate) AS BIGINT) AS gap_d
        FROM orders
    ), gaps AS MATERIALIZED (
        SELECT gap_d FROM g WHERE gap_d IS NOT NULL
    ), grid AS MATERIALIZED (
        SELECT gap_d, CAST(COUNT(*) AS BIGINT) AS cnt,
               SUM(CAST(COUNT(*) AS BIGINT)) OVER (
                   ORDER BY gap_d ROWS UNBOUNDED PRECEDING
               ) AS cum,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
        FROM gaps GROUP BY 1
    ), ps AS (
        SELECT CAST(UNNEST([25, 50, 75, 90]) AS BIGINT) AS p
    ), q AS (
        SELECT ps.p, CAST(MIN(grid.gap_d) AS BIGINT) AS days
        FROM ps JOIN grid ON grid.cum * 100 >= ps.p * grid.n
        GROUP BY 1
    ), s AS (
        SELECT CAST(SUM(gap_d) AS BIGINT) AS total_days,
               CAST(COUNT(*) AS BIGINT) AS n_gaps
        FROM gaps
    )
    SELECT q.p AS percentile, q.days AS gap_days,
           {_OCT_MEAN} AS mean_gap_days
    FROM q CROSS JOIN s
    GROUP BY q.p, q.days
    ORDER BY percentile
    """,
)
def ext_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cycle time: the exact p25/p50/p75/p90 of the
    days-between-consecutive-orders distribution (per-customer gaps,
    pooled), with the mean alongside — the replenishment-cadence
    numbers behind reorder campaigns and churn-risk windows
    (ext_customer_rfm scores recency; this calibrates what "overdue"
    means).

    Determinism: gaps are exact integer day diffs from per-customer lag
    windows (orderkey tiebreak); quantiles are exact order statistics
    selected by integer cross-multiplication on the collapsed day grid
    (the ext_qq_points shape — never interpolated); the mean is a ratio
    of exact integers, dround(6).

    Scale shape: one custkey-partitioned lag window (bounded per
    customer), then the (gap-day) grid collapse — bounded by the date
    range, not the order count; the percentile probe is a 4-row
    broadcast against the grid."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
            .cast("bigint")
            .alias("gap_d")
        )
        .filter(F.col("gap_d").isNotNull())
        .localCheckpoint(eager=False)  # feeds the grid AND the mean
    )
    w_cum = Window.orderBy("gap_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grid = (
        gaps.groupBy("gap_d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn(
            "n", F.sum("cnt").over(Window.partitionBy(F.lit(1))).cast("bigint")
        )
    )
    ps = spark.createDataFrame([(25,), (50,), (75,), (90,)], "p bigint")
    q = (
        grid.join(F.broadcast(ps), F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(F.min("gap_d").cast("bigint").alias("days"))
    )
    s = gaps.agg(
        F.sum("gap_d").cast("bigint").alias("total_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
    )
    return (
        q.crossJoin(F.broadcast(s))
        .select(
            F.col("p").alias("percentile"),
            F.col("days").alias("gap_days"),
            F.round(F.col("total_days") * 1.0 / F.col("n_gaps"), 6).alias(
                "mean_gap_days"
            ),
        )
        .orderBy("percentile")
    )


# ---------------------------------------------------------------------------
# ext_window_funnel — time-bounded ordered funnel (signup -> click -> purchase)
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_DAYS = 7

_WF_R1 = dround("SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 6)
_WF_R2 = dround(
    """CASE WHEN SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) > 0
            THEN SUM(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) * 1.0
                 / SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END)
            ELSE 0.0 END""",
    6,
)


@register(
    "ext_window_funnel",
    f"""
    WITH s0 AS MATERIALIZED (
        SELECT user_id, MIN(epoch_us(ts)) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ), s1 AS MATERIALIZED (
        SELECT s0.user_id, s0.t0, MIN(epoch_us(e.ts)) AS t1
        FROM s0 JOIN events e ON e.user_id = s0.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > s0.t0
          AND epoch_us(e.ts) <= s0.t0 + {FUNNEL_WINDOW_DAYS} * 86400000000
        GROUP BY 1, 2
    ), s2 AS MATERIALIZED (
        SELECT s1.user_id, MIN(epoch_us(e.ts)) AS t2
        FROM s1 JOIN events e ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t1
          AND epoch_us(e.ts) <= s1.t0 + {FUNNEL_WINDOW_DAYS} * 86400000000
        GROUP BY 1
    ), depth AS (
        SELECT s0.user_id,
               CASE WHEN s2.user_id IS NOT NULL THEN 3
                    WHEN s1.user_id IS NOT NULL THEN 2
                    ELSE 1 END AS depth
        FROM s0
        LEFT JOIN s1 ON s1.user_id = s0.user_id
        LEFT JOIN s2 ON s2.user_id = s0.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_signup_users,
           CAST(SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clicked_in_window,
           CAST(SUM(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchased_in_window,
           {_WF_R1} AS click_rate,
           {_WF_R2} AS purchase_rate
    FROM depth
    """,
)
def ext_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel (ClickHouse windowFunnel semantics):
    for each user, signup -> first later click -> first later purchase,
    with ALL steps inside a {FUNNEL_WINDOW_DAYS}-day window opened at
    the user's first signup; reports users reaching each depth and
    step-through rates — the bounded-window variant of
    ext_event_funnel (whose steps may be months apart).

    Determinism: all comparisons are exact integer microseconds
    (epoch_us / unix_micros); rates are ratios of exact integers,
    dround(6).

    Scale shape (r10 single-shuffle rewrite): ONE scan of the three
    event types and ONE user_id-keyed Exchange; the three step times are
    stacked conditional-MIN windows over that same partitioning
    (unordered frames — no per-window sort), each conditioned on the
    previous step's windowed value, then a per-user collapse and a
    scalar report. The prior shape ran three filtered scans + three
    user-keyed shuffles + two step joins (plan audit: 6 events scans);
    now the corpus is read once and partitioned once (guide §2.4: window
    functions partitioned like the preceding shuffle need no second
    Exchange)."""
    ev = load(spark, sf_dir, "events")
    win_us = FUNNEL_WINDOW_DAYS * 86400000000
    ev3 = ev.filter(
        F.col("event_type").isin("signup", "click", "purchase")
    ).select("user_id", "event_type", F.unix_micros(F.col("ts")).alias("us"))
    w_u = Window.partitionBy("user_id")
    t0 = F.min(
        F.when(F.col("event_type") == "signup", F.col("us"))
    ).over(w_u)
    staged = ev3.withColumn("t0", t0).filter(F.col("t0").isNotNull())
    t1 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("us") > F.col("t0"))
            & (F.col("us") <= F.col("t0") + win_us),
            F.col("us"),
        )
    ).over(w_u)
    staged = staged.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("us") > F.col("t1"))
            & (F.col("us") <= F.col("t0") + win_us),
            F.col("us"),
        )
    ).over(w_u)
    depth = (
        staged.withColumn("t2", t2)
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("t2").isNotNull(), 3)
                .when(F.col("t1").isNotNull(), 2)
                .otherwise(1)
            ).alias("depth")
        )
    )
    d2 = F.sum(F.when(F.col("depth") >= 2, 1).otherwise(0))
    d3 = F.sum(F.when(F.col("depth") >= 3, 1).otherwise(0))
    return depth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_signup_users"),
        d2.cast("bigint").alias("n_clicked_in_window"),
        d3.cast("bigint").alias("n_purchased_in_window"),
        F.round(d2 * 1.0 / F.count(F.lit(1)), 6).alias("click_rate"),
        F.round(
            F.when(d2 > 0, d3 * 1.0 / d2).otherwise(F.lit(0.0)), 6
        ).alias("purchase_rate"),
    )
