"""Round-4 operators: distributed linear algebra, resampling statistics,
graph communities, recsys similarity, and marketing attribution.

Every key keeps the registry's exactness disciplines (see scale_ops.py):
integer quantization before any cross-engine float, ratio-of-identical-
integers for doubles, FLOOR (never engine-default int casts — DuckDB
rounds, Spark truncates) for quantization steps, total-order tiebreaks,
terminal dround(6).

New named patterns this module demonstrates:

- ext_embed_pca_power: distributed UNCENTERED PCA — the d x d Gram matrix
  as an n x d^2 map-side-combined aggregate, then power iteration entirely
  in exact integer arithmetic (max-abs normalization with FLOOR
  quantization), so the eigenvector is bit-identical across engines with
  no float-summation-order exposure at all.
- ext_bootstrap_ci: Poisson bootstrap — THE distributed bootstrap (each
  row carries an independent deterministic Poisson(1) weight per
  replicate, so resampling never needs a global n or a shared sample
  index). Weights come from an md5-derived uniform compared against
  precomputed INTEGER cdf thresholds, identical literals both engines.
- ext_graph_label_prop: synchronous min-label propagation over the
  co-purchase graph — bounded-round community detection (the k-round
  prefix of connected components, useful where full convergence is
  unnecessary and round count must be budgeted).
- ext_item_cooccur_cosine: item-item cosine from co-occurrence counts
  (c_ab / sqrt(c_a * c_b)) with per-item top-k — the classic
  collaborative-filtering neighbor table.
- ext_session_attribution: first-touch / last-touch revenue attribution
  over gap-sessionized event streams (IGNORE NULLS running last-value).
- ext_embed_pca_project: spectral outlier scan — one corpus pass against
  the broadcast eigenvector, two-level top-k.
- ext_source_lang_mix / ext_tokenizer_fertility / ext_text_readability /
  ext_text_template_mask: corpus-composition, tokenizer-cost, quality and
  boilerplate-family reports — all grid-sized after one collapse.
- ext_assoc_rules: directed market-basket rules with exact integer
  confidence/lift gates.
- ext_ts_decompose: additive trend/seasonal/residual with the detrended
  series held as exact integers (7r - S7).
- ext_embed_centroid_classify: Rocchio confusion grid; 128-bit exact
  distances via the correctly-rounded VARCHAR->DOUBLE oracle path.
- ext_customer_rfm: NTILE quintile scores -> CRM segments.
- ext_target_encode_loo: CatBoost-style leakage-controlled categorical
  encoding from one broadcast grid.
- ext_fk_discovery: inclusion-dependency probes with planted negatives.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext import text as tx
from ..memo import session_memo
from ..sources.readers import load, spread
from . import dround, register
from .llm_ops import _TOKS_SQL, _md5_32, _spark_md5_32

# ---------------------------------------------------------------------------
# ext_embed_pca_power
# ---------------------------------------------------------------------------

PCA_UNITS = 1000  # embedding + eigvec quantization: x_int = ROUND(x * units)
PCA_MAT_UNITS = 10**6  # matrix re-quantization units between squarings
PCA_SQUARINGS = 10  # G -> G^(2^10): effective power 1024
# Exactness bounds (documented, both engines): a squaring product is at
# most d * PCA_MAT_UNITS^2 = 64e12 < 2^53 REGARDLESS of corpus size (the
# matrix re-quantizes to +-1e6 after every squaring); the final Rayleigh
# product |G.v| <= d * max|G| * PCA_UNITS needs max|G| <= n * (max|x| *
# PCA_UNITS)^2 < 1.4e11, i.e. n < ~5e8 vectors — beyond that, shrink
# PCA_UNITS (the direction is scale-invariant).


def _pca_chain() -> str:
    """WITH-body (no 'WITH', no final SELECT) computing xq, gram and the
    dominant eigenvector CTE `v(dim, eigvec_unit)` — shared by the
    ext_embed_pca_power and ext_embed_pca_project oracles. Every CTE that
    is referenced more than once is MATERIALIZED: without the hint DuckDB
    inlines each reference and the squaring chain expands to 2^10 copies
    of the base scan (observed as an fd-exhaustion failure)."""
    gram = f"""
    xq AS MATERIALIZED (
        SELECT vec_id, i - 1 AS j,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {PCA_UNITS}) AS BIGINT) AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ), gram AS MATERIALIZED (
        SELECT a.j AS j, b.j AS k, CAST(SUM(a.x * b.x) AS BIGINT) AS g
        FROM xq a JOIN xq b USING (vec_id)
        GROUP BY 1, 2
    ), m0 AS MATERIALIZED (
        SELECT j, k,
               CAST(FLOOR(CAST(g AS DOUBLE)
                          / CAST((SELECT MAX(ABS(g)) FROM gram) AS DOUBLE)
                          * {PCA_MAT_UNITS}.0) AS BIGINT) AS g
        FROM gram
    )"""
    its = []
    for t in range(1, PCA_SQUARINGS + 1):
        its.append(
            f"""s{t} AS MATERIALIZED (
        SELECT a.j AS j, b.k AS k, CAST(SUM(a.g * b.g) AS BIGINT) AS g
        FROM m{t - 1} a JOIN m{t - 1} b ON a.k = b.j
        GROUP BY 1, 2
    ), m{t} AS MATERIALIZED (
        SELECT j, k,
               CAST(FLOOR(CAST(g AS DOUBLE)
                          / CAST((SELECT MAX(ABS(g)) FROM s{t}) AS DOUBLE)
                          * {PCA_MAT_UNITS}.0) AS BIGINT) AS g
        FROM s{t}
    )"""
        )
    last = PCA_SQUARINGS
    return (
        gram + ", " + ", ".join(its) + f"""
    , jstar AS (
        SELECT j FROM m{last} WHERE j = k ORDER BY g DESC, j LIMIT 1
    ), col AS MATERIALIZED (
        SELECT m.j, m.g FROM m{last} m, jstar WHERE m.k = jstar.j
    ), v AS MATERIALIZED (
        SELECT c.j AS dim,
               CAST(FLOOR(CAST(c.g AS DOUBLE)
                          / CAST((SELECT MAX(ABS(g)) FROM col) AS DOUBLE)
                          * {PCA_UNITS}.0) AS BIGINT) AS eigvec_unit
        FROM col c
    )"""
    )


def _pca_oracle() -> str:
    return (
        "WITH " + _pca_chain() + """
    , w AS (
        SELECT g.j AS dim, CAST(SUM(g.g * v.eigvec_unit) AS BIGINT) AS gram_vec_unit
        FROM gram g JOIN v ON v.dim = g.k
        GROUP BY 1
    )
    SELECT v.dim, v.eigvec_unit, w.gram_vec_unit
    FROM v JOIN w USING (dim)
    """
    )


def _quantize_mat(m: DataFrame, units: int) -> DataFrame:
    """FLOOR(g / max|g| * units) — exact-integer rescale. FLOOR, never an
    int cast: DuckDB CAST(double AS BIGINT) rounds while Spark truncates;
    FLOOR agrees bit-for-bit on the identical quotient doubles."""
    mx = m.agg(F.max(F.abs(F.col("g"))).alias("mx"))
    return m.crossJoin(F.broadcast(mx)).select(
        "j", "k",
        F.floor(
            F.col("g").cast("double") / F.col("mx").cast("double") * float(units)
        ).cast("bigint").alias("g"),
    )


def _pca_eigvec(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(gram, v): the exact-integer Gram matrix (j, k, g) and the dominant
    eigenvector (dim, eigvec_unit) via quantized repeated squaring —
    shared by ext_embed_pca_power, ext_embed_pca_project and
    ext_embed_isotropy, memoized per (session, sf_dir) as family ``pca``
    of the session memo (the Gram aggregate is the one corpus-sized stage
    in each; the frames are d^2=4096 and d=64 rows)."""
    return session_memo(spark, "pca", sf_dir, "gram_v", lambda: _pca_eigvec_build(spark, sf_dir))


def _pca_eigvec_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = load(spark, sf_dir, "embeddings")
    # Outer product WITHOUT a self-join: quantize the array once, then a
    # double posexplode streams the n x d^2 product rows straight into the
    # map-side-combined (j, k) aggregate — no shuffle until 4096 partials
    # (the self-join formulation shuffles the full exploded table first;
    # measured ~3x slower).
    arrq = emb.select(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * PCA_UNITS, 0).cast("bigint"),
        ).alias("aq")
    )
    pairs = arrq.select(
        F.posexplode("aq").alias("j", "xj"), "aq"
    ).select("j", "xj", F.posexplode("aq").alias("k", "xk"))
    gram = (
        pairs.groupBy("j", "k")
        .agg(F.sum(F.col("xj") * F.col("xk")).cast("bigint").alias("g"))
        .persist()  # feeds m0, the callers' reuse, and the session memo
    )
    # The squaring chain operates on d^2 = 4096-row frames: coalesce to ONE
    # partition so each of the PCA_SQUARINGS joins+aggregates is a single
    # task instead of shuffle_partitions tasks — at any corpus scale the
    # matrix side is d^2 rows, so this never limits parallelism (the
    # corpus-sized Gram aggregate above keeps full parallelism).
    m = _quantize_mat(gram, PCA_MAT_UNITS).coalesce(1)
    for _ in range(PCA_SQUARINGS):
        sq = (
            m.alias("a")
            .join(m.alias("b").withColumnRenamed("j", "k2"), F.col("a.k") == F.col("k2"))
            .groupBy(F.col("a.j").alias("j"), F.col("b.k").alias("k"))
            .agg(F.sum(F.col("a.g") * F.col("b.g")).cast("bigint").alias("g"))
        )
        m = _quantize_mat(sq, PCA_MAT_UNITS).coalesce(1).localCheckpoint(eager=False)
    jstar = (
        m.filter(F.col("j") == F.col("k"))
        .orderBy(F.desc("g"), "j")
        .limit(1)
        .select(F.col("j").alias("jstar"))
    )
    col = m.join(F.broadcast(jstar), m.k == F.col("jstar")).select("j", "g")
    v = (
        _quantize_mat(col.withColumn("k", F.lit(0)), PCA_UNITS)
        .select(F.col("j").alias("dim"), F.col("g").alias("eigvec_unit"))
        .persist()
    )
    return gram, v


@register("ext_embed_pca_power", _pca_oracle())
def ext_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus — distributed
    (uncentered) PCA, the building block behind whitening rotations, ABTT
    de-biasing ("all-but-the-top"), and low-rank drift monitors. Returns,
    per dimension, the unit-quantized dominant eigenvector of the Gram
    matrix G = X^T X plus G.v (their component ratio is the Rayleigh
    eigenvalue).

    Method: power iteration via REPEATED SQUARING — G^(2^{PCA_SQUARINGS})
    re-quantized to +-{PCA_MAT_UNITS} integers after every squaring, then
    the column at the largest diagonal entry (of a near-rank-1 matrix,
    every column is the dominant eigenvector). Real embedding corpora are
    near-isotropic (lambda2/lambda1 > 0.98 on this data), so plain
    k-round iteration cannot converge in bounded rounds; squaring reaches
    effective power 2^{PCA_SQUARINGS} in {PCA_SQUARINGS} d x d matrix
    multiplies, each a {64**3}-product join far from the corpus.
    Verified against numpy's eigh at every sf (tests/test_r4_ops.py).

    Exactness: embeddings quantize to integers (x * {PCA_UNITS}); G is an
    exact BIGINT aggregate; every squaring product is bounded by
    d * {PCA_MAT_UNITS}^2 = 6.4e13 < 2^53 INDEPENDENT of corpus size, so
    the rescale divides identical exact doubles and FLOOR lands both
    engines on the same integer (int casts disagree: DuckDB rounds,
    Spark truncates). NO float sum ever crosses engines — bit-identical
    output with zero summation-order exposure. Sign follows the dominant
    column, identical both sides.

    Scale shape: ONE corpus pass builds the d x d Gram (n x d^2 exploded
    rows, map-side combined to 4096 partials — the standard outer-product
    aggregation; at 100 TB this is the only corpus-sized stage and it is
    embarrassingly parallel). The {PCA_SQUARINGS} squarings then run on
    4096-row DataFrames — driver never sees data, no .collect()."""
    gram, v = _pca_eigvec(spark, sf_dir)
    w = (
        gram.join(
            F.broadcast(v.withColumnRenamed("dim", "k").withColumnRenamed("eigvec_unit", "v")),
            "k",
        )
        .groupBy("j")
        .agg(F.sum(F.col("g") * F.col("v")).cast("bigint").alias("gram_vec_unit"))
        .withColumnRenamed("j", "dim")
    )
    return v.join(w, "dim").select("dim", "eigvec_unit", "gram_vec_unit")


# ---------------------------------------------------------------------------
# ext_bootstrap_ci
# ---------------------------------------------------------------------------

BOOT_R = 32  # bootstrap replicates
BOOT_WMAX = 8  # Poisson(1) weight cap: P(X > 8) ~ 1.1e-6, documented
# Integer cdf thresholds at 2^32 scale: weight = min k with u32 < THRESH[k].
# Computed ONCE here and embedded as identical integer literals in both
# engines — no IEEE literal can drift.
BOOT_THRESH = [
    int(math.floor(sum(math.exp(-1.0) / math.factorial(i) for i in range(k + 1)) * 2**32))
    for k in range(BOOT_WMAX)
]


def _boot_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(BOOT_THRESH)
    )
    return f"(CASE {branches} ELSE {BOOT_WMAX} END)"


def _md5_lane_sql(h: str, lane: str) -> str:
    """32-bit integer from hex lane `lane` (0-3) of an md5 hex string —
    nibble arithmetic with a dynamic offset, matching Spark's
    conv(substring(h, 1 + 8*lane, 8), 16, 10)."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({h}, 8 * ({lane}) + {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"({terms})"


def _boot_oracle() -> str:
    u = _md5_lane_sql("b.h", "l.lane")
    return f"""
    WITH base AS (
        SELECT o.o_orderkey, c.c_mktsegment AS segment,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), blocks AS (
        SELECT o.segment, o.cents, blk.blk,
               md5('bs:' || CAST(o.o_orderkey AS VARCHAR) || ':'
                   || CAST(blk.blk AS VARCHAR)) AS h
        FROM base o,
             (SELECT unnest(generate_series(0, {BOOT_R // 4 - 1})) AS blk) blk
    ), reps AS (
        SELECT b.segment, b.blk * 4 + l.lane AS r,
               {_boot_weight_sql(u)} AS w, b.cents
        FROM blocks b,
             (SELECT unnest(generate_series(0, 3)) AS lane) l
    ), means AS (
        SELECT segment, r,
               CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_r
        FROM reps GROUP BY 1, 2
    ), point AS (
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean_cents
        FROM base GROUP BY 1
    )
    SELECT p.segment, p.n_orders,
           {dround('p.mean_cents / 100.0', 6)} AS mean_price,
           {dround('quantile_cont(m.mean_r, 0.025) / 100.0', 6)} AS boot_lo,
           {dround('quantile_cont(m.mean_r, 0.975) / 100.0', 6)} AS boot_hi
    FROM means m JOIN point p USING (segment)
    GROUP BY p.segment, p.n_orders, p.mean_cents
    """


@register("ext_bootstrap_ci", _boot_oracle())
def ext_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value per market
    segment via the POISSON bootstrap — the resampling scheme that
    distributes: a classical bootstrap draws n rows with replacement
    (needs a global n and a shared index; impossible in one pass over
    shards), while Poisson(1) per-row weights are independent, so each
    executor stamps its rows without coordination and the weighted means
    converge to the same bootstrap distribution (Chamandy et al.,
    "Estimating uncertainty for massive data streams", Google 2012).

    Determinism: the per-(row, replicate) weight inverts the Poisson(1)
    cdf at u = first-32-bits-of-md5 — compared against PRECOMPUTED
    integer thresholds ({BOOT_THRESH[:3]}..., identical literals in both
    engines); weights cap at {BOOT_WMAX} (P ~ 1e-6, documented). Each
    replicate mean is a ratio of identical exact integers; the CI is an
    order-deterministic interpolated percentile over {BOOT_R} such
    doubles (Spark percentile == DuckDB quantile_cont).

    Scale shape: the {BOOT_R}x fanout feeds a map-side-combined
    aggregate onto (segment, replicate) — {BOOT_R} x #segments partials,
    no shuffle growth. Hash economy: md5 is the dominant per-row cost,
    so each digest feeds FOUR replicates (its 128-bit hex splits into
    4 independent 32-bit lanes) — {BOOT_R // 4} digests per row instead
    of {BOOT_R} (measured ~20% on the whole key at sf0.1; the remaining
    cost is the fanout aggregate itself). At 100 TB replace the
    explode with a per-partition loop emitting partial (segment, r)
    sums if the fanout's scan cost matters (same algebra, one pass)."""
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    base = od.join(cu, od.o_custkey == cu.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    # spread() before the replicate fan-out: the md5-per-(row, block) work
    # below is the key's dominant cost and otherwise runs inside the
    # single-task scan stage of a one-file corpus (§2.5); the point branch
    # keeps the unspread base (cheap aggregate, no fan-out)
    blocks = spread(base).withColumn(
        "blk", F.explode(F.sequence(F.lit(0), F.lit(BOOT_R // 4 - 1)))
    ).select(
        "segment", "cents", "blk",
        F.md5(
            F.concat(
                F.lit("bs:"), F.col("o_orderkey").cast("string"),
                F.lit(":"), F.col("blk").cast("string"),
            ).cast("binary")
        ).alias("h"),
    )
    u = F.conv(F.expr("substring(h, 1 + 8 * lane, 8)"), 16, 10).cast("bigint")
    cases = F.when(u < BOOT_THRESH[0], 0)
    for k in range(1, BOOT_WMAX):
        cases = cases.when(u < BOOT_THRESH[k], k)
    weight = cases.otherwise(BOOT_WMAX)
    reps = blocks.withColumn(
        "lane", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).select(
        "segment",
        (F.col("blk") * 4 + F.col("lane")).alias("r"),
        weight.alias("w"),
        "cents",
    )
    means = reps.groupBy("segment", "r").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_r")
    )
    point = base.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mean_cents"),
    )
    return (
        means.groupBy("segment")
        .agg(
            F.percentile("mean_r", F.lit(0.025)).alias("lo"),
            F.percentile("mean_r", F.lit(0.975)).alias("hi"),
        )
        .join(point, "segment")
        .select(
            "segment", "n_orders",
            F.round(F.col("mean_cents") / 100.0, 6).alias("mean_price"),
            F.round(F.col("lo") / 100.0, 6).alias("boot_lo"),
            F.round(F.col("hi") / 100.0, 6).alias("boot_hi"),
        )
    )


# ---------------------------------------------------------------------------
# ext_graph_label_prop
# ---------------------------------------------------------------------------

LP_ROUNDS = 3  # synchronous propagation rounds
LP_MIN_SUPPORT = 2  # co-purchase support floor for an edge


def _label_prop_oracle() -> str:
    base = f"""
    op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), edges AS (
        SELECT a.pk AS src, b.pk AS dst
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= {LP_MIN_SUPPORT}
    ), sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), lab0 AS (
        SELECT DISTINCT src AS node, src AS lab FROM sym
    )"""
    its = []
    for t in range(1, LP_ROUNDS + 1):
        its.append(
            f"""lab{t} AS (
        SELECT l.node,
               LEAST(l.lab, MIN(n.lab)) AS lab
        FROM lab{t - 1} l
        JOIN sym e ON e.src = l.node
        JOIN lab{t - 1} n ON n.node = e.dst
        GROUP BY l.node, l.lab
    )"""
        )
    return (
        "WITH " + base + ", " + ", ".join(its) + f"""
    SELECT l.node AS partkey, l.lab AS community,
           CAST(COUNT(*) OVER (PARTITION BY l.lab) AS BIGINT) AS community_size
    FROM lab{LP_ROUNDS} l
    """
    )


@register("ext_graph_label_prop", _label_prop_oracle())
def ext_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation over the co-purchase graph
    (parts are nodes; an edge joins parts co-ordered in >= {LP_MIN_SUPPORT}
    orders): after {LP_ROUNDS} rounds every node carries the smallest
    partkey within {LP_ROUNDS} hops — bounded-round community detection,
    the budgeted prefix of connected components (ext_dedup_clusters runs
    CC to convergence with pointer jumping; this key is the fixed-round
    variant real pipelines use when round count is an SLA, e.g. GraphX /
    Pregel supersteps with a step budget).

    Deterministic: min-label update is order-free; no tie exists.

    Scale shape: edge build is a per-order self-join (pair count bounded
    by per-order basket size squared, the ext_basket_pairs bound); each
    round is ONE join keyed by node + one aggregate — Pregel's
    message-combine pattern expressed as DataFrame ops. Label state
    never leaves the cluster."""
    from ..ext.graph import pairs_from_baskets, shared_baskets

    # session-shared basket index (memo family "graph", ext/graph.py); in-row
    # pair enumeration — one shuffle, no self-join; oracle keeps the
    # self-join twin
    bas = shared_baskets(
        spark,
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
    )
    edges = (
        pairs_from_baskets(bas, count=True)
        .filter(F.col("support") >= LP_MIN_SUPPORT)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)  # reused every round
    lab = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(LP_ROUNDS):
        nbr = (
            sym.join(lab.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lab").alias("nbr_min"))
        )
        lab = lab.join(nbr, "node").select(
            "node", F.least(F.col("lab"), F.col("nbr_min")).alias("lab")
        )
    wsz = Window.partitionBy("lab")
    return lab.select(
        F.col("node").alias("partkey"),
        F.col("lab").alias("community"),
        F.count(F.lit(1)).over(wsz).cast("bigint").alias("community_size"),
    )


# ---------------------------------------------------------------------------
# ext_item_cooccur_cosine
# ---------------------------------------------------------------------------

COS_TOPK = 3  # neighbors kept per item
COS_MIN_PAIR = 2  # co-occurrence floor


@register(
    "ext_item_cooccur_cosine",
    f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), deg AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY 1
    ), pairs AS (
        SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= {COS_MIN_PAIR}
    ), sym AS (
        SELECT pa AS item, pb AS neighbor, cab FROM pairs
        UNION ALL
        SELECT pb AS item, pa AS neighbor, cab FROM pairs
    ), scored AS (
        SELECT s.item, s.neighbor, s.cab,
               CAST(s.cab AS DOUBLE)
                   / sqrt(CAST(da.c * db.c AS DOUBLE)) AS sim_raw
        FROM sym s
        JOIN deg da ON da.pk = s.item
        JOIN deg db ON db.pk = s.neighbor
    ), ranked AS (
        SELECT item, neighbor, cab, sim_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY item ORDER BY sim_raw DESC, neighbor
               ) AS rk
        FROM scored
    )
    SELECT item, neighbor, cab AS cooccur, {dround('sim_raw', 6)} AS cosine_sim,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {COS_TOPK}
    """,
)
def ext_item_cooccur_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity from co-occurrence counts —
    sim(a,b) = c_ab / sqrt(c_a * c_b) over distinct order baskets — with
    the top-{COS_TOPK} neighbor list per item: the classical
    collaborative-filtering neighbor table ("customers who bought X").
    ext_basket_pairs stops at raw support counts; this key adds the
    popularity normalization (without it the top list is just the
    bestsellers) and the per-item ranking.

    Determinism: counts are exact integers; sqrt of an exact sub-2^53
    integer product is correctly rounded in both engines (IEEE sqrt), the
    quotient divides identical doubles, ties break on neighbor id.

    Scale shape: pair generation is bounded by per-basket size squared
    (the ext_basket_pairs bound); degree join is two broadcast-sized
    lookups at test scale and stays an equi-join at any scale; top-k is a
    per-item window over >= {COS_MIN_PAIR}-support pairs only."""
    from ..ext.graph import pairs_from_baskets, shared_baskets

    # session-shared basket index (memo family "graph", ext/graph.py); the
    # per-order part sets ARE distinct, so degrees explode straight off it
    bas = shared_baskets(
        spark,
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
    )
    deg = (
        bas.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # basket-array pair enumeration (ext/graph.py); oracle keeps the join
    pairs = (
        pairs_from_baskets(bas, count=True)
        .select(
            F.col("u").alias("pa"), F.col("v").alias("pb"),
            F.col("support").cast("bigint").alias("cab"),
        )
        .filter(F.col("cab") >= COS_MIN_PAIR)
    )
    sym = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "cab"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "cab"
        )
    )
    scored = (
        sym.join(deg.withColumnRenamed("pk", "item").withColumnRenamed("c", "ca"), "item")
        .join(deg.withColumnRenamed("pk", "neighbor").withColumnRenamed("c", "cb"), "neighbor")
        .select(
            "item", "neighbor", "cab",
            (
                F.col("cab").cast("double")
                / F.sqrt((F.col("ca") * F.col("cb")).cast("double"))
            ).alias("sim_raw"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("sim_raw"), "neighbor")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= COS_TOPK)
        .select(
            "item", "neighbor", F.col("cab").alias("cooccur"),
            F.round("sim_raw", 6).alias("cosine_sim"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# ext_session_attribution
# ---------------------------------------------------------------------------

ATTR_GAP_MIN = 30  # session gap, minutes (matches ext_session_window)


@register(
    "ext_session_attribution",
    f"""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL {ATTR_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type, value,
               SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM marked
    ), touched AS (
        SELECT user_id, ts, event_id, event_type, value,
               FIRST_VALUE(event_type) OVER ws AS first_touch,
               COALESCE(
                   LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS) OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 'direct') AS last_touch
        FROM sess
        WINDOW ws AS (
            PARTITION BY user_id, session_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        )
    )
    SELECT first_touch, last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def ext_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch revenue attribution: every purchase event
    is credited to (a) the event type that OPENED its
    {ATTR_GAP_MIN}-min-gap session and (b) the nearest preceding
    non-purchase event type in the session ('direct' when the purchase
    opens the session) — the two canonical marketing-attribution models,
    reported as a (first_touch, last_touch) matrix with purchase counts
    and exact-cent revenue.

    Determinism: event streams order on the (ts, event_id) total order;
    the last-touch scan is LAST_VALUE .. IGNORE NULLS over the preceding
    frame — identical frame semantics both engines; revenue in exact
    integer cents.

    Scale shape: ONE shuffle keyed by user (all four windows share the
    per-user sort — sessionize, running session id, first/last touch);
    the final aggregate lands on a #event_types^2 grid. The purchase
    filter cannot push below the windows (credit needs non-purchase
    rows) — documented, it prunes before the only aggregate instead."""
    ev = load(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w_lag)
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
               > ATTR_GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0).alias("is_start"),
    )
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("session_id", F.sum("is_start").over(w_run))
    w_sess = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    w_first = w_sess.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = w_sess.rowsBetween(Window.unboundedPreceding, -1)
    touched = sess.select(
        "event_type", "value",
        F.first("event_type").over(w_first).alias("first_touch"),
        F.coalesce(
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            ).over(w_prev),
            F.lit("direct"),
        ).alias("last_touch"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# ext_embed_pca_project
# ---------------------------------------------------------------------------

PROJ_TOPK = 50  # spectral outliers reported
PROJ_SALTS = 32  # level-1 hash groups for the two-level top-k


def _pca_project_oracle() -> str:
    return (
        "WITH " + _pca_chain() + f"""
    , proj AS (
        SELECT x.vec_id, CAST(SUM(x.x * v.eigvec_unit) AS BIGINT) AS proj_units
        FROM xq x JOIN v ON v.dim = x.j
        GROUP BY 1
    ), ranked AS (
        SELECT vec_id, proj_units,
               ROW_NUMBER() OVER (ORDER BY ABS(proj_units) DESC, vec_id) AS rk
        FROM proj
    )
    SELECT vec_id, proj_units, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {PROJ_TOPK}
    """
    )


@register("ext_embed_pca_project", _pca_project_oracle())
def ext_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral outlier scan: project every embedding onto the corpus'
    dominant principal direction (ext_embed_pca_power's eigenvector) and
    report the top-{PROJ_TOPK} vectors by |projection| — the vectors that
    load the first principal component hardest. This is the detection
    half of ABTT de-biasing and the standard first look at "what is this
    dominant direction actually made of" (cluster artifacts, length
    effects, template boilerplate).

    Exactness: the projection is an exact BIGINT dot product of the
    quantized embedding with the quantized eigenvector (|score| <=
    d * max|x_int| * {PCA_UNITS} ~ 3.4e7 — nowhere near 2^53); ranking
    ties break on vec_id.

    Scale shape: the eigenvector pipeline is corpus-flat (see
    ext_embed_pca_power); the projection is ONE corpus pass — explode,
    broadcast-join the 64-row eigenvector, per-vector aggregate. The
    global top-k runs two-level ({PROJ_SALTS} hash-group local top-k,
    then a bounded {PROJ_SALTS}x{PROJ_TOPK}-row final window) — the
    ext_text_vocab_coverage discipline, never a corpus-sized
    single-partition sort."""
    _, v = _pca_eigvec(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "vec_id", "dim",
        F.round(F.col("xf").cast("double") * PCA_UNITS, 0).cast("bigint").alias("x"),
    )
    proj = (
        xq.join(F.broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("eigvec_unit")).cast("bigint").alias("proj_units"))
    )
    w_grp = Window.partitionBy("grp").orderBy(F.desc(F.abs(F.col("proj_units"))), "vec_id")
    pruned = (
        proj.withColumn("grp", F.pmod(F.xxhash64("vec_id"), F.lit(PROJ_SALTS)))
        .withColumn("lrk", F.row_number().over(w_grp))
        .filter(F.col("lrk") <= PROJ_TOPK)
        .drop("grp", "lrk")
    )
    w = Window.orderBy(F.desc(F.abs(F.col("proj_units"))), "vec_id")
    return (
        pruned.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= PROJ_TOPK)
        .select("vec_id", "proj_units", "rk")
    )


# ---------------------------------------------------------------------------
# ext_source_lang_mix
# ---------------------------------------------------------------------------


@register(
    "ext_source_lang_mix",
    f"""
    WITH c AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ), tot AS (
        SELECT source, SUM(n) AS t, COUNT(*) AS n_langs FROM c GROUP BY 1
    ), ent AS (
        SELECT c.source,
               SUM(CAST(ROUND(-(c.n * 1.0 / tot.t) * ln(c.n * 1.0 / tot.t)
                              * 1000000000.0) AS BIGINT)) AS ent_units
        FROM c JOIN tot USING (source) GROUP BY 1
    ), top AS (
        SELECT source, lang AS top_lang, n AS top_n,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n DESC, lang
               ) AS rk
        FROM c
    )
    SELECT t.source, CAST(t.t AS BIGINT) AS n_docs,
           CAST(t.n_langs AS BIGINT) AS n_langs,
           p.top_lang,
           {dround('p.top_n * 1.0 / t.t', 6)} AS top_share,
           {dround('e.ent_units / 1000000000.0', 6)} AS lang_entropy
    FROM tot t
    JOIN ent e USING (source)
    JOIN top p ON p.source = t.source AND p.rk = 1
    """,
)
def ext_source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language composition report: document count, distinct
    languages, the majority language and its share, and the Shannon
    entropy of the language distribution — the mix audit a multilingual
    curation pipeline runs per crawl/source before deciding per-language
    sampling weights (a source whose entropy spikes between snapshots
    changed its upstream composition).

    Determinism: shares are ratios of exact counts; entropy accumulates
    in integer nano-units per language BEFORE summing (the ext_drift_psi
    discipline), so the cross-language sum is an exact integer in both
    engines; majority ties break on lang.

    Scale shape: one (source, lang) aggregate — a grid bounded by
    #sources x #languages — then all math on grid rows; the majority
    pick is a window over the tiny grid, never over documents."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_tot = Window.partitionBy("source")
    w_rank = Window.partitionBy("source").orderBy(F.desc("n"), "lang")
    share = F.col("n") * F.lit(1.0) / F.col("t")
    enriched = (
        c.withColumn("t", F.sum("n").over(w_tot))
        .withColumn("n_langs", F.count(F.lit(1)).over(w_tot))
        .withColumn(
            "ent_units",
            F.round(-share * F.log(share) * 1000000000.0, 0).cast("bigint"),
        )
        .withColumn("rk", F.row_number().over(w_rank))
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_docs"),
            F.max("n_langs").cast("bigint").alias("n_langs"),
            F.max(F.when(F.col("rk") == 1, F.col("lang"))).alias("top_lang"),
            F.max(F.when(F.col("rk") == 1, F.col("n"))).alias("top_n"),
            F.sum("ent_units").alias("ent_units"),
        )
        .select(
            "source", "n_docs", "n_langs", "top_lang",
            F.round(F.col("top_n") * 1.0 / F.col("n_docs"), 6).alias("top_share"),
            F.round(F.col("ent_units") / 1000000000.0, 6).alias("lang_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# ext_assoc_rules
# ---------------------------------------------------------------------------

RULE_MIN_SUPPORT = 3  # co-occurrence floor for a rule
RULE_MIN_CONF_NUM = 1  # confidence floor as exact rational: conf >= 1/20
RULE_MIN_CONF_DEN = 20  # (TPC-H baskets are sparse: parts recur across many
# orders, so pairwise confidence is low; 5% keeps a non-degenerate rule set
# at every test sf while still gating noise)


@register(
    "ext_assoc_rules",
    f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), nb AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM op
    ), deg AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY 1
    ), pairs AS (
        SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= {RULE_MIN_SUPPORT}
    ), sym AS (
        SELECT pa AS antecedent, pb AS consequent, cab FROM pairs
        UNION ALL
        SELECT pb AS antecedent, pa AS consequent, cab FROM pairs
    )
    SELECT s.antecedent, s.consequent, s.cab AS support_ab,
           {dround('CAST(s.cab AS DOUBLE) / CAST(da.c AS DOUBLE)', 6)} AS confidence,
           {dround('''CAST(s.cab * nb.n_baskets AS DOUBLE)
                      / CAST(da.c * db.c AS DOUBLE)''', 6)} AS lift
    FROM sym s
    JOIN deg da ON da.pk = s.antecedent
    JOIN deg db ON db.pk = s.consequent
    CROSS JOIN nb
    WHERE s.cab * {RULE_MIN_CONF_DEN} >= da.c * {RULE_MIN_CONF_NUM}
      AND s.cab * nb.n_baskets > da.c * db.c
    """,
)
def ext_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (Apriori level 2): for each
    co-purchased part pair, the rule antecedent -> consequent with
    support, confidence = c_ab/c_a and lift = c_ab*N/(c_a*c_b); rules
    kept when support >= {RULE_MIN_SUPPORT}, confidence >=
    {RULE_MIN_CONF_NUM}/{RULE_MIN_CONF_DEN} and lift > 1 — the
    market-basket complement of ext_item_cooccur_cosine (cosine ranks
    neighbors symmetrically; rules are DIRECTED and lift-gated, the
    cross-sell/recommendation primitive).

    Determinism: BOTH gates are exact integer cross-multiplications
    (c_ab*{RULE_MIN_CONF_DEN} >= c_a and c_ab*N > c_a*c_b) — no float
    threshold can flip a rule between engines; reported confidence/lift
    are ratios of identical exact sub-2^53 integer products, dround(6).

    Scale shape: identical bounds to ext_item_cooccur_cosine (per-basket
    pair explosion, {RULE_MIN_SUPPORT}+-support filter inside the
    aggregate); the basket count is a 1-row broadcast."""
    from ..ext.graph import pairs_from_baskets, shared_baskets

    # session-shared basket index (memo family "graph", ext/graph.py); per-order
    # part sets are distinct, so degrees and the basket count read
    # straight off the persisted arrays — no separate distinct pass
    bas = shared_baskets(
        spark,
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
    )
    nb = bas.filter(F.size("ps") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets")
    )
    deg = (
        bas.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # basket-array pair enumeration (ext/graph.py); oracle keeps the join
    pairs = (
        pairs_from_baskets(bas, count=True)
        .select(
            F.col("u").alias("pa"), F.col("v").alias("pb"),
            F.col("support").cast("bigint").alias("cab"),
        )
        .filter(F.col("cab") >= RULE_MIN_SUPPORT)
    )
    sym = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "cab"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "cab"
        )
    )
    scored = (
        sym.join(deg.withColumnRenamed("pk", "antecedent").withColumnRenamed("c", "ca"),
                 "antecedent")
        .join(deg.withColumnRenamed("pk", "consequent").withColumnRenamed("c", "cb"),
              "consequent")
        .crossJoin(F.broadcast(nb))
    )
    return (
        scored.filter(
            (F.col("cab") * RULE_MIN_CONF_DEN >= F.col("ca") * RULE_MIN_CONF_NUM)
            & (F.col("cab") * F.col("n_baskets") > F.col("ca") * F.col("cb"))
        )
        .select(
            "antecedent", "consequent", F.col("cab").alias("support_ab"),
            F.round(F.col("cab").cast("double") / F.col("ca").cast("double"), 6)
            .alias("confidence"),
            F.round(
                (F.col("cab") * F.col("n_baskets")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# ext_ts_decompose
# ---------------------------------------------------------------------------

TSD_HALF = 3  # centered moving-average half-width (full window = 7 days)


@register(
    "ext_ts_decompose",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), ma AS (
        SELECT d, cents,
               SUM(cents) OVER w AS s7, COUNT(*) OVER w AS n7
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN {TSD_HALF} PRECEDING
                     AND {TSD_HALF} FOLLOWING)
    ), det AS (
        SELECT d, cents, s7,
               7 * cents - s7 AS u
        FROM ma WHERE n7 = 7
    ), season AS (
        SELECT dayofweek(d) AS dow,
               CAST(SUM(u) AS BIGINT) AS su, CAST(COUNT(*) AS BIGINT) AS nu
        FROM det GROUP BY 1
    )
    SELECT det.d,
           {dround('det.cents / 100.0', 6)} AS revenue,
           {dround('det.s7 / 7.0 / 100.0', 6)} AS trend,
           {dround('s.su * 1.0 / (7 * s.nu) / 100.0', 6)} AS seasonal,
           {dround('''(det.u * 1.0 / 7.0
                       - s.su * 1.0 / (7 * s.nu)) / 100.0''', 6)} AS residual
    FROM det JOIN season s ON s.dow = dayofweek(det.d)
    """,
)
def ext_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series:
    trend = centered 7-day moving average, seasonal = day-of-week mean
    of the detrended series, residual = remainder — the decomposition
    behind anomaly baselines and seasonality-aware forecasts
    (ext_anomaly_rolling_z flags deviations; this key explains them).
    Edge days without a full 7-day window are excluded (documented).

    Determinism trick: the detrended value r_d - S_d/7 is held as the
    EXACT integer u_d = 7*r_d - S_d (cents scaled by 7), so the
    day-of-week seasonal mean is a ratio of exact integer sums — no
    float sum ever crosses engines; every reported double divides
    identical integers, dround(6).

    Scale shape: the corpus collapses to one row per DAY first; all
    windows and the dow grid run on the days series (the
    win_lag_12_global post-aggregation discipline — a years-long daily
    series is thousands of rows, not a distributed concern)."""
    od = load(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    w7 = Window.orderBy("d").rowsBetween(-TSD_HALF, TSD_HALF)
    det = (
        daily.withColumn("s7", F.sum("cents").over(w7))
        .withColumn("n7", F.count(F.lit(1)).over(w7))
        .filter(F.col("n7") == 7)
        .withColumn("u", 7 * F.col("cents") - F.col("s7"))
        .withColumn("dow", F.dayofweek("d"))
    )
    season = det.groupBy("dow").agg(
        F.sum("u").cast("bigint").alias("su"),
        F.count(F.lit(1)).cast("bigint").alias("nu"),
    )
    seas = F.col("su") * 1.0 / (7 * F.col("nu"))
    return det.join(F.broadcast(season), "dow").select(
        "d",
        F.round(F.col("cents") / 100.0, 6).alias("revenue"),
        F.round(F.col("s7") / 7.0 / 100.0, 6).alias("trend"),
        F.round(seas / 100.0, 6).alias("seasonal"),
        F.round((F.col("u") * 1.0 / 7.0 - seas) / 100.0, 6).alias("residual"),
    )


# ---------------------------------------------------------------------------
# ext_tokenizer_fertility
# ---------------------------------------------------------------------------


@register(
    "ext_tokenizer_fertility",
    rf"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS BIGINT) AS ws,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS sub,
               n_chars
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS words,
           CAST(SUM(sub) AS BIGINT) AS subword_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           {dround('CAST(SUM(sub) AS DOUBLE) / SUM(ws)', 6)} AS fertility,
           {dround('CAST(SUM(n_chars) AS DOUBLE) / SUM(sub)', 6)}
               AS chars_per_token
    FROM per_doc GROUP BY 1
    """,
)
def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: subword-tokens-per-word (how many
    BPE-ish pieces an average word shatters into) and chars-per-token —
    THE tokenizer-efficiency metrics compared across languages/domains
    before committing to a vocabulary (fertility >> 1 on a domain means
    its text is expensive to train on and truncates earlier at fixed
    context length). Uses the same whitespace + pre-tokenization regex
    pair as ext_text_token_count, aggregated corpus-level.

    Determinism: both ratios divide exact integer token sums (the
    per-doc counts are exact; sums are exact BIGINTs), then round to a
    6dp DOUBLE on both engines (dround lane).

    Scale shape: pure per-row token counting (codegen regex, no UDF)
    into ONE map-side-combined aggregate keyed by source — a
    #sources-row result, no second shuffle."""
    docs = load(spark, sf_dir, "documents")
    ws, bpe = tx.token_counts(F.col("text"))
    per_doc = docs.select(
        "source", ws.cast("bigint").alias("ws"),
        bpe.cast("bigint").alias("sub"), "n_chars",
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("words"),
        F.sum("sub").cast("bigint").alias("subword_tokens"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        # DOUBLE lane via the house dround route, not DECIMAL: DuckDB's
        # pandas fetch demotes DECIMAL output to lossy float64 while Spark
        # keeps Decimal objects (round-5 driver hash-miss class).
        F.round(F.sum("sub").cast("double") / F.sum("ws"), 6)
        .alias("fertility"),
        F.round(F.sum("n_chars").cast("double") / F.sum("sub"), 6)
        .alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# ext_embed_centroid_classify
# ---------------------------------------------------------------------------


@register(
    "ext_embed_centroid_classify",
    f"""
    WITH xq AS MATERIALIZED (
        SELECT vec_id, label, i - 1 AS j,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {PCA_UNITS}) AS BIGINT) AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ), cent AS MATERIALIZED (
        SELECT label AS c_label, j,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS nl
        FROM xq GROUP BY 1, 2
    ), dist AS (
        SELECT x.vec_id, x.label AS label_true, c.c_label,
               SUM(CAST(c.nl * x.x - c.s AS HUGEINT)
                   * CAST(c.nl * x.x - c.s AS HUGEINT)) AS d_num,
               MAX(c.nl) AS nl
        FROM xq x JOIN cent c ON c.j = x.j
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT vec_id, label_true, c_label,
               CAST(CAST(d_num AS VARCHAR) AS DOUBLE)
                   / CAST(nl * nl AS DOUBLE) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY CAST(CAST(d_num AS VARCHAR) AS DOUBLE)
                                / CAST(nl * nl AS DOUBLE), c_label
               ) AS rk
        FROM dist
    )
    SELECT label_true, c_label AS label_pred,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM scored WHERE rk = 1
    GROUP BY 1, 2
    """,
)
def ext_embed_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit: assign every embedding to
    its closest LABEL CENTROID (squared euclidean) and report the
    (true label, predicted label) confusion grid — the cheapest possible
    probe of whether an embedding space separates its labels (Rocchio
    classifier; the diagonal mass IS the separability score, and
    off-diagonal cells name the confusable label pairs before anyone
    trains a real classifier head).

    Exactness: with quantized x and exact centroid sums S_l (count n_l),
    argmin_l ||x - S_l/n_l||^2 is computed from the EXACT integer
    D_l = sum_j (n_l*x_j - S_lj)^2 divided by n_l^2. D_l can pass 2^53,
    so it accumulates in 128-bit (decimal38 / HUGEINT) and converts via
    the correctly-rounded path — Spark BigDecimal.doubleValue vs DuckDB
    VARCHAR->strtod (DuckDB's direct HUGEINT->DOUBLE cast is NOT
    correctly rounded; fuzzed, ~1.7% of >2^53 values off by 1 ulp).
    n_l^2 stays below 2^53 for any n_l < 9.4e7 per label (documented).
    Ties break on label.

    Scale shape: centroids are a d x #labels aggregate (one corpus
    pass, map-side combined); classification is the corpus-sized
    explode joined to the BROADCAST centroid grid (#labels * d rows),
    aggregated per (vector, label) then an argmin window per vector —
    no pairwise vector joins anywhere."""
    emb = load(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("j", "xf")
    ).select(
        "vec_id", "label", "j",
        F.round(F.col("xf").cast("double") * PCA_UNITS, 0).cast("bigint").alias("x"),
    ).localCheckpoint(eager=False)  # feeds centroids AND classification
    cent = xq.groupBy(F.col("label").alias("c_label"), "j").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.countDistinct("vec_id").cast("bigint").alias("nl"),
    )
    diff = (F.col("nl") * F.col("x") - F.col("s")).cast("decimal(38,0)")
    dist = (
        xq.join(F.broadcast(cent), "j")
        .groupBy("vec_id", F.col("label").alias("label_true"), "c_label")
        .agg(
            F.sum(diff * diff).alias("d_num"),
            F.max("nl").alias("nl"),
        )
    )
    d = F.col("d_num").cast("double") / (F.col("nl") * F.col("nl")).cast("double")
    w = Window.partitionBy("vec_id").orderBy(d.asc(), F.col("c_label"))
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("label_true", F.col("c_label").alias("label_pred"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# ext_text_readability
# ---------------------------------------------------------------------------


@register(
    "ext_text_readability",
    f"""
    WITH counts AS (
        SELECT doc_id,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                        1) AS n_sentences,
               GREATEST(CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                            AS BIGINT),
                        CAST(len({_TOKS_SQL}) AS BIGINT)) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           {dround('''206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                      - 84.6 * (n_syllables * 1.0 / n_words)''', 6)} AS flesch
    FROM counts WHERE n_words > 0
    """,
)
def ext_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from deterministic proxies:
    words = whitespace tokens, sentences = terminal-punctuation runs
    (clamped >= 1), syllables = vowel-group runs (clamped >= words, the
    standard regex proxy — every word has >= 1 syllable). Readability is
    a stock quality-filter feature (very low scores flag legalese /
    machine-generated sludge; implausibly high scores flag listicles and
    keyword stuffing) cheap enough to run corpus-wide.

    Determinism: all three counts are exact integers; the Flesch
    formula's constants are identical decimal literals in both engines
    and every ratio divides identical integers, evaluated in the same
    association order, then dround(6).

    Scale shape: pure per-row regex counting in codegen — zero shuffles,
    zero UDFs, zero joins."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(tx.tokens(F.col("text"))).cast("bigint")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), 0)).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    n_syl = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[aeiouyAEIOUY]+"), 0)).cast("bigint"),
        n_words,
    )
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return out.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.round(
            206.835
            - 1.015 * (F.col("n_words") * F.lit(1.0) / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables") * F.lit(1.0) / F.col("n_words")),
            6,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# ext_customer_rfm
# ---------------------------------------------------------------------------


@register(
    "ext_customer_rfm",
    f"""
    WITH base AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), anchor AS (
        SELECT MAX(last_order) AS now_d FROM base
    ), feat AS (
        SELECT b.custkey,
               CAST(a.now_d - b.last_order AS BIGINT) AS recency_days,
               b.frequency, b.cents
        FROM base b CROSS JOIN anchor a
    ), scored AS (
        SELECT custkey, recency_days, frequency, cents,
               NTILE(5) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, custkey) AS f_score,
               NTILE(5) OVER (ORDER BY cents, custkey) AS m_score
        FROM feat
    )
    SELECT custkey, recency_days, frequency,
           {dround('cents / 100.0', 6)} AS monetary,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                    THEN 'champion'
                WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND m_score >= 4 THEN 'at_risk_whale'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def ext_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order,
    anchored to the corpus max date), Frequency (order count) and
    Monetary (exact-cent lifetime spend), each scored into quintiles by
    NTILE(5), then mapped to the classic marketing segments (champion /
    loyal / at-risk whale / hibernating / regular) — the segmentation
    every CRM export runs; complements ext_cohort_ltv (time dimension)
    and ext_spend_gini (concentration dimension).

    Determinism: every NTILE ordering is a total order (feature,
    custkey); NTILE's equal-fill-remainder-first rule is identical in
    both engines; segment boundaries compare integer scores only.

    Scale shape: the fact collapses to ONE row per customer first; the
    three quintile windows sort the customer dimension (at 100 TB swap
    for approx-quantile threshold broadcasts — the ext_quality_filter
    shape — documented tradeoff, exact NTILE kept for the scores
    themselves)."""
    od = load(spark, sf_dir, "orders")
    base = od.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents"),
    )
    anchor = base.agg(F.max("last_order").alias("now_d"))
    feat = base.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("now_d", "last_order").cast("bigint").alias("recency_days"),
        "frequency", "cents",
    )
    scored = (
        feat.withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.col("custkey"))),
        )
        .withColumn(
            "f_score", F.ntile(5).over(Window.orderBy("frequency", "custkey"))
        )
        .withColumn("m_score", F.ntile(5).over(Window.orderBy("cents", "custkey")))
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("m_score") >= 4), "at_risk_whale")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "custkey", "recency_days", "frequency",
        F.round(F.col("cents") / 100.0, 6).alias("monetary"),
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        seg.alias("segment"),
    )


# ---------------------------------------------------------------------------
# ext_text_template_mask
# ---------------------------------------------------------------------------

TMPL_PREFIX_TOKENS = 10  # masked-prefix width defining a template family


@register(
    "ext_text_template_mask",
    f"""
    WITH masked AS (
        SELECT doc_id, source,
               array_to_string(list_slice(list_filter(string_split(
                   regexp_replace(lower(text), '[0-9]+', '#', 'g'), ' '),
                   x -> x <> ''), 1, {TMPL_PREFIX_TOKENS}), ' ') AS template
        FROM documents
    ), grp AS (
        SELECT template,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MIN(doc_id) AS example_doc
        FROM masked GROUP BY 1
        HAVING COUNT(*) >= 2
    ), tot AS (
        SELECT COUNT(*) AS t FROM documents
    )
    SELECT g.template, g.n_docs, g.n_sources, g.example_doc,
           {dround('g.n_docs * 1.0 / tot.t', 6)} AS corpus_share
    FROM grp g CROSS JOIN tot
    """,
)
def ext_text_template_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family mining via masked normalization: lowercase the
    text, mask every digit run to '#', and group documents by their
    first {TMPL_PREFIX_TOKENS} masked tokens. Families of >= 2 docs are
    boilerplate templates — the "Invoice #### issued ##/##" class where
    numbers change but the scaffold repeats, invisible to exact-hash
    dedup (every instance hashes differently) and under-scored by
    whole-doc MinHash when the variable tail dominates. CCNet-style
    pipelines run exactly this pass to strip templated sludge. Reports
    each family's size, source spread, representative doc and corpus
    share.

    Determinism: masking is a deterministic regex in both engines; the
    representative is MIN(doc_id); shares divide exact counts.

    Scale shape: ONE aggregate keyed by the short masked prefix (at
    100 TB hash it to 8 bytes first — the ext_text_prefix_dup note);
    the total is a 1-row broadcast. A pathologically hot template is a
    real boilerplate family the pipeline WANTS surfaced."""
    docs = load(spark, sf_dir, "documents")
    masked = docs.select(
        "doc_id", "source",
        F.array_join(
            F.slice(
                F.array_remove(
                    F.split(
                        F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"), " "
                    ),
                    "",
                ),
                1, TMPL_PREFIX_TOKENS,
            ),
            " ",
        ).alias("template"),
    )
    grp = (
        masked.groupBy("template")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    tot = docs.agg(F.count(F.lit(1)).alias("t"))
    return grp.crossJoin(F.broadcast(tot)).select(
        "template", "n_docs", "n_sources", "example_doc",
        F.round(F.col("n_docs") * 1.0 / F.col("t"), 6).alias("corpus_share"),
    )


# ---------------------------------------------------------------------------
# ext_target_encode_loo
# ---------------------------------------------------------------------------

TENC_SMOOTH = 10  # pseudo-observations of the global mean mixed per category


@register(
    "ext_target_encode_loo",
    f"""
    WITH y AS (
        SELECT o_orderkey, o_orderpriority AS category,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), cat AS (
        SELECT category, CAST(SUM(cents) AS BIGINT) AS s_cat,
               CAST(COUNT(*) AS BIGINT) AS n_cat
        FROM y GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS g, CAST(COUNT(*) AS BIGINT) AS n
        FROM y
    )
    SELECT y.o_orderkey, y.category,
           {dround('y.cents / 100.0', 6)} AS price,
           {dround(f'''CAST(CAST(CAST(tot.n AS HUGEINT) * (c.s_cat - y.cents)
                                 + {TENC_SMOOTH} * CAST(tot.g AS HUGEINT)
                            AS VARCHAR) AS DOUBLE)
                       / (CAST(tot.n AS DOUBLE)
                          * (c.n_cat - 1 + {TENC_SMOOTH}))
                       / 100.0''', 6)} AS loo_encoding
    FROM y JOIN cat c USING (category) CROSS JOIN tot
    """,
)
def ext_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature
    (o_orderpriority) against a continuous target (order value): each
    row's encoding is the mean target of its category EXCLUDING itself,
    smoothed toward the global mean with {TENC_SMOOTH}
    pseudo-observations — the standard leakage-controlled categorical
    encoder for gradient-boosting / linear feature pipelines (plain
    category means leak the row's own label; LOO + smoothing is the
    CatBoost-paper fix expressible in one pass).

    Exactness: encoding = (N*(S_c - y_i) + m*G) / (N*(n_c - 1 + m)) —
    numerator and denominator are exact integers (numerator widened to
    128-bit: N*S_c passes 2^53 at warehouse scale, converted via the
    correctly-rounded VARCHAR->DOUBLE path; denominator stays < 2^53),
    so every row's encoding divides identical values in both engines.

    Scale shape: ONE category aggregate (tiny grid) broadcast back over
    the fact — the encoding itself is a per-row expression; no window,
    no second shuffle."""
    od = load(spark, sf_dir, "orders")
    y = od.select(
        "o_orderkey", F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    # r10: the global moments collapse out of the category grid (sum of
    # per-category sums/counts ≡ the global sum/count — exact integers,
    # order-free), and the 5-row grid is pinned — the prior shape scanned
    # orders three times (category pass, global pass, encode pass); now
    # twice, the floor (plan audit: 3 -> 2)
    cat = y.groupBy("category").agg(
        F.sum("cents").cast("bigint").alias("s_cat"),
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
    ).localCheckpoint(eager=False)
    tot = cat.agg(
        F.sum("s_cat").cast("bigint").alias("g"),
        F.sum("n_cat").cast("bigint").alias("n"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    num = (
        dec(F.col("n")) * (F.col("s_cat") - F.col("cents"))
        + F.lit(TENC_SMOOTH) * dec(F.col("g"))
    )
    den = F.col("n").cast("double") * (F.col("n_cat") - 1 + F.lit(TENC_SMOOTH))
    return (
        y.join(F.broadcast(cat), "category")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderkey", "category",
            F.round(F.col("cents") / 100.0, 6).alias("price"),
            F.round(num.cast("double") / den / 100.0, 6).alias("loo_encoding"),
        )
    )


# ---------------------------------------------------------------------------
# ext_fk_discovery
# ---------------------------------------------------------------------------

# Candidate inclusion dependencies probed (child column -> parent column).
# Includes deliberate NEGATIVE candidates so the report demonstrably
# rejects non-keys rather than rubber-stamping the list.
FK_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),  # negative
    ("part", "p_partkey", "supplier", "s_suppkey"),  # negative
]


def _fk_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in FK_CANDIDATES:
        parts.append(
            f"""
    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct}
            WHERE {cc} IS NOT NULL) AS n_child_distinct,
           (SELECT CAST(COUNT(DISTINCT c.{cc}) AS BIGINT)
            FROM {ct} c JOIN {pt} p ON p.{pc} = c.{cc}) AS n_contained"""
        )
    body = "\nUNION ALL".join(parts)
    return f"""
    WITH probes AS ({body})
    SELECT child, parent, n_child_distinct, n_contained,
           {dround('n_contained * 1.0 / n_child_distinct', 6)} AS containment,
           CASE WHEN n_contained = n_child_distinct THEN 'fk_candidate'
                ELSE 'rejected' END AS verdict
    FROM probes
    """


@register("ext_fk_discovery", _fk_oracle())
def ext_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery over declared
    candidate column pairs: for each child -> parent candidate, the
    distinct child values, how many of them exist in the parent, the
    containment ratio, and an exact verdict (containment = 1 <=>
    FK-candidate) — the data-profiling pass (Metanome-style IND
    checking, bounded to a candidate list) that catalogs run before
    trusting joins; the list deliberately includes negative candidates
    so the probe demonstrably rejects.

    Determinism: every number is an exact distinct count; the verdict
    compares integers.

    Scale shape: each probe is a distinct-collapse of the child column
    (map-side combined) + one equi-join against the parent key —
    per-candidate cost is two column scans, never a row-wise cross
    table compare; candidates evaluate independently (one union of
    tiny aggregates)."""
    results = None
    for ct, cc, pt, pc in FK_CANDIDATES:
        child = load(spark, sf_dir, ct).select(F.col(cc).alias("v")).filter(
            F.col("v").isNotNull()
        ).distinct()
        parent = load(spark, sf_dir, pt).select(F.col(pc).alias("v")).distinct()
        # one left join + one aggregate per candidate: the child distinct
        # is scanned once, and both counts (total + parent-matched) fold
        # in the same pass — the semi-join/crossJoin pair this replaced
        # re-derived the child distinct for each count
        probe = (
            child.join(parent.withColumn("_hit", F.lit(1)), "v", "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child_distinct"),
                F.count("_hit").cast("bigint").alias("n_contained"),
            )
            .select(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                "n_child_distinct", "n_contained",
            )
        )
        results = probe if results is None else results.unionByName(probe)
    return results.select(
        "child", "parent", "n_child_distinct", "n_contained",
        F.round(F.col("n_contained") * 1.0 / F.col("n_child_distinct"), 6)
        .alias("containment"),
        F.when(F.col("n_contained") == F.col("n_child_distinct"), "fk_candidate")
        .otherwise("rejected").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# ext_incremental_agg_maintain
# ---------------------------------------------------------------------------

AGG_CUTOFF = "1997-01-01"  # state = orders before, batch = orders on/after


@register(
    "ext_incremental_agg_maintain",
    f"""
    WITH state AS (
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS min_cents,
               CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '{AGG_CUTOFF}'
        GROUP BY 1
    ), batch AS (
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS min_cents,
               CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{AGG_CUTOFF}'
        GROUP BY 1
    ), merged AS (
        SELECT COALESCE(s.priority, b.priority) AS priority,
               COALESCE(s.n, 0) + COALESCE(b.n, 0) AS n,
               COALESCE(s.sum_cents, 0) + COALESCE(b.sum_cents, 0) AS sum_cents,
               LEAST(COALESCE(s.min_cents, 9223372036854775807),
                     COALESCE(b.min_cents, 9223372036854775807)) AS min_cents,
               GREATEST(COALESCE(s.max_cents, -9223372036854775808),
                        COALESCE(b.max_cents, -9223372036854775808)) AS max_cents
        FROM state s FULL OUTER JOIN batch b ON b.priority = s.priority
    )
    SELECT priority, CAST(n AS BIGINT) AS n_orders,
           {dround('sum_cents / 100.0', 6)} AS total_price,
           {dround('sum_cents * 1.0 / n / 100.0', 6)} AS avg_price,
           {dround('min_cents / 100.0', 6)} AS min_price,
           {dround('max_cents / 100.0', 6)} AS max_price
    FROM merged
    """,
)
def ext_incremental_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized aggregate via MERGEABLE
    partial states: the stored state (orders before {AGG_CUTOFF}) and the
    new batch (on/after) each carry (count, sum, min, max) partials, and
    the refreshed aggregate is the pairwise merge — count+count, sum+sum,
    min of mins, max of maxes — with AVG derived at read time from
    sum/count (avg itself is NOT mergeable; storing sum+count is the
    standard fix). This is the algebra behind every incremental
    materialized view and streaming state store: refresh cost is
    O(batch + state), never O(history). The oracle computes the same
    merge from scratch — equality with the two-phase result IS the
    mergeability proof.

    Determinism: all partials are exact integers (cents); identity
    elements for min/max on a state-only or batch-only group are the
    BIGINT extremes, spelled identically in both engines.

    Scale shape: two partition-prunable scans (at 100 TB the state is a
    stored table, not a rescan), each map-side combined onto the tiny
    priority grid; the merge is a grid-sized full-outer join."""
    od = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
            F.min(cents).cast("bigint").alias("min_cents"),
            F.max(cents).cast("bigint").alias("max_cents"),
        )

    cut = F.to_date(F.col("o_orderdate")) < F.lit(AGG_CUTOFF).cast("date")
    state = partials(od.filter(cut))
    batch = partials(od.filter(~cut))
    s, b = state.alias("s"), batch.alias("b")
    lo, hi = 9223372036854775807, -9223372036854775808
    merged = s.join(b, F.col("s.priority") == F.col("b.priority"), "full_outer").select(
        F.coalesce(F.col("s.priority"), F.col("b.priority")).alias("priority"),
        (F.coalesce(F.col("s.n"), F.lit(0)) + F.coalesce(F.col("b.n"), F.lit(0)))
        .cast("bigint").alias("n"),
        (
            F.coalesce(F.col("s.sum_cents"), F.lit(0))
            + F.coalesce(F.col("b.sum_cents"), F.lit(0))
        ).cast("bigint").alias("sum_cents"),
        F.least(
            F.coalesce(F.col("s.min_cents"), F.lit(lo)),
            F.coalesce(F.col("b.min_cents"), F.lit(lo)),
        ).alias("min_cents"),
        F.greatest(
            F.coalesce(F.col("s.max_cents"), F.lit(hi)),
            F.coalesce(F.col("b.max_cents"), F.lit(hi)),
        ).alias("max_cents"),
    )
    return merged.select(
        "priority",
        F.col("n").alias("n_orders"),
        F.round(F.col("sum_cents") / 100.0, 6).alias("total_price"),
        F.round(F.col("sum_cents") * 1.0 / F.col("n") / 100.0, 6).alias("avg_price"),
        F.round(F.col("min_cents") / 100.0, 6).alias("min_price"),
        F.round(F.col("max_cents") / 100.0, 6).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# ext_sample_weighted
# ---------------------------------------------------------------------------

WS_K = 5  # docs kept per source


def _ws_oracle() -> str:
    u32 = _md5_32("'ws:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
               CAST(ROUND(ln(({u32} + 1.0) / 4294967296.0)
                          / n_chars * 1000000000.0) AS BIGINT) AS key_units
        FROM documents WHERE n_chars > 0
    ), ranked AS (
        SELECT doc_id, source, weight, key_units,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY key_units DESC, doc_id
               ) AS rk
        FROM keyed
    )
    SELECT source, doc_id, weight, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {WS_K}
    """


@register("ext_sample_weighted", _ws_oracle())
def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, {WS_K} docs
    per source, via the Efraimidis-Spirakis one-pass scheme: each row
    draws key = ln(u)/w from a deterministic uniform u and its weight w
    (document length here; any quality score plugs in), and the top-k
    keys per group ARE a weighted sample without replacement — THE
    distributed algorithm for 'sample k docs per domain proportional to
    quality' in data-mixing pipelines, because it needs no group totals,
    no rejection loop, and merges under top-k (mergeable across
    partitions, unlike inverse-CDF sampling).

    Determinism: u derives from md5(doc_id) (identical both engines,
    +1 to avoid ln(0)); ln(u)/w divides identical doubles and is frozen
    to integer nano-units per row BEFORE ranking (the entropy-units
    discipline), with doc_id tiebreak.

    Scale shape: one narrow pass computes keys; ONE shuffle keyed by
    source for the top-k window (at mega-group scale, the two-level
    local-top-k prune applies — ext_text_vocab_coverage's shape)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u32 = _spark_md5_32(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
    key_units = F.round(
        F.log((u32 + 1.0) / 4294967296.0) / F.col("n_chars") * 1000000000.0, 0
    ).cast("bigint")
    keyed = docs.select(
        "doc_id", "source",
        F.col("n_chars").cast("bigint").alias("weight"),
        key_units.alias("key_units"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("key_units"), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WS_K)
        .select("source", "doc_id", "weight", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# ext_exact_quantiles_twopass
# ---------------------------------------------------------------------------

EQ_BUCKET = 65536  # counting-sort bucket width (cents)
EQ_QUARTILES = [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4)]


def _eq_oracle() -> str:
    rows = []
    for label, num, den in EQ_QUARTILES:
        rows.append(
            f"""
    SELECT '{label}' AS quantile, n.n AS n_rows,
           {dround(f'''(({den} - ((n.n - 1) * {num}) % {den})
                        * (SELECT c FROM ranked WHERE rn = ((n.n - 1) * {num}) // {den} + 1)
                        + (((n.n - 1) * {num}) % {den})
                        * (SELECT c FROM ranked
                           WHERE rn = LEAST(((n.n - 1) * {num}) // {den} + 2, n.n)))
                       * 1.0 / {den} / 100.0''', 6)} AS value
    FROM n"""
        )
    body = "\nUNION ALL".join(rows)
    return f"""
    WITH cents AS MATERIALIZED (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
    ), ranked AS MATERIALIZED (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM cents
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents
    )
    {body}
    """


@register("ext_exact_quantiles_twopass", _eq_oracle())
def ext_exact_quantiles_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quartiles of a warehouse-scale column WITHOUT a
    global sort: pass 1 builds a counting-sort histogram over
    {EQ_BUCKET}-cent buckets (map-side combined; the bucket table is
    range/{EQ_BUCKET} rows — thousands, not billions); the cumulative
    bucket counts locate which bucket holds each needed order statistic;
    pass 2 ranks ONLY inside those few buckets (each ~N/#buckets rows)
    and picks the exact k-th values. This is how exact percentiles are
    done at 100 TB — the agg_percentile key's per-group sort is the
    small-data shape, approx_percentile trades exactness; this key gives
    exactness AND scale (two scans, no corpus-wide sort, the only
    unpartitioned window runs on the tiny bucket table).

    Exactness: order statistics are exact integer cents; the
    interpolation q = ((den-f)*v_lo + f*v_hi) / den is assembled from
    exact integers (f = (N-1)*num mod den), so both engines divide
    identical values. Duplicate cents make within-bucket row_number ties
    arbitrary but the SELECTED VALUE identical — order statistics
    depend on values, not row identity.

    Scale shape: pass-1 histogram is one map-side-combined aggregate;
    the 6 order-statistic positions and the bucket cumsum live on
    grid-sized frames (broadcast); pass-2 filters the corpus to the
    target buckets (predicate on the bucket expression) and windows
    within bucket only."""
    li = load(spark, sf_dir, "lineitem")
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("c")
    ).withColumn("bucket", (F.col("c") / EQ_BUCKET).cast("bigint"))
    # r10: the tiny reused frames (scalar count, cumulative histogram,
    # located positions) are pinned with localCheckpoint — each is consumed
    # by 2+ downstream branches, and unpinned the plan replayed the whole
    # lineitem scan per consumer (plan audit: 6 lineitem scans; now the
    # corpus is read exactly twice — histogram pass + target-bucket pass —
    # plus one column-less count)
    n = cents.agg(F.count(F.lit(1)).cast("bigint").alias("n")).localCheckpoint(
        eager=False
    )
    quart = spark.createDataFrame(EQ_QUARTILES, ["quantile", "num", "den"])
    pos = (
        quart.crossJoin(F.broadcast(n))
        .withColumn("m", (F.col("n") - 1) * F.col("num"))
        .withColumn("k_lo", (F.col("m") / F.col("den")).cast("bigint") + 1)
        .withColumn("frac_num", F.pmod(F.col("m"), F.col("den")))
        .select(
            "quantile", "num", "den", "n", "frac_num",
            F.explode(
                F.array(
                    F.struct(F.lit("lo").alias("side"), F.col("k_lo").alias("k")),
                    F.struct(
                        F.lit("hi").alias("side"),
                        F.least(F.col("k_lo") + 1, F.col("n")).alias("k"),
                    ),
                )
            ).alias("pk"),
        )
        .select("quantile", "den", "frac_num", F.col("pk.side"), F.col("pk.k"))
    )
    hist = cents.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    located = pos.join(
        F.broadcast(cum),
        (pos.k > F.col("cum_prev")) & (pos.k <= F.col("cum")),
    ).select("quantile", "den", "frac_num", "side", "k", "bucket",
             (F.col("k") - F.col("cum_prev")).alias("within_k")
    ).localCheckpoint(eager=False)  # 6 rows; feeds target_buckets AND vals
    target_buckets = located.select("bucket").distinct()
    w_b = Window.partitionBy("bucket").orderBy("c")
    in_bucket = (
        cents.join(F.broadcast(target_buckets), "bucket", "left_semi")
        .withColumn("rn", F.row_number().over(w_b))
    )
    vals = located.join(
        in_bucket, (located.bucket == in_bucket.bucket) & (located.within_k == in_bucket.rn)
    ).select("quantile", "den", "frac_num", "side", "c")
    agg = vals.groupBy("quantile", "den", "frac_num").agg(
        F.max(F.when(F.col("side") == "lo", F.col("c"))).alias("v_lo"),
        F.max(F.when(F.col("side") == "hi", F.col("c"))).alias("v_hi"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "quantile",
        F.col("n").alias("n_rows"),
        F.round(
            (
                (F.col("den") - F.col("frac_num")) * F.col("v_lo")
                + F.col("frac_num") * F.col("v_hi")
            )
            * F.lit(1.0)
            / F.col("den")
            / 100.0,
            6,
        ).alias("value"),
    )


# ---------------------------------------------------------------------------
# ext_sketch_hll_custom
# ---------------------------------------------------------------------------

HLL_P = 6  # register-index bits -> m = 64 registers (demonstration precision)
HLL_M = 1 << HLL_P
HLL_WBITS = 32 - HLL_P  # 26-bit rho field
HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007)


def _rho_case_sql(w: str) -> str:
    branches = " ".join(
        f"WHEN {w} >= {1 << p} THEN {HLL_WBITS - p}"
        for p in range(HLL_WBITS - 1, -1, -1)
    )
    return f"(CASE {branches} ELSE {HLL_WBITS + 1} END)"


def _rho_case_spark(w):
    expr = F.lit(HLL_WBITS + 1)
    for p in range(0, HLL_WBITS):
        expr = F.when(w >= (1 << p), HLL_WBITS - p).otherwise(expr)
    return expr


def _hll_oracle() -> str:
    u = _md5_32("'hll:' || CAST(user_id AS VARCHAR)")
    return f"""
    WITH hashed AS (
        SELECT DISTINCT event_type, user_id,
               {u} % {HLL_M} AS idx,
               {_rho_case_sql(f"({u} // {HLL_M})")} AS rho
        FROM events
    ), regs AS (
        SELECT event_type, idx, MAX(rho) AS m FROM hashed GROUP BY 1, 2
    ), sums AS (
        SELECT event_type,
               CAST(SUM(1 << ({HLL_WBITS + 1} - m)) AS BIGINT) AS s_units,
               CAST(COUNT(*) AS BIGINT) AS nz
        FROM regs GROUP BY 1
    ), exact AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT s.event_type, s.nz AS nonzero_registers, e.exact_distinct,
           {dround(f'''CASE WHEN {HLL_M} - s.nz > 0
                        AND {HLL_ALPHA} * {HLL_M * HLL_M}.0
                            / (CAST(s.s_units AS DOUBLE) / {1 << (HLL_WBITS + 1)}.0
                               + ({HLL_M} - s.nz))
                            <= {2.5 * HLL_M}
                       THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - s.nz))
                       ELSE {HLL_ALPHA} * {HLL_M * HLL_M}.0
                            / (CAST(s.s_units AS DOUBLE) / {1 << (HLL_WBITS + 1)}.0
                               + ({HLL_M} - s.nz)) END''', 6)} AS hll_estimate
    FROM sums s JOIN exact e USING (event_type)
    """


@register("ext_sketch_hll_custom", _hll_oracle())
def ext_sketch_hll_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from first principles — not Spark's approx HLL
    but the actual register algebra, so the ORACLE CHECKS THE REGISTERS
    bit-for-bit: per (event_type, user) the md5-derived hash splits into
    a {HLL_P}-bit register index and a {HLL_WBITS}-bit field whose
    leading-zero count (+1) is rho; registers keep MAX(rho) — the
    mergeable state that makes HLL THE distributed distinct-count
    sketch (union = elementwise max; shards sketch independently).
    Reports the standard estimate alpha*m^2/sum(2^-M_j) with the
    small-range linear-counting correction, next to the exact distinct
    so the error is visible ({HLL_M} registers is demonstration
    precision, ~13% rse — the algebra, not the constant, is the point;
    ext_approx_distinct wraps the production-precision built-in).

    Exactness: rho comes from an integer comparison ladder (no libm);
    sum(2^-M_j) accumulates as the INTEGER sum(2^({HLL_WBITS + 1}-M_j))
    rescaled once — no float summation at all; the correction's ln
    applies to a ratio of identical integers.

    Scale shape: the raw event stream folds STRAIGHT into the
    (group, {HLL_M})-register max aggregate — no distinct-collapse
    first: idx and rho are functions of user_id, so repeated events of
    one user hit the same register with the same rho and MAX absorbs
    them (that insensitivity to duplication is the whole point of HLL);
    partials are bounded by groups x registers, map-side combined."""
    ev = load(spark, sf_dir, "events")
    u = _spark_md5_32(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    hashed = ev.select(
        "event_type",
        F.pmod(u, F.lit(HLL_M)).alias("idx"),
        _rho_case_spark(F.floor(u / HLL_M)).alias("rho"),
    )
    regs = hashed.groupBy("event_type", "idx").agg(F.max("rho").alias("m"))
    sums = regs.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(1L, {HLL_WBITS + 1} - m)").cast("bigint"))
        .cast("bigint").alias("s_units"),
        F.count(F.lit(1)).cast("bigint").alias("nz"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    denom = (
        F.col("s_units").cast("double") / float(1 << (HLL_WBITS + 1))
        + (HLL_M - F.col("nz"))
    )
    raw = HLL_ALPHA * float(HLL_M * HLL_M) / denom
    est = F.when(
        ((HLL_M - F.col("nz")) > 0) & (raw <= 2.5 * HLL_M),
        float(HLL_M) * F.log(float(HLL_M) / (HLL_M - F.col("nz"))),
    ).otherwise(raw)
    return sums.join(exact, "event_type").select(
        "event_type",
        F.col("nz").alias("nonzero_registers"),
        "exact_distinct",
        F.round(est, 6).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# ext_sketch_kmv
# ---------------------------------------------------------------------------

KMV_K = 64  # minimum hash values kept


@register(
    "ext_sketch_kmv",
    f"""
    WITH hashed AS (
        SELECT DISTINCT event_type, user_id,
               {_md5_32("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ), ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
        FROM hashed
    )
    SELECT event_type, nd AS exact_distinct,
           CAST(h AS BIGINT) AS kth_hash,
           {dround(f'''CASE WHEN nd <= {KMV_K} THEN nd * 1.0
                       ELSE ({KMV_K} - 1) * 4294967296.0 / h END''', 6)}
               AS kmv_estimate
    FROM ranked WHERE rk = LEAST({KMV_K}, nd)
    """,
)
def ext_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch: keep the {KMV_K} smallest hash
    values per group; the k-th smallest hash h_k estimates cardinality
    as (k-1) * 2^32 / h_k (uniform hashes: the k-th order statistic of n
    uniforms sits near k/n of the range). KMV is the OTHER classic
    mergeable distinct sketch (merge = union then re-truncate to k) and,
    unlike HLL, also supports set INTERSECTION estimates — which is why
    theta-sketch engines (Druid/DataSketches) build on it. Groups at or
    under {KMV_K} distinct values report exactly.

    Exactness: the k-th smallest md5 hash is a deterministic integer in
    both engines (user_id tiebreak on hash collisions); the estimate
    divides identical exact integers. The exact distinct count rides
    along so the error is visible.

    Scale shape: distinct-collapse, then a per-group top-k — at scale
    the two-level local-top-k prune bounds the sort (each partition
    keeps its own {KMV_K} minima first: KMV state is mergeable by
    construction, which is the whole point)."""
    ev = load(spark, sf_dir, "events")
    u = _spark_md5_32(F.concat(F.lit("kmv:"), F.col("user_id").cast("string")))
    hashed = ev.select("event_type", "user_id", u.alias("h")).distinct()
    w_rk = Window.partitionBy("event_type").orderBy("h", "user_id")
    w_all = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type", "h",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("nd"),
    )
    est = F.when(
        F.col("nd") <= KMV_K, F.col("nd") * F.lit(1.0)
    ).otherwise(F.lit(float(KMV_K - 1)) * 4294967296.0 / F.col("h"))
    return ranked.filter(
        F.col("rk") == F.least(F.lit(KMV_K).cast("bigint"), F.col("nd"))
    ).select(
        "event_type",
        F.col("nd").alias("exact_distinct"),
        F.col("h").cast("bigint").alias("kth_hash"),
        F.round(est, 6).alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# ext_text_bigram_kn
# ---------------------------------------------------------------------------

KN_D = 0.75  # absolute discount (Kneser-Ney standard)
KN_MIN_W1 = 50  # head-frequency floor
KN_TOPK = 5  # continuations reported per head


@register(
    "ext_text_bigram_kn",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS l FROM documents
    ), big AS (
        SELECT l[i] AS w1, l[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(l) - 1)) AS t(i)
    ), c AS MATERIALIZED (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM big GROUP BY 1, 2
    ), heads AS (
        SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS c_w1,
               CAST(COUNT(*) AS BIGINT) AS n_fw
        FROM c GROUP BY 1
    ), bw AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_bw FROM c GROUP BY 1
    ), t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c
    ), scored AS (
        SELECT c.w1, c.w2, c.n_pair, h.c_w1,
               GREATEST(c.n_pair - {KN_D}, 0.0) / h.c_w1
                   + {KN_D} * h.n_fw / h.c_w1 * (bw.n_bw * 1.0 / t.n_types)
                   AS p_kn_raw,
               CAST(c.n_pair AS DOUBLE) / h.c_w1 AS p_mle_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY c.w1 ORDER BY c.n_pair DESC, c.w2
               ) AS rk
        FROM c
        JOIN heads h USING (w1)
        JOIN bw USING (w2)
        CROSS JOIN t
        WHERE h.c_w1 >= {KN_MIN_W1}
    )
    SELECT w1, w2, n_pair, c_w1, CAST(rk AS BIGINT) AS rk,
           {dround('p_mle_raw', 6)} AS p_mle,
           {dround('p_kn_raw', 6)} AS p_kn
    FROM scored WHERE rk <= {KN_TOPK}
    """,
)
def ext_text_bigram_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram model — the ext_text_bigram_lm table
    upgraded from raw MLE to the smoothing that actually ships in KenLM:
    P_KN(w2|w1) = max(c(w1,w2)-D, 0)/c(w1) + D*N1+(w1,.)/c(w1) *
    N1+(.,w2)/|bigram types|, with absolute discount D={KN_D}. The
    backoff weight uses CONTINUATION counts (how many distinct contexts
    a word follows), the KN insight that makes 'francisco' unlikely
    after unseen contexts even though 'san francisco' is frequent.
    Reported next to the MLE so the smoothing's effect is visible.

    Determinism: every count is an exact integer; c - {KN_D} is an exact
    dyadic; both probability expressions combine identical doubles in
    the SAME association order in both engines, then dround(6).

    Scale shape: one (w1,w2) hash aggregate (map-side combined absorbs
    Zipf heads), two vocabulary-sized marginals joined back (head join
    broadcast-eligible after the frequency filter; the w2 join is a
    plain equi-join keyed by word), a 1-row type total broadcast, and a
    per-head window over the (filtered) vocabulary grid."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    sized = docs.select(toks.alias("l"), F.size(toks).alias("n")).filter(
        F.col("n") >= 2
    )
    big = sized.withColumn(
        "i", F.explode(F.sequence(F.lit(1), F.col("n") - 1))
    ).select(
        F.element_at("l", F.col("i")).alias("w1"),
        F.element_at("l", F.col("i") + 1).alias("w2"),
    )
    c = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pair")
    ).localCheckpoint(eager=False)  # feeds heads, bw, types AND the join
    heads = c.groupBy("w1").agg(
        F.sum("n_pair").cast("bigint").alias("c_w1"),
        F.count(F.lit(1)).cast("bigint").alias("n_fw"),
    ).filter(F.col("c_w1") >= KN_MIN_W1)
    bw = c.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n_bw"))
    t = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    p_kn = (
        F.greatest(F.col("n_pair") - KN_D, F.lit(0.0)) / F.col("c_w1")
        + KN_D * F.col("n_fw") / F.col("c_w1")
        * (F.col("n_bw") * F.lit(1.0) / F.col("n_types"))
    )
    p_mle = F.col("n_pair").cast("double") / F.col("c_w1")
    w = Window.partitionBy("w1").orderBy(F.desc("n_pair"), "w2")
    return (
        c.join(F.broadcast(heads), "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(t))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KN_TOPK)
        .select(
            "w1", "w2", "n_pair", "c_w1",
            F.col("rk").cast("bigint").alias("rk"),
            F.round(p_mle, 6).alias("p_mle"),
            F.round(p_kn, 6).alias("p_kn"),
        )
    )


# ---------------------------------------------------------------------------
# ext_survival_km
# ---------------------------------------------------------------------------

KM_CENSOR_DAYS = 90  # last order within this window of corpus end = censored


@register(
    "ext_survival_km",
    f"""
    WITH cust AS (
        SELECT o_custkey,
               MIN(CAST(o_orderdate AS DATE)) AS f,
               MAX(CAST(o_orderdate AS DATE)) AS l
        FROM orders GROUP BY 1
    ), anchor AS (
        SELECT MAX(l) AS now_d FROM cust
    ), obs AS (
        SELECT c.o_custkey,
               CASE WHEN a.now_d - c.l <= {KM_CENSOR_DAYS}
                    THEN CAST(a.now_d - c.f AS BIGINT)
                    ELSE CAST(c.l - c.f AS BIGINT) END AS t_days,
               CASE WHEN a.now_d - c.l <= {KM_CENSOR_DAYS} THEN 0 ELSE 1 END AS event
        FROM cust c CROSS JOIN anchor a
    ), grid AS (
        SELECT t_days,
               CAST(SUM(event) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS ending_here
        FROM obs GROUP BY 1
    ), risk AS (
        SELECT t_days, d,
               SUM(ending_here) OVER (
                   ORDER BY t_days DESC ROWS UNBOUNDED PRECEDING
               ) AS n_at_risk
        FROM grid
    ), units AS (
        SELECT t_days, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
               CAST(ROUND(ln((n_at_risk - d) * 1.0 / n_at_risk)
                          * 1000000000.0) AS BIGINT) AS lnu
        FROM risk WHERE d > 0 AND n_at_risk > d
    )
    SELECT t_days, n_at_risk, d AS n_events,
           {dround('''exp(SUM(lnu) OVER (
                          ORDER BY t_days ROWS UNBOUNDED PRECEDING
                      ) / 1000000000.0)''', 6)} AS survival
    FROM units
    """,
)
def ext_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime (first order to
    churn): customers whose last order falls within {KM_CENSOR_DAYS}
    days of the corpus end are right-CENSORED (still alive — the whole
    point of KM over a naive lifetime histogram, which biases toward
    short lives); the rest churn at t = last - first days. At each event
    time S(t) multiplies by (1 - d_t/n_t) over the risk set — the
    retention curve product teams put under 'median customer lifetime'.
    Times where every at-risk customer dies (n == d) terminate the curve
    and are excluded from the log-product (ln(0)).

    Determinism: d and the risk set are exact integers (risk = a
    suffix-sum over the time grid); each factor's ln applies to a ratio
    of identical integers and freezes to integer nano-units per row
    BEFORE the cumulative sum, so the product accumulates exactly;
    the final exp maps identical doubles through dround(6).

    Scale shape: the fact collapses to one row per CUSTOMER, then one
    row per distinct lifetime; every window runs on the days-sized grid
    (the win_lag_12_global post-aggregation discipline)."""
    od = load(spark, sf_dir, "orders")
    cust = od.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("f"),
        F.max(F.to_date("o_orderdate")).alias("l"),
    )
    anchor = cust.agg(F.max("l").alias("now_d"))
    censored = F.datediff("now_d", "l") <= KM_CENSOR_DAYS
    obs = cust.crossJoin(F.broadcast(anchor)).select(
        F.when(censored, F.datediff("now_d", "f"))
        .otherwise(F.datediff("l", "f")).cast("bigint").alias("t_days"),
        F.when(censored, 0).otherwise(1).alias("event"),
    )
    grid = obs.groupBy("t_days").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("ending_here"),
    )
    w_risk = Window.orderBy(F.desc("t_days")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.withColumn("n_at_risk", F.sum("ending_here").over(w_risk))
    units = risk.filter((F.col("d") > 0) & (F.col("n_at_risk") > F.col("d"))).select(
        "t_days", "d",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.round(
            F.log((F.col("n_at_risk") - F.col("d")) * F.lit(1.0) / F.col("n_at_risk"))
            * 1000000000.0,
            0,
        ).cast("bigint").alias("lnu"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    return units.select(
        "t_days", "n_at_risk", F.col("d").alias("n_events"),
        F.round(F.exp(F.sum("lnu").over(w_cum) / 1000000000.0), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# ext_funnel_latency
# ---------------------------------------------------------------------------


@register(
    "ext_funnel_latency",
    f"""
    WITH t1 AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
        SELECT e.user_id, MIN(t1.first_view) AS first_view, MIN(e.ts) AS first_click
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.first_view
        GROUP BY e.user_id
    ), t3 AS (
        SELECT e.user_id, MIN(t2.first_click) AS first_click,
               MIN(e.ts) AS first_purchase
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.first_click
        GROUP BY e.user_id
    ), lat AS (
        SELECT 'view_to_click' AS transition,
               epoch_us(first_click) - epoch_us(first_view) AS lat_us
        FROM t2
        UNION ALL
        SELECT 'click_to_purchase' AS transition,
               epoch_us(first_purchase) - epoch_us(first_click) AS lat_us
        FROM t3
    ), ranked AS (
        SELECT transition, lat_us,
               ROW_NUMBER() OVER (PARTITION BY transition ORDER BY lat_us) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY transition) AS BIGINT) AS n
        FROM lat
    ), stats AS (
        SELECT transition, MAX(n) AS n_users,
               MAX(CASE WHEN rk = ((n - 1) * 1) // 2 + 1 THEN lat_us END) AS med_lo,
               MAX(CASE WHEN rk = LEAST(((n - 1) * 1) // 2 + 2, n) THEN lat_us END)
                   AS med_hi,
               MAX(CASE WHEN rk = ((n - 1) * 9) // 10 + 1 THEN lat_us END) AS p90_lo,
               MAX(CASE WHEN rk = LEAST(((n - 1) * 9) // 10 + 2, n) THEN lat_us END)
                   AS p90_hi,
               MAX(((n - 1) * 1) % 2) AS med_f,
               MAX(((n - 1) * 9) % 10) AS p90_f
        FROM ranked GROUP BY 1
    )
    SELECT transition, n_users,
           {dround('((2 - med_f) * med_lo + med_f * med_hi) * 1.0 / 2 / 1000000.0', 6)}
               AS median_s,
           {dround('((10 - p90_f) * p90_lo + p90_f * p90_hi) * 1.0 / 10 / 1000000.0', 6)}
               AS p90_s
    FROM stats
    """,
)
def ext_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel transition latency: for users progressing through
    ext_event_funnel's view -> click -> purchase sequence, the median
    and p90 seconds between consecutive first-completions — the metric
    that turns a funnel COUNT report into a 'where do users stall'
    report (a step can convert well but take days — invisible to
    counts).

    Determinism: latencies are exact integer MICROseconds (DuckDB's
    epoch() returns fractional-second doubles while a Spark long cast
    truncates — epoch_us/unix_micros agree exactly); the percentiles
    are assembled from EXACT ORDER STATISTICS (rank k via row_number,
    interpolation ((den-f)*v_lo + f*v_hi)/den from integer fractions) —
    built-in percentile/quantile_cont interpolate with algebraically
    different formulas across engines (lower+(frac)*(hi-lo) vs
    (1-frac)*lo+frac*hi) and a last-ulp difference was observed landing
    exactly on a 6dp rounding tie; order statistics cannot drift.

    Scale shape (r10 single-shuffle rewrite, the ext_window_funnel
    shape): ONE scan of the three event types and ONE user_id-keyed
    Exchange; the three first-completion times are stacked
    conditional-MIN windows over that partitioning (unordered frames —
    no sort), each conditioned on the previous step's windowed value;
    the per-user collapse emits both transition rows via explode. The
    prior shape ran three filtered scans + three user-keyed shuffles +
    two step joins, and the latency union replayed the t2 subtree (plan
    audit: 5 events scans -> 1). The rank window partitions by
    transition over per-user rows (at 100 TB swap for the two-pass
    bucket method of ext_exact_quantiles_twopass — documented)."""
    ev3 = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    w_u = Window.partitionBy("user_id")
    staged = ev3.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w_u)
    ).filter(F.col("t1").isNotNull())
    staged = staged.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("us") > F.col("t1")),
                F.col("us"),
            )
        ).over(w_u),
    )
    staged = staged.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("us") > F.col("t2")),
                F.col("us"),
            )
        ).over(w_u),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    lat = (
        per_user.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("view_to_click").alias("transition"),
                        (F.col("t2") - F.col("t1")).alias("lat_us"),
                    ),
                    F.struct(
                        F.lit("click_to_purchase").alias("transition"),
                        (F.col("t3") - F.col("t2")).alias("lat_us"),
                    ),
                )
            ).alias("x")
        )
        .select("x.transition", "x.lat_us")
        .filter(F.col("lat_us").isNotNull())
    )
    w_rk = Window.partitionBy("transition").orderBy("lat_us")
    w_n = Window.partitionBy("transition")
    ranked = lat.select(
        "transition", "lat_us",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n"),
    )
    med_klo = F.expr("(n - 1) div 2 + 1")
    med_khi = F.least(med_klo + 1, F.col("n"))
    p90_klo = F.expr("((n - 1) * 9) div 10 + 1")
    p90_khi = F.least(p90_klo + 1, F.col("n"))
    stats = ranked.groupBy("transition").agg(
        F.max("n").alias("n_users"),
        F.max(F.when(F.col("rk") == med_klo, F.col("lat_us"))).alias("med_lo"),
        F.max(F.when(F.col("rk") == med_khi, F.col("lat_us"))).alias("med_hi"),
        F.max(F.when(F.col("rk") == p90_klo, F.col("lat_us"))).alias("p90_lo"),
        F.max(F.when(F.col("rk") == p90_khi, F.col("lat_us"))).alias("p90_hi"),
        F.max(F.expr("(n - 1) % 2")).alias("med_f"),
        F.max(F.expr("((n - 1) * 9) % 10")).alias("p90_f"),
    )
    return stats.select(
        "transition", "n_users",
        F.round(
            ((2 - F.col("med_f")) * F.col("med_lo") + F.col("med_f") * F.col("med_hi"))
            * F.lit(1.0) / 2 / 1000000.0,
            6,
        ).alias("median_s"),
        F.round(
            ((10 - F.col("p90_f")) * F.col("p90_lo") + F.col("p90_f") * F.col("p90_hi"))
            * F.lit(1.0) / 10 / 1000000.0,
            6,
        ).alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# ext_seasonal_anomaly
# ---------------------------------------------------------------------------

SA_Z = 3.0  # robust z-score threshold
SA_MAD_K = 1.4826  # MAD -> sigma consistency constant (normal)


@register(
    "ext_seasonal_anomaly",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), ma AS (
        SELECT d, cents,
               SUM(cents) OVER w AS s7, COUNT(*) OVER w AS n7
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN {TSD_HALF} PRECEDING
                     AND {TSD_HALF} FOLLOWING)
    ), det AS (
        SELECT d, cents, 7 * cents - s7 AS u, dayofweek(d) AS dow
        FROM ma WHERE n7 = 7
    ), season AS (
        SELECT dow, CAST(SUM(u) AS BIGINT) AS su, CAST(COUNT(*) AS BIGINT) AS nu
        FROM det GROUP BY 1
    ), resid AS MATERIALIZED (
        SELECT det.d, det.cents,
               CAST(ROUND((det.u * s.nu - s.su) * 1.0
                          / (7 * s.nu) / 100.0 * 1000000.0) AS BIGINT) AS r_units
        FROM det JOIN season s USING (dow)
    ), ranked AS (
        SELECT ABS(r_units) AS a,
               ROW_NUMBER() OVER (ORDER BY ABS(r_units)) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM resid
    ), mad AS (
        SELECT (MAX(CASE WHEN rk = (n - 1) // 2 + 1 THEN a END)
                * (2 - MAX((n - 1) % 2))
                + MAX(CASE WHEN rk = LEAST((n - 1) // 2 + 2, n) THEN a END)
                * MAX((n - 1) % 2)) * 1.0 / 2 AS mad_units
        FROM ranked
    )
    SELECT r.d, {dround('r.cents / 100.0', 6)} AS revenue,
           {dround('r.r_units / 1000000.0', 6)} AS residual,
           {dround(f'r.r_units / ({SA_MAD_K} * m.mad_units)', 6)} AS robust_z
    FROM resid r CROSS JOIN mad m
    WHERE m.mad_units > 0
      AND ABS(r.r_units / ({SA_MAD_K} * m.mad_units)) > {SA_Z}
    """,
)
def ext_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware revenue anomaly days: ext_ts_decompose's
    residual (trend and day-of-week effects removed) scored by a ROBUST
    z — residual / ({SA_MAD_K} * MAD) — and days beyond |z| > {SA_Z}
    reported. MAD (median absolute deviation) instead of stddev because
    anomalies inflate the stddev that is supposed to detect them; the
    {SA_MAD_K} factor makes MAD sigma-consistent under normality. This
    is ext_anomaly_rolling_z's seasonal sibling: rolling-z flags 'unusual
    vs recent days', this flags 'unusual vs what this weekday usually
    does after detrending'.

    Determinism: residuals freeze to integer micro-units (identical
    doubles in, identical integers out); the MAD median is an exact
    order statistic over those integers (no engine quantile functions —
    see ext_funnel_latency's interpolation pitfall); the z ratio divides
    identical values.

    Scale shape: everything after the daily collapse runs on the
    days-sized grid."""
    od = load(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    w7 = Window.orderBy("d").rowsBetween(-TSD_HALF, TSD_HALF)
    det = (
        daily.withColumn("s7", F.sum("cents").over(w7))
        .withColumn("n7", F.count(F.lit(1)).over(w7))
        .filter(F.col("n7") == 7)
        .withColumn("u", 7 * F.col("cents") - F.col("s7"))
        .withColumn("dow", F.dayofweek("d"))
    )
    season = det.groupBy("dow").agg(
        F.sum("u").cast("bigint").alias("su"),
        F.count(F.lit(1)).cast("bigint").alias("nu"),
    )
    resid = det.join(F.broadcast(season), "dow").select(
        "d", "cents",
        F.round(
            (F.col("u") * F.col("nu") - F.col("su")) * F.lit(1.0)
            / (7 * F.col("nu")) / 100.0 * 1000000.0,
            0,
        ).cast("bigint").alias("r_units"),
    ).localCheckpoint(eager=False)  # feeds the MAD rank AND the output scan
    w_rk = Window.orderBy(F.abs(F.col("r_units")))
    w_all = Window.partitionBy()
    ranked = resid.select(
        F.abs(F.col("r_units")).alias("a"),
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    klo = F.expr("(n - 1) div 2 + 1")
    khi = F.least(klo + 1, F.col("n"))
    mad = ranked.agg(
        (
            (
                F.max(F.when(F.col("rk") == klo, F.col("a")))
                * (2 - F.max(F.expr("(n - 1) % 2")))
                + F.max(F.when(F.col("rk") == khi, F.col("a")))
                * F.max(F.expr("(n - 1) % 2"))
            )
            * F.lit(1.0) / 2
        ).alias("mad_units")
    )
    z = F.col("r_units") / (SA_MAD_K * F.col("mad_units"))
    return (
        resid.crossJoin(F.broadcast(mad))
        .filter((F.col("mad_units") > 0) & (F.abs(z) > SA_Z))
        .select(
            "d",
            F.round(F.col("cents") / 100.0, 6).alias("revenue"),
            F.round(F.col("r_units") / 1000000.0, 6).alias("residual"),
            F.round(z, 6).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# ext_source_js_divergence
# ---------------------------------------------------------------------------

JSD_V = 256  # global top-V tokens kept; everything else folds into <oov>
JSD_SALTS = 32  # level-1 hash groups for the top-V prune


@register(
    "ext_source_js_divergence",
    f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
    ), cnt AS MATERIALIZED (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ), gcnt AS (
        SELECT tok, SUM(c) AS g FROM cnt GROUP BY 1
    ), topv AS MATERIALIZED (
        SELECT tok FROM (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY g DESC, tok) AS rk FROM gcnt
        ) WHERE rk <= {JSD_V}
    ), tot AS MATERIALIZED (
        SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1
    ), vec AS MATERIALIZED (
        SELECT s.source, g.tok, COALESCE(c.c, 0) AS c, s.t
        FROM tot s
        CROSS JOIN (SELECT tok FROM topv UNION ALL SELECT '<oov>') g
        LEFT JOIN (
            SELECT source, tok, c FROM cnt SEMI JOIN topv USING (tok)
            UNION ALL
            SELECT cnt.source, '<oov>' AS tok, SUM(cnt.c) AS c
            FROM cnt ANTI JOIN topv USING (tok)
            GROUP BY 1, 2
        ) c ON c.source = s.source AND c.tok = g.tok
    ), terms AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(ROUND((
                   CASE WHEN a.c > 0 THEN
                       0.5 * (a.c * 1.0 / a.t)
                       * ln(2.0 * (a.c * 1.0 / a.t)
                            / ((a.c * 1.0 / a.t) + (b.c * 1.0 / b.t)))
                   ELSE 0.0 END
                   + CASE WHEN b.c > 0 THEN
                       0.5 * (b.c * 1.0 / b.t)
                       * ln(2.0 * (b.c * 1.0 / b.t)
                            / ((a.c * 1.0 / a.t) + (b.c * 1.0 / b.t)))
                   ELSE 0.0 END) * 1000000000.0) AS BIGINT) AS u
        FROM vec a JOIN vec b ON a.tok = b.tok AND a.source < b.source
        WHERE a.c > 0 OR b.c > 0
    )
    SELECT source_a, source_b,
           {dround('SUM(u) / 1000000000.0', 6)} AS jsd_nats
    FROM terms GROUP BY 1, 2
    """,
)
def ext_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between sources' unigram
    distributions (restricted to the global top-{JSD_V} tokens, long
    tail folded into an <oov> bucket) — the symmetric, bounded (<= ln 2)
    distributional-distance matrix curation teams use to find redundant
    crawls and to pick maximally-diverse mixture components
    (ext_source_overlap measures shared n-gram SETS; JSD measures
    distributional SHAPE — two sources can share every token yet weight
    them very differently).

    Determinism: probabilities are ratios of exact counts over the SAME
    densified token grid (zeros explicit, so both engines see identical
    term sets); each JSD term freezes to integer nano-units per
    (pair, token) BEFORE summation; zero-sided terms take the exact
    0.5*p*ln(2) branch via CASE, never ln(0).

    Scale shape: one corpus-sized (source, token) aggregate; the top-V
    cut uses the two-level prune ({JSD_SALTS} hash groups); everything
    after runs on the #sources x ({JSD_V}+1) grid and its
    #sources^2/2 x ({JSD_V}+1) pair explosion — grid-sized by
    construction (at 1000 sources that is ~128M tiny rows, one
    shuffle)."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # feeds glob, tot, vec
    )
    glob = cnt.groupBy("tok").agg(F.sum("c").alias("g"))
    w_grp = Window.partitionBy("grp").orderBy(F.desc("g"), "tok")
    pruned = (
        glob.withColumn("grp", F.pmod(F.xxhash64("tok"), F.lit(JSD_SALTS)))
        .withColumn("lrk", F.row_number().over(w_grp))
        .filter(F.col("lrk") <= JSD_V)
        .drop("grp", "lrk")
    )
    w_all = Window.orderBy(F.desc("g"), "tok")
    topv = (
        pruned.withColumn("rk", F.row_number().over(w_all))
        .filter(F.col("rk") <= JSD_V)
        .select("tok")
        .localCheckpoint(eager=False)  # feeds grid, semi and anti joins
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("t"))
    in_top = cnt.join(F.broadcast(topv), "tok", "left_semi")
    oov = (
        cnt.join(F.broadcast(topv), "tok", "left_anti")
        .groupBy("source")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .select("source", F.lit("<oov>").alias("tok"), "c")
    )
    counts = in_top.select("source", "tok", "c").unionByName(oov)
    grid = tot.crossJoin(
        F.broadcast(topv.unionByName(topv.sparkSession.createDataFrame([("<oov>",)], ["tok"]).limit(1)))
    )
    vec = (
        grid.join(counts, ["source", "tok"], "left")
        .select("source", "tok", F.coalesce(F.col("c"), F.lit(0)).alias("c"), "t")
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    a, b = vec.alias("a"), vec.alias("b")
    pa = F.col("a.c") * F.lit(1.0) / F.col("a.t")
    pb = F.col("b.c") * F.lit(1.0) / F.col("b.t")
    term = (
        F.when(F.col("a.c") > 0, 0.5 * pa * F.log(2.0 * pa / (pa + pb))).otherwise(0.0)
        + F.when(F.col("b.c") > 0, 0.5 * pb * F.log(2.0 * pb / (pa + pb))).otherwise(0.0)
    )
    terms = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .filter((F.col("a.c") > 0) | (F.col("b.c") > 0))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.round(term * 1000000000.0, 0).cast("bigint").alias("u"),
        )
    )
    return terms.groupBy("source_a", "source_b").agg(
        F.round(F.sum("u") / 1000000000.0, 6).alias("jsd_nats")
    )


# ---------------------------------------------------------------------------
# ext_exact_quantiles_grouped
# ---------------------------------------------------------------------------


@register(
    "ext_exact_quantiles_grouped",
    f"""
    WITH cents AS MATERIALIZED (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem
    ), ranked AS MATERIALIZED (
        SELECT grp, c,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
        FROM cents
    ), stats AS (
        SELECT grp, MAX(n) AS n_rows,
               MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN c END) AS v_lo,
               MAX(CASE WHEN rn = LEAST((n - 1) // 2 + 2, n) THEN c END) AS v_hi,
               MAX((n - 1) % 2) AS f
        FROM ranked GROUP BY 1
    )
    SELECT grp AS l_returnflag, n_rows,
           {dround('((2 - f) * v_lo + f * v_hi) * 1.0 / 2 / 100.0', 6)}
               AS median_price
    FROM stats
    """,
)
def ext_exact_quantiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median WITHOUT a per-group sort — the grouped
    form of ext_exact_quantiles_twopass, and the direct answer to
    agg_percentile's documented tradeoff ('at 100 TB prefer approx;
    exact requires a per-group sort'): pass 1 builds a per-(group,
    bucket) counting histogram, the cumulative bucket table (grid-sized)
    locates each group's middle order statistics, pass 2 ranks only
    inside the located buckets. Exact AND scale-safe, per group.

    Exactness: order statistics are exact integer cents; the even-count
    interpolation is assembled from exact integers (ext_funnel_latency's
    discipline — no engine quantile functions).

    Scale shape: pass-1 histogram is one map-side-combined aggregate on
    (group, bucket); the cumsum windows partition by group over the
    bucket grid; pass-2 windows run only inside the ~#groups target
    buckets (each ~N_g/#buckets rows)."""
    li = load(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("c"),
    ).withColumn("bucket", (F.col("c") / EQ_BUCKET).cast("bigint"))
    n = cents.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pos = (
        n.withColumn("k_lo", F.expr("(n - 1) div 2 + 1"))
        .withColumn("f", F.expr("(n - 1) % 2"))
        .select(
            "grp", "n", "f",
            F.explode(
                F.array(
                    F.struct(F.lit("lo").alias("side"), F.col("k_lo").alias("k")),
                    F.struct(
                        F.lit("hi").alias("side"),
                        F.least(F.col("k_lo") + 1, F.col("n")).alias("k"),
                    ),
                )
            ).alias("pk"),
        )
        .select("grp", "n", "f", F.col("pk.side"), F.col("pk.k"))
    )
    hist = cents.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    located = pos.join(
        F.broadcast(cum.withColumnRenamed("grp", "grp2")),
        (pos.grp == F.col("grp2"))
        & (pos.k > F.col("cum_prev"))
        & (pos.k <= F.col("cum")),
    ).select("grp", "n", "f", "side", "bucket",
             (F.col("k") - F.col("cum_prev")).alias("within_k"))
    targets = located.select("grp", "bucket").distinct()
    w_b = Window.partitionBy("grp", "bucket").orderBy("c")
    in_bucket = (
        cents.join(F.broadcast(targets), ["grp", "bucket"], "left_semi")
        .withColumn("rn", F.row_number().over(w_b))
    )
    vals = located.join(in_bucket, ["grp", "bucket"]).filter(
        F.col("within_k") == F.col("rn")
    ).select("grp", "n", "f", "side", "c")
    agg = vals.groupBy("grp", "n", "f").agg(
        F.max(F.when(F.col("side") == "lo", F.col("c"))).alias("v_lo"),
        F.max(F.when(F.col("side") == "hi", F.col("c"))).alias("v_hi"),
    )
    return agg.select(
        F.col("grp").alias("l_returnflag"),
        F.col("n").alias("n_rows"),
        F.round(
            ((2 - F.col("f")) * F.col("v_lo") + F.col("f") * F.col("v_hi"))
            * F.lit(1.0) / 2 / 100.0,
            6,
        ).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# ext_changepoint_cusum
# ---------------------------------------------------------------------------

CUSUM_TOPK = 5  # candidate changepoints reported


@register(
    "ext_changepoint_cusum",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ), cum AS (
        SELECT d, cents,
               SUM(cents) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pfx,
               ROW_NUMBER() OVER (ORDER BY d) AS k
        FROM daily
    ), dev AS (
        SELECT c.d, c.cents,
               CAST(t.n AS HUGEINT) * c.pfx - CAST(c.k AS HUGEINT) * t.s
                   AS s_units,
               t.n, t.s
        FROM cum c CROSS JOIN tot t
    ), ranked AS (
        SELECT d, cents, s_units,
               ROW_NUMBER() OVER (ORDER BY ABS(s_units) DESC, d) AS rk
        FROM dev
    )
    SELECT d, {dround('cents / 100.0', 6)} AS revenue,
           {dround('''CAST(CAST(s_units AS VARCHAR) AS DOUBLE)
                      / CAST(n AS DOUBLE) / 100.0''', 6)} AS cusum,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT r.*, t.n FROM ranked r CROSS JOIN tot t)
    WHERE rk <= {CUSUM_TOPK}
    """,
)
def ext_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily revenue series: the
    cumulative sum of deviations from the global mean peaks (in absolute
    value) exactly where the series' level shifts — the top-{CUSUM_TOPK}
    |CUSUM| days are the candidate changepoints (Page 1954; the
    mean-shift special case is also the first split of binary
    segmentation). Complements ext_seasonal_anomaly: that flags single
    outlier DAYS, this locates sustained LEVEL SHIFTS.

    Exactness: the deviation prefix multiplies through by n —
    S_k = n*prefix_k - k*total, an exact 128-bit integer (n*prefix
    passes 2^63 at warehouse scale), ranked as integers; the reported
    CUSUM divides via the correctly-rounded VARCHAR->DOUBLE path.

    Scale shape: daily collapse first; prefix sums and ranking run on
    the days-sized grid."""
    od = load(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w_ord = Window.orderBy("d")
    cum = daily.withColumn(
        "pfx", F.sum("cents").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("k", F.row_number().over(w_ord))
    dec = lambda c: c.cast("decimal(38,0)")
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "d", "cents", "n",
        (dec(F.col("n")) * F.col("pfx") - dec(F.col("k")) * F.col("s"))
        .alias("s_units"),
    )
    w_rk = Window.orderBy(F.abs(F.col("s_units")).desc(), "d")
    return (
        dev.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= CUSUM_TOPK)
        .select(
            "d",
            F.round(F.col("cents") / 100.0, 6).alias("revenue"),
            F.round(
                F.col("s_units").cast("double") / F.col("n").cast("double") / 100.0, 6
            ).alias("cusum"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# ext_lorenz_points
# ---------------------------------------------------------------------------

LORENZ_DECILES = 10


@register(
    "ext_lorenz_points",
    f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT cents,
               NTILE({LORENZ_DECILES}) OVER (ORDER BY cents, o_custkey) AS decile
        FROM spend
    ), per AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM ranked GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cents) AS HUGEINT) AS t, CAST(SUM(n_customers) AS BIGINT) AS nc
        FROM per
    )
    SELECT CAST(p.decile AS BIGINT) AS decile, p.n_customers,
           {dround('p.cents / 100.0', 6)} AS decile_spend,
           {dround('''CAST(SUM(p.cents) OVER (
                          ORDER BY p.decile ROWS UNBOUNDED PRECEDING
                      ) AS DOUBLE) / CAST(t.t AS DOUBLE)''', 6)} AS cum_share
    FROM per p CROSS JOIN tot t
    """,
)
def ext_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points for customer spend: customers sorted by
    lifetime spend split into {LORENZ_DECILES} deciles, each reporting
    its spend and the CUMULATIVE share of total spend — the curve whose
    area complement is ext_spend_gini's coefficient, and the standard
    'bottom 50% of customers hold X% of revenue' chart feed.

    Determinism: NTILE over the (cents, custkey) total order; shares
    divide exact integer prefix sums (the prefix runs over 10 decile
    rows; at warehouse scale the total widens to 128-bit — its double
    conversion stays exact below 2^53 ~ 90 trillion cents and the
    divide is a ratio of identical values either way).

    Scale shape: fact collapses to one row per customer; the only
    customer-dimension sort is the NTILE (at extreme scale: bucket by
    the two-pass histogram, ext_exact_quantiles_twopass's method);
    everything after runs on {LORENZ_DECILES} rows."""
    od = load(spark, sf_dir, "orders")
    spend = od.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    ranked = spend.select(
        "cents",
        F.ntile(LORENZ_DECILES).over(Window.orderBy("cents", "o_custkey")).alias("decile"),
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    tot = per.agg(F.sum("cents").cast("decimal(38,0)").alias("t"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_customers",
            F.round(F.col("cents") / 100.0, 6).alias("decile_spend"),
            F.round(
                F.sum("cents").over(w_cum).cast("double") / F.col("t").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# ext_keyword_pmi
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 20  # per-source token-count floor
PMI_TOPK = 5  # distinctive terms per source


@register(
    "ext_keyword_pmi",
    f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
    ), cnt AS MATERIALIZED (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ), stot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS st FROM cnt GROUP BY 1
    ), gtok AS (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS g FROM cnt GROUP BY 1
    ), gt AS (
        SELECT CAST(SUM(g) AS BIGINT) AS t FROM gtok
    ), scored AS (
        SELECT c.source, c.tok, c.c,
               ln((c.c * 1.0 / s.st) / (g.g * 1.0 / t.t)) AS pmi_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY c.source
                   ORDER BY ln((c.c * 1.0 / s.st) / (g.g * 1.0 / t.t)) DESC, c.tok
               ) AS rk
        FROM cnt c
        JOIN stot s USING (source)
        JOIN gtok g USING (tok)
        CROSS JOIN gt t
        WHERE c.c >= {PMI_MIN_COUNT}
    )
    SELECT source, tok, c AS n_occurrences,
           {dround('pmi_raw', 6)} AS pmi, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= {PMI_TOPK}
    """,
)
def ext_keyword_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive keywords per source via pointwise mutual information:
    PMI(tok; source) = ln( p(tok|source) / p(tok) ) for tokens above a
    {PMI_MIN_COUNT}-occurrence floor, top-{PMI_TOPK} per source — the
    'what makes this domain different' report (tf-idf ranks important-
    WITHIN; PMI ranks characteristic-OF, the standard corpus-linguistics
    keyness measure). Complements ext_source_js_divergence: JSD says HOW
    different two sources are, PMI says WHAT makes them different.

    Determinism: both probabilities are ratios of exact counts; ln
    applies to a ratio of identical doubles and is used only as a
    per-row ranking/report value (never summed across rows); ranking
    ties break on token.

    Scale shape: one (source, token) aggregate; marginals are
    grid-sized joins; the ranking window partitions by source over the
    count-floored grid."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # feeds both marginals + the join
    )
    stot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("st"))
    gtok = cnt.groupBy("tok").agg(F.sum("c").cast("bigint").alias("g"))
    gt = gtok.agg(F.sum("g").cast("bigint").alias("t"))
    pmi = F.log(
        (F.col("c") * F.lit(1.0) / F.col("st"))
        / (F.col("g") * F.lit(1.0) / F.col("t"))
    )
    w = Window.partitionBy("source").orderBy(pmi.desc(), F.col("tok"))
    return (
        cnt.filter(F.col("c") >= PMI_MIN_COUNT)
        .join(F.broadcast(stot), "source")
        .join(gtok, "tok")
        .crossJoin(F.broadcast(gt))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= PMI_TOPK)
        .select(
            "source", "tok", F.col("c").alias("n_occurrences"),
            F.round(pmi, 6).alias("pmi"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# ext_session_path_topk
# ---------------------------------------------------------------------------

PATH_LEN = 4  # first events kept per session path
PATH_TOPK = 10  # paths reported


@register(
    "ext_session_path_topk",
    f"""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL {ATTR_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM marked
    ), numbered AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, session_id ORDER BY ts, event_id
               ) AS pos
        FROM sess
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY pos) AS path
        FROM numbered WHERE pos <= {PATH_LEN}
        GROUP BY 1, 2
    ), counted AS (
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM paths GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_sessions) AS BIGINT) AS t FROM counted
    ), ranked AS (
        SELECT path, n_sessions,
               ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rk
        FROM counted
    )
    SELECT r.path, r.n_sessions, CAST(r.rk AS BIGINT) AS rk,
           {dround('r.n_sessions * 1.0 / t.t', 6)} AS share
    FROM ranked r CROSS JOIN tot t
    WHERE r.rk <= {PATH_TOPK}
    """,
)
def ext_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: each {ATTR_GAP_MIN}-min-gap session's first
    {PATH_LEN} event types joined into a path string ('view>click>...'),
    counted and ranked — the path-exploration report behind Sankey /
    flow visualizations and the qualitative companion to
    ext_event_transition's one-step Markov matrix (paths expose
    multi-step patterns a transition matrix marginalizes away).

    Determinism: session order is the (ts, event_id) total order; the
    path string aggregates in explicit pos order on both engines
    (Spark: array_agg over a sorted window prefix; DuckDB: string_agg
    ORDER BY pos); ranking ties break on the path string.

    Scale shape: ONE user-keyed sort shared by sessionize + numbering;
    the path aggregate keys on (user, session); the top-k ranks the
    #distinct-paths grid (bounded by event_type^{PATH_LEN})."""
    ev = load(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w_lag)
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
               > ATTR_GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0).alias("is_start"),
    )
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("session_id", F.sum("is_start").over(w_run))
    w_pos = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    numbered = sess.withColumn("pos", F.row_number().over(w_pos)).filter(
        F.col("pos") <= PATH_LEN
    )
    paths = (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "event_type"))
                ).getField("event_type"),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    tot = counted.agg(F.sum("n_sessions").cast("bigint").alias("t"))
    w_rk = Window.orderBy(F.desc("n_sessions"), "path")
    return (
        counted.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= PATH_TOPK)
        .crossJoin(F.broadcast(tot))
        .select(
            "path", "n_sessions",
            F.col("rk").cast("bigint").alias("rk"),
            F.round(F.col("n_sessions") * 1.0 / F.col("t"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# ext_abc_xyz_matrix
# ---------------------------------------------------------------------------


def _abc_xyz_oracle() -> str:
    from .scale_ops import _REV_CENTS_SQL

    return f"""
    WITH rev AS (
        SELECT l_partkey, SUM({_REV_CENTS_SQL}) AS cents
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT SUM(cents) AS tc FROM rev
    ), abc AS (
        SELECT r.l_partkey,
               CASE WHEN SUM(r.cents) OVER (ORDER BY r.cents DESC, r.l_partkey)
                         * 1.0 / t.tc <= 0.80 THEN 'A'
                    WHEN SUM(r.cents) OVER (ORDER BY r.cents DESC, r.l_partkey)
                         * 1.0 / t.tc <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               CAST(r.cents AS BIGINT) AS cents
        FROM rev r CROSS JOIN tot t
    ), monthly AS (
        SELECT l.l_partkey,
               date_trunc('month', CAST(o.o_orderdate AS DATE)) AS m,
               SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM(qty) AS BIGINT) AS sx,
               CAST(SUM(qty * qty) AS BIGINT) AS sxx
        FROM monthly GROUP BY 1
    ), xyz AS (
        SELECT l_partkey,
               CASE WHEN n_months < 2 OR sx = 0 THEN 'Z'
                    WHEN 4 * CAST(n_months AS HUGEINT)
                         * (CAST(n_months AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx)
                         < CAST(n_months - 1 AS HUGEINT) * sx * sx THEN 'X'
                    WHEN CAST(n_months AS HUGEINT)
                         * (CAST(n_months AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx)
                         < CAST(n_months - 1 AS HUGEINT) * sx * sx THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM stats
    )
    SELECT a.abc_class, x.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {dround('SUM(a.cents) * 1.0 / MAX(t.tc)', 6)} AS revenue_share
    FROM abc a JOIN xyz x USING (l_partkey) CROSS JOIN tot t
    GROUP BY 1, 2
    """


@register("ext_abc_xyz_matrix", _abc_xyz_oracle())
def ext_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC x XYZ stocking-policy matrix: cross ext_part_pareto's
    revenue classes (A/B/C by cumulative 80/95% share) with
    ext_demand_xyz's variability classes (X/Y/Z by demand CV) and report
    each cell's part count and revenue share — AX parts get tight
    just-in-time stock, CZ parts get make-to-order or delisting; this
    grid IS the standard inventory segmentation deliverable, and the key
    demonstrates composite reuse: the Spark side JOINS the two
    registered queries' outputs rather than re-deriving either.

    Determinism: inherited entirely from the two parent keys (exact
    integer cumulative shares; 128-bit cross-multiplied CV thresholds);
    cell shares divide exact integer sums.

    Scale shape: both parents collapse the fact to the part dimension
    before their windows; the matrix join is part-dimension-sized and
    the output is a 9-cell grid."""
    from .scale_ops import ext_demand_xyz, ext_part_pareto

    # NOTE (r10): pinning this part-sized frame with localCheckpoint was
    # measured SLOWER (1.79 -> 2.35 s isolated min-of-5): the double
    # consumption is two cheap part-key aggregates, and the checkpoint's
    # materialization barrier costs more than the recompute. Left unpinned.
    abc = ext_part_pareto(spark, sf_dir).select("l_partkey", "abc_class", "cents")
    xyz = ext_demand_xyz(spark, sf_dir).select(
        F.col("l_partkey"), "xyz_class"
    )
    tot = abc.agg(F.sum("cents").cast("decimal(38,0)").alias("tc"))
    return (
        abc.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tot))
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum("cents") * F.lit(1.0) / F.max("tc").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


# ---------------------------------------------------------------------------
# ext_text_burstiness
# ---------------------------------------------------------------------------

BURST_MIN_CF = 50  # corpus-frequency floor
BURST_TOPK = 50  # burstiest tokens reported


@register(
    "ext_text_burstiness",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), stats AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS cf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY 1
    ), nd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), scored AS (
        SELECT s.tok, s.cf, s.df,
               CAST(s.cf AS DOUBLE) / s.df AS burst_raw,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(s.cf AS DOUBLE) / s.df DESC, s.tok
               ) AS rk,
               n.n_docs
        FROM stats s CROSS JOIN nd n
        WHERE s.cf >= {BURST_MIN_CF}
    )
    SELECT tok, cf, df, {dround('burst_raw', 6)} AS burstiness,
           {dround('df * 1.0 / n_docs', 6)} AS doc_coverage,
           CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= {BURST_TOPK}
    """,
)
def ext_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale): corpus frequency over document
    frequency — a token with cf/df >> 1 concentrates its occurrences in
    few documents (names, topical jargon, boilerplate runs) while
    function words spread evenly. Burstiness separates topical from
    grammatical vocabulary WITHOUT any labels, feeds stop-word and
    keyword lists, and high-burst + high-coverage tokens flag template
    contamination (the ext_text_template_mask families seen from the
    token side).

    Determinism: cf and df are exact counts; burstiness divides
    identical integers, ranked with a token tiebreak.

    Scale shape: one (token) aggregate carrying a distinct-doc count
    (two-phase distinct); ranking windows the count-floored vocabulary
    (two-level prune applies at billion-token vocabularies)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
    stats = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    burst = F.col("cf").cast("double") / F.col("df")
    w = Window.orderBy(burst.desc(), F.col("tok"))
    return (
        stats.filter(F.col("cf") >= BURST_MIN_CF)
        .crossJoin(F.broadcast(nd))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BURST_TOPK)
        .select(
            "tok", "cf", "df",
            F.round(burst, 6).alias("burstiness"),
            F.round(F.col("df") * 1.0 / F.col("n_docs"), 6).alias("doc_coverage"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# ext_embed_isotropy
# ---------------------------------------------------------------------------


@register(
    "ext_embed_isotropy",
    "WITH "
    + _pca_chain()
    + f"""
    , w AS (
        SELECT g.j AS dim, CAST(SUM(g.g * v.eigvec_unit) AS BIGINT) AS wv
        FROM gram g JOIN v ON v.dim = g.k
        GROUP BY 1
    ), ray AS (
        SELECT CAST(SUM(CAST(v.eigvec_unit AS HUGEINT) * w.wv) AS HUGEINT) AS vw,
               CAST(SUM(v.eigvec_unit * v.eigvec_unit) AS BIGINT) AS vv
        FROM v JOIN w USING (dim)
    ), tr AS (
        SELECT CAST(SUM(g) AS BIGINT) AS trace_units,
               CAST(COUNT(*) AS BIGINT) AS d2
        FROM gram WHERE j = k
    )
    SELECT CAST(64 AS BIGINT) AS d, t.trace_units,
           {dround('''CAST(CAST(r.vw AS VARCHAR) AS DOUBLE) / r.vv''', 6)}
               AS lambda1_units,
           {dround('''CAST(CAST(r.vw AS VARCHAR) AS DOUBLE) / r.vv
                      / t.trace_units''', 6)} AS top_component_share,
           {dround('''1.0 - CAST(CAST(r.vw AS VARCHAR) AS DOUBLE) / r.vv
                      / t.trace_units''', 6)} AS isotropy
    FROM ray r CROSS JOIN tr t
    """,
)
def ext_embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy score: the dominant eigenvalue's share of
    the Gram trace (sum of all eigenvalues) — a one-row health metric
    for an embedding corpus. Anisotropic spaces (top share >> 1/d)
    concentrate mass in a few rogue directions, which hurts cosine
    retrieval; ABTT-style fixes remove the top components this key
    sizes. Completes the embedding-health family: norm stats (scalar),
    dim stats (per-dimension), PCA direction (vector), isotropy (the
    whole spectrum summarized by its head vs total).

    Exactness: the trace is an exact integer (sum of Gram diagonal);
    lambda1 is the Rayleigh quotient v.Gv / v.v from exact integers
    (the 128-bit numerator converts via the correctly-rounded
    VARCHAR->DOUBLE path); shares divide identical values.

    Scale shape: the Gram build is the one corpus pass (shared with
    ext_embed_pca_power's pipeline); everything else is d- or 1-row."""
    gram, v = _pca_eigvec(spark, sf_dir)
    w = (
        gram.join(
            F.broadcast(v.withColumnRenamed("dim", "k").withColumnRenamed("eigvec_unit", "vv_")),
            "k",
        )
        .groupBy("j")
        .agg(F.sum(F.col("g") * F.col("vv_")).cast("bigint").alias("wv"))
        .withColumnRenamed("j", "dim")
    )
    dec = lambda c: c.cast("decimal(38,0)")
    ray = v.join(w, "dim").agg(
        F.sum(dec(F.col("eigvec_unit")) * F.col("wv")).alias("vw"),
        F.sum(F.col("eigvec_unit") * F.col("eigvec_unit")).cast("bigint").alias("vv"),
    )
    tr = gram.filter(F.col("j") == F.col("k")).agg(
        F.sum("g").cast("bigint").alias("trace_units"),
        F.count(F.lit(1)).cast("bigint").alias("d2"),
    )
    lam = F.col("vw").cast("double") / F.col("vv")
    return ray.crossJoin(F.broadcast(tr)).select(
        F.lit(64).cast("bigint").alias("d"),
        "trace_units",
        F.round(lam, 6).alias("lambda1_units"),
        F.round(lam / F.col("trace_units"), 6).alias("top_component_share"),
        F.round(1.0 - lam / F.col("trace_units"), 6).alias("isotropy"),
    )


# ---------------------------------------------------------------------------
# ext_privacy_l_diversity
# ---------------------------------------------------------------------------

LDIV_L = 3  # required distinct sensitive values per QI group


@register(
    "ext_privacy_l_diversity",
    f"""
    WITH joined AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               o.o_orderpriority AS sensitive
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT nation, segment,
           CAST(COUNT(*) AS BIGINT) AS k_rows,
           CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_distinct,
           CAST(CASE WHEN COUNT(DISTINCT sensitive) >= {LDIV_L}
                     THEN 1 ELSE 0 END AS BIGINT) AS satisfies_l
    FROM joined GROUP BY 1, 2
    """,
)
def ext_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: for each quasi-identifier group (nation x
    market segment), the group size k and the number of DISTINCT
    sensitive values (order priority standing in for the sensitive
    attribute) — k-anonymity (ext_privacy_kanon) stops homogeneity
    attacks only if every QI group also carries >= l distinct sensitive
    values; a k-anonymous group where everyone shares one diagnosis
    still leaks it. Groups failing l={LDIV_L} are the re-identification
    risk surface a release must generalize or suppress.

    Determinism: all counts exact; the flag compares integers.

    Scale shape: two broadcast dimension joins onto the fact, one
    map-side-combined aggregate with a two-phase exact distinct onto
    the QI grid."""
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    joined = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("sensitive"),
        )
    )
    return joined.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_rows"),
        F.countDistinct("sensitive").cast("bigint").alias("l_distinct"),
        F.when(F.countDistinct("sensitive") >= LDIV_L, 1)
        .otherwise(0).cast("bigint").alias("satisfies_l"),
    )


# ---------------------------------------------------------------------------
# ext_ts_autocorrelation
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 14  # daily-revenue autocorrelation lags reported


@register(
    "ext_ts_autocorrelation",
    f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS t
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ), dev AS MATERIALIZED (
        SELECT d.t,
               CAST(t2.n AS HUGEINT) * d.cents - CAST(t2.s AS HUGEINT) AS u
        FROM daily d CROSS JOIN tot t2
    ), denom AS (
        SELECT CAST(SUM(u * u) AS HUGEINT) AS d0 FROM dev
    ), lags AS (
        SELECT l.lag,
               CAST(SUM(a.u * b.u) AS HUGEINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag) l
        JOIN dev a ON TRUE
        JOIN dev b ON b.t = a.t + l.lag
        GROUP BY 1
    )
    SELECT l.lag, l.n_pairs,
           {dround('''CAST(CAST(l.num AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(d.d0 AS VARCHAR) AS DOUBLE)''', 6)} AS acf
    FROM lags l CROSS JOIN denom d
    """,
)
def ext_ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..{ACF_MAX_LAG}
    — the diagnostic that sizes seasonality (the lag-7 spike is the
    weekly cycle ext_ts_decompose removes) and tells a forecaster how
    much memory the series has. Standard ACF normalization: lag-k
    autocovariance over the lag-0 variance, computed over the overlap.

    Exactness: deviations multiply through by n (u_t = n*x_t - S, exact
    128-bit: u ~ 1e12 at sf0.1, u*u ~ 1e24, summed ~ 1e27 — far inside
    HUGEINT/decimal38); numerator and denominator convert via the
    correctly-rounded VARCHAR->DOUBLE path and divide identically.

    Scale shape: daily collapse first; the lag join is the days grid
    against itself at {ACF_MAX_LAG} offsets — grid-sized (a year of
    days x 14), never corpus-sized."""
    od = load(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents")
    ).withColumn("t", F.row_number().over(Window.orderBy("d")))
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "t", (dec(F.col("n")) * F.col("cents") - dec(F.col("s"))).alias("u")
    ).localCheckpoint(eager=False)  # both sides of the lag join + denom
    denom = dev.agg(F.sum(F.col("u") * F.col("u")).alias("d0"))
    lags = dev.sparkSession.createDataFrame(
        [(l,) for l in range(1, ACF_MAX_LAG + 1)], ["lag"]
    )
    a = dev.alias("a")
    b = dev.withColumnRenamed("u", "u2").withColumnRenamed("t", "t2").alias("b")
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("t2") == F.col("t") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("u") * F.col("u2")).alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return pairs.crossJoin(F.broadcast(denom)).select(
        "lag", "n_pairs",
        F.round(
            F.col("num").cast("double") / F.col("d0").cast("double"), 6
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# ext_two_sample_ks
# ---------------------------------------------------------------------------

KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"


@register(
    "ext_two_sample_ks",
    f"""
    WITH vals AS (
        SELECT c.c_mktsegment AS seg,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
    ), grid AS (
        SELECT cents,
               CAST(COUNT(*) FILTER (WHERE seg = '{KS_SEG_A}') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE seg = '{KS_SEG_B}') AS BIGINT) AS c2
        FROM vals GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM grid
    ), run AS (
        SELECT SUM(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS r1,
               SUM(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS r2
        FROM grid
    ), dmax AS (
        SELECT MAX(ABS(CAST(r.r1 AS HUGEINT) * t.n2
                       - CAST(r.r2 AS HUGEINT) * t.n1)) AS d_num
        FROM run r CROSS JOIN tot t
    )
    SELECT t.n1, t.n2,
           {dround('''CAST(CAST(d.d_num AS VARCHAR) AS DOUBLE)
                      / (CAST(t.n1 AS DOUBLE) * t.n2)''', 6)} AS d_stat,
           {dround('''2.0 * exp(-2.0
                      * ((CAST(CAST(d.d_num AS VARCHAR) AS DOUBLE)
                          / (CAST(t.n1 AS DOUBLE) * t.n2))
                         * (CAST(CAST(d.d_num AS VARCHAR) AS DOUBLE)
                            / (CAST(t.n1 AS DOUBLE) * t.n2))
                         * (CAST(t.n1 AS DOUBLE) * t.n2 / (t.n1 + t.n2))))''', 6)}
               AS p_approx
    FROM dmax d CROSS JOIN tot t
    """,
)
def ext_two_sample_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between two market segments'
    order-value distributions: D = sup |ECDF_1 - ECDF_2| with the
    asymptotic first-term p-value 2*exp(-2 D^2 n1 n2/(n1+n2)) —
    the DISTRIBUTIONAL two-sample test complementing ext_ab_ztest
    (which compares means: two segments can share a mean and differ
    wildly in shape) and ext_drift_psi (binned; KS is binless).

    Exactness: the supremum is computed on the integer lattice —
    |R1*n2 - R2*n1| over the merged value grid is an exact 128-bit
    integer (ECDF differences are rationals with denominator n1*n2; no
    float ECDF ever exists), converted once via the correctly-rounded
    VARCHAR->DOUBLE path. The p-value's exp/pow apply to identical
    doubles (first-term asymptotic, documented).

    Scale shape: values collapse to a distinct-value grid with per-group
    counts first; the ECDF running sums use the TWO-LEVEL prefix scan
    (value-bucket local cumsums + bucket-offset series — the
    ext_peak_concurrency discipline), so no corpus-sized single
    partition window; the sup is a plain max aggregate."""
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    vals = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    # r10: the value grid feeds three consumers (totals, local cumsums,
    # bucket offsets) — pinned so the orders-customer join+aggregate runs
    # once, not once per consumer (plan audit: orders and customer were
    # each scanned per consumer)
    grid = vals.groupBy("cents").agg(
        F.count(F.when(F.col("seg") == KS_SEG_A, 1)).cast("bigint").alias("c1"),
        F.count(F.when(F.col("seg") == KS_SEG_B, 1)).cast("bigint").alias("c2"),
    ).withColumn("bucket", (F.col("cents") / EQ_BUCKET).cast("bigint")
    ).localCheckpoint(eager=False)
    tot = grid.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    ).localCheckpoint(eager=False)  # 1 row; reused by the scalar reports
    # two-level prefix scan: bucket-local cumsums + bucket offsets
    w_local = Window.partitionBy("bucket").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = grid.withColumn("l1", F.sum("c1").over(w_local)).withColumn(
        "l2", F.sum("c2").over(w_local)
    )
    sub = grid.groupBy("bucket").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sub.select(
        "bucket",
        F.coalesce(F.sum("b1").over(w_off), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("b2").over(w_off), F.lit(0)).alias("o2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    run = local.join(F.broadcast(offsets), "bucket").select(
        (F.col("o1") + F.col("l1")).alias("r1"),
        (F.col("o2") + F.col("l2")).alias("r2"),
    )
    dmax = run.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(dec(F.col("r1")) * F.col("n2") - dec(F.col("r2")) * F.col("n1"))
        ).alias("d_num")
    )
    d = F.col("d_num").cast("double") / (F.col("n1").cast("double") * F.col("n2"))
    lam = d * d * (F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2")))
    return dmax.crossJoin(F.broadcast(tot)).select(
        "n1", "n2",
        F.round(d, 6).alias("d_stat"),
        F.round(2.0 * F.exp(-2.0 * lam), 6).alias("p_approx"),
    )


# ---------------------------------------------------------------------------
# ext_rank_effect_stats
# ---------------------------------------------------------------------------


@register(
    "ext_rank_effect_stats",
    f"""
    WITH vals AS (
        SELECT c.c_mktsegment AS seg,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
    ), grid AS (
        SELECT cents,
               CAST(COUNT(*) FILTER (WHERE seg = '{KS_SEG_A}') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE seg = '{KS_SEG_B}') AS BIGINT) AS c2
        FROM vals GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM grid
    ), run AS (
        SELECT c1, c2,
               COALESCE(SUM(c1) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p1,
               COALESCE(SUM(c2) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p2
        FROM grid
    ), sums AS (
        SELECT CAST(SUM(CAST(c1 AS HUGEINT) * p2) AS HUGEINT) AS gt,
               CAST(SUM(CAST(c2 AS HUGEINT) * p1) AS HUGEINT) AS lt,
               CAST(SUM(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS ties
        FROM run
    )
    SELECT t.n1, t.n2,
           {dround('''(CAST(CAST(s.gt AS VARCHAR) AS DOUBLE)
                       + 0.5 * CAST(CAST(s.ties AS VARCHAR) AS DOUBLE))''', 6)}
               AS u_stat,
           {dround('''(CAST(CAST(s.gt AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(s.lt AS VARCHAR) AS DOUBLE))
                      / (CAST(t.n1 AS DOUBLE) * t.n2)''', 6)} AS cliffs_delta,
           {dround('''((CAST(CAST(s.gt AS VARCHAR) AS DOUBLE)
                        + 0.5 * CAST(CAST(s.ties AS VARCHAR) AS DOUBLE))
                       - CAST(t.n1 AS DOUBLE) * t.n2 / 2.0)
                      / sqrt(CAST(t.n1 AS DOUBLE) * t.n2
                             * (t.n1 + t.n2 + 1.0) / 12.0)''', 6)} AS z_approx
    FROM sums s CROSS JOIN tot t
    """,
)
def ext_rank_effect_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U and Cliff's delta between two segments' order
    values — the RANK-based two-sample family: U counts cross-group
    pairs where A exceeds B (ties half-weighted), Cliff's delta
    normalizes (gt - lt)/(n1*n2) into the [-1, 1] nonparametric effect
    size. Completes the two-sample suite: ext_ab_ztest compares means,
    ext_two_sample_ks compares distribution SHAPE, this key answers
    'how often is a random A larger than a random B' — the statistic
    that survives outliers and skew. The normal z uses the standard
    no-tie-correction approximation (documented).

    Exactness: gt / lt / tie pair counts are exact 128-bit integers
    assembled from the value grid's prefix sums (never a per-row rank);
    every reported double derives from those integers via the
    correctly-rounded VARCHAR->DOUBLE path, with structurally identical
    expressions in both engines.

    Scale shape: identical to ext_two_sample_ks — distinct-value grid
    with per-group counts, prefix sums (two-level scan pattern applies
    at scale; single grid window here matches the oracle), three scalar
    sums."""
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    vals = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    # r10: the value grid feeds three consumers (totals, local cumsums,
    # bucket offsets) — pinned so the orders-customer join+aggregate runs
    # once, not once per consumer (plan audit: orders and customer were
    # each scanned per consumer)
    grid = vals.groupBy("cents").agg(
        F.count(F.when(F.col("seg") == KS_SEG_A, 1)).cast("bigint").alias("c1"),
        F.count(F.when(F.col("seg") == KS_SEG_B, 1)).cast("bigint").alias("c2"),
    ).withColumn("bucket", (F.col("cents") / EQ_BUCKET).cast("bigint")
    ).localCheckpoint(eager=False)
    tot = grid.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    ).localCheckpoint(eager=False)  # 1 row; reused by the scalar reports
    # two-level EXCLUSIVE prefix scan (bucket-local + bucket offsets)
    w_local = Window.partitionBy("bucket").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = grid.withColumn(
        "l1", F.coalesce(F.sum("c1").over(w_local), F.lit(0))
    ).withColumn("l2", F.coalesce(F.sum("c2").over(w_local), F.lit(0)))
    sub = grid.groupBy("bucket").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sub.select(
        "bucket",
        F.coalesce(F.sum("b1").over(w_off), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("b2").over(w_off), F.lit(0)).alias("o2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    run = local.join(F.broadcast(offsets), "bucket").select(
        "c1", "c2",
        (F.col("o1") + F.col("l1")).alias("p1"),
        (F.col("o2") + F.col("l2")).alias("p2"),
    )
    sums = run.agg(
        F.sum(dec(F.col("c1")) * F.col("p2")).alias("gt"),
        F.sum(dec(F.col("c2")) * F.col("p1")).alias("lt"),
        F.sum(dec(F.col("c1")) * F.col("c2")).alias("ties"),
    )
    gt = F.col("gt").cast("double")
    lt = F.col("lt").cast("double")
    ties = F.col("ties").cast("double")
    n1d = F.col("n1").cast("double")
    u = gt + 0.5 * ties
    return sums.crossJoin(F.broadcast(tot)).select(
        "n1", "n2",
        F.round(u, 6).alias("u_stat"),
        F.round((gt - lt) / (n1d * F.col("n2")), 6).alias("cliffs_delta"),
        F.round(
            (u - n1d * F.col("n2") / 2.0)
            / F.sqrt(n1d * F.col("n2") * (F.col("n1") + F.col("n2") + 1.0) / 12.0),
            6,
        ).alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# ext_mixture_temperature
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.7  # exponential smoothing temperature (XLM-R standard)


@register(
    "ext_mixture_temperature",
    f"""
    WITH cnt AS (
        SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS toks
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(toks) AS BIGINT) AS t FROM cnt
    ), powed AS MATERIALIZED (
        SELECT c.source, c.toks,
               c.toks * 1.0 / t.t AS p_nat,
               pow(c.toks * 1.0 / t.t, {MIX_ALPHA}) AS p_pow
        FROM cnt c CROSS JOIN tot t
    ), z AS (
        SELECT SUM(p_pow) AS zsum FROM powed
    )
    SELECT p.source, p.toks,
           {dround('p.p_nat', 6)} AS natural_share,
           {dround('p.p_pow / z.zsum', 6)} AS sampling_share,
           {dround('(p.p_pow / z.zsum) / p.p_nat', 6)} AS epochs_factor
    FROM powed p CROSS JOIN z
    """,
)
def ext_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling weights: q_s proportional to
    p_s^{MIX_ALPHA} over each source's natural token share p_s — the
    exponential-smoothing formula (alpha={MIX_ALPHA}, the XLM-R /
    multilingual-BERT standard) that up-samples small sources without
    letting them dominate. epochs_factor = q_s/p_s is how many passes
    over each source one mixture epoch implies — the number that must
    stay below the memorization budget (ext_mixture_resample applies a
    given factor; this key DERIVES the factors from a temperature).

    Determinism: token counts are exact; p_s is a ratio of identical
    integers; pow applies to identical doubles with the same exponent
    literal (the same observed-parity class as ln; dround(6) guards the
    terminal values). The normalizer is a float sum over the ~#sources
    grid — summation-order ulps on ~20 O(0.1) terms sit near 1e-17,
    twelve orders below the 6dp boundary (unlike corpus-sized float
    sums, which the registry always freezes to integer units first);
    verified by the oracle gate at three SFs.

    Scale shape: one source-keyed token aggregate; all math on the
    #sources grid."""
    docs = load(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(
        F.sum(F.size(tx.tokens(F.col("text")))).cast("bigint").alias("toks")
    )
    tot = cnt.agg(F.sum("toks").cast("bigint").alias("t"))
    powed = cnt.crossJoin(F.broadcast(tot)).select(
        "source", "toks",
        (F.col("toks") * F.lit(1.0) / F.col("t")).alias("p_nat"),
        F.pow(F.col("toks") * F.lit(1.0) / F.col("t"), MIX_ALPHA).alias("p_pow"),
    ).localCheckpoint(eager=False)  # feeds z AND the output
    z = powed.agg(F.sum("p_pow").alias("zsum"))
    return powed.crossJoin(F.broadcast(z)).select(
        "source", "toks",
        F.round(F.col("p_nat"), 6).alias("natural_share"),
        F.round(F.col("p_pow") / F.col("zsum"), 6).alias("sampling_share"),
        F.round((F.col("p_pow") / F.col("zsum")) / F.col("p_nat"), 6)
        .alias("epochs_factor"),
    )
