"""Scale-pattern and curation operators (round 3, batches 4-7).

Each key demonstrates a named large-scale pattern with an exact DuckDB
oracle twin (or, for the ANN key, a recall contract):

- curation cuts: per-source quality quantile gate, CCNet head/middle/tail
  perplexity tertiles, winsorization, Zipf vocabulary diagnostics;
- ingestion: CDC apply-changes with tombstone deletes;
- skew patterns: two-phase salted aggregation (oracle IS the plain
  groupBy), degree-oriented triangle counting (oracle is the naive triple
  join — orientation-invariant counts hash-match);
- time series: per-entity LOCF gap fill, rolling median from array
  primitives, bucketed interval-overlap join with no equi-key;
- dedup: boilerplate-prefix grouping, full PPJoin prefix filtering
  (recall proven exactly 1), asymmetric containment;
- embeddings: L2-norm health stats, product-quantization ANN;
- text: tokenize-to-IDs encoding with a deterministic vocab;
- stats: deterministic mode + two-pass moments, Welch A/B z-test,
  k-anonymity audit; bag-semantics set operations.

Determinism discipline matches llm_ops.py: no rand(), ordering tiebreaks on
a unique key, terminal floats rounded identically on both engines, and
threshold comparisons in exact integer rationals (binary-double vs
decimal-literal arithmetic flips ceil() at exact-ratio boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext import dedup as ded
from ..ext import similarity as sim
from ..ext import text as tx
from ..sources.readers import load, spread
from . import dround, register
from .llm_ops import _TOKS_SQL, _md5_32, _spark_md5_32

QCUT_KEEP = 0.5  # ext_quality_quantile_cut keeps the top half per source
CDC_ENTITIES = 1000
SKEW_SALT_BUCKETS = 16


@register(
    "ext_quality_quantile_cut",
    f"""
    WITH scored AS (
        SELECT doc_id, source, len({_TOKS_SQL}) AS score FROM documents
    ), ranked AS (
        SELECT doc_id, source, CAST(score AS BIGINT) AS score,
               PERCENT_RANK() OVER (
                   PARTITION BY source ORDER BY score DESC, doc_id
               ) AS pr
        FROM scored
    )
    SELECT doc_id, source, score, {dround('pr', 6)} AS pct_rank
    FROM ranked WHERE pr <= {QCUT_KEEP}
    """,
)
def ext_quality_quantile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-fraction quality gate: keep the best {QCUT_KEEP:.0%}
    of documents WITHIN each source by a quality score (token count here;
    any scalar score plugs in). Per-domain — not global — cuts are the
    curation standard: a global threshold empties low-resource domains.

    PERCENT_RANK is (rank-1)/(n-1) in both engines and the ordering is a
    total order (score DESC, doc_id), so the kept set is bit-identical.

    Scale shape: ONE shuffle keyed by source, sort within group. At 100 TB
    with mega-domains, swap the exact window for a per-source approx
    quantile threshold broadcast back (ext_quality_filter's shape) — the
    exact window is kept here because it also emits the rank itself."""
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.size(tx.tokens(F.col("text"))).cast("bigint").alias("score")
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.col("doc_id"))
    pr = F.percent_rank().over(w)
    return (
        scored.withColumn("pr", pr)
        .filter(F.col("pr") <= QCUT_KEEP)
        .select("doc_id", "source", "score", F.round("pr", 6).alias("pct_rank"))
    )


@register(
    "ext_ccnet_bucket",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (SELECT SUM(cnt) AS total FROM vocab
    ), scored AS (
        SELECT t.doc_id, {dround('-ln(v.cnt / tot.total)', 9)} AS logp
        FROM toks t JOIN vocab v USING (tok), tot
    ), xent AS (
        SELECT doc_id, {dround('AVG(logp)', 6)} AS cross_entropy
        FROM scored GROUP BY doc_id
    )
    SELECT x.doc_id, d.lang, x.cross_entropy,
           CAST(NTILE(3) OVER (
               PARTITION BY d.lang ORDER BY x.cross_entropy, x.doc_id
           ) AS INTEGER) AS tertile,
           CASE NTILE(3) OVER (
               PARTITION BY d.lang ORDER BY x.cross_entropy, x.doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM xent x JOIN documents d USING (doc_id)
    """,
)
def ext_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by unigram
    cross-entropy (ext_text_unigram_xent's LM), then split EACH LANGUAGE
    into head/middle/tail tertiles — the canonical Common Crawl curation
    move (keep head+middle, drop tail) from the CCNet pipeline paper.

    NTILE(3) with a total order (rounded score, doc_id) assigns identical
    buckets in both engines; per-language partitioning keeps low-resource
    languages from being judged against English's distribution.

    Scale shape: the LM is a bounded vocab broadcast; the only data-sized
    shuffles are the per-doc score aggregate and the per-lang NTILE sort.
    A lang partition outgrowing one task's sort is the cue to switch to an
    approx-quantile two-threshold cut (same output contract minus rank)."""
    docs = load(spark, sf_dir, "documents")
    # the exploded token table feeds both the vocab aggregate and the
    # scoring join — checkpoint once (prefix_filter/triangles reuse
    # discipline) so tokenize+explode doesn't run per branch
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=False)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.round(-F.log(F.col("cnt") / F.col("total")), 9).alias("logp"))
    )
    xent = scored.groupBy("doc_id").agg(F.round(F.avg("logp"), 6).alias("cross_entropy"))
    w = Window.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    t = F.ntile(3).over(w)
    return (
        xent.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id", "lang", "cross_entropy",
            t.cast("int").alias("tertile"),
            F.when(t == 1, "head").when(t == 2, "middle").otherwise("tail").alias("bucket"),
        )
    )


@register(
    "ext_text_zipf",
    f"""
    WITH toks AS (
        SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), ranked AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk FROM vocab
    ), pts AS (
        SELECT {dround('ln(CAST(rk AS DOUBLE))', 9)} AS ln_rank,
               {dround('ln(CAST(cnt AS DOUBLE))', 9)} AS ln_freq,
               cnt
        FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           {dround('regr_slope(ln_freq, ln_rank)', 5)} AS zipf_slope,
           {dround('corr(ln_freq, ln_rank)', 5)} AS zipf_corr
    FROM pts
    """,
)
def ext_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law vocabulary diagnostic: regress ln(frequency) on ln(rank)
    over the corpus vocabulary. Natural text slopes near -1 with |corr|
    near 1; machine-generated spam, template boilerplate, and encoding
    mojibake bend the curve — a one-row corpus health check run before
    trusting token statistics from a new crawl.

    Scale shape: vocab is the only aggregate (bounded by vocabulary, not
    corpus); the rank window sorts vocab rows, acceptable up to web-scale
    vocabs (~1e8 rows) in one sort spill. ln() rounded at 9 dp before the
    regression on both engines; slope/corr at 5 dp (the regression sums
    products of ~1e1-magnitude doubles, so engine summation order perturbs
    only ~1e-13 relative)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # Global window over the bounded vocab table — same deliberate shape as
    # win_lag_12_global (post-aggregation, rows == |vocab|).
    rk = F.row_number().over(Window.orderBy(F.desc("cnt"), F.col("tok")))
    pts = vocab.select(
        "cnt",
        F.round(F.log(F.col("cnt").cast("double")), 9).alias("ln_freq"),
        F.round(F.log(rk.cast("double")), 9).alias("ln_rank"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.round(F.regr_slope(F.col("ln_freq"), F.col("ln_rank")), 5).alias("zipf_slope"),
        F.round(F.corr("ln_freq", "ln_rank"), 5).alias("zipf_corr"),
    )


_CDC_OP_SQL = f"""CASE ({_md5_32("CAST(o_orderkey AS VARCHAR)")}) % 10
    WHEN 0 THEN 'D' WHEN 1 THEN 'U' WHEN 2 THEN 'U' WHEN 3 THEN 'U'
    ELSE 'I' END"""


@register(
    "ext_cdc_apply",
    f"""
    WITH log AS (
        SELECT o_orderkey % {CDC_ENTITIES} AS entity_id,
               o_orderkey AS seq,
               {_CDC_OP_SQL} AS op,
               o_totalprice, o_orderstatus
        FROM orders
    ), latest AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY entity_id ORDER BY seq DESC) AS rk
        FROM log
    )
    SELECT entity_id, seq AS last_seq, op AS last_op,
           {dround('o_totalprice', 2)} AS price, o_orderstatus AS status
    FROM latest WHERE rk = 1 AND op <> 'D'
    """,
)
def ext_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES with deletes: collapse an insert/update/delete
    change log to final entity state — keep each entity's highest-sequence
    row, and drop the entity entirely if that row is a tombstone. The
    semantics of Debezium->warehouse apply and dbt's incremental
    merge+delete strategy (extends plans/incremental.py, which handles
    upserts only). The log here is synthesized deterministically from
    orders (entity = orderkey mod {CDC_ENTITIES}, op from md5 of the key)
    so the oracle replays the identical stream.

    Scale shape: ONE shuffle keyed by entity_id, per-key descending scan —
    the same row_number-dedup plan as win_row_number_dedup, which AQE
    handles at skewed keys. No driver state; a 100 TB backlog replays as
    one window over the log partitioned by entity."""
    orders = load(spark, sf_dir, "orders")
    op = (
        F.when(_spark_md5_32(F.col("o_orderkey").cast("string")) % 10 == 0, "D")
        .when(_spark_md5_32(F.col("o_orderkey").cast("string")) % 10 <= 3, "U")
        .otherwise("I")
    )
    log = orders.select(
        (F.col("o_orderkey") % CDC_ENTITIES).alias("entity_id"),
        F.col("o_orderkey").alias("seq"),
        op.alias("op"),
        "o_totalprice",
        "o_orderstatus",
    )
    w = Window.partitionBy("entity_id").orderBy(F.desc("seq"))
    return (
        log.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("op") != "D"))
        .select(
            "entity_id",
            F.col("seq").alias("last_seq"),
            F.col("op").alias("last_op"),
            F.round("o_totalprice", 2).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )


@register(
    "ext_agg_skew_twophase",
    f"""
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dround('SUM(l_quantity)', 2)} AS sum_qty,
           {dround('SUM(l_extendedprice)', 2)} AS sum_price
    FROM lineitem GROUP BY l_suppkey
    """,
)
def ext_agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation, proven hash-identical to the plain
    groupBy (the oracle IS the plain aggregate): phase 1 groups by
    (key, salt mod {SKEW_SALT_BUCKETS}) so a hot key's rows land on
    {SKEW_SALT_BUCKETS} reducers; phase 2 merges the per-salt partials.
    The manual form of what AQE skew-split does for joins, applied to
    aggregation — the pattern to reach for when ONE key holds 10% of a
    100 TB fact table and partial (map-side) aggregation alone can't save
    the single reducer.

    The salt is deterministic (orderkey mod buckets), not rand(): the same
    input always salts identically, so retried tasks and re-runs are
    reproducible — the same discipline every sampling key here follows.

    Count/sum decompose exactly over partials; sums re-round at 2 dp only
    at the end, so the two-phase float summation matches the oracle within
    the rounding contract (same argument as any distributed sum)."""
    li = load(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", (F.col("l_orderkey") % SKEW_SALT_BUCKETS))
        .groupBy("l_suppkey", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("l_quantity").alias("_q"),
            F.sum("l_extendedprice").alias("_p"),
        )
    )
    return partial.groupBy("l_suppkey").agg(
        F.sum("_n").cast("bigint").alias("n_items"),
        F.round(F.sum("_q"), 2).alias("sum_qty"),
        F.round(F.sum("_p"), 2).alias("sum_price"),
    )


@register(
    "ext_time_interpolate",
    f"""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               {dround('SUM(value)', 6)} AS v
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), spine AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    )
    SELECT s.user_id, s.day,
           LAST_VALUE(d.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v,
           d.v IS NOT NULL AS was_observed
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def ext_time_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: densify each user's daily activity to a full
    calendar spine between their first and last active day, then fill the
    silent days by last-observation-carried-forward — the standard prep
    before feeding per-entity series to forecasting or sessionized
    features (ext_date_spine_fill's per-entity sibling: that key zero-fills
    a global spine; this one LOCF-fills per-entity spines).

    LOCF is F.last(ignorenulls=True) over a running ROWS frame — identical
    to DuckDB's LAST_VALUE IGNORE NULLS. The spine starts at each user's
    first observed day, so no leading-null edge case exists.

    Scale shape: daily rollup (shuffle 1, keyed user+day), tiny per-user
    bounds agg, sequence-explode the spine (no shuffle — bounds is one row
    per user), left join back on (user, day) (shuffle 2), window per user.
    Spine size is entities x days — growth is additive, not multiplicative,
    and each user's series sorts independently."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("v", ignorenulls=True).over(w).alias("filled_v"),
            F.col("v").isNotNull().alias("was_observed"),
        )
    )


@register(
    "ext_text_prefix_dup",
    f"""
    WITH pref AS (
        SELECT doc_id,
               array_to_string(list_slice({_TOKS_SQL}, 1, 2), ' ') AS prefix
        FROM documents
    ), grp AS (
        SELECT prefix, COUNT(*) AS group_size FROM pref GROUP BY prefix
    )
    SELECT p.doc_id, p.prefix, CAST(g.group_size AS BIGINT) AS group_size
    FROM pref p JOIN grp g USING (prefix)
    WHERE g.group_size > 1
    """,
)
def ext_text_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix duplicate grouping: cluster documents sharing
    their first-k-token prefix. Catches the truncation/header duplicate
    class (same article cut at different lengths, shared site boilerplate)
    that full-document MinHash under-scores when the tails diverge —
    cheap enough to run before any shingle-based pass.

    Scale shape: ONE aggregate keyed by the short prefix (at 100 TB, hash
    the prefix to 8 bytes first — the same xxhash64 trick the Jaccard key
    uses); membership restored by joining the doc->prefix map back to the
    group sizes, the SimHash key's re-expansion shape. A pathologically
    hot prefix is a real boilerplate cluster the pipeline WANTS surfaced."""
    docs = load(spark, sf_dir, "documents")
    pref = docs.select(
        "doc_id",
        F.array_join(F.slice(tx.tokens(F.col("text")), 1, 2), " ").alias("prefix"),
    )
    grp = pref.groupBy("prefix").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        pref.join(grp, "prefix")
        .filter(F.col("group_size") > 1)
        .select("doc_id", "prefix", F.col("group_size").cast("bigint").alias("group_size"))
    )


@register(
    "ext_embed_norm_stats",
    f"""
    WITH norms AS (
        SELECT label,
               {dround("sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))", 9)} AS nrm
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {dround('AVG(nrm)', 6)} AS avg_norm,
           {dround('MIN(nrm)', 6)} AS min_norm,
           {dround('MAX(nrm)', 6)} AS max_norm
    FROM norms GROUP BY label
    """,
)
def ext_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm health check per label: count, mean, min, max of
    vector norms. Run before any cosine-based ANN/dedup stage — collapsed
    (near-zero-norm) or un-normalized vectors silently break LSH bucketing
    and cosine thresholds, and a per-label norm skew is the classic symptom
    of a bad embedding batch.

    Both engines fold the square-sum IN ARRAY ORDER (Spark F.aggregate ==
    DuckDB list_sum's sequential fold), so the norm is bit-reproducible
    before its 9 dp rounding; group stats re-round at 6 dp.

    Scale shape: narrow per-row array fold (codegen, no shuffle), then a
    tiny per-label aggregate — embarrassingly parallel at any corpus
    size."""
    emb = load(spark, sf_dir, "embeddings")
    vec = sim.as_double(F.col("embedding"))
    nrm = F.round(sim.l2_norm(vec), 9)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


KANON_K = 5
TRI_N = 300  # synthetic graph vertex count (see ext_graph_triangles)


@register(
    "ext_privacy_kanon",
    f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           COUNT(*) < {KANON_K} AS suppress
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def ext_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: group the population by
    (nation, market segment, account-balance band) and flag equivalence
    classes smaller than k={KANON_K} — the classes whose members a release
    would re-identify, and the rows a k-anonymizing pipeline must suppress
    or generalize before the table ships as training data
    (ext_privacy_pseudonymize handles direct identifiers; this key audits
    the indirect ones).

    Scale shape: one hash aggregate on the quasi-identifier tuple — the
    cheapest possible audit; generalization search (widening bands until
    all classes pass) iterates this same aggregate over a band lattice."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("acctbal_band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
        .select(
            "c_nationkey", "c_mktsegment", "acctbal_band", "class_size",
            (F.col("class_size") < KANON_K).alias("suppress"),
        )
    )


@register(
    "agg_mode_moments",
    f"""
    WITH mu AS (
        SELECT event_type, {dround('AVG(value)', 6)} AS mu
        FROM events GROUP BY event_type
    ), mom AS (
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {dround('AVG(pow(e.value - mu.mu, 2))', 6)} AS m2,
               {dround('AVG(pow(e.value - mu.mu, 3))', 4)} AS m3,
               {dround('AVG(pow(e.value - mu.mu, 4))', 2)} AS m4
        FROM events e JOIN mu USING (event_type)
        GROUP BY e.event_type
    ), md AS (
        SELECT event_type, user_id AS modal_user,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY COUNT(*) DESC, user_id) AS rk
        FROM events GROUP BY event_type, user_id
    )
    SELECT m.event_type, m.n_events, mu.mu, m.m2,
           CASE WHEN m.m2 > 0 THEN {dround('m.m3 / pow(m.m2, 1.5)', 6)} END AS skewness,
           CASE WHEN m.m2 > 0 THEN {dround('m.m4 / pow(m.m2, 2) - 3', 6)} END AS excess_kurtosis,
           md.modal_user
    FROM mom m JOIN mu USING (event_type)
    JOIN md ON md.event_type = m.event_type AND md.rk = 1
    """,
)
def agg_mode_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode + higher central moments per group: the modal
    user (most events; ties broken by smallest id — built-in mode() is
    tie-nondeterministic in BOTH engines, so the operator pins its own
    total order) and skewness / excess kurtosis of the value distribution.

    Cross-engine float discipline: built-in skewness()/kurtosis() differ
    between engines (population vs sample bias correction), so the moments
    are computed two-pass — the 6dp-rounded group mean broadcast back, then
    centered power averages, each rounded BEFORE the final ratios. Every
    input to skew/kurt is therefore bit-identical on both sides, and
    centering avoids the catastrophic cancellation the one-pass raw-moment
    identity suffers at scale.

    Scale shape: two passes over the fact table (mean, then moments) with
    the tiny per-group mean broadcast between them — the same shape as
    ext_outlier_mad; the mode is one (group, user) aggregate + per-group
    top-1 window."""
    ev = load(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("mu"))
    dev = ev.join(F.broadcast(mu), "event_type")
    d = F.col("value") - F.col("mu")
    mom = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.avg(d * d), 6).alias("m2"),
        F.round(F.avg(d * d * d), 4).alias("m3"),
        F.round(F.avg(d * d * d * d), 2).alias("m4"),
    )
    cnt = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("_n"))
    wm = Window.partitionBy("event_type").orderBy(F.desc("_n"), F.col("user_id"))
    modal = (
        cnt.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("user_id").alias("modal_user"))
    )
    return (
        mom.join(F.broadcast(mu), "event_type")
        .join(F.broadcast(modal), "event_type")
        .select(
            "event_type", "n_events", "mu", "m2",
            F.when(
                F.col("m2") > 0, F.round(F.col("m3") / F.pow("m2", F.lit(1.5)), 6)
            ).alias("skewness"),
            F.when(
                F.col("m2") > 0,
                F.round(F.col("m4") / F.pow("m2", F.lit(2.0)) - 3, 6),
            ).alias("excess_kurtosis"),
            "modal_user",
        )
    )


@register(
    "ext_graph_triangles",
    f"""
    WITH raw AS (
        SELECT o_orderkey % {TRI_N} AS u,
               ({_md5_32("CAST(o_orderkey AS VARCHAR)")}) % {TRI_N} AS v
        FROM orders
    ), edges AS (
        SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
        FROM raw WHERE u <> v
    ), tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ), verts AS (
        SELECT x AS vertex FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ), deg AS (
        SELECT vertex, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT a AS vertex FROM edges UNION ALL SELECT b FROM edges
        ) GROUP BY vertex
    )
    SELECT d.vertex, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM deg d LEFT JOIN (
        SELECT vertex, COUNT(*) AS n_triangles FROM verts GROUP BY vertex
    ) t USING (vertex)
    """,
)
def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counting with DEGREE ORIENTATION — the classic
    scale-out algorithm (orient every edge from its lower-(degree, id)
    endpoint to the higher; enumerate wedges only at each edge's SOURCE;
    close against oriented edges). Work is sum-of-squared-ORIENTED-degrees,
    which orientation bounds by O(E^1.5) regardless of hub skew — the
    reason this survives power-law graphs where the naive a<b triple join
    melts a reducer on the hottest hub. Triangle counts are
    orientation-invariant, so the oracle counts the SAME triangles with
    the naive id-ordered triple join: the algorithms differ, the answer is
    hash-identical. (Triangle density drives clustering-coefficient
    features and community pre-grouping in dedup graphs —
    ext_dedup_clusters' pointer-jumping sibling.)

    The graph is synthesized deterministically from orders (endpoints =
    orderkey mod {TRI_N} and md5(orderkey) mod {TRI_N} — the md5 side
    scrambles across the modulus so the edge set is a random-like graph,
    not a functional one) so both engines replay the identical edges.

    Scale shape: edge dedup (one shuffle), degree agg over a bounded
    vertex set (broadcast back), wedge self-join keyed on the oriented
    source, closing-edge hash join keyed on the wedge endpoints. No
    driver-side state."""
    orders = load(spark, sf_dir, "orders")
    raw = orders.select(
        (F.col("o_orderkey") % TRI_N).alias("u"),
        (_spark_md5_32(F.col("o_orderkey").cast("string")) % TRI_N).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    edges = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    deg = (
        edges.select(F.col("a").alias("vertex"))
        .unionAll(edges.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    # Total order for orientation: (degree, id). Rank table is <= TRI_N
    # rows — broadcast everywhere it's joined.
    rk = deg.select(
        "vertex", "degree",
        F.row_number()
        .over(Window.orderBy("degree", "vertex"))
        .alias("rk"),
    )
    # The oriented edge table feeds three plan branches (both wedge sides
    # and the closing probe) — checkpoint it once so the scan/dedup/rank
    # pipeline isn't re-derived per branch (same reuse discipline as the
    # banded-dedup family).
    er = (
        edges.join(F.broadcast(rk.select(F.col("vertex").alias("a"), F.col("rk").alias("rka"))), "a")
        .join(F.broadcast(rk.select(F.col("vertex").alias("b"), F.col("rk").alias("rkb"))), "b")
        .select(
            F.least("rka", "rkb").alias("src"),
            F.greatest("rka", "rkb").alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    w1 = er.select(F.col("src"), F.col("dst").alias("d1"))
    w2 = er.select(F.col("src"), F.col("dst").alias("d2"))
    wedges = w1.join(w2, "src").filter(F.col("d1") < F.col("d2"))
    closed = wedges.join(
        er.select(F.col("src").alias("d1"), F.col("dst").alias("d2")), ["d1", "d2"]
    )
    verts = (
        closed.select(F.col("src").alias("rk"))
        .unionAll(closed.select(F.col("d1").alias("rk")))
        .unionAll(closed.select(F.col("d2").alias("rk")))
        .groupBy("rk")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        rk.join(F.broadcast(verts), "rk", "left")
        .select(
            "vertex", "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )


PF_THRESHOLD = 0.8
PF_NUM, PF_DEN = 4, 5  # threshold as an exact rational (see ext/dedup.py)


@register(
    "ext_dedup_prefix_filter",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS l FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 2),
                                     i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle
        FROM toks
    ), dfreq AS (
        SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ), sized AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), ranked AS (
        SELECT s.doc_id, s.shingle, z.sz,
               ROW_NUMBER() OVER (
                   PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS rn
        FROM sh s JOIN dfreq d USING (shingle) JOIN sized z USING (doc_id)
    ), pref AS (
        SELECT doc_id, shingle, rn, sz FROM ranked
        WHERE rn <= sz - ({PF_NUM} * sz + {PF_DEN - 1}) // {PF_DEN} + 1
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE {PF_DEN} * LEAST(a.sz, b.sz) >= {PF_NUM} * GREATEST(a.sz, b.sz)
          AND LEAST(a.sz - a.rn, b.sz - b.rn) + 1
              >= ({PF_NUM} * (a.sz + b.sz) + {PF_NUM + PF_DEN - 1}) // {PF_NUM + PF_DEN}
    ), common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS common_shingles
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT cm.doc_a, cm.doc_b, CAST(cm.common_shingles AS BIGINT) AS common_shingles,
           {dround('CAST(cm.common_shingles AS DOUBLE) / CAST(za.sz + zb.sz - cm.common_shingles AS DOUBLE)', 6)} AS jaccard
    FROM common cm
    JOIN sized za ON cm.doc_a = za.doc_id
    JOIN sized zb ON cm.doc_b = zb.doc_id
    WHERE cm.common_shingles * {PF_NUM + PF_DEN} >= {PF_NUM} * (za.sz + zb.sz)
    """,
)
def ext_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtering near-dup join at Jaccard >=
    {PF_THRESHOLD}: candidates must share a shingle within each doc's
    RAREST |S| - ceil(t|S|) + 1 shingles — a pigeonhole guarantee, so
    unlike the df-capped Jaccard key (empirical recall) or MinHash
    (probabilistic recall), this candidate stage has recall exactly 1 at
    the threshold while still never joining on frequent shingles. The
    third member of the near-dup family's accuracy spectrum: MinHash
    (probabilistic) < df-cap (empirical) < prefix filter (exact).

    See ext/dedup.py:prefix_filter_pairs for the plan narrative; thresholds
    on the 6dp-rounded Jaccard so the cut is float-stable."""
    return ded.prefix_filter_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=PF_THRESHOLD,
    )


def _pq_oracle_sql() -> str:
    """DuckDB twin of ext_ann_pq: the medoid codebooks are the subvectors
    of the md5-selected seed rows (same quantizer family as ext_ann_ivf's
    oracle), so encode (per-subspace argmin d2, code-order tiebreak),
    decode (ordered subvector reassembly), the decoded-cosine shortlist,
    and the exact rerank are all dual-engine exact. Assignment-boundary
    margins are pinned in tests/test_ann_oracle_margin.py."""
    from .extensions import _d2_sql, dround

    d2 = _d2_sql("list_slice(e.v, s.j * 8 + 1, s.j * 8 + 8)", "s.sv")
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seedrows AS MATERIALIZED (
        SELECT v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS seed_idx
        FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    subcodes AS MATERIALIZED (
        SELECT j.j, seed_idx, list_slice(v, j.j * 8 + 1, j.j * 8 + 8) AS sv
        FROM seedrows CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
    ),
    assign AS MATERIALIZED (
        SELECT e.vec_id, s.j, s.seed_idx, {d2} AS d2
        FROM e CROSS JOIN subcodes s
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, j, seed_idx AS code FROM assign
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, seed_idx) = 1
    ),
    decoded AS MATERIALIZED (
        SELECT c.vec_id, flatten(list(s.sv ORDER BY c.j)) AS dv
        FROM codes c JOIN subcodes s ON s.j = c.j AND s.seed_idx = c.code
        GROUP BY c.vec_id
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    short AS MATERIALIZED (
        SELECT query_id, d.vec_id, qv FROM q JOIN decoded d ON d.vec_id <> query_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY {dround('list_cosine_similarity(qv, d.dv)', 6)} DESC, d.vec_id
        ) <= 25
    ),
    rescored AS (
        SELECT query_id, s.vec_id,
               {dround('list_cosine_similarity(s.qv, e2.v)', 6)} AS cosine
        FROM short s JOIN e e2 ON e2.vec_id = s.vec_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM rescored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5
    """


@register("ext_ann_pq", _pq_oracle_sql())
def ext_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization: 64-dim vectors compressed to 8
    subspace codes (32x), ranked by cosine against the decoded
    reconstructions, exact re-rank inside the PQ top-5k shortlist — the
    FAISS IVF-PQ search shape minus the cell routing (compose with
    ext_ann_ivf's assignment for the full index). Completes the ANN triad:
    sign-LSH (bucketing), IVF (cell routing), PQ (compression).

    Fully oracle-checkable despite being approximate: the medoid
    codebooks are exact data values selected by md5(vec_id)
    (ext/pq.py:medoid_codebooks), so the DuckDB oracle re-derives the
    identical encode/decode/shortlist/rerank (_pq_oracle_sql).
    tests/test_pq_recall.py pins recall vs the exact ground truth.

    Scale shape: codebook selection is one bounded 16-row collect;
    encode/decode/score are Column expressions over baked centroid
    literals — the corpus scan reads codes, never re-shuffles."""
    from ..ext import pq as pqm

    from ..ext.ivf import shared_medoid_seeds

    emb = load(spark, sf_dir, "embeddings")
    # session-shared medoid seed set (memo family "ivf", ext/ivf.py) — the same
    # 16-row collect ext_ann_ivf / ext_dedup_semantic key their cells on
    seeds = shared_medoid_seeds(
        spark, sf_dir, lambda: load(spark, sf_dir, "embeddings"), k=16
    )
    books = pqm.medoid_codebooks(emb, "embedding", m=8, ks=16, seeds=seeds)
    # spread() the encode input: the per-row argmin over 128 subspace
    # distance folds runs as INTERPRETED higher-order functions (no
    # codegen for lambda expressions), the heaviest per-row work in the
    # key, and otherwise lives in the single-task scan stage of a
    # one-file corpus (§2.5). with_norm's light-arithmetic counter-rule
    # (similarity.py) does not apply at this expression weight.
    coded = pqm.encode(spread(emb), books, "embedding")
    # Stage the decoded vectors: without this, Catalyst inlines the whole
    # encode->decode expression tree (128 subspace-distance folds + the
    # lookup) into EVERY downstream norm/cosine fold term (the element_at
    # blowup documented in similarity.dot) — measured 6.1 s vs 2.4 s staged.
    decoded = coded.select(
        "vec_id", pqm.decode_expr(books).alias("embedding")
    ).localCheckpoint(eager=False)
    queries = emb.filter(F.col("vec_id") < 10)
    # PQ shortlist of 25 (5x the final k) by decoded cosine, then exact
    # re-rank of the shortlist against the TRUE vectors
    shortlist = sim.topk_bruteforce(queries, decoded, k=25).select(
        "query_id", "vec_id"
    )
    true_q = sim.with_norm(queries, "embedding").select(
        F.col("vec_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    true_c = sim.with_norm(emb, "embedding").select("vec_id", "_v", "_norm")
    rescored = (
        shortlist.join(F.broadcast(true_q), "query_id")
        .join(true_c, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                sim.cosine(F.col("_qv"), F.col("_qnorm"), F.col("_v"), F.col("_norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return rescored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


WIN_EVERY = 211  # every 211th event seeds a maintenance window


@register(
    "ext_interval_overlap_join",
    f"""
    WITH sess AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               MIN(ts) AS s0, MAX(ts) AS s1
        FROM events GROUP BY 1, 2
    ), win AS (
        SELECT event_id AS win_id,
               date_trunc('hour', ts) AS wstart,
               date_trunc('hour', ts) + ((event_id % 3 + 1) * INTERVAL 1 HOUR) AS wend
        FROM events WHERE event_id % {WIN_EVERY} = 0
    )
    SELECT s.user_id, s.day, w.win_id,
           CAST(epoch_us(LEAST(s.s1, w.wend)) - epoch_us(GREATEST(s.s0, w.wstart)) AS BIGINT)
               AS overlap_us
    FROM sess s JOIN win w
      ON s.s0 < w.wend AND w.wstart < s.s1
    WHERE epoch_us(LEAST(s.s1, w.wend)) > epoch_us(GREATEST(s.s0, w.wstart))
    """,
)
def ext_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join with NO equi-key — the case join_range_interval
    can't cover (there, user_id carries the shuffle; here the two interval
    sets share nothing). The naive form is |L|x|R| — the oracle runs
    exactly that; Spark instead TIME-BUCKETS: explode each interval into
    the hour buckets it covers, equi-join on the bucket, dedupe, compute
    the exact overlap. Overlapping intervals always share a covered hour,
    so recall is exact; join fan-out is span-hours, not |R|.

    Sessions are each user's daily [first,last] event span; windows are
    synthesized deterministically from every {WIN_EVERY}th event (1-3 h
    from its truncated hour). Overlap is integer epoch-microseconds —
    no float in the join or the output.

    Scale shape: bucket lists grow with interval LENGTH (bounded), not
    corpus size; the window side here is tiny and broadcast, and with two
    large sides the bucket equi-join still shuffles only bucket-cardinality
    groups. The bucket width tunes fan-out vs group size exactly like any
    range-partitioning choice."""
    ev = load(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s0"), F.max("ts").alias("s1"))
    win = (
        ev.filter(F.col("event_id") % WIN_EVERY == 0)
        .select(
            F.col("event_id").alias("win_id"),
            F.date_trunc("hour", "ts").alias("wstart"),
            (
                F.date_trunc("hour", "ts")
                + F.make_interval(hours=(F.col("event_id") % 3 + 1).cast("int"))
            ).alias("wend"),
        )
    )
    sb = sess.select(
        "user_id", "day", "s0", "s1",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s0"),
                F.date_trunc("hour", "s1"),
                F.expr("interval 1 hour"),
            )
        ).alias("bucket"),
    )
    wb = win.select(
        "win_id", "wstart", "wend",
        F.explode(
            F.sequence(
                "wstart",
                F.col("wend") - F.expr("interval 1 hour"),
                F.expr("interval 1 hour"),
            )
        ).alias("bucket"),
    )
    ov = (
        sb.join(F.broadcast(wb), "bucket")
        .select("user_id", "day", "win_id", "s0", "s1", "wstart", "wend")
        .distinct()
        .withColumn(
            "overlap_us",
            (
                F.unix_micros(F.least("s1", "wend"))
                - F.unix_micros(F.greatest("s0", "wstart"))
            ).cast("bigint"),
        )
        .filter(F.col("overlap_us") > 0)
    )
    return ov.select("user_id", "day", "win_id", "overlap_us")


CONT_NUM, CONT_DEN = 7, 10  # containment threshold 0.7 as an exact rational

from .extensions import _NGRAM_PAIRS_CTES  # noqa: E402 (shared candidate CTEs)

_CONTAINMENT_SQL = f"""
    WITH {_NGRAM_PAIRS_CTES}
    SELECT p.doc_a, p.doc_b, p.common_shingles,
           {dround('CAST(p.common_shingles AS DOUBLE) / CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE)', 6)} AS containment
    FROM pairs p
    JOIN counts na ON p.doc_a = na.doc_id
    JOIN counts nb ON p.doc_b = nb.doc_id
    WHERE {CONT_DEN} * p.common_shingles >= {CONT_NUM} * LEAST(na.n_sh, nb.n_sh)
"""


@register("ext_dedup_containment", _CONTAINMENT_SQL)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: flags pairs where the SMALLER
    shingle set is >= {CONT_NUM}/{CONT_DEN} contained in the larger —
    the excerpt/quote/truncation duplicate class. Symmetric Jaccard
    under-scores these (a 100-word quote inside a 2000-word article has
    tiny Jaccard but containment ~1), which is why curation pipelines run
    BOTH measures over the same candidate pairs.

    Candidates reuse the df-capped shingle-equality generation
    (ext/dedup.py ngram_jaccard_pairs, keep_sizes=True) — same empirical
    recall contract as the Jaccard key; the containment cut is integer
    cross-multiplication ({CONT_DEN}*common >= {CONT_NUM}*min_size), no
    float boundary.

    Scale shape: identical to ext_dedup_ngram_jaccard (one extra filter
    and projection on its verified pair table)."""
    pairs = ded.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", keep_sizes=True
    )
    return (
        pairs.filter(
            CONT_DEN * F.col("common_shingles")
            >= CONT_NUM * F.least(F.col("n_a"), F.col("n_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            "common_shingles",
            F.round(
                F.col("common_shingles").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )


@register(
    "ext_ab_ztest",
    f"""
    WITH tagged AS (
        SELECT event_type, user_id % 2 AS variant, value FROM events
    ), mu AS (
        SELECT event_type, variant, {dround('AVG(value)', 6)} AS mu
        FROM tagged GROUP BY 1, 2
    ), stats AS (
        SELECT t.event_type, t.variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               m.mu,
               {dround('AVG(pow(t.value - m.mu, 2))', 6)} AS var
        FROM tagged t JOIN mu m USING (event_type, variant)
        GROUP BY t.event_type, t.variant, m.mu
    )
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b, a.mu AS mean_a, b.mu AS mean_b,
           CASE WHEN a.var + b.var > 0
                THEN {dround('(a.mu - b.mu) / sqrt(a.var / a.n + b.var / b.n)', 4)} END AS z_stat
    FROM stats a JOIN stats b
      ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
    """,
)
def ext_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test per metric: split users deterministically into
    variants (user_id parity — a real assignment hashes the unit id, same
    shape), compare mean event value per event_type with the Welch z
    statistic — the analytics counterpart of the curation keys, and the
    standard guardrail-metric readout of an experimentation pipeline.

    Same float discipline as agg_mode_moments: two-pass centered variance
    with the 6dp-rounded group mean broadcast back, every input to the z
    ratio rounded before the division, so both engines compute the ratio
    from identical operands.

    Scale shape: two fact-table passes with tiny per-(metric, variant)
    aggregates between them; the variant pivot is a self-join on the
    group-count-sized stats table."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    mu = ev.groupBy("event_type", "variant").agg(F.round(F.avg("value"), 6).alias("mu"))
    dev = ev.join(F.broadcast(mu), ["event_type", "variant"])
    d = F.col("value") - F.col("mu")
    stats = dev.groupBy("event_type", "variant", "mu").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg(d * d), 6).alias("var"),
    )
    a = stats.filter(F.col("variant") == 0).select(
        "event_type", F.col("n").alias("n_a"), F.col("mu").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = stats.filter(F.col("variant") == 1).select(
        "event_type", F.col("n").alias("n_b"), F.col("mu").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    return a.join(b, "event_type").select(
        "event_type", "n_a", "n_b", "mean_a", "mean_b",
        F.when(
            F.col("var_a") + F.col("var_b") > 0,
            F.round(
                (F.col("mean_a") - F.col("mean_b"))
                / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
                4,
            ),
        ).alias("z_stat"),
    )


ROLLMED_WIN = 7  # trailing window length (rows)
_ROLLMED_FRAME = ROLLMED_WIN - 1


@register(
    "ext_win_rolling_median",
    f"""
    SELECT event_id, user_id,
           {dround(f'''MEDIAN(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ROLLMED_FRAME} PRECEDING AND CURRENT ROW)''', 6)}
               AS rolling_median
    FROM events
    """,
)
def ext_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing {ROLLMED_WIN} events per user — the
    robust smoother for spiky per-entity series (the windowed sibling of
    ext_outlier_mad's group median). Spark has no percentile window over a
    moving frame, so the operator builds it from array primitives:
    collect_list over the ROWS frame -> array_sort -> middle element (odd)
    or mean of the two middles (even) — exactly QUANTILE_CONT(0.5)
    semantics, which is what the DuckDB oracle runs natively.

    Scale shape: one shuffle keyed by user; the collected array is bounded
    by the FRAME length ({ROLLMED_WIN}), not the partition — constant
    memory per row regardless of how long a user's history grows."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLMED_WIN - 1), Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2).cast("int") + 1)
    ) / 2.0
    med = F.when(n % 2 == 1, odd).otherwise(even)
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id", F.round(med, 6).alias("rolling_median")
    )


@register(
    "setop_except_all",
    """
    SELECT l_suppkey FROM lineitem WHERE l_quantity > 25
    EXCEPT ALL
    SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics: each right-side occurrence cancels ONE
    left-side occurrence, surviving multiplicity preserved (the DISTINCT
    twin is setop_except). Spark compiles exceptAll to a count-difference
    aggregate + generator — one shuffle, no join explosion."""
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select("l_suppkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_suppkey")
    return a.exceptAll(b)


@register(
    "setop_intersect_all",
    """
    SELECT l_suppkey FROM lineitem WHERE l_quantity > 25
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: min(countL, countR) copies per value
    (the DISTINCT twin is setop_intersect). Same count-aggregate plan shape
    as EXCEPT ALL."""
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select("l_suppkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_suppkey")
    return a.intersectAll(b)


@register(
    "ext_winsorize",
    f"""
    WITH bounds AS (
        SELECT event_type,
               {dround('quantile_cont(value, 0.05)', 6)} AS p05,
               {dround('quantile_cont(value, 0.95)', 6)} AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           {dround('LEAST(GREATEST(e.value, b.p05), b.p95)', 6)} AS clamped,
           e.value < b.p05 OR e.value > b.p95 AS was_clamped
    FROM events e JOIN bounds b USING (event_type)
    """,
)
def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization per group: clamp values into the [p05, p95] band —
    the standard outlier treatment before computing means/regressions on
    heavy-tailed metrics (quarantine's gentler sibling: ext_outlier_mad
    REMOVES outliers, this one caps them and keeps the row).

    Percentile interpolation parity (Spark percentile == DuckDB
    quantile_cont) is the contract ext_outlier_mad pins; bounds are
    6dp-rounded before the clamp so band membership is bit-identical.

    Scale shape: one group-count-sized bounds aggregate BROADCAST back
    over the fact scan — the fact table never shuffles (at 100 TB swap
    exact percentile for percentile_approx, same plan)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id", "event_type", "value",
        F.round(F.least(F.greatest("value", F.col("p05")), F.col("p95")), 6).alias("clamped"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias("was_clamped"),
    )


ENC_MAXLEN = 32  # ids per document emitted (truncation length)


@register(
    "ext_text_encode_ids",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok,
               generate_subscripts({_TOKS_SQL}, 1) AS pos
        FROM documents
    ), vocab AS (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS id
        FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           list_sort(list_transform(
               list_slice(array_agg(v.id ORDER BY t.pos), 1, {ENC_MAXLEN}),
               x -> CAST(x AS INTEGER)), 'ASC') AS ids_sorted,
           CAST(list_slice(array_agg(v.id ORDER BY t.pos), 1, {ENC_MAXLEN})[1] AS INTEGER) AS first_id
    FROM toks t JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def ext_text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-IDs: assign every vocabulary word a deterministic id
    (frequency rank, ties alphabetical — the order a real tokenizer's
    vocab file is written in), then encode each document as its id
    sequence truncated at {ENC_MAXLEN} — the step between raw text and
    ext_text_pack's sequence packing in a pretraining pipeline.

    The hash contract covers length, the multiset of the first
    {ENC_MAXLEN} ids (sorted array — arrays hash element-wise), and the
    first id; order reconstruction is pinned separately by the
    first-token check plus the position-sorted construction on both
    engines.

    Scale shape: vocab is a bounded aggregate broadcast back onto the
    exploded token stream; the encode re-aggregate is one shuffle keyed
    by doc. A subword (BPE) encoder swaps the word join for a
    longest-match scan but keeps this exact plan shape."""
    docs = load(spark, sf_dir, "documents")
    # feeds the vocab aggregate AND the encode join — checkpoint once
    toks = docs.select(
        "doc_id",
        F.posexplode(tx.tokens(F.col("text"))).alias("pos", "tok"),
    ).localCheckpoint(eager=False)
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.col("tok")))
            .alias("id"),
        )
    )
    enc = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"],
                ),
                1,
                ENC_MAXLEN,
            ).alias("ids"),
        )
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_sort(F.transform("ids", lambda x: x.cast("int"))).alias("ids_sorted"),
        F.element_at("ids", 1).cast("int").alias("first_id"),
    )


# fixed classifier weights (intercept, len_norm, stop_ratio, mean_tok_len)
QLOG_W = (-1.2, 2.0, 3.5, -0.15)
QLOG_CUT_NUM, QLOG_CUT_DEN = 1, 2  # keep score >= 0.5, as an exact rational


@register(
    "ext_quality_logistic",
    f"""
    WITH feats AS (
        SELECT doc_id,
               {dround('LEAST(len(' + _TOKS_SQL + ') / 100.0, 1.0)', 9)} AS len_norm,
               {dround('len(list_filter(' + _TOKS_SQL + ", x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) / CAST(len(" + _TOKS_SQL + ') AS DOUBLE)', 9)} AS stop_ratio,
               {dround("CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(" + _TOKS_SQL + ")", 9)} AS mean_tok_len
        FROM documents
    ), scored AS (
        SELECT doc_id, len_norm, stop_ratio, mean_tok_len,
               {dround(f'1.0 / (1.0 + exp(-({QLOG_W[0]} + {QLOG_W[1]} * len_norm + {QLOG_W[2]} * stop_ratio + {QLOG_W[3]} * mean_tok_len)))', 6)} AS score
        FROM feats
    )
    SELECT doc_id, len_norm, stop_ratio, mean_tok_len, score,
           score * {QLOG_CUT_DEN} >= {QLOG_CUT_NUM} AS keep
    FROM scored
    """,
)
def ext_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed-weight logistic classifier
    over cheap text features (length, stopword ratio, mean token length) —
    the SQL-expressible stand-in for the fasttext/linear quality
    classifiers used for educational-quality corpus cuts. The weights are
    literals baked into the plan; swapping in trained weights changes
    nothing structurally.

    Feature values are 9dp-rounded before the sigmoid and the score at
    6dp, so both engines exponentiate identical operands; the keep cut is
    integer cross-multiplication on the rounded score.

    Scale shape: pure narrow Column expressions — no shuffle, no UDF;
    the classifier runs inside whole-stage codegen at scan speed."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in tx.STOPWORDS])
    # array_intersect would dedup; count stopword OCCURRENCES via filter
    n_stop_occ = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    feats = docs.select(
        "doc_id",
        F.round(F.least(n_toks / F.lit(100.0), F.lit(1.0)), 9).alias("len_norm"),
        F.round(n_stop_occ / n_toks.cast("double"), 9).alias("stop_ratio"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / n_toks, 9
        ).alias("mean_tok_len"),
    )
    w0, w1, w2, w3 = QLOG_W
    score = F.round(
        1.0
        / (
            1.0
            + F.exp(
                -(
                    F.lit(w0)
                    + F.lit(w1) * F.col("len_norm")
                    + F.lit(w2) * F.col("stop_ratio")
                    + F.lit(w3) * F.col("mean_tok_len")
                )
            )
        ),
        6,
    )
    return feats.withColumn("score", score).withColumn(
        "keep", F.col("score") * QLOG_CUT_DEN >= QLOG_CUT_NUM
    )


DP_EPS = 1.0  # Laplace scale b = 1/eps


@register(
    "ext_privacy_dp_noise",
    f"""
    WITH counts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
    ), u AS (
        SELECT event_type, n,
               (({_md5_32('event_type')}) / 4294967296.0) - 0.5 AS uc
        FROM counts
    )
    SELECT event_type, n,
           {dround('-1.0 * sign(uc) * ln(1.0 - 2.0 * abs(uc))', 6)} AS noise,
           {dround('n + (-1.0 * sign(uc) * ln(1.0 - 2.0 * abs(uc)))', 6)} AS noisy_n
    FROM u
    """,
)
def ext_privacy_dp_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy counts (epsilon = {DP_EPS}): per-group count
    plus Laplace(1/eps) noise drawn by inverse-CDF from a KEYED hash
    uniform — the reproducible-pipeline variant of the DP release step
    (real DP requires fresh randomness; keyed noise is what reproducible
    data-release pipelines actually ship, and it is what an oracle can
    replay). Completes the privacy family: pseudonymize (direct
    identifiers), k-anonymity (quasi-identifiers), noisy aggregates
    (outputs).

    u = md5_32(group)/2^32 is bit-identical across engines (integer hash,
    power-of-two divide), so both sides feed ln() the same double; the
    noise rounds at 6dp.

    Scale shape: one group-count-sized aggregate; noise is a narrow
    expression on the aggregate output."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    uc = (_spark_md5_32(F.col("event_type")) / F.lit(4294967296.0)) - 0.5
    noise = -F.lit(1.0) * F.signum(uc) * F.log(1.0 - 2.0 * F.abs(uc))
    return counts.select(
        "event_type", "n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n") + noise, 6).alias("noisy_n"),
    )


@register(
    "ext_embed_hard_negatives",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT query_id, vec_id,
               {dround('list_cosine_similarity(qv, v)', 6)} AS cosine
        FROM q JOIN e ON vec_id <> query_id AND e.label <> q.qlabel
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 3
    """,
)
def ext_embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most-similar vectors with a DIFFERENT label — the
    pairs that teach an embedding model the most (easy negatives are
    already far; near-identical same-label pairs are positives). The
    other-label constraint rides the same broadcast-query corpus scan as
    ext_topk_cosine: one pass, no extra shuffle.

    At 100 TB the corpus side swaps in the LSH/IVF/PQ shortlist (the ANN
    triad) before the label filter — same output contract."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    q = sim.with_norm(queries, "embedding").select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    c = sim.with_norm(emb, "embedding").select("vec_id", "label", "_v", "_norm")
    scored = c.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        "vec_id",
        F.round(
            sim.cosine(F.col("_qv"), F.col("_qnorm"), F.col("_v"), F.col("_norm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


_DIFF_BUCKET = f"({_md5_32('CAST(o_orderkey AS VARCHAR)')}) % 17"


@register(
    "ext_table_diff",
    f"""
    WITH v1 AS (
        SELECT o_orderkey AS k, {dround('o_totalprice', 2)} AS price
        FROM orders WHERE {_DIFF_BUCKET} <> 16
    ), v2 AS (
        SELECT o_orderkey AS k,
               CASE WHEN {_DIFF_BUCKET} BETWEEN 1 AND 3
                    THEN {dround('o_totalprice * 1.1', 2)}
                    ELSE {dround('o_totalprice', 2)} END AS price
        FROM orders WHERE {_DIFF_BUCKET} <> 0
    ), d AS (
        SELECT COALESCE(v1.k, v2.k) AS k,
               CASE WHEN v1.k IS NULL THEN 'added'
                    WHEN v2.k IS NULL THEN 'removed'
                    WHEN v1.price <> v2.price THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_key, CAST(MAX(k) AS BIGINT) AS max_key
    FROM d GROUP BY status
    """,
)
def ext_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table diff / data reconciliation: full-outer-join two snapshot
    versions on the primary key and classify every key as added, removed,
    changed, or unchanged — the audit run before promoting a rebuilt
    table over its predecessor (the batch complement of
    ext_store_time_travel's version reads; the snapshots here are
    synthesized deterministically from orders via md5 buckets so the
    oracle replays them).

    Scale shape: one full outer join keyed by the primary key (both
    sides shuffle once; AQE handles skew), then an output-sized status
    aggregate. Comparing a rounded price column, not whole rows — at
    wide schemas hash the row (xxhash64 of concatenated columns) so the
    compare stays one 8-byte column regardless of width."""
    orders = load(spark, sf_dir, "orders")
    bucket = _spark_md5_32(F.col("o_orderkey").cast("string")) % 17
    v1 = orders.filter(bucket != 16).select(
        F.col("o_orderkey").alias("k"), F.round("o_totalprice", 2).alias("price1")
    )
    v2 = orders.filter(bucket != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            bucket.between(1, 3), F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.round("o_totalprice", 2)).alias("price2"),
    )
    d = v1.join(v2, "k", "full_outer").select(
        "k",
        F.when(F.col("price1").isNull(), "added")
        .when(F.col("price2").isNull(), "removed")
        .when(F.col("price1") != F.col("price2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )


BLUR_T_SCALED = 1_000_000  # var * 36^2 threshold (exact integer compare)


@register(
    "ext_mm_blur_detect",
    f"""
    WITH px AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              k -> ord(substr(text, ((k * 7) % len(text)) + 1, 1))) AS p
        FROM documents WHERE len(text) > 0
    ), lap AS (
        SELECT doc_id,
               list_transform(
                   generate_series(0, 35),
                   i -> 4 * p[(i // 6 + 1) * 8 + (i % 6 + 1) + 1]
                        - p[(i // 6) * 8 + (i % 6 + 1) + 1]
                        - p[(i // 6 + 2) * 8 + (i % 6 + 1) + 1]
                        - p[(i // 6 + 1) * 8 + (i % 6) + 1]
                        - p[(i // 6 + 1) * 8 + (i % 6 + 2) + 1]) AS d
        FROM px
    )
    SELECT doc_id,
           CAST(36 * list_sum(list_transform(d, x -> x * x))
                - list_sum(d) * list_sum(d) AS BIGINT) AS lap_var_scaled,
           36 * list_sum(list_transform(d, x -> x * x))
                - list_sum(d) * list_sum(d) >= {BLUR_T_SCALED} AS is_sharp
    FROM lap
    """,
)
def ext_mm_blur_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur detection over the multimodal binary column: variance of the
    discrete Laplacian on the stub-decoded 8x8 grid — the standard
    image-quality gate (blurry images have smooth gradients, so the
    Laplacian variance collapses). Decode runs in the Arrow-batched
    Pandas stage (ext/multimodal.py decode_pixels — swap in a real
    decoder untouched); the Laplacian and its variance are narrow JVM
    expressions over the 36 interior cells.

    Exact-integer contract: 36^2 * variance = 36*sum(d^2) - (sum(d))^2
    over integer pixel values, so the score and the sharp/blurry flag
    carry ZERO float risk — the strongest hash contract a Pandas-UDF
    path can have (the phash key's byte-arithmetic oracle trick, applied
    to a quality score).

    Scale shape: embarrassingly parallel narrow transform; payloads never
    shuffle."""
    from ..ext import multimodal as mm

    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    px = mm.decode_pixels(mm.attach_binary(docs))
    lap = px.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(35)),
            lambda i: (
                4 * F.element_at("pixels", ((i / 6).cast("int") + 1) * 8 + (i % 6 + 1) + 1)
                - F.element_at("pixels", (i / 6).cast("int") * 8 + (i % 6 + 1) + 1)
                - F.element_at("pixels", ((i / 6).cast("int") + 2) * 8 + (i % 6 + 1) + 1)
                - F.element_at("pixels", ((i / 6).cast("int") + 1) * 8 + (i % 6) + 1)
                - F.element_at("pixels", ((i / 6).cast("int") + 1) * 8 + (i % 6 + 2) + 1)
            ),
        ).alias("d"),
    )
    sumd = F.aggregate("d", F.lit(0).cast("bigint"), lambda a, x: a + x)
    sumd2 = F.aggregate(
        F.transform("d", lambda x: x * x), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    score = (36 * sumd2 - sumd * sumd).cast("bigint")
    return lap.select(
        "doc_id",
        score.alias("lap_var_scaled"),
        (score >= BLUR_T_SCALED).alias("is_sharp"),
    )


@register(
    "ext_text_gopher_rules",
    f"""
    WITH f AS (
        SELECT doc_id,
               len({_TOKS_SQL}) AS n_words,
               {dround("CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(" + _TOKS_SQL + ")", 6)} AS mean_word_len,
               len(list_filter({_TOKS_SQL}, x -> regexp_matches(x, '^[a-zA-Z]+$'))) AS n_alpha,
               len(list_filter({_TOKS_SQL}, x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS n_stop
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           n_words >= 50 AND n_words <= 100000 AS ok_word_count,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_word_len,
           n_alpha * 10 >= n_words * 8 AS ok_alpha_frac,
           n_stop >= 2 AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000)
               AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AND (n_alpha * 10 >= n_words * 8)
               AND (n_stop >= 2) AS gopher_pass
    FROM f
    """,
)
def ext_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, the canonical
    pre-training heuristic filter): word-count bounds [50, 100k], mean
    word length [3, 10], >= 80% alphabetic words, >= 2 stopwords — each
    rule emitted as its own flag for auditability plus the combined
    verdict (curation pipelines track WHICH rule kills a document, not
    just the pass rate).

    The alphabetic-fraction cut is integer cross-multiplication
    (10*n_alpha >= 8*n_words); mean word length rounds at 6dp before its
    bounds — both engines compare identical operands.

    Scale shape: pure narrow Column expressions, no shuffle, runs at
    scan speed inside codegen (the same shape as ext_quality_logistic —
    rules vs model, the two standard quality-gate flavors)."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    n_words = F.size(toks)
    mean_wl = F.round(
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words, 6
    )
    stop_arr = F.array(*[F.lit(s) for s in tx.STOPWORDS])
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-zA-Z]+$")))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    f = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    ok_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    ok_wl = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    ok_af = F.col("n_alpha") * 10 >= F.col("n_words") * 8
    ok_st = F.col("n_stop") >= 2
    return f.select(
        "doc_id", "n_words", "mean_word_len",
        ok_wc.alias("ok_word_count"),
        ok_wl.alias("ok_word_len"),
        ok_af.alias("ok_alpha_frac"),
        ok_st.alias("ok_stopwords"),
        (ok_wc & ok_wl & ok_af & ok_st).alias("gopher_pass"),
    )


EWMA_ALPHA_NUM, EWMA_ALPHA_DEN = 3, 10  # alpha = 0.3 as an exact rational
EWMA_WIN = 8


@register(
    "ext_win_ewma",
    f"""
    WITH w AS (
        SELECT event_id, user_id,
               list_slice(
                   array_agg(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {EWMA_WIN - 1} PRECEDING AND CURRENT ROW),
                   1, {EWMA_WIN}) AS vals
        FROM events
    )
    SELECT event_id, user_id,
           {dround(f'''list_sum(list_transform(generate_series(1, len(vals)),
                   i -> vals[i] * {EWMA_ALPHA_NUM / EWMA_ALPHA_DEN!r}
                        * pow({1 - EWMA_ALPHA_NUM / EWMA_ALPHA_DEN!r}, len(vals) - i)))
               / list_sum(list_transform(generate_series(1, len(vals)),
                   i -> {EWMA_ALPHA_NUM / EWMA_ALPHA_DEN!r}
                        * pow({1 - EWMA_ALPHA_NUM / EWMA_ALPHA_DEN!r}, len(vals) - i)))''', 6)} AS ewma
    FROM w
    """,
)
def ext_win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exponential moving average (alpha = {EWMA_ALPHA_NUM}/{EWMA_ALPHA_DEN},
    window {EWMA_WIN}): the finite-window renormalized EWMA — weight
    alpha*(1-alpha)^age per observation, normalized over the frame so
    early short frames are unbiased. Spark has no recursive window state
    in batch, so the operator collects the bounded ROWS frame and folds
    the weighted sum as array expressions — ext_win_rolling_median's
    technique applied to exponential smoothing.

    Both engines evaluate pow() on identical double operands and fold the
    array IN ORDER, so the quotient sees identical numerator/denominator
    before its 6dp round.

    Scale shape: one shuffle keyed by user; per-row memory bounded by the
    frame, not the partition history."""
    alpha = EWMA_ALPHA_NUM / EWMA_ALPHA_DEN
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WIN - 1), Window.currentRow)
    )
    ev = load(spark, sf_dir, "events")
    vals = F.collect_list("value").over(w)
    out = ev.select("event_id", "user_id", vals.alias("vals"))
    n = F.size("vals")
    idx = F.sequence(F.lit(1), n)
    num = F.aggregate(
        F.transform(
            idx,
            lambda i: F.element_at("vals", i)
            * F.lit(alpha)
            * F.pow(F.lit(1 - alpha), (n - i).cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    den = F.aggregate(
        F.transform(
            idx,
            lambda i: F.lit(alpha) * F.pow(F.lit(1 - alpha), (n - i).cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return out.select("event_id", "user_id", F.round(num / den, 6).alias("ewma"))


HIST_DEPTH_BINS = 10


@register(
    "agg_histogram_equidepth",
    f"""
    WITH binned AS (
        SELECT value,
               NTILE({HIST_DEPTH_BINS}) OVER (ORDER BY value, event_id) AS bin
        FROM events
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dround('MIN(value)', 6)} AS lo,
           {dround('MAX(value)', 6)} AS hi
    FROM binned GROUP BY bin
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: {HIST_DEPTH_BINS} bins with equal row counts
    and data-driven boundaries — the quantile-binning complement of
    agg_histogram's equi-width bins, and the discretization used for
    feature bucketing and optimizer statistics (boundaries adapt to the
    distribution, so skewed values don't pile into one bucket).

    NTILE over a total order (value, event_id) assigns identical bins in
    both engines. Scale note: the global NTILE sorts the full column —
    fine for stats collection; at 100 TB swap for approx percentile
    boundaries broadcast back (same output contract, approximate
    boundaries), keeping this exact form as the verify twin."""
    ev = load(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    return (
        ev.select("value", F.ntile(HIST_DEPTH_BINS).over(w).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .select(F.col("bin").cast("int").alias("bin"), "n_rows", "lo", "hi")
    )


FEAT_HASH_BUCKETS = 16


@register(
    "ext_feature_hashing",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), bucketed AS (
        SELECT doc_id, ({_md5_32('tok')}) % {FEAT_HASH_BUCKETS} AS bucket,
               COUNT(*) AS cnt
        FROM toks GROUP BY 1, 2
    ), maps AS (
        SELECT doc_id,
               MAP(list(bucket ORDER BY bucket), list(cnt ORDER BY bucket)) AS m
        FROM bucketed GROUP BY doc_id
    )
    SELECT doc_id,
           list_transform(generate_series(0, {FEAT_HASH_BUCKETS - 1}),
               b -> COALESCE(map_extract(m, b)[1], 0)) AS features
    FROM maps
    """,
)
def ext_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project every token
    into a fixed {FEAT_HASH_BUCKETS}-bucket count vector via a hash —
    vocabulary-free featurization with bounded width, the front-end of
    linear classifiers over unbounded vocabularies (no vocab table to
    build, broadcast, or version). Bucket = md5_32(token) mod buckets,
    bit-identical across engines.

    Scale shape: one (doc, bucket) aggregate, then a per-doc pivot to the
    dense vector via map lookup — output width fixed regardless of
    vocabulary growth; no vocab broadcast at all (contrast
    ext_text_encode_ids, which needs the vocab table)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
    bucketed = toks.groupBy(
        "doc_id", (_spark_md5_32(F.col("tok")) % FEAT_HASH_BUCKETS).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    vec = bucketed.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("cnt")))
        ).alias("m")
    )
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(FEAT_HASH_BUCKETS - 1)),
        lambda b: F.coalesce(F.element_at("m", b), F.lit(0).cast("bigint")),
    )
    return vec.select("doc_id", feats.alias("features"))


@register(
    "ext_embed_dim_stats",
    f"""
    WITH dims AS (
        SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ), mu AS (
        SELECT dim, {dround('AVG(x)', 6)} AS mean_x FROM dims GROUP BY dim
    )
    SELECT d.dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           m.mean_x,
           {dround('sqrt(AVG(pow(d.x - m.mean_x, 2)))', 6)} AS std_x,
           {dround('MIN(d.x)', 6)} AS min_x,
           {dround('MAX(d.x)', 6)} AS max_x
    FROM dims d JOIN mu m USING (dim)
    GROUP BY d.dim, m.mean_x
    """,
)
def ext_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/std/min/max across the
    corpus) — the feature-standardization stats computed before whitening
    or z-scoring vectors, and the dead-dimension detector (std ~ 0 means
    a wasted coordinate). Completes the embedding-health family:
    per-vector norms (ext_embed_norm_stats), per-dimension distributions
    (this key), quantization bounds (ext_embed_quantize).

    Two-pass centered std (rounded mean broadcast back) — the
    agg_mode_moments float discipline, applied per dimension.

    Scale shape: posexplode to (dim, value) — DIM-bounded group count, so
    the aggregates are tiny; the fact-side explode is the only data-sized
    work and stays narrow."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(sim.as_double(F.col("embedding"))).alias("dim", "x")
    )
    mu = dims.groupBy("dim").agg(F.round(F.avg("x"), 6).alias("mean_x"))
    d = dims.join(F.broadcast(mu), "dim")
    dev = F.col("x") - F.col("mean_x")
    return d.groupBy("dim", "mean_x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sqrt(F.avg(dev * dev)), 6).alias("std_x"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("x"), 6).alias("max_x"),
    ).select("dim", "n", "mean_x", "std_x", "min_x", "max_x")


@register(
    "ext_surrogate_key",
    """
    SELECT o_orderkey,
           md5(CAST(o_orderkey AS VARCHAR) || '-' || o_orderstatus || '-' ||
               CAST(o_custkey AS VARCHAR)) AS surrogate_key,
           COUNT(*) OVER (PARTITION BY md5(CAST(o_orderkey AS VARCHAR) || '-' ||
               o_orderstatus || '-' || CAST(o_custkey AS VARCHAR))) AS key_count
    FROM orders
    """,
)
def ext_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-utils generate_surrogate_key parity: the deterministic md5 of
    '-'-joined natural-key columns — the ecosystem-standard surrogate key
    (hash-based, so it is stable across loads and parallel workers, unlike
    monotonically_increasing_id which is partition-layout-dependent and
    non-reproducible). key_count exposes collisions/duplicates inline —
    the uniqueness test a dbt project would attach to the key column.

    Scale shape: narrow hash expression per row; the uniqueness window is
    one shuffle keyed by the hash itself."""
    orders = load(spark, sf_dir, "orders")
    sk = F.md5(
        F.concat_ws(
            "-",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_custkey").cast("string"),
        ).cast("binary")
    )
    w = Window.partitionBy("surrogate_key")
    return (
        orders.select("o_orderkey", sk.alias("surrogate_key"))
        .withColumn("key_count", F.count(F.lit(1)).over(w))
    )


@register(
    "date_parts_misc",
    """
    SELECT o_orderkey,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sunday1,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def date_parts_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-part extraction battery completing §2.C's date family:
    month-end boundary (fiscal rollups), day-of-week (Sunday=1 — Spark's
    native convention; the oracle shifts DuckDB's Sunday=0 by one), ISO
    week number, quarter, day-of-year. All narrow codegen expressions over
    the pushed-down key filter."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.last_day(d).cast("date").alias("month_end"),
        F.dayofweek(d).cast("int").alias("dow_sunday1"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.quarter(d).cast("int").alias("qtr"),
        F.dayofyear(d).cast("int").alias("doy"),
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


@register(
    "ext_rank_fusion",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    cos AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY {dround('list_cosine_similarity(qv, v)', 6)} DESC, vec_id) AS r
        FROM q JOIN e ON vec_id <> query_id
    ), euc AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY {dround('list_distance(qv, v)', 6)} ASC, vec_id) AS r
        FROM q JOIN e ON vec_id <> query_id
    ), fused AS (
        SELECT COALESCE(c.query_id, u.query_id) AS query_id,
               COALESCE(c.vec_id, u.vec_id) AS vec_id,
               {dround(f'COALESCE(1.0 / ({RRF_K} + c.r), 0.0) + COALESCE(1.0 / ({RRF_K} + u.r), 0.0)', 9)} AS rrf
        FROM (SELECT * FROM cos WHERE r <= 20) c
        FULL OUTER JOIN (SELECT * FROM euc WHERE r <= 20) u
          ON c.query_id = u.query_id AND c.vec_id = u.vec_id
    )
    SELECT query_id, vec_id, rrf,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, vec_id) AS INTEGER) AS rk
    FROM fused
    QUALIFY rk <= 5
    """,
)
def ext_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al. 2009): merge two retrieval
    rankings — cosine similarity and euclidean distance here — by summing
    1/({RRF_K}+rank) over each list's top-20, then re-rank. The standard
    hybrid-retrieval combiner (dense + sparse in a RAG stack); rank-based,
    so no score normalization across heterogeneous rankers is needed.

    Both rankers ride the same broadcast-query corpus scan; the fusion is
    a full outer join on (query, candidate) over two top-20 lists — tiny,
    output-bounded. Ranks are integers, so 1/(k+r) is computed from
    identical operands in both engines before the 9dp round.

    Scale shape: each ranker is the ext_topk_cosine shape (broadcast
    queries, one corpus scan, per-query top-k heap); swap either for an
    ANN shortlist without touching the fusion."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    q = sim.with_norm(queries, "embedding").select(
        F.col("vec_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    c = sim.with_norm(emb, "embedding").select("vec_id", "_v", "_norm")
    joined = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    cos_score = F.round(
        sim.cosine(F.col("_qv"), F.col("_qnorm"), F.col("_v"), F.col("_norm")), 6
    )
    l2 = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("_qv"), F.col("_v"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
        6,
    )
    scored = joined.select("query_id", "vec_id", cos_score.alias("cs"), l2.alias("d2"))
    wc = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.col("vec_id"))
    we = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.col("vec_id"))
    ranked = scored.select(
        "query_id", "vec_id",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(we).alias("re"),
    )
    cos_l = ranked.filter(F.col("rc") <= 20).select("query_id", "vec_id", "rc")
    euc_l = ranked.filter(F.col("re") <= 20).select("query_id", "vec_id", "re")
    fused = (
        cos_l.join(euc_l, ["query_id", "vec_id"], "full_outer")
        .select(
            "query_id", "vec_id",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("rc")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("re")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.col("vec_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("int"))
        .filter(F.col("rk") <= 5)
    )


DSIR_BUCKETS = 1024  # hashed-bigram feature width
DSIR_KEEP = 1500  # documents selected by importance weight
DSIR_TARGET_LANG = "en"  # the "target distribution" corpus slice


@register(
    "ext_dsir_resample",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, {_TOKS_SQL} AS l FROM documents
    ), big AS (
        SELECT doc_id, lang,
               ({_md5_32("l[i] || ' ' || l[i+1]")}) % {DSIR_BUCKETS} AS bucket
        FROM toks, unnest(generate_series(1, len(l) - 1)) AS t(i)
    ), feat AS (
        SELECT doc_id, lang, bucket, COUNT(*) AS cnt FROM big GROUP BY 1, 2, 3
    ), rawd AS (
        SELECT bucket, SUM(cnt) AS rc FROM feat GROUP BY 1
    ), tgt AS (
        SELECT bucket, SUM(cnt) AS tc
        FROM feat WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
    ), tots AS (
        SELECT (SELECT SUM(tc) FROM tgt) AS t_tot,
               (SELECT SUM(rc) FROM rawd) AS r_tot
    ), ratio AS (
        SELECT r.bucket,
               CAST(ROUND((ln((COALESCE(t.tc, 0) + 1.0) / (tots.t_tot + {DSIR_BUCKETS}.0))
                    - ln((r.rc + 1.0) / (tots.r_tot + {DSIR_BUCKETS}.0))) * 1000000000.0)
                    AS BIGINT) AS logr_units
        FROM rawd r LEFT JOIN tgt t USING (bucket), tots
    ), w AS (
        SELECT f.doc_id,
               {dround('SUM(f.cnt * ra.logr_units) / 1000000000.0', 6)} AS dsir_logw
        FROM feat f JOIN ratio ra USING (bucket)
        GROUP BY f.doc_id
    )
    SELECT doc_id, dsir_logw FROM w
    ORDER BY dsir_logw DESC, doc_id
    LIMIT {DSIR_KEEP}
    """,
)
def ext_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    NeurIPS): score every raw document by how target-like its hashed-bigram
    distribution is, then keep the top-{DSIR_KEEP}. Features are token
    bigrams hashed into {DSIR_BUCKETS} buckets; the weight is the
    naive-Bayes log-likelihood ratio sum(cnt_f * (ln p_target(f) -
    ln p_raw(f))) with Laplace(+1) smoothing. Target slice here:
    lang='{DSIR_TARGET_LANG}' (any labeled subset plugs in). Completes the
    curation family: fixed per-source weights (ext_mixture_resample) vs
    LEARNED per-document weights (this key).

    Determinism: bucket = md5_32(bigram) mod {DSIR_BUCKETS} is engine-
    identical; ln inputs are IEEE-exact rationals of integer counts, and
    the per-bucket log-ratio is snapped to an INTEGER count of 1e-9 units
    so the per-doc weight is an exact BIGINT sum — order-INDEPENDENT, no
    float accumulation at all (plain 6dp rounding of a double sum was
    observed flipping one doc's 6th decimal at sf0.1 when Spark's and
    DuckDB's summation orders straddled a rounding boundary). Final
    ordering is on the 6dp weight with doc_id tiebreak.

    Scale shape: the feature table is (doc, bucket) — at most
    {DSIR_BUCKETS} rows per doc regardless of length; the bucket
    log-ratio table is a FIXED {DSIR_BUCKETS}-row broadcast (two tiny
    aggregates + two scalar totals), so scoring is a map-side broadcast
    join + one per-doc aggregate; selection is a global top-k
    (TakeOrdered — no full sort shuffle). This is exactly why DSIR hashes
    features: the model fits in a broadcast no matter the corpus size."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    sized = docs.select(
        "doc_id", "lang", toks.alias("l"), F.size(toks).alias("n")
    ).filter(F.col("n") >= 2)
    bigram = F.concat(
        F.element_at("l", F.col("i")),
        F.lit(" "),
        F.element_at("l", F.col("i") + 1),
    )
    big = sized.withColumn(
        "i", F.explode(F.sequence(F.lit(1), F.col("n") - 1))
    ).select(
        "doc_id", "lang", (_spark_md5_32(bigram) % DSIR_BUCKETS).alias("bucket")
    )
    feat = big.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)  # 3 consumers: rawd, tgt, per-doc scoring
    rawd = feat.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tgt = (
        feat.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    t_tot = tgt.agg(F.sum("tc").alias("t_tot"))
    r_tot = rawd.agg(F.sum("rc").alias("r_tot"))
    b = float(DSIR_BUCKETS)
    ratio = (
        rawd.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / (F.col("t_tot") + b)
                    )
                    - F.log((F.col("rc") + 1.0) / (F.col("r_tot") + b))
                )
                * 1_000_000_000.0,
                0,
            )
            .cast("bigint")
            .alias("logr_units"),
        )
    )
    w = (
        feat.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("cnt") * F.col("logr_units")) / 1_000_000_000.0, 6
            ).alias("dsir_logw")
        )
    )
    return w.orderBy(F.desc("dsir_logw"), "doc_id").limit(DSIR_KEEP)


@register(
    "ext_label_balance",
    f"""
    WITH c AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1
    ), t AS (SELECT SUM(n) AS tot, COUNT(*) AS k FROM c
    ), u AS (
        SELECT label, n, t.tot, t.k,
               n * 1.0 / t.tot AS p,
               CAST(ROUND(-(n * 1.0 / t.tot) * ln(n * 1.0 / t.tot) * 1000000000.0)
                    AS BIGINT) AS ent_units,
               CAST(ROUND(pow(n * 1.0 / t.tot, 2) * 1000000000.0) AS BIGINT)
                   AS gini_units
        FROM c, t
    )
    SELECT label, n, {dround('p', 6)} AS share,
           {dround('SUM(ent_units) OVER () / 1000000000.0', 6)} AS entropy,
           {dround('1.0 - SUM(gini_units) OVER () / 1000000000.0', 6)} AS gini_impurity,
           {dround('SUM(ent_units) OVER () / 1000000000.0 / ln(k)', 6)} AS balance
    FROM u
    """,
)
def ext_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set class-balance report: per-label counts and shares
    plus corpus-level Shannon entropy, Gini impurity, and normalized
    balance (entropy / ln(k), 1.0 = perfectly balanced) — the check run
    before training any classifier head or stratifying a split.
    Per-label terms snap to integer nano-units so the window totals are
    exact order-independent BIGINT sums (the ext_drift_psi discipline).

    Scale shape: one label-keyed aggregate (map-side combined to k
    rows); every metric is arithmetic on the k-row table."""
    emb = load(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.agg(F.sum("n").alias("tot"), F.count(F.lit(1)).alias("k"))
    p = F.col("n") * 1.0 / F.col("tot")
    u = c.crossJoin(F.broadcast(t)).select(
        "label", "n", "k",
        p.alias("p"),
        F.round(-p * F.log(p) * 1e9, 0).cast("bigint").alias("ent_units"),
        F.round(F.pow(p, 2) * 1e9, 0).cast("bigint").alias("gini_units"),
    )
    w_all = Window.partitionBy()
    ent = F.sum("ent_units").over(w_all) / 1e9
    return u.select(
        "label", "n",
        F.round("p", 6).alias("share"),
        F.round(ent, 6).alias("entropy"),
        F.round(1.0 - F.sum("gini_units").over(w_all) / 1e9, 6).alias(
            "gini_impurity"
        ),
        F.round(ent / F.log(F.col("k").cast("double")), 6).alias("balance"),
    )


@register(
    "ext_stream_windowed_topk",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events),
    agg AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ), closed AS (
        SELECT window_start, event_type, n_events FROM agg, wm
        WHERE window_start + INTERVAL '10 minutes' <= w
    )
    SELECT window_start, event_type, n_events,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY window_start ORDER BY n_events DESC, event_type
           ) AS INTEGER) AS rk
    FROM closed
    QUALIFY rk <= 3
    """,
)
def ext_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-topics report: the watermarked tumbling count
    stream (ext_watermark_stream's availableNow pipeline, reused) ranked
    to the top-3 event types per FINALIZED window — the composition a
    real-time dashboard runs: ranking only ever touches windows the
    watermark has closed, so results never retract. The rank stage is a
    batch window over the streaming sink's append output; its partitions
    are window-sized (bounded by distinct event types), never
    event-sized. The oracle carries both the eviction cutoff and the
    ranking."""
    from ..streaming.watermark import windowed_stream_counts

    out = windowed_stream_counts(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        out.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
    )


FRAME_W = 100  # chars per synthetic "frame" (mm stub: text bytes = media)
FRAME_MIN_SHARED = 2  # videos sharing >= this many frames pair up


@register(
    "ext_mm_video_neardup",
    f"""
    WITH f0 AS (
        SELECT doc_id, i AS frame_idx,
               md5(substr(text, i * {FRAME_W} + 1, {FRAME_W})) AS fh
        FROM documents,
             unnest(generate_series(0,
                 CAST(FLOOR((len(text) - 1) / {FRAME_W}.0) AS BIGINT))) AS t(i)
        WHERE len(text) > 0
    ), f AS (
        SELECT DISTINCT doc_id, fh FROM f0
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames FROM f GROUP BY 1
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared_frames
        FROM f a JOIN f b ON a.fh = b.fh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {FRAME_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.shared_frames,
           sa.n_frames AS n_frames_a, sb.n_frames AS n_frames_b,
           {dround('CAST(p.shared_frames AS DOUBLE) / LEAST(sa.n_frames, sb.n_frames)', 6)} AS overlap
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """,
)
def ext_mm_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection by shared frame hashes: each
    "video" (the stub's media = text bytes) splits into fixed
    {FRAME_W}-byte frames, frames hash exactly (md5 — a real pipeline
    swaps in the perceptual hash of ext_mm_phash_dedup), and two videos
    pair when they share >= {FRAME_MIN_SHARED} distinct frames —
    re-encoded or trimmed copies share most frames even when container
    bytes differ. Output carries the containment-style overlap fraction.

    Scale shape: distinct (video, frame-hash) is the only corpus-sized
    shuffle; candidates come from the frame-hash equi-join, bounded by
    videos-per-frame — the ext_source_overlap shape at frame
    granularity. A boilerplate frame (intros, color bars) shared by
    millions of videos is the skew hazard: cap frame-hash document
    frequency exactly like the stop-shingle cap before the pair join."""
    docs = load(spark, sf_dir, "documents")
    nframes = F.floor((F.length("text") - 1) / FRAME_W).cast("int")
    f = (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), nframes)).alias("i"),
            F.col("text"),
        )
        .select(
            "doc_id",
            F.md5(
                F.substring(F.col("text"), F.col("i") * FRAME_W + 1, FRAME_W).cast(
                    "binary"
                )
            ).alias("fh"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # 2 consumers: sizes + pair join
    )
    sizes = f.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_frames"))
    a = f.select(F.col("doc_id").alias("doc_a"), "fh")
    b = f.select(F.col("doc_id").alias("doc_b"), "fh")
    pairs = (
        a.join(b, "fh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_frames"))
        .filter(F.col("shared_frames") >= FRAME_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_frames").alias("n_frames_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_frames").alias("n_frames_b"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a", "doc_b", "shared_frames", "n_frames_a", "n_frames_b",
            F.round(
                F.col("shared_frames").cast("double")
                / F.least("n_frames_a", "n_frames_b"),
                6,
            ).alias("overlap"),
        )
    )


INCR_FUZZY_MOD = 10  # doc_id % mod == 0 -> the "incoming batch"; else store


def _incr_fuzzy_oracle() -> str:
    from .extensions import _minhash_banded_oracle

    return _minhash_banded_oracle(
        pair_pred=(
            f"a.doc_id % {INCR_FUZZY_MOD} = 0 AND b.doc_id % {INCR_FUZZY_MOD} <> 0"
        )
    )


@register("ext_dedup_incremental_fuzzy", _incr_fuzzy_oracle())
def ext_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup: MinHash-banded candidates between an
    incoming batch (doc_id % {INCR_FUZZY_MOD} == 0 as the deterministic
    stand-in) and the existing corpus store — the production shape for
    "near-dedupe tonight's snapshot against everything already ingested"
    without re-deduping the store against itself. Complements
    ext_dedup_incremental (exact fingerprints, broadcast anti-join) with
    the near-duplicate tier.

    Same signature/banding pipeline as ext_dedup_minhash_banded — only
    the candidate predicate differs (new-vs-store instead of a < b), so
    the per-band candidate join skips store-store pairs entirely: at
    steady state the store dwarfs each batch, and this is the difference
    between O(batch * collision rate) and re-paying the corpus self-join
    every night. In production the store side's signatures are READ from
    the fingerprint table, not recomputed (signature persistence is the
    ext_dedup_incremental store pattern).

    Output: (doc_a=new, doc_b=store, common_shingles, jaccard)."""
    docs = load(spark, sf_dir, "documents")
    return ded.minhash_banded_pairs(
        docs, "doc_id", "text", n=3, num_perm=16, bands=4,
        pair_filter=lambda a, b: (a % INCR_FUZZY_MOD == 0)
        & (b % INCR_FUZZY_MOD != 0),
    )


ERASE_MOD = 97  # deterministic stand-in for the DSAR forget list


@register(
    "ext_privacy_erasure",
    f"""
    WITH forget AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {ERASE_MOD} = 0
    ), del_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM forget)
    )
    SELECT 'customer' AS table_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS rows_before,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM forget) AS rows_deleted
    UNION ALL
    SELECT 'orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM del_orders)
    UNION ALL
    SELECT 'lineitem',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
    """,
)
def ext_privacy_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade (GDPR/CCPA erasure): a forget list
    of customers propagates through the foreign-key chain — customer
    rows directly, orders via o_custkey, lineitem via the order keys of
    deleted orders — and the key emits the per-table deletion audit
    (rows_before / rows_deleted) a compliance run must log. The actual
    deletes are the same anti-joins with the audit's semi-joins flipped.

    Scale shape: the forget list is dimension-sized and broadcast; the
    order-key cascade is a semi-join (no payload materialization);
    lineitem is probed once with the broadcast deleted-order set. No
    shuffle touches the fact tables beyond the semi-join probes.
    Completes the privacy family: pseudonymize / k-anon / DP noise /
    PII redaction / ERASURE."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # r10: the deleted-order key-list feeds BOTH its audit row and the
    # lineitem cascade probe — pinned so the orders⋈forget semi-join runs
    # once (forget stays unpinned: its replay is one cheap dimension
    # filter, and chaining two pins measured slower than one)
    forget = cust.filter(F.col("c_custkey") % ERASE_MOD == 0).select("c_custkey")
    del_orders = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey").localCheckpoint(eager=False)
    del_li = li.join(
        F.broadcast(del_orders), li.l_orderkey == del_orders.o_orderkey, "left_semi"
    )
    def row(name, total_df, del_df):
        t = total_df.agg(F.count(F.lit(1)).cast("bigint").alias("rows_before"))
        d = del_df.agg(F.count(F.lit(1)).cast("bigint").alias("rows_deleted"))
        return t.crossJoin(d).select(
            F.lit(name).alias("table_name"), "rows_before", "rows_deleted"
        )
    return (
        row("customer", cust, forget)
        .unionByName(row("orders", orders, del_orders))
        .unionByName(row("lineitem", li, del_li))
    )


@register(
    "array_funcs_misc",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS l FROM documents WHERE doc_id < 100
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.l AS la, b.l AS lb
        FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b,
           CAST(len(list_distinct(list_intersect(la, lb))) AS INTEGER) AS n_common,
           list_sort(list_distinct(list_intersect(la, lb))) AS common_sorted,
           CAST(len(list_distinct(la)) AS INTEGER) AS n_distinct_a,
           list_sort(list_distinct(list_filter(la, x -> NOT list_contains(lb, x)))) AS only_a,
           la[1:5] AS head_a,
           list_reverse_sort(list_distinct(lb))[1:3] AS top3_rev_b
    FROM pairs
    """,
)
def array_funcs_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery (§2 collection surface): array_intersect,
    array_distinct, array_except (as a filter twin so DuckDB's bag
    semantics can't drift from Spark's set semantics), sort_array both
    directions, slice — exercised pairwise over adjacent documents'
    token arrays. All narrow codegen expressions.

    Scale shape: the pair join is an equi-join on doc_id+1 (no
    fan-out); everything else is per-row array arithmetic."""
    t = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", tx.tokens(F.col("text")).alias("l"))
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("l").alias("la"))
    b = t.select((F.col("doc_id") - 1).alias("doc_a"), F.col("doc_id").alias("doc_b"),
                 F.col("l").alias("lb"))
    common = F.array_distinct(F.array_intersect("la", "lb"))
    only_a = F.array_distinct(
        F.filter("la", lambda x: ~F.array_contains("lb", x))
    )
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a", "doc_b",
            F.size(common).alias("n_common"),
            F.sort_array(common).alias("common_sorted"),
            F.size(F.array_distinct("la")).alias("n_distinct_a"),
            F.sort_array(only_a).alias("only_a"),
            F.slice("la", 1, 5).alias("head_a"),
            F.slice(F.sort_array(F.array_distinct("lb"), asc=False), 1, 3).alias(
                "top3_rev_b"
            ),
        )
    )


@register(
    "str_funcs_misc",
    """
    SELECT c_custkey,
           lpad(c_name, 22, '*') AS lpadded,
           rpad(c_mktsegment, 12, '.') AS rpadded,
           reverse(c_mktsegment) AS rev_seg,
           repeat(substr(c_name, 1, 3), 2) AS rep3,
           translate(c_name, 'aeiou', 'AEIOU') AS translated,
           split_part(c_name, '#', 2) AS name_num
    FROM customer
    """,
)
def str_funcs_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery completing the SURVEY §2.C surface:
    lpad/rpad, reverse, repeat, translate, split_part — all plain codegen
    expressions with exact ANSI twins on both engines. (levenshtein,
    initcap, trim, case functions live in their own keys.)

    Scale shape: narrow projection, zero shuffles."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad("c_name", 22, "*").alias("lpadded"),
        F.rpad("c_mktsegment", 12, ".").alias("rpadded"),
        F.reverse("c_mktsegment").alias("rev_seg"),
        F.repeat(F.substring("c_name", 1, 3), 2).alias("rep3"),
        F.translate("c_name", "aeiou", "AEIOU").alias("translated"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
    )


@register(
    "agg_boolean_funcs",
    """
    SELECT o_orderpriority,
           CAST(bool_and(o_totalprice > 1000) AS INTEGER) AS all_over_1k,
           CAST(bool_or(o_totalprice > 400000) AS INTEGER) AS any_over_400k,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_over_100k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
)
def agg_boolean_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate battery (§2.E tail): BOOL_AND / BOOL_OR /
    conditional count per group — the assertion-style aggregates behind
    data-quality dashboards ("every order cleared the floor, none
    breached the cap"). Booleans cast to INT for the cross-engine hash.

    Scale shape: one hash aggregate, map-side combined; boolean partials
    are single bytes."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).cast("int").alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).cast("int").alias("any_over_400k"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).cast("bigint").alias("n_over_100k"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@register(
    "win_nth_ratio",
    f"""
    WITH e AS (
        SELECT user_id, event_id, ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id, event_id, cents,
           nth_value(cents, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_cents,
           {dround('cents * 1.0 / SUM(cents) OVER (PARTITION BY user_id)', 6)} AS ratio_to_report
    FROM e
    """,
)
def win_nth_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window battery tail (§2.F): NTH_VALUE over the full partition
    frame plus ratio-to-report (each event's share of its user's total).
    Money moves through exact integer cents — the per-user total is a
    BIGINT sum, so the share division starts from identical operands on
    both engines regardless of summation order.

    Scale shape: one shuffle keyed by user_id; both windows share the
    same partitioning (single sort)."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wp = Window.partitionBy("user_id")
    return e.select(
        "user_id", "event_id", "cents",
        F.nth_value("cents", 2).over(w).alias("second_cents"),
        F.round(F.col("cents") * 1.0 / F.sum("cents").over(wp), 6).alias(
            "ratio_to_report"
        ),
    )


def _cluster_stats_oracle() -> str:
    from .extensions import _NGRAM_JACCARD_SQL

    return f"""
    WITH RECURSIVE jpairs AS ({_NGRAM_JACCARD_SQL}),
    fpairs AS (
        SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.02
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM fpairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM fpairs
    ), reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ), comp AS (
        SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    ), labeled AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), sizes AS (
        SELECT component, COUNT(*) AS cluster_size FROM labeled GROUP BY 1
    ), tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           {dround('cluster_size * COUNT(*) * 1.0 / tot.n', 6)} AS doc_share
    FROM sizes, tot GROUP BY cluster_size, tot.n
    """


@register("ext_dedup_cluster_stats", _cluster_stats_oracle())
def ext_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster audit: the cluster-size histogram (how many
    clusters of each size, how many documents they hold, what corpus
    share) over the same connected components ext_dedup_clusters
    decides with — the report read BEFORE committing a dedup pass
    (a giant cluster usually means boilerplate, not true duplication).
    Completes the dedup lifecycle: pairs -> clusters -> AUDIT ->
    keep-best.

    Scale shape: components via pointer-jumping label propagation
    (O(log d) rounds); the audit itself is two tiny aggregates
    (component-sized, then size-histogram-sized) and a scalar total."""
    from ..ext.cluster import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = ded.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_common=2).filter(
        F.col("jaccard") >= 0.02
    )
    comps = connected_components(pairs)
    labeled = (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.node, "left")
        .select(F.coalesce("component", F.col("doc_id")).alias("component"))
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            F.round(
                F.col("cluster_size") * F.col("n_clusters") * 1.0 / F.col("n"), 6
            ).alias("doc_share"),
        )
    )


def _confusion_oracle() -> str:
    from .extensions import LANGID_CASE_SQL

    return f"""
    WITH pred AS (
        SELECT lang AS y, {LANGID_CASE_SQL} AS p FROM documents
    ), cells AS (
        SELECT y, p, COUNT(*) AS n FROM pred GROUP BY 1, 2
    ), classes AS (
        SELECT DISTINCT y AS c FROM cells UNION SELECT DISTINCT p FROM cells
    ), tp AS (
        SELECT y AS c, n FROM cells WHERE y = p
    ), decl AS (
        SELECT y AS c, SUM(n) AS nd FROM cells GROUP BY 1
    ), pr AS (
        SELECT p AS c, SUM(n) AS np FROM cells GROUP BY 1
    ), m AS (
        SELECT classes.c,
               COALESCE(tp.n, 0) AS tp,
               COALESCE(pr.np, 0) - COALESCE(tp.n, 0) AS fp,
               COALESCE(decl.nd, 0) - COALESCE(tp.n, 0) AS fn,
               CASE WHEN COALESCE(pr.np, 0) > 0
                    THEN CAST(COALESCE(tp.n, 0) AS DOUBLE) / pr.np ELSE 0.0 END AS prec,
               CASE WHEN COALESCE(decl.nd, 0) > 0
                    THEN CAST(COALESCE(tp.n, 0) AS DOUBLE) / decl.nd ELSE 0.0 END AS rec
        FROM classes
        LEFT JOIN tp ON tp.c = classes.c
        LEFT JOIN decl ON decl.c = classes.c
        LEFT JOIN pr ON pr.c = classes.c
    )
    SELECT c AS lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           {dround('prec', 6)} AS precision_c, {dround('rec', 6)} AS recall_c,
           {dround('CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END', 6)} AS f1
    FROM m
    """


@register("ext_eval_confusion", _confusion_oracle())
def ext_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation: per-class true/false positives, false
    negatives, precision, recall, and F1 for the language-ID heuristic
    against the declared gold label — the eval report every model-based
    curation filter (lang-id, quality classifier, toxicity) ships with.
    Any (label, prediction) column pair plugs into the same shape.

    Scale shape: ONE (label, prediction) cell aggregate over the corpus
    (map-side combined to at most classes^2 cells); every metric is
    arithmetic on the cell table — class-count-sized, corpus-independent.
    Precision/recall/F1 derive from exact integer counts, so both
    engines compute identical IEEE doubles before the 6dp round."""
    docs = load(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("y"), tx.lang_id(F.col("text")).alias("p")
    )
    # r10: the confusion cells (<= classes^2 rows) feed FIVE consumers
    # (both class-list branches, the diagonal, the row and column
    # marginals) — pinned so the corpus lang-id pass runs once, not five
    # times (plan audit: documents scanned 5x -> 1)
    cells = pred.groupBy("y", "p").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    classes = (
        cells.select(F.col("y").alias("c"))
        .union(cells.select(F.col("p").alias("c")))
        .distinct()
    )
    tp = cells.filter(F.col("y") == F.col("p")).select(
        F.col("y").alias("c"), F.col("n").alias("tp_n")
    )
    decl = cells.groupBy(F.col("y").alias("c")).agg(F.sum("n").alias("nd"))
    prt = cells.groupBy(F.col("p").alias("c")).agg(F.sum("n").alias("np"))
    m = (
        classes.join(F.broadcast(tp), "c", "left")
        .join(F.broadcast(decl), "c", "left")
        .join(F.broadcast(prt), "c", "left")
        .select(
            "c",
            F.coalesce(F.col("tp_n"), F.lit(0)).alias("tp"),
            (F.coalesce(F.col("np"), F.lit(0)) - F.coalesce(F.col("tp_n"), F.lit(0))).alias("fp"),
            (F.coalesce(F.col("nd"), F.lit(0)) - F.coalesce(F.col("tp_n"), F.lit(0))).alias("fn"),
            F.when(
                F.coalesce(F.col("np"), F.lit(0)) > 0,
                F.coalesce(F.col("tp_n"), F.lit(0)).cast("double") / F.col("np"),
            ).otherwise(F.lit(0.0)).alias("prec"),
            F.when(
                F.coalesce(F.col("nd"), F.lit(0)) > 0,
                F.coalesce(F.col("tp_n"), F.lit(0)).cast("double") / F.col("nd"),
            ).otherwise(F.lit(0.0)).alias("rec"),
        )
    )
    f1 = F.when(
        F.col("prec") + F.col("rec") > 0,
        2.0 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec")),
    ).otherwise(F.lit(0.0))
    return m.select(
        F.col("c").alias("lang"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.round("prec", 6).alias("precision_c"),
        F.round("rec", 6).alias("recall_c"),
        F.round(f1, 6).alias("f1"),
    )


VOCAB_COVER_KS = [5, 10, 25, 50, 100, 1000]  # coverage checkpoints
VOCAB_COVER_MAXK = max(VOCAB_COVER_KS)
VOCAB_TOPK_SALTS = 32  # level-1 hash groups for the two-level top-K prune


@register(
    "ext_text_vocab_coverage",
    f"""
    WITH tok AS (
        SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), v AS (
        SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1
    ), tot AS (
        SELECT SUM(c) AS t, COUNT(*) AS vs FROM v
    ), r AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk FROM v
    ), cum AS (
        SELECT rk, SUM(c) OVER (ORDER BY rk) AS cumc
        FROM r WHERE rk <= {VOCAB_COVER_MAXK}
    )
    SELECT k.k, CAST(LEAST(k.k, tot.vs) AS BIGINT) AS at_rank,
           CAST(cum.cumc AS BIGINT) AS covered_tokens,
           {dround('CAST(cum.cumc AS DOUBLE) / tot.t', 6)} AS coverage
    FROM (VALUES {', '.join(f'({k})' for k in VOCAB_COVER_KS)}) k(k), tot
    JOIN cum ON cum.rk = LEAST(k.k, tot.vs)
    """,
)
def ext_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each checkpoint K in
    {VOCAB_COVER_KS}, what fraction of all token OCCURRENCES the top-K
    most frequent vocabulary entries cover — the report that sizes a
    tokenizer vocabulary (and flags OOV pressure) before training one.
    Checkpoints beyond the actual vocabulary clamp to full coverage.

    Determinism: the frequency ranking is a total order (count DESC,
    token); the cumulative count is an exact BIGINT running sum.

    Scale shape: the vocab aggregate is the only corpus-sized shuffle
    (map-side combined). The global ranking window is two-level: each of
    {VOCAB_TOPK_SALTS} deterministic hash groups keeps its local
    top-{VOCAB_COVER_MAXK} (any global top-K row is in its group's local
    top-K for every disjoint grouping), so the final single-partition
    window sees at most {VOCAB_TOPK_SALTS}x{VOCAB_COVER_MAXK} rows
    regardless of vocabulary size — the ext_partition_skew_report
    discipline. At a 100 TB corpus with a billion-entry long tail the
    bound is unchanged."""
    docs = load(spark, sf_dir, "documents")
    v = docs.select(
        F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(
        eager=False
    )  # 2 consumers: totals + ranked cumulative
    tot = v.agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("vs"))
    # Level 1: local top-K within each deterministic hash group.
    w_grp = Window.partitionBy("grp").orderBy(F.desc("c"), "tok")
    pruned = (
        v.withColumn("grp", F.pmod(F.xxhash64("tok"), F.lit(VOCAB_TOPK_SALTS)))
        .withColumn("lrk", F.row_number().over(w_grp))
        .filter(F.col("lrk") <= VOCAB_COVER_MAXK)
        .drop("grp", "lrk")
    )
    # Level 2: global rank + running sum over the bounded candidate set.
    w = Window.orderBy(F.desc("c"), "tok")
    cum = (
        pruned.select(
            F.row_number().over(w).alias("rk"),
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cumc"),
        )
        .filter(F.col("rk") <= VOCAB_COVER_MAXK)
    )
    cp = spark.createDataFrame([(k,) for k in VOCAB_COVER_KS], ["k"])
    return (
        cp.crossJoin(F.broadcast(tot))
        .withColumn("at_rank", F.least(F.col("k"), F.col("vs")).cast("bigint"))
        .join(F.broadcast(cum), F.col("rk") == F.col("at_rank"))
        .select(
            "k", "at_rank",
            F.col("cumc").cast("bigint").alias("covered_tokens"),
            F.round(F.col("cumc").cast("double") / F.col("t"), 6).alias("coverage"),
        )
    )


PSI_BIN_W = 16  # token-count bin width for the drift report
PSI_BINS = 32  # bins 0..31; the last is open-ended


@register(
    "ext_drift_psi",
    f"""
    WITH n AS (
        SELECT doc_id, source, len({_TOKS_SQL}) AS nt FROM documents
    ), g AS (
        SELECT LEAST(CAST(FLOOR(nt / {PSI_BIN_W}.0) AS INTEGER), {PSI_BINS - 1}) AS bin,
               CASE WHEN (CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INTEGER) % 2) = 0
                    THEN 'ref' ELSE 'cur' END AS grp
        FROM n
    ), c AS (
        SELECT bin,
               COUNT(*) FILTER (WHERE grp = 'ref') AS n_ref,
               COUNT(*) FILTER (WHERE grp = 'cur') AS n_cur
        FROM g GROUP BY bin
    ), t AS (
        SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM c
    ), p AS (
        SELECT bin, n_ref, n_cur,
               (n_ref + 1.0) / (t.tr + {PSI_BINS}.0) AS pr,
               (n_cur + 1.0) / (t.tc + {PSI_BINS}.0) AS pc
        FROM c, t
    ), u AS (
        SELECT bin, n_ref, n_cur, pr, pc,
               CAST(ROUND((pr - pc) * ln(pr / pc) * 1000000000.0) AS BIGINT) AS units
        FROM p
    )
    SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           {dround('pr', 6)} AS p_ref, {dround('pc', 6)} AS p_cur,
           {dround('units / 1000000000.0', 6)} AS psi_bin,
           {dround('SUM(units) OVER () / 1000000000.0', 6)} AS psi_total
    FROM u
    """,
)
def ext_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus slices (even- vs
    odd-numbered sources standing in for "reference snapshot" vs "current
    snapshot"): documents bin by token count ({PSI_BIN_W}-wide bins,
    {PSI_BINS} total, last open-ended), each slice's binned distribution
    is Laplace(+1)-smoothed, and PSI = sum (p_ref - p_cur) *
    ln(p_ref / p_cur) — the standard drift alarm for a production ingest
    (PSI > 0.2 = investigate). Emitted per-bin with the corpus total on
    every row.

    Determinism: bin contributions are snapped to integer 1e-9 units
    (the ext_dsir_resample discipline) so the total is an exact BIGINT
    window sum — order-independent.

    Scale shape: one {PSI_BINS}-group aggregate over a narrow projection
    (map-side combined), then all arithmetic on {PSI_BINS} rows with a
    scalar total; the global window runs over {PSI_BINS} rows, never the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    nt = F.size(tx.tokens(F.col("text")))
    src_num = F.regexp_extract(F.col("source"), r"src([0-9]+)", 1).cast("int")
    g = docs.select(
        F.least(
            F.floor(nt / PSI_BIN_W).cast("int"), F.lit(PSI_BINS - 1)
        ).alias("bin"),
        F.when(src_num % 2 == 0, F.lit("ref")).otherwise(F.lit("cur")).alias("grp"),
    )
    c = g.groupBy("bin").agg(
        F.count(F.when(F.col("grp") == "ref", 1)).alias("n_ref"),
        F.count(F.when(F.col("grp") == "cur", 1)).alias("n_cur"),
    )
    t = c.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    k = float(PSI_BINS)
    p = c.crossJoin(F.broadcast(t)).select(
        "bin", "n_ref", "n_cur",
        ((F.col("n_ref") + 1.0) / (F.col("tr") + k)).alias("pr"),
        ((F.col("n_cur") + 1.0) / (F.col("tc") + k)).alias("pc"),
    )
    u = p.select(
        "bin", "n_ref", "n_cur", "pr", "pc",
        F.round((F.col("pr") - F.col("pc")) * F.log(F.col("pr") / F.col("pc")) * 1e9, 0)
        .cast("bigint")
        .alias("units"),
    )
    w_all = Window.partitionBy()
    return u.select(
        "bin", "n_ref", "n_cur",
        F.round("pr", 6).alias("p_ref"),
        F.round("pc", 6).alias("p_cur"),
        F.round(F.col("units") / 1e9, 6).alias("psi_bin"),
        F.round(F.sum("units").over(w_all) / 1e9, 6).alias("psi_total"),
    )


CHUNK_TOKENS = 64  # chunk width (tokens) for chunk-granularity fuzzy dedup
# chunk_id = doc_id * base + chunk_index. Both engines clamp chunk_index to
# < base, so a pathological document beyond base*CHUNK_TOKENS (= 64M) tokens
# truncates its chunk list rather than silently colliding into another
# doc_id's chunk-id space (the bound is documented in the key's docstring).
CHUNK_ID_BASE = 1_000_000


def _chunk_fuzzy_oracle() -> str:
    from .extensions import _minhash_banded_oracle

    toks_sql = f"""SELECT d.doc_id * {CHUNK_ID_BASE} + t.ci AS doc_id,
               list_slice(d.l, t.ci * {CHUNK_TOKENS} + 1, (t.ci + 1) * {CHUNK_TOKENS}) AS l
        FROM (SELECT doc_id, {_TOKS_SQL} AS l FROM documents) d,
             unnest(generate_series(0,
                 LEAST(CAST(FLOOR((len(d.l) - 1) / {CHUNK_TOKENS}.0) AS BIGINT),
                       {CHUNK_ID_BASE - 1}))) AS t(ci)"""
    base = _minhash_banded_oracle(toks_sql=toks_sql)
    return f"""
    SELECT r.doc_a AS chunk_a, r.doc_b AS chunk_b,
           CAST(FLOOR(r.doc_a / {CHUNK_ID_BASE}.0) AS BIGINT) AS doc_a,
           CAST(FLOOR(r.doc_b / {CHUNK_ID_BASE}.0) AS BIGINT) AS doc_b,
           r.common_shingles, r.jaccard
    FROM ({base}) r
    WHERE FLOOR(r.doc_a / {CHUNK_ID_BASE}.0) <> FLOOR(r.doc_b / {CHUNK_ID_BASE}.0)
    """


@register("ext_dedup_chunk_fuzzy", _chunk_fuzzy_oracle())
def ext_dedup_chunk_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity fuzzy dedup: documents split into fixed
    {CHUNK_TOKENS}-token windows, each chunk MinHash-banded exactly like
    ext_dedup_minhash_banded (16 perms, 4 bands, exact-Jaccard verify),
    emitting CROSS-document near-duplicate chunk pairs. This is the
    paragraph/window-level pass real curation stacks run alongside
    doc-level dedup: two long documents sharing one boilerplate passage
    are invisible to whole-doc signatures (the shared chunk is a small
    fraction of each doc's shingle set) but light up here.

    Reuses ded.minhash_banded_pairs verbatim on the chunk table — the
    signature pipeline, banding, and oracle SQL exist ONCE; only the
    (doc_id, l) source differs (chunk_id = doc_id * {CHUNK_ID_BASE} +
    chunk index, recovered by integer division in the output). Bound:
    chunk index is clamped below {CHUNK_ID_BASE} on both engines, so a
    document longer than {CHUNK_ID_BASE}x{CHUNK_TOKENS} (= 64M) tokens
    truncates its chunk list instead of colliding into a neighbouring
    doc_id's chunk-id space — an explicit, documented cap.

    Scale shape: identical to the doc-level key — banded equi-joins on
    4-row band hashes, exact verify on candidates only — but the unit is
    a bounded-size chunk, so per-row shingle sets are capped at
    ~{CHUNK_TOKENS} entries regardless of document length: the signature
    aggregate's skew from mega-documents disappears entirely."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    sized = docs.select(
        "doc_id", toks.alias("l"), F.size(toks).alias("n")
    ).filter(F.col("n") > 0)
    chunks = sized.withColumn(
        "ci",
        F.explode(
            F.sequence(
                F.lit(0),
                F.least(
                    F.floor((F.col("n") - 1) / CHUNK_TOKENS).cast("int"),
                    F.lit(CHUNK_ID_BASE - 1),
                ),
            )
        ),
    ).select(
        (F.col("doc_id") * CHUNK_ID_BASE + F.col("ci")).alias("chunk_id"),
        F.array_join(
            F.slice("l", F.col("ci") * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
        ).alias("chunk_text"),
    )
    pairs = ded.minhash_banded_pairs(
        chunks, "chunk_id", "chunk_text", n=3, num_perm=16, bands=4
    )
    da = F.floor(F.col("doc_a") / CHUNK_ID_BASE).cast("bigint")
    db = F.floor(F.col("doc_b") / CHUNK_ID_BASE).cast("bigint")
    return (
        pairs.select(
            F.col("doc_a").alias("chunk_a"),
            F.col("doc_b").alias("chunk_b"),
            da.alias("doc_a_id"),
            db.alias("doc_b_id"),
            "common_shingles",
            "jaccard",
        )
        .filter(F.col("doc_a_id") != F.col("doc_b_id"))
        .select(
            "chunk_a", "chunk_b",
            F.col("doc_a_id").alias("doc_a"),
            F.col("doc_b_id").alias("doc_b"),
            "common_shingles", "jaccard",
        )
    )


REMOVE_N = 8  # token n-gram width for duplicate-span removal


@register(
    "ext_text_dup_span_remove",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS l FROM documents
    ), sized AS (
        SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n_tokens FROM toks
    ), grams AS (
        SELECT doc_id, i, md5(array_to_string(l[i:i+{REMOVE_N - 1}], ' ')) AS g
        FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - {REMOVE_N - 1})) AS i
              FROM sized WHERE n_tokens >= {REMOVE_N})
    ), occ AS (
        SELECT doc_id, i,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, i) AS rk,
               COUNT(*) OVER (PARTITION BY g) AS c
        FROM grams
    ), cover AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, unnest(generate_series(i, i + {REMOVE_N - 1})) AS p
            FROM occ WHERE c >= 2 AND rk >= 2)
    ), pos AS (
        SELECT doc_id, i AS p, l[i] AS tok
        FROM sized, unnest(generate_series(1, len(l))) AS t(i)
    ), kept AS (
        SELECT s.doc_id, s.p, s.tok
        FROM pos s LEFT JOIN cover c ON s.doc_id = c.doc_id AND s.p = c.p
        WHERE c.doc_id IS NULL
    ), rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens,
           CAST(s.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.clean_text, '') AS clean_text
    FROM sized s LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def ext_text_dup_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (the rewrite stage of Lee et al.'s
    exact-substring dedup; ext_text_dup_ngram_spans is the detection
    stage): every token {REMOVE_N}-gram occurring 2+ times corpus-wide
    (across OR within documents) keeps only its first occurrence by
    (doc_id, position); every other occurrence's {REMOVE_N}-token span is
    deleted, and each document is re-emitted with surviving tokens joined
    in original order. Overlapping duplicate spans union before removal,
    so a long repeated passage is excised once, cleanly.

    Pure integer/string pipeline — no floats, so cross-engine parity is
    exact by construction.

    Scale shape: the occurrence ranking is ONE window keyed by the
    16-byte gram hash (rank + count in the same pass); span coverage is a
    bounded explode ({REMOVE_N} positions per removed occurrence) folded
    straight into a per-doc removed-position SET (collect_set dedups —
    no separate distinct); the rewrite then runs IN-ROW — one doc-keyed
    join attaches the removed set and a filter-with-index lambda drops
    those positions from the original token array — so the corpus token
    stream is never posexploded through an anti join nor re-assembled
    with a collect_list regroup. A boilerplate gram shared by millions
    of docs makes one hot window partition: AQE skew handling splits it,
    and the sort within is by (doc_id, i) — bounded work per
    occurrence."""
    n = REMOVE_N
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    sized = docs.select(
        "doc_id", toks.alias("l"), F.size(toks).cast("bigint").alias("n_tokens")
    ).localCheckpoint(eager=False)  # 3 consumers: grams, positions, final join
    grams = (
        sized.filter(F.col("n_tokens") >= n)
        .withColumn(
            "i",
            F.explode(
                F.sequence(F.lit(1), (F.col("n_tokens") - (n - 1)).cast("int"))
            ),
        )
        .select(
            "doc_id", "i",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("l"), F.col("i"), n)).cast("binary")
            ).alias("g"),
        )
    )
    wg = Window.partitionBy("g")
    occ = grams.select(
        "doc_id", "i",
        F.row_number().over(wg.orderBy("doc_id", "i")).alias("rk"),
        F.count(F.lit(1)).over(wg).alias("c"),
    )
    rm = (
        occ.filter((F.col("c") >= 2) & (F.col("rk") >= 2))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("rm"))
    )
    rme = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    return sized.join(rm, "doc_id", "left").select(
        "doc_id", "n_tokens",
        F.size(rme).cast("bigint").alias("n_removed"),
        F.array_join(
            F.filter(
                F.col("l"),
                lambda tok, idx: ~F.array_contains(rme, (idx + 1).cast("int")),
            ),
            " ",
        ).alias("clean_text"),
    )


MIX_ALPHA = 0.7  # temperature exponent for alpha-sampling
MIX_BUDGET = 1_000_000  # global token budget to allocate


@register(
    "ext_token_budget_plan",
    f"""
    WITH n AS (
        SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ), powed AS (
        SELECT source, n_tokens, pow(n_tokens, {MIX_ALPHA}) AS pw FROM n
    ), tot AS (SELECT SUM(pw) AS z FROM powed
    ), p AS (
        SELECT source, n_tokens, {dround('pw / tot.z', 6)} AS p_sample
        FROM powed, tot
    )
    SELECT source, n_tokens, p_sample,
           CAST({dround(f'{MIX_BUDGET}.0 * p_sample', 0)} AS BIGINT) AS alloc_tokens,
           {dround(f'{MIX_BUDGET}.0 * p_sample / n_tokens', 6)} AS epochs
    FROM p
    """,
)
def ext_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture planning (the alpha-sampling of mT5 /
    XLM-R, alpha={MIX_ALPHA}): given a global training budget of
    {MIX_BUDGET:,} tokens, allocate per-source shares proportional to
    n_tokens^alpha — upweighting low-resource sources relative to raw
    proportions — and report the implied epoch count per source (epochs
    > 1 means that source repeats). This PLANS the mixture that
    ext_mixture_resample then MATERIALIZES; at 100 TB the plan runs first
    and its weights feed the resampler.

    Determinism: downstream arithmetic (allocation, epochs) is computed
    from the 6dp-ROUNDED share — bit-identical doubles on both engines —
    so the integer allocation cannot flip on pow/summation ulp noise; the
    only cross-engine float op is pow + a #sources-sized sum, rounded at
    6dp (the established ln discipline).

    Scale shape: one per-source token-count aggregate (map-side combined),
    then all math on a #sources-row table with a scalar broadcast total —
    the output is dimension-table sized no matter the corpus."""
    docs = load(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(
        F.sum(F.size(tx.tokens(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    powed = n.withColumn("pw", F.pow(F.col("n_tokens"), F.lit(MIX_ALPHA)))
    tot = powed.agg(F.sum("pw").alias("z"))
    p = powed.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens",
        F.round(F.col("pw") / F.col("z"), 6).alias("p_sample"),
    )
    budget = F.lit(float(MIX_BUDGET))
    return p.select(
        "source", "n_tokens", "p_sample",
        F.round(budget * F.col("p_sample"), 0).cast("bigint").alias("alloc_tokens"),
        F.round(budget * F.col("p_sample") / F.col("n_tokens"), 6).alias("epochs"),
    )


@register(
    "ext_embed_whiten",
    f"""
    WITH dims AS (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ), mu AS (
        SELECT dim, {dround('AVG(x)', 6)} AS mean_x FROM dims GROUP BY dim
    ), st AS (
        SELECT d.dim, m.mean_x,
               {dround('sqrt(AVG(pow(d.x - m.mean_x, 2)))', 6)} AS std_x
        FROM dims d JOIN mu m USING (dim) GROUP BY d.dim, m.mean_x
    ), z AS (
        SELECT d.vec_id, d.dim,
               CASE WHEN s.std_x = 0 THEN 0.0
                    ELSE {dround('(d.x - s.mean_x) / s.std_x', 6)} END AS zval
        FROM dims d JOIN st s USING (dim)
    )
    SELECT vec_id, list(zval ORDER BY dim) AS whitened
    FROM z GROUP BY vec_id
    """,
)
def ext_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (z-scoring) of the embedding corpus:
    subtract the corpus mean and divide by the corpus std in every
    coordinate — the whitening step before cosine/k-means when dimensions
    have wildly different scales, and the consumer of
    ext_embed_dim_stats' statistics. Zero-variance (dead) dimensions map
    to 0 rather than dividing by zero.

    Determinism: mean and std are rounded at 6dp BEFORE the per-vector
    arithmetic, so both engines standardize with bit-identical constants
    (two-pass centered std, the agg_mode_moments discipline); z-values
    round at 6dp from identical operands.

    Scale shape: stats are a DIM-row broadcast (two tiny aggregates over
    the posexploded corpus); the standardization itself is a map-side
    broadcast join + per-vector re-assembly keyed by vec_id — one shuffle
    of (vec, dim, z) rows to rebuild arrays, no corpus-sized join."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode(sim.as_double(F.col("embedding"))).alias("dim", "x")
    )
    mu = dims.groupBy("dim").agg(F.round(F.avg("x"), 6).alias("mean_x"))
    d1 = dims.join(F.broadcast(mu), "dim")
    dev = F.col("x") - F.col("mean_x")
    st = d1.groupBy("dim", "mean_x").agg(
        F.round(F.sqrt(F.avg(dev * dev)), 6).alias("std_x")
    )
    z = dims.join(F.broadcast(st), "dim").select(
        "vec_id", "dim",
        F.when(F.col("std_x") == 0, F.lit(0.0))
        .otherwise(F.round((F.col("x") - F.col("mean_x")) / F.col("std_x"), 6))
        .alias("zval"),
    )
    return (
        z.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "zval"))),
                lambda s: s.zval,
            ).alias("whitened")
        )
    )


OVERLAP_GRAM = 3  # token n-gram width for the cross-source overlap matrix


@register(
    "ext_source_overlap",
    f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_SQL} AS l FROM documents
    ), grams AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(l, i, i + {OVERLAP_GRAM - 1}), ' ') AS gram
        FROM toks, unnest(generate_series(1, len(l) - {OVERLAP_GRAM - 1})) AS t(i)
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
    ), pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.shared,
           sa.n_grams AS n_a, sb.n_grams AS n_b,
           {dround('CAST(p.shared AS DOUBLE) / (sa.n_grams + sb.n_grams - p.shared)', 6)} AS jaccard,
           {dround('CAST(p.shared AS DOUBLE) / LEAST(sa.n_grams, sb.n_grams)', 6)} AS containment
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    """,
)
def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix: for every pair of sources, the number
    of shared distinct token {OVERLAP_GRAM}-grams plus Jaccard and
    containment coefficients — the "how much does crawl dump B duplicate
    dump A" report that decides whether a new snapshot is worth ingesting
    and in which order dumps should be deduplicated (CCNet/RefinedWeb run
    exactly this analysis across CommonCrawl snapshots).

    Unlike the pairwise dedup keys (doc vs doc), this aggregates at the
    SOURCE level: distinct (source, gram) first, then per-gram source sets
    exploded into pairs — the candidate explosion is bounded by
    #sources^2 per gram, never by corpus size.

    Scale shape: ONE corpus-sized shuffle — the raw (source, gram) stream
    folds straight into per-gram source sets (collect_set partial-
    aggregates map-side, so within-partition duplicates never hit the
    wire; the pre-r7 shape paid a distinct THEN a regroup = two corpus
    shuffles); per-source sizes are recovered from the bounded gram-set
    grid (explode of S-element arrays, map-side combined to S rows), and
    the pair explode is bounded by #sources^2 per gram. At 100 TB swap
    the gram string for an xxhash64 of it (64-bit join keys; collision
    rate ~ n^2/2^64 is negligible for counts) — kept as the raw string
    here so the DuckDB oracle is bit-exact."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    sized = docs.select(
        "source", toks.alias("l"), F.size(toks).alias("n")
    ).filter(F.col("n") >= OVERLAP_GRAM)
    gram = F.concat_ws(
        " ",
        *[F.element_at("l", F.col("i") + k) for k in range(OVERLAP_GRAM)],
    )
    sets = (
        sized.withColumn(
            "i", F.explode(F.sequence(F.lit(1), F.col("n") - (OVERLAP_GRAM - 1)))
        )
        .select("source", gram.alias("gram"))
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .localCheckpoint(eager=False)  # 2 consumers: sizes + pair explode
    )
    sizes = (
        sets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    )
    pairs = (
        sets.filter(F.size("ss") >= 2)
        .select(F.explode("ss").alias("source_a"), "ss")
        .select("source_a", F.explode("ss").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("n_b")
    )
    shared_d = F.col("shared").cast("double")
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "shared", "n_a", "n_b",
            F.round(
                shared_d / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
            F.round(shared_d / F.least("n_a", "n_b"), 6).alias("containment"),
        )
    )


@register(
    "ext_embed_quantile_norm",
    f"""
    WITH dims AS (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ), pr AS (
        SELECT vec_id, dim,
               {dround('PERCENT_RANK() OVER (PARTITION BY dim ORDER BY x)', 6)} AS q
        FROM dims
    )
    SELECT vec_id, list(q ORDER BY dim) AS quantiles
    FROM pr GROUP BY vec_id
    """,
)
def ext_embed_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of the embedding corpus: every
    coordinate is replaced by its percentile within that dimension, mapping
    each dimension to a uniform [0,1] marginal. The rank-statistics
    complement of ext_embed_whiten's z-scoring — robust to heavy tails and
    the standard pre-step before copula-style feature fusion.

    PERCENT_RANK semantics on both engines: (rank-1)/(N-1) with ties
    sharing the rank, 0.0 for a single-row partition. The ratio divides the
    same two integers in double on both sides, so values are bit-identical
    before the defensive 6dp round.

    Scale shape: ONE shuffle to (dim)-partitioned windows — per-dimension
    sorts parallelize across the embedding width (64+ dims = 64+ concurrent
    sorts, each over N values). That per-dim sort is the intrinsic cost of
    EXACT rank normalization; at corpus scales where a full per-dim sort is
    too hot, the documented fallback is approx-percentile bucketing
    (agg_histogram_equidepth's shape) traded against rank resolution. The
    final per-vector re-assembly is the whiten-key groupBy."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode(sim.as_double(F.col("embedding"))).alias("dim", "x")
    )
    w = Window.partitionBy("dim").orderBy("x")
    q = dims.select(
        "vec_id", "dim", F.round(F.percent_rank().over(w), 6).alias("q")
    )
    return q.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "q"))),
            lambda s: s.q,
        ).alias("quantiles")
    )


@register(
    "ext_event_transition",
    f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
        SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_prev FROM pairs GROUP BY 1
    )
    SELECT p.prev_type, p.next_type, p.n, t.n_prev,
           {dround('CAST(p.n AS DOUBLE) / t.n_prev', 6)} AS p_next
    FROM pairs p JOIN tot t USING (prev_type)
    """,
)
def ext_event_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for each
    user's time-ordered event sequence, count (previous event type -> next
    event type) transitions and the conditional probability of each next
    type given the previous. The clickstream-analysis staple behind
    next-action prediction and funnel-drop diagnostics — ext_event_funnel
    checks ONE fixed path; this key reports the full transition structure.

    Ordering tiebreak on the unique event_id (events can share a
    timestamp), so the LAG pairing is deterministic on both engines.
    Probabilities divide the same two integers in double -> bit-identical
    before the defensive 6dp round.

    Scale shape: ONE shuffle to (user_id)-partitioned windows (the same
    partitioning every per-user sequence key reuses), then a partial+final
    hash aggregate onto the tiny (prev, next) type-pair grid; row-count
    totals broadcast back onto the matrix. No corpus-sized join anywhere."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = (
        seq.groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_prev")
    )
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type", "next_type", "n", "n_prev",
        F.round(F.col("n").cast("double") / F.col("n_prev"), 6).alias("p_next"),
    )


BATCH_SIZE = 32       # ext_length_bucket_batch: sequences per padded batch
LB_SUB = 512          # doc_id-range sub-bucket width for the two-level rn scan


@register(
    "ext_length_bucket_batch",
    f"""
    WITH sized AS (
        SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
        WHERE len({_TOKS_SQL}) > 0
    ), bucketed AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               (CASE WHEN n_tokens <= 16 THEN CAST(16 AS BIGINT) WHEN n_tokens <= 32 THEN CAST(32 AS BIGINT) WHEN n_tokens <= 64 THEN CAST(64 AS BIGINT) WHEN n_tokens <= 128 THEN CAST(128 AS BIGINT) WHEN n_tokens <= 256 THEN CAST(256 AS BIGINT) WHEN n_tokens <= 512 THEN CAST(512 AS BIGINT) WHEN n_tokens <= 1024 THEN CAST(1024 AS BIGINT) WHEN n_tokens <= 2048 THEN CAST(2048 AS BIGINT) WHEN n_tokens <= 4096 THEN CAST(4096 AS BIGINT) WHEN n_tokens <= 8192 THEN CAST(8192 AS BIGINT) WHEN n_tokens <= 16384 THEN CAST(16384 AS BIGINT) WHEN n_tokens <= 32768 THEN CAST(32768 AS BIGINT) WHEN n_tokens <= 65536 THEN CAST(65536 AS BIGINT) WHEN n_tokens <= 131072 THEN CAST(131072 AS BIGINT) WHEN n_tokens <= 262144 THEN CAST(262144 AS BIGINT) WHEN n_tokens <= 524288 THEN CAST(524288 AS BIGINT) WHEN n_tokens <= 1048576 THEN CAST(1048576 AS BIGINT) ELSE CAST(2097152 AS BIGINT) END) AS seq_len
        FROM sized
    ), numbered AS (
        SELECT seq_len, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY seq_len ORDER BY doc_id) AS rn
        FROM bucketed
    )
    SELECT seq_len,
           CAST(FLOOR((rn - 1) / {BATCH_SIZE}) AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * seq_len AS BIGINT) AS padded_tokens,
           CAST(COUNT(*) * seq_len - SUM(n_tokens) AS BIGINT) AS pad_waste,
           {dround('1.0 - CAST(SUM(n_tokens) AS DOUBLE) / (COUNT(*) * seq_len)', 6)} AS waste_frac
    FROM numbered GROUP BY seq_len, batch_id
    """,
)
def ext_length_bucket_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning: documents are assigned to
    power-of-2 sequence-length buckets (min 16), numbered within each
    bucket in deterministic doc_id order, and grouped into fixed-size
    padded batches of {BATCH_SIZE}; each batch reports its token count,
    padded size and padding waste. The pad-based alternative to
    ext_text_pack's concat-and-chunk packing — the op behind
    bucketed-batching dataloaders, and the report that quantifies how much
    compute padding burns per bucket.

    Scale shape: the per-bucket ROW_NUMBER is computed with the SAME
    two-level distributed scan as ext_text_pack — a (seq_len, doc_id-range)
    partitioned local count, a tiny ordered offset scan over sub-bucket
    subtotals (n_docs/{LB_SUB} rows), and a broadcast join back. No
    corpus-sized single-partition window; the final aggregate is a
    partial+final hash agg onto (seq_len, batch_id)."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tx.tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    seq_len = F.lit(2097152).cast("bigint")
    for k in range(20, 3, -1):  # exact-integer power-of-2 ladder (no libm)
        seq_len = F.when(
            F.col("n_tokens") <= (1 << k), F.lit(1 << k).cast("bigint")
        ).otherwise(seq_len)
    bucketed = sized.withColumn("seq_len", seq_len).withColumn(
        "sub", F.floor(F.col("doc_id") / LB_SUB)
    )
    w_local = Window.partitionBy("seq_len", "sub").orderBy("doc_id")
    local = bucketed.withColumn("local_rn", F.row_number().over(w_local))
    subtot = bucketed.groupBy("seq_len", "sub").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_sub = Window.partitionBy("seq_len").orderBy("sub")
    offsets = subtot.withColumn(
        "offset", (F.sum("cnt").over(w_sub) - F.col("cnt")).cast("bigint")
    ).select("seq_len", "sub", "offset")
    numbered = local.join(F.broadcast(offsets), ["seq_len", "sub"]).withColumn(
        "rn", F.col("offset") + F.col("local_rn")
    )
    return (
        numbered.withColumn(
            "batch_id", F.floor((F.col("rn") - 1) / BATCH_SIZE).cast("bigint")
        )
        .groupBy("seq_len", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "seq_len", "batch_id", "n_docs", "sum_tokens",
            (F.col("n_docs") * F.col("seq_len")).cast("bigint").alias("padded_tokens"),
            (F.col("n_docs") * F.col("seq_len") - F.col("sum_tokens"))
            .cast("bigint").alias("pad_waste"),
            F.round(
                F.lit(1.0)
                - F.col("sum_tokens").cast("double")
                / (F.col("n_docs") * F.col("seq_len")),
                6,
            ).alias("waste_frac"),
        )
    )


CHURN_DAYS = 14   # no activity in the trailing 14 days => churned
RECENT_DAYS = 7   # recency feature window


@register(
    "ext_user_churn_features",
    f"""
    WITH now_t AS (
        SELECT MAX(ts) AS now_ts FROM events
    ), feats AS (
        SELECT e.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types,
               CAST(SUM(CAST({dround('e.value * 1000000', 0)} AS BIGINT)) AS BIGINT)
                   AS sum_value_micros,
               MAX(e.ts) AS last_ts,
               CAST(SUM(CASE WHEN e.ts > n.now_ts - INTERVAL 7 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_recent_7d,
               MAX(n.now_ts) AS now_ts
        FROM events e CROSS JOIN now_t n
        GROUP BY e.user_id
    )
    SELECT user_id, n_events, n_types, sum_value_micros, last_ts,
           CAST(date_diff('day', CAST(last_ts AS DATE), CAST(now_ts AS DATE))
                AS INTEGER) AS days_since_last,
           n_recent_7d,
           date_diff('day', CAST(last_ts AS DATE), CAST(now_ts AS DATE))
               > {CHURN_DAYS} AS churned
    FROM feats
    """,
)
def ext_user_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user churn label + feature generation off the event stream — the
    feature-store shape behind a churn model: event counts, type diversity,
    exact monetary total, recency (days since last event vs the corpus
    max-ts 'now'), a trailing-{RECENT_DAYS}-day activity count, and the
    boolean churn label (no activity in the trailing {CHURN_DAYS} days).

    Determinism: the monetary total accumulates in exact integer
    micro-units (each value HALF_UP-rounded to micros BEFORE summing —
    the DSIR integer-unit discipline), so the sum is order-independent;
    day arithmetic is integer DATEDIFF; the 'now' anchor is the exact MAX
    timestamp broadcast as a 1-row scalar.

    Scale shape: ONE partial+final hash aggregate onto user_id; the 'now'
    scalar rides a 1x1 broadcast cross join (BroadcastNestedLoopJoin over
    one row — the documented scalar-broadcast pattern, not a
    CartesianProduct hazard). No window, no self-join."""
    ev = load(spark, sf_dir, "events")
    now_t = ev.agg(F.max("ts").alias("now_ts"))
    feats = (
        ev.crossJoin(F.broadcast(now_t))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            F.sum(F.round(F.col("value") * 1000000, 0).cast("bigint"))
            .cast("bigint").alias("sum_value_micros"),
            F.max("ts").alias("last_ts"),
            F.sum(
                F.when(
                    F.col("ts") > F.col("now_ts") - F.expr("INTERVAL 7 DAY"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_recent_7d"),
            F.max("now_ts").alias("now_ts_"),
        )
    )
    days = F.datediff(F.to_date("now_ts_"), F.to_date("last_ts"))
    return feats.select(
        "user_id", "n_events", "n_types", "sum_value_micros", "last_ts",
        days.cast("int").alias("days_since_last"),
        "n_recent_7d",
        (days > CHURN_DAYS).alias("churned"),
    )


_REV_CENTS_SQL = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


@register(
    "ext_basket_pairs",
    f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), n AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items
    ), cnt AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_item FROM items GROUP BY pk
    ), pairs AS (
        SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
           {dround('CAST(p.n_ab AS DOUBLE) / n.n_orders', 6)} AS support,
           {dround('CAST(p.n_ab AS DOUBLE) * n.n_orders / (ca.n_item * cb.n_item)', 6)} AS lift
    FROM pairs p
    JOIN cnt ca ON ca.pk = p.part_a
    JOIN cnt cb ON cb.pk = p.part_b
    CROSS JOIN n
    """,
)
def ext_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every pair of parts bought together
    in at least 2 orders, the pair count, per-item counts, support and
    lift — the association-rule-mining primer (Agrawal-Srikant shape)
    over the order/lineitem fact.

    Scale shape: the pair join is an EQUI-join on l_orderkey — candidate
    cost is bounded by sum over orders of (items-per-order choose 2),
    which is small-constant per order (TPC-H ~4-7 lines), NOT corpus²;
    the support>=2 cut keeps the output to genuinely associated pairs.
    Item counts join back by part key (dimension-sized; AQE broadcasts
    when small); the order total rides a 1-row scalar broadcast. Support
    and lift divide identical exact integers in double on both engines."""
    from ..ext.graph import pairs_from_baskets, shared_baskets

    # session-shared basket index (memo family "graph", ext/graph.py); per-order
    # part sets are distinct, so n_orders and per-item counts read
    # straight off the persisted arrays
    bas = shared_baskets(
        spark,
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
    )
    n = bas.filter(F.size("ps") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    cnt = (
        bas.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    # basket-array pair enumeration (ext/graph.py); oracle keeps the join
    pairs = (
        pairs_from_baskets(bas, count=True)
        .select(
            F.col("u").alias("part_a"), F.col("v").alias("part_b"),
            F.col("support").cast("bigint").alias("n_ab"),
        )
        .filter(F.col("n_ab") >= 2)
    )
    ca = cnt.select(F.col("pk").alias("part_a"), F.col("n_item").alias("n_a"))
    cb = cnt.select(F.col("pk").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(ca, "part_a").join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b",
            F.round(F.col("n_ab").cast("double") / F.col("n_orders"), 6)
            .alias("support"),
            F.round(
                F.col("n_ab").cast("double") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "ext_supplier_hhi",
    f"""
    WITH rev AS (
        SELECT s.s_nationkey AS nationkey, l.l_suppkey,
               SUM({_REV_CENTS_SQL}) AS cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT nationkey, SUM(cents) AS tot_cents FROM rev GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(t.tot_cents AS BIGINT) AS total_cents,
           {dround('SUM(POW(r.cents * 1.0 / t.tot_cents, 2)) * 10000', 6)} AS hhi
    FROM rev r
    JOIN tot t USING (nationkey)
    JOIN nation n ON n.n_nationkey = r.nationkey
    GROUP BY n.n_name, t.tot_cents
    """,
)
def ext_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: the Herfindahl-Hirschman Index
    (sum of squared revenue shares x 10000) over each nation's supplier
    base — the market-concentration audit behind supply-chain risk
    scoring. Revenue accumulates in exact integer cents; each share
    divides the same two integers in double on both engines, so the
    squared-share sum differs only by summation order (~1e-13 relative —
    far inside the 6dp terminal round, the pagerank discipline).

    Scale shape: one fact-side hash aggregate onto (nation, supplier)
    after a dimension join (AQE broadcasts the supplier side), a tiny
    per-nation total joined back, and a 25-row final aggregate."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    # r10: the (nation, supplier) revenue grid feeds the per-nation total
    # AND the share fold — pinned so the lineitem⋈supplier aggregate runs
    # once (plan audit: lineitem and supplier each scanned 2x -> 1)
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(F.sum(cents).alias("cents"))
        .localCheckpoint(eager=False)
    )
    tot = rev.groupBy("nationkey").agg(F.sum("cents").alias("tot_cents"))
    share = F.col("cents") * 1.0 / F.col("tot_cents")
    return (
        rev.join(tot, "nationkey")
        .join(nat, F.col("nationkey") == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "tot_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(F.sum(share * share) * 10000, 6).alias("hhi"),
        )
        .select(
            "nation", "n_suppliers",
            F.col("tot_cents").cast("bigint").alias("total_cents"), "hhi",
        )
    )


@register(
    "ext_user_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), isl AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d
               ) AS INTEGER) AS grp
        FROM days
    ), streaks AS (
        SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks GROUP BY user_id
    """,
)
def ext_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the classic
    gaps-and-islands-over-dates engagement metric (longest streak, streak
    count, total active days). Distinct event DATES collapse first, then
    the date-minus-row-number island key groups consecutive runs; all
    arithmetic is integer date math, hash-exact by construction.

    Scale shape: the window partitions by user_id over DISTINCT dates
    (bounded by days-in-corpus per user, not events), riding the same
    user-partitioned shuffle every per-user sequence key reuses; then two
    partial+final hash aggregates. No global window, no join."""
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("active_days"),
    )


@register(
    "ext_part_pareto",
    f"""
    WITH rev AS (
        SELECT l_partkey, SUM({_REV_CENTS_SQL}) AS cents
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT SUM(cents) AS tc FROM rev
    ), ranked AS (
        SELECT l_partkey, CAST(cents AS BIGINT) AS cents,
               CAST(SUM(cents) OVER (
                   ORDER BY cents DESC, l_partkey
               ) AS BIGINT) AS cum_cents
        FROM rev
    )
    SELECT r.l_partkey, r.cents, r.cum_cents,
           {dround('r.cum_cents * 1.0 / t.tc', 6)} AS cum_share,
           CASE WHEN r.cum_cents * 1.0 / t.tc <= 0.80 THEN 'A'
                WHEN r.cum_cents * 1.0 / t.tc <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked r CROSS JOIN tot t
    """,
)
def ext_part_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: rank parts by
    exact-cents revenue, accumulate the running share, and classify into
    A (first 80% of revenue), B (to 95%), C (tail) — the 80/20 inventory
    analysis. The running sum is over exact integer cents with a full
    tiebreak (cents DESC, partkey), so the cumulative totals — and the
    boundary comparisons, which divide identical integers in double —
    are bit-identical on both engines.

    Scale shape: the fact table collapses to ONE row per part before any
    window; the ordered cumulative sum runs over the DIMENSION-sized part
    list (a deliberate, documented single-partition window over ~200k rows
    per TPC-H SF100 — the win_lag_12_global post-aggregation discipline),
    and the grand total rides a 1-row scalar broadcast."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    tot = rev.agg(F.sum("cents").alias("tc"))
    w = (
        Window.orderBy(F.desc("cents"), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rev.select(
        "l_partkey", F.col("cents").cast("bigint").alias("cents"),
        F.sum("cents").over(w).cast("bigint").alias("cum_cents"),
    )
    cum_share = F.col("cum_cents") * 1.0 / F.col("tc")
    return ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey", "cents", "cum_cents",
        F.round(cum_share, 6).alias("cum_share"),
        F.when(cum_share <= 0.80, "A")
        .when(cum_share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


WILSON_Z = 1.96  # 95% Wilson score interval

# log10(1 + 1/d) for d = 1..9, inlined as literals on BOTH engines so no
# libm log10 ulp difference can leak into the hash (Python repr round-trips
# exactly to the same IEEE double both sides parse).
BENFORD_EXP = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}


@register(
    "ext_return_rate_wilson",
    f"""
    WITH base AS (
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    )
    SELECT priority, n_lines, n_returned,
           {dround('CAST(n_returned AS DOUBLE) / n_lines', 6)} AS p_hat,
           {dround(f'''(CAST(n_returned AS DOUBLE) / n_lines
                        + {WILSON_Z} * {WILSON_Z} / (2 * n_lines)
                        - {WILSON_Z} * sqrt(
                            (CAST(n_returned AS DOUBLE) / n_lines)
                            * (1 - CAST(n_returned AS DOUBLE) / n_lines) / n_lines
                            + {WILSON_Z} * {WILSON_Z} / (4.0 * n_lines * n_lines)))
                       / (1 + {WILSON_Z} * {WILSON_Z} / n_lines)''', 6)} AS ci_lo,
           {dround(f'''(CAST(n_returned AS DOUBLE) / n_lines
                        + {WILSON_Z} * {WILSON_Z} / (2 * n_lines)
                        + {WILSON_Z} * sqrt(
                            (CAST(n_returned AS DOUBLE) / n_lines)
                            * (1 - CAST(n_returned AS DOUBLE) / n_lines) / n_lines
                            + {WILSON_Z} * {WILSON_Z} / (4.0 * n_lines * n_lines)))
                       / (1 + {WILSON_Z} * {WILSON_Z} / n_lines)''', 6)} AS ci_hi
    FROM base
    """,
)
def ext_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate per order priority with a 95% Wilson score interval —
    the small-sample-safe confidence interval (never escapes [0,1],
    unlike the normal approximation) behind rate dashboards and
    guardrail-metric monitors. Every term derives from the two exact
    integers (n, k) per group and the literal z=1.96 through IEEE
    double arithmetic (sqrt is correctly rounded), so both engines
    produce bit-identical intervals before the defensive 6dp round.

    Scale shape: one fact-side join + partial+final hash aggregate onto
    the 5-row priority grid; the interval math is per-group scalar
    arithmetic on the aggregate row."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    base = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint").alias("n_returned"),
        )
    )
    n = F.col("n_lines").cast("double")
    p = F.col("n_returned").cast("double") / n
    z2 = F.lit(WILSON_Z * WILSON_Z)
    center = p + z2 / (2 * n)
    half = F.lit(WILSON_Z) * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    return base.select(
        "priority", "n_lines", "n_returned",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


@register(
    "ext_benford_digits",
    f"""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM digits
    ), obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
    ), expd AS (
        {' UNION ALL '.join(f"SELECT {d} AS digit, CAST({BENFORD_EXP[d]!r} AS DOUBLE) AS exp_share" for d in range(1, 10))}
    )
    SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
           {dround('COALESCE(o.n_obs, 0) * 1.0 / t.n_total', 6)} AS obs_share,
           {dround('e.exp_share', 6)} AS exp_share,
           {dround('''POW(COALESCE(o.n_obs, 0) - t.n_total * e.exp_share, 2)
                      / (t.n_total * e.exp_share)''', 6)} AS chi2_contrib
    FROM expd e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    """,
)
def ext_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed vs
    expected first-significant-digit shares and the per-digit chi-square
    contribution — the classic fraud / synthetic-data smell test. The
    first digit is taken from the DECIMAL STRING of exact integer cents
    (no float log10), and the expected shares are the SAME inlined IEEE
    literals on both engines, so nothing depends on libm; the chi-square
    terms derive from exact integers and those literals only. Per-digit
    contributions are reported instead of a 9-term float total, so no
    summation-order risk exists at all.

    Scale shape: one projection + 9-group hash aggregate; the expected
    table is a 9-row inline relation and the total a 1-row scalar
    broadcast."""
    od = load(spark, sf_dir, "orders")
    digits = od.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
            1, 1,
        ).cast("int").alias("digit")
    )
    tot = digits.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    expd = spark.createDataFrame(
        [(d, BENFORD_EXP[d]) for d in range(1, 10)], "digit int, exp_share double"
    )
    dev = F.col("n_obs") - F.col("n_total") * F.col("exp_share")
    return (
        expd.join(obs, "digit", "left")
        .na.fill({"n_obs": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.round(F.col("n_obs") * 1.0 / F.col("n_total"), 6).alias("obs_share"),
            F.round(F.col("exp_share"), 6).alias("exp_share"),
            F.round(
                dev * dev / (F.col("n_total") * F.col("exp_share")), 6
            ).alias("chi2_contrib"),
        )
    )


ZSCORE_WIN = 7      # trailing days in the rolling baseline
ZSCORE_FLAG = 2.0   # |z| threshold for the anomaly flag


@register(
    "ext_anomaly_rolling_z",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ), roll AS (
        SELECT d, n_events,
               SUM(n_events) OVER w AS win_sum,
               SUM(n_events * n_events) OVER w AS win_sumsq,
               COUNT(n_events) OVER w AS win_n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN {ZSCORE_WIN} PRECEDING
                     AND 1 PRECEDING)
    )
    SELECT d, n_events, CAST(win_n AS BIGINT) AS win_n,
           {dround('win_sum * 1.0 / win_n', 6)} AS win_mean,
           {dround('''sqrt(GREATEST(win_sumsq * 1.0 / win_n
                     - (win_sum * 1.0 / win_n) * (win_sum * 1.0 / win_n), 0))''', 6)}
               AS win_std,
           CASE WHEN win_sumsq * win_n > win_sum * win_sum THEN
               {dround('''(n_events - win_sum * 1.0 / win_n)
                          / sqrt(win_sumsq * 1.0 / win_n
                          - (win_sum * 1.0 / win_n) * (win_sum * 1.0 / win_n))''', 6)}
           END AS z,
           CASE WHEN win_sumsq * win_n > win_sum * win_sum THEN
               ABS((n_events - win_sum * 1.0 / win_n)
                   / sqrt(win_sumsq * 1.0 / win_n
                   - (win_sum * 1.0 / win_n) * (win_sum * 1.0 / win_n)))
               > {ZSCORE_FLAG}
           END AS is_anomaly
    FROM roll WHERE win_n >= {ZSCORE_WIN}
    """,
)
def ext_anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the daily event-count series:
    each day is scored against the TRAILING {ZSCORE_WIN}-day baseline
    (current day excluded, so a spike cannot mask itself), with |z| >
    {ZSCORE_FLAG} flagged — the standard ops-metrics anomaly monitor, and
    the time-series complement of ext_outlier_mad's global robust cut.

    Determinism: the rolling mean/variance derive from exact integer
    sums (SUM, SUM of squares, COUNT over the frame), so every float op
    starts from identical operands; zero-variance frames yield NULL z
    via an exact integer comparison (n*sumsq > sum²), never a divide.

    Scale shape: the fact table collapses to one row per DAY before the
    window; the ordered frame then runs over the calendar-sized series
    (a deliberate, documented single-partition window over ~365 rows/yr
    — the post-aggregation win_lag_12_global discipline). At multi-year
    scale, partition the window by year with a {ZSCORE_WIN}-day overlap
    stitch."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    w = Window.orderBy("d").rowsBetween(-ZSCORE_WIN, -1)
    roll = daily.select(
        "d", "n_events",
        F.sum("n_events").over(w).alias("win_sum"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("win_sumsq"),
        F.count("n_events").over(w).alias("win_n"),
    ).filter(F.col("win_n") >= ZSCORE_WIN)
    mean = F.col("win_sum") * 1.0 / F.col("win_n")
    var = F.col("win_sumsq") * 1.0 / F.col("win_n") - mean * mean
    nonzero = F.col("win_sumsq") * F.col("win_n") > F.col("win_sum") * F.col("win_sum")
    z = (F.col("n_events") - mean) / F.sqrt(var)
    return roll.select(
        "d", "n_events",
        F.col("win_n").cast("bigint").alias("win_n"),
        F.round(mean, 6).alias("win_mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("win_std"),
        F.when(nonzero, F.round(z, 6)).alias("z"),
        F.when(nonzero, F.abs(z) > ZSCORE_FLAG).alias("is_anomaly"),
    )


@register(
    "ext_cohort_ltv",
    f"""
    WITH cents AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), firsts AS (
        SELECT o_custkey, date_trunc('month', MIN(od)) AS cohort_month
        FROM cents GROUP BY 1
    ), joined AS (
        SELECT c.o_custkey, f.cohort_month,
               CAST(datediff('month', f.cohort_month,
                             date_trunc('month', c.od)) AS INTEGER) AS age_m,
               c.cents
        FROM cents c JOIN firsts f USING (o_custkey)
    ), cohort_sizes AS (
        SELECT cohort_month, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM joined GROUP BY 1
    ), by_age AS (
        SELECT cohort_month, age_m, CAST(SUM(cents) AS BIGINT) AS rev_cents
        FROM joined GROUP BY 1, 2
    ), cum AS (
        SELECT cohort_month, age_m, rev_cents,
               CAST(SUM(rev_cents) OVER (
                   PARTITION BY cohort_month ORDER BY age_m
               ) AS BIGINT) AS cum_cents
        FROM by_age
    )
    SELECT CAST(c.cohort_month AS DATE) AS cohort_month, c.age_m,
           s.n_customers, c.rev_cents, c.cum_cents,
           {dround('c.cum_cents * 0.01 / s.n_customers', 6)} AS ltv_per_customer
    FROM cum c JOIN cohort_sizes s USING (cohort_month)
    """,
)
def ext_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers are grouped by first-order
    month, revenue accumulates by months-since-first-order, and each
    (cohort, age) cell reports cumulative LTV per cohort customer — the
    revenue complement of ext_retention_cohorts' activity matrix.

    Determinism: revenue moves in exact integer cents end-to-end; the
    cumulative sum is over exact bigints with a unique (cohort, age)
    ordering; the final per-customer division divides identical integers
    in double on both engines. Month age is integer month arithmetic on
    date_trunc'd months (identical truncation both sides).

    Scale shape: one per-customer MIN aggregate, a customer-keyed equi
    join back to the order fact (AQE-broadcast when the cohort map is
    small; co-partitioned shuffle otherwise), one hash aggregate onto
    the tiny (cohort, age) grid, and a cumulative window PARTITIONED BY
    cohort over at most months-of-history rows per partition."""
    od = load(spark, sf_dir, "orders")
    cents_col = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    cents = od.select(
        "o_custkey", F.to_date("o_orderdate").alias("od"),
        cents_col.alias("cents"),
    )
    # r10: firsts (customer-grain) feeds the join AND the cohort sizes —
    # pinned so the per-customer MIN aggregate runs once; cohort sizes
    # collapse out of firsts directly (every customer appears in `joined`
    # with exactly one cohort, so countDistinct(custkey) per cohort there
    # IS the count of firsts rows per cohort) instead of replaying the
    # fact join (plan audit: orders scanned 4x -> 2: once into firsts,
    # once for the age projection)
    firsts = cents.groupBy("o_custkey").agg(
        F.trunc(F.min("od"), "month").alias("cohort_month")
    ).localCheckpoint(eager=False)
    joined = cents.join(firsts, "o_custkey").select(
        "o_custkey", "cohort_month",
        (
            (F.year(F.trunc("od", "month")) - F.year("cohort_month")) * 12
            + (F.month(F.trunc("od", "month")) - F.month("cohort_month"))
        ).cast("int").alias("age_m"),
        "cents",
    )
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    by_age = joined.groupBy("cohort_month", "age_m").agg(
        F.sum("cents").cast("bigint").alias("rev_cents")
    )
    w = (
        Window.partitionBy("cohort_month").orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = by_age.withColumn(
        "cum_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return cum.join(sizes, "cohort_month").select(
        F.col("cohort_month").cast("date").alias("cohort_month"),
        "age_m", "n_customers", "rev_cents", "cum_cents",
        F.round(F.col("cum_cents") * 0.01 / F.col("n_customers"), 6)
        .alias("ltv_per_customer"),
    )


RECALL_MOD, RECALL_KEEP = 10, 3   # deterministic 30% doc sample for the audit
RECALL_J = 0.5                    # near-dup threshold the audit grades at


def _recall_audit_oracle() -> str:
    """Composed oracle: exact-Jaccard ground truth on the md5-hash sample
    (same shingle construction as the banded pipeline) vs the full
    minhash-banded candidate set restricted to the sample."""
    from .extensions import _minhash_banded_oracle
    from .llm_ops import _md5_32

    samp_pred = f"{_md5_32('CAST(doc_id AS VARCHAR)')} % {RECALL_MOD} < {RECALL_KEEP}"
    banded = _minhash_banded_oracle()
    return f"""
    WITH samp AS (
        SELECT doc_id FROM documents WHERE {samp_pred}
    ), toks AS (
        SELECT d.doc_id, string_split(d.text, ' ') AS l
        FROM documents d JOIN samp USING (doc_id)
    ), ssh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 2),
                                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id
    ), tp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truthj AS (
        SELECT tp.doc_a, tp.doc_b
        FROM tp
        JOIN sizes sa ON sa.doc_id = tp.doc_a
        JOIN sizes sb ON sb.doc_id = tp.doc_b
        WHERE {dround('tp.common * 1.0 / (sa.n_sh + sb.n_sh - tp.common)', 6)}
              >= {RECALL_J}
    ), cand AS (
        SELECT doc_a, doc_b FROM ({banded}) q
        WHERE q.jaccard >= {RECALL_J}
          AND q.doc_a IN (SELECT doc_id FROM samp)
          AND q.doc_b IN (SELECT doc_id FROM samp)
    ), det AS (
        SELECT t.doc_a FROM truthj t
        JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT nt.n_truth, nd.n_detected,
           CAST(nt.n_truth - nd.n_detected AS BIGINT) AS n_missed,
           CASE WHEN nt.n_truth = 0 THEN 1.0
                ELSE {dround('nd.n_detected * 1.0 / nt.n_truth', 6)} END AS recall
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truthj) nt
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_detected FROM det) nd
    """


@register("ext_dedup_recall_audit", _recall_audit_oracle())
def ext_dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine recall audit of the MinHash-LSH dedup path: exact-Jaccard
    ground truth (J >= {RECALL_J}, same 3-gram shingles as the banding
    pipeline) is computed on a DETERMINISTIC md5-hash {RECALL_KEEP}0% doc
    sample, and the full-corpus banded candidate set is graded against it.
    The report answers "what fraction of true near-dups does the banding
    S-curve actually surface?" — the audit you run before trusting a dedup
    pass at corpus scale.

    Scale discipline: the UNCAPPED exact shingle self-join — the quadratic
    primitive — runs ONLY inside the hash sample, so its cost is bounded by
    the sample fraction squared and tunable independently of corpus size
    (this is how recall is audited at 100 TB: sample, verify exactly,
    extrapolate). The candidate side reuses the production banded-LSH plan
    (band equi-joins, no all-pairs) and is merely filtered to the sample.

    Cites reference test strategy (SURVEY §5): the reference trusts its
    dedup models blindly; this key makes the error rate measurable."""
    docs = load(spark, sf_dir, "documents")
    samp_ids = docs.select("doc_id").filter(
        _spark_md5_32(F.col("doc_id").cast("string")) % RECALL_MOD < RECALL_KEEP
    )
    sample = docs.join(F.broadcast(samp_ids), "doc_id", "left_semi")
    # sample-confined exact ground truth (ext/dedup.py:exact_common_pairs —
    # in-row shingle dedup, hash-keyed joins, strings never shuffled)
    truth = (
        ded.exact_common_pairs(sample, "doc_id", "text", n=3)
        .filter(
            F.round(
                F.col("common") * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("common")),
                6,
            )
            >= RECALL_J
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # 2 consumers: detected join + truth count
    )
    # banding candidacy is PAIRWISE (per-doc signatures, shared band
    # buckets), so banding the sample directly equals banding the corpus
    # and filtering both endpoints to the sample — same audit, without
    # the full-corpus signature build
    cand = (
        ded.minhash_banded_pairs(
            sample, "doc_id", "text", n=3, num_perm=16, bands=4
        )
        .filter(F.col("jaccard") >= RECALL_J)
        .select("doc_a", "doc_b")
    )
    det = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nd = det.agg(F.count(F.lit(1)).cast("bigint").alias("n_detected"))
    return nt.crossJoin(nd).select(
        "n_truth", "n_detected",
        (F.col("n_truth") - F.col("n_detected")).cast("bigint").alias("n_missed"),
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("n_detected") * 1.0 / F.col("n_truth"), 6))
        .alias("recall"),
    )


SKEW_TOP = 10  # heaviest keys reported per column


@register(
    "ext_partition_skew_report",
    f"""
    WITH stats AS (
        SELECT 'events.user_id' AS key_col,
               CAST(user_id AS VARCHAR) AS key_val,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR),
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR),
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem GROUP BY 2
    ), agg AS (
        SELECT key_col, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               CAST(MAX(n_rows) AS BIGINT) AS max_rows
        FROM stats GROUP BY 1
    ), ranked AS (
        SELECT key_col, key_val, n_rows,
               ROW_NUMBER() OVER (
                   PARTITION BY key_col ORDER BY n_rows DESC, key_val
               ) AS rk
        FROM stats
    )
    SELECT r.key_col, r.rk, r.key_val, r.n_rows, a.n_keys, a.total_rows,
           {dround('r.n_rows * 1.0 * a.n_keys / a.total_rows', 6)} AS skew_factor,
           {dround('a.max_rows * 1.0 * a.n_keys / a.total_rows', 6)} AS col_max_skew
    FROM ranked r JOIN agg a USING (key_col)
    WHERE r.rk <= {SKEW_TOP}
    """,
)
def ext_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: for each shuffle-key column of interest,
    the {SKEW_TOP} heaviest key values with their skew factor (rows for
    the key ÷ mean rows per key) and the column-level max skew — the
    report read BEFORE choosing between a plain shuffle join, AQE skew
    splitting, or an explicit salted join (`join_salted_skew` is the
    remedy this report prescribes).

    Determinism: counts are exact integers; the skew factor divides and
    multiplies the same integers in double on both engines; ranking ties
    break on the key string.

    Scale shape: one partial+final hash aggregate PER key column (the
    map-side combine collapses each partition to its distinct keys), a
    3-row column-stats broadcast, and a top-{SKEW_TOP} window over
    per-column aggregates — at warehouse scale the per-key aggregate IS
    the shuffle you are diagnosing, run once and cached as key stats."""
    ev = load(spark, sf_dir, "events")
    li = load(spark, sf_dir, "lineitem")

    def keyed(df: DataFrame, label: str, col: str) -> DataFrame:
        return df.groupBy(F.col(col).cast("string").alias("key_val")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows")
        ).select(F.lit(label).alias("key_col"), "key_val", "n_rows")

    stats = (
        keyed(ev, "events.user_id", "user_id")
        .unionByName(keyed(li, "lineitem.l_orderkey", "l_orderkey"))
        .unionByName(keyed(li, "lineitem.l_partkey", "l_partkey"))
    ).localCheckpoint(eager=False)  # 2 consumers: column stats + top-k ranking
    agg = stats.groupBy("key_col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
    )
    # two-level top-k: a (key_col, hash-bucket)-partitioned local top-K
    # prunes the key-stats table to <= 64*K rows per column before the
    # per-column ranking window ever runs — no column-wide hot partition.
    bucketed = stats.withColumn(
        "b", F.pmod(F.xxhash64("key_val"), F.lit(64))
    )
    w_local = Window.partitionBy("key_col", "b").orderBy(
        F.desc("n_rows"), F.col("key_val")
    )
    pruned = (
        bucketed.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= SKEW_TOP)
        .drop("b", "lrk")
    )
    w = Window.partitionBy("key_col").orderBy(F.desc("n_rows"), F.col("key_val"))
    ranked = pruned.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= SKEW_TOP
    )
    return ranked.join(F.broadcast(agg), "key_col").select(
        "key_col", "rk", "key_val", "n_rows", "n_keys", "total_rows",
        F.round(F.col("n_rows") * 1.0 * F.col("n_keys") / F.col("total_rows"), 6)
        .alias("skew_factor"),
        F.round(F.col("max_rows") * 1.0 * F.col("n_keys") / F.col("total_rows"), 6)
        .alias("col_max_skew"),
    )


# Theoretical banding detect probability 1-(1-J^4)^4 at each decile
# midpoint, precomputed in Python and inlined as IDENTICAL IEEE literals on
# both engines (the Benford discipline — zero libm/pow dependence).
SCURVE_THEORY = {
    0: 2.4999765625866033e-05, 1: 0.002023462784544794,
    2: 0.015533685451373458, 3: 0.05868734093822947,
    4: 0.1542089073754258, 5: 0.3187793950037199,
    6: 0.544574803350227, 7: 0.7816303221043199,
    8: 0.9477977920742496, 9: 0.9988160942644072,
}


def _scurve_oracle() -> str:
    """Composed oracle: sampled exact-Jaccard pairs bucketed by decile vs
    banded-candidate membership, with the theoretical curve inlined."""
    from .extensions import _minhash_banded_oracle
    from .llm_ops import _md5_32

    samp_pred = f"{_md5_32('CAST(doc_id AS VARCHAR)')} % {RECALL_MOD} < {RECALL_KEEP}"
    banded = _minhash_banded_oracle()
    theory = " UNION ALL ".join(
        f"SELECT {d} AS decile, CAST({SCURVE_THEORY[d]!r} AS DOUBLE) AS p_theory"
        for d in range(10)
    )
    return f"""
    WITH samp AS (
        SELECT doc_id FROM documents WHERE {samp_pred}
    ), toks AS (
        SELECT d.doc_id, string_split(d.text, ' ') AS l
        FROM documents d JOIN samp USING (doc_id)
    ), ssh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 2),
                                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id
    ), tp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT tp.doc_a, tp.doc_b,
               CAST(FLOOR({dround('tp.common * 1.0 / (sa.n_sh + sb.n_sh - tp.common)', 6)} * 10)
                    AS INTEGER) AS decile
        FROM tp
        JOIN sizes sa ON sa.doc_id = tp.doc_a
        JOIN sizes sb ON sb.doc_id = tp.doc_b
    ), cand AS (
        SELECT doc_a, doc_b FROM ({banded}) q
        WHERE q.doc_a IN (SELECT doc_id FROM samp)
          AND q.doc_b IN (SELECT doc_id FROM samp)
    ), marked AS (
        SELECT t.decile,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
        FROM truth t
        LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ), obs AS (
        SELECT LEAST(decile, 9) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(hit) AS BIGINT) AS n_detected
        FROM marked GROUP BY 1
    )
    SELECT th.decile, COALESCE(o.n_pairs, 0) AS n_pairs,
           COALESCE(o.n_detected, 0) AS n_detected,
           CASE WHEN COALESCE(o.n_pairs, 0) = 0 THEN NULL
                ELSE {dround('o.n_detected * 1.0 / o.n_pairs', 6)} END AS p_observed,
           {dround('th.p_theory', 6)} AS p_theory
    FROM ({theory}) th LEFT JOIN obs o USING (decile)
    """


@register("ext_dedup_scurve", _scurve_oracle())
def ext_dedup_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical banding S-curve: within the deterministic hash sample,
    every pair sharing a shingle is bucketed by its exact Jaccard decile
    and the fraction surfaced by the production MinHash banding is
    reported next to the theoretical detect probability 1-(1-J^4)^4 at
    the decile midpoint — the calibration chart that tells you where the
    dedup threshold actually sits before you trust it on a corpus.

    The theoretical curve is precomputed in Python and inlined as
    IDENTICAL IEEE literals on both engines (no pow/libm in either
    plan); observed rates divide exact integers. Sampling confines the
    quadratic exact stage exactly as in ext_dedup_recall_audit.

    Scale shape: sample-confined shingle self-join for truth; the
    candidate side reuses the banded plan filtered to the sample; final
    aggregate is a 10-row decile grid left-joined to a 10-row inline
    theory relation."""
    docs = load(spark, sf_dir, "documents")
    samp_ids = docs.select("doc_id").filter(
        _spark_md5_32(F.col("doc_id").cast("string")) % RECALL_MOD < RECALL_KEEP
    )
    sample = docs.join(F.broadcast(samp_ids), "doc_id", "left_semi")
    # sample-confined exact ground truth (ext/dedup.py:exact_common_pairs —
    # in-row shingle dedup, hash-keyed joins, strings never shuffled)
    truth = ded.exact_common_pairs(sample, "doc_id", "text", n=3).select(
        "doc_a", "doc_b",
        F.floor(
            F.round(
                F.col("common") * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("common")),
                6,
            )
            * 10
        ).cast("int").alias("decile"),
    )
    # banding candidacy is PAIRWISE (per-doc signatures, shared band
    # buckets), so banding the sample directly equals banding the corpus
    # and filtering both endpoints to the sample — the full-corpus
    # signature build the pre-r7 shape paid never runs
    cand = ded.minhash_banded_pairs(
        sample, "doc_id", "text", n=3, num_perm=16, bands=4
    ).select("doc_a", "doc_b", F.lit(1).alias("hit_"))
    marked = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        F.least(F.col("decile"), F.lit(9)).alias("decile"),
        F.coalesce("hit_", F.lit(0)).alias("hit"),
    )
    obs = marked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("hit").cast("bigint").alias("n_detected"),
    )
    theory = spark.createDataFrame(
        [(d, SCURVE_THEORY[d]) for d in range(10)], "decile int, p_theory double"
    )
    return (
        theory.join(obs, "decile", "left")
        .na.fill({"n_pairs": 0, "n_detected": 0})
        .select(
            "decile",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_detected").cast("bigint").alias("n_detected"),
            F.when(
                F.col("n_pairs") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.round(F.col("n_detected") * 1.0 / F.col("n_pairs"), 6)
            ).alias("p_observed"),
            F.round(F.col("p_theory"), 6).alias("p_theory"),
        )
    )


AU_WIN = 7  # trailing window (days) for the rolling active-user count


@register(
    "ext_active_users_rolling",
    f"""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), bounds AS (
        SELECT MIN(d) AS d_min, MAX(d) AS d_max FROM ud
    ), contrib AS (
        SELECT DISTINCT ud.user_id, unnest(generate_series(ud.d, ud.d + {AU_WIN - 1},
                                           INTERVAL 1 DAY)) AS wd
        FROM ud
    ), wau AS (
        SELECT CAST(wd AS DATE) AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM contrib GROUP BY 1
    ), dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
    )
    SELECT w.d, COALESCE(a.dau, 0) AS dau, w.wau,
           {dround('COALESCE(a.dau, 0) * 1.0 / w.wau', 6)} AS stickiness
    FROM wau w
    LEFT JOIN dau a ON a.d = w.d
    CROSS JOIN bounds b
    WHERE w.d >= b.d_min + {AU_WIN - 1} AND w.d <= b.d_max
    """,
)
def ext_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active users: exact DAU and trailing-{AU_WIN}-day WAU per
    day, plus the DAU/WAU stickiness ratio — the product-analytics
    headline metric. Exact rolling COUNT DISTINCT does not decompose
    over a window frame, so the engine uses the scatter trick: each
    (user, active-day) row is stamped into the {AU_WIN} window-end days
    it contributes to, and the count-distinct becomes a plain per-day
    aggregate — a constant {AU_WIN}x row expansion instead of a
    window-over-distinct that Spark cannot express at all.

    Days without a full trailing window are cut via exact date bounds
    (1-row broadcast); stickiness divides exact integers.

    Scale shape: distinct (user, day) collapses the fact first; the
    explode multiplies that by {AU_WIN} (bounded, predictable); one
    distinct-aggregate per day. At warehouse scale this beats an
    approx-HLL-merge when exactness is required, and the HLL path
    (`ext_approx_distinct`) remains the cheap alternative."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct() \
        .localCheckpoint(eager=False)  # 3 consumers: bounds, contrib, dau
    bounds = ud.agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), AU_WIN - 1)))
        .alias("wd"),
    ).distinct()
    wau = contrib.groupBy(F.col("wd").alias("d")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return (
        wau.join(dau, "d", "left")
        .na.fill({"dau": 0})
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("d") >= F.date_add(F.col("d_min"), AU_WIN - 1))
            & (F.col("d") <= F.col("d_max"))
        )
        .select(
            "d", F.col("dau").cast("bigint").alias("dau"), "wau",
            F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness"),
        )
    )


@register(
    "ext_revenue_waterfall",
    """
    WITH cm AS (
        SELECT o_custkey, date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ), moves AS (
        SELECT COALESCE(cur.m, prev.m + INTERVAL 1 MONTH) AS m,
               COALESCE(cur.cents, 0) AS cur_c,
               COALESCE(prev.cents, 0) AS prev_c
        FROM cm cur
        FULL OUTER JOIN cm prev
          ON prev.o_custkey = cur.o_custkey
         AND prev.m + INTERVAL 1 MONTH = cur.m
    )
    SELECT CAST(m AS DATE) AS month,
           CAST(SUM(CASE WHEN prev_c = 0 THEN cur_c ELSE 0 END) AS BIGINT)
               AS new_cents,
           CAST(SUM(CASE WHEN prev_c > 0 AND cur_c > prev_c
                         THEN cur_c - prev_c ELSE 0 END) AS BIGINT)
               AS expansion_cents,
           CAST(SUM(CASE WHEN cur_c > 0 AND cur_c < prev_c
                         THEN prev_c - cur_c ELSE 0 END) AS BIGINT)
               AS contraction_cents,
           CAST(SUM(CASE WHEN cur_c = 0 THEN prev_c ELSE 0 END) AS BIGINT)
               AS churned_cents,
           CAST(SUM(cur_c) AS BIGINT) AS revenue_cents,
           CAST(SUM(cur_c) - SUM(prev_c) AS BIGINT) AS net_change_cents
    FROM moves GROUP BY 1
    """,
)
def ext_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth accounting: each month's revenue
    change decomposes into new, expansion, contraction and churned
    components by comparing every customer's revenue against their prior
    month (absent = 0) — the SaaS revenue-waterfall report, and the
    decomposition that explains WHY ext_cohort_ltv's curves bend. The
    identity revenue = prev + new + expansion - contraction - churned
    holds exactly because everything is integer cents.

    Scale shape: the fact collapses to one row per (customer, month)
    first; the self-join is a co-partitioned equi-join on
    (customer, month+1) — both sides share the (customer, month) shuffle
    — and the final aggregate lands on the months grid."""
    od = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    cm = od.groupBy(
        "o_custkey", F.trunc(F.to_date("o_orderdate"), "month").alias("m")
    ).agg(F.sum(cents).alias("cents")).localCheckpoint(eager=False)  # 2 join sides
    cur = cm.select("o_custkey", "m", F.col("cents").alias("cur_c"))
    prev = cm.select(
        "o_custkey", F.add_months("m", 1).alias("m"), F.col("cents").alias("prev_c")
    )
    moves = (
        cur.join(prev, ["o_custkey", "m"], "full_outer")
        .select(
            "m",
            F.coalesce("cur_c", F.lit(0)).alias("cur_c"),
            F.coalesce("prev_c", F.lit(0)).alias("prev_c"),
        )
    )
    zero = F.lit(0)
    return moves.groupBy(F.col("m").cast("date").alias("month")).agg(
        F.sum(F.when(F.col("prev_c") == 0, F.col("cur_c")).otherwise(zero))
        .cast("bigint").alias("new_cents"),
        F.sum(
            F.when(
                (F.col("prev_c") > 0) & (F.col("cur_c") > F.col("prev_c")),
                F.col("cur_c") - F.col("prev_c"),
            ).otherwise(zero)
        ).cast("bigint").alias("expansion_cents"),
        F.sum(
            F.when(
                (F.col("cur_c") > 0) & (F.col("cur_c") < F.col("prev_c")),
                F.col("prev_c") - F.col("cur_c"),
            ).otherwise(zero)
        ).cast("bigint").alias("contraction_cents"),
        F.sum(F.when(F.col("cur_c") == 0, F.col("prev_c")).otherwise(zero))
        .cast("bigint").alias("churned_cents"),
        F.sum("cur_c").cast("bigint").alias("revenue_cents"),
        (F.sum("cur_c") - F.sum("prev_c")).cast("bigint").alias("net_change_cents"),
    )


BOUNCE_GAP_MIN = 30  # session gap, minutes (matches ext_session_window)


@register(
    "ext_session_bounce",
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
    ), per_sess AS (
        SELECT user_id, session_id,
               CAST(MIN(ts) AS DATE) AS start_day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS dur_s
        FROM sess GROUP BY 1, 2
    )
    SELECT start_day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           {dround('SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 6)}
               AS bounce_rate,
           {dround('SUM(n_events) * 1.0 / COUNT(*)', 6)} AS avg_events,
           {dround('SUM(dur_s) * 1.0 / COUNT(*)', 6)} AS avg_duration_s
    FROM per_sess GROUP BY start_day
    """,
)
def ext_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session quality report: {BOUNCE_GAP_MIN}-minute-gap
    sessionization (the batch gaps-and-islands twin of
    ext_session_window), then per start-day session count, bounce rate
    (single-event sessions), mean events per session and mean duration —
    the engagement dashboard row. All ratios divide exact integers
    (event counts and whole seconds), tiebreak on event_id.

    Scale shape: both windows are user-partitioned (the shared per-user
    sequence shuffle — the lag mark and the running session counter ride
    the SAME sort), then two hash aggregates onto (user, session) and the
    days grid. No global window, no join."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
               > BOUNCE_GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0).alias("is_start"),
    )
    w_run = (  # same (ts, event_id) total order as the lag mark — tied
        # timestamps must not reshuffle the running session counter
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_id", F.sum("is_start").over(w_run))
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").cast("date").alias("start_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("ts").cast("long") - F.min("ts").cast("long"))
        .cast("bigint").alias("dur_s"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_sess.groupBy("start_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce * 1.0 / F.count(F.lit(1)), 6).alias("bounce_rate"),
        F.round(F.sum("n_events") * 1.0 / F.count(F.lit(1)), 6).alias("avg_events"),
        F.round(F.sum("dur_s") * 1.0 / F.count(F.lit(1)), 6).alias("avg_duration_s"),
    )


SLA_DAYS = 7  # ship-within SLA threshold (days)


@register(
    "ext_ship_lag_sla",
    f"""
    WITH lags AS (
        SELECT o.o_orderpriority AS priority,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dround('quantile_cont(lag_days, 0.5)', 4)} AS p50_days,
           {dround('quantile_cont(lag_days, 0.9)', 4)} AS p90_days,
           {dround('quantile_cont(lag_days, 0.99)', 4)} AS p99_days,
           CAST(SUM(CASE WHEN lag_days <= {SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_sla,
           {dround(f'SUM(CASE WHEN lag_days <= {SLA_DAYS} THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 6)}
               AS sla_rate
    FROM lags GROUP BY priority
    """,
)
def ext_ship_lag_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment-latency SLA report: order-to-ship lag percentiles
    (p50/p90/p99, exact interpolated — Spark `percentile` == DuckDB
    quantile_cont, the agg_percentile contract) and the fraction of lines
    shipped within the {SLA_DAYS}-day SLA, per order priority — the
    latency-dashboard shape (the same report every service-latency
    pipeline runs over request logs). Lags are integer days; the SLA rate
    divides exact integers.

    Scale shape: one fact-side equi-join + per-priority aggregate; exact
    percentiles imply a per-group sort — at 100 TB swap to
    approx_percentile (documented tradeoff, exact here for the oracle)."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    lags = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("bigint").alias("lag_days"),
        )
    )
    within = F.sum(F.when(F.col("lag_days") <= SLA_DAYS, 1).otherwise(0))
    return lags.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.percentile("lag_days", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("lag_days", F.lit(0.9)), 4).alias("p90_days"),
        F.round(F.percentile("lag_days", F.lit(0.99)), 4).alias("p99_days"),
        within.cast("bigint").alias("n_within_sla"),
        F.round(within * 1.0 / F.count(F.lit(1)), 6).alias("sla_rate"),
    )


# XYZ class thresholds on the coefficient of variation: X if CV < 0.5,
# Y if CV < 1.0, else Z. Compared in EXACT integer cross-multiplication:
# CV^2 = n*(n*Sxx - Sx^2) / ((n-1)*Sx^2), so CV < t  <=>
# 4*n*(n*Sxx - Sx^2) < (n-1)*Sx^2 * (4*t^2), with 4*t^2 integer for both
# thresholds (1 and 4) — no float ever decides a class letter.


@register(
    "ext_demand_xyz",
    f"""
    WITH monthly AS (
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
    )
    SELECT l_partkey, n_months, sx AS total_qty,
           CASE WHEN n_months < 2 OR sx = 0 THEN NULL
                ELSE {dround('''n_months * 1.0
                               * CAST(CAST(n_months AS HUGEINT) * sxx
                                      - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                               / ((n_months - 1.0) * sx * sx)''', 6)} END AS cv_squared,
           CASE WHEN n_months < 2 OR sx = 0 THEN 'Z'
                WHEN 4 * CAST(n_months AS HUGEINT)
                     * (CAST(n_months AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                     < CAST(n_months - 1 AS HUGEINT) * sx * sx THEN 'X'
                WHEN CAST(n_months AS HUGEINT)
                     * (CAST(n_months AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                     < CAST(n_months - 1 AS HUGEINT) * sx * sx THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM stats
    """,
)
def ext_demand_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification per part: the coefficient of
    variation of the monthly demand series buckets each part into X
    (steady, CV<0.5), Y (variable, CV<1) or Z (erratic / too little
    history) — the inventory-planning complement of ext_part_pareto's ABC
    revenue classes (ABC x XYZ is the standard stocking-policy matrix).

    The class letter is decided by EXACT integer cross-multiplication
    (CV<t compared as 4t² n (n·Σx² − (Σx)²) < 4t² … all from integer
    month sums, widened to 128-bit/DECIMAL so the squares cannot wrap) —
    no float threshold can flip a letter between engines; the reported
    cv_squared is a 6dp-rounded double derived from the same integers.

    Scale shape: fact join + (part, month) aggregate, then a part-keyed
    aggregate onto three exact integer moments — two shuffles total, no
    window, no sort."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    monthly = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(
            "l_partkey",
            F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        )
        .agg(F.sum(F.round("l_quantity", 0).cast("bigint")).alias("qty"))
    )
    stats = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum("qty").cast("bigint").alias("sx"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("sxx"),
    )
    n = F.col("n_months")
    sx = F.col("sx")
    dec = lambda c: c.cast("decimal(38,0)")  # widen BEFORE multiplying —
    # Sx^2 alone can pass 2^63 at warehouse scale; every product below
    # runs in decimal(38) on the Spark side and HUGEINT in the oracle
    num = dec(n) * dec(F.col("sxx")) - dec(sx) * dec(sx)  # n*Sxx - Sx^2 (>=0)
    degenerate = (n < 2) | (sx == 0)
    return stats.select(
        "l_partkey", "n_months", sx.alias("total_qty"),
        F.when(degenerate, F.lit(None).cast("double")).otherwise(
            F.round(
                n * F.lit(1.0) * num.cast("double")
                / ((n - F.lit(1.0)) * sx.cast("double") * sx.cast("double")),
                6,
            )
        ).alias("cv_squared"),
        F.when(degenerate, "Z")
        .when(F.lit(4) * dec(n) * num < dec(n - 1) * dec(sx) * dec(sx), "X")
        .when(dec(n) * num < dec(n - 1) * dec(sx) * dec(sx), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )


@register(
    "ext_skyline_parts",
    f"""
    WITH demand AS (
        SELECT l_partkey, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS total_qty
        FROM lineitem GROUP BY 1
    ), pts AS (
        SELECT p.p_partkey, CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
                   AS price_cents, d.total_qty
        FROM part p JOIN demand d ON d.l_partkey = p.p_partkey
    ), scanned AS (
        SELECT p_partkey, price_cents, total_qty,
               MAX(total_qty) OVER (
                   ORDER BY price_cents, p_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_cheaper_qty
        FROM pts
    )
    SELECT p_partkey, price_cents, total_qty
    FROM scanned
    WHERE best_cheaper_qty IS NULL OR total_qty > best_cheaper_qty
    """,
)
def ext_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: the parts not dominated on the
    (cheaper price, higher demand) objective pair — no other part is both
    at-most-as-expensive AND strictly more demanded. The classic
    multi-objective operator (Borzsony/Kossmann/Stocker's skyline, BNL
    family) expressed relationally: after sorting by exact-cents price
    with a part-key tiebreak, a point survives iff its demand beats the
    running max over everything at/above it in price order.

    All comparisons are exact integers (cents, unit counts); the
    at-most-as-expensive semantics follow from the (price, partkey)
    total order — an equal-price, lower-key part counts as "cheaper",
    a deterministic and documented tie rule shared by both engines.

    Scale shape: the fact collapses to one demand row per part first;
    the ordered running-max window then runs over the DIMENSION-sized
    part list (the ext_part_pareto discipline). For multi-dimensional
    skylines at larger widths the standard move is grid-partitioned
    pre-filtering before the ordered scan."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    demand = li.groupBy("l_partkey").agg(
        F.sum(F.round("l_quantity", 0).cast("bigint")).cast("bigint")
        .alias("total_qty")
    )
    pts = pt.join(demand, pt.p_partkey == demand.l_partkey).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
        .alias("price_cents"),
        "total_qty",
    )
    w = (
        Window.orderBy("price_cents", "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = pts.withColumn("best_cheaper_qty", F.max("total_qty").over(w))
    return scanned.filter(
        F.col("best_cheaper_qty").isNull()
        | (F.col("total_qty") > F.col("best_cheaper_qty"))
    ).select("p_partkey", "price_cents", "total_qty")


@register(
    "ext_activity_heatmap",
    f"""
    WITH cells AS (
        SELECT CAST(EXTRACT(dow FROM ts) AS INTEGER) AS dow,
               CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM cells
    )
    SELECT c.dow, c.hod, c.n_events, c.n_users,
           {dround('c.n_events * 1.0 / t.total', 6)} AS share
    FROM cells c CROSS JOIN tot t
    """,
)
def ext_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap: exact event and
    distinct-user counts per (weekday, hour) cell plus each cell's share
    of total traffic — the capacity-planning / engagement-rhythm report.
    Day-of-week uses Sunday=0 numbering on both engines (DuckDB
    EXTRACT(dow), Spark dayofweek-1). Timestamps are UTC on both sides
    (the session pins spark.sql.session.timeZone=UTC), so bucketing is
    identical; shares divide exact integers.

    Scale shape: one partial+final aggregate onto a fixed 168-cell grid
    (the distinct-user count shuffles (cell, user) pairs, bounded by
    users x 168); the total rides a 1-row scalar broadcast."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    ).localCheckpoint(eager=False)  # 2 consumers: grid + total
    tot = cells.agg(F.sum("n_events").cast("bigint").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow", "hod", "n_events", "n_users",
        F.round(F.col("n_events") * 1.0 / F.col("total"), 6).alias("share"),
    )


@register(
    "ext_reorder_rate",
    """
    WITH firsts AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_od
        FROM orders GROUP BY 1
    ), marked AS (
        SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS m,
               CASE WHEN CAST(o.o_orderdate AS DATE) > f.first_od
                    THEN 1 ELSE 0 END AS is_repeat
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    )
    SELECT CAST(m AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(is_repeat) AS BIGINT) AS n_repeat,
           CAST(CAST(SUM(is_repeat) AS VARCHAR) || '/' || CAST(COUNT(*) AS VARCHAR)
                AS VARCHAR) AS repeat_ratio_exact,
           CAST(FLOOR(SUM(is_repeat) * 10000.0 / COUNT(*)) AS BIGINT) AS repeat_bps
    FROM marked GROUP BY 1
    """,
)
def ext_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-order rate per month: orders placed after the customer's
    first order date count as repeats; reported as an exact integer
    fraction string and integer basis points (floor division of exact
    integers — no float anywhere in this key at all). The
    acquisition-vs-retention mix report that frames ext_revenue_waterfall.

    Same-day tie rule (documented): every order on the customer's first
    order DAY counts as first-time — order of orders within a day is not
    defined in the data, so the date-level rule is the only deterministic
    one.

    Scale shape: per-customer MIN aggregate, customer-keyed equi-join
    back (AQE-broadcast when small), months-grid aggregate."""
    od = load(spark, sf_dir, "orders")
    firsts = od.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_od")
    )
    marked = od.join(firsts, "o_custkey").select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        F.when(F.to_date("o_orderdate") > F.col("first_od"), 1)
        .otherwise(0).alias("is_repeat"),
    )
    n = F.count(F.lit(1))
    rep = F.sum("is_repeat")
    return marked.groupBy(F.col("m").cast("date").alias("month")).agg(
        n.cast("bigint").alias("n_orders"),
        rep.cast("bigint").alias("n_repeat"),
        F.concat(
            rep.cast("bigint").cast("string"), F.lit("/"),
            n.cast("bigint").cast("string"),
        ).alias("repeat_ratio_exact"),
        F.floor(rep * 10000 / n).cast("bigint").alias("repeat_bps"),
    )


@register(
    "ext_text_ttr",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS l FROM documents
    ), stats AS (
        SELECT doc_id,
               CAST(len(l) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(l)) AS BIGINT) AS n_types
        FROM toks WHERE len(l) > 0
    )
    SELECT doc_id, n_tokens, n_types,
           {dround('n_types * 1.0 / n_tokens', 6)} AS ttr,
           CASE WHEN 10 * n_types < 4 * n_tokens THEN 'low'
                WHEN 10 * n_types < 7 * n_tokens THEN 'mid'
                ELSE 'high' END AS diversity_band
    FROM stats
    """,
)
def ext_text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document: distinct tokens over total tokens —
    the lexical-diversity signal (low TTR = repetitive/template text)
    complementing ext_text_repetition's line-level and
    ext_text_gopher_rules' character-level cuts. Banding thresholds
    (0.4 / 0.7) compare as exact integer cross-multiplications
    (10*types < 4*tokens), so no float decides a band; the reported TTR
    divides the same integers in double, 6dp-rounded.

    Scale shape: pure per-row map (tokenize + distinct inside the row) —
    ZERO shuffles, whole-stage codegen end to end."""
    docs = load(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    stats = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
    ).filter(F.col("n_tokens") > 0)
    return stats.select(
        "doc_id", "n_tokens", "n_types",
        F.round(F.col("n_types") * 1.0 / F.col("n_tokens"), 6).alias("ttr"),
        F.when(10 * F.col("n_types") < 4 * F.col("n_tokens"), "low")
        .when(10 * F.col("n_types") < 7 * F.col("n_tokens"), "mid")
        .otherwise("high")
        .alias("diversity_band"),
    )


@register(
    "ext_spend_gini",
    f"""
    WITH spend AS (
        SELECT c.c_nationkey AS nationkey, o.o_custkey,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT nationkey, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY nationkey ORDER BY cents, o_custkey
               ) AS rk
        FROM spend
    ), sums AS (
        SELECT nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS HUGEINT) AS total_cents,
               SUM(CAST(rk AS HUGEINT) * cents) AS weighted
        FROM ranked GROUP BY 1
    )
    SELECT n.n_name AS nation, s.n_customers,
           CAST(s.total_cents AS BIGINT) AS total_cents,
           {dround('''(2.0 * CAST(s.weighted AS DOUBLE)
                       / (CAST(s.n_customers AS DOUBLE) * CAST(s.total_cents AS DOUBLE)))
                      - (CAST(s.n_customers AS DOUBLE) + 1.0) / CAST(s.n_customers AS DOUBLE)''', 6)}
               AS gini
    FROM sums s JOIN nation n ON n.n_nationkey = s.nationkey
    """,
)
def ext_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend inequality per nation: the Gini coefficient of
    per-customer order totals via the rank-weighted closed form
    G = 2·Σ(i·x_(i))/(n·Σx) − (n+1)/n — the whale-concentration metric
    behind revenue-risk dashboards (ext_label_balance applies the same
    idea to k label shares; this key measures it over the full customer
    distribution). Spend is exact cents; the rank-weighted sum
    accumulates in 128-bit integers (rank × cents passes 2^63 at
    warehouse scale) so both engines divide identical exact operands.

    Scale shape: fact collapses to (nation, customer) first; the ranking
    window partitions by nation over customer-dimension rows (the
    ext_part_pareto discipline); one aggregate onto the 25-nation grid."""
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    spend = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("nationkey").orderBy("cents", "o_custkey")
    ranked = spend.withColumn("rk", F.row_number().over(w))
    dec = lambda c: c.cast("decimal(38,0)")
    sums = ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("decimal(38,0)").alias("total_cents"),
        F.sum(dec(F.col("rk")) * F.col("cents")).alias("weighted"),
    )
    nat = load(spark, sf_dir, "nation")
    n_d = F.col("n_customers").cast("double")
    return sums.join(nat, F.col("nationkey") == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), "n_customers",
        F.col("total_cents").cast("bigint").alias("total_cents"),
        F.round(
            2.0 * F.col("weighted").cast("double")
            / (n_d * F.col("total_cents").cast("double"))
            - (n_d + 1.0) / n_d,
            6,
        ).alias("gini"),
    )


@register(
    "ext_peak_concurrency",
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
        SELECT user_id, session_id, MIN(ts) AS s_ts, MAX(ts) AS e_ts
        FROM sess GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, session_id, s_ts AS ts, 1 AS delta FROM spans
        UNION ALL
        SELECT user_id, session_id, e_ts AS ts, -1 AS delta FROM spans
    ), run AS (
        SELECT ts, delta,
               SUM(delta) OVER (
                   ORDER BY ts, delta DESC, user_id, session_id
                   ROWS UNBOUNDED PRECEDING
               ) AS concurrent
        FROM bounds
    )
    SELECT CAST(ts AS DATE) AS d,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions_started
    FROM run GROUP BY 1
    """,
)
def ext_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the sweep line: every
    {BOUNCE_GAP_MIN}-min-gap session contributes a +1 at its first event
    and a -1 at its last; the running sum over the globally ordered
    boundary stream is the live concurrency, and each day reports its
    maximum — the capacity-sizing number behind ext_activity_heatmap's
    rhythm view. Tie rule (documented, both engines): at an equal
    timestamp the ordering (ts, delta DESC, user, session) admits
    starts BEFORE retiring ends. Session spans are closed intervals
    (MIN ts..MAX ts), so a single-event session is a point interval —
    starts-first means its +1 lands before its own -1 and the session
    occupies its instant (peak >= 1 on any day with a session start).
    Consequence: two sessions handing off at the same instant count
    as 2 concurrent at that instant, matching closed-interval overlap
    semantics.

    Scale shape: the GLOBAL running sum uses the ext_text_pack two-level
    scan — date-partitioned local cumsums, a days-sized ordered offset
    scan over per-day delta subtotals (so midnight-crossing state carries
    over exactly), and a broadcast join back. No corpus-wide
    single-partition window; the plan test asserts the corpus-side sum
    windows are date-partitioned."""
    ev = load(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w_lag)
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
               > BOUNCE_GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0).alias("is_start"),
    )
    w_run = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_id", F.sum("is_start").over(w_run))
    # r10: pin the session spans (feed both union branches of the boundary
    # stream) and the boundary stream itself (feeds the local cumsum AND the
    # per-day subtotals) — unpinned, each consumer replayed the full events
    # scan + sessionization windows (plan audit: 4 events scans -> 1)
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts")
    ).localCheckpoint(eager=False)
    bounds = (
        spans.select("user_id", "session_id", F.col("s_ts").alias("ts"),
                     F.lit(1).alias("delta"))
        .unionByName(
            spans.select("user_id", "session_id", F.col("e_ts").alias("ts"),
                         F.lit(-1).alias("delta"))
        )
        .withColumn("d", F.to_date("ts"))
        .localCheckpoint(eager=False)
    )
    w_local = (
        Window.partitionBy("d")
        .orderBy("ts", F.col("delta").desc(), "user_id", "session_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bounds.withColumn("local_run", F.sum("delta").over(w_local))
    subtot = bounds.groupBy("d").agg(F.sum("delta").alias("day_delta"))
    w_day = (
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = subtot.withColumn(
        "offset", F.coalesce(F.sum("day_delta").over(w_day), F.lit(0))
    ).select("d", "offset")
    run = local.join(F.broadcast(offsets), "d").withColumn(
        "concurrent", F.col("offset") + F.col("local_run")
    )
    return run.groupBy("d").agg(
        F.max("concurrent").cast("bigint").alias("peak_concurrent"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_sessions_started"),
    )
