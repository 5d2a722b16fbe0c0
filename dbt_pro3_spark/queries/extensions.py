"""SURVEY.md §2.K extension queries: JSON, event-time windows, streaming,
dedup family, similarity search, text analysis, multimodal plumbing.

Oracle discipline as everywhere: identical aliases, dround for float
terminals, thresholds applied to ROUNDED values so the cut is reproducible.
Keys without oracles (LSH, streaming, Pandas-UDF stubs) get rows-only checks
by design — the driver records which.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext import dedup as ded
from ..ext import multimodal as mm
from ..ext import similarity as sim
from ..ext import text as tx
from ..sources.readers import load
from ..streaming.watermark import windowed_stream_counts
from ..streaming.windows import session_agg, sliding_agg, tumbling_agg
from . import dround, register

STOPWORDS_SQL = "('the','a','an','and','of','to','in','is','on','for')"

# Per-process token for scratch staging dirs: two concurrent runs against the
# same sf_dir must not race on a shared path (each process stages its own
# copy; dirs are tiny fixture data). Per-process (not per-call) so repeated
# calls within one pytest session reuse one dir instead of accumulating.
import os as _os_mod
import uuid as _uuid_mod

_RUN_TOKEN = _uuid_mod.uuid4().hex[:8]
_SCRATCH_ROOT = _os_mod.path.abspath(
    _os_mod.path.join(_os_mod.path.dirname(__file__), "..", "..", ".scratch")
)
_PRUNED = False


def _scratch(prefix: str, sf_dir: str) -> str:
    # best-effort prune of stale per-run dirs (> 1 day old); once per
    # process. Live runs keep their own dirs young: every _scratch() call
    # re-touches the dir mtime below, so only runs idle for a full day can
    # race the pruner (documented residual window).
    global _PRUNED
    if not _PRUNED:
        _PRUNED = True
        import shutil as _sh
        import time as _time

        cutoff = _time.time() - 86400
        try:
            for d in _os_mod.listdir(_SCRATCH_ROOT):
                p = _os_mod.path.join(_SCRATCH_ROOT, d)
                if _os_mod.path.isdir(p) and _os_mod.path.getmtime(p) < cutoff:
                    _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    path = (
        f"{_SCRATCH_ROOT}/{prefix}_"
        f"{_os_mod.path.basename(sf_dir.rstrip('/'))}_{_RUN_TOKEN}"
    )
    try:
        if _os_mod.path.isdir(path):
            _os_mod.utime(path, None)
    except OSError:
        pass
    return path


# ------------------------------------------------------------ JSON / events

@register(
    "ext_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def ext_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (events.props) via get_json_object — stays in
    codegen; from_json with a schema is the bulk-parse variant
    (src_rescued_data)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "ext_window_tumbling",
    f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           COUNT(*) AS n_events,
           {dround('SUM(value)', 2)} AS total_value
    FROM events GROUP BY 1
    """,
)
def ext_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time windows (F.window in batch mode; same
    expression streams unchanged). Epoch-aligned like DuckDB time_bucket."""
    return tumbling_agg(load(spark, sf_dir, "events"), "ts", "10 minutes")


@register(
    "ext_window_sliding",
    """
    WITH buckets AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' FROM events
    )
    SELECT window_start, COUNT(*) AS n_events FROM buckets GROUP BY window_start
    """,
)
def ext_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding by 5 — each event lands in exactly 2
    windows; the oracle materializes both bucket memberships explicitly."""
    return sliding_agg(load(spark, sf_dir, "events"), "ts", "10 minutes", "5 minutes")


@register(
    "ext_session_window",
    f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           {dround('SUM(value)', 2)} AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def ext_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization (F.session_window). The oracle is the
    classic gaps-and-islands formulation — new session when the gap to the
    previous event is >= the gap (session windows are half-open)."""
    return session_agg(load(spark, sf_dir, "events"), "ts", "30 minutes", "user_id")


@register(
    "ext_watermark_stream",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events),
    agg AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events FROM agg, wm
    WHERE window_start + INTERVAL '10 minutes' <= w
    """,
)
def ext_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream + event-time watermark + tumbling count, availableNow
    trigger, memory sink. Append mode emits exactly the windows whose END
    the final watermark (max event time - 10 min delay) has passed — the
    oracle reproduces that cutoff declaratively, making the
    bounded-state eviction semantics themselves hash-checked."""
    return windowed_stream_counts(spark, f"{sf_dir}/events.parquet")


# ------------------------------------------------------------------- dedup

@register(
    "ext_dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS text_hash,
           MIN(doc_id) AS kept_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on md5 of normalized text — shuffle the 32-byte
    hash, never the document (the 100 TB shape)."""
    return ded.exact_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


@register("ext_dedup_fuzzy")  # rows-only: MinHash banding has no SQL twin
def ext_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (pyspark.ml HashingTF +
    MinHashLSH, seeded). Banding keeps the pair space sub-quadratic."""
    return ded.minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def _minhash_banded_oracle(
    num_perm: int = 16,
    bands: int = 4,
    toks_sql: str = "SELECT doc_id, string_split(text, ' ') AS l FROM documents",
    pair_pred: str = "a.doc_id < b.doc_id",
) -> str:
    """DuckDB twin of ded.minhash_banded_pairs: identical md5-based base
    hash, affine permutations, band hashes, and exact-Jaccard verify.

    ``toks_sql`` supplies the (doc_id, l) token-list source so granularity
    variants (e.g. chunk-level dedup) reuse the exact same signature
    pipeline with a different unit of deduplication."""
    from ..ext.dedup import MINHASH_P, minhash_coeffs

    r = num_perm // bands
    coeffs = minhash_coeffs(num_perm)
    # v = first 32 bits of md5(shingle), via nibble arithmetic
    nib_val = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(shingle), {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    sig_cols = ",\n               ".join(
        f"MIN((v * {a} + {b}) % {MINHASH_P}) AS sig{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_cols = ",\n               ".join(
        "md5({}) AS mband{}".format(
            " || ',' || ".join(f"CAST(sig{t * r + j} AS VARCHAR)" for j in range(r)), t
        )
        for t in range(bands)
    )
    band_joins = "\n        UNION ALL\n        ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b "
        f"ON a.mband{t} = b.mband{t} AND {pair_pred}"
        for t in range(bands)
    )
    return f"""
    WITH toks AS (
        {toks_sql}
    ), sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 2),
                                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks
    ), sh AS (
        SELECT doc_id, shingle, CAST({nib_val} AS BIGINT) AS v FROM sh0
    ), sigs AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               {sig_cols}
        FROM sh GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, n_sh,
               {band_cols}
        FROM sigs
    ), cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
        {band_joins}
        ) u
    ), pairs AS (
        SELECT doc_a, doc_b, COUNT(*) AS common_shingles
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common_shingles,
           {dround('CAST(common_shingles AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common_shingles AS DOUBLE)', 6)} AS jaccard
    FROM pairs
    JOIN sigs na ON doc_a = na.doc_id
    JOIN sigs nb ON doc_b = nb.doc_id
    """


@register("ext_dedup_minhash_banded", _minhash_banded_oracle())
def ext_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash-LSH: md5-salted min-hash signatures (16 perms,
    4 bands of 4), band-hash equi-join candidate generation, exact Jaccard
    verify over full shingle sets — the classic LSH S-curve
    (P(candidate) = 1-(1-J^4)^4), fully hash-checked against DuckDB.
    Complements ext_dedup_fuzzy (pyspark.ml MinHashLSH, rows-only)."""
    return ded.minhash_banded_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_perm=16, bands=4,
    )


def _minhash_est_oracle(num_perm: int = 16, bands: int = 4) -> str:
    """DuckDB twin of ded.minhash_estimate_pairs: the minhash-banded CTEs
    plus the signature-agreement estimator in the terminal select."""
    base = _minhash_banded_oracle(num_perm, bands)
    head, _, _ = base.rpartition("SELECT doc_a, doc_b, common_shingles,")
    agree = " + ".join(
        f"(CASE WHEN na.sig{i} = nb.sig{i} THEN 1 ELSE 0 END)"
        for i in range(num_perm)
    )
    return (
        head
        + f"""SELECT doc_a, doc_b, common_shingles,
           {dround('CAST(common_shingles AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common_shingles AS DOUBLE)', 6)} AS jaccard,
           CAST({agree} AS INTEGER) AS n_sig_agree,
           {dround(f'CAST({agree} AS DOUBLE) / {num_perm}.0', 6)} AS est_jaccard
    FROM pairs
    JOIN sigs na ON doc_a = na.doc_id
    JOIN sigs nb ON doc_b = nb.doc_id
    """
    )


@register("ext_dedup_minhash_est", _minhash_est_oracle())
def ext_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy contract: every candidate pair carries the
    signature-agreement Jaccard ESTIMATE (n_sig_agree/16) next to the exact
    verify — the estimator the banding S-curve is built on, made a
    first-class, fully hash-checked output. Because the permutations are
    affine hashes of an md5 base, the oracle reproduces the estimate
    bit-for-bit (engine-native HLL/GK sketches only get bounded-error
    flags; this one needs no tolerance at all)."""
    return ded.minhash_estimate_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_perm=16, bands=4,
    )


def _simhash_oracle() -> str:
    """DuckDB twin of ext/dedup.py simhash_near_pairs: md5-nibble 32-bit
    SimHash, 4 byte-bands, hamming ≤ 3 verify. Generated (32 sum-cases)."""
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (n{8 - b // 4} >> {b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(32)
    )
    sig = " + ".join(f"(CASE WHEN b{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(32))
    nibs = ",\n               ".join(
        f"instr('0123456789abcdef', substr(hh, {i}, 1)) - 1 AS n{i}" for i in range(1, 9)
    )
    return f"""
    WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
        SELECT doc_id, md5(tok) AS hh FROM tk WHERE tok <> ''
    ), nib AS (
        SELECT doc_id,
               {nibs}
        FROM h
    ), votes AS (
        SELECT doc_id,
               {votes}
        FROM nib GROUP BY doc_id
    ), sig AS (
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    ), bands AS (
        SELECT doc_id, simhash, i.band, (simhash >> (8 * i.band)) & 255 AS val
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) i
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sig_a, b.simhash AS sig_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """


@register("ext_dedup_simhash", _simhash_oracle())
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit md5-nibble sign-vote signature,
    4-byte-band candidate generation (pigeonhole recall=1 at hamming ≤ 3),
    exact bit_count(xor) verify — all DataFrame ops, fully oracle-checked
    because the md5-derived hash is bit-identical across engines."""
    return ded.simhash_near_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


# Capped block-then-verify n-gram-Jaccard pair CTEs — shared by
# ext_dedup_ngram_jaccard, ext_dedup_clusters, and (as the edge
# generator) ext_graph_pagerank.
_NGRAM_PAIRS_CTES = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 2),
                                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks
    ), counts AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), hot AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 16
    ), capped AS (
        SELECT doc_id, shingle FROM sh ANTI JOIN hot USING (shingle)
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c_capped
        FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), hotsh AS (
        SELECT doc_id, shingle FROM sh SEMI JOIN hot USING (shingle)
    ), hot_common AS (
        SELECT cand.doc_a, cand.doc_b, COUNT(*) AS c_hot
        FROM cand
        JOIN hotsh sa ON sa.doc_id = cand.doc_a
        JOIN hotsh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ), pairs AS (
        SELECT cand.doc_a, cand.doc_b,
               cand.c_capped + COALESCE(h.c_hot, 0) AS common_shingles
        FROM cand LEFT JOIN hot_common h
          ON cand.doc_a = h.doc_a AND cand.doc_b = h.doc_b
    )
"""

_NGRAM_JACCARD_SQL = f"""
    WITH {_NGRAM_PAIRS_CTES}
    SELECT doc_a, doc_b, common_shingles,
           {dround('CAST(common_shingles AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common_shingles AS DOUBLE)', 6)} AS jaccard
    FROM pairs
    JOIN counts na ON doc_a = na.doc_id
    JOIN counts nb ON doc_b = nb.doc_id
"""

# 5 unrolled synchronous PageRank power iterations over the >=0.02-jaccard
# candidate graph (matches ext/cluster.py pagerank: d=0.85, rank0=1/N,
# undirected edges, no dangling nodes by construction since nodes come
# from edges). Ranks rounded to 6dp on both engines (coarse enough that
# independent float summation orders cannot straddle a rounding boundary).
_PAGERANK_ITER = """
    , c{k} AS (
        SELECT e.v AS node, SUM(r.rank / d.deg) AS in_sum
        FROM edges e JOIN deg d ON e.u = d.u JOIN r{p} r ON r.node = e.u
        GROUP BY e.v
    ), r{k} AS (
        SELECT n.node,
               (0.15 / (SELECT n FROM meta)) + 0.85 * COALESCE(c.in_sum, 0.0) AS rank
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.node
    )
"""

_PAGERANK_SQL = (
    f"""
    WITH {_NGRAM_PAIRS_CTES}
    , prs AS (
        SELECT doc_a, doc_b FROM (
            SELECT p.doc_a, p.doc_b,
                   {dround('CAST(p.common_shingles AS DOUBLE) / CAST(na.n_sh + nb.n_sh - p.common_shingles AS DOUBLE)', 6)} AS jaccard
            FROM pairs p
            JOIN counts na ON p.doc_a = na.doc_id
            JOIN counts nb ON p.doc_b = nb.doc_id
        ) WHERE jaccard >= 0.02
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM prs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM prs
    ), deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    meta AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM meta) AS rank FROM nodes)
    """
    + "".join(_PAGERANK_ITER.format(k=k, p=k - 1) for k in range(1, 6))
    + f"""
    SELECT node, {dround('rank', 6)} AS rank FROM r5
    """
)


@register("ext_dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup scoring, block-then-verify with a
    stop-shingle cap (df > 16 shingles are boilerplate and excluded from
    candidate generation; exact common counts/jaccard still computed over
    full shingle sets — see ext/dedup.py ngram_jaccard_pairs). The oracle
    replicates the capped semantics so parity holds at every scale factor,
    not just the ones where the cap never binds."""
    return ded.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, min_common=2, max_df=16
    )


def _embedding_lsh_oracle(bands: int = 4, bits_per_band: int = 4, dim: int = 64) -> str:
    """DuckDB twin of ded.embedding_near_pairs_lsh: identical hyperplane
    literals, identical band buckets, identical rounded-cosine verify."""
    from ..ext.similarity import hyperplanes

    planes = hyperplanes(dim, bands * bits_per_band)

    def arr(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    band_exprs = []
    for t in range(bands):
        bits = " + ".join(
            f"{2 ** j} * (CASE WHEN list_dot_product(v, {arr(planes[t * bits_per_band + j])}) > 0 THEN 1 ELSE 0 END)"
            for j in range(bits_per_band)
        )
        band_exprs.append(f"({bits}) AS band{t}")
    band_joins = "\n        UNION ALL\n        ".join(
        f"SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b FROM b a JOIN b b2 "
        f"ON a.band{t} = b2.band{t} AND a.vec_id < b2.vec_id"
        for t in range(bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        SELECT vec_id, v,
               {", ".join(band_exprs)}
        FROM e
    ), cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
        {band_joins}
        ) u
    )
    SELECT vec_a, vec_b,
           {dround('list_cosine_similarity(ea.v, eb.v)', 6)} AS cosine
    FROM cand
    JOIN e ea ON cand.vec_a = ea.vec_id
    JOIN e eb ON cand.vec_b = eb.vec_id
    WHERE {dround('list_cosine_similarity(ea.v, eb.v)', 6)} >= 0.4
    """


@register("ext_dedup_embedding", _embedding_lsh_oracle())
def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded sign-LSH blocking + exact
    rounded-cosine verify (ded.embedding_near_pairs_lsh) — no all-pairs
    join in the plan; each band join is an equi-join on a bucket id. The
    oracle replicates the hyperplanes/bands bit-for-bit, so the approximate
    operator itself is hash-checked, not just its exact twin."""
    return ded.embedding_near_pairs_lsh(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.4, bands=4, bits_per_band=4,
    )


@register(
    "ext_dedup_embedding_exact",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {dround('list_cosine_similarity(a.v, b.v)', 6)} AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {dround('list_cosine_similarity(a.v, b.v)', 6)} >= 0.4
    """,
)
def ext_dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding-cosine pair join (O(n²)/2 verify-stage primitive,
    deliberately bounded-scope): the recall oracle against which the LSH
    variant's parameters are tuned. Threshold on the ROUNDED cosine so the
    cut is float-stable."""
    return ded.embedding_near_pairs(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


# -------------------------------------------------------------- similarity

@register(
    "ext_topk_cosine",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT query_id, vec_id,
               {dround('list_cosine_similarity(qv, v)', 6)} AS cosine
        FROM q JOIN e ON vec_id <> query_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5
    """,
)
def ext_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine: broadcast the (small) query side,
    scan the corpus once, window-rank per query on the rounded score."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.topk_bruteforce(queries, emb, k=5).select("query_id", "vec_id", "cosine", "rk")


def _sql_double(x: float) -> str:
    """Shortest-repr double literal that DuckDB types as DOUBLE (not
    DECIMAL): scientific notation forces the strtod parse, which is
    correctly rounded, so the literal round-trips bit-exactly."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else r + "e0"


def _lsh_oracle_sql() -> str:
    """DuckDB twin of sim.topk_lsh(bits=4): the seeded hyperplanes are
    plain float constants, so BOTH engines evaluate the identical
    literals. Sign safety: the bucket bit compares dot(v, h) against 0;
    tests/test_ann_oracle_margin.py pins min |dot| >= 1e-5 at every SF,
    ~1e10 times the worst cross-engine fold-order disagreement, so the
    bucket ids cannot diverge."""
    planes = sim.hyperplanes(64, 4)

    def arr(h: list[float]) -> str:
        return "[" + ", ".join(_sql_double(x) for x in h) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(h)}) > 0 THEN {2 ** j} ELSE 0 END)"
        for j, h in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS MATERIALIZED (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    scored AS (
        SELECT query_id, c.vec_id,
               {dround('list_cosine_similarity(qv, c.v)', 6)} AS cosine
        FROM q JOIN b c USING (bucket) WHERE c.vec_id <> query_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5
    """


@register("ext_ann_lsh", _lsh_oracle_sql())
def ext_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection LSH buckets (deterministic seeded
    hyperplanes): candidates only within the query's bucket — the
    sub-linear scale path for 100 TB similarity search.

    Fully oracle-checkable despite being approximate: the approximation
    is a deterministic function of the seeded hyperplanes, which the
    DuckDB oracle bakes in as the same literals (_lsh_oracle_sql)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.topk_lsh(queries, emb, k=5, bits=4).select("query_id", "vec_id", "cosine", "rk")


# ----------------------------------------------------------- text analysis

@register(
    "ext_text_tokenize",
    """
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
    WHERE token <> ''
    GROUP BY token
    """,
)
def ext_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: tokenize → explode → term/document
    frequencies (the TF/DF pass every text pipeline starts with)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# DuckDB twin of tx.lang_id — shared by ext_text_langid and the
# confusion-matrix eval key so the heuristic exists once per engine.
LANGID_CASE_SQL = r"""CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                WHEN regexp_matches(text, '[\x{3040}-\x{30ff}]') THEN 'ja'
                WHEN regexp_matches(text, '[\x{ac00}-\x{d7af}]') THEN 'ko'
                WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
                WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
                WHEN regexp_matches(text, '[äöüß]') THEN 'de'
                WHEN regexp_matches(text, '[àâçèêëîïôùûœ]') THEN 'fr'
                ELSE 'en' END"""


@register(
    "ext_text_langid",
    f"""
    SELECT doc_id, lang AS lang_declared,
           {LANGID_CASE_SQL} AS lang_pred
    FROM documents
    """,
)
def ext_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic over character classes (declared lang kept
    alongside for comparison). Deliberately SQL-expressible so the oracle
    replicates it exactly; a production lang-id swaps in an n-gram model
    behind the same column contract."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        tx.lang_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "ext_text_quality",
    f"""
    WITH toks AS (
        SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_calc,
               list_filter(string_split(text, ' '), x -> x <> '') AS l
        FROM documents
    ), feat AS (
        SELECT doc_id, n_chars_calc,
               CAST(len(l) AS INTEGER) AS n_tokens,
               CAST(list_sum(list_transform(l, x -> len(x))) AS DOUBLE)
                   / NULLIF(CAST(len(l) AS DOUBLE), 0) AS avg_len,
               CAST(len(list_filter(l, x -> lower(x) IN {STOPWORDS_SQL})) AS DOUBLE)
                   / NULLIF(CAST(len(l) AS DOUBLE), 0) AS stop_ratio
        FROM toks
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           {dround('avg_len', 6)} AS avg_token_len,
           {dround('stop_ratio', 6)} AS stopword_ratio,
           {dround('''CASE WHEN n_tokens BETWEEN 50 AND 5000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.2 AS DOUBLE) END
             + CASE WHEN stop_ratio > 0.02 AND stop_ratio < 0.6 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN avg_len > 2.5 AND avg_len < 12 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END''', 2)} AS quality_score
    FROM feat
    """,
)
def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length/token/stopword statistics folded
    into a composite score — the standard corpus-filtering features, all as
    narrow array expressions (no shuffle, no UDF)."""
    docs = load(spark, sf_dir, "documents")
    return tx.quality_features(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "avg_token_len", "stopword_ratio", "quality_score"
    )


@register(
    "ext_text_token_count",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS subword_tokens
    FROM documents
    """,
)
def ext_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    pre-tokenization regex (alpha runs | digit runs | single symbol) — the
    cost estimate every training-data pipeline carries per document."""
    docs = load(spark, sf_dir, "documents")
    ws, bpe = tx.token_counts(F.col("text"))
    return docs.select("doc_id", ws.alias("ws_tokens"), bpe.alias("subword_tokens"))


@register(
    "ext_text_tfidf",
    f"""
    WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tk WHERE token <> '' GROUP BY 1, 2
    ), dfreq AS (
        SELECT token, COUNT(*) AS df_ FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
           {dround('CAST(tf AS DOUBLE) * ln((1.0 + n_docs) / (1.0 + df_))', 6)} AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
    """,
)
def ext_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights per (doc, token) — the canonical sparse text feature
    (idf = ln((1+N)/(1+df)), smoothed). Two hash aggregates + a broadcast
    of the (small) document-frequency table; the corpus size N rides along
    as a 1-row cross join, mirroring the reference's scalar-count audit
    pattern (customers_bronze.sql:15-17)."""
    docs = load(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("token"))
    tf = tk.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf").cast("double")
                * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df_"))),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "ext_text_fingerprint",
    """
    WITH toks AS (
        SELECT doc_id, text, string_split(text, ' ') AS l FROM documents
    )
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_md5,
           list_aggregate(
               list_transform(generate_series(1, len(l) - 2),
                              i -> md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2])),
               'min') AS fp_min_shingle
    FROM toks
    """,
)
def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text md5 + min-shingle-hash (one
    MinHash permutation — winnowing-lite), both as narrow expressions."""
    return tx.fingerprint(load(spark, sf_dir, "documents"), "doc_id", "text")


# -------------------------------------------------------------- multimodal

@register(
    "ext_mm_decode",
    """
    WITH v AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               list_transform(generate_series(1, length(text)),
                              i -> ascii(substr(text, i, 1))) AS codes
        FROM documents
    )
    SELECT doc_id, CAST(n_bytes AS INTEGER) AS n_bytes,
           CAST(4 AS INTEGER) AS feature_dim,
           CAST(n_bytes AS DOUBLE) AS f_len,
           CAST(list_sum(codes) % 997 AS DOUBLE) AS f_mod,
           CAST(CASE WHEN n_bytes > 0 THEN codes[1] ELSE 0 END AS DOUBLE) AS f_first,
           CAST(CASE WHEN n_bytes > 0 THEN codes[n_bytes] ELSE 0 END AS DOUBLE) AS f_last
    FROM v
    """,
)
def ext_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: binary payload + metadata struct →
    Arrow-batched mapInPandas feature extraction (STUB decoder — see
    ext/multimodal.py; schema/batching/partitioning are the real thing).
    The stub's features are pure byte arithmetic, so even this Pandas-UDF
    path is oracle-checked: the payload is ASCII text bytes and the
    oracle recomputes each feature component from character codes
    (mean_byte stays in the module API; the compared projection keeps to
    exactly-representable values so the hash can't wobble)."""
    docs = load(spark, sf_dir, "documents")
    feats = mm.decode_features(mm.attach_binary(docs))
    return feats.select(
        "doc_id",
        "n_bytes",
        "feature_dim",
        F.element_at("features", 1).alias("f_len"),
        F.element_at("features", 2).alias("f_mod"),
        F.element_at("features", 3).alias("f_first"),
        F.element_at("features", 4).alias("f_last"),
    )


@register(
    "ext_mm_frame_sample",
    """
    SELECT doc_id,
           CAST(unnest(generate_series(0, CAST(floor(n_chars / 100.0) AS INTEGER))) AS INTEGER) AS frame_idx,
           CAST(unnest(generate_series(0, CAST(floor(n_chars / 100.0) AS INTEGER))) * 100 AS INTEGER) AS frame_offset
    FROM documents
    """,
)
def ext_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame/chunk sampling over media length metadata —
    sequence + explode fan-out, one row per frame offset."""
    return mm.frame_sample(load(spark, sf_dir, "documents"), "doc_id", "n_chars", 100)


# ----------------------------------------------------- stateful streaming

@register(
    "ext_stateful_running_agg",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           {dround('SUM(COALESCE(value, 0.0))', 2)} AS total_value
    FROM events GROUP BY user_id
    """,
)
def ext_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful aggregation (applyInPandasWithState): per-user
    running count/sum maintained in the engine state store, Arrow-batched —
    the template for custom stateful operators Spark lacks natively.
    Oracle-checked: a completed availableNow run's final state per user
    must equal the batch GROUP BY (event values are exact 2-dp decimals,
    so the 2-dp-rounded totals cannot straddle a rounding boundary
    between the state-store accumulation order and the oracle's)."""
    from ..streaming.stateful import running_user_totals

    totals = running_user_totals(spark, f"{sf_dir}/events.parquet")
    return totals.select("user_id", "n_events", F.round("total_value", 2).alias("total_value"))


# transformWithStateInPandas (the Spark 4 typed-state successor to
# applyInPandasWithState) is implemented in
# streaming/stateful.py transform_with_state_user_profile but NOT
# registered as a driver key: its Python driver worker requires the
# google.protobuf package, which this sandbox lacks (and installs are
# disallowed). The operator is covered by tests/test_streaming_tws.py,
# which runs it where protobuf exists and skips cleanly here.


@register(
    "ext_stream_stream_join",
    """
    SELECT v.user_id, v.event_id AS view_event_id, p.event_id AS purchase_event_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def ext_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (views -> purchases within
    30 min). Bounded buffers on both sides; with the availableNow single
    microbatch the inner join is exactly batch-equivalent (also asserted in
    tests/test_streaming_batch_consistency.py), so the batch interval-join
    SQL is a true oracle."""
    from ..streaming.stateful import stream_stream_view_purchase_join

    return stream_stream_view_purchase_join(spark, f"{sf_dir}/events.parquet")


@register(
    "ext_stream_outer_join",
    """
    WITH v AS (
        SELECT user_id, event_id AS view_event_id, ts AS view_ts
        FROM events WHERE event_type = 'view'
    ), pu AS (
        SELECT user_id AS p_user_id, event_id AS purchase_event_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), wm AS (
        SELECT least((SELECT max(view_ts) FROM v),
                     (SELECT max(purchase_ts) FROM pu)) - INTERVAL '1 hour' AS w
    ), matched AS (
        SELECT v.user_id, v.view_event_id, pu.purchase_event_id,
               v.view_ts, pu.purchase_ts
        FROM v JOIN pu ON v.user_id = pu.p_user_id
            AND pu.purchase_ts > v.view_ts
            AND pu.purchase_ts <= v.view_ts + INTERVAL '30 minutes'
    ), unmatched AS (
        SELECT v.user_id, v.view_event_id, CAST(NULL AS BIGINT) AS purchase_event_id,
               v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
        FROM v ANTI JOIN pu ON v.user_id = pu.p_user_id
            AND pu.purchase_ts > v.view_ts
            AND pu.purchase_ts <= v.view_ts + INTERVAL '30 minutes'
        WHERE v.view_ts + INTERVAL '30 minutes' < (SELECT w FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def ext_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — unmatched views are
    null-padded only once the watermark proves no purchase can still
    match. The oracle encodes that eviction rule exactly: matched rows are
    the batch interval join; an unmatched view appears (null-padded) iff
    its join horizon (view_ts + 30 min) has passed the final global
    watermark, which is the MIN across both stream watermarks (each
    operator sees only its filtered side) minus the 1 h delay. Verified
    hash-equal at sf0.001/0.01/0.1; also asserted with a boundary-agnostic
    margin in tests/test_streaming_batch_consistency.py."""
    from ..streaming.stateful import stream_stream_left_outer_join

    return stream_stream_left_outer_join(spark, f"{sf_dir}/events.parquet")


@register(
    "ext_stream_dedup",
    "SELECT event_id, user_id, event_type, ts FROM events",
)
def ext_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id — streaming exact dedup
    with bounded state. event_id is unique in the testdata, so the
    deduplicated stream must equal the full table — which makes the
    identity SELECT a strict oracle: any dropped or duplicated survivor
    fails the hash."""
    from ..streaming.stateful import stream_dedup

    return stream_dedup(spark, f"{sf_dir}/events.parquet")


@register(
    "ext_topk_cosine_pandas",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT query_id, vec_id,
               {dround('list_cosine_similarity(qv, v)', 6)} AS cosine
        FROM q JOIN e ON vec_id <> query_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5
    """,
)
def ext_topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k cosine computed through a VECTORIZED Arrow pandas_udf
    (numpy batch math) instead of JVM fold expressions — demonstrating the
    sanctioned Python escape hatch: Arrow-batched, columnar, still
    oracle-exact after scale-6 rounding. ~10-100x faster than row-at-a-time
    Python UDFs; use only when built-ins can't express the math."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import Window

    @pandas_udf("double")
    def cos(q: pd.Series, v: pd.Series) -> pd.Series:
        qa = np.stack(q.to_numpy()).astype(np.float64)
        va = np.stack(v.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", qa, va)
        den = np.linalg.norm(qa, axis=1) * np.linalg.norm(va, axis=1)
        return pd.Series(num / den)

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos("qv", "v"), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


# Shared by _ivf_oracle_sql and _pq_oracle_sql: sequential-fold squared L2
# between two DuckDB DOUBLE[] expressions (same left-to-right order as the
# Spark zip_with/aggregate fold in ext/ivf.py:_dist2_to; argmin boundaries
# are additionally margin-pinned in tests/test_ann_oracle_margin.py so a
# last-ulp fold disagreement cannot flip an assignment).
def _d2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _medoid_cells_cte() -> str:
    """Shared CTE prefix: md5-medoid seed selection + per-row nearest-cell
    assignment (argmin d2, seed-order tiebreak). ONE source for every
    oracle that mirrors ext/ivf.py:medoid_seeds + _assign_cells
    (ext_ann_ivf's probing and ext_dedup_semantic's blocking), so the two
    oracles' quantizers can never drift — exactly as their Spark sides
    share medoid_seeds. Assignment-boundary margins are pinned per SF in
    tests/test_ann_oracle_margin.py."""
    d2 = _d2_sql("e.v", "s.sv")
    return f"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS MATERIALIZED (
        SELECT v AS sv,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS seed_idx
        FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    d AS MATERIALIZED (
        SELECT e.vec_id, e.v, s.seed_idx, {d2} AS d2
        FROM e CROSS JOIN seeds s
    ),
    cells AS MATERIALIZED (
        SELECT vec_id, v, seed_idx AS cell FROM d
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_idx) = 1
    )"""


def _ivf_oracle_sql() -> str:
    """DuckDB twin of ext_ann_ivf: the medoid quantizer selects centroids
    by md5(vec_id) — a string hash both engines compute identically — so
    the centroid set, cell assignment (argmin d2, seed-order tiebreak),
    nprobe=2 probing, and cosine rerank are all dual-engine exact."""
    return f"""
    WITH {_medoid_cells_cte()},
    qcells AS (
        SELECT vec_id AS query_id, v AS qv, seed_idx AS cell FROM d
        WHERE vec_id < 10
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_idx) <= 2
    ),
    scored AS (
        SELECT query_id, c.vec_id,
               {dround('list_cosine_similarity(qv, c.v)', 6)} AS cosine
        FROM qcells q JOIN cells c USING (cell) WHERE c.vec_id <> query_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5
    """


@register("ext_ann_ivf", _ivf_oracle_sql())
def ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic hash-sampled medoid centroids (only k actual
    corpus vectors ever reach the driver — k-means-with-zero-iterations
    seeding, see ext/ivf.py:medoid_seeds), nearest-cell assignment as a
    pure expression over centroid literals, nprobe=2 candidate search +
    exact cosine rerank. The cell-partitioned twin of ext_ann_lsh.

    Fully oracle-checkable despite being approximate: medoid centroids
    are exact data values selected by md5(vec_id), so the DuckDB oracle
    re-derives the identical quantizer (_ivf_oracle_sql)."""
    from ..ext.ivf import shared_cell_index, topk_ivf

    emb = load(spark, sf_dir, "embeddings")
    # session-shared materialized IVF index (memo family "ivf", ext/ivf.py)
    cents, cells = shared_cell_index(spark, sf_dir, lambda: load(spark, sf_dir, "embeddings"), k=16)
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_ivf(
        queries, emb, cents, k=5, nprobe=2, corpus_cells=cells
    ).select("query_id", "vec_id", "cosine", "rk")


@register(
    "ext_dedup_clusters",
    f"""
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
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS representative_id,
           CAST(CASE WHEN COALESCE(c.component, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup DECISION: n-gram Jaccard candidate pairs ->
    connected components (DataFrame-join min-label propagation,
    ext/cluster.py) -> one kept representative per near-dup cluster.
    Returns (doc_id, representative_id, is_kept). Oracle: transitive
    closure via DuckDB recursive CTE, component = min reachable node —
    independent algorithm, same fixpoint (also cross-checked against a
    union-find in tests/test_cluster.py)."""
    from ..ext.cluster import dedup_keep_representative

    docs = load(spark, sf_dir, "documents")
    pairs = ded.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_common=2).filter(
        F.col("jaccard") >= 0.02
    )
    return dedup_keep_representative(docs, pairs, "doc_id")


@register(
    "ext_stream_foreachbatch_merge",
    "SELECT event_id, user_id, event_type, ts, value FROM events",
)
def ext_stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> incremental-store integration: readStream over events,
    foreachBatch merges each micro-batch into the version-pointer store
    (plans/incremental.py) keyed by event_id — the local stand-in for
    'stream into a Delta table with MERGE'. Returns the final table state.
    event_id is unique, so the merged store must converge to exactly the
    source table — the identity SELECT is a strict oracle for the
    merge-upsert path (lost batches or double-applied merges fail it)."""
    import os as _os
    import shutil as _shutil

    from ..plans.incremental import read_incremental, write_incremental
    from ..streaming.stateful import _events_stream

    base = _scratch("stream_merge", sf_dir)
    _shutil.rmtree(base, ignore_errors=True)

    def merge_batch(batch_df, batch_id):  # noqa: ARG001
        write_incremental(
            batch_df.sparkSession, base, batch_df,
            "merge_latest", unique_key="event_id", order_col="ts",
        )

    stream = _events_stream(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", base + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _shutil.rmtree(base + "_ckpt", ignore_errors=True)
    return read_incremental(spark, base)


@register(
    "src_csv_rescued",
    """
    SELECT * FROM (VALUES
        (CAST(1 AS INTEGER), CAST(10.5 AS DOUBLE),  'ok',          CAST(0 AS INTEGER)),
        (2,                  20.25,                 'ok',          0),
        (3,                  CAST(NULL AS DOUBLE),  'bad_amount',  1),
        (4,                  40.0,                  'ok',          0),
        (5,                  CAST(NULL AS DOUBLE),  'null_amount', 0)
    ) AS t(id, amount, label, was_rescued)
    """,
)
def src_csv_rescued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real CSV ingestion with Auto-Loader-style rescued-data capture
    (sources.read_csv_rescued): write a CSV containing deliberately
    malformed rows, read PERMISSIVE with a rescue column, return per-row
    parse status. Malformed rows land whole in _rescued_data instead of
    failing the read (policies_bronze.sql:38 semantics). The fixture is
    fixed, so the expected parse outcome is a literal VALUES oracle: a
    type-coercion row rescued (row 3), an empty field NOT rescued (row 5 —
    missing is valid, malformed is not)."""
    import os as _os

    from ..sources.readers import read_csv_rescued

    base = _scratch("csv_rescued", sf_dir)
    _os.makedirs(base, exist_ok=True)
    with open(f"{base}/data.csv", "w") as f:
        f.write("id,amount,label\n")
        f.write("1,10.5,ok\n")
        f.write("2,20.25,ok\n")
        f.write("3,not_a_number,bad_amount\n")
        f.write("4,40.0,ok\n")
        f.write("5,,null_amount\n")
    df = read_csv_rescued(spark, base, "id INT, amount DOUBLE, label STRING")
    return df.select(
        "id",
        "amount",
        "label",
        F.col("_rescued_data").isNotNull().cast("int").alias("was_rescued"),
    )


@register(
    "ext_text_edit_distance",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS INTEGER) AS edit_distance
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 15 AND b.doc_id < 15
    """,
)
def ext_text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Levenshtein edit distance on document prefixes — the
    character-level fuzzy matcher (record linkage, typo-tolerant joins).
    O(len^2) per pair: bound the compared prefix and the pair set; at scale
    block with fingerprints first, edit-distance only the candidates."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 15)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, 80).alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, 80).alias("tb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.levenshtein("ta", "tb").alias("edit_distance"))
    )


@register(
    "ext_text_edit_distance_blocked",
    """
    WITH toks AS (
        SELECT doc_id, text, string_split(text, ' ') AS l FROM documents
    ), fp AS (
        SELECT doc_id, text,
               list_aggregate(
                   list_transform(generate_series(1, len(l) - 2),
                                  i -> md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2])),
                   'min') AS blk
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS INTEGER) AS edit_distance
    FROM fp a JOIN fp b ON a.blk = b.blk AND a.doc_id < b.doc_id
    """,
)
def ext_text_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production edit-distance: block-then-verify. Block key is the
    min-shingle-md5 fingerprint (one MinHash permutation — docs sharing it
    collide with probability equal to their shingle Jaccard), so Levenshtein
    runs only within blocks — an equi-join, never all-pairs. The bounded
    pairwise twin (ext_text_edit_distance) is the demo/verify baseline."""
    from ..sources.readers import spread

    docs = load(spark, sf_dir, "documents")
    fp = spread(docs.select("doc_id", "text")).select(
        "doc_id",
        F.substring("text", 1, 80).alias("t80"),
        F.array_min(
            F.transform(tx.shingles(F.col("text"), 3), lambda s: F.md5(s.cast("binary")))
        ).alias("blk"),
        # materialize the fingerprint projection once — the self-join would
        # otherwise re-derive the md5-min-shingle pass on both sides (it is
        # a persisted column in a production corpus table)
    ).localCheckpoint(eager=False)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("t80").alias("ta"), "blk")
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("t80").alias("tb"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.levenshtein("ta", "tb").alias("edit_distance"))
    )


@register(
    "ext_privacy_pseudonymize",
    """
    SELECT sha256(CAST(c_custkey AS VARCHAR) || ':pepper') AS customer_token,
           CASE WHEN length(c_name) > 4
                THEN substr(c_name, 1, 2) || repeat('*', length(c_name) - 4)
                     || substr(c_name, length(c_name) - 1, 2)
                ELSE '****' END AS name_masked,
           c_mktsegment, c_acctbal
    FROM customer
    """,
)
def ext_privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization pass for training-data prep: stable keyed token via
    peppered SHA-256 (joinable across tables, unlinkable without the
    pepper), plus positional masking of the display name. Pure expressions —
    the pattern applies per-column at any scale."""
    c = load(spark, sf_dir, "customer")
    n = F.col("c_name")
    ln = F.length(n)
    return c.select(
        F.sha2(F.concat(F.col("c_custkey").cast("string"), F.lit(":pepper")), 256).alias(
            "customer_token"
        ),
        F.when(
            ln > 4,
            F.concat(
                F.substring(n, 1, 2),
                F.repeat(F.lit("*"), (ln - 4).cast("int")),
                n.substr(ln - 1, F.lit(2)),
            ),
        )
        .otherwise("****")
        .alias("name_masked"),
        "c_mktsegment",
        "c_acctbal",
    )


@register(
    "ext_asof_join",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts, MAX(event_id) AS click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    )
    SELECT p.purchase_id, p.user_id, c.click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach the most recent prior (or simultaneous) click to
    each purchase, per user — see ext/asof.py for the union+carry-forward
    formulation (one shuffle on user_id, no range explosion). Ties on
    click ts resolve to MAX(event_id) on both engines."""
    from ..ext.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_id", "click_ts"],
        right_tiebreak="click_id",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("gap_us"),
    )


@register(
    "ext_stream_static_join",
    f"""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {dround('SUM(value)', 2)} AS total_value
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def ext_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrich (streaming/stateful.py): events
    readStream left-joined to the static customer dim per microbatch, then
    the materialized sink is aggregated per segment. Deterministic (static
    side fully available every batch), so it is oracle-checked — the only
    streaming key that can be."""
    from ..streaming.stateful import stream_static_enrich

    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_static_enrich(spark, f"{sf_dir}/events.parquet", dim)
    return enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "ext_approx_distinct",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality per event_type (approx_count_distinct,
    rsd 1%). THE count-distinct at 100 TB: fixed-size sketch per group,
    map-side mergeable — one narrow shuffle of sketches instead of a
    two-phase exact distinct over every key.

    DuckDB's HLL differs bit-for-bit, so the driver-checkable contract is
    the sketch's accuracy guarantee itself: the query computes BOTH the
    sketch estimate and the exact count and emits the bounded-relative-
    error invariant (|approx-exact|/exact <= 5% at rsd 1%) as a column the
    oracle pins TRUE. A broken sketch flips the flag and fails the hash.
    Raw estimates are additionally bound-tested in
    tests/test_approx_sketches.py."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "ext_approx_quantile",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def ext_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles of order value per priority
    (percentile_approx, accuracy 1000) — the mergeable Greenwald-Khanna
    sketch that replaces exact sort-based percentiles at scale.

    The GK guarantee (rank error <= 1/accuracy = 0.1%) is emitted as the
    driver-checkable contract: each approx quantile must land between the
    exact quantiles at q +/- 1% (10x the guaranteed rank error — sketch
    regressions fail loudly, interpolation noise doesn't). The oracle pins
    the three flags TRUE; raw estimates are bound-tested in
    tests/test_approx_sketches.py."""
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.percentile_approx("o_totalprice", [0.5, 0.95, 0.99], 1000).alias("_apx"),
        F.expr(
            "percentile(o_totalprice, array(0.49, 0.51, 0.94, 0.96, 0.98, 1.0))"
        ).alias("_ex"),
    )
    def ok(i, lo, hi):
        return (
            (F.element_at("_apx", i) >= F.element_at("_ex", lo))
            & (F.element_at("_apx", i) <= F.element_at("_ex", hi))
        )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        ok(1, 1, 2).alias("p50_ok"),
        ok(2, 3, 4).alias("p95_ok"),
        ok(3, 5, 6).alias("p99_ok"),
    )


@register(
    "ext_mm_resize",
    """
    WITH b AS (SELECT doc_id, encode(text) AS payload FROM documents)
    SELECT doc_id, 16 AS width, 8 AS height, CAST(128 AS INTEGER) AS n_bytes,
           substr(repeat(hex(payload),
                         CAST(CEIL(128.0 / octet_length(payload)) AS INTEGER)),
                  1, 256) AS payload_hex
    FROM b
    """,
)
def ext_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (ext/multimodal.py resize_stub): binary ->
    binary mapInPandas with geometry metadata. The stub resample
    (tile/truncate to width*height bytes) is deterministic, so even this
    Pandas-UDF path is oracle-checked — the payload is compared in hex
    (DuckDB can repeat but not slice blobs; 2 hex chars per byte)."""
    docs = load(spark, sf_dir, "documents")
    return mm.resize_stub(mm.attach_binary(docs)).select(
        "doc_id",
        "width",
        "height",
        "n_bytes",
        F.hex("payload").alias("payload_hex"),
    )


@register(
    "ext_stream_session_timeout",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER win IS NULL
                      OR ts - LAG(ts) OVER win >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ), islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               (sid = MAX(sid) OVER (PARTITION BY user_id)) AS is_last
        FROM islands GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events,
           CAST(is_last AS INTEGER) AS closed_by_timeout
    FROM sess, wm
    WHERE (NOT is_last) OR session_end + INTERVAL '30 minutes' < w
    """,
)
def ext_stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT
    (streaming/stateful.py sessionize_with_timeout): the engine emits each
    session when the watermark passes its gap — bounded state, emit-once.
    The oracle is the gaps-and-islands sessionization PLUS the eviction
    rule: non-final sessions are emitted by the next session's arrival
    (closed_by_timeout=false); each user's final session is emitted by the
    engine timeout (true) only once the final watermark (max event time -
    10 min) passes session_end + 30 min gap — sessions past that horizon
    legitimately stay buffered and are excluded on both sides. Also
    asserted against batch session_window in
    tests/test_streaming_sessions.py."""
    from ..streaming.stateful import sessionize_with_timeout

    out = sessionize_with_timeout(spark, f"{sf_dir}/events.parquet")
    # INT not BOOLEAN: no driver-green precedent exists for boolean
    # value-hashing (round 1's only hash miss was exactly such an
    # unproven-representation case, on DECIMAL)
    return out.withColumn("closed_by_timeout", F.col("closed_by_timeout").cast("int"))


@register(
    "src_jsonl_parse",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    WHERE event_id < 1000
    GROUP BY event_type
    """,
)
def src_jsonl_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source ingestion: stage a slice of events as .jsonl, read
    it back with spark.read.json under an EXPLICIT schema (schema inference
    is a full extra pass at 100 TB — never ship it), and aggregate. The
    oracle reads the same rows from the parquet table, proving the
    round-trip is lossless. Exercises the third source format next to
    parquet and rescued CSV."""
    import os as _os

    base = _scratch("jsonl", sf_dir)
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    ev.select("event_id", "event_type", "props").coalesce(1).write.mode(
        "overwrite"
    ).json(base)
    back = spark.read.schema("event_id BIGINT, event_type STRING, props STRING").json(
        base
    )
    return (
        back.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("sum_k"),
        )
    )


@register(
    "src_xml_parse",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    WHERE event_id < 1000
    GROUP BY event_type
    """,
)
def src_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source ingestion via Spark 4's NATIVE xml datasource (spark-xml
    merged upstream — no external jar): stage a slice of events as XML
    with a rowTag, read it back under an EXPLICIT schema, aggregate. The
    oracle reads the same rows from the parquet table, proving the
    round-trip is lossless. Fifth source format next to parquet, rescued
    CSV, jsonl, and ORC."""
    import os as _os

    base = _scratch("xml", sf_dir)
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    ev.select("event_id", "event_type", "props").coalesce(1).write.mode(
        "overwrite"
    ).format("xml").option("rowTag", "event").save(base)
    back = (
        spark.read.schema("event_id BIGINT, event_type STRING, props STRING")
        .format("xml")
        .option("rowTag", "event")
        .load(base)
    )
    return (
        back.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("sum_k"),
        )
    )


@register(
    "ext_variant_json",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events GROUP BY event_type
    """,
)
def ext_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, then typed variant_get
    extractions — the modern path that beats per-extraction JSON string
    re-parsing (get_json_object) when many fields are pulled from one
    payload, and the open-format twin of the reference warehouse's
    semi-structured columns. Oracle extracts the same fields with DuckDB's
    JSON functions."""
    ev = load(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v")).select(
        "event_type", F.variant_get("v", "$.k", "int").alias("k")
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "ext_scd2_snapshot",
    """
    WITH b1 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey < 600
    ), b2_changed AS (
        SELECT c_custkey FROM b1 WHERE c_custkey % 3 = 0
    )
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '2024-01-01' AS valid_from,
           TIMESTAMP '2024-02-01' AS valid_to,
           CAST(0 AS INTEGER) AS is_current
    FROM b1 WHERE c_custkey IN (SELECT c_custkey FROM b2_changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal * 2,
           TIMESTAMP '2024-02-01', NULL, CAST(1 AS INTEGER)
    FROM b1 WHERE c_custkey IN (SELECT c_custkey FROM b2_changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '2024-01-01', NULL, CAST(1 AS INTEGER)
    FROM b1 WHERE c_custkey NOT IN (SELECT c_custkey FROM b2_changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '2024-02-01', NULL, CAST(1 AS INTEGER)
    FROM customer WHERE c_custkey >= 600 AND c_custkey < 700
    """,
)
def ext_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 snapshot materialization (plans/snapshot.py — dbt's
    `snapshot` with the "check" strategy): two deterministic batches over
    customer (batch 2 doubles every 3rd key's balance and adds keys
    600-699), returning the full history with validity windows. The oracle
    derives the expected history directly in SQL: closed version + current
    version for changed keys, one open version otherwise. Runs through the
    REAL versioned-parquet store (atomic version-pointer swap, the local
    stand-in for a Delta/Iceberg MERGE), wiped per run for idempotency."""
    import os as _os
    import shutil as _sh

    from ..plans.snapshot import apply_snapshot

    base = _scratch("scd2", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    b1 = c.filter(F.col("c_custkey") < 600)
    apply_snapshot(spark, base, b1, "c_custkey", ["c_acctbal"], "2024-01-01")
    b2 = (
        c.filter(F.col("c_custkey") < 700)
        .withColumn(
            "c_acctbal",
            F.when(
                (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") < 600),
                F.col("c_acctbal") * 2,
            ).otherwise(F.col("c_acctbal")),
        )
    )
    hist = apply_snapshot(spark, base, b2, "c_custkey", ["c_acctbal"], "2024-02-01")
    return hist.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )


@register(
    "ext_incremental_merge",
    f"""
    WITH store AS (
        SELECT event_id, event_type,
               CASE WHEN event_id >= 2500 THEN value * 2 ELSE value END AS value
        FROM events WHERE event_id < 7500
    )
    SELECT event_type, COUNT(*) AS n_rows, {dround('SUM(value)', 2)} AS total_value
    FROM store GROUP BY event_type
    """,
)
def ext_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental `merge_latest` materialization (plans/incremental.py —
    dbt's incremental model with unique_key, i.e. MERGE WHEN MATCHED
    UPDATE): batch 1 loads event_id < 5000, batch 2 upserts 2500-7499 with
    doubled values and a newer order stamp. Final store = old rows below
    2500, batch-2 rows above — exactly what the oracle derives set-wise.
    Exercises the versioned store (atomic pointer swap) through the BATCH
    path; ext_stream_foreachbatch_merge is its streaming twin."""
    import os as _os
    import shutil as _sh

    from ..plans.incremental import read_incremental, write_incremental

    base = _scratch("incr_merge", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    b1 = ev.filter(F.col("event_id") < 5000).withColumn("batch_no", F.lit(1))
    write_incremental(spark, base, b1, "merge_latest", "event_id", "batch_no")
    b2 = (
        ev.filter((F.col("event_id") >= 2500) & (F.col("event_id") < 7500))
        .withColumn("value", F.col("value") * 2)
        .withColumn("batch_no", F.lit(2))
    )
    write_incremental(spark, base, b2, "merge_latest", "event_id", "batch_no")
    store = read_incremental(spark, base)
    return store.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "ext_incremental_delete",
    f"""
    WITH store AS (
        SELECT event_id, event_type,
               CASE WHEN event_id >= 2500 AND event_id % 10 = 0 THEN value * 3
                    WHEN event_id >= 2500 THEN value * 2
                    ELSE value END AS value
        FROM events
        WHERE event_id < 7500
          AND NOT (event_id >= 2500 AND event_id % 5 = 0 AND event_id % 10 <> 0)
    )
    SELECT event_type, COUNT(*) AS n_rows, {dround('SUM(value)', 2)} AS total_value
    FROM store GROUP BY event_type
    """,
)
def ext_incremental_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental `merge_delete` materialization — the hard-delete lane of
    the MERGE matrix (Delta's WHEN MATCHED AND s.tombstone THEN DELETE;
    the CDC/GDPR-erasure cell ext_incremental_merge's upsert-only lane
    cannot express). Three batches: (1) load event_id < 5000 live, (2)
    upsert 2500-7499 with doubled values, tombstoning every id % 5 == 0,
    (3) re-insert the id % 10 == 0 half of the tombstoned keys at tripled
    values — proving a delete is not a permanent ban and an older live row
    never resurrects a deleted key. Final state is exactly the oracle's
    set-wise derivation.

    Scale shape: identical to merge_latest (union + keyed window + filter,
    one shuffle per batch on the unique key, atomic pointer swap); the
    delete is a post-window filter, never a second pass."""
    import shutil as _sh

    from ..plans.incremental import read_incremental, write_incremental

    base = _scratch("incr_delete", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    b1 = (
        ev.filter(F.col("event_id") < 5000)
        .withColumn("batch_no", F.lit(1))
        .withColumn("is_deleted", F.lit(False))
    )
    write_incremental(
        spark, base, b1, "merge_delete", "event_id", "batch_no",
        delete_col="is_deleted",
    )
    mid = (F.col("event_id") >= 2500) & (F.col("event_id") < 7500)
    b2 = (
        ev.filter(mid)
        .withColumn("value", F.col("value") * 2)
        .withColumn("batch_no", F.lit(2))
        .withColumn("is_deleted", F.col("event_id") % 5 == 0)
    )
    write_incremental(
        spark, base, b2, "merge_delete", "event_id", "batch_no",
        delete_col="is_deleted",
    )
    b3 = (
        ev.filter(mid & (F.col("event_id") % 10 == 0))
        .withColumn("value", F.col("value") * 3)
        .withColumn("batch_no", F.lit(3))
        .withColumn("is_deleted", F.lit(False))
    )
    store = write_incremental(
        spark, base, b3, "merge_delete", "event_id", "batch_no",
        delete_col="is_deleted",
    )
    return store.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register("ext_graph_pagerank", _PAGERANK_SQL)
def ext_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup candidate graph (ext/cluster.py
    pagerank): which documents sit at the center of duplication clusters —
    a dedup-priority signal. 5 synchronous power iterations, one
    join+groupBy shuffle per round, edge/degree tables materialized once.
    Cross-checked against numpy power iteration in tests/test_cluster.py
    AND hash-checked against a DuckDB oracle that unrolls the same 5
    power iterations as CTEs (6dp rounding absorbs summation-order ulps;
    exact match verified at sf0.001/0.01/0.1)."""
    from ..ext.cluster import pagerank

    docs = load(spark, sf_dir, "documents")
    pairs = ded.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_common=2).filter(
        F.col("jaccard") >= 0.02
    )
    return pagerank(pairs)


@register(
    "ext_sketch_merge",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__ALL__' AS event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events
    """,
)
def ext_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch pattern (Spark 4 DataSketches HLL): build ONE
    sketch per (event_type) group with hll_sketch_agg, then hll_union_agg
    them into a global distinct-user estimate WITHOUT rescanning the data.
    This is how incremental/rollup distinct counting works at 100 TB: the
    per-partition sketch table is tiny, mergeable across days/partitions,
    and never re-reads raw events.

    DataSketches binaries have no DuckDB twin, so the driver-checkable
    contract is (a) the exact distinct count per group and globally, and
    (b) the HLL estimate's bounded-error invariant — including the MERGED
    global estimate, which proves hll_union_agg actually unioned state
    rather than summing or dropping sketches. Raw estimates bound-tested
    in tests/test_approx_sketches.py."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    ok = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
        <= 0.05 * F.col("exact_users")
    )
    per_rows = per_type.select(
        "event_type", "exact_users", ok.alias("approx_within_5pct")
    )
    global_exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_merged")
    )
    total = merged.crossJoin(global_exact).select(
        F.lit("__ALL__").alias("event_type"),
        "exact_users",
        (
            F.abs(F.col("_merged") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )
    return per_rows.unionByName(total)


@register(
    "ext_dedup_keep_best",
    f"""
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
    ), toksq AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
        FROM documents
    ), feat AS (
        SELECT doc_id,
               CAST(len(l) AS INTEGER) AS n_tokens,
               CAST(list_sum(list_transform(l, x -> len(x))) AS DOUBLE)
                   / NULLIF(CAST(len(l) AS DOUBLE), 0) AS avg_len,
               CAST(len(list_filter(l, x -> lower(x) IN {STOPWORDS_SQL})) AS DOUBLE)
                   / NULLIF(CAST(len(l) AS DOUBLE), 0) AS stop_ratio
        FROM toksq
    ), q AS (
        SELECT doc_id,
               {dround('''CASE WHEN n_tokens BETWEEN 50 AND 5000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.2 AS DOUBLE) END
                 + CASE WHEN stop_ratio > 0.02 AND stop_ratio < 0.6 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                 + CASE WHEN avg_len > 2.5 AND avg_len < 12 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END''', 2)} AS quality_score
        FROM feat
    ), labeled AS (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS component,
               q.quality_score
        FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.node
        JOIN q ON q.doc_id = d.doc_id
    ), ranked AS (
        SELECT doc_id, component, quality_score,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY quality_score DESC, doc_id) AS rk
        FROM labeled
    )
    SELECT doc_id, component, quality_score,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM ranked
    """,
)
def ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup DECISION — the capstone pipeline: near-dup
    candidate pairs (stop-shingle-capped n-gram Jaccard) -> connected
    components -> keep the HIGHEST-QUALITY document per cluster (composite
    quality score, doc_id tiebreak), not merely the smallest id. This is
    what production corpus dedup actually ships: when several sources carry
    the same article, the cleanest copy survives. One extra broadcast-sized
    join + per-component window on top of ext_dedup_clusters; oracle =
    recursive-CTE closure + the quality formula + the same argmax."""
    from ..ext.cluster import connected_components
    from ..ext.text import quality_features
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    pairs = ded.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_common=2).filter(
        F.col("jaccard") >= 0.02
    )
    comps = connected_components(pairs)
    q = quality_features(docs).select("doc_id", "quality_score")
    labeled = (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .join(q, "doc_id")
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality_score"), F.col("doc_id"))
    return labeled.select(
        "doc_id",
        "component",
        "quality_score",
        (F.row_number().over(w) == 1).cast("int").alias("is_kept"),
    )


@register(
    "ext_embed_centroids",
    f"""
    SELECT label, CAST(pos - 1 AS INTEGER) AS dim, {dround('AVG(x)', 5)} AS centroid
    FROM (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def ext_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in tidy (label, dim, value) form —
    the building block of k-means/IVF training, per-class drift
    monitoring, and embedding-space diagnostics. posexplode fans each
    vector into (dim, component) rows; one hash aggregate on (label, dim)
    computes the means — cardinality is labels x dims regardless of
    corpus size, partial aggregation absorbs the fan-out map-side, so the
    shuffle stays tiny at 100 TB. Component floats widen to double
    identically on both engines; means rounded at 5 dp (vectors are
    float32 — ~7 significant digits)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 5).alias("centroid"))
    )


@register(
    "ext_mm_audio_frames",
    """
    WITH pos AS (
        SELECT doc_id, text,
               unnest(generate_series(1, CAST(FLOOR(length(text) / 32) * 32 AS BIGINT))) AS i
        FROM documents WHERE length(text) >= 32
    ), v AS (
        SELECT doc_id, CAST(FLOOR((i - 1) / 32) AS INTEGER) AS frame_id,
               ascii(substr(text, i, 1)) AS val
        FROM pos
    )
    SELECT doc_id, frame_id,
           CAST(SUM(val) AS BIGINT) AS energy,
           CAST(MAX(val) AS INTEGER) AS peak
    FROM v GROUP BY doc_id, frame_id
    """,
)
def ext_mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing plumbing (ext/multimodal.py audio_frames_stub): the
    binary payload framed into 32-sample windows with per-frame
    energy/peak — a 1:N fan-out INSIDE the Arrow batch, the mapInPandas
    contract real codecs need (decode_features is the 1:1 sibling). The
    deterministic stub makes even this Pandas path oracle-checkable: the
    payload is ASCII text bytes, so the oracle recomputes frames via
    character-code arithmetic."""
    docs = load(spark, sf_dir, "documents")
    return mm.audio_frames_stub(mm.attach_binary(docs))


@register(
    "ext_mm_phash_dedup",
    """
    WITH px AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              k -> ord(substr(text, ((k * 7) % len(text)) + 1, 1))) AS pixels
        FROM documents WHERE len(text) > 0
    ), m AS (
        SELECT doc_id, pixels, list_sum(pixels) / 64.0 AS pmean FROM px
    ), h AS (
        SELECT doc_id,
               array_to_string(list_transform(pixels,
                   x -> CASE WHEN x > pmean THEN '1' ELSE '0' END), '') AS ahash
        FROM m
    )
    SELECT doc_id, ahash,
           COUNT(*) OVER (PARTITION BY ahash) AS group_size,
           CAST(doc_id = MIN(doc_id) OVER (PARTITION BY ahash) AS INTEGER) AS keep
    FROM h
    """,
)
def ext_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) dedup over the multimodal binary column —
    the image near-dup path: Arrow-batched stub decode to an 8x8 pixel
    grid (ext/multimodal.py decode_pixels; swap in a real decoder without
    touching the rest), then the average-hash computed as NARROW column
    expressions (mean via aggregate(), sign bits via transform()), then
    dedup by identical hash with a keep-lowest-id canonical flag.

    Decode in Python (vectorized, the only place codecs can run), hash in
    the JVM (codegen), dedup as ONE window over the 64-bit hash key —
    payload bytes never shuffle. The stub's byte arithmetic is replicated
    by the oracle via ord(substr(...)) (corpus is ASCII, so char code ==
    payload byte), making this Pandas-UDF path hash-checked rather than
    rows-only."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    px = mm.decode_pixels(mm.attach_binary(docs))
    pm = px.withColumn(
        "pmean",
        F.aggregate("pixels", F.lit(0).cast("bigint"), lambda a, x: a + x) / 64.0,
    )
    h = pm.select(
        "doc_id",
        F.concat_ws(
            "",
            F.transform(
                "pixels",
                lambda x: F.when(x > F.col("pmean"), F.lit("1")).otherwise(F.lit("0")),
            ),
        ).alias("ahash"),
    )
    w = Window.partitionBy("ahash")
    return h.select(
        "doc_id",
        "ahash",
        F.count(F.lit(1)).over(w).alias("group_size"),
        # INT not BOOLEAN: no driver-green precedent exists for boolean
        # value-hashing (round 1's only hash miss was exactly such an
        # unproven-representation case, on DECIMAL)
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int").alias("keep"),
    )


def _semantic_dedup_oracle_sql() -> str:
    """DuckDB twin of ext_dedup_semantic: the shared medoid-cell CTE plus
    the within-cell smaller-id-witness drop rule on the rounded cosine."""
    return f"""
    WITH {_medoid_cells_cte()},
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {dround('list_cosine_similarity(a.v, b.v)', 6)} >= 0.4
    )
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS is_kept
    FROM cells c LEFT JOIN dropped dr ON dr.vec_id = c.vec_id
    """


@register("ext_dedup_semantic", _semantic_dedup_oracle_sql())
def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): quantize
    the embedding space into cells, then WITHIN each cell drop every vector
    that has a higher-priority (lower vec_id) neighbor at cosine >= 0.4 —
    near-duplicate meaning, not just near-duplicate text. Returns
    (vec_id, cell, is_kept).

    Scale shape: the pair join is an EQUI-join on the cell id, so candidate
    cost is sum over cells of |cell|^2, not corpus^2 — the cell fan-out
    replaces LSH banding as the blocking structure (this is exactly how
    SemDeDup runs at web scale: cluster with FAISS, dedup inside clusters).
    Centroids are the md5-medoid seed set shared with ext_ann_ivf
    (ext/ivf.py:medoid_seeds — exact data values both engines derive, which
    is what upgraded this key from rows-only to fully oracle-checked in
    round 7); assignment is a distributed argmin expression.

    Keep rule semantics (deliberate): a vector is dropped when ANY
    smaller-id same-cell neighbor sits at cosine >= threshold — the
    neighbor may itself be dropped, so a similarity CHAIN a~b~c with
    cos(a,c) below threshold keeps only a (one representative per chain,
    not per pairwise-close pair). This single-join rule is what runs in
    one pass at scale; the iterative "kept-only witnesses" variant needs
    a sequential greedy MIS and buys little for dedup. The guarantee
    tests/test_semantic_dedup.py asserts exactly: every dropped vector
    has SOME smaller-id neighbor at >= threshold (kept or dropped)."""
    from ..ext.ivf import shared_cell_index
    from ..ext.similarity import cosine

    # session-shared materialized IVF index (memo family "ivf", ext/ivf.py)
    _, e = shared_cell_index(
        spark, sf_dir, lambda: load(spark, sf_dir, "embeddings"), k=16
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("cell"),
        F.col("_v").alias("va"), F.col("_norm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("cell"),
        F.col("_v").alias("vb"), F.col("_norm").alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            F.round(cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")), 6)
            >= 0.4
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        e.join(dropped.withColumn("_drop", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("_drop").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
                "is_kept"
            ),
        )
    )


@register(
    "join_bucketed_colocate",
    f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           {dround('SUM(l.l_extendedprice)', 2)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via bucketing (operators/scale.py
    write_bucketed): both tables are written bucketBy(8, orderkey), so the
    sort-merge join reads co-located buckets with NO Exchange on either
    side — the layout investment that pays back on every subsequent join
    at 100 TB (tests/test_scale.py proves the no-shuffle plan; this key
    proves the RESULT matches the plain-join oracle). Broadcast is
    disabled inside the key so the bucketed SMJ path is what actually
    runs; the aggregate after the join is the usual partial+final."""
    import shutil as _sh
    import time as _time
    from urllib.parse import urlparse

    from ..operators.scale import write_bucketed

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # the table dirs carry the per-run token and would otherwise accumulate
    # forever: sweep other runs' dirs idle for a day (catalog entries are
    # per-session, only the directories persist)
    cutoff = _time.time() - 86400
    try:
        for d in _os_mod.listdir(wh):
            p = _os_mod.path.join(wh, d)
            if d.startswith("bk_") and _os_mod.path.isdir(p) and _os_mod.path.getmtime(p) < cutoff:
                _sh.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    suffix = f"{_os_mod.path.basename(sf_dir.rstrip('/')).replace('.', '_')}_{_RUN_TOKEN}"
    t_orders, t_lineitem = f"bk_orders_{suffix}", f"bk_lineitem_{suffix}"
    for t in (t_orders, t_lineitem):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _sh.rmtree(_os_mod.path.join(wh, t), ignore_errors=True)
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        t_orders, "o_orderkey", num_buckets=8,
    )
    write_bucketed(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        t_lineitem, "l_orderkey", num_buckets=8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = (
            spark.table(t_lineitem)
            .join(
                spark.table(t_orders),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
        )
        # force the bucketed plan to materialize under the no-broadcast
        # conf, then hand back the (already computed) result
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


@register(
    "ext_store_time_travel",
    f"""
    WITH v0 AS (
        SELECT event_id, value FROM events WHERE event_id < 5000
    ), v1 AS (
        SELECT event_id,
               CASE WHEN event_id >= 2500 THEN value * 2 ELSE value END AS value
        FROM events WHERE event_id < 7500
    )
    SELECT 'current' AS version, COUNT(*) AS n_rows, {dround('SUM(value)', 2)} AS total_value
    FROM v1
    UNION ALL
    SELECT 'previous' AS version, COUNT(*) AS n_rows, {dround('SUM(value)', 2)} AS total_value
    FROM v0
    """,
)
def ext_store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned incremental store (the dependency-free
    Delta `VERSION AS OF`): two merge batches land as v_0 and v_1 with an
    atomic pointer swap; the key reads BOTH the current state and the
    retained previous version and reports each — proving a reader pinned
    to the old version still sees a consistent table mid-upgrade (the
    reader-isolation property _swap_to's retention exists for). The oracle
    derives both version states set-wise from the raw events."""
    import shutil as _sh

    from ..plans.incremental import read_version, write_incremental

    base = _scratch("time_travel", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    b1 = ev.filter(F.col("event_id") < 5000).withColumn("batch_no", F.lit(1))
    write_incremental(spark, base, b1, "merge_latest", "event_id", "batch_no")
    b2 = (
        ev.filter((F.col("event_id") >= 2500) & (F.col("event_id") < 7500))
        .withColumn("value", F.col("value") * 2)
        .withColumn("batch_no", F.lit(2))
    )
    write_incremental(spark, base, b2, "merge_latest", "event_id", "batch_no")

    def summarize(df, tag):
        return df.agg(
            F.lit(tag).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )

    cur = read_version(spark, base, 0)
    prev = read_version(spark, base, 1)
    return summarize(cur, "current").unionByName(summarize(prev, "previous"))
