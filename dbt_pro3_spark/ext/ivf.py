"""IVF-style approximate nearest neighbor search.

The second of the two classic ANN scale paths (the other is sign-LSH in
similarity.py): partition the corpus into Voronoi cells around centroids,
then search only the query's nearest cell(s).

Centroids here are learned with a few deterministic Lloyd iterations over a
seeded sample — collected to the driver ONLY for the centroid set (k
vectors, bytes), never the corpus. Assignment is a pure Column expression:
the centroid matrix is baked into the plan as literals, so cell assignment
is a narrow map over the corpus (no shuffle, no UDF), exactly how an IVF
index builds at 100 TB (one pass to assign, shuffle by cell only if
physically clustering the layout).

nprobe > 1 trades cost for recall by scanning several nearest cells.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..memo import session_memo
from .similarity import as_double, cosine, l2_norm, with_norm


def _dist2_to(vec: Column, centroid: list[float]) -> Column:
    # aggregate/zip_with fold, not an unrolled element_at sum — see
    # similarity.dot for why (element_at re-inlines computed array children)
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
    )


def train_centroids(
    df: DataFrame, vec_col: str = "embedding", k: int = 16, iters: int = 5, seed: int = 42
) -> list[list[float]]:
    """Deterministic mini k-means on a bounded sample (the FAISS-IVF
    training recipe): ONE distributed action collects <= 2048 vectors, then
    Lloyd iterations run driver-side in numpy over that sample. Cluster
    ASSIGNMENT (the part proportional to corpus size) stays a distributed
    argmin expression in _assign_cells; only k centroids and the sample
    cross the driver boundary."""
    x = with_norm(df, vec_col).select("_v")
    sample = np.array(
        [r["_v"] for r in x.limit(2048).collect()], dtype=np.float64
    )
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        # dist2 matrix sample x centroids -> argmin cell -> per-cell mean
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cells = d2.argmin(axis=1)
        for c in range(k):
            members = sample[cells == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def medoid_seeds(
    df: DataFrame, k: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic medoid coarse quantizer: the k corpus vectors with the
    smallest md5(id) (id tiebreak) ARE the centroids. No float training —
    the centroid set is exact data values selected by a string hash both
    Spark and DuckDB compute identically, which is what makes ext_ann_ivf's
    output fully oracle-checkable (a k-means quantizer's iterated float
    means cannot be reproduced bit-exactly in SQL; a hash-sampled medoid
    set can). Statistically this is k-means with zero Lloyd iterations over
    a uniform sample — a standard IVF seeding; recall floors are pinned in
    tests/test_ann_recall.py. Only k rows cross the driver boundary."""
    rows = (
        as_double_df(df, vec_col)
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(k)
        .select("_v")
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def as_double_df(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn("_v", as_double(F.col(vec_col)))


def _assign_cells(df: DataFrame, centroids: list[list[float]], vec_col: str) -> DataFrame:
    """Nearest-centroid cell id as a pure expression (argmin over k dist2)."""
    dists = F.array(*[_dist2_to(F.col(vec_col), c) for c in centroids])
    cell = F.array_position(dists, F.array_min(dists)).cast("int") - 1
    return df.withColumn("cell", cell)


# ---------------------------------------------------------------------------
# Shared IVF index — family ``ivf`` of the session memo (memo.py)
# ---------------------------------------------------------------------------
# ext_ann_ivf, ext_ann_pq and ext_dedup_semantic all start from the SAME
# md5-medoid seed set for a given corpus, and the first and last also from
# the same cell-assigned corpus. An IVF index is built once and stored in
# production (FAISS trains + assigns, then every query searches the stored
# index), so the steady-state cost of a search starts AT the index. k is
# part of the scope: a k=16 build must never answer a k=32 request with 16
# seeds (latent until a second k appears, but silent then).


def shared_medoid_seeds(spark, sf_dir: str, emb_fn, k: int = 16) -> list[list[float]]:
    """medoid_seeds for sf_dir's embeddings, memoized per (session, sf_dir,
    k): one bounded k-row collect per session instead of per key.
    emb_fn() must return the embeddings frame; only called on a miss."""
    return session_memo(spark, "ivf", (sf_dir, k), "seeds", lambda: medoid_seeds(emb_fn(), k=k))


def shared_cell_index(spark, sf_dir: str, emb_fn, k: int = 16):
    """(centroids, cells): the shared medoid centroids plus the PERSISTED
    cell-assigned corpus (vec_id, _v, _norm, cell) — the materialized IVF
    index both ext_ann_ivf and ext_dedup_semantic search. The returned
    cells frame is stamped with the centroid set that assigned it
    (_ivf_centroids attribute) so topk_ivf can reject a mismatched
    (centroids, corpus_cells) pair."""

    def build() -> DataFrame:
        cents = shared_medoid_seeds(spark, sf_dir, emb_fn, k=k)
        cells = (
            _assign_cells(with_norm(emb_fn()), cents, "_v")
            .select("vec_id", "_v", "_norm", "cell")
            .persist()
        )
        cells._ivf_centroids = cents
        return cells

    cells = session_memo(spark, "ivf", (sf_dir, k), "cells", build)
    return cells._ivf_centroids, cells


def topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """Search only the ``nprobe`` nearest cells per query.

    Output matches topk_bruteforce's shape: (query_id, vec_id, cosine, rk).
    Pass ``corpus_cells`` (an (id, _v, _norm, cell) frame, e.g. from
    shared_cell_index) to search a pre-built index instead of assigning
    the corpus in-plan; ``corpus``/``vec_col`` are then ignored, and the
    cells MUST have been assigned with the same ``centroids`` — probing
    cells built from a different quantizer silently returns wrong
    neighbors. Frames from shared_cell_index carry the assigning centroid
    set as a stamp, which is verified here; hand-built frames are the
    caller's contract."""
    if corpus_cells is not None:
        stamp = getattr(corpus_cells, "_ivf_centroids", None)
        if stamp is not None and stamp != centroids:
            # the realistic mismatch has EQUAL lengths (same k, different
            # corpus/sf_dir rebuild), so name the first diverging centroid
            diff = next(
                (i for i, (a, b) in enumerate(zip(stamp, centroids)) if a != b),
                min(len(stamp), len(centroids)),
            )
            raise ValueError(
                "topk_ivf: corpus_cells was assigned with a different "
                f"centroid set than the one passed (stamp has {len(stamp)} "
                f"centroids, passed {len(centroids)}; first divergence at "
                f"index {diff}); probe cells and quantizer must match"
            )
        c = corpus_cells
    else:
        c = _assign_cells(with_norm(corpus, vec_col), centroids, "_v").select(
            id_col, "_v", "_norm", "cell"
        )
    qn = with_norm(queries, vec_col)
    dists = F.array(*[_dist2_to(F.col("_v"), cen) for cen in centroids])
    # nprobe nearest cells: sort (dist, idx) pairs structurally
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.arrays_zip(dists.alias("d"), idx.alias("i"))
    probed = F.slice(F.array_sort(pairs), 1, nprobe)
    q = qn.select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
        F.explode(F.transform(probed, lambda p: p.getField("i").cast("int"))).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(
                cosine(F.col("_qv"), F.col("_qnorm"), F.col("_v"), F.col("_norm")), round_to
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
