"""Doubled-rows sweep for the embedding family (the test_fold_scale_sweep
pattern applied to embeddings.parquet).

Every vector gains an id-shifted EXACT clone, which pins two different
kinds of claims:

1. INVARIANCE — spectral statistics that should not move under exact
   duplication: the Gram matrix doubles entry-wise, so the dominant
   eigenvector (quantization is scale-free: the squaring chain rescales
   by the matrix max) and the eigenvalue SHARES (isotropy) are
   identical, while extensive quantities (trace, G.v) double exactly.
   An accidental id- or order-dependence in the Gram build would break
   this.

2. PARITY — strict driver-grade Spark-vs-DuckDB agreement on the
   doubled corpus for the keys whose quantizer re-derives from data
   (md5-medoid seeds pick a DIFFERENT seed set once clones exist; both
   engines must re-derive the identical one). This is the
   duplicate-dense regime for ext_dedup_semantic: every vector has an
   exact twin at cosine 1.0, so every cell is maximally hot and the
   keep-lowest-id rule fires on every row.

The doubled corpus lives in a tmp dir, so this also exercises the
session memo's ``pca`` and ``ivf`` families across a second, non-testdata
sf_dir with their one-live-scope eviction.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from dbt_pro3_spark.memo import clear_session_memo
from dbt_pro3_spark.queries import all_oracle, all_queries

from .parity import compare

SRC = "/root/testdata/sf0.01"
ID_SHIFT = 100_000_000

PARITY_KEYS = [
    "ext_embed_pca_power",
    "ext_embed_pca_project",
    "ext_embed_isotropy",
    "ext_ann_ivf",
    "ext_ann_pq",
    "ext_dedup_semantic",
]


@pytest.fixture(scope="module")
def emb2x_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("emb2x")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SRC}/embeddings.parquet') "
        f"UNION ALL SELECT vec_id + {ID_SHIFT} AS vec_id, embedding, label "
        f"FROM read_parquet('{SRC}/embeddings.parquet')) "
        f"TO '{d}/embeddings.parquet' (FORMAT PARQUET)"
    )
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        os.symlink(f"{SRC}/{t}.parquet", f"{d}/{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck2x(emb2x_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{emb2x_dir}/{t}.parquet')"
        )
    return con


def test_eigvec_invariant_and_extensives_double(spark, emb2x_dir):
    from dbt_pro3_spark.queries.r4_ops import _pca_eigvec

    clear_session_memo()
    gram1, v1 = _pca_eigvec(spark, SRC)
    g1 = {(r["j"], r["k"]): r["g"] for r in gram1.collect()}
    e1 = {r["dim"]: r["eigvec_unit"] for r in v1.collect()}
    clear_session_memo()  # force the doubled corpus to build fresh
    gram2, v2 = _pca_eigvec(spark, emb2x_dir)
    g2 = {(r["j"], r["k"]): r["g"] for r in gram2.collect()}
    e2 = {r["dim"]: r["eigvec_unit"] for r in v2.collect()}
    assert g2 == {k: 2 * v for k, v in g1.items()}, "Gram must double exactly"
    assert e2 == e1, "dominant eigenvector must be duplication-invariant"
    clear_session_memo()


def test_isotropy_shares_invariant_under_doubling(spark, emb2x_dir):
    q = all_queries()["ext_embed_isotropy"]
    a = q(spark, SRC).collect()[0]
    b = q(spark, emb2x_dir).collect()[0]
    assert b["trace_units"] == 2 * a["trace_units"]
    assert b["top_component_share"] == a["top_component_share"]
    assert b["isotropy"] == a["isotropy"]


@pytest.mark.parametrize("name", PARITY_KEYS)
def test_embed_parity_on_doubled_corpus(spark, emb2x_dir, duck2x, name):
    df = all_queries()[name](spark, emb2x_dir)
    errs = compare(df, duck2x, all_oracle()[name], name)
    assert not errs, "\n".join(errs)


def test_ivf_index_build_linear_and_assignment_id_free(spark, emb2x_dir):
    """The IVF session-index legs of the sweep (the graph family's result
    equality applied to the cell index):

    - LINEARITY: the persisted cell index over the doubled corpus has
      exactly 2n rows — cell assignment is a narrow per-row map, so the
      index build grows linearly with the corpus, never super-linearly.
    - ID-FREE ASSIGNMENT: holding the quantizer fixed (the ORIGINAL
      corpus's medoid centroids), every clone lands in exactly its
      original's cell — assignment depends on the vector alone, not on
      ids or row order."""
    from pyspark.sql import functions as F

    from dbt_pro3_spark.ext.ivf import _assign_cells, shared_cell_index
    from dbt_pro3_spark.ext.similarity import with_norm

    clear_session_memo()
    cents, _ = shared_cell_index(
        spark, SRC, lambda: spark.read.parquet(f"{SRC}/embeddings.parquet"), k=16
    )
    emb2 = spark.read.parquet(f"{emb2x_dir}/embeddings.parquet")
    n = spark.read.parquet(f"{SRC}/embeddings.parquet").count()
    cells2 = _assign_cells(with_norm(emb2), cents, "_v").select("vec_id", "cell")
    assert cells2.count() == 2 * n
    orig = cells2.filter(F.col("vec_id") < ID_SHIFT)
    clone = cells2.filter(F.col("vec_id") >= ID_SHIFT).select(
        (F.col("vec_id") - ID_SHIFT).alias("vec_id"), F.col("cell").alias("cell_clone")
    )
    mism = orig.join(clone, "vec_id").filter(F.col("cell") != F.col("cell_clone"))
    assert mism.count() == 0, mism.limit(5).collect()
    clear_session_memo()


def test_ivf_probe_finds_exact_clone(spark, emb2x_dir):
    """Probe exactness on the doubled corpus: searching the doubled index
    (fixed original-corpus quantizer), every query's exact clone sits in
    its probed cell, so it MUST surface in the top-k at cosine 1.0 — an
    IVF probe that misses a same-cell exact duplicate is broken."""
    from pyspark.sql import functions as F

    from dbt_pro3_spark.ext.ivf import _assign_cells, shared_cell_index, topk_ivf
    from dbt_pro3_spark.ext.similarity import with_norm

    clear_session_memo()
    cents, _ = shared_cell_index(
        spark, SRC, lambda: spark.read.parquet(f"{SRC}/embeddings.parquet"), k=16
    )
    emb2 = spark.read.parquet(f"{emb2x_dir}/embeddings.parquet")
    cells2 = _assign_cells(with_norm(emb2), cents, "_v").select(
        "vec_id", "_v", "_norm", "cell"
    )
    queries = emb2.filter(F.col("vec_id") < 10)
    top = topk_ivf(queries, emb2, cents, k=5, nprobe=2, corpus_cells=cells2).collect()
    by_query: dict[int, list] = {}
    for r in top:
        by_query.setdefault(r["query_id"], []).append(r)
    assert sorted(by_query) == list(range(10))
    for qid, rows in by_query.items():
        clone_hits = [r for r in rows if r["vec_id"] == qid + ID_SHIFT]
        assert clone_hits, f"query {qid}: exact clone missing from top-5: {rows}"
        assert clone_hits[0]["cosine"] == 1.0
    clear_session_memo()


def test_semantic_dedup_drops_every_clone(spark, emb2x_dir):
    """Sanity anchor: each vector has an exact twin (cosine 1.0 >= the 0.4
    threshold, same cell by construction), so every CLONE id must be
    dropped and every kept id must be an original."""
    df = all_queries()["ext_dedup_semantic"](spark, emb2x_dir)
    rows = df.collect()
    clones_kept = [r for r in rows if r["vec_id"] >= ID_SHIFT and r["is_kept"] == 1]
    assert not clones_kept, clones_kept[:5]
