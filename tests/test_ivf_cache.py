"""Lifecycle contract for the session-shared IVF index (session-memo
family ``ivf``, ext/ivf.py) used by ext_ann_ivf / ext_ann_pq /
ext_dedup_semantic — one live (sf_dir, k) scope at a time, like the other
memo families (probe, graph, PCA)."""

from __future__ import annotations

from dbt_pro3_spark.ext.ivf import (
    medoid_seeds,
    shared_cell_index,
    shared_medoid_seeds,
)
from dbt_pro3_spark.memo import clear_session_memo

from .conftest import memo_entries, memo_scopes

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def _emb_fn(spark, sf_dir):
    return lambda: spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_ivf_cache_memoizes_and_holds_one_entry(spark):
    clear_session_memo()
    seeds = shared_medoid_seeds(spark, SF1, _emb_fn(spark, SF1), k=16)
    assert memo_scopes("ivf") == {(SF1, 16)}
    assert shared_medoid_seeds(spark, SF1, _emb_fn(spark, SF1), k=16) is seeds
    cents, cells = shared_cell_index(spark, SF1, _emb_fn(spark, SF1), k=16)
    assert cents is seeds, "cell index must reuse the cached seed set"
    assert cells._ivf_centroids is seeds, "cell index must carry its centroid stamp"
    assert memo_scopes("ivf") == {(SF1, 16)}
    assert cells.storageLevel.useMemory, "cell index must be persisted"
    _, cells2 = shared_cell_index(spark, SF1, _emb_fn(spark, SF1), k=16)
    assert cells2 is cells
    # a different sf_dir EVICTS the old scope
    other = shared_medoid_seeds(spark, SF2, _emb_fn(spark, SF2), k=16)
    assert memo_scopes("ivf") == {(SF2, 16)}
    assert len(memo_entries("ivf")) == 1
    assert other is not seeds
    assert not cells.storageLevel.useMemory, "evicted cell index must be released"
    # k is part of the scope: a k=8 request never reads the k=16 seeds
    eight = shared_medoid_seeds(spark, SF2, _emb_fn(spark, SF2), k=8)
    assert len(eight) == 8
    assert memo_scopes("ivf") == {(SF2, 8)}
    _, cells8 = shared_cell_index(spark, SF2, _emb_fn(spark, SF2), k=8)
    clear_session_memo()
    assert len(memo_entries("ivf")) == 0
    assert not cells8.storageLevel.useMemory, "clear must release storage"


def test_shared_seeds_match_uncached_builder(spark):
    clear_session_memo()
    emb = spark.read.parquet(f"{SF1}/embeddings.parquet")
    cached = shared_medoid_seeds(spark, SF1, _emb_fn(spark, SF1), k=16)
    plain = medoid_seeds(emb, k=16)
    assert cached == plain
    # the cached cell assignment covers the whole corpus exactly once
    _, cells = shared_cell_index(spark, SF1, _emb_fn(spark, SF1), k=16)
    assert cells.count() == emb.count()
    n_cells = cells.select("cell").distinct().count()
    assert 1 <= n_cells <= 16
    clear_session_memo()
