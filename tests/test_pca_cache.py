"""Lifecycle contract for the memoized PCA (gram, v) pair
(r4_ops._pca_eigvec, session-memo family ``pca``) — shared by
ext_embed_pca_power / _pca_project / _embed_isotropy, one live corpus at a
time like the probe broadcasts."""

from __future__ import annotations

from dbt_pro3_spark.memo import clear_session_memo
from dbt_pro3_spark.queries.r4_ops import _pca_eigvec

from .conftest import memo_entries, memo_scopes

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def test_pca_cache_memoizes_and_holds_one_entry(spark):
    clear_session_memo()
    a = _pca_eigvec(spark, SF1)
    assert len(memo_entries("pca")) == 1
    assert _pca_eigvec(spark, SF1) is a, "same sf_dir must hit cache"
    gram, v = a
    assert gram.storageLevel.useMemory and v.storageLevel.useMemory
    # a different sf_dir EVICTS the old pair — never two corpora live
    b = _pca_eigvec(spark, SF2)
    assert len(memo_entries("pca")) == 1
    assert memo_scopes("pca") == {SF2}
    assert b is not a
    assert not gram.storageLevel.useMemory and not v.storageLevel.useMemory
    clear_session_memo()
    assert len(memo_entries("pca")) == 0
    assert not any(df.storageLevel.useMemory for df in b), "clear must release storage"


def test_pca_cached_values_are_corpus_correct(spark):
    """The cached eigenvector matches numpy's dominant eigenvector of the
    quantized Gram (cosine ~ 1 up to quantization), guarding against a
    stale or cross-corpus cache hit."""
    import numpy as np

    clear_session_memo()
    gram, v = _pca_eigvec(spark, SF1)
    g = np.zeros((64, 64))
    for r in gram.collect():
        g[r["j"], r["k"]] = r["g"]
    w, vecs = np.linalg.eigh(g)
    top = vecs[:, np.argmax(w)]
    got = np.zeros(64)
    for r in v.collect():
        got[r["dim"]] = r["eigvec_unit"]
    cos = abs(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top))
    assert cos > 0.999, cos
    clear_session_memo()
