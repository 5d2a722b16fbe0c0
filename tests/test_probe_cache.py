"""Lifecycle contract for the memoized embedding-probe broadcasts
(r4d_ops._probe_broadcasts, session-memo family ``probe``) — the round-7
fix for the round-6 leak where every _topk_scored call created three fresh
broadcasts (45+ live by the end of a full bench, degrading sibling keys
2-4x)."""

from __future__ import annotations

from dbt_pro3_spark.memo import clear_session_memo
from dbt_pro3_spark.queries.r4d_ops import _probe_broadcasts

from .conftest import memo_entries, memo_scopes

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def test_probe_cache_memoizes_and_holds_one_entry(spark):
    clear_session_memo()
    a = _probe_broadcasts(spark, SF1)
    assert len(memo_entries("probe")) == 1
    assert _probe_broadcasts(spark, SF1) is a, "same sf_dir must hit cache"
    # a different sf_dir EVICTS the old trio — never two live at once
    b = _probe_broadcasts(spark, SF2)
    assert len(memo_entries("probe")) == 1
    assert memo_scopes("probe") == {SF2}
    assert b is not a
    # the evicted trio's broadcasts were unpersisted but stay readable on
    # the driver (Spark keeps the driver-side value); the live one works
    assert b[0].value is not None
    clear_session_memo()
    assert len(memo_entries("probe")) == 0


def test_probe_values_are_sorted_and_consistent(spark):
    clear_session_memo()
    b_ids, b_mat, b_norms = _probe_broadcasts(spark, SF1)
    ids, mat, norms = b_ids.value, b_mat.value, b_norms.value
    assert list(ids) == sorted(ids), "probe rows must be vec_id-sorted"
    assert mat.shape[0] == len(ids) == len(norms)
    import numpy as np

    assert np.allclose(np.linalg.norm(mat, axis=1), norms)
    clear_session_memo()
