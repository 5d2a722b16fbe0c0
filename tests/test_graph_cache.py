"""Lifecycle contract for the session-shared graph index (session-memo
family ``graph``, ext/graph.py) — the persisted basket/adjacency frames the
nine graph-family keys share, under the same policy as the embedding probe
broadcasts (tests/test_probe_cache.py): at most ONE live sf_dir per Spark
application, a new sf_dir evicts the old one, an explicit clear releases
storage."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_pro3_spark.ext.graph import (
    adjacency_sets,
    order_part_pairs,
    shared_adjacency,
    shared_baskets,
)
from dbt_pro3_spark.memo import clear_session_memo

from .conftest import memo_entries, memo_scopes

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def _li_fn(spark, sf_dir):
    return lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )


def test_graph_cache_memoizes_and_holds_one_entry(spark):
    clear_session_memo()
    a = shared_baskets(spark, SF1, _li_fn(spark, SF1))
    assert memo_scopes("graph") == {SF1}
    assert shared_baskets(spark, SF1, _li_fn(spark, SF1)) is a
    # adjacency joins the SAME scope (one corpus, two parts)
    adj = shared_adjacency(spark, SF1, _li_fn(spark, SF1))
    assert memo_scopes("graph") == {SF1}
    assert {part for _, _, part in memo_entries("graph")} == {"bas", "adj"}
    assert shared_adjacency(spark, SF1, _li_fn(spark, SF1)) is adj
    # a different sf_dir EVICTS the old scope — never two corpora live
    b = shared_baskets(spark, SF2, _li_fn(spark, SF2))
    assert memo_scopes("graph") == {SF2}
    assert len(memo_entries("graph")) == 1
    assert b is not a
    assert not a.storageLevel.useMemory and not adj.storageLevel.useMemory
    assert b.storageLevel.useMemory, "cached frame must be persisted"
    clear_session_memo()
    assert len(memo_entries("graph")) == 0
    assert not b.storageLevel.useMemory, "clear must release storage"


def test_li_fn_only_called_on_miss(spark):
    clear_session_memo()
    calls = {"n": 0}

    def li_fn():
        calls["n"] += 1
        return spark.read.parquet(f"{SF1}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )

    shared_baskets(spark, SF1, li_fn)
    shared_adjacency(spark, SF1, li_fn)
    shared_baskets(spark, SF1, li_fn)
    assert calls["n"] == 1, "loader must run once per (session, sf_dir)"
    clear_session_memo()


def test_shared_frames_match_unshared_builders(spark):
    """The cached frames are VALUE-identical to the per-call builders the
    oracles were proven against (basket_arrays/adjacency_sets)."""
    clear_session_memo()
    li = spark.read.parquet(f"{SF1}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    bas = shared_baskets(spark, SF1, _li_fn(spark, SF1))
    adj = shared_adjacency(spark, SF1, _li_fn(spark, SF1))
    # edge set via the cached adjacency == the unit-proven pair builder
    cached_edges = {
        (r["u"], r["v"])
        for r in adj.select(
            F.col("node").alias("u"),
            F.explode(
                F.filter("nbrs", lambda n: n > F.col("node"))
            ).alias("v"),
        ).collect()
    }
    plain_edges = {(r["u"], r["v"]) for r in order_part_pairs(li).collect()}
    assert cached_edges == plain_edges
    # basket arrays row-for-row
    got = {r["l_orderkey"]: r["ps"] for r in bas.collect()}
    want = {
        r["l_orderkey"]: sorted({x for x in r["parts"]})
        for r in li.groupBy("l_orderkey")
        .agg(F.collect_list("l_partkey").alias("parts"))
        .collect()
    }
    assert got == want
    # adjacency value parity against the per-call builder
    got_adj = {r["node"]: r["nbrs"] for r in adj.collect()}
    want_adj = {r["node"]: r["nbrs"] for r in adjacency_sets(li).collect()}
    assert got_adj == want_adj
    clear_session_memo()
