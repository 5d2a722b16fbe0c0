"""PQ recall vs exact brute force — the accuracy contract for ext_ann_pq
(same pattern as test_ann_recall.py). The key is also fully hash-checked
against its DuckDB oracle (medoid codebooks are dual-engine exact); this
test additionally pins that the compressed shortlist retrieves TRUE
neighbors, which a hash match alone would not prove is above a broken
encoder's null.

PQ differs from LSH/IVF: it scans the WHOLE corpus but in 32x-compressed
code space, so its null is not a scanned fraction — reconstruction
quality governs recall. On the adversarial random corpus (no planted
neighbors, true top-5 at cosine ≈ 0.4-0.5) the measured recall@5 with
8x16 medoid codebooks + exact re-rank of a 5k shortlist is 0.40; the
bound below leaves margin for a regenerated-corpus shift while staying
far above what a broken encoder (≈ random shortlist, recall ≈ 25/499 ≈
0.05) could produce."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dbt_pro3_spark.queries import all_queries

from .conftest import SF_DIR


def _pairs(df):
    return {(r["query_id"], r["vec_id"]) for r in df.collect()}


def test_pq_recall_beats_random_shortlist(spark):
    q = all_queries()
    truth = _pairs(q["ext_topk_cosine"](spark, SF_DIR))
    assert truth, "brute-force ground truth is empty"
    pq = _pairs(q["ext_ann_pq"](spark, SF_DIR))
    recall = len(truth & pq) / len(truth)
    assert recall >= 0.3, f"PQ recall {recall:.3f} below 0.3 floor"


def test_pq_codes_are_valid_and_deterministic(spark):
    from dbt_pro3_spark.ext import pq as pqm
    from dbt_pro3_spark.sources.readers import load

    emb = load(spark, SF_DIR, "embeddings")
    books = pqm.medoid_codebooks(emb, "embedding", m=8, ks=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    coded = pqm.encode(emb, books, "embedding")
    stats = coded.select(
        F.size("pq_codes").alias("m"),
        F.array_min("pq_codes").alias("lo"),
        F.array_max("pq_codes").alias("hi"),
    ).agg(
        F.min("m").alias("m_min"), F.max("m").alias("m_max"),
        F.min("lo").alias("lo"), F.max("hi").alias("hi"),
    ).collect()[0]
    assert stats["m_min"] == stats["m_max"] == 8
    assert 0 <= stats["lo"] and stats["hi"] <= 15
    # deterministic: re-deriving yields identical codebooks
    books2 = pqm.medoid_codebooks(emb, "embedding", m=8, ks=16)
    assert books == books2


def test_table_lit_bakes_non_finite_doubles(spark):
    """inf/nan have no SQL literal form; the baked table must still parse
    and read back the exact values."""
    from dbt_pro3_spark.ext.pq import _table_lit

    book = [[1.5, float("inf")], [float("nan"), -0.1]]
    got = spark.range(1).select(_table_lit(book).alias("t")).collect()[0]["t"]
    assert got[0] == [1.5, float("inf")]
    assert math.isnan(got[1][0]) and got[1][1] == -0.1
