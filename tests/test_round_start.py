"""Round-start probes: fail LOUDLY in tests (not in the driver hash) when
regenerated testdata breaks an assumption a driver oracle depends on.

Why these exist (ADVICE.md round 2):
- The identity oracles for ext_stream_dedup / ext_stream_foreachbatch_merge
  are strict only while event_id is unique in the events table. If a future
  round ships duplicate event_ids, these probes fail first, with an error
  message naming the keys to fix.
- The driver has shipped multiple physical ts encodings across rounds
  (ns-as-BIGINT, micros TIMESTAMP_NTZ, plain TIMESTAMP). normalize_ts
  branches on magnitude; this pins that the decoded values are plausible
  wall-clock times, so a new encoding surfaces here, not as 1000x-shifted
  watermarks inside streaming tests.
"""

from __future__ import annotations

import glob
import os
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parent.parent
SF_DIRS = [d for d in glob.glob("/root/testdata/sf*") if os.path.isdir(d)]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_event_id_unique(sf_dir):
    con = duckdb.connect()
    n, nd = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT event_id) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert n == nd, (
        f"{sf_dir}: events.event_id has duplicates ({n} rows, {nd} distinct). "
        "The identity oracles for ext_stream_dedup and "
        "ext_stream_foreachbatch_merge assume uniqueness — make them "
        "dedup-aware (deterministic survivor) before the driver run."
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_ts_decodes_to_plausible_epoch(spark, sf_dir):
    from dbt_pro3_spark.sources.readers import load

    ev = load(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp", (
        f"ts normalized to {dict(ev.dtypes)['ts']}, not timestamp"
    )
    row = ev.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
    assert row.lo.year >= 2000 and row.hi.year <= 2100, (
        f"{sf_dir}: normalize_ts produced implausible range [{row.lo}, {row.hi}] "
        "— a new physical encoding slipped past the magnitude branch in "
        "sources/readers.py normalize_ts."
    )


def test_exact_embedding_pairs_guard(spark):
    """The exact all-pairs cosine primitive must refuse oversized inputs."""
    from dbt_pro3_spark.ext.dedup import embedding_near_pairs

    df = spark.range(10).selectExpr(
        "id AS vec_id", "array(cast(id as float), 1.0f) AS embedding"
    )
    with pytest.raises(ValueError, match="verify primitive"):
        embedding_near_pairs(df, max_rows=5)
    # and passes when bounded
    out = embedding_near_pairs(df, threshold=-1.0, max_rows=100)
    assert out.count() == 45


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_documents_text_is_ascii(sf_dir):
    """The multimodal stub-codec oracles (ext_mm_phash_dedup,
    ext_mm_blur_detect) replicate payload bytes via ord(substr(text, ...)),
    which equals the UTF-8 byte only while text is pure ASCII. A
    regenerated corpus with multibyte characters breaks that equivalence —
    fail here with the keys named, not in the driver hash."""
    con = duckdb.connect()
    n_bad = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE length(text) <> strlen(text)"
    ).fetchone()[0]
    assert n_bad == 0, (
        f"{sf_dir}: {n_bad} documents contain non-ASCII text; the "
        "ord(substr(...)) byte-replication trick in the ext_mm_phash_dedup "
        "and ext_mm_blur_detect oracles no longer equals the payload byte — "
        "switch those oracles to a bytes-based replication before the "
        "driver run."
    )


def test_driver_window_lands_on_never_sampled_keys():
    """Rotation guard: the driver samples the FIRST ~50 keys of queries()
    each round, so as long as never-sampled keys remain, the head of the
    ordering must contain no already-verified key. A stale _DRIVER_VERIFIED
    (forgetting to fold in the previous round's greens) or an ordering
    regression would waste the round's sampling window re-proving known
    greens — this pins the mechanics, not just the convention."""
    from dbt_pro3_spark.queries import _DRIVER_VERIFIED, all_queries

    keys = list(all_queries())
    fresh = [k for k in keys if k not in _DRIVER_VERIFIED]
    window = keys[: min(50, len(fresh))]
    stale = [k for k in window if k in _DRIVER_VERIFIED]
    assert stale == [], (
        f"driver window contains {len(stale)} already-verified keys "
        f"({stale[:5]}...) while {len(fresh)} never-sampled keys remain — "
        "rotate _DRIVER_VERIFIED (queries/__init__.py) with the latest "
        "CORRECTNESS round's greens"
    )


def _correctness_greens():
    """(artifact_basename, key) for every fully-green row — rows+schema+
    hash all True — across every driver CORRECTNESS artifact. The single
    definition of 'driver-green' shared by the forward and reverse
    fold-in guards below, so the two can never drift apart on what green
    means. Resolved against this checkout, and an empty glob is an error:
    with no artifact the forward guard would pass without checking."""
    import json

    paths = sorted(ROOT.glob("CORRECTNESS_r*.json"))
    assert paths, f"no CORRECTNESS_r*.json artifact under {ROOT}"
    for path in paths:
        for key, r in json.loads(path.read_text()).items():
            if r.get("rows_match") and r.get("schema_match") and r.get("hash_match"):
                yield path.name, key


def test_driver_verified_covers_every_correctness_green():
    """Fold-in completeness guard: _DRIVER_VERIFIED must contain EVERY key
    any round's driver CORRECTNESS artifact recorded as fully green
    (rows+schema+hash). test_driver_window_lands_on_never_sampled_keys
    catches a stale set only when a verified key drifts into the sampling
    window; this one catches a PARTIAL fold-in anywhere in the set, and
    reads the artifacts themselves so the check can never disagree with
    the ground truth the judge reads."""
    from dbt_pro3_spark.queries import _DRIVER_VERIFIED

    missing = {}
    for artifact, key in _correctness_greens():
        if key not in _DRIVER_VERIFIED:
            missing.setdefault(artifact, []).append(key)
    assert not missing, (
        f"driver-green keys not folded into _DRIVER_VERIFIED "
        f"(queries/__init__.py): {missing} — fold in the latest round's "
        "CORRECTNESS greens at round start"
    )


def test_driver_verified_contains_no_unverified_key():
    """Reverse fold-in guard: every key IN _DRIVER_VERIFIED must have a
    fully-green (rows+schema+hash) row in SOME CORRECTNESS artifact — a
    key added by mistake (draft list, rows-only row promoted) would
    otherwise rotate permanently out of the sampling window without ever
    being driver-verified. ext_dedup_fuzzy is the single documented
    exception: rows-only by design (pyspark.ml banding has no SQL twin),
    its r03 row is the strongest check the driver can run for it."""
    from dbt_pro3_spark.queries import _DRIVER_VERIFIED

    green = {key for _artifact, key in _correctness_greens()}
    unverified = _DRIVER_VERIFIED - green - {"ext_dedup_fuzzy"}
    assert not unverified, (
        f"keys in _DRIVER_VERIFIED with no fully-green CORRECTNESS row: "
        f"{sorted(unverified)} — they would never be driver-sampled; "
        "remove them so the rotation re-samples them"
    )
