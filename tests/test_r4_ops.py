"""Semantic tests for queries/r4_ops.py — known-answer and invariant
checks pinning each operator's math independently of the DuckDB oracle."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from dbt_pro3_spark.queries import all_queries
from dbt_pro3_spark.queries.r4_ops import (
    BOOT_THRESH,
    BOOT_WMAX,
    COS_TOPK,
    PCA_MAT_UNITS,
    PCA_UNITS,
)
from dbt_pro3_spark.sources.readers import load

from .conftest import SF_DIR

_Q = all_queries()


def test_pca_power_matches_numpy_dominant_eigvec(spark):
    """The quantized power-iteration vector must align with numpy's
    dominant eigenvector of the SAME quantized Gram matrix (|cos| > 0.999
    after 8 iterations — the spectral gap of real embedding data makes
    convergence fast)."""
    out = {r["dim"]: r for r in _Q["ext_embed_pca_power"](spark, SF_DIR).collect()}
    assert len(out) == 64
    emb = load(spark, SF_DIR, "embeddings").select("embedding").collect()
    X = np.array([[round(float(v) * PCA_UNITS) for v in r["embedding"]] for r in emb])
    G = X.T @ X
    vals, vecs = np.linalg.eigh(G)
    e1 = vecs[:, -1]
    v = np.array([out[j]["eigvec_unit"] for j in range(64)], dtype=float)
    cos = abs(v @ e1) / (np.linalg.norm(v) * np.linalg.norm(e1))
    assert cos > 0.999, f"cosine to dominant eigvec {cos}"
    # Rayleigh quotient from the returned columns approximates lambda_max
    w = np.array([out[j]["gram_vec_unit"] for j in range(64)], dtype=float)
    lam = (v @ w) / (v @ v)
    assert abs(lam - vals[-1]) / vals[-1] < 0.001


def test_pca_power_iteration_quantization_bound(spark):
    """Every intermediate must stay below 2^53 so the cross-engine double
    conversions are exact — the squaring bound is corpus-independent
    (d * units^2); recheck the corpus-dependent Rayleigh bound on data."""
    assert 64 * PCA_MAT_UNITS**2 < 2**53
    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    max_abs = emb.select(
        F.max(F.abs(F.expr("aggregate(embedding, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))")))
    ).collect()[0][0]
    g_max = n * (max_abs * PCA_UNITS) ** 2
    w_max = 64 * g_max * PCA_UNITS
    assert w_max < 2**53


def test_bootstrap_thresholds_are_poisson1_cdf():
    cdf = 0.0
    for k, t in enumerate(BOOT_THRESH):
        cdf += math.exp(-1.0) / math.factorial(k)
        assert t == int(math.floor(cdf * 2**32))
    assert len(BOOT_THRESH) == BOOT_WMAX


def test_bootstrap_ci_brackets_point_estimate(spark):
    """Each segment's CI must contain its point estimate (Poisson
    bootstrap replicate means center on the sample mean), be ordered, and
    have width shrinking-ish relative to the mean (sanity, not a sharp
    bound)."""
    rows = _Q["ext_bootstrap_ci"](spark, SF_DIR).collect()
    assert len(rows) == 5  # TPC-H market segments
    for r in rows:
        assert r["boot_lo"] <= r["mean_price"] <= r["boot_hi"], r
        width = r["boot_hi"] - r["boot_lo"]
        assert 0 < width < r["mean_price"] * 0.5, r


def test_label_prop_is_cc_prefix(spark):
    """After LP_ROUNDS rounds every community label must be (a) a real
    node id, (b) <= the node's own id, and (c) consistent within an
    edge's endpoints after FULL convergence would merge them — i.e. label
    propagation never crosses a connected-component boundary: two nodes
    in different components can never share a label."""
    out = _Q["ext_graph_label_prop"](spark, SF_DIR)
    rows = out.collect()
    nodes = {r["partkey"] for r in rows}
    lab = {r["partkey"]: r["community"] for r in rows}
    assert set(lab.values()) <= nodes
    assert all(lab[v] <= v for v in lab)
    # community_size is consistent
    from collections import Counter

    sizes = Counter(lab.values())
    for r in rows:
        assert r["community_size"] == sizes[r["community"]]
    # labels only travel along edges: rebuild the edge list and union-find
    # full components; any two nodes sharing a label must share a component
    li = load(spark, SF_DIR, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    edges = (
        op.alias("a").join(op.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("s"), F.col("b.pk").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .collect()
    )
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in edges:
        ra, rb = find(e["s"]), find(e["d"])
        if ra != rb:
            parent[ra] = rb
    by_label = {}
    for v, l in lab.items():
        by_label.setdefault(l, set()).add(find(v))
    for l, comps in by_label.items():
        assert len(comps) == 1, f"label {l} spans components"


def test_cooccur_cosine_recompute_and_bounds(spark):
    """cosine_sim must equal c_ab/sqrt(c_a*c_b) recomputed from raw
    baskets, lie in (0, 1], and each item lists at most COS_TOPK
    neighbors in strictly rank order."""
    rows = _Q["ext_item_cooccur_cosine"](spark, SF_DIR).collect()
    assert rows
    li = load(spark, SF_DIR, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().collect()
    from collections import Counter, defaultdict

    orders = defaultdict(set)
    for r in op:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    deg = Counter()
    pair = Counter()
    for parts in orders.values():
        ps = sorted(parts)
        deg.update(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair[(a, b)] += 1
    per_item = defaultdict(list)
    for r in rows:
        a, b = min(r["item"], r["neighbor"]), max(r["item"], r["neighbor"])
        assert pair[(a, b)] == r["cooccur"] >= 2
        expect = pair[(a, b)] / math.sqrt(deg[r["item"]] * deg[r["neighbor"]])
        assert abs(r["cosine_sim"] - round(expect, 6)) < 1e-9
        assert 0 < r["cosine_sim"] <= 1
        per_item[r["item"]].append((r["rk"], r["cosine_sim"]))
    for item, lst in per_item.items():
        lst.sort()
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= COS_TOPK
        sims = [s for _, s in lst]
        assert sims == sorted(sims, reverse=True)


def test_session_attribution_conserves_purchases(spark):
    """Attribution cells must sum to the total purchase count and exact
    total purchase revenue; 'direct' last-touch only pairs with
    first_touch='purchase'... specifically a purchase that OPENS a
    session has no preceding event, so its first_touch must be
    'purchase' whenever last_touch='direct'."""
    out = _Q["ext_session_attribution"](spark, SF_DIR).collect()
    ev = load(spark, SF_DIR, "events")
    tot = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        )
        .collect()[0]
    )
    assert sum(r["n_purchases"] for r in out) == tot["n"]
    assert sum(r["revenue_cents"] for r in out) == tot["cents"]
    for r in out:
        if r["last_touch"] == "direct":
            assert r["first_touch"] == "purchase"


def test_pca_project_consistent_with_eigvec(spark):
    """proj_units must equal the exact integer dot product of the
    quantized embedding with the reported eigenvector, and ranks must
    follow |proj| DESC with vec_id tiebreak."""
    eig = {r["dim"]: r["eigvec_unit"]
           for r in _Q["ext_embed_pca_power"](spark, SF_DIR).collect()}
    out = _Q["ext_embed_pca_project"](spark, SF_DIR).collect()
    assert len(out) == 50
    emb = {r["vec_id"]: r["embedding"]
           for r in load(spark, SF_DIR, "embeddings").collect()}
    for r in out:
        xq = [round(float(v) * PCA_UNITS) for v in emb[r["vec_id"]]]
        assert r["proj_units"] == sum(xq[j] * eig[j] for j in range(64))
    seq = sorted(out, key=lambda r: r["rk"])
    keys = [(-abs(r["proj_units"]), r["vec_id"]) for r in seq]
    assert keys == sorted(keys)


def test_source_lang_mix_recompute(spark):
    """Counts, majority pick and entropy must match a direct recompute."""
    out = {r["source"]: r for r in _Q["ext_source_lang_mix"](spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("source", "lang").collect()
    from collections import Counter, defaultdict

    per_src = defaultdict(Counter)
    for r in docs:
        per_src[r["source"]][r["lang"]] += 1
    assert set(out) == set(per_src)
    for src, cnt in per_src.items():
        row = out[src]
        t = sum(cnt.values())
        assert row["n_docs"] == t and row["n_langs"] == len(cnt)
        top_lang = min(cnt, key=lambda l: (-cnt[l], l))
        assert row["top_lang"] == top_lang
        assert abs(row["top_share"] - round(cnt[top_lang] / t, 6)) < 1e-9
        ent = sum(round(-(n / t) * math.log(n / t) * 1e9) for n in cnt.values())
        assert abs(row["lang_entropy"] - round(ent / 1e9, 6)) < 1e-9


def test_assoc_rules_gates_and_recompute(spark):
    """Every emitted rule must satisfy the integer gates and match a
    direct recompute of support/confidence/lift; no qualifying rule may
    be missing."""
    rows = _Q["ext_assoc_rules"](spark, SF_DIR).collect()
    assert rows
    li = load(spark, SF_DIR, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().collect()
    from collections import Counter, defaultdict

    orders = defaultdict(set)
    for r in op:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    nb = len(orders)
    deg = Counter()
    pair = Counter()
    for parts in orders.values():
        ps = sorted(parts)
        deg.update(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair[(a, b)] += 1
    expected = set()
    for (a, b), cab in pair.items():
        if cab < 3:
            continue
        for ant, con in ((a, b), (b, a)):
            if cab * 20 >= deg[ant] and cab * nb > deg[ant] * deg[con]:
                expected.add((ant, con))
    got = {(r["antecedent"], r["consequent"]) for r in rows}
    assert got == expected
    for r in rows:
        a, b = min(r["antecedent"], r["consequent"]), max(r["antecedent"], r["consequent"])
        cab = pair[(a, b)]
        assert r["support_ab"] == cab
        assert abs(r["confidence"] - round(cab / deg[r["antecedent"]], 6)) < 1e-9
        assert abs(
            r["lift"] - round(cab * nb / (deg[r["antecedent"]] * deg[r["consequent"]]), 6)
        ) < 1e-9


def test_ts_decompose_identity_and_trend(spark):
    """revenue == trend + seasonal + residual (6dp parts, 3-ulp slack),
    and trend must equal the 7-day centered mean of revenue."""
    rows = _Q["ext_ts_decompose"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r["revenue"] - (r["trend"] + r["seasonal"] + r["residual"])) < 5e-6
    daily = {r["d"]: r["revenue"] for r in rows}
    # recompute trend where all 7 neighbors are themselves reported days
    import datetime

    checked = 0
    for r in rows:
        window = [
            daily.get(r["d"] + datetime.timedelta(days=off)) for off in range(-3, 4)
        ]
        if all(v is not None for v in window):
            assert abs(r["trend"] - sum(window) / 7) < 5e-5
            checked += 1
    assert checked > 100


def test_tokenizer_fertility_bounds_and_recompute(spark):
    """fertility >= 1 (every whitespace token yields >= 1 subword token);
    spot-check one source against a python regex recompute."""
    import re as _re

    rows = {r["source"]: r for r in _Q["ext_tokenizer_fertility"](spark, SF_DIR).collect()}
    assert rows
    for r in rows.values():
        assert float(r["fertility"]) >= 1.0
        assert float(r["chars_per_token"]) > 0
    src = sorted(rows)[0]
    docs = load(spark, SF_DIR, "documents").filter(F.col("source") == src).collect()
    ws = sum(len([t for t in d["text"].split(" ") if t]) for d in docs)
    sub = sum(len(_re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", d["text"])) for d in docs)
    chars = sum(d["n_chars"] for d in docs)
    row = rows[src]
    assert row["words"] == ws and row["subword_tokens"] == sub and row["chars"] == chars


def test_centroid_classify_matches_numpy(spark):
    """The confusion grid must match a numpy recompute of exact-integer
    nearest-centroid assignment (D_l = sum (n_l x - S_l)^2, argmin of
    D_l/n_l^2, label tiebreak)."""
    out = {(r["label_true"], r["label_pred"]): r["n_vectors"]
           for r in _Q["ext_embed_centroid_classify"](spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").collect()
    X = {r["vec_id"]: np.array([round(float(v) * PCA_UNITS) for v in r["embedding"]],
                               dtype=np.int64)
         for r in emb}
    lab = {r["vec_id"]: r["label"] for r in emb}
    from collections import Counter, defaultdict

    S = defaultdict(lambda: np.zeros(64, dtype=np.int64))
    n = Counter()
    for vid, x in X.items():
        S[lab[vid]] += x
        n[lab[vid]] += 1
    expect = Counter()
    for vid, x in X.items():
        best = min(
            sorted(n),
            key=lambda l: (
                float(np.sum((int(n[l]) * x.astype(object) - S[l].astype(object)) ** 2))
                / (n[l] * n[l]),
                l,
            ),
        )
        expect[(lab[vid], best)] += 1
    assert out == dict(expect)


def test_readability_recompute_sample(spark):
    """Flesch must match a python recompute on every doc (exact counts,
    same formula, 6dp)."""
    import re as _re

    rows = _Q["ext_text_readability"](spark, SF_DIR).collect()
    docs = {r["doc_id"]: r["text"] for r in load(spark, SF_DIR, "documents").collect()}
    assert len(rows) > 0
    for r in rows[:100]:
        text = docs[r["doc_id"]]
        w = len([t for t in text.split(" ") if t])
        s = max(len(_re.findall(r"[.!?]+", text)), 1)
        syl = max(len(_re.findall(r"[aeiouyAEIOUY]+", text)), w)
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (w, s, syl)
        flesch = 206.835 - 1.015 * (w * 1.0 / s) - 84.6 * (syl * 1.0 / w)
        assert abs(r["flesch"] - round(flesch, 6)) < 1e-9


def test_rfm_quintiles_and_segments(spark):
    """Each score dimension must split customers into 5 near-equal
    buckets (NTILE contract: sizes differ by at most 1), scores must be
    monotone in their feature (given the deterministic tiebreak), and
    the segment label must re-derive from the scores."""
    rows = _Q["ext_customer_rfm"](spark, SF_DIR).collect()
    assert rows
    from collections import Counter

    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        sizes = Counter(r[col] for r in rows)
        assert set(sizes) == {1, 2, 3, 4, 5}
        assert max(sizes.values()) - min(sizes.values()) <= 1, (col, sizes)
    # monotonicity: sort by the ntile ordering key and check scores ascend
    by_m = sorted(rows, key=lambda r: (r["monetary"], r["custkey"]))
    m_seq = [r["m_score"] for r in by_m]
    assert m_seq == sorted(m_seq)
    by_r = sorted(rows, key=lambda r: (-r["recency_days"], r["custkey"]))
    r_seq = [r["r_score"] for r in by_r]
    assert r_seq == sorted(r_seq)
    for r in rows:
        rs, fs, ms = r["r_score"], r["f_score"], r["m_score"]
        if rs >= 4 and fs >= 4 and ms >= 4:
            want = "champion"
        elif rs >= 3 and fs >= 3:
            want = "loyal"
        elif rs <= 2 and ms >= 4:
            want = "at_risk_whale"
        elif rs <= 2 and fs <= 2:
            want = "hibernating"
        else:
            want = "regular"
        assert r["segment"] == want


def test_template_mask_families_recompute(spark):
    """Template families must match a python recompute of the masked
    10-token prefix grouping, and every family must be invisible to
    exact-hash dedup unless its members are byte-identical."""
    import re as _re

    rows = _Q["ext_text_template_mask"](spark, SF_DIR).collect()
    assert rows
    docs = load(spark, SF_DIR, "documents").collect()
    from collections import defaultdict

    fam = defaultdict(list)
    for d in docs:
        masked = _re.sub(r"[0-9]+", "#", d["text"].lower())
        toks = [t for t in masked.split(" ") if t][:10]
        fam[" ".join(toks)].append(d)
    expect = {k: v for k, v in fam.items() if len(v) >= 2}
    got = {r["template"]: r for r in rows}
    assert set(got) == set(expect)
    n_total = len(docs)
    for k, members in expect.items():
        r = got[k]
        assert r["n_docs"] == len(members)
        assert r["n_sources"] == len({m["source"] for m in members})
        assert r["example_doc"] == min(m["doc_id"] for m in members)
        assert abs(r["corpus_share"] - round(len(members) / n_total, 6)) < 1e-9


def test_target_encode_loo_no_leakage_and_recompute(spark):
    """The encoding must equal the smoothed LOO mean recomputed in
    python, and removing a row's own target must matter: for any
    category, rows with different targets get different encodings."""
    rows = _Q["ext_target_encode_loo"](spark, SF_DIR).collect()
    assert rows
    od = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()
    from collections import defaultdict

    cents = {r["o_orderkey"]: round(r["o_totalprice"] * 100) for r in od}
    cat_of = {r["o_orderkey"]: r["o_orderpriority"] for r in od}
    S = defaultdict(int)
    n = defaultdict(int)
    for k, c in cents.items():
        S[cat_of[k]] += c
        n[cat_of[k]] += 1
    G = sum(cents.values())
    N = len(cents)
    m = 10
    for r in rows[:200]:
        k = r["o_orderkey"]
        c = cat_of[k]
        enc = (N * (S[c] - cents[k]) + m * G) / (N * (n[c] - 1 + m)) / 100.0
        assert abs(r["loo_encoding"] - round(enc, 6)) < 1e-9
    by_cat = defaultdict(list)
    for r in rows:
        by_cat[r["category"]].append((r["price"], r["loo_encoding"]))
    for cat, lst in by_cat.items():
        prices = {p for p, _ in lst}
        encs = {e for _, e in lst}
        if len(prices) > 1:
            assert len(encs) > 1, f"{cat}: encodings ignore own-row exclusion"


def test_fk_discovery_verdicts(spark):
    """The true TPC-H FKs must come back fk_candidate with containment
    1.0; the planted negatives must be rejected with containment < 1."""
    rows = {r["child"]: r for r in _Q["ext_fk_discovery"](spark, SF_DIR).collect()}
    assert len(rows) == 9
    positives = [
        "orders.o_custkey", "lineitem.l_orderkey", "lineitem.l_partkey",
        "lineitem.l_suppkey", "customer.c_nationkey", "supplier.s_nationkey",
        "nation.n_regionkey",
    ]
    for child in positives:
        r = rows[child]
        assert r["verdict"] == "fk_candidate" and r["containment"] == 1.0, r
    for child in ("orders.o_orderkey", "part.p_partkey"):
        r = rows[child]
        assert r["verdict"] == "rejected" and r["containment"] < 1.0, r


def test_incremental_agg_merge_equals_full_recompute(spark):
    """The two-phase merged aggregate must equal a from-scratch aggregate
    over ALL orders — the mergeability contract."""
    rows = {r["priority"]: r
            for r in _Q["ext_incremental_agg_maintain"](spark, SF_DIR).collect()}
    od = load(spark, SF_DIR, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    full = {
        r["priority"]: r
        for r in od.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.min(cents).alias("mn"),
            F.max(cents).alias("mx"),
        )
        .collect()
    }
    assert set(rows) == set(full)
    for p, r in rows.items():
        f = full[p]
        assert r["n_orders"] == f["n"]
        assert abs(r["total_price"] - round(f["s"] / 100.0, 6)) < 1e-9
        assert abs(r["avg_price"] - round(f["s"] / f["n"] / 100.0, 6)) < 1e-9
        assert abs(r["min_price"] - round(f["mn"] / 100.0, 6)) < 1e-9
        assert abs(r["max_price"] - round(f["mx"] / 100.0, 6)) < 1e-9


def test_sample_weighted_bias_and_determinism(spark):
    """The E-S sample must (a) be deterministic across two runs, (b) pick
    exactly WS_K docs per source, and (c) be length-biased: the sampled
    docs' mean weight must exceed the corpus mean weight (weights vary
    enough in this corpus that k=5 of ~25 per source shows the bias)."""
    a = _Q["ext_sample_weighted"](spark, SF_DIR).collect()
    b = _Q["ext_sample_weighted"](spark, SF_DIR).collect()
    key = lambda r: (r["source"], r["rk"])
    assert sorted((key(r), r["doc_id"]) for r in a) == \
           sorted((key(r), r["doc_id"]) for r in b)
    from collections import Counter

    per_src = Counter(r["source"] for r in a)
    docs = load(spark, SF_DIR, "documents").select("source", "n_chars").collect()
    src_n = Counter(r["source"] for r in docs)
    for s, k in per_src.items():
        assert k == min(5, src_n[s])
    mean_sample = sum(r["weight"] for r in a) / len(a)
    mean_corpus = sum(r["n_chars"] for r in docs) / len(docs)
    assert mean_sample > mean_corpus


def test_exact_quantiles_match_numpy(spark):
    """The two-pass bucket method must reproduce numpy's linear
    interpolation quartiles on the exact cents column."""
    rows = {r["quantile"]: r
            for r in _Q["ext_exact_quantiles_twopass"](spark, SF_DIR).collect()}
    li = load(spark, SF_DIR, "lineitem").select("l_extendedprice").collect()
    cents = np.array(sorted(round(r["l_extendedprice"] * 100) for r in li),
                     dtype=np.int64)
    n = len(cents)
    for label, p in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
        r = rows[label]
        assert r["n_rows"] == n
        want = float(np.percentile(cents, p * 100, method="linear")) / 100.0
        assert abs(r["value"] - round(want, 6)) < 2e-6, (label, r["value"], want)


def test_hll_registers_and_error(spark):
    """The HLL estimate must match a python recompute of the SAME
    register algebra, and land within 4 sigma (1.04/sqrt(64) rse) of
    the exact count for every event type."""
    import hashlib

    rows = {r["event_type"]: r
            for r in _Q["ext_sketch_hll_custom"](spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("event_type", "user_id").distinct().collect()
    from collections import defaultdict

    regs = defaultdict(dict)
    exact = defaultdict(set)
    for r in ev:
        exact[r["event_type"]].add(r["user_id"])
        h = int(hashlib.md5(f"hll:{r['user_id']}".encode()).hexdigest()[:8], 16)
        idx, w = h % 64, h // 64
        rho = 27 - w.bit_length() if w else 27
        regs[r["event_type"]][idx] = max(regs[r["event_type"]].get(idx, 0), rho)
    for et, rr in rows.items():
        m = regs[et]
        assert rr["nonzero_registers"] == len(m)
        assert rr["exact_distinct"] == len(exact[et])
        s = sum(2.0 ** -v for v in m.values()) + (64 - len(m))
        raw = 0.709 * 64 * 64 / s
        zeros = 64 - len(m)
        est = 64 * math.log(64 / zeros) if zeros > 0 and raw <= 2.5 * 64 else raw
        assert abs(rr["hll_estimate"] - round(est, 6)) < 1e-6
        rse = 1.04 / math.sqrt(64)
        assert abs(est - len(exact[et])) <= 4 * rse * len(exact[et]), (et, est)


def test_kmv_estimate_error(spark):
    """KMV must report exactly for groups <= k distinct and within 4
    sigma (~1/sqrt(k-2)) otherwise; the k-th hash must match python."""
    import hashlib

    rows = {r["event_type"]: r for r in _Q["ext_sketch_kmv"](spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("event_type", "user_id").distinct().collect()
    from collections import defaultdict

    users = defaultdict(set)
    for r in ev:
        users[r["event_type"]].add(r["user_id"])
    for et, us in users.items():
        r = rows[et]
        n = len(us)
        assert r["exact_distinct"] == n
        hs = sorted(
            (int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:8], 16), u) for u in us
        )
        k = min(64, n)
        assert r["kth_hash"] == hs[k - 1][0]
        if n <= 64:
            assert r["kmv_estimate"] == float(n)
        else:
            est = 63 * 4294967296.0 / hs[63][0]
            assert abs(r["kmv_estimate"] - round(est, 6)) < 1e-6
            assert abs(est - n) <= 4 * n / math.sqrt(62), (et, est, n)


def test_bigram_kn_probability_axioms(spark):
    """KN probabilities must (a) be positive even where MLE would vanish
    discount mass, (b) stay below the MLE for observed top pairs (the
    discount takes mass away), and (c) match a python recompute."""
    rows = _Q["ext_text_bigram_kn"](spark, SF_DIR).collect()
    assert rows
    docs = load(spark, SF_DIR, "documents").select("text").collect()
    from collections import Counter, defaultdict

    pair = Counter()
    for d in docs:
        toks = [t for t in d["text"].split(" ") if t]
        for a, b in zip(toks, toks[1:]):
            pair[(a, b)] += 1
    c_w1 = Counter()
    n_fw = Counter()
    n_bw = Counter()
    for (a, b), n in pair.items():
        c_w1[a] += n
        n_fw[a] += 1
        n_bw[b] += 1
    T = len(pair)
    for r in rows[:100]:
        a, b = r["w1"], r["w2"]
        assert r["n_pair"] == pair[(a, b)] and r["c_w1"] == c_w1[a]
        kn = (max(pair[(a, b)] - 0.75, 0.0) / c_w1[a]
              + 0.75 * n_fw[a] / c_w1[a] * (n_bw[b] * 1.0 / T))
        assert abs(r["p_kn"] - round(kn, 6)) < 1e-9
        assert r["p_kn"] > 0
        mle = pair[(a, b)] / c_w1[a]
        assert abs(r["p_mle"] - round(mle, 6)) < 1e-9


def test_survival_km_monotone_and_recompute(spark):
    """S(t) must be non-increasing in (0, 1], and match a python
    lifelines-style recompute of the KM product."""
    rows = sorted(_Q["ext_survival_km"](spark, SF_DIR).collect(),
                  key=lambda r: r["t_days"])
    assert rows
    surv = [r["survival"] for r in rows]
    assert all(0 < s <= 1 for s in surv)
    assert all(a >= b - 1e-9 for a, b in zip(surv, surv[1:]))
    od = load(spark, SF_DIR, "orders").select("o_custkey", "o_orderdate").collect()
    from collections import defaultdict
    import datetime

    fl = {}
    for r in od:
        d = r["o_orderdate"] if isinstance(r["o_orderdate"], datetime.date) else r["o_orderdate"].date()
        k = r["o_custkey"]
        f, l = fl.get(k, (d, d))
        fl[k] = (min(f, d), max(l, d))
    now = max(l for _, l in fl.values())
    obs = []
    for f, l in fl.values():
        if (now - l).days <= 90:
            obs.append(((now - f).days, 0))
        else:
            obs.append(((l - f).days, 1))
    times = sorted({t for t, e in obs if e == 1})
    s = 1.0
    expect = {}
    for t in times:
        n = sum(1 for tt, _ in obs if tt >= t)
        d = sum(1 for tt, e in obs if tt == t and e == 1)
        if n > d:
            # nano-unit freeze mirrors the engines
            s_units = round(math.log((n - d) / n) * 1e9)
            s *= math.exp(s_units / 1e9)
            expect[t] = (n, d, s)
    got = {r["t_days"]: r for r in rows}
    assert set(got) == set(expect)
    for t, (n, d, _) in expect.items():
        assert got[t]["n_at_risk"] == n and got[t]["n_events"] == d
    # spot value check (cumulative float path differs slightly from the
    # engines' integer-unit cumsum; 6dp is the contract)
    for t in list(expect)[:20]:
        assert abs(got[t]["survival"] - expect[t][2]) < 5e-6


def test_funnel_latency_recompute(spark):
    """Transition latencies must match a python recompute of the ordered
    funnel's first-completion chain and its exact order-statistic
    percentiles."""
    rows = {r["transition"]: r for r in _Q["ext_funnel_latency"](spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("user_id", "event_type", "ts").collect()
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in ev:
        per_user[r["user_id"]].append((r["ts"], r["event_type"]))
    v2c, c2p = [], []
    for evs in per_user.values():
        views = [t for t, e in evs if e == "view"]
        if not views:
            continue
        t1 = min(views)
        clicks = [t for t, e in evs if e == "click" and t > t1]
        if not clicks:
            continue
        t2 = min(clicks)
        v2c.append(int((t2 - t1).total_seconds() * 1e6))
        purchases = [t for t, e in evs if e == "purchase" and t > t2]
        if purchases:
            t3 = min(purchases)
            c2p.append(int((t3 - t2).total_seconds() * 1e6))

    def ostat(vals, num, den):
        vals = sorted(vals)
        n = len(vals)
        m = (n - 1) * num
        lo = vals[m // den]
        hi = vals[min(m // den + 1, n - 1)]
        f = m % den
        return ((den - f) * lo + f * hi) / den / 1e6

    assert rows["view_to_click"]["n_users"] == len(v2c)
    assert rows["click_to_purchase"]["n_users"] == len(c2p)
    assert abs(rows["view_to_click"]["median_s"] - round(ostat(v2c, 1, 2), 6)) < 1e-6
    assert abs(rows["view_to_click"]["p90_s"] - round(ostat(v2c, 9, 10), 6)) < 1e-6
    assert abs(rows["click_to_purchase"]["p90_s"] - round(ostat(c2p, 9, 10), 6)) < 1e-6


def test_seasonal_anomaly_flags_match_recompute(spark):
    """Flagged days must be exactly those whose micro-unit residual
    exceeds 3 * 1.4826 * MAD, recomputed in python from the decompose
    residuals."""
    rows = {r["d"]: r for r in _Q["ext_seasonal_anomaly"](spark, SF_DIR).collect()}
    dec = _Q["ext_ts_decompose"](spark, SF_DIR).collect()
    units = {r["d"]: round(r["residual"] * 1e6) for r in dec}
    vals = sorted(abs(v) for v in units.values())
    n = len(vals)
    m = (n - 1) // 2
    f = (n - 1) % 2
    mad = ((2 - f) * vals[m] + f * vals[min(m + 1, n - 1)]) / 2
    assert mad > 0
    expect = {d for d, v in units.items() if abs(v / (1.4826 * mad)) > 3.0}
    assert set(rows) == expect
    for d in expect:
        assert abs(rows[d]["robust_z"] - round(units[d] / (1.4826 * mad), 6)) < 1e-6


def test_js_divergence_axioms_and_recompute(spark):
    """JSD must be symmetric-complete (all source pairs once), bounded in
    [0, ln 2], and match a python recompute on a sampled pair."""
    rows = _Q["ext_source_js_divergence"](spark, SF_DIR).collect()
    pairs = {(r["source_a"], r["source_b"]) for r in rows}
    docs = load(spark, SF_DIR, "documents").select("source", "text").collect()
    sources = sorted({d["source"] for d in docs})
    assert len(pairs) == len(sources) * (len(sources) - 1) // 2
    assert all(a < b for a, b in pairs)
    ln2 = math.log(2)
    for r in rows:
        assert -1e-9 <= r["jsd_nats"] <= ln2 + 1e-9
    # recompute one pair
    from collections import Counter

    cnt = {s: Counter() for s in sources}
    for d in docs:
        cnt[d["source"]].update(t for t in d["text"].split(" ") if t)
    glob = Counter()
    for c in cnt.values():
        glob.update(c)
    topv = {t for t, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:256]}
    sa, sb = sources[0], sources[1]

    def vec(s):
        v = {t: cnt[s].get(t, 0) for t in topv}
        v["<oov>"] = sum(n for t, n in cnt[s].items() if t not in topv)
        return v, sum(cnt[s].values())

    va, ta = vec(sa)
    vb, tb = vec(sb)
    units = 0
    for t in set(va) | set(vb):
        p, q = va[t] / ta, vb[t] / tb
        if p == 0 and q == 0:
            continue
        term = 0.0
        if p > 0:
            term += 0.5 * p * math.log(2 * p / (p + q))
        if q > 0:
            term += 0.5 * q * math.log(2 * q / (p + q))
        units += round(term * 1e9)
    want = round(units / 1e9, 6)
    got = next(r["jsd_nats"] for r in rows
               if r["source_a"] == sa and r["source_b"] == sb)
    assert abs(got - want) < 1e-9


def test_grouped_median_matches_numpy(spark):
    """Per-group medians from the bucket method must equal numpy's linear
    median of each group's exact cents."""
    rows = {r["l_returnflag"]: r
            for r in _Q["ext_exact_quantiles_grouped"](spark, SF_DIR).collect()}
    li = load(spark, SF_DIR, "lineitem").select("l_returnflag", "l_extendedprice").collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in li:
        groups[r["l_returnflag"]].append(round(r["l_extendedprice"] * 100))
    assert set(rows) == set(groups)
    for g, vals in groups.items():
        want = float(np.percentile(np.array(vals, dtype=np.int64), 50,
                                   method="linear")) / 100.0
        assert rows[g]["n_rows"] == len(vals)
        assert abs(rows[g]["median_price"] - round(want, 6)) < 2e-6


def test_cusum_peak_matches_recompute(spark):
    """The top |CUSUM| day must equal a python recompute of
    S_k = n*prefix_k - k*total over the daily series."""
    rows = sorted(_Q["ext_changepoint_cusum"](spark, SF_DIR).collect(),
                  key=lambda r: r["rk"])
    od = load(spark, SF_DIR, "orders").select("o_orderdate", "o_totalprice").collect()
    from collections import defaultdict

    daily = defaultdict(int)
    for r in od:
        d = r["o_orderdate"]
        if hasattr(d, "date") and not isinstance(d, __import__("datetime").date):
            d = d.date()
        elif hasattr(d, "hour"):
            d = d.date()
        daily[d] += round(r["o_totalprice"] * 100)
    days = sorted(daily)
    total = sum(daily.values())
    n = len(days)
    pfx = 0
    s = {}
    for k, d in enumerate(days, start=1):
        pfx += daily[d]
        s[d] = n * pfx - k * total
    expect = sorted(days, key=lambda d: (-abs(s[d]), d))[:5]
    assert [r["d"] for r in rows] == expect
    for r in rows:
        assert abs(r["cusum"] - round(s[r["d"]] / n / 100.0, 6)) < 1e-6


def test_lorenz_points_monotone_and_complete(spark):
    """Cumulative shares must be strictly increasing, end at 1.0, and
    the deciles must partition customers near-evenly."""
    rows = sorted(_Q["ext_lorenz_points"](spark, SF_DIR).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["cum_share"] for r in rows]
    assert all(b > a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-9
    sizes = [r["n_customers"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # Lorenz curve lies below the diagonal (inequality exists)
    for i, r in enumerate(rows[:-1], start=1):
        assert r["cum_share"] <= i / 10 + 1e-9


def test_keyword_pmi_recompute(spark):
    """PMI values and per-source rankings must match a python
    recompute; every reported token must clear the count floor."""
    rows = _Q["ext_keyword_pmi"](spark, SF_DIR).collect()
    assert rows
    docs = load(spark, SF_DIR, "documents").select("source", "text").collect()
    from collections import Counter, defaultdict

    cnt = defaultdict(Counter)
    for d in docs:
        cnt[d["source"]].update(t for t in d["text"].split(" ") if t)
    stot = {s: sum(c.values()) for s, c in cnt.items()}
    gtok = Counter()
    for c in cnt.values():
        gtok.update(c)
    T = sum(gtok.values())
    for r in rows:
        s, t = r["source"], r["tok"]
        assert cnt[s][t] == r["n_occurrences"] >= 20
        pmi = math.log((cnt[s][t] / stot[s]) / (gtok[t] / T))
        assert abs(r["pmi"] - round(pmi, 6)) < 1e-9
    per_src = defaultdict(list)
    for r in rows:
        per_src[r["source"]].append((r["rk"], r["pmi"]))
    for s, lst in per_src.items():
        lst.sort()
        pmis = [p for _, p in lst]
        assert pmis == sorted(pmis, reverse=True)
        assert len(lst) <= 5


def test_session_path_shares_and_prefix(spark):
    """Path shares must sum to <= 1 over the top-10, every path must
    have at most 4 steps from the known event alphabet, and the counts
    must be rank-ordered."""
    rows = sorted(_Q["ext_session_path_topk"](spark, SF_DIR).collect(),
                  key=lambda r: r["rk"])
    assert len(rows) == 10
    alphabet = {"view", "click", "purchase", "signup", "error"}
    ns = [r["n_sessions"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert sum(r["share"] for r in rows) <= 1.0 + 1e-9
    for r in rows:
        steps = r["path"].split(">")
        assert 1 <= len(steps) <= 4 and set(steps) <= alphabet


def test_abc_xyz_matrix_consistent_with_parents(spark):
    """Matrix cells must exactly partition the joined parent outputs,
    and revenue shares must sum to 1."""
    cells = {(r["abc_class"], r["xyz_class"]): r
             for r in _Q["ext_abc_xyz_matrix"](spark, SF_DIR).collect()}
    abc = {r["l_partkey"]: (r["abc_class"], r["cents"])
           for r in _Q["ext_part_pareto"](spark, SF_DIR).collect()}
    xyz = {r["l_partkey"]: r["xyz_class"]
           for r in _Q["ext_demand_xyz"](spark, SF_DIR).collect()}
    from collections import Counter

    counts = Counter()
    rev = Counter()
    for pk, (a, cents) in abc.items():
        if pk in xyz:
            counts[(a, xyz[pk])] += 1
            rev[(a, xyz[pk])] += cents
    total = sum(rev.values())
    assert set(cells) == set(counts)
    for cell, r in cells.items():
        assert r["n_parts"] == counts[cell]
        assert abs(r["revenue_share"] - round(rev[cell] / total, 6)) < 1e-6
    assert abs(sum(r["revenue_share"] for r in cells.values()) - 1.0) < 1e-4


def test_burstiness_recompute_and_bounds(spark):
    """burstiness = cf/df >= 1 always; values must match a python
    recompute; ranking must be monotone."""
    rows = sorted(_Q["ext_text_burstiness"](spark, SF_DIR).collect(),
                  key=lambda r: r["rk"])
    assert rows
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    from collections import Counter

    cf = Counter()
    df = Counter()
    for d in docs:
        toks = [t for t in d["text"].split(" ") if t]
        cf.update(toks)
        df.update(set(toks))
    for r in rows:
        assert (r["cf"], r["df"]) == (cf[r["tok"]], df[r["tok"]])
        assert r["burstiness"] >= 1.0
        assert abs(r["burstiness"] - round(cf[r["tok"]] / df[r["tok"]], 6)) < 1e-9
    bs = [r["burstiness"] for r in rows]
    assert bs == sorted(bs, reverse=True)


def test_isotropy_matches_numpy_spectrum(spark):
    """lambda1/trace from the key must match numpy's top eigenvalue share
    of the quantized Gram spectrum (within the power-iteration rounding:
    1e-4 relative)."""
    row = _Q["ext_embed_isotropy"](spark, SF_DIR).collect()[0]
    emb = load(spark, SF_DIR, "embeddings").select("embedding").collect()
    X = np.array([[round(float(v) * PCA_UNITS) for v in r["embedding"]] for r in emb])
    G = X.T @ X
    vals = np.linalg.eigvalsh(G)
    assert row["trace_units"] == int(np.trace(G))
    share = vals[-1] / np.trace(G)
    assert abs(row["top_component_share"] - share) < 1e-4
    assert abs(row["isotropy"] - (1 - share)) < 1e-4
    assert 0 < row["isotropy"] < 1


def test_l_diversity_recompute(spark):
    """Group sizes, distinct-sensitive counts and flags must match a
    python recompute of the QI grouping."""
    rows = {(r["nation"], r["segment"]): r
            for r in _Q["ext_privacy_l_diversity"](spark, SF_DIR).collect()}
    od = load(spark, SF_DIR, "orders").select("o_custkey", "o_orderpriority").collect()
    cu = {r["c_custkey"]: (r["c_nationkey"], r["c_mktsegment"])
          for r in load(spark, SF_DIR, "customer").collect()}
    na = {r["n_nationkey"]: r["n_name"] for r in load(spark, SF_DIR, "nation").collect()}
    from collections import defaultdict

    groups = defaultdict(list)
    for r in od:
        nk, seg = cu[r["o_custkey"]]
        groups[(na[nk], seg)].append(r["o_orderpriority"])
    assert set(rows) == set(groups)
    for k, vals in groups.items():
        r = rows[k]
        assert r["k_rows"] == len(vals)
        assert r["l_distinct"] == len(set(vals))
        assert r["satisfies_l"] == (1 if len(set(vals)) >= 3 else 0)


def test_acf_matches_numpy(spark):
    """ACF values must match numpy's normalized autocovariance of the
    daily cents series (mean-through-n exact formulation)."""
    rows = {r["lag"]: r for r in _Q["ext_ts_autocorrelation"](spark, SF_DIR).collect()}
    od = load(spark, SF_DIR, "orders").select("o_orderdate", "o_totalprice").collect()
    from collections import defaultdict

    daily = defaultdict(int)
    for r in od:
        d = r["o_orderdate"]
        if hasattr(d, "hour"):
            d = d.date()
        daily[d] += round(r["o_totalprice"] * 100)
    xs = [daily[d] for d in sorted(daily)]
    n = len(xs)
    s = sum(xs)
    u = [n * x - s for x in xs]
    d0 = sum(v * v for v in u)
    for lag in range(1, 15):
        num = sum(u[i] * u[i + lag] for i in range(n - lag))
        r = rows[lag]
        assert r["n_pairs"] == n - lag
        assert abs(r["acf"] - round(num / d0, 6)) < 1e-9
        assert -1.0 <= r["acf"] <= 1.0


def test_ks_matches_scipy_style_recompute(spark):
    """D must equal the exact supremum of |ECDF1 - ECDF2| recomputed in
    python on integer cents, and the asymptotic p must follow."""
    row = _Q["ext_two_sample_ks"](spark, SF_DIR).collect()[0]
    od = load(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice").collect()
    seg = {r["c_custkey"]: r["c_mktsegment"]
           for r in load(spark, SF_DIR, "customer").collect()}
    a, b = [], []
    for r in od:
        s = seg[r["o_custkey"]]
        if s == "BUILDING":
            a.append(round(r["o_totalprice"] * 100))
        elif s == "MACHINERY":
            b.append(round(r["o_totalprice"] * 100))
    n1, n2 = len(a), len(b)
    assert (row["n1"], row["n2"]) == (n1, n2)
    from collections import Counter

    c1, c2 = Counter(a), Counter(b)
    r1 = r2 = 0
    d_num = 0
    for v in sorted(set(a) | set(b)):
        r1 += c1.get(v, 0)
        r2 += c2.get(v, 0)
        d_num = max(d_num, abs(r1 * n2 - r2 * n1))
    d = d_num / (n1 * n2)
    assert abs(row["d_stat"] - round(d, 6)) < 1e-9
    p = 2.0 * math.exp(-2.0 * d * d * (n1 * n2 / (n1 + n2)))
    assert abs(row["p_approx"] - round(p, 6)) < 1e-6


def test_rank_effect_matches_recompute(spark):
    """U, Cliff's delta and the z approximation must match an O(n log n)
    python recompute over the exact integer cents."""
    row = _Q["ext_rank_effect_stats"](spark, SF_DIR).collect()[0]
    od = load(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice").collect()
    seg = {r["c_custkey"]: r["c_mktsegment"]
           for r in load(spark, SF_DIR, "customer").collect()}
    from collections import Counter

    c1, c2 = Counter(), Counter()
    for r in od:
        s = seg[r["o_custkey"]]
        v = round(r["o_totalprice"] * 100)
        if s == "BUILDING":
            c1[v] += 1
        elif s == "MACHINERY":
            c2[v] += 1
    n1, n2 = sum(c1.values()), sum(c2.values())
    assert (row["n1"], row["n2"]) == (n1, n2)
    gt = lt = ties = 0
    p1 = p2 = 0
    for v in sorted(set(c1) | set(c2)):
        gt += c1.get(v, 0) * p2
        lt += c2.get(v, 0) * p1
        ties += c1.get(v, 0) * c2.get(v, 0)
        p1 += c1.get(v, 0)
        p2 += c2.get(v, 0)
    u = gt + 0.5 * ties
    assert abs(row["u_stat"] - round(u, 6)) < 1e-6
    assert abs(row["cliffs_delta"] - round((gt - lt) / (n1 * n2), 6)) < 1e-9
    z = (u - n1 * n2 / 2.0) / math.sqrt(n1 * n2 * (n1 + n2 + 1.0) / 12.0)
    assert abs(row["z_approx"] - round(z, 6)) < 1e-6
    assert -1.0 <= row["cliffs_delta"] <= 1.0


def test_mixture_temperature_axioms(spark):
    """Sampling shares must sum to 1, up-weight small sources
    (epochs_factor > 1 for below-average sources, < 1 for the largest),
    and preserve the size ordering."""
    rows = sorted(_Q["ext_mixture_temperature"](spark, SF_DIR).collect(),
                  key=lambda r: r["toks"])
    assert abs(sum(r["sampling_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["natural_share"] for r in rows) - 1.0) < 1e-4
    assert rows[0]["epochs_factor"] > 1.0  # smallest source up-sampled
    assert rows[-1]["epochs_factor"] < 1.0  # largest source down-sampled
    nat = [r["natural_share"] for r in rows]
    smp = [r["sampling_share"] for r in rows]
    assert smp == sorted(smp) and nat == sorted(nat)
    # smoothing: sampling shares are strictly less spread than natural
    assert (smp[-1] - smp[0]) < (nat[-1] - nat[0]) + 1e-9


def test_permutation_test_empty_panel(spark, tmp_path):
    """No orders at all: one row with a zero panel and zero extreme
    replicates, as the oracle's COUNT(*) and CASE sums give."""
    load(spark, SF_DIR, "orders").limit(0).write.parquet(str(tmp_path / "orders.parquet"))
    rows = _Q["ext_permutation_test"](spark, str(tmp_path)).collect()
    assert [r.asDict() for r in rows] == [
        {"n_customers": 0, "observed_sum_cents": None, "n_extreme": 0, "p_value_est": 0.0}
    ]
