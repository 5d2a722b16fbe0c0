"""Round-6 second module: sequential-decode and attribution operators.

- ext_hmm_viterbi: 2-state HMM Viterbi decode as an ORDERED FOLD — the
  'custom stateful operator without a UDF' demonstration (both engines
  fold the identical expression tree over the day-ordered observation
  list; DuckDB's list_reduce takes no initial accumulator, so the init
  state rides as the list's first element).
- ext_attr_markov_removal: Markov removal-effect attribution (the
  data-driven multi-touch model) via Cramer solves generated from one
  template for both engines (machinery shared with r6_ops'
  ext_markov_absorption).
- ext_knee_elbow: maximum-chord-distance knee detection on the part
  revenue Pareto curve with exact integer cross products.

House rules as in r6_ops (exact-integer cores, fixed-order float
expressions, dround terminals, grid-confined quadratics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load, local_frame
from . import dround, register
from .r6_ops import _CENTS_SQL, _cents, _det3, _det4

# ---------------------------------------------------------------------------
# ext_hmm_viterbi — 2-state HMM Viterbi decode over the daily revenue regime
# ---------------------------------------------------------------------------

# Fixed literal HMM parameters (a two-regime market model): state 0 = high
# regime, state 1 = low regime.
HMM = {
    "a00": 0.8, "a01": 0.2, "a10": 0.3, "a11": 0.7,
    "b0h": 0.75, "b0l": 0.25, "b1h": 0.3, "b1l": 0.7,
    "pi0": 0.5, "pi1": 0.5,
}


def _hmm_sql() -> str:
    h = {k: f"CAST({v} AS DOUBLE)" for k, v in HMM.items()}
    # The fold state is ONE VARCHAR 'v0|v1|p0|p1': DuckDB v1.0.0's
    # list_reduce mutates struct-accumulator fields IN PLACE sequentially
    # (later field expressions read already-overwritten values — found by a
    # minimal repro during this key's build), so a multi-field struct state
    # is unsafe; a single string field cannot alias, and DuckDB's
    # double->VARCHAR (shortest repr) -> DOUBLE round-trip is bit-exact.
    v0 = "CAST(string_split(acc, '|')[1] AS DOUBLE)"
    v1 = "CAST(string_split(acc, '|')[2] AS DOUBLE)"
    p0 = "string_split(acc, '|')[3]"
    p1 = "string_split(acc, '|')[4]"
    b0 = f"(CASE WHEN x = '1' THEN {h['b0h']} ELSE {h['b0l']} END)"
    b1 = f"(CASE WHEN x = '1' THEN {h['b1h']} ELSE {h['b1l']} END)"
    c0 = f"(GREATEST({v0} * {h['a00']}, {v1} * {h['a10']}) * {b0})"
    c1 = f"(GREATEST({v0} * {h['a01']}, {v1} * {h['a11']}) * {b1})"
    step = (
        f"CAST({c0} / ({c0} + {c1}) AS VARCHAR) || '|' || "
        f"CAST({c1} / ({c0} + {c1}) AS VARCHAR) || '|' || "
        f"(CASE WHEN {v0} * {h['a00']} >= {v1} * {h['a10']} "
        f"THEN {p0} ELSE {p1} END) || '0' || '|' || "
        f"(CASE WHEN {v0} * {h['a01']} >= {v1} * {h['a11']} "
        f"THEN {p0} ELSE {p1} END) || '1'"
    )
    fv0 = "CAST(string_split(st, '|')[1] AS DOUBLE)"
    fv1 = "CAST(string_split(st, '|')[2] AS DOUBLE)"
    return f"""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS d, {_CENTS_SQL} AS cents FROM events
    ), daily AS (
        SELECT d, CAST(SUM(cents) AS BIGINT) AS t FROM ev GROUP BY 1
    ), r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY t, d) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ), med AS (
        SELECT CAST(MIN(t) + MAX(t) AS BIGINT) AS med_x2
        FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    ), obs AS (
        SELECT daily.d,
               CASE WHEN 2 * daily.t > med.med_x2 THEN 1 ELSE 0 END AS o
        FROM daily, med
    ), seq AS (
        SELECT list_prepend('0.5|0.5||',
                   list(CAST(o AS VARCHAR) ORDER BY d)) AS l,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM obs
    ), fin AS (
        SELECT n_days, list_reduce(l, (acc, x) -> {step}) AS st FROM seq
    )
    SELECT n_days,
           CAST(CASE WHEN {fv0} >= {fv1} THEN 0 ELSE 1 END AS BIGINT)
               AS ml_final_state,
           {dround(f'GREATEST({fv0}, {fv1})', 6)} AS ml_prob_norm,
           CASE WHEN {fv0} >= {fv1}
                THEN string_split(st, '|')[3]
                ELSE string_split(st, '|')[4] END AS viterbi_path
    FROM fin
    """


@register("ext_hmm_viterbi", _hmm_sql())
def ext_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decode of a fixed 2-state HMM over the daily revenue regime
    (observation = day total above/below the exact median): the most-likely
    hidden state path under literal transition/emission parameters — the
    canonical SEQUENTIAL-DP operator, here expressed as an ordered fold
    with a struct accumulator instead of a UDF or driver loop (the pattern
    for any per-key sequential decode: CRDT replays, sessionization with
    carry-over state, regime labeling).

    Determinism: observations derive from exact integer day totals vs an
    exact middle-element median; each Viterbi step is a fixed arithmetic
    expression over doubles with literal parameters, per-step normalized
    (so no underflow at any series length), argmax ties prefer state 0;
    both engines fold the identical expression tree in day order (DuckDB's
    list_reduce seeds from the list head, so the init state is prepended
    as a sentinel element — the same fold Spark's F.aggregate does with an
    explicit init).

    Scale shape: the corpus collapses to the day grid in one aggregate;
    the fold runs over the 30-element observation list. Per-entity decodes
    would partition the fold by key (collect_list per group) —
    embarrassingly parallel."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), _cents().alias("cents")
    )
    daily = ev.groupBy("d").agg(F.sum("cents").cast("bigint").alias("t"))
    w = Window.orderBy("t", "d")
    wn = Window.partitionBy(F.lit(1))
    r = daily.select(
        "d",
        "t",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    med = (
        r.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .agg((F.min("t") + F.max("t")).cast("bigint").alias("med_x2"))
    )
    obs = daily.crossJoin(F.broadcast(med)).select(
        "d", F.when(2 * F.col("t") > F.col("med_x2"), 1).otherwise(0).alias("o")
    )
    h = HMM

    def step(acc, x):
        o = x["o"]
        b0 = F.when(o == 1, F.lit(h["b0h"])).otherwise(F.lit(h["b0l"]))
        b1 = F.when(o == 1, F.lit(h["b1h"])).otherwise(F.lit(h["b1l"]))
        c0 = F.greatest(acc["v0"] * h["a00"], acc["v1"] * h["a10"]) * b0
        c1 = F.greatest(acc["v0"] * h["a01"], acc["v1"] * h["a11"]) * b1
        tot = c0 + c1
        return F.struct(
            (c0 / tot).alias("v0"),
            (c1 / tot).alias("v1"),
            F.concat(
                F.when(
                    acc["v0"] * h["a00"] >= acc["v1"] * h["a10"],
                    acc["p0"],
                ).otherwise(acc["p1"]),
                F.lit("0"),
            ).alias("p0"),
            F.concat(
                F.when(
                    acc["v0"] * h["a01"] >= acc["v1"] * h["a11"],
                    acc["p0"],
                ).otherwise(acc["p1"]),
                F.lit("1"),
            ).alias("p1"),
        )

    seq = obs.agg(
        F.sort_array(F.collect_list(F.struct("d", "o"))).alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    init = F.struct(
        F.lit(float(h["pi0"])).alias("v0"),
        F.lit(float(h["pi1"])).alias("v1"),
        F.lit("").alias("p0"),
        F.lit("").alias("p1"),
    )
    fin = seq.select(
        "n_days",
        F.aggregate(F.col("l"), init, step).alias("st"),
    )
    return fin.select(
        "n_days",
        F.when(F.col("st.v0") >= F.col("st.v1"), 0)
        .otherwise(1)
        .cast("bigint")
        .alias("ml_final_state"),
        F.round(F.greatest(F.col("st.v0"), F.col("st.v1")), 6).alias(
            "ml_prob_norm"
        ),
        F.when(F.col("st.v0") >= F.col("st.v1"), F.col("st.p0"))
        .otherwise(F.col("st.p1"))
        .alias("viterbi_path"),
    )


# ---------------------------------------------------------------------------
# ext_attr_markov_removal — Markov removal-effect channel attribution
# ---------------------------------------------------------------------------

AR_CONV = "purchase"
AR_CH = ["click", "error", "signup", "view"]  # sorted transient channels


def _ar_counts_sql() -> str:
    dsts = AR_CH + [AR_CONV, "end"]
    counts = ", ".join(
        f"CAST(SUM(CASE WHEN src = '{i}' AND dst = '{j}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{i}_{j.replace('-', '_')}"
        for i in AR_CH
        for j in dsts
    )
    starts = ", ".join(
        f"CAST(SUM(CASE WHEN first_type = '{s}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS st_{s}"
        for s in AR_CH + [AR_CONV]
    )
    return counts, starts


def _ar_oracle() -> str:
    mul = lambda a, b: f"({a} * {b})"  # noqa: E731
    sub = lambda a, b: f"({a} - {b})" if b is not None else a  # noqa: E731
    add = lambda a, b: f"({a} + {b})"  # noqa: E731
    dsts = AR_CH + [AR_CONV, "end"]
    counts, starts = _ar_counts_sql()
    drow = ", ".join(
        "CAST(" + " + ".join(f"c_{i}_{j}" for j in dsts) + f" AS BIGINT) AS d_{i}"
        for i in AR_CH
    )

    def msub(chs):
        return [
            [
                (f"(CAST(d_{i} AS DOUBLE) - c_{i}_{j})" if i == j else f"(0.0 - c_{i}_{j})")
                for j in chs
            ]
            for i in chs
        ]

    def solve(chs, det_fn):
        """h_s expressions (absorption prob into CONV) for states chs."""
        m = msub(chs)
        rhs = [f"CAST(c_{i}_{AR_CONV} AS DOUBLE)" for i in chs]
        det = det_fn(m, mul, sub, add)
        hs = {}
        for jidx, jname in enumerate(chs):
            mj = [
                [rhs[r] if c == jidx else m[r][c] for c in range(len(chs))]
                for r in range(len(chs))
            ]
            hs[jname] = f"(({det_fn(mj, mul, sub, add)}) / ({det}))"
        return hs

    h4 = solve(AR_CH, _det4)
    nu = "CAST(" + " + ".join(f"st_{s}" for s in AR_CH + [AR_CONV]) + " AS DOUBLE)"
    base_p = (
        "("
        + " + ".join(f"(st_{s} / {nu}) * {h4[s]}" for s in AR_CH)
        + f" + st_{AR_CONV} / {nu})"
    )
    rows = []
    re_exprs = {}
    for c in AR_CH:
        rest = [s for s in AR_CH if s != c]
        h3 = solve(rest, _det3)
        p_rm = (
            "("
            + " + ".join(f"(st_{s} / {nu}) * {h3[s]}" for s in rest)
            + f" + st_{AR_CONV} / {nu})"
        )
        re_exprs[c] = f"(({base_p} - {p_rm}) / {base_p})"
    re_tot = "(" + " + ".join(re_exprs[c] for c in AR_CH) + ")"
    for c in AR_CH:
        rest = [s for s in AR_CH if s != c]
        h3 = solve(rest, _det3)
        p_rm = (
            "("
            + " + ".join(f"(st_{s} / {nu}) * {h3[s]}" for s in rest)
            + f" + st_{AR_CONV} / {nu})"
        )
        rows.append(
            f"SELECT '{c}' AS channel, "
            f"{dround(f'st_{c} / {nu}', 6)} AS start_share, "
            f"{dround(base_p, 6)} AS p_conv_base, "
            f"{dround(p_rm, 6)} AS p_conv_removed, "
            f"{dround(re_exprs[c], 6)} AS removal_effect, "
            f"{dround(f'{re_exprs[c]} / {re_tot}', 6)} AS attribution_share "
            f"FROM wide2"
        )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type AS src,
               COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id), 'end') AS dst,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS pos
        FROM events
    ), tr AS (
        SELECT src, dst FROM seq WHERE src <> '{AR_CONV}'
    ), firsts AS (
        SELECT src AS first_type FROM seq WHERE pos = 1
    ), widef AS (
        SELECT w.*, f.* FROM (SELECT {counts} FROM tr) w,
             (SELECT {starts} FROM firsts) f
    ), wide2 AS (SELECT *, {drow} FROM widef)
    {" UNION ALL ".join(rows)}
    """


@register("ext_attr_markov_removal", _ar_oracle())
def ext_attr_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: the data-driven multi-touch model.
    The session chain (4 channels, absorbing states '{AR_CONV}' and 'end')
    gives a base conversion probability P = sum_s pi_s * h_s via the
    absorption equations M h = r; removing channel c (its visits become
    non-converting) re-solves the 3x3 system, and the channel's credit is
    its removal effect (P - P_removed)/P, normalized into attribution
    shares — the principled alternative to first/last-touch
    (ext_session_attribution) that credits mid-path channels, built on the
    same Cramer machinery as ext_markov_absorption (which reports expected
    STEPS; this reports conversion CREDIT).

    Exactness: transition/start counts are exact integers; every h is a
    ratio of fixed-order cofactor-expansion determinants over
    (d_i*delta - c_ij) doubles generated from ONE template for both
    engines; terminal dround.

    Scale shape: one user-partitioned LEAD window and two tiny aggregates
    (4x6 transition counts, 5 start counts) collapse the corpus; the five
    Cramer solves are scalar expressions on one wide row."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.coalesce(F.lead("event_type").over(w), F.lit("end")).alias("dst"),
        F.row_number().over(w).alias("pos"),
    )
    tr = seq.filter(F.col("src") != AR_CONV)
    dsts = AR_CH + [AR_CONV, "end"]
    cnt = tr.agg(
        *[
            F.sum(
                F.when((F.col("src") == i) & (F.col("dst") == j), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"c_{i}_{j}")
            for i in AR_CH
            for j in dsts
        ]
    )
    firsts = seq.filter(F.col("pos") == 1).agg(
        *[
            F.sum(F.when(F.col("src") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"st_{s}")
            for s in AR_CH + [AR_CONV]
        ]
    )
    wide = cnt.crossJoin(F.broadcast(firsts))
    for i in AR_CH:
        tot = None
        for j in dsts:
            c = F.col(f"c_{i}_{j}")
            tot = c if tot is None else tot + c
        wide = wide.withColumn(f"d_{i}", tot.cast("bigint"))
    wide = wide.localCheckpoint(eager=False)

    # The five Cramer solves are built as SQL STRINGS and parsed once:
    # constructing the determinant trees out of Column operators cost
    # ~1.5-2 s of py4j round trips per invocation (profile_key r11:
    # build 2.3-2.5 s vs 0.03 s exec). The oracle twin below already
    # generates the IDENTICAL fixed-order expansion as text through the
    # same _det3/_det4 templates, so the parsed expressions are the same
    # arithmetic node for node — values are bit-identical.
    from .r6_ops import _ma_sql_ops

    mul_s, sub_s, add_s = _ma_sql_ops()

    def msub(chs):
        return [
            [
                f"(CAST(d_{i} AS DOUBLE) - c_{i}_{j})"
                if i == j
                else f"(0.0D - c_{i}_{j})"
                for j in chs
            ]
            for i in chs
        ]

    def solve(chs, det_fn):
        m = msub(chs)
        rhs = [f"CAST(c_{i}_{AR_CONV} AS DOUBLE)" for i in chs]
        det = det_fn(m, mul_s, sub_s, add_s)
        hs = {}
        for jidx, jname in enumerate(chs):
            mj = [
                [rhs[r] if c == jidx else m[r][c] for c in range(len(chs))]
                for r in range(len(chs))
            ]
            hs[jname] = f"(({det_fn(mj, mul_s, sub_s, add_s)}) / ({det}))"
        return hs

    h4 = solve(AR_CH, _det4)
    nu_s = (
        "CAST(" + " + ".join(f"st_{s}" for s in AR_CH + [AR_CONV]) + " AS DOUBLE)"
    )
    base_p_s = (
        "("
        + " + ".join(f"(st_{s} / {nu_s}) * {h4[s]}" for s in AR_CH)
        + f" + st_{AR_CONV} / {nu_s})"
    )
    p_rm_s = {}
    for c in AR_CH:
        rest = [s for s in AR_CH if s != c]
        h3 = solve(rest, _det3)
        p_rm_s[c] = (
            "("
            + " + ".join(f"(st_{s} / {nu_s}) * {h3[s]}" for s in rest)
            + f" + st_{AR_CONV} / {nu_s})"
        )

    # Stage the five Cramer scalars into ONE materialized row before the
    # per-channel union: inlining them into every output column of every
    # union branch multiplies the (already deep) determinant expression
    # trees ~24x and puts Catalyst analysis, not data, on the critical
    # path (measured 10.7s -> ~1s with this checkpoint).
    mid = wide.select(
        *[F.col(f"st_{s}") for s in AR_CH],
        F.expr(nu_s).alias("nu"),
        F.expr(base_p_s).alias("base_p"),
        *[F.expr(p_rm_s[c]).alias(f"prm_{c}") for c in AR_CH],
    ).localCheckpoint(eager=False)

    re_exprs = {
        c: (F.col("base_p") - F.col(f"prm_{c}")) / F.col("base_p")
        for c in AR_CH
    }
    re_tot = None
    for c in AR_CH:
        re_tot = re_exprs[c] if re_tot is None else re_tot + re_exprs[c]

    rows = [
        mid.select(
            F.lit(c).alias("channel"),
            F.round(F.col(f"st_{c}") / F.col("nu"), 6).alias("start_share"),
            F.round(F.col("base_p"), 6).alias("p_conv_base"),
            F.round(F.col(f"prm_{c}"), 6).alias("p_conv_removed"),
            F.round(re_exprs[c], 6).alias("removal_effect"),
            F.round(re_exprs[c] / re_tot, 6).alias("attribution_share"),
        )
        for c in AR_CH
    ]
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out


# ---------------------------------------------------------------------------
# ext_knee_elbow — maximum-chord-distance knee on the part Pareto curve
# ---------------------------------------------------------------------------


@register(
    "ext_knee_elbow",
    f"""
    WITH pr AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey)
                   AS BIGINT) AS r,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM pr
    ), tot AS (
        SELECT CAST(MAX(r) AS BIGINT) AS np, CAST(MAX(cum) AS BIGINT) AS c
        FROM ranked
    ), dist AS (
        SELECT ranked.r, ranked.cum, tot.np, tot.c,
               CAST(ranked.cum * tot.np - ranked.r * tot.c AS BIGINT)
                   AS cross_x
        FROM ranked, tot
    ), best AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cross_x) DESC, r)
                   AS rk
            FROM dist
        ) WHERE rk = 1
    )
    SELECT np AS n_parts, r AS knee_rank,
           {dround('CAST(r AS DOUBLE) / np', 6)} AS knee_rank_share,
           {dround('CAST(cum AS DOUBLE) / c', 6)} AS knee_cum_share
    FROM best
    """,
)
def ext_knee_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee/elbow detection on the part revenue Pareto curve by the
    maximum-chord-distance method (Kneedle's geometric core): the rank
    whose cumulative-revenue point lies farthest from the straight line
    between (0,0) and (n_parts, total) — the principled 'where does
    diminishing returns start' cutoff behind catalog-trimming, cluster-k
    and threshold choices (ext_part_pareto reports fixed ABC bands; this
    finds the DATA-CHOSEN cutoff).

    Exactness: the perpendicular distance ordering is the integer cross
    product |cum_r * N - r * C| — exact BIGINTs end to end (fits: cum ~
    2e12 x N ~ 2e4 = 4e16 < 2^63); argmax tie-breaks on the smaller rank;
    only the two reported shares divide, then dround.

    Scale shape: one part-keyed aggregate, then rank/cumsum windows over
    the part grid (post-aggregation); at larger part cardinality the same
    curve is computed on a top-K + sampled-tail sketch."""
    pr = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    wr = Window.orderBy(F.desc("cents"), F.asc("l_partkey"))
    ranked = pr.select(
        F.row_number().over(wr).cast("bigint").alias("r"),
        F.sum("cents")
        .over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum"),
    )
    tot = ranked.agg(
        F.max("r").cast("bigint").alias("np"),
        F.max("cum").cast("bigint").alias("c"),
    )
    dist = ranked.crossJoin(F.broadcast(tot)).select(
        "r",
        "cum",
        "np",
        "c",
        (F.col("cum") * F.col("np") - F.col("r") * F.col("c"))
        .cast("bigint")
        .alias("cross_x"),
    )
    best = (
        dist.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc(F.abs(F.col("cross_x"))), F.asc("r"))),
        )
        .filter(F.col("rk") == 1)
    )
    return best.select(
        F.col("np").alias("n_parts"),
        F.col("r").alias("knee_rank"),
        F.round(F.col("r").cast("double") / F.col("np"), 6).alias(
            "knee_rank_share"
        ),
        F.round(F.col("cum").cast("double") / F.col("c"), 6).alias(
            "knee_cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# ext_fit_negbinom — negative-binomial MoM fit of per-user daily counts
# ---------------------------------------------------------------------------

NB_MAX_K = 5  # pmf audit rows k = 0..5


@register(
    "ext_fit_negbinom",
    f"""
    WITH perday AS (
        SELECT user_id, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS k
        FROM events GROUP BY 1, 2
    ), users AS (SELECT DISTINCT user_id FROM events),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    grid AS (
        SELECT u.user_id, days.d, COALESCE(p.k, 0) AS k
        FROM users u CROSS JOIN days
        LEFT JOIN perday p ON p.user_id = u.user_id AND p.d = days.d
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS sk,
               CAST(SUM(k * k) AS BIGINT) AS skk
        FROM grid
    ), fit AS (
        SELECT n, sk, skk,
               CAST(sk AS DOUBLE) / n AS m,
               (CAST(n AS DOUBLE) * skk - CAST(sk AS DOUBLE) * sk)
                   / (CAST(n AS DOUBLE) * n) AS v
        FROM s
    ), obs AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM grid
        WHERE k <= {NB_MAX_K} GROUP BY 1
    ), ks AS (
        SELECT unnest(generate_series(0, {NB_MAX_K})) AS k
    ), pmf AS (
        SELECT ks.k,
               COALESCE(obs.n_k, 0) AS n_k,
               fit.n, fit.m, fit.v,
               m * m / (v - m) AS r,
               m / v AS p
        FROM ks CROSS JOIN fit LEFT JOIN obs ON obs.k = ks.k
    ), rec AS (
        SELECT k, n_k, n, m, r, p,
               CASE k {" ".join(
                   f"WHEN {kk} THEN " + (
                       "power(p, r)" if kk == 0 else
                       "power(p, r)" + "".join(
                           f" * ((r + {j}) / {j + 1}.0) * (1.0 - p)"
                           for j in range(kk)
                       )
                   )
                   for kk in range(NB_MAX_K + 1)
               )} END AS nb_pmf,
               CASE k {" ".join(
                   f"WHEN {kk} THEN " + (
                       "exp(0.0 - m)" if kk == 0 else
                       "exp(0.0 - m)" + "".join(
                           f" * (m / {j + 1}.0)" for j in range(kk)
                       )
                   )
                   for kk in range(NB_MAX_K + 1)
               )} END AS pois_pmf
        FROM pmf
    )
    SELECT CAST(k AS BIGINT) AS k, n_k,
           {dround('CAST(n_k AS DOUBLE) / n', 6)} AS obs_share,
           {dround('nb_pmf', 6)} AS nb_pmf,
           {dround('pois_pmf', 6)} AS poisson_pmf,
           {dround('r', 6)} AS nb_r,
           {dround('p', 6)} AS nb_p
    FROM rec
    """,
)
def ext_fit_negbinom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of per-user DAILY event
    counts (zeros materialized on the full user x day grid), with a pmf
    audit for k = 0..{NB_MAX_K}: observed share vs the fitted NB pmf vs the
    equal-mean Poisson pmf — the count-data distribution fit
    (ext_fit_lognormal covers continuous, ext_evt_gumbel extremes;
    ext_overdispersion_check DETECTS non-Poisson dispersion, this key FITS
    the distribution that accommodates it: r = m^2/(v-m), p = m/v).

    Exactness: the count moments are exact integers on the materialized
    grid; m, v, r, p are fixed double expressions; the pmfs are evaluated
    by the CLOSED RECURRENCE unrolled per k (pmf(k+1) = pmf(k) *
    (r+k)/(k+1) * (1-p)), so both engines run the identical op sequence —
    power/exp appear once per row (the ext_fdr_bh precedent), inside a
    6dp dround.

    Scale shape: one (user, day) aggregate + broadcast grid collapse the
    corpus; the fit and audit are grid-row arithmetic."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    # r10: events is scanned ONCE (ext_cochran_q's rewrite) — the user and
    # day lists collapse out of the (user, day) aggregate (identical sets:
    # a user/day appears in perday iff it has any event), and the reused
    # frames are pinned so the moment fold and the pmf histogram below
    # don't each replay the corpus aggregate (plan audit: 6 events -> 1)
    perday = ev.groupBy("user_id", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    ).localCheckpoint(eager=False)
    users = perday.select("user_id").distinct()
    days = perday.select("d").distinct()
    grid = (
        users.crossJoin(F.broadcast(days))
        .join(perday, ["user_id", "d"], "left")
        .select(F.coalesce("k", F.lit(0)).alias("k"))
        .localCheckpoint(eager=False)  # feeds the moments AND the histogram
    )
    s = grid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    obs = (
        grid.filter(F.col("k") <= NB_MAX_K)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_k"))
    )
    ks = s.select(
        "n", "sk", "skk", F.explode(F.sequence(F.lit(0), F.lit(NB_MAX_K))).alias("k")
    )
    pmf = ks.join(F.broadcast(obs), "k", "left").select(
        "k",
        F.coalesce("n_k", F.lit(0)).cast("bigint").alias("n_k"),
        "n",
        (F.col("sk").cast("double") / F.col("n")).alias("m"),
        (
            (F.col("n").cast("double") * F.col("skk")
             - F.col("sk").cast("double") * F.col("sk"))
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("v"),
    )
    r = F.col("m") * F.col("m") / (F.col("v") - F.col("m"))
    p = F.col("m") / F.col("v")

    def nb_pmf_k(kk: int):
        e = F.pow(p, r)
        for j in range(kk):
            e = e * ((r + j) / float(j + 1)) * (1.0 - p)
        return e

    def pois_pmf_k(kk: int):
        e = F.exp(F.lit(0.0) - F.col("m"))
        for j in range(kk):
            e = e * (F.col("m") / float(j + 1))
        return e

    nb_expr = None
    po_expr = None
    for kk in range(NB_MAX_K + 1):
        nb_expr = (
            F.when(F.col("k") == kk, nb_pmf_k(kk))
            if nb_expr is None
            else nb_expr.when(F.col("k") == kk, nb_pmf_k(kk))
        )
        po_expr = (
            F.when(F.col("k") == kk, pois_pmf_k(kk))
            if po_expr is None
            else po_expr.when(F.col("k") == kk, pois_pmf_k(kk))
        )
    return pmf.select(
        F.col("k").cast("bigint").alias("k"),
        "n_k",
        F.round(F.col("n_k").cast("double") / F.col("n"), 6).alias("obs_share"),
        F.round(nb_expr, 6).alias("nb_pmf"),
        F.round(po_expr, 6).alias("poisson_pmf"),
        F.round(r, 6).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
    )


# ---------------------------------------------------------------------------
# ext_hclust_single_link — single-linkage dendrogram of label centroids
# ---------------------------------------------------------------------------

HC_UNITS = 1000  # embedding quantization (the PCA/CKA/MMD discipline)
HC_K = 10  # number of labels (fixture: 0..9)


def _hc_oracle() -> str:
    # fold state: 'c0|c1|...|c9#log' — a SINGLE VARCHAR (the
    # ext_hmm_viterbi discipline: DuckDB v1.0.0 list_reduce mutates struct
    # accumulator fields in place, so multi-field states are unsafe).
    assign = "string_split(acc, '#')[1]"
    logp = "string_split(acc, '#')[2]"
    arr = f"string_split({assign}, '|')"
    ca = f"{arr}[CAST(string_split(x, ',')[1] AS INT) + 1]"
    cb = f"{arr}[CAST(string_split(x, ',')[2] AS INT) + 1]"
    merged = (
        f"array_to_string(list_transform({arr}, "
        f"c -> CASE WHEN c = {ca} THEN {cb} ELSE c END), '|')"
        f" || '#' || {logp} || x || ';'"
    )
    step = f"CASE WHEN {ca} = {cb} THEN acc ELSE {merged} END"
    init = "|".join(str(i) for i in range(HC_K)) + "#"
    return f"""
    WITH xq AS (
        SELECT vec_id, label, i - 1 AS j,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {HC_UNITS}) AS BIGINT)
                   AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ), g AS (
        SELECT label, j, CAST(SUM(x) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM xq GROUP BY 1, 2
    ), pair AS (
        SELECT a.label AS la, b.label AS lb,
               CAST(MAX(a.n) AS BIGINT) AS na, CAST(MAX(b.n) AS BIGINT) AS nb,
               CAST(SUM((a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n))
                   AS BIGINT) AS num
        FROM g a JOIN g b ON a.j = b.j AND a.label < b.label
        GROUP BY 1, 2
    ), edges AS (
        SELECT la, lb,
               CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * na * nb * nb
                   * {HC_UNITS}.0 * {HC_UNITS}.0) AS dist
        FROM pair
    ), seq AS (
        SELECT list_prepend('{init}',
                   list(CAST(la AS VARCHAR) || ',' || CAST(lb AS VARCHAR)
                        || ',' || CAST(dist AS VARCHAR)
                        ORDER BY dist, la, lb)) AS l
        FROM edges
    ), folded AS (
        SELECT list_reduce(l, (acc, x) -> {step}) AS st FROM seq
    ), mlist AS (
        SELECT list_filter(string_split(string_split(st, '#')[2], ';'),
                           m -> m <> '') AS lst
        FROM folded
    ), merges AS (
        SELECT lst[i] AS rec, CAST(i AS BIGINT) AS step
        FROM mlist, unnest(generate_series(1, len(lst))) AS t(i)
    )
    SELECT step,
           CAST(string_split(rec, ',')[1] AS BIGINT) AS label_a,
           CAST(string_split(rec, ',')[2] AS BIGINT) AS label_b,
           {dround("CAST(string_split(rec, ',')[3] AS DOUBLE)", 6)}
               AS merge_dist,
           CAST({HC_K} - step AS BIGINT) AS n_clusters
    FROM merges
    """


@register("ext_hclust_single_link", _hc_oracle())
def ext_hclust_single_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-linkage hierarchical clustering of the embedding label
    centroids: Kruskal's MST construction over the 45 centroid-pair
    distances — each output row is one dendrogram merge (which two
    clusters fused, at what distance, leaving how many clusters) — the
    taxonomy-building companion to ext_kmeans_lloyd (flat k-means needs k
    up front; the dendrogram exposes EVERY k at once, and its largest
    merge-distance gap is the natural cut). Distances are the exact
    ext_embed_mmd numerators (||mean_a - mean_b||^2 on quantized integer
    sums).

    Determinism: the edge list sorts by (distance, a, b) on identical
    doubles; the union-find fold keeps cluster assignments in a single
    VARCHAR state (the ext_hmm_viterbi discipline — DuckDB list_reduce
    struct states mutate in place) and merging is an order-fixed
    list_transform; a complete graph always yields exactly k-1 merges.

    Scale shape: one (label, dim) aggregate collapses the corpus; the
    45-edge Kruskal fold is sketch-sized (hierarchies are built over
    CENTROIDS/sketches at scale, never raw rows)."""
    emb = load(spark, sf_dir, "embeddings")
    xq = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * HC_UNITS, 0).cast("bigint"),
            )
        ).alias("j", "x"),
    )
    g = xq.groupBy("label", "j").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = g.select(
        F.col("label").alias("la"), "j", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = g.select(
        F.col("label").alias("lb"), F.col("j").alias("jb"),
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    diff = F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
    pair = (
        a.join(F.broadcast(b), (F.col("j") == F.col("jb")) & (F.col("la") < F.col("lb")))
        .groupBy("la", "lb")
        .agg(
            F.max("na").cast("bigint").alias("na"),
            F.max("nb").cast("bigint").alias("nb"),
            F.sum(diff * diff).cast("bigint").alias("num"),
        )
    )
    edges = pair.select(
        "la",
        "lb",
        (
            F.col("num").cast("double")
            / (
                F.col("na").cast("double") * F.col("na") * F.col("nb") * F.col("nb")
                * float(HC_UNITS) * float(HC_UNITS)
            )
        ).alias("dist"),
    )
    estr = F.concat(
        F.col("la").cast("string"), F.lit(","),
        F.col("lb").cast("string"), F.lit(","),
        F.col("dist").cast("string"),
    )
    seq = edges.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dist", "la", "lb", estr.alias("e")))),
            lambda st: st["e"],
        ).alias("l")
    )
    init = F.lit("|".join(str(i) for i in range(HC_K)) + "#")

    def step(acc, x):
        assign = F.split(acc, "#")[0]
        logp = F.split(acc, "#")[1]
        arr = F.split(assign, r"\|")
        ia = F.split(x, ",")[0].cast("int") + 1
        ib = F.split(x, ",")[1].cast("int") + 1
        ca = F.element_at(arr, ia)
        cb = F.element_at(arr, ib)
        merged = F.concat(
            F.array_join(
                F.transform(arr, lambda c: F.when(c == ca, cb).otherwise(c)), "|"
            ),
            F.lit("#"),
            logp,
            x,
            F.lit(";"),
        )
        return F.when(ca == cb, acc).otherwise(merged)

    folded = seq.select(F.aggregate(F.col("l"), init, step).alias("st"))
    merges = folded.select(
        F.posexplode(
            F.filter(
                F.split(F.split(F.col("st"), "#")[1], ";"),
                lambda m: m != "",
            )
        ).alias("i", "rec")
    )
    return merges.select(
        (F.col("i") + 1).cast("bigint").alias("step"),
        F.split("rec", ",")[0].cast("bigint").alias("label_a"),
        F.split("rec", ",")[1].cast("bigint").alias("label_b"),
        F.round(F.split("rec", ",")[2].cast("double"), 6).alias("merge_dist"),
        (F.lit(HC_K) - (F.col("i") + 1)).cast("bigint").alias("n_clusters"),
    )


# ---------------------------------------------------------------------------
# sink_codec_roundtrip — parquet compression-codec selection audit
# ---------------------------------------------------------------------------

CODECS = ["none", "snappy", "zstd", "gzip"]


@register(
    "sink_codec_roundtrip",
    """
    SELECT codec,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
           TRUE AS content_ok,
           TRUE AS size_positive,
           codec <> 'none' AS smaller_than_uncompressed
    FROM (VALUES ('gzip'), ('none'), ('snappy'), ('zstd')) AS t(codec)
    """,
)
def sink_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec selection audit — the sink-side knob that
    matters most at 100 TB (zstd vs snappy is routinely a 30-50% storage
    and scan-IO delta): writes the lineitem projection under each codec,
    reads it back, and emits the SF-invariant contract per codec: row
    count preserved, content checksum preserved (sum of exact price
    cents), on-disk size positive, and every real codec strictly smaller
    than the uncompressed write. Exact on-disk byte counts are
    layout/version-dependent (same reason src_binary_files pins
    invariants, not digests), so the driver-checkable contract is the
    invariant set — the size ORDERING is the decision the audit exists
    to inform.

    Scale shape: one narrow projection written four ways (each write is
    the normal parallel parquet path; codec choice is metadata), four
    footer-only reads for counts + one columnar aggregate each. The four
    codec roundtrips are INDEPENDENT jobs, so they run from a small
    driver thread pool (guide-standard job overlap: the next codec's
    write back-fills executors freed by the previous one's straggler
    tail — r10, measured ~1.7x on the whole key at sf0.1); each thread
    touches only its own codec's scratch directory and the result dict
    is keyed by codec, so the overlap cannot change any output value."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from .core_scan import SCRATCH

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    base = os.path.join(
        SCRATCH, os.path.basename(sf_dir.rstrip("/")), "codec_roundtrip"
    )

    def roundtrip(codec: str) -> tuple[str, int, tuple]:
        # Job descriptions are JVM-thread-local; without PySpark's
        # pinned-thread mode (PYSPARK_PIN_THREAD=true, the default since
        # 3.2) concurrent workers can bleed descriptions across the four
        # codec jobs (ADVICE r10). UI attribution only — results are keyed
        # by codec and unaffected.
        spark.sparkContext.setJobDescription(f"codec_roundtrip: {codec}")
        path = os.path.join(base, codec)
        (
            li.write.mode("overwrite")
            .option("compression", "uncompressed" if codec == "none" else codec)
            .parquet(path)
        )
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        back = spark.read.parquet(path)
        row = back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
        ).collect()[0]
        return codec, size, (row["n"], row["s"])

    src_sum = li.agg(F.sum("cents").cast("bigint").alias("s")).collect()[0]["s"]
    with ThreadPoolExecutor(max_workers=len(CODECS)) as pool:
        done = list(pool.map(roundtrip, CODECS))
    sizes = {codec: size for codec, size, _ in done}
    stats = {codec: st for codec, _, st in done}
    # smaller_than_uncompressed is strict (<): true at every swept SF
    # (0.001/0.01/0.1, where lineitem compresses well). CAVEAT if a smaller
    # SF is ever added: snappy/gzip framing overhead on a near-empty file
    # can invert the ordering — relax to <= behind a size threshold then.
    rows = [
        (
            codec,
            stats[codec][0],
            bool(stats[codec][1] == src_sum),
            bool(sizes[codec] > 0),
            bool(codec != "none" and sizes[codec] < sizes["none"])
            if codec != "none"
            else False,
        )
        for codec in sorted(CODECS)
    ]
    return local_frame(
        spark,
        rows,
        "codec string, n_rows long, content_ok boolean, "
        "size_positive boolean, smaller_than_uncompressed boolean",
    )


# ---------------------------------------------------------------------------
# ext_eval_cv_auc — k-fold cross-validated AUC (eval protocol)
# ---------------------------------------------------------------------------

CV_FOLDS = 5


def _cv_oracle() -> str:
    from .llm_ops import _md5_32

    fold = f"{_md5_32('CAST(event_id AS VARCHAR)')} % {CV_FOLDS}"
    aucs = ", ".join(
        f"MAX(CASE WHEN fold = {k} THEN auc END) AS auc_{k}"
        for k in range(CV_FOLDS)
    )
    mean = "(" + " + ".join(f"auc_{k}" for k in range(CV_FOLDS)) + f") / {CV_FOLDS}.0"
    var = (
        "("
        + " + ".join(
            f"(auc_{k} - ({mean})) * (auc_{k} - ({mean}))" for k in range(CV_FOLDS)
        )
        + f") / {CV_FOLDS - 1}.0"
    )
    return f"""
    WITH ev AS (
        SELECT {fold} AS fold, event_type, {_CENTS_SQL} AS cents FROM events
    ), g AS (
        SELECT fold, cents, CAST(COUNT(*) AS BIGINT) AS n_all
        FROM ev GROUP BY 1, 2
    ), gc AS (
        SELECT fold, cents, n_all,
               CAST(COALESCE(SUM(n_all) OVER (PARTITION BY fold ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below_all
        FROM g
    ), t AS (
        SELECT fold, cents, CAST(COUNT(*) AS BIGINT) AS n_t
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
    ), tc AS (
        SELECT fold, cents, n_t,
               CAST(COALESCE(SUM(n_t) OVER (PARTITION BY fold ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below_t
        FROM t
    ), u AS (
        SELECT tc.fold,
               CAST(SUM(tc.n_t) AS BIGINT) AS n_pos,
               CAST(SUM(tc.n_t * (2 * (gc.below_all - tc.below_t)
                                  + (gc.n_all - tc.n_t))) AS BIGINT) AS u2
        FROM tc JOIN gc ON gc.fold = tc.fold AND gc.cents = tc.cents
        GROUP BY 1
    ), tot AS (
        SELECT fold, CAST(SUM(n_all) AS BIGINT) AS n FROM g GROUP BY 1
    ), per_fold AS (
        SELECT u.fold, tot.n, u.n_pos,
               CAST(u.u2 AS DOUBLE) / (2.0 * u.n_pos * (tot.n - u.n_pos))
                   AS auc
        FROM u JOIN tot USING (fold)
    ), wide AS (
        SELECT {aucs} FROM per_fold
    )
    SELECT p.fold, p.n AS n_events, p.n_pos,
           {dround('p.auc', 6)} AS auc,
           {dround(mean, 6)} AS mean_auc,
           {dround(f'sqrt({var})', 6)} AS sd_auc
    FROM per_fold p, wide
    """


@register("ext_eval_cv_auc", _cv_oracle())
def ext_eval_cv_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated AUC: the evaluation PROTOCOL layered on the
    exact Mann-Whitney machinery — events hash-split into {CV_FOLDS} folds
    (md5, rand-free), the purchase-vs-rest AUC computed exactly within
    each fold, plus the across-fold mean and sample SD that turn a point
    metric into an uncertainty-aware one (the question a single-number
    ext_eval_auc cannot answer: is the metric stable across resamples?).

    Exactness: fold assignment is the house md5 hash; per-fold U
    statistics are exact integers on per-fold cents grids
    (partition-parallel cumulative windows); mean/SD across the 5 fold
    AUCs are fixed expressions in fold order; dround terminals.

    Scale shape: ONE corpus pass builds the (fold, score) grids; the fold
    dimension rides the same shuffle key, so k-fold costs the same
    shuffle as 1-fold."""
    from .llm_ops import _spark_md5_32

    ev = load(spark, sf_dir, "events").select(
        F.pmod(_spark_md5_32(F.col("event_id").cast("string")), F.lit(CV_FOLDS)).alias("fold"),
        "event_type",
        _cents().alias("cents"),
    )
    g = ev.groupBy("fold", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all")
    )
    wg = (
        Window.partitionBy("fold")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gc = g.withColumn(
        "below_all", F.coalesce(F.sum("n_all").over(wg), F.lit(0)).cast("bigint")
    )
    t = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("fold", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    )
    tc = t.withColumn(
        "below_t", F.coalesce(F.sum("n_t").over(wg), F.lit(0)).cast("bigint")
    )
    u = (
        tc.join(gc, ["fold", "cents"])
        .groupBy("fold")
        .agg(
            F.sum("n_t").cast("bigint").alias("n_pos"),
            F.sum(
                F.col("n_t")
                * (
                    2 * (F.col("below_all") - F.col("below_t"))
                    + (F.col("n_all") - F.col("n_t"))
                )
            )
            .cast("bigint")
            .alias("u2"),
        )
    )
    tot = g.groupBy("fold").agg(F.sum("n_all").cast("bigint").alias("n"))
    per_fold = (
        u.join(tot, "fold")
        .select(
            "fold",
            "n",
            "n_pos",
            (
                F.col("u2").cast("double")
                / (F.lit(2.0) * F.col("n_pos") * (F.col("n") - F.col("n_pos")))
            ).alias("auc"),
        )
        .localCheckpoint(eager=False)
    )
    wide = per_fold.agg(
        *[
            F.max(F.when(F.col("fold") == k, F.col("auc"))).alias(f"auc_{k}")
            for k in range(CV_FOLDS)
        ]
    )
    mean = None
    for k in range(CV_FOLDS):
        c = F.col(f"auc_{k}")
        mean = c if mean is None else mean + c
    mean = mean / float(CV_FOLDS)
    var = None
    for k in range(CV_FOLDS):
        d = F.col(f"auc_{k}") - mean
        var = d * d if var is None else var + d * d
    var = var / float(CV_FOLDS - 1)
    return per_fold.crossJoin(F.broadcast(wide)).select(
        "fold",
        F.col("n").alias("n_events"),
        "n_pos",
        F.round("auc", 6).alias("auc"),
        F.round(mean, 6).alias("mean_auc"),
        F.round(F.sqrt(var), 6).alias("sd_auc"),
    )


# ---------------------------------------------------------------------------
# ext_seq_alignment — Needleman-Wunsch alignment of two session sequences
# ---------------------------------------------------------------------------

NW_LEN = 12  # sequence length: first N events per selected user
NW_MATCH, NW_MISMATCH, NW_GAP = 2, -1, -1


def _nw_oracle() -> str:
    # DP state: 'i#row' (row = '|'-joined ints) — single-VARCHAR fold
    # (ext_hmm_viterbi discipline); the inner fold builds each row
    # left-to-right, seeded by prepending the -i boundary cell.
    prev = "string_split(acc, '#')[2]"
    i_next = "CAST(CAST(string_split(acc, '#')[1] AS INT) + 1 AS VARCHAR)"
    jlen = "len(string_split(iacc, '|'))"
    step_inner = f"""iacc || '|' || CAST(
        GREATEST(
            CAST(string_split({prev}, '|')[{jlen}] AS INT)
                + (CASE WHEN a = bj THEN {NW_MATCH} ELSE {NW_MISMATCH} END),
            CAST(string_split({prev}, '|')[{jlen} + 1] AS INT) + {NW_GAP},
            CAST(string_split(iacc, '|')[{jlen}] AS INT) + {NW_GAP}
        ) AS VARCHAR)"""
    outer = f"""{i_next} || '#' || list_reduce(
        list_prepend(CAST(0 - (CAST(string_split(acc, '#')[1] AS INT) + 1)
                          AS VARCHAR), l_b),
        (iacc, bj) -> {step_inner})"""
    return f"""
    WITH ranked_users AS (
        SELECT user_id,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
        FROM events GROUP BY 1
    ), chosen AS (
        SELECT user_id, rk FROM ranked_users WHERE rk <= 2
    ), seqs AS (
        SELECT c.rk, list(substr(e.event_type, 1, 1)
                          ORDER BY e.ts, e.event_id)[1:{NW_LEN}] AS l,
               MAX(c.user_id) AS user_id
        FROM chosen c JOIN events e USING (user_id)
        GROUP BY c.rk
    ), wide AS (
        SELECT MAX(CASE WHEN rk = 1 THEN user_id END) AS user_a,
               MAX(CASE WHEN rk = 2 THEN user_id END) AS user_b,
               MAX(CASE WHEN rk = 1 THEN l END) AS l_a,
               MAX(CASE WHEN rk = 2 THEN l END) AS l_b
        FROM seqs
    ), init AS (
        SELECT user_a, user_b, l_a, l_b,
               '0#' || array_to_string(list_transform(
                   generate_series(0, len(l_b)),
                   x -> CAST(0 - x AS VARCHAR)), '|') AS st0
        FROM wide
    ), fin AS (
        SELECT user_a, user_b, l_a, l_b,
               list_reduce(list_prepend(st0, l_a), (acc, a) -> {outer}) AS st
        FROM init
    )
    SELECT CAST(user_a AS BIGINT) AS user_a, CAST(user_b AS BIGINT) AS user_b,
           CAST(len(l_a) AS BIGINT) AS len_a, CAST(len(l_b) AS BIGINT) AS len_b,
           CAST(string_split(string_split(st, '#')[2], '|')[len(l_b) + 1]
               AS BIGINT) AS nw_score,
           {dround("CAST(string_split(string_split(st, '#')[2], '|')[len(l_b) + 1]"
                   " AS DOUBLE) / (2.0 * GREATEST(len(l_a), len(l_b)))", 6)}
               AS similarity
    FROM fin
    """


@register("ext_seq_alignment", _nw_oracle())
def ext_seq_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needleman-Wunsch global alignment of the two most-active users'
    session sequences (first {NW_LEN} event-type codes; match +{NW_MATCH},
    mismatch {NW_MISMATCH}, gap {NW_GAP}): the edit-style similarity that
    respects ORDER and GAPS — ext_text_edit_distance scores character
    strings, ext_seq_pattern_v counts fixed motifs; alignment is the
    general tool behind session-similarity, funnel-conformance and
    clickstream-clustering work.

    Determinism: the full DP table is computed by a NESTED ordered fold
    (outer over sequence A, inner building each row left-to-right) in
    pure integer arithmetic carried through a single VARCHAR state — the
    ext_hmm_viterbi discipline; user/sequence selection is a total order
    (count desc, user_id).

    Scale shape: sequence extraction is two partition-parallel windows;
    the O(n*m) DP runs on one {NW_LEN}x{NW_LEN} pair — at scale the same
    fold runs per candidate pair AFTER a blocking stage (the
    ext_text_edit_distance_blocked pattern), never all-pairs."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    chosen = (
        counts.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("user_id")))
        )
        .filter(F.col("rk") <= 2)
        .select("user_id", "rk")
    )
    seqs = (
        chosen.join(ev, "user_id")
        .groupBy("rk")
        .agg(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "ts",
                                "event_id",
                                F.substring("event_type", 1, 1).alias("ch"),
                            )
                        )
                    ),
                    lambda s: s["ch"],
                ),
                1,
                NW_LEN,
            ).alias("l"),
            F.max("user_id").alias("user_id"),
        )
    )
    wide = seqs.agg(
        F.max(F.when(F.col("rk") == 1, F.col("user_id"))).alias("user_a"),
        F.max(F.when(F.col("rk") == 2, F.col("user_id"))).alias("user_b"),
        F.max(F.when(F.col("rk") == 1, F.col("l"))).alias("l_a"),
        F.max(F.when(F.col("rk") == 2, F.col("l"))).alias("l_b"),
    )
    st0 = F.concat(
        F.lit("0#"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.size("l_b")),
                lambda x: (F.lit(0) - x).cast("string"),
            ),
            "|",
        ),
    )

    def inner_step(lb_col):
        def fn(iacc, bj, acc, a):
            prev = F.split(acc, "#")[1]
            jl = F.size(F.split(iacc, r"\|"))
            diag = F.element_at(F.split(prev, r"\|"), jl).cast("int") + F.when(
                a == bj, F.lit(NW_MATCH)
            ).otherwise(F.lit(NW_MISMATCH))
            up = F.element_at(F.split(prev, r"\|"), jl + 1).cast("int") + NW_GAP
            left = F.element_at(F.split(iacc, r"\|"), jl).cast("int") + NW_GAP
            return F.concat(
                iacc, F.lit("|"), F.greatest(diag, up, left).cast("string")
            )

        return fn

    def outer_step(acc, a):
        i_next = (F.split(acc, "#")[0].cast("int") + 1).cast("string")
        row0 = (F.lit(0) - (F.split(acc, "#")[0].cast("int") + 1)).cast("string")
        inner = F.aggregate(
            F.col("l_b"),
            row0,
            lambda iacc, bj: inner_step(None)(iacc, bj, acc, a),
        )
        return F.concat(i_next, F.lit("#"), inner)

    fin = wide.select(
        "user_a",
        "user_b",
        F.size("l_a").cast("bigint").alias("len_a"),
        F.size("l_b").cast("bigint").alias("len_b"),
        F.aggregate(F.col("l_a"), st0, outer_step).alias("st"),
    )
    score = F.element_at(
        F.split(F.split(F.col("st"), "#")[1], r"\|"), F.col("len_b").cast("int") + 1
    ).cast("bigint")
    return fin.select(
        F.col("user_a").cast("bigint").alias("user_a"),
        F.col("user_b").cast("bigint").alias("user_b"),
        "len_a",
        "len_b",
        score.alias("nw_score"),
        F.round(
            score.cast("double") / (F.lit(2.0) * F.greatest("len_a", "len_b")), 6
        ).alias("similarity"),
    )


# ---------------------------------------------------------------------------
# ext_dtw_distance — dynamic time warping between two event-type day series
# ---------------------------------------------------------------------------

DTW_A, DTW_B = "click", "purchase"


def _dtw_oracle() -> str:
    prev = "string_split(acc, '#')[2]"
    # outer acc: 'i#row'; i indexes series A (clicks); row is the DP row.
    # Inner boundary cell: new[1] = prev[1] + |a - b_1| handled by seeding
    # the inner fold with a sentinel '@' and treating it as the boundary.
    jlen = "len(string_split(iacc, '|'))"
    cost = "ABS(CAST(a AS BIGINT) - CAST(bj AS BIGINT))"
    inner = f"""CASE WHEN iacc = '@'
        THEN CAST(CAST(string_split({prev}, '|')[1] AS BIGINT) + {cost} AS VARCHAR)
        ELSE iacc || '|' || CAST(
            {cost} + LEAST(
                CAST(string_split({prev}, '|')[{jlen}] AS BIGINT),
                CAST(string_split({prev}, '|')[{jlen} + 1] AS BIGINT),
                CAST(string_split(iacc, '|')[{jlen}] AS BIGINT)
            ) AS VARCHAR) END"""
    outer = f"""CAST(CAST(string_split(acc, '#')[1] AS INT) + 1 AS VARCHAR)
        || '#' || list_reduce(list_prepend('@', l_b), (iacc, bj) -> {inner})"""
    return f"""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS d, event_type, {_CENTS_SQL} AS cents
        FROM events WHERE event_type IN ('{DTW_A}', '{DTW_B}')
    ), days AS (SELECT DISTINCT d FROM ev),
    daily AS (
        SELECT days.d,
               CAST(COALESCE(SUM(CASE WHEN event_type = '{DTW_A}'
                   THEN cents END), 0) AS BIGINT) AS a,
               CAST(COALESCE(SUM(CASE WHEN event_type = '{DTW_B}'
                   THEN cents END), 0) AS BIGINT) AS b
        FROM days LEFT JOIN ev ON ev.d = days.d
        GROUP BY 1
    ), seqs AS (
        SELECT list(CAST(a AS VARCHAR) ORDER BY d) AS l_a,
               list(CAST(b AS VARCHAR) ORDER BY d) AS l_b,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(ABS(a - b)) AS BIGINT) AS lockstep
        FROM daily
    ), boot AS (
        -- row 0 of the DP: cumulative |a_1? no — DTW boundary row is the
        -- cumulative cost of aligning b_1..b_j to a_1; built by seeding
        -- the fold with row(i=1) computed from the first A element, so
        -- the outer fold runs over A elements 2..n.
        SELECT seqs.*,
               '1#' || list_reduce(list_prepend('@', l_b), (iacc, bj) ->
                   CASE WHEN iacc = '@'
                        THEN CAST(ABS(CAST(l_a[1] AS BIGINT)
                                      - CAST(bj AS BIGINT)) AS VARCHAR)
                        ELSE iacc || '|' || CAST(
                            ABS(CAST(l_a[1] AS BIGINT) - CAST(bj AS BIGINT))
                            + CAST(string_split(iacc, '|')[
                                len(string_split(iacc, '|'))] AS BIGINT)
                            AS VARCHAR) END) AS st0
        FROM seqs
    ), fin AS (
        SELECT n_days, lockstep, l_b,
               list_reduce(list_prepend(st0, l_a[2:]), (acc, a) -> {outer})
                   AS st
        FROM boot
    )
    SELECT n_days,
           CAST(string_split(string_split(st, '#')[2], '|')[len(l_b)]
               AS BIGINT) AS dtw_cents,
           {dround("CAST(string_split(string_split(st, '#')[2], '|')[len(l_b)]"
                   " AS DOUBLE) / 100.0 / n_days", 6)} AS dtw_per_day,
           lockstep AS lockstep_cents,
           {dround("CAST(string_split(string_split(st, '#')[2], '|')[len(l_b)]"
                   " AS DOUBLE) / lockstep", 6)} AS warp_gain
    FROM fin
    """


@register("ext_dtw_distance", _dtw_oracle())
def ext_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between the '{DTW_A}' and '{DTW_B}' daily
    revenue series: the alignment-based series distance that tolerates
    phase shifts (a promo spike answered by purchases a day later scores
    CLOSE under DTW, far under lockstep comparison) — the time-series
    sibling of ext_seq_alignment, reported next to the lockstep L1
    distance so warp_gain shows exactly how much the warping explains.

    Determinism: day totals are exact cents integers (zeros materialized);
    the full O(n*m) DP is the same nested ordered single-VARCHAR fold as
    ext_seq_alignment, entirely in BIGINT arithmetic — no floats until the
    two reported ratios, dround.

    Scale shape: the corpus collapses to the day grid in one aggregate;
    the 30x30 DP is sketch-sized (at scale DTW runs per blocked candidate
    pair, often with a Sakoe-Chiba band that caps each row's width)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(DTW_A, DTW_B)
    ).select(
        F.col("ts").cast("date").alias("d"), "event_type", _cents().alias("cents")
    )
    daily = ev.groupBy("d").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == DTW_A, F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == DTW_B, F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("b"),
    )
    seqs = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", F.col("a").cast("string").alias("v")))),
            lambda s: s["v"],
        ).alias("l_a"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", F.col("b").cast("string").alias("v")))),
            lambda s: s["v"],
        ).alias("l_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("a") - F.col("b"))).cast("bigint").alias("lockstep"),
    )

    def boot_step(iacc, bj):
        a1 = F.element_at(F.col("l_a"), 1).cast("bigint")
        cost = F.abs(a1 - bj.cast("bigint"))
        last = F.element_at(
            F.split(iacc, r"\|"), F.size(F.split(iacc, r"\|"))
        ).cast("bigint")
        return F.when(iacc == "@", cost.cast("string")).otherwise(
            F.concat(iacc, F.lit("|"), (cost + last).cast("string"))
        )

    boot = seqs.withColumn(
        "st0",
        F.concat(
            F.lit("1#"),
            F.aggregate(F.col("l_b"), F.lit("@"), boot_step),
        ),
    )

    def outer_step(acc, a):
        prev = F.split(acc, "#")[1]

        def inner(iacc, bj):
            cost = F.abs(a.cast("bigint") - bj.cast("bigint"))
            jl = F.size(F.split(iacc, r"\|"))
            diag = F.element_at(F.split(prev, r"\|"), jl).cast("bigint")
            up = F.element_at(F.split(prev, r"\|"), jl + 1).cast("bigint")
            left = F.element_at(F.split(iacc, r"\|"), jl).cast("bigint")
            first = F.element_at(F.split(prev, r"\|"), 1).cast("bigint")
            return F.when(
                iacc == "@", (first + cost).cast("string")
            ).otherwise(
                F.concat(
                    iacc,
                    F.lit("|"),
                    (cost + F.least(diag, up, left)).cast("string"),
                )
            )

        i_next = (F.split(acc, "#")[0].cast("int") + 1).cast("string")
        return F.concat(
            i_next, F.lit("#"), F.aggregate(F.col("l_b"), F.lit("@"), inner)
        )

    fin = boot.select(
        "n_days",
        "lockstep",
        F.size("l_b").alias("m"),
        F.aggregate(F.slice(F.col("l_a"), 2, 10000), F.col("st0"), outer_step).alias("st"),
    )
    dtw = F.element_at(
        F.split(F.split(F.col("st"), "#")[1], r"\|"), F.col("m")
    ).cast("bigint")
    return fin.select(
        "n_days",
        dtw.alias("dtw_cents"),
        F.round(dtw.cast("double") / 100.0 / F.col("n_days"), 6).alias(
            "dtw_per_day"
        ),
        F.col("lockstep").alias("lockstep_cents"),
        F.round(dtw.cast("double") / F.col("lockstep"), 6).alias("warp_gain"),
    )


# ---------------------------------------------------------------------------
# ext_kalman_filter — 1-D local-level Kalman filter over monthly revenue
# ---------------------------------------------------------------------------

KF_Q = 1.0e6  # process variance (kilodollar^2)
KF_R = 1.0e8  # observation variance (kilodollar^2)
KF_P0 = 1.0e8  # initial state variance


def _kf_oracle() -> str:
    # state: 'x|P|sse|k' (level, variance, sum of squared innovations,
    # step count) — single-VARCHAR fold, doubles round-trip bit-exact.
    x = "CAST(string_split(acc, '|')[1] AS DOUBLE)"
    pv = "CAST(string_split(acc, '|')[2] AS DOUBLE)"
    sse = "CAST(string_split(acc, '|')[3] AS DOUBLE)"
    k = "CAST(string_split(acc, '|')[4] AS INT)"
    pp = f"({pv} + {KF_Q})"
    kg = f"({pp} / ({pp} + {KF_R}))"
    innov = f"(CAST(y AS DOUBLE) - {x})"
    step = (
        f"CAST({x} + {kg} * {innov} AS VARCHAR) || '|' || "
        f"CAST((1.0 - {kg}) * {pp} AS VARCHAR) || '|' || "
        f"CAST({sse} + {innov} * {innov} AS VARCHAR) || '|' || "
        f"CAST({k} + 1 AS VARCHAR)"
    )
    fx = "CAST(string_split(st, '|')[1] AS DOUBLE)"
    fp = "CAST(string_split(st, '|')[2] AS DOUBLE)"
    fs = "CAST(string_split(st, '|')[3] AS DOUBLE)"
    return f"""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS mth,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    // {100_000} AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), seq AS (
        SELECT list(CAST(y AS VARCHAR) ORDER BY mth) AS l,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(CASE WHEN mth = (SELECT MIN(mth) FROM m)
                             THEN y END) AS BIGINT) AS y1
        FROM m
    ), fin AS (
        SELECT n,
               list_reduce(
                   list_prepend(CAST(y1 AS VARCHAR) || '|{KF_P0}|0.0|0',
                                l[2:]),
                   (acc, y) -> {step}) AS st
        FROM seq
    )
    SELECT n AS n_months,
           {dround(f'{fx}', 4)} AS level_final,
           {dround(f'{fp}', 4)} AS variance_final,
           {dround(f'({fp} + {KF_Q}) / (({fp} + {KF_Q}) + {KF_R})', 6)}
               AS gain_steady,
           {dround(f'sqrt({fs} / (n - 1.0))', 4)} AS rmse_innovation
    FROM fin
    """


@register("ext_kalman_filter", _kf_oracle())
def ext_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D local-level Kalman filter over monthly revenue (fixed literal
    process/observation variances, state seeded at the first observation):
    the recursive Bayesian smoother behind online level tracking and
    anomaly gating — unlike the fixed-alpha EWMA (ext_win_ewma) its gain
    ADAPTS as the state variance converges, and the innovation RMSE it
    reports is the model-fit diagnostic. The recursion is the same
    single-VARCHAR ordered fold as ext_hmm_viterbi (state = level,
    variance, innovation SSE, step).

    Determinism: observations are exact kilodollar integers; every filter
    step is a fixed double expression; strings round-trip doubles
    bit-exactly; terminal dround.

    Scale shape: the corpus collapses to the month grid in one aggregate;
    the fold is grid-length. Per-entity filters partition the fold by key
    (collect_list per group) — embarrassingly parallel."""
    mrev = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mth"))
        .agg(
            F.floor(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                / 100_000
            )
            .cast("bigint")
            .alias("y")
        )
    )
    seq = mrev.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("mth", F.col("y").alias("v")))),
            lambda s: s["v"],
        ).alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    init = F.concat(
        F.element_at(F.col("l"), 1).cast("string"),
        F.lit(f"|{KF_P0}|0.0|0"),
    )

    def step(acc, y):
        x = F.split(acc, r"\|")[0].cast("double")
        pv = F.split(acc, r"\|")[1].cast("double")
        sse = F.split(acc, r"\|")[2].cast("double")
        k = F.split(acc, r"\|")[3].cast("int")
        pp = pv + KF_Q
        kg = pp / (pp + KF_R)
        innov = y.cast("double") - x
        return F.concat(
            (x + kg * innov).cast("string"),
            F.lit("|"),
            ((1.0 - kg) * pp).cast("string"),
            F.lit("|"),
            (sse + innov * innov).cast("string"),
            F.lit("|"),
            (k + 1).cast("string"),
        )

    fin = seq.select(
        "n",
        F.aggregate(F.slice(F.col("l"), 2, 100000), init, step).alias("st"),
    )
    fx = F.split(F.col("st"), r"\|")[0].cast("double")
    fp = F.split(F.col("st"), r"\|")[1].cast("double")
    fs = F.split(F.col("st"), r"\|")[2].cast("double")
    return fin.select(
        F.col("n").alias("n_months"),
        F.round(fx, 4).alias("level_final"),
        F.round(fp, 4).alias("variance_final"),
        F.round((fp + KF_Q) / ((fp + KF_Q) + KF_R), 6).alias("gain_steady"),
        F.round(F.sqrt(fs / (F.col("n") - 1.0)), 4).alias("rmse_innovation"),
    )


# ---------------------------------------------------------------------------
# ext_max_drawdown — peak-to-trough drawdown per event-type revenue series
# ---------------------------------------------------------------------------


@register(
    "ext_max_drawdown",
    f"""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS d, event_type, {_CENTS_SQL} AS cents
        FROM events
    ), days AS (SELECT DISTINCT d FROM ev),
    types AS (SELECT DISTINCT event_type FROM ev),
    daily AS (
        SELECT days.d, types.event_type, COALESCE(x.t, 0) AS t
        FROM days CROSS JOIN types
        LEFT JOIN (SELECT d, event_type, CAST(SUM(cents) AS BIGINT) AS t
                   FROM ev GROUP BY 1, 2) x
               ON x.d = days.d AND x.event_type = types.event_type
    ), run AS (
        SELECT event_type, d, t,
               CAST(MAX(t) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS runmax
        FROM daily
    ), dd AS (
        SELECT event_type, d, t, runmax,
               CAST(runmax - t AS BIGINT) AS draw,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY runmax - t DESC, d) AS BIGINT) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days
        FROM run
    )
    SELECT event_type, n_days,
           {dround('CAST(runmax AS DOUBLE) / 100.0', 6)} AS peak_at_trough,
           {dround('CAST(draw AS DOUBLE) / 100.0', 6)} AS max_drawdown,
           {dround('CAST(draw AS DOUBLE) / runmax', 6)} AS drawdown_pct
    FROM dd WHERE rk = 1
    """,
)
def ext_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event type's daily revenue series: the
    largest peak-to-trough fall (absolute and as a share of the running
    peak, with the peak value at the trough) — the downside-risk summary
    finance applies to any KPI series; ext_anomaly_rolling_z flags single
    bad days, drawdown measures the cumulative worst SLUMP, which is what
    capacity/commitment decisions actually care about.

    Exactness: daily totals are exact cents integers (absent days
    materialized as 0); the running maximum and the drawdown are integer
    window arithmetic; argmax tie-breaks on the earlier day; the three
    reported ratios divide once, dround.

    Scale shape: one (day, type) aggregate collapses the corpus; running
    max and argmax are partition-parallel windows over the calendar
    grid."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "event_type", _cents().alias("cents")
    )
    # r10: events is scanned ONCE (ext_cochran_q's rewrite) — day/type
    # lists collapse out of the (d, type) aggregate (identical sets), and
    # the aggregate is pinned so the grid join doesn't replay it (plan
    # audit: 3 events scans -> 1)
    agg = ev.groupBy("d", "event_type").agg(
        F.sum("cents").cast("bigint").alias("t")
    ).localCheckpoint(eager=False)
    days = agg.select("d").distinct()
    types = agg.select("event_type").distinct()
    daily = (
        days.crossJoin(F.broadcast(types))
        .join(agg, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("t", F.lit(0)).alias("t"))
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = daily.withColumn("runmax", F.max("t").over(wrun).cast("bigint"))
    wn = Window.partitionBy("event_type")
    wrk = Window.partitionBy("event_type").orderBy(
        F.desc(F.col("runmax") - F.col("t")), F.asc("d")
    )
    dd = run.select(
        "event_type",
        "t",
        "runmax",
        (F.col("runmax") - F.col("t")).cast("bigint").alias("draw"),
        F.row_number().over(wrk).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n_days"),
    )
    return dd.filter(F.col("rk") == 1).select(
        "event_type",
        "n_days",
        F.round(F.col("runmax").cast("double") / 100.0, 6).alias("peak_at_trough"),
        F.round(F.col("draw").cast("double") / 100.0, 6).alias("max_drawdown"),
        F.round(F.col("draw").cast("double") / F.col("runmax"), 6).alias(
            "drawdown_pct"
        ),
    )


# ---------------------------------------------------------------------------
# ext_holt_winters — additive Holt-Winters (level/trend/season) fold
# ---------------------------------------------------------------------------

HW_ALPHA, HW_BETA, HW_GAMMA = 0.3, 0.1, 0.2
HW_M = 7  # weekly season over the daily series


def _hw_sql() -> str:
    # state: 'l|b|s1|..|s7|sse|k' — single-VARCHAR fold (fields: 1=l, 2=b,
    # 3..9 = seasonals, 10 = sse, 11 = k). Seasonal slot for step k+1 is
    # ((k) % 7) + 3 in field coordinates.
    def fld(i):
        return f"CAST(string_split(acc, '|')[{i}] AS DOUBLE)"

    l, b = fld(1), fld(2)
    sse, k = fld(10), "CAST(string_split(acc, '|')[11] AS INT)"
    slot = f"(({k}) % {HW_M} + 3)"
    s_old = f"CAST(string_split(acc, '|')[{slot}] AS DOUBLE)"
    yv = "CAST(y AS DOUBLE)"
    l_new = f"({HW_ALPHA} * ({yv} - {s_old}) + (1.0 - {HW_ALPHA}) * ({l} + {b}))"
    b_new = f"({HW_BETA} * ({l_new} - {l}) + (1.0 - {HW_BETA}) * {b})"
    s_new = f"({HW_GAMMA} * ({yv} - {l_new}) + (1.0 - {HW_GAMMA}) * {s_old})"
    innov = f"({yv} - ({l} + {b} + {s_old}))"
    season_fields = " || '|' || ".join(
        f"(CASE WHEN {slot} = {i} THEN CAST({s_new} AS VARCHAR)"
        f" ELSE string_split(acc, '|')[{i}] END)"
        for i in range(3, 3 + HW_M)
    )
    return (
        f"CAST({l_new} AS VARCHAR) || '|' || CAST({b_new} AS VARCHAR) || '|' || "
        f"{season_fields} || '|' || "
        f"CAST({sse} + {innov} * {innov} AS VARCHAR) || '|' || "
        f"CAST({k} + 1 AS VARCHAR)"
    )


def _hw_oracle() -> str:
    fx = lambda i: f"CAST(string_split(st, '|')[{i}] AS DOUBLE)"  # noqa: E731
    seas_min = "LEAST(" + ", ".join(fx(i) for i in range(3, 3 + HW_M)) + ")"
    seas_max = "GREATEST(" + ", ".join(fx(i) for i in range(3, 3 + HW_M)) + ")"
    init_seas = " || '|' || ".join(
        f"CAST(CAST(l[{i}] AS DOUBLE) - lvl0 AS VARCHAR)" for i in range(1, HW_M + 1)
    )
    return f"""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS d, {_CENTS_SQL} AS cents FROM events
    ), daily AS (
        SELECT d, CAST(SUM(cents) AS BIGINT) // 100 AS y FROM ev GROUP BY 1
    ), seq AS (
        SELECT list(CAST(y AS VARCHAR) ORDER BY d) AS l,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ), init AS (
        SELECT l, n,
               ({" + ".join(f"CAST(l[{i}] AS DOUBLE)" for i in range(1, HW_M + 1))})
                   / {HW_M}.0 AS lvl0,
               (({" + ".join(f"CAST(l[{i}] AS DOUBLE)" for i in range(HW_M + 1, 2 * HW_M + 1))})
                   / {HW_M}.0
                - ({" + ".join(f"CAST(l[{i}] AS DOUBLE)" for i in range(1, HW_M + 1))})
                   / {HW_M}.0) / {HW_M}.0 AS tr0
        FROM seq
    ), st0 AS (
        SELECT l, n,
               CAST(lvl0 AS VARCHAR) || '|' || CAST(tr0 AS VARCHAR) || '|' ||
               {init_seas} || '|0.0|{HW_M}' AS s0
        FROM init
    ), fin AS (
        SELECT n, list_reduce(list_prepend(s0, l[{HW_M + 1}:]),
                              (acc, y) -> {_hw_sql()}) AS st
        FROM st0
    )
    SELECT n AS n_days,
           {dround(fx(1), 4)} AS level_final,
           {dround(fx(2), 4)} AS trend_final,
           {dround(seas_min, 4)} AS season_min,
           {dround(seas_max, 4)} AS season_max,
           {dround(f"sqrt({fx(10)} / (n - {HW_M}.0))", 4)} AS rmse_innovation
    FROM fin
    """


@register("ext_holt_winters", _hw_oracle())
def ext_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly season) over the
    daily revenue series: the SEASONAL member completing the exponential-
    smoothing family (ext_ses_forecast has no trend, ext_holt_linear no
    season) — the workhorse short-horizon forecaster for weekly-patterned
    business series, with the one-step-ahead innovation RMSE as its fit
    diagnostic. Initialization is the textbook recipe (level = mean of
    week 1, trend = (week-2 mean - week-1 mean)/7, seasonals = week-1
    deviations), then the recursion folds days 8..n.

    Determinism: day totals are exact integer dollars; the three smoothing
    recursions are fixed double expressions with literal parameters,
    carried in a single VARCHAR state (the ext_hmm_viterbi discipline);
    the updated seasonal slot is selected by integer modulus; terminal
    dround.

    Scale shape: one day-grid aggregate collapses the corpus; the fold is
    calendar-length, and per-entity seasonal smoothing partitions the same
    fold by key."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), _cents().alias("cents")
    )
    daily = ev.groupBy("d").agg(
        F.floor(F.sum("cents") / 100).cast("bigint").alias("y")
    )
    seq = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", F.col("y").alias("v")))),
            lambda s: s["v"],
        ).alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def el(i):
        return F.element_at(F.col("l"), i).cast("double")

    week1 = None
    week2 = None
    for i in range(1, HW_M + 1):
        week1 = el(i) if week1 is None else week1 + el(i)
    for i in range(HW_M + 1, 2 * HW_M + 1):
        week2 = el(i) if week2 is None else week2 + el(i)
    lvl0 = week1 / float(HW_M)
    tr0 = (week2 / float(HW_M) - week1 / float(HW_M)) / float(HW_M)
    init_parts = [lvl0.cast("string"), F.lit("|"), tr0.cast("string")]
    for i in range(1, HW_M + 1):
        init_parts += [F.lit("|"), (el(i) - lvl0).cast("string")]
    init_parts += [F.lit(f"|0.0|{HW_M}")]
    st0 = F.concat(*init_parts)

    def step(acc, y):
        def fld(i):
            return F.element_at(F.split(acc, r"\|"), i).cast("double")

        l = fld(1)
        b = fld(2)
        sse = fld(10)
        k = F.element_at(F.split(acc, r"\|"), 11).cast("int")
        slot = F.pmod(k, F.lit(HW_M)) + 3
        s_old = F.element_at(F.split(acc, r"\|"), slot).cast("double")
        yv = y.cast("double")
        l_new = HW_ALPHA * (yv - s_old) + (1.0 - HW_ALPHA) * (l + b)
        b_new = HW_BETA * (l_new - l) + (1.0 - HW_BETA) * b
        s_new = HW_GAMMA * (yv - l_new) + (1.0 - HW_GAMMA) * s_old
        innov = yv - (l + b + s_old)
        parts = [l_new.cast("string"), F.lit("|"), b_new.cast("string")]
        for i in range(3, 3 + HW_M):
            parts += [
                F.lit("|"),
                F.when(slot == i, s_new.cast("string")).otherwise(
                    F.element_at(F.split(acc, r"\|"), i)
                ),
            ]
        parts += [
            F.lit("|"),
            (sse + innov * innov).cast("string"),
            F.lit("|"),
            (k + 1).cast("string"),
        ]
        return F.concat(*parts)

    fin = seq.select(
        "n",
        F.aggregate(
            F.slice(F.col("l"), HW_M + 1, 100000), st0, step
        ).alias("st"),
    )

    def fx(i):
        return F.element_at(F.split(F.col("st"), r"\|"), i).cast("double")

    seas = [fx(i) for i in range(3, 3 + HW_M)]
    return fin.select(
        F.col("n").alias("n_days"),
        F.round(fx(1), 4).alias("level_final"),
        F.round(fx(2), 4).alias("trend_final"),
        F.round(F.least(*seas), 4).alias("season_min"),
        F.round(F.greatest(*seas), 4).alias("season_max"),
        F.round(F.sqrt(fx(10) / (F.col("n") - float(HW_M))), 4).alias(
            "rmse_innovation"
        ),
    )
