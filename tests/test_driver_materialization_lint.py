"""Lint pins for the two distributed-execution invariants the scale
audits check by hand each round:

1. EVERY driver-side materialization (.collect() / .toPandas()) in
   non-test source is on an explicit, justified inventory. The round-8
   audit verified all existing sites are bounded (scalar aggregates,
   <=2048-row medoid samples, grid-sized edge lists, K-iteration loops,
   PROBE_MAX-guarded matrices); this test freezes that inventory so a
   NEW site cannot appear without being reviewed and added here with its
   bound stated — "no unaudited collect" becomes a failing test instead
   of a per-round human sweep.

2. NO row-at-a-time Python UDF anywhere in non-test source (F.udf /
   @udf): every Python escape in the repo is Arrow-vectorized
   (pandas_udf, applyInPandas, mapInPandas, mapInArrow) by design;
   a row-UDF in a hot path is the classic 10-100x regression.

Matching is per-file count of the patterns, not line numbers, so
ordinary edits don't churn the pins; adding or removing a site changes
the count and forces this file to say why.
"""

from __future__ import annotations

import os

import pytest

SRC_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "dbt_pro3_spark")

# file (relative to dbt_pro3_spark/) -> allowed count of
# .collect()/.toPandas() call sites, with the audited justification.
_ALLOWED_MATERIALIZATION = {
    # DAG runner: one helper (_scalar_rows) collects the audit's fused
    # not_null/unique aggregate and the accepted_values/relationships
    # violation counts — one aggregate row per declared test column
    "plans/registry.py": 1,
    # IVF medoid seed sample: hard-capped .limit(2048) + the 16-row
    # centroid frame collect
    "ext/ivf.py": 2,
    # probe matrix: PROBE_MAX=65,536 loud-bound guarded toPandas
    # (r4d_ops.py:336ff names ext_ann_* as the scale path);
    # distinct event types (grid-sized, ~5); cell-graph edge list
    # (grid-bounded, bound documented at the site)
    "queries/r4d_ops.py": 3,
    # greedy MMR loop: K=10 iterations over checkpointed candidates
    "queries/r4e_ops.py": 1,
    # audit-balance scalars: one source-sum row each
    "queries/r6b_ops.py": 2,
}

def _py_sources():
    for root, _dirs, files in os.walk(SRC_ROOT):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, SRC_ROOT), open(path).read()


def _fstring_exprs(s: str):
    """The brace-expression bodies of an f-string literal — the one place
    a STRING token CAN contain running code. A small scanner is enough
    for lint purposes: split on top-level braces, honor {{ }} escapes,
    stop each expression at a top-level ':' or '!' (format spec /
    conversion)."""
    depth = 0
    cur: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if depth == 0:
            if c == "{" and s[i + 1 : i + 2] == "{":
                i += 2
                continue
            if c == "{":
                depth = 1
                cur = []
                i += 1
                continue
        else:
            if c == "}" and depth == 1:
                yield "".join(cur)
                depth = 0
                i += 1
                continue
            if c in "{([":
                depth += 1
            elif c in "})]":
                depth -= 1
            elif depth == 1 and c in ":!":
                yield "".join(cur)
                # skip to the matching top-level close brace
                while i < len(s) and not (depth == 1 and s[i] == "}"):
                    if s[i] in "{([":
                        depth += 1
                    elif s[i] in "})]":
                        depth -= 1
                    i += 1
                depth = 0
                i += 1
                continue
            cur.append(c)
        i += 1


def _code_tokens(text: str):
    """(type, string) pairs for real code only, via the actual tokenizer —
    a regex pass mispairs triple quotes appearing inside ordinary string
    literals and miscounts trailing comments, in both the silent-miss and
    the false-alarm direction. Comments and plain string literals can't
    contain a call, so dropping those token types is exact for these
    lints — EXCEPT f-strings, whose brace expressions are running code
    and arrive as one opaque STRING token on Python <= 3.11: those are
    re-tokenized recursively so `f"{df.collect()}"` still counts."""
    import io
    import tokenize

    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.STRING:
            j = 0
            while tok.string[j] not in "'\"":
                j += 1
            if "f" in tok.string[:j].lower():
                for expr in _fstring_exprs(tok.string):
                    try:
                        yield from _code_tokens(expr)
                    except (tokenize.TokenError, SyntaxError, IndentationError):
                        pass
        elif tok.type not in (tokenize.COMMENT, tokenize.NL):
            yield tok.type, tok.string


def _count_materializations(text: str) -> int:
    """Occurrences of `.collect()` / `.toPandas()` in code tokens:
    OP '.' NAME {collect,toPandas} OP '(' OP ')'."""
    toks = [t for t in _code_tokens(text)]
    n = 0
    for i in range(len(toks) - 3):
        if (
            toks[i][1] == "."
            and toks[i + 1][1] in ("collect", "toPandas")
            and toks[i + 2][1] == "("
            and toks[i + 3][1] == ")"
        ):
            n += 1
    return n


def _row_udf_sites(text: str) -> list[str]:
    """Row-at-a-time UDF surfaces in code tokens: `udf(` in any form —
    bare call after `from pyspark.sql.functions import udf`, qualified
    `F.udf(` / `functions.udf(`, the `@udf` decorator, and
    `spark.udf.register(`. `pandas_udf` is a distinct NAME token, so the
    vectorized surfaces never match."""
    toks = [t for t in _code_tokens(text)]
    hits = []
    for i, (_ty, s) in enumerate(toks):
        nxt = toks[i + 1][1] if i + 1 < len(toks) else ""
        prv = toks[i - 1][1] if i > 0 else ""
        if s == "udf" and nxt == "(":
            hits.append("udf(")
        elif s == "udf" and prv == "@":
            hits.append("@udf")
        elif s == "register" and prv == "." and i >= 2 and toks[i - 2][1] == "udf":
            hits.append("udf.register(")
    return hits


def test_every_driver_materialization_is_inventoried():
    found = {}
    for rel, text in _py_sources():
        n = _count_materializations(text)
        if n:
            found[rel] = n
    unexpected = {
        rel: n for rel, n in found.items()
        if n != _ALLOWED_MATERIALIZATION.get(rel, 0)
    }
    missing = {
        rel: n for rel, n in _ALLOWED_MATERIALIZATION.items() if rel not in found
    }
    assert not unexpected and not missing, (
        f"driver-side materialization inventory drifted — unexpected sites "
        f"{unexpected}, stale inventory entries {missing}. Every "
        ".collect()/.toPandas() in non-test source must be bounded "
        "(scalar, capped sample, grid-sized, or loud-guard) and recorded "
        "in _ALLOWED_MATERIALIZATION with its justification."
    )


def test_no_row_at_a_time_python_udfs():
    offenders = {
        rel: sites
        for rel, text in _py_sources()
        if (sites := _row_udf_sites(text))
    }
    assert not offenders, (
        f"row-at-a-time Python UDFs found: {offenders} — use a vectorized "
        "surface (pandas_udf / applyInPandas / mapInPandas / mapInArrow) "
        "or a built-in expression; per-row Python in a hot path is a "
        "10-100x regression at scale"
    )
