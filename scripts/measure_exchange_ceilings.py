"""Measure per-key Exchange-operator counts for the shuffle-ceiling pins.

Runs tests/test_shuffle_ceilings.py's measurement protocol with the same
pieces (the package's clear_session_memo + tests.test_plan_quality.plan_str),
not copies of them — so a pin update is always taken under the same
cold, order-independent conditions the test enforces, even if the
protocol evolves (a new memo family, a different explain mode).

Usage:
    python scripts/measure_exchange_ceilings.py key1 key2 ...
    python scripts/measure_exchange_ceilings.py --unpinned   # every bench
        key not already in _CEILINGS / _CEILINGS_TIER2 / _CEILINGS_TIER3

Prints one `"key": n,` line per key (sorted), ready to paste into the
test's table.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "8")
    from dbt_pro3_spark.memo import clear_session_memo
    from dbt_pro3_spark.queries import all_queries
    from dbt_pro3_spark.session import get_spark
    from tests import test_shuffle_ceilings as tsc
    from tests.test_plan_quality import plan_str

    args = sys.argv[1:]
    flags = [a for a in args if a.startswith("--")]
    keys = [a for a in args if not a.startswith("--")]
    if flags not in ([], ["--unpinned"]) or (flags and keys):
        sys.exit(
            "usage: measure_exchange_ceilings.py (--unpinned | key ...)\n"
            f"unknown/conflicting arguments: {flags + keys}"
        )

    queries = all_queries()
    if flags:
        pinned = set(tsc._CEILINGS) | set(tsc._CEILINGS_TIER2)
        pinned |= set(getattr(tsc, "_CEILINGS_TIER3", {}))
        bench = json.load(open(os.path.join(ROOT, "bench_detail.json")))["detail"]
        keys = sorted(k for k in bench if k not in pinned)
    if not keys:
        print("nothing to measure", file=sys.stderr)
        return
    unknown = [k for k in keys if k not in queries]
    if unknown:
        sys.exit(f"not registry keys: {unknown}")

    spark = get_spark("measure-exchange-ceilings")
    out = {}
    for k in keys:
        clear_session_memo()
        try:
            out[k] = plan_str(queries[k](spark, SF_DIR)).count(") Exchange")
        except Exception as e:  # measurement tool: report, keep going
            print(f"# {k}: ERROR {e}", file=sys.stderr)
    for k in sorted(out):
        print(f'    "{k}": {out[k]},')


if __name__ == "__main__":
    main()
