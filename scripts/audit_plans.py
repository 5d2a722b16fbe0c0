#!/usr/bin/env python
"""Plan-shape audit over the bench keys (optimization rounds).

For every bench key (or keys given as args), prints a compact line:
    key  n_exchange  n_scans  dup_scans  python_nodes  cartesian
where dup_scans lists parquet relations scanned more than once in the
physical plan (the union-over-shared-subtree recompute pathology), and
python_nodes flags BatchEvalPython/ArrowEvalPython/MapInArrow/FlatMapGroupsInPandas.

Uses the same cold-memo protocol as tests/test_shuffle_ceilings.py
(clear_session_memo before each key).
Plans only — nothing is executed. Run at sf0.01 (default) for planning
speed; Exchange/scan counts are partition-independent.
"""

from __future__ import annotations

import io
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from dbt_pro3_spark.memo import clear_session_memo
    from dbt_pro3_spark.queries import all_queries
    from dbt_pro3_spark.session import get_spark

    import bench

    keys = sys.argv[1:] or list(bench.HEADLINE)

    spark = get_spark("dbt-pro3-spark-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    for key in keys:
        clear_session_memo()
        try:
            df = queries[key](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            print(f"{key}\tERROR\t{type(e).__name__}: {e}")
            continue
        n_ex = plan.count(") Exchange")
        scans = re.findall(r"Scan parquet[^\n]*?([\w.]+)\.parquet", plan)
        # fall back to the Location line table name
        if not scans:
            scans = re.findall(r"/(\w+)\.parquet", plan)
        c = Counter(scans)
        dup = {t: n for t, n in c.items() if n > 1}
        py = sum(
            plan.count(tok)
            for tok in (
                ") BatchEvalPython",
                ") ArrowEvalPython",
                ") MapInArrow",
                ") FlatMapGroupsInPandas",
                ") MapInPandas",
            )
        )
        cart = plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin")
        print(
            f"{key}\tex={n_ex}\tscans={sum(c.values())}\t"
            f"dup={dup if dup else '-'}\tpy={py}\tnestedloop={cart}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
