#!/usr/bin/env python
"""Split a key's cost into build (driver: DataFrame construction incl. any
eager collects), plan (explain/optimization), and execute (noop sink) —
guide §1/§7.3: a key whose cost is driver-side planning needs a plan-size
fix, not an execution fix. Each run also prints how many classes Janino
compiled and the compile time (Spark's ``CodegenMetrics`` counter and
``CodeGenerator.compileTime``): a key that recompiles on every run shows a
non-zero count after the warm run, without a JFR recording.

Usage: python scripts/profile_key.py KEY [KEY...] [--n N]
Same session/env contract as bench.py ($SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--n", type=int, default=4)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dbt_pro3_spark.queries import all_queries
    from dbt_pro3_spark.session import get_spark

    spark = get_spark("dbt-pro3-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    for key in args.keys:
        spark.sparkContext.setJobDescription(f"profile:{key}")
        # one untimed warm run (codegen/broadcast/session-index warmup)
        df = queries[key](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        for i in range(args.n):
            c0, ns0 = compiles.getCount(), codegen.compileTime()
            t0 = time.perf_counter()
            df = queries[key](spark, sf_dir)
            t1 = time.perf_counter()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            t2 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            print(
                f"{key}[{i}]: build {t1 - t0:.3f}  plan {t2 - t1:.3f}  "
                f"exec {t3 - t2:.3f}  total {t3 - t0:.3f}  "
                f"compiles {compiles.getCount() - c0} "
                f"({(codegen.compileTime() - ns0) / 1e9:.3f} s)",
                flush=True,
            )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
