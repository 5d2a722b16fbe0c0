"""Session-level settings of ``session.get_spark`` that tests can observe."""

from __future__ import annotations


def test_warm_pass_compiles_nothing(spark):
    """A session that runs more distinct plans than Spark's default codegen
    cache holds (100 classes) must not recompile them when it runs them
    again. Each inlined literal gives the plan its own generated class, so
    150 variants overflow a 100-entry cache and the second pass would
    recompile every one of them.

    Building each plan's RDD (``executedPlan().execute()``) compiles its
    whole-stage class on the driver through the same cache a task uses,
    without the cost of running a job per variant."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for k in range(150):
            df = spark.range(0, 8, 1, 1).selectExpr(f"id * {k} + 1 AS v")
            df._jdf.queryExecution().executedPlan().execute()
        return compiles.getCount() - before

    assert one_pass() > 0  # the first pass compiles the variants
    assert one_pass() == 0
