"""Run one silver or gold model's SQL text on Spark.

Each model is one SQL text, run as ``spark.sql(text, params, **refs)``:

- the upstream DataFrames go in as ``{name}`` placeholders; PySpark
  registers each as a uniquely named ``_pyspark_<uuid>`` temp view for the
  one call and drops it afterwards, so concurrent wave threads share no
  named views;
- the run clock and the email regex go in as named parameters
  (``:run_ts``, ``:run_date``, ``:email_re``), never formatted into the text.

A text costs one JVM parse and a handful of py4j round trips; building the
same plan from Column calls costs hundreds of them.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame

# The run clock. The injected run_ts / run_date when the caller provides one
# (deterministic runs, pinned goldens); else the reference semantics, the
# live CURRENT_TIMESTAMP / CURRENT_DATE of models/*/*.sql. These two are the
# pipeline's only wall-clock reads.
RUN_TS = "CASE WHEN :run_ts IS NULL THEN CURRENT_TIMESTAMP() ELSE CAST(:run_ts AS TIMESTAMP) END"
RUN_DATE = "CASE WHEN :run_date IS NULL THEN CURRENT_DATE() ELSE CAST(:run_date AS DATE) END"


def run_sql(text: str, params: dict, **refs: DataFrame) -> DataFrame:
    """``spark.sql(text, params, **refs)`` after checking that the text's
    ``{placeholders}`` are exactly ``refs``: PySpark registers a temp view per
    DataFrame argument before the call's cleanup starts, so an unmatched
    placeholder would leak the views registered before its KeyError."""
    names = {field for _, field, _, _ in string.Formatter().parse(text) if field is not None}
    if names != refs.keys():
        raise ValueError(f"placeholders {sorted(names)} do not match refs {sorted(refs)}")
    spark = next(iter(refs.values())).sparkSession
    return spark.sql(text, params, **refs)
