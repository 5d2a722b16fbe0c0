"""The benchmark's workloads: what one op is, and how its output is checked.

A workload has a list of op items that make one pass (the DAG has one item,
a key workload one item per key), ``cold_run(item)`` for the first op of an
item, ``run(item)`` for every later one, and ``check(item, output, full)``
that verifies an op's output untimed and returns the mismatches it found
(``full`` on the cold op).
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent

# The serial per-round chains and dedup builds (localCheckpoint pins and
# session indexes) plus the three write lanes: plans.incremental merge_delete,
# plans.snapshot SCD2 and the sink codec roundtrip.
ITERATIVE_KEYS = (
    "ext_graph_kcore",
    "ext_graph_hits",
    "ext_kmeans_lloyd",
    "ext_dedup_minhash_est",
    "ext_incremental_delete",
    "ext_scd2_hard_delete",
    "sink_codec_roundtrip",
)

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class DagWorkload:
    """One op is one full run of the 12-model medallion DAG on fixtures
    generated from the seed: 12 models in 3 waves of 4 threads, 24 post-hook
    counts and 8 schema tests. The registry is rebuilt for every op, so no
    model output carries over between ops."""

    name = "dag_medallion"
    warm_passes = 0  # the cold op's summary check is about one DAG run
    # per-model (model, n_cols, n_rows, checksum) summary of the seed-42,
    # scale-1.0 run: the run tests/test_pipeline.py checks row by row
    # against its DuckDB replication
    golden_path = HERE / "medallion_seed42_scale1.json"

    def __init__(self, seed: int, scale: float) -> None:
        self.seed, self.scale = seed, scale
        self.items = ["dag"]
        self.first_counts: list[tuple] | None = None

    def setup(self, get_spark, timings: dict) -> object:
        t = time.perf_counter()
        from dbt_pro3_spark.pipeline import build_registry
        from dbt_pro3_spark.pipeline.fixtures import raw_tables
        from dbt_pro3_spark.pipeline.registry_build import DEFAULT_RUN_TS
        from dbt_pro3_spark.queries import core_extra  # noqa: F401  summary recipe

        timings["queries.import_s"] = time.perf_counter() - t
        self.build_registry, self.run_ts = build_registry, DEFAULT_RUN_TS
        spark = get_spark()
        t = time.perf_counter()
        self.raw = raw_tables(spark, seed=self.seed, scale=self.scale)
        timings["fixtures.raw_tables_s"] = time.perf_counter() - t
        self.spark = spark
        return spark

    def run(self, item: str) -> object:
        return self.build_registry(self.raw).run(self.spark, run_ts=self.run_ts)

    cold_run = run

    def check(self, item: str, result, full: bool = True) -> list[str]:
        """Schema tests green, 12 audit rows, and audit counts equal to the
        first op's. A ``full`` check (the cold op) also takes the per-model
        checksum summary, compared at seed 42 and scale 1.0 with the pinned
        golden; it costs about one more DAG run and doubles as the DAG's
        warm-up, so it runs at every seed."""
        errs = []
        if result.test_failures:
            errs.append(f"schema tests failed: {result.test_failures}")
        counts = sorted(
            (a["dataset"], a["source_records"], a["target_records"]) for a in result.audit
        )
        if len(counts) != 12:
            errs.append(f"{len(counts)} audit rows, expected 12")
        if self.first_counts is None:
            self.first_counts = counts
        elif counts != self.first_counts:
            errs.append(f"audit counts differ from the first op's: {counts}")
        if full:
            summary = self._summary(result)
            if self.seed == 42 and self.scale == 1.0:
                golden = json.loads(self.golden_path.read_text())
                if summary != golden:
                    errs.append(f"summary differs from {self.golden_path.name}: {summary}")
        return errs

    def _summary(self, result) -> list[list]:
        """The per-model summary of ``queries.core_extra.medallion_summary``,
        taken over this op's outputs: the recipe builds its own DAG through
        ``pipeline.build_registry`` and ``fixtures.raw_tables``, so both are
        pointed at this op's result while the recipe runs."""
        import dbt_pro3_spark.pipeline as pipeline
        from dbt_pro3_spark.pipeline import fixtures
        from dbt_pro3_spark.queries.core_extra import medallion_summary

        class Done:
            def run(self, spark, **kwargs):
                return result

        saved = pipeline.build_registry, fixtures.raw_tables
        pipeline.build_registry = lambda raw, *a, **k: Done()
        fixtures.raw_tables = lambda *a, **k: None
        try:
            rows = medallion_summary(self.spark, self.scale).collect()
        finally:
            pipeline.build_registry, fixtures.raw_tables = saved
        return [[r["model"], r["n_cols"], r["n_rows"], r["checksum"]] for r in rows]


class Collected:
    """Rows already collected, shaped like the DataFrame tests/parity.py
    compares (``columns`` and ``collect()``)."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns, self.rows = columns, rows

    def collect(self) -> list:
        return self.rows


class KeysWorkload:
    """One op is one registry key built and written to the ``noop`` sink.
    The testdata is fixed, so the seed sets the key order of each pass."""

    warm_passes = 1

    def __init__(self, name: str, keys: tuple[str, ...], sf_dir: str) -> None:
        self.name, self.items, self.sf_dir = name, list(keys), sf_dir
        self.duck = None

    def setup(self, get_spark, timings: dict) -> object:
        t = time.perf_counter()
        from dbt_pro3_spark.queries import all_queries

        self.queries = all_queries()
        timings["queries.import_s"] = time.perf_counter() - t
        missing = [k for k in self.items if k not in self.queries]
        if missing:
            raise KeyError(f"keys not in the registry: {missing}")
        if not os.path.isfile(os.path.join(self.sf_dir, "lineitem.parquet")):
            raise FileNotFoundError(f"no testdata at {self.sf_dir}")
        self.spark = get_spark()
        return self.spark

    def build(self, item: str):
        return self.queries[item](self.spark, self.sf_dir)

    def run(self, item: str) -> None:
        """Build the key's DataFrame (driver side, including any writes the
        key makes while building) and write it to the ``noop`` sink;
        ``last_split`` keeps the (build, execute) seconds of the latest op."""
        t0 = time.perf_counter()
        df = self.build(item)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        self.last_split = (t1 - t0, time.perf_counter() - t1)

    def cold_run(self, item: str) -> "Collected":
        """The cold op collects the rows the check compares, so checking
        costs no second execution of the key."""
        df = self.build(item)
        return Collected(df.columns, df.collect())

    def check(self, item: str, output, full: bool) -> list[str]:
        """Compare the cold op's rows with the key's DuckDB oracle over the
        same parquet (the strict compare of tests/parity.py). Later ops
        write to ``noop`` and leave nothing to compare."""
        if not full:
            return []
        from dbt_pro3_spark.queries import all_oracle
        from tests.parity import compare

        if self.duck is None:
            import duckdb

            self.duck = duckdb.connect()
            for t in TESTDATA_TABLES:
                self.duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self.oracle = all_oracle()
        if item not in self.oracle:
            return [f"{item}: no oracle"]
        return compare(output, self.duck, self.oracle[item], item)

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
