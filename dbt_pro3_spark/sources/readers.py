"""Source readers.

Mirrors the reference's source surface (SURVEY.md §2.A):
- cataloged raw-table scan      -> ``load``               (sources.yml:4-16)
- Auto Loader file metadata     -> ``read_with_file_metadata``
                                   (models/bronze/claims_bronze.sql:41-42)
- Auto Loader ``_rescued_data`` -> ``read_csv_rescued``
                                   (models/bronze/policies_bronze.sql:38)
- driver-side rows (fixtures, small result frames) -> ``local_frame``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..memo import session_memo
from ..session import tune

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize every timestamp-ish column to plain TIMESTAMP (LTZ).

    Driver testdata has shipped two physical encodings across rounds:
    nanosecond parquet timestamps (read as BIGINT under session.tune) and
    microsecond isAdjustedToUTC=false timestamps (read as TIMESTAMP_NTZ by
    Spark 4's NTZ inference). Both are normalized here so every downstream
    expression (unix_micros, double casts, watermarks, interval arithmetic)
    sees one type. The session timezone is pinned to UTC (session.py), so
    the NTZ->LTZ cast is value-preserving. Works on batch AND streaming
    DataFrames — pure column projections, no shuffle, codegen-friendly.
    """
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
        elif col_name == "ts" and dtype == "bigint":
            # Epoch-integer timestamp read as long (see session.tune). The
            # driver has shipped different physical encodings across rounds,
            # so branch on magnitude instead of assuming nanoseconds: for any
            # date between ~1973 and ~5138, seconds/millis/micros/nanos
            # occupy disjoint decimal ranges. Integer-DIV to micros matches
            # DuckDB's ns->us truncation. Pure column expr — streaming-safe.
            df = df.withColumn(
                col_name,
                F.timestamp_micros(
                    F.expr(
                        f"CASE WHEN abs({col_name}) >= 100000000000000000 THEN {col_name} DIV 1000 "  # ns
                        f"WHEN abs({col_name}) >= 100000000000000 THEN {col_name} "  # us
                        f"WHEN abs({col_name}) >= 100000000000 THEN {col_name} * 1000 "  # ms
                        f"ELSE {col_name} * 1000000 END"  # s
                    )
                ),
            )
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-provided parquet table.

    Parquet scans give Catalyst predicate pushdown + column pruning for free;
    never cache DATA here — let each query prune its own columns. The
    scan-plan object is memoized per session (``memo``, family ``scan``):
    ``spark.read.parquet`` costs ~100 ms per call of pure driver-side work
    (file index + footer schema inference) even for one local file, and the
    registry averages 2-3 ``load()`` calls per key — measured ~15-20% of the
    whole 339-key bench before the memo. The frame is an immutable logical
    plan, so reusing it is identical to a caller reusing its own variable:
    every action still reads the parquet files, and no data or result is
    cached.
    """
    tune(spark)
    return session_memo(
        spark,
        "scan",
        sf_dir,
        name,
        lambda: normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet")),
    )


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """One JVM-resident DataFrame from driver-side rows and their DDL.

    The rows go to Spark once as a ``pyarrow.Table`` built column by
    column, which Spark keeps as a ``LocalRelation`` (an Arrow-backed RDD
    above ``spark.sql.execution.arrow.localRelationThreshold``). A
    Python-list ``createDataFrame`` is a Python-RDD scan instead, so every
    action would send the rows back through Python workers. The relation
    also carries exact size statistics for the planner. Columns are taken
    by field index, so an empty ``rows`` still yields one (empty) array per
    declared column and the frame keeps its schema. Naive ``datetime``
    values enter Arrow as UTC wall-clock, which the UTC session zone reads
    back unchanged whatever the host's ``TZ``.
    """
    # imported here so that importing the query modules does not load pyarrow
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=field.type) for i, field in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Redistribute a narrow input before CPU-heavy per-row work — ONLY when
    the scan produced fewer partitions than the cluster has slots.

    Single-file, single-row-group parquet (the driver's testdata) reads as
    ONE partition, so everything before the first shuffle runs on one core
    no matter how many executors exist. Token hashing / shingling /
    vector math are exactly such pre-shuffle hot loops. The round-robin
    repartition here costs one tiny shuffle of the projected columns and
    buys full parallelism.

    At warehouse scale this is a NO-OP by construction: a 100 TB table scan
    arrives in thousands of splits (>= slots), so the condition never
    fires — no gratuitous shuffle is added to real plans.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_with_file_metadata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + persist ingestion-lineage columns.

    Spark's hidden ``_metadata`` struct replaces Databricks Auto Loader's
    file-path/mtime columns (reference claims_bronze.sql:41-42).
    """
    df = load(spark, sf_dir, name)
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("source_file_path"),
        F.col("_metadata.file_modification_time").alias("source_file_time"),
    )


def read_csv_rescued(
    spark: SparkSession, path: str, schema: str, rescued_col: str = "_rescued_data"
) -> DataFrame:
    """CSV read with malformed-row capture.

    PERMISSIVE mode + columnNameOfCorruptRecord reproduces Auto Loader's
    ``_rescued_data`` semantics (reference policies_bronze.sql:38): bad rows
    land whole in the rescue column instead of failing the read.
    """
    tune(spark)
    return (
        spark.read.schema(f"{schema}, {rescued_col} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", rescued_col)
        .option("header", "true")
        .csv(path)
    )


def parse_json_rescued(df: DataFrame, json_col: str, schema: str) -> DataFrame:
    """from_json with corrupt-record capture — the in-flight twin of
    ``read_csv_rescued`` for JSON payload columns."""
    full_schema = f"{schema}, _rescued_data STRING"
    parsed = F.from_json(
        F.col(json_col),
        full_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_rescued_data"},
    )
    return df.withColumn("_parsed", parsed)
