from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "8")
    from dbt_pro3_spark.session import get_spark

    s = get_spark("dbt-pro3-spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def memo_entries(family: str) -> dict:
    """Live entries of one session-memo family: (session, scope, part) -> value."""
    from dbt_pro3_spark import memo

    return {(k[0], k[2], k[3]): v for k, (_, v) in memo._MEMO.items() if k[1] == family}


def memo_scopes(family: str) -> set:
    """The scopes one session-memo family holds live."""
    return {scope for _, scope, _ in memo_entries(family)}
