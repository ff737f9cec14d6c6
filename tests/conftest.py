"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connection per scale factor, and the cross-engine comparison helper
that mirrors the driver's check (row count + schema + order-insensitive
value comparison)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from dbt_tpcdi_spark.session import get_spark
from dbt_tpcdi_spark.sources.parquet import TABLES, table_path

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )


@pytest.fixture(scope="session")
def duck_smoke(duck):
    register_duck_views(duck, SF_SMOKE)
    return duck


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — the same
    order-insensitive shape the driver hashes.

    Floats stay float64 (exact comparison — queries are responsible for
    determinism via decimal/rounding); everything else becomes strings
    with a common NULL marker (int-with-null arrives as float64 from
    one engine and Int64 from another otherwise)."""
    pdf = pdf[sorted(pdf.columns)]
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").astype(str)
        else:
            out[c] = s.map(lambda v: "<NA>" if pd.isna(v) else str(v))
    res = pd.DataFrame(out)
    return res.sort_values(by=list(res.columns), kind="mergesort").reset_index(
        drop=True
    )


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str, name: str = "") -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.execute(oracle_sql).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True,
                                  obj=name or "result")


def partitionless_windows(df) -> list[str]:
    """Walk the optimized logical plan; return Window nodes whose
    partition spec is empty (the 'Moving all data to a single
    partition' pattern)."""
    out = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            out.append(node.simpleStringWithNodeId())
        for i in range(node.children().length()):
            stack.append(node.children().apply(i))
    return out
