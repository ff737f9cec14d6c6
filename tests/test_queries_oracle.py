"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver repeats this at sf0.01 — same check, bigger data) and plan
no partition-less window."""

from __future__ import annotations

import pytest

from dbt_tpcdi_spark.queries import all_queries
from tests.conftest import (
    SF_SMOKE,
    assert_matches_oracle,
    partitionless_windows,
)

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck_smoke):
    q = QUERIES[name]
    df = q.build(spark, SF_SMOKE)
    assert df.columns, f"{name}: empty schema"
    # a Window with an empty partition spec single-partitions the
    # input; banned across the entire registered query surface
    bad = partitionless_windows(df)
    assert not bad, f"{name}: {bad}"
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, as the driver does
        return
    assert_matches_oracle(df, duck_smoke, q.oracle, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
