"""Mimics the driver's t2 gate locally: run every declared query in Spark
and its oracle in DuckDB on the same parquet, compare row count, column
names, and values order-insensitively (columns sorted by name, rows sorted
by all columns)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from crossbar_data_process_spark.plans.queries import ORACLES, QUERIES

from tests.conftest import register_views

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


def _canon(df):
    """pandas DataFrame -> canonical list of row tuples (cols sorted by name,
    rows sorted); floats compared via full repr — the engine's determinism
    contract is bit-exact cross-engine results, so no tolerance is given."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        canon_row = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                canon_row.append("<NULL>")
            elif isinstance(v, float):
                canon_row.append(repr(float(v)))
            elif isinstance(v, (list, tuple)):
                canon_row.append(str(list(v)))
            else:
                canon_row.append(str(v))
        rows.append(tuple(canon_row))
    return sorted(rows)


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, name):
    con = duckdb.connect()
    register_views(con, SF_DIR)
    spark_df = QUERIES[name](spark, SF_DIR).toPandas()
    duck_df = con.sql(ORACLES[name]).df()

    assert sorted(spark_df.columns) == sorted(
        c.lower() for c in duck_df.columns
    ) or sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: columns differ: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    )
    assert len(spark_df) == len(duck_df), (
        f"{name}: row count {len(spark_df)} vs {len(duck_df)}"
    )
    sc = _canon(spark_df)
    dc = _canon(duck_df)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
    assert sc == dc, f"{name}: value mismatch, first diffs: {mismatches}"


def test_all_queries_run(spark):
    """Queries without oracles (rows-only in the driver) still must run."""
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name
