"""Local mirror of the driver's correctness gate: every registered query
runs on Spark AND its oracle runs on DuckDB over the same parquet tables;
results must match on column names, row count, and (order-insensitively)
values.

Runs at sf0.001 by default for speed; set SPARK_GRAFT_TEST_SF_DIR to
/root/testdata/sf0.01 to mirror the driver exactly.
"""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb
import pytest

from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
from airbnb_listings_reviews_data_engineering_spark.plans.registry import (
    TABLES,
    lint_oracle_types,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # "NaN", not "NULL": the driver gate distinguishes a Spark NaN
            # from a DuckDB NULL, so the local mirror must too
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_matches_oracle(key, spark, duck):
    from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins

    spec = QUERIES[key]
    try:
        sdf = spec.fn(spark, SF_DIR)
        srows = sdf.collect()
        scols = sdf.columns
    finally:
        # collected — free this query's checkpoint blocks so the 429-case
        # sweep doesn't accumulate executor storage across cases
        release_pins(spark)
    if spec.oracle is None:
        # rows-only check, like the driver's weaker path
        assert len(srows) >= 0
        return
    orel = duck.sql(spec.oracle)
    type_errs = lint_oracle_types(orel.columns, orel.types, key)
    assert not type_errs, type_errs
    ores = duck.execute(spec.oracle)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert sorted(scols) == sorted(ocols), f"{key}: column mismatch {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{key}: row count {len(srows)} vs {len(orows)}"
    sc = _canon([tuple(r) for r in srows], scols)
    oc = _canon(orows, ocols)
    if sc != oc:
        diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:5]
        raise AssertionError(f"{key}: value mismatch, first diffs: {diffs}")
