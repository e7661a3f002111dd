"""Meta-tests for scripts/oracle_check.py's comparison core: the gate
must actually catch mismatches (a comparator that passes everything
would make every green key meaningless)."""

from __future__ import annotations

import datetime
from decimal import Decimal

from scripts import oracle_check as oc


def test_identical_frames_match():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert oc.frame_sig(cols, rows) == oc.frame_sig(cols, rows)


def test_row_order_insensitive():
    cols = ["a", "b"]
    assert oc.frame_sig(cols, [(1, "x"), (2, "y")]) == oc.frame_sig(
        cols, [(2, "y"), (1, "x")]
    )


def test_column_order_normalized_by_name():
    sig1 = oc.frame_sig(["a", "b"], [(1, "x")])
    sig2 = oc.frame_sig(["b", "a"], [("x", 1)])
    assert sig1 == sig2


def test_value_difference_detected():
    cols = ["a"]
    assert oc.frame_sig(cols, [(1,)]) != oc.frame_sig(cols, [(2,)])


def test_null_vs_zero_distinct():
    cols = ["a"]
    assert oc.frame_sig(cols, [(None,)]) != oc.frame_sig(cols, [(0,)])


def test_float_decimal_date_normalization():
    # Decimal trailing zeros normalize away; dates are ISO
    assert oc.norm_cell(Decimal("1.50")) == oc.norm_cell(Decimal("1.5"))
    assert oc.norm_cell(datetime.date(2024, 1, 2)) == "2024-01-02"
    assert oc.norm_cell([1, None, "x"]) == "[1,NULL,x]"


def test_float_comparison_is_exact():
    # repr-based: any bit difference is a mismatch (matches the pytest
    # oracle gate; every query's determinism contract guarantees
    # bitwise-equal floats cross-engine)
    assert oc.norm_cell(1.0000001) != oc.norm_cell(1.0000002)
    assert oc.norm_cell(0.1 + 0.2) != oc.norm_cell(0.3)
    assert oc.norm_cell(1.5) == oc.norm_cell(1.5)


def test_lint_flags_spark_incompatible_duckdb_types():
    """The round-4 postmortem class: an integer sum() types as HUGEINT in
    DuckDB, which the driver's hasher distinguishes from Spark's bigint
    even when values are identical — the mirror must FAIL such oracles,
    not pass them."""
    import duckdb

    from airbnb_listings_reviews_data_engineering_spark.plans.registry import (
        lint_oracle_types,
    )

    rel = duckdb.sql("SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)")
    errs = lint_oracle_types(rel.columns, rel.types, "demo_key")
    assert errs and "HUGEINT" in errs[0] and "demo_key" in errs[0]

    ok = duckdb.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)"
    )
    assert lint_oracle_types(ok.columns, ok.types, "demo_key") == []


def test_coarse_types_recurse_into_nested():
    """array/struct/map ELEMENT types normalize like the scalars do:
    compatible nested pairs agree, incompatible ones stay distinct."""
    assert oc.coarse_spark_type("array<bigint>") == oc.coarse_duck_type("BIGINT[]")
    assert oc.coarse_spark_type("array<string>") == oc.coarse_duck_type("VARCHAR[]")
    assert oc.coarse_spark_type(
        "struct<p:int,m:double>"
    ) == oc.coarse_duck_type("STRUCT(p INTEGER, m DOUBLE)")
    assert oc.coarse_spark_type(
        "array<struct<p:int,m:decimal(10,2)>>"
    ) == oc.coarse_duck_type("STRUCT(p INTEGER, m DECIMAL(10,2))[]")
    assert oc.coarse_spark_type("map<string,bigint>") == oc.coarse_duck_type(
        "MAP(VARCHAR, BIGINT)"
    )
    # a nested element divergence must NOT collapse to equality
    assert oc.coarse_spark_type("array<bigint>") != oc.coarse_duck_type("DOUBLE[]")
    assert oc.coarse_spark_type("array<bigint>") != oc.coarse_duck_type(
        "BIGINT[][]"
    )


def test_lint_fires_on_nested_hugeint():
    """LIST(HUGEINT) must fail the no-Spark-analog lint exactly like a
    bare HUGEINT (VERDICT r5 #5's negative test): list_agg of an
    uncast sum() is the realistic way this type sneaks into an oracle."""
    import duckdb

    from airbnb_listings_reviews_data_engineering_spark.plans.registry import (
        lint_oracle_types,
    )

    rel = duckdb.sql(
        "SELECT list(s) AS xs FROM "
        "(SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x))"
    )
    assert str(rel.types[0]).upper() == "HUGEINT[]"
    errs = lint_oracle_types(rel.columns, rel.types, "demo_key")
    assert errs and "HUGEINT" in errs[0]
    # and the coarse differential sees the element type too
    assert oc.coarse_duck_type("HUGEINT[]") == "array<int>"


def test_check_reports_type_and_value_divergence(spark, sf_dir):
    """``check`` runs the type agreement and the value compare on one
    build: a DECIMAL-vs-DOUBLE column with equal printed values fails
    on type alone, and a value difference fails on value."""
    from airbnb_listings_reviews_data_engineering_spark.plans.registry import (
        QuerySpec,
    )

    spec = QuerySpec("demo_key", None, "SELECT CAST(1.5 AS DOUBLE) AS a")
    assert oc.check(spec, spark.sql("SELECT CAST(1.5 AS DOUBLE) AS a"), sf_dir) == []
    [p] = oc.check(spec, spark.sql("SELECT CAST(1.5 AS DECIMAL(4,1)) AS a"), sf_dir)
    assert "'a'" in p and "decimal" in p and "float" in p
    [p] = oc.check(spec, spark.sql("SELECT CAST(2.5 AS DOUBLE) AS a"), sf_dir)
    assert "value mismatch" in p
