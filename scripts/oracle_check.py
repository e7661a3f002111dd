"""Simulate the driver's t2 correctness gate locally.

Runs every ``queries()[name]`` on Spark and the matching oracle on
DuckDB over the same parquet tables, comparing row count, sorted column
names, and an order-insensitive value multiset (stringified; floats
compared bitwise via repr() — every query's determinism contract makes
floats bitwise-equal cross-engine).

``check`` is the one per-key comparison: this script, the registry
sweep (tests/test_driver_oracle.py) and the sf0.1 float battery
(tests/test_sf01_float_differential.py) all call it.

Usage: python scripts/oracle_check.py [sf_dir] [key ...]
"""

from __future__ import annotations

import functools
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.plans import (  # noqa: E402
    all_queries,
)
from airbnb_listings_reviews_data_engineering_spark.plans.registry import (  # noqa: E402
    TABLES,
    QuerySpec,
    lint_oracle_types,
)


@functools.cache
def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One DuckDB connection per scale, with a view per parquet table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # "NaN", not "NULL": the correctness gate distinguishes a Spark
            # NaN from a DuckDB NULL
            return "NaN"
        # exact repr: every query's determinism contract makes floats
        # bitwise-equal cross-engine
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):
        d = v.asDict()
        return "{" + ",".join(f"{k}:{norm_cell(d[k])}" for k in sorted(d)) + "}"
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    sig = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, sig


def _split_top(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at nesting depth 0 only (angle brackets and
    parens open a level) — DECIMAL(10,2) inside a STRUCT field list must
    not split on its own comma."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def coarse_spark_type(dt: str) -> str:
    """A Spark ``simpleString`` type reduced to the class the gate's
    hasher distinguishes; nested element types recurse (array<bigint>
    vs LIST(HUGEINT) compares element-wise, like the scalars do)."""
    dt = dt.strip().lower()
    if dt.startswith("array<") and dt.endswith(">"):
        return f"array<{coarse_spark_type(dt[6:-1])}>"
    if dt.startswith("map<") and dt.endswith(">"):
        k, v = _split_top(dt[4:-1], ",")
        return f"map<{coarse_spark_type(k)},{coarse_spark_type(v)}>"
    if dt.startswith("struct<") and dt.endswith(">"):
        fields = []
        for f in _split_top(dt[7:-1], ","):
            name, _, t = f.partition(":")
            fields.append(f"{name.strip()}:{coarse_spark_type(t)}")
        return "struct<" + ",".join(fields) + ">"
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("bigint", "int", "smallint", "tinyint"):
        return "int"
    if dt in ("double", "float"):
        return "float"
    if dt == "boolean":
        return "bool"
    if dt in ("string", "varchar"):
        return "str"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    return dt


def coarse_duck_type(dt) -> str:
    """A DuckDB result type reduced to the same classes as
    ``coarse_spark_type``."""
    dt = str(dt).strip().upper()
    if dt.endswith("[]"):
        return f"array<{coarse_duck_type(dt[:-2])}>"
    if dt.startswith("MAP(") and dt.endswith(")"):
        k, v = _split_top(dt[4:-1], ",")
        return f"map<{coarse_duck_type(k)},{coarse_duck_type(v)}>"
    if dt.startswith("STRUCT(") and dt.endswith(")"):
        fields = []
        for f in _split_top(dt[7:-1], ","):
            name, _, t = f.strip().partition(" ")
            fields.append(f'{name.strip().strip(chr(34)).lower()}:{coarse_duck_type(t)}')
        return "struct<" + ",".join(fields) + ">"
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT"):
        return "int"
    if dt in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if dt == "BOOLEAN":
        return "bool"
    if dt in ("VARCHAR", "JSON"):
        # JSON stringifies identically; oracles still CAST to VARCHAR
        return "str"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    return dt.lower()


def check(spec: QuerySpec, sdf, sf_dir: str) -> list[str]:
    """Compare ``sdf`` — ``spec``'s frame, built at ``sf_dir`` — with
    ``spec``'s oracle rendered for the same scale; return the problems
    found (empty when they match). Collects ``sdf``; releasing its pins
    is the caller's job.

    Three checks run on the one build:
    - the oracle emits no DuckDB type without a Spark analog;
    - every shared column has the same coarse type on both engines: a
      column typed DECIMAL by Spark but DOUBLE by DuckDB can hash equal
      here through string formatting and still diverge in the gate's
      normalizer (the round-4 HUGEINT class, from the Spark side);
    - row count, sorted column names and the value multiset agree.
    """
    key = spec.key
    osql = spec.oracle_for(sf_dir)
    if osql is None:
        return [f"{key}: no oracle registered"]
    orel = duck(sf_dir).sql(osql)
    problems = lint_oracle_types(orel.columns, orel.types, key)
    stypes = {n: coarse_spark_type(d) for n, d in sdf.dtypes}
    for col, typ in zip(orel.columns, map(coarse_duck_type, orel.types)):
        if col in stypes and stypes[col] != typ:
            problems.append(
                f"{key}: column {col!r} types as {stypes[col]} on Spark "
                f"but {typ} on DuckDB"
            )
    srows = sdf.collect()
    orows = orel.fetchall()
    sc, ss = frame_sig(sdf.columns, srows)
    oc, os_ = frame_sig(orel.columns, orows)
    if len(srows) != len(orows):
        problems.append(f"{key}: rowcount {len(srows)} vs {len(orows)}")
    elif sc != oc:
        problems.append(f"{key}: cols {sc} vs {oc}")
    elif ss != os_:
        i = next(i for i, (a, b) in enumerate(zip(ss, os_)) if a != b)
        problems.append(
            f"{key}: value mismatch, first diff row {i}:\n"
            f"  spark: {ss[i][:300]}\n  duck:  {os_[i][:300]}"
        )
    return problems


def main() -> int:
    import time

    from airbnb_listings_reviews_data_engineering_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    qs = all_queries()
    failures = []
    # per-key wall time (VERDICT r11 #8): the full mirror is the gate's
    # longest non-pytest step — record each key's cost in the log and
    # summarize the top-10 so a key whose oracle got expensive surfaces
    # the same way a bench budget violation does
    key_secs: dict[str, float] = {}
    for key, spec in qs.items():
        if only and key not in only:
            continue
        t0 = time.perf_counter()
        try:
            problems = check(spec, spec.fn(spark, sf_dir), sf_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"{key}: error: {e}"]
        finally:
            # result fully collected (or failed) — free any checkpoint
            # blocks this query pinned, so the whole registry in one
            # session doesn't accumulate executor storage (ADVICE r2)
            release_pins(spark)
        key_secs[key] = time.perf_counter() - t0
        if problems:
            failures.append((key, problems[0]))
            print(f"FAIL {key} ({key_secs[key]:.1f}s): " + "; ".join(problems))
        else:
            print(f"ok   {key} ({key_secs[key]:.1f}s)")
    if len(key_secs) > 1:
        top = sorted(key_secs.items(), key=lambda kv: -kv[1])[:10]
        print("\nslowest mirror keys (wall s):")
        for k, dt in top:
            print(f"  {dt:7.1f}s {k}")
        print(f"total mirror wall: {sum(key_secs.values()):.0f}s over "
              f"{len(key_secs)} keys")
    print(f"\n{len(failures)} failures / {len(only) if only else len(qs)} checked")
    for k, m in failures:
        print(f"  {k}: {m.splitlines()[0]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
