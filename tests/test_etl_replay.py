"""The load's published tables against a DuckDB replay of the cleaning.

``airbnb_bench/check.py`` checks a load pass by row counts only, so a
rewrite of ``clean_listings`` that keeps the counts but changes values
would pass it. Here a small seeded dump from ``airbnb_bench/gen.py``
goes through ``run_listings_etl`` and ``run_reviews_etl`` for day 1 and
day 2, and every published version (the 5 tables, the listing documents
and ``doc_reviews``) must equal, row for row, the reference cleaning
written independently in DuckDB SQL over the raw CSVs. The same pass
pins the number of Spark jobs each load op starts.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pytest

from airbnb_listings_reviews_data_engineering_spark.airbnb import etl
from airbnb_listings_reviews_data_engineering_spark.airbnb.schemas import (
    LISTINGS_RAW_SCHEMA,
    TABLE_SCHEMA,
)

GEN = Path(__file__).resolve().parent.parent / "airbnb_bench" / "gen.py"
SEED, LISTINGS = 5, 300
# Spark jobs per op of one load pass. Reading a CSV starts none (the
# header comes from the split scan), a listings op runs the cached clean
# frame and its 6 publishes, a reviews op one shuffle (plus the merge's
# on day 2).
OP_JOBS = {"listings_day1": 8, "reviews_day1": 2, "listings_day2": 8, "reviews_day2": 3}

MONEY = ("price", "weekly_price", "monthly_price", "security_deposit", "cleaning_fee",
         "extra_people")
FACILITY_NUMERIC = ("accommodates", "bathrooms", "bedrooms", "beds")
DOC_TEXT = ("id", "listing_url", "name", "summary", "space", "description",
            "neighborhood_overview", "notes", "transit")

# The reference cleaning (Airbnb_Listings_ETL.py:29-87) with this
# package's documented divergences: keep the least (listing_url, name)
# per id, money parsed to decimal(12,2), 'Washington, D.C.' normalizes
# city and state.
_DERIVED = {
    **{c: f"CAST(regexp_replace({c}, '[$,]', '', 'g') AS DECIMAL(12,2))" for c in MONEY},
    "zipcode": "CASE WHEN length(zipcode) > 5 THEN substr(zipcode, 1, 5) ELSE zipcode END",
    "state": "CASE WHEN state = 'Washington DC' THEN 'DC' "
             "WHEN city = 'Washington, D.C.' THEN 'DC' ELSE state END",
    "city": "CASE WHEN city = 'Washington, D.C.' THEN 'Washington' ELSE city END",
    "amenities": "CASE WHEN amenities IS NOT NULL "
                 "THEN string_split(regexp_replace(amenities, '[{}\"]', '', 'g'), ',') END",
}
RENAMED = {"neighbourhood": "neighborhood"}


def _csv(path: str) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true, quote='\"', escape='\"', parallel=false)"


def _typed(schema) -> str:
    return ", ".join(f'TRY_CAST("{f.name}" AS {f.dataType.simpleString()}) AS "{f.name}"'
                     for f in schema.fields)


def replay_listings(con, csv_path: str) -> None:
    """Create the view ``clean`` over the raw listings CSV."""
    con.execute(f"CREATE OR REPLACE TABLE typed AS SELECT {_typed(LISTINGS_RAW_SCHEMA)} "
                f"FROM {_csv(csv_path)}")
    ties = con.sql("SELECT count(*) FROM (SELECT id, listing_url, name FROM typed "
                   "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    assert ties == 0, "keep-least dedup needs distinct (id, listing_url, name)"
    cols = ", ".join(f"{_DERIVED.get(c, c)} AS {RENAMED.get(c, c)}"
                     for c in LISTINGS_RAW_SCHEMA.fieldNames())
    con.execute(f"""CREATE OR REPLACE VIEW clean AS SELECT {cols} FROM (
        SELECT *, row_number() OVER (PARTITION BY id
            ORDER BY listing_url ASC NULLS LAST, name ASC NULLS LAST) AS rk FROM typed)
        WHERE rk = 1 AND name IS NOT NULL""")


def listing_sinks() -> dict[str, str]:
    """Each listing sink as DuckDB SQL over ``clean``."""
    sinks = {}
    for name, cols in TABLE_SCHEMA.items():
        exprs = [
            f"coalesce(CASE WHEN isnan({c}) THEN NULL ELSE {c} END, -1) AS {c}"
            if name == "hotel_facilities" and c == "bathrooms"
            else f"coalesce({c}, -1) AS {c}" if name == "hotel_facilities" and c in FACILITY_NUMERIC
            else c
            for c in cols
        ]
        sinks[name] = f"SELECT {', '.join(exprs)} FROM clean"
    sinks["listings_docs"] = (
        f"SELECT {', '.join(DOC_TEXT)}, {{'host_id': host_id, 'host_about': host_about}} AS host_desc "
        f"FROM clean WHERE {' AND '.join(f'{c} IS NOT NULL' for c in DOC_TEXT)}"
    )
    return sinks


def replay_reviews(con, csv_path: str, tmp: Path) -> dict[int, set[tuple]]:
    """Each listing's set of cleaned (date, reviewer_id, reviewer_name,
    comments) reviews. The ISO-8859-1 file is transcoded first: the
    DuckDB reader takes UTF-8 only."""
    utf8 = tmp / (Path(csv_path).parent.name + "_reviews_utf8.csv")
    utf8.write_text(Path(csv_path).read_bytes().decode("ISO-8859-1"), encoding="utf-8")
    rows = con.sql(
        "SELECT * FROM (SELECT TRY_CAST(listing_id AS BIGINT) AS listing_id, date, "
        f"TRY_CAST(reviewer_id AS BIGINT) AS reviewer_id, reviewer_name, comments FROM {_csv(str(utf8))}) "
        "WHERE listing_id IS NOT NULL AND date IS NOT NULL AND reviewer_id IS NOT NULL "
        "AND reviewer_name IS NOT NULL AND comments IS NOT NULL").fetchall()
    out: dict[int, set[tuple]] = {}
    for lid, *review in rows:
        out.setdefault(lid, set()).add(tuple(review))
    return out


def _version(root: Path, name: str, n: int) -> str:
    # sources/atomic.py layout: <parent>/.<name>_versions/v_<10 digits>
    return f"read_parquet('{root / f'.{name}_versions' / f'v_{n:010d}'}/*.parquet')"


def _rows(rel) -> tuple[list[str], list[str]]:
    return rel.columns, sorted(map(repr, rel.fetchall()))


@pytest.fixture(scope="module")
def load_pass(spark, tmp_path_factory):
    """One load pass over the generated dump: (data dir, output root,
    Spark jobs per op)."""
    spec = importlib.util.spec_from_file_location("airbnb_gen", GEN)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    tmp = tmp_path_factory.mktemp("etl_replay")
    data = Path(gen.generate(str(tmp / "data"), SEED, LISTINGS))
    root = tmp / "out"
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for day in ("day1", "day2"):
        for op, run, csv in (("listings", etl.run_listings_etl, "Listings.csv"),
                             ("reviews", etl.run_reviews_etl, "Reviews.csv")):
            before = scheduler.nextJobId()
            run(spark, str(data / day / csv), str(root))
            jobs[f"{op}_{day}"] = scheduler.nextJobId() - before
    return data, root, jobs


def test_load_op_job_counts(load_pass):
    assert load_pass[2] == OP_JOBS


def test_listing_versions_match_replay(load_pass):
    data, root, _ = load_pass
    con = duckdb.connect()
    try:
        for n, day in ((1, "day1"), (2, "day2")):
            replay_listings(con, str(data / day / "Listings.csv"))
            for name, sql in listing_sinks().items():
                got_cols, got = _rows(con.sql(f"SELECT * FROM {_version(root, name, n)}"))
                want_cols, want = _rows(con.sql(sql))
                assert got_cols == want_cols, (name, day)
                assert len(got) == len(want) > 0, (name, day)
                assert got == want, (name, day)
    finally:
        con.close()


def test_doc_reviews_versions_match_replay(load_pass, tmp_path):
    data, root, _ = load_pass
    con = duckdb.connect()
    try:
        merged: dict[int, set[tuple]] = {}
        for n, day in ((1, "day1"), (2, "day2")):
            for lid, reviews in replay_reviews(con, str(data / day / "Reviews.csv"), tmp_path).items():
                merged.setdefault(lid, set()).update(reviews)
            rel = con.sql(f"SELECT listing_id, reviews FROM {_version(root, 'doc_reviews', n)}")
            got = {
                lid: [(r["date"], r["reviewer_id"], r["reviewer_name"], r["comments"]) for r in reviews]
                for lid, reviews in rel.fetchall()
            }
            # $addToSet: the distinct reviews of every batch so far, sorted
            assert got == {lid: sorted(reviews) for lid, reviews in merged.items()}, day
    finally:
        con.close()
