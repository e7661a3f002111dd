"""Output checks, run outside the timed region.

ETL: row counts of every published version against the counts the
generator planted. Q1-Q6: an order-insensitive hash of each result CSV
against DuckDB SQL over the same published parquet.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import os

import duckdb

from airbnb_listings_reviews_data_engineering_spark.airbnb.schemas import TABLE_SCHEMA
from airbnb_listings_reviews_data_engineering_spark.sources.atomic import list_versions

LISTING_TABLES = [*TABLE_SCHEMA, "listings_docs"]


def _version_dir(root: str, name: str, n: int) -> str:
    # sources/atomic.py layout: <parent>/.<name>_versions/v_<10 digits>
    return os.path.join(root, f".{name}_versions", f"v_{n:010d}")


def _parquet(path: str) -> str:
    return "'" + os.path.join(path, "*.parquet").replace("'", "''") + "'"


def load_pass(root: str, expected: dict) -> dict[str, bool]:
    """Per op of an ``airbnb_load`` pass, whether its published output
    holds the planted counts. Version 1 of each table is day 1 and
    version 2 is day 2 (the publish layer keeps both)."""
    con = duckdb.connect()
    ok = {}
    try:
        for day, n in (("day1", 1), ("day2", 2)):
            exp = expected[day]
            tables_ok = True
            for name in LISTING_TABLES:
                want = exp["docs"] if name == "listings_docs" else exp["tables"]
                if n not in list_versions(os.path.join(root, name)):
                    tables_ok = False
                    continue
                got = con.sql(f"SELECT count(*) FROM {_parquet(_version_dir(root, name, n))}").fetchone()[0]
                tables_ok &= got == want
            ok[f"listings_{day}"] = tables_ok
            if n not in list_versions(os.path.join(root, "doc_reviews")):
                ok[f"reviews_{day}"] = False
                continue
            rows, structs = con.sql(
                "SELECT count(*), sum(len(reviews)) FROM "
                + _parquet(_version_dir(root, "doc_reviews", n))
            ).fetchone()
            ok[f"reviews_{day}"] = (rows, structs) == (exp["doc_reviews"], exp["review_structs"])
    finally:
        con.close()
    return ok


def _any_rlike(fields, pattern: str) -> str:
    return "(" + " OR ".join(
        f"coalesce(regexp_matches({f}, '{pattern}'), false)" for f in fields) + ")"


_Q1_FIELDS = ("summary", "space", "description")
_Q5_FIELDS = ("summary", "space", "description", "neighborhood_overview", "notes")
_ADDRESS = "concat_ws('', l.neighborhood, l.street, ',', l.zipcode) AS address"
_JOIN3 = "hotel_location l JOIN hotel_facilities f USING (id) JOIN price_info p USING (id)"
_DAYS = r"regexp_extract(r.comments, '(\d+)', 1)"

# DuckDB statements of analysis.q1..q6, with the divergences that module
# documents encoded the same way.
ORACLE = {
    "q1": f"""SELECT l.id, {_ADDRESS}, p.price AS price_per_night
        FROM hotel_location l JOIN price_info p USING (id)
        WHERE l.id IN (SELECT id FROM docs WHERE {_any_rlike(_Q1_FIELDS, '(?i)quiet')}
            OR coalesce(len(list_filter(reviews, r -> regexp_matches(r.comments, '(?i)quiet'))) > 0, false))""",
    "q2": f"""SELECT l.id, {_ADDRESS}, p.weekly_price FROM {_JOIN3}
        WHERE l.city = 'Washington' AND f.bedrooms = 1 AND f.property_type = 'Apartment'""",
    "q3": f"""SELECT l.city, count(f.property_type) AS bed_breakfast,
            quantile_cont(CAST(p.price AS DOUBLE), 0.5) AS median_price
        FROM {_JOIN3} WHERE f.property_type = 'Bed & Breakfast' GROUP BY l.city""",
    "q4": f"""WITH j AS (SELECT l.city, f.property_type, CAST(p.price AS DOUBLE) AS price FROM {_JOIN3}),
        h1 AS (SELECT city, avg(price) AS avg1 FROM j WHERE property_type = 'House' GROUP BY city),
        h2 AS (SELECT city, avg(price) AS avg2 FROM j WHERE property_type = 'Townhouse' GROUP BY city)
        SELECT city FROM h1 JOIN h2 USING (city) WHERE avg1 < avg2""",
    "q5": f"""SELECT l.city, count(*) AS number_of_listings
        FROM hotel_facilities f JOIN hotel_location l USING (id)
        WHERE f.id IN (SELECT id FROM docs WHERE {_any_rlike(_Q5_FIELDS, '(?i)park')}
                AND {_any_rlike(_Q5_FIELDS, '(?i)museum')})
            AND list_contains(f.amenities, 'park') AND list_contains(f.amenities, 'museum')
        GROUP BY l.city""",
    "q6": f"""SELECT id, r.date AS date, r.reviewer_id AS reviewer_id,
            r.reviewer_name AS reviewer_name,
            CASE WHEN {_DAYS} = '' THEN 1 ELSE CAST({_DAYS} AS INTEGER) END AS cancel_days
        FROM (SELECT id, unnest(reviews) AS r FROM docs)
        WHERE regexp_matches(r.comments, '(?i)automated posting')""",
}


def _norm(v) -> str:
    """One cell as text both sides agree on: numbers by value, empty and
    NULL alike (Spark's CSV writer emits NULL as an empty field)."""
    if v is None or v == "":
        return ""
    try:
        return repr(round(float(v), 6))
    except (TypeError, ValueError):
        return str(v)


def _digest(header: list[str], rows) -> tuple[list[str], int, str]:
    lines = sorted("\x1f".join(map(_norm, r)) for r in rows)
    return header, len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_digests(tables: dict[str, str]) -> dict[str, tuple]:
    """Digest of each query's DuckDB result over the published tables
    (name -> parquet directory)."""
    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({_parquet(path)})")
        out = {}
        for q, sql in ORACLE.items():
            rel = con.sql(sql)
            out[q] = _digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def csv_digest(path: str) -> tuple:
    """Digest of a Spark CSV output directory written with a header."""
    header, rows = [], []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            head = next(reader, None)
            header = head or header
            rows.extend(reader)
    return _digest(header, rows)
