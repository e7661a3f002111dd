"""Airbnb listings + reviews ETL as lazy Spark lineages.

Replaces both reference Airflow DAGs (Airbnb_Listings_ETL.py:225-303,
Airbnb_Review_ETL.py:128-163). Where the reference moves eager pandas
frames between worker processes via XCom and loads row-at-a-time into
Postgres/Mongo, here each pipeline is ONE lazy lineage: the cleaned frame
is cached once and fanned out to the 6 sinks. Every step is a column
expression — zero UDFs (SURVEY.md §2.9).

Each step is built as one analyzed projection: the scan's typed select
is one ``selectExpr``, ``clean_listings`` is the dedup window, one filter
and one projection of all 61 columns, and each sink is one projection.
At the benchmark's 10^4 listings a load pass spent about 40% of its wall
time building plans on the driver, with no Spark job running, so every
extra ``withColumn`` (a re-analysis of the whole plan) and every py4j
round trip shows in the load's wall time. Cleaning and grouping the
reviews take one shuffle, the per-listing groupBy, which also drops
exact duplicate reviews (a merge into stored arrays adds its own); the
listings pipeline shuffles once too, for the dedup window.

Both DAGs use every core. Each CSV is parsed by Spark's multiLine parser
over record-aligned chunks (sources/csv.read_multiline_csv), about one
task per core instead of one task per file. After the first listings
sink has materialized the cached frame, the other 5 publish concurrently,
so their small write jobs share the executors instead of queueing.

Deliberate divergences from the reference (SURVEY.md §1.2, recorded here
once, encoded identically in the oracle SQL):
- money is parsed ONCE to decimal(12,2) (`regexp_replace('[$,]','')`);
  the reference strips '$' with a regex that never matched ('$' anchors)
  and re-strips the first character in every analysis query;
- `city == 'Washington, D.C.'` normalizes BOTH city and state to DC (the
  reference writes only `state`, Airbnb_Listings_ETL.py:68-70 — we keep
  the intent, normalize consistently);
- the facilities fillna(-1) lands on numeric columns only, not on the
  text `square_feet` column (the reference fills the whole frame);
- dedup-by-id keeps the row with the lexicographically-least
  (listing_url, name) instead of pandas' arrival-order "first", which no
  distributed engine can reproduce deterministically.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import hand_over, release
from ..operators.merge import merge_array_accum
from ..sources.atomic import publish_parquet, read_published, read_version
from ..sources.csv import read_multiline_csv
from .schemas import (
    DOC_TEXT_COLUMNS,
    LISTINGS_RAW_SCHEMA,
    MONEY_COLUMNS,
    REVIEWS_RAW_SCHEMA,
    SELECTED_COLUMNS,
    TABLE_SCHEMA,
)

MONEY_TYPE = "decimal(12,2)"
RENAMED = {"neighbourhood": "neighborhood"}  # the reference's one column rename


def read_listings_csv(spark: SparkSession, path: str) -> DataFrame:
    """Listings CSV scan matching the real dump's shape.

    Reference: pd.read_csv + df[selected_columns]
    (Airbnb_Listings_ETL.py:15-27,40-41) — name-based selection over a
    WIDER raw file (the InsideAirbnb dump has ~95 columns; the pipeline
    uses 61). Mirrored here: read every column as string by header name
    (no inference pass), select the 61 by NAME (robust to extra columns
    and reordering, exactly like pandas), then try_cast to the canonical
    types. RFC-4180 realities of the actual dump: quoted fields with
    embedded commas AND newlines (`multiLine`), doubled-quote escaping
    (`escape='"'` — Spark's default backslash escape mis-parses
    `"{TV,""Cable TV""}"`), and t/f booleans (cast handles them).

    Scale note: multiLine disables Spark's intra-file split, so the scan
    reads record-aligned chunks that sources/csv.read_multiline_csv cuts
    on the driver — about ``defaultParallelism`` tasks even for one file.
    ``checkpoint.release`` of the returned frame deletes the chunks.
    """
    raw = read_multiline_csv(spark, path)
    return hand_over(raw, _select_by_name(raw, LISTINGS_RAW_SCHEMA, "listings"))


def read_reviews_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reviews CSV scan, ISO-8859-1 (Airbnb_Review_ETL.py:22).

    Name-based like the listings scan: the real Reviews.csv carries a
    review `id` column the pipeline never uses, and comments contain
    quoted embedded newlines — positional schema application would
    misalign on the extra column, so select the 5 used columns by header
    name and cast after. Chunked and released like the listings scan.
    """
    raw = read_multiline_csv(spark, path, encoding="ISO-8859-1")
    return hand_over(raw, _select_by_name(raw, REVIEWS_RAW_SCHEMA, "reviews"))


def _select_by_name(raw: DataFrame, schema, what: str) -> DataFrame:
    """Select ``schema``'s columns from the string-typed scan by header
    name, each ``try_cast`` to its type, as one SQL projection: one
    py4j call per column instead of several."""
    missing = [f.name for f in schema.fields if f.name not in raw.columns]
    if missing:
        raise ValueError(f"{what} CSV lacks selected columns: {missing}")
    return raw.selectExpr(
        *[
            f"try_cast({_quote(f.name)} AS {f.dataType.simpleString()}) AS {_quote(f.name)}"
            for f in schema.fields
        ]
    )


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _money_sql(col: str) -> str:
    return f"CAST(regexp_replace({col}, '[$,]', '') AS {MONEY_TYPE})"


def parse_money(col: str) -> F.Column:
    """'$1,234.00' -> 1234.00 — the single canonical money parse."""
    return F.expr(_money_sql(col))


# clean_listings' projection: each changed column's SQL expression
_CLEANED = {
    **{c: _money_sql(c) for c in MONEY_COLUMNS},
    "zipcode": "CASE WHEN length(zipcode) > 5 THEN substring(zipcode, 1, 5) ELSE zipcode END",
    "state": "CASE WHEN state = 'Washington DC' THEN 'DC' "
    "WHEN city = 'Washington, D.C.' THEN 'DC' ELSE state END",
    "city": "CASE WHEN city = 'Washington, D.C.' THEN 'Washington' ELSE city END",
    "amenities": "CASE WHEN amenities IS NOT NULL "
    "THEN split(regexp_replace(amenities, '[{}\"]', ''), ',') END",
}


def clean_listings(df: DataFrame) -> DataFrame:
    """The proccess_lists transform chain (Airbnb_Listings_ETL.py:29-87)
    as one dedup window, one filter and one projection: rank by id ->
    keep rank 1 with a non-null name -> parse money, normalize zipcode /
    state / city, parse amenities, rename neighbourhood. No projection
    changes ``name``, so dropping null names in the dedup filter equals
    the reference's dropna after the transforms. The expressions are SQL
    text: a projection given as text costs one py4j call per column,
    where building it from Column objects costs several."""
    # dedup_key: deterministic keep-least instead of pandas keep-first
    kept = df.selectExpr(
        *SELECTED_COLUMNS,
        "row_number() OVER (PARTITION BY id "
        "ORDER BY listing_url ASC NULLS LAST, name ASC NULLS LAST) AS _rk",
    ).filter("_rk = 1 AND name IS NOT NULL")
    return kept.selectExpr(
        *[f"{_CLEANED.get(c, c)} AS {RENAMED.get(c, c)}" for c in SELECTED_COLUMNS]
    )


def split_tables(clean: DataFrame) -> dict[str, DataFrame]:
    """Vertical partition into the 5 relational tables
    (Airbnb_Listings_ETL.py:76-81,90-151), one projection each.
    ``hotel_facilities`` gets the fillna(-1) sentinel on its NUMERIC
    columns only (divergence note in the module docstring), written as
    the expression ``na.fill`` builds: NaN and null become -1."""
    types = dict(clean.dtypes)
    tables: dict[str, DataFrame] = {}
    for name, cols in TABLE_SCHEMA.items():
        if name == "hotel_facilities":
            cols = [_fill_minus_one(c, types[c]) for c in cols]
        tables[name] = clean.selectExpr(*cols)
    return tables


def _fill_minus_one(c: str, dtype: str) -> str:
    if c == "id" or dtype not in ("int", "bigint", "double", "float"):
        return c
    value = f"nanvl({c}, NULL)" if dtype in ("double", "float") else c
    return f"coalesce({value}, CAST(-1 AS {dtype})) AS {c}"


def build_listing_docs(clean: DataFrame) -> DataFrame:
    """Document assembly (load_lists_mongo, Airbnb_Listings_ETL.py:154-207):
    text projection + host_desc struct — a struct expression, not a
    per-row apply — in one projection. The reference then dropna()s the
    whole frame; we keep that semantic."""
    text = [c for c in DOC_TEXT_COLUMNS if c not in ("host_id", "host_about")]
    return clean.selectExpr(*text, "struct(host_id, host_about) AS host_desc").na.drop()


def clean_reviews(df: DataFrame) -> DataFrame:
    """proccess_reviews + the load-side casts (Airbnb_Review_ETL.py:30-86):
    select 5 -> lenient listing_id cast -> drop nulls. The reference's
    full-row dedup is not a step here: ``reviews_to_arrays`` keeps each
    listing's distinct review structs, which removes exact duplicate rows
    in the shuffle the pipeline runs anyway, so a separate
    ``dropDuplicates`` would only add a second one."""
    return df.selectExpr(
        "try_cast(listing_id AS bigint) AS listing_id",
        "date",
        "reviewer_id",
        "reviewer_name",
        "comments",
    ).na.drop()


def reviews_to_arrays(reviews: DataFrame) -> DataFrame:
    """Group reviews under their listing as a sorted set of structs — the
    $addToSet document shape (Airbnb_Review_ETL.py:82-111) in one shuffle."""
    return reviews.groupBy("listing_id").agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.struct("date", "reviewer_id", "reviewer_name", "comments")
                )
            )
        ).alias("reviews")
    )


def merge_reviews_into_docs(docs_reviews: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental $addToSet merge of a new reviews batch into the stored
    per-listing arrays — idempotent, so daily re-runs and task retries are
    safe (inc_doc_accum, SURVEY.md §2.8)."""
    return merge_array_accum(docs_reviews, batch, key="listing_id", array_col="reviews")


def run_listings_etl(
    spark: SparkSession, csv_path: str, out_dir: str
) -> dict[str, DataFrame]:
    """The whole listings DAG as one job: read -> clean -> cache -> fan out
    to 5 relational parquet tables + 1 document table; returns each sink
    as published. Daily-re-run semantics = snapshot overwrite (exact
    parity with the reference's replace-style upsert under full reloads).

    The first sink's publish materializes the cached frame; the other 5
    then publish concurrently, one thread each, and the call waits for
    all of them before it raises the first error, so no publish is still
    writing when it returns. The cache and the CSV chunks are freed
    either way.

    Each sink is an atomic publish with its own staging dir and commit
    lock: a crash mid-fan-out (the reference's `retries=1` scenario,
    Airbnb_Listings_ETL.py:219-220) leaves every sink either at its
    previous version or at the new complete one — the retry re-runs the
    whole job and converges
    (tests/test_airbnb_pipeline.py::test_listings_etl_retry_converges)."""
    raw = read_listings_csv(spark, csv_path)
    clean = clean_listings(raw).cache()
    sinks = {**split_tables(clean), "listings_docs": build_listing_docs(clean)}
    (first, first_df), *rest = sinks.items()
    try:
        published = {first: _publish(spark, first_df, f"{out_dir}/{first}")}
        with ThreadPoolExecutor(max_workers=len(rest)) as pool:
            futures = {
                n: pool.submit(_publish, spark, df, f"{out_dir}/{n}") for n, df in rest
            }
        # the pool's exit waited for every publish; result() raises the first error
        published.update((n, f.result()) for n, f in futures.items())
    finally:
        clean.unpersist(blocking=True)
        release(raw)
    return published


def _publish(spark: SparkSession, df: DataFrame, target: str) -> DataFrame:
    """Publish ``df`` and return a frame over the version just written."""
    return read_version(spark, publish_parquet(df, target))


def run_reviews_etl(
    spark: SparkSession, csv_path: str, out_dir: str
) -> DataFrame:
    """The reviews DAG: read -> clean -> per-listing arrays, then MERGE
    into the stored doc_reviews table if one exists (else first load).

    Publish is ONE write to a fresh version dir + an atomic pointer swap
    (sources/atomic.py) — a crash anywhere mid-run leaves the previous
    version published and readable. ``read_published`` returns None only
    for a never-published target; real read errors propagate instead of
    being mistaken for a first run. The CSV chunks are freed after the
    publish.
    """
    raw = read_reviews_csv(spark, csv_path)
    arrays = reviews_to_arrays(clean_reviews(raw))
    target = f"{out_dir}/doc_reviews"
    base = read_published(spark, target)
    merged = arrays if base is None else merge_reviews_into_docs(base, arrays)
    try:
        return _publish(spark, merged, target)
    finally:
        release(raw)

