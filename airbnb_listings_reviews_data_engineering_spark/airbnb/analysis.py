"""The reference's six analytical queries (Airbnb_Analysis.py:24-229) as
single-engine Spark plans.

The reference executes every query across TWO engines: a Mongo regex find
materializes an id list into the Python driver, which is string-spliced
into a Postgres ``IN (...)`` clause (Airbnb_Analysis.py:43-62,159-180) —
a manual cross-engine broadcast semi-join and an injection hazard. Here
documents and tables are DataFrames in one SparkSession, so Q1/Q5 are
ordinary ``left_semi`` joins and Catalyst broadcasts the small side.

Money semantics: the reference re-parses price inline in Q3/Q4 with
``replace(substring(price from 2),',','')::real`` — valid only against
un-stripped text. This engine parses money once in ETL (etl.py), so the
queries consume decimal columns directly (SURVEY.md §1.2 divergence).

Recorded divergences, implemented as the evident intent:
- Q5 outputs the group key ``city`` next to the count (the reference
  selects only count(*) — unlabeled groups, Airbnb_Analysis.py:174-180);
- Q6's $cond/$regexMatch pipeline is broken as written (it compares a
  boolean to None and returns a boolean else-branch,
  Airbnb_Analysis.py:201-208); the intent — extract the day count
  mentioned in an "automated posting" cancellation comment, defaulting
  to 1 — is implemented with regexp_extract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUIET = "(?i)quiet"
_DOC_REGEX_FIELDS_Q1 = ("summary", "space", "description")
_DOC_REGEX_FIELDS_Q5 = ("summary", "space", "description", "neighborhood_overview", "notes")


def _any_field_rlike(fields: tuple[str, ...], pattern: str) -> F.Column:
    """OR of case-insensitive regex matches over N text fields ($or of
    $regex, Airbnb_Analysis.py:31-38)."""
    cond = F.lit(False)
    for f in fields:
        cond = cond | F.coalesce(F.col(f).rlike(pattern), F.lit(False))
    return cond


def _address() -> F.Column:
    """CONCAT(neighborhood, street, ',', zipcode) — concat_ws('') mirrors
    Postgres CONCAT's skip-NULL semantics (Spark concat would null out the
    whole address, SURVEY.md §2.7)."""
    return F.concat_ws(
        "", F.col("neighborhood"), F.col("street"), F.lit(","), F.col("zipcode")
    ).alias("address")


def q1_quiet_listings(
    docs: DataFrame, hotel_location: DataFrame, price_info: DataFrame
) -> DataFrame:
    """Q1 (Airbnb_Analysis.py:24-65): address + nightly price of listings
    described as 'quiet' in any text field or any review comment."""
    quiet_ids = docs.filter(
        _any_field_rlike(_DOC_REGEX_FIELDS_Q1, QUIET)
        | F.coalesce(
            F.exists("reviews", lambda r: r["comments"].rlike(QUIET)), F.lit(False)
        )
    ).select("id")
    return (
        hotel_location.join(price_info, "id")
        .join(quiet_ids, "id", "left_semi")
        .select("id", _address(), F.col("price").alias("price_per_night"))
    )


def q2_washington_apartments(
    hotel_location: DataFrame, hotel_facilities: DataFrame, price_info: DataFrame
) -> DataFrame:
    """Q2 (Airbnb_Analysis.py:67-82): weekly price of 1-bedroom Washington
    apartments — the 3-way id join + equality filters."""
    return (
        hotel_location.join(hotel_facilities, "id")
        .join(price_info, "id")
        .filter(
            (F.col("city") == "Washington")
            & (F.col("bedrooms") == 1)
            & (F.col("property_type") == "Apartment")
        )
        .select("id", _address(), F.col("weekly_price"))
    )


def q3_bnb_median_price(
    hotel_location: DataFrame, hotel_facilities: DataFrame, price_info: DataFrame
) -> DataFrame:
    """Q3 (Airbnb_Analysis.py:84-97): B&B count + median price per city.

    The median is sort-based and exact at every scale: one window ranks
    each city's non-null prices (``row_number`` ascending, nulls last,
    next to the city's ``count`` of them), and the grouped pass keeps the
    prices at ranks ``floor((n-1)/2)+1`` and ``ceil((n-1)/2)+1``. Their
    mean ``0.5*lo + 0.5*hi`` is exactly Spark's ``percentile(x, 0.5)``
    interpolation ``(higher-pos)*lo + (pos-lower)*hi``, and null for a
    city without a non-null price. The window's sort spills instead of
    buffering every value in an aggregation buffer, so no group is too
    large for it and no probe has to choose between exact and sketched."""
    bnb = (
        hotel_location.join(hotel_facilities, "id")
        .join(price_info, "id")
        .filter(F.col("property_type") == "Bed & Breakfast")
        .withColumn("price_d", F.col("price").cast("double"))
    )
    by_city = Window.partitionBy("city")
    by_price = by_city.orderBy(F.col("price_d").asc_nulls_last())
    pos = (F.count("price_d").over(by_city) - 1) / 2
    ranked = bnb.select(
        "city",
        "property_type",
        "price_d",
        F.row_number().over(by_price).alias("rank"),
        (F.floor(pos) + 1).alias("lo_rank"),
        (F.ceil(pos) + 1).alias("hi_rank"),
    )

    def price_at(rank: str) -> F.Column:
        return F.max(F.when(F.col("rank") == F.col(rank), F.col("price_d")))

    return ranked.groupBy("city").agg(
        F.count("property_type").alias("bed_breakfast"),
        (0.5 * price_at("lo_rank") + 0.5 * price_at("hi_rank")).alias("median_price"),
    )


def q4_house_cheaper_than_townhouse(
    hotel_location: DataFrame, hotel_facilities: DataFrame, price_info: DataFrame
) -> DataFrame:
    """Q4 (Airbnb_Analysis.py:99-122): cities where the average House price
    is below the average Townhouse price.

    The reference joins two grouped subqueries on city; here one grouped
    pass computes both averages. A city with only one of the two types
    has a null average, so the comparison drops it as the inner join
    did, and null cities are filtered out as the join's null key would
    drop them."""
    price = F.col("price").cast("double")
    ptype = F.col("property_type")
    return (
        hotel_location.join(hotel_facilities, "id")
        .join(price_info, "id")
        .filter(ptype.isin("House", "Townhouse") & F.col("city").isNotNull())
        .groupBy("city")
        .agg(
            F.avg(F.when(ptype == "House", price)).alias("avg1"),
            F.avg(F.when(ptype == "Townhouse", price)).alias("avg2"),
        )
        .filter(F.col("avg1") < F.col("avg2"))
        .select("city")
    )


def q5_park_museum_counts(
    docs: DataFrame, hotel_location: DataFrame, hotel_facilities: DataFrame
) -> DataFrame:
    """Q5 (Airbnb_Analysis.py:124-183): per-city count of listings whose
    text mentions parks AND museums and whose amenities contain both.
    Divergence: the city group key is output (see module docstring)."""
    match_ids = docs.filter(
        _any_field_rlike(_DOC_REGEX_FIELDS_Q5, "(?i)park")
        & _any_field_rlike(_DOC_REGEX_FIELDS_Q5, "(?i)museum")
    ).select("id")
    return (
        hotel_facilities.join(hotel_location, "id")
        .join(match_ids, "id", "left_semi")
        .filter(
            F.array_contains("amenities", "park")
            & F.array_contains("amenities", "museum")
        )
        .groupBy("city")
        .agg(F.count("*").alias("number_of_listings"))
    )


def q6_automated_posting_reviews(docs: DataFrame) -> DataFrame:
    """Q6 (Airbnb_Analysis.py:185-220): reviews whose comments flag an
    'automated posting' cancellation, with the mentioned day count
    (regexp_extract intent — divergence note in the module docstring).

    Mongo's $match on ``reviews.comments`` keeps documents where ANY
    review matches, then projects the nested fields; explode gives the
    per-review rows the projection actually wants."""
    pat = "(?i)automated posting"
    matched = docs.filter(
        F.coalesce(F.exists("reviews", lambda r: r["comments"].rlike(pat)), F.lit(False))
    )
    per_review = matched.select(
        "id", F.explode("reviews").alias("r")
    ).filter(F.col("r.comments").rlike(pat))
    day = F.regexp_extract(F.col("r.comments"), r"(\d+)", 1)
    return per_review.select(
        "id",
        F.col("r.date").alias("date"),
        F.col("r.reviewer_id").alias("reviewer_id"),
        F.col("r.reviewer_name").alias("reviewer_name"),
        F.when(day == "", F.lit(1)).otherwise(day.cast("int")).alias("cancel_days"),
    )
