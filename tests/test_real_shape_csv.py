"""Real-shape CSV fixture e2e (VERDICT r1 "Next round" #4).

The reference's actual inputs were stripped from the repo
(/root/reference/.MISSING_LARGE_BLOBS:1-2), so this fixture recreates the
InsideAirbnb dump's wire format: a WIDER header than the 61 selected
columns (extras like scrape_id/picture_url interleaved at their real
positions), RFC-4180 doubled-quote escaping, quoted fields with embedded
commas AND newlines, the Postgres-style `{TV,"Cable TV"}` amenities
literal, t/f booleans, and a reviews file with the unused review `id`
column. The whole pipeline (read -> clean -> split -> docs -> Q1-Q6)
must run over it without schema edits."""

from __future__ import annotations

import csv

import pytest
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.airbnb import analysis, etl
from airbnb_listings_reviews_data_engineering_spark.airbnb.schemas import (
    LISTINGS_RAW_SCHEMA,
    TABLE_SCHEMA,
)

SELECTED = LISTINGS_RAW_SCHEMA.fieldNames()

# extras at their InsideAirbnb positions: after listing_url, after description
EXTRA_HEAD = ["scrape_id", "last_scraped"]
EXTRA_MID = ["experiences_offered", "thumbnail_url", "picture_url"]
HEADER = (
    SELECTED[:2] + EXTRA_HEAD + SELECTED[2:6] + EXTRA_MID + SELECTED[6:]
)

AMENITIES = '{TV,"Cable TV",Internet,Wifi,"Air conditioning"}'
DESCRIPTION = "Top floor, corner unit.\nGreat view, close to metro."


def _row(**over):
    base = dict.fromkeys(HEADER, "")
    base.update(
        id="101",
        listing_url="https://www.airbnb.com/rooms/101",
        scrape_id="20240101000000",
        last_scraped="2024-01-01",
        name="Bright DC rowhouse, walkable",
        summary="Sunny, quiet block near the park and museum",
        space="Whole second floor",
        description=DESCRIPTION,
        experiences_offered="none",
        picture_url="https://a0.muscache.com/im/pictures/101.jpg",
        neighborhood_overview="Cafes, bars, and a park",
        notes="No parties",
        transit="Metro 2 blocks",
        host_id="9001",
        host_url="https://www.airbnb.com/users/show/9001",
        host_name="Sam",
        host_since="2015-06-01",
        host_location="Washington, District of Columbia, United States",
        host_about="I host.",
        host_response_time="within an hour",
        host_response_rate="100%",
        host_acceptance_rate="98%",
        host_neighbourhood="Dupont Circle",
        host_listings_count="2",
        host_total_listings_count="2",
        host_verifications="['email', 'phone', 'reviews']",
        street="1630 R Street NW, Washington, DC 20009, United States",
        neighbourhood="Dupont Circle",
        city="Washington",
        state="DC",
        zipcode="20009",
        market="D.C.",
        smart_location="Washington, DC",
        latitude="38.912345",
        longitude="-77.041234",
        property_type="Apartment",
        room_type="Entire home/apt",
        accommodates="4",
        bathrooms="1.5",
        bedrooms="2",
        beds="2",
        bed_type="Real Bed",
        amenities=AMENITIES,
        square_feet="",
        price="$1,250.00",
        weekly_price="$7,000.50",
        monthly_price="$24,000.00",
        security_deposit="$500.00",
        cleaning_fee="$85.00",
        guests_included="2",
        extra_people="$25.00",
        minimum_nights="2",
        maximum_nights="1125",
        calendar_updated="today",
        availability_30="11",
        availability_60="22",
        availability_90="45",
        availability_365="220",
        requires_license="t",
        license="",
        jurisdiction_names="DISTRICT OF COLUMBIA, WASHINGTON",
        cancellation_policy="strict_14_with_grace_period",
        require_guest_profile_picture="f",
        require_guest_phone_verification="t",
        calculated_host_listings_count="2",
        reviews_per_month="2.35",
    )
    base.update(over)
    return base


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    rows = [
        _row(),
        # duplicate id: lexicographically larger url loses the dedup
        _row(listing_url="https://www.airbnb.com/rooms/999"),
        _row(id="102", zipcode="20009-3425", state="Washington DC",
             city="Arlington", property_type="House", price="$400.00"),
        # embedded comma inside a quoted field
        _row(id="103", city="Washington, D.C.", state="",
             property_type="House", price="$100.00"),
        _row(id="104", name=""),  # null name -> dropped
        _row(id="105", bedrooms="", bathrooms="", square_feet="",
             property_type="Townhouse", price="$300.00"),
        _row(id="106", property_type="Townhouse", price="$200.00",
             city="Arlington"),
        _row(id="107", property_type="Bed & Breakfast", price="$80.00"),
        _row(id="108", property_type="Bed & Breakfast", price="$120.00"),
        _row(id="109", property_type="Bed & Breakfast", price="$200.00"),
    ]
    d = tmp_path_factory.mktemp("real_shape")
    listings = d / "Listings.csv"
    with open(listings, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=HEADER)  # RFC-4180 doubled quotes
        w.writeheader()
        w.writerows(rows)

    reviews = d / "Reviews.csv"
    rev_header = ["listing_id", "id", "date", "reviewer_id", "reviewer_name",
                  "comments"]
    rev_rows = [
        ("101", "7001", "2024-01-05", "501", "Ana",
         "So quiet and lovely,\nright by the park and museum"),
        ("101", "7002", "2024-01-09", "502", "Bo", "Nice \xe9tage, great host"),
        ("103", "7003", "2024-02-01", "503", "Cy",
         "automated posting: canceled 5 days before arrival"),
    ]
    with open(reviews, "w", newline="", encoding="ISO-8859-1") as f:
        w = csv.writer(f)
        w.writerow(rev_header)
        w.writerows(rev_rows)
    return str(listings), str(reviews)


@pytest.fixture(scope="module")
def clean(spark, fixture_dirs):
    listings, _ = fixture_dirs
    df = etl.clean_listings(etl.read_listings_csv(spark, listings))
    df.cache().count()
    return df


def test_wide_header_and_dedup(clean):
    ids = [r.id for r in clean.select("id").orderBy("id").collect()]
    assert ids == [101, 102, 103, 105, 106, 107, 108, 109]  # 104 dropped, 101 once
    assert (
        clean.filter(F.col("id") == 101).first().listing_url
        == "https://www.airbnb.com/rooms/101"
    )


def test_quoted_amenities_and_embedded_newline(clean):
    r = clean.filter(F.col("id") == 101).first()
    assert r.amenities == ["TV", "Cable TV", "Internet", "Wifi", "Air conditioning"]
    assert "\n" in r.description and "corner unit" in r.description
    # quoted embedded comma survives field splitting
    assert clean.filter(F.col("id") == 103).first().city == "Washington"


def test_types_money_zip_state_booleans(clean):
    r = clean.filter(F.col("id") == 101).first()
    assert float(r.price) == 1250.00 and float(r.weekly_price) == 7000.50
    assert r.requires_license is True
    assert r.require_guest_profile_picture is False
    assert float(r.latitude) == 38.912345
    r2 = clean.filter(F.col("id") == 102).first()
    assert r2.zipcode == "20009" and r2.state == "DC"
    r3 = clean.filter(F.col("id") == 103).first()
    assert r3.state == "DC" and r3.city == "Washington"


def test_split_and_sentinel(clean):
    tables = etl.split_tables(clean)
    for name, cols in TABLE_SCHEMA.items():
        assert tables[name].columns == cols
    f5 = tables["hotel_facilities"].filter(F.col("id") == 105).first()
    assert f5.bedrooms == -1 and f5.square_feet is None


def test_reviews_real_shape_and_encoding(spark, fixture_dirs):
    _, reviews = fixture_dirs
    arrays = etl.reviews_to_arrays(etl.clean_reviews(etl.read_reviews_csv(spark, reviews)))
    rows = {r.listing_id: r.reviews for r in arrays.collect()}
    assert set(rows) == {101, 103}
    assert len(rows[101]) == 2
    comments = {c.comments for c in rows[101]}
    assert any("\n" in c for c in comments)  # quoted newline survived
    assert any("\xe9tage" in c for c in comments)  # ISO-8859-1 decoded


def test_q1_through_q6_run_e2e(spark, clean, fixture_dirs):
    _, reviews = fixture_dirs
    t = etl.split_tables(clean)
    arrays = etl.reviews_to_arrays(etl.clean_reviews(etl.read_reviews_csv(spark, reviews)))
    docs = etl.build_listing_docs(clean).join(
        arrays.withColumnRenamed("listing_id", "id"), "id", "left"
    )
    q1 = analysis.q1_quiet_listings(docs, t["hotel_location"], t["price_info"])
    assert 101 in {r.id for r in q1.collect()}  # 'quiet' in summary+review
    q2 = analysis.q2_washington_apartments(
        t["hotel_location"], t["hotel_facilities"], t["price_info"]
    )
    assert q2.count() >= 0
    q3 = {
        r.city: r
        for r in analysis.q3_bnb_median_price(
            t["hotel_location"], t["hotel_facilities"], t["price_info"]
        ).collect()
    }
    assert q3["Washington"].bed_breakfast == 3
    assert q3["Washington"].median_price == 120.0
    q4 = analysis.q4_house_cheaper_than_townhouse(
        t["hotel_location"], t["hotel_facilities"], t["price_info"]
    ).collect()
    assert [r.city for r in q4] == ["Washington"]  # 100 < 300; Arlington has no pair
    q6 = analysis.q6_automated_posting_reviews(docs).collect()
    assert len(q6) == 1 and q6[0].id == 103 and q6[0].cancel_days == 5


def test_splittable_reader_matches_direct_reader(spark, fixture_dirs, tmp_path):
    """read_listings_csv parses record-aligned chunks in several tasks;
    it must produce the SAME rows as Spark's own multiLine read of the
    unsplit file through the same 61-column select + try_cast."""
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        ROOT_CONF,
    )

    listings, _ = fixture_dirs
    spark.conf.set(ROOT_CONF, str(tmp_path))
    try:
        whole = (
            spark.read.option("header", True)
            .option("multiLine", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(listings)
        )
        assert whole.rdd.getNumPartitions() == 1
        direct = etl.clean_listings(
            etl._select_by_name(whole, LISTINGS_RAW_SCHEMA, "listings")
        )
        raw = etl.read_listings_csv(spark, listings)
        assert raw.rdd.getNumPartitions() > 1
        split = etl.clean_listings(raw)
        d = sorted(map(tuple, direct.collect()))
        s = sorted(map(tuple, split.collect()))
        assert d == s
    finally:
        spark.conf.unset(ROOT_CONF)
