"""Airbnb data-model schemas (SURVEY.md §1).

Column lists are the reference's own, verbatim:
- 61 ingest columns: Airbnb_Listings_ETL.py:40 (``selected_columns``)
- 5-table vertical partition: Airbnb_Listings_ETL.py:76-81 (``tableSchema``)
- document text columns: Airbnb_Listings_ETL.py:87 (``Mongodata``)
- review columns: Airbnb_Review_ETL.py:37

Types follow the reference DDL (sql/create_*.sql) with the deliberate
100 TB-posture upgrades from SURVEY.md §1.2: ids are LongType, money is
parsed once to Decimal(12,2), amenities is a real array column, and
lat/long are Decimal(9,6).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Airbnb_Listings_ETL.py:40 — the 61 columns the reference selects from the
# wide CSV (pre-rename: `neighbourhood`).
SELECTED_COLUMNS = [
    "id", "listing_url", "name", "summary", "space", "description",
    "neighborhood_overview", "notes", "transit", "host_id", "host_url",
    "host_name", "host_since", "host_location", "host_about",
    "host_response_time", "host_response_rate", "host_acceptance_rate",
    "host_neighbourhood", "host_listings_count", "host_total_listings_count",
    "host_verifications", "street", "neighbourhood", "city", "state",
    "zipcode", "market", "smart_location", "latitude", "longitude",
    "property_type", "room_type", "accommodates", "bathrooms", "bedrooms",
    "beds", "bed_type", "amenities", "square_feet", "price", "weekly_price",
    "monthly_price", "security_deposit", "cleaning_fee", "guests_included",
    "extra_people", "minimum_nights", "maximum_nights", "calendar_updated",
    "availability_30", "availability_60", "availability_90",
    "availability_365", "requires_license", "license", "jurisdiction_names",
    "cancellation_policy", "require_guest_profile_picture",
    "require_guest_phone_verification", "calculated_host_listings_count",
    "reviews_per_month",
]

# Airbnb_Listings_ETL.py:52-55 — columns the reference strips '$' from.
# guests_included is an integer in the DDL (create_price_info.sql:8); the
# true money columns are the other six.
MONEY_COLUMNS = [
    "price", "weekly_price", "monthly_price", "security_deposit",
    "cleaning_fee", "extra_people",
]

_STR = T.StringType()
_LONG = T.LongType()
_INT = T.IntegerType()
_BOOL = T.BooleanType()

# CSV arrival shape: everything the cleaner parses arrives as a string.
LISTINGS_RAW_SCHEMA = T.StructType(
    [T.StructField("id", _LONG)]
    + [T.StructField(c, _STR) for c in SELECTED_COLUMNS[1:9]]
    + [T.StructField("host_id", _LONG)]
    + [T.StructField(c, _STR) for c in SELECTED_COLUMNS[10:19]]
    + [
        T.StructField("host_listings_count", _INT),
        T.StructField("host_total_listings_count", _INT),
    ]
    + [T.StructField(c, _STR) for c in SELECTED_COLUMNS[21:29]]
    + [
        T.StructField("latitude", T.DecimalType(9, 6)),
        T.StructField("longitude", T.DecimalType(9, 6)),
        T.StructField("property_type", _STR),
        T.StructField("room_type", _STR),
        T.StructField("accommodates", _INT),
        T.StructField("bathrooms", T.DoubleType()),
        T.StructField("bedrooms", _INT),
        T.StructField("beds", _INT),
        T.StructField("bed_type", _STR),
        T.StructField("amenities", _STR),  # "{wifi,park}" — parsed to array
        T.StructField("square_feet", _STR),  # text in DDL (see SURVEY §1.2)
        T.StructField("price", _STR),
        T.StructField("weekly_price", _STR),
        T.StructField("monthly_price", _STR),
        T.StructField("security_deposit", _STR),
        T.StructField("cleaning_fee", _STR),
        T.StructField("guests_included", _INT),
        T.StructField("extra_people", _STR),
        T.StructField("minimum_nights", _INT),
        T.StructField("maximum_nights", _INT),
        T.StructField("calendar_updated", _STR),
        T.StructField("availability_30", _INT),
        T.StructField("availability_60", _INT),
        T.StructField("availability_90", _INT),
        T.StructField("availability_365", _INT),
        T.StructField("requires_license", _BOOL),
        T.StructField("license", _STR),
        T.StructField("jurisdiction_names", _STR),
        T.StructField("cancellation_policy", _STR),
        T.StructField("require_guest_profile_picture", _BOOL),
        T.StructField("require_guest_phone_verification", _BOOL),
        T.StructField("calculated_host_listings_count", _INT),
        T.StructField("reviews_per_month", T.DoubleType()),
    ]
)

# Airbnb_Review_ETL.py:37
REVIEWS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("listing_id", _STR),  # to_numeric(coerce) in cleaning
        T.StructField("date", _STR),
        T.StructField("reviewer_id", _LONG),
        T.StructField("reviewer_name", _STR),
        T.StructField("comments", _STR),
    ]
)

# Airbnb_Listings_ETL.py:76-81 — the 5-way vertical partition, post-rename.
TABLE_SCHEMA: dict[str, list[str]] = {
    "host_info": [
        "id", "host_id", "host_url", "host_name", "host_since",
        "host_location", "host_response_time", "host_response_rate",
        "host_acceptance_rate", "host_neighbourhood", "host_listings_count",
        "host_total_listings_count", "host_verifications",
    ],
    "hotel_location": [
        "id", "street", "neighborhood", "city", "state", "zipcode", "market",
        "smart_location", "latitude", "longitude",
    ],
    "hotel_facilities": [
        "id", "property_type", "room_type", "accommodates", "bathrooms",
        "bedrooms", "beds", "bed_type", "amenities", "square_feet",
    ],
    "price_info": [
        "id", "price", "weekly_price", "monthly_price", "security_deposit",
        "cleaning_fee", "guests_included", "extra_people", "minimum_nights",
        "maximum_nights", "calendar_updated", "availability_30",
        "availability_60", "availability_90", "availability_365",
    ],
    "host_metrics": [
        "id", "requires_license", "license", "jurisdiction_names",
        "cancellation_policy", "require_guest_profile_picture",
        "require_guest_phone_verification",
        "calculated_host_listings_count", "reviews_per_month",
    ],
}

# Airbnb_Listings_ETL.py:87 — the document projection ('hotel&host_text').
DOC_TEXT_COLUMNS = [
    "id", "listing_url", "name", "summary", "space", "description",
    "neighborhood_overview", "notes", "transit", "host_id", "host_about",
]
