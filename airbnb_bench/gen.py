"""Seeded generator for DC-shaped InsideAirbnb ``Listings.csv`` and
``Reviews.csv`` dumps, plus the row counts the ETL must produce from them.

Wire format follows the real dump (and tests/test_real_shape_csv.py): a
header wider than the 61 selected columns, RFC-4180 doubled-quote
escaping, quoted free text with embedded commas and newlines,
``"$1,234.00"`` money strings, ``{TV,"Cable TV",park}`` amenity literals,
``t``/``f`` booleans, and a reviews file in ISO-8859-1 carrying the unused
review ``id`` column.

Planted cases: ~2% duplicate listing ids, ~3% null names, ZIP+4 codes,
``Washington, D.C.`` cities, "quiet" / "park" / "museum" text and
"automated posting ... N days" cancellation comments; reviews with ~2%
unparseable ``listing_id`` and ~1% exact duplicate rows.

Day 2 is a listings snapshot with ~5% changed prices and ~2% new ids, and
a reviews batch of which half re-delivers day-1 rows and half is new.

``generate(root, seed, scale)`` writes one directory per (seed, scale) and
is a no-op when that directory is already complete.
"""

from __future__ import annotations

import csv
import json
import os
import random
import shutil

from airbnb_listings_reviews_data_engineering_spark.airbnb.schemas import (
    DOC_TEXT_COLUMNS,
    SELECTED_COLUMNS,
)

# Extra columns of the real dump, at their InsideAirbnb positions.
_EXTRA_AFTER = {
    "listing_url": ["scrape_id", "last_scraped"],
    "description": ["experiences_offered"],
    "transit": ["access", "interaction", "house_rules", "thumbnail_url",
                "medium_url", "picture_url", "xl_picture_url"],
    "host_about": [],
    "host_verifications": ["host_has_profile_pic", "host_identity_verified"],
    "longitude": ["is_location_exact"],
    "calendar_updated": ["has_availability"],
    "availability_365": ["calendar_last_scraped", "number_of_reviews",
                         "first_review", "last_review", "review_scores_rating"],
    "jurisdiction_names": ["instant_bookable", "is_business_travel_ready"],
}
LISTINGS_HEADER = [
    c for col in SELECTED_COLUMNS for c in [col, *_EXTRA_AFTER.get(col, [])]
]
REVIEWS_HEADER = ["listing_id", "id", "date", "reviewer_id", "reviewer_name", "comments"]

# Columns the document projection keeps top-level: a null in any of them
# drops the document (host_id/host_about go into the host_desc struct).
_DOC_NOTNULL = [c for c in DOC_TEXT_COLUMNS if c not in ("host_id", "host_about")]

_WORDS = (
    "bright sunny cozy spacious modern renovated historic charming private "
    "walkable rowhouse studio garden rooftop balcony kitchen bedroom metro "
    "block corner view street cafe market shops restaurants capitol mall "
    "downtown neighborhood friendly clean comfortable convenient easy close"
).split()
_NAMES = ("Ana Bo Cy Dana Eli Fay Gus Hana Ivo Jae Kai Lea Max Noa Oto Pia "
          "Rui Sol Tea Uma Vic Wen Xia Yan Zoe René Zoë Agnès Jürgen Maëlle").split()
_CITIES = [("Washington", "DC", 70), ("Washington, D.C.", "", 6),
           ("Arlington", "VA", 8), ("Alexandria", "VA", 6),
           ("Bethesda", "MD", 5), ("Silver Spring", "MD", 5)]
_PTYPES = [("Apartment", 45), ("House", 20), ("Townhouse", 12),
           ("Condominium", 8), ("Bed & Breakfast", 6), ("Loft", 4),
           ("Guest suite", 5)]
_AMENITIES = ["TV", "Cable TV", "Internet", "Wifi", "Air conditioning",
              "Kitchen", "Heating", "Washer", "Dryer", "park", "museum",
              "Free parking on premises", "Smoke detector"]
_HOODS = ["Dupont Circle", "Capitol Hill", "Shaw", "Logan Circle",
          "Adams Morgan", "Georgetown", "Navy Yard", "Columbia Heights"]


class _Rng(random.Random):
    """Seeded source of values; sentences come from a per-seed pool, which
    keeps generation cheap."""

    def __init__(self, seed: int):
        super().__init__(seed)
        self.pool = [" ".join(self.choices(_WORDS, k=self.randint(4, 16))).capitalize() + "."
                     for _ in range(4096)]

    def int(self, lo: int, hi: int) -> int:
        """Uniform in [lo, hi]; random.randint without its checks."""
        return lo + int(self.random() * (hi - lo + 1))

    def pick(self, seq):
        return seq[int(self.random() * len(seq))]

    def sentence(self) -> str:
        return self.pick(self.pool)


def _pick(rng: _Rng, weighted):
    return rng.choices([w[:-1] for w in weighted],
                       weights=[w[-1] for w in weighted])[0]


def _text(rng: _Rng, p_null: float, extra: list[str]) -> str:
    if rng.random() < p_null:
        return ""
    parts = [rng.sentence() for _ in range(rng.int(1, 3))]
    parts += extra
    rng.shuffle(parts)
    sep = "\n" if rng.random() < 0.3 else " "
    return sep.join(parts)


def _money(rng: _Rng, lo: int, hi: int, p_null: float = 0.0) -> str:
    if rng.random() < p_null:
        return ""
    return f"${rng.int(lo, hi):,}.00"


def _listing(rng: _Rng, lid: int) -> dict[str, str]:
    city, state = _pick(rng, _CITIES)
    (ptype,) = _pick(rng, _PTYPES)
    quiet = ["A quiet street."] if rng.random() < 0.12 else []
    park = ["Steps from the park."] if rng.random() < 0.35 else []
    museum = ["Walk to the museum."] if rng.random() < 0.3 else []
    zipcode = f"200{rng.int(1, 39):02d}"
    if rng.random() < 0.1:
        zipcode += f"-{rng.int(1000, 9999)}"
    amen = rng.sample(_AMENITIES, rng.int(3, 9))
    host = rng.int(1, 10**6)
    price = rng.int(40, 1500)
    return {
        "id": str(lid),
        "listing_url": f"https://www.airbnb.com/rooms/{lid}",
        "scrape_id": "20240101000000",
        "last_scraped": "2024-01-01",
        "name": "" if rng.random() < 0.03 else rng.sentence(),
        "summary": _text(rng, 0.02, quiet + park),
        "space": _text(rng, 0.05, museum),
        "description": _text(rng, 0.01, park[:1] + quiet[:1]),
        "experiences_offered": "none",
        "neighborhood_overview": _text(rng, 0.04, museum + park),
        "notes": _text(rng, 0.08, []),
        "transit": _text(rng, 0.03, ["Metro 2 blocks, bus 42."]),
        "access": _text(rng, 0.3, []),
        "thumbnail_url": "",
        "picture_url": f"https://a0.muscache.com/im/pictures/{lid}.jpg",
        "host_id": str(host),
        "host_url": f"https://www.airbnb.com/users/show/{host}",
        "host_name": rng.pick(_NAMES),
        "host_since": f"20{rng.int(10, 23)}-0{rng.int(1, 9)}-1{rng.int(0, 9)}",
        "host_location": "Washington, District of Columbia, United States",
        "host_about": _text(rng, 0.3, []),
        "host_response_time": "within an hour",
        "host_response_rate": f"{rng.int(50, 100)}%",
        "host_acceptance_rate": f"{rng.int(50, 100)}%",
        "host_neighbourhood": rng.pick(_HOODS),
        "host_listings_count": str(rng.int(1, 30)),
        "host_total_listings_count": str(rng.int(1, 30)),
        "host_verifications": "['email', 'phone', 'reviews']",
        "host_has_profile_pic": "t",
        "street": f"{rng.int(100, 4999)} {rng.pick('PQRSTUV')} Street NW, "
                  f"Washington, DC {zipcode[:5]}, United States",
        "neighbourhood": rng.pick(_HOODS),
        "city": city,
        "state": state,
        "zipcode": zipcode,
        "market": "D.C.",
        "smart_location": "Washington, DC",
        "latitude": f"38.{rng.int(800000, 999999)}",
        "longitude": f"-77.{rng.int(0, 99999):06d}",
        "is_location_exact": "t",
        "property_type": ptype,
        "room_type": rng.pick(["Entire home/apt", "Private room", "Shared room"]),
        "accommodates": str(rng.int(1, 10)),
        "bathrooms": "" if rng.random() < 0.02 else str(rng.pick([1, 1.5, 2, 2.5])),
        "bedrooms": "" if rng.random() < 0.02 else str(rng.int(0, 4)),
        "beds": str(rng.int(1, 6)),
        "bed_type": "Real Bed",
        "amenities": "{" + ",".join(f'"{a}"' if " " in a else a for a in amen) + "}",
        "square_feet": "" if rng.random() < 0.95 else str(rng.int(300, 3000)),
        "price": f"${price:,}.00",
        "weekly_price": _money(rng, 6 * price, 7 * price, 0.4),
        "monthly_price": _money(rng, 20 * price, 28 * price, 0.5),
        "security_deposit": _money(rng, 0, 1000, 0.3),
        "cleaning_fee": _money(rng, 0, 250, 0.2),
        "guests_included": str(rng.int(1, 4)),
        "extra_people": _money(rng, 0, 50),
        "minimum_nights": str(rng.int(1, 30)),
        "maximum_nights": str(rng.pick([30, 365, 1125])),
        "calendar_updated": rng.pick(["today", "2 weeks ago", "a week ago"]),
        "has_availability": "t",
        "availability_30": str(rng.int(0, 30)),
        "availability_60": str(rng.int(0, 60)),
        "availability_90": str(rng.int(0, 90)),
        "availability_365": str(rng.int(0, 365)),
        "number_of_reviews": str(rng.int(0, 300)),
        "review_scores_rating": str(rng.int(60, 100)),
        "requires_license": rng.pick("tf"),
        "license": "",
        "jurisdiction_names": "DISTRICT OF COLUMBIA, WASHINGTON",
        "instant_bookable": rng.pick("tf"),
        "is_business_travel_ready": "f",
        "cancellation_policy": rng.pick(
            ["flexible", "moderate", "strict_14_with_grace_period"]),
        "require_guest_profile_picture": rng.pick("tf"),
        "require_guest_phone_verification": rng.pick("tf"),
        "calculated_host_listings_count": str(rng.int(1, 30)),
        "reviews_per_month": "" if rng.random() < 0.1 else f"{rng.int(1, 900) / 100}",
    }


def _with_duplicates(rng: _Rng, rows: list[dict]) -> list[dict]:
    """Re-emit ~2% of rows under the same id with another name and price."""
    out = list(rows)
    for r in rng.sample(rows, len(rows) // 50):
        d = dict(r, name=rng.sentence(), price=_money(rng, 40, 1500))
        out.insert(rng.randrange(len(out) + 1), d)
    return out


def _expected_listings(rows: list[dict]) -> dict[str, int]:
    """Row counts of the cleaned table and the document table: dedup by id
    keeping the least (listing_url, name) with nulls last, then drop null
    names (etl.clean_listings); documents also drop a null text column."""
    best: dict[str, tuple] = {}
    for r in rows:
        key = tuple((v == "", v) for v in (r["listing_url"], r["name"]))
        if r["id"] not in best or key < best[r["id"]][0]:
            best[r["id"]] = (key, r)
    kept = [r for _, r in best.values() if r["name"] != ""]
    docs = sum(all(r[c] != "" for c in _DOC_NOTNULL) for r in kept)
    return {"tables": len(kept), "docs": docs}


def _comment(rng: _Rng) -> str:
    roll = rng.random()
    if roll < 0.012:
        days = rng.int(2, 60)
        return (f"The host canceled this reservation {days} days before "
                "arrival. This is an automated posting.")
    if roll < 0.015:
        return ("The reservation was canceled the day before arrival. "
                "This is an automated posting.")
    extra = ["So quiet at night!"] if roll < 0.08 else []
    extra += ["Très bien, à bientôt."] if rng.random() < 0.05 else []
    parts = [rng.sentence() for _ in range(rng.int(1, 3))] + extra
    return ("\n" if rng.random() < 0.2 else " ").join(parts)


def _review(rng: _Rng, listing_ids: list[int], rid: int) -> list[str]:
    lid = str(rng.pick(listing_ids))
    if rng.random() < 0.02:
        lid = rng.pick(["n/a", lid + "x", "listing"])
    return [lid, str(rid), f"20{rng.int(15, 23)}-{rng.int(1, 12):02d}-{rng.int(1, 28):02d}",
            str(rng.int(1, 10**7)), rng.pick(_NAMES), _comment(rng)]


def _review_key(row: list[str]) -> tuple | None:
    """The deduplicated review struct, or None when listing_id does not
    parse (etl.clean_reviews drops the row)."""
    if not row[0].isdigit():
        return None
    return (int(row[0]), row[2], row[3], row[4], row[5])


def _with_exact_dups(rng: _Rng, rows: list[list[str]]) -> list[list[str]]:
    out = list(rows)
    for r in rng.sample(rows, len(rows) // 100):
        out.insert(rng.randrange(len(out) + 1), list(r))
    return out


def _write(path: str, header: list[str], rows: list[list[str]], encoding: str) -> None:
    with open(path, "w", newline="", encoding=encoding) as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(root: str, seed: int, listings: int) -> str:
    """Write day-1 and day-2 CSVs for ``listings`` base listings (10
    reviews each on day 1, one per listing on day 2) under
    ``root/s<seed>_l<listings>`` and return that directory. The
    ``expected.json`` it holds is written last, so its presence marks a
    complete set."""
    out = os.path.join(root, f"s{seed}_l{listings}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    for day in ("day1", "day2"):
        os.makedirs(os.path.join(out, day))
    rng = _Rng(seed)

    ids = rng.sample(range(10_000, 10_000 + 20 * listings), listings)
    day1 = [_listing(rng, i) for i in ids]
    new_ids = rng.sample(range(10_000 + 20 * listings, 10_000 + 21 * listings), listings // 50)
    day2 = [dict(r, price=_money(rng, 40, 1500)) if rng.random() < 0.05 else r
            for r in day1] + [_listing(rng, i) for i in new_ids]
    day1, day2 = _with_duplicates(rng, day1), _with_duplicates(rng, day2)

    rev1 = _with_exact_dups(rng, [_review(rng, ids, 1 + k) for k in range(10 * listings)])
    fresh = [_review(rng, ids + new_ids, 10**8 + k) for k in range(listings // 2)]
    rev2 = rng.sample(rev1, listings - len(fresh)) + fresh
    rng.shuffle(rev2)

    keys1 = {k for k in map(_review_key, rev1) if k}
    keys2 = keys1 | {k for k in map(_review_key, rev2) if k}
    expected = {
        "day1": {**_expected_listings(day1),
                 "doc_reviews": len({k[0] for k in keys1}), "review_structs": len(keys1),
                 "csv_rows": len(day1) + len(rev1)},
        "day2": {**_expected_listings(day2),
                 "doc_reviews": len({k[0] for k in keys2}), "review_structs": len(keys2),
                 "csv_rows": len(day2) + len(rev2)},
    }
    for day, lrows, rrows in (("day1", day1, rev1), ("day2", day2, rev2)):
        lrows = [[r.get(c, "") for c in LISTINGS_HEADER] for r in lrows]
        _write(os.path.join(out, day, "Listings.csv"), LISTINGS_HEADER, lrows, "utf-8")
        _write(os.path.join(out, day, "Reviews.csv"), REVIEWS_HEADER, rrows, "ISO-8859-1")
    with open(os.path.join(out, "expected.json.tmp"), "w") as f:
        json.dump(expected, f)
    os.replace(os.path.join(out, "expected.json.tmp"), os.path.join(out, "expected.json"))
    return out
