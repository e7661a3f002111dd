"""Geo family: grid blocking is exhaustive (zero false negatives vs
brute force), kNN frontier is deterministic, and the haversine is
cross-engine stable (the oracle gate in test_driver_oracle covers the
value parity; these tests pin the geometric properties)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.plans.geo_ext import (
    _RADIUS_KM,
    _haversine,
    _point,
    geo_grid_join,
    geo_knn_anchor,
)
from airbnb_listings_reviews_data_engineering_spark.plans.registry import load

SF_DIR = "/root/testdata/sf0.001"


def test_grid_join_equals_brute_force(spark):
    """The 3-degree cell + 3x3 probe must find EVERY pair within the
    radius — the cell size is chosen so in-radius points can't be more
    than one cell apart at |lat| <= 60. Compare against the quadratic
    ground truth at sf0.01 (1,500 points, 196 true pairs — sf0.001's 150
    points yield zero in-radius pairs, a vacuous comparison)."""
    sf_dir = "/root/testdata/sf0.01"
    grid_pairs = {
        (r.key_a, r.key_b) for r in geo_grid_join(spark, sf_dir).collect()
    }
    pts = load(spark, sf_dir, "customer")
    lat, lon = _point(F.col("c_custkey").cast("string"))
    p = pts.select(
        F.col("c_custkey").alias("k"), lat.alias("lat"), lon.alias("lon")
    )
    a, b = p.alias("a"), p.alias("b")
    d = _haversine(
        F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")
    )
    brute = {
        (r["ka"], r["kb"])
        for r in a.join(b, F.col("a.k") < F.col("b.k"))
        .filter(d <= _RADIUS_KM)
        .select(F.col("a.k").alias("ka"), F.col("b.k").alias("kb"))
        .collect()
    }
    assert grid_pairs == brute
    assert len(brute) > 0  # non-vacuous: some pairs exist at sf0.001


def test_knn_anchor_sorted_and_complete(spark):
    rows = geo_knn_anchor(spark, SF_DIR).collect()
    assert len(rows) == 10
    dists = [r.d_km for r in rows]
    assert dists == sorted(dists)
    assert len({r.c_custkey for r in rows}) == 10


def test_points_in_declared_domain(spark):
    """Derived coordinates must stay inside [-60, 60) x [-180, 180) —
    the grid-cell proof (no >1-cell lon span within the radius) only
    holds on that latitude band."""
    c = load(spark, SF_DIR, "customer")
    lat, lon = _point(F.col("c_custkey").cast("string"))
    mm = c.select(lat.alias("lat"), lon.alias("lon")).agg(
        F.min("lat"), F.max("lat"), F.min("lon"), F.max("lon")
    ).collect()[0]
    assert -60 <= mm[0] and mm[1] < 60
    assert -180 <= mm[2] and mm[3] < 180
