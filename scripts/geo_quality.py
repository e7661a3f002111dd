"""Measure the grid-blocked radius join against brute force.

Two numbers matter for the 100 TB posture of `geo_grid_join`:

1. CORRECTNESS of the blocking: the 3-degree cell size is chosen so two
   points within 150 km can never sit more than one cell apart at any
   |lat| <= 60 — so the 3x3 neighbor probe must find EVERY true pair
   (zero false negatives). Verified here by comparing against the
   brute-force all-pairs join (feasible at gate SF).
2. PRUNING: candidate pairs examined / all pairs — the factor that keeps
   the join linear-ish in data size instead of quadratic. Candidates per
   point should track local density (flat as SF grows at constant
   density; here density grows with SF on a fixed globe, so candidates
   per point grow linearly while all-pairs grows quadratically).

Usage: python scripts/geo_quality.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.plans.geo_ext import (  # noqa: E402
    _CELL_DEG,
    _RADIUS_KM,
    _haversine,
    _point,
)
from airbnb_listings_reviews_data_engineering_spark.plans.registry import load  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402


def measure(spark, sf_dir: str) -> dict:
    c = load(spark, sf_dir, "customer")
    lat, lon = _point(F.col("c_custkey").cast("string"))
    pts = c.select(
        F.col("c_custkey").alias("k"), lat.alias("lat"), lon.alias("lon")
    ).withColumns(
        {
            "cy": F.floor((F.col("lat") + 60) / _CELL_DEG).cast("bigint"),
            "cx": F.floor((F.col("lon") + 180) / _CELL_DEG).cast("bigint"),
        }
    ).cache()
    n = pts.count()

    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probes = (
        pts.withColumn("dy", F.explode(offsets))
        .withColumn("dx", F.explode(offsets))
        .select(
            "k",
            "lat",
            "lon",
            (F.col("cy") + F.col("dy")).alias("py"),
            F.pmod(F.col("cx") + F.col("dx"), F.lit(120)).alias("px"),
        )
    )
    a, b = probes.alias("a"), pts.alias("b")
    cand = a.join(
        b,
        (F.col("a.py") == F.col("b.cy"))
        & (F.col("a.px") == F.col("b.cx"))
        & (F.col("a.k") < F.col("b.k")),
    )
    d = _haversine(F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon"))
    n_cand = cand.count()
    n_grid_pairs = cand.filter(d <= _RADIUS_KM).count()

    # brute force ground truth (quadratic — gate SF only)
    aa, bb = pts.alias("a"), pts.alias("b")
    dd = _haversine(
        F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")
    )
    n_true = (
        aa.join(bb, F.col("a.k") < F.col("b.k")).filter(dd <= _RADIUS_KM).count()
    )
    pts.unpersist()
    all_pairs = n * (n - 1) // 2
    return {
        "sf_dir": sf_dir,
        "n_points": n,
        "all_pairs": all_pairs,
        "grid_candidates": n_cand,
        "pruning_factor": round(all_pairs / max(n_cand, 1), 1),
        "pairs_grid": n_grid_pairs,
        "pairs_true": n_true,
        "false_negatives": n_true - n_grid_pairs,
    }


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_spark()
    for sf_dir in dirs:
        r = measure(spark, sf_dir)
        print(r)
        assert r["false_negatives"] == 0, "grid blocking missed true pairs!"


if __name__ == "__main__":
    main()
