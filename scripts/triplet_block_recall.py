"""Measure the IVF-blocking recall behind sample_contrastive_triplets'
scale claim.

The key's docstring says: at 100 TB the per-anchor candidate set comes
from IVF cell blocking (sim_ivf_join's shape) instead of the full
corpus. This script measures what that blocking would COST in mining
quality: for every anchor, is the brute-force hardest cross-label
negative inside the anchor's top-p probed IVF cells? Reports
recall@nprobe for p = 1, 2, 4, 8 (8 data-derived centroids, the
sim_ivf_topk convention), at sf0.01 and sf0.1.

Output table -> scripts/triplet_block_recall.log (committed; SCALING.md
quotes numbers only with a committed raw log).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    pin,
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (  # noqa: E402
    as_double_array,
    cosine,
)
from airbnb_listings_reviews_data_engineering_spark.plans.registry import load  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

N_ANCHORS = 64
N_CELLS = 8


def recall_at_nprobe(spark, sf_dir: str) -> dict[int, float]:
    e = pin(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.slice(as_double_array("embedding"), 1, 8).alias("v")
        ),
        label="tbr_base",
    )
    cents = e.filter(F.col("vec_id").between(1, N_CELLS)).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv")
    )
    # every vector's cell ranking vs the 8 centroids (tiny broadcast)
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "v",
        "cell",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("cc"),
    )
    wv = W.partitionBy("vec_id").orderBy(F.desc("cc"), "cell")
    ranked = pin(
        scored.withColumn("rk", F.row_number().over(wv)),
        label="tbr_ranked",
    )
    home = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("cell").alias("home_cell")
    )
    anchors = e.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("aid"), F.col("label").alias("alab"),
        F.col("v").alias("av"),
    )
    # brute-force hardest cross-label negative per anchor
    cand = (
        e.crossJoin(F.broadcast(anchors))
        .filter((F.col("label") != F.col("alab")) & (F.col("vec_id") != F.col("aid")))
        .select(
            "aid",
            "vec_id",
            F.round(cosine(F.col("av"), F.col("v")), 4).alias("cs"),
        )
    )
    wa = W.partitionBy("aid").orderBy(F.desc("cs"), "vec_id")
    hardest = (
        cand.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("aid", F.col("vec_id").alias("neg_id"))
    )
    neg_home = hardest.join(
        home.withColumnRenamed("vec_id", "neg_id"), "neg_id"
    ).select("aid", "home_cell")
    probe_ranks = ranked.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("aid"), "cell", "rk"
    )
    joined = neg_home.join(
        probe_ranks, (neg_home.aid == probe_ranks.aid)
        & (neg_home.home_cell == probe_ranks.cell),
    ).select(neg_home.aid, F.col("rk").alias("needed_probe"))
    rows = {r.aid: r.needed_probe for r in joined.collect()}
    release_pins(spark)
    out = {}
    for p in (1, 2, 4, 8):
        out[p] = sum(1 for v in rows.values() if v <= p) / max(len(rows), 1)
    return out


def main() -> int:
    spark = get_spark()
    print(f"{'sf_dir':<24} {'r@1':>6} {'r@2':>6} {'r@4':>6} {'r@8':>6}")
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        r = recall_at_nprobe(spark, sf)
        print(
            f"{sf:<24} {r[1]:>6.3f} {r[2]:>6.3f} {r[4]:>6.3f} {r[8]:>6.3f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
