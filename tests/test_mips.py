"""The MIPS->cosine reduction behind sim_mips_topk: augmenting corpus
vectors to constant norm M makes cosine order equal inner-product
order. The oracle gate proves the top-10 frontier; this test proves the
FULL ordering corpus-wide, and that the augmentation is well-formed
(M^2 - ||x||^2 >= 0 for every vector)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.functions.arrays import as_double_array, dot
from airbnb_listings_reviews_data_engineering_spark.plans.registry import load

SF_DIR = "/root/testdata/sf0.01"


def test_augmented_cosine_order_equals_ip_order(spark):
    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    m_row = e.agg(
        F.max(F.sqrt(dot(F.col("v"), F.col("v")))).alias("m")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(m_row))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (dot(F.col("v"), F.col("qv"))).alias("ip"),
            (F.col("m") * F.col("m") - dot(F.col("v"), F.col("v"))).alias(
                "slack"
            ),
            (
                dot(F.col("v"), F.col("qv"))
                / (F.col("m") * F.sqrt(dot(F.col("qv"), F.col("qv"))))
            ).alias("aug_cos"),
        )
    )
    rows = scored.collect()
    # augmentation well-formed: the extra coordinate is real
    assert all(r.slack >= -1e-9 for r in rows)
    by_ip = [r.vec_id for r in sorted(rows, key=lambda r: (-r.ip, r.vec_id))]
    by_cos = [
        r.vec_id for r in sorted(rows, key=lambda r: (-r.aug_cos, r.vec_id))
    ]
    assert by_ip == by_cos
