"""operators/ordered.ordered_scan and the keys built on it.

A global rank or running sum must not depend on the checkpoint mode.
In parquet mode a pin is staged as files and read back, and Spark may
bin-pack those files so that one read partition holds several range
partitions; a local scan whose carry ran over such a read partition
counted across the boundary. ordered_scan pins the scan's output, so
every key below must give the same rows as in local mode.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
    MODE_CONF,
    pin,
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.operators.ordered import (
    N_PARTS,
    ordered_scan,
)
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries

ORDERED_SCAN_KEYS = [
    "mm_shard_manifest",
    "pack_token_shards",
    "shuffle_deterministic",
    "agg_gini_concentration",
    "pipeline_training_mixture",
    "xform_quantile_bin",
    "pack_length_pairs",
    "ml_auc_exact",
    "agg_pareto_coverage",
    "mm_reader_assignment",  # composes mm_shard_manifest
]


@pytest.fixture()
def parquet_mode(spark):
    """Parquet checkpoint mode with file-scan confs that force the
    re-read to BIN-PACK the staged per-partition files (the harness's
    512k maxPartitionBytes otherwise gives every tiny file its own
    partition, which hides the bug locally; a cluster's 128m default +
    openCost packing is what exposes it)."""
    release_pins(spark)
    saved = {
        "spark.sql.files.maxPartitionBytes": spark.conf.get(
            "spark.sql.files.maxPartitionBytes"
        ),
        "spark.sql.files.openCostInBytes": spark.conf.get(
            "spark.sql.files.openCostInBytes"
        ),
        "spark.sql.files.minPartitionNum": spark.conf.get(
            "spark.sql.files.minPartitionNum", None
        ),
    }
    spark.conf.set(MODE_CONF, "parquet")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    yield
    spark.conf.unset(MODE_CONF)
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    release_pins(spark)


def _sig(df):
    cols = sorted(df.columns)
    return sorted(
        "|".join(str(r[c]) for c in cols) for r in df.collect()
    )


def test_ordered_scan_matches_global_window(spark):
    """pos and cum_<c> equal row_number() and an inclusive running
    sum() over one global window: a descending order key with ties
    broken by a second column, a non-unit sums column, and fewer rows
    than range partitions (so some partitions are empty)."""
    rows = [(1, 30), (2, 10), (3, 30), (4, 7), (5, 10)]
    assert len(rows) < N_PARTS
    df = spark.createDataFrame(rows, "k long, w long")
    got = ordered_scan(df, [F.desc("w"), F.asc("k")], ["w"], label="t_scan")
    df.createOrReplaceTempView("t_scan_ref")
    ref = spark.sql(
        """
        SELECT k, w,
               row_number() OVER (ORDER BY w DESC, k) AS pos,
               sum(w) OVER (ORDER BY w DESC, k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
               count(*) OVER () AS n_rows,
               sum(w) OVER () AS total_w
        FROM t_scan_ref
        """
    )
    assert _sig(got) == _sig(ref)
    assert sorted(got.columns) == sorted(ref.columns)
    assert [r["k"] for r in got.orderBy("pos").collect()] == [1, 3, 2, 5, 4]
    release_pins(spark)


def test_parquet_reread_binpacks_range_partitions(spark, parquet_mode):
    """The failure mechanism: staging a small range-partitioned frame
    as parquet and reading it back lets Spark bin-pack the
    per-partition files (openCostInBytes dominates tiny files), so ONE
    read partition concatenates several original range partitions. Any
    operator that relies on the pinned frame still being partitioned by
    its pre-pin layout is therefore wrong in parquet mode — this test
    pins the mechanism itself so the key test below can't silently stop
    testing it."""
    d = (
        spark.range(2000)
        .repartitionByRange(8, "id")
        .withColumn("pid", F.spark_partition_id())
    )
    staged = pin(d, label="binpack_probe")
    assert staged.rdd.getNumPartitions() < 8
    # and at least one read partition spans >1 original pid
    mixed = (
        staged.withColumn("rp", F.spark_partition_id())
        .groupBy("rp")
        .agg(F.countDistinct("pid").alias("n_pids"))
        .agg(F.max("n_pids").alias("m"))
        .collect()[0]["m"]
    )
    assert mixed > 1


@pytest.mark.parametrize("key", ORDERED_SCAN_KEYS)
def test_prefix_sum_keys_layout_independent_in_parquet_mode(
    spark, sf_dir, key, parquet_mode
):
    """Every ordered_scan key gives the same rows in bin-packed parquet
    checkpoint mode as in local mode, bit for bit."""
    q = all_queries()[key].fn
    in_parquet = _sig(q(spark, sf_dir))
    release_pins(spark)
    spark.conf.set(MODE_CONF, "local")
    in_local = _sig(q(spark, sf_dir))
    assert in_parquet == in_local
