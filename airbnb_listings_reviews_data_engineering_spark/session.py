"""SparkSession factory tuned for this engine.

Local mode is a correctness/dev harness; the conf is written so the same
code scales to a multi-executor cluster: AQE on (runtime coalesce + skew
join), shuffle partitions sized to the parallelism at hand, UTC session
timezone (required for DuckDB-oracle comparison — DuckDB timestamps are
UTC-naive), Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airbnb-spark-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the ``master`` is supplied externally; local[] is only the
    test harness.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor: Spark's default (1m). A session-wide 16k
        # floor was tried in r13 and REVERTED: interleaved fresh-process
        # A/B at sf0.1 showed 1m faster on 7 of 8 probed keys (e.g.
        # eval_bleu_corpus 1.85->0.83, sample_rho_loss 1.57->0.78,
        # profile_drift_ks 3.59->2.25, sketch_bloom_rollup 2.74->1.95;
        # `git show 237c644:OPTIMIZATION_r13.md`) — the extra near-empty
        # post-shuffle tasks cost more than their parallelism buys on
        # most shapes. The ONE
        # shape that wants a lower floor (a small pinned frame whose
        # layout feeds many compute-heavy downstream passes) gets it
        # scoped via checkpoint.small_pin_floor instead.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g: local mode puts every "executor" in the driver JVM; an 8g
        # heap GC-thrashes the localCheckpoint-heavy dedup paths at the
        # 100x scale smoke (20.2s -> 10.1s for the LSH stage, SCALING.md)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Local-harness split size: the sf0.1 tables are single sub-16MB
        # parquet files, so the cluster default (128m) leaves every scan
        # stage at parallelism 1 and serializes compute-heavy scans
        # (md5-per-shingle in the dedup family). 512k splits them into
        # enough tasks to keep every local core busy; a real cluster
        # reading 100 TB keeps the 128m default (set
        # SPARK_GRAFT_MAX_PARTITION_BYTES).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "512k"),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
