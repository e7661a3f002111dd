"""Maintenance of the engine's canonical parquet storage.

Published tables are read and written through ``sources/atomic.py``
(versioned directories behind a pointer flip); this module holds
small-files compaction, which rewrites a published table as a new
version. The reference's B-tree-on-id indexes (sql/create_*.sql) have
no counterpart here: nothing writes bucketed tables, and reads rely on
parquet min/max and column pruning.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_published(
    spark: SparkSession, target_path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Small-files compaction for an atomically-published table.

    The operational reality of incremental ingest at scale: every
    micro-batch/daily merge leaves another wave of files, and a 100 TB
    table read through 10-million 1 MB files is NameNode/S3-listing- and
    task-scheduling-bound, not IO-bound. Compaction rewrites the current
    version into ceil(bytes / target_file_bytes) files of ~HDFS-block
    size — as a NEW atomic version (sources/atomic.py), so concurrent
    readers of the old version are untouched and a mid-compaction crash
    publishes nothing.

    Returns (files_before, files_after). This is what OPTIMIZE does on
    Delta/Iceberg; coalesce() (no shuffle) does the merge here because
    compaction must not pay a full re-shuffle of the table.
    """
    import math
    import os

    from .atomic import current_version, publish_parquet, read_published

    version = current_version(target_path)
    if version is None:
        raise ValueError(f"nothing published at {target_path}")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(version)
        for f in fs
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_published(spark, target_path)
    publish_parquet(df.coalesce(n_out), target_path)
    new_version = current_version(target_path)
    n_after = sum(
        1 for _, _, fs in os.walk(new_version) for f in fs if f.endswith(".parquet")
    )
    return len(files), n_after
