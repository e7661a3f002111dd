"""A parquet table's data files, footer row count and fingerprint, and
maintenance of the engine's canonical parquet storage.

Every key that reads footers or asks whether a source table changed
goes through this module:

- :func:`data_files` lists a table's part files (recursively, so
  directory-partitioned layouts count);
- :func:`row_count` sums their footers — metadata only, no scan;
- :func:`fingerprint` is the one answer to "did this table change":
  the per-file (name, size, mtime_ns) list, or None when the table
  cannot be read. Caches keyed by it (the percentile verdict memo, the
  IVF-PQ artifact path, the staged-fixture marker in
  ``sources/staging.py``) never reuse an entry under a None
  fingerprint.

All three are local-FS only: a URI path (hdfs://, s3a://) has no local
stat, so it reads as unreadable (None).

Published tables are read and written through ``sources/atomic.py``
(versioned directories behind a pointer flip); :func:`compact_published`
rewrites a published table as a new version. The reference's
B-tree-on-id indexes (sql/create_*.sql) have no counterpart here:
nothing writes bucketed tables, and reads rely on parquet min/max and
column pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def data_files(path: str) -> list[str]:
    """The sorted ``*.parquet`` files under a table directory, found
    recursively, or ``[path]`` for a single-file table."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(root, n)
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def row_count(path: str) -> int | None:
    """The table's row count from its parquet footers, or None when a
    footer cannot be read (URI path, missing file, not parquet)."""
    if "://" in path:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(path))
    except (OSError, pa.ArrowException):
        return None


def fingerprint(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """(name, size, mtime_ns) per data file, names relative to the
    table's parent directory. The untruncated mtime_ns and the size
    catch a table rewritten in place within the same second and with
    the same row count. None when the table cannot be stat'ed (URI
    path, missing path, no data files)."""
    if "://" in path:
        return None
    parent = os.path.dirname(os.path.abspath(path))
    try:
        out = []
        for f in data_files(path):
            st = os.stat(f)
            out.append((os.path.relpath(f, parent), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(out) or None


# compact_published's output file size: one HDFS block
COMPACT_FILE_BYTES = 128 * 1024 * 1024


def compact_published(spark: SparkSession, target_path: str) -> tuple[int, int]:
    """Small-files compaction for an atomically-published table.

    The operational reality of incremental ingest at scale: every
    micro-batch/daily merge leaves another wave of files, and a 100 TB
    table read through 10-million 1 MB files is NameNode/S3-listing- and
    task-scheduling-bound, not IO-bound. Compaction rewrites the current
    version into ceil(bytes / COMPACT_FILE_BYTES) files of ~HDFS-block
    size — as a NEW atomic version (sources/atomic.py), so concurrent
    readers of the old version are untouched and a mid-compaction crash
    publishes nothing.

    Returns (files_before, files_after). This is what OPTIMIZE does on
    Delta/Iceberg; coalesce() (no shuffle) does the merge here because
    compaction must not pay a full re-shuffle of the table.
    """
    import math

    from .atomic import current_version, publish_parquet, read_published

    version = current_version(target_path)
    if version is None:
        raise ValueError(f"nothing published at {target_path}")
    files = data_files(version)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / COMPACT_FILE_BYTES))
    df = read_published(spark, target_path)
    publish_parquet(df.coalesce(n_out), target_path)
    return len(files), len(data_files(current_version(target_path)))
