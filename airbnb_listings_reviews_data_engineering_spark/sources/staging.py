"""Configurable staging root for intermediate/exchange artifacts.

CSV sinks, XCom-style transfer staging, the record-aligned chunks of
multiLine CSV reads (sources/csv.py) and parquet-mode checkpoint pins
all write intermediates somewhere. Locally that is the system tempdir;
on a cluster every executor must see the same path, so the root has to
be a dist-FS location (HDFS/S3/NFS).

Root selection (first match wins):
  1. Spark conf ``spark.airbnb.staging.root``
  2. env ``SPARK_GRAFT_STAGE_ROOT``
  3. ``<tempdir>/airbnb_spark_stage``
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

ROOT_CONF = "spark.airbnb.staging.root"
ROOT_ENV = "SPARK_GRAFT_STAGE_ROOT"


def staging_root(spark: SparkSession | None = None) -> str:
    spark = spark or SparkSession.getActiveSession()
    root = None
    if spark is not None:
        root = spark.conf.get(ROOT_CONF, None)
    root = root or os.environ.get(ROOT_ENV) or os.path.join(
        tempfile.gettempdir(), "airbnb_spark_stage"
    )
    # local filesystem roots are created eagerly; URI-style roots
    # (hdfs://, s3a://) are the storage layer's responsibility
    if "://" not in root:
        os.makedirs(root, exist_ok=True)
    return root


def staging_dir(key: str, spark: SparkSession | None = None) -> str:
    """A per-key staging path under the configured root (not created —
    Spark writers create their own output directories)."""
    return os.path.join(staging_root(spark), key)


def fs_delete(path: str, spark: SparkSession | None = None) -> None:
    """Delete a staging artifact wherever the root put it: local paths
    via shutil, URI-style paths (hdfs://, s3a://, ...) through the
    Hadoop FileSystem API — shutil.rmtree silently no-ops on those, so
    a dist-FS staging root would leak storage per pin/scratch dir
    (ADVICE r3). Best-effort, like the rmtree(ignore_errors=True) it
    replaces: cleanup must never mask the caller's real failure."""
    if "://" not in path:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    try:
        jvm = spark._jvm  # noqa: SLF001 — no public FS API in PySpark
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )
        fs.delete(hpath, True)
    except Exception:  # noqa: BLE001 — best-effort cleanup
        pass
