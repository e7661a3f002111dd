"""Every scratch directory, and the one fingerprinted cache of staged
fixtures, under a configurable staging root.

CSV sinks, XCom-style transfer staging, the record-aligned chunks of
multiLine CSV reads (sources/csv.py), parquet-mode checkpoint pins,
per-run query scratch and staged fixture copies of source tables all
write intermediates somewhere. Locally that is the system tempdir; on
a cluster every executor must see the same path, so the root has to be
a dist-FS location (HDFS/S3/NFS).

Root selection (first match wins):
  1. Spark conf ``spark.airbnb.staging.root``
  2. env ``SPARK_GRAFT_STAGE_ROOT``
  3. ``<tempdir>/airbnb_spark_stage``

:func:`scratch_dir` holds the one local ``os.makedirs`` of a scratch
path (skipped for URI roots); :func:`fs_delete` the one delete;
:func:`run_root` the one per-run scratch lifecycle, a fresh directory
deleted however the run ends.
:func:`ensure_staged` is the one cache of staged fixtures: a copy
derived from a source table is reused only while the table's
fingerprint (``sources/parquet.fingerprint``) and the staging code's
version match the marker written beside it.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

ROOT_CONF = "spark.airbnb.staging.root"
ROOT_ENV = "SPARK_GRAFT_STAGE_ROOT"

# Bump when ANY staging constant a stage_fn closes over changes (batch
# filters, boundaries, partition columns, incoming-doc fixtures): the
# marker then invalidates every staged zone at once (ADVICE r13: code
# changes silently reused stale fixture batches).
STAGE_VERSION = 1


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


def scratch_dir(spark, key: str, stable: bool = False) -> str:
    """Per-run scratch under the configurable staging root: on a cluster
    every executor must see the path (local mkdtemp would not be), and
    the root is dist-FS-configurable. Callers remove the directory in
    their `finally` via :func:`fs_delete`. Mirrors staging_root's guard:
    only local roots are mkdir'd eagerly — os.makedirs on an
    hdfs://s3a:// join would create a bogus local 'hdfs:' directory
    (ADVICE r3); URI-style scratch dirs are created by the Spark writers
    that fill them. ``stable=True`` drops the per-call uuid so a fixture
    that AMORTIZES staged inputs across invocations (:func:`ensure_staged`,
    a feed's committed offsets) lands on the same path every time; the
    caller then owns cleanup of per-run state inside it."""
    leaf = f"{key}_stable" if stable else f"{key}_{uuid.uuid4().hex[:12]}"
    d = os.path.join(staging_root(spark), "scratch", leaf)
    if "://" not in d:
        os.makedirs(d, exist_ok=True)
    return d


@contextmanager
def run_root(spark: SparkSession, key: str):
    """A fresh per-run root ``<staging root>/scratch/<key>_<uuid>`` for a
    run's published tables, staged versions and checkpoint, deleted when
    the block exits, also when a step raises: a failed run is discarded
    whole (see streaming/ingest.fold_stream's replay contract) and
    leaves no directory behind. Pin what the caller returns inside the
    block."""
    root = scratch_dir(spark, key)
    try:
        yield root
    finally:
        fs_delete(root, spark)


def ensure_staged(
    spark: SparkSession, key: str, sf_dir: str, table: str, stage_fn
) -> str:
    """The one zone ``<key>_stable`` holding a fixture staged from source
    ``table``, with AMORTIZED staging: the staged files are a pure
    function of the source table and the staging code, recorded in a
    ``_staged.json`` marker (sf_dir, source fingerprint, STAGE_VERSION),
    so repeated invocations (bench reps, warm-up, mirror) measure the
    query itself rather than re-writing fixture parquet, and leave
    nothing behind. ``stage_fn(zone)`` writes the fixture into the zone
    (the leading ``_`` keeps the marker out of Spark's file listing).

    The zone is restaged whenever the marker differs — a table rewritten
    in place, another sf_dir, a bumped STAGE_VERSION — and always when
    the source's fingerprint is None or the root is a URI (no local
    marker): a source that cannot be fingerprinted never reuses a
    cache."""
    from .parquet import fingerprint

    zone = scratch_dir(spark, key, stable=True)
    fp = fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    # JSON round-trip so the tuples compare equal to a loaded marker
    want = json.loads(json.dumps({
        "sf_dir": os.path.abspath(sf_dir),
        "src_fp": fp,
        "stage_version": STAGE_VERSION,
    }))
    cacheable = fp is not None and "://" not in zone
    marker = os.path.join(zone, "_staged.json")
    if cacheable:
        try:
            with open(marker) as f:
                if json.load(f) == want:
                    return zone
        except (OSError, ValueError):
            pass
    fs_delete(zone, spark)
    zone = scratch_dir(spark, key, stable=True)
    stage_fn(zone)
    if cacheable:
        with open(marker, "w") as f:
            json.dump(want, f)
    return zone
