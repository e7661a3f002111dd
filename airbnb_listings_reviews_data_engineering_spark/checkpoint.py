"""Lineage pinning (materialize-once) with a deployment-selectable
durability mode.

Iterative operators (connected components, k-means label propagation),
self-joins over a computed signature (MinHash / SimHash / shingle sets),
and the Bloom-join reorder barrier all need to cut lineage and/or
materialize an intermediate exactly once. Three physical strategies
exist, with different durability:

- ``local`` (default): ``DataFrame.localCheckpoint`` — blocks live on
  executors. Fastest, zero external IO; NOT fault-tolerant: losing one
  executor mid-job kills the job unrecoverably (truncated lineage has no
  recompute path). Right for local/dev runs and short jobs where a retry
  is cheaper than durable IO.
- ``reliable``: ``DataFrame.checkpoint`` to the session's checkpoint
  directory (HDFS/S3/dist-FS on a cluster) — survives executor loss.
  The 1000-executor / 100 TB posture for iterative jobs whose wall-clock
  exceeds the executor MTBF.
- ``parquet``: stage the DataFrame as parquet under the configurable
  staging root (sources/staging.py) and read it back — durable AND keeps
  columnar scans + column pruning for downstream consumers; the only
  mode whose artifact can outlive the driver JVM.

Mode selection (first match wins):
  1. Spark conf ``spark.airbnb.checkpoint.mode``
  2. env ``SPARK_GRAFT_CHECKPOINT_MODE``
  3. ``local``

Every pin is tracked per-session so harnesses can free executor storage
between queries (``release_pins``) — repeated invocations in one session
otherwise accumulate checkpoint blocks (bounded per-session, but real:
429 registered queries × a few MB each adds up). Iterative loops release
the previous round's pin as soon as the next round is materialized
(``release``). A released DataFrame must not be recomputed afterwards —
its lineage was truncated; release only after the result is consumed.
"""

from __future__ import annotations

import os
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession

MODE_CONF = "spark.airbnb.checkpoint.mode"
MODE_ENV = "SPARK_GRAFT_CHECKPOINT_MODE"
RELIABLE_DIR_CONF = "spark.airbnb.checkpoint.dir"

_MODES = ("local", "reliable", "parquet")

# session JVM id -> list[(weakref to pinned DataFrame | None, release callable)]
_PINS: dict[int, list[tuple[object, object]]] = {}

# Pre-materialization stage-plan capture: pin() truncates lineage, so
# the final plan the audit lints is structurally blind to every stage
# that runs inside a pin job (VERDICT r5 — the SemDedup assignment
# shuffle hid exactly there). When recording is on, pin() snapshots each
# input's formatted plan + its unpartitioned-window count BEFORE
# materializing, and scripts/plan_audit.audit lints those snapshots
# with the same rules as the final plan — in the registry sweep
# (tests/test_driver_oracle.py) and when scripts/plan_audit.py writes
# the plan ledger. Off by default: plan compilation isn't free and the
# capture is audit tooling, not the data path.
_STAGE_RECORDING = False
# session JVM id -> list[(label, formatted plan, n unpartitioned windows)]
_STAGE_PLANS: dict[int, list[tuple[str, str, int]]] = {}


def record_stage_plans(enabled: bool) -> None:
    """Toggle pre-materialization plan capture inside ``pin()``."""
    global _STAGE_RECORDING
    _STAGE_RECORDING = enabled


def drain_stage_plans(spark: SparkSession) -> list[tuple[str, str, int]]:
    """Return and clear the stage plans recorded for this session since
    the last drain: [(pin label, formatted plan, unpartitioned-window
    count)]."""
    return _STAGE_PLANS.pop(_session_key(spark), [])


class small_pin_floor:
    """Scope a lower AQE partition-coalescing floor around an EAGER pin
    of a small frame whose materialized layout feeds many compute-heavy
    downstream passes (unrolled GD/boosting rounds riding a pinned
    feature table). With Spark's default 1m floor a few-MB shuffle
    coalesces to 1-3 partitions and the pin freezes that near-serial
    layout into every later pass; a 16k floor keeps the pinned layout
    parallel. Scoped, not session-wide: a session-wide 16k floor
    measured SLOWER on 7 of 8 probed keys at sf0.1 (the extra
    near-empty tasks cost more than they parallelize —
    `git show 237c644:OPTIMIZATION_r13.md`), and at production scale the
    pinned table's bytes dwarf any floor, so this is a local-harness
    no-op there by construction."""

    _KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        self._prev = self._spark.conf.get(self._KEY, None)
        self._spark.conf.set(self._KEY, "16k")
        return self

    def __exit__(self, *exc):
        if self._prev is None:
            self._spark.conf.unset(self._KEY)
        else:
            self._spark.conf.set(self._KEY, self._prev)
        return False


def checkpoint_mode(spark: SparkSession) -> str:
    mode = spark.conf.get(MODE_CONF, None) or os.environ.get(MODE_ENV, "local")
    mode = mode.lower()
    if mode not in _MODES:
        raise ValueError(f"{MODE_CONF}={mode!r}; expected one of {_MODES}")
    return mode


def _session_key(spark: SparkSession) -> int:
    return id(spark.sparkContext)


def track(spark: SparkSession, df: DataFrame, releaser) -> None:
    """Register ``releaser`` to run when ``release_pins`` frees ``df``'s
    session pins (or ``release(df)`` frees ``df`` alone)."""
    _PINS.setdefault(_session_key(spark), []).append((weakref.ref(df), releaser))


def _local_releaser(df: DataFrame):
    """Unpersist the executor blocks behind a localCheckpoint'ed (or
    reliable-checkpointed) DataFrame. The analyzed plan of the DataFrame
    returned by (local)checkpoint IS a LogicalRDD over the stored RDD;
    unpersisting that RDD frees the blocks. Wrapped defensively: if the
    internal shape ever changes, the fallback is today's behavior
    (blocks freed when the RDD is GC'd)."""
    jdf = df._jdf  # noqa: SLF001 — no public API exposes the pinned RDD

    def release() -> None:
        try:
            jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # best-effort: ContextCleaner frees on GC

    return release


def pin(df: DataFrame, *, eager: bool = True, label: str = "pin") -> DataFrame:
    """Materialize ``df`` once and cut its lineage, using the
    session-configured durability mode. ``eager=False`` keeps the
    materialization lazy (first action triggers it) while still
    truncating the logical plan — the Bloom-join reorder barrier; in
    ``parquet`` mode a lazy stage is impossible (the write is an action)
    so the stage happens eagerly, which preserves the barrier semantics.
    """
    spark = df.sparkSession
    if _STAGE_RECORDING:
        try:
            from .planlint import formatted_plan, unpartitioned_windows

            _STAGE_PLANS.setdefault(_session_key(spark), []).append(
                (label, formatted_plan(df), unpartitioned_windows(df))
            )
        except Exception as e:  # noqa: BLE001 — capture must not break the pin
            _STAGE_PLANS.setdefault(_session_key(spark), []).append(
                (label, f"<capture failed: {e!r}>", 0)
            )
    mode = checkpoint_mode(spark)
    if mode == "local":
        out = df.localCheckpoint(eager=eager)
        track(spark, out, _local_releaser(out))
        return out
    if mode == "reliable":
        sc = spark.sparkContext
        if sc._jsc.sc().checkpointDir().isEmpty():  # noqa: SLF001
            root = spark.conf.get(RELIABLE_DIR_CONF, None)
            if root is None:
                from .sources.staging import staging_root

                root = os.path.join(staging_root(spark), "_checkpoints")
            sc.setCheckpointDir(root)
        out = df.checkpoint(eager=eager)
        # blocks also land in executor storage (checkpoint persists
        # before writing); free them the same way — the durable files
        # remain the recompute path.
        track(spark, out, _local_releaser(out))
        return out
    # parquet
    from .sources.staging import fs_delete, staging_root

    path = os.path.join(
        staging_root(spark), "_pins", f"{label}_{uuid.uuid4().hex[:12]}"
    )
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    # fs_delete, not rmtree: with a dist-FS staging root (hdfs://,
    # s3a://) rmtree silently never frees the staged pin (ADVICE r3)
    track(spark, out, lambda: fs_delete(path, spark))
    return out


def release(df: DataFrame) -> None:
    """Free the storage behind one pinned DataFrame (iterative loops:
    release round N-1 once round N is materialized). No-op for frames
    that were never pinned. The frame must not be used afterwards."""
    for pins in _PINS.values():
        for i, (ref, releaser) in enumerate(pins):
            if ref() is df:
                releaser()
                pins.pop(i)
                return


def hand_over(source: DataFrame, df: DataFrame) -> DataFrame:
    """Move the storage tracked for ``source`` onto ``df``, a frame
    derived from it, so that ``release(df)`` frees it; returns ``df``.
    For readers that track their input files and return a projection."""
    for pins in _PINS.values():
        for i, (ref, releaser) in enumerate(pins):
            if ref() is source:
                pins[i] = (weakref.ref(df), releaser)
    return df


def release_pins(spark: SparkSession) -> int:
    """Free every pin tracked for this session; returns how many were
    released. Harness hook: call between queries once results are
    consumed (scripts/oracle_check.py, bench.py, tests)."""
    pins = _PINS.pop(_session_key(spark), [])
    for _ref, releaser in pins:
        releaser()
    return len(pins)
