"""Structured Streaming re-expression of the reference's incremental runs.

The reference's 'streaming' is a daily Airflow re-run with DB-side upsert
(Airbnb_Listings_ETL.py:229, Airbnb_Review_ETL.py:132). The Spark-native
equivalent is a file-source stream with trigger(availableNow=True):
each run drains whatever new files landed, foreachBatch merges them
idempotently, and checkpointing gives exactly-once — retries come free
(inc_retry, SURVEY.md §2.8). ``fold_stream`` is that drain, the one
foreachBatch harness in the package.

Also provides a watermarked tumbling-window aggregation — the streaming
operator a production events pipeline needs that the reference lacks —
and the staged-stream fixture the stream keys share: ``stage_batch``
lands one micro-batch file, ``staged_stream`` replays a landing zone one
file per micro-batch, ``stateful_layout`` sizes the state partitions.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.parquet import row_count

def events_schema(ts_nanos_long: bool) -> T.StructType:
    """Schema for the events table. Two physical generations exist:
    INT64 TIMESTAMP(NANOS) (``ts_nanos_long=True``: read as nanos-long,
    convert after) and TIMESTAMP(MICROS) (read directly as timestamp)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(
                "ts", T.LongType() if ts_nanos_long else T.TimestampType()
            ),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# Back-compat alias: the micros-timestamp generation is the current one.
EVENTS_SCHEMA = events_schema(ts_nanos_long=False)


def events_ts_is_nanos_long(path: str) -> bool:
    """Probe the parquet footer (driver-side, no job) for the ts shape.

    A directory is probed file-by-file: a stream source reads every file
    with ONE explicit schema, so a drop dir mixing generations would have
    the wrong-generation files silently mis-scaled (micros read as nanos
    collapse to 1970). Mixed shapes therefore raise instead of guessing.
    Footer reads are metadata-only, so probing all files stays cheap even
    for thousands of parts.
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    def _is_nanos(one: str) -> bool:
        t = pq.read_schema(one).field("ts").type
        # TIMESTAMP(NANOS) surfaces as timestamp[ns] in pyarrow; Spark 4
        # can only read it as a nanos long. Bare INT64 ts is nanos by
        # contract.
        return (not pat.is_timestamp(t)) or t.unit == "ns"

    if os.path.isdir(path):
        parts = [p for p in sorted(os.listdir(path)) if p.endswith(".parquet")]
        if not parts:
            return False
        shapes = {p: _is_nanos(os.path.join(path, p)) for p in parts}
        if len(set(shapes.values())) > 1:
            raise ValueError(
                "mixed events.ts parquet generations in one drop directory "
                f"(nanos-long and micros-timestamp files together): {shapes}. "
                "A stream source applies one schema to all files; split the "
                "directory by generation."
            )
        return next(iter(shapes.values()))
    return _is_nanos(path)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (explicit schema —
    streaming sources never infer; the ts shape is probed from the footer).

    The file source wants a directory; when given a single parquet file,
    stage a symlink directory around it (zero copy).
    """
    ts_nanos = events_ts_is_nanos_long(path)
    if path.endswith(".parquet") and os.path.isfile(path):
        d = os.path.join(
            tempfile.gettempdir(), "airbnb_spark_stream", path.strip("/").replace("/", "_")
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "part-0.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    stream = spark.readStream.schema(events_schema(ts_nanos)).parquet(path)
    if ts_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    return stream


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window count+sum per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def fold_stream(stream: DataFrame, checkpoint: str, step, *targets: str) -> None:
    """The one exactly-once drain: fold a stream into published tables.

    ``stream`` drains with ``trigger(availableNow=True)`` into
    foreachBatch. For each micro-batch, each target's current published
    version is read (None before its first publish), ``step(batch,
    *bases)`` returns one frame per target (a bare frame for one
    target, a tuple for several), and the frames are published to the
    targets in order through sources/atomic.publish_parquet — one write
    plus an atomic pointer swap each, so a batch that dies mid-publish
    leaves the previous version readable.

    Replay contract: the checkpoint commits a batch only after its
    foreachBatch returns, so a crash between a durable publish and that
    commit re-runs the batch against a base that ALREADY holds it.
    ``step`` must therefore be idempotent against such a base. Upsert
    (last write wins per key) and SCD2 (same batch -> no-op) are; the
    append steps (admission ledgers, the DP release ledger) are not,
    and rely on a fresh per-run root and checkpoint instead, so a
    failed run is discarded whole rather than resumed."""
    from ..sources import atomic

    def fold(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        # read_published returns None ONLY when a target was never
        # published; corruption / IO / permission errors propagate and
        # fail the batch (retried by the stream) instead of silently
        # replacing the base table with this batch alone.
        out = step(batch, *(atomic.read_published(spark, t) for t in targets))
        frames = out if isinstance(out, tuple) else (out,)
        for df, target in zip(frames, targets, strict=True):
            atomic.publish_parquet(df, target)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def appended(rows: DataFrame, base: DataFrame | None) -> DataFrame:
    """An append step's new table: this batch's rows plus the previous
    version's (``base`` is None before the first publish)."""
    return rows if base is None else rows.unionByName(base)


def _file_stream(
    spark: SparkSession, source_dir: str, schema: T.StructType, fmt: str
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        return reader.option("header", True).csv(source_dir)
    return reader.parquet(source_dir)


def available_now_merge_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    fmt: str = "csv",
) -> DataFrame:
    """Incremental file ingest with upsert semantics — the Structured
    Streaming form of the reference's daily re-run (inc_daily_snapshot,
    SURVEY.md §2.8): each micro-batch MERGEs into the parquet target
    (updates win on key collision); retries and daily re-triggers are
    exactly-once — the property the reference gets from Airflow retries
    + DB upserts.
    """
    from ..operators.merge import upsert_snapshot
    from ..sources.atomic import read_published

    def merge_batch(batch: DataFrame, base: DataFrame | None) -> DataFrame:
        batch = batch.dropDuplicates(keys)
        return batch if base is None else upsert_snapshot(base, batch, keys)

    fold_stream(
        _file_stream(spark, source_dir, schema, fmt),
        checkpoint,
        merge_batch,
        target_path,
    )
    return read_published(spark, target_path)


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (session_window merges events
    whose [ts, ts+gap) intervals overlap; an event at exactly prev+gap
    starts a new session — half-open semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def stateful_admission(
    events: DataFrame,
    *,
    gap_ms: int,
    cap: int,
    fired_bseq_bounds_ms: tuple[int, int],
    derive_bseq_from_ts: bool = False,
) -> DataFrame:
    """Keyed admission control with TIMER-DRIVEN state expiry — the
    custom-stateful-streaming class (per-key counters + TTL) a
    production stream reaches for beyond ``session_window``.

    Per user the value state holds ``(last_ts_ms, n_in_sess)``. Each
    micro-batch the group's rows (sorted by ts, event_id) run a session
    state machine: an event at >= ``gap_ms`` after the previous one
    opens a new session; the first ``cap`` events of a session are
    admitted, the rest rejected. After processing, an EVENT-TIME timer
    is (re)registered at ``last_ts_ms + gap_ms``; when the watermark
    passes it with no new input for the key, the timed-out callback
    emits an ``expired`` accounting row and clears the state — the TTL
    expiry that bounds state size on an unbounded key space (Spark
    drops the per-key state entry; without it a 100 TB stream's state
    store grows with every user ever seen).

    Determinism contract (what lets a batch oracle replay the timers):
    event-time timers only — the watermark during micro-batch b is the
    floored-ms max event time of batches < b, a pure function of the
    staged batch boundaries; timers fire strictly-less-than the
    watermark, and only for keys with no input rows in the firing
    batch. ``fired_bseq_bounds_ms`` maps the firing watermark back to
    a batch sequence number for the accounting row (wm < b1 -> fired
    in batch 2, < b2 -> 3, else the availableNow no-data flush batch,
    reported as 4).

    Engine note: Spark 4's transformWithStateInPandas is the same
    operator class with finer-grained state/timer APIs, but its state
    server requires the protobuf Python runtime, which this engine does
    not assume; applyInPandasWithState's GroupState + EventTimeTimeout
    expresses identical semantics on the stock runtime.
    """
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        "user_id bigint, kind string, bseq int, n_admit bigint,"
        " n_reject bigint, n_open bigint, n_expired bigint"
    )
    state_schema = "last_ts_us bigint, n_in_sess bigint"
    gap_us = gap_ms * 1000
    b1_ms, b2_ms = fired_bseq_bounds_ms

    # ~1,500 keys/micro-batch each yield ONE 1-row frame, and a fresh
    # pd.DataFrame(dict-of-lists) costs ~160 us/key (~240 ms/batch of
    # pure constructor overhead at sf0.1 — measured, guide §4.2); a
    # deep copy of a prebuilt 1-row template plus .iat stores is ~63
    # us/key. The templates ride the task closure (built driver-side,
    # shipped once per task); the serializer only concatenates the
    # yielded frames at flush, so each key must still yield a DISTINCT
    # frame — copy, never mutate-and-share.
    _batch_tpl = pd.DataFrame(
        {
            "user_id": [0],
            "kind": ["batch"],
            "bseq": [0],
            "n_admit": [0],
            "n_reject": [0],
            "n_open": [0],
            "n_expired": [0],
        }
    )
    _expired_tpl = pd.DataFrame(
        {
            "user_id": [0],
            "kind": ["expired"],
            "bseq": [0],
            "n_admit": [0],
            "n_reject": [0],
            "n_open": [0],
            "n_expired": [1],
        }
    )

    def admission(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            wm = state.getCurrentWatermarkMs()
            state.remove()
            out = _expired_tpl.copy()
            out.iat[0, 0] = user
            out.iat[0, 2] = 2 if wm < b1_ms else 3 if wm < b2_ms else 4
            yield out
            return
        # Hot path: ~1,500 keys per micro-batch each pay this function's
        # constant overhead, so it is kept to numpy column extraction —
        # the earlier pd.concat(...).sort_values(["ts", "event_id"]) form
        # cost ~450 us/key and dominated addBatch (~1 s/batch at sf0.1;
        # guide §4.2: hand batches to vectorized native code). Only the
        # ts values are needed in order: rows tied on ts have gap 0, so
        # their relative order (the event_id tiebreak) cannot change
        # new_sess, pos, or the emitted counts — np.sort on the ts array
        # is equivalent to the full (ts, event_id) row sort here. With
        # ``derive_bseq_from_ts`` the bseq column does not cross the
        # boundary at all: when the staged batches ARE the calendar
        # terciles cut at the ``fired_bseq_bounds_ms`` boundaries (the
        # production key's staging), bseq is a pure function of any
        # row's ts — one fewer per-key arrow->pandas column (~35
        # us/key, guide §4.1). Callers whose bseq is an arbitrary
        # sequence number keep passing it as data.
        bseq0 = None
        ts_parts = []
        for p in pdfs:
            if len(p):
                if bseq0 is None and not derive_bseq_from_ts:
                    bseq0 = int(p["bseq"].iloc[0])
                ts_parts.append(p["ts"].to_numpy())
        last_ts, n_in = state.get if state.exists else (None, 0)
        ts_us = (
            ts_parts[0] if len(ts_parts) == 1 else np.concatenate(ts_parts)
        ).astype("datetime64[us]").astype(np.int64)
        ts_us.sort()
        if derive_bseq_from_ts:
            t0_ms = int(ts_us[0]) // 1000
            bseq0 = 1 if t0_ms < b1_ms else 2 if t0_ms < b2_ms else 3
        n = len(ts_us)
        prev = np.empty(n, dtype=np.int64)
        prev[0] = last_ts if last_ts is not None else np.int64(-(2**62))
        prev[1:] = ts_us[:-1]
        new_sess = (ts_us - prev) >= gap_us
        sid_start = np.maximum.accumulate(
            np.where(new_sess, np.arange(n), -1)
        )
        pos = np.where(
            sid_start >= 0,
            np.arange(n) - sid_start + 1,
            np.arange(n) + 1 + n_in,
        )
        state.update((int(ts_us[-1]), int(pos[-1])))
        # ms-floored like the watermark itself (EventTimeStats tracks
        # event time in whole milliseconds)
        state.setTimeoutTimestamp(int(ts_us[-1]) // 1000 + gap_ms)
        n_admit = int((pos <= cap).sum())
        out = _batch_tpl.copy()
        out.iat[0, 0] = user
        out.iat[0, 2] = bseq0
        out.iat[0, 3] = n_admit
        out.iat[0, 4] = n - n_admit
        out.iat[0, 5] = int(new_sess.sum())
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        admission,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def session_finalize(events: DataFrame, *, gap_ms: int) -> DataFrame:
    """EMIT-ON-CLOSE sessionization — the canonical timer pattern a
    stream that must DELIVER finished sessions (not just account for
    them) runs: per user the value state holds the OPEN session
    (start, last event, count, value sum in exact 1e-4 int units); a
    new event >= ``gap_ms`` after the previous one CLOSES the held
    session (emitted immediately, data-driven close) and opens a new
    one; an event-time timer at last_ts + gap closes a trailing idle
    session (timer-driven close) — so every session is emitted exactly
    once, when it closes, and only a user's final session can remain
    unemitted (still open at end of stream, when the watermark never
    passed its horizon). Downstream consumers get a complete, append-
    only feed of finished sessions.

    Determinism: same contract as stateful_admission (ts-ordered
    batches, per-batch watermark = floored-ms max prior event time,
    strict-< firing, availableNow's no-data flush) — a batch oracle
    replays exactly which sessions closed. The input must carry ``vq``
    (value pre-quantized to 1e-4 int64 by SPARK's round — quantizing
    here with numpy would use banker's rounding and diverge from the
    SQL oracle's half-away round on exact .5 products)."""
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        "user_id bigint, start_us bigint, end_us bigint,"
        " n_events bigint, sum_value_e4 bigint, closed_by string"
    )
    state_schema = (
        "start_us bigint, last_ts_us bigint, n bigint, sum_e4 bigint"
    )
    gap_us = gap_ms * 1000

    # 1-row timer-close template — same per-key constructor-overhead
    # rationale as stateful_admission's templates above (guide §4.2)
    _timer_tpl = pd.DataFrame(
        {
            "user_id": [0],
            "start_us": [0],
            "end_us": [0],
            "n_events": [0],
            "sum_value_e4": [0],
            "closed_by": ["timer"],
        }
    )

    def finalize(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            start, last, n, sv = state.get
            state.remove()
            out = _timer_tpl.copy()
            out.iat[0, 0] = user
            out.iat[0, 1] = start
            out.iat[0, 2] = last
            out.iat[0, 3] = n
            out.iat[0, 4] = sv
            yield out
            return
        # Hot path (same rationale as stateful_admission above): numpy
        # column extraction + one stable ts argsort instead of
        # pd.concat(...).sort_values(["ts", "event_id"]) — rows tied on
        # ts always share a session (gap 0 cannot close) and sums/counts
        # commute, so the event_id tiebreak cannot change any emitted
        # session's (start, end, n, sum) or its close attribution. The
        # session state machine itself is segment arithmetic on the
        # sorted ts array (break positions -> per-segment count/sum via
        # one cumsum), not a per-row Python loop: every segment except
        # the last closes by the gap rule, the carried open session
        # either closes at break 0 or merges into segment 0, and the
        # last segment becomes the new state — element-for-element the
        # same fold the row loop computed.
        parts = [p for p in pdfs if len(p)]
        if len(parts) == 1:
            ts_raw = parts[0]["ts"].to_numpy()
            vq = parts[0]["vq"].to_numpy()
        else:
            ts_raw = np.concatenate([p["ts"].to_numpy() for p in parts])
            vq = np.concatenate([p["vq"].to_numpy() for p in parts])
        ts_us = ts_raw.astype("datetime64[us]").astype(np.int64)
        order = np.argsort(ts_us, kind="stable")
        ts_us = ts_us[order]
        vq = vq[order].astype(np.int64)
        start0, last0, n0, sv0 = (
            state.get if state.exists else (None, None, 0, 0)
        )
        n = len(ts_us)
        prev = np.empty(n, dtype=np.int64)
        prev[0] = last0 if last0 is not None else np.int64(-(2**62))
        prev[1:] = ts_us[:-1]
        brk = (ts_us - prev) >= gap_us
        has_carry = last0 is not None
        # segment starts: element 0 plus every break position
        starts = np.flatnonzero(brk)
        if len(starts) == 0 or starts[0] != 0:
            starts = np.concatenate(([0], starts))
        ends = np.append(starts[1:], n)  # exclusive
        cs = np.concatenate(([0], np.cumsum(vq)))
        seg_st = ts_us[starts]
        seg_en = ts_us[ends - 1]
        seg_n = (ends - starts).astype(np.int64)
        seg_sv = cs[ends] - cs[starts]
        merged0 = has_carry and not brk[0]
        if merged0:
            seg_st[0] = start0
            seg_n[0] += n0
            seg_sv[0] += sv0
        m = len(starts)
        k = (m - 1) + (1 if has_carry and brk[0] else 0)
        if k:
            st_a = np.empty(k, dtype=np.int64)
            en_a = np.empty(k, dtype=np.int64)
            n_a = np.empty(k, dtype=np.int64)
            sv_a = np.empty(k, dtype=np.int64)
            j = 0
            if has_carry and brk[0]:
                st_a[0], en_a[0], n_a[0], sv_a[0] = start0, last0, n0, sv0
                j = 1
            if m > 1:
                st_a[j:] = seg_st[: m - 1]
                en_a[j:] = seg_en[: m - 1]
                n_a[j:] = seg_n[: m - 1]
                sv_a[j:] = seg_sv[: m - 1]
            yield pd.DataFrame(
                {
                    "user_id": np.full(k, user, dtype=np.int64),
                    "start_us": st_a,
                    "end_us": en_a,
                    "n_events": n_a,
                    "sum_value_e4": sv_a,
                    "closed_by": np.full(k, "gap", dtype=object),
                },
                copy=False,
            )
        state.update(
            (
                int(seg_st[m - 1]),
                int(seg_en[m - 1]),
                int(seg_n[m - 1]),
                int(seg_sv[m - 1]),
            )
        )
        state.setTimeoutTimestamp(int(seg_en[m - 1]) // 1000 + gap_ms)

    return events.groupBy("user_id").applyInPandasWithState(
        finalize,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Arbitrary stateful per-key streaming (applyInPandasWithState):
    running event count + max value per user. The state schema is the
    cross-batch contract; Arrow moves each group's rows as pandas batches.

    This is the extension point the reference lacks entirely — custom
    stateful operators beyond what windowed SQL can express."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, max_value double"
    state_schema = "n bigint, mx double"

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                m = float(pdf["value"].max())
                mx = m if mx is None else max(mx, m)
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_available_now(
    agg: DataFrame, query_name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream synchronously into a memory sink and return the
    final result as a batch DataFrame (complete mode so every window,
    including the last open one, is emitted; stateful flatMap operators
    require update mode)."""
    spark = agg.sparkSession
    name = query_name or f"stream_{uuid.uuid4().hex[:8]}"
    # fresh checkpoint per run: the memory sink has no recovery story
    checkpoint = os.path.join(
        tempfile.gettempdir(), "airbnb_spark_ckpt", f"{name}_{uuid.uuid4().hex[:8]}"
    )
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def available_now_scd2_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_path: str,
    keys: list[str],
    tracked: list[str],
    effective: str,
    checkpoint: str,
    fmt: str = "csv",
) -> DataFrame:
    """Streaming SCD2: each availableNow drain folds the micro-batch
    into a type-2 history table (operators/merge.merge_scd2) and
    publishes atomically — the incremental dimension-history pipeline
    (stream of attribute changes in, queryable valid_from/valid_to
    history out). The checkpoint gives exactly-once across re-runs;
    merge_scd2's per-key latest-effective dedup makes a batch holding
    several changes for one key deterministic.
    """
    from ..operators.merge import merge_scd2
    from ..sources.atomic import read_published

    hist_schema = T.StructType(
        [f for f in schema.fields if f.name != effective]
        + [
            T.StructField("valid_from", T.StringType()),
            T.StructField("valid_to", T.StringType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )

    def scd2_batch(batch: DataFrame, base: DataFrame | None) -> DataFrame:
        if base is None:
            base = batch.sparkSession.createDataFrame([], hist_schema)
        return merge_scd2(base, batch, keys, tracked, effective)

    fold_stream(
        _file_stream(spark, source_dir, schema, fmt),
        checkpoint,
        scd2_batch,
        target_path,
    )
    return read_published(spark, target_path)


@contextmanager
def stateful_layout(spark: SparkSession, sf_dir: str, table: str):
    """Size the keyed-state store layout to the stream, scale-adaptively.

    The number of state partitions is fixed at query start from
    ``spark.sql.shuffle.partitions``. Each partition pays per-BATCH
    store open/commit/snapshot churn, and each key pays the per-key
    Python serde of applyInPandasWithState — so too many partitions is
    store churn (32 partitions for a fixture-sized feed: +1.7 s on the
    admission drain) and too few serializes the per-key machinery
    (2 partitions: +4.3 s). Sizing by source rows picks the measured
    sweet spot locally (~8 at sf0.1) and grows to the cluster's
    parallelism as the feed grows — the same sizing rule a production
    stream applies to its key cardinality/throughput (cf. the
    stream_stream_join 4-stores-per-partition rationale below).

    Single-threaded-session assumption (ADVICE r13): this mutates the
    session-global ``spark.sql.shuffle.partitions`` for the drain's
    duration, so a query PLANNED concurrently on the same session would
    inherit the reduced count. Every harness here (bench, mirror,
    tests) drives one query at a time per session; a concurrent caller
    must scope the drain to its own ``SparkSession.newSession()``. A
    stateful checkpoint must also never be reused across runs with a
    different computed ``parts`` (state partition count pins at first
    run) — all drains here use fresh per-run checkpoints."""
    n_rows = row_count(os.path.join(sf_dir, f"{table}.parquet"))
    par = spark.sparkContext.defaultParallelism
    parts = par if n_rows is None else min(par, max(2, n_rows // 12_500))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stage_batch(df: DataFrame, stream_dir: str, name: str, seq: int) -> None:
    """Land one micro-batch as a single deterministically-ordered
    parquet file: write single-file, promote the part file to ``name``,
    then stamp mtime so BOTH mtime and lexicographic path order the
    batches — the file source's batch assignment is then deterministic.

    The promotion is os-level, so a URI zone (a dist-FS staging root:
    hdfs://, s3a://) raises loudly here instead of corrupting local
    state — a real deployment points readStream at its actual landing
    zone and never stages one (the fixture exists only to make
    stream/batch equivalence hermetically testable)."""
    import glob
    import shutil

    from ..sources.staging import fs_delete

    if "://" in stream_dir:
        raise NotImplementedError(
            "simulated stream landing zones are driver-local fixtures; "
            "on a dist-FS staging root point readStream at the real "
            "landing zone instead"
        )
    staged = os.path.join(stream_dir, f"_stage_{seq}")
    df.coalesce(1).write.parquet(staged)
    part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
    dest = os.path.join(stream_dir, name)
    shutil.move(part, dest)
    fs_delete(staged)
    os.utime(dest, (1_700_000_000 + seq * 60, 1_700_000_000 + seq * 60))


def staged_stream(spark: SparkSession, stream_dir: str, schema) -> DataFrame:
    """File-source stream over a landing zone stage_batch filled: ONE
    staged file per micro-batch (maxFilesPerTrigger=1), taken in the
    mtime-and-path order stage_batch stamps — so each staged file is
    exactly one micro-batch, in staging order, and the cross-batch
    state (watermarks, timers, merges) the oracles replay is a pure
    function of the staged files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
