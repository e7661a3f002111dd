"""Streaming queries for the driver contract (SURVEY.md §2.8 + extension).

Each query runs a REAL Structured Streaming job whose drained result is
compared to the batch-SQL oracle — stream/batch equivalence is the
correctness statement for Structured Streaming. The jobs share three
pieces:

- staging: a key lands its micro-batch files once, through
  ``sources/staging.ensure_staged`` + ``streaming/ingest.stage_batch``,
  into one stable landing zone per key, re-staged only when the source
  files change;
- reading: ``streaming/ingest.staged_stream`` reads such a zone as one
  staged file per micro-batch, in staging order;
- draining: aggregations and stateful operators drain into a memory
  sink (``streaming/ingest.run_available_now``); keys that fold each
  micro-batch into published tables (upsert, MV maintenance,
  admission with index append-back, DP release ledgers) drain through
  ``streaming/ingest.fold_stream``, the one foreachBatch harness, into
  a fresh per-run root deleted before they return.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import pin
from ..sources.staging import ensure_staged, scratch_dir
from ..streaming.ingest import (
    read_events_stream,
    run_available_now,
    session_windows,
    stage_batch,
    staged_stream,
    stateful_layout,
    stateful_user_stats,
    windowed_counts,
)
from .registry import load, register


_WINDOW_AGG_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@register("stream_window_agg", oracle=_WINDOW_AGG_SQL)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream,
    drained with trigger(availableNow=True) — equals the batch result."""
    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = windowed_counts(events, window="1 hour", watermark="2 hours")
    # state-store layout sized to the feed: AQE is off inside streaming
    # queries, so without this the windowed agg runs 32 near-empty
    # state partitions whose per-batch store open/commit churn dominates
    with stateful_layout(spark, sf_dir, "events"):
        result = run_available_now(agg, query_name="stream_window_agg")
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


_SESSION_WINDOW_SQL = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""


@register("stream_session_window", oracle=_SESSION_WINDOW_SQL)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window (30-min gap) per user, drained with
    availableNow. Oracle = the batch lag/running-sum sessionization with
    the same half-open boundary (new session when gap >= 30 min) — the
    stream/batch equivalence statement for session windows."""
    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = session_windows(events, gap="30 minutes", watermark="2 hours")
    # state layout sized to the feed (AQE off in streaming)
    with stateful_layout(spark, sf_dir, "events"):
        result = run_available_now(agg, query_name="stream_session_window")
    return result.select(
        "user_id",
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "sum_value",
    )


_STATEFUL_SQL = """
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events GROUP BY user_id
"""


@register("stream_stateful_stats", oracle=_STATEFUL_SQL)
def stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-user count + max. Drained availableNow in update mode;
    with the whole file as one batch each key emits its final state, which
    must equal the batch GROUP BY — the correctness statement for
    arbitrary stateful processing."""
    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    stats = stateful_user_stats(events)
    # state layout sized to the feed (AQE off in streaming)
    with stateful_layout(spark, sf_dir, "events"):
        return run_available_now(
            stats, query_name="stream_stateful_stats", output_mode="update"
        )


# --- keyed admission state with event-time-timer TTL expiry -----------------

_SSA_GAP_MS = 86_400_000          # 1-day session TTL
_SSA_CAP = 3                      # admits per session
_SSA_B1 = "2024-01-11"            # batch-1/2 boundary (ts tercile-ish)
_SSA_B2 = "2024-01-21"            # batch-2/3 boundary

_SSA_SQL = f"""
WITH e AS (
  SELECT event_id, ts, user_id,
         CASE WHEN ts < TIMESTAMP '{_SSA_B1}' THEN 1
              WHEN ts < TIMESTAMP '{_SSA_B2}' THEN 2 ELSE 3 END AS bseq
  FROM events
),
wm AS (
  SELECT epoch_ms(max(ts) FILTER (WHERE bseq = 1)) AS wm2,
         epoch_ms(max(ts) FILTER (WHERE bseq <= 2)) AS wm3,
         epoch_ms(max(ts)) AS wm4
  FROM e
),
g AS (
  SELECT e.*, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      >= CAST({_SSA_GAP_MS} AS BIGINT) * 1000
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
      ORDER BY ts, event_id) AS rn
  FROM s
),
batch_rows AS (
  SELECT user_id, 'batch' AS kind, bseq,
         count(*) FILTER (WHERE rn <= {_SSA_CAP}) AS n_admit,
         count(*) FILTER (WHERE rn > {_SSA_CAP}) AS n_reject,
         CAST(sum(new_sess) AS BIGINT) AS n_open,
         CAST(0 AS BIGINT) AS n_expired
  FROM r GROUP BY user_id, bseq
),
u AS (
  SELECT user_id,
         bool_or(bseq = 1) AS e1, bool_or(bseq = 2) AS e2,
         bool_or(bseq = 3) AS e3,
         epoch_ms(max(ts) FILTER (WHERE bseq = 1)) AS te1,
         epoch_ms(max(ts) FILTER (WHERE bseq <= 2)) AS te2,
         epoch_ms(max(ts)) AS te3
  FROM e GROUP BY user_id
),
f AS (
  SELECT u.*, wm.wm3, wm.wm4,
         (u.e1 AND NOT u.e2 AND u.te1 + {_SSA_GAP_MS} < wm.wm2) AS fired2
  FROM u CROSS JOIN wm
),
f2 AS (
  SELECT f.*,
         (NOT f.e3 AND NOT f.fired2 AND (f.e1 OR f.e2)
          AND f.te2 + {_SSA_GAP_MS} < f.wm3) AS fired3
  FROM f
),
f3 AS (
  SELECT f2.*,
         ((f2.e3 OR (NOT f2.fired2 AND NOT f2.fired3
                     AND (f2.e1 OR f2.e2)))
          AND f2.te3 + {_SSA_GAP_MS} < f2.wm4) AS fired4
  FROM f2
),
expired_rows AS (
  SELECT user_id, 'expired' AS kind, 2 AS bseq,
         CAST(0 AS BIGINT) AS n_admit, CAST(0 AS BIGINT) AS n_reject,
         CAST(0 AS BIGINT) AS n_open, CAST(1 AS BIGINT) AS n_expired
  FROM f3 WHERE fired2
  UNION ALL
  SELECT user_id, 'expired', 3, 0, 0, 0, 1 FROM f3 WHERE fired3
  UNION ALL
  SELECT user_id, 'expired', 4, 0, 0, 0, 1 FROM f3 WHERE fired4
)
SELECT * FROM batch_rows UNION ALL SELECT * FROM expired_rows
"""


@register("stream_stateful_admission", oracle=_SSA_SQL)
def stream_stateful_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed admission state with TIMER-driven TTL expiry — the custom
    stateful operator class (per-key counters + timers) production
    streams need beyond session_window (streaming/ingest.
    stateful_admission). The events table lands as THREE ts-ordered
    micro-batch files (calendar terciles); per user, value state tracks
    the live session (last_ts, n_in_sess): a >= 1-day gap opens a new
    session, the first {cap} events of a session are admitted, the rest
    rejected, and an EVENT-TIME timer at last_ts + 1 day expires idle
    state — per firing the operator emits an 'expired' accounting row
    and drops the key's state (the TTL bound that keeps the state store
    finite on an unbounded user space). Generalizes the reference's
    only stateful accumulation (the reviews $addToSet,
    Airbnb_Review_ETL.py:102 — unbounded per-key growth, no expiry) to
    the state class production streams need: bounded, timer-expired,
    admission-gated.

    The oracle replays the ENTIRE state machine — admissions AND
    timers — as window CTEs over the event log: the watermark during
    micro-batch b is the floored-ms max event time of batches < b
    (delay 0), timers fire strictly below it and only for keys with no
    input that batch, and availableNow's final no-data batch flushes
    timers under the global max watermark. Stream/batch equivalence for
    timer semantics, not just aggregates."""
    from datetime import datetime, timezone

    from ..streaming.ingest import stateful_admission

    def _stage(stream_dir: str) -> None:
        # loaded only to re-stage: reading the parquet schema is a job
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")
        b1 = F.lit(_SSA_B1).cast("timestamp")
        b2 = F.lit(_SSA_B2).cast("timestamp")
        batches = [
            ev.filter(F.col("ts") < b1).withColumn("bseq", F.lit(1)),
            ev.filter((F.col("ts") >= b1) & (F.col("ts") < b2)).withColumn(
                "bseq", F.lit(2)
            ),
            ev.filter(F.col("ts") >= b2).withColumn("bseq", F.lit(3)),
        ]
        for seq, b in enumerate(batches, start=1):
            stage_batch(b, stream_dir, f"batch{seq}.parquet", seq)

    # stable landing zone, staged once per (sf_dir, source fingerprint): the
    # measured work is the keyed-state drain, not three fixture parquet
    # writes per invocation (the stream_mv_merge amortization idiom)
    stream_dir = ensure_staged(
        spark, "stream_stateful_admission", sf_dir, "events", _stage
    )
    # the final no-data micro-batch is what flushes end-of-stream
    # timers; it is on by default — pinned here because the oracle
    # replays its firings (bseq 4)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    # event_id and bseq are staged (deterministic batch files) but NOT
    # read: applyInPandasWithState ships every input column through the
    # per-key arrow->pandas conversion (~35-60 us/key/column — guide
    # §4.1 "pass only the columns the function needs"). event_id is
    # unused (ties on ts commute, ingest.py), and bseq is a pure
    # function of ts (the batches ARE the calendar terciles the _stage
    # filters cut at _SSA_B1/_SSA_B2), so the state machine re-derives
    # it from the same boundary constants the timer attribution already
    # uses. Only (ts, user_id) cross the per-key boundary; ts must stay
    # a timestamp — Spark requires the watermarked attribute in the
    # stateful operator's child output (projecting it to a long raises
    # 'Event-time timeout not supported without watermark').
    stream = (
        staged_stream(
            spark,
            stream_dir,
            "event_id bigint, ts timestamp, user_id bigint, bseq int",
        )
        .select("ts", "user_id")
        .withWatermark("ts", "0 seconds")
    )

    def _ms(day: str) -> int:
        return int(
            datetime.fromisoformat(day)
            .replace(tzinfo=timezone.utc)
            .timestamp()
            * 1000
        )

    out = stateful_admission(
        stream,
        gap_ms=_SSA_GAP_MS,
        cap=_SSA_CAP,
        fired_bseq_bounds_ms=(_ms(_SSA_B1), _ms(_SSA_B2)),
        # the staged batches are exactly the calendar terciles at these
        # bounds, so bseq never crosses the Python boundary as a column
        derive_bseq_from_ts=True,
    )
    with stateful_layout(spark, sf_dir, "events"):
        result = run_available_now(
            out, query_name="stream_stateful_admission", output_mode="update"
        )
    return pin(result, label="ssa_result")


stream_stateful_admission.__doc__ = stream_stateful_admission.__doc__.format(
    cap=_SSA_CAP
)


# --- emit-on-close sessionization (the canonical timer delivery) -------------

_SSF_SQL = f"""
WITH e AS (
  SELECT event_id, ts, user_id,
         CAST(round(value * 10000) AS BIGINT) AS vq,
         CASE WHEN ts < TIMESTAMP '{_SSA_B1}' THEN 1
              WHEN ts < TIMESTAMP '{_SSA_B2}' THEN 2 ELSE 3 END AS bseq
  FROM events
),
wm AS (
  SELECT epoch_ms(max(ts) FILTER (WHERE bseq = 1)) AS wm2,
         epoch_ms(max(ts) FILTER (WHERE bseq <= 2)) AS wm3,
         epoch_ms(max(ts)) AS wm4
  FROM e
),
g AS (
  SELECT e.*, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      >= CAST({_SSA_GAP_MS} AS BIGINT) * 1000
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
),
sess AS (
  SELECT user_id, sid, min(ts) AS st, max(ts) AS en,
         count(*) AS n, CAST(sum(vq) AS BIGINT) AS sv,
         min(bseq) AS b_first, max(bseq) AS b_last
  FROM s GROUP BY user_id, sid
),
nx AS (
  SELECT sess.*,
         coalesce(lead(b_first) OVER (PARTITION BY user_id ORDER BY sid),
                  99) AS next_b,
         lead(sid) OVER (PARTITION BY user_id ORDER BY sid) AS next_sid
  FROM sess
),
cls AS (
  SELECT nx.*,
         ((b_last + 1 <= 2 AND next_b > 2
           AND epoch_ms(en) + {_SSA_GAP_MS} < wm.wm2)
          OR (b_last + 1 <= 3 AND next_b > 3
              AND epoch_ms(en) + {_SSA_GAP_MS} < wm.wm3)
          OR (next_b > 3
              AND epoch_ms(en) + {_SSA_GAP_MS} < wm.wm4)) AS fired
  FROM nx CROSS JOIN wm
)
SELECT user_id, epoch_us(st) AS start_us, epoch_us(en) AS end_us,
       n AS n_events, sv AS sum_value_e4,
       CASE WHEN fired THEN 'timer' ELSE 'gap' END AS closed_by
FROM cls WHERE fired OR next_sid IS NOT NULL
"""


@register("stream_session_finalize", oracle=_SSF_SQL)
def stream_session_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMIT-ON-CLOSE sessionization (streaming/ingest.session_finalize)
    — the canonical event-time-timer DELIVERY pattern: each finished
    session is emitted exactly once, at the moment it closes — by the
    GAP rule when the user's next event arrives >= 1 day later
    (data-driven close, possibly several per micro-batch), or by an
    EVENT-TIME TIMER when the watermark passes last_ts + 1 day with
    the user idle (timer-driven close, incl. availableNow's no-data
    flush). Only a user's final session may go unemitted (still open
    when the stream ends). stream_session_window emits final AGGREGATE
    state; THIS key emits a complete append-only feed of closed
    sessions with the CLOSE MECHANISM attributed per row — the oracle
    replays both mechanisms (which batch's watermark, if any, closed
    each session before the user's next event arrived) from the event
    log alone.

    Scale shape: per-key state is one open session (4 ints); state is
    keyed by user and dropped on every close, so the store tracks open
    sessions only — the soak-proven bound of stateful_admission
    applies unchanged."""
    from ..streaming.ingest import session_finalize

    def _stage(stream_dir: str) -> None:
        # loaded only to re-stage (see stream_stateful_admission)
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "ts",
            "user_id",
            F.round(F.col("value") * 10000).cast("long").alias("vq"),
        )
        b1 = F.lit(_SSA_B1).cast("timestamp")
        b2 = F.lit(_SSA_B2).cast("timestamp")
        batches = [
            ev.filter(F.col("ts") < b1),
            ev.filter((F.col("ts") >= b1) & (F.col("ts") < b2)),
            ev.filter(F.col("ts") >= b2),
        ]
        for seq, b in enumerate(batches, start=1):
            stage_batch(b, stream_dir, f"batch{seq}.parquet", seq)

    # stable landing zone, staged once per (sf_dir, source fingerprint) — see
    # stream_stateful_admission
    stream_dir = ensure_staged(
        spark, "stream_session_finalize", sf_dir, "events", _stage
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    # event_id staged but not read — see stream_stateful_admission
    stream = (
        staged_stream(
            spark,
            stream_dir,
            "event_id bigint, ts timestamp, user_id bigint, vq bigint",
        )
        .select("ts", "user_id", "vq")
        .withWatermark("ts", "0 seconds")
    )
    out = session_finalize(stream, gap_ms=_SSA_GAP_MS)
    with stateful_layout(spark, sf_dir, "events"):
        result = run_available_now(
            out, query_name="stream_session_finalize", output_mode="update"
        )
    return pin(result, label="ssf_result")


_STREAM_STREAM_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       round(p.value, 4) AS purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("stream_stream_join", oracle=_STREAM_STREAM_SQL)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: clicks joined to the same
    user's purchases within the following hour. Both sides carry
    watermarks and the join has a two-sided time bound, so state is
    evictable — the shape that runs forever on an unbounded stream.
    Drained availableNow; the oracle is the equivalent batch interval
    join (stream/batch equivalence again)."""
    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (purchases.p_user == clicks.user_id)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.round("value", 4).alias("purchase_value"),
    )
    # Size the state layout to the stream: a stream-stream join builds
    # FOUR state stores per shuffle partition; at the harness's 32
    # partitions that is 128 store instances of checkpoint churn for a
    # fixture-sized feed — ~2/3 of this key's mirror wall (VERDICT r12
    # #7). 8 partitions is the honest sizing here; a production stream
    # sizes this to its key cardinality/throughput the same way.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return run_available_now(
            joined, query_name="stream_stream_join", output_mode="append"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type FROM events WHERE event_id % 11 = 0
"""


@register("stream_dedup", oracle=_STREAM_DEDUP_SQL)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup: the same file read as TWO streams and
    unioned (every event duplicated), then dropDuplicates on event_id
    within the watermark — the exactly-once guard for at-least-once
    sources. Result equals the batch DISTINCT."""
    path = f"{sf_dir}/events.parquet"
    a = read_events_stream(spark, path)
    b = read_events_stream(spark, path)
    dup = a.unionByName(b).filter(F.col("event_id") % 11 == 0)
    deduped = (
        dup.withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(
        deduped, query_name="stream_dedup", output_mode="append"
    )


_STREAM_STATIC_SQL = """
SELECT c.c_mktsegment AS segment, count(*) AS n_events,
       round(sum(e.value), 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("stream_static_join", oracle=_STREAM_STATIC_SQL)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    dimension (no stream state). No broadcast hint: customer grows with
    SF, and the per-micro-batch planner already picks broadcast-hash
    from the static side's size while it fits — hinting it would OOM at
    100x exactly like the join_eq3 case."""
    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(cust, events.user_id == cust.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    return run_available_now(agg, query_name="stream_static_join")


_LATE_DATA_SQL = """
WITH f1 AS (
  SELECT ts, event_type, value FROM events WHERE event_id % 5 <> 0
), wm AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM f1
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM f1, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
GROUP BY date_trunc('hour', ts), event_type
"""


@register("stream_late_data", oracle=_LATE_DATA_SQL)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark DROP semantics under out-of-order arrival (append mode).

    Three single-file micro-batches (maxFilesPerTrigger=1, mtime+path
    ordered). Spark filters late input with the watermark computed TWO
    triggers back (the value in effect during the previous batch) and
    evicts state with the one computed from the previous batch (verified
    empirically — a 2-batch fixture can never observe a drop because the
    late batch is filtered against the initial 1970 watermark). So:
    batch 1 = all on-time events (event_id % 5 != 0); batch 2 = an EMPTY
    file, whose only job is to advance the late-filter watermark to
    max(on-time) - 1h; batch 3 = the late batch, every event_id % 5 == 0
    row shifted SIX HOURS into the past — all of batch 3 then sits below
    the filter watermark and must be dropped
    (numRowsDroppedByWatermark). Append mode emits exactly the finalized
    windows; the oracle states the on-time-only content in SQL. If late
    rows were NOT dropped they would re-create evicted window state and
    re-emit those windows (duplicate rows) or inflate still-open windows
    — either way a gate mismatch, so the hash-match IS the
    drop-semantics proof.
    """
    from ..streaming.ingest import EVENTS_SCHEMA

    # load() normalizes ts to a session-TZ TIMESTAMP regardless of the
    # testdata generation (nanos-long vs micros-timestamp), so the staged
    # batches always carry proper timestamps and the stream schema below
    # is generation-independent.
    def _stage(stream_dir: str) -> None:
        # loaded only to re-stage (see stream_stateful_admission)
        raw = load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        batches = [
            ("a_batch1.parquet", raw.filter(F.col("event_id") % 5 != 0)),
            ("b_batch2.parquet", raw.limit(0)),  # watermark-advancing empty batch
            (
                "c_batch3.parquet",
                raw.filter(F.col("event_id") % 5 == 0).withColumn(
                    "ts", F.col("ts") - F.expr("INTERVAL 6 HOURS")
                ),
            ),
        ]
        for i, (name, df) in enumerate(batches):
            stage_batch(df, stream_dir, name, i)

    # staged once per (sf_dir, source fingerprint) — the measured work is the
    # watermark-drop drain, not re-writing three fixture batches per run
    stream_dir = ensure_staged(spark, "stream_late_data", sf_dir, "events", _stage)

    stream = staged_stream(spark, stream_dir, EVENTS_SCHEMA)
    agg = windowed_counts(stream, window="1 hour", watermark="1 hour")
    # state layout sized to the feed (AQE off in streaming)
    with stateful_layout(spark, sf_dir, "events"):
        result = run_available_now(
            agg, query_name="stream_late_data", output_mode="append"
        )
    out = result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )
    # the staged landing zone (+ marker) stays for the next invocation
    return pin(out, label="stream_late_data")


def _stage_events_by_id_residue(spark: SparkSession, sf_dir: str) -> str:
    """The events table as three micro-batch files by ``event_id % 3`` —
    deliberately NOT in time order. stream_upsert_merge and
    stream_mv_merge both drain this one landing zone."""

    def _stage(stream_dir: str) -> None:
        # loaded only to re-stage: reading the parquet schema is a job
        raw = load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        for i in range(3):
            stage_batch(
                raw.filter(F.col("event_id") % 3 == i),
                stream_dir,
                f"batch_{i}.parquet",
                i,
            )

    return ensure_staged(spark, "events_by_id_residue", sf_dir, "events", _stage)


_UPSERT_STREAM_SQL = """
SELECT user_id, event_id, event_type, round(value, 4) AS value
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register("stream_upsert_merge", oracle=_UPSERT_STREAM_SQL)
def stream_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the event stream drained as THREE file
    micro-batches (maxFilesPerTrigger=1), each foreachBatch-merged into
    an atomically versioned keyed table with LAST-WRITE-WINS BY EVENT
    TIME per user — merge by max (ts, event_id), not by arrival order,
    so the final state is identical however the source groups batches
    (here they are grouped by event_id residue, i.e. deliberately NOT in
    time order). The oracle states the spec directly: each user's
    row_number()-latest event. Each merge is one per-user window over
    base ∪ batch (state-table-sized); publishes go through
    sources/atomic.publish_parquet, so a crash between batches leaves a
    readable previous version (exactly-once evidence:
    tests/test_streaming_ingest.py)."""
    import os

    from pyspark.sql import Window as W

    from ..sources.atomic import read_published
    from ..sources.staging import fs_delete
    from ..streaming.ingest import EVENTS_SCHEMA, fold_stream

    # the state table + checkpoint are per-run (fresh uuid root, deleted
    # below) so every invocation re-runs the merge path from empty state
    stream_dir = _stage_events_by_id_residue(spark, sf_dir)
    root = scratch_dir(spark, "upsert")
    target = os.path.join(root, "state")

    state_cols = ["user_id", "event_id", "event_type", "value", "ts"]
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def latest(batch_df, base):
        combined = batch_df.select(*state_cols)
        if base is not None:
            combined = combined.unionByName(base.select(*state_cols))
        return (
            combined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    # stateful_layout: each per-batch per-user window + merge would
    # otherwise shuffle into 32 near-empty partitions (AQE off here)
    with stateful_layout(spark, sf_dir, "events"):
        fold_stream(
            staged_stream(spark, stream_dir, EVENTS_SCHEMA),
            os.path.join(root, "ckpt"),
            latest,
            target,
        )
    final = read_published(spark, target).select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
    )
    final = pin(final, label="stream_upsert_merge")
    fs_delete(root, spark)
    return final


_STREAM_MV_SQL = """
SELECT event_type, count(*) AS n_events,
       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4)
         AS sum_value
FROM events GROUP BY event_type
"""


@register("stream_mv_merge", oracle=_STREAM_MV_SQL)
def stream_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance — the
    streaming twin of inc_mv_merge: the event stream drains as three
    file micro-batches (maxFilesPerTrigger=1); each foreachBatch
    aggregates ONLY its delta (count + fixed-point value sum per event
    type) and full-outer-merges it into the atomically versioned MV —
    counts add, sums add in integer 1e-4 units so merge order can never
    perturb the result. The oracle recomputes the aggregate from
    scratch over all events, so the gate proves
    fold(merge, deltas) == recompute(all) — the algebra that lets a
    100 TB daily MV absorb a delta-sized streaming job instead of a
    rescan. Publishes go through sources/atomic.publish_parquet: a
    crash between batches leaves the previous MV version readable and
    the checkpoint replays the missed batch (same exactly-once layer as
    stream_upsert_merge)."""
    import os

    from ..sources.atomic import read_published
    from ..sources.staging import fs_delete
    from ..streaming.ingest import EVENTS_SCHEMA, fold_stream

    # the MV + checkpoint are per-run (fresh uuid root, deleted below),
    # so every invocation replays the SAME three micro-batches from an
    # empty MV
    stream_dir = _stage_events_by_id_residue(spark, sf_dir)
    root = scratch_dir(spark, "mv")
    target = os.path.join(root, "mv")

    unit = F.round(F.col("value") * 10000).cast("bigint")

    def merge_delta(batch_df, base):
        delta = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum(unit).alias("s")
        )
        if base is None:
            return delta
        z = F.lit(0).cast("bigint")
        return (
            base.withColumnsRenamed({"n": "n0", "s": "s0"})
            .join(
                delta.withColumnsRenamed({"n": "n1", "s": "s1"}),
                "event_type",
                "full_outer",
            )
            .select(
                "event_type",
                (F.coalesce("n0", z) + F.coalesce("n1", z)).alias("n"),
                (F.coalesce("s0", z) + F.coalesce("s1", z)).alias("s"),
            )
        )

    # stateful_layout: each foreachBatch delta groupBy + base merge
    # would otherwise shuffle into 32 near-empty partitions per batch
    # (AQE is off inside streaming queries); size to the feed instead
    with stateful_layout(spark, sf_dir, "events"):
        fold_stream(
            staged_stream(spark, stream_dir, EVENTS_SCHEMA),
            os.path.join(root, "ckpt"),
            merge_delta,
            target,
        )
    final = read_published(spark, target).select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round(F.col("s") / 10000.0, 4).alias("sum_value"),
    )
    final = pin(final, label="stream_mv_merge")
    fs_delete(root, spark)
    return final


_SLIDING_SQL = """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS e, CAST(round(value * 10000) AS BIGINT) AS vq
  FROM events
), w AS (
  SELECT event_type, vq,
         (e // 1800000000) * 1800000000 - k * 1800000000 AS win_start_us
  FROM e, unnest(range(0, 2)) t(k)
)
SELECT strftime(to_timestamp(win_start_us // 1000000), '%Y-%m-%d %H:%M:%S')
         AS win_start,
       event_type, count(*) AS n,
       round(sum(vq) / 10000.0, 4) AS sum_value
FROM w GROUP BY win_start_us, event_type
"""


@register("stream_sliding_window", oracle=_SLIDING_SQL)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation (1-hour windows every 30
    minutes) drained with availableNow — unlike the tumbling key
    (stream_window_agg), every event contributes to size/slide = 2
    overlapping windows, which is the shape rate monitors and rolling
    SLAs actually use. Streaming state is bounded by watermark x
    (windows per event); the oracle derives each event's two window
    anchors arithmetically (floor to the slide grid, minus k slides)
    and aggregates in fixed-point 1e-4 so the value sums are exact.
    Stream/batch equivalence is the correctness statement."""
    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        events.withColumn(
            "vq", F.round(F.col("value") * 10000).cast("bigint")
        )
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"), F.sum("vq").alias("svq"))
    )
    # state layout sized to the feed (AQE off in streaming)
    with stateful_layout(spark, sf_dir, "events"):
        result = run_available_now(agg, query_name="stream_sliding_window")
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "win_start"
        ),
        "event_type",
        "n",
        F.round(F.col("svq") / 10000.0, 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# streaming near-dup dedup against a static standing corpus (minhash bands)
# ---------------------------------------------------------------------------

_SDM_MOD = 17        # doc_id % 17 == 0 seeds the incoming batch (variants)
_SDM_OFFSET = 300000  # incoming variant ids
_SDM_HASHES = 8
_SDM_BANDS = 4
_SDM_THRESHOLD = 0.5


def _stream_minhash_sql() -> str:
    from .pipeline_ext import _minhash_sig_sql

    band_cond = " OR ".join(
        "(" + " AND ".join(f"a.h{b*2+r} = b.h{b*2+r}" for r in range(2)) + ")"
        for b in range(_SDM_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)"
        for j in range(_SDM_HASHES)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SDM_OFFSET} AS doc_id,
         regexp_replace(text, '^[a-z]+ ', '') AS text
  FROM documents WHERE doc_id % {_SDM_MOD} = 0
),
{_minhash_sig_sql().strip()}
SELECT DISTINCT a.doc_id AS in_doc, b.doc_id AS corpus_doc,
       round(({agree}) / {float(_SDM_HASHES)}, 4) AS est_jaccard
FROM sig a JOIN sig b
  ON a.doc_id >= {_SDM_OFFSET} AND b.doc_id < {_SDM_OFFSET}
 AND ({band_cond})
WHERE round(({agree}) / {float(_SDM_HASHES)}, 4) >= {_SDM_THRESHOLD}
"""


@register("stream_dedup_minhash", oracle=_stream_minhash_sql())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup admission control: every micro-batch of
    incoming documents is checked against the STATIC standing corpus
    by MinHash band collision before ingestion — the shape a crawl
    pipeline runs continuously (dedup_incremental is the nightly batch
    form; stream_dedup is the exact-id form; this is the fuzzy-content
    form, live). The incoming fixture is a one-word-dropped variant of
    every 17th doc staged into the landing zone, so every incoming doc
    has a true near-dup standing in the corpus (the standing
    side is the FULL corpus, origins included).

    Scale shape: the stream side computes signatures as PURE column
    expressions per micro-batch (md5 once per shingle, XOR
    permutations — operators/dedup.minhash_signature, map-side); the
    standing corpus's banded signature table is computed once, PINNED,
    and equi-joined per batch on the uniform band key (stream-static
    join: no stream state for the join itself). Duplicate band hits
    collapse with dropDuplicates over the pair key — state bounded by
    the finite availableNow batch here; a continuous deployment uses
    dropDuplicatesWithinWatermark keyed the same way. Emitted:
    (in_doc, corpus_doc, est_jaccard >= 0.5) — the reject list."""
    from ..operators.dedup import minhash_lsh_join

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % _SDM_MOD == 0).select(
        (F.col("doc_id") + _SDM_OFFSET).alias("doc_id"),
        F.regexp_replace("text", r"^[a-z]+ ", "").alias("text"),
    )
    # staged once per (sf_dir, source fingerprint) — the measured work is the
    # per-batch signature + band join, not re-writing the fixture
    # parquet every invocation (the stream_mv_merge amortization idiom)
    stream_dir = ensure_staged(
        spark,
        "stream_dedup_minhash",
        sf_dir,
        "documents",
        lambda d: stage_batch(incoming, d, "batch1.parquet", 1),
    )
    stream = staged_stream(spark, stream_dir, "doc_id bigint, text string")
    # the SAME operator dedup_incremental runs nightly, fed a streaming
    # batch side (pin_batch=False — a streaming frame cannot pin; its
    # signature recomputes per micro-batch as map-side expressions)
    out = minhash_lsh_join(
        stream,
        docs,
        "doc_id",
        "text",
        num_hashes=_SDM_HASHES,
        bands=_SDM_BANDS,
        threshold=_SDM_THRESHOLD,
        pin_batch=False,
    ).select(
        F.col("batch_id").alias("in_doc"),
        F.col("corpus_id").alias("corpus_doc"),
        "est_jaccard",
    )
    return run_available_now(
        out, query_name="stream_dedup_minhash", output_mode="append"
    )


# ---------------------------------------------------------------------------
# streaming embedding near-dup admission against a static standing index
# ---------------------------------------------------------------------------

_SDE_MOD = 13        # vec_id % 13 == 0 seeds the incoming batch (perturbed)
_SDE_OFFSET = 300000  # incoming variant ids

_STREAM_EMB_SQL = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
inc AS (
  SELECT vec_id + {_SDE_OFFSET} AS vec_id, [v[1] + 0.01] || v[2:] AS v
  FROM base WHERE vec_id % {_SDE_MOD} = 0
),
pl AS (SELECT CAST(vec_id AS INT) AS pid, v AS pv
       FROM base WHERE vec_id BETWEEN 1 AND 8),
cb AS (
  SELECT c.vec_id, c.v,
         CAST(sum(CASE WHEN list_dot_product(c.v, pl.pv) > 0
                       THEN 1 << CAST(pl.pid - 1 AS INT) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM base c CROSS JOIN pl GROUP BY c.vec_id, c.v
),
ib AS (
  SELECT i.vec_id, i.v,
         CAST(sum(CASE WHEN list_dot_product(i.v, pl.pv) > 0
                       THEN 1 << CAST(pl.pid - 1 AS INT) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM inc i CROSS JOIN pl GROUP BY i.vec_id, i.v
)
SELECT i.vec_id AS in_vec, c.vec_id AS corpus_vec,
       round(list_dot_product(i.v, c.v) /
             (sqrt(list_dot_product(i.v, i.v)) *
              sqrt(list_dot_product(c.v, c.v))), 4) AS cos_sim
FROM ib i JOIN cb c ON i.bucket = c.bucket
WHERE round(list_dot_product(i.v, c.v) /
            (sqrt(list_dot_product(i.v, i.v)) *
             sqrt(list_dot_product(c.v, c.v))), 4) >= 0.99
"""


@register("stream_dedup_embedding", oracle=_STREAM_EMB_SQL)
def stream_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMBEDDING near-dup admission: each micro-batch of
    incoming vectors is bucket-joined against the standing corpus's
    sign-LSH index and cosine-verified before ingestion — the live
    form of dedup_embedding_incremental (nightly batch), completing
    the admission-control family (exact ids: stream_dedup; fuzzy text:
    stream_dedup_minhash; semantic vectors: this). The incoming
    fixture perturbs every 13th corpus vector (+300000), so every
    incoming vector has a true standing near-dup.

    Scale shape: the stream side computes its bucket as a PURE column
    fold over the ONE broadcast hyperplane-array row (stream-static
    broadcast crossJoin — no stream state), the standing index is
    computed once and PINNED (bucketed parquet in production), and the
    per-batch work is a stream-static equi-join on the bucket key plus
    JVM-side cosine — no aggregation state, append mode. Emitted:
    (in_vec, corpus_vec, cos_sim >= 0.99) — the reject list."""
    from ..functions.arrays import as_double_array
    from ..operators import similarity as S
    from ..operators.dedup import embedding_near_dup_join

    base = pin(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_array("embedding").alias("v")
        ),
        eager=False,  # lazy: materializes inside the index pin's first use
        label="sde_base",
    )
    incoming = base.filter(F.col("vec_id") % _SDE_MOD == 0).select(
        (F.col("vec_id") + _SDE_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, 63)
        ).alias("v"),
    )
    planes = base.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").cast("int").alias("pid"), "v"
    )
    corpus_bk = pin(
        S.with_lsh_bucket(base, "vec_id", "v", planes, "pid", 8),
        eager=False,  # lazy: the first micro-batch's stream-static join
        # materializes the standing index; later batches read the cache
        label="sde_index",
    )
    # staged once per (sf_dir, source fingerprint) — see stream_dedup_minhash
    stream_dir = ensure_staged(
        spark,
        "stream_dedup_embedding",
        sf_dir,
        "embeddings",
        lambda d: stage_batch(incoming, d, "batch1.parquet", 1),
    )
    stream = staged_stream(spark, stream_dir, "vec_id bigint, v array<double>")
    stream_bk = S.with_lsh_bucket(stream, "vec_id", "v", planes, "pid", 8)
    out = embedding_near_dup_join(
        stream_bk, corpus_bk, "vec_id", "v", "bucket", threshold=0.99
    ).select(
        F.col("batch_id").alias("in_vec"),
        F.col("corpus_id").alias("corpus_vec"),
        "cos_sim",
    )
    return run_available_now(
        out, query_name="stream_dedup_embedding", output_mode="append"
    )


# ---------------------------------------------------------------------------
# streaming span-level admission dedup against the standing gram index
# ---------------------------------------------------------------------------

_SDS_MOD = 19        # doc_id % 19 == 0 seeds the incoming batch
_SDS_OFFSET = 300000  # incoming ids
_SDS_N = 6           # span window length (same as dedup_span_exact)
_SDS_COPY = 12       # tokens copied from the standing doc


def _sds_fresh_duck(m: int) -> str:
    return (
        f"array_to_string(list_transform(generate_series(1, {m}),"
        " k -> 'nv' || doc_id || 'x' || k), ' ')"
    )


def _stream_span_sql() -> str:
    from ..functions.hashing import hash60_duckdb_sql

    gram = hash60_duckdb_sql(f"array_to_string(w[i:i+{_SDS_N - 1}], ' ')")
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
inc AS (
  SELECT doc_id + {_SDS_OFFSET} AS doc_id,
         CASE WHEN doc_id % {_SDS_MOD * 3} = 0 THEN {_sds_fresh_duck(3)}
              WHEN doc_id % {_SDS_MOD * 2} = 0 THEN {_sds_fresh_duck(7)}
              ELSE {_sds_fresh_duck(5)} || ' ' ||
                   array_to_string(w[1:{_SDS_COPY}], ' ')
         END AS text
  FROM tok WHERE doc_id % {_SDS_MOD} = 0
),
idx AS (
  SELECT DISTINCT {gram} AS h
  FROM tok, unnest(generate_series(1, len(w) - {_SDS_N - 1})) AS t(i)
  WHERE len(w) >= {_SDS_N}
),
itok AS (SELECT doc_id, string_split(text, ' ') AS w FROM inc),
igr AS (
  SELECT doc_id, i AS pos, {gram} AS h
  FROM itok, unnest(generate_series(1, len(w) - {_SDS_N - 1})) AS t(i)
  WHERE len(w) >= {_SDS_N}
),
hits AS (
  SELECT g.doc_id, list_sort(list(g.pos)) AS starts
  FROM igr g JOIN idx USING (h) GROUP BY g.doc_id
),
kept AS (
  SELECT t.doc_id, len(t.w) AS n_tok, COALESCE(h.starts, []) AS st,
         list_transform(
           list_filter(generate_series(1, len(t.w)), i ->
             len(list_filter(COALESCE(h.starts, []), s ->
                 i >= s AND i <= s + {_SDS_N - 1})) = 0),
           i -> t.w[i]) AS kw
  FROM itok t LEFT JOIN hits h USING (doc_id)
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(n_tok - len(kw) AS BIGINT) AS n_removed,
       CAST(CASE WHEN len(st) <= 1 THEN len(st)
            ELSE 1 + len(list_filter(generate_series(2, len(st)),
                         i -> st[i] - st[i-1] > {_SDS_N})) END
            AS BIGINT) AS n_spans,
       COALESCE(array_to_string(kw, ' '), '') AS clean_text
FROM kept
"""


@register("stream_dedup_span", oracle=_stream_span_sql())
def stream_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SPAN-level admission dedup — the last missing member
    of the admission-control family (exact ids: stream_dedup; fuzzy
    text: stream_dedup_minhash; semantic vectors:
    stream_dedup_embedding; duplicated SPANS: this). Each micro-batch
    of incoming documents has its positional 6-gram windows probed
    against the STANDING corpus's gram index
    (operators/dedup.positional_gram_index) and is admitted with every
    already-seen span excised (operators/dedup.
    span_excise_against_index) — the live form of dedup_span_exact's
    batch excision, with membership (one standing occurrence) instead
    of the corpus-wide >= 2 count, because the standing copy stays.
    The incoming fixture derives from every 19th doc: multiples of 57
    arrive as 3 fresh tokens (too short for any gram — the
    explode_outer pass-through), multiples of 38 as 7 fresh tokens
    (grams exist, none match — the left-join pass-through), the rest
    as 5 fresh tokens + the first 12 tokens of the standing doc (one
    true duplicated span: exactly those 12 tokens excise, the fresh
    prefix survives, n_spans = 1).

    Scale shape: the stream side is stateless until the per-doc
    aggregate — tokenize, positional-gram explode, stream-static LEFT
    equi-join on the uniform gram-hash key against the pinned index
    (bucketed parquet in production; no stream state for the join);
    the only stateful op groups by the incoming doc id, state bounded
    by the micro-batch's own documents (drained in complete mode here;
    a continuous deployment folds each batch via foreachBatch and
    appends accepted grams back to the index). Emitted: (doc_id,
    n_tok, n_removed, n_spans, clean_text) — the admission record."""
    from ..operators.dedup import (
        positional_gram_index,
        span_excise_against_index,
    )

    # spread=True: the standing gram index (positional explode + hash60
    # per gram) is built off this scan; unsplit it runs single-task
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    fresh = (
        lambda m: f"array_join(transform(sequence(1, {m}), k ->"
        " concat('nv', cast(doc_id as string), 'x', cast(k as string))), ' ')"
    )
    incoming = docs.filter(F.col("doc_id") % _SDS_MOD == 0).selectExpr(
        f"doc_id + {_SDS_OFFSET} AS doc_id",
        f"CASE WHEN doc_id % {_SDS_MOD * 3} = 0 THEN {fresh(3)}"
        f" WHEN doc_id % {_SDS_MOD * 2} = 0 THEN {fresh(7)}"
        f" ELSE concat({fresh(5)}, ' ',"
        f" array_join(slice(split(text, ' '), 1, {_SDS_COPY}), ' ')) END"
        " AS text",
    )
    index = pin(
        positional_gram_index(docs, "text", n=_SDS_N),
        eager=False,  # lazy — standing index materializes in batch 1
        label="sds_gram_index",
    )
    # staged once per (sf_dir, source fingerprint) — see stream_dedup_minhash
    stream_dir = ensure_staged(
        spark,
        "stream_dedup_span",
        sf_dir,
        "documents",
        lambda d: stage_batch(incoming, d, "batch1.parquet", 1),
    )
    stream = staged_stream(spark, stream_dir, "doc_id bigint, text string")
    out = span_excise_against_index(stream, index, "doc_id", "text", n=_SDS_N)
    return run_available_now(
        out, query_name="stream_dedup_span", output_mode="complete"
    )


# ---------------------------------------------------------------------------
# streaming admission E2E: the standing index GROWS with each batch
# ---------------------------------------------------------------------------

# batch-1 classes                          batch-2 classes
_SAE_CORP1 = 23   # corpus near-dups       _SAE_CORP2 = below: vs ORIGINAL index
_SAE_NOV1 = 29    # novel -> admitted      (their variants return in batch 2)
_SAE_CORP2 = 31   # corpus near-dups, caught by the ORIGINAL index entries
_SAE_NOV2 = 37    # fresh novel -> admitted
_SAE_OFF = {"corp1": 600000, "nov1": 610000, "nov1v": 620000,
            "corp2": 630000, "nov2": 640000}

# deterministic novel text: 16 unique tokens derived from doc_id (>= 3
# tokens => shingles exist; tokens unique per doc => no collisions with
# the corpus or each other). The batch-2 variant drops the first token
# (tokens 2..16 => Jaccard 14/15 vs the batch-1 original — high enough
# that the 8-hash estimate clears the 0.5 admission bar for every doc;
# at 8 tokens J=5/6 left 2 of 18 variants under the bar). Placeholders:
# {aj}=array_join/array_to_string, {tf}=transform/list_transform,
# {seq}=sequence/generate_series, {vc}=STRING/VARCHAR.
_SAE_NOVEL = (
    "{aj}({tf}({seq}({lo}, 16), k ->"
    " concat('{pfx}', CAST(doc_id AS {vc}), 'x', CAST(k AS {vc}))), ' ')"
)
_SAE_SPARK_FMT = dict(aj="array_join", tf="transform", seq="sequence",
                      vc="STRING")
_SAE_DUCK_FMT = dict(aj="array_to_string", tf="list_transform",
                     seq="generate_series", vc="VARCHAR")


def _sae_sql() -> str:
    from ..functions.hashing import XOR_SEEDS, hash60_duckdb_sql

    def sig_cte(src: str, name: str, idc: str) -> str:
        hcols = ",\n         ".join(
            f"list_min(list_transform(bh, h -> xor(h, {XOR_SEEDS[j]})))"
            f" AS h{j}"
            for j in range(8)
        )
        return f"""
tok_{name} AS (SELECT {idc}, string_split(text, ' ') AS tok FROM {src}),
sh_{name} AS (
  SELECT {idc},
         list_transform(generate_series(1, len(tok) - 2),
                        i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
           AS shingles
  FROM tok_{name} WHERE len(tok) >= 3
),
bh_{name} AS (SELECT {idc},
                     list_transform(shingles, s -> {hash60_duckdb_sql('s')})
                       AS bh
              FROM sh_{name}),
sig_{name} AS (
  SELECT {idc}, {hcols}
  FROM bh_{name}
)"""

    band_cond = " OR ".join(
        "(" + " AND ".join(f"a.h{b*2+r} = b.h{b*2+r}" for r in range(2)) + ")"
        for b in range(4)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)" for j in range(8)
    )
    hs = ", ".join(f"h{j}" for j in range(8))
    nov1 = _SAE_NOVEL.format(lo=1, pfx="nv", **_SAE_DUCK_FMT)
    nov1v = _SAE_NOVEL.format(lo=2, pfx="nv", **_SAE_DUCK_FMT)
    nov2 = _SAE_NOVEL.format(lo=1, pfx="fz", **_SAE_DUCK_FMT)
    return f"""
WITH b1 AS (
  SELECT doc_id + {_SAE_OFF["corp1"]} AS in_id,
         regexp_replace(text, '^[a-z]+ ', '') AS text
  FROM documents WHERE doc_id % {_SAE_CORP1} = 0
  UNION ALL
  SELECT doc_id + {_SAE_OFF["nov1"]} AS in_id, {nov1} AS text
  FROM documents WHERE doc_id % {_SAE_NOV1} = 0
),
b2 AS (
  SELECT doc_id + {_SAE_OFF["nov1v"]} AS in_id, {nov1v} AS text
  FROM documents WHERE doc_id % {_SAE_NOV1} = 0
  UNION ALL
  SELECT doc_id + {_SAE_OFF["corp2"]} AS in_id,
         regexp_replace(text, '^[a-z]+ ', '') AS text
  FROM documents WHERE doc_id % {_SAE_CORP2} = 0
  UNION ALL
  SELECT doc_id + {_SAE_OFF["nov2"]} AS in_id, {nov2} AS text
  FROM documents WHERE doc_id % {_SAE_NOV2} = 0
),
{sig_cte("documents", "corp", "doc_id").strip()},
{sig_cte("b1", "b1", "in_id").strip()},
{sig_cte("b2", "b2", "in_id").strip()},
hits1 AS (
  SELECT DISTINCT a.in_id
  FROM sig_b1 a JOIN sig_corp b ON ({band_cond})
  WHERE round(({agree}) / 8.0, 4) >= 0.5
),
idx2 AS (
  SELECT doc_id, {hs} FROM sig_corp
  UNION ALL
  SELECT in_id AS doc_id, {hs} FROM sig_b1
  WHERE in_id NOT IN (SELECT in_id FROM hits1)
),
hits2 AS (
  SELECT DISTINCT a.in_id
  FROM sig_b2 a JOIN idx2 b ON ({band_cond})
  WHERE round(({agree}) / 8.0, 4) >= 0.5
)
SELECT in_id, 1 AS batch,
       CASE WHEN hits1.in_id IS NULL THEN 1 ELSE 0 END AS admitted
FROM b1 LEFT JOIN hits1 USING (in_id)
UNION ALL
SELECT in_id, 2 AS batch,
       CASE WHEN hits2.in_id IS NULL THEN 1 ELSE 0 END AS admitted
FROM b2 LEFT JOIN hits2 USING (in_id)
"""


def _admission_rows(batch_df: DataFrame, hits: DataFrame) -> DataFrame:
    """One batch's (in_id, batch, admitted) ledger rows: a doc is
    rejected (0) iff it is in ``hits``, else admitted (1)."""
    return batch_df.join(hits, "in_id", "left_anti").select(
        "in_id", "batch", F.lit(1).alias("admitted")
    ).unionByName(
        batch_df.join(hits, "in_id", "left_semi").select(
            "in_id", "batch", F.lit(0).alias("admitted")
        )
    )


@register("stream_admission_e2e", oracle=_sae_sql())
def stream_admission_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission with INDEX APPEND-BACK — the loop the
    stream_dedup_* docstrings describe, demonstrated end to end
    (VERDICT r9 #5): every micro-batch is MinHash-band-probed against
    the PUBLISHED standing signature index, and each batch's ADMITTED
    signatures are merged back into the index before the next batch
    arrives (foreachBatch -> atomic publish), so the standing side
    GROWS with admissions instead of staying pinned at corpus-build
    time. The fixture proves the growth is live: batch 1 admits novel
    docs; batch 2 contains drop-first-token variants OF THOSE
    ADMISSIONS — they are caught ONLY because batch 1's signatures
    were appended (a static index, as in stream_dedup_minhash, would
    admit them). Batch 2 also carries corpus near-dups (caught by the
    ORIGINAL index entries — growth does not evict the standing side)
    and fresh novel docs (admitted). The oracle replays both batches
    sequentially as chained CTEs.

    Scale shape: the index stores SIGNATURES (8 longs per admitted
    doc), never text; each batch's work is one map-side signature
    pass plus a band equi-join against the index (bucketed-by-band
    parquet in production; MERGE INTO appends admitted signatures);
    publishes go through sources/atomic.publish_parquet so a crash
    between batches leaves a readable previous index version. Emitted:
    (in_id, batch, admitted) — the per-batch admission ledger."""
    import os

    from ..operators.dedup import _lsh_bands, minhash_signature
    from ..sources.atomic import publish_parquet, read_published
    from ..sources.staging import fs_delete
    from ..streaming.ingest import appended, fold_stream

    # spread=True: the standing index is a full-corpus minhash
    # signature (md5 per shingle) built off this scan each run (§2.5)
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    nov1 = _SAE_NOVEL.format(lo=1, pfx="nv", **_SAE_SPARK_FMT)
    nov1v = _SAE_NOVEL.format(lo=2, pfx="nv", **_SAE_SPARK_FMT)
    nov2 = _SAE_NOVEL.format(lo=1, pfx="fz", **_SAE_SPARK_FMT)
    b1 = docs.filter(F.col("doc_id") % _SAE_CORP1 == 0).selectExpr(
        f"doc_id + {_SAE_OFF['corp1']} AS in_id",
        "regexp_replace(text, '^[a-z]+ ', '') AS text",
        "CAST(1 AS INT) AS batch",
    ).unionByName(
        docs.filter(F.col("doc_id") % _SAE_NOV1 == 0).selectExpr(
            f"doc_id + {_SAE_OFF['nov1']} AS in_id",
            f"{nov1} AS text",
            "CAST(1 AS INT) AS batch",
        )
    )
    b2 = (
        docs.filter(F.col("doc_id") % _SAE_NOV1 == 0)
        .selectExpr(
            f"doc_id + {_SAE_OFF['nov1v']} AS in_id",
            f"{nov1v} AS text",
            "CAST(2 AS INT) AS batch",
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _SAE_CORP2 == 0).selectExpr(
                f"doc_id + {_SAE_OFF['corp2']} AS in_id",
                "regexp_replace(text, '^[a-z]+ ', '') AS text",
                "CAST(2 AS INT) AS batch",
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _SAE_NOV2 == 0).selectExpr(
                f"doc_id + {_SAE_OFF['nov2']} AS in_id",
                f"{nov2} AS text",
                "CAST(2 AS INT) AS batch",
            )
        )
    )
    def _stage(stream_dir: str) -> None:
        stage_batch(b1, stream_dir, "batch1.parquet", 1)
        stage_batch(b2, stream_dir, "batch2.parquet", 2)

    # incoming batches staged once per (sf_dir, source fingerprint); the GROWING
    # published index + decisions stay per-run (fresh uuid root below) —
    # the index growth IS the computation being measured
    stream_dir = ensure_staged(
        spark, "stream_admission_e2e", sf_dir, "documents", _stage
    )
    root = scratch_dir(spark, "stream_admission_e2e")
    idx_target = os.path.join(root, "index")
    dec_target = os.path.join(root, "decisions")
    # the standing index starts as the corpus's signature table
    publish_parquet(
        minhash_signature(docs, "doc_id", "text"), idx_target
    )

    hcols = [f"h{j}" for j in range(8)]

    def admit(batch_df, prev, idx):
        sig = minhash_signature(batch_df, "in_id", "text")
        a, est = _lsh_bands(sig, "in_id")
        b, _ = _lsh_bands(idx, "doc_id")
        hits = (
            a.alias("a").join(b.alias("b"), F.col("a.bk") == F.col("b.bk"))
            .select(F.col("a.in_id").alias("in_id"), est.alias("est"))
            .filter(F.col("est") >= 0.5)
            .select("in_id")
            .distinct()
        )
        # MERGE the admitted signatures into the standing index —
        # the append-back that makes batch 2 see batch 1's admissions
        admitted_sigs = sig.join(
            hits, sig.in_id == hits.in_id, "left_anti"
        ).select(F.col("in_id").alias("doc_id"), *hcols)
        return (
            appended(_admission_rows(batch_df, hits), prev),
            idx.unionByName(admitted_sigs),
        )

    fold_stream(
        staged_stream(spark, stream_dir, "in_id bigint, text string, batch int"),
        os.path.join(root, "ckpt"),
        admit,
        dec_target,
        idx_target,
    )
    final = pin(
        read_published(spark, dec_target).select("in_id", "batch", "admitted"),
        label="stream_admission_e2e",
    )
    fs_delete(root, spark)
    return final


# ---------------------------------------------------------------------------
# streaming EMBEDDING admission E2E: the sign-LSH index grows with each batch
# ---------------------------------------------------------------------------

# batch-1 classes
_SAEE_CORP1 = 11   # corpus near-dups (perturbed) -> rejected by standing idx
_SAEE_NOV1 = 13    # negated -> admitted (their variants return in batch 2)
# batch-2 classes
_SAEE_CORP2 = 17   # corpus near-dups -> caught by the ORIGINAL index entries
_SAEE_NOV2 = 19    # reversed -> fresh novel, admitted
_SAEE_OFF = {"corp1": 700000, "nov1": 710000, "nov1v": 720000,
             "corp2": 730000, "nov2": 740000}
_SAEE_THRESH = 0.99


def _saee_sql() -> str:
    bucket = (
        "CAST(sum(CASE WHEN list_dot_product({v}, pl.pv) > 0"
        "              THEN 1 << CAST(pl.pid - 1 AS INT) ELSE 0 END)"
        "     AS BIGINT) AS bucket"
    )
    cos = (
        "round(list_dot_product(i.v, c.v) /"
        " (sqrt(list_dot_product(i.v, i.v)) *"
        "  sqrt(list_dot_product(c.v, c.v))), 4)"
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pl AS (SELECT CAST(vec_id AS INT) AS pid, v AS pv
       FROM base WHERE vec_id BETWEEN 1 AND 8),
b1 AS (
  SELECT vec_id + {_SAEE_OFF["corp1"]} AS in_id,
         [v[1] + 0.01] || v[2:] AS v
  FROM base WHERE vec_id % {_SAEE_CORP1} = 0
  UNION ALL
  SELECT vec_id + {_SAEE_OFF["nov1"]} AS in_id,
         list_transform(v, x -> -x) AS v
  FROM base WHERE vec_id % {_SAEE_NOV1} = 0
),
b2 AS (
  SELECT vec_id + {_SAEE_OFF["nov1v"]} AS in_id,
         [-(v[1]) + 0.001] || list_transform(v[2:], x -> -x) AS v
  FROM base WHERE vec_id % {_SAEE_NOV1} = 0
  UNION ALL
  SELECT vec_id + {_SAEE_OFF["corp2"]} AS in_id,
         [v[1] + 0.02] || v[2:] AS v
  FROM base WHERE vec_id % {_SAEE_CORP2} = 0
  UNION ALL
  SELECT vec_id + {_SAEE_OFF["nov2"]} AS in_id,
         list_reverse(v) AS v
  FROM base WHERE vec_id % {_SAEE_NOV2} = 0
),
cb AS (
  SELECT c.vec_id AS id, c.v, {bucket.format(v="c.v")}
  FROM base c CROSS JOIN pl GROUP BY c.vec_id, c.v
),
ib1 AS (
  SELECT i.in_id, i.v, {bucket.format(v="i.v")}
  FROM b1 i CROSS JOIN pl GROUP BY i.in_id, i.v
),
ib2 AS (
  SELECT i.in_id, i.v, {bucket.format(v="i.v")}
  FROM b2 i CROSS JOIN pl GROUP BY i.in_id, i.v
),
hits1 AS (
  SELECT DISTINCT i.in_id
  FROM ib1 i JOIN cb c ON i.bucket = c.bucket
  WHERE {cos} >= {_SAEE_THRESH}
),
idx2 AS (
  SELECT id, v, bucket FROM cb
  UNION ALL
  SELECT in_id AS id, v, bucket FROM ib1
  WHERE in_id NOT IN (SELECT in_id FROM hits1)
),
hits2 AS (
  SELECT DISTINCT i.in_id
  FROM ib2 i JOIN idx2 c ON i.bucket = c.bucket
  WHERE {cos} >= {_SAEE_THRESH}
)
SELECT in_id, 1 AS batch,
       CASE WHEN hits1.in_id IS NULL THEN 1 ELSE 0 END AS admitted
FROM b1 LEFT JOIN hits1 USING (in_id)
UNION ALL
SELECT in_id, 2 AS batch,
       CASE WHEN hits2.in_id IS NULL THEN 1 ELSE 0 END AS admitted
FROM b2 LEFT JOIN hits2 USING (in_id)
"""


@register("stream_admission_embedding", oracle=_saee_sql())
def stream_admission_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMBEDDING admission with INDEX APPEND-BACK — the
    semantic-vector sibling of stream_admission_e2e (which grows a
    MinHash signature index): every micro-batch of incoming vectors is
    sign-LSH-bucket-probed against the PUBLISHED standing index and
    each batch's ADMITTED (id, vector, bucket) rows are merged back
    before the next batch arrives, so near-dup admission tracks the
    live corpus instead of corpus-build time. The fixture proves the
    growth: batch 1 admits negated corpus vectors (cosine -1 to their
    sources — novel by construction); batch 2 carries perturbed
    variants OF THOSE ADMISSIONS (caught only because batch 1's
    vectors were appended — a static index, as in
    stream_dedup_embedding, would admit them), perturbed corpus
    vectors (caught by the ORIGINAL entries — growth does not evict
    the standing side), and reversed vectors (fresh novel, admitted).

    Scale shape: the index stores one (id, vector, bucket) row per
    admitted vector, bucketed by the LSH key in production so the
    per-batch probe is a bucket equi-join + JVM-side cosine — never
    O(batch x corpus); the batch's own bucket is a pure column fold
    over the ONE broadcast hyperplane row (operators/similarity.
    with_lsh_bucket). Publishes go through sources/atomic.
    publish_parquet, so a crash between batches leaves a readable
    previous index version. Emitted: (in_id, batch, admitted) — the
    per-batch admission ledger."""
    import os

    from ..functions.arrays import as_double_array
    from ..operators import similarity as S
    from ..operators.dedup import embedding_near_dup_join
    from ..sources.atomic import publish_parquet, read_published
    from ..sources.staging import fs_delete
    from ..streaming.ingest import appended, fold_stream

    base = pin(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_array("embedding").alias("v")
        ),
        label="saee_base",
    )
    planes = base.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").cast("int").alias("pid"), "v"
    )
    perturb1 = F.concat(
        F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, 63)
    )
    negate = F.transform("v", lambda x: -x)
    nov1v = F.concat(
        F.array(-F.element_at("v", 1) + 0.001),
        F.transform(F.slice("v", 2, 63), lambda x: -x),
    )
    perturb2 = F.concat(
        F.array(F.element_at("v", 1) + 0.02), F.slice("v", 2, 63)
    )
    b1 = base.filter(F.col("vec_id") % _SAEE_CORP1 == 0).select(
        (F.col("vec_id") + _SAEE_OFF["corp1"]).alias("in_id"),
        perturb1.alias("v"),
        F.lit(1).cast("int").alias("batch"),
    ).unionByName(
        base.filter(F.col("vec_id") % _SAEE_NOV1 == 0).select(
            (F.col("vec_id") + _SAEE_OFF["nov1"]).alias("in_id"),
            negate.alias("v"),
            F.lit(1).cast("int").alias("batch"),
        )
    )
    b2 = (
        base.filter(F.col("vec_id") % _SAEE_NOV1 == 0)
        .select(
            (F.col("vec_id") + _SAEE_OFF["nov1v"]).alias("in_id"),
            nov1v.alias("v"),
            F.lit(2).cast("int").alias("batch"),
        )
        .unionByName(
            base.filter(F.col("vec_id") % _SAEE_CORP2 == 0).select(
                (F.col("vec_id") + _SAEE_OFF["corp2"]).alias("in_id"),
                perturb2.alias("v"),
                F.lit(2).cast("int").alias("batch"),
            )
        )
        .unionByName(
            base.filter(F.col("vec_id") % _SAEE_NOV2 == 0).select(
                (F.col("vec_id") + _SAEE_OFF["nov2"]).alias("in_id"),
                F.reverse("v").alias("v"),
                F.lit(2).cast("int").alias("batch"),
            )
        )
    )
    def _stage(stream_dir: str) -> None:
        stage_batch(b1, stream_dir, "batch1.parquet", 1)
        stage_batch(b2, stream_dir, "batch2.parquet", 2)

    # incoming batches staged once per (sf_dir, source fingerprint); the growing
    # published index + decisions stay per-run — see stream_admission_e2e
    stream_dir = ensure_staged(
        spark, "stream_admission_embedding", sf_dir, "embeddings", _stage
    )
    root = scratch_dir(spark, "stream_admission_embedding")
    idx_target = os.path.join(root, "index")
    dec_target = os.path.join(root, "decisions")
    # the standing index starts as the corpus's (id, vector, bucket) table
    publish_parquet(
        S.with_lsh_bucket(base, "vec_id", "v", planes, "pid", 8).select(
            "vec_id", "v", "bucket"
        ),
        idx_target,
    )

    def admit(batch_df, prev, idx):
        bk = S.with_lsh_bucket(batch_df, "in_id", "v", planes, "pid", 8)
        hits = (
            embedding_near_dup_join(
                bk.withColumnRenamed("in_id", "vec_id"),
                idx,
                "vec_id",
                "v",
                "bucket",
                threshold=_SAEE_THRESH,
            )
            .select(F.col("batch_id").alias("in_id"))
            .distinct()
        )
        # MERGE the admitted vectors into the standing index — the
        # append-back that makes batch 2 see batch 1's admissions
        admitted = bk.join(hits, "in_id", "left_anti").select(
            F.col("in_id").alias("vec_id"), "v", "bucket"
        )
        return (
            appended(_admission_rows(batch_df, hits), prev),
            idx.unionByName(admitted),
        )

    fold_stream(
        staged_stream(
            spark, stream_dir, "in_id bigint, v array<double>, batch int"
        ),
        os.path.join(root, "ckpt"),
        admit,
        dec_target,
        idx_target,
    )
    final = pin(
        read_published(spark, dec_target).select("in_id", "batch", "admitted"),
        label="stream_admission_embedding",
    )
    fs_delete(root, spark)
    return final


# ---------------------------------------------------------------------------
# streaming SPAN admission E2E: the positional gram index grows per batch
# ---------------------------------------------------------------------------

# batch-1 classes
_SAS_CORP1 = 21   # 4 fresh + 14 corpus-copied tokens -> rejected (14/18)
_SAS_NOV1 = 23    # 16 fresh 'sa' tokens -> admitted (their prefix returns)
# batch-2 classes
_SAS_CORP2 = 29   # 4 fresh + 14 corpus-copied -> caught by ORIGINAL grams
_SAS_NOV2 = 31    # 16 fresh 'sc' tokens -> admitted
_SAS_OFF = {"corp1": 800000, "nov1": 810000, "ret": 820000,
            "corp2": 830000, "nov2": 840000}
_SAS_N = 6        # gram window (same as dedup_span_exact)
_SAS_COPY = 14    # corpus tokens copied into the corpcopy classes
_SAS_RET = 12     # admitted-novel tokens copied into the return class


def _sas_fresh_duck(pfx: str, m: int) -> str:
    return (
        f"array_to_string(list_transform(generate_series(1, {m}),"
        f" k -> '{pfx}' || doc_id || 'x' || k), ' ')"
    )


def _sas_fresh_spark(pfx: str, m: int) -> str:
    return (
        f"array_join(transform(sequence(1, {m}), k ->"
        f" concat('{pfx}', cast(doc_id as string), 'x',"
        " cast(k as string))), ' ')"
    )


def _sas_sql() -> str:
    from ..functions.hashing import hash60_duckdb_sql

    gram = hash60_duckdb_sql(
        f"array_to_string(w[i:i+{_SAS_N - 1}], ' ')"
    )

    def batch_ctes(name: str, src: str, idx: str) -> str:
        return f"""
tok_{name} AS (SELECT in_id, string_split(text, ' ') AS w FROM {src}),
gr_{name} AS (
  SELECT in_id, i AS pos, {gram} AS h
  FROM tok_{name},
       unnest(generate_series(1, len(w) - {_SAS_N - 1})) AS t(i)
  WHERE len(w) >= {_SAS_N}
),
hits_{name} AS (
  SELECT g.in_id, list_sort(list(DISTINCT g.pos)) AS starts
  FROM gr_{name} g JOIN {idx} USING (h) GROUP BY g.in_id
),
dec_{name} AS (
  SELECT t.in_id, CAST(len(t.w) AS BIGINT) AS n_tok,
         CAST(len(t.w) - len(list_filter(generate_series(1, len(t.w)),
              i -> len(list_filter(COALESCE(h.starts, []), s ->
                   i >= s AND i <= s + {_SAS_N - 1})) = 0)) AS BIGINT)
           AS n_removed
  FROM tok_{name} t LEFT JOIN hits_{name} h USING (in_id)
)"""

    c1 = _sas_fresh_duck("sf", 4)
    n1 = _sas_fresh_duck("sa", 16)
    r12 = _sas_fresh_duck("sa", _SAS_RET)
    rtail = _sas_fresh_duck("sb", 4)
    c2 = _sas_fresh_duck("sg", 4)
    n2 = _sas_fresh_duck("sc", 16)
    return f"""
WITH ctok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (
  SELECT DISTINCT {gram} AS h
  FROM ctok, unnest(generate_series(1, len(w) - {_SAS_N - 1})) AS t(i)
  WHERE len(w) >= {_SAS_N}
),
b1 AS (
  SELECT doc_id + {_SAS_OFF["corp1"]} AS in_id,
         {c1} || ' ' || array_to_string(w[1:{_SAS_COPY}], ' ') AS text
  FROM ctok WHERE doc_id % {_SAS_CORP1} = 0
  UNION ALL
  SELECT doc_id + {_SAS_OFF["nov1"]} AS in_id, {n1} AS text
  FROM documents WHERE doc_id % {_SAS_NOV1} = 0
),
b2 AS (
  SELECT doc_id + {_SAS_OFF["ret"]} AS in_id,
         {r12} || ' ' || {rtail} AS text
  FROM documents WHERE doc_id % {_SAS_NOV1} = 0
  UNION ALL
  SELECT doc_id + {_SAS_OFF["corp2"]} AS in_id,
         {c2} || ' ' || array_to_string(w[1:{_SAS_COPY}], ' ') AS text
  FROM ctok WHERE doc_id % {_SAS_CORP2} = 0
  UNION ALL
  SELECT doc_id + {_SAS_OFF["nov2"]} AS in_id, {n2} AS text
  FROM documents WHERE doc_id % {_SAS_NOV2} = 0
),
{batch_ctes("b1", "b1", "idx").strip()},
adm1 AS (SELECT in_id FROM dec_b1 WHERE 2 * n_removed < n_tok),
idx2 AS (
  SELECT h FROM idx
  UNION
  SELECT DISTINCT g.h FROM gr_b1 g JOIN adm1 USING (in_id)
),
{batch_ctes("b2", "b2", "idx2").strip()}
SELECT in_id, 1 AS batch, n_tok, n_removed,
       CASE WHEN 2 * n_removed < n_tok THEN 1 ELSE 0 END AS admitted
FROM dec_b1
UNION ALL
SELECT in_id, 2 AS batch, n_tok, n_removed,
       CASE WHEN 2 * n_removed < n_tok THEN 1 ELSE 0 END AS admitted
FROM dec_b2
"""


@register("stream_admission_span", oracle=_sas_sql())
def stream_admission_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SPAN admission with INDEX APPEND-BACK — the third and
    last modality of the admission-growth family (fuzzy text:
    stream_admission_e2e; semantic vectors: stream_admission_embedding;
    duplicated spans: this): every micro-batch's positional 6-gram
    windows probe the PUBLISHED standing gram index, a document is
    admitted iff duplicated spans cover < 50% of its tokens, and each
    batch's ADMITTED documents contribute their distinct gram hashes
    back to the index before the next batch. The fixture proves the
    growth: batch 1 admits 16-fresh-token docs; batch 2 carries their
    12-token PREFIXES (plus fresh tails) — those prefixes share zero
    content with the corpus, so they are rejected only because batch
    1's grams were appended — alongside corpus-copy docs (caught by
    the ORIGINAL entries) and fresh novel docs (admitted).

    Scale shape: the index stores distinct gram HASHES (one long per
    distinct admitted n-gram — membership, not counts, per
    operators/dedup.positional_gram_index), per-batch work is one
    stateless gram explode + a stream-static equi-join on the uniform
    hash key + a per-doc aggregate bounded by the micro-batch;
    append-back is a distinct-union MERGE (bucketed parquet in
    production). Publishes go through sources/atomic.publish_parquet.
    Emitted: (in_id, batch, n_tok, n_removed, admitted)."""
    import os

    from ..operators.dedup import (
        positional_gram_index,
        span_excise_against_index,
    )
    from ..sources.atomic import publish_parquet, read_published
    from ..sources.staging import fs_delete
    from ..streaming.ingest import appended, fold_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copy14 = f"array_join(slice(split(text, ' '), 1, {_SAS_COPY}), ' ')"
    b1 = docs.filter(F.col("doc_id") % _SAS_CORP1 == 0).selectExpr(
        f"doc_id + {_SAS_OFF['corp1']} AS in_id",
        f"concat({_sas_fresh_spark('sf', 4)}, ' ', {copy14}) AS text",
        "CAST(1 AS INT) AS batch",
    ).unionByName(
        docs.filter(F.col("doc_id") % _SAS_NOV1 == 0).selectExpr(
            f"doc_id + {_SAS_OFF['nov1']} AS in_id",
            f"{_sas_fresh_spark('sa', 16)} AS text",
            "CAST(1 AS INT) AS batch",
        )
    )
    b2 = (
        docs.filter(F.col("doc_id") % _SAS_NOV1 == 0)
        .selectExpr(
            f"doc_id + {_SAS_OFF['ret']} AS in_id",
            f"concat({_sas_fresh_spark('sa', _SAS_RET)}, ' ',"
            f" {_sas_fresh_spark('sb', 4)}) AS text",
            "CAST(2 AS INT) AS batch",
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _SAS_CORP2 == 0).selectExpr(
                f"doc_id + {_SAS_OFF['corp2']} AS in_id",
                f"concat({_sas_fresh_spark('sg', 4)}, ' ', {copy14}) AS text",
                "CAST(2 AS INT) AS batch",
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _SAS_NOV2 == 0).selectExpr(
                f"doc_id + {_SAS_OFF['nov2']} AS in_id",
                f"{_sas_fresh_spark('sc', 16)} AS text",
                "CAST(2 AS INT) AS batch",
            )
        )
    )
    def _stage(stream_dir: str) -> None:
        stage_batch(b1, stream_dir, "batch1.parquet", 1)
        stage_batch(b2, stream_dir, "batch2.parquet", 2)

    # incoming batches staged once per (sf_dir, source fingerprint); the growing
    # published index + decisions stay per-run — see stream_admission_e2e
    stream_dir = ensure_staged(
        spark, "stream_admission_span", sf_dir, "documents", _stage
    )
    root = scratch_dir(spark, "stream_admission_span")
    idx_target = os.path.join(root, "index")
    dec_target = os.path.join(root, "decisions")
    publish_parquet(
        positional_gram_index(docs, "text", n=_SAS_N), idx_target
    )

    def admit(batch_df, prev, idx):
        exc = span_excise_against_index(
            batch_df.select("in_id", "text"), idx, "in_id", "text", n=_SAS_N
        )
        dec_this = exc.join(
            batch_df.select("in_id", "batch"), "in_id"
        ).selectExpr(
            "in_id",
            "batch",
            "CAST(n_tok AS BIGINT) AS n_tok",
            "CAST(n_removed AS BIGINT) AS n_removed",
            "CASE WHEN 2 * n_removed < n_tok THEN 1 ELSE 0 END AS admitted",
        )
        # MERGE admitted documents' grams into the standing index —
        # the append-back batch 2's return-class rejections depend on
        adm = dec_this.filter("admitted = 1").select("in_id")
        adm_grams = positional_gram_index(
            batch_df.join(adm, "in_id", "left_semi"), "text", n=_SAS_N
        )
        return (
            appended(dec_this, prev),
            idx.unionByName(adm_grams).distinct(),
        )

    fold_stream(
        staged_stream(spark, stream_dir, "in_id bigint, text string, batch int"),
        os.path.join(root, "ckpt"),
        admit,
        dec_target,
        idx_target,
    )
    final = pin(
        read_published(spark, dec_target).select(
            "in_id", "batch", "n_tok", "n_removed", "admitted"
        ),
        label="stream_admission_span",
    )
    fs_delete(root, spark)
    return final


# ---------------------------------------------------------------------------
# streaming DP release: per-batch noisy counts + cumulative budget ledger
# ---------------------------------------------------------------------------

_SDP_BATCHES = 3
_SDP_EPS = 0.5          # per-release epsilon

from ..functions.privacy import seeded_laplace_sql as _slap  # noqa: E402


def _sdp_noise(seed_expr: str, hash_fn) -> str:
    """Laplace(1/eps) via the shared seeded mechanism
    (functions/privacy.py holds the exact-dyadic argument)."""
    return _slap(seed_expr, f"1.0 / {_SDP_EPS}", hash_fn)


def _sdp_sql() -> str:
    from ..functions.hashing import hash60_duckdb_sql

    noise = _sdp_noise(
        "'sdp:' || o_orderpriority || ':' || CAST(b AS VARCHAR)",
        hash60_duckdb_sql,
    )
    return f"""
WITH src AS (
  SELECT o_orderpriority, o_orderkey % {_SDP_BATCHES} + 1 AS b FROM orders
)
SELECT b AS batch, o_orderpriority AS prio,
       round(count(*) + {noise}, 4) AS n_noisy,
       round({_SDP_EPS} * b, 4) AS eps_spent
FROM src GROUP BY b, o_orderpriority
"""


@register("stream_dp_release", oracle=_sdp_sql())
def stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP under CONTINUAL OBSERVATION: the orders stream arrives in 3
    micro-batches and every batch publishes per-priority counts through
    the seeded-Laplace mechanism with a FRESH seed per (group, batch).
    Composition accounting: at EVENT level (one order is the protected
    unit) the batches partition orders disjointly by o_orderkey, so the
    releases compose in PARALLEL and the whole drained stream costs
    eps = 0.5 total. The ledger's eps_spent = 0.5 x batches-so-far is
    the deliberately looser sequential-composition sum — the right
    alert line when the adversary's target may span batches (e.g. a
    customer whose orders land in several micro-batches; a full
    user-level guarantee would additionally require bounding per-user
    contributions per batch, which this demo does not do). Each
    batch's release depends only on that batch's rows, so a replayed
    or late batch re-derives the identical noise (the seed is the
    batch tag, not wall-clock) — deterministic for the gate, and the
    production swap is the same secret-seed move as agg_dp_counts.
    Emitted: (batch, prio, n_noisy, eps_spent) — the full release
    ledger after the stream drains. The oracle replays the batch split
    as a GROUP BY, proving the micro-batch path changes execution, not
    values: per-batch foreachBatch releases, appended through the
    atomic publish layer, equal the batch-computed ledger."""
    import os

    from ..functions.hashing import hash60_spark_sql
    from ..sources.atomic import read_published
    from ..sources.staging import fs_delete
    from ..streaming.ingest import appended, fold_stream

    noise = _sdp_noise(
        "concat('sdp:', prio, ':', CAST(batch AS STRING))",
        hash60_spark_sql,
    )
    def _stage(stream_dir: str) -> None:
        # loaded only to re-stage (see stream_stateful_admission)
        o = load(spark, sf_dir, "orders").selectExpr(
            "o_orderpriority AS prio",
            f"o_orderkey % {_SDP_BATCHES} + 1 AS batch",
        )
        for i in range(1, _SDP_BATCHES + 1):
            stage_batch(
                o.filter(F.col("batch") == i), stream_dir,
                f"batch{i}.parquet", i,
            )

    # incoming batches staged once per (sf_dir, source fingerprint); the budget
    # ledger stays per-run — the cumulative release IS the computation
    stream_dir = ensure_staged(
        spark, "stream_dp_release", sf_dir, "orders", _stage
    )
    root = scratch_dir(spark, "stream_dp_release")
    led_target = os.path.join(root, "ledger")

    def release(batch_df, prev):
        rel = batch_df.groupBy("batch", "prio").agg(
            F.expr(f"round(count(*) + {noise}, 4) AS n_noisy"),
            F.expr(f"round({_SDP_EPS} * min(batch), 4) AS eps_spent"),
        )
        return appended(rel, prev)

    fold_stream(
        staged_stream(spark, stream_dir, "prio string, batch bigint"),
        os.path.join(root, "ckpt"),
        release,
        led_target,
    )
    final = pin(
        read_published(spark, led_target).select(
            "batch", "prio", "n_noisy", "eps_spent"
        ),
        label="stream_dp_release",
    )
    fs_delete(root, spark)
    return final


# ---------------------------------------------------------------------------
# streaming custom connector (Spark 4 Python Data Source, stream side)
# ---------------------------------------------------------------------------

_SPYDS_PAGE = 100
_SPYDS_PAGES = 3

_SPYDS_SQL = f"""
WITH rows_all AS (
  SELECT i AS id,
         CAST(CAST('0x' || substr(md5('spyds:' || CAST(i AS VARCHAR)), 1, 15)
              AS BIGINT) % 10 AS INT) AS bucket
  FROM generate_series(0, {_SPYDS_PAGE * _SPYDS_PAGES - 1}) g(i)
)
SELECT CAST(id // {_SPYDS_PAGE} AS INT) AS page, count(*) AS n_rows,
       min(id) AS min_id, max(id) AS max_id,
       CAST(sum(bucket) AS BIGINT) AS sum_bucket
FROM rows_all GROUP BY 1
"""


@register("stream_python_datasource", oracle=_SPYDS_SQL)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom connector on Spark 4's Python Data Source API
    (SimpleDataSourceStreamReader — the stream half of
    src_python_datasource's batch reader): the source serves a
    deterministic paginated feed ({pages} pages x {page} rows) through
    the OFFSET CONTRACT — initialOffset/read(start) -> (rows,
    nextOffset) — and the engine checkpoints those offsets, which is
    what buys exactly-once across restarts for a connector to a system
    with no native reader (an internal feed API, a paginated export).
    The drain loop below restarts the query once per page against the
    SAME checkpoint: each start resumes from the committed offset and
    ingests exactly one new page into the parquet sink — a restart
    drill per micro-batch, not just one lucky pass; offsets exhaust at
    page {pages} and later drains append nothing (re-invocations are
    idempotent, which the bench's repeat runs rely on). Output is the
    per-page accounting of everything landed; rows carry the engine's
    md5-hash60 bucket so the oracle reproduces the connector's payload
    exactly, covering plan -> Python stream worker -> Arrow -> sink.

    Scale judgment: same as the batch connector — Python-side read is
    for the ingest EDGE; land once (this key's parquet sink IS that
    landing), then downstream reads columnar. State is one tiny offset
    JSON per micro-batch."""
    import os

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    page, pages = _SPYDS_PAGE, _SPYDS_PAGES

    class _FeedReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            import hashlib

            i = start["i"]
            if i >= page * pages:
                return iter([]), start
            rows = [
                (
                    j,
                    int(
                        hashlib.md5(f"spyds:{j}".encode()).hexdigest()[:15],
                        16,
                    )
                    % 10,
                )
                for j in range(i, i + page)
            ]
            return iter(rows), {"i": i + page}

        def readBetweenOffsets(self, start, end):
            # replay path (post-failure re-read of a committed range)
            import hashlib

            return iter(
                (
                    j,
                    int(
                        hashlib.md5(f"spyds:{j}".encode()).hexdigest()[:15],
                        16,
                    )
                    % 10,
                )
                for j in range(start["i"], end["i"])
            )

    class _FeedSource(DataSource):
        @classmethod
        def name(cls):
            return "spark_graft_seqstream"

        def schema(self):
            return "id bigint, bucket int"

        def simpleStreamReader(self, schema):
            return _FeedReader()

    spark.dataSource.register(_FeedSource)
    # Fingerprint the feed constants into the stable scratch name: the
    # committed streaming offsets and landed rows are only valid for ONE
    # (page, pages) feed shape, so a constant change (or a stale dir
    # from an older code version) must land on a fresh checkpoint+sink
    # instead of silently mixing with the old feed (ADVICE r12).
    root = scratch_dir(
        spark, f"spyds_{_SPYDS_PAGE}x{_SPYDS_PAGES}", stable=True
    )
    sink = os.path.join(root, "landed")
    ckpt = os.path.join(root, "ckpt")
    stream = spark.readStream.format("spark_graft_seqstream").load()
    for _ in range(pages):
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    landed = spark.read.schema("id bigint, bucket int").parquet(sink)
    return landed.groupBy(
        (F.col("id") / page).cast("int").alias("page")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.sum("bucket").alias("sum_bucket"),
    )


stream_python_datasource.__doc__ = stream_python_datasource.__doc__.format(
    pages=_SPYDS_PAGES, page=_SPYDS_PAGE
)
