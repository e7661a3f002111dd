"""Upsert/merge and incremental-semantics queries (SURVEY.md §2.1 sinks,
§2.4 join_merge_key, §2.8 incremental).

The 'base snapshot' and 'update batch' are both carved deterministically
out of the testdata tables so the merge result is SQL-checkable.
"""

from __future__ import annotations

_DELETE_WHERE_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier WHERE NOT (s_acctbal < 0 AND s_nationkey % 2 = 0)
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import pin
from ..operators.merge import (
    merge_full_outer,
    merge_scd2,
    merge_scd2_multi,
    upsert_snapshot,
)
from ..sources.staging import run_root
from .registry import load, register


_JDBC_UPSERT_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 4 <> 0
), upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
UNION ALL
SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
FROM base b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
WHERE u.o_orderkey IS NULL
"""


def _orders_base_and_updates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # pinned: base + updates both derive from this projection and each
    # upsert application reads both sides — inc_daily_snapshot's double
    # application read orders 6x unpinned (max_rescan audit, round 7)
    o = pin(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        label="orders_src",
    )
    base = o.filter(F.col("o_orderkey") % 4 != 0)
    updates = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    return base, updates


@register("sink_jdbc_upsert", oracle=_JDBC_UPSERT_SQL)
def sink_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational upsert sink keyed on id: updates replace, new rows insert.

    Reference: insert_rows(upsert=True, replace=True, replace_index='id')
    into 5 tables, Airbnb_Listings_ETL.py:143-151 (row-at-a-time RPCs).
    Spark: one set-oriented anti-join + union — a single shuffle on the
    key, idempotent, safe to re-run (operators/merge.py).
    """
    base, updates = _orders_base_and_updates(spark, sf_dir)
    return upsert_snapshot(base, updates, ["o_orderkey"])


_DOC_UPSERT_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_mktsegment FROM customer
), upd AS (
  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 5 = 0
)
SELECT c_custkey, c_name, c_mktsegment FROM upd
UNION ALL
SELECT b.c_custkey, b.c_name, b.c_mktsegment
FROM base b LEFT JOIN upd u ON b.c_custkey = u.c_custkey AND b.c_name = u.c_name
WHERE u.c_custkey IS NULL
"""


@register("sink_doc_upsert", oracle=_DOC_UPSERT_SQL)
def sink_doc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document upsert keyed on the composite (id, listing_url).

    Reference: replace_one(filter={'id','listing_url'}, upsert=True) per
    document in a Python loop — one RPC per doc
    (Airbnb_Listings_ETL.py:182-207). Spark: the same composite-key merge
    as the relational sink; one shuffle, no loop.
    """
    # pinned: base, the update batch and the merge's two sides all
    # derive from this projection (3 customer scans unpinned; r7)
    docs = pin(
        load(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        ),
        label="docup_src",
    )
    updates = docs.filter(F.col("c_custkey") % 5 == 0).withColumn(
        "c_mktsegment", F.lit("UPDATED")
    )
    return upsert_snapshot(docs, updates, ["c_custkey", "c_name"])


_MERGE_KEY_SQL = """
WITH base AS (
  SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey % 3 <> 0
), upd AS (
  SELECT s_suppkey, s_name, s_acctbal + 500.0 AS s_acctbal
  FROM supplier WHERE s_suppkey % 2 = 0
)
SELECT coalesce(u.s_suppkey, b.s_suppkey) AS s_suppkey,
       coalesce(u.s_name, b.s_name) AS s_name,
       coalesce(u.s_acctbal, b.s_acctbal) AS s_acctbal
FROM base b FULL OUTER JOIN upd u ON b.s_suppkey = u.s_suppkey
"""


@register("join_merge_key", oracle=_MERGE_KEY_SQL)
def join_merge_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-matched merge join: MERGE INTO emulation via full-outer + COALESCE.

    Reference: the sink-side key-matched upsert joins
    (Airbnb_Listings_ETL.py:182-207, Airbnb_Review_ETL.py:100-111). With a
    Delta/Iceberg catalog this is literally `MERGE INTO`; without the jar
    the engine emulates it with one full-outer join (SURVEY.md §4).
    """
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    base = s.filter(F.col("s_suppkey") % 3 != 0)
    updates = s.filter(F.col("s_suppkey") % 2 == 0).withColumn(
        "s_acctbal", F.col("s_acctbal") + 500.0
    )
    return merge_full_outer(base, updates, ["s_suppkey"])


@register("inc_daily_snapshot", oracle=_JDBC_UPSERT_SQL)
def inc_daily_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily re-run idempotence: applying the same batch twice == once.

    Reference: daily schedule + upsert (Airbnb_Listings_ETL.py:229,143-151)
    relies on the DB for idempotence; here the merge operator itself is
    idempotent — this query applies the batch TWICE and the oracle applies
    it once, so the hash-match proves f(f(x)) = f(x).
    """
    base, updates = _orders_base_and_updates(spark, sf_dir)
    once = upsert_snapshot(base, updates, ["o_orderkey"])
    return upsert_snapshot(once, updates, ["o_orderkey"])


_SCD2_SQL = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, '2024-01-01' AS valid_from,
         CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
  FROM customer
), hist AS (
  SELECT c_custkey, 'OLD' AS c_mktsegment, '2023-01-01' AS valid_from,
         '2024-01-01' AS valid_to, FALSE AS is_current
  FROM customer WHERE c_custkey % 10 = 0
), upd AS (
  SELECT c_custkey, 'MACHINERY' AS c_mktsegment, '2024-06-01' AS eff
  FROM customer WHERE c_custkey % 4 = 0
), changed AS (
  SELECT cur.c_custkey FROM cur JOIN upd USING (c_custkey)
  WHERE cur.c_mktsegment <> upd.c_mktsegment
)
SELECT * FROM hist
UNION ALL
SELECT * FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT cur.c_custkey, cur.c_mktsegment, cur.valid_from, upd.eff AS valid_to,
       FALSE AS is_current
FROM cur JOIN changed USING (c_custkey) JOIN upd USING (c_custkey)
UNION ALL
SELECT upd.c_custkey, upd.c_mktsegment, upd.eff AS valid_from,
       CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
FROM upd JOIN changed USING (c_custkey)
"""


def _scd2_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(source, dimension) for the two SCD2 sink keys: the pinned
    customer (c_custkey, c_mktsegment) projection, and the dimension
    they merge into — every customer's current segment since
    2024-01-01, plus a closed 'OLD' 2023 segment for every 10th
    custkey."""
    # pinned: the dimension, the change batch and the merge all read it
    # again — unpinned, the final plans read customer 7 (sink_scd2) and
    # 27 (sink_scd2_multi) times (max_rescan audit column, round 7)
    c = pin(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        label="scd2_src",
    )
    cur = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("OLD").alias("c_mktsegment"),
        F.lit("2023-01-01").alias("valid_from"),
        F.lit("2024-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    return c, cur.unionByName(hist)


@register("sink_scd2", oracle=_SCD2_SQL)
def sink_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: a segment-change batch
    closes each changed key's current row (valid_to = effective date)
    and appends the new version; unchanged keys (including updates that
    carry the same value — the no-op case) and closed history pass
    through. The reference's replace-style upsert (Airbnb_Listings_ETL
    .py:143-151) destroys history; SCD2 is what a warehouse keeps
    instead, and it is one shuffle join here (operators/merge.py
    merge_scd2), not a per-row UPDATE loop."""
    c, base = _scd2_fixture(spark, sf_dir)
    updates = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.lit("MACHINERY").alias("c_mktsegment"),
        F.lit("2024-06-01").alias("eff"),
    )
    return merge_scd2(
        base, updates, keys=["c_custkey"], tracked=["c_mktsegment"], effective="eff"
    )


_SCD2_MULTI_SQL = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, '2024-01-01' AS valid_from,
         CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
  FROM customer
), hist AS (
  SELECT c_custkey, 'OLD' AS c_mktsegment, '2023-01-01' AS valid_from,
         '2024-01-01' AS valid_to, FALSE AS is_current
  FROM customer WHERE c_custkey % 10 = 0
), upd AS (
  SELECT c_custkey, c_mktsegment, '2024-02-01' AS eff
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL SELECT c_custkey, 'PHASE1', '2024-04-01'
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL SELECT c_custkey, 'PHASE1', '2024-07-01'
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL SELECT c_custkey, 'PHASE2', '2024-09-01'
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL SELECT c_custkey, c_mktsegment, '2024-05-01'
  FROM customer WHERE c_custkey % 4 = 2
  UNION ALL SELECT -c_custkey, 'NEWSEG_A', '2024-03-01'
  FROM customer WHERE c_custkey % 6 = 0
  UNION ALL SELECT -c_custkey, 'NEWSEG_B', '2024-08-01'
  FROM customer WHERE c_custkey % 6 = 0
), ordered AS (
  SELECT u.c_custkey, u.c_mktsegment, u.eff,
         b.c_mktsegment AS base_seg, b.c_custkey IS NOT NULL AS has_base,
         row_number() OVER (PARTITION BY u.c_custkey
                            ORDER BY u.eff, u.c_mktsegment) AS seq,
         lag(u.c_mktsegment) OVER (PARTITION BY u.c_custkey
                                   ORDER BY u.eff, u.c_mktsegment) AS prev_seg
  FROM upd u LEFT JOIN cur b ON b.c_custkey = u.c_custkey
), surv AS (
  SELECT * FROM ordered
  WHERE CASE WHEN seq = 1
        THEN (NOT has_base) OR c_mktsegment IS DISTINCT FROM base_seg
        ELSE c_mktsegment IS DISTINCT FROM prev_seg END
), segs AS (
  SELECT c_custkey, c_mktsegment, eff AS valid_from,
         lead(eff) OVER (PARTITION BY c_custkey
                         ORDER BY eff, c_mktsegment) AS valid_to,
         lead(eff) OVER (PARTITION BY c_custkey
                         ORDER BY eff, c_mktsegment) IS NULL AS is_current
  FROM surv
), firsts AS (
  SELECT c_custkey, min(eff) AS first_eff FROM surv GROUP BY 1
)
SELECT * FROM hist
UNION ALL
SELECT c.* FROM cur c LEFT JOIN firsts f ON c.c_custkey = f.c_custkey
WHERE f.c_custkey IS NULL
UNION ALL
SELECT c.c_custkey, c.c_mktsegment, c.valid_from, f.first_eff AS valid_to,
       FALSE AS is_current
FROM cur c JOIN firsts f ON c.c_custkey = f.c_custkey
UNION ALL
SELECT * FROM segs
"""


@register("sink_scd2_multi", oracle=_SCD2_MULTI_SQL)
def sink_scd2_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge over a CDC-backfill-shaped batch: each changed key
    arrives with its FULL ordered intra-batch history (here 4 changes —
    a leading no-op repeat of the current segment, PHASE1, a duplicate
    PHASE1, PHASE2), plus keys with only a no-op change (pass through
    untouched) and unseen keys carrying a 2-segment stack (insert path).
    merge_scd2 would fold this to latest-change-per-key; merge_scd2_multi
    (operators/merge.py) folds every intermediate state into stacked
    validity segments — sort within key, no-op lag compression, lead()
    valid_to. The reference's replace-style upsert
    (Airbnb_Listings_ETL.py:143-151) keeps no history at all; this is
    the backfill-replay form a warehouse needs."""
    c, base = _scd2_fixture(spark, sf_dir)

    k4 = c.filter(F.col("c_custkey") % 4 == 0)
    changes = [
        k4.select("c_custkey", F.col("c_mktsegment"), F.lit("2024-02-01").alias("eff")),
        k4.select("c_custkey", F.lit("PHASE1").alias("c_mktsegment"), F.lit("2024-04-01").alias("eff")),
        k4.select("c_custkey", F.lit("PHASE1").alias("c_mktsegment"), F.lit("2024-07-01").alias("eff")),
        k4.select("c_custkey", F.lit("PHASE2").alias("c_mktsegment"), F.lit("2024-09-01").alias("eff")),
        c.filter(F.col("c_custkey") % 4 == 2).select(
            "c_custkey", F.col("c_mktsegment"), F.lit("2024-05-01").alias("eff")
        ),
        c.filter(F.col("c_custkey") % 6 == 0).select(
            (-F.col("c_custkey")).alias("c_custkey"),
            F.lit("NEWSEG_A").alias("c_mktsegment"),
            F.lit("2024-03-01").alias("eff"),
        ),
        c.filter(F.col("c_custkey") % 6 == 0).select(
            (-F.col("c_custkey")).alias("c_custkey"),
            F.lit("NEWSEG_B").alias("c_mktsegment"),
            F.lit("2024-08-01").alias("eff"),
        ),
    ]
    from functools import reduce

    updates = reduce(lambda a, b: a.unionByName(b), changes)
    return merge_scd2_multi(
        base, updates, keys=["c_custkey"], tracked=["c_mktsegment"], effective="eff"
    )


_INC_RETRY_SQL = """
WITH c AS (
  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
), base AS (
  SELECT * FROM c WHERE c_custkey % 7 <> 0
), upd AS (
  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, c_nationkey
  FROM c WHERE c_custkey % 3 = 0
)
SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM upd
UNION ALL
SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_nationkey
FROM base b LEFT JOIN upd u ON b.c_custkey = u.c_custkey
WHERE u.c_custkey IS NULL
"""


class _SimulatedTaskFailure(Exception):
    """Stand-in for an executor/VM loss killing the fan-out mid-DAG."""


@register("inc_retry", oracle=_INC_RETRY_SQL)
def inc_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task-retry convergence: a fan-out that CRASHES after writing 2 of
    4 sinks, then is re-run whole, converges to the single-run result.

    Reference: `retries=1, retry_delay=timedelta(minutes=5)`
    (Airbnb_Listings_ETL.py:219-220, Airbnb_Review_ETL.py:123-124) — an
    Airflow retry re-executes the task against sinks some of which
    already received the batch. Safety needs BOTH halves demonstrated
    here: each sink write is an idempotent upsert (f(f(x)) = f(x)) and an
    atomic publish (the simulated crash can never leave a half-written
    table). Sinks that saw the batch before the crash absorb it again as
    a no-op; sinks that missed it catch up; the oracle is the once-only
    result, so the hash-match IS the convergence proof.
    """
    from functools import reduce

    from ..sources.atomic import publish_parquet, read_published

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    base = c.filter(F.col("c_custkey") % 7 != 0)
    batch = c.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    sinks = range(4)  # vertical fan-out, like the reference's 6 tables
    with run_root(spark, "inc_retry") as out:

        def write_sink(i: int, part: DataFrame) -> None:
            tgt = f"{out}/sink_{i}"
            prev = read_published(spark, tgt)
            merged = part if prev is None else upsert_snapshot(prev, part, ["c_custkey"])
            publish_parquet(merged, tgt)

        def run_fanout(df: DataFrame, fail_at: int | None = None) -> None:
            for i in sinks:
                if i == fail_at:
                    raise _SimulatedTaskFailure(f"crash before sink_{i}")
                write_sink(i, df.filter(F.col("c_nationkey") % 4 == i))

        run_fanout(base)  # yesterday's complete snapshot run
        try:
            run_fanout(batch, fail_at=2)  # today's run dies mid-fan-out
        except _SimulatedTaskFailure:
            pass
        run_fanout(batch)  # the Airflow retry: re-run the WHOLE task

        parts = [read_published(spark, f"{out}/sink_{i}") for i in sinks]
        # materialize before the scratch dir vanishes
        return pin(
            reduce(lambda a, b: a.unionByName(b), parts), label="xfer_fanout"
        )


_CHANGES_SQL = """
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0
), upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 50.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
), v2 AS (
  SELECT * FROM (
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM v1 b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
    WHERE u.o_orderkey IS NULL
  ) WHERE o_orderkey % 7 <> 0
)
SELECT n.o_orderkey, n.o_orderstatus, n.o_totalprice, 'insert' AS _change_type
FROM v2 n LEFT JOIN v1 o ON o.o_orderkey = n.o_orderkey WHERE o.o_orderkey IS NULL
UNION ALL
SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, 'delete'
FROM v1 o LEFT JOIN v2 n ON o.o_orderkey = n.o_orderkey WHERE n.o_orderkey IS NULL
UNION ALL
SELECT n.o_orderkey, n.o_orderstatus, n.o_totalprice, 'update_postimage'
FROM v1 o JOIN v2 n ON o.o_orderkey = n.o_orderkey
WHERE o.o_totalprice <> n.o_totalprice OR o.o_orderstatus <> n.o_orderstatus
"""


@register("table_changes_feed", oracle=_CHANGES_SQL)
def table_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between two published versions of a table
    (Delta CDF / `table_changes` analog on the atomic-publish layer):
    version 2 applies a price-update batch and deletes every 7th key,
    and the feed labels each row insert / delete / update_postimage via
    one full-outer join over the retained snapshots — the incremental-
    consumption path that saves downstream 100 TB re-reads."""
    from ..operators.merge import upsert_snapshot
    from ..sources.atomic import diff_versions, publish_parquet

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 5 != 0)
    upd = o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 50.0
    )
    v2 = upsert_snapshot(v1, upd, ["o_orderkey"]).filter(
        F.col("o_orderkey") % 7 != 0
    )
    with run_root(spark, "changes") as out:
        target = f"{out}/orders_versioned"
        publish_parquet(v1, target)
        publish_parquet(v2, target)
        return pin(
            diff_versions(spark, target, 1, 2, keys=["o_orderkey"]),
            label="changes_feed",
        )


_COMPACT_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
"""


@register("maintenance_compact", oracle=_COMPACT_SQL)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (OPTIMIZE): a 64-file fragmented table is
    rewritten into block-sized files as a new atomic version; the oracle
    proves content is bit-identical (compaction must be a physical-only
    change). File-count reduction is asserted in
    tests/test_atomic_publish.py::test_compaction_reduces_files."""
    from ..sources.atomic import publish_parquet, read_published
    from ..sources.parquet import compact_published

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with run_root(spark, "compact") as out:
        target = f"{out}/orders_frag"
        publish_parquet(o.repartition(64), target)
        compact_published(spark, target)
        return pin(read_published(spark, target), label="compacted")


@register("sink_delete_where", oracle=_DELETE_WHERE_SQL)
def sink_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE as the set-oriented rewrite: keep the complement and
    rewrite the snapshot (what Delta/Iceberg DELETE does under the hood —
    copy-on-write of affected files; here, the whole snapshot). Completes
    the CRUD story next to the upsert/merge sinks."""
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    condemned = (F.col("s_acctbal") < 0) & (F.col("s_nationkey") % 2 == 0)
    return sup.filter(~condemned)


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance
# ---------------------------------------------------------------------------

# the oracle is the FULL recompute over all of orders; the Spark side
# refreshes incrementally (base aggregate + delta aggregate merged), so a
# hash-match proves refresh(mv, delta) == recompute(base + delta)
_MV_MERGE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
         AS total_price
FROM orders GROUP BY 1, 2
"""


@register("inc_mv_merge", oracle=_MV_MERGE_SQL)
def inc_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh for an additive aggregate:
    the standing MV (count + sum per group, built from the pre-2000
    slice) absorbs a delta batch (the post-2000 slice) by aggregating
    ONLY the delta and merging with a full-outer join on the group key —
    counts add, sums add, groups new to the delta appear, untouched
    groups pass through. The oracle recomputes from scratch over the
    whole table, so the gate proves the incremental algebra exactly.
    This is the self-maintenance shape that turns a daily 100 TB rescan
    into a delta-sized job; sums run in integer cents so merge order
    cannot perturb the result (float sums are partition-order-
    dependent). Both aggregates are map-side-combined; the merge join
    is on the (small) group-key space."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit("2000-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count("*").alias("n"), F.sum(cents).alias("c")
        )

    mv = agg(o.filter(F.col("o_orderdate") < cut))
    delta = agg(o.filter(F.col("o_orderdate") >= cut))
    merged = mv.withColumnsRenamed({"n": "n0", "c": "c0"}).join(
        delta.withColumnsRenamed({"n": "n1", "c": "c1"}),
        ["o_orderstatus", "o_orderpriority"],
        "full_outer",
    )
    z = F.lit(0).cast("bigint")
    return merged.select(
        "o_orderstatus",
        "o_orderpriority",
        (F.coalesce("n0", z) + F.coalesce("n1", z)).alias("n_orders"),
        F.round(
            (F.coalesce("c0", z) + F.coalesce("c1", z)) / 100.0, 2
        ).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# CDC apply (mixed insert / update / delete batch)
# ---------------------------------------------------------------------------

_CDC_APPLY_SQL = """
WITH dels AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0
), upds AS (
  SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer
  WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
), ins AS (
  SELECT c_custkey + 1000000 AS c_custkey, 'NEW' AS c_mktsegment
  FROM customer WHERE c_custkey % 11 = 0
), applied AS (
  SELECT c.c_custkey,
         coalesce(u.c_mktsegment, c.c_mktsegment) AS c_mktsegment
  FROM customer c
  LEFT JOIN upds u USING (c_custkey)
  WHERE c.c_custkey NOT IN (SELECT c_custkey FROM dels)
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM ins
)
SELECT c_mktsegment, count(*) AS n_rows,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key,
       CAST(sum(c_custkey) AS BIGINT) AS key_checksum
FROM applied GROUP BY c_mktsegment
"""


@register("sink_cdc_apply", oracle=_CDC_APPLY_SQL)
def sink_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply one CDC batch of mixed ops to a base snapshot — the
    consumer side of table_changes_feed: DELETEs drop via LEFT ANTI
    join, UPDATEs overwrite via left join + coalesce, INSERTs append
    via union. All three ops resolve in a single pass over the base
    (one shuffle on the key; the change batch is delta-sized and
    broadcast when small), never a row-at-a-time MERGE loop. The
    per-segment count/min/max/key-checksum aggregate proves the final
    state. Op sets are disjoint by construction (a real feed
    deduplicates to one op per key first — sink_scd2_multi handles the
    full-history-per-key case)."""
    # pinned source projection: base + the three change-op fixtures all
    # derive from it — unpinned, 4 customer scans (max_rescan, round 7)
    c = pin(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        label="cdc_src",
    )
    dels = c.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    upds = c.filter(
        (F.col("c_custkey") % 5 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select("c_custkey", F.lit("UPDATED").alias("seg_new"))
    ins = c.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    applied = (
        c.join(dels, "c_custkey", "left_anti")
        .join(upds, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("seg_new", "c_mktsegment").alias("c_mktsegment"),
        )
        .unionByName(ins)
    )
    return applied.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
        F.sum("c_custkey").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# time travel (VERSION AS OF) over the atomic version layer
# ---------------------------------------------------------------------------

_TIME_TRAVEL_SQL = """
WITH v1 AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0
), v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM v1
)
SELECT 'v1' AS version_tag, count(*) AS n_rows,
       count(*) FILTER (WHERE c_mktsegment = 'UPDATED') AS n_updated,
       CAST(sum(c_custkey) AS BIGINT) AS key_checksum
FROM v1
UNION ALL
SELECT 'v2', count(*),
       count(*) FILTER (WHERE c_mktsegment = 'UPDATED'),
       CAST(sum(c_custkey) AS BIGINT)
FROM v2
"""


@register("src_time_travel", oracle=_TIME_TRAVEL_SQL)
def src_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (`VERSION AS OF`) on the atomic publish layer: two
    successive publishes land as immutable version directories behind
    the pointer symlink (sources/atomic.py — the local-FS analog of a
    Delta/Iceberg snapshot commit); this query then reads BOTH the
    historical version and the current one and reports each state.
    The oracle recomputes both states relationally, so the gate proves
    version-1 reads are untouched by the version-2 publish (reader
    isolation) and the current read reflects the update. This is what
    lets a 100 TB pipeline audit yesterday's input snapshot while
    today's publish lands — no copy, just retained immutable dirs."""
    import os

    from ..sources.atomic import list_versions, publish_parquet, read_published

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v1 = c.filter(F.col("c_custkey") % 3 != 0)
    v2 = v1.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, "UPDATED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    def state(tag: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("version_tag"),
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("c_mktsegment") == "UPDATED", 1)).alias(
                "n_updated"
            ),
            F.sum("c_custkey").alias("key_checksum"),
        )

    # run_root, never hand-rolled mkdir/recursive-rm: a URI staging
    # root (hdfs://, s3a://) must not grow a bogus local 'hdfs:' dir,
    # and the staged versions go however the run ends
    with run_root(spark, "tt") as root:
        target = os.path.join(root, "customers")
        publish_parquet(v1, target)
        publish_parquet(v2, target)
        versions = list_versions(target)
        hist = read_published(spark, target, version=versions[0])
        cur = read_published(spark, target)
        out = state("v1", hist).unionByName(state("v2", cur))
        return pin(out, label="src_time_travel")


# ---------------------------------------------------------------------------
# schema-evolving merge (delta batch carries a NEW column)
# ---------------------------------------------------------------------------

_MERGE_EVOLVE_SQL = """
WITH base AS (
  SELECT c_custkey, c_mktsegment FROM customer
), delta AS (
  SELECT c_custkey, 'UPDATED' AS c_mktsegment,
         CASE WHEN c_custkey % 2 = 0 THEN 'gold' ELSE 'silver' END
           AS loyalty_tier
  FROM customer WHERE c_custkey % 4 = 0
), merged AS (
  SELECT b.c_custkey,
         coalesce(d.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
         d.loyalty_tier
  FROM base b LEFT JOIN delta d USING (c_custkey)
)
SELECT c_mktsegment, coalesce(loyalty_tier, 'none') AS loyalty_tier,
       count(*) AS n_rows, min(c_custkey) AS min_key
FROM merged GROUP BY 1, 2
"""


@register("sink_merge_evolve", oracle=_MERGE_EVOLVE_SQL)
def sink_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving upsert — the lakehouse mergeSchema path: the
    delta batch carries a column the base table has never seen
    (loyalty_tier); the merge widens the target schema
    (unionByName(allowMissingColumns=True) is the Spark-native widening,
    here expressed as the equivalent left join so evolution composes
    with the upsert in ONE pass) and existing rows surface NULL for the
    new column rather than failing or silently dropping it. Grouped
    counts over (segment, tier) prove both the update overwrite and the
    null backfill. At 100 TB this is metadata-only for a real table
    format; the row-level shape — one key-partitioned join — is
    identical."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    delta = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 2 == 0, "gold")
        .otherwise("silver")
        .alias("loyalty_tier"),
    )
    merged = c.join(
        delta.withColumnsRenamed(
            {"c_mktsegment": "seg_new", "loyalty_tier": "tier_new"}
        ),
        "c_custkey",
        "left",
    ).select(
        "c_custkey",
        F.coalesce("seg_new", "c_mktsegment").alias("c_mktsegment"),
        F.col("tier_new").alias("loyalty_tier"),
    )
    return merged.groupBy(
        "c_mktsegment", F.coalesce("loyalty_tier", F.lit("none")).alias("loyalty_tier")
    ).agg(F.count("*").alias("n_rows"), F.min("c_custkey").alias("min_key"))


# ---------------------------------------------------------------------------
# multi-clause conditional MERGE (Delta/Iceberg MERGE INTO semantics)
# ---------------------------------------------------------------------------

_MERGE_MULTI_SQL = """
WITH base AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), src AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 11 = 0 THEN 'close'
              WHEN c_custkey % 7 = 0 THEN 'vip'
              ELSE 'adjust' END AS op_flag,
         (c_custkey % 500) * 100 AS delta_cents
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 2000000, 'new', (c_custkey % 500) * 100
  FROM customer WHERE c_custkey % 13 = 0
), merged AS (
  SELECT coalesce(b.c_custkey, s.c_custkey) AS c_custkey,
         CASE
           WHEN b.c_custkey IS NOT NULL AND s.op_flag = 'vip'
             THEN 'VIP'
           WHEN b.c_custkey IS NOT NULL THEN b.c_mktsegment
           ELSE 'NEW'
         END AS c_mktsegment,
         CASE
           WHEN b.c_custkey IS NOT NULL AND s.op_flag = 'adjust'
             THEN b.bal_cents + s.delta_cents
           WHEN b.c_custkey IS NOT NULL THEN b.bal_cents
           ELSE s.delta_cents
         END AS bal_cents,
         CASE WHEN b.c_custkey IS NULL THEN 'insert'
              WHEN s.c_custkey IS NULL THEN 'keep'
              ELSE s.op_flag END AS applied
  FROM base b FULL OUTER JOIN src s ON b.c_custkey = s.c_custkey
  -- coalesce: unmatched base rows carry NULL op_flag; bare
  -- (op_flag = 'close') would make the predicate NULL and silently
  -- drop every keep row (three-valued logic)
  WHERE NOT (b.c_custkey IS NOT NULL
             AND coalesce(s.op_flag = 'close', FALSE))
)
SELECT applied, c_mktsegment, count(*) AS n_rows,
       CAST(sum(bal_cents) AS BIGINT) AS cents_checksum,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM merged GROUP BY applied, c_mktsegment
"""


@register("sink_merge_multi_clause", oracle=_MERGE_MULTI_SQL)
def sink_merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-clause MERGE INTO semantics (Delta/Iceberg):
    WHEN MATCHED AND flag='close' THEN DELETE;
    WHEN MATCHED AND flag='vip'   THEN UPDATE (segment := 'VIP');
    WHEN MATCHED                  THEN UPDATE (balance += delta);
    WHEN NOT MATCHED              THEN INSERT — all four clauses
    resolved by ONE full-outer join on the key plus clause-ordered
    CASE expressions, never a row-loop and never one pass per clause
    (sink_cdc_apply handles the disjoint-op union formulation; this is
    the engine-level rewrite a MERGE statement actually compiles to).
    The source is delta-sized and broadcasts when small; balances stay
    exact integer cents so the per-clause checksum proves each clause
    fired on exactly its rows. Clause precedence is the CASE order —
    the same first-match-wins contract as the SQL standard."""
    base = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    # pinned: the two change-stream arms both read this key column
    # (3 customer scans unpinned; max_rescan audit, round 7)
    c = pin(
        load(spark, sf_dir, "customer").select("c_custkey"),
        label="merge_keys",
    )
    src = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 11 == 0, "close")
            .when(F.col("c_custkey") % 7 == 0, "vip")
            .otherwise("adjust")
            .alias("op_flag"),
            ((F.col("c_custkey") % 500) * 100).alias("delta_cents"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 2000000).alias("c_custkey"),
                F.lit("new").alias("op_flag"),
                ((F.col("c_custkey") % 500) * 100).alias("delta_cents"),
            )
        )
    )
    b = base.alias("b")
    s = src.alias("s")
    joined = b.join(s, F.col("b.c_custkey") == F.col("s.c_custkey"), "full_outer")
    matched = F.col("b.c_custkey").isNotNull()
    # coalesce: keep rows carry NULL op_flag; a bare equality would make
    # the whole NOT(...) NULL and drop them (three-valued logic)
    merged = joined.filter(
        ~(matched & F.coalesce(F.col("s.op_flag") == "close", F.lit(False)))
    ).select(
        F.coalesce(F.col("b.c_custkey"), F.col("s.c_custkey")).alias("c_custkey"),
        F.when(matched & (F.col("s.op_flag") == "vip"), "VIP")
        .when(matched, F.col("b.c_mktsegment"))
        .otherwise("NEW")
        .alias("c_mktsegment"),
        F.when(
            matched & (F.col("s.op_flag") == "adjust"),
            F.col("b.bal_cents") + F.col("s.delta_cents"),
        )
        .when(matched, F.col("b.bal_cents"))
        .otherwise(F.col("s.delta_cents"))
        .alias("bal_cents"),
        F.when(~matched, "insert")
        .when(F.col("s.c_custkey").isNull(), "keep")
        .otherwise(F.col("s.op_flag"))
        .alias("applied"),
    )
    return merged.groupBy("applied", "c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.sum("bal_cents").alias("cents_checksum"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# write-audit-publish (WAP) gated atomic publish
# ---------------------------------------------------------------------------

_WAP_SQL = """
WITH b1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
), b2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN -1.0 ELSE o_totalprice END
           AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
), g1 AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE o_totalprice <= 0) AS n_bad
  FROM b1
), g2 AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE o_totalprice <= 0) AS n_bad
  FROM b2
)
SELECT 'batch1' AS batch, n AS n_rows, n_bad AS n_violations,
       n_bad = 0 AS published FROM g1
UNION ALL
SELECT 'batch2', n, n_bad, n_bad = 0 FROM g2
UNION ALL
SELECT 'final_state', (SELECT count(*) FROM b1), 0, TRUE
"""


@register("sink_wap_publish", oracle=_WAP_SQL)
def sink_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: every batch lands in an UNPUBLISHED staging
    version, a DQ gate audits the staged files, and only a clean batch
    gets the atomic pointer flip (sources/atomic.py — the local-FS
    analog of Iceberg's WAP branch / Delta's staged commit). Batch 1 is
    clean and publishes; batch 2 carries planted negative prices, fails
    the gate, and the published pointer NEVER moves — readers keep
    seeing batch 1, which the final_state row proves by re-reading the
    published table. This is the pattern that keeps a 100 TB lake
    consistent under bad upstream pushes: audit cost is one scan of the
    staged delta, publish cost is a pointer rename, rollback cost is
    zero because nothing bad was ever visible."""
    import os

    from ..sources.atomic import publish_parquet, read_published

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b1 = o.filter(F.col("o_orderkey") % 2 == 0)
    b2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, -1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )

    def gate(tag: str, df: DataFrame):
        g = df.agg(
            F.lit(tag).alias("batch"),
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
                "n_violations"
            ),
        ).select(
            "batch",
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("published"),
        )
        return pin(g, label=f"wap_gate_{tag}")

    # run_root, never hand-rolled mkdir/recursive-rm: a URI staging
    # root (hdfs://, s3a://) must not grow a bogus local 'hdfs:' dir,
    # and the staged versions go however the run ends
    with run_root(spark, "wap") as root:
        target = os.path.join(root, "orders_wap")
        g1 = gate("batch1", b1)
        # the audit VERDICT gates the pointer flip; the verdict frame is
        # 1 row and already materialized by pin(), so head() reads the
        # pinned block, not a recompute (this is control flow, not a
        # data-plane collect)
        if g1.head().published:
            publish_parquet(b1, target)
        g2 = gate("batch2", b2)
        if g2.head().published:
            publish_parquet(b2, target)
        final = read_published(spark, target).agg(
            F.lit("final_state").alias("batch"),
            F.count("*").alias("n_rows"),
            F.lit(0).cast("bigint").alias("n_violations"),
            F.lit(True).alias("published"),
        )
        return pin(g1.unionByName(g2).unionByName(final), label="wap_out")


# ---------------------------------------------------------------------------
# GDPR right-to-be-forgotten erasure with proof
# ---------------------------------------------------------------------------

_GDPR_SQL = """
WITH forget AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 0
), before_ AS (
  SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users FROM events
), scrubbed AS (
  SELECT e.* FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM forget f WHERE f.user_id = e.user_id)
), after_ AS (
  SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
         count(*) FILTER (WHERE user_id % 17 = 0) AS n_residual
  FROM scrubbed
)
SELECT 'before' AS phase, b.n_rows, b.n_users,
       CAST(NULL AS BIGINT) AS n_residual
FROM before_ b
UNION ALL
SELECT 'after', a.n_rows, a.n_users, a.n_residual FROM after_ a
UNION ALL
SELECT 'erased',
       b.n_rows - a.n_rows,
       b.n_users - a.n_users,
       CAST(0 AS BIGINT)
FROM before_ b, after_ a
"""


@register("sink_gdpr_erasure", oracle=_GDPR_SQL)
def sink_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure with PROOF: given a deletion-
    request set of subject ids, drop every event of every requested
    subject via one LEFT ANTI join (set-oriented — never a per-subject
    DELETE loop) and emit the before/after/erased accounting INCLUDING
    a residual probe (rows matching the request predicate that
    survived — must be 0) — the audit artifact a DPO files. At 100 TB
    the anti join shuffles on the subject key once (or broadcasts the
    request set — deletion batches are small); with a partition-by-
    subject layout it prunes to the affected partitions, and the same
    plan drives the compacting rewrite that makes erasure physical."""
    ev = load(spark, sf_dir, "events")
    forget = ev.filter(F.col("user_id") % 17 == 0).select("user_id").distinct()
    before = ev.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    scrubbed = ev.join(forget, "user_id", "left_anti")
    after = scrubbed.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.when(F.col("user_id") % 17 == 0, 1)).alias("n_residual"),
    )
    b = pin(before, label="gdpr_before")
    a = pin(after, label="gdpr_after")
    out_b = b.select(
        F.lit("before").alias("phase"),
        "n_rows",
        "n_users",
        F.lit(None).cast("bigint").alias("n_residual"),
    )
    out_a = a.select(
        F.lit("after").alias("phase"), "n_rows", "n_users", "n_residual"
    )
    out_e = b.crossJoin(
        a.select(
            F.col("n_rows").alias("a_rows"), F.col("n_users").alias("a_users")
        )
    ).select(
        F.lit("erased").alias("phase"),
        (F.col("n_rows") - F.col("a_rows")).alias("n_rows"),
        (F.col("n_users") - F.col("a_users")).alias("n_users"),
        F.lit(0).cast("bigint").alias("n_residual"),
    )
    return out_b.unionByName(out_a).unionByName(out_e)
