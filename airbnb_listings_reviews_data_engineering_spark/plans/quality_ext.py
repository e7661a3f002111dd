"""Data-quality, reconciliation, and feature-engineering queries.

The operational layer every production pipeline runs AROUND its
transforms (reference analog: the implicit checks in the reference's
cleaning DAG — dropna/type coercion steps at airbnb_listing_de.py's
transform tasks — made explicit, auditable, and scale-safe):

- `dq_expectations`: a declarative rule battery (null / range / domain /
  format / positivity) evaluated in ONE conditional-aggregation pass per
  table — the Great-Expectations shape without a per-rule scan;
- `dq_referential`: FK-orphan and PK-uniqueness checks as anti-join /
  grouped counts — referential integrity at shuffle-join cost;
- `diff_snapshots`: full-outer reconciliation of two table snapshots
  into added/removed/changed/unchanged classes — the audit diff run
  after every backfill;
- `cohort_retention`: weekly cohort x activity-week retention counts;
- `ts_resample_ffill`: per-entity daily date-spine densification with
  forward fill — the gap-filling resample of feature pipelines;
- `join_fuzzy_blocked`: blocked record linkage (equi-join on a cheap
  blocking key, Levenshtein verify inside blocks) — never all-pairs;
- `agg_mode`: deterministic per-group mode with tie-break;
- `split_kfold`: leakage-safe k-fold assignment by group hash;
- `agg_heavy_hitters`: exact relative-frequency heavy hitters with a
  1-row broadcast total;
- `xform_quantile_bin`: global-rank decile binning on
  `operators/ordered.ordered_scan` (no single-partition window at any
  scale).

All oracles are exact ANSI SQL over the same parquet tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..checkpoint import pin
from ..functions.hashing import hash60, hash60_duckdb_sql
from ..operators.ordered import ordered_scan
from .registry import load, register

# ---------------------------------------------------------------------------
# declarative expectations battery
# ---------------------------------------------------------------------------

_SEGMENTS = "('MACHINERY','FURNITURE','AUTOMOBILE','HOUSEHOLD','BUILDING')"

_EXPECTATIONS_SQL = f"""
WITH c AS (
  SELECT count(*) AS n,
         count(*) - count(c_acctbal) AS v_null,
         count(*) FILTER (WHERE c_acctbal NOT BETWEEN -1000 AND 10000) AS v_range,
         count(*) FILTER (WHERE c_mktsegment NOT IN {_SEGMENTS}) AS v_domain,
         count(*) FILTER (WHERE NOT regexp_matches(c_name, '^Customer#[0-9]{{9}}$')) AS v_format
  FROM customer
), o AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE o_totalprice <= 0) AS v_pos,
         count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
                             OR o_orderdate > TIMESTAMP '2030-01-01') AS v_date
  FROM orders
)
SELECT * FROM (
  SELECT 'customer.acctbal_nonnull' AS rule, n AS n_checked,
         v_null AS n_violations, v_null = 0 AS ok FROM c
  UNION ALL
  SELECT 'customer.acctbal_in_range', n, v_range, v_range = 0 FROM c
  UNION ALL
  SELECT 'customer.mktsegment_domain', n, v_domain, v_domain = 0 FROM c
  UNION ALL
  SELECT 'customer.name_format', n, v_format, v_format = 0 FROM c
  UNION ALL
  SELECT 'orders.totalprice_positive', n, v_pos, v_pos = 0 FROM o
  UNION ALL
  SELECT 'orders.orderdate_in_range', n, v_date, v_date = 0 FROM o
)
"""


@register("dq_expectations", oracle=_EXPECTATIONS_SQL)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract battery: null-ratio, numeric range,
    categorical domain, string format (regex), and positivity rules,
    each reported as (rule, n_checked, n_violations, ok). ALL rules for
    a table evaluate in ONE conditional-aggregation scan (map-side
    partial agg to a single row), then unpivot to rule rows via stack —
    a 50-rule contract over a 100 TB table still costs one pass, not 50.
    The reference performs these checks implicitly inside its pandas
    cleaning tasks (dropna/astype at its transform steps); here they are
    explicit and report violations instead of silently dropping."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    segs = [s.strip("'") for s in _SEGMENTS.strip("()").split("','")]
    cagg = c.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count("c_acctbal")).alias("v_null"),
        F.count(
            F.when(~F.col("c_acctbal").between(-1000, 10000), 1)
        ).alias("v_range"),
        F.count(F.when(~F.col("c_mktsegment").isin(segs), 1)).alias("v_domain"),
        F.count(
            F.when(~F.col("c_name").rlike("^Customer#[0-9]{9}$"), 1)
        ).alias("v_format"),
    )
    oagg = o.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v_pos"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp")),
                1,
            )
        ).alias("v_date"),
    )
    crules = cagg.select(
        F.expr(
            "stack(4,"
            " 'customer.acctbal_nonnull', v_null,"
            " 'customer.acctbal_in_range', v_range,"
            " 'customer.mktsegment_domain', v_domain,"
            " 'customer.name_format', v_format) AS (rule, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    )
    orules = oagg.select(
        F.expr(
            "stack(2,"
            " 'orders.totalprice_positive', v_pos,"
            " 'orders.orderdate_in_range', v_date) AS (rule, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    )
    return crules.unionByName(orules).select(
        "rule", "n_checked", "n_violations", (F.col("n_violations") == 0).alias("ok")
    )


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------

_REFERENTIAL_SQL = """
SELECT 'orders.o_custkey->customer' AS check_name,
       (SELECT count(*) FROM orders) AS n_child,
       (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'customer.c_custkey unique',
       (SELECT count(*) FROM customer),
       (SELECT count(*) FROM (SELECT c_custkey FROM customer
                               GROUP BY c_custkey HAVING count(*) > 1))
"""


@register("dq_referential", oracle=_REFERENTIAL_SQL)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity report: FK orphan counts via LEFT ANTI join
    (a shuffle-or-broadcast hash join — customer/part fit in a broadcast
    at gate SF, and at 100 TB the anti join shuffles on the key like any
    equi-join) plus a PK-uniqueness check as a grouped count. Each check
    is one join/agg; no row leaves the JVM. The counts land in one small
    union — the shape of a nightly integrity gate."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")

    # Each fact is scanned ONCE: orphanhood is a LEFT join + conditional
    # count inside the same aggregate (the anti-join + count(*) pair
    # re-planned every child table — orders 3x / lineitem 4x in the
    # final plan; max_rescan audit, round 7). The two lineitem FKs ride
    # one shared scan and explode into their two report rows. Parent
    # sides join as DISTINCT key sets: a duplicated parent PK — exactly
    # the anomaly the sibling uniqueness check reports — would fan the
    # child out and corrupt n_child/n_orphans (the anti-join semantics
    # this rewrite must preserve).
    ck = c.select("c_custkey").distinct()
    ok_ = o.select("o_orderkey").distinct()
    pk_ = p.select("p_partkey").distinct()
    fk1 = (
        o.join(ck, o.o_custkey == ck.c_custkey, "left")
        .agg(
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "n_orphans"
            ),
        )
        .select(
            F.lit("orders.o_custkey->customer").alias("check_name"),
            "n_child",
            "n_orphans",
        )
    )
    fk23 = (
        li.join(ok_, li.l_orderkey == ok_.o_orderkey, "left")
        .join(pk_, li.l_partkey == pk_.p_partkey, "left")
        .agg(
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "orph_o"
            ),
            F.sum(F.when(F.col("p_partkey").isNull(), 1).otherwise(0)).alias(
                "orph_p"
            ),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lineitem.l_orderkey->orders").alias(
                            "check_name"
                        ),
                        F.col("n_child"),
                        F.col("orph_o").alias("n_orphans"),
                    ),
                    F.struct(
                        F.lit("lineitem.l_partkey->part").alias("check_name"),
                        F.col("n_child"),
                        F.col("orph_p").alias("n_orphans"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )
    pk = (
        c.groupBy("c_custkey")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.sum("cnt").alias("n_child"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_orphans"),
        )
        .select(
            F.lit("customer.c_custkey unique").alias("check_name"),
            "n_child",
            "n_orphans",
        )
    )
    return fk1.unionByName(fk23).unionByName(pk)


# ---------------------------------------------------------------------------
# snapshot reconciliation diff
# ---------------------------------------------------------------------------

# Two deterministic snapshots derived from orders: A drops keys ending in
# 9, B drops keys ending in 0 and bumps URGENT prices 10 % — so the diff
# has all four classes without any synthetic input.
_DIFF_SQL = """
WITH a AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 9
), b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cb
  FROM orders WHERE o_orderkey % 10 <> 0
), j AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
         CAST(round(a.o_totalprice * 100) AS BIGINT) AS ca, b.cb AS cb
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT CASE WHEN ca IS NULL THEN 'added'
            WHEN cb IS NULL THEN 'removed'
            WHEN ca <> cb THEN 'changed'
            ELSE 'unchanged' END AS change,
       count(*) AS n_keys,
       round(coalesce(sum(cb - ca), 0) / 100.0, 2) AS price_delta
FROM j GROUP BY 1
"""


@register("diff_snapshots", oracle=_DIFF_SQL)
def diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: FULL OUTER join two table versions on
    the key, classify every key as added / removed / changed / unchanged
    and report per-class counts plus the net value delta — the audit
    diff run after a backfill or migration before swapping a snapshot
    live. One co-partitioned shuffle join (both sides hash on the same
    key; at 100 TB, bucketed snapshots make it exchange-free — see
    join_bucketed); the classification is a map-side CASE. Money runs in
    integer CENTS end-to-end — a double sum is order-dependent across
    partitions (the float version flipped its last rounded digit at
    sf0.01), and the 10 % bump is (cents*11+5) DIV 10, not
    round(price*1.1, 2): Spark rounds via the double's exact decimal
    expansion (BigDecimal HALF_UP) while DuckDB rounds in binary, and
    the two disagree on real halfway inputs."""
    o = load(spark, sf_dir, "orders")

    def cents(col):
        return F.round(col * 100).cast("bigint")

    a = o.filter(F.col("o_orderkey") % 10 != 9).select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("ca")
    )
    b = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.expr(
                "CAST((CAST(round(o_totalprice * 100) AS BIGINT) * 11 + 5)"
                " DIV 10 AS BIGINT)"
            ),
        )
        .otherwise(cents(F.col("o_totalprice")))
        .alias("cb"),
    )
    j = a.join(b, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("ca").isNull(), "added")
        .when(F.col("cb").isNull(), "removed")
        .when(F.col("ca") != F.col("cb"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change"), "ca", "cb")
        .groupBy("change")
        .agg(
            F.count("*").alias("n_keys"),
            F.round(
                F.coalesce(F.sum(F.col("cb") - F.col("ca")), F.lit(0)) / 100.0,
                2,
            ).alias("price_delta"),
        )
    )


# ---------------------------------------------------------------------------
# weekly cohort retention
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_w FROM events
  GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_w FROM events
)
SELECT strftime(f.cohort_w, '%Y-%m-%d') AS cohort_week,
       CAST((epoch(a.active_w) - epoch(f.cohort_w)) / 604800 AS BIGINT)
         AS week_offset,
       count(*) AS n_active
FROM firsts f JOIN active a USING (user_id)
GROUP BY 1, 2
"""


@register("cohort_retention", oracle=_COHORT_SQL)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of their
    FIRST event; each (cohort_week, week_offset) cell counts users still
    active that many weeks later. Two aggregations on user_id (first-seen
    and distinct-active-week both shuffle on the user key, so AQE plans
    the join exchange-light) and one final small agg; the per-user state
    is one timestamp + its distinct weeks. This is the standard growth
    analytics query, expressed so the user-keyed shuffles dominate and
    the retention matrix itself stays tiny at any corpus size."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_w")
    ).distinct()
    return (
        firsts.join(active, "user_id")
        .select(
            F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
            (
                (F.unix_timestamp("active_w") - F.unix_timestamp("cohort_w"))
                / 604800
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# per-entity daily resample with forward fill
# ---------------------------------------------------------------------------

_RESAMPLE_SQL = """
WITH daily AS (
  SELECT user_id, ts::DATE AS day, round(avg(value), 4) AS day_avg
  FROM events WHERE user_id < 10 GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM spans
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
       d.day_avg IS NOT NULL AS observed,
       last_value(d.day_avg IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
"""


@register("ts_resample_ffill", oracle=_RESAMPLE_SQL)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity daily resample + forward fill: build each entity's own
    date spine (sequence(min_day, max_day) exploded — spine size is the
    entity's active range, never a global calendar cross join), left-join
    the observed daily aggregate, and gap-fill with last-non-null over a
    window PARTITIONED BY the entity (bounded per-entity state; nothing
    global). This is the feature-pipeline densification step — ML
    features need a value for every (entity, day) cell. Scoped to
    user_id < 10 to keep gate output small; the plan is
    per-entity-partitioned at any entity count."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("day_avg"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("day_avg").isNotNull().alias("observed"),
        F.last("day_avg", ignorenulls=True).over(w).alias("filled_avg"),
    )


# ---------------------------------------------------------------------------
# blocked fuzzy record linkage
# ---------------------------------------------------------------------------

_FUZZY_SQL = """
WITH p AS (
  SELECT p_partkey, p_name, p_type, p_brand,
         split_part(p_name, ' ', 2) AS noun
  FROM part
)
SELECT a.noun, a.p_type, count(*) AS n_pairs,
       count(DISTINCT a.p_partkey) AS n_left_keys,
       min(a.p_partkey * 100000 + b.p_partkey) AS min_pair_id
FROM p a JOIN p b
  ON a.noun = b.noun AND a.p_type = b.p_type AND a.p_brand = b.p_brand
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name <> b.p_name
GROUP BY a.noun, a.p_type
"""


@register("join_fuzzy_blocked", oracle=_FUZZY_SQL)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (entity resolution): candidate pairs come
    from an EQUI-join on a COMPOUND blocking key (noun token + type +
    brand — all map-side derivations), then the expensive Levenshtein
    verify runs only INSIDE blocks. Never all-pairs: at 100 TB the block
    key bounds the join's fan-out exactly like an LSH band does for
    MinHash (dedup_minhash_lsh is the same architecture with learned
    blocks). The compound key matters quantitatively: blocking on
    (noun, type) alone — 40 fixed blocks — made block size grow
    linearly with the corpus and verify work quadratically (7.7 s at
    sf0.1); adding brand cuts candidates 30x. The general rule this
    encodes: pick a blocking key whose CARDINALITY grows with the data
    (in a real linkage: zip, city, name-phonetic), so per-block size —
    and with it verify cost per record — stays flat as the corpus
    scales. The p_partkey < p_partkey predicate halves the candidate
    set and canonicalizes pair identity. Levenshtein is JVM whole-stage
    codegen (built-in), not a UDF."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_type",
        "p_brand",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    a = p.alias("a")
    b = p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.noun") == F.col("b.noun"))
        & (F.col("a.p_type") == F.col("b.p_type"))
        & (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).filter(
        (F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3)
        & (F.col("a.p_name") != F.col("b.p_name"))
    )
    return pairs.groupBy(
        F.col("a.noun").alias("noun"), F.col("a.p_type").alias("p_type")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct(F.col("a.p_partkey")).alias("n_left_keys"),
        F.min(
            F.col("a.p_partkey") * 100000 + F.col("b.p_partkey")
        ).alias("min_pair_id"),
    )


# ---------------------------------------------------------------------------
# deterministic per-group mode
# ---------------------------------------------------------------------------

_MODE_SQL = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT o_orderstatus, o_orderpriority, cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority) AS rk
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
FROM r WHERE rk = 1
"""


@register("agg_mode", oracle=_MODE_SQL)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tie-break (highest count,
    then lexicographically smallest value — native `mode()` is
    tie-unspecified in both engines, so it can never be oracle-checked).
    Two-level aggregate: the big table collapses to (group, value)
    counts with map-side combine, then a window over the SMALL counts
    table (cardinality = |groups| x |domain|, not row count) picks the
    winner. The heavy shuffle is the first groupBy; the window never
    sees the raw table."""
    o = load(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), "o_orderpriority"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# k-fold split by group hash
# ---------------------------------------------------------------------------

_H_CUST = hash60_duckdb_sql("'fold:' || CAST(c_custkey AS VARCHAR)")

_KFOLD_SQL = f"""
WITH assign AS (
  SELECT c_custkey, {_H_CUST} % 5 AS fold FROM customer
)
SELECT a.fold, count(DISTINCT a.c_custkey) AS n_customers,
       count(o.o_orderkey) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total_price
FROM assign a JOIN orders o ON o.o_custkey = a.c_custkey
GROUP BY a.fold
"""


@register("split_kfold", oracle=_KFOLD_SQL)
def split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold (k=5) cross-validation assignment: the fold
    is hash60('fold:'||custkey) % 5 on the GROUP key, so every order of
    a customer lands in one fold (no entity leakage across folds) and
    the assignment is rerun- and partitioning-stable with no RNG state.
    The salt prefix decorrelates folds from the 80/20 holdout gate
    (split_train_test_group) — reusing the raw hash would nest the
    splits. One key-shuffle join + per-fold aggregate."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.pmod(
            hash60(F.concat(F.lit("fold:"), F.col("c_custkey").cast("string"))),
            F.lit(5),
        ).alias("fold"),
    )
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("fold")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# exact relative-frequency heavy hitters
# ---------------------------------------------------------------------------

_HH_SQL = """
WITH c AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), s AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM c)
SELECT c.user_id, c.cnt,
       round(c.cnt * s.n_keys / CAST(s.total AS DOUBLE), 4) AS lift
FROM c, s
WHERE c.cnt * s.n_keys * 10 >= s.total * 12
"""


@register("agg_heavy_hitters", oracle=_HH_SQL)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: keys whose frequency is >= 1.2x the MEAN
    key frequency (an avg-relative bar stays meaningful as the key
    population grows with SF; a fixed share-of-total bar empties out).
    The per-key counts are one map-side-combined groupBy; total and key
    count come from aggregating the (already small) counts table — one
    1-row broadcast — and the threshold compares in INTEGER arithmetic
    (cnt*n_keys*10 >= total*12, no float edge). This is the exact pass
    that validates a sketch (`agg_hll_sketch_rollup` family), and the
    hitter list feeds skew salting (profile_skew / join_salted)."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .filter(F.col("cnt") * F.col("n_keys") * 10 >= F.col("total") * 12)
        .select(
            "user_id",
            "cnt",
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("total").cast("double"),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# global-rank decile binning (scale-safe)
# ---------------------------------------------------------------------------

_QBIN_SQL = """
WITH r AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
         count(*) OVER () AS total
  FROM orders
)
SELECT CAST(floor(((rk - 1) * 10.0) / total) AS BIGINT) AS decile,
       count(*) AS n, round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM r GROUP BY 1
"""


@register("xform_quantile_bin", oracle=_QBIN_SQL)
def xform_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile (equal-FREQUENCY) binning — the feature-engineering
    quantile bucketizer. The oracle states the spec as a global
    row_number + count window; the plan takes the rank and the count
    from `ordered_scan`, so the only wide ops are its range shuffle and
    the final per-decile aggregate — global ntile() would move the
    entire table through ONE task."""
    d = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return (
        ordered_scan(d, ["o_totalprice", "o_orderkey"], label="quantile_bin")
        .select(
            F.floor(((F.col("pos") - 1) * 10.0) / F.col("n_rows"))
            .cast("bigint")
            .alias("decile"),
            "o_totalprice",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# embedding-table QA profile
# ---------------------------------------------------------------------------

_EMB_PROFILE_SQL = """
WITH n AS (
  SELECT label,
         CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[])) * 10000)
              AS BIGINT) AS norm4,
         len(embedding) AS dim
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       count(DISTINCT dim) AS n_dims,
       count(*) FILTER (WHERE norm4 = 0) AS n_zero,
       round(min(norm4) / 10000.0, 4) AS min_norm,
       round(max(norm4) / 10000.0, 4) AS max_norm,
       round(sum(norm4) / count(*) / 10000.0, 4) AS avg_norm
FROM n GROUP BY label
"""


@register("profile_embeddings", oracle=_EMB_PROFILE_SQL)
def profile_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA gate — run before any ANN/dedup consumer:
    per label, vector count, dimension consistency (n_dims must be 1),
    zero-vector count (they poison cosine math), and L2-norm range/mean.
    The norm is computed per row (the in-array fold is index-ordered and
    engine-identical) then FIXED-POINT quantized to 1e-4 BEFORE the
    group aggregate, so min/max/mean run in exact integer arithmetic —
    a float mean over doubles is partition-order-dependent and can never
    hash-match. One map-side pass + one small agg; no UDF."""
    from ..functions.arrays import as_double_array, dot

    e = load(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    n = e.select(
        "label",
        F.round(F.sqrt(dot(v, v)) * 10000).cast("bigint").alias("norm4"),
        F.size("embedding").alias("dim"),
    )
    return n.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.countDistinct("dim").alias("n_dims"),
        F.count(F.when(F.col("norm4") == 0, 1)).alias("n_zero"),
        F.round(F.min("norm4") / 10000.0, 4).alias("min_norm"),
        F.round(F.max("norm4") / 10000.0, 4).alias("max_norm"),
        F.round(F.sum("norm4") / F.count("*") / 10000.0, 4).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# source freshness / staleness report
# ---------------------------------------------------------------------------

_FRESHNESS_SQL = """
WITH s AS (
  SELECT event_type, max(ts) AS last_ts, count(*) AS n_events
  FROM events GROUP BY event_type
), g AS (SELECT max(last_ts) AS global_max FROM s)
SELECT s.event_type, strftime(s.last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
       s.n_events,
       (epoch_us(g.global_max) - epoch_us(s.last_ts)) // 1000000 AS lag_s,
       (epoch_us(g.global_max) - epoch_us(s.last_ts)) > 3600000000 AS stale
FROM s, g
"""


@register("profile_freshness", oracle=_FRESHNESS_SQL)
def profile_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness report — the staleness gate of an ingest
    mesh: each event type's last-seen timestamp and its lag behind the
    freshest source, flagged stale past one hour. Anchoring to the
    GLOBAL max (a 1-row broadcast over the tiny per-type frame) rather
    than wall-clock now() keeps the query deterministic and
    replay-stable — now()-anchored freshness can never be oracle-checked
    and flaps on reruns. One map-side-combined agg over the stream table;
    everything after is fixed-cardinality. The lag subtracts MICROSECOND
    epochs and floor-divides the DIFFERENCE — per-value second
    truncation (floor(a)-floor(b)) is off by one whenever the two
    fractional parts straddle, which the gate data actually hits."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_events")
    )
    g = s.agg(F.max("last_ts").alias("global_max"))
    lag_us = F.unix_micros("global_max") - F.unix_micros("last_ts")
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            "n_events",
            F.floor(lag_us / 1000000).cast("bigint").alias("lag_s"),
            (lag_us > 3600000000).alias("stale"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic surrogate keys
# ---------------------------------------------------------------------------

_SURROGATE_SQL = """
WITH h AS (
  SELECT doc_id, md5('doc|' || source || '|' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' ||
       substr(hx, 13, 4) || '-' || substr(hx, 17, 4) || '-' ||
       substr(hx, 21, 12) AS surrogate_id
FROM h
"""


@register("xform_surrogate_key", oracle=_SURROGATE_SQL)
def xform_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-derived surrogate keys: a UUID-shaped id minted from
    md5(namespace || business key) — the UUIDv3/v5 pattern. Unlike
    monotonically_increasing_id() or uuid(), the id is REPRODUCIBLE:
    retries, backfills, and independent pipelines mint the same id for
    the same record, so downstream joins never see key churn. Pure
    map-side string expressions (no shuffle, no RNG, no driver
    counter); at any scale this is scan-speed."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    hx = F.md5(
        F.concat_ws(
            "|", F.lit("doc"), F.col("source"), F.col("doc_id").cast("string")
        )
    )
    seg = lambda a, b: F.substring(F.col("hx"), a, b)  # noqa: E731
    return d.select("doc_id", hx.alias("hx")).select(
        "doc_id",
        F.concat_ws(
            "-", seg(1, 8), seg(9, 4), seg(13, 4), seg(17, 4), seg(21, 12)
        ).alias("surrogate_id"),
    )


# ---------------------------------------------------------------------------
# per-source distribution drift (total variation, exact arithmetic)
# ---------------------------------------------------------------------------

_DRIFT_SQL = """
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), sw AS (
  SELECT source, word, count(*) AS c_sw FROM w GROUP BY source, word
), s_tot AS (
  SELECT source, sum(c_sw) AS t_s FROM sw GROUP BY source
), g AS (
  SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY word
), tot AS (
  SELECT sum(c_w) AS t FROM g
), terms AS (
  SELECT st.source, st.t_s, t.t,
         abs(coalesce(sw.c_sw, 0) * t.t - g.c_w * st.t_s) AS num
  FROM s_tot st CROSS JOIN g CROSS JOIN tot t
  LEFT JOIN sw ON sw.source = st.source AND sw.word = g.word
)
SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
       round(sum(num) / (2.0 * t_s * t), 4) AS tv_dist
FROM terms GROUP BY source, t_s, t
"""


@register("profile_drift_tv", oracle=_DRIFT_SQL)
def profile_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report: each source's unigram distribution
    vs the corpus distribution, as TOTAL VARIATION distance
    0.5 * sum_w |p_w - q_w| — the drift gate run before mixing a new
    source into a training corpus. TV is chosen over KL/JS
    deliberately: with p = c_sw/T_s and q = c_w/T the summand becomes
    |c_sw*T - c_w*T_s| / (T_s*T) — an INTEGER numerator, so the sum is
    exact and partition-order-independent (KL/JS need float logs whose
    sum order can flip rounded digits; same reason the money ops run in
    cents). The (source x vocab) grid is built by crossing the tiny
    per-source totals with the vocabulary — both aggregates, both
    map-side-combined; absent words contribute their full q_w mass via
    the left join's coalesce(0)."""
    w = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    # pinned: the per-source totals, the corpus vocabulary and the grid
    # join all read this (source x word) count table — unpinned the
    # corpus re-tokenized 4x (max_rescan audit, round 7)
    sw = pin(
        w.groupBy("source", "word").agg(F.count("*").alias("c_sw")),
        label="drift_sw",
    )
    s_tot = sw.groupBy("source").agg(F.sum("c_sw").alias("t_s"))
    g = sw.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    tot = g.agg(F.sum("c_w").alias("t"))
    grid = s_tot.crossJoin(g).crossJoin(F.broadcast(tot))
    terms = grid.join(sw, ["source", "word"], "left").select(
        "source",
        "t_s",
        "t",
        F.abs(
            F.coalesce("c_sw", F.lit(0)) * F.col("t")
            - F.col("c_w") * F.col("t_s")
        ).alias("num"),
    )
    return terms.groupBy("source", "t_s", "t").agg(
        F.round(F.sum("num") / (2.0 * F.col("t_s") * F.col("t")), 4).alias(
            "tv_dist"
        )
    ).select(
        "source", F.col("t_s").cast("bigint").alias("n_tokens"), "tv_dist"
    )


# ---------------------------------------------------------------------------
# approximate query processing: sample-based estimation with error report
# ---------------------------------------------------------------------------

_H_AQP = hash60_duckdb_sql("'aqp:' || CAST(o_orderkey AS VARCHAR)")

_AQP_SQL = f"""
WITH s AS (
  SELECT o_totalprice FROM orders WHERE {_H_AQP} % 10 = 0
), ex AS (
  SELECT count(*) AS c,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
  FROM orders
), es AS (
  SELECT count(*) * 10 AS c,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 10 AS BIGINT) AS m
  FROM s
)
SELECT 'count' AS metric, CAST(ex.c AS BIGINT) AS exact_value,
       CAST(es.c AS BIGINT) AS estimate,
       round(abs(es.c - ex.c) / CAST(ex.c AS DOUBLE), 4) AS rel_err
FROM ex, es
UNION ALL
SELECT 'sum_cents', ex.m, es.m, round(abs(es.m - ex.m) / CAST(ex.m AS DOUBLE), 4)
FROM ex, es
"""


@register("aqp_sample_estimate", oracle=_AQP_SQL)
def aqp_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing (BlinkDB-style): answer count/sum
    from a 10 % deterministic hash sample, scaled by the inverse
    sampling rate, and report the realized relative error against the
    exact answer. The sample gate is the usual hash60 predicate — a
    map-side filter that at 100 TB is a MATERIALIZED sample table read
    at 1/10 the scan cost; the error report is the calibration query a
    platform runs once per metric family to decide whether the sample
    tier can serve a dashboard. Money accumulates in integer cents
    (exact); the only doubles are the final error ratios."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    gate = F.pmod(
        hash60(F.concat(F.lit("aqp:"), F.col("o_orderkey").cast("string"))),
        F.lit(10),
    )
    # exact + scaled-sample moments in ONE conditional aggregate (the
    # sample is a predicate over the same rows), then the two report
    # rows explode from a struct array — one orders scan instead of the
    # 4 the ex/es crossJoin + two-arm union re-planned (max_rescan,
    # round 7)
    a = o.agg(
        F.count("*").alias("xc"),
        F.sum(cents).alias("xm"),
        (F.sum(F.when(gate == 0, 1).otherwise(0)) * 10).alias("c"),
        (F.sum(F.when(gate == 0, cents)) * 10).alias("m"),
    )
    row = lambda name, xv, ev: F.struct(  # noqa: E731
        F.lit(name).alias("metric"),
        F.col(xv).cast("bigint").alias("exact_value"),
        F.col(ev).cast("bigint").alias("estimate"),
        F.round(
            F.abs(F.col(ev) - F.col(xv)) / F.col(xv).cast("double"), 4
        ).alias("rel_err"),
    )
    return a.select(
        F.explode(
            F.array(row("count", "xc", "c"), row("sum_cents", "xm", "m"))
        ).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# ingest-volume anomaly gate
# ---------------------------------------------------------------------------

_VOLUME_SQL = """
WITH d AS (
  SELECT ts::DATE AS day, count(*) AS n FROM events GROUP BY 1
), t AS (
  SELECT day, n,
         sum(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
           AS trail_sum,
         count(*) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
           AS trail_n
  FROM d
)
SELECT strftime(day, '%Y-%m-%d') AS day, n,
       CASE WHEN trail_n > 0
            THEN round(n * trail_n / CAST(trail_sum AS DOUBLE), 4) END
         AS vs_trailing,
       CASE WHEN trail_n > 0
            THEN n * trail_n * 2 > trail_sum * 3 OR n * trail_n * 2 < trail_sum
            END AS anomaly
FROM t
"""


@register("dq_anomaly_volume", oracle=_VOLUME_SQL)
def dq_anomaly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly gate: each day's event count against its
    own 7-day trailing mean; a day above 1.5x or below 0.5x of trailing
    flags anomalous (the pipeline-halt check that catches upstream
    double-sends and silent drops BEFORE they poison a training
    snapshot). The threshold compares in INTEGER cross-multiplication
    (n*trail_n*2 vs trail_sum*3) so no float boundary exists; the
    reported ratio is one deterministic division. The daily rollup is a
    map-side-combined count; the trailing window runs over the
    #days-row frame — date-keyed, fixed-size at any event volume. First
    days with no trailing history emit NULL, not false alarms."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n")
    )
    w = W.orderBy("day").rowsBetween(-7, -1)
    t = d.select(
        "day",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count("*").over(w).alias("trail_n"),
    )
    has = F.col("trail_n") > 0
    return t.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.when(
            has,
            F.round(
                F.col("n") * F.col("trail_n") / F.col("trail_sum").cast("double"),
                4,
            ),
        ).alias("vs_trailing"),
        F.when(
            has,
            (F.col("n") * F.col("trail_n") * 2 > F.col("trail_sum") * 3)
            | (F.col("n") * F.col("trail_n") * 2 < F.col("trail_sum")),
        ).alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# mutual information between two categoricals (feature selection)
# ---------------------------------------------------------------------------

_MI_SQL = """
WITH j AS (
  SELECT c.c_mktsegment AS x, n.n_name AS y
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
), xy AS (
  SELECT x, y, count(*) AS c_xy FROM j GROUP BY x, y
), xs AS (SELECT x, sum(c_xy) AS c_x FROM xy GROUP BY x),
ys AS (SELECT y, sum(c_xy) AS c_y FROM xy GROUP BY y),
tot AS (SELECT sum(c_xy) AS n FROM xy),
terms AS (
  SELECT CAST(round((xy.c_xy / CAST(t.n AS DOUBLE))
         * log2((xy.c_xy * CAST(t.n AS DOUBLE)) / (xs.c_x * CAST(ys.c_y AS DOUBLE)))
         * 1000000000) AS BIGINT) AS term
  FROM xy JOIN xs USING (x) JOIN ys USING (y) CROSS JOIN tot t
)
SELECT 'mktsegment|nation' AS pair,
       round(sum(term) / 1000000000.0, 4) AS mi_bits
FROM terms
"""


@register("profile_mutual_info", oracle=_MI_SQL)
def profile_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns — the
    feature-selection statistic ('does market segment carry information
    about nation?'; ~0 here, by construction of the fixtures — an MI
    near H(x) would flag a leaking / redundant feature before training).
    All distributions come from ONE (x, y) contingency aggregate
    (map-side combined; marginals are sums over the tiny contingency
    table, not re-scans); each p*log2 term quantizes to 1e-9 and the
    term sum runs in exact integers — the same
    association-order-independence discipline as profile_drift_tv,
    because a float MI sum can never hash-match across engines."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    j = c.join(n, c.c_nationkey == n.n_nationkey).select(
        F.col("c_mktsegment").alias("x"), F.col("n_name").alias("y")
    )
    # pinned: marginals, total and the term join all read the tiny
    # contingency table — unpinned, each re-ran the customer x nation
    # join (4 customer scans in the final plan; max_rescan, round 7)
    xy = pin(
        j.groupBy("x", "y").agg(F.count("*").alias("c_xy")), label="mi_xy"
    )
    xs = xy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    ys = xy.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    tot = xy.agg(F.sum("c_xy").alias("n"))
    terms = (
        xy.join(xs, "x")
        .join(ys, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("c_xy") / F.col("n").cast("double"))
                * F.log2(
                    (F.col("c_xy") * F.col("n").cast("double"))
                    / (F.col("c_x") * F.col("c_y").cast("double"))
                )
                * 1000000000
            )
            .cast("bigint")
            .alias("term")
        )
    )
    return terms.agg(
        F.lit("mktsegment|nation").alias("pair"),
        F.round(F.sum("term") / 1000000000.0, 4).alias("mi_bits"),
    )


# ---------------------------------------------------------------------------
# leave-one-out target encoding (leakage-safe)
# ---------------------------------------------------------------------------

_TARGET_ENC_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS yc
  FROM orders
), g AS (
  SELECT o_orderpriority, sum(yc) AS s, count(*) AS n FROM o
  GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       round((g.s - o.yc) / ((g.n - 1) * 100.0), 2) AS loo_mean_price
FROM o JOIN g USING (o_orderpriority)
WHERE o.o_orderkey < 300
"""


@register("xform_target_encode", oracle=_TARGET_ENC_SQL)
def xform_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the leakage-safe form of the
    classic categorical->mean-target feature: each row's encoding
    excludes its OWN target ((sum_cat - y_i) / (n_cat - 1)), because
    the naive per-category mean leaks the label into the feature and
    inflates validation scores. One map-side-combined per-category
    aggregate broadcast back over the rows (category cardinality is
    tiny; at high cardinality the join shuffles on the category like
    any key); the arithmetic runs in integer cents with ONE final
    division, so the encoding is exact and partition-order-free.
    Output capped to o_orderkey < 300 for gate size."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.sum("yc").alias("s"), F.count("*").alias("n")
    )
    return (
        o.join(g, "o_orderpriority")
        .filter(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                (F.col("s") - F.col("yc")) / ((F.col("n") - 1) * 100.0), 2
            ).alias("loo_mean_price"),
        )
    )


# ---------------------------------------------------------------------------
# cross-table temporal consistency
# ---------------------------------------------------------------------------

_TEMPORAL_SQL = """
SELECT CAST(extract(year FROM o.o_orderdate) AS INT) AS order_year,
       count(*) AS n_lineitems,
       count(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
         AS n_ship_before_order,
       count(*) FILTER (WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
         AS n_late_90d,
       round(count(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
             / CAST(count(*) AS DOUBLE), 4) AS violation_rate
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


@register("dq_temporal_consistency", oracle=_TEMPORAL_SQL)
def dq_temporal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE temporal consistency — the integrity class FK checks
    miss: a child event must not precede its parent (ship before
    order), and SLA breaches (shipped >90 days after order) need
    counting per period. Non-vacuous by construction on these fixtures:
    the generator does NOT enforce the invariant (~49 % of lineitems
    ship before their order date), which is exactly why a real pipeline
    runs this gate — synthetic and migrated data violate cross-field
    invariants silently. One key-partitioned join + conditional
    aggregation; both temporal predicates are map-side after the
    join."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    before = F.col("l_shipdate") < F.col("o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "interval 90 days"
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count("*").alias("n_lineitems"),
            F.count(F.when(before, 1)).alias("n_ship_before_order"),
            F.count(F.when(late, 1)).alias("n_late_90d"),
            F.round(
                F.count(F.when(before, 1)) / F.count("*").cast("double"), 4
            ).alias("violation_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit forensics
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), t AS (SELECT sum(n) AS total FROM c)
SELECT c.digit, c.n,
       round(c.n / CAST(t.total AS DOUBLE), 4) AS observed,
       round(log2(1.0 + 1.0 / c.digit) / log2(10.0), 4) AS benford_expected
FROM c, t
"""


@register("profile_benford", oracle=_BENFORD_SQL)
def profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of the money column — the
    data-forensics gate: organically generated amounts follow
    P(d) = log10(1 + 1/d) (30 % leading 1s), while fabricated,
    truncated, or unit-mixed data visibly deviates (these fixtures are
    uniform-ish generated, and the report SHOWS that deviation — the
    point of running the gate on synthetic data). First digit is pure
    string arithmetic on the integer part; one map-side-combined count
    per digit + a 1-row total broadcast; expected frequencies compute
    as log2 ratios (both engines' log2 agree at round(4) on these 9
    constants)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 4).alias(
            "observed"
        ),
        F.round(
            F.log2(1.0 + 1.0 / F.col("digit")) / F.log2(F.lit(10.0)), 4
        ).alias("benford_expected"),
    )


# ---------------------------------------------------------------------------
# population-stability-index drift between two time snapshots
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_W = 60000.0  # fixed bin width over [0, 600k): stable boundaries, so
# yesterday's and today's histograms are comparable without re-deriving
# quantiles (quantile bins would move with the drift being measured)

_PSI_SQL = f"""
WITH snap AS (
  SELECT CAST(least(floor(o_totalprice / {_PSI_W}), {_PSI_BINS - 1}) AS INT)
           AS bin,
         o_orderdate < TIMESTAMP '1998-01-01' AS is_ref
  FROM orders
), counts AS (
  SELECT bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM snap GROUP BY bin
), tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
         CAST(sum(n_cur) AS BIGINT) AS t_cur
  FROM counts
)
SELECT bin, n_ref, n_cur,
       round((n_ref + 0.5) / (t_ref + 0.5 * {_PSI_BINS}), 6) AS p_ref,
       round((n_cur + 0.5) / (t_cur + 0.5 * {_PSI_BINS}), 6) AS p_cur,
       round(((n_cur + 0.5) / (t_cur + 0.5 * {_PSI_BINS})
              - (n_ref + 0.5) / (t_ref + 0.5 * {_PSI_BINS}))
             * ln(((n_cur + 0.5) / (t_cur + 0.5 * {_PSI_BINS}))
                  / ((n_ref + 0.5) / (t_ref + 0.5 * {_PSI_BINS}))), 6)
         AS psi_term
FROM counts CROSS JOIN tot
"""


@register("profile_drift_psi", oracle=_PSI_SQL)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two time snapshots of the
    order-value distribution — the model-monitoring drift metric
    (PSI > 0.2 = retrain trigger), upgrading profile_drift_tv's L1
    distance to the likelihood-ratio-weighted form that punishes
    mass moving into previously-empty regions. Fixed-width bins (not
    quantiles: boundaries must NOT move with the drift being
    measured), 0.5-Laplace smoothing so an empty bin never divides by
    zero, per-bin counts from ONE conditional-aggregation pass over
    the scan, the 1-row totals broadcast back. Per-bin psi_term is a
    single ln over ratios of exact integers (bitwise cross-engine);
    the headline PSI is the column sum the consumer takes — emitted
    per-bin because a drift alert is useless without knowing WHICH
    value region moved."""
    o = load(spark, sf_dir, "orders")
    bin_ = F.least(
        F.floor(F.col("o_totalprice") / _PSI_W), F.lit(_PSI_BINS - 1)
    ).cast("int")
    is_ref = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    counts = o.select(bin_.alias("bin"), is_ref.alias("is_ref")).groupBy(
        "bin"
    ).agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * _PSI_BINS)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * _PSI_BINS)
    return j.select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# join-cardinality (fanout) profiling
# ---------------------------------------------------------------------------

_JOIN_CARD_SQL = """
WITH oc AS (
  SELECT o_custkey AS k, count(*) AS fan FROM orders GROUP BY o_custkey
), lo AS (
  SELECT l_orderkey AS k, count(*) AS fan FROM lineitem GROUP BY l_orderkey
)
SELECT 'customer->orders' AS relationship,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(min(fan) AS BIGINT) AS min_fanout,
       round(CAST(sum(fan) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
         AS avg_fanout,
       CAST(max(fan) AS BIGINT) AS max_fanout
FROM oc
UNION ALL
SELECT 'orders->lineitem', count(*), min(fan),
       round(CAST(sum(fan) AS BIGINT) / CAST(count(*) AS DOUBLE), 4), max(fan)
FROM lo
"""


@register("profile_join_cardinality", oracle=_JOIN_CARD_SQL)
def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout profile per FK relationship (min/avg/max children per
    key) — the statistic that predicts a join's output size and flags
    the hot keys BEFORE the shuffle runs (max_fanout >> avg = the
    skew-salting trigger; join_salted is the cure this diagnoses for).
    One groupBy per relationship with map-side combine; the profile is
    relationship-count rows regardless of table size — the cheap
    nightly health check a join-heavy warehouse runs against every
    declared FK."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def prof(df, key, name):
        fan = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("fan"))
        return fan.agg(
            F.lit(name).alias("relationship"),
            F.count("*").alias("n_keys"),
            F.min("fan").alias("min_fanout"),
            F.round(
                F.sum("fan") / F.count("*").cast("double"), 4
            ).alias("avg_fanout"),
            F.max("fan").alias("max_fanout"),
        )

    return prof(o, "o_custkey", "customer->orders").unionByName(
        prof(li, "l_orderkey", "orders->lineitem")
    )
