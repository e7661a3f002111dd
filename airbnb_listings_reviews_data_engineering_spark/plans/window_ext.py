"""Extension surface beyond reference parity (SURVEY.md §2.6 notes the
reference has no window functions, sorts, limits, or set operators — these
are capabilities a user of a real analytics engine expects, so the engine
provides them as first-class, oracle-checked queries).

Scale notes baked into each plan:
- window functions partition on high-cardinality keys (custkey/user_id) —
  the shuffle is one hash exchange, no global sort;
- global top-k compiles to TakeOrderedAndProject (per-partition heaps +
  driver merge of k*partitions rows), never a full sort;
- the as-of join is the union-window formulation: one shuffle on the join
  key, linear in |events| + |orders|, instead of the quadratic
  join-then-filter-then-argmax shape;
- sessionization is lag + running-sum — two window passes over one
  partitioning, reused exchange.

Determinism: every window ORDER BY ends in a unique key (orderkey /
event_id) so frames are total orders; running double sums accumulate in
the same sequence on both engines; timestamps are emitted as formatted
strings (session TZ = UTC on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.asof import ASOF_SQL, last_order_price
from .registry import load, register

# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------

_ROW_NUMBER_SQL = """
SELECT o_orderkey, o_custkey,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS rn
FROM orders
"""


@register("win_row_number", oracle=_ROW_NUMBER_SQL)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequence number. One hash exchange on o_custkey;
    ORDER BY ends in the unique o_orderkey so numbering is deterministic."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", F.row_number().over(w).alias("rn"))
    )


_TOPK_GROUP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@register("win_topk_per_group", oracle=_TOPK_GROUP_SQL)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price. The rank filter is pushed below
    the final project; at scale AQE coalesces the post-filter partitions."""
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_LAG_LEAD_SQL = """
SELECT event_id, user_id,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       round(value - lag(value) OVER w, 4) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("win_lag_lead", oracle=_LAG_LEAD_SQL)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event stream — both offsets share one
    window spec, so Spark computes them in a single pass."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


_RUNNING_SUM_SQL = """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
FROM orders
"""


@register("win_running_sum", oracle=_RUNNING_SUM_SQL)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running revenue. Explicit ROWS frame (not the default
    RANGE) + unique ordering key = identical accumulation sequence on both
    engines, so the doubles agree bitwise before rounding."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


_MOVING_AVG_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3
FROM events
"""


@register("win_moving_avg", oracle=_MOVING_AVG_SQL)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average per user — bounded ROWS frame, single pass."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("mavg3"),
    )


_PARTITION_AGG_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DECIMAL(18,2)) * count(*) OVER w
         - sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS dev_scaled,
       round(o_totalprice / max(o_totalprice) OVER w, 4) AS frac_of_max
FROM orders
WINDOW w AS (PARTITION BY o_custkey)
"""


@register("win_partition_agg", oracle=_PARTITION_AGG_SQL)
def win_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition window aggregates (no ORDER BY): each row compared
    to its group's sum/max without collapsing the rows — the
    analytic-vs-grouped distinction.

    Deviation-from-mean is emitted count-scaled (price*n - sum) in exact
    DECIMAL: the float mean is engine-order-dependent, and price - mean
    lands on exact half-boundaries systematically (means of small
    groups), where Spark's BigDecimal rounding and DuckDB's float
    rounding disagree. Exact decimal arithmetic needs no rounding at all."""
    w = W.partitionBy("o_custkey")
    price = F.col("o_totalprice")
    dec = price.cast("decimal(18,2)")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (dec * F.count("*").over(w) - F.sum(dec).over(w)).alias("dev_scaled"),
        F.round(price / F.max(price).over(w), 4).alias("frac_of_max"),
    )


_TIME_RANGE_SQL = """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS sum_30d
FROM orders
"""


@register("win_time_range", oracle=_TIME_RANGE_SQL)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-customer rolling 30-day revenue.
    Ordering is the integer day number so the range frame is value-based
    (all same-day orders enter together — deterministic under ties,
    unlike a ROWS frame). The continuous-rollup shape for time series."""
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = W.partitionBy("o_custkey").orderBy(day).rangeBetween(-29, 0)
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_30d"),
    )


_RANK_FAMILY_SQL = """
SELECT o_orderkey, o_custkey,
       dense_rank()   OVER w AS drank,
       round(percent_rank() OVER w, 6) AS prank,
       round(cume_dist()    OVER w, 6) AS cdist,
       ntile(4)       OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


@register("win_rank_family", oracle=_RANK_FAMILY_SQL)
def win_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking family in one window pass (shared spec => one
    exchange + one sort). Ordering ends in the unique o_orderkey, so
    every rank is deterministic."""
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


_FIRST_LAST_SQL = """
SELECT o_orderkey, o_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice)  OVER w AS last_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("win_first_last", oracle=_FIRST_LAST_SQL)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over an explicit full-partition frame (the
    default growing frame makes last_value() a footgun — pinned here)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    price = F.col("o_totalprice")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first(price).over(w).alias("first_price"),
        F.last(price).over(w).alias("last_price"),
        F.nth_value(price, 2).over(w).alias("second_price"),
    )


_MINMAX_BY_SQL = """
SELECT o_custkey,
       arg_min(o_orderkey, o_totalprice) AS cheapest_order,
       arg_max(o_orderkey, o_totalprice) AS priciest_order
FROM orders GROUP BY o_custkey
"""


@register("agg_minmax_by", oracle=_MINMAX_BY_SQL)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) aggregates — one pass, no window.
    (o_totalprice is continuous so per-customer ties don't occur; for a
    tie-prone ordering key, pack a unique tiebreaker into the value.)"""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        )
    )


# ---------------------------------------------------------------------------
# sort / limit
# ---------------------------------------------------------------------------

_SORT_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("sort_limit_topk", oracle=_SORT_LIMIT_SQL)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100: compiles to TakeOrderedAndProject — per-partition
    size-100 heaps merged on the driver, NO global sort of 100 TB."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# set operators
# ---------------------------------------------------------------------------

_UNION_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
"""


@register("setop_union", oracle=_UNION_SQL)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — union + aggregate-free distinct, one shuffle."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").cast("int").alias("nationkey"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").cast("int").alias("nationkey"))
    )
    return c.union(s).distinct()


_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9500
"""


@register("setop_intersect", oracle=_INTERSECT_SQL)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — Catalyst rewrites to a left-semi join over distincts."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").cast("int").alias("nationkey"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(F.col("s_nationkey").cast("int").alias("nationkey"))
    )
    return c.intersect(s)


_EXCEPT_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9900
"""


@register("setop_except", oracle=_EXCEPT_SQL)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — Catalyst rewrites to a left-anti join over distincts."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").cast("int").alias("nationkey"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9900)
        .select(F.col("s_nationkey").cast("int").alias("nationkey"))
    )
    return c.subtract(s)


_INTERSECT_ALL_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
INTERSECT ALL
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
"""


@register("setop_intersect_all", oracle=_INTERSECT_ALL_SQL)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: each value appears min(m, n) times."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").cast("int").alias("nationkey"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").cast("int").alias("nationkey"))
    )
    return c.intersectAll(s)


_EXCEPT_ALL_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
"""


@register("setop_except_all", oracle=_EXCEPT_ALL_SQL)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics: each value appears max(m - n, 0) times."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").cast("int").alias("nationkey"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").cast("int").alias("nationkey"))
    )
    return c.exceptAll(s)


# ---------------------------------------------------------------------------
# grouping extensions
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
SELECT r_name, n_name,
       GROUPING(r_name, n_name) AS gid,
       count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("agg_rollup", oracle=_ROLLUP_SQL)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): nation, region, and grand totals in
    one pass — Spark expands grouping sets map-side, still one shuffle."""
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
        .select("r_name", "n_name", "gid", "n_suppliers", "total_bal")
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("agg_cube", oracle=_CUBE_SQL)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one shuffle."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


_HAVING_SQL = """
SELECT o_custkey, count(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
"""


@register("agg_having", oracle=_HAVING_SQL)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING — the post-aggregation filter runs after the
    final agg, before any result materialization."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


_DISTINCT_AGG_SQL = """
SELECT c_mktsegment AS segment,
       count(*) AS n_customers,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer
GROUP BY c_mktsegment
"""


@register("agg_distinct", oracle=_DISTINCT_AGG_SQL)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count + count(DISTINCT) in one aggregation — Spark plans the
    two-phase expand/partial/final distinct aggregate automatically."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# join extensions
# ---------------------------------------------------------------------------

_LEFT_OUTER_SQL = """
SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
"""


@register("join_left_outer", oracle=_LEFT_OUTER_SQL)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders —
    count(o_orderkey) counts only matched rows."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


_FULL_OUTER_SQL = """
SELECT coalesce(c.k, s.k) AS nationkey,
       c.k IS NOT NULL AS has_customer,
       s.k IS NOT NULL AS has_supplier
FROM (SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_nationkey < 20) c
FULL JOIN (SELECT DISTINCT s_nationkey AS k FROM supplier WHERE s_nationkey >= 5) s
  ON c.k = s.k
"""


@register("join_full_outer", oracle=_FULL_OUTER_SQL)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with presence flags on both sides."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 20)
        .select(F.col("c_nationkey").cast("int").alias("ck"))
        .distinct()
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") >= 5)
        .select(F.col("s_nationkey").cast("int").alias("sk"))
        .distinct()
    )
    return c.join(s, c.ck == s.sk, "full").select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.col("ck").isNotNull().alias("has_customer"),
        F.col("sk").isNotNull().alias("has_supplier"),
    )


_ANTI_SQL = """
SELECT c_custkey
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


@register("join_anti", oracle=_ANTI_SQL)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order above 300k. The filter on
    the right side is pushed below the join (smaller build side)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")


_CROSS_SQL = """
SELECT a.r_name AS region_a, b.r_name AS region_b
FROM region a CROSS JOIN region b
"""


@register("join_cross", oracle=_CROSS_SQL)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two tiny dims (only ever valid for
    broadcast-size inputs; Spark requires the explicit crossJoin call)."""
    a = load(spark, sf_dir, "region").select(F.col("r_name").alias("region_a"))
    b = load(spark, sf_dir, "region").select(F.col("r_name").alias("region_b"))
    return a.crossJoin(b)


@register("join_asof", oracle=ASOF_SQL)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each event picks the price of the user's most
    recent order at-or-before the event timestamp — the union-window
    formulation of operators/asof (one shuffle on user_id, one linear
    window pass)."""
    return last_order_price(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "events")
    )


_RANGE_JOIN_SQL = """
SELECT a.event_id,
       count(*) AS n_prev_1d,
       round(sum(b.value), 4) AS sum_prev_1d
FROM events a
JOIN events b
  ON b.user_id = a.user_id
 AND b.ts < a.ts
 AND b.ts >= a.ts - INTERVAL 1 DAY
GROUP BY a.event_id
"""


_INTERVAL_OVERLAP_SQL = """
WITH c AS (
  SELECT event_id AS a_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE event_type = 'click'
),
v AS (
  SELECT event_id AS b_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE event_type = 'view'
)
SELECT c.a_id, count(*) AS n_overlap,
       CAST(sum(7200 - abs(c.s - v.s)) AS BIGINT) AS overlap_sec
FROM c JOIN v ON abs(c.s - v.s) < 7200
GROUP BY c.a_id
"""


@register("join_interval_overlap", oracle=_INTERVAL_OVERLAP_SQL)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi key, via bucket banding — the
    pure-range case join_range's docstring deferred, implemented.

    Each click/view event carries the half-open 2 h interval
    [ts, ts+2h); output = per click, the count of overlapping view
    intervals and their total overlap seconds. The oracle states the
    pure theta semantics (|Δ| < 7200); THIS plan never evaluates a
    cross product: each interval explodes to the (exactly two)
    width-2h buckets it touches, candidates come from an EQUI-join on
    the bucket id — any overlapping pair shares at least one bucket
    when the bucket width >= the interval length, so banding is
    lossless — then the exact overlap predicate verifies candidates
    and `distinct` collapses pairs that met in both buckets. Bucket
    population is bounded by events-per-2h (time-uniform data -> no
    hot keys); at 100 TB the bucket id becomes the shuffle/partition
    key and skewed hours fall to AQE skew-split or salting.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
    )

    def banded(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col("event_id").alias(id_alias),
            F.col("s").alias(f"{id_alias}_s"),
            F.explode(
                F.sequence(
                    F.floor(F.col("s") / 7200),
                    F.floor((F.col("s") + 7200) / 7200),
                )
            ).alias("bkt"),
        )

    clicks = banded(ev.filter(F.col("event_type") == "click"), "a_id")
    views = banded(ev.filter(F.col("event_type") == "view"), "b_id")
    pairs = (
        clicks.join(views, "bkt")
        .filter(F.abs(F.col("a_id_s") - F.col("b_id_s")) < 7200)
        .select("a_id", "b_id", "a_id_s", "b_id_s")
        .distinct()  # a pair can meet in both of its shared buckets
    )
    return pairs.groupBy("a_id").agg(
        F.count("*").alias("n_overlap"),
        F.sum(7200 - F.abs(F.col("a_id_s") - F.col("b_id_s"))).alias("overlap_sec"),
    )


@register("join_range", oracle=_RANGE_JOIN_SQL)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: each event joined to the same user's events in the
    preceding 24 h. The equi half (user_id) drives the shuffle; the range
    predicate filters co-located rows — no banding needed because the equi
    key already bounds bucket size. (At 100 TB with a pure-range key, add
    day-bucket banding: equi-join on (user_id, day) for day and day+1.)"""
    a = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    b = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"), "value"
    )
    joined = a.join(
        b,
        (b.b_user == a.user_id)
        & (b.b_ts < a.ts)
        & (b.b_ts >= a.ts - F.expr("INTERVAL 1 DAYS")),
    )
    return joined.groupBy("event_id").agg(
        F.count("*").alias("n_prev_1d"),
        F.round(F.sum("value"), 4).alias("sum_prev_1d"),
    )


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------

_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM g
)
SELECT user_id, session_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM s
GROUP BY user_id, session_id
"""


@register("sessionize", oracle=_SESSIONIZE_SQL)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via lag + running
    sum — the batch formulation of a session window. Both window passes
    share one (user_id)-partitioning, so Spark reuses a single exchange;
    the follow-up groupBy re-partitions on (user_id, session_id)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    events = (
        load(spark, sf_dir, "events")
        .withColumn(
            "new_sess",
            F.when(
                F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_sess").over(wrun))
    )
    return events.groupBy("user_id", "session_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_ASOF_TOL_SQL = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
  WHERE event_type = 'click'
),
n AS (
  SELECT c.event_id, c.user_id,
         (SELECT min(epoch_us(p.ts)) FROM events p
          WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
            AND epoch_us(p.ts) > c.t
            AND epoch_us(p.ts) <= c.t + 3600000000) AS p_t,
         c.t
  FROM c
)
SELECT event_id, user_id,
       (SELECT min(p.event_id) FROM events p
        WHERE p.user_id = n.user_id AND p.event_type = 'purchase'
          AND epoch_us(p.ts) = n.p_t) AS purchase_id,
       round((p_t - t) / 1000000.0, 4) AS latency_s
FROM n
"""


@register("join_asof_tolerance", oracle=_ASOF_TOL_SQL)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance — click-to-purchase attribution:
    each click picks the user's FIRST purchase strictly after it and
    within 1 hour (else null). Union-window formulation again (one
    shuffle on user_id, linear forward pass): purchases sort BEFORE
    clicks at equal timestamps (kind 0 < 1), so the
    currentRow->unboundedFollowing frame can never pick a same-instant
    purchase (strictness); ties at the same purchase ts resolve to the
    smallest event_id via the seq sort key — both stated independently
    in the oracle as correlated min-subqueries, so the window
    decomposition is verified against the spec formulation, not against
    itself. The tolerance is a post-filter on the attributed latency
    (null beyond 1 h), which keeps the window frame unbounded but the
    emitted state bounded."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("t"),
        F.lit(0).alias("kind"),
        F.col("event_id").alias("seq"),
        F.struct(F.col("t").alias("p_t"), F.col("event_id").alias("p_id")).alias("p"),
        F.lit(None).cast("long").alias("event_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "t",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("seq"),
        F.lit(None)
        .cast("struct<p_t:bigint,p_id:bigint>")
        .alias("p"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "kind", "seq")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    marked = (
        purchases.unionByName(clicks)
        .withColumn("nxt", F.first("p", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
    )
    within = (F.col("nxt").isNotNull()) & (
        F.col("nxt.p_t") <= F.col("t") + F.lit(3_600_000_000)
    )
    return marked.select(
        "event_id",
        "user_id",
        F.when(within, F.col("nxt.p_id")).alias("purchase_id"),
        F.when(
            within, F.round((F.col("nxt.p_t") - F.col("t")) / 1_000_000.0, 4)
        ).alias("latency_s"),
    )


_PIT_SQL = """
WITH dim AS (
  SELECT o_custkey AS ck, o_orderpriority AS prio, o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders
),
fact AS (
  SELECT o.o_custkey AS ck, l.l_shipdate AS d,
         l.l_extendedprice * (1 - l.l_discount) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT dim.prio AS prio_at_ship, count(*) AS n_lines,
       round(sum(fact.rev), 2) AS revenue
FROM fact JOIN dim ON fact.ck = dim.ck
WHERE dim.valid_from <= fact.d
  AND (dim.valid_to IS NULL OR fact.d < dim.valid_to)
GROUP BY dim.prio
"""


@register("join_point_in_time", oracle=_PIT_SQL)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) dimension lookup — the feature-store
    correctness join: each lineitem is enriched with the customer's
    order priority AS OF its ship date, never a later one (no feature
    leakage). The versioned dimension is built in place with lead() over
    (valid_from, key) per customer — zero-length versions (two orders
    the same day) match nothing and the later order wins immediately,
    deterministically on both engines.

    Physical shape: the dim build is a window PARTITIONED by custkey;
    the lookup is an equi-join on custkey with the validity predicate as
    a post-filter — right whenever versions-per-key is bounded (TPC-H:
    ~10 orders/customer at every SF), which is the normal SCD2 regime.
    A dimension with unbounded per-key history wants the union-window
    as-of decomposition instead (join_asof above, one linear pass)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("fck"), F.col("l_shipdate").alias("d"), "rev"
    )
    joined = fact.join(dim, fact.fck == dim.ck).filter(
        (F.col("valid_from") <= F.col("d"))
        & (F.col("valid_to").isNull() | (F.col("d") < F.col("valid_to")))
    )
    return joined.groupBy(F.col("prio").alias("prio_at_ship")).agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("rev"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# rolling distinct count
# ---------------------------------------------------------------------------

_DISTINCT_ROLLING_SQL = """
SELECT user_id, event_id,
       len(list_distinct(list(event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))) AS n_types_5
FROM events WHERE user_id < 20
"""


@register("win_distinct_rolling", oracle=_DISTINCT_ROLLING_SQL)
def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count — behavioral diversity over each user's
    last 5 events. Neither engine supports count(DISTINCT) as a window
    aggregate; the portable decomposition is collect over the frame +
    array_distinct + size, with per-row state bounded by the FRAME (5
    values), not the partition. The window partitions on the entity
    key, so at any scale each task holds one user's frame at a time;
    event_id breaks timestamp ties to keep the frame deterministic.
    Scoped to user_id < 20 for gate output size."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w))).alias(
            "n_types_5"
        ),
    )


# ---------------------------------------------------------------------------
# gaps and islands
# ---------------------------------------------------------------------------

_GAPS_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events WHERE user_id < 30
), tagged AS (
  SELECT user_id, day,
         (day - DATE '1970-01-01')
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island_key
  FROM days
)
SELECT user_id, strftime(min(day), '%Y-%m-%d') AS island_start,
       strftime(max(day), '%Y-%m-%d') AS island_end,
       count(*) AS n_days
FROM tagged GROUP BY user_id, island_key
"""


@register("win_gaps_islands", oracle=_GAPS_ISLANDS_SQL)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (streak detection — the calendar-unit analog of sessionize's
    timestamp-gap splitting). The classic decomposition: day_ordinal -
    row_number() is constant within a consecutive run, so the island id
    is a map-side subtraction after one per-user window; islands then
    reduce in a grouped agg. Window and aggregate both partition on the
    entity key — per-task state is one user's distinct days; no global
    sort at any scale."""
    days = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    tagged = days.select(
        "user_id",
        "day",
        (
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island_key"),
    )
    return (
        tagged.groupBy("user_id", "island_key")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .drop("island_key")
    )


# ---------------------------------------------------------------------------
# nearest as-of join (both directions, tolerance)
# ---------------------------------------------------------------------------

_ASOF_NEAREST_SQL = """
WITH e AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
), v AS (
  SELECT event_id AS view_event_id, user_id, ts AS vts FROM events
  WHERE event_type = 'view'
), cand AS (
  SELECT e.event_id, e.user_id, v.view_event_id,
         abs(epoch_us(v.vts) - epoch_us(e.ts)) AS diff_us,
         CASE WHEN v.vts <= e.ts THEN 0 ELSE 1 END AS fwd,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY abs(epoch_us(v.vts) - epoch_us(e.ts)),
                    CASE WHEN v.vts <= e.ts THEN 0 ELSE 1 END,
                    CASE WHEN v.vts <= e.ts THEN -v.view_event_id
                         ELSE v.view_event_id END) AS rn
  FROM e JOIN v ON v.user_id = e.user_id
   AND abs(epoch_us(v.vts) - epoch_us(e.ts)) <= 3600000000
)
SELECT event_id, user_id, view_event_id, diff_us FROM cand WHERE rn = 1
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with tolerance: each error event matches the
    closest view event of the same user in EITHER direction, within
    1 hour; ties prefer the earlier (backward) side. The oracle states
    the spec as candidates x row_number — quadratic in views-per-user;
    THIS plan is the union-window decomposition run in BOTH directions
    over one sort: a backward pass (last view at-or-before, via
    last_value ignore-nulls) and a forward pass (first view after, via
    first_value over the following frame) share the same
    user-partitioned ordering — ONE shuffle, two linear window passes,
    then a map-side nearest/tolerance choice. Per-user state is one
    row either side, so skewed users cost their own event count, never
    views x errors."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "view")
    )
    u = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        # views sort before errors at equal t: backward includes them
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
        "event_id",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("vid"),
        F.when(F.col("event_type") == "view", F.unix_micros("ts")).alias("vt"),
    )
    order = [F.col("t"), F.col("kind"), F.col("event_id")]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    marked = u.select(
        "user_id",
        "t",
        "kind",
        "event_id",
        F.last("vid", ignorenulls=True).over(wb).alias("prev_id"),
        F.last("vt", ignorenulls=True).over(wb).alias("prev_t"),
        F.first("vid", ignorenulls=True).over(wf).alias("next_id"),
        F.first("vt", ignorenulls=True).over(wf).alias("next_t"),
    ).filter(F.col("kind") == 1)
    tol = 3600000000
    prev_d = F.col("t") - F.col("prev_t")
    next_d = F.col("next_t") - F.col("t")
    prev_ok = F.col("prev_t").isNotNull() & (prev_d <= tol)
    next_ok = F.col("next_t").isNotNull() & (next_d <= tol)
    use_prev = prev_ok & (~next_ok | (prev_d <= next_d))
    return (
        marked.filter(prev_ok | next_ok)
        .select(
            "event_id",
            "user_id",
            F.when(use_prev, F.col("prev_id"))
            .otherwise(F.col("next_id"))
            .alias("view_event_id"),
            F.when(use_prev, prev_d).otherwise(next_d).alias("diff_us"),
        )
    )


# ---------------------------------------------------------------------------
# rolling median
# ---------------------------------------------------------------------------

_MEDIAN_ROLLING_SQL = """
WITH w AS (
  SELECT user_id, event_id,
         list_sort(list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS vals
  FROM events WHERE user_id < 20
)
SELECT user_id, event_id,
       round(CASE WHEN len(vals) % 2 = 1
                  THEN vals[(len(vals) + 1) // 2]
                  ELSE (vals[len(vals) // 2] + vals[len(vals) // 2 + 1]) / 2
             END, 4) AS median_5
FROM w
"""


@register("win_median_rolling", oracle=_MEDIAN_ROLLING_SQL)
def win_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN over each user's last 5 events — the robust
    alternative to win_moving_avg (one outlier corrupts a rolling mean;
    the median shrugs). Neither engine has a median window aggregate;
    the portable decomposition is frame-bounded collect + sort + middle
    pick, with per-row state bounded by the FRAME (5 values), not the
    partition — same pattern as win_distinct_rolling, so the plan holds
    at any entity count. The even-frame midpoint averages two actual
    data values (one deterministic float op); event_id breaks timestamp
    ties."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    vals = F.array_sort(F.collect_list("value").over(w))
    n = F.size(vals)
    odd = F.element_at(vals, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(vals, (n / 2).cast("int"))
        + F.element_at(vals, (n / 2).cast("int") + 1)
    ) / 2
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.when(n % 2 == 1, odd).otherwise(even), 4).alias("median_5"),
    )


# ---------------------------------------------------------------------------
# running distinct count (first-occurrence decomposition)
# ---------------------------------------------------------------------------

_RUNNING_DISTINCT_SQL = """
WITH f AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) = 1 AS first_seen
  FROM events WHERE user_id < 20
)
SELECT user_id, event_id,
       CAST(sum(CASE WHEN first_seen THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_types_seen
FROM f
"""


@register("win_running_distinct", oracle=_RUNNING_DISTINCT_SQL)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING distinct count per entity ('how many event types has
    this user touched so far') — the adoption-curve metric. A naive
    distinct-over-growing-frame collects the whole history per row;
    this is the first-occurrence decomposition (same trick as
    text_vocab_growth): mark each (user, type)'s first row with one
    window, then a plain running SUM of the 0/1 marks — per-row state
    collapses from the full seen-set to one integer. Both windows
    partition on the entity key and share its shuffle."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn("first_seen", F.row_number().over(w_first) == 1)
        .select(
            "user_id",
            "event_id",
            F.sum(F.when(F.col("first_seen"), 1).otherwise(0))
            .over(w_run)
            .alias("n_types_seen"),
        )
    )


# ---------------------------------------------------------------------------
# time to conversion (forward-looking window)
# ---------------------------------------------------------------------------

_TTC_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pt
  FROM events WHERE user_id < 30
), m AS (
  SELECT user_id, event_id, event_type, ts,
         min(pt) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
  FROM e
)
SELECT user_id, event_id,
       (next_p - epoch_us(ts)) // 1000000 AS secs_to_purchase
FROM m WHERE event_type = 'view' AND next_p IS NOT NULL
"""


@register("win_time_to_conversion", oracle=_TTC_SQL)
def win_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: for every view, seconds until the user's
    NEXT purchase — the survival-analysis input behind conversion-lag
    dashboards. The forward-looking min over (1 FOLLOWING, UNBOUNDED)
    of the purchase timestamps resolves it in ONE user-partitioned
    window pass (no per-view purchase join, which is quadratic in
    events-per-user); the microsecond difference floor-divides once, so
    no per-value truncation skew (the profile_freshness lesson).
    Views with no later purchase drop out — right-censored rows are
    the survival model's business, not this feature's."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    pt = F.when(
        F.col("event_type") == "purchase", F.unix_micros("ts")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    m = ev.withColumn("next_p", F.min(pt).over(w))
    return (
        m.filter(
            (F.col("event_type") == "view") & F.col("next_p").isNotNull()
        )
        .select(
            "user_id",
            "event_id",
            F.floor(
                (F.col("next_p") - F.unix_micros("ts")) / 1000000
            ).alias("secs_to_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style event-pattern detection (V-shapes)
# ---------------------------------------------------------------------------

_MATCH_RECOGNIZE_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CASE WHEN o_totalprice < lag(o_totalprice)
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) THEN 'D'
              WHEN o_totalprice > lag(o_totalprice)
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) THEN 'U'
              ELSE 'F' END AS dir,
         o_orderdate
  FROM orders
), chg AS (
  SELECT o_custkey, dir, o_orderkey, o_totalprice, o_orderdate,
         CASE WHEN dir = lag(dir)
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
              THEN 0 ELSE 1 END AS is_chg
  FROM o
), runs AS (
  SELECT o_custkey, dir, o_orderkey, o_totalprice, o_orderdate,
         sum(is_chg)
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM chg
), grp AS (
  SELECT o_custkey, run_id, dir, count(*) AS run_len,
         min(o_orderkey) AS first_key, max(o_orderkey) AS last_key,
         CAST(round(min(o_totalprice) * 100) AS BIGINT) AS min_cents
  FROM runs WHERE dir IN ('D', 'U')
  GROUP BY o_custkey, run_id, dir
)
SELECT d.o_custkey, d.run_len AS down_len, u.run_len AS up_len,
       d.last_key AS bottom_key,
       round(d.min_cents / 100.0, 2) AS bottom_price
FROM grp d JOIN grp u
  ON d.o_custkey = u.o_custkey AND u.run_id = d.run_id + 1
WHERE d.dir = 'D' AND u.dir = 'U' AND d.run_len >= 2
"""


@register("win_match_recognize", oracle=_MATCH_RECOGNIZE_SQL)
def win_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern detection — the V-shape
    pattern `A{2,} B+` (>=2 consecutive price drops immediately
    followed by a rise) per customer, the SQL:2016 feature Trino and
    Flink ship that Spark lacks. Rebuilt as the gaps-and-islands
    composition: classify each step's direction via lag, number
    maximal same-direction runs with a change-flag running sum,
    aggregate runs, and close the pattern with a self-join of a
    D-run onto its immediately following U-run (run_id + 1). Every
    window is partitioned by the entity — variable-length quantifiers
    come from the run AGGREGATION, not from row-by-row backtracking,
    so the plan is two partitioned window passes + one run-table
    self-join regardless of pattern length. At 100 TB run tables are
    ~#direction-changes, far smaller than the event table."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev = F.lag("o_totalprice").over(w)
    o = load(spark, sf_dir, "orders").withColumn(
        "dir",
        F.when(F.col("o_totalprice") < prev, "D")
        .when(F.col("o_totalprice") > prev, "U")
        .otherwise("F"),
    )
    runs = o.withColumn(
        "run_id",
        F.sum(
            F.when(F.col("dir") == F.lag("dir").over(w), 0).otherwise(1)
        ).over(wrun),
    )
    grp = (
        runs.filter(F.col("dir").isin("D", "U"))
        .groupBy("o_custkey", "run_id", "dir")
        .agg(
            F.count("*").alias("run_len"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
            F.round(F.min("o_totalprice") * 100)
            .cast("bigint")
            .alias("min_cents"),
        )
    )
    d = grp.filter((F.col("dir") == "D") & (F.col("run_len") >= 2)).select(
        "o_custkey",
        "run_id",
        F.col("run_len").alias("down_len"),
        F.col("last_key").alias("bottom_key"),
        F.col("min_cents").alias("bottom_cents"),
    )
    u = grp.filter(F.col("dir") == "U").select(
        "o_custkey",
        (F.col("run_id") - 1).alias("run_id"),
        F.col("run_len").alias("up_len"),
    )
    return d.join(u, ["o_custkey", "run_id"]).select(
        "o_custkey",
        "down_len",
        "up_len",
        "bottom_key",
        F.round(F.col("bottom_cents") / 100.0, 2).alias("bottom_price"),
    )


# ---------------------------------------------------------------------------
# time-series gap fill: linear interpolation between neighbors
# ---------------------------------------------------------------------------

_INTERP_SQL = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events WHERE user_id < 10
), nb AS (
  SELECT user_id, event_id, t, v,
         last_value(v IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
         first_value(v IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
  FROM base
)
SELECT user_id, event_id,
       CASE WHEN v IS NOT NULL THEN 'obs'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
            WHEN pv IS NOT NULL THEN 'ffill'
            WHEN nv IS NOT NULL THEN 'bfill'
            ELSE 'none' END AS fill_kind,
       round(CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv) * ((t - pt) / CAST(nt - pt AS DOUBLE))
            WHEN pv IS NOT NULL THEN pv
            ELSE nv END, 4) AS v_filled
FROM nb
"""


@register("ts_interpolate_linear", oracle=_INTERP_SQL)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED linear interpolation of missing sensor values
    (every 7th reading nulled to stand in for dropouts): each gap row
    takes prev + (next - prev) * elapsed-fraction between its two
    nearest observed neighbors, falling back to forward-/backward-fill
    at series edges — the gap-fill step between raw telemetry and any
    resampled feature, upgrading ts_resample_ffill's step-function
    fill to first-order. Neighbor values and their TIMESTAMPS come
    from four ignore-null window lookups sharing one per-entity
    partitioning (one exchange, two sorts); the interpolation is then
    a pure row expression with an identical tree on both engines
    (exact integer epochs in the fraction), so values are bitwise
    comparable after one rounding. No spine join, no generate_series:
    irregular series interpolate directly."""
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    wp = w.rowsBetween(W.unboundedPreceding, -1)
    wn = w.rowsBetween(1, W.unboundedFollowing)
    base = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            F.when(F.col("event_id") % 7 == 0, None)
            .otherwise(F.col("value"))
            .alias("v"),
        )
    )
    tv = F.when(F.col("v").isNotNull(), F.col("t"))
    nb = base.select(
        "user_id",
        "event_id",
        "t",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(tv, ignorenulls=True).over(wp).alias("pt"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(tv, ignorenulls=True).over(wn).alias("nt"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("t") - F.col("pt")) / (F.col("nt") - F.col("pt")).cast("double")
    )
    return nb.select(
        "user_id",
        "event_id",
        F.when(F.col("v").isNotNull(), "obs")
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), "interp")
        .when(F.col("pv").isNotNull(), "ffill")
        .when(F.col("nv").isNotNull(), "bfill")
        .otherwise("none")
        .alias("fill_kind"),
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
            .when(F.col("pv").isNotNull(), F.col("pv"))
            .otherwise(F.col("nv")),
            4,
        ).alias("v_filled"),
    )


# ---------------------------------------------------------------------------
# linear-touch marketing attribution
# ---------------------------------------------------------------------------

_ATTR_WIN_US = 7_200_000_000  # 2 h lookback

_ATTRIBUTION_SQL = f"""
WITH p AS (
  SELECT event_id AS p_id, user_id, epoch_us(ts) AS pt,
         CAST(round(value * 100) AS BIGINT) AS rev_cents
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS c_id, user_id, epoch_us(ts) AS ct
  FROM events WHERE event_type = 'click'
), touch AS (
  SELECT p.p_id, p.rev_cents, c.c_id
  FROM p JOIN c ON p.user_id = c.user_id
  WHERE c.ct < p.pt AND c.ct >= p.pt - {_ATTR_WIN_US}
), share AS (
  SELECT p_id, rev_cents, c_id,
         count(*) OVER (PARTITION BY p_id) AS n_touch
  FROM touch
)
SELECT c_id AS click_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(rev_cents / CAST(n_touch AS DOUBLE)) / 100.0, 4)
         AS attributed_revenue
FROM share GROUP BY c_id
"""


@register("win_attribution_linear", oracle=_ATTRIBUTION_SQL)
def win_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-touch revenue attribution: each purchase's revenue splits
    equally across the user's click events in the 2 h lookback window —
    the marketing-analytics workload behind channel ROI. The
    purchase-click touch join is USER-KEYED (one shuffle on user_id;
    the time predicate filters inside the per-user group, so fan-out is
    bounded by a user's own activity, never a cross join); the touch
    count per purchase is one window partitioned by purchase. Revenue
    stays integer cents until the final division by the touch count.
    At 100 TB this is the canonical 'join on entity, restrict by time
    range' shape — the same banding lever as join_interval_overlap
    applies if a single entity's history outgrows its group."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("pt"),
        F.round(F.col("value") * 100).cast("bigint").alias("rev_cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.unix_micros("ts").alias("ct"),
    )
    touch = p.join(c, "user_id").filter(
        (F.col("ct") < F.col("pt"))
        & (F.col("ct") >= F.col("pt") - _ATTR_WIN_US)
    )
    share = touch.select(
        "p_id",
        "rev_cents",
        "c_id",
        F.count("*").over(W.partitionBy("p_id")).alias("n_touch"),
    )
    return share.groupBy(F.col("c_id").alias("click_id")).agg(
        F.count("*").alias("n_purchases"),
        F.round(
            F.sum(F.col("rev_cents") / F.col("n_touch").cast("double")) / 100.0,
            4,
        ).alias("attributed_revenue"),
    )


# ---------------------------------------------------------------------------
# seasonal-naive forecast evaluation (the baseline every model must beat)
# ---------------------------------------------------------------------------

_SNAIVE_SQL = """
WITH monthly AS (
  SELECT o_custkey % 25 AS series_id,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), with_lag AS (
  SELECT series_id, m, y,
         lag(y, 12) OVER (PARTITION BY series_id ORDER BY m) AS yhat
  FROM monthly
)
SELECT series_id,
       CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(abs(y - yhat)) AS BIGINT) AS mae_total_dollars,
       round(sum(abs(y - yhat)) / CAST(sum(abs(y)) AS DOUBLE), 4)
         AS wape
FROM with_lag WHERE yhat IS NOT NULL
GROUP BY series_id
"""


@register("ts_seasonal_naive_eval", oracle=_SNAIVE_SQL)
def ts_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest — forecast(month) = actual(month - 12) —
    scored per series with MAE and WAPE: the baseline every demand/
    capacity model must beat before it ships (M-competition practice;
    if your model loses to same-month-last-year, ship the lag).
    Monthly rollup is one aggregation in whole dollars (exact ints);
    the 12-step lag is a per-series window (one partitioned exchange,
    no spine join needed because the lag is by ROW over the monthly
    grid); errors aggregate exactly and WAPE divides once per
    series."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.col("o_custkey") % 25).alias("series_id"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("int")
        .alias("m"),
    ).agg(F.sum(F.round("o_totalprice").cast("bigint")).alias("y"))
    w = W.partitionBy("series_id").orderBy("m")
    wl = monthly.select(
        "series_id", "m", "y", F.lag("y", 12).over(w).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    return wl.groupBy("series_id").agg(
        F.count("*").alias("n_scored"),
        F.sum(F.abs(F.col("y") - F.col("yhat"))).alias("mae_total_dollars"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("yhat")))
            / F.sum(F.abs("y")).cast("double"),
            4,
        ).alias("wape"),
    )


# ---------------------------------------------------------------------------
# peak concurrency (interval sweep per day)
# ---------------------------------------------------------------------------

_PEAK_SQL = """
WITH sess AS (
  SELECT user_id, CAST(min(ts)::DATE AS DATE) AS day,
         epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
  FROM events GROUP BY user_id, ts::DATE
), pts AS (
  SELECT day, s AS t, 1 AS delta, user_id FROM sess
  UNION ALL
  SELECT day, e + 1 AS t, -1 AS delta, user_id FROM sess
), swept AS (
  SELECT day, t, delta,
         sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
  FROM pts
)
SELECT day, CAST(max(load) AS BIGINT) AS peak_concurrency,
       CAST(count(*) / 2 AS BIGINT) AS n_sessions
FROM swept GROUP BY day
"""


@register("win_peak_concurrency", oracle=_PEAK_SQL)
def win_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the capacity-planning statistic
    (max simultaneous active user-sessions): the classic interval
    sweep, distributed. Each user-day session becomes a +1 at its
    start and a -1 just after its end; the running sum over the
    DAY-PARTITIONED ordered event points is the live load, its max
    the peak. The sweep window partitions on the day key (never
    global — days are the natural range-partition of any telemetry
    table), ties order -1 after +1 at the same microsecond so back-
    to-back sessions never double-count, and the session rollup is
    one groupBy. Same decomposition a month/hour grain would use."""
    ev = load(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.unix_micros(F.min("ts")).alias("s"),
        F.unix_micros(F.max("ts")).alias("e"),
    )
    pts = sess.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        sess.select(
            "day",
            (F.col("e") + 1).alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
        )
    )
    w = W.partitionBy("day").orderBy(
        "t", F.desc("delta"), "user_id"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    swept = pts.withColumn("load", F.sum("delta").over(w))
    return swept.groupBy("day").agg(
        F.max("load").alias("peak_concurrency"),
        (F.count("*") / 2).cast("bigint").alias("n_sessions"),
    )


# ---------------------------------------------------------------------------
# YTD / MTD running totals (fiscal BI windows)
# ---------------------------------------------------------------------------

_YTD_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS series,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         o_orderdate::DATE AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1, 2, 3, 4
)
SELECT series, strftime(day, '%Y-%m-%d') AS day, rev,
       CAST(sum(rev) OVER (PARTITION BY series, yr ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS ytd_rev,
       CAST(sum(rev) OVER (PARTITION BY series, yr, mo ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS mtd_rev
FROM daily
"""


@register("win_ytd_running", oracle=_YTD_SQL)
def win_ytd_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date and month-to-date running revenue per series — the
    fiscal-period windows of every BI dashboard, done with PERIOD-
    partitioned frames: the YTD window partitions on (series, year)
    and MTD on (series, year, month), so the running state resets at
    each period boundary BY PARTITIONING (no conditional reset logic,
    no global window — a calendar year is the natural bound on any
    frame's length). Both windows share the (series, ...) prefix, so
    Spark satisfies the finer MTD partitioning from the same exchange
    with a sort. Whole dollars stay exact integers."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(F.round("o_totalprice").cast("bigint")).alias("rev"))
    wy = W.partitionBy("series", "yr").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wm = W.partitionBy("series", "yr", "mo").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return daily.select(
        "series",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev",
        F.sum("rev").over(wy).alias("ytd_rev"),
        F.sum("rev").over(wm).alias("mtd_rev"),
    )


# ---------------------------------------------------------------------------
# rolling correlation between two series
# ---------------------------------------------------------------------------

_RCORR_WIN = 30  # trailing days

_RCORR_SQL = f"""
WITH daily AS (
  SELECT o_orderdate::DATE AS day,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), rolled AS (
  SELECT day,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
         CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         CAST(sum(y * y) OVER w AS BIGINT) AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_RCORR_WIN - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day, n,
       round((sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE))
                * (sy / CAST(n AS DOUBLE)))
             / sqrt((sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE))
                       * (sx / CAST(n AS DOUBLE)))
                    * (syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE))
                         * (sy / CAST(n AS DOUBLE)))), 4) + 0 AS rolling_corr
FROM rolled WHERE n >= {_RCORR_WIN}
"""


@register("win_rolling_corr", oracle=_RCORR_SQL)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day rolling correlation between two revenue series
    (urgent vs low priority) — the co-movement monitor behind pairs
    analysis and cannibalization alerts. All six rolling moments are
    integer window sums over the DAY-grain table (bounded by the
    calendar, the same tiny-frame argument as ts_survival_km; a
    per-entity variant partitions the same windows by the pair key),
    sharing ONE window frame so Spark computes them in a single
    WindowExec pass; the correlation is the shared moments-to-r
    expression evaluated identically by both engines. Rows before a
    full window are suppressed rather than reported on a short
    frame."""
    o = load(spark, sf_dir, "orders")
    cents = F.round("o_totalprice").cast("bigint")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("o_orderpriority") == "5-LOW", cents).otherwise(0)
        ).alias("y"),
    )
    w = W.orderBy("day").rowsBetween(-(_RCORR_WIN - 1), W.currentRow)
    rolled = daily.select(
        "day",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    return rolled.filter(F.col("n") >= _RCORR_WIN).selectExpr(
        "date_format(day, 'yyyy-MM-dd') AS day",
        "CAST(n AS BIGINT) AS n",
        "round((sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE))"
        " * (sy / CAST(n AS DOUBLE)))"
        " / sqrt((sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE))"
        " * (sx / CAST(n AS DOUBLE)))"
        " * (syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE))"
        " * (sy / CAST(n AS DOUBLE)))), 4) + 0 AS rolling_corr",
    )
