"""Backward as-of join by a union window.

Each event takes the price of its user's most recent order at or before
the event's timestamp. Orders and events are unioned and one window per
user carries the last order price forward: one shuffle on user_id and a
linear pass, instead of joining every event to every prior order and
arg-maxing (quadratic in orders per user). Orders sort before events at
equal timestamps (kind 0 < 1), so ``<=`` semantics hold; seq (orderkey
/ event_id) makes the order total and deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: DuckDB twin of last_order_price over the orders and events tables
ASOF_SQL = """
WITH u AS (
  SELECT o_custkey AS user_id, o_orderdate AS t, 0 AS kind,
         o_orderkey AS seq, o_totalprice AS price, NULL::BIGINT AS event_id
  FROM orders
  UNION ALL
  SELECT user_id, ts AS t, 1 AS kind, event_id AS seq,
         NULL::DOUBLE AS price, event_id
  FROM events
),
marked AS (
  SELECT event_id, user_id, kind,
         last_value(price IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, kind, seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_order_price
  FROM u
)
SELECT event_id, user_id, last_order_price FROM marked WHERE kind = 1
"""


def last_order_price(orders: DataFrame, events: DataFrame) -> DataFrame:
    """(event_id, user_id, last_order_price) for every event of the
    ``events`` table, from the ``orders`` table."""
    orders = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.lit(None).cast("long").alias("event_id"),
    )
    events = events.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("seq"),
        F.lit(None).cast("double").alias("price"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "kind", "seq")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.unionByName(events)
        .withColumn("last_order_price", F.last("price", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "last_order_price")
    )
