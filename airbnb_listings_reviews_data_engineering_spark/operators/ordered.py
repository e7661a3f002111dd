"""Ordered scan: a global rank and running sums over a total order,
without a single-partition window.

``row_number() OVER (ORDER BY ...)`` and ``sum(x) OVER (ORDER BY ...)``
with no partition spec move the whole table through ONE task. The
operator splits the order across ``N_PARTS`` range partitions instead:
each partition scans its slice locally (Arrow batches, order-preserving,
narrow), and a row's global value is its local value plus the totals of
the partitions before it. Those offsets come from a window over the
``N_PARTS``-row table of per-partition totals and reach the rows through
a broadcast join, so the only wide operation over the data is the range
shuffle itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..checkpoint import pin

N_PARTS = 8


def ordered_scan(
    df: DataFrame,
    order: Sequence[str | Column],
    sums: Sequence[str] = (),
    *,
    label: str,
) -> DataFrame:
    """Return ``df`` plus ``pos``, the 1-based global rank of each row in
    ``order``, and ``cum_<c>``, the inclusive running sum of each column
    ``c`` in ``sums``. Every row also carries the grand totals
    ``n_rows`` and ``total_<c>``; they are read off the per-partition
    totals, so they cost no extra pass over the data.

    ``order`` holds column names or sort expressions and must be a total
    order: rows that tie get their ranks from the shuffle, not the data.
    ``sums`` columns are non-null integers.

    The local scan runs on the live range-shuffled frame and the pin
    (named ``label``) holds its output, with the partition id as a data
    column. A re-read of the pin may merge partitions (parquet
    checkpoint mode bin-packs small files), but nothing after the pin
    depends on the read layout, so the result is the same in every
    checkpoint mode.
    """
    ranged = (
        df.repartitionByRange(N_PARTS, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )
    # local column -> (its per-partition total, the grand-total column)
    local_cols = {
        "_pos": (F.count("*"), "n_rows"),
        **{f"_cum_{c}": (F.sum(c), f"total_{c}") for c in sums},
    }

    def scan(batches):
        n = 0
        carry = [0] * len(sums)
        for pdf in batches:
            pdf["_pos"] = range(n + 1, n + 1 + len(pdf))
            n += len(pdf)
            for i, c in enumerate(sums):
                run = pdf[c].astype("int64").cumsum() + carry[i]
                pdf[f"_cum_{c}"] = run
                if len(run):
                    carry[i] = int(run.iloc[-1])
            yield pdf

    schema = StructType(
        ranged.schema.fields + [StructField(c, LongType(), False) for c in local_cols]
    )
    local = pin(ranged.mapInPandas(scan, schema), label=label)

    parts = local.groupBy("_pid").agg(
        *(part.alias(c) for c, (part, _) in local_cols.items())
    )
    before = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    every = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offsets = parts.select(
        "_pid",
        *(
            F.coalesce(F.sum(c).over(before), F.lit(0)).alias(f"_off{c}")
            for c in local_cols
        ),
        *(F.sum(c).over(every).alias(total) for c, (_, total) in local_cols.items()),
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        *df.columns,
        *((F.col(f"_off{c}") + F.col(c)).alias(c[1:]) for c in local_cols),
        *(total for _, total in local_cols.values()),
    )
