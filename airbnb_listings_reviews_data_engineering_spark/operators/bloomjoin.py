"""Explicit Bloom-filter semi-join pruning.

At 100 TB the shuffle of the fact side dominates selective-join cost.
When the join key set is small relative to the fact (a filtered
dimension), shipping a compact bit-array summary of the dim keys to
every fact task prunes most fact rows BEFORE the exchange — the shuffle
then carries only probable matches. Spark 3.3+ applies this internally
(runtime row-level filtering, ``spark.sql.optimizer.runtime.bloomFilter
.enabled``); this module is the explicit, engine-visible form for when
the planner doesn't fire it (non-equi pre-conditions, externally
materialized key sets, or a key set reused across many queries):

- the filter is ONE row holding a ``map<int, bigint>`` of 64-bit words
  (``m_bits / 64`` entries at most — 16 KiB of bits fits any dim whose
  distinct keys number in the tens of thousands at ~10 bits/key);
- it is broadcast with ``crossJoin(broadcast(...))`` so every fact task
  probes it map-side with pure column expressions (xxhash64 k times +
  bit tests, whole-stage codegen, no Python, no per-row JVM calls);
- Bloom filters have NO false negatives, so following the prefilter
  with the exact semi-join restores exact semantics — which is why the
  registered query's oracle is the plain ``IN``-subquery SQL.

Sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k; the prefilter's
m = 2^16 bits and k = 5 (``BLOOM_M_BITS``, ``BLOOM_K``) give < 1 % at
n = 5 000 keys. At a 100 TB SF,
size m from an ``approx_count_distinct`` of the dim keys and keep
bits/key ≈ 10 — the map stays kilobytes while pruning terabytes of
shuffle input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import pin

BLOOM_M_BITS = 1 << 16
BLOOM_K = 5


def _position_sql(key_expr: str, m_bits: int, i: int) -> str:
    """SQL text for the i-th bit position of ``key_expr`` in [0, m_bits)."""
    return f"pmod(xxhash64({key_expr}, {i}), {m_bits})"


def build_bloom(
    dim: DataFrame, key: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Aggregate the distinct ``key`` values of ``dim`` into a single-row
    DataFrame ``[bloom: map<int, bigint>]`` of set 64-bit words.

    Two narrow shuffles over the (small) dim side: distinct keys, then a
    ``bit_or`` per word index — at most ``m_bits / 64`` output rows, so
    the final ``collect_list`` into the map is bounded by the filter
    size, never by the data.
    """
    positions = F.array(
        *[F.expr(_position_sql("_k", m_bits, i)) for i in range(k)]
    )
    return (
        dim.select(F.col(key).alias("_k"))
        .distinct()
        .select(F.explode(positions).alias("pos"))
        .select(
            F.expr("cast(pos div 64 as int)").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bloom")
        )
    )


def might_contain(bloom_col: str, key_expr: str, m_bits: int, k: int) -> Column:
    """Column testing all k bits of ``key_expr`` against the bloom map.

    Missing words (``element_at`` null) read as 0 — absent bit — so a
    sparse map is equivalent to a zeroed bit array.
    """
    tests = []
    for i in range(k):
        p = _position_sql(key_expr, m_bits, i)
        tests.append(
            f"(coalesce(element_at({bloom_col}, cast(({p}) div 64 as int)), 0L)"
            f" & shiftleft(1L, cast(({p}) % 64 as int))) != 0"
        )
    return F.expr("(" + ") AND (".join(tests) + ")")


def bloom_prefilter_semi_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Semi-join ``fact`` to ``dim`` with a Bloom prefilter ahead of the
    exact join: fact rows failing the bit test never reach the exchange.

    A lazy ``pin`` (checkpoint.py) on the pruned side is the barrier
    that keeps the probe-then-join order. Without it, Catalyst's
    ``PushDownLeftSemiAntiJoin`` rule (cost-independent) hoists the
    exact semi-join BELOW the probe — legal, and harmless when the dim
    broadcasts, but at a shuffle-sized dim it re-creates the full-fact
    exchange the bloom exists to avoid. The checkpoint materializes
    only the already-pruned survivors (the selective case is why the
    bloom is there at all), which is the same trade a persisted
    candidate table makes.

    The exact semi-join strategy is left to Catalyst/AQE (no broadcast
    hint: the dim grows with SF — the join_eq3 lesson).
    """
    bloom = build_bloom(dim, dim_key)
    pruned = (
        fact.crossJoin(F.broadcast(bloom))
        .filter(might_contain("bloom", fact_key, BLOOM_M_BITS, BLOOM_K))
        .drop("bloom")
    )
    # lazy pin: truncates the logical plan (the reorder barrier) without
    # forcing materialization before the first action; the durability
    # mode comes from checkpoint.py's session conf.
    pruned = pin(pruned, eager=False, label="bloom_pruned")
    keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    return pruned.join(keys, fact_key, "left_semi")
