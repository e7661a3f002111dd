"""Mergeable-sketch operators: the pieces the sketch plans share.

Every sketch here is built from the engine-shared ``hash60``
(md5-derived, functions/hashing.py) with exact integer or IEEE
arithmetic, so the sketch itself matches the DuckDB oracle bitwise. The
constants below are also rendered into those oracles' SQL text.

- KMV register minima: ``kmv_registers``, ``kmv_fold``, ``ndv_report``.
- Count-min grid: ``cm_cols``, ``grid_cells``, ``cm_grid``, ``cm_probe``.
- Dyadic quantile grid (count-min per dyadic level of a value domain):
  ``dq_grid`` builds it, ``grid_map`` collapses it to one map row,
  ``dq_fold_expr`` is the root-to-leaf descent as one expression, and
  ``dq_descend`` runs the descent plus the true-rank verifier.
- Bloom filter: ``bloom_positions`` and ``bloom_report``.
- ``n_diff``: the symmetric-difference row count on which two builds
  of one sketch (merged vs direct) must agree.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hash60_duckdb_sql, hash60_spark_sql

# 60-bit hash space size as an exact double (2^60)
H = "1152921504606846976.0"

# ---------------------------------------------------------------------------
# KMV / register-minima NDV: K bounded registers per group, no sort
# ---------------------------------------------------------------------------

KMV_K = 64
# Harmonic-mean (HLL-style) estimate over the K register minima: m_j
# sits at ~H/(n_j+1), so K^2*H / sum_j(m_j) - K estimates n. (The naive
# per-register sum of H/m_j is NOT usable: E[1/min] diverges — a single
# lucky tiny minimum dominates; measured rel_err 3.4-25x before this
# form.) Empty registers contribute m_j = H. The sum is computed over
# m_j div 256 (exact integer shift, partition-order-independent, and
# 64 x 2^52 cannot overflow int64 — sum(m) itself can reach 2^66 at
# small n) and rescaled once in DOUBLE: the int->double cast and the
# one division are IEEE-deterministic, so the estimate is bitwise equal
# across engines. {div} is the engine's integer-divide spelling.
#
# SMALL-RANGE CORRECTION (HLL's linear counting, Flajolet et al. 2007
# §4): with n << K most registers are EMPTY and the harmonic form
# collapses (measured: n_exact=3 -> est 1; n=5 -> 3). When any register
# is empty, estimate from occupancy instead: n ~= K*ln(K/V) for V empty
# registers — but ln is libm, NOT bitwise-portable across a JVM and
# DuckDB's C runtime, so the 63 possible outputs (V is an integer in
# 1..K-1) are precomputed HERE, once, into a CASE lookup embedded in
# BOTH engines' SQL text. No runtime transcendentals anywhere.
_KMV_LINEAR = " ".join(
    f"WHEN {v} THEN {round(KMV_K * math.log(KMV_K / v))}"
    for v in range(1, KMV_K)
)
_KMV_HARMONIC = (
    f"CAST(round({KMV_K}.0 * {KMV_K}.0 * {H}"
    f" / (CAST(sum(m {{div}} 256) AS DOUBLE) * 256.0"
    f" + ({KMV_K} - count(*)) * {H}) - {KMV_K}.0) AS BIGINT)"
)
KMV_EST = (
    f"CASE WHEN count(*) < {KMV_K}"
    f" THEN CAST((CASE ({KMV_K} - count(*)) {_KMV_LINEAR} END) AS BIGINT)"
    f" ELSE {_KMV_HARMONIC} END"
)


def kmv_registers(h: DataFrame, group: str) -> DataFrame:
    """(group, reg, m): register ``h %% K`` of each group holds the
    minimum ``h`` of its substream — one map-side-combinable min."""
    return (
        h.withColumn("reg", F.col("h") % KMV_K)
        .groupBy(group, "reg")
        .agg(F.min("h").alias("m"))
    )


def kmv_fold(regs: DataFrame, group: str) -> DataFrame:
    """(group, ndv_est) from the register minima (KMV_EST)."""
    return regs.groupBy(group).agg(
        F.expr(KMV_EST.format(div="div") + " AS ndv_est")
    )


def ndv_report(est: DataFrame, ex: DataFrame, group: str) -> DataFrame:
    """The estimate beside its exact verifier ``ex`` (group, n_exact)."""
    return est.join(ex, group).select(
        group,
        "n_exact",
        "ndv_est",
        F.expr(
            "round(abs(ndv_est - n_exact) / CAST(n_exact AS DOUBLE), 4)"
            " AS rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# count-min grid: d prime-width rows, point query = min over the rows
# ---------------------------------------------------------------------------

CM_D = 3
# Row i reduces the shared 60-bit key hash modulo its OWN prime width.
# The round-9 form — (hash60 XOR seed_i) % 4096 — had FULLY CORRELATED
# rows (ADVICE r9): 4096 = 2^12 and XOR by a constant is bitwise, so
# two keys equal in the low 12 bits collided in EVERY row and the
# effective depth was 1. Distinct prime moduli fix this with the same
# single md5 per key: row r collides two keys iff h1 = h2 (mod p_r),
# and by CRT all-d-rows collision requires h1 = h2 (mod p0*p1*p2 ~
# 6.9e10) — probability ~1.4e-11 for distinct 60-bit hashes, so the
# d rows are independent in the sense the 1 - e^-d bound needs.
CM_PRIMES = (4093, 4099, 4091)


def cm_cols(hash_sql, expr: str, primes=CM_PRIMES) -> list[str]:
    """Column expression of each grid row: ``hash60(expr) %% p_r``, in
    the dialect of ``hash_sql`` (hash60_spark_sql / hash60_duckdb_sql)."""
    return [f"{hash_sql(expr)} % {p}" for p in primes]


def grid_cells(df: DataFrame, cols: list[str], *keep: str | Column) -> DataFrame:
    """``keep`` plus (r, c): each row of ``df`` once per grid row r, at
    column c = ``cols[r]``."""
    out = df.select(
        *keep,
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                for i, c in enumerate(cols)
            ])
        ).alias("rc"),
    )
    return out.select(*out.columns[:-1], "rc.r", "rc.c")


def cm_grid(df: DataFrame, cols: list[str], *keep: str | Column) -> DataFrame:
    """(keep, r, c, cnt): the count-min counters of ``df``'s rows, one
    grid per distinct ``keep`` value."""
    cells = grid_cells(df, cols, *keep)
    return cells.groupBy(*cells.columns).agg(F.count("*").alias("cnt"))


def cm_probe(ex: DataFrame, grid: DataFrame, cols: list[str], key: str) -> DataFrame:
    """(key, n_exact, n_est) per probe row (k, n_exact) of ``ex``:
    n_est is the min over the d counters of ``grid`` (r, c, cnt) at the
    probe's cells, ``cols`` the probe's column expressions over k. The
    grid is broadcast."""
    return (
        grid_cells(ex, cols, "k", "n_exact")
        .join(F.broadcast(grid), ["r", "c"])
        .groupBy(F.col("k").alias(key))
        .agg(
            F.expr("CAST(min(n_exact) AS BIGINT) AS n_exact"),
            F.expr("CAST(min(cnt) AS BIGINT) AS n_est"),
        )
    )


# ---------------------------------------------------------------------------
# dyadic count-min quantiles: one CM grid per dyadic level of the domain
# ---------------------------------------------------------------------------

# Leaf bucket = price cents div 256 ($2.56 resolution — plenty for a
# rank sketch: the mean leaf holds ~15 rows at sf0.1, so leaf choice
# bounds rank granularity at ~2e-5); the lineitem price domain
# [90068, 10499991] cents spans < 2^16 leaves, clamped so out-of-range
# values land in the edge buckets instead of vanishing from every
# descent decision.
DQ_LEAF_W = 256
DQ_LEVELS = 16
DQ_LEAF_MAX = (1 << DQ_LEVELS) - 1
DQ_QS = (25, 50, 75, 90)

DQ_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"

# A grid cell (lvl, r, c) keyed as one BIGINT: c < 8192 = 2^13
GRID_MAP = (
    "map_from_entries(collect_list(struct("
    "(lvl * 3 + r) * 8192 + c AS k, cnt AS v))) AS gm"
)


def dq_node_hash_spark(lvl_expr: str, node_expr: str) -> str:
    return hash60_spark_sql(
        f"concat({lvl_expr}, ':', CAST({node_expr} AS STRING))"
    )


def dq_node_hash_duck(lvl_expr: str, node_expr: str) -> str:
    return hash60_duckdb_sql(
        f"{lvl_expr} || ':' || CAST({node_expr} AS VARCHAR)"
    )


def cell_structs(h: str) -> str:
    """The d ``struct(r, c)`` cells of the node whose hash is ``h``."""
    return ", ".join(
        f"struct({i} AS r, {h} % {p} AS c)" for i, p in enumerate(CM_PRIMES)
    )


def spread_counts(nodes: DataFrame, keys: list[str], cells: str) -> DataFrame:
    """(keys, r, c, cnt): each node's ``cnt`` added into its ``cells``
    (a ``cell_structs`` list) of the grid of its ``keys``."""
    return (
        nodes.selectExpr(*keys, "cnt", f"explode(array({cells})) AS rc")
        .select(*keys, "rc.r", "rc.c", "cnt")
        .groupBy(*keys, "r", "c")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )


def dq_grid(
    li: DataFrame,
    extra_keys: list[str] | None = None,
    cents_expr: str = DQ_CENTS,
    leaf_w: int = DQ_LEAF_W,
) -> DataFrame:
    """(lvl, r, c) -> cnt counter grid over the dyadic decomposition of
    the price-cents domain: each leaf count feeds its ancestor node at
    every level (node = leaf >> lvl), and each (lvl, node) aggregate is
    hashed ONCE (md5 runs on the ~2 x distinct-leaf node set, never per
    input row) then spread across the d prime-width rows. State is
    bounded by d x w per level x L levels (~221k cells) no matter the
    input size. ``extra_keys`` threads grouping columns (e.g. the
    rollup month) through every aggregate."""
    ek = extra_keys or []
    leafs = li.groupBy(
        *ek,
        F.expr(
            f"least({cents_expr} div {leaf_w}, {DQ_LEAF_MAX})"
        ).alias("leaf"),
    ).agg(F.count("*").alias("cnt"))
    nodes = (
        leafs.select(
            *ek,
            "cnt",
            F.expr(
                f"explode(transform(sequence(0, {DQ_LEVELS - 1}),"
                " l -> struct(l AS lvl, shiftright(leaf, l) AS node)))"
            ).alias("ln"),
        )
        .select(*ek, "cnt", "ln.lvl", "ln.node")
        .groupBy(*ek, "lvl", "node")
        .agg(F.sum("cnt").alias("cnt"))
    )
    h = dq_node_hash_spark("CAST(lvl AS STRING)", "node")
    return spread_counts(
        nodes.selectExpr(*ek, "lvl", "cnt", f"{h} AS h"),
        [*ek, "lvl"],
        cell_structs("h"),
    )


def grid_map(grid: DataFrame, *group: str) -> DataFrame:
    """The (lvl, r, c, cnt) grid as one map row ``gm`` per group."""
    return grid.groupBy(*group).agg(F.expr(GRID_MAP))


def grid_lookups(lvl: str, h: str) -> str:
    """The d counters of the node hashed ``h`` at level ``lvl``, read
    from the map column ``gm`` (an absent cell is 0)."""
    return ", ".join(
        f"coalesce(element_at(gm, ({lvl} * 3 + {i}) * 8192"
        f" + {h} % {p}), CAST(0 AS BIGINT))"
        for i, p in enumerate(CM_PRIMES)
    )


def dq_fold_expr(leaf_w: int = DQ_LEAF_W) -> str:
    """The whole 16-level descent as ONE SQL expression: an
    ``aggregate`` fold over the descending level sequence, reading CM
    cells from the broadcast map column ``gm`` and the rank target
    from ``target``."""
    cell_lookups = grid_lookups(
        "l", dq_node_hash_spark("CAST(l AS STRING)", "acc.node * 2")
    )
    step = (
        f"(acc, l) -> CASE WHEN acc.cum + least({cell_lookups}) >= target"
        " THEN struct(acc.node * 2 AS node, acc.cum AS cum)"
        f" ELSE struct(acc.node * 2 + 1 AS node,"
        f" acc.cum + least({cell_lookups}) AS cum) END"
    )
    return (
        f"aggregate(sequence({DQ_LEVELS - 1}, 0, -1),"
        " struct(CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cum),"
        f" {step}).node * {leaf_w} + {leaf_w - 1} AS est_cents"
    )


def dq_descend(
    li: DataFrame,
    grid: DataFrame,
    cents_expr: str = DQ_CENTS,
    qs: tuple[int, ...] = DQ_QS,
    leaf_w: int = DQ_LEAF_W,
    group: tuple[str, str] | None = None,
) -> DataFrame:
    """Greedy root-to-leaf quantile descent over the grid: at each
    level the left child's CM point estimate (min over the d row
    counters; an absent cell is 0) decides left/right, carrying the
    estimated rank below the current interval. The grid is BOUNDED
    (<= 18 x 12,283 cells, ~90k occupied at sf0.1) so it collapses to
    one broadcast map row and the whole 16-level descent runs as a
    single ``aggregate`` fold expression over the target rows — ONE
    job, not 16 chained broadcast joins (measured 5.6 s -> the join-
    per-level formulation's scheduling overhead dominated). Integer
    arithmetic end to end, so the chosen leaf is bitwise equal to the
    oracle's chained-CTE replay. Emits, per quantile ``qs``, the
    estimate plus the TRUE rank of the returned value measured against
    all of ``li`` (the gate's verifier, one conditional aggregate).

    ``group`` = (column, output name) descends one grid per value of
    that column of ``li`` and ``grid``, each against its group's rows."""
    keys = [group[0]] if group else []
    gm = grid_map(grid, *keys)
    targets = (
        li.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .selectExpr(
            *keys,
            "n",
            "explode(array("
            + ", ".join(
                f"struct({q} AS qpct, (n * {q} + 99) div 100 AS target)"
                for q in qs
            )
            + ")) AS qt",
        )
        .select(*keys, "n", "qt.qpct", "qt.target")
    )
    if group:
        res = targets.join(F.broadcast(gm), keys)
        chk = li.join(F.broadcast(
            res.selectExpr(*keys, "qpct", "n", dq_fold_expr(leaf_w))
        ), keys)
    else:
        res = targets.crossJoin(F.broadcast(gm))
        chk = li.crossJoin(F.broadcast(
            res.selectExpr("qpct", "n", dq_fold_expr(leaf_w))
        ))
    chk = chk.groupBy(*keys, "qpct").agg(
        F.expr("min(n) AS n"),
        F.expr("min(est_cents) AS est_cents"),
        F.expr(
            f"sum(CASE WHEN {cents_expr} <= est_cents THEN 1 ELSE 0 END)"
            " AS le"
        ),
    )
    return chk.selectExpr(
        *([f"{group[0]} AS {group[1]}"] if group else []),
        "qpct",
        "CAST(n AS BIGINT) AS n",
        "CAST(est_cents AS DOUBLE) / 100.0 AS est_value",
        "round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac",
        "round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err",
    )


# ---------------------------------------------------------------------------
# Bloom filter: m-bit filter as (word, 32-bit mask) rows
# ---------------------------------------------------------------------------

# m = 2^17 bits stored as 32-bit words in BIGINT containers (DuckDB's
# left shift raises on 1<<63, so the sign bit is never used); k = 4
# hash positions per key from the shared hash60 with the hash index
# folded into the input string.
BLOOM_M = 131072
BLOOM_K = 4
BLOOM_PROBE_MOD = 97
BLOOM_ABSENT_N = 256
BLOOM_HX = hash60_spark_sql("concat(CAST(j AS STRING), ':', CAST(k AS STRING))")
BLOOM_MASK = "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))) AS mask"
_BLOOM_HIT = (
    "min(CASE WHEN (shiftright(COALESCE(mask, 0), CAST(p % 32 AS INT)))"
    " & 1 = 1 THEN 1 ELSE 0 END) AS hit"
)


def bloom_positions(df: DataFrame, *keep: str) -> DataFrame:
    """(keep, p): the k bit positions of each row's key ``k`` (which
    ``keep`` must name)."""
    return df.select(
        *keep, F.explode(F.sequence(F.lit(1), F.lit(BLOOM_K))).alias("j")
    ).selectExpr(*keep, f"({BLOOM_HX}) % {BLOOM_M} AS p")


def n_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """One row: how many rows the two frames do not share."""
    return (
        a.subtract(b)
        .unionByName(b.subtract(a))
        .agg(F.expr("count(*) AS n_diff"))
    )


def bloom_report(spark: SparkSession, merged: DataFrame, pos: DataFrame) -> DataFrame:
    """One row certifying the filter ``merged`` (w, mask) built from the
    positions ``pos`` (k, p, ...): its size, the hits of every key
    divisible by BLOOM_PROBE_MOD (all must hit: no false negatives),
    the measured false-positive rate of BLOOM_ABSENT_N synthetic keys
    beside its (bits_set/m)^k prediction, and whether ``merged`` equals
    the filter built directly from ``pos``."""
    direct = (
        pos.select("k", "p")
        .distinct()
        .groupBy(F.expr("p div 32").alias("w"))
        .agg(F.expr(BLOOM_MASK))
    )
    stats = merged.agg(
        F.expr("count(*) AS n_words"),
        F.expr("CAST(sum(bit_count(mask)) AS BIGINT) AS bits_set"),
    )

    def probe_stats(probe_pos: DataFrame, n_col: str, hits_col: str):
        ph = (
            probe_pos.withColumn("pw", F.expr("p div 32"))
            .join(merged.withColumnRenamed("w", "pw"), "pw", "left")
            .groupBy("k")
            .agg(F.expr(_BLOOM_HIT))
        )
        return ph.agg(
            F.expr(f"count(*) AS {n_col}"),
            F.expr(f"CAST(sum(hit) AS BIGINT) AS {hits_col}"),
        )

    pstats = probe_stats(
        pos.filter(F.col("k") % BLOOM_PROBE_MOD == 0)
        .select("k", "p")
        .distinct(),
        "n_present",
        "n_present_hits",
    )
    ab = spark.range(1, BLOOM_ABSENT_N + 1).select(
        F.concat(F.lit("a:"), F.col("id").cast("string")).alias("k")
    )
    astats = probe_stats(bloom_positions(ab, "k"), "n_absent", "n_absent_hits")
    return (
        stats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(astats))
        .crossJoin(F.broadcast(n_diff(merged, direct)))
        .selectExpr(
            "n_words",
            "bits_set",
            "n_present",
            "n_present_hits",
            "n_absent",
            "n_absent_hits",
            "round(CAST(n_absent_hits AS DOUBLE) / n_absent, 6)"
            " AS fpr_measured",
            f"round(power(CAST(bits_set AS DOUBLE) / {BLOOM_M},"
            f" {BLOOM_K}), 6) AS fpr_expected",
            "(n_diff = 0) AS merged_equals_direct",
        )
    )
