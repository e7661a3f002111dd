"""Deterministic mergeable sketches — bitwise-oracle-able KMV / theta /
count-min, the composable 100 TB aggregation levers.

``approx_ext`` covers Spark's NATIVE sketches (GK percentile, HLL++,
DataSketches HLL union), whose internals differ engine-to-engine, so
those keys gate on the ERROR CONTRACT (``TRUE AS ok``). The sketches
here are built from the engine-shared ``hash60`` (md5-derived, see
functions/hashing.py) with exact integer/IEEE arithmetic only, so the
SKETCH ITSELF matches DuckDB bitwise — the strongest gate the driver
can run, with the approximation error measured against exact verifiers
in the same output row.

Why this family matters at 100 TB (Flajolet et al. PCSA/HLL lineage;
Beyer et al. KMV, SIGMOD 2007; Dasgupta et al. theta sketches,
arXiv:1510.01997; Cormode & Muthukrishnan count-min, J.Alg 2005): all
three are one map-side pass with map-side-combinable bounded state —
register minima (K rows/group), a hash-threshold sample (NDV/rate
rows), or a d x w counter grid — so any rollup, set operation, or
point frequency over a re-aggregation is answered by MERGING kilobyte
sketches instead of re-scanning raw data. The exact counts emitted
alongside are the gate's verifiers (themselves shuffle-safe two-phase
distincts), not part of the scale path.

The reference has no sketch surface (its analysis layer is six
SQL/Mongo queries, Airbnb_Analysis.py:24-229); SURVEY §2 extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import pin
from ..functions.hashing import (
    hash60_duckdb_sql,
    hash60_spark_sql,
)
from .registry import load, register

# 60-bit hash space size as an exact double (2^60) — shared literal
_H = "1152921504606846976.0"

# ---------------------------------------------------------------------------
# KMV / register-minima NDV: K bounded registers per group, no sort
# ---------------------------------------------------------------------------

_KMV_K = 64
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
import math as _math

_KMV_LINEAR = " ".join(
    f"WHEN {v} THEN {round(_KMV_K * _math.log(_KMV_K / v))}"
    for v in range(1, _KMV_K)
)
_KMV_HARMONIC = (
    f"CAST(round({_KMV_K}.0 * {_KMV_K}.0 * {_H}"
    f" / (CAST(sum(m {{div}} 256) AS DOUBLE) * 256.0"
    f" + ({_KMV_K} - count(*)) * {_H}) - {_KMV_K}.0) AS BIGINT)"
)
_KMV_EST = (
    f"CASE WHEN count(*) < {_KMV_K}"
    f" THEN CAST((CASE ({_KMV_K} - count(*)) {_KMV_LINEAR} END) AS BIGINT)"
    f" ELSE {_KMV_HARMONIC} END"
)

_KMV_SQL = f"""
WITH h AS (
  SELECT o_orderpriority AS prio,
         {hash60_duckdb_sql("CAST(o_custkey AS VARCHAR)")} AS h
  FROM orders
),
regs AS (
  SELECT prio, h % {_KMV_K} AS reg, min(h) AS m
  FROM h GROUP BY prio, h % {_KMV_K}
),
est AS (
  SELECT prio, {_KMV_EST.format(div="//")} AS ndv_est
  FROM regs GROUP BY prio
),
ex AS (
  SELECT o_orderpriority AS prio,
         count(DISTINCT o_custkey) AS n_exact
  FROM orders GROUP BY o_orderpriority
)
SELECT prio, n_exact, ndv_est,
       round(abs(ndv_est - n_exact) / CAST(n_exact AS DOUBLE), 4) AS rel_err
FROM est JOIN ex USING (prio)
"""


@register("sketch_kmv_ndv", oracle=_KMV_SQL)
def sketch_kmv_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDV per group from K=64 register minima (PCSA/KMV shape, Beyer
    et al. SIGMOD 2007) — bounded state with NO sort and NO value
    buffering: register j of a group holds min(hash60(v)) over the
    substream h %% K = j, so the whole sketch is one groupBy(group,
    reg) min — map-side combinable, K rows per group forever — and the
    harmonic-mean estimate K^2*H/sum(m_j) - K (the HLL idea at full
    register resolution) is order-independent integer sums plus one
    IEEE division, so it matches the DuckDB oracle bitwise (unlike
    approx_count_distinct,
    whose HLL++ registers are engine-internal — agg_approx_count_
    distinct gates on the error contract instead; this key's sketch IS
    the gated value). Sketches merge by pairwise register min, so
    ingest-partition sketches answer any rollup without rescanning —
    the exact countDistinct emitted alongside is the gate's verifier,
    not the scale path. Measured max rel_err at K=64: 0.38 / 0.23 /
    0.042 per group at sf0.001/0.01/0.1 (n/K of ~4 / ~20 / ~200 — the
    small-register bias regime washes out as registers fill; error
    ~1.3/sqrt(K), K is the knob). SCALING.md round-9."""
    o = load(spark, sf_dir, "orders")
    h = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.expr(hash60_spark_sql("CAST(o_custkey AS STRING)")).alias("h"),
    )
    regs = (
        h.withColumn("reg", F.col("h") % _KMV_K)
        .groupBy("prio", "reg")
        .agg(F.min("h").alias("m"))
    )
    est = regs.groupBy("prio").agg(
        F.expr(_KMV_EST.format(div="div") + " AS ndv_est")
    )
    ex = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return est.join(ex, "prio").select(
        "prio",
        "n_exact",
        "ndv_est",
        F.expr(
            "round(abs(ndv_est - n_exact) / CAST(n_exact AS DOUBLE), 4)"
            " AS rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# theta-sketch set operations: hash-threshold samples compose under
# union/intersection because membership is decided by h alone
# ---------------------------------------------------------------------------

_THETA_RATE = 16  # keep h < H/16: a deterministic 1-in-16 key sample
_THETA_CUT = 1152921504606846976 // _THETA_RATE  # 2^60/16, exact integer
_THETA_A = "1-URGENT"
_THETA_B = "2-HIGH"

_THETA_SQL = f"""
WITH mem AS (
  SELECT o_custkey AS k,
         max(CASE WHEN o_orderpriority = '{_THETA_A}' THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN o_orderpriority = '{_THETA_B}' THEN 1 ELSE 0 END) AS b
  FROM orders
  WHERE o_orderpriority IN ('{_THETA_A}', '{_THETA_B}')
  GROUP BY o_custkey
),
hm AS (
  SELECT a, b,
         CASE WHEN {hash60_duckdb_sql("CAST(k AS VARCHAR)")}
                   < {_THETA_CUT} THEN 1 ELSE 0 END AS s
  FROM mem
)
SELECT CAST(sum(a) AS BIGINT) AS n_exact_a,
       CAST(sum(s * a) * {_THETA_RATE} AS BIGINT) AS est_a,
       CAST(sum(b) AS BIGINT) AS n_exact_b,
       CAST(sum(s * b) * {_THETA_RATE} AS BIGINT) AS est_b,
       CAST(count(*) AS BIGINT) AS n_exact_union,
       CAST(sum(s) * {_THETA_RATE} AS BIGINT) AS est_union,
       CAST(sum(a * b) AS BIGINT) AS n_exact_inter,
       CAST(sum(s * a * b) * {_THETA_RATE} AS BIGINT) AS est_inter
FROM hm
"""


@register("sketch_theta_setops", oracle=_THETA_SQL)
def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations (Dasgupta et al., arXiv:1510.01997,
    fixed-theta form): a key belongs to the sample iff hash60(key) <
    H/16 — a DETERMINISTIC 1-in-16 sample decided by the hash alone,
    so the same key is sampled in every set, every partition, every
    engine, and sampling COMMUTES with union/intersection: est(A op B)
    = 16 x |sample_A op sample_B|. That is what approx_count_distinct
    can never give (its estimate is final; no intersection), and why
    theta sketches are the cross-dataset overlap tool at 100 TB —
    per-dataset samples are NDV/16 keys, and any pairwise overlap
    (train x eval contamination, cohort x cohort) is answered from
    stored samples with exact integer arithmetic (bitwise-gated here).
    Fixed theta keeps determinism and cross-engine parity; production
    theta adapts the threshold to cap the sample at k — same algebra,
    rate becomes a per-sketch field. The exact memberships emitted
    alongside are the gate's verifier (one two-phase distinct). The
    whole plan is ONE groupBy(custkey) + one global aggregate."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_THETA_A, _THETA_B)
    )
    mem = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max(
            F.when(F.col("o_orderpriority") == _THETA_A, 1).otherwise(0)
        ).alias("a"),
        F.max(
            F.when(F.col("o_orderpriority") == _THETA_B, 1).otherwise(0)
        ).alias("b"),
    )
    hm = mem.select(
        "a",
        "b",
        F.expr(
            f"CASE WHEN {hash60_spark_sql('CAST(k AS STRING)')}"
            f" < {_THETA_CUT} THEN 1 ELSE 0 END"
        ).alias("s"),
    )
    return hm.agg(
        F.expr("CAST(sum(a) AS BIGINT) AS n_exact_a"),
        F.expr(f"CAST(sum(s * a) * {_THETA_RATE} AS BIGINT) AS est_a"),
        F.expr("CAST(sum(b) AS BIGINT) AS n_exact_b"),
        F.expr(f"CAST(sum(s * b) * {_THETA_RATE} AS BIGINT) AS est_b"),
        F.expr("CAST(count(*) AS BIGINT) AS n_exact_union"),
        F.expr(f"CAST(sum(s) * {_THETA_RATE} AS BIGINT) AS est_union"),
        F.expr("CAST(sum(a * b) AS BIGINT) AS n_exact_inter"),
        F.expr(
            f"CAST(sum(s * a * b) * {_THETA_RATE} AS BIGINT) AS est_inter"
        ),
    )


# ---------------------------------------------------------------------------
# count-min point frequencies: d x w counter grid, probe = min over rows
# ---------------------------------------------------------------------------

_CM_D = 3
# Row i reduces the shared 60-bit key hash modulo its OWN prime width.
# The round-9 form — (hash60 XOR seed_i) % 4096 — had FULLY CORRELATED
# rows (ADVICE r9): 4096 = 2^12 and XOR by a constant is bitwise, so
# two keys equal in the low 12 bits collided in EVERY row and the
# effective depth was 1. Distinct prime moduli fix this with the same
# single md5 per key: row r collides two keys iff h1 = h2 (mod p_r),
# and by CRT all-d-rows collision requires h1 = h2 (mod p0*p1*p2 ~
# 6.9e10) — probability ~1.4e-11 for distinct 60-bit hashes, so the
# d rows are independent in the sense the 1 - e^-d bound needs.
_CM_PRIMES = (4093, 4099, 4091)
_CM_W = min(_CM_PRIMES)  # width for the e*N/w error statement
_CM_PROBE_MOD = 97  # fixed probe set: custkeys divisible by 97


def _cm_cols_duck(expr: str) -> list[str]:
    return [
        f"{hash60_duckdb_sql(expr)} % {_CM_PRIMES[i]}" for i in range(_CM_D)
    ]


def _cm_cols_spark(expr: str) -> list[str]:
    return [
        f"{hash60_spark_sql(expr)} % {_CM_PRIMES[i]}" for i in range(_CM_D)
    ]


def _cm_sql() -> str:
    duck_cols = _cm_cols_duck("CAST(o_custkey AS VARCHAR)")
    probe_cols = _cm_cols_duck("CAST(k AS VARCHAR)")
    cells = " UNION ALL ".join(
        f"SELECT {i} AS r, {c} AS c FROM orders" for i, c in enumerate(duck_cols)
    )
    probes = " UNION ALL ".join(
        f"SELECT k, n_exact, {i} AS r, {c} AS c FROM ex"
        for i, c in enumerate(probe_cols)
    )
    return f"""
WITH sk AS (
  SELECT r, c, count(*) AS cnt FROM ({cells}) GROUP BY r, c
),
ex AS (
  SELECT o_custkey AS k, count(*) AS n_exact FROM orders
  WHERE o_custkey % {_CM_PROBE_MOD} = 0 GROUP BY o_custkey
),
pr AS ({probes})
SELECT k AS custkey, CAST(min(n_exact) AS BIGINT) AS n_exact,
       CAST(min(cnt) AS BIGINT) AS n_est
FROM pr JOIN sk USING (r, c)
GROUP BY k
"""


@register("sketch_countmin_heavy", oracle=_cm_sql())
def sketch_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point frequencies (Cormode & Muthukrishnan, J.Alg
    2005): a d=3 x w~4096 counter grid — row i counts the stream at
    column hash60(key) %% p_i with DISTINCT PRIME widths per row (see
    _CM_PRIMES: XOR-seeded power-of-two columns were fully correlated,
    ADVICE r9; prime moduli give CRT-independent rows from one md5 per
    key) — and a key's frequency estimate is min over the d counters,
    ALWAYS >= the true count (pinned in tests) and over by at most
    ~e*N/w with prob 1 - e^-d. The grid is ~12,283 counters regardless
    of stream size or key cardinality, built by ONE map-side-combined
    groupBy over the d-exploded stream and merged across
    partitions/days by cell-wise ADDITION — the frequency analogue of
    the HLL rollup (agg_hll_sketch_rollup), and like the rest of this
    module the counters are exact integers, so the oracle gate is
    bitwise on the sketch itself. Probes (every custkey divisible by
    97) broadcast-join the tiny grid; the exact per-key counts emitted
    alongside are the verifier, not the scale path."""
    o = load(spark, sf_dir, "orders")
    cols = _cm_cols_spark("CAST(o_custkey AS STRING)")
    cells = o.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("r"), F.expr(c).alias("c")
                )
                for i, c in enumerate(cols)
            ])
        ).alias("rc")
    ).select("rc.r", "rc.c")
    sk = cells.groupBy("r", "c").agg(F.count("*").alias("cnt"))
    ex = (
        o.filter(F.col("o_custkey") % _CM_PROBE_MOD == 0)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_exact"))
    )
    probe_cols = _cm_cols_spark("CAST(k AS STRING)")
    pr = ex.select(
        "k",
        "n_exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                for i, c in enumerate(probe_cols)
            ])
        ).alias("rc"),
    ).select("k", "n_exact", "rc.r", "rc.c")
    return (
        pr.join(F.broadcast(sk), ["r", "c"])
        .groupBy(F.col("k").alias("custkey"))
        .agg(
            F.expr("CAST(min(n_exact) AS BIGINT) AS n_exact"),
            F.expr("CAST(min(cnt) AS BIGINT) AS n_est"),
        )
    )


# ---------------------------------------------------------------------------
# per-column cardinality profiling: every column sketched in ONE scan
# ---------------------------------------------------------------------------

# (column, string form) pairs profiled over orders — the cast text is
# shared between the Spark stack() and the DuckDB UNION ALL
_CARD_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS {vc})"),
    ("o_custkey", "CAST(o_custkey AS {vc})"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    # date, not timestamp/double: ISO date text renders identically in
    # both engines (double/timestamp string casts do not)
    ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS {vc})"),
]


def _card_sql() -> str:
    uv = " UNION ALL ".join(
        f"SELECT '{c}' AS col, {e.format(vc='VARCHAR')} AS val FROM orders"
        for c, e in _CARD_COLS
    )
    ex = " UNION ALL ".join(
        f"SELECT '{c}' AS col, count(DISTINCT {e.format(vc='VARCHAR')})"
        " AS n_exact FROM orders"
        for c, e in _CARD_COLS
    )
    return f"""
WITH uv AS ({uv}),
h AS (SELECT col, {hash60_duckdb_sql("val")} AS h FROM uv),
regs AS (
  SELECT col, h % {_KMV_K} AS reg, min(h) AS m
  FROM h GROUP BY col, h % {_KMV_K}
),
est AS (
  SELECT col, {_KMV_EST.format(div="//")} AS ndv_est
  FROM regs GROUP BY col
),
ex AS ({ex})
SELECT col, n_exact, ndv_est,
       round(abs(ndv_est - n_exact) / CAST(n_exact AS DOUBLE), 4) AS rel_err
FROM est JOIN ex USING (col)
"""


@register("profile_sketch_card", oracle=_card_sql())
def profile_sketch_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column cardinality profile from ONE scan: every column is
    unpivoted to (col, value) rows by a single stack() projection and
    sketched with the KMV register minima — the dataset-card /
    cost-based-optimizer statistic pass at 100 TB, where the exact
    alternative is one (col, value)-distinct SHUFFLE PER COLUMN over
    the full table (profile_columns' shape) and the sketch pass is one
    scan into columns x 64 rows of state, regardless of width or
    cardinality. The stack projection multiplies scanned rows by the
    column count but stays map-side (no shuffle until the K-register
    combine); the per-column exact countDistinct emitted alongside is
    the gate's verifier. Same harmonic-mean estimator, overflow guard,
    and bitwise cross-engine contract as sketch_kmv_ndv. Cardinality
    spread exercised: 3 (status) to ~10^3-10^5 (custkey, clerk,
    dates)."""
    stack_args = ", ".join(
        f"'{c}', {e.format(vc='STRING')}" for c, e in _CARD_COLS
    )
    o = load(spark, sf_dir, "orders")
    uv = o.selectExpr(
        f"stack({len(_CARD_COLS)}, {stack_args}) AS (col, val)"
    )
    regs = (
        uv.select("col", F.expr(hash60_spark_sql("val")).alias("h"))
        .withColumn("reg", F.col("h") % _KMV_K)
        .groupBy("col", "reg")
        .agg(F.min("h").alias("m"))
    )
    est = regs.groupBy("col").agg(
        F.expr(_KMV_EST.format(div="div") + " AS ndv_est")
    )
    ex_aggs = [
        F.countDistinct(F.expr(e.format(vc="STRING"))).alias(f"nd_{i}")
        for i, (c, e) in enumerate(_CARD_COLS)
    ]
    ex_row = o.agg(*ex_aggs)
    ex_stack = ", ".join(
        f"'{c}', nd_{i}" for i, (c, _) in enumerate(_CARD_COLS)
    )
    ex = ex_row.selectExpr(
        f"stack({len(_CARD_COLS)}, {ex_stack}) AS (col, n_exact)"
    )
    return est.join(ex, "col").select(
        "col",
        "n_exact",
        "ndv_est",
        F.expr(
            "round(abs(ndv_est - n_exact) / CAST(n_exact AS DOUBLE), 4)"
            " AS rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# quantiles from a hash-threshold row sample: rank-checked, bitwise est
# ---------------------------------------------------------------------------

_QS_RATE = 64
_QS_CUT = 1152921504606846976 // _QS_RATE


def _qs_sql() -> str:
    h = hash60_duckdb_sql(
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
    )
    return f"""
WITH s AS (
  SELECT l_returnflag AS f, l_extendedprice AS v,
         l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem WHERE {h} < {_QS_CUT}
),
r AS (
  SELECT f, v,
         row_number() OVER (PARTITION BY f ORDER BY v, ok, ln) AS rn,
         count(*) OVER (PARTITION BY f) AS ns
  FROM s
),
est AS (SELECT f, v AS est_median, ns FROM r WHERE rn = (ns + 1) // 2),
chk AS (
  SELECT t.l_returnflag AS f, count(*) AS n,
         sum(CASE WHEN t.l_extendedprice <= e.est_median
                  THEN 1 ELSE 0 END) AS le
  FROM lineitem t JOIN est e ON t.l_returnflag = e.f
  GROUP BY t.l_returnflag
)
SELECT chk.f AS l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(ns AS BIGINT) AS n_sample, est_median,
       round(abs(CAST(le AS DOUBLE) / n - 0.5), 4) AS rank_err
FROM chk JOIN est ON chk.f = est.f
"""


@register("sketch_quantile_sample", oracle=_qs_sql())
def sketch_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a DETERMINISTIC 1-in-64 row sample (the fourth of
    the sketch big four: NDV, set ops, frequencies — and quantiles):
    membership is hash60(rowkey) < H/64, so the sample is reproducible
    across engines/partitions/reruns and the estimate is an ACTUAL
    stored value (the sample's lower median under a total order with
    rowkey tiebreak) — bitwise-gated, where Spark's approx_percentile
    (GK) and DuckDB's t-digest could never agree (agg_percentile_approx
    gates on the rank contract for exactly that reason). The emitted
    rank_err is the estimate's TRUE rank error measured against the
    full table (one shuffle-safe conditional count per group, the
    gate's verifier): median-of-sample rank error concentrates at
    ~1/(2*sqrt(ns)) — measured <= 0.03 at sf0.01 (ns ~300/group).
    Scale shape: the filter is map-side (sample never shuffles more
    than N/64 rows), the selection window partitions BY GROUP over
    sample rows only, and the exact path (agg_percentile's buffered
    ObjectHashAggregate) is never touched. At 100 TB: rate tunes
    sample size; per-group state is the sample, not the column."""
    h = hash60_spark_sql(
        "concat(CAST(l_orderkey AS STRING), '-',"
        " CAST(l_linenumber AS STRING))"
    )
    li = load(spark, sf_dir, "lineitem")
    s = li.filter(F.expr(f"{h} < {_QS_CUT}")).select(
        F.col("l_returnflag").alias("f"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("f").orderBy("v", "ok", "ln")
    wc = W.partitionBy("f")
    r = s.select(
        "f",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("ns"),
    )
    est = r.filter(F.expr("rn = (ns + 1) div 2")).select(
        "f", F.col("v").alias("est_median"), "ns"
    )
    chk = (
        li.join(
            F.broadcast(est), li.l_returnflag == est.f
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "sum(CASE WHEN l_extendedprice <= est_median"
                " THEN 1 ELSE 0 END) AS le"
            ),
        )
    )
    return chk.join(est, chk.l_returnflag == est.f).select(
        "l_returnflag",
        F.expr("CAST(n AS BIGINT) AS n"),
        F.expr("CAST(ns AS BIGINT) AS n_sample"),
        "est_median",
        F.expr(
            "round(abs(CAST(le AS DOUBLE) / n - 0.5), 4) AS rank_err"
        ),
    )


# ---------------------------------------------------------------------------
# adaptive bottom-k theta: fixed SAMPLE SIZE, data-dependent threshold
# ---------------------------------------------------------------------------

_BK_K = 128
# 60-bit hash space size as an exact BIGINT — the unsaturated sketch's
# threshold (theta = 1.0 in the unit-interval formulation): a sketch
# holding fewer than k distinct hashes IS its whole set, so its
# estimate is the exact sample count and its theta imposes no cut
# (ADVICE r9: the (k-1)*H/max(h) formula grossly overestimates an
# unsaturated set; standard theta behavior returns exact counts).
_H_INT = 1152921504606846976


def _bk_sql() -> str:
    h = hash60_duckdb_sql("CAST(k AS VARCHAR)")
    return f"""
WITH mem AS (
  SELECT o_custkey AS k,
         max(CASE WHEN o_orderpriority = '{_THETA_A}' THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN o_orderpriority = '{_THETA_B}' THEN 1 ELSE 0 END) AS b
  FROM orders
  WHERE o_orderpriority IN ('{_THETA_A}', '{_THETA_B}')
  GROUP BY o_custkey
),
hm AS (SELECT a, b, {h} AS h FROM mem),
ra AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM hm WHERE a = 1
),
rb AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM hm WHERE b = 1
),
sa AS (SELECT h FROM ra WHERE rn <= {_BK_K}),
sb AS (SELECT h FROM rb WHERE rn <= {_BK_K}),
th AS (
  SELECT least(
    CASE WHEN (SELECT count(*) FROM sa) < {_BK_K} THEN {_H_INT}
         ELSE (SELECT max(h) FROM sa) END,
    CASE WHEN (SELECT count(*) FROM sb) < {_BK_K} THEN {_H_INT}
         ELSE (SELECT max(h) FROM sb) END) AS theta
),
est AS (
  SELECT
    CASE WHEN (SELECT count(*) FROM sa) < {_BK_K}
         THEN (SELECT count(*) FROM sa)
         ELSE CAST(round(({_BK_K} - 1) * ({_H} / (SELECT max(h) FROM sa)))
              AS BIGINT) END AS est_a,
    CASE WHEN (SELECT count(*) FROM sb) < {_BK_K}
         THEN (SELECT count(*) FROM sb)
         ELSE CAST(round(({_BK_K} - 1) * ({_H} / (SELECT max(h) FROM sb)))
              AS BIGINT) END AS est_b,
    CAST(round((SELECT count(*) FROM (
            SELECT h FROM sa UNION SELECT h FROM sb
          ) u, th WHERE u.h < th.theta)
          * ({_H} / CAST((SELECT theta FROM th) AS DOUBLE)))
         AS BIGINT) AS est_union,
    CAST(round((SELECT count(*) FROM sa JOIN sb USING (h) CROSS JOIN th
            WHERE sa.h < th.theta)
          * ({_H} / CAST((SELECT theta FROM th) AS DOUBLE)))
         AS BIGINT) AS est_inter
),
ex AS (
  SELECT CAST(sum(a) AS BIGINT) AS n_exact_a,
         CAST(sum(b) AS BIGINT) AS n_exact_b,
         CAST(count(*) AS BIGINT) AS n_exact_union,
         CAST(sum(a * b) AS BIGINT) AS n_exact_inter
  FROM mem
)
SELECT n_exact_a, est_a, n_exact_b, est_b,
       n_exact_union, est_union, n_exact_inter, est_inter
FROM est, ex
"""


@register("sketch_theta_bottomk", oracle=_bk_sql())
def sketch_theta_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE theta sketch (Dasgupta et al., arXiv:1510.01997 proper;
    the KMV estimator of Beyer et al., SIGMOD 2007): per set keep the
    k=128 SMALLEST distinct key hashes — fixed sample SIZE, so unlike
    sketch_theta_setops' fixed 1-in-16 rate the state is k hashes no
    matter how large the set grows, which is what a production sketch
    stores per dataset. NDV estimate = (k-1)*H/h_(k); set operations
    use the theta algebra: theta = min of the two sketches' thresholds,
    union = |distinct sample hashes < theta| * H/theta, intersection =
    |common sample hashes < theta| * H/theta. Every estimate is an
    integer count times one IEEE division — bitwise-gated like the rest
    of the module. Error ~1/sqrt(k-2) ~= 9%%.

    Scale shape: the per-set bottom-k here is a set-partitioned window
    over DISTINCT key hashes (the distinct is the only corpus-scale
    shuffle; the sort is per-set and spillable); a 1000-executor
    deployment replaces it with per-partition bottom-k + merge — same
    algebra, the sketch is merge-defined. The exact memberships are the
    gate's verifier."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_THETA_A, _THETA_B)
    )
    mem = pin(
        o.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max(
                F.when(F.col("o_orderpriority") == _THETA_A, 1).otherwise(0)
            ).alias("a"),
            F.max(
                F.when(F.col("o_orderpriority") == _THETA_B, 1).otherwise(0)
            ).alias("b"),
        ),
        label="theta_bk_mem",
    )
    hm = mem.select(
        "a", "b",
        F.expr(hash60_spark_sql("CAST(k AS STRING)")).alias("h"),
    )
    # one SET-PARTITIONED window selects both sketches: each set's
    # bottom-k sorts only that set's distinct hashes (parallel across
    # sets; the per-set sort is the exact-selection cost the docstring
    # trades away on a cluster via per-partition bottom-k + merge)
    sets = hm.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("s"), F.col("a").alias("in_set")),
                F.struct(F.lit("b").alias("s"), F.col("b").alias("in_set")),
            )
        ).alias("m"),
        "h",
    ).filter("m.in_set = 1").select(F.col("m.s").alias("s"), "h")
    w = W.partitionBy("s").orderBy("h")
    samples = pin(
        sets.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BK_K)
        .select("s", "h"),
        label="theta_bk_samples",
    )
    sa = samples.filter("s = 'a'").select("h")
    sb = samples.filter("s = 'b'").select("h")
    tha = sa.agg(F.max("h").alias("ha"), F.count("*").alias("na"))
    thb = sb.agg(F.max("h").alias("hb"), F.count("*").alias("nb"))
    # unsaturated guard (ADVICE r9): a sketch with fewer than k hashes
    # is exact — its theta is the full hash space H, and its NDV
    # estimate below is the sample count itself, in both engines
    th = tha.crossJoin(thb).select(
        "ha",
        "hb",
        "na",
        "nb",
        F.least(
            F.expr(f"CASE WHEN na < {_BK_K} THEN {_H_INT}L ELSE ha END"),
            F.expr(f"CASE WHEN nb < {_BK_K} THEN {_H_INT}L ELSE hb END"),
        ).alias("theta"),
    )
    uni = (
        sa.select("h").union(sb.select("h")).distinct()
        .crossJoin(F.broadcast(th))
        .agg(
            F.expr("min(theta) AS theta"),
            F.expr("min(ha) AS ha"),
            F.expr("min(hb) AS hb"),
            F.expr("min(na) AS na"),
            F.expr("min(nb) AS nb"),
            F.expr(
                "CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END)"
                " AS BIGINT) AS n_union_s"
            ),
        )
    )
    inter = (
        sa.join(sb, "h")
        .crossJoin(F.broadcast(th.select("theta")))
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END)"
                " AS BIGINT) AS n_inter_s"
            )
        )
        .selectExpr("coalesce(n_inter_s, 0) AS n_inter_s")
    )
    ex = mem.agg(
        F.expr("CAST(sum(a) AS BIGINT) AS n_exact_a"),
        F.expr("CAST(sum(b) AS BIGINT) AS n_exact_b"),
        F.expr("CAST(count(*) AS BIGINT) AS n_exact_union"),
        F.expr("CAST(sum(a * b) AS BIGINT) AS n_exact_inter"),
    )
    return (
        uni.crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(ex))
        .selectExpr(
            "n_exact_a",
            f"CASE WHEN na < {_BK_K} THEN na"
            f" ELSE CAST(round(({_BK_K} - 1) * ({_H} / ha)) AS BIGINT)"
            " END AS est_a",
            "n_exact_b",
            f"CASE WHEN nb < {_BK_K} THEN nb"
            f" ELSE CAST(round(({_BK_K} - 1) * ({_H} / hb)) AS BIGINT)"
            " END AS est_b",
            "n_exact_union",
            f"CAST(round(n_union_s * ({_H} / CAST(theta AS DOUBLE)))"
            " AS BIGINT) AS est_union",
            "n_exact_inter",
            f"CAST(round(n_inter_s * ({_H} / CAST(theta AS DOUBLE)))"
            " AS BIGINT) AS est_inter",
        )
    )


def _cm_rollup_sql() -> str:
    duck_cols = _cm_cols_duck("CAST(o_custkey AS VARCHAR)")
    cells = " UNION ALL ".join(
        f"SELECT date_trunc('month', o_orderdate) AS mon, {i} AS r,"
        f" {c} AS c FROM orders"
        for i, c in enumerate(duck_cols)
    )
    probe_cols = _cm_cols_duck("CAST(k AS VARCHAR)")
    probes = " UNION ALL ".join(
        f"SELECT k, n_exact, {i} AS r, {c} AS c FROM ex"
        for i, c in enumerate(probe_cols)
    )
    return f"""
WITH monthly AS (
  SELECT mon, r, c, count(*) AS cnt FROM ({cells}) GROUP BY mon, r, c
),
merged AS (SELECT r, c, CAST(sum(cnt) AS BIGINT) AS cnt
           FROM monthly GROUP BY r, c),
ex AS (
  SELECT o_custkey AS k, count(*) AS n_exact FROM orders
  WHERE o_custkey % {_CM_PROBE_MOD} = 0 GROUP BY o_custkey
),
pr AS ({probes})
SELECT k AS custkey, CAST(min(n_exact) AS BIGINT) AS n_exact,
       CAST(min(cnt) AS BIGINT) AS n_est
FROM pr JOIN merged USING (r, c)
GROUP BY k
"""


@register("sketch_countmin_rollup", oracle=_cm_rollup_sql())
def sketch_countmin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-min rollup — the frequency analogue of
    agg_hll_sketch_rollup: one d x w counter grid is built PER MONTH at
    ingest granularity (the artifact a pipeline materializes daily,
    ~12,283 integers each), and any coarser slice is answered by
    CELL-WISE ADDITION of the stored grids instead of rescanning raw
    orders. Count-min is linear in the stream, so the merged grid is
    IDENTICAL to the direct single-pass build — the oracle computes the
    same monthly-then-merge chain and the probe estimates match
    sketch_countmin_heavy's bitwise (same one-sided >= exact guarantee;
    a test pins merged == direct row-for-row). Shuffle shape: one
    map-side-combined groupBy into (months x d x w) cells, one tiny
    re-aggregation to (d x w), broadcast probe join."""
    o = load(spark, sf_dir, "orders")
    cols = _cm_cols_spark("CAST(o_custkey AS STRING)")
    cells = o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                for i, c in enumerate(cols)
            ])
        ).alias("rc"),
    ).select("mon", "rc.r", "rc.c")
    monthly = cells.groupBy("mon", "r", "c").agg(F.count("*").alias("cnt"))
    merged = monthly.groupBy("r", "c").agg(
        F.expr("CAST(sum(cnt) AS BIGINT) AS cnt")
    )
    ex = (
        o.filter(F.col("o_custkey") % _CM_PROBE_MOD == 0)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_exact"))
    )
    probe_cols = _cm_cols_spark("CAST(k AS STRING)")
    pr = ex.select(
        "k",
        "n_exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                for i, c in enumerate(probe_cols)
            ])
        ).alias("rc"),
    ).select("k", "n_exact", "rc.r", "rc.c")
    return (
        pr.join(F.broadcast(merged), ["r", "c"])
        .groupBy(F.col("k").alias("custkey"))
        .agg(
            F.expr("CAST(min(n_exact) AS BIGINT) AS n_exact"),
            F.expr("CAST(min(cnt) AS BIGINT) AS n_est"),
        )
    )


# ---------------------------------------------------------------------------
# dyadic count-min quantiles: the MERGEABLE quantile sketch (VERDICT r9 #3)
# ---------------------------------------------------------------------------

# Leaf bucket = price cents div 256 ($2.56 resolution — plenty for a
# rank sketch: the mean leaf holds ~15 rows at sf0.1, so leaf choice
# bounds rank granularity at ~2e-5); the lineitem price domain
# [90068, 10499991] cents spans < 2^16 leaves, clamped so out-of-range
# values land in the edge buckets instead of vanishing from every
# descent decision.
_DQ_LEAF_W = 256
_DQ_LEVELS = 16
_DQ_LEAF_MAX = (1 << _DQ_LEVELS) - 1
_DQ_QS = (25, 50, 75, 90)

_DQ_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"


def _dq_node_hash_spark(lvl_expr: str, node_expr: str) -> str:
    return hash60_spark_sql(
        f"concat({lvl_expr}, ':', CAST({node_expr} AS STRING))"
    )


def _dq_node_hash_duck(lvl_expr: str, node_expr: str) -> str:
    return hash60_duckdb_sql(
        f"{lvl_expr} || ':' || CAST({node_expr} AS VARCHAR)"
    )


def _dq_grid(
    li: DataFrame,
    extra_keys: list[str] | None = None,
    cents_expr: str | None = None,
    leaf_w: int | None = None,
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
    cents_expr = _DQ_CENTS if cents_expr is None else cents_expr
    leaf_w = _DQ_LEAF_W if leaf_w is None else leaf_w
    leafs = li.groupBy(
        *ek,
        F.expr(
            f"least({cents_expr} div {leaf_w}, {_DQ_LEAF_MAX})"
        ).alias("leaf"),
    ).agg(F.count("*").alias("cnt"))
    nodes = (
        leafs.select(
            *ek,
            "cnt",
            F.expr(
                f"explode(transform(sequence(0, {_DQ_LEVELS - 1}),"
                " l -> struct(l AS lvl, shiftright(leaf, l) AS node)))"
            ).alias("ln"),
        )
        .select(*ek, "cnt", "ln.lvl", "ln.node")
        .groupBy(*ek, "lvl", "node")
        .agg(F.sum("cnt").alias("cnt"))
    )
    h = _dq_node_hash_spark("CAST(lvl AS STRING)", "node")
    cell_structs = ", ".join(
        f"struct({i} AS r, h % {p} AS c)" for i, p in enumerate(_CM_PRIMES)
    )
    return (
        nodes.selectExpr(*ek, "lvl", "cnt", f"{h} AS h")
        .selectExpr(
            *ek, "lvl", "cnt", f"explode(array({cell_structs})) AS rc"
        )
        .select(*ek, "lvl", "rc.r", "rc.c", "cnt")
        .groupBy(*ek, "lvl", "r", "c")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )


def _dq_fold_expr(leaf_w: int | None = None) -> str:
    """The whole 16-level descent as ONE SQL expression: an
    ``aggregate`` fold over the descending level sequence, reading CM
    cells from the broadcast map column ``gm`` and the rank target
    from ``target`` — shared by the global, rollup, streaming, and
    per-group quantile keys."""
    h = _dq_node_hash_spark("CAST(l AS STRING)", "acc.node * 2")
    cell_lookups = ", ".join(
        f"coalesce(element_at(gm, (l * 3 + {i}) * 8192"
        f" + {h} % {p}), CAST(0 AS BIGINT))"
        for i, p in enumerate(_CM_PRIMES)
    )
    step = (
        f"(acc, l) -> CASE WHEN acc.cum + least({cell_lookups}) >= target"
        " THEN struct(acc.node * 2 AS node, acc.cum AS cum)"
        f" ELSE struct(acc.node * 2 + 1 AS node,"
        f" acc.cum + least({cell_lookups}) AS cum) END"
    )
    leaf_w = _DQ_LEAF_W if leaf_w is None else leaf_w
    return (
        f"aggregate(sequence({_DQ_LEVELS - 1}, 0, -1),"
        " struct(CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cum),"
        f" {step}).node * {leaf_w} + {leaf_w - 1} AS est_cents"
    )


def _dq_descend(
    li: DataFrame, grid: DataFrame, cents_expr: str | None = None
) -> DataFrame:
    """Greedy root-to-leaf quantile descent over the grid: at each
    level the left child's CM point estimate (min over the d row
    counters; an absent cell is 0) decides left/right, carrying the
    estimated rank below the current interval. The grid is BOUNDED
    (<= 18 x 12,283 cells, ~90k occupied at sf0.1) so it collapses to
    one broadcast map row and the whole 16-level descent runs as a
    single ``aggregate`` fold expression over the 4 target rows — ONE
    job, not 16 chained broadcast joins (measured 5.6 s -> the join-
    per-level formulation's scheduling overhead dominated). Integer
    arithmetic end to end, so the chosen leaf is bitwise equal to the
    oracle's chained-CTE replay. Emits the admission record plus the
    TRUE rank of the returned value measured against the full table
    (the gate's verifier, one conditional aggregate)."""
    # cell key (lvl, r, c) flattened to one BIGINT: c < 8192 = 2^13
    gm = grid.agg(
        F.expr(
            "map_from_entries(collect_list(struct("
            "(lvl * 3 + r) * 8192 + c AS k, cnt AS v))) AS gm"
        )
    )
    targets = li.agg(F.count("*").alias("n")).selectExpr(
        "n",
        "explode(array("
        + ", ".join(
            f"struct({q} AS qpct, (n * {q} + 99) div 100 AS target)"
            for q in _DQ_QS
        )
        + ")) AS qt",
    ).select("n", "qt.qpct", "qt.target")
    res = targets.crossJoin(F.broadcast(gm)).selectExpr(
        "qpct", "n", _dq_fold_expr()
    )
    cents = _DQ_CENTS if cents_expr is None else cents_expr
    chk = (
        li.crossJoin(F.broadcast(res))
        .groupBy("qpct")
        .agg(
            F.expr("min(n) AS n"),
            F.expr("min(est_cents) AS est_cents"),
            F.expr(
                f"sum(CASE WHEN {cents} <= est_cents THEN 1 ELSE 0 END)"
                " AS le"
            ),
        )
    )
    return chk.selectExpr(
        "qpct",
        "CAST(n AS BIGINT) AS n",
        "CAST(est_cents AS DOUBLE) / 100.0 AS est_value",
        "round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac",
        "round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err",
    )


def _dq_sql(monthly: bool = False) -> str:
    """Shared DuckDB oracle for the direct and rollup forms: identical
    integer pipeline (leaf counts -> dyadic ancestors -> prime-row
    cells -> 16-level descent), with the rollup building per-month
    grids first and merging by cell-wise addition."""
    h_build = _dq_node_hash_duck("CAST(lvl AS VARCHAR)", "node")
    mon_sel = (
        "date_trunc('month', CAST(l_shipdate AS DATE)) AS mon, "
        if monthly
        else ""
    )
    mon_key = "mon, " if monthly else ""
    cells = " UNION ALL ".join(
        f"SELECT {mon_key}lvl, {i} AS r, {h_build} % {p} AS c, cnt FROM nodes"
        for i, p in enumerate(_CM_PRIMES)
    )
    grid_cte = f"""
cents AS (
  SELECT {mon_sel}least({_DQ_CENTS} // {_DQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf
  FROM lineitem
),
leafs AS (SELECT {mon_key}leaf, count(*) AS cnt FROM cents
          GROUP BY {mon_key}leaf),
nodes AS (
  SELECT {mon_key}u.lvl AS lvl, u.node AS node, sum(cnt) AS cnt FROM (
    SELECT {mon_key}cnt,
           unnest(list_transform(generate_series(0, {_DQ_LEVELS - 1}),
                  l -> struct_pack(lvl := l, node := leaf >> l))) AS s
    FROM leafs
  ) t, LATERAL (SELECT s.lvl AS lvl, s.node AS node) u
  GROUP BY {mon_key}u.lvl, u.node
),
{"monthly_grid AS MATERIALIZED (SELECT mon, lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt FROM (" + cells + ") GROUP BY mon, lvl, r, c), grid AS MATERIALIZED (SELECT lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt FROM monthly_grid GROUP BY lvl, r, c)" if monthly else "grid AS MATERIALIZED (SELECT lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt FROM (" + cells + ") GROUP BY lvl, r, c)"}"""
    qs_vals = ", ".join(f"({q})" for q in _DQ_QS)
    levels = []
    for lvl in range(_DQ_LEVELS - 1, -1, -1):
        hq = _dq_node_hash_duck(f"'{lvl}'", "ln")
        cprojs = ", ".join(
            f"{hq} % {p} AS c{i}" for i, p in enumerate(_CM_PRIMES)
        )
        legs = " OR ".join(
            f"(g.r = {i} AND g.c = p.c{i})" for i in range(_CM_D)
        )
        levels.append(f"""
p{lvl} AS (
  SELECT qpct, target, n, cum, node * 2 AS ln, {cprojs}
  FROM s{lvl + 1}
),
e{lvl} AS (
  SELECT p.qpct, p.target, p.n, p.cum, p.ln,
         CASE WHEN count(g.cnt) < {_CM_D} THEN CAST(0 AS BIGINT)
              ELSE min(g.cnt) END AS est
  FROM p{lvl} p LEFT JOIN grid g ON g.lvl = {lvl} AND ({legs})
  GROUP BY p.qpct, p.target, p.n, p.cum, p.ln
),
s{lvl} AS (
  SELECT qpct, target, n,
         CASE WHEN cum + est >= target THEN ln ELSE ln + 1 END AS node,
         CASE WHEN cum + est >= target THEN cum ELSE cum + est END AS cum
  FROM e{lvl}
)""")
    return f"""
WITH {grid_cte},
tot AS (SELECT count(*) AS n FROM lineitem),
s{_DQ_LEVELS} AS (
  SELECT qpct, (n * qpct + 99) // 100 AS target, n,
         CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cum
  FROM tot, (VALUES {qs_vals}) qs(qpct)
),{",".join(levels)},
res AS (
  SELECT qpct, n,
         node * {_DQ_LEAF_W} + {_DQ_LEAF_W - 1} AS est_cents
  FROM s0
),
chk AS (
  SELECT r.qpct, min(r.n) AS n, min(r.est_cents) AS est_cents,
         sum(CASE WHEN {_DQ_CENTS} <= r.est_cents THEN 1 ELSE 0 END) AS le
  FROM lineitem CROSS JOIN res r
  GROUP BY r.qpct
)
SELECT qpct, CAST(n AS BIGINT) AS n,
       CAST(est_cents AS DOUBLE) / 100.0 AS est_value,
       round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac,
       round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err
FROM chk
"""


@register("sketch_quantile_dyadic", oracle=_dq_sql())
def sketch_quantile_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketch — dyadic count-min (Cormode &
    Muthukrishnan, J.Alg 2005 §4's range-query decomposition driving
    the classic quantile binary search): one prime-row CM grid per
    dyadic level of the value domain (16 levels x ~12,283 cells —
    bounded state like its NDV/theta/count-min siblings), and the
    phi-quantile is a root-to-leaf descent whose left/right choice at
    each level is a CM point query of the left child's subtree count.
    Chosen over KLL/GK deliberately: count-min is LINEAR, so sketches
    merge by cell-wise ADDITION with merged == direct EXACTLY (KLL's
    randomized compaction and GK's sequential prune are neither
    deterministic cross-engine nor merge-exact — the property the
    bitwise oracle gate and the rollup key pin). Rank error is the sum
    of <= 18 one-sided CM overestimates (~N/w each, min-of-d damped):
    measured rank_err <= 0.004 at sf0.1 (test-pinned <= 0.02), with the
    TRUE rank of every returned value emitted alongside as the
    verifier. Scale shape: leaf aggregation first (md5 runs on the ~2x
    distinct-leaf node set, never per row), one map-side-combinable
    groupBy into the bounded grid, then the descent touches 4-row
    state frames against broadcast level slices — at 100 TB the grid
    is the stored daily artifact and quantile queries never rescan."""
    from ..checkpoint import pin

    li = load(spark, sf_dir, "lineitem")
    # ONE lineitem pass instead of three: the grid build, the target
    # count, and the true-rank verifier each re-scanned lineitem and
    # re-derived the cents column (sequential passes — the gm/res
    # broadcasts serialize them). Pin the single derived BIGINT column
    # LAZILY (~8 bytes/row; blocks materialize inside the gm broadcast
    # job, the first consumer) and point all three at it — same integer
    # values, bitwise-identical descent (guide §1.2/§2.3: project before
    # everything, never re-derive what three consumers share).
    cents = pin(
        li.selectExpr(f"{_DQ_CENTS} AS cents"),
        eager=False,
        label="dq_cents",
    )
    return _dq_descend(
        cents, _dq_grid(cents, cents_expr="cents"), cents_expr="cents"
    )


@register("sketch_quantile_rollup", oracle=_dq_sql(monthly=True))
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup form of sketch_quantile_dyadic — the mergeability proof:
    per-month grids (the artifact a 100 TB ingest materializes at
    partition granularity) merged by cell-wise ADDITION, then the same
    descent. Count-min linearity makes the merged grid IDENTICAL to
    the direct build, so this key's output is row-for-row bitwise
    equal to sketch_quantile_dyadic's (pinned in tests) — the quantile
    analogue of sketch_countmin_rollup, completing the sketch algebra:
    every member of the family (NDV, theta set-ops, frequencies, and
    now quantiles) has a bounded-state merge-exact form."""
    li = load(spark, sf_dir, "lineitem")
    monthly = _dq_grid(
        li.withColumn(
            "mon", F.date_trunc("month", F.expr("CAST(l_shipdate AS DATE)"))
        ),
        extra_keys=["mon"],
    )
    grid = monthly.groupBy("lvl", "r", "c").agg(
        F.expr("CAST(sum(cnt) AS BIGINT) AS cnt")
    )
    return _dq_descend(li, grid)


# ---------------------------------------------------------------------------
# count-min inner product: join cardinality from two mergeable grids
# ---------------------------------------------------------------------------

_JC_YEAR_A = 1996
_JC_YEAR_B = 1997
# Inner-product grids use WIDER prime rows than the point-query grids:
# CM's inner-product error is additive e*|A|*|B|/w (J.Alg 2005 Thm 3),
# so w must be sized to the PRODUCT of the stream sizes, not to a
# single stream — at w~4093 the ~21k x 21k yearly-order product left a
# 3.7x overestimate (measured); at w~65519 the same fixture reads
# ~1.2x. The rule at 100 TB: point/quantile grids stay at 12k cells,
# join-pricing grids get 2^16-cell rows (still ~1.5 MB total).
_JC_PRIMES = (65521, 65519, 65497)


def _jc_cols_duck(expr: str) -> list[str]:
    return [
        f"{hash60_duckdb_sql(expr)} % {_JC_PRIMES[i]}" for i in range(_CM_D)
    ]


def _jc_cols_spark(expr: str) -> list[str]:
    return [
        f"{hash60_spark_sql(expr)} % {_JC_PRIMES[i]}" for i in range(_CM_D)
    ]


def _jc_sql() -> str:
    cols = _jc_cols_duck("CAST(o_custkey AS VARCHAR)")
    def grid(name: str, year: int) -> str:
        cells = " UNION ALL ".join(
            f"SELECT {i} AS r, {c} AS c FROM orders"
            f" WHERE EXTRACT(year FROM o_orderdate) = {year}"
            for i, c in enumerate(cols)
        )
        return (
            f"{name} AS MATERIALIZED (SELECT r, c, count(*) AS cnt"
            f" FROM ({cells}) GROUP BY r, c)"
        )
    return f"""
WITH {grid("ga", _JC_YEAR_A)},
{grid("gb", _JC_YEAR_B)},
ip AS (
  -- a row with NO overlapping cells has inner product 0 and must
  -- floor the min; count(*) < d detects the absent rows
  SELECT CASE WHEN count(*) < 3 THEN CAST(0 AS BIGINT)
              ELSE min(dot) END AS n_est
  FROM (
    SELECT ga.r, CAST(sum(ga.cnt * gb.cnt) AS BIGINT) AS dot
    FROM ga JOIN gb ON ga.r = gb.r AND ga.c = gb.c
    GROUP BY ga.r
  )
),
ex AS (
  SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS n_exact
  FROM (SELECT o_custkey AS k, count(*) AS na FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = {_JC_YEAR_A} GROUP BY 1) a
  JOIN (SELECT o_custkey AS k, count(*) AS nb FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = {_JC_YEAR_B} GROUP BY 1) b
  USING (k)
)
SELECT n_exact, CAST((SELECT n_est FROM ip) AS BIGINT) AS n_est,
       round((CAST((SELECT n_est FROM ip) AS DOUBLE) - n_exact)
             / CAST(n_exact AS DOUBLE), 4) AS rel_over
FROM ex
"""


@register("sketch_join_cardinality", oracle=_jc_sql())
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two count-min grids (Cormode &
    Muthukrishnan, J.Alg 2005 §4.3 — the inner-product query): |A ⋈ B|
    on a shared key equals sum_k fA(k)*fB(k), and the CM estimate is
    min over rows r of sum_c gridA[r,c]*gridB[r,c] — ALWAYS >= the
    true size (every collision adds non-negative cross terms; pinned
    in tests), over by <= e*|A|*|B|/w with the prime-row independence
    the round-10 hash fix restored — note w here is the WIDE 2^16-cell
    row (_JC_PRIMES): inner-product error scales with the product of
    the stream sizes, so join-pricing grids are sized up vs the 12k
    point-query grids (measured 3.7x -> 1.2x overestimate on this
    fixture). This is the cost-based-optimizer
    primitive at 100 TB: both grids are the ~12,283-cell mergeable
    artifacts the ingest already materializes per partition (cell-wise
    addition — sketch_countmin_rollup), so ANY pair of datasets'
    many-to-many join size is priced by multiplying kilobyte sketches,
    never by scanning either side. Fixture: 1996-orders ⋈ 1997-orders
    on o_custkey (genuinely many-to-many); the exact join size emitted
    alongside is the gate's verifier."""
    o = load(spark, sf_dir, "orders")
    cols = _jc_cols_spark("CAST(o_custkey AS STRING)")

    def grid(year: int) -> DataFrame:
        yo = o.filter(F.expr(f"EXTRACT(year FROM o_orderdate) = {year}"))
        cells = yo.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                    for i, c in enumerate(cols)
                ])
            ).alias("rc")
        ).select("rc.r", "rc.c")
        return cells.groupBy("r", "c").agg(F.count("*").alias("cnt"))

    ip = (
        grid(_JC_YEAR_A).alias("ga")
        .join(F.broadcast(grid(_JC_YEAR_B).alias("gb")), ["r", "c"])
        .groupBy("r")
        .agg(F.expr("CAST(sum(ga.cnt * gb.cnt) AS BIGINT) AS dot"))
        # a row with NO overlapping cells has inner product 0 and must
        # floor the min (count < d detects it)
        .agg(
            F.expr(
                f"CASE WHEN count(*) < {_CM_D} THEN CAST(0 AS BIGINT)"
                " ELSE min(dot) END AS n_est"
            )
        )
    )
    ex = (
        o.filter(F.expr(f"EXTRACT(year FROM o_orderdate) = {_JC_YEAR_A}"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("na"))
        .join(
            o.filter(
                F.expr(f"EXTRACT(year FROM o_orderdate) = {_JC_YEAR_B}")
            )
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(F.count("*").alias("nb")),
            "k",
        )
        .agg(
            F.expr(
                "CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS n_exact"
            )
        )
    )
    return ex.crossJoin(F.broadcast(ip)).selectExpr(
        "n_exact",
        "CAST(n_est AS BIGINT) AS n_est",
        "round((CAST(n_est AS DOUBLE) - n_exact)"
        " / CAST(n_exact AS DOUBLE), 4) AS rel_over",
    )


# ---------------------------------------------------------------------------
# dyadic range counts from the quantile grid (the other half of §4)
# ---------------------------------------------------------------------------

def _dyadic_cover(lo: int, hi: int) -> list[tuple[int, int]]:
    """Minimal dyadic cover of the leaf interval [lo, hi] (inclusive):
    the canonical greedy walk yields <= 2*LEVELS nodes, each (lvl,
    node) with node covering leaves [node<<lvl, (node+1)<<lvl)."""
    out: list[tuple[int, int]] = []
    while lo <= hi:
        lvl = 0
        # grow the block while aligned and contained; capped at the
        # grid's top STORED level (_DQ_LEVELS - 1): the full-domain
        # range would otherwise emit a level-16 root node the grid
        # never materializes, and its lookup would silently read 0
        while (
            lvl + 1 <= _DQ_LEVELS - 1
            and lo % (1 << (lvl + 1)) == 0
            and lo + (1 << (lvl + 1)) - 1 <= hi
        ):
            lvl += 1
        out.append((lvl, lo >> lvl))
        lo += 1 << lvl
    return out


# fixed price ranges (dollars): a narrow band, a wide band, and an
# open-ended tail — decomposed ONCE here into dyadic nodes shared by
# both engines as literals
_RC_RANGES = [
    (1, 1000_00, 5000_00),
    (2, 10000_00, 50000_00),
    (3, 90000_00, (_DQ_LEAF_MAX + 1) * _DQ_LEAF_W - 1),
]


def _rc_nodes() -> list[tuple[int, int, int]]:
    nodes = []
    for rid, lo_c, hi_c in _RC_RANGES:
        # leaf-aligned interval: the sketch answers at leaf
        # granularity, so ranges are defined as [lo_leaf, hi_leaf]
        for lvl, node in _dyadic_cover(
            lo_c // _DQ_LEAF_W, hi_c // _DQ_LEAF_W
        ):
            nodes.append((rid, lvl, node))
    return nodes


def _rc_sql() -> str:
    h = _dq_node_hash_duck("CAST(lvl AS VARCHAR)", "node")
    cells = " UNION ALL ".join(
        f"SELECT lvl, {i} AS r, {h} % {p} AS c, cnt FROM nodes"
        for i, p in enumerate(_CM_PRIMES)
    )
    probe_rows = ", ".join(
        f"({rid}, {lvl}, {node})" for rid, lvl, node in _rc_nodes()
    )
    ranges = ", ".join(
        f"({rid}, {lo}, {hi})" for rid, lo, hi in _RC_RANGES
    )
    hp = _dq_node_hash_duck("CAST(lvl AS VARCHAR)", "node")
    probe_cells = " UNION ALL ".join(
        f"SELECT rid, lvl, node, {i} AS r, {hp} % {p} AS c FROM probes"
        for i, p in enumerate(_CM_PRIMES)
    )
    return f"""
WITH cents AS (
  SELECT least({_DQ_CENTS} // {_DQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf,
         {_DQ_CENTS} AS c_exact
  FROM lineitem
),
leafs AS (SELECT leaf, count(*) AS cnt FROM cents GROUP BY leaf),
nodes AS (
  SELECT u.lvl AS lvl, u.node AS node, sum(cnt) AS cnt FROM (
    SELECT cnt,
           unnest(list_transform(generate_series(0, {_DQ_LEVELS - 1}),
                  l -> struct_pack(lvl := l, node := leaf >> l))) AS s
    FROM leafs
  ) t, LATERAL (SELECT s.lvl AS lvl, s.node AS node) u
  GROUP BY u.lvl, u.node
),
grid AS MATERIALIZED (
  SELECT lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM ({cells}) GROUP BY lvl, r, c
),
probes AS (SELECT * FROM (VALUES {probe_rows}) p(rid, lvl, node)),
pc AS ({probe_cells}),
node_est AS (
  SELECT pc.rid, pc.lvl, pc.node,
         CASE WHEN count(g.cnt) < {_CM_D} THEN CAST(0 AS BIGINT)
              ELSE min(g.cnt) END AS est
  FROM pc LEFT JOIN grid g
    ON g.lvl = pc.lvl AND g.r = pc.r AND g.c = pc.c
  GROUP BY pc.rid, pc.lvl, pc.node
),
est AS (SELECT rid, CAST(sum(est) AS BIGINT) AS n_est
        FROM node_est GROUP BY rid),
rng AS (SELECT * FROM (VALUES {ranges}) r(rid, lo_c, hi_c)),
ex AS (
  SELECT rid, CAST(count(*) AS BIGINT) AS n_exact
  FROM rng JOIN cents
    ON cents.leaf >= lo_c // {_DQ_LEAF_W}
   AND cents.leaf <= hi_c // {_DQ_LEAF_W}
  GROUP BY rid
)
SELECT rng.rid AS range_id, rng.lo_c, rng.hi_c,
       coalesce(ex.n_exact, 0) AS n_exact, est.n_est
FROM rng JOIN est ON rng.rid = est.rid
LEFT JOIN ex ON rng.rid = ex.rid
"""


@register("sketch_range_count", oracle=_rc_sql())
def sketch_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-count queries from the dyadic count-min grid — the other
    half of Cormode & Muthukrishnan §4 (range queries), answered from
    the SAME bounded artifact sketch_quantile_dyadic stores: any
    [lo, hi] decomposes into <= 2*16 canonical dyadic nodes
    (precomputed here as shared literals), and the range count is the
    sum of those nodes' CM point estimates — one-sided >= exact like
    every CM answer (pinned in tests). At 100 TB this is the
    histogram/selectivity primitive: per-partition grids merge by
    addition, and any ad-hoc predicate range is priced from kilobytes
    without a scan. The exact per-range counts (at the sketch's leaf
    granularity, so estimate and verifier state the same predicate)
    are the gate's verifier."""
    li = load(spark, sf_dir, "lineitem")
    grid = _dq_grid(li)
    gm = grid.agg(
        F.expr(
            "map_from_entries(collect_list(struct("
            "(lvl * 3 + r) * 8192 + c AS k, cnt AS v))) AS gm"
        )
    )
    probe_rows = ", ".join(
        f"struct({rid} AS rid, {lvl} AS lvl, CAST({node} AS BIGINT)"
        " AS node)"
        for rid, lvl, node in _rc_nodes()
    )
    h = _dq_node_hash_spark("CAST(lvl AS STRING)", "node")
    lookups = ", ".join(
        f"coalesce(element_at(gm, (lvl * 3 + {i}) * 8192"
        f" + {h} % {p}), CAST(0 AS BIGINT))"
        for i, p in enumerate(_CM_PRIMES)
    )
    est = (
        spark.range(1)
        .selectExpr(f"explode(array({probe_rows})) AS pr")
        .select("pr.rid", "pr.lvl", "pr.node")
        .crossJoin(F.broadcast(gm))
        .selectExpr("rid", f"least({lookups}) AS est")
        .groupBy("rid")
        .agg(F.expr("CAST(sum(est) AS BIGINT) AS n_est"))
    )
    ranges = ", ".join(
        f"struct({rid} AS rid, CAST({lo} AS BIGINT) AS lo_c,"
        f" CAST({hi} AS BIGINT) AS hi_c)"
        for rid, lo, hi in _RC_RANGES
    )
    rng = spark.range(1).selectExpr(
        f"explode(array({ranges})) AS r"
    ).select("r.rid", "r.lo_c", "r.hi_c")
    leafs = li.selectExpr(
        f"least({_DQ_CENTS} div {_DQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf"
    )
    ex = (
        leafs.crossJoin(F.broadcast(rng))
        .filter(
            F.expr(
                f"leaf >= lo_c div {_DQ_LEAF_W}"
                f" AND leaf <= hi_c div {_DQ_LEAF_W}"
            )
        )
        .groupBy("rid")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_exact"))
    )
    return (
        rng.join(est, "rid")
        .join(ex, "rid", "left")
        .selectExpr(
            "rid AS range_id",
            "lo_c",
            "hi_c",
            "coalesce(n_exact, CAST(0 AS BIGINT)) AS n_exact",
            "n_est",
        )
    )


# ---------------------------------------------------------------------------
# per-group quantile grids: the keyed sketch TABLE
# ---------------------------------------------------------------------------

def _dq_group_sql() -> str:
    h_build = _dq_node_hash_duck("CAST(lvl AS VARCHAR)", "node")
    cells = " UNION ALL ".join(
        f"SELECT grp, lvl, {i} AS r, {h_build} % {p} AS c, cnt FROM nodes"
        for i, p in enumerate(_CM_PRIMES)
    )
    qs_vals = ", ".join(f"({q})" for q in _DQ_QS)
    levels = []
    for lvl in range(_DQ_LEVELS - 1, -1, -1):
        hq = _dq_node_hash_duck(f"'{lvl}'", "ln")
        cprojs = ", ".join(
            f"{hq} % {p} AS c{i}" for i, p in enumerate(_CM_PRIMES)
        )
        legs = " OR ".join(
            f"(g.r = {i} AND g.c = p.c{i})" for i in range(_CM_D)
        )
        levels.append(f"""
p{lvl} AS (
  SELECT grp, qpct, target, n, cum, node * 2 AS ln, {cprojs}
  FROM s{lvl + 1}
),
e{lvl} AS (
  SELECT p.grp, p.qpct, p.target, p.n, p.cum, p.ln,
         CASE WHEN count(g.cnt) < {_CM_D} THEN CAST(0 AS BIGINT)
              ELSE min(g.cnt) END AS est
  FROM p{lvl} p LEFT JOIN grid g
    ON g.grp = p.grp AND g.lvl = {lvl} AND ({legs})
  GROUP BY p.grp, p.qpct, p.target, p.n, p.cum, p.ln
),
s{lvl} AS (
  SELECT grp, qpct, target, n,
         CASE WHEN cum + est >= target THEN ln ELSE ln + 1 END AS node,
         CASE WHEN cum + est >= target THEN cum ELSE cum + est END AS cum
  FROM e{lvl}
)""")
    return f"""
WITH cents AS (
  SELECT l_returnflag AS grp,
         least({_DQ_CENTS} // {_DQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf,
         {_DQ_CENTS} AS c_exact
  FROM lineitem
),
leafs AS (SELECT grp, leaf, count(*) AS cnt FROM cents GROUP BY grp, leaf),
nodes AS (
  SELECT grp, u.lvl AS lvl, u.node AS node, sum(cnt) AS cnt FROM (
    SELECT grp, cnt,
           unnest(list_transform(generate_series(0, {_DQ_LEVELS - 1}),
                  l -> struct_pack(lvl := l, node := leaf >> l))) AS s
    FROM leafs
  ) t, LATERAL (SELECT s.lvl AS lvl, s.node AS node) u
  GROUP BY grp, u.lvl, u.node
),
grid AS MATERIALIZED (
  SELECT grp, lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM ({cells}) GROUP BY grp, lvl, r, c
),
tot AS (SELECT grp, count(*) AS n FROM cents GROUP BY grp),
s{_DQ_LEVELS} AS (
  SELECT grp, qpct, (n * qpct + 99) // 100 AS target, n,
         CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cum
  FROM tot, (VALUES {qs_vals}) qs(qpct)
),{",".join(levels)},
res AS (
  SELECT grp, qpct, n,
         node * {_DQ_LEAF_W} + {_DQ_LEAF_W - 1} AS est_cents
  FROM s0
),
chk AS (
  SELECT r.grp, r.qpct, min(r.n) AS n, min(r.est_cents) AS est_cents,
         sum(CASE WHEN c.c_exact <= r.est_cents THEN 1 ELSE 0 END) AS le
  FROM cents c JOIN res r ON c.grp = r.grp
  GROUP BY r.grp, r.qpct
)
SELECT grp AS l_returnflag, qpct, CAST(n AS BIGINT) AS n,
       CAST(est_cents AS DOUBLE) / 100.0 AS est_value,
       round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac,
       round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err
FROM chk
"""


@register("sketch_quantile_by_group", oracle=_dq_group_sql())
def sketch_quantile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile sketches — the keyed sketch TABLE a real
    deployment stores (per-segment latency/price percentiles): one
    bounded dyadic CM grid PER GROUP (l_returnflag — state is
    groups x 16 x ~12,283 cells, built by the same single
    map-side-combinable aggregation with the group key prepended), and
    every group's 4 quantile descents run in ONE fold projection over
    a 12-row state frame joined to its group's broadcast grid map. The
    same merge algebra applies per group (cell-wise addition within a
    key), so per-partition keyed grids roll up without rescans. True
    per-group ranks emitted as the verifier."""
    li = load(spark, sf_dir, "lineitem")
    lig = li.select(
        F.col("l_returnflag").alias("grp"), "l_extendedprice"
    )
    grid = _dq_grid(lig, extra_keys=["grp"])
    gms = grid.groupBy("grp").agg(
        F.expr(
            "map_from_entries(collect_list(struct("
            "(lvl * 3 + r) * 8192 + c AS k, cnt AS v))) AS gm"
        )
    )
    targets = (
        lig.groupBy("grp")
        .agg(F.count("*").alias("n"))
        .selectExpr(
            "grp",
            "n",
            "explode(array("
            + ", ".join(
                f"struct({q} AS qpct, (n * {q} + 99) div 100 AS target)"
                for q in _DQ_QS
            )
            + ")) AS qt",
        )
        .select("grp", "n", "qt.qpct", "qt.target")
    )
    res = targets.join(F.broadcast(gms), "grp").selectExpr(
        "grp", "qpct", "n", _dq_fold_expr()
    )
    chk = (
        lig.selectExpr("grp", f"{_DQ_CENTS} AS c_exact")
        .join(F.broadcast(res), "grp")
        .groupBy("grp", "qpct")
        .agg(
            F.expr("min(n) AS n"),
            F.expr("min(est_cents) AS est_cents"),
            F.expr(
                "sum(CASE WHEN c_exact <= est_cents THEN 1 ELSE 0 END)"
                " AS le"
            ),
        )
    )
    return chk.selectExpr(
        "grp AS l_returnflag",
        "qpct",
        "CAST(n AS BIGINT) AS n",
        "CAST(est_cents AS DOUBLE) / 100.0 AS est_value",
        "round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac",
        "round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err",
    )


# ---------------------------------------------------------------------------
# time-windowed count-min: per-day grids, trailing-window answers by merge
# ---------------------------------------------------------------------------

_WCM_DAYS = 7       # trailing window: the 7 calendar days ending at max
_WCM_PROBE_MOD = 3  # probe every 3rd user


def _wcm_sql() -> str:
    cols = _cm_cols_duck("CAST(user_id AS VARCHAR)")
    cells = " UNION ALL ".join(
        f"SELECT d, {i} AS r, {c} AS c FROM ev" for i, c in enumerate(cols)
    )
    probe_cols = _cm_cols_duck("CAST(k AS VARCHAR)")
    probes = " UNION ALL ".join(
        f"SELECT k, n_exact, {i} AS r, {c} AS c FROM ex"
        for i, c in enumerate(probe_cols)
    )
    return f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
),
daily AS MATERIALIZED (
  SELECT d, r, c, count(*) AS cnt FROM ({cells}) GROUP BY d, r, c
),
w AS (SELECT max(d) AS wd FROM ev),
merged AS (
  SELECT r, c, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM daily, w WHERE d >= wd - {_WCM_DAYS - 1} AND d <= wd
  GROUP BY r, c
),
ex AS (
  SELECT user_id AS k, count(*) AS n_exact
  FROM ev, w
  WHERE user_id % {_WCM_PROBE_MOD} = 0
    AND d >= wd - {_WCM_DAYS - 1} AND d <= wd
  GROUP BY user_id
),
pr AS ({probes})
SELECT k AS user_id, CAST(min(n_exact) AS BIGINT) AS n_exact,
       CAST(min(cnt) AS BIGINT) AS n_est
FROM pr JOIN merged USING (r, c)
GROUP BY k
"""


@register("sketch_countmin_windowed", oracle=_wcm_sql())
def sketch_countmin_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WINDOWED count-min — the "heavy hitters over the last N
    days" primitive: the ingest materializes one ~12,283-cell grid per
    DAY (bounded, like sketch_countmin_rollup's monthly form), and any
    trailing window is answered by cell-wise ADDITION of the window's
    grids — the window slides by adding the new day and dropping the
    oldest, never rescanning events (the sliding-window analogue of
    the CM rollup; per-day grids are also what a streaming deployment
    checkpoints per watermark interval). Window here: the 7 calendar
    days ending at the data's max day (deterministic); probes are
    every 3rd user; the exact windowed counts emitted alongside are
    the gate's verifier, and the estimate keeps CM's one-sided >=
    guarantee (pinned in tests)."""
    e = load(spark, sf_dir, "events").select(
        F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("d"), "user_id"
    )
    cols = _cm_cols_spark("CAST(user_id AS STRING)")
    daily = (
        e.select(
            "d",
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                    for i, c in enumerate(cols)
                ])
            ).alias("rc"),
        )
        .select("d", "rc.r", "rc.c")
        .groupBy("d", "r", "c")
        .agg(F.count("*").alias("cnt"))
    )
    w = e.agg(F.max("d").alias("wd"))
    merged = (
        daily.crossJoin(F.broadcast(w))
        .filter(F.expr(f"d >= date_sub(wd, {_WCM_DAYS - 1}) AND d <= wd"))
        .groupBy("r", "c")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )
    ex = (
        e.crossJoin(F.broadcast(w))
        .filter(
            F.expr(
                f"user_id % {_WCM_PROBE_MOD} = 0"
                f" AND d >= date_sub(wd, {_WCM_DAYS - 1}) AND d <= wd"
            )
        )
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("n_exact"))
    )
    probe_cols = _cm_cols_spark("CAST(k AS STRING)")
    pr = ex.select(
        "k",
        "n_exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), F.expr(c).alias("c"))
                for i, c in enumerate(probe_cols)
            ])
        ).alias("rc"),
    ).select("k", "n_exact", "rc.r", "rc.c")
    return (
        pr.join(F.broadcast(merged), ["r", "c"])
        .groupBy(F.col("k").alias("user_id"))
        .agg(
            F.expr("CAST(min(n_exact) AS BIGINT) AS n_exact"),
            F.expr("CAST(min(cnt) AS BIGINT) AS n_est"),
        )
    )


# ---------------------------------------------------------------------------
# windowed quantiles: p99-over-trailing-window from merged per-day grids
# ---------------------------------------------------------------------------

_WQ_CENTS = "CAST(round(value * 100) AS BIGINT)"
_WQ_LEAF_W = 1  # value domain [0, 560.21] -> 56k centi-units < 2^16 leaves
_WQ_QS = (50, 90, 99)


def _wq_sql() -> str:
    h_build = _dq_node_hash_duck("CAST(lvl AS VARCHAR)", "node")
    cells = " UNION ALL ".join(
        f"SELECT d, lvl, {i} AS r, {h_build} % {p} AS c, cnt FROM nodes"
        for i, p in enumerate(_CM_PRIMES)
    )
    qs_vals = ", ".join(f"({q})" for q in _WQ_QS)
    levels = []
    for lvl in range(_DQ_LEVELS - 1, -1, -1):
        hq = _dq_node_hash_duck(f"'{lvl}'", "ln")
        cprojs = ", ".join(
            f"{hq} % {p} AS c{i}" for i, p in enumerate(_CM_PRIMES)
        )
        legs = " OR ".join(
            f"(g.r = {i} AND g.c = p.c{i})" for i in range(_CM_D)
        )
        levels.append(f"""
p{lvl} AS (
  SELECT qpct, target, n, cum, node * 2 AS ln, {cprojs}
  FROM s{lvl + 1}
),
e{lvl} AS (
  SELECT p.qpct, p.target, p.n, p.cum, p.ln,
         CASE WHEN count(g.cnt) < {_CM_D} THEN CAST(0 AS BIGINT)
              ELSE min(g.cnt) END AS est
  FROM p{lvl} p LEFT JOIN grid g ON g.lvl = {lvl} AND ({legs})
  GROUP BY p.qpct, p.target, p.n, p.cum, p.ln
),
s{lvl} AS (
  SELECT qpct, target, n,
         CASE WHEN cum + est >= target THEN ln ELSE ln + 1 END AS node,
         CASE WHEN cum + est >= target THEN cum ELSE cum + est END AS cum
  FROM e{lvl}
)""")
    return f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         least({_WQ_CENTS} // {_WQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf
  FROM events
),
leafs AS (SELECT d, leaf, count(*) AS cnt FROM ev GROUP BY d, leaf),
nodes AS (
  SELECT d, u.lvl AS lvl, u.node AS node, sum(cnt) AS cnt FROM (
    SELECT d, cnt,
           unnest(list_transform(generate_series(0, {_DQ_LEVELS - 1}),
                  l -> struct_pack(lvl := l, node := leaf >> l))) AS s
    FROM leafs
  ) t, LATERAL (SELECT s.lvl AS lvl, s.node AS node) u
  GROUP BY d, u.lvl, u.node
),
daily AS MATERIALIZED (
  SELECT d, lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM ({cells}) GROUP BY d, lvl, r, c
),
w AS (SELECT max(d) AS wd FROM ev),
grid AS MATERIALIZED (
  SELECT lvl, r, c, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM daily, w WHERE d >= wd - {_WCM_DAYS - 1} AND d <= wd
  GROUP BY lvl, r, c
),
wev AS (SELECT ev.leaf FROM ev, w
        WHERE d >= wd - {_WCM_DAYS - 1} AND d <= wd),
tot AS (SELECT count(*) AS n FROM wev),
s{_DQ_LEVELS} AS (
  SELECT qpct, (n * qpct + 99) // 100 AS target, n,
         CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cum
  FROM tot, (VALUES {qs_vals}) qs(qpct)
),{",".join(levels)},
res AS (
  SELECT qpct, n,
         node * {_WQ_LEAF_W} + {_WQ_LEAF_W - 1} AS est_cents
  FROM s0
),
chk AS (
  SELECT r.qpct, min(r.n) AS n, min(r.est_cents) AS est_cents,
         sum(CASE WHEN wev.leaf <= r.est_cents THEN 1 ELSE 0 END) AS le
  FROM wev CROSS JOIN res r
  GROUP BY r.qpct
)
SELECT qpct, CAST(n AS BIGINT) AS n,
       CAST(est_cents AS DOUBLE) / 100.0 AS est_value,
       round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac,
       round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err
FROM chk
"""


@register("sketch_quantile_windowed", oracle=_wq_sql())
def sketch_quantile_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed percentiles — "p99 over the trailing window", the
    continuous-monitoring primitive, answered the mergeable way: one
    bounded dyadic grid per calendar DAY over the event-value stream
    (leaf = 1 centi-unit — the full [0, 655.35] domain at exact
    resolution), the trailing 7-day window merged by cell-wise
    addition (slide = add a day, drop a day, like
    sketch_countmin_windowed), and p50/p90/p99 descending the merged
    grid in one fold projection. At 100 TB this replaces the
    re-sort-the-window-every-tick approach with kilobyte grid merges;
    exact windowed ranks emitted as the verifier. Note leaf = exact
    centi-unit here (vs the price sketch's 256-cent leaves): a
    monitoring domain is small, so the sketch's only error is CM
    collision mass — measured rank_err <= 0.0005 at sf0.1."""
    e = load(spark, sf_dir, "events").select(
        F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("d"),
        F.expr(
            f"least({_WQ_CENTS} div {_WQ_LEAF_W}, {_DQ_LEAF_MAX})"
        ).alias("leaf"),
    )
    # leaf is already the clamped centi-unit bucket: feed it through
    # as the "cents" expression directly (leaf_w=1), no float round trip
    daily = _dq_grid(
        e.select("d", "leaf"),
        extra_keys=["d"],
        cents_expr="leaf",
        leaf_w=_WQ_LEAF_W,
    )
    w = e.agg(F.max("d").alias("wd"))
    grid = (
        daily.crossJoin(F.broadcast(w))
        .filter(F.expr(f"d >= date_sub(wd, {_WCM_DAYS - 1}) AND d <= wd"))
        .groupBy("lvl", "r", "c")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )
    gm = grid.agg(
        F.expr(
            "map_from_entries(collect_list(struct("
            "(lvl * 3 + r) * 8192 + c AS k, cnt AS v))) AS gm"
        )
    )
    wev = e.crossJoin(F.broadcast(w)).filter(
        F.expr(f"d >= date_sub(wd, {_WCM_DAYS - 1}) AND d <= wd")
    ).select("leaf")
    targets = wev.agg(F.count("*").alias("n")).selectExpr(
        "n",
        "explode(array("
        + ", ".join(
            f"struct({q} AS qpct, (n * {q} + 99) div 100 AS target)"
            for q in _WQ_QS
        )
        + ")) AS qt",
    ).select("n", "qt.qpct", "qt.target")
    res = targets.crossJoin(F.broadcast(gm)).selectExpr(
        "qpct", "n", _dq_fold_expr(leaf_w=_WQ_LEAF_W)
    )
    chk = (
        wev.crossJoin(F.broadcast(res))
        .groupBy("qpct")
        .agg(
            F.expr("min(n) AS n"),
            F.expr("min(est_cents) AS est_cents"),
            F.expr(
                "sum(CASE WHEN leaf <= est_cents THEN 1 ELSE 0 END) AS le"
            ),
        )
    )
    return chk.selectExpr(
        "qpct",
        "CAST(n AS BIGINT) AS n",
        "CAST(est_cents AS DOUBLE) / 100.0 AS est_value",
        "round(CAST(le AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rank_frac",
        "round(abs(CAST(le AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(qpct AS DOUBLE) / 100.0), 4) AS rank_err",
    )


# ---------------------------------------------------------------------------
# Bloom filter rollup: the MERGEABLE membership sketch
# ---------------------------------------------------------------------------

# m = 2^17 bits stored as 32-bit words in BIGINT containers (DuckDB's
# left shift raises on 1<<63, so the sign bit is never used); k = 4
# hash positions per key from the shared hash60 with the hash index
# folded into the input string.
_BLOOM_M = 131072
_BLOOM_K = 4
_BLOOM_PROBE_MOD = 97
_BLOOM_ABSENT_N = 256


def _bloom_sql() -> str:
    hx = hash60_duckdb_sql(
        "CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)"
    )
    mask = "bit_or(1::BIGINT << CAST(p % 32 AS INT))"
    hit = (
        "min(CASE WHEN (COALESCE(m.mask, 0) >> CAST(p % 32 AS INT)) & 1 = 1"
        " THEN 1 ELSE 0 END)"
    )
    return f"""
WITH mk AS (
  SELECT DISTINCT date_trunc('month', o_orderdate) AS mon, o_custkey AS k
  FROM orders
),
pos AS (
  SELECT mon, k, ({hx}) % {_BLOOM_M} AS p
  FROM mk, unnest(generate_series(1, {_BLOOM_K})) AS t(j)
),
monthly AS (
  SELECT mon, p // 32 AS w, {mask} AS mask FROM pos GROUP BY mon, p // 32
),
merged AS (SELECT w, bit_or(mask) AS mask FROM monthly GROUP BY w),
direct AS (
  SELECT p // 32 AS w, {mask} AS mask
  FROM (SELECT DISTINCT k, p FROM pos) GROUP BY p // 32
),
diff AS (
  SELECT count(*) AS n_diff FROM (
    SELECT w, mask FROM merged EXCEPT SELECT w, mask FROM direct
    UNION ALL
    (SELECT w, mask FROM direct EXCEPT SELECT w, mask FROM merged)
  )
),
stats AS (
  SELECT count(*) AS n_words,
         CAST(sum(bit_count(mask)) AS BIGINT) AS bits_set
  FROM merged
),
ppos AS (
  SELECT DISTINCT k, p FROM pos WHERE k % {_BLOOM_PROBE_MOD} = 0
),
phit AS (
  SELECT k, {hit} AS hit
  FROM ppos LEFT JOIN merged m ON m.w = p // 32 GROUP BY k
),
pstats AS (
  SELECT count(*) AS n_present, CAST(sum(hit) AS BIGINT) AS n_present_hits
  FROM phit
),
ab AS (
  SELECT 'a:' || CAST(i AS VARCHAR) AS k
  FROM generate_series(1, {_BLOOM_ABSENT_N}) AS t(i)
),
apos AS (
  SELECT k, ({hx}) % {_BLOOM_M} AS p
  FROM ab, unnest(generate_series(1, {_BLOOM_K})) AS t(j)
),
ahit AS (
  SELECT k, {hit} AS hit
  FROM apos LEFT JOIN merged m ON m.w = p // 32 GROUP BY k
),
astats AS (
  SELECT count(*) AS n_absent, CAST(sum(hit) AS BIGINT) AS n_absent_hits
  FROM ahit
)
SELECT s.n_words, s.bits_set,
       p.n_present, p.n_present_hits,
       a.n_absent, a.n_absent_hits,
       round(CAST(a.n_absent_hits AS DOUBLE) / a.n_absent, 6) AS fpr_measured,
       round(power(CAST(s.bits_set AS DOUBLE) / {_BLOOM_M}, {_BLOOM_K}), 6)
         AS fpr_expected,
       (d.n_diff = 0) AS merged_equals_direct
FROM stats s, pstats p, astats a, diff d
"""


@register("sketch_bloom_rollup", oracle=_bloom_sql())
def sketch_bloom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom membership sketch (Bloom, CACM 1970) — the
    MEMBERSHIP member of the sketch algebra (NDV: sketch_kmv_ndv;
    set ops: sketch_theta_setops; frequency: sketch_countmin_rollup;
    quantiles: sketch_quantile_rollup; this completes the family): one
    m=2^17-bit filter of month-active custkeys is built PER MONTH as
    (word, 32-bit mask) rows, and any coarser slice is answered by
    WORD-WISE bit_or of the stored filters instead of rescanning
    orders — bit_or is idempotent and associative, so the merged
    filter is IDENTICAL to the direct whole-period build (emitted as
    merged_equals_direct, and the oracle replays the same chain).
    Probes certify the contract: every present key hits on all k=4
    positions (a Bloom filter has NO false negatives — the property
    that lets a 100 TB decontamination pass trust a 'not seen'
    verdict, cf. text_decontaminate_bloom), and a disjoint synthetic
    key set measures the false-positive rate beside its (bits_set/m)^k
    prediction. Shuffle shape: one map-side-combined groupBy into
    (month x word) masks, a tiny re-aggregation to word granularity,
    and broadcast probe joins — the filter is ~16 KB however large the
    key universe, the point of membership sketching at scale."""
    o = load(spark, sf_dir, "orders")
    mk = o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        F.col("o_custkey").alias("k"),
    ).distinct()
    hx = hash60_spark_sql("concat(CAST(j AS STRING), ':', CAST(k AS STRING))")
    mask = "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))) AS mask"
    hit = (
        "min(CASE WHEN (shiftright(COALESCE(mask, 0), CAST(p % 32 AS INT)))"
        " & 1 = 1 THEN 1 ELSE 0 END) AS hit"
    )
    # pinned: the monthly build, the direct build and the present-key
    # probes all read the exploded position stream. LAZY (round 14):
    # every consumer lives inside the single terminal plan, so the
    # blocks materialize once inside the first consuming stage and the
    # other subtrees read the cache — the two eager pin jobs were pure
    # sequential barriers ahead of a terminal action that AQE can
    # otherwise overlap (guide §1.2/§2.6).
    pos = pin(
        mk.select(
            "mon",
            "k",
            F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j"),
        ).selectExpr("mon", "k", f"({hx}) % {_BLOOM_M} AS p"),
        eager=False,
        label="bloom_pos",
    )
    monthly = pos.groupBy("mon", F.expr("p div 32").alias("w")).agg(
        F.expr(mask)
    )
    merged = pin(
        monthly.groupBy("w").agg(F.expr("bit_or(mask) AS mask")),
        eager=False,
        label="bloom_merged",
    )
    direct = (
        pos.select("k", "p")
        .distinct()
        .groupBy(F.expr("p div 32").alias("w"))
        .agg(F.expr(mask))
    )
    ndiff = (
        merged.subtract(direct)
        .unionByName(direct.subtract(merged))
        .agg(F.expr("count(*) AS n_diff"))
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
            .agg(F.expr(hit))
        )
        return ph.agg(
            F.expr(f"count(*) AS {n_col}"),
            F.expr(f"CAST(sum(hit) AS BIGINT) AS {hits_col}"),
        )

    pstats = probe_stats(
        pos.filter(F.col("k") % _BLOOM_PROBE_MOD == 0)
        .select("k", "p")
        .distinct(),
        "n_present",
        "n_present_hits",
    )
    ab = spark.range(1, _BLOOM_ABSENT_N + 1).select(
        F.concat(F.lit("a:"), F.col("id").cast("string")).alias("k")
    )
    apos = ab.select(
        "k", F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j")
    ).selectExpr("k", f"({hx}) % {_BLOOM_M} AS p")
    astats = probe_stats(apos, "n_absent", "n_absent_hits")
    return (
        stats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(astats))
        .crossJoin(F.broadcast(ndiff))
        .selectExpr(
            "n_words",
            "bits_set",
            "n_present",
            "n_present_hits",
            "n_absent",
            "n_absent_hits",
            "round(CAST(n_absent_hits AS DOUBLE) / n_absent, 6)"
            " AS fpr_measured",
            f"round(power(CAST(bits_set AS DOUBLE) / {_BLOOM_M},"
            f" {_BLOOM_K}), 6) AS fpr_expected",
            "(n_diff = 0) AS merged_equals_direct",
        )
    )


# ---------------------------------------------------------------------------
# distribution drift from merged quantile-sketch grids (K-S at 256 boundaries)
# ---------------------------------------------------------------------------

_KS_LVL = 8          # probe level: 2^8 = 256 boundary nodes over the domain
_KS_NODES = 1 << (_DQ_LEVELS - _KS_LVL)


def _ks_sql() -> str:
    h_build = _dq_node_hash_duck("CAST(lvl AS VARCHAR)", "node")
    h_probe = _dq_node_hash_duck(f"CAST({_KS_LVL} AS VARCHAR)", "node")
    build_cells = " UNION ALL ".join(
        f"SELECT side, {i} AS r, {h_build} % {p} AS c, cnt FROM nodes"
        for i, p in enumerate(_CM_PRIMES)
    )
    probe_cells = " UNION ALL ".join(
        f"SELECT node, {i} AS r, ({h_probe}) % {p} AS c FROM n8"
        for i, p in enumerate(_CM_PRIMES)
    )
    return f"""
WITH cents AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS mon,
         least({_DQ_CENTS} // {_DQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf
  FROM lineitem
),
mm AS (SELECT max(mon) AS mx FROM cents),
leafs AS (
  SELECT CASE WHEN mon = mx THEN 1 ELSE 0 END AS side, leaf,
         count(*) AS cnt
  FROM cents, mm GROUP BY 1, 2
),
nodes AS (
  SELECT side, {_KS_LVL} AS lvl, leaf >> {_KS_LVL} AS node,
         sum(cnt) AS cnt
  FROM leafs GROUP BY side, leaf >> {_KS_LVL}
),
grid AS MATERIALIZED (
  SELECT side, r, c, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM ({build_cells}) GROUP BY side, r, c
),
n8 AS (SELECT i AS node FROM generate_series(0, {_KS_NODES - 1}) AS t(i)),
probe AS ({probe_cells}),
est AS (
  SELECT s.side, p.node, min(COALESCE(g.cnt, 0)) AS est
  FROM probe p
  CROSS JOIN (VALUES (0), (1)) s(side)
  LEFT JOIN grid g
    ON g.side = s.side AND g.r = p.r AND g.c = p.c
  GROUP BY s.side, p.node
),
cdf AS (
  SELECT side, node,
         sum(est) OVER (PARTITION BY side ORDER BY node) AS cum,
         sum(est) OVER (PARTITION BY side) AS n
  FROM est
),
gaps AS (
  SELECT c.node,
         abs(CAST(c.cum AS DOUBLE) / c.n
             - CAST(b.cum AS DOUBLE) / b.n) AS gap,
         c.n AS n_cur, b.n AS n_base
  FROM cdf c JOIN cdf b ON c.node = b.node AND c.side = 1 AND b.side = 0
),
best AS (
  SELECT * FROM (
    SELECT node, gap, n_cur, n_base,
           row_number() OVER (ORDER BY gap DESC, node) AS rn
    FROM gaps
  ) WHERE rn = 1
),
ex8 AS (
  SELECT CASE WHEN mon = mx THEN 1 ELSE 0 END AS side,
         leaf >> {_KS_LVL} AS node, count(*) AS cnt
  FROM cents, mm GROUP BY 1, 2
),
exf AS (
  SELECT s.side, p.node, CAST(COALESCE(e.cnt, 0) AS BIGINT) AS cnt
  FROM n8 p CROSS JOIN (VALUES (0), (1)) s(side)
  LEFT JOIN ex8 e ON e.side = s.side AND e.node = p.node
),
excdf AS (
  SELECT side, node,
         sum(cnt) OVER (PARTITION BY side ORDER BY node) AS cum,
         sum(cnt) OVER (PARTITION BY side) AS n
  FROM exf
),
exbest AS (
  SELECT max(abs(CAST(c.cum AS DOUBLE) / c.n
              - CAST(b.cum AS DOUBLE) / b.n)) AS ks_exact
  FROM excdf c JOIN excdf b ON c.node = b.node AND c.side = 1 AND b.side = 0
)
SELECT CAST(best.n_cur AS BIGINT) AS n_cur_est,
       CAST(best.n_base AS BIGINT) AS n_base_est,
       round(best.gap, 6) AS ks_est,
       CAST((best.node + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1 AS BIGINT)
         AS ks_at_cents,
       round(exbest.ks_exact, 6) AS ks_exact,
       round(abs(best.gap - exbest.ks_exact), 6) AS ks_err
FROM best, exbest
"""


@register("profile_drift_ks", oracle=_ks_sql())
def profile_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift from MERGED quantile-sketch grids: the
    newest month's price distribution vs the whole prior history,
    compared as a Kolmogorov-Smirnov statistic over the 256 level-8
    dyadic boundaries — computed ENTIRELY from the bounded
    (lvl, r, c) counter grids sketch_quantile_rollup materializes per
    month, so the monitor never rescans history (the baseline CDF is
    cell-wise addition of stored grids; at 100 TB that is the
    difference between a drift check that costs a grid merge and one
    that costs a full-corpus percentile scan). Each side's level-8
    node counts are CM point reads (min over the d prime-width rows,
    absent cell = 0), prefix-summed into a 256-step CDF by one window
    over 512 rows. The same query carries the EXACT K-S at the same
    boundaries as a verifier — ks_err is the CM collision mass, the
    number a production monitor alerts on estimates alone. Integer
    counts end to end; the argmax boundary (ks_at_cents) says WHERE
    the distributions diverge. Drift family: profile_drift_psi bins a
    column exactly, profile_drift_tv needs both slices raw; this is
    the sketch-native member that works from stored artifacts."""
    li = load(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", F.col("l_shipdate")).alias("mon"),
        "l_extendedprice",
    )
    h_probe = _dq_node_hash_spark(f"CAST({_KS_LVL} AS STRING)", "node")
    cell_structs = ", ".join(
        f"struct({i} AS r, ({h_probe}) % {p} AS c)"
        for i, p in enumerate(_CM_PRIMES)
    )
    # the LEVEL-8 slice only: a deployment reads this slice of the
    # stored full grids with partition pruning; rebuilding all 16
    # levels here just to probe one was 4x the key's cost (bench r10)
    # ONE lineitem pass (round 14, guide §1.2): the (mon, node, cnt)
    # aggregate is pinned LAZILY and feeds BOTH the CM grid build and
    # the exact verifier (ex8 below previously re-scanned lineitem to
    # count the same (side, node) populations this aggregate already
    # holds — summing its cnt per (side, node) is count-identical).
    # The old eager mgrid/sgrid pins were standalone job barriers; the
    # derived grids are a few hundred rows off the pinned aggregate, so
    # they stay lazy lineage inside the terminal plan.
    nodes = pin(
        li.groupBy(
            "mon",
            F.expr(
                f"least({_DQ_CENTS} div {_DQ_LEAF_W}, {_DQ_LEAF_MAX})"
                f" >> {_KS_LVL}"
            ).alias("node"),
        ).agg(F.count("*").alias("cnt")),
        eager=False,
        label="ks_nodes",
    )
    mgrid = (
        nodes.selectExpr(
            "mon", "cnt", f"explode(array({cell_structs})) AS rc"
        )
        .select("mon", "rc.r", "rc.c", "cnt")
        .groupBy("mon", "r", "c")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )
    mx = nodes.agg(F.max("mon").alias("mx"))
    sgrid = (
        mgrid.crossJoin(F.broadcast(mx))
        .selectExpr(
            "CASE WHEN mon = mx THEN 1 ELSE 0 END AS side",
            "r",
            "c",
            "cnt",
        )
        .groupBy("side", "r", "c")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )
    probe = (
        spark.range(0, _KS_NODES)
        .selectExpr("id AS node")
        .selectExpr("node", f"explode(array({cell_structs})) AS rc")
        .select("node", "rc.r", "rc.c")
        .crossJoin(spark.range(0, 2).select(F.col("id").alias("side")))
    )
    est = (
        probe.join(
            F.broadcast(sgrid),
            ["side", "r", "c"],
            "left",
        )
        .groupBy("side", "node")
        .agg(F.expr("min(COALESCE(cnt, 0)) AS est"))
    )
    cdf = est.selectExpr(
        "side",
        "node",
        "sum(est) OVER (PARTITION BY side ORDER BY node) AS cum",
        "sum(est) OVER (PARTITION BY side) AS n",
    )
    c = cdf.filter("side = 1").selectExpr(
        "node", "cum AS cum_c", "n AS n_cur"
    )
    b = cdf.filter("side = 0").selectExpr(
        "node", "cum AS cum_b", "n AS n_base"
    )
    best = (
        c.join(b, "node")
        .selectExpr(
            "node",
            "abs(CAST(cum_c AS DOUBLE) / n_cur"
            " - CAST(cum_b AS DOUBLE) / n_base) AS gap",
            "n_cur",
            "n_base",
        )
        .selectExpr(
            "node",
            "gap",
            "n_cur",
            "n_base",
            "row_number() OVER (ORDER BY gap DESC, node) AS rn",
        )
        .filter("rn = 1")
    )
    # exact verifier at the same boundaries — off the SAME pinned
    # (mon, node, cnt) aggregate (sum of per-month counts per
    # (side, node) is count-identical to re-counting the raw table,
    # and integer addition is exact), so no second lineitem scan
    ex8 = (
        nodes.crossJoin(F.broadcast(mx))
        .selectExpr(
            "CASE WHEN mon = mx THEN 1 ELSE 0 END AS side",
            "node",
            "cnt",
        )
        .groupBy("side", "node")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS cnt"))
    )
    exf = (
        spark.range(0, _KS_NODES)
        .selectExpr("id AS node")
        .crossJoin(spark.range(0, 2).select(F.col("id").alias("side")))
        .join(F.broadcast(ex8), ["side", "node"], "left")
        .selectExpr("side", "node", "CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt")
    )
    excdf = exf.selectExpr(
        "side",
        "node",
        "sum(cnt) OVER (PARTITION BY side ORDER BY node) AS cum",
        "sum(cnt) OVER (PARTITION BY side) AS n",
    )
    exc = excdf.filter("side = 1").selectExpr(
        "node", "cum AS cum_c", "n AS n_c"
    )
    exb = excdf.filter("side = 0").selectExpr(
        "node", "cum AS cum_b", "n AS n_b"
    )
    exbest = (
        exc.join(exb, "node")
        .agg(
            F.expr(
                "max(abs(CAST(cum_c AS DOUBLE) / n_c"
                " - CAST(cum_b AS DOUBLE) / n_b)) AS ks_exact"
            )
        )
    )
    return (
        best.crossJoin(F.broadcast(exbest))
        .selectExpr(
            "CAST(n_cur AS BIGINT) AS n_cur_est",
            "CAST(n_base AS BIGINT) AS n_base_est",
            "round(gap, 6) AS ks_est",
            f"CAST((node + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1 AS BIGINT)"
            " AS ks_at_cents",
            "round(ks_exact, 6) AS ks_exact",
            "round(abs(gap - ks_exact), 6) AS ks_err",
        )
    )


# ---------------------------------------------------------------------------
# differentially-private quantiles: seeded-Laplace noise on the histogram
# ---------------------------------------------------------------------------

_DPQ_EPS = 1.0
_DPQ_QS = (50, 90, 99)

from ..functions.privacy import seeded_laplace_sql as _slap  # noqa: E402


def _dpq_noise(seed_expr: str, hash_fn) -> str:
    """Laplace(1/eps) via the shared seeded mechanism
    (functions/privacy.py holds the exact-dyadic argument)."""
    return _slap(seed_expr, f"1.0 / {_DPQ_EPS}", hash_fn)


def _dpq_sql() -> str:
    noise = _dpq_noise("'dpq:' || CAST(node AS VARCHAR)", hash60_duckdb_sql)
    qsel = ", ".join(f"({q})" for q in _DPQ_QS)
    return f"""
WITH cents AS (
  SELECT least({_DQ_CENTS} // {_DQ_LEAF_W}, {_DQ_LEAF_MAX}) AS leaf
  FROM lineitem
),
n8 AS (SELECT i AS node FROM generate_series(0, {_KS_NODES - 1}) AS t(i)),
hist AS (
  SELECT node, CAST(count(leaf) AS BIGINT) AS c FROM (
    SELECT p.node, c.leaf FROM n8 p
    LEFT JOIN cents c ON c.leaf >> {_KS_LVL} = p.node
  ) GROUP BY node
),
noisy AS (
  SELECT node, greatest(c + {noise}, 0.0) AS nc FROM hist
),
cdf AS (
  SELECT node, sum(nc) OVER (ORDER BY node) AS cum,
         sum(nc) OVER () AS n
  FROM noisy
),
targets AS (SELECT q FROM (VALUES {qsel}) t(q)),
hit AS (
  SELECT q, node, cum, n,
         row_number() OVER (PARTITION BY q ORDER BY node) AS rn
  FROM targets JOIN cdf
    ON cum >= n * q / 100.0
),
excdf AS (
  SELECT node, sum(c) OVER (ORDER BY node) AS cum,
         sum(c) OVER () AS n
  FROM hist
),
ex AS (
  SELECT q, CAST((min(node) + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1
                 AS BIGINT) AS exact_cents
  FROM targets JOIN excdf ON cum >= (n * q + 99) // 100
  GROUP BY q
)
SELECT h.q AS qpct,
       CAST((h.node + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1 AS BIGINT)
         AS dp_cents,
       e.exact_cents,
       round(abs(CAST((h.node + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1
                 AS DOUBLE) - e.exact_cents) / e.exact_cents, 4)
         AS rel_err
FROM hit h JOIN ex e ON e.q = h.q
WHERE h.rn = 1
"""


@register("agg_dp_quantile", oracle=_dpq_sql())
def agg_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private quantiles by the noisy-histogram
    mechanism (Dwork & Roth 2014 §3.4 composed with the dyadic
    domain): the price domain's 256 level-8 buckets get ONE exact
    count each, every count gets an independent seeded Laplace(1/eps)
    draw (parallel composition — disjoint buckets share the epsilon,
    the reason histogram DP scales to any quantile set for one noise
    cost), negatives clamp to 0, and p50/p90/p99 read off the noisy
    CDF. The DP boundary sits at the histogram: everything after the
    noise is post-processing, so releasing ALL THREE quantiles (or a
    hundred) costs the same privacy budget. Composes the round-10
    themes: the histogram is the level-8 slice of the quantile
    sketch's dyadic grid, the noise is agg_dp_counts' seeded
    inverse-CDF mechanism. Plan: one map-side-combined groupBy into
    256 cells, scalar noise on the aggregate, one 256-row window —
    private percentile telemetry costs nothing at 100 TB. The exact
    quantile at the same bucket granularity rides along as the
    verifier (rel_err is what the noise + bucketing cost). Emitted:
    (qpct, dp_cents, exact_cents, rel_err)."""
    from ..functions.hashing import hash60_spark_sql

    noise = _dpq_noise("concat('dpq:', CAST(node AS STRING))",
                       hash60_spark_sql)
    li = load(spark, sf_dir, "lineitem").select(
        F.expr(
            f"least({_DQ_CENTS} div {_DQ_LEAF_W}, {_DQ_LEAF_MAX})"
        ).alias("leaf")
    )
    nodes = spark.range(0, _KS_NODES).selectExpr("id AS node")
    hist = (
        nodes.join(
            F.broadcast(
                li.groupBy(
                    F.expr(f"leaf >> {_KS_LVL}").alias("node")
                ).agg(F.count("*").alias("c0"))
            ),
            "node",
            "left",
        )
        .selectExpr("node", "CAST(COALESCE(c0, 0) AS BIGINT) AS c")
    )
    noisy = hist.selectExpr(
        "node", f"greatest(c + {noise}, 0.0) AS nc"
    )
    cdf = noisy.selectExpr(
        "node",
        "sum(nc) OVER (ORDER BY node) AS cum",
        "sum(nc) OVER () AS n",
    )
    targets = spark.range(0, len(_DPQ_QS)).selectExpr(
        f"element_at(array({', '.join(str(q) for q in _DPQ_QS)}),"
        " CAST(id + 1 AS INT)) AS q"
    )
    hit = (
        targets.join(F.broadcast(cdf), F.expr("cum >= n * q / 100.0"))
        .selectExpr(
            "q",
            "node",
            "row_number() OVER (PARTITION BY q ORDER BY node) AS rn",
        )
        .filter("rn = 1")
    )
    excdf = hist.selectExpr(
        "node",
        "sum(c) OVER (ORDER BY node) AS cum",
        "sum(c) OVER () AS n",
    )
    ex = (
        targets.join(
            F.broadcast(excdf), F.expr("cum >= (n * q + 99) div 100")
        )
        .groupBy("q")
        .agg(
            F.expr(
                f"CAST((min(node) + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1"
                " AS BIGINT) AS exact_cents"
            )
        )
    )
    return (
        hit.join(ex, "q")
        .selectExpr(
            "q AS qpct",
            f"CAST((node + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1 AS BIGINT)"
            " AS dp_cents",
            "exact_cents",
            f"round(abs(CAST((node + 1) * {_DQ_LEAF_W * (1 << _KS_LVL)} - 1"
            " AS DOUBLE) - exact_cents) / exact_cents, 4) AS rel_err",
        )
    )


# ---------------------------------------------------------------------------
# streaming Bloom membership: word masks maintained as bounded stream state
# ---------------------------------------------------------------------------

_SBL_BATCHES = 3


def _stream_bloom_sql() -> str:
    return _bloom_sql()


@register("stream_sketch_bloom", oracle=_stream_bloom_sql())
def stream_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom membership — the third streaming sketch beside
    stream_sketch_ndv (KMV minima) and stream_sketch_quantile (dyadic
    grid): the orders stream arrives in 3 micro-batches and ONE
    streaming aggregation maintains bit_or per 32-bit word — the
    ENTIRE stream state is <= 4,096 word rows FOREVER, however many
    keys flow (exact streaming membership state grows with the key
    universe). bit_or is idempotent and associative, so micro-batch
    merge IS the batch build — duplicate custkeys across batches (or
    replayed batches) change nothing, which makes the filter safe
    under at-least-once delivery. The drained mask table then feeds
    the SAME probe/stat layers as sketch_bloom_rollup (present keys
    must all hit; disjoint synthetic keys measure FPR; the batch-built
    direct filter must match word-for-word) — the oracle is literally
    that key's SQL, proving the micro-batch path changes the
    execution, not the value."""
    from ..functions.hashing import hash60_spark_sql
    from ..streaming.ingest import run_available_now
    from ..sources.staging import ensure_staged
    from .streaming_q import _stage_batch, _staged_stream

    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderkey").alias("ok")
    )

    def _stage(stream_dir: str) -> None:
        for i in range(_SBL_BATCHES):
            _stage_batch(
                o.filter(F.col("ok") % _SBL_BATCHES == i).drop("ok"),
                stream_dir,
                f"batch{i + 1}.parquet",
                i + 1,
            )

    stream_dir = ensure_staged(
        spark, "stream_sketch_bloom", sf_dir, "orders", _stage
    )
    hx = hash60_spark_sql("concat(CAST(j AS STRING), ':', CAST(k AS STRING))")
    stream = _staged_stream(spark, stream_dir, "k bigint")
    masks = (
        stream.select(
            "k", F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j")
        )
        .selectExpr(f"({hx}) % {_BLOOM_M} AS p")
        .selectExpr(
            "p div 32 AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)) AS bit",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit) AS mask"))
    )
    merged = pin(
        run_available_now(masks, query_name="stream_sketch_bloom"),
        label="sbl_merged",
    )
    # post-drain batch layers: identical to sketch_bloom_rollup's
    mk = o.drop("ok").distinct()
    pos = pin(
        mk.select(
            "k", F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j")
        ).selectExpr("k", f"({hx}) % {_BLOOM_M} AS p"),
        label="sbl_pos",
    )
    mask_expr = "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))) AS mask"
    hit = (
        "min(CASE WHEN (shiftright(COALESCE(mask, 0), CAST(p % 32 AS INT)))"
        " & 1 = 1 THEN 1 ELSE 0 END) AS hit"
    )
    direct = (
        pos.select("k", "p")
        .distinct()
        .groupBy(F.expr("p div 32").alias("w"))
        .agg(F.expr(mask_expr))
    )
    ndiff = (
        merged.subtract(direct)
        .unionByName(direct.subtract(merged))
        .agg(F.expr("count(*) AS n_diff"))
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
            .agg(F.expr(hit))
        )
        return ph.agg(
            F.expr(f"count(*) AS {n_col}"),
            F.expr(f"CAST(sum(hit) AS BIGINT) AS {hits_col}"),
        )

    pstats = probe_stats(
        pos.filter(F.col("k") % _BLOOM_PROBE_MOD == 0)
        .select("k", "p")
        .distinct(),
        "n_present",
        "n_present_hits",
    )
    ab = spark.range(1, _BLOOM_ABSENT_N + 1).select(
        F.concat(F.lit("a:"), F.col("id").cast("string")).alias("k")
    )
    apos = ab.select(
        "k", F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j")
    ).selectExpr("k", f"({hx}) % {_BLOOM_M} AS p")
    astats = probe_stats(apos, "n_absent", "n_absent_hits")
    return (
        stats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(astats))
        .crossJoin(F.broadcast(ndiff))
        .selectExpr(
            "n_words",
            "bits_set",
            "n_present",
            "n_present_hits",
            "n_absent",
            "n_absent_hits",
            "round(CAST(n_absent_hits AS DOUBLE) / n_absent, 6)"
            " AS fpr_measured",
            f"round(power(CAST(bits_set AS DOUBLE) / {_BLOOM_M},"
            f" {_BLOOM_K}), 6) AS fpr_expected",
            "(n_diff = 0) AS merged_equals_direct",
        )
    )


# ---------------------------------------------------------------------------
# theta bottom-k rollup: the LAST sketch family gets its mergeable form
# ---------------------------------------------------------------------------


def _theta_rollup_sql() -> str:
    h = hash60_duckdb_sql("CAST(k AS VARCHAR)")
    est = (
        f"CASE WHEN ns < {_BK_K} THEN ns"
        f" ELSE CAST(round(({_BK_K} - 1) * ({_H} / hk)) AS BIGINT) END"
    )
    return f"""
WITH mk AS (
  SELECT DISTINCT date_trunc('month', o_orderdate) AS mon, o_custkey AS k
  FROM orders
),
hm AS (SELECT mon, {h} AS h FROM mk),
monthly AS (
  SELECT mon, h FROM (
    SELECT mon, h, row_number() OVER (PARTITION BY mon ORDER BY h) AS rn
    FROM hm
  ) WHERE rn <= {_BK_K}
),
merged AS (
  SELECT h FROM (SELECT DISTINCT h FROM monthly) ORDER BY h LIMIT {_BK_K}
),
direct AS (
  SELECT h FROM (SELECT DISTINCT h FROM hm) ORDER BY h LIMIT {_BK_K}
),
diff AS (
  SELECT count(*) AS n_diff FROM (
    SELECT h FROM merged EXCEPT SELECT h FROM direct
    UNION ALL
    (SELECT h FROM direct EXCEPT SELECT h FROM merged)
  )
),
stats AS (SELECT count(*) AS ns, CAST(max(h) AS DOUBLE) AS hk FROM merged),
ex AS (SELECT count(DISTINCT o_custkey)::BIGINT AS n_exact FROM orders),
mc AS (SELECT CAST(count(DISTINCT mon) AS BIGINT) AS n_months FROM mk),
scored AS (SELECT n_months, n_exact, {est} AS est, n_diff
           FROM stats, ex, mc, diff)
SELECT n_months, n_exact, est,
       round(abs(est - n_exact) / CAST(n_exact AS DOUBLE), 4) AS rel_err,
       (n_diff = 0) AS merged_equals_direct
FROM scored
"""


@register("sketch_theta_rollup", oracle=_theta_rollup_sql())
def sketch_theta_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable theta bottom-k rollup — the last sketch family gets
    its stored-artifact form (count-min: sketch_countmin_rollup;
    quantiles: sketch_quantile_rollup; membership: sketch_bloom_rollup;
    HLL: agg_hll_sketch_rollup; this completes the set): one bottom-128
    sample of distinct custkey hashes is stored PER MONTH, and any
    coarser period is answered by unioning the stored samples and
    re-cutting to the 128 smallest. The merge is EXACT, not
    approximate: any of the k smallest hashes over the whole period is
    among its own month's k smallest, so bottom-k(union of monthly
    bottom-ks) IS bottom-k(period) — emitted as merged_equals_direct
    and replayed by the oracle. The NDV estimate keeps
    sketch_theta_bottomk's adaptive form ((k-1)*H/h_k, exact below
    saturation). Scale shape: the per-month sample is a
    mon-partitioned window over distinct hashes; the merge and the
    direct verifier are TakeOrderedAndProject (distributed top-k, no
    single-partition window, no corpus sort); stats are 1-row folds."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    mk = o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        F.col("o_custkey").alias("k"),
    ).distinct()
    hm = pin(
        mk.selectExpr(
            "mon", hash60_spark_sql("CAST(k AS STRING)") + " AS h"
        ),
        label="theta_ru_hm",
    )
    monthly = (
        hm.withColumn(
            "rn", F.row_number().over(W.partitionBy("mon").orderBy("h"))
        )
        .filter(F.col("rn") <= _BK_K)
        .select("mon", "h")
    )
    merged = pin(
        monthly.select("h").distinct().orderBy("h").limit(_BK_K),
        label="theta_ru_merged",
    )
    direct = hm.select("h").distinct().orderBy("h").limit(_BK_K)
    ndiff = (
        merged.subtract(direct)
        .unionByName(direct.subtract(merged))
        .agg(F.expr("count(*) AS n_diff"))
    )
    stats = merged.agg(
        F.expr("count(*) AS ns"),
        F.expr("CAST(max(h) AS DOUBLE) AS hk"),
    )
    ex = o.agg(
        F.expr("CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact")
    )
    mc = mk.agg(
        F.expr("CAST(count(DISTINCT mon) AS BIGINT) AS n_months")
    )
    est = (
        f"CASE WHEN ns < {_BK_K} THEN ns"
        f" ELSE CAST(round(({_BK_K} - 1) * ({_H} / hk)) AS BIGINT) END"
    )
    return (
        stats.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(mc))
        .crossJoin(F.broadcast(ndiff))
        .selectExpr("n_months", "n_exact", f"{est} AS est", "n_diff")
        .selectExpr(
            "n_months",
            "n_exact",
            "est",
            "round(abs(est - n_exact) / CAST(n_exact AS DOUBLE), 4)"
            " AS rel_err",
            "(n_diff = 0) AS merged_equals_direct",
        )
    )
