"""Training-data sampling / splitting / packing / profiling operators.

The ops a large-scale training pipeline runs between "corpus cleaned"
and "tokens on GPUs", each deterministic and oracle-checked:

- hash-gated stratified sampling (per-stratum rates, no RNG state —
  `rand()` is irreproducible across retries/partitionings, a md5 gate on
  the row key is exactly reproducible anywhere, including in the DuckDB
  oracle);
- leakage-safe train/test split: the split key is derived from the
  GROUP (customer), never the row, so no group straddles splits —
  the grouped-holdout rule every eval pipeline needs;
- per-class downsampling cap (class rebalancing) via windowed rank over
  a hash order;
- token-budget sharding: documents packed into ~fixed-token shards by
  running sum — the sequence-packing shape, as a pure window query;
- column profiling (null ratio / NDV / numeric ranges) — the data-
  quality gate run before any of the above.

All are single-shuffle column-expression plans; nothing touches the
driver. Sampling gates use functions/hashing.hash60 (md5-derived,
bitwise-identical in Spark and DuckDB).
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
# stratified sampling
# ---------------------------------------------------------------------------

_H_ORD = hash60_duckdb_sql("CAST(o_orderkey AS VARCHAR)")

_STRATIFIED_SQL = f"""
SELECT o_orderpriority AS stratum, count(*) AS n_sampled,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders
WHERE {_H_ORD} % 100 <
      CASE WHEN o_orderpriority = '1-URGENT' THEN 20 ELSE 10 END
GROUP BY o_orderpriority
"""


@register("sample_stratified", oracle=_STRATIFIED_SQL)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 20 % of URGENT orders, 10 % of
    the rest, gated by hash60(key) % 100 — a pure map-side predicate
    (reaches the scan as a filter), reproducible across retries and
    repartitionings, unlike rand()-based TABLESAMPLE. Per-stratum counts
    + key ranges prove the per-stratum rates."""
    o = load(spark, sf_dir, "orders")
    gate = F.pmod(hash60(F.col("o_orderkey").cast("string")), F.lit(100))
    rate = F.when(F.col("o_orderpriority") == "1-URGENT", 20).otherwise(10)
    return (
        o.filter(gate < rate)
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# leakage-safe grouped train/test split
# ---------------------------------------------------------------------------

_H_CUST = hash60_duckdb_sql("CAST(c_custkey AS VARCHAR)")

_GROUP_SPLIT_SQL = f"""
WITH assign AS (
  SELECT c_custkey,
         CASE WHEN {_H_CUST} % 10 < 2 THEN 'test' ELSE 'train' END AS split
  FROM customer
)
SELECT a.split, count(DISTINCT a.c_custkey) AS n_customers,
       count(o.o_orderkey) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total_price
FROM assign a JOIN orders o ON o.o_custkey = a.c_custkey
GROUP BY a.split
"""


@register("split_train_test_group", oracle=_GROUP_SPLIT_SQL)
def split_train_test_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 80/20 holdout: the split is a hash of the CUSTOMER
    key, and orders inherit their customer's split — so all of a
    customer's orders land on one side (no entity leakage between train
    and eval, the failure mode of row-level rand splits). One shuffle
    join on the key; the assignment itself is map-side."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(
            F.pmod(hash60(F.col("c_custkey").cast("string")), F.lit(10)) < 2,
            "test",
        )
        .otherwise("train")
        .alias("split"),
    )
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("split")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# per-class downsampling cap (rebalancing)
# ---------------------------------------------------------------------------

_H_DOC = hash60_duckdb_sql("CAST(doc_id AS VARCHAR)")

_CLASS_CAP_SQL = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY {_H_DOC}, doc_id) AS rk
  FROM documents
)
SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM ranked WHERE rk <= 120 GROUP BY lang
"""


@register("sample_class_cap", oracle=_CLASS_CAP_SQL)
def sample_class_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing: keep at most 120 docs per language, chosen by
    hash order (an unbiased deterministic shuffle — ordering by raw
    doc_id would bias toward old documents). One window shuffle on the
    class key; over-represented classes are cut to the cap, small ones
    pass through whole."""
    d = load(spark, sf_dir, "documents").select("lang", "doc_id")
    w = W.partitionBy("lang").orderBy(
        hash60(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 120)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# token-budget sharding (sequence packing)
# ---------------------------------------------------------------------------

_PACK_SQL = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
), c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT CAST(floor((cum - n_tok) / 2000) AS BIGINT) AS shard,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
FROM c GROUP BY 1
"""


@register("pack_token_shards", oracle=_PACK_SQL)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding: documents in id order are packed into
    ~2000-token shards by running token count (shard = the budget bucket
    the doc STARTS in — every shard except the last holds >= 2000 tokens
    once its boundary doc lands). This is the sequence-packing shape of
    LLM pretraining loaders. The oracle states the spec as one global
    running sum; the plan takes it from `ordered_scan`.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return (
        ordered_scan(d, ["doc_id"], ["n_tok"], label="pack_token_shards")
        .select(
            ((F.col("cum_n_tok") - F.col("n_tok")) / 2000)
            .cast("bigint")
            .alias("shard"),
            "n_tok",
        )
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tokens"))
    )


# ---------------------------------------------------------------------------
# column profiling
# ---------------------------------------------------------------------------

_PROFILE_SQL = """
SELECT 'c_acctbal' AS col, count(*) AS n, count(c_acctbal) AS n_nonnull,
       count(DISTINCT c_acctbal) AS ndv,
       min(c_acctbal) AS min_v, max(c_acctbal) AS max_v
FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(c_nationkey),
       count(DISTINCT c_nationkey),
       CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE)
FROM customer
UNION ALL
SELECT 'c_name_len', count(*), count(c_name), count(DISTINCT length(c_name)),
       CAST(min(length(c_name)) AS DOUBLE), CAST(max(length(c_name)) AS DOUBLE)
FROM customer
"""


@register("profile_columns", oracle=_PROFILE_SQL)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the pre-training data-quality gate: row count,
    non-null count, NDV, numeric range per column (string columns
    profiled by length). Each profile is one aggregation over the same
    cached scan; at 100 TB the exact NDV swaps for approx_count_distinct
    (agg_approx_count_distinct is the checked variant)."""
    c = load(spark, sf_dir, "customer")

    # ONE multi-distinct aggregate profiles every column in a single
    # scan (Spark EXPANDs per distinct — agg_multi_distinct's checked
    # shape), then the per-column report rows explode from a struct
    # array. The per-column agg+union this replaces scanned the table
    # once PER column (max_rescan audit, round 7).
    cols = {
        "c_acctbal": F.col("c_acctbal"),
        "c_nationkey": F.col("c_nationkey"),
        "c_name_len": F.length("c_name"),
    }
    aggs = [F.count("*").alias("n")]
    for tag, col in cols.items():
        aggs += [
            F.count(col).alias(f"nn_{tag}"),
            F.countDistinct(col).alias(f"ndv_{tag}"),
            F.min(col).cast("double").alias(f"min_{tag}"),
            F.max(col).cast("double").alias(f"max_{tag}"),
        ]
    a = c.agg(*aggs)
    rows = [
        F.struct(
            F.lit(tag).alias("col"),
            F.col("n"),
            F.col(f"nn_{tag}").alias("n_nonnull"),
            F.col(f"ndv_{tag}").alias("ndv"),
            F.col(f"min_{tag}").alias("min_v"),
            F.col(f"max_{tag}").alias("max_v"),
        )
        for tag in cols
    ]
    return a.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# temperature-scaled domain mixture (multilingual/multi-domain rebalancing)
# ---------------------------------------------------------------------------

# domain = first digit of the source id: 'src1' + 'src10'..'src19' share
# digit '1', so one domain holds ~55 % of the corpus — real skew to flatten.
_TEMP_SQL = f"""
WITH d AS (SELECT doc_id, substr(source, 4, 1) AS domain FROM documents),
c AS (SELECT domain, count(*) AS n_docs FROM d GROUP BY domain),
r AS (
  SELECT domain, n_docs,
         CAST(floor(sqrt(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE)) * 1000000e0) AS BIGINT) AS thr,
         round(sqrt(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE)), 4) AS target_rate
  FROM c
)
SELECT r.domain, r.n_docs, r.target_rate, count(*) AS n_sampled
FROM d JOIN r USING (domain)
WHERE {_H_DOC} % 1000000 < r.thr
GROUP BY r.domain, r.n_docs, r.target_rate
"""


@register("sample_temperature", oracle=_TEMP_SQL)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling (T=2): each domain is kept
    with probability sqrt(its corpus share) — the flattening used to
    rebalance multi-domain/multilingual training mixes (dominant
    domains down-weighted, tail domains relatively up-weighted; T->inf
    would be uniform). Rates derive from EXACT per-domain counts (one
    tiny aggregate; the window-total runs over #domains rows, not the
    corpus), the gate is the usual hash60 predicate — reproducible
    across retries, no RNG. sqrt is IEEE-correctly-rounded in both
    engines, so thresholds are bitwise identical."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("source", 4, 1).alias("domain")
    )
    counts = docs.groupBy("domain").agg(F.count("*").alias("n_docs"))
    rates = counts.select(
        "domain",
        "n_docs",
        F.expr(
            "cast(floor(sqrt(n_docs / cast(sum(n_docs) over () as double))"
            " * 1000000e0) as bigint)"
        ).alias("thr"),
        F.expr(
            "round(sqrt(n_docs / cast(sum(n_docs) over () as double)), 4)"
        ).alias("target_rate"),
    )
    gate = F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(1000000))
    return (
        docs.join(rates, "domain")
        .filter(gate < F.col("thr"))
        .groupBy("domain", "n_docs", "target_rate")
        .agg(F.count("*").alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# config-driven domain mixture (explicit weights table)
# ---------------------------------------------------------------------------

_MIXTURE_WEIGHTS = (("1", 40), ("2", 25), ("3", 25))  # pct; others default 10

_MIXTURE_SQL = f"""
WITH d AS (SELECT doc_id, substr(source, 4, 1) AS domain FROM documents),
w(domain, pct) AS (VALUES {", ".join(f"('{d}', {p})" for d, p in _MIXTURE_WEIGHTS)})
SELECT d.domain, coalesce(w.pct, 10) AS pct, count(*) AS n_sampled,
       min(d.doc_id) AS min_id, max(d.doc_id) AS max_id
FROM d LEFT JOIN w ON d.domain = w.domain
WHERE {_H_DOC} % 100 < coalesce(w.pct, 10)
GROUP BY d.domain, coalesce(w.pct, 10)
"""


@register("sample_domain_mixture", oracle=_MIXTURE_SQL)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix sampling driven by an explicit weights CONFIG table
    (domain -> sampling pct, default 10) instead of a hard-coded CASE —
    the form a mixture spec actually arrives in (a config artifact
    reviewed per training run). The weights relation is tiny and fixed,
    broadcast by Catalyst; the gate stays a map-side hash predicate, so
    the whole sample is one scan + one broadcast join at any SF."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("source", 4, 1).alias("domain")
    )
    weights = spark.createDataFrame(
        list(_MIXTURE_WEIGHTS), "domain string, pct int"
    )
    gate = F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(100))
    return (
        docs.join(weights, "domain", "left")
        .select("doc_id", "domain", F.coalesce("pct", F.lit(10)).alias("pct"))
        .filter(gate < F.col("pct"))
        .groupBy("domain", "pct")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# curriculum schedule: score buckets + interleaved ordering
# ---------------------------------------------------------------------------

_BUCKET_EXPR = (
    "cast(least(9, floor(((n_chars - mn) * 10) / cast(mx - mn + 1 as double))) as int)"
)

_CURRICULUM_SQL = f"""
WITH d AS (SELECT doc_id, n_chars FROM documents WHERE doc_id < 200),
mm AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM d),
b AS (SELECT doc_id, {_BUCKET_EXPR} AS bucket FROM d, mm)
SELECT doc_id, bucket,
       row_number() OVER (PARTITION BY bucket ORDER BY {_H_DOC}, doc_id) AS pos,
       (row_number() OVER (PARTITION BY bucket ORDER BY {_H_DOC}, doc_id) - 1) * 10
         + bucket AS sched_ord
FROM b
"""


@register("sample_curriculum", oracle=_CURRICULUM_SQL)
def sample_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: equal-WIDTH difficulty buckets (via a 1-row
    min/max broadcast — a map-side bucket assignment, unlike global
    ntile which needs a total sort) + a hash-shuffled position within
    each bucket + the round-robin interleave ordinal `sched_ord` that a
    curriculum loader sorts by (bucket b, position p) -> p*10 + b: one
    doc from every difficulty level per cycle. The within-bucket window
    partitions on 10 keys — fine for a schedule slice; a full-corpus
    run shards the window key to (bucket, hash % n_shards) per loader
    worker, same plan shape."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars").filter(
        F.col("doc_id") < 200
    )
    mm = docs.agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    b = docs.crossJoin(F.broadcast(mm)).select(
        "doc_id", F.expr(_BUCKET_EXPR).alias("bucket")
    )
    w = W.partitionBy("bucket").orderBy(
        hash60(F.col("doc_id").cast("string")), "doc_id"
    )
    return b.select(
        "doc_id",
        "bucket",
        F.row_number().over(w).alias("pos"),
        ((F.row_number().over(w) - 1) * 10 + F.col("bucket")).alias("sched_ord"),
    )


# ---------------------------------------------------------------------------
# deterministic epoch shuffle
# ---------------------------------------------------------------------------

_H_EPOCH = hash60_duckdb_sql("'ep42:' || CAST(doc_id AS VARCHAR)")

_EPOCH_SHUFFLE_SQL = f"""
WITH h AS (
  SELECT doc_id, {_H_EPOCH} AS hk FROM documents
)
SELECT doc_id, row_number() OVER (ORDER BY hk, doc_id) AS shuffle_pos
FROM h
"""


@register("shuffle_deterministic", oracle=_EPOCH_SHUFFLE_SQL)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle — the per-epoch corpus
    reshuffle of a training loader. Order = hash60('ep<seed>:' || id):
    reproducible across retries and partitionings (no rand() state), a
    new permutation per epoch seed. The oracle states the spec as one
    global row_number; the plan takes it from `ordered_scan`.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "hk", hash60(F.concat(F.lit("ep42:"), F.col("doc_id").cast("string")))
        )
    )
    return ordered_scan(d, ["hk", "doc_id"], label="epoch_shuffle").select(
        "doc_id", F.col("pos").alias("shuffle_pos")
    )


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_H_W = hash60_duckdb_sql("CAST(doc_id AS VARCHAR) || '|wsamp'")

_WEIGHTED_SQL = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(-ln(({_H_W} + 1) / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE), 12) AS k
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rn
  FROM keyed
)
SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 5
"""


@register("sample_weighted", oracle=_WEIGHTED_SQL)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=5 docs per source,
    weight = n_chars (quality/length proxy): the Efraimidis–Spirakis
    exponential-sort keys k_i = -ln(u_i)/w_i with the smallest k kept —
    the distribution-exact way to take a weighted subset in one
    distributed pass (arXiv cs/0502073). u_i is the md5-gate uniform
    ((hash60(doc_id)+1)/2^60), so the sample is rerun- and
    partitioning-stable with NO RNG state — rand() would give a
    different corpus on every retry. Keys round to 12 dp (values are
    O(1e-4..1); both engines' ln agree far below 1e-12) with doc_id
    tie-break, so selection is bitwise deterministic cross-engine. One
    partitioned window per source; per-group state is top-5."""
    docs = load(spark, sf_dir, "documents")
    u = (
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit("|wsamp"))) + 1
    ) / F.lit(float(1 << 60))
    keyed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars").cast("double"), 12).alias("k"),
    )
    w = W.partitionBy("source").orderBy("k", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# key-skew profiling (shuffle planning)
# ---------------------------------------------------------------------------

_SKEW_SQL = """
WITH e AS (
  SELECT user_id AS k, count(*)::BIGINT AS c FROM events GROUP BY user_id
),
l AS (
  SELECT l_orderkey AS k, count(*)::BIGINT AS c FROM lineitem GROUP BY l_orderkey
)
SELECT 'events.user_id' AS keycol, count(*) AS n_keys,
       max(c) AS max_cnt, round(avg(c), 4) AS avg_cnt,
       round(max(c) / avg(c), 4) AS skew_ratio,
       round(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 4) AS p99_over_p50
FROM e
UNION ALL
SELECT 'lineitem.l_orderkey', count(*), max(c), round(avg(c), 4),
       round(max(c) / avg(c), 4),
       round(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 4)
FROM l
"""


@register("profile_skew", oracle=_SKEW_SQL)
def profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile — the report you run BEFORE deciding
    between a plain join, AQE skew split, and manual salting
    (join_salted): per candidate shuffle key, the hot-key multiplier
    (max/avg group size) and the p99/p50 spread of group sizes. Each
    profile is one map-side-combined count plus an aggregate over the
    (small) per-key count table; nothing touches the driver."""

    def one(name: str, df: DataFrame, key: str) -> DataFrame:
        c = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
        return c.agg(
            F.lit(name).alias("keycol"),
            F.count("*").alias("n_keys"),
            F.max("c").alias("max_cnt"),
            F.round(F.avg("c"), 4).alias("avg_cnt"),
            F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
            F.round(
                F.expr("percentile(c, 0.99)") / F.expr("percentile(c, 0.5)"), 4
            ).alias("p99_over_p50"),
        )

    ev = one("events.user_id", load(spark, sf_dir, "events"), "user_id")
    li = one(
        "lineitem.l_orderkey", load(spark, sf_dir, "lineitem"), "l_orderkey"
    )
    return ev.unionByName(li)


# ---------------------------------------------------------------------------
# fixed-size deterministic global sample
# ---------------------------------------------------------------------------

_H_FIX = hash60_duckdb_sql("'fix:' || CAST(doc_id AS VARCHAR)")

_FIXED_N_SQL = f"""
SELECT doc_id, lang, source FROM documents
ORDER BY {_H_FIX}, doc_id LIMIT 200
"""


@register("sample_fixed_n", oracle=_FIXED_N_SQL)
def sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-n uniform sample (n=200): take the n smallest values of
    a salted key hash — a deterministic reservoir. Rate-gated sampling
    (sample_stratified) cannot hit an exact size; ordering by hash is
    uniform-without-replacement and rerun-stable with no RNG state.
    Spark executes ORDER BY hash LIMIT n as TakeOrderedAndProject:
    every partition keeps an n-row heap and the driver merges heaps —
    no global sort, no full shuffle, the same plan at any corpus size
    (n rows per partition is the only state). doc_id tie-break pins
    the frontier."""
    d = load(spark, sf_dir, "documents")
    hk = hash60(F.concat(F.lit("fix:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", "source", hk.alias("_hk"))
        .orderBy("_hk", "doc_id")
        .limit(200)
        .drop("_hk")
    )


# ---------------------------------------------------------------------------
# Gini concentration coefficient (global-rank decomposition)
# ---------------------------------------------------------------------------

_GINI_SQL = """
WITH v AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), r AS (
  SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rk,
         count(*) OVER () AS n, sum(c) OVER () AS s
  FROM v
)
SELECT CAST(max(n) AS BIGINT) AS n_orders,
       round(max(s) / 100.0, 2) AS total_price,
       round(sum((2 * rk - n - 1) * c) / (CAST(max(n) AS DOUBLE) * max(s)), 6)
         AS gini
FROM r
"""


@register("agg_gini_concentration", oracle=_GINI_SQL)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration — the 80/20 inequality
    metric (0 = every order equal, ->1 = one order is all the
    revenue), via the sorted-rank identity
    G = sum((2*rank - n - 1) * x_rank) / (n * sum(x)). The oracle
    states it as a global row_number; the plan takes the rank, n and
    sum(x) from `ordered_scan`. Everything accumulates in exact
    integers (cents x ranks; at >10^9 rows the weighted sum outgrows
    int64 — promote to DECIMAL(38,0), same plan) and the one division
    happens at the end, so the statistic is bitwise reproducible."""
    d = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    n, s = F.max("n_rows"), F.max("total_c")
    w = (2 * F.col("pos") - F.col("n_rows") - 1) * F.col("c")
    return ordered_scan(d, ["c", "o_orderkey"], ["c"], label="gini").agg(
        n.cast("bigint").alias("n_orders"),
        F.round(s / 100.0, 2).alias("total_price"),
        F.round(F.sum(w) / (n.cast("double") * s), 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# preference-pair construction (RLHF/DPO data shape)
# ---------------------------------------------------------------------------

_PREF_SQL = """
WITH scored AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS r_best,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id) AS r_worst
  FROM documents
)
SELECT b.source,
       b.doc_id AS chosen_doc, b.n_chars AS chosen_score,
       w.doc_id AS rejected_doc, w.n_chars AS rejected_score,
       b.n_chars - w.n_chars AS margin
FROM (SELECT * FROM scored WHERE r_best = 1) b
JOIN (SELECT * FROM scored WHERE r_worst = 1) w USING (source)
WHERE b.doc_id <> w.doc_id
"""


@register("sample_preference_pairs", oracle=_PREF_SQL)
def sample_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-PAIR construction — the (chosen, rejected) data shape
    of DPO/RLHF reward training: within each prompt group (source
    stands in for the prompt), pair the highest-scoring response with
    the lowest-scoring one (n_chars as the quality proxy; swap in
    ml_logreg_apply's scorer unchanged) and carry the score margin for
    loss weighting. Deterministic argmax AND argmin per group via two
    rankings over ONE group partitioning (one shuffle serves both
    windows); degenerate single-doc groups drop via the
    chosen <> rejected guard. Contrastive NEGATIVE sampling (random
    mismatches) is the sibling key sample_negative_pairs; this one is
    the supervised-preference form."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w_best = W.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    w_worst = W.partitionBy("source").orderBy(
        F.col("n_chars").asc(), "doc_id"
    )
    scored = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w_best).alias("r_best"),
        F.row_number().over(w_worst).alias("r_worst"),
    )
    b = scored.filter(F.col("r_best") == 1).select(
        "source",
        F.col("doc_id").alias("chosen_doc"),
        F.col("n_chars").alias("chosen_score"),
    )
    w = scored.filter(F.col("r_worst") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc"),
        F.col("n_chars").alias("rejected_score"),
    )
    return (
        b.join(w, "source")
        .filter(F.col("chosen_doc") != F.col("rejected_doc"))
        .select(
            "source",
            "chosen_doc",
            "chosen_score",
            "rejected_doc",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# epoch-mixture materialization (domain reweighting to a token budget)
# ---------------------------------------------------------------------------

_MIX_BUDGET_X = 2  # total emitted budget = 2x corpus tokens, split evenly
_H_MIX = hash60_duckdb_sql("CAST(doc_id AS VARCHAR) || '|mixep'")

_MIX_EPOCHS_SQL = f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
), dom AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS dom_tokens
  FROM t GROUP BY source
), tot AS (
  SELECT CAST(sum(dom_tokens) AS BIGINT) AS corpus_tokens,
         count(*) AS n_domains
  FROM dom
), f AS (
  SELECT d.source, d.n_docs, d.dom_tokens,
         ({_MIX_BUDGET_X} * tot.corpus_tokens / CAST(tot.n_domains AS DOUBLE))
           / d.dom_tokens AS factor
  FROM dom d CROSS JOIN tot
), emitted AS (
  SELECT t.source, t.doc_id, t.n_tok,
         CAST(floor(f.factor) AS BIGINT)
           + CASE WHEN ({_H_MIX} % 1000000) / 1000000.0
                       < f.factor - floor(f.factor)
                  THEN 1 ELSE 0 END AS n_rep
  FROM t JOIN f ON t.source = f.source
)
SELECT e.source, any_value(f.n_docs) AS n_docs,
       any_value(f.dom_tokens) AS dom_tokens,
       round(any_value(f.factor), 4) AS factor,
       CAST(sum(e.n_rep) AS BIGINT) AS emitted_docs,
       CAST(sum(e.n_rep * e.n_tok) AS BIGINT) AS emitted_tokens
FROM emitted e JOIN f ON e.source = f.source
GROUP BY e.source
"""


@register("sample_mixture_epochs", oracle=_MIX_EPOCHS_SQL)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-mixture materialization — the data-recipe step that turns
    'each domain gets an equal share of a 2x-corpus token budget' into
    per-document repeat counts (the multi-epoch upsampling of
    under-represented domains in LLM pretraining mixes): repeat factor
    = target tokens / domain tokens; every doc repeats floor(f) times
    plus one more behind a deterministic md5 gate with probability
    frac(f) — so the EXPECTED emitted tokens hit the target exactly
    while staying rerun-stable (no RNG state, same gate discipline as
    sample_weighted). Domain stats are one aggregation; the factor
    table is #domains rows and broadcasts back onto the doc stream;
    per-domain emitted doc/token totals verify the realized mix. At
    100 TB the materialization is the same broadcast join — the
    repeat column feeds the loader (or explode(sequence(1, n_rep))
    when physical duplication is wanted)."""
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    # pinned: the totals and the factor table both read the #domains-row
    # aggregate — unpinned, each re-scanned the corpus (max_rescan, r7)
    dom = pin(
        docs.groupBy("source").agg(
            F.count("*").alias("n_docs"), F.sum("n_tok").alias("dom_tokens")
        ),
        label="mixep_dom",
    )
    tot = dom.agg(
        F.sum("dom_tokens").alias("corpus_tokens"),
        F.count("*").alias("n_domains"),
    )
    f = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "dom_tokens",
        (
            (_MIX_BUDGET_X * F.col("corpus_tokens") / F.col("n_domains").cast("double"))
            / F.col("dom_tokens")
        ).alias("factor"),
    )
    gate = (
        F.pmod(
            hash60(F.concat(F.col("doc_id").cast("string"), F.lit("|mixep"))),
            F.lit(1000000),
        )
        / 1000000.0
    )
    emitted = docs.join(F.broadcast(f), "source").select(
        "source",
        "n_tok",
        "n_docs",
        "dom_tokens",
        "factor",
        (
            F.floor("factor").cast("bigint")
            + F.when(gate < F.col("factor") - F.floor("factor"), 1).otherwise(0)
        ).alias("n_rep"),
    )
    return emitted.groupBy("source").agg(
        F.first("n_docs").alias("n_docs"),
        F.first("dom_tokens").alias("dom_tokens"),
        F.round(F.first("factor"), 4).alias("factor"),
        F.sum("n_rep").alias("emitted_docs"),
        F.sum(F.col("n_rep") * F.col("n_tok")).alias("emitted_tokens"),
    )


# ---------------------------------------------------------------------------
# Neyman-optimal stratified allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000

# per-stratum sigma from exact cents moments, identical tree both engines
_NEY_SIG = (
    "sqrt((qh - sh / CAST(nh AS DOUBLE) * sh) / (nh - 1))"
)

_NEYMAN_SQL = f"""
WITH s AS (
  SELECT o_orderpriority AS stratum,
         CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sh,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                  * CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS qh
  FROM orders GROUP BY o_orderpriority
), w AS (
  SELECT stratum, nh,
         CAST(round(nh * {_NEY_SIG}) AS BIGINT) AS wh
  FROM s
), tot AS (
  SELECT CAST(sum(wh) AS BIGINT) AS wt FROM w
)
SELECT w.stratum, w.nh,
       round(w.wh / CAST(w.nh AS DOUBLE) / 100.0, 4) AS sigma_dollars,
       CAST(round({_NEYMAN_BUDGET} * w.wh / CAST(tot.wt AS DOUBLE)) AS BIGINT)
         AS alloc
FROM w CROSS JOIN tot
"""


@register("sample_neyman_allocation", oracle=_NEYMAN_SQL)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation (Neyman 1934): for a fixed
    sample budget, allocate n_h proportional to N_h * sigma_h — the
    variance-minimizing design that beats proportional allocation
    whenever strata differ in spread (the survey-sampling result every
    data-audit sampler should use instead of uniform rates;
    sample_stratified is the EXECUTION half this plans for). Per-
    stratum sigma comes from exact integer cents moments (count, sum,
    sum of squares — one conditional-aggregation pass); the N_h*sigma_h
    weights are fixed-pointed to integers BEFORE the cross-stratum
    total so the normalization is order-free; the 1-row total broadcasts
    back. Same exact-moments discipline as ab_test_welch, applied to
    sampling design."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    s = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count("*").alias("nh"),
        F.sum(cents).alias("sh"),
        F.sum(cents * cents).alias("qh"),
    )
    w = s.selectExpr(
        "stratum",
        "CAST(nh AS BIGINT) AS nh",
        f"CAST(round(nh * {_NEY_SIG}) AS BIGINT) AS wh",
    )
    tot = w.agg(F.sum("wh").alias("wt"))
    return w.crossJoin(F.broadcast(tot)).selectExpr(
        "stratum",
        "nh",
        "round(wh / CAST(nh AS DOUBLE) / 100.0, 4) AS sigma_dollars",
        f"CAST(round({_NEYMAN_BUDGET} * wh / CAST(wt AS DOUBLE)) AS BIGINT)"
        " AS alloc",
    )


# ---------------------------------------------------------------------------
# DSIR: importance resampling toward a target domain
# ---------------------------------------------------------------------------

_DSIR_B = 64        # hashed-ngram feature buckets
_DSIR_N = 100       # resample size
_DSIR_TARGET = "src0"  # target-domain proxy corpus

_H_DSIR = hash60_duckdb_sql("CAST(doc_id AS VARCHAR) || '|dsir'")

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, source,
         {hash60_duckdb_sql("g")} % {_DSIR_B} AS b
  FROM (SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i + 1])) AS g
        FROM tok)
),
t AS (SELECT b, count(*)::DOUBLE AS c FROM grams
      WHERE source = '{_DSIR_TARGET}' GROUP BY b),
q AS (SELECT b, count(*)::DOUBLE AS c FROM grams
      WHERE source <> '{_DSIR_TARGET}' GROUP BY b),
tt AS (SELECT count(*)::DOUBLE AS n FROM grams WHERE source = '{_DSIR_TARGET}'),
qq AS (SELECT count(*)::DOUBLE AS n FROM grams WHERE source <> '{_DSIR_TARGET}'),
lam AS (
  SELECT COALESCE(t.b, q.b) AS b,
         ln((COALESCE(t.c, 0) + 1) / (tt.n + {_DSIR_B}))
         - ln((COALESCE(q.c, 0) + 1) / (qq.n + {_DSIR_B})) AS lam
  FROM t FULL OUTER JOIN q ON t.b = q.b CROSS JOIN tt CROSS JOIN qq
),
lw AS (
  SELECT g.doc_id, round(sum(l.lam), 4) AS logw
  FROM grams g JOIN lam l USING (b)
  WHERE g.source <> '{_DSIR_TARGET}'
  GROUP BY g.doc_id
),
keyed AS (
  SELECT d.doc_id, d.source, lw.logw,
         round(lw.logw
               - ln(-ln(({_H_DSIR} + 1) / 1152921504606846976.0)), 6) AS gk
  FROM lw JOIN documents d USING (doc_id)
)
SELECT doc_id, source, logw, gk FROM keyed
ORDER BY gk DESC, doc_id LIMIT {_DSIR_N}
"""


@register("sample_dsir", oracle=_DSIR_SQL)
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    arXiv:2302.03169): pick raw-pool documents whose hashed-ngram
    distribution looks like a target domain. The target proxy is the
    'src0' source; features are bigrams hashed into B=64 buckets
    (hash60 % B, bitwise cross-engine); both bag-of-buckets models get
    add-1 smoothing; a raw doc's importance weight is
    log w = sum over its bigram OCCURRENCES of (ln p_target[b] -
    ln q_raw[b]). Resampling without replacement uses the Gumbel
    top-k trick (log w + Gumbel noise, take top N) with the md5-gate
    uniform instead of RNG, so the sample is rerun-stable.

    Scale shape: ONE corpus scan tokenizes, hashes and collapses to a
    pinned per-doc bucket-count table (<= B rows per doc — the md5 per
    bigram runs exactly once); model counts, totals and the B-row
    lambda table all derive from that pinned frame, and per-doc
    weights are sum(count * lambda) over each doc's <= B buckets after
    a broadcast join (map-side-combinable groupBy(doc_id)); the final
    top-N is TakeOrderedAndProject (per-partition heaps, N*P rows to
    one merge — never a global sort). Weight sums round to 4 dp before
    ranking (Gumbel key 6 dp, doc_id tie-break), so selection is
    deterministic cross-engine at any partitioning."""
    # spread=True: the md5-per-bigram hash below is the key's heaviest
    # map and the single-row-group scan would run it single-task (§2.5)
    docs = load(spark, sf_dir, "documents", spread=True)
    tok = docs.select("doc_id", "source", F.split("text", " ").alias("w"))
    grams = tok.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w) - 1),"
                " (x, i) -> concat(x, ' ', element_at(w, i + 2)))"
            )
        ).alias("g"),
    ).select(
        "doc_id", "source", F.pmod(hash60(F.col("g")), F.lit(_DSIR_B)).alias("b")
    )
    # ONE corpus scan: all four downstream derivations (t/q counts,
    # totals, scoring) read this pinned doc x bucket table instead of
    # re-tokenizing + re-hashing the corpus each (4 scans before).
    dbc = pin(
        grams.groupBy("doc_id", "source", "b").agg(F.count("*").alias("nb")),
        label="dsir_buckets",
    )
    is_t = F.col("source") == _DSIR_TARGET
    t = dbc.filter(is_t).groupBy("b").agg(
        F.sum("nb").cast("double").alias("tc")
    )
    q = dbc.filter(~is_t).groupBy("b").agg(
        F.sum("nb").cast("double").alias("qc")
    )
    tots = dbc.agg(
        F.sum(F.when(is_t, F.col("nb")).otherwise(0)).cast("double").alias("tn"),
        F.sum(F.when(~is_t, F.col("nb")).otherwise(0)).cast("double").alias("qn"),
    )
    lam = (
        t.join(q, "b", "full_outer")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce("tc", F.lit(0.0)) + 1)
                    / (F.col("tn") + _DSIR_B)
                )
                - F.log(
                    (F.coalesce("qc", F.lit(0.0)) + 1)
                    / (F.col("qn") + _DSIR_B)
                )
            ).alias("lam"),
        )
    )
    lw = (
        dbc.filter(~is_t)
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("nb") * F.col("lam")), 4).alias("logw"))
    )
    u = (
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit("|dsir"))) + 1
    ) / F.lit(float(1 << 60))
    keyed = lw.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        "logw",
        F.round(F.col("logw") - F.log(-F.log(u)), 6).alias("gk"),
    )
    return keyed.orderBy(F.desc("gk"), "doc_id").limit(_DSIR_N)


# ---------------------------------------------------------------------------
# DoReMi: excess-loss domain reweighting
# ---------------------------------------------------------------------------

_DRM_SQL = """
WITH terms AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
st AS (
  SELECT source, term, count(*)::BIGINT AS n_st
  FROM terms GROUP BY source, term
),
ns AS (SELECT source, sum(n_st)::BIGINT AS n_s FROM st GROUP BY source),
ct AS (SELECT term, sum(n_st)::BIGINT AS n_t FROM st GROUP BY term),
n AS (SELECT sum(n_st)::BIGINT AS n_tot FROM st),
contrib AS (
  SELECT st.source,
         st.n_st * cast(round(-ln(CAST(st.n_st AS DOUBLE)
                                  / CAST(ns.n_s AS DOUBLE)), 4)
                        AS decimal(18,4)) AS dom_c,
         st.n_st * cast(round(-ln(CAST(ct.n_t AS DOUBLE)
                                  / CAST(n.n_tot AS DOUBLE)), 4)
                        AS decimal(18,4)) AS ref_c,
         ns.n_s
  FROM st JOIN ns USING (source) JOIN ct USING (term) CROSS JOIN n
),
loss AS (
  SELECT source,
         round(CAST(sum(ref_c) AS DOUBLE) / CAST(min(n_s) AS DOUBLE), 4) + 0
           AS ref_loss,
         round(CAST(sum(dom_c) AS DOUBLE) / CAST(min(n_s) AS DOUBLE), 4) + 0
           AS dom_loss,
         min(n_s) AS n_tok
  FROM contrib GROUP BY source
),
e AS (
  SELECT source, n_tok, ref_loss, dom_loss,
         round(ref_loss - dom_loss, 4) + 0 AS excess,
         cast(round(exp(round(ref_loss - dom_loss, 4)), 6)
              AS decimal(18,6)) AS ew
  FROM loss
),
tot AS (SELECT sum(ew) AS wt FROM e)
SELECT e.source, e.n_tok, e.ref_loss, e.dom_loss, e.excess,
       round(CAST(e.ew AS DOUBLE) / CAST(tot.wt AS DOUBLE), 4) + 0 AS weight
FROM e CROSS JOIN tot
"""


@register("sample_doremi_weights", oracle=_DRM_SQL)
def sample_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (Xie et al., arXiv:2305.10429),
    closed-form: upweight the domains a reference model fits WORST
    relative to a domain-fit model — the excess-loss signal DoReMi's
    proxy training estimates, computed here exactly with unigram LMs
    (MLE, no smoothing needed: each model only ever scores tokens it
    was trained on, so no zero probabilities). Per domain (source):
    ref_loss = cross-entropy of the corpus-trained LM on the domain's
    tokens; dom_loss = the domain's own entropy; excess = ref - dom
    (>= 0 by Gibbs' inequality); weight proportional to exp(excess/tau)
    normalized across domains.

    Scale shape: ONE corpus scan collapses to the (source, term) count
    table (map-side combine; vocabulary x domains rows, Heaps-bounded);
    every join and aggregate after that is vocabulary-sized, and the
    corpus total is a 1-row broadcast fold. Losses use the rounded-
    DECIMAL summation contract (order-independent, bitwise stable);
    the exp-weights normalize through an exact DECIMAL(18,6) total, so
    the final weights are deterministic cross-engine."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    # ONE corpus scan: everything after this pin is vocabulary-sized.
    # Without it Catalyst plans 8 separate corpus scans (ns/ct/n/contrib
    # each re-derive st and subtree differences defeat exchange reuse).
    st = pin(
        terms.groupBy("source", "term").agg(F.count("*").alias("n_st")),
        label="doremi_st",
    )
    ns = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    ct = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    n = st.agg(F.sum("n_st").alias("n_tot"))
    contrib = (
        st.join(ns, "source")
        .join(ct, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "n_s",
            (
                F.col("n_st")
                * F.round(
                    -F.log(
                        F.col("n_st").cast("double")
                        / F.col("n_s").cast("double")
                    ),
                    4,
                ).cast("decimal(18,4)")
            ).alias("dom_c"),
            (
                F.col("n_st")
                * F.round(
                    -F.log(
                        F.col("n_t").cast("double")
                        / F.col("n_tot").cast("double")
                    ),
                    4,
                ).cast("decimal(18,4)")
            ).alias("ref_c"),
        )
    )
    loss = contrib.groupBy("source").agg(
        (
            F.round(
                F.sum("ref_c").cast("double") / F.min("n_s").cast("double"), 4
            )
            + F.lit(0)
        ).alias("ref_loss"),
        (
            F.round(
                F.sum("dom_c").cast("double") / F.min("n_s").cast("double"), 4
            )
            + F.lit(0)
        ).alias("dom_loss"),
        F.min("n_s").alias("n_tok"),
    )
    e = loss.select(
        "source",
        "n_tok",
        "ref_loss",
        "dom_loss",
        (F.round(F.col("ref_loss") - F.col("dom_loss"), 4) + F.lit(0)).alias(
            "excess"
        ),
        F.round(
            F.exp(F.round(F.col("ref_loss") - F.col("dom_loss"), 4)), 6
        )
        .cast("decimal(18,6)")
        .alias("ew"),
    )
    tot = e.agg(F.sum("ew").alias("wt"))
    return e.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        "ref_loss",
        "dom_loss",
        "excess",
        (
            F.round(
                F.col("ew").cast("double") / F.col("wt").cast("double"), 4
            )
            + F.lit(0)
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# RHO-loss: reducible-holdout-loss data selection
# ---------------------------------------------------------------------------

_RHO_N = 120        # selection size
_RHO_HOLD_MOD = 7   # doc_id % 7 == 0 plays the holdout split

_RHO_SQL = f"""
WITH tc AS (
  SELECT doc_id, source, doc_id % {_RHO_HOLD_MOD} = 0 AS is_hold,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
cnts AS (
  SELECT doc_id, source, is_hold, term, count(*)::DOUBLE AS cnt
  FROM tc GROUP BY ALL
),
v AS (SELECT count(DISTINCT term)::DOUBLE AS v FROM cnts),
h AS (SELECT term, sum(cnt) AS ch FROM cnts WHERE is_hold GROUP BY term),
p AS (SELECT term, sum(cnt) AS cp FROM cnts WHERE NOT is_hold GROUP BY term),
n AS (SELECT sum(CASE WHEN is_hold THEN cnt ELSE 0 END) AS nh,
             sum(CASE WHEN NOT is_hold THEN cnt ELSE 0 END) AS np
      FROM cnts),
lam AS (
  SELECT COALESCE(h.term, p.term) AS term,
         ln((COALESCE(h.ch, 0) + 1) / (n.nh + v.v)) AS lnph,
         ln((COALESCE(p.cp, 0) + 1) / (n.np + v.v)) AS lnpp
  FROM h FULL OUTER JOIN p ON h.term = p.term CROSS JOIN n CROSS JOIN v
),
scored AS (
  SELECT c.doc_id, c.source,
         CAST(sum(c.cnt) AS BIGINT) AS n_tok,
         round(-sum(c.cnt * l.lnpp), 4) AS loss_pool,
         round(-sum(c.cnt * l.lnph), 4) AS loss_hold,
         round(sum(c.cnt * (l.lnph - l.lnpp)), 4) AS excess
  FROM cnts c JOIN lam l USING (term)
  WHERE NOT c.is_hold
  GROUP BY c.doc_id, c.source
)
SELECT * FROM scored ORDER BY excess DESC, doc_id LIMIT {_RHO_N}
"""


@register("sample_rho_loss", oracle=_RHO_SQL)
def sample_rho_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss data selection (Mindermann et al., arXiv:2206.07137):
    rank each candidate training document by its REDUCIBLE loss — the
    loss under the current training model minus the loss under a model
    fit on a held-out split — and keep the top N. High reducible loss
    means learnable-but-not-yet-learned; low means noise (high on both
    models) or already learned (low on both), and both are wasted
    compute at training time. The two models here are add-1-smoothed
    unigram LMs over a shared vocabulary — the static, oracle-checkable
    analog of the paper's neural losses: loss_pool is fit on the
    candidate pool itself, loss_hold on the doc_id %% 7 == 0 holdout.

    Scale shape: ONE corpus scan tokenizes and collapses to a pinned
    (doc, term, count) table; both models, the vocabulary size and the
    token totals are vocabulary-sized aggregates of that pinned frame
    (map-side combinable), joined full-outer into one broadcast
    per-term (lnph, lnpp) table; per-doc losses are then a broadcast
    join + one combiner-reduced groupBy(doc_id). The final top-N is
    TakeOrderedAndProject (per-partition heaps), never a global sort.
    Excess rounds to 4 dp before ranking (doc_id tie-break), so the
    selected set is deterministic cross-engine at any partitioning."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % _RHO_HOLD_MOD == 0).alias("is_hold"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    cnts = pin(
        terms.groupBy("doc_id", "source", "is_hold", "term").agg(
            F.count("*").cast("double").alias("cnt")
        ),
        label="rho_counts",
    )
    h = cnts.filter("is_hold").groupBy("term").agg(F.sum("cnt").alias("ch"))
    p = cnts.filter("NOT is_hold").groupBy("term").agg(
        F.sum("cnt").alias("cp")
    )
    n = cnts.agg(
        F.sum(F.when(F.col("is_hold"), F.col("cnt")).otherwise(0.0)).alias("nh"),
        F.sum(F.when(~F.col("is_hold"), F.col("cnt")).otherwise(0.0)).alias("np"),
        F.count_distinct("term").cast("double").alias("v"),
    )
    lam = (
        h.join(p, "term", "full_outer")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.log((F.coalesce("ch", F.lit(0.0)) + 1) / (F.col("nh") + F.col("v")))
            .alias("lnph"),
            F.log((F.coalesce("cp", F.lit(0.0)) + 1) / (F.col("np") + F.col("v")))
            .alias("lnpp"),
        )
    )
    scored = (
        cnts.filter("NOT is_hold")
        .join(F.broadcast(lam), "term")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tok"),
            F.round(-F.sum(F.col("cnt") * F.col("lnpp")), 4).alias("loss_pool"),
            F.round(-F.sum(F.col("cnt") * F.col("lnph")), 4).alias("loss_hold"),
            F.round(
                F.sum(F.col("cnt") * (F.col("lnph") - F.col("lnpp"))), 4
            ).alias("excess"),
        )
    )
    return scored.orderBy(F.desc("excess"), "doc_id").limit(_RHO_N)


# ---------------------------------------------------------------------------
# first-fit-decreasing bin packing (sequence packing into context windows)
# ---------------------------------------------------------------------------

_FFD_CAP = 400   # token capacity per bin (context window)
_FFD_GRP = 8     # parallel packing groups (shards) at the oracle gate


def _ffd_groups(sf_dir: str) -> int:
    """Group count scales with the corpus so the per-group sequential
    first-fit loop stays O(bounded): groups = max(8, n_docs // 256),
    read from the parquet FOOTER (no scan — _semdedup_k's trick). At
    the oracle gate's scales (500 docs at sf <= 0.01) this is exactly
    the static 8 groups the generated SQL states; the 30x blow-up
    sweep measured the FIXED-group version SUPERLINEAR (marginal 8.75
    vs 3.22 — per-group work is docs x bins and both grew), and this
    bound restores linearity (SCALING.md)."""
    from ..sources.parquet import row_count

    # an unreadable footer falls back to the oracle's count
    n = row_count(f"{sf_dir}/documents.parquet")
    return _FFD_GRP if n is None else max(_FFD_GRP, n // 256)

def _ffd_sql(n_grp: int = _FFD_GRP) -> str:
    return f"""
WITH RECURSIVE lens AS (
  SELECT doc_id % {n_grp} AS grp, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
t AS (
  SELECT grp, doc_id, n_tok,
         CAST(row_number() OVER (PARTITION BY grp
                                 ORDER BY n_tok DESC, doc_id) AS INT) AS rn,
         CAST(count(*) OVER (PARTITION BY grp) AS INT) AS n
  FROM lens
),
rec AS (
  SELECT grp, 0 AS rn, CAST([] AS BIGINT[]) AS loads,
         CAST([] AS INT[]) AS binof
  FROM (SELECT DISTINCT grp FROM t)
  UNION ALL
  SELECT grp, rn,
         CASE WHEN fit IS NULL THEN list_append(loads, n_tok)
              ELSE list_transform(generate_series(1, len(loads)),
                     i -> CASE WHEN i = fit THEN loads[i] + n_tok
                          ELSE loads[i] END)
         END AS loads,
         list_append(binof, CAST(COALESCE(fit, len(loads) + 1) AS INT))
           AS binof
  FROM (
    SELECT r.grp, d.rn, r.loads, r.binof, d.n_tok,
           list_filter(generate_series(1, len(r.loads)),
                       i -> r.loads[i] + d.n_tok <= {_FFD_CAP})[1] AS fit
    FROM rec r JOIN t d ON d.grp = r.grp AND d.rn = r.rn + 1
  )
),
fin AS (
  SELECT r.grp, r.binof
  FROM rec r JOIN (SELECT grp, max(rn) AS n FROM t GROUP BY grp) m
    ON r.grp = m.grp AND r.rn = m.n
)
SELECT t.grp, t.doc_id, t.n_tok, f.binof[t.rn] AS bin_idx
FROM t JOIN fin f USING (grp)
"""


@register(
    "pack_bin_ffd",
    oracle=_ffd_sql(),
    oracle_tmpl=lambda sf_dir: _ffd_sql(_ffd_groups(sf_dir)),
)
def pack_bin_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing of documents into fixed-token
    context windows — the sequence-packing pass that turns a cleaned
    corpus into training rows with minimal padding (FFD uses at most
    ~11/9 OPT + 1 bins, the classical guarantee; the running-sum shard
    cut of pack_token_shards splits documents greedily in id order and
    leaves far more slack). Packing is inherently SEQUENTIAL within a
    bin set, so the corpus is hash-split into independent groups and
    each group packs in parallel — exactly how production packers
    scale: groups of bins, not one global bin list.

    Scale shape: ONE narrow projection (doc_id, token count), one
    shuffle on the group key, then FlatMapGroupsInPandas (Arrow-
    batched; the engine's only sanctioned Python path) runs the
    sequential first-fit loop per group. State per group is the bin
    load list — bounded by group token mass / capacity, never by
    corpus size; group count scales with executors. The oracle
    reproduces the exact same placement as a DuckDB recursive CTE over
    the identical (n_tok DESC, doc_id) order, so determinism is pinned
    cross-engine, not just cross-run."""
    import pandas as pd

    n_grp = _ffd_groups(sf_dir)
    docs = load(spark, sf_dir, "documents")
    lens = docs.select(
        (F.col("doc_id") % n_grp).alias("grp"),
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )

    def ffd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        loads: list[int] = []
        out: list[int] = []
        for L in pdf["n_tok"]:
            for i, ld in enumerate(loads):
                if ld + L <= _FFD_CAP:
                    loads[i] += L
                    out.append(i + 1)
                    break
            else:
                loads.append(int(L))
                out.append(len(loads))
        pdf["bin_idx"] = pd.Series(out, dtype="int32")
        return pdf[["grp", "doc_id", "n_tok", "bin_idx"]]

    return lens.groupBy("grp").applyInPandas(
        ffd, "grp bigint, doc_id bigint, n_tok bigint, bin_idx int"
    )


# ---------------------------------------------------------------------------
# end-to-end training-data order: mixture -> shuffle -> pack -> manifest
# ---------------------------------------------------------------------------

_TMIX_BUDGET_X = 2     # total emitted budget = 2x corpus tokens
_TMIX_SEQ_LEN = 2048   # packed training-sequence token budget
_H_TMIX = hash60_duckdb_sql(
    "'tmix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)"
)
_H_TMIX_GATE = hash60_duckdb_sql("CAST(doc_id AS VARCHAR) || '|tmix'")

_TMIX_SQL = f"""
WITH t AS (
  SELECT doc_id, substr(source, 4, 1) AS domain,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), dom AS (
  SELECT domain, CAST(sum(n_tok) AS BIGINT) AS dom_tokens FROM t GROUP BY domain
), tot AS (
  SELECT CAST(sum(dom_tokens) AS BIGINT) AS corpus_tokens,
         count(*) AS n_domains
  FROM dom
), f AS (
  SELECT d.domain,
         ({_TMIX_BUDGET_X} * tot.corpus_tokens
            / CAST(tot.n_domains AS DOUBLE)) / d.dom_tokens AS factor
  FROM dom d CROSS JOIN tot
), reps AS (
  SELECT t.doc_id, t.domain, t.n_tok,
         CAST(floor(f.factor) AS BIGINT)
           + CASE WHEN ({_H_TMIX_GATE} % 1000000) / 1000000.0
                       < f.factor - floor(f.factor)
                  THEN 1 ELSE 0 END AS n_rep
  FROM t JOIN f ON t.domain = f.domain
), inst AS (
  SELECT doc_id, domain, n_tok,
         unnest(generate_series(1, CAST(n_rep AS INT))) AS rep
  FROM reps
), keyed AS (
  SELECT doc_id, domain, n_tok, rep, {_H_TMIX} AS hk FROM inst
), packed AS (
  SELECT doc_id, domain, n_tok,
         CAST(floor((sum(n_tok) OVER (ORDER BY hk, doc_id, rep
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
              / {_TMIX_SEQ_LEN}) AS BIGINT) AS seq_id
  FROM keyed
)
SELECT seq_id, count(*) AS n_items,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(count(DISTINCT domain) AS BIGINT) AS n_domains
FROM packed GROUP BY seq_id
"""


@register("pipeline_training_mixture", oracle=_TMIX_SQL)
def pipeline_training_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data-order composite — the chain a
    pretraining loader actually runs between "curated corpus" and
    "sequences on GPUs", as ONE plan: (1) mixture materialization —
    every domain gets an equal share of a {budget}x-corpus token
    budget, turned into per-document repeat counts (floor(factor) +
    one more behind the md5 gate with probability frac(factor), the
    sample_mixture_epochs mechanism — expected emitted tokens hit the
    target exactly, zero RNG state); (2) instance explosion — each
    document emits n_rep (doc, rep) instances via a guarded
    sequence(1, n_rep) (empty when a domain is downsampled to 0
    repeats); (3) deterministic global shuffle — instances order by
    hash60('tmix:'||doc||':'||rep), so the two epochs of one document
    land at independent positions and every rerun/retry reproduces the
    identical order; (4) sequence packing — running token sum in
    shuffle order cut into {seqlen}-token sequences; (5) the shard
    manifest the loader consumes: per sequence, its item/distinct-doc
    counts, token total, and domain diversity.

    The oracle states steps 3-4 as one global window; the plan takes
    the running token sum from `ordered_scan`. Wide ops: the domain
    aggregate (tiny), the factor broadcast join, ONE range shuffle, and
    the final per-sequence aggregation — the whole training-order
    materialization costs one corpus shuffle at any scale."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("source", 4, 1).alias("domain"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    # pinned: the domain aggregate and the instance stream both read it
    docs = pin(docs, label="tmix_docs")
    dom = pin(
        docs.groupBy("domain").agg(F.sum("n_tok").alias("dom_tokens")),
        label="tmix_dom",
    )
    tot = dom.agg(
        F.sum("dom_tokens").alias("corpus_tokens"),
        F.count("*").alias("n_domains"),
    )
    f = dom.crossJoin(F.broadcast(tot)).select(
        "domain",
        (
            (
                _TMIX_BUDGET_X
                * F.col("corpus_tokens")
                / F.col("n_domains").cast("double")
            )
            / F.col("dom_tokens")
        ).alias("factor"),
    )
    gate = (
        F.pmod(
            hash60(F.concat(F.col("doc_id").cast("string"), F.lit("|tmix"))),
            F.lit(1000000),
        )
        / 1000000.0
    )
    reps = docs.join(F.broadcast(f), "domain").select(
        "doc_id",
        "domain",
        "n_tok",
        (
            F.floor("factor").cast("bigint")
            + F.when(gate < F.col("factor") - F.floor("factor"), 1).otherwise(0)
        ).alias("n_rep"),
    )
    # guarded explode: sequence(1, 0) would be DESCENDING [1, 0] in Spark
    # (the gram_positions pitfall); DuckDB generate_series yields empty
    seq = F.when(
        F.col("n_rep") >= 1, F.sequence(F.lit(1), F.col("n_rep").cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    inst = reps.select(
        "doc_id", "domain", "n_tok", F.explode(seq).alias("rep")
    )
    keyed = inst.withColumn(
        "hk",
        hash60(
            F.concat(
                F.lit("tmix:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            )
        ),
    )
    packed = ordered_scan(
        keyed, ["hk", "doc_id", "rep"], ["n_tok"], label="tmix_ranged"
    ).select(
        "doc_id",
        "domain",
        "n_tok",
        ((F.col("cum_n_tok") - F.col("n_tok")) / _TMIX_SEQ_LEN)
        .cast("bigint")
        .alias("seq_id"),
    )
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_items"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.countDistinct("domain").alias("n_domains"),
    )


pipeline_training_mixture.__doc__ = pipeline_training_mixture.__doc__.format(
    budget=_TMIX_BUDGET_X, seqlen=_TMIX_SEQ_LEN
)


# ---------------------------------------------------------------------------
# Pareto-skyline selection (multi-objective data curation)
# ---------------------------------------------------------------------------

_SKY_SQL = """
WITH scored AS (
  SELECT doc_id,
         round(len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE), 3) AS x,
         round((length(text) - len(string_split(text, ' ')) + 1)
               / CAST(len(string_split(text, ' ')) AS DOUBLE), 3) AS y
  FROM documents
),
lvl AS (SELECT x, max(y) AS ymax FROM scored GROUP BY x),
kept AS (
  SELECT x, ymax FROM (
    SELECT x, ymax,
           max(ymax) OVER (ORDER BY x DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM lvl
  ) WHERE prev_max IS NULL OR ymax > prev_max
)
SELECT k.x AS ttr, k.ymax AS mean_tok_len,
       count(*) AS n_docs, min(s.doc_id) AS min_doc_id
FROM kept k JOIN scored s ON s.x = k.x AND s.y = k.ymax
GROUP BY k.x, k.ymax
"""


@register("sample_pareto_skyline", oracle=_SKY_SQL)
def sample_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-SKYLINE selection (Borzsony et al. 2001's skyline
    operator, applied as multi-objective data curation): the documents
    no other document dominates on BOTH axes — here type-token ratio
    (lexical diversity) and mean token length (a word-complexity
    proxy), each a map-side expression rounded to 3 dp. Curation uses
    this to expose the quality-diversity FRONTIER instead of a single
    weighted score: every point on the front is an optimal tradeoff,
    and the mixture designer picks along it.

    The 2-D skyline never needs the O(n^2) dominance anti-join: group
    docs to their quantized x-level (max y per level — at 3 dp the
    level table is bounded by the VALUE DOMAIN, <= ~1000 rows, however
    many documents exist — the quantization IS the scale lever), then
    one strict running-max sweep over the level table in x-descending
    order keeps exactly the levels whose best y beats every
    better-x level. Dominated same-level docs fall out by joining back
    on (x, ymax); docs tied on BOTH rounded axes are mutually
    non-dominating and stay (n_docs counts them). The only
    unpartitioned window runs over the bounded level table, and the
    only corpus-sized ops are the scoring scan, the level groupBy, and
    the final broadcast-able front join."""
    t = F.split("text", " ")
    scored = pin(
        load(spark, sf_dir, "documents").select(
            "doc_id",
            F.round(
                F.size(F.array_distinct(t)) / F.size(t).cast("double"), 3
            ).alias("x"),
            F.round(
                (F.length("text") - F.size(t) + 1) / F.size(t).cast("double"),
                3,
            ).alias("y"),
        ),
        label="sky_scored",
    )
    lvl = scored.groupBy("x").agg(F.max("y").alias("ymax"))
    w_prev = W.orderBy(F.col("x").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    kept = (
        lvl.withColumn("prev_max", F.max("ymax").over(w_prev))
        .filter(F.col("prev_max").isNull() | (F.col("ymax") > F.col("prev_max")))
        .select(F.col("x").alias("kx"), F.col("ymax").alias("kymax"))
    )
    return (
        scored.join(
            F.broadcast(kept),
            (scored.x == kept.kx) & (scored.y == kept.kymax),
        )
        .groupBy("kx", "kymax")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .select(
            F.col("kx").alias("ttr"),
            F.col("kymax").alias("mean_tok_len"),
            "n_docs",
            "min_doc_id",
        )
    )


# ---------------------------------------------------------------------------
# temporal split with embargo (leakage-safe time-based evaluation)
# ---------------------------------------------------------------------------

_EMB_TEST_DAYS = 180
_EMB_GAP_DAYS = 60

_TEMPORAL_SPLIT_SQL = f"""
WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
lab AS (
  SELECT o_custkey,
         CASE WHEN o_orderdate >= mx - INTERVAL {_EMB_TEST_DAYS} DAY
              THEN 'test'
              WHEN o_orderdate >= mx - INTERVAL {_EMB_TEST_DAYS + _EMB_GAP_DAYS} DAY
              THEN 'embargo'
              ELSE 'train' END AS split,
         o_orderdate
  FROM orders, mx
),
base AS (
  SELECT split, count(*) AS n_rows,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
         strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
  FROM lab GROUP BY split
),
leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM (
    SELECT o_custkey FROM lab WHERE split = 'train'
    INTERSECT
    SELECT o_custkey FROM lab WHERE split = 'test'
  )
)
SELECT split, n_rows, n_customers, min_date, max_date FROM base
UNION ALL
SELECT 'train_test_customer_overlap', n, n, NULL, NULL FROM leak
"""


@register("split_temporal_embargo", oracle=_TEMPORAL_SPLIT_SQL)
def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/test split with an EMBARGO gap — the leakage-safe
    evaluation protocol for time-dependent data (standard in
    quant-finance CV, de Prado 2018 'purged k-fold', and the right
    split whenever labels leak across adjacent time like trends or
    sessions): test = the last {test} days (boundary DERIVED from the
    data's max date, so the split is reproducible from the table
    alone), an {gap}-day embargo immediately before it is assigned to
    NEITHER side, and train is everything earlier. Row-level time
    splits with no gap let rows milliseconds apart straddle the
    boundary — the embargo breaks that adjacency channel. Emits per
    split: rows, distinct customers, date extent — plus the
    train/test CUSTOMER overlap row, the entity-leakage statistic an
    eval pipeline must either accept (time-split semantics) or route
    to split_train_test_group (entity-split semantics); reporting it
    makes the tradeoff auditable. One scan + a 1-row max-date fold;
    the label is a map-side CASE, aggregates shuffle once."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    mx = F.broadcast(o.agg(F.max("o_orderdate").alias("mx")))
    lab = pin(
        o.crossJoin(mx).select(
            "o_custkey",
            F.when(
                F.col("o_orderdate")
                >= F.expr(f"mx - INTERVAL {_EMB_TEST_DAYS} DAY"),
                "test",
            )
            .when(
                F.col("o_orderdate")
                >= F.expr(
                    f"mx - INTERVAL {_EMB_TEST_DAYS + _EMB_GAP_DAYS} DAY"
                ),
                "embargo",
            )
            .otherwise("train")
            .alias("split"),
            "o_orderdate",
        ),
        label="temb_lab",
    )
    base = lab.groupBy("split").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )
    leak = (
        lab.filter(F.col("split") == "train")
        .select("o_custkey")
        .intersect(lab.filter(F.col("split") == "test").select("o_custkey"))
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("train_test_customer_overlap").alias("split"),
            F.col("n").alias("n_rows"),
            F.col("n").alias("n_customers"),
            F.lit(None).cast("string").alias("min_date"),
            F.lit(None).cast("string").alias("max_date"),
        )
    )
    return base.unionByName(leak)


split_temporal_embargo.__doc__ = split_temporal_embargo.__doc__.format(
    test=_EMB_TEST_DAYS, gap=_EMB_GAP_DAYS
)
