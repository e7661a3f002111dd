"""Scalar-function and aggregate extension surface: date math, JSON
extraction, statistical aggregates, pivot, and positional explode.

The reference's function surface stops at string ops and casts
(SURVEY.md §2.7: 'Math/date functions: none beyond casts'); an analytics
engine a reference user switches TO needs the everyday rest. All pure
column expressions / standard aggregates — codegen'd, shuffle only where
the aggregation requires it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load, register, register_views

_DATE_TRUNC_SQL = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
       count(*) AS n_orders
FROM orders GROUP BY date_trunc('month', o_orderdate)
"""


@register("fn_date_trunc", oracle=_DATE_TRUNC_SQL)
def fn_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar truncation: orders per month."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "order_month"
            )
        )
        .agg(F.count("*").alias("n_orders"))
    )


_EXTRACT_SQL = """
SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
       CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1, 2
"""


@register("fn_extract", oracle=_EXTRACT_SQL)
def fn_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction: per (year, quarter) order totals."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


_DATEDIFF_SQL = """
SELECT o_orderkey,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_epoch
FROM orders WHERE o_orderkey % 97 = 0
"""


@register("fn_datediff", oracle=_DATEDIFF_SQL)
def fn_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day difference against a fixed date (sampled 1-in-97 keys)."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("days_to_epoch"),
        )
    )


_JSON_EXTRACT_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE event_id % 53 = 0
"""


@register("fn_json_extract", oracle=_JSON_EXTRACT_SQL)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props payload column
    (get_json_object — JVM-side JSON path, no UDF)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 53 == 0)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )


_STATS_SQL = """
SELECT c_mktsegment AS segment,
       round(avg(c_acctbal), 4) AS mean_bal,
       round(stddev_samp(c_acctbal), 4) AS sd_bal,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM customer GROUP BY c_mktsegment
"""


@register("agg_stats", oracle=_STATS_SQL)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group (mean / sample stddev / min / max)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
            F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders GROUP BY o_orderpriority
"""


@register("agg_pivot", oracle=_PIVOT_SQL)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority x status. Explicit value list so the
    plan needs no extra distinct-values pass (required at 100 TB)."""
    pv = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return pv.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("status_f"),
        F.coalesce("O", F.lit(0)).alias("status_o"),
        F.coalesce("P", F.lit(0)).alias("status_p"),
    )


_RECURSIVE_CTE_SQL = """
WITH RECURSIVE chain(k) AS (
  SELECT CAST(0 AS BIGINT) AS k
  UNION ALL
  SELECT CAST(n.n_nationkey + 5 AS BIGINT)
  FROM chain c JOIN nation n ON n.n_nationkey = c.k
  WHERE n.n_nationkey + 5 < 25
)
SELECT c.k, n.n_name FROM chain c JOIN nation n ON n.n_nationkey = c.k
"""


@register("cte_recursive", oracle=_RECURSIVE_CTE_SQL)
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 feature): data-driven chain walk over the
    nation table — the IDENTICAL SQL text runs on both engines. The
    declarative sibling of the iterative DataFrame loops
    (connected-components / k-means)."""
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CTE_SQL)


_UDTF_JSON_KV_SQL = """
WITH kv AS (
  SELECT event_id, unnest(json_keys(props)) AS k, props
  FROM events WHERE event_id % 97 = 0
)
SELECT event_id, k,
       CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS v
FROM kv
"""


@register("udtf_json_kv", oracle=_UDTF_JSON_KV_SQL)
def udtf_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row -> N (key, value)
    rows from a JSON payload, used through SQL LATERAL. The extension
    point for row-expanding Python logic; for this flat payload the
    built-in json path functions would do — the UDTF wiring is the
    point. useArrow=True keeps it off the row-pickling path
    (ArrowEvalPythonUDTF, batch transfer — the engine's plan audit
    rejects BatchEvalPython). Oracle: DuckDB json_each."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="k string, v bigint", useArrow=True)
    class ParseProps:
        def eval(self, props: str):  # noqa: ANN001
            import json

            if props:
                for k, v in json.loads(props).items():
                    yield k, int(v)

    spark.udtf.register("parse_props", ParseProps)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT e.event_id, p.k, p.v
        FROM events e, LATERAL parse_props(e.props) p
        WHERE e.event_id % 97 = 0
        """
    )


_TRY_ARITH_SQL = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0 THEN NULL
            ELSE round(l_extendedprice / l_discount, 2) END AS price_per_disc,
       round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged
FROM lineitem WHERE l_orderkey % 401 = 0
"""


@register("fn_try_arithmetic", oracle=_TRY_ARITH_SQL)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: try_divide yields NULL on zero denominators
    instead of failing the job (the oracle spells it as a CASE guard) —
    under ANSI mode a single bad row would otherwise kill a 100 TB job."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 401 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 2
            ).alias("price_per_disc"),
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                2,
            ).alias("charged"),
        )
    )


_BITWISE_SQL = """
SELECT n_nationkey,
       n_nationkey & 12 AS b_and,
       n_nationkey | 3 AS b_or,
       xor(n_nationkey, 21) AS b_xor,
       n_nationkey << 2 AS b_shl,
       n_nationkey >> 1 AS b_shr,
       CAST(bit_count(CAST(n_nationkey AS BIGINT)) AS INT) AS popcount
FROM nation
"""


@register("fn_bitwise", oracle=_BITWISE_SQL)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise battery: and/or/xor/shifts/popcount."""
    k = F.col("n_nationkey")
    return load(spark, sf_dir, "nation").select(
        "n_nationkey",
        k.bitwiseAND(F.lit(12)).alias("b_and"),
        k.bitwiseOR(F.lit(3)).alias("b_or"),
        k.bitwiseXOR(F.lit(21)).alias("b_xor"),
        F.shiftleft(k, 2).alias("b_shl"),
        F.shiftright(k, 1).alias("b_shr"),
        F.bit_count(k.cast("bigint")).cast("int").alias("popcount"),
    )


_HASH_ENCODE_SQL = """
SELECT r_regionkey,
       md5(r_name) AS h_md5,
       sha256(r_name) AS h_sha256,
       to_base64(encode(r_name)) AS b64,
       to_hex(r_regionkey) AS k_hex
FROM region
"""


@register("fn_hash_encode", oracle=_HASH_ENCODE_SQL)
def fn_hash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash + encoding battery: md5 / sha256 / base64 / hex — byte-exact
    across engines (the basis of the cross-engine hash60, see
    functions/hashing.py)."""
    return load(spark, sf_dir, "region").select(
        "r_regionkey",
        F.md5("r_name").alias("h_md5"),
        F.sha2("r_name", 256).alias("h_sha256"),
        F.base64(F.encode("r_name", "utf-8")).alias("b64"),
        F.hex(F.col("r_regionkey")).alias("k_hex"),
    )


# "+ 0" after round: rounding a tiny negative to zero yields IEEE -0.0,
# and the engines disagree on its sign; adding +0.0 normalizes to +0.0.
_CORR_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) + 0 AS qty_price_corr,
       round(covar_samp(l_discount, l_tax), 6) + 0 AS disc_tax_covar
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_corr_covar", oracle=_CORR_SQL)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation + sample
    covariance (negative zero normalized, see oracle comment)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
                "qty_price_corr"
            ),
            (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias(
                "disc_tax_covar"
            ),
        )
    )


_BOOL_AGG_SQL = """
SELECT o_orderpriority,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 400000) AS any_over_400k
FROM orders GROUP BY o_orderpriority
"""


@register("agg_bool", oracle=_BOOL_AGG_SQL)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (universal / existential per group)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        )
    )


_STRING_AGG_SQL = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
FROM nation GROUP BY n_regionkey
"""


@register("agg_string_concat", oracle=_STRING_AGG_SQL)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): collect + sort +
    join — explicit sort makes the concatenation order deterministic at
    any parallelism."""
    return (
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            )
        )
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond rollup/cube lattices) — identical
    SQL text on both engines; Spark plans one Expand + one shuffle."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


_NULL_SAFE_EQ_SQL = """
WITH a AS (SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN NULL
                                   ELSE o_orderstatus END AS k
           FROM orders WHERE o_orderkey % 307 = 0),
b AS (SELECT DISTINCT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                           ELSE o_orderstatus END AS k
      FROM orders WHERE o_orderkey < 1000)
SELECT a.o_orderkey, a.k
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@register("filt_null_safe_eq", oracle=_NULL_SAFE_EQ_SQL)
def filt_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping — required for dimension keys
    with genuine missing values."""
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 307 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    b = (
        orders.filter(F.col("o_orderkey") < 1000)
        .select(
            F.when(F.col("o_orderkey") % 7 == 0, None)
            .otherwise(F.col("o_orderstatus"))
            .alias("bk")
        )
        .distinct()
    )
    return a.join(b, a.k.eqNullSafe(b.bk)).select("o_orderkey", "k")


_HIGHER_ORDER_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents WHERE doc_id < 80)
SELECT doc_id,
       CAST(list_sum(list_transform(list_filter(tok, t -> len(t) > 3),
                                    t -> len(t))) AS BIGINT) AS long_token_chars,
       CAST(len(list_filter(tok, t -> t LIKE 's%')) AS INT) AS n_s_words
FROM t
"""


@register("fn_higher_order", oracle=_HIGHER_ORDER_SQL)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions (transform/filter/aggregate over arrays) —
    per-row lambdas executed JVM-side, zero UDFs."""
    tok = F.split("text", " ")
    long_toks = F.filter(tok, lambda t: F.length(t) > 3)
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(
            "doc_id",
            F.aggregate(
                F.transform(long_toks, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("long_token_chars"),
            F.size(F.filter(tok, lambda t: t.startswith("s"))).alias("n_s_words"),
        )
    )


_EXISTS_SUBQ_SQL = """
SELECT c_custkey, c_acctbal
FROM customer c
WHERE c_acctbal > 9990
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
"""


@register("filt_exists_subquery", oracle=_EXISTS_SUBQ_SQL)
def filt_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — the IDENTICAL SQL text runs on both
    engines; Catalyst decorrelates it into a left-semi join."""
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SUBQ_SQL)


_SCALAR_SUBQ_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS price,
       round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 2) AS vs_avg
FROM orders WHERE o_orderkey % 211 = 0
"""


@register("fn_scalar_subquery", oracle=_SCALAR_SUBQ_SQL)
def fn_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (global average computed once and
    broadcast into the projection) — identical SQL text on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ_SQL)


_UNPIVOT_SQL = """
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
FROM part WHERE p_partkey % 31 = 0
UNION ALL
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
FROM part WHERE p_partkey % 31 = 0
"""


@register("agg_unpivot", oracle=_UNPIVOT_SQL)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide numeric columns -> (metric, value) rows; the
    inverse of agg_pivot. Spark's unpivot is a single Expand node — one
    pass, no join; the oracle spells it as UNION ALL."""
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 31 == 0)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
        .unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
    )


_REGEX_FAMILY_SQL = r"""
SELECT doc_id,
       regexp_extract(text, '([a-z]+)o([a-z]+)', 1) AS pre_o,
       CAST(len(regexp_extract_all(text, '\b[a-z]{4}\b')) AS INT) AS n_4letter,
       regexp_replace(text[1:40], '[aeiou]', '_', 'g') AS devoweled_head
FROM documents WHERE doc_id < 50
"""


@register("fn_regex_family", oracle=_REGEX_FAMILY_SQL)
def fn_regex_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery: group extraction, match counting, global replace
    (Spark replaces globally by default; DuckDB needs the 'g' flag)."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.regexp_extract("text", r"([a-z]+)o([a-z]+)", 1).alias("pre_o"),
            F.size(F.expr(r"regexp_extract_all(text, '\\b[a-z]{4}\\b', 0)")).alias(
                "n_4letter"
            ),
            F.regexp_replace(F.substring("text", 1, 40), "[aeiou]", "_").alias(
                "devoweled_head"
            ),
        )
    )


_MAP_OPS_SQL = """
WITH m AS (
  SELECT n_nationkey,
         map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)]) AS meta
  FROM nation
)
SELECT n_nationkey,
       meta['name'][1] AS name_val,
       meta['region'][1] AS region_val,
       CAST(cardinality(meta) AS INT) AS n_keys
FROM m
"""


@register("fn_map_ops", oracle=_MAP_OPS_SQL)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type battery: build a map column, extract by key, count keys
    (map stays internal; output is scalar for cross-engine comparison)."""
    meta = F.create_map(
        F.lit("name"), F.col("n_name"),
        F.lit("region"), F.col("n_regionkey").cast("string"),
    )
    return load(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.element_at(meta, "name").alias("name_val"),
        F.element_at(meta, "region").alias("region_val"),
        F.size(meta).alias("n_keys"),
    )


_ARRAY_OPS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents WHERE doc_id < 100)
SELECT doc_id,
       array_to_string(list_slice(tok, 1, 3), ' ') AS first3,
       CAST(coalesce(list_position(tok, 'the'), 0) AS INT) AS pos_the,
       list_reverse(tok)[1] AS last_tok,
       CAST(len(list_distinct(tok)) AS INT) AS n_distinct
FROM t
"""


@register("fn_array_ops", oracle=_ARRAY_OPS_SQL)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: slice / position / reverse / distinct size
    (1-based indexing on both engines; Spark array_position returns 0 for
    absent where DuckDB returns NULL — coalesced in the oracle)."""
    tok = F.split(F.col("text"), " ")
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.array_join(F.slice(tok, 1, 3), " ").alias("first3"),
            F.array_position(tok, "the").cast("int").alias("pos_the"),
            F.element_at(F.reverse(tok), 1).alias("last_tok"),
            F.size(F.array_distinct(tok)).alias("n_distinct"),
        )
    )


_CONDITIONAL_SQL = """
SELECT s_suppkey,
       coalesce(NULLIF(s_name, ''), 'unknown') AS name_or_unknown,
       greatest(s_acctbal, 0.0) AS bal_floor0,
       least(s_acctbal, 5000.0) AS bal_cap5k,
       CASE WHEN s_acctbal IS NULL THEN 'missing'
            WHEN s_acctbal < 0 THEN 'debit' ELSE 'credit' END AS bal_class
FROM supplier WHERE s_suppkey % 7 = 0
"""


@register("fn_conditional", oracle=_CONDITIONAL_SQL)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional battery: coalesce/nullif/greatest/least/searched CASE."""
    bal = F.col("s_acctbal")
    return (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 0)
        .select(
            "s_suppkey",
            F.coalesce(F.nullif(F.col("s_name"), F.lit("")), F.lit("unknown")).alias(
                "name_or_unknown"
            ),
            F.greatest(bal, F.lit(0.0)).alias("bal_floor0"),
            F.least(bal, F.lit(5000.0)).alias("bal_cap5k"),
            F.when(bal.isNull(), "missing")
            .when(bal < 0, "debit")
            .otherwise("credit")
            .alias("bal_class"),
        )
    )


_MATH_SQL = """
SELECT p_partkey,
       round(sqrt(p_retailprice), 4) AS sqrt_price,
       round(ln(p_retailprice), 4) AS ln_price,
       round(pow(p_size, 2), 4) AS size_sq,
       abs(p_size - 25) AS size_dev,
       CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
       CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
       CAST(sign(p_size - 25) AS INT) AS size_sign
FROM part WHERE p_partkey % 13 = 0
"""


@register("fn_math", oracle=_MATH_SQL)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery: sqrt/ln/pow/abs/floor/ceil/sign (rounded where the
    platform libm could differ in the last ulp)."""
    price = F.col("p_retailprice")
    size = F.col("p_size")
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 13 == 0)
        .select(
            "p_partkey",
            F.round(F.sqrt(price), 4).alias("sqrt_price"),
            F.round(F.log(price), 4).alias("ln_price"),
            F.round(F.pow(size, F.lit(2)), 4).alias("size_sq"),
            F.abs(size - 25).alias("size_dev"),
            F.floor(price).cast("long").alias("floor_price"),
            F.ceil(price).cast("long").alias("ceil_price"),
            F.signum((size - 25).cast("double")).cast("int").alias("size_sign"),
        )
    )


# NB: DATE + 90 (integer days), NOT "+ INTERVAL 90 DAY": DuckDB interval
# equality normalizes 1 month = 30 days, so its common-subexpression
# elimination would merge "+ INTERVAL 90 DAY" with "+ INTERVAL 3 MONTH"
# and silently return the same column twice.
_INTERVAL_SQL = """
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE) + 90, '%Y-%m-%d') AS due_date,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo
FROM orders WHERE o_orderkey % 101 = 0
"""


@register("fn_interval_arith", oracle=_INTERVAL_SQL)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic: +days, month end, add_months (calendar
    clamping semantics agree across engines)."""
    d = F.col("o_orderdate").cast("date")
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 == 0)
        .select(
            "o_orderkey",
            F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_date"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3mo"),
        )
    )


_QUANTILES_SQL = """
SELECT c_mktsegment AS segment,
       round(quantile_cont(c_acctbal, 0.25), 4) AS q25,
       round(quantile_cont(c_acctbal, 0.50), 4) AS q50,
       round(quantile_cont(c_acctbal, 0.75), 4) AS q75,
       quantile_disc(c_acctbal, 0.5) AS median_disc
FROM customer GROUP BY c_mktsegment
"""


@register("agg_quantiles", oracle=_QUANTILES_SQL)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quantiles (q25/q50/q75) + discrete median per group,
    scale-guarded (functions/percentile.py): exact `percentile` /
    `percentile_disc` while every group fits the buffer budget (both
    engines interpolate with the same (1-g)*a + g*b rule; disc picks an
    actual data value), flipping to `approx_percentile` beyond it — the
    GK sketch emits observed values, so it is the approx analog of the
    disc form as well."""
    from ..functions.percentile import APPROX_ACCURACY, exact_fits, guarded_percentile

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"), "c_acctbal"
    )
    exact = exact_fits(
        cust,
        ["segment"],
        "c_acctbal",
        cache_key=(sf_dir, "customer", "segment", "c_acctbal"),
        stats_path=f"{sf_dir}/customer.parquet",
        stats_group_col="c_mktsegment",
    )
    out, _ = guarded_percentile(
        cust,
        ["segment"],
        "c_acctbal",
        {"q25": 0.25, "q50": 0.50, "q75": 0.75},
        exact=exact,  # one probe guards both aggregations
    )
    disc = (
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)")
        if exact
        else F.percentile_approx("c_acctbal", F.lit(0.5), APPROX_ACCURACY)
    )
    disc_df = cust.groupBy("segment").agg(disc.alias("median_disc"))
    return out.join(disc_df, "segment")


_STRING_FAMILY_SQL = """
SELECT c_custkey,
       upper(c_name) AS uname,
       trim(lower(c_mktsegment)) AS lseg,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
       reverse(c_name) AS rname,
       levenshtein(c_mktsegment, 'BUILDING') AS lev_building
FROM customer WHERE c_custkey % 29 = 0
"""


@register("fn_string_family", oracle=_STRING_FAMILY_SQL)
def fn_string_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery: case, trim, pad, reverse, edit distance —
    all JVM-side codegen'd expressions."""
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 29 == 0)
        .select(
            "c_custkey",
            F.upper("c_name").alias("uname"),
            F.trim(F.lower("c_mktsegment")).alias("lseg"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
            F.reverse("c_name").alias("rname"),
            F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev_building"),
        )
    )


_POSEXPLODE_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents WHERE doc_id < 20
)
SELECT doc_id, u.pos, u.token FROM (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tok)),
                i -> struct_pack(pos := i - 1, token := tok[i]))) AS u
  FROM t
)
"""


@register("fn_posexplode", oracle=_POSEXPLODE_SQL)
def fn_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode: one row per (token, 0-based position)."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
    )


_URL_PARSE_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.Example.COM:8443/' || lang || '/doc/'
           || doc_id || '?utm_source=x&id=' || doc_id || '#frag' AS url
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       lower(split_part(split_part(split_part(url, '//', 2), '/', 1), ':', 1))
         AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '[?&]id=([^&#]*)', 1) AS qid
FROM u
"""


@register("fn_url_parse", oracle=_URL_PARSE_SQL)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition + host canonicalization (the crawl-pipeline
    normalization step): parse_url HOST (case-folded; the port lives in
    AUTHORITY, not HOST), PATH, and a single QUERY parameter — all
    JVM-side java.net.URI parsing, no UDF. The oracle restates the
    decomposition with portable string/regex functions, so the parse
    semantics (not just the plumbing) are cross-checked for well-formed
    URLs."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".Example.COM:8443/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id"),
        F.lit("?utm_source=x&id="),
        F.col("doc_id"),
        F.lit("#frag"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("qid"),
    )


# ---------------------------------------------------------------------------
# exact DECIMAL money arithmetic
# ---------------------------------------------------------------------------

_DECIMAL_SQL = """
SELECT l_returnflag,
       sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price,
       sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(6,2))) AS sum_disc_price,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


@register("fn_decimal_exact", oracle=_DECIMAL_SQL)
def fn_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DECIMAL money arithmetic — the type-system alternative to
    this repo's integer-cents idiom: prices cast to DECIMAL(18,2) at
    the scan, the discount factor to DECIMAL(6,2), and every sum and
    product then runs in EXACT base-10 arithmetic — associative, so
    partition order and merge order cannot perturb a digit (the whole
    reason money columns are decimal in production schemas; a double
    sum differs run to run). Result scales differ between engines
    (Spark widens products to s=4+), so the gate's Decimal
    normalization is what's exercised. Decimal aggregation is
    whole-stage-codegen JVM arithmetic — map-side partial sums like any
    long."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    factor = (F.lit(1) - F.col("l_discount")).cast("decimal(6,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).alias("sum_price"),
        F.sum(price * factor).alias("sum_disc_price"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# multiple DISTINCT aggregates in one pass (Expand rewrite)
# ---------------------------------------------------------------------------

_MULTI_DISTINCT_SQL = """
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderpriority) AS n_priorities,
       count(DISTINCT o_orderdate::DATE) AS n_days,
       count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


@register("agg_multi_distinct", oracle=_MULTI_DISTINCT_SQL)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over DIFFERENT columns in one query —
    the plan shape this exercises is Catalyst's Expand rewrite: the
    input is replicated once per distinct clause with a grouping-id
    column, then a single two-level aggregation dedups and counts all
    clauses in ONE shuffle pass (naively this is N self-joined
    subqueries, N scans, N shuffles). At 100 TB the Expand multiplies
    map-side rows by the clause count but keeps one scan and one
    exchange — the right trade until clause counts grow large, at which
    point the HLL sketch rollup (agg_hll_sketch_rollup) is the approx
    escape hatch."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# bitmask capability rollup
# ---------------------------------------------------------------------------

_BITMASK_SQL = """
WITH flags AS (
  SELECT user_id,
         bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                WHEN 'error' THEN 16 ELSE 0 END) AS caps
  FROM events GROUP BY user_id
)
SELECT caps, count(*) AS n_users,
       (caps & 4) <> 0 AS has_purchase,
       min(user_id) AS min_user
FROM flags GROUP BY caps
"""


@register("agg_bitmask_flags", oracle=_BITMASK_SQL)
def agg_bitmask_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capability-bitmap rollup: each event type maps to one bit and
    BIT_OR folds a user's history into a single integer bitmap — the
    feature-flag / segment-membership encoding that replaces five
    boolean columns (or five EXISTS subqueries) with one map-side-
    combinable integer aggregate; cohorts are then GROUP BY bitmap and
    membership tests are bitwise AND (has_purchase = caps & 4). Two
    aggregations, both map-side combined; the bitmap domain is 2^5
    regardless of corpus size."""
    ev = load(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "error", 16)
        .otherwise(0)
    )
    flags = ev.groupBy("user_id").agg(F.bit_or(bit).alias("caps"))
    return flags.groupBy("caps").agg(
        F.count("*").alias("n_users"),
        (F.col("caps").bitwiseAND(4) != 0).alias("has_purchase"),
        F.min("user_id").alias("min_user"),
    )


# ---------------------------------------------------------------------------
# Spark 4 surface: VARIANT ingestion, LATERAL joins, pipe SQL
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
GROUP BY event_type
"""


@register("src_variant_json", oracle=_VARIANT_SQL)
def src_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type:
    parse_json shreds the payload ONCE into the binary variant
    encoding and variant_get extracts typed paths — the open-schema
    path that replaces per-query string re-parsing (get_json_object
    re-tokenizes the JSON text on EVERY extraction; variant pays parse
    cost once and field access is a binary probe, the difference
    between 1x and extraction-count x parse cost over 100 TB of event
    payloads). The predicate and aggregation run on the extracted
    typed column; the oracle states the same semantics over DuckDB's
    JSON reader."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
        )
    )


_LATERAL_SQL = """
SELECT n.n_name AS nation, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
"""


@register("join_lateral_topk", oracle=_LATERAL_SQL)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table,
    Spark 4 SQL): per outer row, an ordered-and-limited inner query —
    'top 2 customers per nation' stated exactly as a user writes it.
    Catalyst decorrelates the lateral into a ranked window join (the
    same physical shape win_topk_per_group hand-builds), so the
    declarative form costs what the manual rewrite costs — this key
    pins that the ENGINE does the decorrelation, not the user. DuckDB
    runs the identical statement."""
    from .registry import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_PIPE_SQL_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@register("src_sql_pipe", oracle=_PIPE_SQL_ORACLE)
def src_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL FROM ... |> ...): the same
    filtered rollup written as a linear dataflow — FROM orders
    |> WHERE |> AGGREGATE ... GROUP BY — which compiles to the
    identical logical plan as the classic form (the oracle IS the
    classic form, so the hash match proves plan equivalence, not just
    similar numbers). Pipe syntax matters operationally: generated and
    templated queries compose by appending stages instead of splicing
    into nested SELECTs."""
    from .registry import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n_orders,
                     round(sum(o_totalprice), 2) AS total_price
           GROUP BY o_orderpriority
        """
    )
