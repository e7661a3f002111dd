"""Relational operator queries (SURVEY.md §2.1, §2.2, §2.3 partial, §2.4,
§2.5 partial, §2.7) instantiated on the driver testdata tables.

Each key mirrors one operator the reference executes (citations in the
docstrings point at /root/reference file:line); the Spark plan is the
idiomatic DataFrame/SQL re-expression, and the oracle is semantically
identical ANSI SQL for DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.staging import staging_dir
from .registry import load, register, register_views


# ---------------------------------------------------------------------------
# §2.1 scans / sources / sinks
# ---------------------------------------------------------------------------

NATION_CSV_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

REGION_CSV_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)


@register("src_csv", oracle="SELECT r_regionkey, r_name FROM region")
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with header + explicit schema (no inference in prod paths).

    Reference: pd.read_csv of Listings.csv, Airbnb_Listings_ETL.py:15-27.
    Spark: df.write.csv -> spark.read.csv(header, schema); roundtrip proves
    the reader. At 100 TB the explicit schema avoids a full inference pass.
    """
    staged = staging_dir("src_csv")
    load(spark, sf_dir, "region").write.mode("overwrite").option("header", True).csv(staged)
    return spark.read.csv(staged, header=True, schema=REGION_CSV_SCHEMA)


@register("src_csv_encoding", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def src_csv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with non-UTF8 encoding (ISO-8859-1).

    Reference: pd.read_csv(..., encoding='ISO-8859-1'), Airbnb_Review_ETL.py:22.
    """
    staged = staging_dir("src_csv_encoding")
    (
        load(spark, sf_dir, "nation")
        .write.mode("overwrite")
        .option("header", True)
        .option("encoding", "ISO-8859-1")
        .csv(staged)
    )
    return spark.read.csv(
        staged, header=True, schema=NATION_CSV_SCHEMA, encoding="ISO-8859-1"
    )


@register(
    "ddl_create",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def ddl_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE-on-read DDL: declare a table over storage, then query it.

    Reference: 5x CREATE TABLE IF NOT EXISTS + index, sql/create_*.sql wired
    at Airbnb_Listings_ETL.py:251-264. Spark: DDL view over parquet; B-tree
    indexes have no Spark equivalent — min/max pruning + optional bucketBy
    replace them (SURVEY.md §4).
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW supplier_ddl "
        f"USING parquet OPTIONS (path '{sf_dir}/supplier.parquet')"
    )
    return spark.sql(
        "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier_ddl"
    )


_SRC_SQL = """
SELECT c.c_mktsegment AS segment,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total_price
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


@register("src_sql", oracle=_SRC_SQL)
def src_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL query source: pd.read_sql_query analog, Airbnb_Analysis.py:64.

    Same SQL text runs on Spark and the oracle — Catalyst plans it here.
    """
    register_views(spark, sf_dir)
    return spark.sql(_SRC_SQL)


@register(
    "src_doc_find",
    oracle="SELECT doc_id FROM documents WHERE regexp_matches(text, '(?i)merge')",
)
def src_doc_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document find with projection: collection.find(query, {'id': 1}).

    Reference: Airbnb_Analysis.py:39-44,155-161. Spark: filter + select —
    Catalyst prunes the parquet scan to the two referenced columns.
    """
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("(?i)merge")).select("doc_id")


@register(
    "sink_csv",
    oracle="SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV result sink: df.to_csv per query, Airbnb_Analysis.py:65 etc.

    Written partitioned (no coalesce(1) — at 100 TB a single-file sink
    serializes the job through one task); read back to verify.
    """
    staged = staging_dir("sink_csv")
    out = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    out.write.mode("overwrite").option("header", True).csv(staged)
    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )
    return spark.read.csv(staged, header=True, schema=schema)


@register(
    "xfer_xcom",
    oracle="""
SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def xfer_xcom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-task frame transfer (XCom pickle/JSON) -> parquet staging.

    Reference: Airbnb_Listings_ETL.py:27,31 (pickled DataFrame through the
    Airflow metadata DB). Spark: one lazy lineage needs no transfer at all;
    when a DAG boundary genuinely requires materialization, stage columnar
    parquet, never pickle.
    """
    staged = staging_dir("xfer_xcom")
    stage1 = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    stage1.write.mode("overwrite").parquet(staged)
    stage2 = spark.read.parquet(staged)
    return stage2.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters / row transforms
# ---------------------------------------------------------------------------


@register(
    "proj_select",
    oracle="SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem",
)
def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection (61-col select, Airbnb_Listings_ETL.py:40-41).

    Catalyst ColumnPruning pushes the 4-column ReadSchema into the scan.
    """
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )


@register(
    "proj_rename",
    oracle="SELECT c_custkey AS cust_id, c_name AS cust_name, c_mktsegment AS segment FROM customer",
)
def proj_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename (neighbourhood -> neighborhood, Airbnb_Listings_ETL.py:44)."""
    return (
        load(spark, sf_dir, "customer")
        .withColumnRenamed("c_custkey", "cust_id")
        .withColumnRenamed("c_name", "cust_name")
        .withColumnRenamed("c_mktsegment", "segment")
        .select("cust_id", "cust_name", "segment")
    )


@register(
    "filt_dropna",
    oracle="""
SELECT event_id, CASE WHEN value > 5 THEN value END AS val
FROM events
WHERE CASE WHEN value > 5 THEN value END IS NOT NULL
""",
)
def filt_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-filter on subset: df.dropna(subset=['name']).

    Reference: Airbnb_Listings_ETL.py:73. Testdata has no nulls, so nulls
    are derived first, then na.drop removes them.
    """
    ev = load(spark, sf_dir, "events").withColumn(
        "val", F.when(F.col("value") > 5, F.col("value"))
    )
    return ev.na.drop(subset=["val"]).select("event_id", "val")


@register(
    "filt_fillna",
    oracle="""
SELECT event_id, coalesce(CASE WHEN value > 5 THEN value END, -1.0) AS val_filled
FROM events
""",
)
def filt_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-fill sentinel: df.fillna(-1), Airbnb_Listings_ETL.py:94-95."""
    ev = load(spark, sf_dir, "events").withColumn(
        "val", F.when(F.col("value") > 5, F.col("value"))
    )
    return ev.na.fill({"val": -1.0}).select(
        "event_id", F.col("val").alias("val_filled")
    )


@register(
    "xform_nan_none",
    oracle="""
SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value_clean
FROM events
""",
)
def xform_nan_none(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaN -> NULL normalization: df.replace(np.nan, None).

    Reference: Airbnb_Listings_ETL.py:37. NaN is injected (error rows),
    then normalized to Spark-native null.
    """
    ev = load(spark, sf_dir, "events").withColumn(
        "noisy",
        F.when(F.col("event_type") == "error", F.lit(float("nan"))).otherwise(
            F.col("value")
        ),
    )
    return ev.select(
        "event_id",
        F.when(F.isnan("noisy"), F.lit(None).cast("double"))
        .otherwise(F.col("noisy"))
        .alias("value_clean"),
    )


@register(
    "xform_money_strip",
    oracle="""
SELECT o_orderkey,
       '$' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS money_text,
       CAST(regexp_replace('$' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                           '[$,]', '', 'g') AS DECIMAL(12,2)) AS price
FROM orders
""",
)
def xform_money_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-text canonicalization: '$1,234.00' -> decimal(12,2).

    Reference strips '$' in ETL (Airbnb_Listings_ETL.py:52-55) but the
    analysis re-strips with substring-from-2 (Airbnb_Analysis.py:89,104,112)
    — the documented inconsistency (SURVEY.md §1.2). This engine parses
    once: regexp_replace(col, '[$,]', '') :: decimal(12,2).
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "money_text",
        F.concat(F.lit("$"), F.col("o_totalprice").cast("decimal(12,2)").cast("string")),
    )
    return o.select(
        "o_orderkey",
        "money_text",
        F.regexp_replace("money_text", r"[$,]", "").cast("decimal(12,2)").alias("price"),
    )


@register(
    "xform_zip_trunc",
    oracle="""
SELECT o_orderkey, ziplike,
       CASE WHEN length(ziplike) > 5 THEN substr(ziplike, 1, 5) ELSE ziplike END AS zip_norm
FROM (
  SELECT o_orderkey,
         CAST(o_orderkey AS VARCHAR) ||
           CASE WHEN o_orderkey % 3 = 0 THEN '-' || CAST(o_custkey AS VARCHAR) ELSE '' END AS ziplike
  FROM orders
) t
""",
)
def xform_zip_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipcode normalize: '20009-374' -> '20009' (len>5 -> first 5 chars).

    Reference does this with a per-row Python loop
    (Airbnb_Listings_ETL.py:57-60); here it's a codegen'd column expression.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "ziplike",
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.concat(F.lit("-"), F.col("o_custkey").cast("string")),
            ).otherwise(F.lit("")),
        ),
    )
    return o.select(
        "o_orderkey",
        "ziplike",
        F.when(
            F.length("ziplike") > 5, F.substring("ziplike", 1, 5)
        )
        .otherwise(F.col("ziplike"))
        .alias("zip_norm"),
    )


@register(
    "xform_state_norm",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_mktsegment = 'BUILDING' THEN 'BLD'
            WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO'
            ELSE c_mktsegment END AS seg_norm
FROM customer
""",
)
def xform_state_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical value normalization ('Washington DC' -> 'DC').

    Reference: per-row loops, Airbnb_Listings_ETL.py:62-70 (including the
    latent state-vs-city bug documented in SURVEY.md §2.2 — we implement
    the intent). Spark: when/otherwise chain.
    """
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "BLD")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "AUTO")
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_norm"),
    )


@register(
    "xform_to_numeric",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(CASE WHEN o_orderkey % 10 = 0
                     THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS parsed
FROM orders
""",
)
def xform_to_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient cast, invalid -> null: pd.to_numeric(errors='coerce').

    Reference: Airbnb_Review_ETL.py:77. Spark 4 runs ANSI mode, so the
    equivalent is try_cast (non-ANSI cast-to-null otherwise).
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "s",
        F.when(
            F.col("o_orderkey") % 10 == 0,
            F.concat(F.lit("x"), F.col("o_orderkey").cast("string")),
        ).otherwise(F.col("o_orderkey").cast("string")),
    )
    return o.select("o_orderkey", F.expr("try_cast(s AS BIGINT)").alias("parsed"))


@register(
    "xform_struct_pack",
    oracle="SELECT c_custkey AS custkey, upper(c_name) AS name_u FROM customer",
)
def xform_struct_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack columns into a struct, then access fields.

    Reference packs host_desc with a pandas apply-lambda (a de-facto UDF,
    Airbnb_Listings_ETL.py:161-166); Spark needs no UDF: F.struct. Output
    is re-flattened so the oracle comparison stays engine-neutral.
    """
    c = load(spark, sf_dir, "customer").select(
        F.struct(
            F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
        ).alias("packed")
    )
    return c.select(
        F.col("packed.custkey").alias("custkey"),
        F.upper(F.col("packed.name")).alias("name_u"),
    )


@register(
    "filt_regex_or",
    oracle="""
SELECT doc_id FROM documents
WHERE regexp_matches(text, '(?i)merge') OR regexp_matches(text, '(?i)vector')
""",
)
def filt_regex_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive regex OR over text fields ('quiet' search, Q1).

    Reference: Mongo $or of $regex across 4 fields, Airbnb_Analysis.py:29-41.
    """
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").rlike("(?i)merge") | F.col("text").rlike("(?i)vector")
    ).select("doc_id")


@register(
    "filt_regex_and_or",
    oracle="""
SELECT doc_id, n_chars FROM documents
WHERE (regexp_matches(text, '(?i)merge') OR regexp_matches(text, '(?i)batch'))
  AND (regexp_matches(text, '(?i)stream') OR regexp_matches(text, '(?i)window'))
""",
)
def filt_regex_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunction of two OR-regex groups ('park' AND 'museum', Q5).

    Reference: Airbnb_Analysis.py:128-157.
    """
    docs = load(spark, sf_dir, "documents")
    merge_or_batch = F.col("text").rlike("(?i)merge") | F.col("text").rlike("(?i)batch")
    stream_or_window = F.col("text").rlike("(?i)stream") | F.col("text").rlike(
        "(?i)window"
    )
    return docs.filter(merge_or_batch & stream_or_window).select("doc_id", "n_chars")


@register(
    "filt_eq",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND l_quantity = 30.0
""",
)
def filt_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive equality predicates (City/bedrooms/property_type, Q2).

    Reference: Airbnb_Analysis.py:77-79. All three predicates push down to
    the parquet scan (PushedFilters).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_linestatus") == "F")
        & (F.col("l_quantity") == 30.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "filt_array_contains",
    oracle="""
SELECT doc_id FROM documents
WHERE list_contains(string_split(text, ' '), 'merge')
  AND list_contains(string_split(text, ' '), 'stream')
""",
)
def filt_array_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array membership: 'park' = any(amenities) AND 'museum' = any(amenities).

    Reference: Airbnb_Analysis.py:178-179 (Postgres text[] ANY).
    """
    docs = load(spark, sf_dir, "documents").withColumn(
        "tokens", F.split(F.col("text"), " ")
    )
    return docs.filter(
        F.array_contains("tokens", "merge") & F.array_contains("tokens", "stream")
    ).select("doc_id")


@register(
    "filt_theta",
    oracle="""
SELECT o.o_orderkey, c.c_custkey FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_totalprice > c.c_acctbal * 10
""",
)
def filt_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta comparison between columns post-join (h1.avg1 < h2.avg2, Q4).

    Reference: Airbnb_Analysis.py:119.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_totalprice") > F.col("c_acctbal") * 10)
        .select("o_orderkey", "c_custkey")
    )


# ---------------------------------------------------------------------------
# §2.3 deduplication (relational part; set-accumulation lives in docmodel)
# ---------------------------------------------------------------------------


@register(
    "dedup_key",
    oracle="""
SELECT o_custkey, o_orderkey AS first_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_date
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) t WHERE rn = 1
""",
)
def dedup_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-by-key keeping a deterministic 'first' row.

    Reference: drop_duplicates(subset='id') keep-first
    (Airbnb_Listings_ETL.py:46-49). pandas 'first' means file order; in a
    distributed engine that's nondeterministic, so the engine defines
    first = min(orderdate, orderkey) via a window — same dedup guarantee,
    deterministic at any parallelism.
    """
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_date"),
        )
    )


@register(
    "dedup_row",
    oracle="SELECT DISTINCT l_returnflag AS rf, l_linestatus AS ls, l_quantity AS qty FROM lineitem",
)
def dedup_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row distinct: drop_duplicates over all columns.

    Reference: Airbnb_Review_ETL.py:40-43. Spark: distinct() — a hash
    aggregate on all columns; partial map-side combine keeps the shuffle
    small at scale.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
            F.col("l_quantity").alias("qty"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------


@register(
    "join_eq2",
    oracle="""
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
""",
)
def join_eq2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-way inner equi-join (hotel_location ⋈ price_info ON id, Q1).

    Reference: Airbnb_Analysis.py:57-62. Catalyst picks broadcast-hash
    (customer is the small side under the 10 MB default threshold at this
    SF) or sort-merge at scale; AQE re-plans at runtime.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_eq3",
    oracle="""
SELECT c.c_mktsegment AS segment,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       sum(l.l_quantity) AS sum_qty,
       count(*) AS n_lines
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_mktsegment
""",
)
def join_eq3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner equi-join (location ⋈ facilities ⋈ price ON id, Q2-Q4).

    Reference: Airbnb_Analysis.py:74-76. No broadcast hint: customer
    GROWS with SF, so a hard-coded F.broadcast would OOM at 100×
    (VERDICT r1). Catalyst's size estimate picks broadcast-hash while
    customer fits under autoBroadcastJoinThreshold (asserted at sf0.01 by
    tests/test_plan_quality.py) and AQE re-plans to sort-merge when it
    outgrows it. The fact-fact join (orders ⋈ lineitem) shuffles on the
    shared key once — at 100 TB, bucketing both by orderkey removes it.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "join_semi_inlist",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""",
)
def join_semi_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join replacing the reference's materialized IN-list.

    Reference fetches Mongo ids to the Python driver and splices them into
    a SQL string (Airbnb_Analysis.py:43-62,159-180) — a manual broadcast
    and an injection hazard. Spark: left_semi join; Catalyst broadcasts
    the filtered small side automatically, nothing flows through the
    driver.
    """
    matching = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders")
    return o.join(
        matching, o.o_custkey == matching.c_custkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "join_agg_agg",
    oracle="""
WITH ca AS (
  SELECT c_nationkey AS nationkey, round(avg(c_acctbal), 4) AS cust_avg
  FROM customer GROUP BY c_nationkey
), sa AS (
  SELECT s_nationkey AS nationkey, round(avg(s_acctbal), 4) AS supp_avg
  FROM supplier GROUP BY s_nationkey
)
SELECT n.n_name, ca.cust_avg, sa.supp_avg
FROM ca JOIN sa ON ca.nationkey = sa.nationkey
JOIN nation n ON n.n_nationkey = ca.nationkey
WHERE ca.cust_avg < sa.supp_avg
""",
)
def join_agg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join of two grouped subqueries + theta filter (Q4 house-vs-townhouse).

    Reference: Airbnb_Analysis.py:102-119. Both aggregates are partial
    (map-side combined) before their shuffles; the post-agg join is tiny
    and broadcast.
    """
    ca = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.round(F.avg("c_acctbal"), 4).alias("cust_avg"))
    )
    sa = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.round(F.avg("s_acctbal"), 4).alias("supp_avg"))
    )
    n = load(spark, sf_dir, "nation")
    return (
        ca.join(sa, "nationkey")
        .filter(F.col("cust_avg") < F.col("supp_avg"))
        .join(n, F.col("nationkey") == n.n_nationkey)
        .select("n_name", "cust_avg", "supp_avg")
    )


# ---------------------------------------------------------------------------
# §2.5 aggregations (collect-struct lives in docmodel)
# ---------------------------------------------------------------------------


@register(
    "agg_count_group",
    oracle="""
SELECT o_orderstatus, count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_high
FROM orders GROUP BY o_orderstatus
""",
)
def agg_count_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(col) GROUP BY — counts non-null values only (B&B per city, Q3).

    Reference: Airbnb_Analysis.py:87-94.
    """
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_high"))
    )


@register(
    "agg_countstar_group",
    oracle="SELECT c_mktsegment AS segment, count(*) AS n FROM customer GROUP BY c_mktsegment",
)
def agg_countstar_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) GROUP BY (listings per city, Q5 tail).

    Reference selects only the count without the group key
    (Airbnb_Analysis.py:174-180) — we emit the key too (divergence noted
    in SURVEY.md §2.5).
    """
    return (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_avg_group",
    oracle="""
SELECT o_orderpriority, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY o_orderpriority
""",
)
def agg_avg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG(parsed price) GROUP BY (house/townhouse price per city, Q4).

    Reference: Airbnb_Analysis.py:103-117.
    """
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


@register(
    "agg_percentile",
    oracle="""
SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median per group: percentile_cont(0.5) WITHIN GROUP (Q3),
    scale-guarded.

    Reference: Airbnb_Analysis.py:89. The exact/approx choice is
    AUTOMATIC (functions/percentile.py): a count-only probe checks
    whether any group exceeds ``spark.airbnb.percentile
    .maxExactGroupRows``; within budget -> exact ``percentile`` (the
    oracle hash-match needs exactness, and gate SF is far inside the
    budget); beyond it -> ``approx_percentile`` with the documented
    n/accuracy rank bound (plans/approx_ext.py), whose bounded
    mergeable state is what 100 TB requires. The flip is visible in
    the physical plan and pinned by tests/test_plan_quality.py.
    """
    from ..functions.percentile import guarded_percentile

    out, _exact = guarded_percentile(
        load(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        {"median_price": 0.5},
        cache_key=(sf_dir, "lineitem", "l_returnflag", "l_extendedprice"),
        stats_path=f"{sf_dir}/lineitem.parquet",
    )
    return out


@register(
    "agg_exists",
    oracle="""
SELECT l_orderkey, count(*) AS n FROM lineitem
GROUP BY l_orderkey HAVING count(*) > 1
""",
)
def agg_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-existence check gating dedup (duplicated().any()).

    Reference: Airbnb_Listings_ETL.py:47-48. Distributed form: group +
    HAVING count>1 (limit(1) on top answers the boolean without a full
    scan of groups).
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# §2.7 scalar functions
# ---------------------------------------------------------------------------


@register(
    "fn_concat",
    oracle="""
SELECT n_nationkey,
       concat_ws('/', n_name,
                 CASE WHEN n_nationkey % 2 = 0 THEN NULL ELSE 'odd' END,
                 CAST(n_regionkey AS VARCHAR)) AS joined
FROM nation
""",
)
def fn_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAT with Postgres null-skipping semantics -> concat_ws.

    Reference: CONCAT(neighborhood, street, ',', zipcode),
    Airbnb_Analysis.py:58,72. Spark concat() null-propagates; concat_ws
    skips nulls like Postgres CONCAT (SURVEY.md §2.7).
    """
    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.concat_ws(
            "/",
            F.col("n_name"),
            F.when(F.col("n_nationkey") % 2 == 0, None).otherwise(F.lit("odd")),
            F.col("n_regionkey").cast("string"),
        ).alias("joined"),
    )


@register(
    "fn_substring",
    oracle="SELECT c_custkey, substr(c_name, 2) AS name_tail FROM customer",
)
def fn_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring(price from 2) — drop leading '$' (Airbnb_Analysis.py:89)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey", F.expr("substr(c_name, 2)").alias("name_tail")
    )


@register(
    "fn_replace",
    oracle="SELECT c_custkey, replace(c_name, '#', '') AS name_clean FROM customer",
)
def fn_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace(s, ',', '') — strip separators (Airbnb_Analysis.py:89)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey", F.expr("replace(c_name, '#', '')").alias("name_clean")
    )


@register(
    "fn_cast_real",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS price_real
FROM orders
""",
)
def fn_cast_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text::real cast (Airbnb_Analysis.py:89,104,112)."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice")
        .cast("decimal(12,2)")
        .cast("string")
        .cast("double")
        .alias("price_real"),
    )


@register(
    "fn_cast_varchar",
    oracle="SELECT n_nationkey, CAST(n_nationkey AS VARCHAR) AS key_str FROM nation",
)
def fn_cast_varchar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST(zipcode AS VARCHAR) (Airbnb_Analysis.py:58,72)."""
    return load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_nationkey").cast("string").alias("key_str")
    )


@register(
    "fn_regex_ci",
    oracle="SELECT doc_id FROM documents WHERE regexp_matches(text, '(?i)VECTOR')",
)
def fn_regex_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive regex ($regex + $options:'i', Airbnb_Analysis.py:33-36)."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").rlike("(?i)VECTOR"))
        .select("doc_id")
    )


@register(
    "fn_regex_match_digit",
    oracle=r"""
SELECT event_id, TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k
FROM events
""",
)
def fn_regex_match_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""$regexMatch {regex: '\d+'} -> regexp_extract (Airbnb_Analysis.py:203-205).

    Both engines return '' on no-match; try_cast turns '' into null.
    """
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.expr(r"try_cast(regexp_extract(props, '(\\d+)', 1) AS BIGINT)").alias("k"),
    )


@register(
    "fn_cond",
    oracle="""
SELECT event_id,
       CASE WHEN value >= 10 THEN 'high' WHEN value >= 5 THEN 'mid' ELSE 'low' END AS bucket
FROM events
""",
)
def fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$cond conditional computed column (Airbnb_Analysis.py:201-208)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") >= 10, "high")
        .when(F.col("value") >= 5, "mid")
        .otherwise("low")
        .alias("bucket"),
    )


@register(
    "fn_any_array",
    oracle="""
SELECT doc_id, list_contains(string_split(text, ' '), 'merge') AS has_merge
FROM documents
""",
)
def fn_any_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'x' = any(arr) projection form (Airbnb_Analysis.py:178-179)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_contains(F.split(F.col("text"), " "), "merge").alias("has_merge"),
    )


@register(
    "fn_nested_access",
    oracle="""
SELECT l_orderkey, count(*) AS n_items FROM lineitem
GROUP BY l_orderkey HAVING max(l_quantity) > 49
""",
)
def fn_nested_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dotted path into array-of-structs with any-element-matches semantics.

    Reference: Mongo 'reviews.comments' implicit-any filter,
    Airbnb_Analysis.py:36,193. Spark: build the nested shape, then
    F.exists(items, pred) — a higher-order function, no UDF. The oracle
    states the equivalent flat SQL.
    """
    li = load(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_linenumber").alias("ln"), F.col("l_quantity").alias("qty"))
        ).alias("items")
    )
    return nested.filter(
        F.exists("items", lambda it: it.qty > 49)
    ).select("l_orderkey", F.size("items").cast("bigint").alias("n_items"))


@register(
    "fn_str_join",
    oracle="""
SELECT c_nationkey, string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
FROM customer GROUP BY c_nationkey
""",
)
def fn_str_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """','.join(ids) — the reference's driver-side IN-list splice
    (Airbnb_Analysis.py:46-53) re-expressed as a distributed string_agg.
    """
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
                "segs"
            )
        )
    )


# ---------------------------------------------------------------------------
# date-dimension generation + conformed join (dimensional modeling)
# ---------------------------------------------------------------------------

_DATE_DIM_SQL = """
WITH span AS (
  SELECT min(o_orderdate::DATE) AS lo, max(o_orderdate::DATE) AS hi
  FROM orders
), dim AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
), attrs AS (
  SELECT d, CAST(isodow(d) AS INT) AS dow,
         CAST(month(d) AS INT) AS month,
         CAST(quarter(d) AS INT) AS quarter,
         isodow(d) >= 6 AS is_weekend
  FROM dim
)
SELECT a.quarter, a.is_weekend,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT a.d) AS BIGINT) AS n_days
FROM attrs a LEFT JOIN orders o ON o.o_orderdate::DATE = a.d
GROUP BY a.quarter, a.is_weekend
"""


@register("src_date_dim", oracle=_DATE_DIM_SQL)
def src_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date dimension (the Kimball calendar table) joined back
    to the fact: sequence() materializes every day of the fact's date
    span with conformed attributes (ISO weekday, month, quarter,
    weekend flag), and the LEFT join preserves zero-activity days —
    the rollup that makes 'orders by quarter x weekend' answer
    correctly when a calendar day has no facts (a fact-only GROUP BY
    silently drops them). The dimension derives from the fact's own
    min/max (one 1-row aggregate, broadcast into the generator) and
    is ~days-sized, but it is the PRESERVED side of the LEFT join, and
    a hash join cannot build the preserved side of an outer join, so no
    broadcast hint applies here (Spark drops one with a HintErrorLogger
    warning); the join strategy is Catalyst's. The join key is a date
    equality the fact side computes map-side."""
    o = load(spark, sf_dir, "orders")
    span = o.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    )
    dim = span.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    attrs = dim.select(
        "d",
        F.dayofweek("d").alias("_dow_sun1"),
        F.month("d").alias("month"),
        F.quarter("d").alias("quarter"),
    ).select(
        "d",
        "month",
        "quarter",
        # ISO weekday (Mon=1..Sun=7) from Spark's Sun=1..Sat=7
        F.when(F.col("_dow_sun1") == 1, 7)
        .otherwise(F.col("_dow_sun1") - 1)
        .cast("int")
        .alias("dow"),
    ).withColumn("is_weekend", F.col("dow") >= 6)
    fact = o.select("o_orderkey", F.to_date("o_orderdate").alias("d"))
    return (
        attrs.join(fact, "d", "left")
        .groupBy("quarter", "is_weekend")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.countDistinct("d").alias("n_days"),
        )
    )
