"""Analytics / profiling queries: funnel conversion, robust outlier
profiling (MAD), fixed-bin histograms, and bigram-LM document scoring.

All four are single-logical-pass DataFrame plans (the funnel is ONE
shuffle on user_id; the histogram is map-side bucketing + one agg;
MAD reuses the scale-guarded percentile machinery; the bigram scorer's
model tables are vocabulary-bounded joins) — the everyday analytics a
training-data platform runs next to its pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import hash60, hash60_duckdb_sql, hash60_spark_sql
from ..operators.ordered import ordered_scan
from .registry import load, register

# ------------------------------------------------------------- funnel

_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
),
u AS (
  SELECT user_id,
         list_sort(list(t) FILTER (WHERE event_type = 'view')) AS vs,
         list_sort(list(t) FILTER (WHERE event_type = 'click')) AS cs,
         list_sort(list(t) FILTER (WHERE event_type = 'purchase')) AS ps
  FROM e GROUP BY user_id
),
s AS (
  SELECT user_id, t1,
         list_min(list_filter(cs, c -> c > t1)) AS t2_,
         list_min(list_filter(ps, p -> p > list_min(list_filter(cs, c -> c > t1)))) AS t3_
  FROM (SELECT user_id, vs[1] AS t1, cs, ps FROM u)
),
st AS (
  SELECT user_id,
         CASE WHEN t3_ IS NOT NULL THEN 3
              WHEN t2_ IS NOT NULL THEN 2
              WHEN t1 IS NOT NULL THEN 1
              ELSE 0 END AS stage,
         CASE WHEN t3_ IS NOT NULL THEN (t3_ - t1) / 1000000.0 END AS conv_s
  FROM s
)
SELECT stage, count(*) AS n_users,
       round(coalesce(avg(conv_s), 0.0), 4) AS avg_conv_s
FROM st GROUP BY stage
"""


@register("funnel_stages", oracle=_FUNNEL_SQL)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase per user, in
    ONE shuffle: collect each user's per-type ordered timestamps in a
    single groupBy, then resolve the strictly-increasing chain with
    array expressions (t2 = first click AFTER the first view, t3 =
    first purchase AFTER t2). No per-stage re-join, no window over the
    event table — per-user state is bounded by that user's event count,
    so the plan survives 100x (skewed users are one hot key, not a
    global sort). Funnel stage + user count + mean view->purchase
    seconds for full converters."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    u = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "view", F.col("t")))
        ).alias("vs"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("t")))
        ).alias("cs"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("t")))
        ).alias("ps"),
    )
    t1 = F.when(F.size("vs") > 0, F.element_at("vs", 1))
    s = u.select(
        "user_id",
        t1.alias("t1"),
        F.array_min(F.filter("cs", lambda c: c > t1)).alias("t2_"),
        "ps",
    )
    s = s.select(
        "user_id",
        "t1",
        "t2_",
        F.array_min(F.filter("ps", lambda p: p > F.col("t2_"))).alias("t3_"),
    )
    st = s.select(
        F.when(F.col("t3_").isNotNull(), 3)
        .when(F.col("t2_").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .alias("stage"),
        F.when(
            F.col("t3_").isNotNull(), (F.col("t3_") - F.col("t1")) / 1000000.0
        ).alias("conv_s"),
    )
    return st.groupBy("stage").agg(
        F.count("*").alias("n_users"),
        F.round(F.coalesce(F.avg("conv_s"), F.lit(0.0)), 4).alias("avg_conv_s"),
    )


# ------------------------------------------------- robust outliers (MAD)

_MAD_SQL = """
WITH med AS (
  SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS med
  FROM lineitem GROUP BY l_returnflag
),
dev AS (
  SELECT l.l_returnflag, abs(l.l_extendedprice - m.med) AS dev
  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
),
mad AS (
  SELECT l_returnflag, round(quantile_cont(dev, 0.5), 4) AS mad
  FROM dev GROUP BY l_returnflag
)
SELECT m.l_returnflag, m.med, a.mad,
       CAST(sum(CASE WHEN abs(l.l_extendedprice - m.med) > 4.4478 * a.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM lineitem l
JOIN med m ON l.l_returnflag = m.l_returnflag
JOIN mad a ON l.l_returnflag = a.l_returnflag
GROUP BY m.l_returnflag, m.med, a.mad
"""


@register("profile_outliers_mad", oracle=_MAD_SQL)
def profile_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier profile: median, MAD (median absolute
    deviation), and the count of |x - med| > 3 * 1.4826 * MAD (=4.4478,
    the normal-consistency robust z > 3 rule). Both medians go through
    the scale-guarded percentile (functions/percentile.py) — the probe
    verdict from the first is REUSED for the second (same grouping, same
    row multiset), so the guard costs one stats lookup, not two. The
    3-row med/mad tables broadcast back onto the scan."""
    from ..functions.percentile import guarded_percentile

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med, chose_exact = guarded_percentile(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        {"med": 0.5},
        cache_key=(sf_dir, "lineitem", "l_returnflag", "l_extendedprice"),
        stats_path=f"{sf_dir}/lineitem.parquet",
    )
    from ..checkpoint import pin

    # pinned: the MAD percentile and the outlier count both read the
    # deviation projection — unpinned, each re-scanned the fact table
    # (4 lineitem scans in the final plan; max_rescan audit, round 7)
    dev = pin(
        li.join(F.broadcast(med), "l_returnflag").select(
            "l_returnflag",
            "l_extendedprice",
            F.abs(F.col("l_extendedprice") - F.col("med")).alias("dev"),
            "med",
        ),
        label="mad_dev",
    )
    mad, _ = guarded_percentile(
        dev,
        ["l_returnflag"],
        "dev",
        {"mad": 0.5},
        exact=chose_exact,
    )
    joined = dev.join(F.broadcast(mad), "l_returnflag")
    return joined.groupBy("l_returnflag", "med", "mad").agg(
        F.sum(
            F.when(F.col("dev") > 4.4478 * F.col("mad"), 1).otherwise(0)
        ).alias("n_outliers"),
        F.count("*").alias("n"),
    )


# ------------------------------------------------------------ histogram

_HIST_LO = 0.0
_HIST_HI = 500.0
_HIST_BINS = 20

_HIST_SQL = f"""
SELECT CAST(least(greatest(floor((value - {_HIST_LO}) /
              ({_HIST_HI} - {_HIST_LO}) * {_HIST_BINS}), 0), {_HIST_BINS - 1}) AS INT)
         AS bucket,
       count(*) AS n, min(value) AS lo, max(value) AS hi
FROM events GROUP BY 1
"""


@register("profile_histogram", oracle=_HIST_SQL)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of events.value (20 bins over [0, 500),
    out-of-range clamped to edge bins): bucketing is a map-side integer
    expression, the aggregate has 20 groups — scan-bound at any SF. The
    literal-bound formula (not width_bucket) keeps the expression
    portable to the oracle engine."""
    ev = load(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(
            F.floor(
                (F.col("value") - F.lit(_HIST_LO))
                / (_HIST_HI - _HIST_LO)
                * _HIST_BINS
            ),
            F.lit(0),
        ),
        F.lit(_HIST_BINS - 1),
    ).cast("int")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


# ------------------------------------------------------ bigram LM score

_BIGRAM_SQL = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
pairs AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
               i -> [w[i], w[i + 1]])) AS p
        FROM tok)
),
uni AS (
  SELECT w1 AS w, count(*)::BIGINT AS cu
  FROM (SELECT w1 FROM pairs UNION ALL
        SELECT w[len(w)] FROM tok WHERE len(w) > 0) t(w1)
  GROUP BY w1
),
v AS (SELECT count(*)::DOUBLE AS nv FROM uni),
big AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM pairs GROUP BY w1, w2),
uv AS (SELECT u.w, u.cu, v.nv FROM uni u, v)
SELECT p.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln((b.cb + 0.5) / (u.cu + 0.5 * u.nv))), 4) AS lm_score
FROM pairs p
JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
JOIN uv u ON p.w1 = u.w
GROUP BY p.doc_id
"""


@register("text_bigram_logprob", oracle=_BIGRAM_SQL)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score per document: add-0.5
    smoothed p(w2|w1) trained on the corpus itself, score = mean log
    prob. The natural next step from text_unigram_logprob — word-order
    sensitivity catches shuffled/garbled text a unigram model scores as
    fluent. Model tables are vocabulary-bounded (unigrams ~V, bigrams
    ~V^2 worst case but Heaps-limited in practice) and broadcast onto
    the corpus-sized pair stream; the 1-row vocab size folds into the
    tiny unigram side first (no corpus-side cross join). Unigram counts
    are CONTEXT counts (every w1 occurrence) plus each doc's final
    token, i.e. every token occurrence — identically stated on both
    engines."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("w"))
    # pinned: the unigram model, bigram model and scoring join all read
    # the pair stream — unpinned each re-tokenized the corpus (6
    # documents scans in the final plan; max_rescan audit, round 7)
    from ..checkpoint import pin

    pairs = pin(
        tok.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1),"
                    " (x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"
                )
            ).alias("p"),
        ).select("doc_id", "p.w1", "p.w2"),
        label="bigram_pairs",
    )
    last_tok = tok.filter(F.size("w") > 0).select(
        F.element_at("w", F.size("w")).alias("w1")
    )
    uni = (
        pairs.select("w1")
        .unionByName(last_tok)
        .groupBy(F.col("w1").alias("w"))
        .agg(F.count("*").alias("cu"))
    )
    v = uni.agg(F.count("*").cast("double").alias("nv"))
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    uv = uni.crossJoin(F.broadcast(v))
    scored = pairs.join(
        F.broadcast(big), ["w1", "w2"]
    ).join(F.broadcast(uv), pairs.w1 == F.col("w"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.avg(
                F.log(
                    (F.col("cb") + 0.5) / (F.col("cu") + 0.5 * F.col("nv"))
                )
            ),
            4,
        ).alias("lm_score"),
    )


# ------------------------------------------------------- session paths

_PATH_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
), paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         count(*) AS path_len
  FROM s GROUP BY user_id, sid
)
SELECT path, count(*) AS n_sessions, CAST(min(path_len) AS BIGINT) AS path_len
FROM paths WHERE path_len <= 4
GROUP BY path HAVING count(*) >= 5
"""


@register("path_session_mining", oracle=_PATH_SQL)
def path_session_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session PATH mining — the click-path report behind funnel
    design: sessionize (30-minute gap rule, same decomposition as
    `sessionize`), concatenate each session's ordered event types into
    a path string, and count sessions per path (short paths, support
    >= 5). Everything partitions on the user key until the final
    path-frequency aggregate, whose cardinality is the path vocabulary,
    not the event count; the in-session order is made total with the
    event_id tie-break so both engines agg the same string."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    s = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | (gap >= 1800000000), 1
        ).otherwise(0),
    ).withColumn("sid", F.sum("new_sess").over(w_run))
    paths = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.unix_micros("ts").alias("t"),
                            F.col("event_id").alias("e"),
                            F.col("event_type").alias("ty"),
                        )
                    )
                ),
                lambda r: r["ty"],
            ),
            ">",
        ).alias("path"),
        F.count("*").alias("path_len"),
    )
    return (
        paths.filter(F.col("path_len") <= 4)
        .groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.min("path_len").cast("bigint").alias("path_len"),
        )
        .filter(F.col("n_sessions") >= 5)
    )


# --------------------------------------------------- A/B test statistic

# shared Spark-SQL / DuckDB formula text over the exact integer moments
# (same discipline as ml_linreg_normal: identical expression tree ->
# bitwise-identical doubles)
_TT_MEAN_A = "(sa / CAST(na AS DOUBLE))"
_TT_MEAN_B = "(sb / CAST(nb AS DOUBLE))"
_TT_VAR_A = f"((qa - sa * {_TT_MEAN_A}) / (na - 1))"
_TT_VAR_B = f"((qb - sb * {_TT_MEAN_B}) / (nb - 1))"
_TT_T = (
    f"(({_TT_MEAN_A} - {_TT_MEAN_B}) / "
    f"sqrt({_TT_VAR_A} / na + {_TT_VAR_B} / nb))"
)

_AB_TEST_SQL = f"""
WITH assign AS (
  SELECT CAST(round(o_totalprice) AS BIGINT) AS y,
         {hash60_duckdb_sql("'ab:' || CAST(o_orderkey AS VARCHAR)")} % 2 = 0 AS is_a
  FROM orders
), m AS (
  SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN is_a THEN y ELSE 0 END) AS sa,
         sum(CASE WHEN is_a THEN y * y ELSE 0 END) AS qa,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb,
         sum(CASE WHEN is_a THEN 0 ELSE y END) AS sb,
         sum(CASE WHEN is_a THEN 0 ELSE y * y END) AS qb
  FROM assign
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round({_TT_MEAN_A}, 4) AS mean_a, round({_TT_MEAN_B}, 4) AS mean_b,
       round({_TT_T}, 4) AS t_welch
FROM m
"""


@register("ab_test_welch", oracle=_AB_TEST_SQL)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t statistic — the A/B experimentation readout:
    orders hash-split 50/50 into variants (the deterministic md5 gate,
    so assignment is rerun-stable and the oracle reproduces it), then
    t = (mean_A - mean_B) / sqrt(s2_A/n_A + s2_B/n_B) computed entirely
    from SIX integer moments (counts, sums, sums of squares in whole
    dollars) accumulated in ONE conditional-aggregation pass — the
    same exact-moments discipline as ml_linreg_normal, so the statistic
    is bitwise reproducible (a float variance accumulated per-partition
    is not). Expect |t| ~ 0 here: the split is independent of the
    metric by construction, which is exactly the A/A sanity reading an
    experimentation platform requires."""
    o = load(spark, sf_dir, "orders")
    is_a = (
        F.pmod(
            hash60(F.concat(F.lit("ab:"), F.col("o_orderkey").cast("string"))),
            F.lit(2),
        )
        == 0
    )
    y = F.round("o_totalprice").cast("bigint")
    m = o.select(is_a.alias("is_a"), y.alias("y")).agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("is_a"), F.col("y")).otherwise(0)).alias("sa"),
        F.sum(
            F.when(F.col("is_a"), F.col("y") * F.col("y")).otherwise(0)
        ).alias("qa"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("nb"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(F.col("y"))).alias("sb"),
        F.sum(
            F.when(F.col("is_a"), 0).otherwise(F.col("y") * F.col("y"))
        ).alias("qb"),
    )
    return m.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        f"round({_TT_MEAN_A}, 4) AS mean_a",
        f"round({_TT_MEAN_B}, 4) AS mean_b",
        f"round({_TT_T}, 4) AS t_welch",
    )


# ------------------------------------------------- CUPED-adjusted A/B test

# shared Spark-SQL / DuckDB formula text over exact integer moments.
# theta and xbar divide to DOUBLE before any multiply, so no integer
# product ever exceeds int64 (n * Sxy would at sf >= 0.01).
_CU_XBAR = "(sx / CAST(n AS DOUBLE))"
_CU_THETA = (
    "((sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE))"
    " * (sy / CAST(n AS DOUBLE)))"
    " / (sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE))"
    " * (sx / CAST(n AS DOUBLE))))"
)
# per-group adjusted sums from exact moments:
#   adj_i = y_i - theta * (x_i - xbar)
#   sum(adj)   = sy_g - theta * (sx_g - n_g * xbar)
#   sum(adj^2) = syy_g + theta^2*sxx_g + n_g*theta^2*xbar^2
#                - 2*theta*sxy_g + 2*theta*xbar*sy_g - 2*theta^2*xbar*sx_g
_CU_SUM = "(sy{g} - th * (sx{g} - n{g} * xb))"
_CU_SUMSQ = (
    "(syy{g} + th * th * sxx{g} + n{g} * th * th * xb * xb"
    " - 2 * th * sxy{g} + 2 * th * xb * sy{g} - 2 * th * th * xb * sx{g})"
)
_CU_MEAN = "({s} / CAST(n{g} AS DOUBLE))"
_CU_VAR = "(({ss} - {s} * {s} / CAST(n{g} AS DOUBLE)) / (n{g} - 1))"


def _cuped_t() -> str:
    sa, sb = _CU_SUM.format(g="a"), _CU_SUM.format(g="b")
    ssa = _CU_SUMSQ.format(g="a")
    ssb = _CU_SUMSQ.format(g="b")
    ma = _CU_MEAN.format(s=sa, g="a")
    mb = _CU_MEAN.format(s=sb, g="b")
    va = _CU_VAR.format(ss=ssa, s=sa, g="a")
    vb = _CU_VAR.format(ss=ssb, s=sb, g="b")
    return f"(({ma} - {mb}) / sqrt({va} / na + {vb} / nb))", ma, mb


_CU_T, _CU_MA, _CU_MB = _cuped_t()

_CUPED_SQL = f"""
WITH unit AS (
  SELECT o_custkey,
         CAST(round(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                        THEN o_totalprice ELSE 0 END)) AS BIGINT) AS x,
         CAST(round(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN o_totalprice ELSE 0 END)) AS BIGINT) AS y,
         {hash60_duckdb_sql("'cuped:' || CAST(o_custkey AS VARCHAR)")} % 2 = 0 AS is_a
  FROM orders GROUP BY o_custkey
), m AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN is_a THEN x ELSE 0 END) AS BIGINT) AS sxa,
         CAST(sum(CASE WHEN is_a THEN y ELSE 0 END) AS BIGINT) AS sya,
         CAST(sum(CASE WHEN is_a THEN x * x ELSE 0 END) AS BIGINT) AS sxxa,
         CAST(sum(CASE WHEN is_a THEN x * y ELSE 0 END) AS BIGINT) AS sxya,
         CAST(sum(CASE WHEN is_a THEN y * y ELSE 0 END) AS BIGINT) AS syya,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x END) AS BIGINT) AS sxb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE y END) AS BIGINT) AS syb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x * x END) AS BIGINT) AS sxxb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x * y END) AS BIGINT) AS sxyb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE y * y END) AS BIGINT) AS syyb
  FROM unit
), d AS (
  SELECT *, {_CU_THETA} AS th, {_CU_XBAR} AS xb FROM m
)
SELECT na AS n_a, nb AS n_b, round(th, 4) AS theta,
       round({_CU_MA}, 4) AS mean_adj_a, round({_CU_MB}, 4) AS mean_adj_b,
       round({_CU_T}, 4) AS t_cuped
FROM d
"""


@register("ab_test_cuped", oracle=_CUPED_SQL)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B statistic (Deng et al., WSDM'13) —
    the experimentation-platform standard: each unit's post-period
    metric is adjusted by its PRE-period covariate,
    adj = y - theta*(x - xbar) with theta = cov(x,y)/var(x), which
    shrinks variance by the squared pre/post correlation and leaves
    the treatment-effect estimate unbiased (assignment can't depend on
    the pre-period). Everything — theta, the adjusted group means, and
    the Welch t over adjusted values — is ALGEBRAICALLY EXPANDED into
    sixteen exact integer moments (whole-dollar sums, sums of squares
    and cross-products per group) accumulated in one conditional-
    aggregation pass over the per-customer pre/post rollup: two
    shuffles total (customer rollup, then the 1-row moment fold), no
    per-unit adjusted column ever materializes, and the statistic is
    bitwise reproducible because every double derives from the same
    expression tree over the same exact integers (ab_test_welch's
    discipline, extended to the covariate algebra). Ratios divide to
    DOUBLE before any multiply so no int64 product overflows at
    scale."""
    o = load(spark, sf_dir, "orders")
    unit = o.groupBy("o_custkey").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
                    F.col("o_totalprice"),
                ).otherwise(0.0)
            )
        )
        .cast("bigint")
        .alias("x"),
        F.round(
            F.sum(
                F.when(
                    F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"),
                    F.col("o_totalprice"),
                ).otherwise(0.0)
            )
        )
        .cast("bigint")
        .alias("y"),
    ).select(
        "x",
        "y",
        (
            F.pmod(
                hash60(
                    F.concat(F.lit("cuped:"), F.col("o_custkey").cast("string"))
                ),
                F.lit(2),
            )
            == 0
        ).alias("is_a"),
    )
    ag = F.when(F.col("is_a"), F.lit(1)).otherwise(0)

    def _g(expr, grp):
        cond = F.col("is_a") if grp == "a" else ~F.col("is_a")
        return F.sum(F.when(cond, expr).otherwise(F.lit(0)))

    m = unit.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(ag).alias("na"),
        _g(F.col("x"), "a").alias("sxa"),
        _g(F.col("y"), "a").alias("sya"),
        _g(F.col("x") * F.col("x"), "a").alias("sxxa"),
        _g(F.col("x") * F.col("y"), "a").alias("sxya"),
        _g(F.col("y") * F.col("y"), "a").alias("syya"),
        F.sum(1 - ag).alias("nb"),
        _g(F.col("x"), "b").alias("sxb"),
        _g(F.col("y"), "b").alias("syb"),
        _g(F.col("x") * F.col("x"), "b").alias("sxxb"),
        _g(F.col("x") * F.col("y"), "b").alias("sxyb"),
        _g(F.col("y") * F.col("y"), "b").alias("syyb"),
    )
    d = m.selectExpr("*", f"{_CU_THETA} AS th", f"{_CU_XBAR} AS xb")
    return d.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        "round(th, 4) AS theta",
        f"round({_CU_MA}, 4) AS mean_adj_a",
        f"round({_CU_MB}, 4) AS mean_adj_b",
        f"round({_CU_T}, 4) AS t_cuped",
    )


# ----------------------------------------- delta-method ratio-metric test

# ratio metric R = sum(y)/sum(x) per variant; delta-method variance of R:
#   var(R) ~ (syy - 2*R*sxy + R^2*sxx - n*(ybar - R*xbar)^2)
#            / ((n - 1) * n * xbar^2)
# (the sample variance of the linearized residuals y_i - R*x_i, scaled)
_RD_R = "(sy{g} / CAST(sx{g} AS DOUBLE))"
_RD_XBAR = "(sx{g} / CAST(n{g} AS DOUBLE))"
_RD_YBAR = "(sy{g} / CAST(n{g} AS DOUBLE))"
_RD_VAR = (
    "((syy{g} - 2 * {r} * sxy{g} + {r} * {r} * sxx{g}"
    " - n{g} * ({yb} - {r} * {xb}) * ({yb} - {r} * {xb}))"
    " / ((n{g} - 1) * n{g} * {xb} * {xb}))"
)


def _rd_terms(g: str) -> tuple[str, str]:
    r = _RD_R.format(g=g)
    var = _RD_VAR.format(
        g=g, r=r, xb=_RD_XBAR.format(g=g), yb=_RD_YBAR.format(g=g)
    )
    return r, var


_RD_RA, _RD_VA = _rd_terms("a")
_RD_RB, _RD_VB = _rd_terms("b")
_RD_T = f"(({_RD_RA} - {_RD_RB}) / sqrt({_RD_VA} + {_RD_VB}))"

_RATIO_DELTA_SQL = f"""
WITH unit AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y,
         {hash60_duckdb_sql("'rd:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS is_a
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN is_a THEN x ELSE 0 END) AS BIGINT) AS sxa,
         CAST(sum(CASE WHEN is_a THEN y ELSE 0 END) AS BIGINT) AS sya,
         CAST(sum(CASE WHEN is_a THEN x * x ELSE 0 END) AS BIGINT) AS sxxa,
         CAST(sum(CASE WHEN is_a THEN x * y ELSE 0 END) AS BIGINT) AS sxya,
         CAST(sum(CASE WHEN is_a THEN y * y ELSE 0 END) AS BIGINT) AS syya,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x END) AS BIGINT) AS sxb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE y END) AS BIGINT) AS syb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x * x END) AS BIGINT) AS sxxb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x * y END) AS BIGINT) AS sxyb,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE y * y END) AS BIGINT) AS syyb
  FROM unit
)
SELECT na AS n_a, nb AS n_b,
       round({_RD_RA}, 4) AS ratio_a, round({_RD_RB}, 4) AS ratio_b,
       round({_RD_T}, 4) AS t_delta
FROM m
"""


@register("agg_ratio_delta_test", oracle=_RATIO_DELTA_SQL)
def agg_ratio_delta_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method test for a RATIO metric (revenue per event) — the
    experimentation statistic naive per-row t-tests get wrong: the
    unit of randomization is the USER but the metric divides two
    user-level sums, so var(R) must come from the delta-method
    linearization var(y - R*x) / (n * xbar^2), not from treating rows
    as independent (Deng et al., KDD'18 practice). Like ab_test_welch
    and ab_test_cuped, the whole statistic — both ratios, both
    linearized variances, the t — expands into twelve exact integer
    moments (event counts, revenue cents, squares, cross-products per
    variant) from ONE conditional-aggregation pass over the per-user
    rollup; bitwise reproducible, two shuffles total at any scale."""
    ev = load(spark, sf_dir, "events")
    unit = ev.groupBy("user_id").agg(
        F.count("*").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("y"),
    ).select(
        "x",
        "y",
        (
            F.pmod(
                hash60(F.concat(F.lit("rd:"), F.col("user_id").cast("string"))),
                F.lit(2),
            )
            == 0
        ).alias("is_a"),
    )

    def _g(expr, grp):
        cond = F.col("is_a") if grp == "a" else ~F.col("is_a")
        return F.sum(F.when(cond, expr).otherwise(F.lit(0)))

    m = unit.agg(
        _g(F.lit(1), "a").alias("na"),
        _g(F.col("x"), "a").alias("sxa"),
        _g(F.col("y"), "a").alias("sya"),
        _g(F.col("x") * F.col("x"), "a").alias("sxxa"),
        _g(F.col("x") * F.col("y"), "a").alias("sxya"),
        _g(F.col("y") * F.col("y"), "a").alias("syya"),
        _g(F.lit(1), "b").alias("nb"),
        _g(F.col("x"), "b").alias("sxb"),
        _g(F.col("y"), "b").alias("syb"),
        _g(F.col("x") * F.col("x"), "b").alias("sxxb"),
        _g(F.col("x") * F.col("y"), "b").alias("sxyb"),
        _g(F.col("y") * F.col("y"), "b").alias("syyb"),
    )
    return m.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        f"round({_RD_RA}, 4) AS ratio_a",
        f"round({_RD_RB}, 4) AS ratio_b",
        f"round({_RD_T}, 4) AS t_delta",
    )


# ------------------------------------------- CUSUM changepoint detection

_CUSUM_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS series, o_orderdate::DATE AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), stats AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy
  FROM daily GROUP BY series
), dev AS (
  SELECT d.series, d.day, d.y,
         CAST(s.n AS BIGINT) AS n,
         d.y * s.n - s.sy AS dev_scaled
  FROM daily d JOIN stats s ON d.series = s.series
), cusum AS (
  SELECT series, day, n,
         sum(dev_scaled) OVER (PARTITION BY series ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM dev
)
SELECT series, strftime(day, '%Y-%m-%d') AS changepoint_day,
       CAST(abs_c AS BIGINT) AS cusum_peak_scaled, n AS n_days
FROM (
  SELECT series, day, n, abs(c) AS abs_c,
         row_number() OVER (PARTITION BY series
                            ORDER BY abs(c) DESC, day) AS rn
  FROM cusum
) WHERE rn = 1
"""


@register("ts_changepoint_cusum", oracle=_CUSUM_SQL)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series (Page 1954): the argmax
    of |cumulative deviation from the series mean| locates the most
    likely level-shift day — the alerting primitive behind 'revenue
    regime changed on the 14th'. The mean-deviation is kept EXACT by
    scaling: dev = y*n - sum(y) (integer dollars times day count, no
    division), so the running sum and its argmax are pure int64
    arithmetic — a float mean would make the changepoint location
    depend on rounding. One daily rollup, one broadcast of the per-
    series (n, sum), one series-partitioned window, one argmax
    window — all keyed by series, never global."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(F.round("o_totalprice").cast("bigint")).alias("y"))
    stats = daily.groupBy("series").agg(
        F.count("*").alias("n"), F.sum("y").alias("sy")
    )
    dev = daily.join(F.broadcast(stats), "series").select(
        "series",
        "day",
        "n",
        (F.col("y") * F.col("n") - F.col("sy")).alias("dev_scaled"),
    )
    wc = W.partitionBy("series").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cusum = dev.withColumn("c", F.sum("dev_scaled").over(wc))
    wbest = W.partitionBy("series").orderBy(F.desc(F.abs(F.col("c"))), "day")
    return (
        cusum.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "series",
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.abs("c").cast("bigint").alias("cusum_peak_scaled"),
            F.col("n").cast("bigint").alias("n_days"),
        )
    )


# ------------------------------------------- deterministic Poisson bootstrap

_BOOT_B = 8
# Poisson(1) CDF thresholds scaled to the hash gate's 1e6 grid
_BOOT_CDF = (367879, 735759, 919699, 981012, 996340)


def _boot_weight_sql(r: int, dialect: str = "duckdb") -> str:
    """Copies of a unit in resample r: inverse-CDF of Poisson(1) on the
    md5 uniform. The hash60 value is bitwise identical across engines
    (functions/hashing.py); only the cast/concat spelling differs."""
    if dialect == "duckdb":
        h = hash60_duckdb_sql(f"'boot{r}:' || CAST(o_custkey AS VARCHAR)")
    else:
        h = hash60_spark_sql(f"concat('boot{r}:', cast(o_custkey as string))")
    u = f"({h} % 1000000)"
    return (
        f"(CASE WHEN {u} < {_BOOT_CDF[0]} THEN 0"
        f" WHEN {u} < {_BOOT_CDF[1]} THEN 1"
        f" WHEN {u} < {_BOOT_CDF[2]} THEN 2"
        f" WHEN {u} < {_BOOT_CDF[3]} THEN 3"
        f" ELSE 4 END)"
    )


def _boot_mean(r: int) -> str:
    return f"(wy{r} / CAST(nullif(wn{r}, 0) AS DOUBLE))"


def _bootstrap_sql() -> str:
    ws = ",\n".join(
        f"         CAST(sum({_boot_weight_sql(r)} * y) AS BIGINT) AS wy{r},\n"
        f"         CAST(sum({_boot_weight_sql(r)}) AS BIGINT) AS wn{r}"
        for r in range(1, _BOOT_B + 1)
    )
    means = [f"{_boot_mean(r)}" for r in range(1, _BOOT_B + 1)]
    mbar = "((" + " + ".join(means) + f") / {_BOOT_B}.0)"
    var = (
        "(("
        + " + ".join(f"({m} - {mbar}) * ({m} - {mbar})" for m in means)
        + f") / {_BOOT_B - 1}.0)"
    )
    lo = "least(" + ", ".join(means) + ")"
    hi = "greatest(" + ", ".join(means) + ")"
    return f"""
WITH unit AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders GROUP BY o_custkey
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
{ws}
  FROM unit
)
SELECT n AS n_units,
       round(sy / CAST(n AS DOUBLE), 4) AS point_mean,
       round({mbar}, 4) AS boot_mean,
       round(sqrt({var}), 4) AS boot_se,
       round({lo}, 4) AS boot_lo, round({hi}, 4) AS boot_hi
FROM m
"""


@register("ab_bootstrap_ci", oracle=_bootstrap_sql())
def ab_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (Chamandy et al., Google 2012 —
    the resampling scheme that works in ONE distributed pass): each
    unit's copy-count in resample r is the inverse-CDF of Poisson(1)
    applied to a keyed md5 uniform, so all B=8 resamples are
    conditional aggregations of the SAME scan (8 weight columns, no
    data duplication, no RNG state — reruns and the oracle reproduce
    every resample exactly). Resample means, their spread (the
    bootstrap SE), and min/max envelope derive from exact integer
    (weight x cents) sums through one shared expression tree. This is
    how you put an error bar on a 100 TB statistic without sampling
    infrastructure: the bootstrap IS the aggregation."""
    o = load(spark, sf_dir, "orders")
    unit = o.groupBy("o_custkey").agg(
        F.sum(F.round("o_totalprice").cast("bigint")).alias("y")
    )
    aggs = [
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
    ]
    for r in range(1, _BOOT_B + 1):
        w = F.expr(_boot_weight_sql(r, dialect="spark"))
        aggs.append(F.sum(w * F.col("y")).alias(f"wy{r}"))
        aggs.append(F.sum(w).alias(f"wn{r}"))
    m = unit.agg(*aggs)
    means = [_boot_mean(r) for r in range(1, _BOOT_B + 1)]
    mbar = "((" + " + ".join(means) + f") / {_BOOT_B}.0)"
    var = (
        "(("
        + " + ".join(f"({x} - {mbar}) * ({x} - {mbar})" for x in means)
        + f") / {_BOOT_B - 1}.0)"
    )
    lo = "least(" + ", ".join(means) + ")"
    hi = "greatest(" + ", ".join(means) + ")"
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_units",
        "round(sy / CAST(n AS DOUBLE), 4) AS point_mean",
        f"round({mbar}, 4) AS boot_mean",
        f"round(sqrt({var}), 4) AS boot_se",
        f"round({lo}, 4) AS boot_lo",
        f"round({hi}, 4) AS boot_hi",
    )


# ------------------------------------------- Markov transition matrix

_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), trans AS (
  SELECT event_type AS from_state, next_type AS to_state, count(*) AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), totals AS (
  SELECT from_state, CAST(sum(c) AS BIGINT) AS row_total
  FROM trans GROUP BY from_state
)
SELECT t.from_state, t.to_state, CAST(t.c AS BIGINT) AS n,
       round(t.c / CAST(tt.row_total AS DOUBLE), 4) AS p
FROM trans t JOIN totals tt ON t.from_state = tt.from_state
"""


@register("path_transition_matrix", oracle=_TRANSITION_SQL)
def path_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams —
    the state model behind next-action prediction and Markov
    attribution (removal effects start from exactly this table): per
    user the lead() pairs consecutive events (one entity-partitioned
    window), transitions aggregate with map-side combine, and row
    normalization joins the |states|-row totals back. The matrix is
    |states|^2 rows regardless of corpus size — the entire model fits
    in a broadcast forever."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_state"),
        F.col("next_type").alias("to_state"),
    ).agg(F.count("*").alias("c"))
    totals = trans.groupBy("from_state").agg(F.sum("c").alias("row_total"))
    return trans.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        F.col("c").alias("n"),
        F.round(F.col("c") / F.col("row_total").cast("double"), 4).alias("p"),
    )


# ------------------------------------------- weighted median per group

_WMEDIAN_SQL = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS v,
         CAST(round(l_quantity) AS BIGINT) AS wt
  FROM lineitem
), cum AS (
  SELECT l_returnflag, v, wt,
         sum(wt) OVER (PARTITION BY l_returnflag
                       ORDER BY v, wt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag, min(v) AS weighted_median,
       CAST(any_value(tw) AS BIGINT) AS total_weight
FROM cum WHERE cw * 2 >= tw
GROUP BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_SQL)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median per group (price weighted by quantity): the
    smallest value whose cumulative weight reaches half the group
    total — the statistic unweighted percentile_cont gets wrong
    whenever rows represent different masses (a 100-unit line must
    pull the median 100x harder than a 1-unit line). One
    group-partitioned cumulative-weight window with a deterministic
    (value, weight) order, integer weights so the half-total
    comparison is exact (cw*2 >= tw avoids the float half), and a
    min() to pick the crossing value. Same shape at any group count;
    a single giant group falls back to ordered_scan's global running
    sum."""
    li = load(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.round("l_quantity").cast("bigint").alias("wt"),
    )
    wc = W.partitionBy("l_returnflag").orderBy("v", "wt").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wt_all = W.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "v",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt_all).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.first("tw").alias("total_weight"),
        )
    )


# ------------------------------------------- Kaplan-Meier survival curve

_KM_SQL = """
WITH life AS (
  SELECT user_id,
         CAST(min(ts)::DATE AS DATE) AS birth,
         CAST(max(ts)::DATE AS DATE) AS death
  FROM events GROUP BY user_id
), spanend AS (
  SELECT max(death) AS horizon FROM life
), deaths AS (
  -- users whose last activity precedes the horizon churned that day;
  -- users active on the horizon are right-censored
  SELECT l.death AS day, count(*) AS d
  FROM life l CROSS JOIN spanend s
  WHERE l.death < s.horizon
  GROUP BY l.death
), risk AS (
  SELECT d1.day, d1.d,
         (SELECT count(*) FROM life l WHERE l.death >= d1.day) AS n_risk
  FROM deaths d1
), terms AS (
  SELECT day, d, n_risk,
         CAST(round(ln(1.0 - d / CAST(n_risk AS DOUBLE)) * 1000000)
              AS BIGINT) AS lnfp
  FROM risk WHERE d < n_risk
)
SELECT strftime(day, '%Y-%m-%d') AS day, CAST(d AS BIGINT) AS n_churned,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       round(exp(CAST(sum(lnfp) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         / 1000000.0), 4) AS survival
FROM terms
"""


@register("ts_survival_km", oracle=_KM_SQL)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user retention: S(t) =
    prod over churn days (1 - d_i / n_i), with users still active at
    the observation horizon right-censored (the estimator's whole
    point — naive churn rates over-count the still-alive). The
    product telescopes in LOG space: per-day ln(1 - d/n) terms are
    fixed-pointed to 1e-6 integers, the running product becomes an
    exact integer cumsum over the ~#days-sized day table (the window
    runs over event DAYS, never events — tiny at any corpus size,
    so the unpartitioned frame is bounded by the calendar), and one
    exp() per row recovers S(t). Lifetimes are one groupBy; the risk
    set is N_total minus the prefix sum of earlier deaths — the
    counting identity that replaces the quadratic death >= day theta
    join a naive formulation writes."""
    from ..checkpoint import pin

    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.to_date(F.max("ts")).alias("death")
    )
    life = pin(life, label="km_life")
    horizon = life.agg(F.max("death").alias("horizon"))
    deaths = (
        life.crossJoin(F.broadcast(horizon))
        .filter(F.col("death") < F.col("horizon"))
        .groupBy(F.col("death").alias("day"))
        .agg(F.count("*").alias("d"))
    )
    # risk set WITHOUT a theta join (quadratic in users): everyone with
    # death >= day is at risk, i.e. N_total minus the deaths on earlier
    # days — a prefix sum over the #churn-days table + one 1-row count
    n_total = life.agg(F.count("*").alias("n_total"))
    w_prev = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    risk = deaths.crossJoin(F.broadcast(n_total)).select(
        "day",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("d").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    lnfp = F.round(
        F.log(1.0 - F.col("d") / F.col("n_risk").cast("double")) * 1000000
    ).cast("bigint")
    terms = risk.filter(F.col("d") < F.col("n_risk")).select(
        "day", "d", "n_risk", lnfp.alias("lnfp")
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return terms.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("d").alias("n_churned"),
        F.col("n_risk").alias("n_at_risk"),
        F.round(
            F.exp(F.sum("lnfp").over(wcum).cast("bigint") / 1000000.0), 4
        ).alias("survival"),
    )


# --------------------------------- Markov removal-effect attribution

_MRK_STEPS = 12
_MRK_CHANNELS = ("click", "error", "signup", "view")
_MRK_FP = 1_000_000


def _mrk_base_cte() -> str:
    """Shared path -> transition-matrix SQL (DuckDB): paths truncate at
    the first purchase, start -> first event, last non-purchase -> null."""
    return f"""
ordered AS MATERIALIZED (
  SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS pos
  FROM events
),
cut AS MATERIALIZED (
  SELECT user_id, min(pos) AS ppos FROM ordered
  WHERE event_type = 'purchase' GROUP BY user_id
),
path AS MATERIALIZED (
  SELECT o.user_id, o.event_type, o.pos,
         max(o.pos) OVER (PARTITION BY o.user_id) AS last_pos
  FROM ordered o LEFT JOIN cut c ON o.user_id = c.user_id
  WHERE c.ppos IS NULL OR o.pos <= c.ppos
),
edges AS MATERIALIZED (
  SELECT 'start' AS s, event_type AS t FROM path WHERE pos = 1
  UNION ALL
  SELECT p.event_type, n.event_type FROM path p
  JOIN path n ON p.user_id = n.user_id AND n.pos = p.pos + 1
  UNION ALL
  SELECT event_type, 'null' FROM path
  WHERE pos = last_pos AND event_type <> 'purchase'
),
tc AS MATERIALIZED (
  SELECT s, t, count(*) AS c FROM edges GROUP BY s, t
),
tp AS MATERIALIZED (
  SELECT s, t, CAST(round(c * {_MRK_FP}.0 / sum(c) OVER (PARTITION BY s))
                    AS BIGINT) AS p_fp
  FROM tc
),
variants AS MATERIALIZED (
  SELECT unnest(['base', {", ".join(repr(c) for c in _MRK_CHANNELS)}]) AS variant
),
mat AS MATERIALIZED (
  SELECT v.variant, tp.s,
         CASE WHEN tp.t = v.variant THEN 'null' ELSE tp.t END AS t,
         CAST(sum(tp.p_fp) AS BIGINT) AS p_fp
  FROM variants v CROSS JOIN tp
  WHERE tp.s <> v.variant
  GROUP BY v.variant, tp.s, 3
  UNION ALL
  SELECT variant, 'purchase', 'purchase', {_MRK_FP} FROM variants
  UNION ALL
  SELECT variant, 'null', 'null', {_MRK_FP} FROM variants
  UNION ALL
  SELECT variant, variant, 'null', {_MRK_FP} FROM variants
  WHERE variant <> 'base'
),
v0 AS MATERIALIZED (
  SELECT variant, 'start' AS state, CAST({_MRK_FP} AS BIGINT) AS v_fp
  FROM variants
)"""


def _mrk_sql() -> str:
    steps = []
    for i in range(1, _MRK_STEPS + 1):
        steps.append(
            f"""
v{i} AS MATERIALIZED (
  SELECT v.variant, m.t AS state,
         CAST(round(sum(v.v_fp * m.p_fp) / {_MRK_FP}.0) AS BIGINT) AS v_fp
  FROM v{i - 1} v JOIN mat m ON v.variant = m.variant AND v.state = m.s
  GROUP BY v.variant, m.t
)"""
        )
    return (
        "WITH "
        + _mrk_base_cte().strip()
        + ","
        + ",".join(s.strip() for s in steps)
        + f"""
SELECT f.variant,
       round(f.v_fp / {_MRK_FP}.0, 4) AS conv_prob,
       round((b.v_fp - f.v_fp) / CAST(b.v_fp AS DOUBLE), 4) AS removal_effect
FROM v{_MRK_STEPS} f
JOIN (SELECT v_fp FROM v{_MRK_STEPS}
      WHERE variant = 'base' AND state = 'purchase') b ON TRUE
WHERE f.state = 'purchase'
"""
    )


@register("path_markov_attribution", oracle=_mrk_sql())
def path_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014 — the
    data-driven alternative to last-touch): build the absorbing
    journey chain (start -> events -> purchase/null, truncated at the
    first conversion), then for each channel ask what conversion
    probability REMAINS when that channel's node routes to null — the
    removal effect that prices the channel. Absorption probabilities
    come from {_MRK_STEPS} bounded power-iteration steps of the tiny
    state vector against the (variant, state, state) matrix — all
    five variants advance in ONE joined chain (the matrix is
    states^2 x variants rows = broadcastable forever; the corpus is
    touched ONCE to count transitions), with vector mass fixed-pointed
    so every step is an exact integer aggregation. The oracle unrolls
    all steps as MATERIALIZED CTEs."""
    from ..checkpoint import pin

    ev = load(spark, sf_dir, "events")
    wp = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(wp).alias("pos")
    )
    cut = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("pos").alias("ppos"))
    )
    path = (
        ordered.join(cut, "user_id", "left")
        .filter(F.col("ppos").isNull() | (F.col("pos") <= F.col("ppos")))
        .withColumn("last_pos", F.max("pos").over(W.partitionBy("user_id")))
    )
    path = pin(path, label="markov_path")
    nxt = path.select(
        "user_id",
        F.col("event_type").alias("nt"),
        (F.col("pos") - 1).alias("ppos2"),
    )
    edges = (
        path.filter(F.col("pos") == 1)
        .select(F.lit("start").alias("s"), F.col("event_type").alias("t"))
        .unionByName(
            path.join(
                nxt,
                (path.user_id == nxt.user_id) & (path.pos == nxt.ppos2),
            ).select(F.col("event_type").alias("s"), F.col("nt").alias("t"))
        )
        .unionByName(
            path.filter(
                (F.col("pos") == F.col("last_pos"))
                & (F.col("event_type") != "purchase")
            ).select(F.col("event_type").alias("s"), F.lit("null").alias("t"))
        )
    )
    tc = edges.groupBy("s", "t").agg(F.count("*").alias("c"))
    tp = tc.select(
        "s",
        "t",
        F.round(
            F.col("c") * float(_MRK_FP) / F.sum("c").over(W.partitionBy("s"))
        )
        .cast("bigint")
        .alias("p_fp"),
    )
    variants = ev.sparkSession.createDataFrame(
        [("base",)] + [(c,) for c in _MRK_CHANNELS], ["variant"]
    )
    redirected = (
        variants.crossJoin(tp)
        .filter(F.col("s") != F.col("variant"))
        .select(
            "variant",
            "s",
            F.when(F.col("t") == F.col("variant"), "null")
            .otherwise(F.col("t"))
            .alias("t"),
            "p_fp",
        )
        .groupBy("variant", "s", "t")
        .agg(F.sum("p_fp").alias("p_fp"))
    )
    absorbing = variants.select(
        "variant", F.lit("purchase").alias("s"), F.lit("purchase").alias("t"),
        F.lit(_MRK_FP).cast("bigint").alias("p_fp"),
    ).unionByName(
        variants.select(
            "variant", F.lit("null").alias("s"), F.lit("null").alias("t"),
            F.lit(_MRK_FP).cast("bigint").alias("p_fp"),
        )
    ).unionByName(
        variants.filter(F.col("variant") != "base").select(
            "variant", F.col("variant").alias("s"), F.lit("null").alias("t"),
            F.lit(_MRK_FP).cast("bigint").alias("p_fp"),
        )
    )
    mat = pin(redirected.unionByName(absorbing), label="markov_mat")
    v = variants.select(
        "variant", F.lit("start").alias("state"),
        F.lit(_MRK_FP).cast("bigint").alias("v_fp"),
    )
    mstep = mat.select(
        F.col("variant").alias("m_variant"),
        F.col("s").alias("m_s"),
        "t",
        "p_fp",
    )
    for i in range(1, _MRK_STEPS + 1):
        v = (
            v.join(
                mstep,
                (F.col("variant") == F.col("m_variant"))
                & (F.col("state") == F.col("m_s")),
            )
            .groupBy("variant", F.col("t"))
            .agg(
                F.round(F.sum(F.col("v_fp") * F.col("p_fp")) / float(_MRK_FP))
                .cast("bigint")
                .alias("v_fp")
            )
            .select("variant", F.col("t").alias("state"), "v_fp")
        )
        v = pin(v, label=f"markov_v{i}")
    final = v.filter(F.col("state") == "purchase")
    base = final.filter(F.col("variant") == "base").select(
        F.col("v_fp").alias("b_fp")
    )
    return final.crossJoin(F.broadcast(base)).select(
        "variant",
        F.round(F.col("v_fp") / float(_MRK_FP), 4).alias("conv_prob"),
        F.round(
            (F.col("b_fp") - F.col("v_fp")) / F.col("b_fp").cast("double"), 4
        ).alias("removal_effect"),
    )


# ------------------------------------------- autocorrelation function

_ACF_MAX_LAG = 14

_ACF_SQL = f"""
WITH daily AS (
  SELECT o_orderdate::DATE AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM daily
), lags AS (
  SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag
), prod AS (
  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
         CAST(sum(a.y) AS BIGINT) AS sa, CAST(sum(b.y) AS BIGINT) AS sb
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
  GROUP BY l.lag
)
SELECT p.lag, p.n_pairs,
       round((p.sxy / CAST(p.n_pairs AS DOUBLE)
              - (p.sa / CAST(p.n_pairs AS DOUBLE))
                * (p.sb / CAST(p.n_pairs AS DOUBLE)))
             / (m.syy / CAST(m.n AS DOUBLE)
                - (m.sy / CAST(m.n AS DOUBLE)) * (m.sy / CAST(m.n AS DOUBLE))),
             4) + 0 AS acf
FROM prod p CROSS JOIN m
"""


@register("ts_autocorrelation", oracle=_ACF_SQL)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..14 — the
    seasonality detector (a spike at lag 7 = weekly cycle) that decides
    whether ts_seasonal_naive_eval's lag is the right baseline. Lagged
    pairs come from an equi-join on day+lag (the day-grain table is
    calendar-bounded, so the 14-lag expansion is tiny at any corpus
    size); per-lag cross moments and the global variance are exact
    integer sums; each ACF value is one shared moments expression with
    the +0 negative-zero guard. No window over raw events — the rollup
    happens first, the lag algebra runs on days."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round("o_totalprice").cast("bigint")).alias("y")
    )
    from ..checkpoint import pin

    daily = pin(daily, label="acf_daily")
    m = daily.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    lags = daily.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("y").alias("ay"))
    b = daily.select(F.col("day").alias("b_day"), F.col("y").alias("by"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("b_day = date_add(a_day, lag)"))
    )
    prod = pairs.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("ay") * F.col("by")).alias("sxy"),
        F.sum("ay").alias("sa"),
        F.sum("by").alias("sb"),
    )
    return prod.crossJoin(F.broadcast(m)).selectExpr(
        "lag",
        "n_pairs",
        "round((sxy / CAST(n_pairs AS DOUBLE)"
        " - (sa / CAST(n_pairs AS DOUBLE)) * (sb / CAST(n_pairs AS DOUBLE)))"
        " / (syy / CAST(n AS DOUBLE)"
        " - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE))), 4) + 0"
        " AS acf",
    )


# ------------------------------------------- new vs returning users

_NVR_SQL = """
WITH seen AS (
  SELECT user_id, ts::DATE AS day FROM events GROUP BY user_id, ts::DATE
), first_day AS (
  SELECT user_id, min(day) AS fday FROM seen GROUP BY user_id
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN s.day = f.fday THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN s.day = f.fday THEN 0 ELSE 1 END) AS BIGINT)
         AS n_returning
FROM seen s JOIN first_day f ON s.user_id = f.user_id
GROUP BY s.day
"""


@register("agg_new_vs_returning", oracle=_NVR_SQL)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the top-line growth metric:
    a user is 'new' only on their first-ever active day. The first-
    occurrence decomposition (win_running_distinct / text_vocab_growth
    's trick): per-user first day is ONE aggregation, joined back on
    the user key, so no window ever scans a user's full history per
    row. Two shuffles on user_id (both with map-side combine), one
    final day rollup."""
    ev = load(spark, sf_dir, "events")
    seen = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_day = seen.groupBy("user_id").agg(F.min("day").alias("fday"))
    is_new = F.when(F.col("day") == F.col("fday"), 1).otherwise(0)
    return (
        seen.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(is_new).alias("n_new"),
            F.sum(1 - is_new).alias("n_returning"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_active",
            "n_new",
            "n_returning",
        )
    )


# ------------------------------------------- longest activity streaks

_STREAK_SQL = """
WITH seen AS (
  SELECT user_id, ts::DATE AS day FROM events GROUP BY user_id, ts::DATE
), isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS grp
  FROM seen
), streaks AS (
  SELECT user_id, grp, count(*) AS len,
         strftime(min(day), '%Y-%m-%d') AS streak_start
  FROM isl GROUP BY user_id, grp
)
SELECT user_id, CAST(len AS BIGINT) AS longest_streak, streak_start
FROM (
  SELECT user_id, len, streak_start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, streak_start) AS rn
  FROM streaks
) WHERE rn = 1
"""


@register("win_activity_streaks", oracle=_STREAK_SQL)
def win_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (engagement /
    gamification metric) via the date-minus-row-number islands trick:
    consecutive days share (day - rank), so maximal runs fall out of
    ONE user-partitioned window plus a groupBy — no self-join on
    day+1 chains and no iteration. Tie-break on earliest start. All
    windows partition on the entity; state per user is their distinct
    active days."""
    ev = load(spark, sf_dir, "events")
    seen = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    isl = seen.withColumn(
        "grp", F.date_sub("day", F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
    )
    wbest = W.partitionBy("user_id").orderBy(F.desc("len"), "streak_start")
    return (
        streaks.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("len").alias("longest_streak"), "streak_start")
    )


# ------------------------------------------- RFM segmentation

_RFM_SQL = """
WITH horizon AS (
  SELECT max(o_orderdate::DATE) AS h FROM orders
), rfm AS (
  SELECT o_custkey,
         CAST(h.h - max(o.o_orderdate::DATE) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
           AS monetary
  FROM orders o CROSS JOIN horizon h
  GROUP BY o_custkey, h.h
), cuts AS (
  SELECT round(quantile_cont(recency_days, 0.5), 4) AS r_med,
         round(quantile_cont(frequency, 0.5), 4) AS f_med,
         round(quantile_cont(monetary, 0.5), 4) AS m_med
  FROM rfm
)
SELECT (CASE WHEN r.recency_days <= c.r_med THEN 'R+' ELSE 'R-' END)
       || (CASE WHEN r.frequency > c.f_med THEN 'F+' ELSE 'F-' END)
       || (CASE WHEN r.monetary > c.m_med THEN 'M+' ELSE 'M-' END)
         AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(r.monetary) AS BIGINT) AS segment_revenue
FROM rfm r CROSS JOIN cuts c
GROUP BY 1
"""


@register("agg_rfm_segmentation", oracle=_RFM_SQL)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary per
    customer split at the exact MEDIAN of each dimension into the 8
    classic segments (R+F+M+ champions ... R-F-M- lapsed) with
    per-segment size and revenue. The per-customer rollup is one
    shuffle; the three medians go through the scale-guarded exact
    percentile (the 3-row cut table broadcasts back, so scoring is
    map-side CASE logic — never a global ntile window over the
    customer table, which is the naive RFM plan that dies at scale).
    Revenue stays integer dollars."""
    from ..checkpoint import pin

    o = load(spark, sf_dir, "orders")
    horizon = o.agg(F.to_date(F.max("o_orderdate")).alias("h"))
    # per-customer rollup FIRST (one fact scan), horizon folded onto
    # the customer-sized aggregate, and the result PINNED: the median
    # cuts and the segment scoring both read it — unpinned, the fact
    # table re-scanned 4x (max_rescan audit, round 7)
    per_cust = o.groupBy("o_custkey").agg(
        F.to_date(F.max("o_orderdate")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.round("o_totalprice").cast("bigint")).alias("monetary"),
    )
    rfm = pin(
        per_cust.crossJoin(F.broadcast(horizon)).select(
            "o_custkey",
            F.datediff("h", "last_order").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        ),
        label="rfm_rollup",
    )
    cuts = rfm.agg(
        F.round(F.expr("percentile(recency_days, 0.5)"), 4).alias("r_med"),
        F.round(F.expr("percentile(frequency, 0.5)"), 4).alias("f_med"),
        F.round(F.expr("percentile(monetary, 0.5)"), 4).alias("m_med"),
    )
    seg = F.concat(
        F.when(F.col("recency_days") <= F.col("r_med"), "R+").otherwise("R-"),
        F.when(F.col("frequency") > F.col("f_med"), "F+").otherwise("F-"),
        F.when(F.col("monetary") > F.col("m_med"), "M+").otherwise("M-"),
    )
    return (
        rfm.crossJoin(F.broadcast(cuts))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary").alias("segment_revenue"),
        )
    )


# ------------------------------------------- price/volume/mix bridge

_PVM_SQL = """
WITH per AS (
  SELECT o_orderpriority AS segment,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS sb
  FROM orders GROUP BY o_orderpriority
)
SELECT segment, na AS n_orders_a, nb AS n_orders_b,
       round((sb - sa) / CAST(100 AS DOUBLE), 2) AS delta_revenue,
       round((nb - na) * (sa / CAST(na AS DOUBLE)) / CAST(100 AS DOUBLE), 2)
         AS volume_effect,
       round(nb * (sb / CAST(nb AS DOUBLE) - sa / CAST(na AS DOUBLE))
             / CAST(100 AS DOUBLE), 2) AS price_effect
FROM per WHERE na > 0 AND nb > 0
"""


@register("agg_price_volume_mix", oracle=_PVM_SQL)
def agg_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume bridge per segment — the FP&A waterfall that
    explains a period-over-period revenue change as volume effect
    ((n_B - n_A) x old avg price) plus price effect (n_B x avg-price
    change), which sum EXACTLY to the delta by construction (the
    algebra is an identity, so the bridge always reconciles — the
    property finance teams audit first). One conditional-aggregation
    pass to four integer cents moments per segment; every effect is
    the shared moments expression, bitwise cross-engine."""
    o = load(spark, sf_dir, "orders")
    pre = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per = o.groupBy(F.col("o_orderpriority").alias("segment")).agg(
        F.sum(F.when(pre, 1).otherwise(0)).alias("na"),
        F.sum(F.when(pre, cents).otherwise(F.lit(0).cast("bigint"))).alias("sa"),
        F.sum(F.when(pre, 0).otherwise(1)).alias("nb"),
        F.sum(F.when(pre, F.lit(0).cast("bigint")).otherwise(cents)).alias("sb"),
    )
    return per.filter((F.col("na") > 0) & (F.col("nb") > 0)).selectExpr(
        "segment",
        "CAST(na AS BIGINT) AS n_orders_a",
        "CAST(nb AS BIGINT) AS n_orders_b",
        "round((sb - sa) / CAST(100 AS DOUBLE), 2) AS delta_revenue",
        "round((nb - na) * (sa / CAST(na AS DOUBLE)) / CAST(100 AS DOUBLE), 2)"
        " AS volume_effect",
        "round(nb * (sb / CAST(nb AS DOUBLE) - sa / CAST(na AS DOUBLE))"
        " / CAST(100 AS DOUBLE), 2) AS price_effect",
    )


# ------------------------------------------- Pareto coverage point

_PARETO_TARGET = 80  # percent of revenue

_PARETO_SQL = f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         sum(cents) OVER (ORDER BY cents DESC, o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
         sum(cents) OVER () AS total, count(*) OVER () AS n
  FROM cust
)
SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
       CAST(min(rk) AS BIGINT) AS n_top,
       round(min(rk) / CAST(any_value(n) AS DOUBLE), 4) AS customer_share,
       round({_PARETO_TARGET} / 100.0, 4) AS revenue_share_target
FROM ranked WHERE cum * 100 >= total * {_PARETO_TARGET}
"""


@register("agg_pareto_coverage", oracle=_PARETO_SQL)
def agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto point: how few top customers cover 80 % of revenue —
    the concentration readout next to agg_gini_concentration's
    coefficient. The oracle states the spec as one global
    descending-revenue cumsum; the plan takes the running revenue, the
    rank and both totals from `ordered_scan`. The crossing rank
    resolves with exact integer comparison (cum*100 >= total*80, no
    float percentage)."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    ranked = ordered_scan(
        cust, [F.desc("cents"), F.asc("o_custkey")], ["cents"],
        label="pareto_ranked",
    )
    return (
        ranked.filter(
            F.col("cum_cents") * 100 >= F.col("total_cents") * _PARETO_TARGET
        )
        .agg(
            F.max("n_rows").alias("n_customers"),
            F.min("pos").alias("n_top"),
        )
        .select(
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.col("n_top").cast("bigint").alias("n_top"),
            F.round(
                F.col("n_top") / F.col("n_customers").cast("double"), 4
            ).alias("customer_share"),
            F.round(F.lit(_PARETO_TARGET) / 100.0, 4).alias(
                "revenue_share_target"
            ),
        )
    )


# ------------------------------------------ Kneser-Ney bigram LM score

_KN_D = "0.75"  # fixed absolute discount (shared literal, both engines)

_KN_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
pairs AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
               i -> [w[i], w[i + 1]])) AS p
        FROM tok)
),
big AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM pairs GROUP BY w1, w2),
h AS (
  SELECT w1, CAST(sum(cb) AS BIGINT) AS cw,
         count(*)::BIGINT AS n1f
  FROM big GROUP BY w1
),
cont AS (SELECT w2, count(*)::BIGINT AS n1p FROM big GROUP BY w2),
tots AS (SELECT count(*)::BIGINT AS n1all FROM big),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln(((b.cb - {_KN_D}) / h.cw)
               + ((({_KN_D} * h.n1f) / h.cw)
                  * (c.n1p / CAST(t.n1all AS DOUBLE)))) * 1000000.0)
           AS BIGINT) AS q
  FROM pairs p
  JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  JOIN h ON p.w1 = h.w1
  JOIN cont c ON p.w2 = c.w2
  CROSS JOIN tots t
)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(q) AS BIGINT) / (1000000.0 * count(*)), 6)
         AS kn_logprob
FROM scored GROUP BY doc_id
"""


@register("text_kneser_ney_logprob", oracle=_KN_SQL)
def text_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995,
    the smoothing inside KenLM — whose per-document perplexity is THE
    classic web-corpus quality filter, CCNet, Wenzek et al. 2020):
    P(w2|w1) = (c(w1 w2) - D)/c(w1 .) + D * N1+(w1 .)/c(w1 .) *
    Pcont(w2), with the CONTINUATION probability Pcont(w2) =
    N1+(. w2)/N1+(. .) — how many contexts a word follows, not how
    often it occurs (the insight that demotes "Francisco": frequent
    but single-context). Fixed discount D={d}; every scored bigram is
    observed in the counts corpus, so the discounted term is positive
    and the distribution needs no unseen-mass branch.

    Determinism: probabilities are fixed expression trees over exact
    integer counts, and each token's nat-logprob is QUANTIZED to an
    int64 micro-nat before the per-document sum — integer addition is
    combine-order-independent, so the per-doc average is bitwise
    cross-engine (the ml_logreg_gd fixed-point discipline; the plain
    avg(ln(..)) of the add-k sibling text_bigram_logprob is the
    contrast). Scale shape: one pair explode scan; bigram/context/
    continuation tables are VOCAB^2-bounded aggregates with map-side
    combine; scoring is equi-joins on word keys plus a 1-row
    type-count fold. This is exactly how a KenLM-style filter
    deploys over 100 TB — model tables shuffle once, documents
    stream."""
    from ..checkpoint import pin
    from ..functions.arrays import gram_positions

    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    pairs = pin(
        tok.select(
            "doc_id", F.explode(gram_positions("w", 2)).alias("i"), "w"
        ).select(
            "doc_id",
            F.element_at("w", F.col("i")).alias("w1"),
            F.element_at("w", F.col("i") + 1).alias("w2"),
        ),
        label="kn_pairs",
    )
    big = pin(
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb")),
        label="kn_big",
    )
    h = big.groupBy("w1").agg(
        F.sum("cb").alias("cw"), F.count("*").alias("n1f")
    )
    cont = big.groupBy("w2").agg(F.count("*").alias("n1p"))
    tots = big.agg(F.count("*").alias("n1all"))
    d = F.lit(float(_KN_D))
    p_kn = (F.col("cb") - d) / F.col("cw") + (
        (d * F.col("n1f")) / F.col("cw")
    ) * (F.col("n1p") / F.col("n1all").cast("double"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(h, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tots))
        .select(
            "doc_id",
            F.round(F.log(p_kn) * 1000000.0).cast("bigint").alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("q") / (1000000.0 * F.count("*")), 6).alias(
            "kn_logprob"
        ),
    )


text_kneser_ney_logprob.__doc__ = text_kneser_ney_logprob.__doc__.format(d=_KN_D)
