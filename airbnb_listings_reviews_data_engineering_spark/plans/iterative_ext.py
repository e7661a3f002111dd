"""Iterative-algorithm queries: BPE tokenizer training and PageRank.

Both are driver-loop iterative operators with a FIXED round count, the
same idiom as ml_kmeans / dedup_components (broadcast the tiny per-round
state, `pin()` each round so lineage stays flat, deterministic rounding
/ tie-breaks mirrored exactly in the oracle). The DuckDB oracles unroll
the rounds as chained CTEs — generated by helpers below so the Spark
loop and the SQL can never drift on round count.

Reference parity: the reference has no tokenizer or graph surface;
these extend the large-scale training-data family (SURVEY.md §2
extension block) — BPE is the standard subword tokenizer trainer for
LLM corpora, PageRank the standard quality/centrality prior for
web-crawl document weighting (both cited in PAPERS.md lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import (
    BPE_MERGES,
    bpe_pieces_sql,
    bpe_rounds_sql,
    bpe_segmented_vocab,
    bpe_train,
    pair_counts,
    with_symbols,
    word_frequencies,
)
from ..checkpoint import pin, small_pin_floor
from ..operators.graph import pagerank_fixed
from ..operators.linalg import (
    power_iteration_direction,
    power_iteration_top_component,
)
from .registry import load, register

# ---------------------------------------------------------------- BPE SQL


def _bpe_train_sql(merges: int) -> str:
    union = "\n  UNION ALL ".join(
        f"SELECT {i} AS rank, l AS lhs, r AS rhs, l || r AS merged, cnt FROM best{i}"
        for i in range(1, merges + 1)
    )
    return f"{bpe_rounds_sql(merges)}\nSELECT * FROM (\n  {union}\n) ORDER BY rank"


def _bpe_vocab_sql(merges: int) -> str:
    return f"""{bpe_rounds_sql(merges)}
SELECT word, freq,
       len(string_split(trim(sym), ' '))::INT AS n_pieces,
       array_to_string(string_split(trim(sym), ' '), '|') AS piece_str
FROM sym{merges}"""


_PAIR_COUNTS_SQL = f"""{bpe_rounds_sql(1)}
SELECT l AS lhs, r AS rhs, cnt FROM pairs1 ORDER BY cnt DESC, l, r LIMIT 20"""


@register("text_bpe_pair_counts", oracle=_PAIR_COUNTS_SQL)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE statistics: top-20 adjacent char-pair frequencies over
    the corpus word-frequency table (deterministic cnt/l/r order). The
    corpus is scanned once for word counts; the pair count is a
    vocab-sized shuffle."""
    words = word_frequencies(load(spark, sf_dir, "documents"), "text")
    return (
        pair_counts(with_symbols(words))
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(20)
        .select(F.col("l").alias("lhs"), F.col("r").alias("rhs"), "cnt")
    )


@register("text_bpe_train", oracle=_bpe_train_sql(BPE_MERGES))
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 6 BPE merges from the documents corpus (operators/bpe.py).
    Rounds iterate over the word-frequency table only — the corpus is
    read exactly once; each round is a vocab-sized pair count, a 1-row
    argmax, and a broadcast merge apply. Oracle: the same 6 rounds
    unrolled as chained CTEs."""
    words = word_frequencies(load(spark, sf_dir, "documents"), "text")
    return bpe_train(words, merges=BPE_MERGES)


@register("text_bpe_vocab", oracle=_bpe_vocab_sql(BPE_MERGES))
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY side: the segmented vocabulary after 6 learned
    merges — (word, freq, n_pieces, piece_str). Piece order is the
    word's subword sequence, compared exactly (both engines derive it
    from the same deterministic merge semantics)."""
    words = word_frequencies(load(spark, sf_dir, "documents"), "text")
    vocab = bpe_segmented_vocab(words, merges=BPE_MERGES)
    return vocab.select(
        "word",
        "freq",
        F.col("n_pieces").cast("int").alias("n_pieces"),
        F.array_join("pieces", "|").alias("piece_str"),
    )


# ------------------------------------------------------------ PageRank SQL

_PR_ITERS = 3
_PR_DAMPING = 0.85

_PR_BASE_CTE = """
edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
nodes AS (SELECT n_nationkey AS id FROM nation),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
r0 AS (SELECT id, round(1.0 / n, 6) AS pr FROM nodes, nn)"""


def _pr_round_cte(i: int) -> str:
    return f"""c{i} AS (
  SELECT ed.dst, sum(r.pr / ed.outdeg) AS contrib
  FROM r{i - 1} r JOIN ed ON r.id = ed.src GROUP BY ed.dst
),
r{i} AS (
  SELECT nodes.id,
         round({1.0 - _PR_DAMPING!r} / nn.n
               + {_PR_DAMPING!r} * coalesce(c{i}.contrib, 0.0), 6) AS pr
  FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.dst, nn
)"""


def _pagerank_sql(iters: int) -> str:
    rounds = ",\n".join(_pr_round_cte(i) for i in range(1, iters + 1))
    return f"""WITH {_PR_BASE_CTE},
{rounds}
SELECT n.n_name AS nation, r.pr
FROM r{iters} r JOIN nation n ON r.id = n.n_nationkey"""


@register("graph_pagerank", oracle=_pagerank_sql(_PR_ITERS))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the nation-level
    trade graph: a directed edge customer-nation -> supplier-nation for
    every distinct trading pair in lineitem x orders x customer x
    supplier. Edge derivation is the only corpus-sized work (one
    lineitem-orders shuffle; customer/supplier broadcast at gate SF,
    AQE-selected); each PageRank round then moves edge-table-sized
    contributions through ONE shuffle on dst (operators/graph.py).
    Oracle: the same 3 rounds unrolled as CTEs with identical 6-dp
    per-round rounding."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )
    nodes = nation.select(F.col("n_nationkey").alias("id"))
    ranks = pagerank_fixed(
        nodes,
        edges,
        iters=_PR_ITERS,
        damping=_PR_DAMPING,
        small_state=True,
        # 3 rounds = a short linear chain; one terminal action, no
        # per-round materialization jobs
        pin_rounds=False,
    )
    return ranks.join(nation, ranks.id == nation.n_nationkey).select(
        F.col("n_name").alias("nation"), "pr"
    )


# ------------------------------------------------------- power iteration

_PI_DIMS = 8
_PI_ITERS = 3


def _power_iter_round_cte(i: int, dims: int) -> str:
    return f"""d{i} AS (
  SELECT x.vec_id, round(list_sum(list_transform(generate_series(1, {dims}),
         d -> x.xv[d] * v.v[d])), 6) AS dot
  FROM x, v{i - 1} v
),
w{i} AS (
  SELECT u.pos, sum(d{i}.dot * x.xv[u.pos]) AS w
  FROM d{i} JOIN x USING (vec_id), unnest(generate_series(1, {dims})) AS u(pos)
  GROUP BY u.pos
),
n{i} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{i}),
v{i} AS (
  SELECT list_transform(generate_series(1, {dims}),
         d -> round(wl[d] / nrm, 6)) AS v
  FROM (SELECT list(w ORDER BY pos) AS wl FROM w{i}), n{i}
)"""


def _power_iter_sql(dims: int, iters: int) -> str:
    v0 = "[" + ", ".join(["1.0"] + ["0.0"] * (dims - 1)) + "]::DOUBLE[]"
    rounds = ",\n".join(_power_iter_round_cte(i, dims) for i in range(1, iters + 1))
    return f"""WITH x AS (
  SELECT vec_id, list_transform(generate_series(1, {dims}),
         d -> CAST(embedding[d] AS DOUBLE)) AS xv
  FROM embeddings
),
v0 AS (SELECT {v0} AS v),
{rounds}
SELECT u.pos AS dim, v.v[u.pos] AS loading
FROM v{iters} v, unnest(generate_series(1, {dims})) AS u(pos)"""


@register("emb_power_iteration", oracle=_power_iter_sql(_PI_DIMS, _PI_ITERS))
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding matrix (first 8
    dims) by 3 power-iteration rounds (operators/linalg.py). Per round
    the corpus is scanned but never shuffled — the only shuffle moves
    dims x n_partitions partial sums; inter-round state is ONE pinned
    dims-length vector. Oracle: the same rounds unrolled with identical
    6-dp rounding at the dot and renormalize points."""
    emb = load(spark, sf_dir, "embeddings")
    return power_iteration_top_component(
        emb, "vec_id", "embedding", dims=_PI_DIMS, iters=_PI_ITERS
    )


def _pca_project_sql(dims: int, iters: int) -> str:
    base = _power_iter_sql(dims, iters)
    # reuse the training CTEs; swap the final SELECT for the projection
    head = base.rsplit("SELECT u.pos AS dim", 1)[0]
    return f"""{head}SELECT x.vec_id,
       round(list_sum(list_transform(generate_series(1, {dims}),
             d -> x.xv[d] * v.v[d])), 6) AS proj
FROM x, v{iters} v"""


@register("emb_pca_project", oracle=_pca_project_sql(_PI_DIMS, _PI_ITERS))
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply side of emb_power_iteration: every embedding's scalar
    projection onto the learned leading direction (dimensionality
    reduction to the top component — outlier scores, 1-D ordering,
    whitening input). Training reuses the 3-round operator; the apply is
    ONE broadcast of the 1-row direction and a map-side sequential dot,
    rounded to 6 dp — no shuffle at any corpus size."""
    from ..functions.arrays import as_double_array

    emb = load(spark, sf_dir, "embeddings")
    v = power_iteration_direction(
        emb, "vec_id", "embedding", dims=_PI_DIMS, iters=_PI_ITERS
    )
    x = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, _PI_DIMS).alias("xv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("xv"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return x.crossJoin(F.broadcast(v)).select(
        "vec_id", F.round(dot, 6).alias("proj")
    )


def _bpe_encode_sql(merges: int) -> str:
    return f"""{bpe_pieces_sql(merges)},
dt AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT dt.doc_id, count(*) AS n_words,
       CAST(sum(v.n_pieces) AS BIGINT) AS n_subwords
FROM dt JOIN vocab v ON dt.w = v.word
GROUP BY dt.doc_id"""


@register("text_bpe_encode_docs", oracle=_bpe_encode_sql(BPE_MERGES))
def text_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer applied to the corpus: per document, word count and
    subword count under the 6-merge BPE vocabulary — the number the
    token-budget planner (pack_token_shards) actually needs. Apply is a
    broadcast join of the vocab-sized (word -> n_pieces) table onto the
    exploded corpus tokens (non-[a-z]+ tokens carry no subwords and drop
    out of the inner join on both sides); training cost is shared with
    text_bpe_vocab, apply adds one map-side join + one doc-keyed agg."""
    docs = load(spark, sf_dir, "documents")
    words = word_frequencies(docs, "text")
    vocab = bpe_segmented_vocab(words, merges=BPE_MERGES).select(
        "word", F.col("n_pieces").cast("long").alias("n_pieces")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_subwords"),
        )
    )


# ---------------------------------------------------------------------------
# closed-form linear regression (normal equations, one pass)
# ---------------------------------------------------------------------------

# Shared Spark-SQL / DuckDB formula text: both engines parse the SAME
# expression string, so the double arithmetic is evaluated with the same
# tree shape and IEEE ops — bitwise-identical results from the
# bitwise-identical integer moments.
_OLS_MOMENTS = (
    "CAST(n AS DOUBLE) AS dn, CAST(sx1 AS DOUBLE) AS d1,"
    " CAST(sx2 AS DOUBLE) AS d2, CAST(sy AS DOUBLE) AS dy,"
    " CAST(s11 AS DOUBLE) AS d11, CAST(s12 AS DOUBLE) AS d12,"
    " CAST(s22 AS DOUBLE) AS d22, CAST(s1y AS DOUBLE) AS d1y,"
    " CAST(s2y AS DOUBLE) AS d2y, CAST(syy AS DOUBLE) AS dyy"
)
_OLS_DET = (
    "(dn*(d11*d22 - d12*d12) - d1*(d1*d22 - d12*d2)"
    " + d2*(d1*d12 - d11*d2))"
)
_OLS_B0 = (
    "((dy*(d11*d22 - d12*d12) - d1*(d1y*d22 - d12*d2y)"
    " + d2*(d1y*d12 - d11*d2y)) / " + _OLS_DET + ")"
)
_OLS_B1 = (
    "((dn*(d1y*d22 - d12*d2y) - dy*(d1*d22 - d12*d2)"
    " + d2*(d1*d2y - d1y*d2)) / " + _OLS_DET + ")"
)
_OLS_B2 = (
    "((dn*(d11*d2y - d1y*d12) - d1*(d1*d2y - d1y*d2)"
    " + dy*(d1*d12 - d11*d2)) / " + _OLS_DET + ")"
)
_OLS_SSE = (
    "(dyy - 2*(" + _OLS_B0 + "*dy + " + _OLS_B1 + "*d1y + " + _OLS_B2 + "*d2y)"
    " + (" + _OLS_B0 + "*(" + _OLS_B0 + "*dn + " + _OLS_B1 + "*d1 + "
    + _OLS_B2 + "*d2)"
    " + " + _OLS_B1 + "*(" + _OLS_B0 + "*d1 + " + _OLS_B1 + "*d11 + "
    + _OLS_B2 + "*d12)"
    " + " + _OLS_B2 + "*(" + _OLS_B0 + "*d2 + " + _OLS_B1 + "*d12 + "
    + _OLS_B2 + "*d22)))"
)
_OLS_OUT = (
    "CAST(n AS BIGINT) AS n_obs,"
    f" round({_OLS_B0}, 6) AS b_intercept,"
    f" round({_OLS_B1}, 6) AS b_lines,"
    f" round({_OLS_B2}, 6) AS b_qty,"
    f" round(1 - {_OLS_SSE} / (dyy - dy*dy/dn), 6) AS r2"
)

_LINREG_SQL = f"""
WITH f AS (
  SELECT l_orderkey, count(*) AS x1, CAST(round(sum(l_quantity)) AS BIGINT) AS x2
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT f.x1, f.x2, CAST(round(o.o_totalprice) AS BIGINT) AS y
  FROM f JOIN orders o ON o.o_orderkey = f.l_orderkey
), m AS (
  SELECT count(*) AS n, sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
         sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
  FROM j
), d AS (SELECT n, {_OLS_MOMENTS} FROM m)
SELECT {_OLS_OUT} FROM d
"""


@register("ml_linreg_normal", oracle=_LINREG_SQL)
def ml_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ordinary least squares in CLOSED FORM (normal
    equations): regress each order's total (whole dollars) on its line
    count and total quantity. ONE map-side-combined aggregation
    accumulates the ten Gram-matrix moments — all INTEGER sums (the
    features and target are integral), so the moments are exact and
    partition-order-independent, unlike iterative SGD whose float
    gradients are neither — then a 3x3 Cramer solve and the R^2 run on
    the single moment row. Spark and the oracle evaluate the SAME
    formula text over the same exact integers, so the doubles agree
    bitwise. This is the scale shape for low-dimensional regression at
    100 TB: d=3 means 10 accumulators, one pass, no iteration, no
    driver math beyond a 1-row expression."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    f = li.groupBy("l_orderkey").agg(
        F.count("*").alias("x1"),
        F.round(F.sum("l_quantity")).cast("bigint").alias("x2"),
    )
    j = f.join(o, f.l_orderkey == o.o_orderkey).select(
        "x1", "x2", F.round("o_totalprice").cast("bigint").alias("y")
    )
    m = j.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = m.selectExpr("n", *_OLS_MOMENTS.split(", "))
    return d.selectExpr(
        "CAST(n AS BIGINT) AS n_obs",
        f"round({_OLS_B0}, 6) AS b_intercept",
        f"round({_OLS_B1}, 6) AS b_lines",
        f"round({_OLS_B2}, 6) AS b_qty",
        f"round(1 - {_OLS_SSE} / (dyy - dy*dy/dn), 6) AS r2",
    )


# ---------------------------------------------------------------------------
# batch model inference (linear scorer apply)
# ---------------------------------------------------------------------------

# weights (w0..w3) = (-1.2, 0.8, 2.5, -0.3) on (intercept, n_tok/100,
# stop_ratio, mean_len):
# logit = w0 + w1*n_tok/100 + w2*(n_stop/n_tok) + w3*(mean_len)
#       = (8*n_tok^2 - 1200*n_tok + 2500*n_stop - 300*(chars - n_tok + 1))
#         / (1000 * n_tok)
# The numerator is an exact INTEGER; emitting fixed-point 1e-4 units via a
# single scale-0 rounding keeps both engines bitwise-identical (a 4-term
# float dot product flipped round(,4) on 2/300 docs).

_LOGREG_APPLY_SQL = """
WITH f AS (
  SELECT doc_id, string_split(text, ' ') AS tok, text FROM documents
  WHERE doc_id < 300
), x AS (
  SELECT doc_id, len(tok) AS n_tok,
         len(list_filter(tok, t -> t IN ('the','a','of','and','to'))) AS n_stop,
         length(text) - len(tok) + 1 AS chars
  FROM f
), num AS (
  SELECT doc_id, n_tok,
         8*n_tok*n_tok - 1200*n_tok + 2500*n_stop - 300*chars AS num
  FROM x
)
SELECT doc_id,
       CAST(round(num * 10.0 / n_tok) AS BIGINT) AS logit_e4,
       num > 0 AS accept
FROM num
"""


@register("ml_logreg_apply", oracle=_LOGREG_APPLY_SQL)
def ml_logreg_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference — the APPLY side of a trained quality
    classifier: a fixed linear scorer (intercept + token-count +
    stopword-ratio + mean-word-length weights, the logistic-regression
    feature shape of C4/CCNet quality filters) evaluated as pure
    map-side column arithmetic over every document. No UDF, no model
    server: at 100 TB, low-dimensional model apply IS a scan with
    arithmetic (the same shape serves any linear/GBDT-leaf scorer whose
    features are column expressions). Determinism: the rational-weight
    dot product collapses to ONE exact integer numerator over 1000 *
    n_tok, emitted as fixed-point 1e-4 units through a single scale-0
    rounding — a 4-term float accumulation flipped the 4-dp rounding on
    2/300 docs cross-engine; accept = numerator > 0 is exactly
    sigmoid > 0.5 with no libm exp in the gate."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    tok = F.split("text", " ")
    from ..operators.text import EN_STOPWORDS

    n_tok = F.size(tok)
    n_stop = F.size(F.filter(tok, lambda t: t.isin(*EN_STOPWORDS)))
    chars = F.length("text") - n_tok + 1
    num = (
        F.lit(8) * n_tok * n_tok
        - F.lit(1200) * n_tok
        + F.lit(2500) * n_stop
        - F.lit(300) * chars
    )
    return docs.select(
        "doc_id",
        F.round(num * 10.0 / n_tok).cast("bigint").alias("logit_e4"),
        (num > 0).alias("accept"),
    )


# ---------------------------------------------------------------------------
# triangle counting (graph cohesion)
# ---------------------------------------------------------------------------

_TRIANGLE_SQL = """
WITH und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
)
SELECT count(*) AS n_triangles,
       (SELECT count(*) FROM und) AS n_edges
FROM und e1
JOIN und e2 ON e2.a = e1.b
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def _trade_und(spark: SparkSession, sf_dir: str, *, sparsify: bool = False) -> DataFrame:
    """Distinct undirected nation trade edges from the 4-table fact
    join, PINNED: every graph key reads this table several times
    (directed union of both orientations, degree table, wedge sides)
    and each unpinned reference re-ran the whole fact join — 6-8
    lineitem scans per final plan (max_rescan audit column, round 7).
    One pinned build = one scan of each fact table, and the edge table
    the per-key joins run on is node-pair-sized. ``sparsify`` keeps
    the 1/101 order slice (degree-varied graph for the statistics that
    need degree variance)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cond = F.col("c_nationkey") != F.col("s_nationkey")
    if sparsify:
        cond = cond & (F.col("l_orderkey") % 101 == 0)
    return pin(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cond)
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct(),
        label="trade_edges",
    )


@register("graph_triangle_count", oracle=_TRIANGLE_SQL)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the undirected nation trade graph — the
    graph-cohesion statistic behind clustering coefficients and
    community density. The classic distributed formulation: orient
    every edge low->high (each triangle then exists in EXACTLY one
    orientation a<b<c, so no /6 correction and, critically, the join
    fan-out is bounded by high-degree vertices' ORIENTED degree — the
    standard mitigation for power-law graphs), then two equi-joins:
    wedges (a-b, b-c) closed by the (a, c) edge. Edge derivation is the
    only corpus-sized work; the triangle joins run on the deduplicated
    edge table, shuffling on vertex keys. At web scale the same plan
    holds with degree-ordered orientation (orient by (degree, id)
    instead of id) to bound the skew."""
    und = _trade_und(spark, sf_dir)
    e1 = und.alias("e1")
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = und.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(F.broadcast(edges))


# ---------------------------------------------------------------------------
# neighbor-Jaccard node similarity (link prediction)
# ---------------------------------------------------------------------------

_JACCARD_SQL = """
WITH und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), dir AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
), deg AS (
  SELECT src AS node, count(*) AS d FROM dir GROUP BY src
), common AS (
  SELECT d1.src AS a, d2.src AS b, count(*) AS n_common
  FROM dir d1 JOIN dir d2 ON d1.dst = d2.dst AND d1.src < d2.src
  GROUP BY d1.src, d2.src
)
SELECT c.a, c.b, c.n_common,
       round(c.n_common
             / CAST(da.d + db.d - c.n_common AS DOUBLE), 4) AS jaccard
FROM common c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
WHERE round(c.n_common / CAST(da.d + db.d - c.n_common AS DOUBLE), 4) >= 0.5
"""


@register("graph_jaccard_neighbors", oracle=_JACCARD_SQL)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between node pairs of the nation
    trade graph — the classical link-prediction / role-equivalence
    score: J(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|, pairs >= 0.5. The
    intersection comes from the WEDGE join (two directed edge copies
    meeting at a shared neighbor, low<high orientation so each pair
    counts once) — candidate pairs are generated ONLY where at least
    one common neighbor exists, never as node x node; the union
    resolves algebraically from broadcast degree counts
    (|A|+|B|-common), so no set materializes per pair. Exactly the
    triangle-count discipline (graph_triangle_count) applied to pair
    scoring; at web scale the wedge join bounds fan-out by the
    max-degree mitigation documented there."""
    und = _trade_und(spark, sf_dir)
    dir_ = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dir_.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed(
        "src", "node"
    )
    d1 = dir_.select(F.col("src").alias("a"), "dst")
    d2 = dir_.select(F.col("src").alias("b"), "dst")
    common = (
        d1.join(d2, "dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    j = (
        common.join(
            F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))),
            "a",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))),
            "b",
        )
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= 0.5)


# ---------------------------------------------------------------------------
# BFS shortest-path distances (fixed-round frontier expansion)
# ---------------------------------------------------------------------------

_BFS_SRC = 0
_BFS_ROUNDS = 4

_BFS_BASE_CTE = """
und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
dir AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
)"""


def _bfs_sql(src: int, rounds: int) -> str:
    blocks = [f"d0 AS (SELECT {src} AS id, 0 AS dist)"]
    for i in range(1, rounds + 1):
        prev = f"d{i - 1}"
        blocks.append(
            f"""
f{i} AS (
  SELECT DISTINCT dir.dst AS id FROM dir
  JOIN {prev} p ON dir.src = p.id AND p.dist = {i - 1}
  WHERE dir.dst NOT IN (SELECT id FROM {prev})
),
d{i} AS (
  SELECT id, dist FROM {prev}
  UNION ALL
  SELECT id, {i} AS dist FROM f{i}
)"""
        )
    return (
        "WITH "
        + _BFS_BASE_CTE.strip()
        + ",\n"
        + ",".join(b.strip() for b in blocks)
        + f"\nSELECT id AS node, dist FROM d{rounds}"
    )


@register("graph_bfs_shortest", oracle=_bfs_sql(_BFS_SRC, _BFS_ROUNDS))
def graph_bfs_shortest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest-path distances (4 fixed frontier
    rounds) over the undirected nation trade graph — the reachability /
    hop-distance primitive under influence radii and shortest-path
    features. The distributed formulation every Pregel system uses:
    the round-i frontier joins the edge table (one shuffle on the
    vertex key), discovered vertices LEFT-ANTI the visited set, the
    visited table grows by union — per round the moving state is
    frontier-sized, never graph-sized, and `pin()` keeps lineage flat
    exactly as dedup_components documents. Fixed round count = bounded
    diameter scan; at web scale the same loop runs until an empty
    frontier with per-round cost proportional to the frontier."""
    from ..checkpoint import pin

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
    )
    dir_ = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    dir_ = pin(dir_, label="bfs_edges")
    visited = (
        dir_.sparkSession.range(1)
        .select(F.lit(_BFS_SRC).alias("id"), F.lit(0).alias("dist"))
    )
    for i in range(1, _BFS_ROUNDS + 1):
        visited = pin(visited, label=f"bfs_d{i - 1}")
        frontier = visited.filter(F.col("dist") == i - 1).select("id")
        discovered = (
            dir_.join(frontier, dir_.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .select("id", F.lit(i).alias("dist"))
        )
        visited = visited.unionByName(discovered)
    return visited.select(F.col("id").alias("node"), "dist")


# ---------------------------------------------------------------------------
# degree assortativity (graph-level mixing statistic)
# ---------------------------------------------------------------------------

# Pearson r over the directed-edge list of endpoint degrees, from exact
# integer moments (the ab_test_welch discipline): r =
# (n*sxy - sx*sy) / sqrt((n*sxx - sx^2) * (n*syy - sy^2)); degree sums
# over nation-scale counts stay far inside int64.
_ASSORT_R = (
    "((n * sxy - sx * sy) / "
    "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)))"
)

_ASSORT_SQL = f"""
WITH und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey AND l.l_orderkey % 101 = 0
), dir AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM dir GROUP BY src
), ed AS (
  SELECT da.d AS dx, db.d AS dy
  FROM dir e JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node
), m AS (
  SELECT count(*) AS n,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM ed
)
SELECT CAST(n AS BIGINT) AS n_directed_edges, round({_ASSORT_R}, 4) AS assortativity
FROM m
"""


@register("graph_degree_assortativity", oracle=_ASSORT_SQL)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman, PRL 89:208701): the Pearson
    correlation of endpoint degrees over the edge list — the one-number
    answer to 'do hubs link to hubs?' that decides whether a crawl/
    citation graph needs hub-mitigation (salting, orientation) before
    its joins. Plan: degree table (one groupBy), two broadcast joins to
    decorate each directed edge with endpoint degrees, then the SAME
    exact-integer-moment fold as ab_test_welch — five sums in one pass,
    one shared correlation expression, bitwise reproducible. Nation-
    scale here, but each step (degree agg, degree decoration, moment
    fold) is a shuffle-on-key or broadcast at any graph size."""
    # sparsified: the full trade graph is complete (all degrees 24 ->
    # zero degree variance, r undefined); 1/101 leaves degree variety
    und = _trade_und(spark, sf_dir, sparsify=True)
    dir_ = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dir_.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed(
        "src", "node"
    )
    ed = (
        dir_.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("dx"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy"))),
            "dst",
        )
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_directed_edges",
        f"round({_ASSORT_R}, 4) AS assortativity",
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------

_KCORE_K = 16
_KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    blocks = [
        """
und0 AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey AND l.l_orderkey % 101 = 0
)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        prev = f"und{i - 1}"
        # AS MATERIALIZED: each round references its predecessor twice
        # (degree pass + edge restriction); inlined CTEs would re-expand
        # the whole chain 2^rounds times
        blocks.append(
            f"""
dir{i} AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM {prev}
  UNION ALL SELECT b, a FROM {prev}
),
keep{i} AS MATERIALIZED (
  SELECT src AS node FROM dir{i} GROUP BY src
  HAVING count(*) >= {_KCORE_K}
),
und{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN keep{i} ka ON e.a = ka.node
  JOIN keep{i} kb ON e.b = kb.node
)"""
        )
    r = _KCORE_ROUNDS
    return (
        "WITH "
        + ",".join(b.strip() for b in blocks)
        + f"""
SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT a AS src, b AS dst FROM und{r}
      UNION ALL SELECT b, a FROM und{r})
GROUP BY src"""
    )


@register("graph_kcore_peel", oracle=_kcore_sql())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (k=16, 3 fixed
    rounds): repeatedly drop every node with degree < k and every edge
    touching one — the dense-subgraph extractor behind spam-cluster
    and community-core mining. Each round is ONE degree aggregation
    plus two semi-joins restricting the edge table; the edge table
    SHRINKS monotonically, so per-round cost falls, and `pin()` keeps
    the shrinking edge set's lineage flat (the dedup_components
    discipline). Fixed rounds here; production runs until the edge
    count stops changing — same loop, a 1-row convergence probe per
    round. Uses the same 1/101-sparsified degree-varied trade graph
    as graph_degree_assortativity."""
    from ..checkpoint import pin

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (F.col("c_nationkey") != F.col("s_nationkey"))
            & (F.col("l_orderkey") % 101 == 0)
        )
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
    )
    for i in range(1, _KCORE_ROUNDS + 1):
        und = pin(und, label=f"kcore_e{i - 1}")
        dir_ = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        keep = (
            dir_.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("node"))
        )
        und = (
            und.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
    dir_ = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return dir_.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (inverse-log-degree weighted common neighbors)
# ---------------------------------------------------------------------------

_AA_SQL = """
WITH und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey AND l.l_orderkey % 101 = 0
), dir AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
), deg AS (
  SELECT src AS node, count(*) AS d FROM dir GROUP BY src
), wedge AS (
  SELECT d1.src AS a, d2.src AS b, d1.dst AS z
  FROM dir d1 JOIN dir d2 ON d1.dst = d2.dst AND d1.src < d2.src
), contrib AS (
  SELECT w.a, w.b,
         CAST(round(1000000.0 / ln(dz.d)) AS BIGINT) AS aa_fp
  FROM wedge w JOIN deg dz ON w.z = dz.node
  WHERE dz.d > 1
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
       round(CAST(sum(aa_fp) AS BIGINT) / 1000000.0, 4) AS adamic_adar
FROM contrib GROUP BY a, b
HAVING count(*) >= 3
"""


@register("graph_adamic_adar", oracle=_AA_SQL)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: common neighbors weighted by
    1/ln(degree) — a shared OBSCURE neighbor is strong evidence, a
    shared hub is nearly none, which is exactly what raw common-
    neighbor counts (and Jaccard) miss on hub-heavy graphs. Same wedge
    join as graph_jaccard_neighbors (pairs exist only where a common
    neighbor does), but each wedge contributes its CENTER's
    inverse-log-degree, fixed-pointed to 1e-6 BEFORE the per-pair sum
    so the score is an order-free integer accumulation with one final
    division; the degree decoration is a broadcast join. The >= 3
    common-neighbor floor prunes noise pairs before emission."""
    und = _trade_und(spark, sf_dir, sparsify=True)
    dir_ = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dir_.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed(
        "src", "node"
    )
    d1 = dir_.select(F.col("src").alias("a"), F.col("dst").alias("z"))
    d2 = dir_.select(F.col("src").alias("b"), F.col("dst").alias("z"))
    wedge = d1.join(d2, "z").filter(F.col("a") < F.col("b"))
    contrib = (
        wedge.join(
            F.broadcast(deg.select(F.col("node").alias("z"), "d")), "z"
        )
        .filter(F.col("d") > 1)
        .select(
            "a",
            "b",
            F.round(1000000.0 / F.log(F.col("d"))).cast("bigint").alias("aa_fp"),
        )
    )
    return (
        contrib.groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.round(F.sum("aa_fp") / 1000000.0, 4).alias("adamic_adar"),
        )
        .filter(F.col("n_common") >= 3)
    )


# ---------------------------------------------------------------------------
# bipartite co-purchase projection (recommender co-occurrence)
# ---------------------------------------------------------------------------

_COPURCHASE_CAP = 8
_COPURCHASE_MIN = 3

_COPURCHASE_SQL = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), capped AS (
  SELECT cust, part FROM (
    SELECT cust, part,
           row_number() OVER (PARTITION BY cust ORDER BY part) AS rn
    FROM cp
  ) WHERE rn <= {_COPURCHASE_CAP}
), pairs AS (
  SELECT a.part AS p1, b.part AS p2
  FROM capped a JOIN capped b ON a.cust = b.cust AND a.part < b.part
)
SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_cobuyers
FROM pairs GROUP BY p1, p2
HAVING count(*) >= {_COPURCHASE_MIN}
"""


@register("graph_copurchase_projection", oracle=_COPURCHASE_SQL)
def graph_copurchase_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection: customer-part purchase edges projected to
    the part-part co-purchase graph ('bought together') — the
    co-occurrence matrix every item-item recommender starts from. The
    projection join on the shared customer is quadratic in each
    customer's basket, so baskets are CAPPED at 8 distinct parts
    first (a deterministic per-customer window) — the standard
    hub-mitigation for bipartite projection (an uncapped 10k-item
    power buyer emits 5x10^7 pairs alone and one hot shuffle key; the
    cap bounds every customer's contribution at C(8,2)=28 pairs,
    documented lossy-for-hubs-only exactly like the geo kNN density
    bound). The >= 3 co-buyer floor prunes the long tail before
    emission."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    from pyspark.sql import Window as W

    wcap = W.partitionBy("cust").orderBy("part")
    capped = (
        cp.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _COPURCHASE_CAP)
        .select("cust", "part")
    )
    a = capped.select("cust", F.col("part").alias("p1"))
    b = capped.select("cust", F.col("part").alias("p2"))
    return (
        a.join(b, "cust")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_cobuyers"))
        .filter(F.col("n_cobuyers") >= _COPURCHASE_MIN)
    )


# ---------------------------------------------------------------------------
# association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_ASSOC_SQL = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), capped AS (
  SELECT cust, part FROM (
    SELECT cust, part,
           row_number() OVER (PARTITION BY cust ORDER BY part) AS rn
    FROM cp
  ) WHERE rn <= {_COPURCHASE_CAP}
), nb AS (
  SELECT CAST(count(DISTINCT cust) AS BIGINT) AS n_baskets FROM capped
), item AS (
  SELECT part, CAST(count(*) AS BIGINT) AS c FROM capped GROUP BY part
), pair AS (
  SELECT a.part AS p1, b.part AS p2, CAST(count(*) AS BIGINT) AS cb
  FROM capped a JOIN capped b ON a.cust = b.cust AND a.part < b.part
  GROUP BY a.part, b.part
  HAVING count(*) >= {_COPURCHASE_MIN}
)
SELECT p.p1, p.p2, p.cb AS n_cobuyers,
       round(p.cb / CAST(nb.n_baskets AS DOUBLE), 4) AS support,
       round(p.cb / CAST(i1.c AS DOUBLE), 4) AS confidence,
       round((p.cb / CAST(nb.n_baskets AS DOUBLE))
             / ((i1.c / CAST(nb.n_baskets AS DOUBLE))
                * (i2.c / CAST(nb.n_baskets AS DOUBLE))), 4) AS lift
FROM pair p
JOIN item i1 ON p.p1 = i1.part
JOIN item i2 ON p.p2 = i2.part
CROSS JOIN nb
"""


@register("agg_association_rules", oracle=_ASSOC_SQL)
def agg_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the capped co-purchase pairs: support,
    confidence(p1 -> p2) and lift — the Apriori-style market-basket
    output, computed WITHOUT candidate-generation rounds because the
    pair floor + basket cap (graph_copurchase_projection's hub
    mitigation) already bound the pair space. Item and basket counts
    are broadcast joins onto the pair table; every score is a ratio
    of exact integers rounded once. lift > 1 = genuinely associated,
    the recommender/affinity signal."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    from pyspark.sql import Window as W

    from ..checkpoint import pin

    wcap = W.partitionBy("cust").orderBy("part")
    capped = (
        cp.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _COPURCHASE_CAP)
        .select("cust", "part")
    )
    capped = pin(capped, label="assoc_capped")
    nb = capped.agg(F.countDistinct("cust").alias("n_baskets"))
    item = capped.groupBy("part").agg(F.count("*").alias("c"))
    a = capped.select("cust", F.col("part").alias("p1"))
    b = capped.select("cust", F.col("part").alias("p2"))
    pair = (
        a.join(b, "cust")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= _COPURCHASE_MIN)
    )
    sup = F.col("cb") / F.col("n_baskets").cast("double")
    return (
        pair.join(
            F.broadcast(item.select(F.col("part").alias("p1"), F.col("c").alias("c1"))),
            "p1",
        )
        .join(
            F.broadcast(item.select(F.col("part").alias("p2"), F.col("c").alias("c2"))),
            "p2",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "p1",
            "p2",
            F.col("cb").alias("n_cobuyers"),
            F.round(sup, 4).alias("support"),
            F.round(F.col("cb") / F.col("c1").cast("double"), 4).alias(
                "confidence"
            ),
            F.round(
                sup
                / (
                    (F.col("c1") / F.col("n_baskets").cast("double"))
                    * (F.col("c2") / F.col("n_baskets").cast("double"))
                ),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# logistic-style classifier trained IN-ENGINE (unrolled full-batch GD)
# ---------------------------------------------------------------------------

# ml_linreg_normal is the closed-form end of in-engine model fitting;
# this is the iterative end: K unrolled full-batch gradient-descent
# rounds over a pinned feature table — the quality-classifier-training
# shape (fastText-style filters in curation pipelines) expressed as
# pure DataFrame algebra. Two determinism devices make the float model
# weights BITWISE reproducible across engines and partition orders:
#
# 1. No exp(): the Elliott fast sigmoid p = 0.5 + z/(2(1+|z|)) is
#    rational, so every per-row op (+,*,/,abs) is IEEE-correctly-
#    rounded and identical wherever the row is evaluated; libm exp()
#    carries no such guarantee across JVM/C runtimes.
# 2. Fixed-point gradient accumulation: each row's gradient
#    contribution is quantized to an INT64 at 1e-6 resolution and
#    summed exactly — integer addition is associative-commutative, so
#    the gradient (hence every subsequent weight) is independent of
#    partition count and combine order, unlike a float sum. This is
#    the standard deterministic-reduction trick from reproducible HPC
#    summation, and it is also why the oracle can unroll the SAME
#    rounds as chained CTEs and agree bitwise.
#
# The label is a CONSTRUCTED noisy-separable target (the sandbox
# fixture's columns are statistically independent, so no natural
# binary target is learnable): y = 1 iff a linear score of the two
# features plus a deterministic orderkey%13 pseudo-noise term clears a
# threshold. GD sees a real margin with irreducible noise: trained
# accuracy lands ~0.83-0.87 vs the 0.58 majority baseline at every SF.

_LOGREG_ROUNDS = 6
_LOGREG_RATE = "20.0"  # shared literal: appears in Spark AND oracle text

# shared formula text (both engines parse the same expression tree)
_LOGREG_Z = "((w0 + (w1 * x1)) + (w2 * x2))"
_LOGREG_P = "(0.5 + (z / (2.0 * (1.0 + abs(z)))))"
_LOGREG_FEATS = [
    "CAST(x1n AS DOUBLE) / 4.0 AS x1",
    "CAST(x2n AS DOUBLE) / 100.0 AS x2",
    "CASE WHEN (x2n + (20 * x1n)) + (6 * (o_orderkey % 13)) >= 230"
    " THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y",
    "CASE WHEN (x2n + (20 * x1n)) + (6 * (o_orderkey % 13)) >= 230"
    " THEN 1 ELSE 0 END AS yi",
]
_LOGREG_GRAD = [
    "CAST(sum(CAST(round((p - y) * 1000000.0) AS BIGINT)) AS BIGINT) AS g0",
    "CAST(sum(CAST(round(((p - y) * x1) * 1000000.0) AS BIGINT)) AS BIGINT)"
    " AS g1",
    "CAST(sum(CAST(round(((p - y) * x2) * 1000000.0) AS BIGINT)) AS BIGINT)"
    " AS g2",
]


def _logreg_update(j: int) -> str:
    g = f"g{j}"
    return (
        f"(w{j}p - ({_LOGREG_RATE} * ((CAST({g} AS DOUBLE) / 1000000.0)"
        f" / CAST(n AS DOUBLE)))) AS w{j}"
    )


def _logreg_round_cte(i: int, src: str = "lrfeats") -> str:
    """One unrolled GD round: per-row Elliott probability with round
    i-1's weights, exact int64 gradient sums, 1-row weight update."""
    return f"""lrz{i} AS (
  SELECT y, x1, x2, w0, w1, w2, {_LOGREG_Z} AS z FROM {src}, lrw{i - 1}
),
lrg{i} AS (
  SELECT min(w0) AS w0p, min(w1) AS w1p, min(w2) AS w2p, count(*) AS n,
         {_LOGREG_GRAD[0]},
         {_LOGREG_GRAD[1]},
         {_LOGREG_GRAD[2]}
  FROM (SELECT y, x1, x2, w0, w1, w2, {_LOGREG_P} AS p FROM lrz{i})
),
lrw{i} AS (
  SELECT {_logreg_update(0)},
         {_logreg_update(1)},
         {_logreg_update(2)}
  FROM lrg{i}
)"""


def _logreg_sql(rounds: int) -> str:
    body = ",\n".join(_logreg_round_cte(i) for i in range(1, rounds + 1))
    return f"""WITH lrfeats AS (
  SELECT {_LOGREG_FEATS[0].replace("x1n", "f.x1n")},
         {_LOGREG_FEATS[1].replace("x2n", "f.x2n")},
         {_LOGREG_FEATS[2].replace("x1n", "f.x1n").replace("x2n", "f.x2n").replace("o_orderkey", "o.o_orderkey")},
         {_LOGREG_FEATS[3].replace("x1n", "f.x1n").replace("x2n", "f.x2n").replace("o_orderkey", "o.o_orderkey")}
  FROM (SELECT l_orderkey, count(*) AS x1n,
               CAST(round(sum(l_quantity)) AS BIGINT) AS x2n
        FROM lineitem GROUP BY l_orderkey) f
  JOIN orders o ON o.o_orderkey = f.l_orderkey
),
lrw0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                CAST(0.0 AS DOUBLE) AS w2),
{body}
SELECT CAST(n AS BIGINT) AS n_obs,
       round(w0, 6) AS w_intercept, round(w1, 6) AS w_lines,
       round(w2, 6) AS w_qty,
       round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS train_acc,
       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate
FROM (
  SELECT min(w0) AS w0, min(w1) AS w1, min(w2) AS w2, count(*) AS n,
         CAST(sum(CASE WHEN (CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) = yi
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(sum(yi) AS BIGINT) AS n_pos
  FROM (SELECT yi, w0, w1, w2, {_LOGREG_Z} AS z FROM lrfeats, lrw{rounds})
)"""


def _order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order joined to its lineitem line count ``x1n`` and rounded
    total quantity ``x2n``: the raw inputs of _LOGREG_FEATS."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    f = li.groupBy("l_orderkey").agg(
        F.count("*").alias("x1n"),
        F.round(F.sum("l_quantity")).cast("bigint").alias("x2n"),
    )
    return f.join(o, f.l_orderkey == o.o_orderkey)


def _logreg_feats(spark: SparkSession, sf_dir: str):
    """The pinned 3-double feature projection ml_logreg_gd trains on.
    Precondition: the (lineitem x orders) join is non-empty — with
    n = 0 the weight update divides by zero and min() returns NULL,
    i.e. silently-NULL weights rather than an error (unreachable on
    the shipped fixtures; tests assert n_obs > 1000)."""
    # small_pin_floor: this pin's materialized layout is re-scanned by
    # every unrolled GD round; without it AQE coalesces the few-MB
    # feature shuffle to 1-3 partitions and the rounds run near-serial
    with small_pin_floor(spark):
        return pin(
            _order_features(spark, sf_dir).selectExpr(*_LOGREG_FEATS),
            label="lr_feats",
        )


def logreg_train_weights(
    feats: DataFrame, rounds: int = _LOGREG_ROUNDS
) -> DataFrame:
    """The unrolled GD training chain, returning the UNROUNDED 1-row
    weight frame (w0, w1, w2 doubles) — the object the bitwise-
    determinism claim is about; ml_logreg_gd rounds to 6 places only
    for the human-facing output row, so CI pins determinism on THIS
    frame (tests/test_round8_ops.py: partition-order test collects it
    raw under two shuffle-partition counts and compares the doubles
    exactly). ``rounds`` GD rounds from zero weights."""
    w = (
        feats.sparkSession.range(1)
        .selectExpr(
            "CAST(0.0 AS DOUBLE) AS w0",
            "CAST(0.0 AS DOUBLE) AS w1",
            "CAST(0.0 AS DOUBLE) AS w2",
        )
    )
    for _ in range(rounds):
        scored = (
            feats.crossJoin(F.broadcast(w))
            .selectExpr("y", "x1", "x2", "w0", "w1", "w2",
                        f"{_LOGREG_Z} AS z")
            .selectExpr("y", "x1", "x2", "w0", "w1", "w2",
                        f"{_LOGREG_P} AS p")
        )
        g = scored.agg(
            F.expr("min(w0) AS w0p"),
            F.expr("min(w1) AS w1p"),
            F.expr("min(w2) AS w2p"),
            F.expr("count(*) AS n"),
            *[F.expr(e) for e in _LOGREG_GRAD],
        )
        w = g.selectExpr(
            _logreg_update(0), _logreg_update(1), _logreg_update(2)
        )
    return w


def _logreg_accuracy(
    rows: DataFrame, w: DataFrame, correct: str = "n_correct", *extra: str
) -> DataFrame:
    """One row: the weights ``w`` (w0, w1, w2), the row count n, how many
    of ``rows`` the model labels right (column ``correct``), the
    positives n_pos, and the ``extra`` aggregates over yi and z."""
    return (
        rows.crossJoin(F.broadcast(w))
        .selectExpr("yi", "w0", "w1", "w2", f"{_LOGREG_Z} AS z")
        .agg(
            F.expr("min(w0) AS w0"),
            F.expr("min(w1) AS w1"),
            F.expr("min(w2) AS w2"),
            F.expr("count(*) AS n"),
            F.expr(
                "CAST(sum(CASE WHEN (CASE WHEN z >= 0.0 THEN 1 ELSE 0 END)"
                f" = yi THEN 1 ELSE 0 END) AS BIGINT) AS {correct}"
            ),
            F.expr("CAST(sum(yi) AS BIGINT) AS n_pos"),
            *[F.expr(e) for e in extra],
        )
    )


def _holdout_row(acc: DataFrame, n_train: DataFrame, *cols: str) -> DataFrame:
    """The held-out report: train and test sizes, the intercept, then
    ``cols`` over the one-row accuracy aggregate ``acc``."""
    return acc.crossJoin(F.broadcast(n_train)).selectExpr(
        "CAST(n_train AS BIGINT) AS n_train",
        "CAST(n AS BIGINT) AS n_test",
        "round(w0, 6) AS w_intercept",
        *cols,
    )


@register("ml_logreg_gd", oracle=_logreg_sql(_LOGREG_ROUNDS))
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-style binary classifier TRAINED in-engine: 6 unrolled
    full-batch gradient-descent rounds over a pinned per-order feature
    table (line count, total quantity), predicting a constructed
    noisy-separable high-value label. Per round: broadcast the 1-row
    weight frame onto the pinned features, score each row with the
    rational Elliott sigmoid (no exp() — see module comment), quantize
    each row's gradient contribution to INT64 at 1e-6 and sum EXACTLY
    (partition-order-independent), then update the weights on the
    single aggregate row; the previous round's weights ride through the
    aggregate as min() so each round's plan references its predecessor
    exactly once (linear, not exponential, plan growth without
    per-round pins). The DuckDB oracle unrolls the SAME rounds as
    chained CTEs from the same formula text, so the trained weights
    agree bitwise. Scale shape at 100 TB: the corpus is scanned once to
    build features, then K+1 passes over the pinned (3-double) feature
    projection — no shuffle after the first aggregate's map-side
    combine, state is 3 doubles. Trained accuracy 0.83-0.87 vs 0.58
    majority baseline at sf0.001-0.1 (irreducible constructed noise);
    the reference has no model-training surface (SURVEY §2 extension:
    the curation quality-classifier-training shape). Precondition:
    non-empty feature table (see _logreg_feats)."""
    feats = _logreg_feats(spark, sf_dir)
    acc = _logreg_accuracy(feats, logreg_train_weights(feats))
    return acc.selectExpr(
        "CAST(n AS BIGINT) AS n_obs",
        "round(w0, 6) AS w_intercept",
        "round(w1, 6) AS w_lines",
        "round(w2, 6) AS w_qty",
        "round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS train_acc",
        "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate",
    )


def _logreg_holdout_sql(rounds: int) -> str:
    body = ",\n".join(
        _logreg_round_cte(i, src="lrtrain") for i in range(1, rounds + 1)
    )
    return f"""WITH lrfeats AS (
  SELECT {_LOGREG_FEATS[0].replace("x1n", "f.x1n")},
         {_LOGREG_FEATS[1].replace("x2n", "f.x2n")},
         {_LOGREG_FEATS[2].replace("x1n", "f.x1n").replace("x2n", "f.x2n").replace("o_orderkey", "o.o_orderkey")},
         {_LOGREG_FEATS[3].replace("x1n", "f.x1n").replace("x2n", "f.x2n").replace("o_orderkey", "o.o_orderkey")},
         CASE WHEN o.o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS hold
  FROM (SELECT l_orderkey, count(*) AS x1n,
               CAST(round(sum(l_quantity)) AS BIGINT) AS x2n
        FROM lineitem GROUP BY l_orderkey) f
  JOIN orders o ON o.o_orderkey = f.l_orderkey
),
lrtrain AS (SELECT * FROM lrfeats WHERE hold = 0),
lrw0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                CAST(0.0 AS DOUBLE) AS w2),
{body}
SELECT CAST(n_train AS BIGINT) AS n_train,
       CAST(n AS BIGINT) AS n_test,
       round(w0, 6) AS w_intercept, round(w1, 6) AS w_lines,
       round(w2, 6) AS w_qty,
       round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS test_acc,
       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS base_rate_test
FROM (
  SELECT min(w0) AS w0, min(w1) AS w1, min(w2) AS w2, count(*) AS n,
         CAST(sum(CASE WHEN (CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) = yi
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(sum(yi) AS BIGINT) AS n_pos
  FROM (SELECT yi, w0, w1, w2, {_LOGREG_Z} AS z
        FROM (SELECT * FROM lrfeats WHERE hold = 1), lrw{rounds})
), (SELECT count(*) AS n_train FROM lrtrain)"""


@register("ml_logreg_holdout", oracle=_logreg_holdout_sql(_LOGREG_ROUNDS))
def ml_logreg_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml_logreg_gd with the honest generalization measurement: train
    the same 6 GD rounds on a deterministic 80 % hash split
    (o_orderkey % 5 != 0) and report accuracy on the UNSEEN 20 % —
    the number a curation pipeline actually gates a learned quality
    filter on (train_acc alone rewards memorization). Same bitwise
    determinism devices as ml_logreg_gd (rational Elliott sigmoid,
    fixed-point INT64 gradient sums); the split is a pure hash
    predicate, so both engines and any partition order agree on
    membership exactly. One extra column on the pinned feature
    projection (the hold flag) and one extra filtered pass — the
    corpus is still scanned once per table. Held-out accuracy lands
    within ~2 points of train accuracy at sf0.01+ (0.85-0.87 vs ~0.58
    test-majority; 0.74 on the 297-row sf0.001 split vs 0.53): the
    model generalizes, as it must — the constructed target's signal
    is shared across the split and only the %13 pseudo-noise is
    irreducible."""
    feats = pin(
        _order_features(spark, sf_dir).selectExpr(
            *_LOGREG_FEATS,
            "CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS hold",
        ),
        label="lr_holdout_feats",
    )
    train = feats.filter("hold = 0")
    n_train = train.agg(F.expr("count(*) AS n_train"))
    acc = _logreg_accuracy(
        feats.filter("hold = 1"), logreg_train_weights(train)
    )
    return _holdout_row(
        acc,
        n_train,
        "round(w1, 6) AS w_lines",
        "round(w2, 6) AS w_qty",
        "round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS test_acc",
        "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS base_rate_test",
    )


# ---------------------------------------------------------------------------
# quality-classifier distillation: rule battery -> learned cheap filter
# ---------------------------------------------------------------------------

# shared formula text (Spark selectExpr AND DuckDB CTE — the bitwise
# contract): features are the two CHEAP per-doc scalars, the label is
# the FULL five-rule Gopher verdict, the split is a doc_id hash
_QD_FEATS = [
    "(CAST(n_tok AS DOUBLE) - 50.0) / 50.0 AS x1",
    "(CAST(stop_hits AS DOUBLE) - 2.0) / 4.0 AS x2",
    "CASE WHEN pass THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE)"
    " END AS y",
    "CASE WHEN pass THEN 1 ELSE 0 END AS yi",
    "CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS hold",
]


def _quality_distill_sql(rounds: int) -> str:
    body = ",\n".join(
        _logreg_round_cte(i, src="qtrain") for i in range(1, rounds + 1)
    )
    feats = ",\n         ".join(_QD_FEATS)
    return f"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tok, length(text) AS len
  FROM documents
), m AS (
  SELECT doc_id,
         len(tok) AS n_tok,
         round((len - (len(tok) - 1)) / CAST(len(tok) AS DOUBLE), 4)
           AS mean_wlen,
         len(list_filter(tok, w -> w IN ('the', 'a', 'of', 'and', 'to')))
           AS stop_hits,
         round(len(list_filter(tok, w -> regexp_matches(w, '^[a-z]')))
               / CAST(len(tok) AS DOUBLE), 4) AS alpha_frac,
         round(len(list_distinct(tok)) / CAST(len(tok) AS DOUBLE), 4)
           AS uniq_ratio
  FROM t
), lab AS (
  SELECT doc_id, n_tok, stop_hits,
         (n_tok BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3 AND 10)
           AND stop_hits >= 2 AND alpha_frac >= 0.8 AND uniq_ratio >= 0.2
           AS pass
  FROM m
), qfeats AS (
  SELECT {feats}
  FROM lab
),
qtrain AS (SELECT * FROM qfeats WHERE hold = 0),
lrw0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                CAST(0.0 AS DOUBLE) AS w2),
{body}
SELECT CAST(n_train AS BIGINT) AS n_train,
       CAST(n AS BIGINT) AS n_test,
       round(w0, 6) AS w_intercept, round(w1, 6) AS w_ntok,
       round(w2, 6) AS w_stop,
       round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS test_agree,
       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS rules_pass_rate_test,
       CAST(n_false_pass AS BIGINT) AS n_false_pass,
       CAST(n_false_drop AS BIGINT) AS n_false_drop
FROM (
  SELECT min(w0) AS w0, min(w1) AS w1, min(w2) AS w2, count(*) AS n,
         CAST(sum(CASE WHEN (CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) = yi
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(sum(yi) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN z >= 0.0 AND yi = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_pass,
         CAST(sum(CASE WHEN z < 0.0 AND yi = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_drop
  FROM (SELECT yi, w0, w1, w2, {_LOGREG_Z} AS z
        FROM (SELECT * FROM qfeats WHERE hold = 1), lrw{rounds})
), (SELECT count(*) AS n_train FROM qtrain)"""


@register("ml_quality_distill", oracle=_quality_distill_sql(_LOGREG_ROUNDS))
def ml_quality_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier DISTILLATION — the CCNet/LLaMA curation
    practice (Wenzek et al., arXiv:1911.00359 train a cheap LM filter
    on rule-derived labels; Touvron et al., arXiv:2302.13971 §2 distill
    a Wikipedia-reference classifier): label every document with the
    FULL five-rule Gopher battery (text_gopher_rules — the expensive
    teacher, weak supervision), train ml_logreg_gd's bitwise-
    deterministic trainer on TWO cheap features (word count, stopword
    hits) over an 80 %% hash split, and report agreement with the rule
    verdict on the UNSEEN 20 %% plus the disagreement PROFILE —
    n_false_pass (model admits, rules drop) and n_false_drop (model
    drops, rules admit), the two numbers that price replacing the
    battery with the distilled filter at 100 TB (a linear boundary
    cannot represent the rules' threshold-AND exactly, so the profile
    is structurally nonzero — where it lands decides the cascade:
    model-only, or model + rule audit on the admit stream).

    ONE plan: the Gopher measurement pass, the label, the split flag,
    6 unrolled GD rounds and the holdout score chain off a single
    pinned 4-column projection of documents (scanned once). Same
    bitwise devices as ml_logreg_gd — rational Elliott sigmoid, INT64
    gradient quantization (partition-order-independent), min()-carried
    weights (linear plan growth), formula TEXT shared with the DuckDB
    oracle. Reference has no training surface; SURVEY §2 extension."""
    from .curation_ext import text_gopher_rules

    g = text_gopher_rules(spark, sf_dir).select(
        "doc_id", "n_tok", "stop_hits", "pass"
    )
    feats = pin(g.selectExpr(*_QD_FEATS), label="quality_distill_feats")
    train = feats.filter("hold = 0")
    n_train = train.agg(F.expr("count(*) AS n_train"))
    acc = _logreg_accuracy(
        feats.filter("hold = 1"),
        logreg_train_weights(train),
        "n_agree",
        "CAST(sum(CASE WHEN z >= 0.0 AND yi = 0 THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_false_pass",
        "CAST(sum(CASE WHEN z < 0.0 AND yi = 1 THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_false_drop",
    )
    return _holdout_row(
        acc,
        n_train,
        "round(w1, 6) AS w_ntok",
        "round(w2, 6) AS w_stop",
        "round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS test_agree",
        "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS rules_pass_rate_test",
        "CAST(n_false_pass AS BIGINT) AS n_false_pass",
        "CAST(n_false_drop AS BIGINT) AS n_false_drop",
    )


# ---------------------------------------------------------------------------
# majority-label propagation communities + modularity
# ---------------------------------------------------------------------------

_LP_ROUNDS = 5
_LP_SEED = 5      # initial labels are coarse (k//5)*5 seeds: unique-per-node
#                   init + synchronous min-tie updates degenerates to
#                   min-label flooding (ties everywhere -> CC collapse
#                   across single chords); coarse seeds give real
#                   majorities, so single cross-block chords lose 1-vs-2
_LP_N = 120       # node slice: custkeys 0..119 exist at EVERY sf (>= 150)
_LP_BLOCK = 15    # 8 planted blocks of 15 nodes each
_LP_INTER_MOD = 13  # ~1/13 of nodes grow one long-range (cross-block) edge


def _labelprop_sql() -> str:
    from ..functions.hashing import hash60_duckdb_sql

    h = hash60_duckdb_sql("CAST(k AS VARCHAR) || '|lp'")
    blocks = [
        f"""
nodes AS MATERIALIZED (
  SELECT c_custkey AS k FROM customer WHERE c_custkey < {_LP_N}
),
raw_e AS (
  SELECT k AS a, k + 1 AS b FROM nodes
  WHERE k % {_LP_BLOCK} <> {_LP_BLOCK - 1}
  UNION ALL
  SELECT k, k + 2 FROM nodes WHERE k % {_LP_BLOCK} <= {_LP_BLOCK - 3}
  UNION ALL
  SELECT k, (k + 53) % {_LP_N} FROM nodes WHERE {h} % {_LP_INTER_MOD} = 0
),
und AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM raw_e WHERE a <> b
),
dir AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM und
  UNION ALL SELECT b, a FROM und
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, (src // {_LP_SEED}) * {_LP_SEED} AS lbl FROM dir
)"""
    ]
    for i in range(1, _LP_ROUNDS + 1):
        blocks.append(
            f"""
cnt{i} AS (
  SELECT d.src AS node, l.lbl, count(*) AS c
  FROM dir d JOIN lab{i - 1} l ON d.dst = l.node
  GROUP BY d.src, l.lbl
),
lab{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM cnt{i}
  ) WHERE rn = 1
)"""
        )
    r = _LP_ROUNDS
    return (
        "WITH "
        + ",".join(b.strip() for b in blocks)
        + f""",
m AS (SELECT count(*) AS m FROM und),
internal AS (
  SELECT la.lbl AS community, count(*) AS n_int
  FROM und e
  JOIN lab{r} la ON e.a = la.node
  JOIN lab{r} lb ON e.b = lb.node
  WHERE la.lbl = lb.lbl GROUP BY la.lbl
),
degs AS (
  SELECT l.lbl AS community, count(*) AS deg_sum
  FROM dir d JOIN lab{r} l ON d.src = l.node GROUP BY l.lbl
),
sizes AS (
  SELECT lbl AS community, count(*) AS n_nodes FROM lab{r} GROUP BY lbl
)
SELECT s.community, CAST(s.n_nodes AS BIGINT) AS n_nodes,
       CAST(coalesce(i.n_int, 0) AS BIGINT) AS n_internal,
       CAST(dg.deg_sum AS BIGINT) AS deg_sum,
       round(coalesce(i.n_int, 0) / CAST(m.m AS DOUBLE)
             - (dg.deg_sum / (2.0 * m.m)) * (dg.deg_sum / (2.0 * m.m)),
             6) AS modularity_part
FROM sizes s
JOIN degs dg ON s.community = dg.community
LEFT JOIN internal i ON s.community = i.community, m"""
    )


@register("graph_label_prop_communities", oracle=_labelprop_sql())
def graph_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous MAJORITY-label propagation
    (Raghavan et al. 2007), plus each community's Newman modularity
    contribution Q_c = e_c/m - (deg_c / 2m)^2 — the quality score that
    tells a curator whether the partition is denser than chance. This
    is NOT connected components (dedup_components' min-label rule
    converges to CCs): each round every node adopts the label held by
    the MAJORITY of its neighbors (tie -> smallest label), which
    carves dense blocks apart even inside ONE component.

    Fixture: the random TPC-H trade graph has no community structure
    (majority prop collapses it to a single blob), so the graph is a
    planted stochastic-block-model derived deterministically from the
    customer table — 8 ring-blocks of {block} nodes (edges k->k+1,
    k->k+2 inside a block) plus ~1/{inter} long-range cross-block
    chords behind the md5 gate; custkeys 0..{n} exist at every sf, so
    the fixture is scale-stable and both engines build the identical
    graph. Recovering the planted blocks with positive modularity is
    what the test pins. Labels initialize to COARSE (k//{seed})*{seed}
    seeds, not unique-per-node: unique init under synchronous min-tie
    updates has every neighborhood tied at count 1, so the argmax
    degenerates to min-label flooding and single cross-block chords
    merge blocks exactly like connected components — coarse seeds give
    real majorities from round 1, and a lone chord loses its 1-vote to
    the 2+ intra-block votes.

    Scale shape: each of the {rounds} fixed synchronous rounds is ONE
    edge-table join against the current (node, label) frame + ONE
    (node, label) count aggregate + a per-node argmax window — all
    shuffles keyed on node id, state is exactly one label per node,
    and the label frame is pinned per round so lineage stays flat (the
    dedup_components discipline). Production iterates until the label
    frame stops changing (a 1-row convergence probe per round — same
    loop); fixed rounds keep both engines on the identical unrolled
    plan. Determinism: counts are exact integers and ties break
    (count DESC, label ASC), so every round is a pure function of the
    edge set on both engines."""
    from ..functions.hashing import hash60

    nodes = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    ).filter(F.col("k") < _LP_N)
    gate = (
        hash60(F.concat(F.col("k").cast("string"), F.lit("|lp")))
        % _LP_INTER_MOD
        == 0
    )
    raw_e = (
        nodes.filter(F.col("k") % _LP_BLOCK != _LP_BLOCK - 1)
        .select(F.col("k").alias("a"), (F.col("k") + 1).alias("b"))
        .unionByName(
            nodes.filter(F.col("k") % _LP_BLOCK <= _LP_BLOCK - 3).select(
                F.col("k").alias("a"), (F.col("k") + 2).alias("b")
            )
        )
        .unionByName(
            nodes.filter(gate).select(
                F.col("k").alias("a"), ((F.col("k") + 53) % _LP_N).alias("b")
            )
        )
    )
    und = pin(
        raw_e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        label="lp_und",
    )
    dir_ = pin(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        label="lp_dir",
    )
    lab = dir_.select(F.col("src").alias("node")).distinct().select(
        "node",
        ((F.col("node") / _LP_SEED).cast("bigint") * _LP_SEED).alias("lbl"),
    )
    from pyspark.sql import Window as W

    for i in range(1, _LP_ROUNDS + 1):
        lab = pin(lab, label=f"lp_lab{i - 1}")
        cnt = (
            dir_.join(lab, dir_.dst == lab.node)
            .groupBy(dir_.src, lab.lbl)
            .agg(F.count("*").alias("c"))
        )
        w = W.partitionBy("src").orderBy(F.col("c").desc(), F.col("lbl"))
        lab = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "lbl")
        )
    lab = pin(lab, label="lp_final")
    m = F.broadcast(und.agg(F.count("*").alias("m")))
    la = lab.select(F.col("node").alias("a"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))
    internal = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("n_int"))
    )
    degs = (
        dir_.join(lab, dir_.src == lab.node)
        .groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("deg_sum"))
    )
    sizes = lab.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )
    mm = F.col("m").cast("double")
    return (
        sizes.join(degs, "community")
        .join(internal, "community", "left")
        .crossJoin(m)
        .select(
            "community",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.coalesce("n_int", F.lit(0)).cast("bigint").alias("n_internal"),
            F.col("deg_sum").cast("bigint").alias("deg_sum"),
            F.round(
                F.coalesce("n_int", F.lit(0)) / mm
                - (F.col("deg_sum") / (2.0 * mm))
                * (F.col("deg_sum") / (2.0 * mm)),
                6,
            ).alias("modularity_part"),
        )
    )


graph_label_prop_communities.__doc__ = graph_label_prop_communities.__doc__.format(
    rounds=_LP_ROUNDS,
    block=_LP_BLOCK,
    inter=_LP_INTER_MOD,
    n=_LP_N - 1,
    seed=_LP_SEED,
)


# ---------------------------------------------------------------------------
# gradient-alignment influence scores (TracIn-style data attribution)
# ---------------------------------------------------------------------------

_INF_ROUNDS = 3
_INF_TOPK = 20
# shared formula text: per-row influence = grad_i . grad_holdout under
# the trained logistic model, with grad = (p - y) * [1, x1, x2] and the
# holdout gradient accumulated in int64 micro-units (h0..h2)
_INF_EXPR = (
    "round((p - y) * ((CAST(h0 AS DOUBLE) / 1000000.0)"
    " + (x1 * (CAST(h1 AS DOUBLE) / 1000000.0))"
    " + (x2 * (CAST(h2 AS DOUBLE) / 1000000.0))), 6) AS influence"
)
_INF_HOLD_GRAD = [e.replace(" AS g", " AS h") for e in _LOGREG_GRAD]


def _influence_sql() -> str:
    body = ",\n".join(
        _logreg_round_cte(i, src="itrain") for i in range(1, _INF_ROUNDS + 1)
    )
    return f"""WITH ifeats AS (
  SELECT o.o_orderkey AS okey,
         CASE WHEN o.o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS hold,
         {_LOGREG_FEATS[0].replace("x1n", "f.x1n")},
         {_LOGREG_FEATS[1].replace("x2n", "f.x2n")},
         {_LOGREG_FEATS[2].replace("x1n", "f.x1n").replace("x2n", "f.x2n").replace("o_orderkey", "o.o_orderkey")},
         {_LOGREG_FEATS[3].replace("x1n", "f.x1n").replace("x2n", "f.x2n").replace("o_orderkey", "o.o_orderkey")}
  FROM (SELECT l_orderkey, count(*) AS x1n,
               CAST(round(sum(l_quantity)) AS BIGINT) AS x2n
        FROM lineitem GROUP BY l_orderkey) f
  JOIN orders o ON o.o_orderkey = f.l_orderkey
),
itrain AS (SELECT * FROM ifeats WHERE hold = 0),
lrw0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                CAST(0.0 AS DOUBLE) AS w2),
{body},
ghold AS (
  SELECT {_INF_HOLD_GRAD[0]},
         {_INF_HOLD_GRAD[1]},
         {_INF_HOLD_GRAD[2]}
  FROM (SELECT y, x1, x2, w0, w1, w2, {_LOGREG_P.replace("z", _LOGREG_Z)} AS p
        FROM (SELECT * FROM ifeats WHERE hold = 1), lrw{_INF_ROUNDS})
),
inf AS (
  SELECT okey, yi, {_INF_EXPR}
  FROM (SELECT okey, yi, y, x1, x2,
               {_LOGREG_P.replace("z", _LOGREG_Z)} AS p
        FROM itrain, lrw{_INF_ROUNDS}), ghold
),
helpful AS (SELECT okey, yi, influence FROM inf
            ORDER BY influence DESC, okey LIMIT {_INF_TOPK}),
harmful AS (SELECT okey, yi, influence FROM inf
            ORDER BY influence ASC, okey LIMIT {_INF_TOPK})
SELECT 'helpful' AS direction, okey AS o_orderkey,
       CAST(yi AS INT) AS label, influence
FROM helpful
UNION ALL
SELECT 'harmful', okey, CAST(yi AS INT), influence FROM harmful"""


@register("sample_influence_proxy", oracle=_influence_sql())
def sample_influence_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order INFLUENCE scores for data attribution (TracIn,
    Pruthi et al. 2020 / the gradient-alignment core of influence
    functions, Koh & Liang 2017): after training the engine's logistic
    model on the train split, each training example is scored by
    grad_i . grad_holdout — a positive dot product means one more SGD
    step on this example would REDUCE holdout loss ('helpful'),
    negative means it pulls the model away from the holdout
    distribution ('harmful' — the mislabeled/outlier candidates a
    curation pass re-examines first). Emits the top-{topk} of each
    direction.

    Determinism: weights come from the fixed-point int64 GD chain
    (bitwise cross-engine, see ml_logreg_gd), per-row probabilities
    use the rational Elliott sigmoid (no libm exp), and the HOLDOUT
    gradient is accumulated in int64 micro-units — so every influence
    score is a fixed expression tree over bitwise-identical doubles.
    Scale shape: train + holdout are one pinned feature projection;
    the holdout gradient is ONE 3-int aggregate; scoring is a map-side
    expression over the train stream with two 1-row broadcasts folded
    in; top-k compiles to TakeOrderedAndProject (per-partition heaps).
    Influence for a d-dim model costs one corpus scan regardless of
    rows — the property that makes gradient-alignment curation viable
    at 100 TB where Hessian-based influence is not."""
    feats = pin(
        _order_features(spark, sf_dir).selectExpr(
            "o_orderkey AS okey",
            "CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS hold",
            *_LOGREG_FEATS,
        ),
        label="inf_feats",
    )
    train = feats.filter(F.col("hold") == 0)
    w = logreg_train_weights(train, _INF_ROUNDS)
    ghold = (
        feats.filter(F.col("hold") == 1)
        .crossJoin(F.broadcast(w))
        .selectExpr("y", "x1", "x2", "w0", "w1", "w2", f"{_LOGREG_Z} AS z")
        .selectExpr("y", "x1", "x2", f"{_LOGREG_P} AS p")
        .agg(*[F.expr(e) for e in _INF_HOLD_GRAD])
    )
    inf = pin(
        train.crossJoin(F.broadcast(w))
        .selectExpr(
            "okey", "yi", "y", "x1", "x2", "w0", "w1", "w2",
            f"{_LOGREG_Z} AS z",
        )
        .selectExpr("okey", "yi", "y", "x1", "x2", f"{_LOGREG_P} AS p")
        .crossJoin(F.broadcast(ghold))
        .selectExpr("okey", "yi", _INF_EXPR),
        label="inf_scores",
    )
    def top(order, direction: str) -> DataFrame:
        return (
            inf.orderBy(order, "okey")
            .limit(_INF_TOPK)
            .selectExpr(
                f"'{direction}' AS direction",
                "okey AS o_orderkey",
                "CAST(yi AS INT) AS label",
                "influence",
            )
        )

    return top(F.desc("influence"), "helpful").unionByName(
        top(F.asc("influence"), "harmful")
    )


sample_influence_proxy.__doc__ = sample_influence_proxy.__doc__.format(
    topk=_INF_TOPK
)
