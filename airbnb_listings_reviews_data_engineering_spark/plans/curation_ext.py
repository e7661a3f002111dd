"""Training-data curation operators (round 5): semantic dedup over
learned clusters, coreset selection, full quality-rule batteries, and
length-aware sequence packing.

These are the data-selection steps between raw-corpus cleaning
(pipeline_ext's C4-style passes) and loader-side packing
(sampling_ext's shard packers): decide WHICH documents/vectors survive
and HOW they are grouped, at corpus scale, with the same
cluster/blocking discipline as the dedup family — never all-pairs over
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..checkpoint import pin
from ..functions.arrays import as_double_array, gram_positions
from ..operators.ordered import ordered_scan
from .registry import load, register

# ---------------------------------------------------------------------------
# SemDedup: semantic near-dup removal inside learned k-means clusters
# ---------------------------------------------------------------------------

_SD_K = 4
_SD_DIMS = 8
_SD_ITERS = 2

# cosine over PRE-NORMALIZED vectors as a flat 8-term product sum: the
# interpreted list-lambda dot costs ~3 HOF evaluations per candidate
# pair; normalizing once per vector and expanding the dot to scalar
# arithmetic keeps the pair scan inside whole-stage codegen (measured
# 6.1 s -> see SCALING.md). Both engines evaluate the identical
# expression tree, so values stay bitwise comparable.
_SD_FLAT_DOT = " + ".join(
    f"({{a}}[{d}] * {{b}}[{d}])" for d in range(1, 9)
)
_SD_COS = "round(" + _SD_FLAT_DOT + ", 4)"
_SD_NORM_SQL = (
    "list_transform({v}, x -> x / sqrt("
    + " + ".join(f"({{v}}[{d}] * {{v}}[{d}])" for d in range(1, 9))
    + "))"
)

_SD_D2 = (
    "round(list_sum(list_transform(generate_series(1, {dims}), "
    "d -> (x.v[d] - c.cv[d]) * (x.v[d] - c.cv[d]))), 6)"
).format(dims=_SD_DIMS)


def _flat_dot(a: str, b: str):
    """Codegen-friendly fixed-width dot product: a flat 8-term scalar
    sum (no higher-order lambda, so the pair scan stays inside
    whole-stage codegen)."""
    expr = None
    for d in range(1, _SD_DIMS + 1):
        term = F.element_at(a, d) * F.element_at(b, d)
        expr = term if expr is None else expr + term
    return expr


def _normalized(v: str):
    """v / ||v|| with the SAME flat sum-of-squares both engines use."""
    nrm = F.sqrt(_flat_dot(v, v))
    return F.transform(v, lambda x: x / nrm)


def _assign_cells(corpus: DataFrame, cents: DataFrame, probes: int = 1) -> DataFrame:
    """MAP-SIDE nearest-centroid assignment over (vec_id, v) rows.
    Promoted in round 7 to :func:`operators.clustering.assign_nearest`
    (VERDICT r6 #2: ``_lloyd``'s training rounds needed the same shape);
    this wrapper keeps the curation-module call sites and the semdedup
    oracles' exact numeric contract (zip_with fold, round 6 dp)."""
    from ..operators.clustering import assign_nearest

    return assign_nearest(corpus, "vec_id", "v", cents, probes=probes)



def _semdedup_k(sf_dir: str) -> int:
    """SemDedup's k scales with the corpus so cell population stays
    bounded (the paper's regime): k = max(4, n_vectors // 125), read
    from the parquet FOOTER (no scan — the percentile guard's trick).
    At the oracle gate's scales (<= 500 vectors at sf <= 0.01) this is
    exactly the static k=4 the generated SQL states; at bench sf0.1
    (2000 vectors) it gives 16 cells. That matters twice: the pair scan
    is quadratic in cell population (~250 corpus rows/cell vs ~1000 at
    k=4 — 4x fewer candidate pairs), and the in-cell pair JOIN's
    parallelism equals the number of distinct cids, so k IS the task
    count of the heaviest stage (measured: the k=4 pair phase ran 4
    tasks on a 32-core box; k=16 runs 16)."""
    import os

    from ..sources.parquet import row_count

    # an unreadable footer falls back to the oracle's k
    n = row_count(os.path.join(sf_dir, "embeddings.parquet"))
    return _SD_K if n is None else max(_SD_K, n // 125)


def _semdedup_sql(k: int = _SD_K) -> str:
    from .pipeline_ext import _kmeans_blocks

    return (
        "WITH "
        + _kmeans_blocks(k, _SD_DIMS, _SD_ITERS)
        + f""",
corpus AS (
  SELECT vec_id, v FROM e
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, [v[1] + 0.01] || v[2:] AS v FROM e
),
assigned AS (
  SELECT vec_id, {_SD_NORM_SQL.format(v="v")} AS vn, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {_SD_D2}, c.cid) AS rn
    FROM corpus x CROSS JOIN c{_SD_ITERS} c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.cid, a.vec_id AS keep_id, b.vec_id AS drop_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_SD_COS.format(a="a.vn", b="b.vn")} >= 0.99
)
SELECT c.cid, c.n_vectors,
       COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(p.n_dropped, 0) AS n_dropped
FROM (SELECT cid, count(DISTINCT vec_id) AS n_vectors
      FROM assigned GROUP BY cid) c
LEFT JOIN (SELECT cid, count(*) AS n_dup_pairs,
                  count(DISTINCT drop_id) AS n_dropped
           FROM pairs GROUP BY cid) p ON p.cid = c.cid
"""
    )


def _semdedup_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The SemDedup fixture: the base embeddings (first _SD_DIMS dims)
    plus a perturbed copy of each (first coordinate +0.01, vec_id +
    100000), and the k-means centroids trained on the base embeddings."""
    from ..operators.clustering import kmeans_centroids

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, _SD_DIMS).alias("v")
    )
    perturbed = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, _SD_DIMS - 1)
        ).alias("v"),
    )
    corpus = base.unionByName(perturbed)
    cents = kmeans_centroids(
        emb, "vec_id", "embedding", k=_semdedup_k(sf_dir), dims=_SD_DIMS,
        iters=_SD_ITERS
    )
    return corpus, cents


def _in_cell_dups(cells: DataFrame) -> DataFrame:
    """Pairs (keep_id < drop_id) of vectors assigned to one cell ``cid``
    whose normalized vectors ``vn`` have rounded cosine >= 0.99."""
    a = cells.select(
        F.col("cid"), F.col("vec_id").alias("keep_id"), F.col("vn").alias("va")
    )
    b = cells.select(
        F.col("cid"), F.col("vec_id").alias("drop_id"), F.col("vn").alias("vb")
    )
    cos = F.round(_flat_dot("va", "vb"), 4)
    return (
        a.join(b, "cid")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .filter(cos >= 0.99)
    )


@register(
    "dedup_semdedup",
    oracle=_semdedup_sql(),
    oracle_tmpl=lambda sf_dir: _semdedup_sql(_semdedup_k(sf_dir)),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al., arXiv:2303.09540): semantic near-dup
    removal where the blocking key is a LEARNED k-means cluster rather
    than an exact token fingerprint — catches paraphrases and
    re-encodings exact/minhash dedup cannot see. A perturbed copy of
    every vector (first coordinate +0.01) joins the corpus so true
    semantic dups exist; centroids are trained on the base embeddings
    (ml_kmeans's exact Lloyd loop, k=4/8 dims/2 iters), every corpus
    vector is assigned to its nearest centroid MAP-SIDE (the k
    centroids collapse to ONE broadcast array row; the pick is
    ``array_min`` over ``struct(rounded d2, cid)`` — a pure column
    expression, no corpus shuffle and no per-vector window — verified
    by the registry sweep, which pins this key's pinned-stage
    exchange/window counts in scripts/plan_ledger.json and flags any
    hashpartitioning(vec_id) in a recorded stage plan),
    and cosine >= 0.99 pairs are found ONLY inside a cluster. Per
    cluster: member count, dup-pair count, and how many vectors a
    keep-lowest-id policy would drop. At 100 TB k grows with the
    corpus so cluster populations stay bounded (the paper's regime,
    ~50k clusters for web scale) and the per-cluster pair scan stays
    quadratic only in a constant cluster size — the same
    bounded-bucket discipline as dedup_embedding_lsh, with learned
    rather than hashed buckets."""
    corpus, cents = _semdedup_corpus(spark, sf_dir)
    assigned = _assign_cells(corpus, cents).select(
        "vec_id", _normalized("v").alias("vn"), "cid"
    )
    assigned = pin(assigned, label="semdedup_assigned")

    pairs = (
        _in_cell_dups(assigned)
        .select("cid", "keep_id", "drop_id")
    )
    # aggregate BOTH sides to k rows before joining: the previous
    # per-vector x per-pair left join on cid alone materialized
    # |cell| x |pairs-in-cell| rows per cell before its groupBy — the
    # fact-blow-up shape the round-7 sweep measures. NOTE this also
    # CORRECTED n_dup_pairs' meaning (oracle updated in lockstep): the
    # blown-up count was pairs x members per cell; it is now the
    # honest per-cell pair count, so the column is not comparable
    # across releases that straddle this change.
    cellstats = assigned.groupBy("cid").agg(
        F.countDistinct("vec_id").alias("n_vectors")
    )
    pairstats = pairs.groupBy("cid").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("drop_id").alias("n_dropped"),
    )
    return cellstats.join(pairstats, "cid", "left").select(
        "cid",
        "n_vectors",
        F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# greedy k-center coreset selection
# ---------------------------------------------------------------------------

_KC_R = 6
_KC_DIMS = 8

_KC_D2 = (
    "round(list_sum(list_transform(generate_series(1, {dims}), "
    "d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d]))), 6)"
)


def _kcenter_sql() -> str:
    d2 = _KC_D2.format(dims=_KC_DIMS, a="d.v", b="p.v")
    blocks = [
        f"""
e AS (
  SELECT vec_id,
         list_transform(generate_series(1, {_KC_DIMS}),
                        d -> CAST(embedding[d] AS DOUBLE)) AS v
  FROM embeddings
),
p1 AS (SELECT vec_id, v FROM e WHERE vec_id = 1),
m1 AS (
  SELECT d.vec_id, d.v,
         {_KC_D2.format(dims=_KC_DIMS, a="d.v", b="p.v")} AS dmin
  FROM e d CROSS JOIN p1 p
)
"""
    ]
    for r in range(2, _KC_R + 1):
        prev = f"m{r - 1}"
        blocks.append(
            f"""
p{r} AS (
  SELECT vec_id, v, dmin FROM {prev}
  ORDER BY dmin DESC, vec_id LIMIT 1
),
m{r} AS (
  SELECT d.vec_id, d.v, least(d.dmin, {d2}) AS dmin
  FROM {prev} d CROSS JOIN p{r} p
)
"""
        )
    sel = ["SELECT 1 AS center_rank, vec_id, 0.0 AS sel_dist FROM p1"] + [
        f"SELECT {r}, vec_id, dmin FROM p{r}" for r in range(2, _KC_R + 1)
    ]
    return "WITH " + ",".join(b.strip() for b in blocks) + "\n" + "\nUNION ALL\n".join(sel)


@register("sample_kcenter_coreset", oracle=_kcenter_sql())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 2-approximation; the
    data-pruning selector of Sener & Savarese, arXiv:1708.00489): pick
    the vector farthest from everything chosen so far, R times — the
    diversity-maximizing subset used to prune redundant training data.
    Per round the state is one narrow map (dmin := least(dmin, d2 to
    the ONE new broadcast center)) plus a TakeOrdered(1) argmax — the
    incremental formulation: nothing recomputes distances to the whole
    chosen set, no corpus shuffle ever, R scans total. sel_dist is the
    covering radius at selection (monotonically non-increasing; the
    classic stopping signal when R is budget-driven instead of fixed).
    Distances round to 6 dp with vec_id tie-break, so the trajectory
    is deterministic cross-engine. The oracle unrolls all R rounds as
    CTEs — agreement checks every selection, not just the last."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, _KC_DIMS).alias("v")
    )

    def d2_to(center_v):
        return F.round(
            F.aggregate(
                F.zip_with("v", center_v, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, val: acc + val,
            ),
            6,
        )

    first = base.filter(F.col("vec_id") == 1)
    state = base.crossJoin(
        F.broadcast(first.select(F.col("v").alias("cv")))
    ).select("vec_id", "v", d2_to(F.col("cv")).alias("dmin"))
    picks = [
        first.select(
            F.lit(1).alias("center_rank"),
            "vec_id",
            F.lit(0.0).alias("sel_dist"),
        )
    ]
    for r in range(2, _KC_R + 1):
        state = pin(state, label=f"kcenter_state_{r}")
        pick = state.orderBy(F.desc("dmin"), "vec_id").limit(1)
        picks.append(
            pick.select(
                F.lit(r).alias("center_rank"),
                "vec_id",
                F.col("dmin").alias("sel_dist"),
            )
        )
        if r < _KC_R:
            state = state.crossJoin(
                F.broadcast(pick.select(F.col("v").alias("cv")))
            ).select(
                "vec_id",
                "v",
                F.least("dmin", d2_to(F.col("cv"))).alias("dmin"),
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Gopher-style quality-rule battery
# ---------------------------------------------------------------------------

_GOPHER_SQL = """
WITH t AS (
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
)
SELECT doc_id, n_tok, mean_wlen, stop_hits, alpha_frac, uniq_ratio,
       (n_tok BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3 AND 10)
         AND stop_hits >= 2 AND alpha_frac >= 0.8 AND uniq_ratio >= 0.2
         AS pass
FROM m
"""


@register("text_gopher_rules", oracle=_GOPHER_SQL)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al., arXiv:2112.11446
    §A1.1) in ONE map-side pass: word-count bounds, mean-word-length
    window [3,10], >=2 stopword hits, alphabetic-word fraction >= 0.8,
    lexical-diversity floor — every rule a pure column expression over
    a token array evaluated ONCE per row (two-step projection, see
    operators/text.py::lang_id), zero shuffles, zero Python. Emits the
    per-rule measurements alongside the verdict, because a 100 TB
    filtering run needs the rule-level pass rates (which rule is
    dropping what) before committing to a cut, not just a boolean."""
    docs = load(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", F.length("text").alias("len"), F.split("text", " ").alias("tok")
    )
    n_tok = F.size("tok")
    mean_wlen = F.round(
        (F.col("len") - (n_tok - 1)) / n_tok.cast("double"), 4
    )
    from ..operators.text import EN_STOPWORDS

    stop_hits = F.size(F.filter("tok", lambda w: w.isin(*EN_STOPWORDS)))
    alpha_frac = F.round(
        F.size(F.filter("tok", lambda w: w.rlike("^[a-z]")))
        / n_tok.cast("double"),
        4,
    )
    uniq_ratio = F.round(
        F.size(F.array_distinct("tok")) / n_tok.cast("double"), 4
    )
    m = tokd.select(
        "doc_id",
        n_tok.alias("n_tok"),
        mean_wlen.alias("mean_wlen"),
        stop_hits.alias("stop_hits"),
        alpha_frac.alias("alpha_frac"),
        uniq_ratio.alias("uniq_ratio"),
    )
    return m.select(
        "*",
        (
            F.col("n_tok").between(50, 100000)
            & F.col("mean_wlen").between(3, 10)
            & (F.col("stop_hits") >= 2)
            & (F.col("alpha_frac") >= 0.8)
            & (F.col("uniq_ratio") >= 0.2)
        ).alias("pass"),
    )


# ---------------------------------------------------------------------------
# complement-pair sequence packing (longest with shortest)
# ---------------------------------------------------------------------------

_PAIR_BUDGET = 1200

_PAIR_SQL = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
), r AS (
  SELECT doc_id, n_tok,
         row_number() OVER (ORDER BY n_tok DESC, doc_id) AS pos,
         count(*) OVER () AS n
  FROM t
)
SELECT a.pos AS pair_id, a.doc_id AS long_doc,
       CASE WHEN b.pos > a.pos THEN b.doc_id END AS short_doc,
       a.n_tok + CASE WHEN b.pos > a.pos THEN b.n_tok ELSE 0 END
         AS pair_tokens,
       a.n_tok + CASE WHEN b.pos > a.pos THEN b.n_tok ELSE 0 END
         <= {_PAIR_BUDGET} AS fits_budget
FROM r a JOIN r b ON b.pos = a.n - a.pos + 1
WHERE a.pos <= a.n - a.pos + 1
"""


@register("pack_length_pairs", oracle=_PAIR_SQL)
def pack_length_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complement-pair sequence packing: rank documents by token count
    and pair the r-th longest with the r-th shortest — the one-pass
    folding approximation of best-fit-decreasing bin packing that
    loader-side context packing uses to cut padding waste (each pair
    targets a uniform token budget; an odd middle element packs
    alone). The oracle states the spec as one global row_number; the
    plan takes the rank and the corpus count from `ordered_scan`. The
    pairing itself is an equi-join on the complement rank (unique keys,
    no skew). At 100 TB: one range shuffle + one hash join, both on
    unique keys."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    # pinned: both pairing sides read `ranked`; without the pin the
    # offsets window and its join execute twice
    ranked = pin(
        ordered_scan(
            d, [F.desc("n_tok"), F.asc("doc_id")], label="pack_pairs_ranked"
        ).select("doc_id", "n_tok", "pos", F.col("n_rows").alias("n")),
        label="pack_pairs_pos",
    )
    a = ranked.select("doc_id", "n_tok", "pos", "n")
    b = ranked.select(
        F.col("doc_id").alias("b_doc"),
        F.col("n_tok").alias("b_tok"),
        F.col("pos").alias("b_pos"),
    )
    paired = a.join(b, a["n"] - a["pos"] + 1 == b["b_pos"]).filter(
        F.col("pos") <= F.col("b_pos")
    )
    partner_tok = F.when(F.col("b_pos") > F.col("pos"), F.col("b_tok")).otherwise(
        F.lit(0)
    )
    return paired.select(
        F.col("pos").alias("pair_id"),
        F.col("doc_id").alias("long_doc"),
        F.when(F.col("b_pos") > F.col("pos"), F.col("b_doc")).alias("short_doc"),
        (F.col("n_tok") + partner_tok).alias("pair_tokens"),
        ((F.col("n_tok") + partner_tok) <= _PAIR_BUDGET).alias("fits_budget"),
    )


# ---------------------------------------------------------------------------
# multinomial naive Bayes language classifier (closed-form, one pass)
# ---------------------------------------------------------------------------

_NB_OFF = 20  # positivity offset so fixed-point rounding never sees a
# negative half (engines disagree on round(-x.5)); bounded because the
# smallest log-likelihood ln(1/(tok_c+V)) stays > -20 far beyond bench
# scales (tok_c+V < e^20 ~ 4.8e8 tokens per class)

_NB_SQL = f"""
WITH train AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id % 5 <> 0
), cls AS (
  SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tok
  FROM train GROUP BY lang
), tot AS (
  SELECT (SELECT count(DISTINCT doc_id) FROM train) AS n_total,
         (SELECT count(DISTINCT w) FROM train) AS v
), cnt AS (
  SELECT lang, w, count(*) AS c FROM train GROUP BY lang, w
), test AS (
  SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id % 5 = 0
), scored_tok AS (
  SELECT t.doc_id, t.true_lang, k.lang AS cand, tot.v,
         k.n_docs, tot.n_total,
         CAST(round((ln((coalesce(c.c, 0) + 1)
                        / CAST(k.n_tok + tot.v AS DOUBLE)) + {_NB_OFF})
                    * 1000000) AS BIGINT) AS ll_fp
  FROM test t
  CROSS JOIN cls k CROSS JOIN tot
  LEFT JOIN cnt c ON c.lang = k.lang AND c.w = t.w
), doc_scores AS (
  SELECT doc_id, true_lang, cand,
         round((CAST(sum(ll_fp) AS BIGINT) - count(*) * {_NB_OFF}000000)
                 / 1000000.0
               + ln(any_value(n_docs) / CAST(any_value(n_total) AS DOUBLE)),
               4) AS score
  FROM scored_tok GROUP BY doc_id, true_lang, cand
)
SELECT doc_id, true_lang, cand AS pred_lang, score
FROM (
  SELECT doc_id, true_lang, cand, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand) AS rn
  FROM doc_scores
) WHERE rn = 1
"""


@register("ml_naive_bayes", oracle=_NB_SQL)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained AND applied
    in one closed-form distributed pass (the fastText-tier quality/
    language gate of web-corpus curation, minus the embedding): class
    priors and Laplace-smoothed token likelihoods are aggregations
    over the 80 % training split; the 20 % held-out docs score by
    joining their token stream to the per-(class, token) count table
    and summing log-likelihoods per (doc, class). No gradient, no
    driver state — prior/vocab/class tables are k- and 1-row
    broadcasts, the token-count join shuffles on the token key.

    Determinism: per-token log-likelihoods are offset positive and
    fixed-pointed to 1e-6 BEFORE summation (integer sums are
    order-free where a double sum is not — the exact-moments
    discipline of ab_test_welch applied to logs); the single ln() per
    token and per prior is bitwise cross-engine."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # pinned: class stats, vocab total, count table and the test stream
    # all read the token stream — unpinned each re-tokenized the corpus
    # (4 scans in the final plan; max_rescan audit, round 7), and the
    # two composing keys (confusion matrix, cascade audit) doubled it
    tokd = pin(
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
        ),
        eager=False,  # lazy: all four consumers share the terminal plan
        label="nb_tokens",
    )
    train = tokd.filter(F.col("doc_id") % 5 != 0)
    test = tokd.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "w"
    )
    cls = train.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_tok"),
    )
    tot = train.agg(
        F.countDistinct("doc_id").alias("n_total"),
        F.countDistinct("w").alias("v"),
    )
    cnt = train.groupBy("lang", "w").agg(F.count("*").alias("c"))
    ll = (
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1)
            / (F.col("n_tok") + F.col("v")).cast("double")
        )
        + _NB_OFF
    )
    scored_tok = (
        test.crossJoin(F.broadcast(cls.select(F.col("lang").alias("cand"), "n_docs", "n_tok")))
        .crossJoin(F.broadcast(tot))
        .join(
            cnt.select(F.col("lang").alias("cand"), "w", "c"),
            ["cand", "w"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            "n_docs",
            "n_total",
            F.round(ll * 1000000).cast("bigint").alias("ll_fp"),
        )
    )
    doc_scores = scored_tok.groupBy("doc_id", "true_lang", "cand").agg(
        F.round(
            (F.sum("ll_fp") - F.count("*") * _NB_OFF * 1000000) / 1000000.0
            + F.log(
                F.first("n_docs") / F.first("n_total").cast("double")
            ),
            4,
        ).alias("score")
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    return (
        doc_scores.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("cand").alias("pred_lang"), "score")
    )


# ---------------------------------------------------------------------------
# ROUGE-2 overlap between candidate/reference document pairs
# ---------------------------------------------------------------------------

_ROUGE_PAIR_GAP = 250

_ROUGE_SQL = f"""
WITH bg AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' '
                || string_split(text, ' ')[i + 1])) AS g
  FROM documents
), counts AS (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
), cand AS (
  SELECT doc_id AS cand_id, g, c FROM counts
  WHERE doc_id < {_ROUGE_PAIR_GAP}
), ref AS (
  SELECT doc_id - {_ROUGE_PAIR_GAP} AS cand_id, g, c FROM counts
  WHERE doc_id >= {_ROUGE_PAIR_GAP} AND doc_id < {2 * _ROUGE_PAIR_GAP}
), ov AS (
  SELECT c.cand_id,
         CAST(sum(least(c.c, r.c)) AS BIGINT) AS n_overlap
  FROM cand c JOIN ref r ON c.cand_id = r.cand_id AND c.g = r.g
  GROUP BY c.cand_id
), tot AS (
  SELECT c.cand_id,
         CAST(sum(c.c) AS BIGINT) AS n_cand,
         any_value(rt.n_ref) AS n_ref
  FROM cand c JOIN (
    SELECT cand_id, CAST(sum(c) AS BIGINT) AS n_ref FROM ref GROUP BY cand_id
  ) rt ON c.cand_id = rt.cand_id
  GROUP BY c.cand_id
)
SELECT t.cand_id, t.cand_id + {_ROUGE_PAIR_GAP} AS ref_id,
       coalesce(o.n_overlap, 0) AS n_overlap,
       round(coalesce(o.n_overlap, 0) / CAST(t.n_cand AS DOUBLE), 4)
         AS rouge2_precision,
       round(coalesce(o.n_overlap, 0) / CAST(t.n_ref AS DOUBLE), 4)
         AS rouge2_recall,
       round(CASE WHEN coalesce(o.n_overlap, 0) = 0 THEN 0.0
             ELSE 2.0 * (coalesce(o.n_overlap, 0) / CAST(t.n_cand AS DOUBLE))
                      * (coalesce(o.n_overlap, 0) / CAST(t.n_ref AS DOUBLE))
                  / (coalesce(o.n_overlap, 0) / CAST(t.n_cand AS DOUBLE)
                     + coalesce(o.n_overlap, 0) / CAST(t.n_ref AS DOUBLE))
             END, 4) AS rouge2_f1
FROM tot t LEFT JOIN ov o ON t.cand_id = o.cand_id
"""


@register("text_rouge_overlap", oracle=_ROUGE_SQL)
def text_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 (clipped bigram multiset overlap) between paired
    candidate/reference documents — the summarization/eval-set QA
    metric, distributed: the overlap of pair (cand, ref) is
    sum over shared bigrams of min(count_cand, count_ref), computed
    as ONE equi-join on (pair_id, bigram) over the per-doc bigram
    count tables — never a per-pair loop, never all-pairs (pairing is
    doc_id vs doc_id+250, the stand-in for a real cand/ref key).
    Precision, recall and F1 resolve from exact integer counts with
    one rounding each. The bigram-count build is the same shape as
    text_ngram_freq; at 100 TB the join shuffles on the (pair,
    bigram) key with map-side partial counts."""
    # only the paired id range participates — prune BEFORE tokenizing
    # (the filter reaches the parquet scan as a pushed predicate; the
    # unpruned pin materialized bigram counts for the WHOLE corpus to
    # serve a 2*GAP slice)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 2 * _ROUGE_PAIR_GAP)
    )
    tokd = docs.select("doc_id", F.split("text", " ").alias("tok"))
    bg = tokd.select(
        "doc_id",
        F.explode(
            F.transform(
                gram_positions("tok", 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("tok", i), F.element_at("tok", i + 1)
                ),
            )
        ).alias("g"),
    )
    # pinned: cand and ref each feed the overlap join AND a total agg —
    # unpinned, the corpus re-tokenized 4x (max_rescan audit, round 7)
    counts = pin(
        bg.groupBy("doc_id", "g").agg(F.count("*").alias("c")),
        label="rouge_counts",
    )
    cand = counts.filter(F.col("doc_id") < _ROUGE_PAIR_GAP).select(
        F.col("doc_id").alias("cand_id"), "g", F.col("c").alias("cc")
    )
    ref = counts.filter(
        (F.col("doc_id") >= _ROUGE_PAIR_GAP)
        & (F.col("doc_id") < 2 * _ROUGE_PAIR_GAP)
    ).select(
        (F.col("doc_id") - _ROUGE_PAIR_GAP).alias("cand_id"),
        "g",
        F.col("c").alias("rc"),
    )
    ov = (
        cand.join(ref, ["cand_id", "g"])
        .groupBy("cand_id")
        .agg(F.sum(F.least("cc", "rc")).alias("n_overlap"))
    )
    n_cand = cand.groupBy("cand_id").agg(F.sum("cc").alias("n_cand"))
    n_ref = ref.groupBy("cand_id").agg(F.sum("rc").alias("n_ref"))
    t = n_cand.join(n_ref, "cand_id").join(ov, "cand_id", "left")
    novl = F.coalesce(F.col("n_overlap"), F.lit(0))
    prec = novl / F.col("n_cand").cast("double")
    rec = novl / F.col("n_ref").cast("double")
    return t.select(
        "cand_id",
        (F.col("cand_id") + _ROUGE_PAIR_GAP).alias("ref_id"),
        novl.alias("n_overlap"),
        F.round(prec, 4).alias("rouge2_precision"),
        F.round(rec, 4).alias("rouge2_recall"),
        F.round(
            F.when(novl == 0, 0.0).otherwise(2.0 * prec * rec / (prec + rec)),
            4,
        ).alias("rouge2_f1"),
    )


# ---------------------------------------------------------------------------
# SemDedup with multi-probe assignment (boundary-loss recovery)
# ---------------------------------------------------------------------------

_SD_PROBES = 2


def _semdedup_mp_sql(k: int = _SD_K) -> str:
    from .pipeline_ext import _kmeans_blocks

    return (
        "WITH "
        + _kmeans_blocks(k, _SD_DIMS, _SD_ITERS)
        + f""",
corpus AS (
  SELECT vec_id, v FROM e
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, [v[1] + 0.01] || v[2:] AS v FROM e
),
probed AS (
  SELECT vec_id, {_SD_NORM_SQL.format(v="v")} AS vn, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {_SD_D2}, c.cid) AS rn
    FROM corpus x CROSS JOIN c{_SD_ITERS} c
  ) WHERE rn <= {_SD_PROBES}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS drop_id
  FROM probed a JOIN probed b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_SD_COS.format(a="a.vn", b="b.vn")} >= 0.99
)
SELECT (SELECT count(DISTINCT vec_id) FROM probed) AS n_vectors,
       (SELECT count(*) FROM probed) AS n_assignments,
       count(*) AS n_dup_pairs,
       count(DISTINCT drop_id) AS n_dropped
FROM pairs
"""
    )


@register(
    "dedup_semdedup_multiprobe",
    oracle=_semdedup_mp_sql(),
    oracle_tmpl=lambda sf_dir: _semdedup_mp_sql(_semdedup_k(sf_dir)),
)
def dedup_semdedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup with MULTI-PROBE assignment: every vector lands in its
    TWO nearest centroids' cells, so near-dup pairs whose members sit
    on opposite sides of a Voronoi edge — the 9/500 recall loss
    dedup_semdedup measures in SCALING.md — still co-occur in at least
    one probed cell. Probe count multiplies assignment rows (and
    in-cell pair work) by 2, NOT the corpus shuffle: assignment is a
    map-side ``slice(array_sort(struct(d2, cid)), 1, 2)`` over the ONE
    broadcast centroid-array row (zero exchanges, zero windows — the
    pre-pin stage plan is pinned by scripts/plan_ledger.json), the
    pair join still runs
    only within cells, and pairs found in both shared cells collapse
    with one DISTINCT. This is exactly sim_lsh_multiprobe's lever
    applied to learned buckets; the 1-row summary exposes the
    assignment amplification (n_assignments / n_vectors) a capacity
    planner needs."""
    corpus, cents = _semdedup_corpus(spark, sf_dir)
    probed = _assign_cells(corpus, cents, probes=_SD_PROBES).select(
        "vec_id", _normalized("v").alias("vn"), "cid"
    )
    probed = pin(probed, label="semdedup_mp_probed")

    pairs = (
        _in_cell_dups(probed)
        .select("keep_id", "drop_id")
        .distinct()
    )
    stats = probed.agg(
        F.countDistinct("vec_id").alias("n_vectors"),
        F.count("*").alias("n_assignments"),
    )
    return pairs.agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("drop_id").alias("n_dropped"),
    ).crossJoin(F.broadcast(stats)).select(
        "n_vectors", "n_assignments", "n_dup_pairs", "n_dropped"
    )


# ---------------------------------------------------------------------------
# histogram-based decision stump (distributed 1R / LightGBM-style split)
# ---------------------------------------------------------------------------

_STUMP_BINS = 64
_STUMP_W = 500000.0 / _STUMP_BINS

_STUMP_SQL = f"""
WITH labeled AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         CAST(least(floor(o_totalprice / {_STUMP_W}), {_STUMP_BINS - 1}) AS INT)
           AS price_bin,
         CAST(month(o_orderdate) - 1 AS INT) AS month_bin
  FROM orders
), hist AS (
  SELECT 'price' AS feature, price_bin AS bin,
         count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM labeled GROUP BY price_bin
  UNION ALL
  SELECT 'month', month_bin, count(*), CAST(sum(y) AS BIGINT)
  FROM labeled GROUP BY month_bin
), cum AS (
  SELECT feature, bin, n, pos,
         sum(n) OVER w AS nl, CAST(sum(pos) OVER w AS BIGINT) AS pl,
         sum(n) OVER (PARTITION BY feature) AS nt,
         CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS pt
  FROM hist
  WINDOW w AS (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT feature, bin, nl, nt,
         round(
           (nl / CAST(nt AS DOUBLE))
             * (1 - (pl / CAST(nl AS DOUBLE)) * (pl / CAST(nl AS DOUBLE))
                  - (1 - pl / CAST(nl AS DOUBLE)) * (1 - pl / CAST(nl AS DOUBLE)))
           + ((nt - nl) / CAST(nt AS DOUBLE))
             * (1 - ((pt - pl) / CAST(nt - nl AS DOUBLE))
                      * ((pt - pl) / CAST(nt - nl AS DOUBLE))
                  - (1 - (pt - pl) / CAST(nt - nl AS DOUBLE))
                      * (1 - (pt - pl) / CAST(nt - nl AS DOUBLE))), 6)
           AS wgini
  FROM cum WHERE nl < nt
)
SELECT feature, bin AS split_bin, wgini FROM (
  SELECT feature, bin, wgini,
         row_number() OVER (PARTITION BY feature
                            ORDER BY wgini, bin) AS rn
  FROM scored
) WHERE rn = 1
"""


@register("ml_decision_stump", oracle=_STUMP_SQL)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump training (the split-finding inner
    loop of every distributed GBDT — LightGBM/XGBoost-hist): bin each
    feature map-side into <= 64 fixed bins, aggregate (feature, bin)
    -> (count, positives) — the ONLY corpus-sized work, one shuffle
    with map-side combine to at most features x 64 rows — then resolve
    the best weighted-Gini split per feature with cumulative windows
    over the TINY histogram (64 rows per partition, never the data).
    This is why GBDT scales: split search cost is independent of row
    count. Gini from exact integer counts, rounded once, bin
    tie-break; label = order status 'F' vs rest, features = price and
    order month."""
    o = load(spark, sf_dir, "orders")
    labeled = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.least(
            F.floor(F.col("o_totalprice") / _STUMP_W), F.lit(_STUMP_BINS - 1)
        )
        .cast("int")
        .alias("price_bin"),
        (F.month("o_orderdate") - 1).cast("int").alias("month_bin"),
    )
    hist = (
        labeled.groupBy("price_bin")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .select(
            F.lit("price").alias("feature"),
            F.col("price_bin").alias("bin"),
            "n",
            "pos",
        )
        .unionByName(
            labeled.groupBy("month_bin")
            .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
            .select(
                F.lit("month").alias("feature"),
                F.col("month_bin").alias("bin"),
                "n",
                "pos",
            )
        )
    )
    wcum = (
        W.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("feature")
    cum = hist.select(
        "feature",
        "bin",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("pl"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("pos").over(wall).alias("pt"),
    )
    pl_r = F.col("pl") / F.col("nl").cast("double")
    pr_r = (F.col("pt") - F.col("pl")) / (F.col("nt") - F.col("nl")).cast(
        "double"
    )
    wgini = F.round(
        (F.col("nl") / F.col("nt").cast("double"))
        * (1 - pl_r * pl_r - (1 - pl_r) * (1 - pl_r))
        + ((F.col("nt") - F.col("nl")) / F.col("nt").cast("double"))
        * (1 - pr_r * pr_r - (1 - pr_r) * (1 - pr_r)),
        6,
    )
    scored = cum.filter(F.col("nl") < F.col("nt")).select(
        "feature", "bin", wgini.alias("wgini")
    )
    wbest = W.partitionBy("feature").orderBy("wgini", "bin")
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("feature", F.col("bin").alias("split_bin"), "wgini")
    )


# ---------------------------------------------------------------------------
# k-anonymity rare-n-gram risk audit (privacy gate)
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_SQL = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tok) - 2),
                i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2])) AS g
  FROM tokd
), freq AS (
  SELECT g, count(*) AS corpus_c FROM grams GROUP BY g
)
SELECT gr.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN f.corpus_c < {_KANON_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rare,
       round(sum(CASE WHEN f.corpus_c < {_KANON_K} THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS rare_frac,
       sum(CASE WHEN f.corpus_c < {_KANON_K} THEN 1 ELSE 0 END)
         > 0.5 * count(*) AS high_risk
FROM grams gr JOIN freq f ON gr.g = f.g
GROUP BY gr.doc_id
"""


@register("text_kanon_risk", oracle=_KANON_SQL)
def text_kanon_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity rare-n-gram risk audit — the privacy gate before a
    corpus (or an n-gram index) is released: a 3-gram appearing in
    fewer than k=5 corpus positions can identify its source document
    (the memorization/PII-leak proxy used to gate vocabulary and
    suffix-array releases). Per document: gram count, rare-gram count,
    rare fraction, and a >50 %-rare high-risk flag. Plan: one gram
    explode (token array materialized once — the two-step projection),
    the corpus gram-frequency table via one groupBy with map-side
    combine, and a join back on the gram key; the frequency table IS
    the standing index at scale (same artifact text_novelty_score
    probes), so the audit amortizes to the join alone."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", F.split("text", " ").alias("tok"))
    grams = tokd.select(
        "doc_id",
        F.explode(
            F.transform(
                gram_positions("tok", 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("tok", i),
                    F.element_at("tok", i + 1),
                    F.element_at("tok", i + 2),
                ),
            )
        ).alias("g"),
    )
    freq = grams.groupBy("g").agg(F.count("*").alias("corpus_c"))
    rare = F.when(F.col("corpus_c") < _KANON_K, 1).otherwise(0)
    return (
        grams.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(rare).alias("n_rare"),
            F.round(F.sum(rare) / F.count("*").cast("double"), 4).alias(
                "rare_frac"
            ),
            (F.sum(rare) > 0.5 * F.count("*")).alias("high_risk"),
        )
    )


# ---------------------------------------------------------------------------
# differentially-private release: seeded-Laplace counts + clipped sums
# ---------------------------------------------------------------------------

_DP_EPS = 1.0
_DP_CLIP = 64  # per-document token-contribution bound (the sum's sensitivity)

# the seeded-Laplace mechanism is shared by every DP surface
# (functions/privacy.py holds the exact-dyadic determinism argument)
from ..functions.privacy import seeded_laplace_sql as _dp_noise_sql  # noqa: E402,E501


def _dp_sql() -> str:
    from ..functions.hashing import hash60_duckdb_sql

    n_cnt = _dp_noise_sql("source || ':cnt'", f"1.0 / {_DP_EPS}",
                          hash60_duckdb_sql)
    n_tok = _dp_noise_sql("source || ':tok'", f"{_DP_CLIP} / {_DP_EPS}",
                          hash60_duckdb_sql)
    return f"""
WITH g AS (
  SELECT source,
         count(*)::BIGINT AS n,
         CAST(sum(least(len(string_split(text, ' ')), {_DP_CLIP}))
              AS BIGINT) AS ts
  FROM documents GROUP BY source
)
SELECT source,
       round(n + {n_cnt}, 4) AS n_docs_noisy,
       round(ts + {n_tok}, 4) AS n_tokens_noisy
FROM g
"""


@register("agg_dp_counts", oracle=_dp_sql())
def agg_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private corpus telemetry (Dwork et al. 2006): the
    per-source document counts and token totals a data vendor publishes
    about a private corpus, released through the Laplace mechanism.
    Counts have sensitivity 1; token sums are CONTRIBUTION-BOUNDED
    first (each document's token count clipped at 64 — the clip, not
    the data, sets the sum's sensitivity, the standard user-level-DP
    move), then noised at scale sensitivity/epsilon. Noise is a SEEDED
    inverse-CDF Laplace draw — u from hash60 of the group key over an
    exact dyadic grid, noise = -b*sign(u)*ln(1-2|u|) — so the release
    is deterministic for the gate while exercising the exact production
    plan (a production release swaps the seed for a secret one; the
    mechanism, clipping, and plan shape are identical). Plan: one
    groupBy with map-side combine computes count and clipped sum in the
    same pass; the noise is a scalar expression on the K-row aggregate
    — DP costs nothing at 100 TB. Emitted: (source, n_docs_noisy,
    n_tokens_noisy); production publishes ONLY these."""
    from ..functions.hashing import hash60_spark_sql

    n_cnt = _dp_noise_sql("concat(source, ':cnt')", f"1.0 / {_DP_EPS}",
                          hash60_spark_sql)
    n_tok = _dp_noise_sql("concat(source, ':tok')", f"{_DP_CLIP} / {_DP_EPS}",
                          hash60_spark_sql)
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(
            F.least(F.size(F.split("text", " ")), F.lit(_DP_CLIP))
        ).alias("ts"),
    )
    return g.select(
        "source",
        F.expr(f"round(n + {n_cnt}, 4)").alias("n_docs_noisy"),
        F.expr(f"round(ts + {n_tok}, 4)").alias("n_tokens_noisy"),
    )


# ---------------------------------------------------------------------------
# pass@k estimator (Codex-style eval statistic)
# ---------------------------------------------------------------------------

_PASS_K = 5

# unbiased pass@k (Chen et al., arXiv:2107.03374): 1 - C(n-c, k)/C(n, k),
# computed as the telescoped product so no factorial overflows; any zero
# factor (n - c < k) collapses the product and pass@k = 1 exactly.
_PASS5 = (
    "(1 - (greatest(n - c - 0, 0) / CAST(n - 0 AS DOUBLE))"
    " * (greatest(n - c - 1, 0) / CAST(n - 1 AS DOUBLE))"
    " * (greatest(n - c - 2, 0) / CAST(n - 2 AS DOUBLE))"
    " * (greatest(n - c - 3, 0) / CAST(n - 3 AS DOUBLE))"
    " * (greatest(n - c - 4, 0) / CAST(n - 4 AS DOUBLE)))"
)

_PASS_AT_K_SQL = f"""
WITH s AS (
  SELECT user_id AS problem_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY user_id
)
SELECT problem_id, n, c,
       round(c / CAST(n AS DOUBLE), 4) AS pass_at_1,
       round({_PASS5}, 4) AS pass_at_5
FROM s WHERE n >= {_PASS_K}
"""


@register("eval_pass_at_k", oracle=_PASS_AT_K_SQL)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al., arXiv:2107.03374 —
    the HumanEval statistic): per problem with n sampled attempts and
    c successes, pass@k = 1 - C(n-c,k)/C(n,k), telescoped into k
    bounded ratio factors so nothing overflows and n-c < k collapses
    to exactly 1. Events stand in for attempt logs (problem = user,
    success = purchase). ONE aggregation to (n, c) per problem — the
    eval harness over a billion sampled completions is a groupBy, not
    a loop — then pure row arithmetic sharing one expression tree with
    the oracle (bitwise floats). Problems with n < k are excluded, as
    the estimator requires."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.groupBy(F.col("user_id").alias("problem_id"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("c"),
        )
        .filter(F.col("n") >= _PASS_K)
    )
    return s.selectExpr(
        "problem_id",
        "CAST(n AS BIGINT) AS n",
        "CAST(c AS BIGINT) AS c",
        "round(c / CAST(n AS DOUBLE), 4) AS pass_at_1",
        f"round({_PASS5}, 4) AS pass_at_5",
    )


# ---------------------------------------------------------------------------
# tokenizer fertility (subwords per word, per language)
# ---------------------------------------------------------------------------


def _fertility_sql() -> str:
    from .iterative_ext import _BPE_MERGES, _WORDS_CTE, _bpe_round_cte

    rounds = ",\n".join(_bpe_round_cte(i) for i in range(1, _BPE_MERGES + 1))
    return f"""WITH {_WORDS_CTE},
{rounds},
vocab AS (
  SELECT word, len(string_split(trim(sym), ' '))::BIGINT AS n_pieces
  FROM sym{_BPE_MERGES}
),
dt AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT dt.lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(v.n_pieces) AS BIGINT) AS n_subwords,
       round(sum(v.n_pieces) / CAST(count(*) AS DOUBLE), 4) AS fertility
FROM dt JOIN vocab v ON dt.w = v.word
GROUP BY dt.lang"""


@register("text_tokenizer_fertility", oracle=_fertility_sql())
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subwords emitted per word
    under the trained 6-merge BPE vocabulary, THE metric for whether a
    tokenizer under-serves a language (high fertility = more tokens
    per sentence = less effective context and higher serving cost for
    that language; the multilingual-tokenizer audit every lab runs).
    The segmented vocabulary comes from the same distributed BPE
    training loop as text_bpe_vocab (vocab-sized state only); the
    corpus token stream joins it on the word key and per-language
    sums reduce map-side. Exact integer counts; one rounded division
    per language."""
    from ..operators.bpe import bpe_segmented_vocab, word_frequencies
    from .iterative_ext import _BPE_MERGES

    docs = load(spark, sf_dir, "documents")
    words = word_frequencies(docs, "text")
    vocab = bpe_segmented_vocab(words, merges=_BPE_MERGES).select(
        "word", F.col("n_pieces").cast("bigint").alias("n_pieces")
    )
    dt = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    return (
        dt.join(vocab, "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_subwords"),
            F.round(
                F.sum("n_pieces") / F.count("*").cast("double"), 4
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# dataset card (release-gate statistics summary)
# ---------------------------------------------------------------------------

_CARD_SQL = """
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tok,
         md5(lower(text)) AS h
  FROM documents
), langs AS (
  SELECT lang, count(*) AS c FROM t GROUP BY lang
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups
  FROM t
), ent AS (
  SELECT round(-sum((c / CAST(tot.n_docs AS DOUBLE))
                    * ln(c / CAST(tot.n_docs AS DOUBLE))), 4) AS lang_entropy
  FROM langs CROSS JOIN tot GROUP BY tot.n_docs
)
SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM tot
UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM tot
UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM tot
UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM tot
UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM tot
UNION ALL SELECT 'exact_dup_rate',
  round(n_exact_dups / CAST(n_docs AS DOUBLE), 4) FROM tot
UNION ALL SELECT 'mean_doc_tokens',
  round(n_tokens / CAST(n_docs AS DOUBLE), 4) FROM tot
UNION ALL SELECT 'lang_entropy', lang_entropy FROM ent
"""


@register("profile_dataset_card", oracle=_CARD_SQL)
def profile_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card — the release-gate statistics block every
    published corpus ships (datasheet: size, composition, duplication,
    language balance): doc/token/char totals, language and source
    cardinalities, exact-duplicate rate (content-hash), mean document
    length, and Shannon entropy of the language mix (the one number
    that says 'balanced' vs 'one language dominates'). ONE scan
    produces every global moment (count distincts share the pass);
    the entropy folds the #langs-row distribution against the 1-row
    total. Unpivoted to (metric, value) rows so the card is directly
    diffable between releases — feed two of these into
    diff_snapshots and the release gate is closed."""
    # pinned: the global moments, the language distribution and the
    # entropy fold all read this projection — unpinned, 3 documents
    # scans in the final plan (max_rescan audit, round 7)
    t = pin(
        load(spark, sf_dir, "documents").select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tok"),
            F.md5(F.lower("text")).alias("h"),
        ),
        label="card_base",
    )
    tot = t.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
    )
    langs = t.groupBy("lang").agg(F.count("*").alias("c"))
    p = F.col("c") / F.col("n_docs").cast("double")
    ent = (
        langs.crossJoin(F.broadcast(tot.select("n_docs")))
        .agg(F.round(-F.sum(p * F.log(p)), 4).alias("lang_entropy"))
    )
    rows = tot.selectExpr(
        "stack(7,"
        " 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'n_tokens', CAST(n_tokens AS DOUBLE),"
        " 'n_chars', CAST(n_chars AS DOUBLE),"
        " 'n_langs', CAST(n_langs AS DOUBLE),"
        " 'n_sources', CAST(n_sources AS DOUBLE),"
        " 'exact_dup_rate', round(n_exact_dups / CAST(n_docs AS DOUBLE), 4),"
        " 'mean_doc_tokens', round(n_tokens / CAST(n_docs AS DOUBLE), 4)"
        ") AS (metric, value)"
    )
    return rows.unionByName(
        ent.select(F.lit("lang_entropy").alias("metric"), F.col("lang_entropy").alias("value"))
    )


# ---------------------------------------------------------------------------
# shard -> reader assignment (the loader side of the shard manifest)
# ---------------------------------------------------------------------------

_N_READERS = 8


def _reader_assignment_sql() -> str:
    from .pipeline_ext import _SHARD_MANIFEST_SQL

    return f"""
WITH manifest AS ({_SHARD_MANIFEST_SQL})
SELECT CAST(shard % {_N_READERS} AS BIGINT) AS reader,
       CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(nb) AS BIGINT) AS total_bytes
FROM manifest GROUP BY 1
"""


@register("mm_reader_assignment", oracle=_reader_assignment_sql())
def mm_reader_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-to-reader assignment — the dataloader side of
    mm_shard_manifest: distribute the byte-packed shards across 8
    parallel readers by shard-id modulo (stateless, rerun-stable, new
    shards rebalance automatically) and report per-reader shard/member/
    byte loads — the skew table a training job checks before an epoch
    (a reader 2x over byte budget = stragglers every step). Reuses the
    registered manifest plan (range-partition byte cumsum, no
    single-partition window) and adds ONE aggregation. Modulo keeps
    assignment scale-free where LPT bin packing would need the full
    shard list on the driver; byte-budget packing into near-equal
    shards upstream is what makes modulo near-balanced here."""
    from .pipeline_ext import mm_shard_manifest

    manifest = mm_shard_manifest(spark, sf_dir)
    return (
        manifest.groupBy(
            F.pmod(F.col("shard"), F.lit(_N_READERS)).cast("bigint").alias("reader")
        )
        .agg(
            F.countDistinct("shard").alias("n_shards"),
            F.count("*").alias("n_members"),
            F.sum("nb").alias("total_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization: per-subspace codebooks + encoding
# ---------------------------------------------------------------------------

# PQ constants + the per-subspace Lloyd SQL chain live in
# pipeline_ext (beside _kmeans_blocks) since round 10 — imported here
# the same lazy way the other shared SQL builders are.


def _pq_sql() -> str:
    from .pipeline_ext import (
        _PQ_ITERS,
        _PQ_SUBDIM,
        _PQ_SUBSPACES,
        _pq_blocks,
    )

    d2 = (
        "round(list_sum(list_transform(generate_series(1, {dims}), "
        "d -> (e.v[d] - c.cv[d]) * (e.v[d] - c.cv[d]))), 6)"
    ).format(dims=_PQ_SUBDIM)
    chains = ",".join(_pq_blocks(s) for s in range(_PQ_SUBSPACES))
    encodes = "\nUNION ALL\n".join(
        f"""SELECT {s} AS subspace, cid AS code,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CAST(round(d2 * 1000000) AS BIGINT)) AS BIGINT) AS sum_d2_fp
FROM (
  SELECT vec_id, cid, d2 FROM (
    SELECT e.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM es{s} e CROSS JOIN cs{s}{_PQ_ITERS} c
  ) WHERE rn = 1
) GROUP BY cid"""
        for s in range(_PQ_SUBSPACES)
    )
    return "WITH " + chains + "\n" + encodes


@register("sim_pq_quantize", oracle=_pq_sql())
def sim_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al., TPAMI 2011 — the compression
    layer of every billion-scale ANN index): the 64-dim embedding space
    splits into 4 independent 16-dim subspaces, each learns its own
    k=4 codebook with the exact Lloyd loop ml_kmeans uses, and every
    vector encodes as 4 tiny code ids (here 8 bits total vs 512 bytes
    raw — the 64x memory cut that lets an index live in RAM). Training
    runs per subspace over the SAME scan (narrow slices, broadcast
    codebooks, no corpus shuffle in assignment); the output is the
    code histogram + fixed-point per-cell quantization error, i.e. the
    codebook-quality report (imbalanced codes or fat error cells =
    retrain). Distortions are fixed-pointed BEFORE summation so the
    report is order-free and bitwise reproducible."""
    from ..operators.clustering import _sq_dist, kmeans_centroids
    from .pipeline_ext import _PQ_ITERS, _PQ_K, _PQ_SUBDIM, _PQ_SUBSPACES

    emb = load(spark, sf_dir, "embeddings")
    # encode side reads the corpus ONCE, carrying all four subspace
    # slices in one projection; each subspace's codebook collapses to a
    # broadcast 1-row array and its pick is the same map-side
    # struct(d2, cid) argmin as assign_nearest (== the oracle's
    # row_number ORDER BY d2, cid). The per-subspace union this
    # replaces scanned the corpus once PER subspace (4 full embeddings
    # scans in the final plan; max_rescan audit, round 7). Training is
    # unchanged: per-subspace Lloyd with pinned per-round centroids.
    enc = emb.select(
        "vec_id",
        *[
            F.slice(
                as_double_array("embedding"), s * _PQ_SUBDIM + 1, _PQ_SUBDIM
            ).alias(f"v{s}")
            for s in range(_PQ_SUBSPACES)
        ],
    )
    picks = []
    for s in range(_PQ_SUBSPACES):
        off = s * _PQ_SUBDIM
        sub = emb.select(
            "vec_id",
            F.slice(as_double_array("embedding"), off + 1, _PQ_SUBDIM).alias(
                "embedding"
            ),
        )
        cents = kmeans_centroids(
            sub, "vec_id", "embedding", k=_PQ_K, dims=_PQ_SUBDIM, iters=_PQ_ITERS
        )
        carr = F.broadcast(
            cents.agg(F.collect_list(F.struct("cid", "cv")).alias(f"_c{s}"))
        )
        enc = enc.crossJoin(carr)
        def _score(sub_idx: int):
            # factory, not a default-arg lambda: F.transform feeds a
            # 2-parameter lambda (element, INDEX) — the index column
            # would shadow the captured subspace id
            def f(c):
                return F.struct(
                    F.round(
                        _sq_dist(F.col(f"v{sub_idx}"), c["cv"], _PQ_SUBDIM), 6
                    ).alias("d2"),
                    c["cid"].alias("cid"),
                )

            return f

        scores = F.transform(F.col(f"_c{s}"), _score(s))
        best = F.array_min(scores)
        picks.append(
            F.struct(
                F.lit(s).alias("subspace"),
                best["cid"].alias("code"),
                best["d2"].alias("d2"),
            )
        )
    rows = enc.select(F.explode(F.array(*picks)).alias("r")).select("r.*")
    return rows.groupBy("subspace", "code").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.round(F.col("d2") * 1000000).cast("bigint")).alias(
            "sum_d2_fp"
        ),
    ).select("subspace", F.col("code"), "n_vectors", "sum_d2_fp")


# ---------------------------------------------------------------------------
# PMI collocation mining (phrase discovery)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 25

_PMI_SQL = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
), uni AS (
  SELECT w, count(*) AS cw FROM (
    SELECT unnest(tok) AS w FROM tokd
  ) GROUP BY w
), tot AS (
  SELECT CAST(sum(cw) AS BIGINT) AS n_uni,
         (SELECT CAST(sum(len(tok) - 1) AS BIGINT) FROM tokd
          WHERE len(tok) > 1) AS n_bi
  FROM uni
), bi AS (
  SELECT l, r, count(*) AS cb FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tok) - 1),
                  i -> struct_pack(l := tok[i], r := tok[i + 1]))) AS p
    FROM tokd
  ) t, LATERAL (SELECT p.l AS l, p.r AS r)
  GROUP BY l, r
)
SELECT b.l || ' ' || b.r AS bigram, b.cb AS n_pair,
       round(ln((b.cb / CAST(tot.n_bi AS DOUBLE))
                / ((ul.cw / CAST(tot.n_uni AS DOUBLE))
                   * (ur.cw / CAST(tot.n_uni AS DOUBLE)))), 4) AS pmi
FROM bi b
JOIN uni ul ON b.l = ul.w
JOIN uni ur ON b.r = ur.w
CROSS JOIN tot
WHERE b.cb >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, bigram
LIMIT 20
"""


@register("text_collocation_pmi", oracle=_PMI_SQL)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked collocations (pointwise mutual information over
    adjacent token pairs, count floor {mc}) — the phrase-mining pass
    that decides which multiword units ('new york', 'machine
    learning') deserve single tokens in a vocabulary (word2vec's
    phrase pass; Mikolov et al., NIPS'13 §4). Unigram and bigram
    count tables each reduce map-side; PMI is one ln over ratios of
    exact integers per surviving bigram (bitwise cross-engine), the
    count floor prunes the candidate set BEFORE the joins, and the
    final top-20 is a TakeOrdered, not a global sort."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # pinned: the unigram/bigram counts and the totals all read the
    # token table, and the vocab-sized unigram table feeds BOTH PMI
    # joins — unpinned the corpus tokenized 4x (max_rescan, round 7)
    tokd = pin(
        docs.select("doc_id", F.split("text", " ").alias("tok")),
        label="pmi_tok",
    )
    uni = pin(
        tokd.select(F.explode("tok").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw")),
        label="pmi_uni",
    )
    bi = (
        tokd.select(
            F.explode(
                F.transform(
                    gram_positions("tok", 2),
                    lambda i: F.struct(
                        F.element_at("tok", i).alias("l"),
                        F.element_at("tok", i + 1).alias("r"),
                    ),
                )
            ).alias("p")
        )
        .select("p.l", "p.r")
        .groupBy("l", "r")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= _PMI_MIN_COUNT)
    )
    tot = tokd.agg(
        F.sum(F.size("tok")).alias("n_uni"),
        F.sum(
            F.when(F.size("tok") > 1, F.size("tok") - 1)
        ).alias("n_bi"),
    )
    pmi = F.round(
        F.log(
            (F.col("cb") / F.col("n_bi").cast("double"))
            / (
                (F.col("cwl") / F.col("n_uni").cast("double"))
                * (F.col("cwr") / F.col("n_uni").cast("double"))
            )
        ),
        4,
    )
    return (
        bi.join(uni.select(F.col("w").alias("l"), F.col("cw").alias("cwl")), "l")
        .join(uni.select(F.col("w").alias("r"), F.col("cw").alias("cwr")), "r")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "l", "r").alias("bigram"),
            F.col("cb").alias("n_pair"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


# substitute AFTER definition: chaining .format() onto the literal made
# it an expression, not a docstring — __doc__ was None and the registry
# doc rendered empty (the same ADVICE r11 bug as text_fim_transform,
# caught by tests/test_round12_ops.py::test_every_registered_key_has_a_doc)
text_collocation_pmi.__doc__ = text_collocation_pmi.__doc__.format(
    mc=_PMI_MIN_COUNT
)


# ---------------------------------------------------------------------------
# probability calibration bins (reliability diagram / ECE)
# ---------------------------------------------------------------------------

_CAL_BINS = 10

_CALIBRATION_SQL = f"""
WITH scored AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         round(1.0 / (1.0 + exp(-(o_totalprice / 250000.0 - 1.0))), 6) AS p
  FROM orders
), binned AS (
  SELECT CAST(least(floor(p * {_CAL_BINS}), {_CAL_BINS - 1}) AS INT) AS bin,
         y, CAST(round(p * 1000000) AS BIGINT) AS p_fp
  FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(p_fp) AS BIGINT) / CAST(count(*) AS DOUBLE)
             / 1000000.0, 4) AS mean_pred,
       round(CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
         AS empirical_rate,
       round(abs(CAST(sum(p_fp) AS BIGINT) / CAST(count(*) AS DOUBLE)
                 / 1000000.0
                 - CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE)), 4)
         AS abs_gap
FROM binned GROUP BY bin
"""


@register("ml_calibration_bins", oracle=_CALIBRATION_SQL)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (the per-bin decomposition of Expected
    Calibration Error): a deterministic sigmoid score stands in for a
    model's probability; each decile-of-score bin reports mean
    predicted probability vs empirical positive rate and their gap —
    the calibration audit run before any model's scores gate a
    production decision (a 0.9-bin with a 0.6 hit rate means the
    scores lie). Predictions are fixed-pointed to 1e-6 BEFORE the
    per-bin summation (order-free integers, ab_test_welch's
    discipline); one conditional-aggregation pass, 10 output rows at
    any scale. The weighted sum of abs_gap * n / total IS the ECE."""
    o = load(spark, sf_dir, "orders")
    p = F.round(
        1.0 / (1.0 + F.exp(-(F.col("o_totalprice") / 250000.0 - 1.0))), 6
    )
    scored = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        p.alias("p"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * _CAL_BINS), F.lit(_CAL_BINS - 1))
        .cast("int")
        .alias("bin"),
        "y",
        F.round(F.col("p") * 1000000).cast("bigint").alias("p_fp"),
    )
    mean_pred = F.sum("p_fp") / F.count("*").cast("double") / 1000000.0
    emp = F.sum("y") / F.count("*").cast("double")
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(mean_pred, 4).alias("mean_pred"),
        F.round(emp, 4).alias("empirical_rate"),
        F.round(F.abs(mean_pred - emp), 4).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# classifier confusion matrix + per-class precision/recall
# ---------------------------------------------------------------------------


def _confusion_sql() -> str:
    # restate the naive-Bayes oracle, then aggregate its predictions
    return f"""
WITH nb AS ({_NB_SQL})
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM nb GROUP BY true_lang, pred_lang
"""


@register("ml_confusion_matrix", oracle=_confusion_sql())
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the naive-Bayes language classifier over its
    held-out split — the eval artifact that says WHICH languages the
    gate confuses (es-fr bleed looks entirely different from zh-en
    bleed in a crawl router). Composes the registered ml_naive_bayes
    plan and adds one (true, pred) aggregation; per-class precision/
    recall/F1 derive from this table's margins. At scale the matrix is
    |classes|^2 rows regardless of corpus size — the whole eval is the
    classifier pass plus one tiny groupBy."""
    nb = ml_naive_bayes(spark, sf_dir)
    return nb.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# exact AUC-ROC via the global-rank decomposition
# ---------------------------------------------------------------------------

_AUC_SQL = """
WITH scored AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         round(1.0 / (1.0 + exp(-(o_totalprice / 250000.0 - 1.0))), 6) AS p
  FROM orders
), ranked AS (
  SELECT y, row_number() OVER (ORDER BY p, o_orderkey) AS rk FROM scored
), m AS (
  SELECT CAST(sum(CASE WHEN y = 1 THEN rk ELSE 0 END) AS BIGINT) AS pos_ranksum,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg
  FROM ranked
)
SELECT n_pos, n_neg,
       round((pos_ranksum - n_pos * (n_pos + 1) / 2.0)
             / (CAST(n_pos AS DOUBLE) * n_neg), 4) AS auc
FROM m
"""


@register("ml_auc_exact", oracle=_AUC_SQL)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT AUC-ROC at any scale via the Mann-Whitney rank-sum
    identity: AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), so
    the whole curve-integral collapses to ONE global rank and three
    integer sums — no threshold sweep, no curve materialization. The
    global rank comes from `ordered_scan`; ties are broken
    deterministically by (score, key) on both engines, so the statistic
    is reproducible to the last ulp. Scores are the same deterministic
    sigmoid ml_calibration_bins audits — together they are the
    ranking-quality + calibration eval pair."""
    o = load(spark, sf_dir, "orders")
    p = F.round(
        1.0 / (1.0 + F.exp(-(F.col("o_totalprice") / 250000.0 - 1.0))), 6
    )
    d = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        p.alias("p"),
    )
    ranked = ordered_scan(d, ["p", "o_orderkey"], label="auc_ranked")
    m = ranked.agg(
        F.sum(F.when(F.col("y") == 1, F.col("pos")).otherwise(0)).alias(
            "pos_ranksum"
        ),
        F.sum("y").alias("n_pos"),
        F.sum(1 - F.col("y")).alias("n_neg"),
    )
    return m.selectExpr(
        "CAST(n_pos AS BIGINT) AS n_pos",
        "CAST(n_neg AS BIGINT) AS n_neg",
        "round((pos_ranksum - n_pos * (n_pos + 1) / 2.0)"
        " / (CAST(n_pos AS DOUBLE) * n_neg), 4) AS auc",
    )


# ---------------------------------------------------------------------------
# chat-template formatting (SFT data assembly)
# ---------------------------------------------------------------------------

_CHAT_SQL = """
WITH pairs AS (
  SELECT p.doc_id AS pair_id, p.text AS prompt, r.text AS response
  FROM documents p JOIN documents r ON r.doc_id = p.doc_id + 250
  WHERE p.doc_id < 250
), fmt AS (
  SELECT pair_id,
         '<|system|>You are a helpful assistant.<|end|>'
           || '<|user|>' || prompt || '<|end|>'
           || '<|assistant|>' || response || '<|end|>' AS chat_text,
         len(string_split(prompt, ' ')) AS prompt_tokens,
         len(string_split(response, ' ')) AS response_tokens
  FROM pairs
)
SELECT pair_id, md5(chat_text) AS chat_md5,
       length(chat_text) AS n_chars,
       prompt_tokens, response_tokens,
       prompt_tokens + response_tokens + 11 AS total_tokens_approx
FROM fmt
"""


@register("text_chat_template", oracle=_CHAT_SQL)
def text_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template assembly — the SFT/RLHF data-prep step that turns
    (prompt, response) pairs into the role-tagged training string a
    chat model consumes, with the per-side token accounting a packing
    budget needs (response_tokens is also the loss-mask length under
    assistant-only supervision). Pairing is one equi-join (doc_id vs
    doc_id+250 stands in for the conversation key); formatting is pure
    string concatenation at scan speed. The assembled text is verified
    by md5 so the oracle pins EVERY byte of the template — a drifted
    separator or swapped role tag is a hash mismatch, which is exactly
    how subtle a template bug is in production (the model trains
    happily on the wrong format)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    p = docs.filter(F.col("doc_id") < 250).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("prompt")
    )
    r = docs.select(
        (F.col("doc_id") - 250).alias("pair_id"), F.col("text").alias("response")
    )
    pairs = p.join(r, "pair_id")
    chat = F.concat(
        F.lit("<|system|>You are a helpful assistant.<|end|>"),
        F.lit("<|user|>"),
        F.col("prompt"),
        F.lit("<|end|>"),
        F.lit("<|assistant|>"),
        F.col("response"),
        F.lit("<|end|>"),
    )
    fmt = pairs.select(
        "pair_id",
        chat.alias("chat_text"),
        F.size(F.split("prompt", " ")).alias("prompt_tokens"),
        F.size(F.split("response", " ")).alias("response_tokens"),
    )
    return fmt.select(
        "pair_id",
        F.md5("chat_text").alias("chat_md5"),
        F.length("chat_text").alias("n_chars"),
        "prompt_tokens",
        "response_tokens",
        (F.col("prompt_tokens") + F.col("response_tokens") + 11).alias(
            "total_tokens_approx"
        ),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking (diversity-aware top-k)
# ---------------------------------------------------------------------------

_MMR_CANDS = 8
_MMR_SELECT = 4
_MMR_LAMBDA = 0.7

_MMR_NCOS = "round(" + " + ".join(
    f"({{a}}[{d}] * {{b}}[{d}])" for d in range(1, 9)
) + ", 6)"


def _mmr_sql() -> str:
    norm = _SD_NORM_SQL
    cos_qc = _MMR_NCOS.format(a="q.vn", b="e.vn")
    cos_cs = _MMR_NCOS.format(a="c.vn", b="s.vn")
    blocks = [
        f"""
e AS MATERIALIZED (
  SELECT vec_id, {norm.format(v='list_transform(generate_series(1, 8), d -> CAST(embedding[d] AS DOUBLE))')} AS vn
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT vec_id AS q_id, vn FROM e WHERE vec_id % 100 = 0 AND vec_id < 405
),
cand AS MATERIALIZED (
  SELECT q_id, vec_id, vn, rel FROM (
    SELECT q.q_id, e.vec_id, e.vn, {cos_qc} AS rel,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {cos_qc} DESC, e.vec_id) AS rn
    FROM q CROSS JOIN e
    WHERE q.q_id <> e.vec_id
  ) WHERE rn <= {_MMR_CANDS}
),
s1 AS MATERIALIZED (
  SELECT q_id, vec_id, vn, rel, 1 AS sel_rank FROM (
    SELECT q_id, vec_id, vn, rel,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY rel DESC, vec_id) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    ]
    for r in range(2, _MMR_SELECT + 1):
        prev_sel = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, r))
        blocks.append(
            f"""
pool{r} AS MATERIALIZED (
  SELECT c.q_id, c.vec_id, c.vn, c.rel,
         max({cos_cs}) AS maxsim
  FROM cand c JOIN ({prev_sel}) s
    ON c.q_id = s.q_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM ({prev_sel}) z
                         WHERE z.q_id = c.q_id)
  GROUP BY c.q_id, c.vec_id, c.vn, c.rel
),
s{r} AS MATERIALIZED (
  SELECT q_id, vec_id, vn, rel, {r} AS sel_rank FROM (
    SELECT q_id, vec_id, vn, rel,
           row_number() OVER (PARTITION BY q_id ORDER BY
             round({_MMR_LAMBDA} * rel - {1 - _MMR_LAMBDA:.1f} * maxsim, 6)
               DESC, vec_id) AS rn
    FROM pool{r}
  ) WHERE rn = 1
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT q_id, sel_rank, vec_id, rel FROM s{i}"
        for i in range(1, _MMR_SELECT + 1)
    )
    return "WITH " + ",".join(b.strip() for b in blocks) + "\n" + union


@register("sim_mmr_rerank", oracle=_mmr_sql())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98 — the diversity pass between ANN retrieval and a RAG
    prompt): from each query's top-8 relevance candidates, greedily
    select 4 maximizing lambda*rel - (1-lambda)*max-sim-to-selected,
    so near-duplicate passages don't crowd the context window. The
    candidate fetch is the multi-query brute-force top-k shape
    (broadcast 5-query set, per-query WindowGroupLimit); each greedy
    round then runs over the CANDIDATE table only — per query at most
    8 x selected similarity pairs, so a round costs candidates-sized
    work regardless of corpus size, and ALL queries advance in
    parallel (the loop is sequential in k, never in queries). Vectors
    pre-normalize once; every similarity is the flat codegen product
    sum. Oracle: all four greedy rounds unrolled as MATERIALIZED
    CTEs, so agreement checks the full selection trajectory."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        _normalized(
            F.slice(as_double_array("embedding"), 1, 8).alias("v")
        ).alias("vn"),
    )
    base = pin(base, label="mmr_base")
    q = base.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 405)
    ).select(F.col("vec_id").alias("q_id"), F.col("vn").alias("qv"))
    rel = F.round(
        sum(
            F.element_at("qv", d) * F.element_at("vn", d)
            for d in range(1, 9)
        ),
        6,
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("rel"), "vec_id")
    cand = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", "vn", rel.alias("rel"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_CANDS)
        .drop("rn")
    )
    cand = pin(cand, label="mmr_cand")
    sel = (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("q_id", "vec_id", "vn", "rel", F.lit(1).alias("sel_rank"))
    )
    selected = pin(sel, label="mmr_s1")
    cos_cs = F.round(
        sum(
            F.element_at("vn", d) * F.element_at("svn", d)
            for d in range(1, 9)
        ),
        6,
    )
    for r in range(2, _MMR_SELECT + 1):
        s = selected.select(
            "q_id",
            F.col("vec_id").alias("s_vid"),
            F.col("vn").alias("svn"),
        )
        pool = (
            cand.join(s, "q_id")
            .filter(F.col("vec_id") != F.col("s_vid"))
            .select("q_id", "vec_id", "vn", "rel", cos_cs.alias("cs"))
            .groupBy("q_id", "vec_id")
            .agg(
                F.first("vn").alias("vn"),
                F.first("rel").alias("rel"),
                F.max("cs").alias("maxsim"),
                F.count("*").alias("n_seen"),
            )
            # NOT IN selected: a candidate similar to ALL previous picks
            # appears once per pick; equality to any pick excludes it
            .filter(F.col("n_seen") == r - 1)
        )
        mmr = F.round(
            _MMR_LAMBDA * F.col("rel") - (1 - _MMR_LAMBDA) * F.col("maxsim"),
            6,
        )
        wpick = W.partitionBy("q_id").orderBy(F.desc("mmr"), "vec_id")
        pick = (
            pool.select("q_id", "vec_id", "vn", "rel", mmr.alias("mmr"))
            .withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select("q_id", "vec_id", "vn", "rel", F.lit(r).alias("sel_rank"))
        )
        selected = pin(selected.unionByName(pick), label=f"mmr_s{r}")
    return selected.select("q_id", "sel_rank", "vec_id", "rel")


# ---------------------------------------------------------------------------
# ranking-quality eval: NDCG@k / precision@k / recall@k
# ---------------------------------------------------------------------------

_NDCG_K = 10

# 1e6-fixed-point 1/log2(rank+1) discount table, shared literally by
# both engines so per-rank gains are exact integers (order-free sums)
_NDCG_DISC = [round(1_000_000 / __import__("math").log2(r + 1)) for r in range(1, _NDCG_K + 1)]


def _ndcg_sql() -> str:
    disc_cases = " ".join(
        f"WHEN {r} THEN {_NDCG_DISC[r - 1]}" for r in range(1, _NDCG_K + 1)
    )
    norm = _SD_NORM_SQL
    cos = _MMR_NCOS.format(a="q.vn", b="e.vn")
    ideal = sum(_NDCG_DISC)  # every one of the k slots relevant
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, label,
         {norm.format(v='list_transform(generate_series(1, 8), d -> CAST(embedding[d] AS DOUBLE))')} AS vn
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT vec_id AS q_id, label AS q_label, vn FROM e
  WHERE vec_id % 100 = 0 AND vec_id < 2005
),
ranked AS (
  SELECT q_id, q_label, vec_id, label, rn FROM (
    SELECT q.q_id, q.q_label, e.vec_id, e.label,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {cos} DESC, e.vec_id) AS rn
    FROM q CROSS JOIN e
    WHERE q.q_id <> e.vec_id
  ) WHERE rn <= {_NDCG_K}
),
scored AS (
  SELECT q_id,
         CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         CAST(sum(CASE WHEN label = q_label
                  THEN CASE rn {disc_cases} ELSE 0 END
                  ELSE 0 END) AS BIGINT) AS dcg_fp
  FROM ranked GROUP BY q_id
),
truth AS (
  SELECT q.q_id, CAST(count(*) AS BIGINT) AS n_same
  FROM q JOIN e ON e.label = q.q_label AND e.vec_id <> q.q_id
  GROUP BY q.q_id
)
SELECT s.q_id, s.n_rel,
       round(s.n_rel / CAST({_NDCG_K} AS DOUBLE), 4) AS precision_at_k,
       round(s.n_rel / CAST(t.n_same AS DOUBLE), 4) AS recall_at_k,
       round(s.dcg_fp / CAST({ideal} AS DOUBLE), 4) AS ndcg_at_k
FROM scored s JOIN truth t ON s.q_id = t.q_id
"""


@register("ml_ndcg_at_k", oracle=_ndcg_sql())
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval — NDCG@10, precision@10, recall@10 of the
    cosine retrieval against label-match relevance, per query: the
    retrieval-eval triple every embedding-model change is gated on.
    The rank discounts 1/log2(r+1) are a shared 1e6-fixed-point
    LITERAL table, so per-query DCG is an exact integer sum
    (order-free — a double DCG sum would depend on row arrival order);
    the ideal DCG normalizer is the all-slots-relevant constant. One
    broadcast query set, one per-query WindowGroupLimit top-k, one
    label-join for the recall denominator — each piece already the
    shape of sim_knn_join at scale."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        _normalized(
            F.slice(as_double_array("embedding"), 1, 8).alias("v")
        ).alias("vn"),
    )
    base = pin(base, label="ndcg_base")
    q = base.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2005)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("vn").alias("qv"),
    )
    cos = sum(
        F.element_at("qv", d) * F.element_at("vn", d) for d in range(1, 9)
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    ranked = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "q_label", "vec_id", "label", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NDCG_K)
    )
    disc = F.when(F.col("rn") == 1, _NDCG_DISC[0])
    for r in range(2, _NDCG_K + 1):
        disc = disc.when(F.col("rn") == r, _NDCG_DISC[r - 1])
    rel = F.col("label") == F.col("q_label")
    scored = ranked.groupBy("q_id").agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("n_rel"),
        F.sum(F.when(rel, disc).otherwise(0)).alias("dcg_fp"),
    )
    truth = (
        q.join(
            base.select("vec_id", "label"),
            (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .groupBy("q_id")
        .agg(F.count("*").alias("n_same"))
    )
    ideal = sum(_NDCG_DISC)
    return scored.join(truth, "q_id").select(
        "q_id",
        "n_rel",
        F.round(F.col("n_rel") / float(_NDCG_K), 4).alias("precision_at_k"),
        F.round(F.col("n_rel") / F.col("n_same").cast("double"), 4).alias(
            "recall_at_k"
        ),
        F.round(F.col("dcg_fp") / float(ideal), 4).alias("ndcg_at_k"),
    )


# ---------------------------------------------------------------------------
# watermark detection (green-list bias z-score)
# ---------------------------------------------------------------------------

_WM_SQL = """
WITH tokd AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), flags AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5('wm:' || w), 1, 15) AS BIGINT)
                   % 2 = 0
              THEN 1 ELSE 0 END AS green
  FROM tokd
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       CAST(sum(green) AS BIGINT) AS n_green,
       round(sum(green) / CAST(count(*) AS DOUBLE), 4) AS green_frac,
       round((sum(green) - 0.5 * count(*)) / sqrt(0.25 * count(*)), 4)
         AS z_score,
       (sum(green) - 0.5 * count(*)) / sqrt(0.25 * count(*)) > 4.0
         AS flagged
FROM flags GROUP BY doc_id
"""


@register("text_watermark_zscore", oracle=_WM_SQL)
def text_watermark_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM watermark detection (Kirchenbauer et al., arXiv:2301.10226):
    a watermarked generator over-samples a hash-keyed 'green list' of
    tokens; the detector computes each document's green fraction and
    its one-proportion z-score against the null p=0.5 — z > 4 is the
    paper's detection threshold. Run over a crawl, this is the
    synthetic-text filter that keeps model output OUT of the next
    model's training set (the self-consumption guard). The green gate
    is the md5-derived hash60 (bitwise identical in the oracle), the
    score is exact-count arithmetic with one sqrt, and the whole
    detector is explode + groupBy with map-side combine — scan-bound
    at any corpus size. Expect ~no flags on natural text: the null
    holds, which is exactly the calibration property a detector must
    demonstrate before anyone trusts its positives."""
    from ..functions.hashing import hash60

    tokd = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    green = F.when(
        F.pmod(hash60(F.concat(F.lit("wm:"), F.col("w"))), F.lit(2)) == 0, 1
    ).otherwise(0)
    z = (F.sum("green") - 0.5 * F.count("*")) / F.sqrt(0.25 * F.count("*"))
    return (
        tokd.select("doc_id", green.alias("green"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("green").alias("n_green"),
            F.round(F.sum("green") / F.count("*").cast("double"), 4).alias(
                "green_frac"
            ),
            F.round(z, 4).alias("z_score"),
            (z > 4.0).alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_TOP = 20
_RAKE_STOPS = "('the', 'a', 'of', 'and', 'to')"

_RAKE_SQL = f"""
WITH tok AS (
  SELECT doc_id, u.pos AS pos, u.w AS w
  FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, ' '),
                  (x, i) -> struct_pack(pos := i, w := x))) AS u
    FROM documents
  )
), marked AS (
  SELECT doc_id, pos, w, CASE WHEN w IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS stop
  FROM tok
), grouped AS (
  SELECT doc_id, pos, w, stop,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
  FROM marked
), phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM grouped WHERE stop = 0
  GROUP BY doc_id, phrase_id
  HAVING count(*) BETWEEN 2 AND 5
), words AS (
  SELECT unnest(string_split(phrase, ' ')) AS w, plen FROM phrases
), wstat AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM words GROUP BY w
), wscore AS (
  SELECT w, CAST(round(deg * 1000000.0 / freq) AS BIGINT) AS score_fp
  FROM wstat
), pscore AS (
  SELECT p.phrase,
         CAST(sum(s.score_fp) AS BIGINT) AS score_fp,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM phrases p,
       LATERAL (SELECT unnest(string_split(p.phrase, ' ')) AS w) pw
  JOIN wscore s ON pw.w = s.w
  GROUP BY p.phrase
)
SELECT phrase, CAST(n_occurrences / (length(phrase)
         - length(replace(phrase, ' ', '')) + 1) AS BIGINT) AS n_docs_approx,
       round(score_fp / (n_occurrences / (length(phrase)
         - length(replace(phrase, ' ', '')) + 1)) / 1000000.0, 4) AS rake_score
FROM pscore
ORDER BY rake_score DESC, phrase
LIMIT {_RAKE_TOP}
"""


@register("text_keyphrase_rake", oracle=_RAKE_SQL)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (2-5 words), each scored by
    the sum of its words' degree/frequency ratios — the unsupervised
    keyword miner used for corpus topic audits and index-term
    generation. Phrase segmentation is the gaps-and-islands running
    stopword count per document (entity-partitioned window); word
    degree/frequency are corpus aggregations with map-side combine;
    per-word scores are FIXED-POINTED before the per-phrase sum so
    phrase scores are order-free integers; the top-20 is a
    TakeOrdered. Every stage shuffles on bounded keys (doc, word,
    phrase text)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    from ..operators.text import EN_STOPWORDS

    marked = tok.select(
        "doc_id",
        "pos",
        "w",
        F.when(F.col("w").isin(*EN_STOPWORDS), 1).otherwise(0).alias("stop"),
    )
    wrun = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    grouped = marked.withColumn("phrase_id", F.sum("stop").over(wrun))
    phrases = (
        grouped.filter(F.col("stop") == 0)
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .filter(F.col("plen").between(2, 5))
    )
    phrases = pin(phrases, label="rake_phrases")
    words = phrases.select(
        F.explode(F.split("phrase", " ")).alias("w"), "plen"
    )
    wstat = words.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    wscore = wstat.select(
        "w",
        F.round(F.col("deg") * 1000000.0 / F.col("freq"))
        .cast("bigint")
        .alias("score_fp"),
    )
    pw = phrases.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    pscore = (
        pw.join(wscore, "w")
        .groupBy("phrase")
        .agg(
            F.sum("score_fp").alias("score_fp"),
            F.count("*").alias("n_occurrences"),
        )
    )
    n_words = (
        F.length("phrase")
        - F.length(F.regexp_replace("phrase", " ", ""))
        + 1
    )
    return (
        pscore.select(
            "phrase",
            (F.col("n_occurrences") / n_words).cast("bigint").alias(
                "n_docs_approx"
            ),
            F.round(
                F.col("score_fp")
                / (F.col("n_occurrences") / n_words)
                / 1000000.0,
                4,
            ).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# winnowing fingerprint selection (robust minimizer sampling)
# ---------------------------------------------------------------------------

_WIN_K = 5   # k-gram length (chars)
_WIN_W = 4   # winnowing window (k-grams per window)
_WIN_MOD = 1_000_000_007
_WIN_BASE = 31


def _winnow_sql() -> str:
    from .pipeline_ext import _minimizer_lag_cols_sql, _minimizer_select_sql

    h = (
        f"list_sum(list_transform(generate_series(i, i + {_WIN_K - 1}), "
        f"j -> CAST(ascii(substr(text, j, 1)) * "
        f"CAST(pow({_WIN_BASE}, i + {_WIN_K - 1} - j) AS BIGINT) AS BIGINT)))"
        f" % {_WIN_MOD}"
    )
    return f"""
WITH grams AS MATERIALIZED (
  SELECT doc_id, u.i AS pos, u.h AS h FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, length(text) - {_WIN_K - 1}),
             i -> struct_pack(i := i, h := {h}))) AS u
    FROM documents WHERE length(text) >= {_WIN_K}
  )
), nbr AS (
  SELECT doc_id, pos, h, {_minimizer_lag_cols_sql(_WIN_W)}
  FROM grams
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), selected AS (
  SELECT doc_id, h FROM nbr
  WHERE {_minimizer_select_sql(_WIN_W)}
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_kgrams,
       (SELECT count(DISTINCT s.h) FROM selected s
        WHERE s.doc_id = g.doc_id) AS n_fingerprints
FROM grams g GROUP BY g.doc_id
"""


@register("text_winnowing_fingerprints", oracle=_winnow_sql())
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken —
    SIGMOD'03, the MOSS algorithm): from each document's rolling k-gram
    hash stream, keep each w-window's MINIMUM — the guarantee-bearing
    sampling (any shared substring of length >= w+k-1 shares a selected
    fingerprint) that document-similarity indexes are built on, with
    expected density 2/(w+1) instead of keeping every gram. The hash
    is the Rabin-Karp polynomial both engines already share
    (operators/text.py); membership uses the EXACT minimizer rule
    (operators/text.minimizer_selected — min of SOME window containing
    the position, via 2(w-1) lags/leads over one doc-partitioned
    bounded window). Round 8 replaced the earlier trailing-window-only
    rule, which silently FORFEITED the guarantee at shared-region
    starts (a smaller doc-specific hash just before the region shadows
    its minimum — caught by the dedup_span_winnowed recall probe).
    Output: per-doc gram and distinct-fingerprint counts (the index
    size planner's numbers). The fingerprint -> posting-list join that
    follows is dedup_span_winnowed's registered shape."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.filter(F.length("text") >= _WIN_K).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(text) - {_WIN_K - 1}), "
                f"i -> aggregate(transform(sequence(i, i + {_WIN_K - 1}), "
                f"j -> cast(ascii(substring(text, j, 1)) * "
                f"cast(pow({_WIN_BASE}, i + {_WIN_K - 1} - j) as bigint) as bigint)), "
                f"0L, (acc, x) -> acc + x) % {_WIN_MOD})"
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    from ..operators.text import minimizer_selected

    selected = minimizer_selected(grams, "doc_id", "pos", "h", _WIN_W)
    n_sel = selected.groupBy("doc_id").agg(
        F.countDistinct("h").alias("n_fingerprints")
    )
    n_grams = grams.groupBy("doc_id").agg(F.count("*").alias("n_kgrams"))
    return n_grams.join(n_sel, "doc_id").select(
        "doc_id", "n_kgrams", "n_fingerprints"
    )


# ---------------------------------------------------------------------------
# classifier agreement audit (heuristic vs learned language ID)
# ---------------------------------------------------------------------------


def _agreement_sql() -> str:
    return f"""
WITH nb AS ({_NB_SQL}),
heur AS (
  SELECT doc_id,
         CASE WHEN len(list_filter(string_split(text, ' '),
                    w -> w IN ('the', 'a', 'of', 'and', 'to')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
              THEN 'en' ELSE 'unk' END AS heur_pred
  FROM documents WHERE doc_id % 5 = 0
)
SELECT h.heur_pred, nb.pred_lang AS nb_pred,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN nb.pred_lang = nb.true_lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nb_correct
FROM heur h JOIN nb ON h.doc_id = nb.doc_id
GROUP BY h.heur_pred, nb.pred_lang
"""


@register("ml_classifier_agreement", oracle=_agreement_sql())
def ml_classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit between the two registered language gates — the
    cheap stopword heuristic (text_lang_id) and the learned naive
    Bayes — on the shared holdout: per (heuristic verdict, NB verdict)
    cell, the volume and how often NB was actually right. This is the
    cascade-design table: cells where the cheap gate agrees with a
    correct NB are safe to route WITHOUT the expensive model (the
    heuristic-first cascade every crawl router uses to cut inference
    cost); disagreement cells price the upgrade. Pure composition of
    two registered plans plus one aggregation."""
    from ..operators.text import lang_id

    docs = load(spark, sf_dir, "documents")
    heur = lang_id(docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text").select(
        "doc_id", F.col("lang_pred").alias("heur_pred")
    )
    nb = ml_naive_bayes(spark, sf_dir)
    return (
        heur.join(nb, "doc_id")
        .groupBy("heur_pred", F.col("pred_lang").alias("nb_pred"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
            ).alias("n_nb_correct"),
        )
    )


# ---------------------------------------------------------------------------
# cluster-balanced sampling: uniform per-semantic-cluster cap
# ---------------------------------------------------------------------------

_CBAL_K = 4
_CBAL_DIMS = 8
_CBAL_ITERS = 2
_CBAL_CAP = 40


def _cbal_sql() -> str:
    from .pipeline_ext import _kmeans_blocks
    from ..functions.hashing import hash60_duckdb_sql

    d2 = (
        "round(list_sum(list_transform(generate_series(1, {dims}), "
        "d -> (e.v[d] - c.cv[d]) * (e.v[d] - c.cv[d]))), 6)"
    ).format(dims=_CBAL_DIMS)
    gate = hash60_duckdb_sql("CAST(vec_id AS VARCHAR) || '|cbal'")
    return (
        "WITH "
        + _kmeans_blocks(_CBAL_K, _CBAL_DIMS, _CBAL_ITERS)
        + f""",
af AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid)
             AS rn
    FROM e CROSS JOIN c{_CBAL_ITERS} c
  ) WHERE rn = 1
),
r AS (
  SELECT vec_id, cid,
         count(*) OVER (PARTITION BY cid) AS cell_n,
         row_number() OVER (PARTITION BY cid ORDER BY {gate}, vec_id) AS rk
  FROM af
)
SELECT vec_id, cid, cell_n FROM r WHERE rk <= {_CBAL_CAP}
"""
    )


@register("sample_cluster_balanced", oracle=_cbal_sql())
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: learn semantic clusters
    (the exact deterministic Lloyd loop ml_kmeans trains, k=4 over the
    first 8 embedding dims), assign every vector MAP-SIDE to its final
    centroid, then keep at most CAP vectors per cluster under a
    hash-gated order — the de-biasing pass curation pipelines run so
    that over-represented content modes (boilerplate clusters) don't
    dominate the training mix (cluster-then-sample as in SemDeDup-style
    pipelines and DataComp baselines, arXiv:2302.00578 / 2304.14108).
    Emits the pre-cap cell size next to each kept row so the report
    shows what the cap actually cut.

    Scale shape: training is ml_kmeans's bounded-round loop (each round
    ONE corpus scan + a broadcast k-row argmin — operators/clustering
    .assign_nearest; centroid tables pinned per round, so no lineage
    blow-up); the final assignment is the same map-side argmin (no
    per-vector window, no corpus hashpartition exchange); the cap is a
    cid-partitioned window — k cells, combiner-free but bounded by the
    cell count, the one shuffle the semantics require. The md5 gate
    (hash60, bitwise cross-engine) replaces rand() so the kept set is
    retry- and partitioning-stable."""
    from ..functions.hashing import hash60
    from ..operators.clustering import assign_nearest, kmeans_centroids

    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, _CBAL_DIMS).alias("v")
    )
    cents = kmeans_centroids(
        emb, "vec_id", "embedding", k=_CBAL_K, dims=_CBAL_DIMS, iters=_CBAL_ITERS
    )
    assigned = assign_nearest(v, "vec_id", "v", cents, dims=_CBAL_DIMS)
    gate = hash60(F.concat(F.col("vec_id").cast("string"), F.lit("|cbal")))
    win_u = W.partitionBy("cid")
    win_o = W.partitionBy("cid").orderBy(gate, "vec_id")
    return (
        assigned.select(
            "vec_id",
            "cid",
            F.count("*").over(win_u).alias("cell_n"),
            F.row_number().over(win_o).alias("rk"),
        )
        .filter(F.col("rk") <= _CBAL_CAP)
        .select("vec_id", "cid", "cell_n")
    )


# ---------------------------------------------------------------------------
# inter-judge agreement (Cohen's kappa over paired verdicts)
# ---------------------------------------------------------------------------

_KAPPA_SQL = """
WITH v AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the', 'a', 'of', 'and', 'to')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05 AS ja,
         n_chars >= 250 AS jb
  FROM documents
),
c AS (
  SELECT count(*) AS n,
         sum(CASE WHEN ja AND jb THEN 1 ELSE 0 END) AS n11,
         sum(CASE WHEN NOT ja AND NOT jb THEN 1 ELSE 0 END) AS n00,
         sum(CASE WHEN ja AND NOT jb THEN 1 ELSE 0 END) AS n10,
         sum(CASE WHEN NOT ja AND jb THEN 1 ELSE 0 END) AS n01
  FROM v
)
SELECT CAST(n AS BIGINT) AS n,
       round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
       round(((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
             / CAST(n * n AS DOUBLE), 6) AS pe,
       round(((n11 + n00) / CAST(n AS DOUBLE)
              - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
                / CAST(n * n AS DOUBLE))
             / (1 - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
                    / CAST(n * n AS DOUBLE)), 6) AS kappa
FROM c
"""


@register("eval_judge_kappa", oracle=_KAPPA_SQL)
def eval_judge_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-judge agreement: Cohen's kappa over two judges' paired
    binary verdicts on the same documents — the reliability gate an
    LLM-as-judge eval pipeline runs BEFORE trusting a judge's labels
    (kappa corrects raw agreement for chance; Landis-Koch bands decide
    whether the cheaper judge can replace the expensive one). The two
    deterministic judges here (stopword-ratio fluency vs length gate)
    stand in for judge-output columns; they correlate without
    coinciding, so po, pe and kappa are all non-degenerate.

    Scale shape: ONE corpus scan -> map-side verdicts -> one global
    conditional aggregate (4 cell counts); kappa is arithmetic over
    the single output row. The same plan aggregates a billion-row
    judge log — the contingency table is the only state."""
    docs = load(spark, sf_dir, "documents")
    ja = (
        F.size(
            F.expr(
                "filter(split(text, ' '),"
                " w -> w IN ('the', 'a', 'of', 'and', 'to'))"
            )
        )
        / F.size(F.split("text", " ")).cast("double")
        >= 0.05
    )
    jb = F.col("n_chars") >= 250
    c = docs.select(ja.alias("ja"), jb.alias("jb")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ja") & F.col("jb"), 1).otherwise(0)).alias("n11"),
        F.sum(F.when(~F.col("ja") & ~F.col("jb"), 1).otherwise(0)).alias("n00"),
        F.sum(F.when(F.col("ja") & ~F.col("jb"), 1).otherwise(0)).alias("n10"),
        F.sum(F.when(~F.col("ja") & F.col("jb"), 1).otherwise(0)).alias("n01"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n").cast("double")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n00") + F.col("n01")) * (F.col("n00") + F.col("n10"))
    ) / (F.col("n") * F.col("n")).cast("double")
    return c.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1) - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# prototype-distance data pruning (keep hard examples, drop prototypical)
# ---------------------------------------------------------------------------

_PP_KEEP_NUM, _PP_KEEP_DEN = 7, 10  # keep the hardest 70 % per cluster


def _proto_prune_sql() -> str:
    from .pipeline_ext import _kmeans_blocks

    d2 = (
        "round(list_sum(list_transform(generate_series(1, {dims}), "
        "d -> (e.v[d] - c.cv[d]) * (e.v[d] - c.cv[d]))), 6)"
    ).format(dims=_CBAL_DIMS)
    return (
        "WITH "
        + _kmeans_blocks(_CBAL_K, _CBAL_DIMS, _CBAL_ITERS)
        + f""",
af AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT e.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid)
             AS rn
    FROM e CROSS JOIN c{_CBAL_ITERS} c
  ) WHERE rn = 1
),
r AS (
  SELECT vec_id, cid, d2,
         count(*) OVER (PARTITION BY cid) AS cell_n,
         row_number() OVER (PARTITION BY cid ORDER BY d2 DESC, vec_id)
           AS hard_rank
  FROM af
)
SELECT vec_id, cid, d2, CAST(hard_rank AS BIGINT) AS hard_rank,
       hard_rank <= greatest(1, (cell_n * {_PP_KEEP_NUM}) // {_PP_KEEP_DEN})
         AS kept
FROM r
"""
    )


@register("sample_prototype_pruning", oracle=_proto_prune_sql())
def sample_prototype_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance data pruning (Sorscher et al.,
    arXiv:2206.14486 "Beyond neural scaling laws"): cluster the
    embeddings, score every example by its distance to its cluster
    centroid, and KEEP the hardest 70 % per cluster — the prototypical
    (centroid-hugging, redundant) examples are the ones large-data
    training can afford to drop, which is how the paper beats power-law
    scaling. Complements sample_cluster_balanced (uniform per-cluster
    cap) with a difficulty-ordered cap; emits every vector with its
    rank and verdict so the report shows the margin, not just the
    survivors.

    Scale shape: training is the shared bounded-round Lloyd loop
    (broadcast k-row argmin per round, pinned centroids); assignment is
    the same map-side argmin WITH distance (operators/clustering
    .assign_nearest with_dist — no per-vector window); the per-cluster
    difficulty rank is a cid-partitioned window, bounded by cell
    population exactly like SemDedup's pair scan — at 100 TB k scales
    with the corpus so cells stay bounded. Distances round to 6 dp
    before ranking (ties by vec_id), bitwise cross-engine."""
    from ..operators.clustering import assign_nearest, kmeans_centroids

    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, _CBAL_DIMS).alias("v")
    )
    cents = kmeans_centroids(
        emb, "vec_id", "embedding", k=_CBAL_K, dims=_CBAL_DIMS, iters=_CBAL_ITERS
    )
    assigned = assign_nearest(
        v, "vec_id", "v", cents, dims=_CBAL_DIMS, with_dist=True
    )
    win_u = W.partitionBy("cid")
    win_o = W.partitionBy("cid").orderBy(F.desc("d2"), F.asc("vec_id"))
    keep_n = F.greatest(
        F.lit(1).cast("bigint"),
        (F.col("cell_n") * _PP_KEEP_NUM / _PP_KEEP_DEN).cast("bigint"),
    )
    return (
        assigned.select(
            "vec_id",
            "cid",
            "d2",
            F.count("*").over(win_u).alias("cell_n"),
            F.row_number().over(win_o).cast("bigint").alias("hard_rank"),
        )
        .select(
            "vec_id",
            "cid",
            "d2",
            "hard_rank",
            (F.col("hard_rank") <= keep_n).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Bradley-Terry strength fitting over pairwise judgments (arena-style eval)
# ---------------------------------------------------------------------------

_BT_ITERS = 5


def _bt_sql() -> str:
    blocks = ["""
m AS MATERIALIZED (
  SELECT x.source AS sa, y.source AS sb,
         CASE WHEN x.n_chars > y.n_chars THEN x.source
              WHEN x.n_chars < y.n_chars THEN y.source
              WHEN x.source < y.source THEN x.source ELSE y.source
         END AS win
  FROM documents x JOIN documents y
    ON y.doc_id = x.doc_id + 1 AND x.source <> y.source
  UNION ALL
  SELECT x.source AS sa, y.source AS sb,
         CASE WHEN x.n_chars > y.n_chars THEN x.source
              WHEN x.n_chars < y.n_chars THEN y.source
              WHEN x.source < y.source THEN x.source ELSE y.source
         END AS win
  FROM documents x JOIN documents y
    ON y.doc_id = x.doc_id + 2 AND x.source <> y.source
),
nij AS MATERIALIZED (
  SELECT least(sa, sb) AS i, greatest(sa, sb) AS j,
         count(*)::DOUBLE AS n,
         sum(CASE WHEN win = least(sa, sb) THEN 1 ELSE 0 END)::DOUBLE AS wi
  FROM m GROUP BY 1, 2
),
dn AS MATERIALIZED (
  SELECT i AS s, j AS o, n FROM nij
  UNION ALL
  SELECT j AS s, i AS o, n FROM nij
),
wins AS MATERIALIZED (
  SELECT s, sum(w) AS w FROM (
    SELECT i AS s, wi AS w FROM nij
    UNION ALL
    SELECT j AS s, n - wi AS w FROM nij
  ) GROUP BY s
),
p0 AS MATERIALIZED (SELECT DISTINCT s, 1.0 AS p FROM dn)
"""]
    for t in range(1, _BT_ITERS + 1):
        prev = f"p{t - 1}"
        blocks.append(f"""
q{t} AS MATERIALIZED (
  SELECT d.s,
         COALESCE(w.w, 0) / sum(d.n / (pa.p + pb.p)) AS p_raw
  FROM dn d
  JOIN {prev} pa ON pa.s = d.s
  JOIN {prev} pb ON pb.s = d.o
  LEFT JOIN wins w ON w.s = d.s
  GROUP BY d.s, w.w
),
p{t} AS MATERIALIZED (
  SELECT s, round(p_raw * (SELECT count(*) FROM q{t})
                  / (SELECT sum(p_raw) FROM q{t}), 9) AS p
  FROM q{t}
)
""")
    return (
        "WITH " + ",".join(b.strip() for b in blocks) + f"""
SELECT p.s AS source, round(p.p, 6) AS strength,
       CAST(COALESCE(w.w, 0) AS BIGINT) AS wins,
       CAST(g.games AS BIGINT) AS games
FROM p{_BT_ITERS} p
LEFT JOIN wins w ON w.s = p.s
JOIN (SELECT s, sum(n) AS games FROM dn GROUP BY s) g ON g.s = p.s
"""
    )


@register("eval_bradley_terry", oracle=_bt_sql())
def eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fitting over pairwise judgments — the
    arena-style eval aggregation (Chatbot-Arena-like leaderboards fit
    exactly this model; Hunter 2004's MM algorithm, 5 deterministic
    iterations): given per-pair game counts n_ij and per-player win
    totals w_i, iterate p_i <- w_i / sum_j n_ij / (p_i + p_j), then
    normalize so strengths sum to the player count. The judgment
    fixture pits each doc against its +1 and +2 neighbors (sources
    differ by construction in the cyclic layout), winner = longer doc,
    source-name tie-break — deterministic in both engines.

    Scale shape: ONE pass over the judgment log builds the (i, j, n)
    match matrix and the win totals — at arena scale that log is the
    corpus-sized input and this is its only shuffle (pair-keyed,
    combiner-reduced). Everything after is K-row state (K = number of
    models): each MM round joins the K^2-at-most match matrix against
    the pinned K-row strength table and renormalizes via a broadcast
    1-row total — bounded rounds, pinned per round exactly like
    graph_pagerank, so lineage stays flat and no round re-scans the
    log. Per-round strengths round to 9 dp (final to 6) so the fixed
    point is bitwise cross-engine."""
    docs = pin(
        load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"),
        label="bt_docs",
    )
    y1 = docs.select(
        (F.col("doc_id") - 1).alias("k1"),
        F.col("source").alias("sb"),
        F.col("n_chars").alias("cb"),
    )
    y2 = docs.select(
        (F.col("doc_id") - 2).alias("k2"),
        F.col("source").alias("sb"),
        F.col("n_chars").alias("cb"),
    )
    win = (
        F.when(F.col("n_chars") > F.col("cb"), F.col("source"))
        .when(F.col("n_chars") < F.col("cb"), F.col("sb"))
        .when(F.col("source") < F.col("sb"), F.col("source"))
        .otherwise(F.col("sb"))
    )
    m = (
        docs.join(y1, F.col("doc_id") == F.col("k1"))
        .filter(F.col("source") != F.col("sb"))
        .select(F.col("source").alias("sa"), "sb", win.alias("win"))
        .unionByName(
            docs.join(y2, F.col("doc_id") == F.col("k2"))
            .filter(F.col("source") != F.col("sb"))
            .select(F.col("source").alias("sa"), "sb", win.alias("win"))
        )
    )
    # ONE pinned aggregate carries pair counts AND directed wins: the
    # per-source win totals derive from it (k^2-row arithmetic), so the
    # match log m is aggregated once, not twice, and one pin job drops
    nij = pin(
        m.groupBy(
            F.least("sa", "sb").alias("i"), F.greatest("sa", "sb").alias("j")
        ).agg(
            F.count("*").cast("double").alias("n"),
            F.sum(
                F.when(F.col("win") == F.least("sa", "sb"), 1).otherwise(0)
            ).cast("double").alias("wi"),
        ),
        label="bt_matches",
    )
    # Everything after the pinned match matrix is K-SIZED model state
    # (K = number of sources), so the whole MM fixed point folds into
    # COLUMN EXPRESSIONS over ONE collected row: one global aggregate
    # of the K^2-row matrix, then each round is a transform/aggregate
    # fold — zero per-round pins, zero per-round broadcast builds, zero
    # per-round exchanges (the r7 shape paid a pin job + three K-row
    # broadcast builds per round, ~85 % of the key's bench cost;
    # VERDICT r7 #4). The corpus-sized work — the match-log shuffle —
    # stays distributed in the bt_matches pin above; only the model
    # iteration (K^3 flops per round, thousands at arena scale)
    # collapses to the driver-free 1-row fold, exactly the
    # ml_naive_bayes / text_bpe_vocab closed-form discipline. Arrays
    # are sorted after collect_list so the per-s denominator sums run
    # in a DETERMINISTIC (ascending opponent) order.
    one = nij.agg(
        F.sort_array(F.collect_list(F.struct("i", "j", "n", "wi"))).alias("m")
    )
    one = (
        one.withColumn(
            "dm",
            F.expr(
                "array_sort(flatten(transform(m, x -> array("
                "struct(x.i AS s, x.j AS o, x.n AS n),"
                "struct(x.j AS s, x.i AS o, x.n AS n)))))"
            ),
        )
        .withColumn(
            "srcs",
            F.expr("array_sort(array_distinct(transform(dm, x -> x.s)))"),
        )
        .withColumn(
            "warr",
            F.expr(
                "transform(srcs, s -> aggregate(m, 0.0D, (acc, x) -> acc"
                " + IF(x.i = s, x.wi, 0.0D)"
                " + IF(x.j = s, x.n - x.wi, 0.0D)))"
            ),
        )
        .withColumn(
            "garr",
            F.expr(
                "transform(srcs, s -> aggregate(dm, 0.0D,"
                " (acc, x) -> acc + IF(x.s = s, x.n, 0.0D)))"
            ),
        )
        .withColumn("p", F.expr("transform(srcs, s -> 1.0D)"))
    )
    # per round: p_raw(s) = w_s / sum_o n_so / (p_s + p_o), then
    # normalize to sum K and round to 9 dp (the oracle's per-round
    # contract, bitwise cross-engine)
    q_expr = (
        "transform(srcs, (s, si) -> element_at(warr, si + 1)"
        " / aggregate(filter(dm, x -> x.s = s), 0.0D, (acc, x) -> acc"
        " + x.n / (element_at(p, si + 1)"
        " + element_at(p, CAST(array_position(srcs, x.o) AS INT)))))"
    )
    norm_expr = (
        "transform(q, x -> round(x * size(q)"
        " / aggregate(q, 0.0D, (acc, y) -> acc + y), 9))"
    )
    for _it in range(_BT_ITERS):
        one = one.withColumn("q", F.expr(q_expr)).withColumn(
            "p", F.expr(norm_expr)
        )
    return one.select(
        F.explode(
            F.expr(
                "transform(srcs, (s, si) -> struct("
                "s AS source,"
                " round(element_at(p, si + 1), 6) AS strength,"
                " CAST(element_at(warr, si + 1) AS BIGINT) AS wins,"
                " CAST(element_at(garr, si + 1) AS BIGINT) AS games))"
            )
        ).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# AdaBoost over histogram decision stumps (distributed boosting)
# ---------------------------------------------------------------------------

_ADA_ROUNDS = 3
_ADA_WSCALE = 1_000_000  # weights quantized to int64 micro-units: integer
#                          sums are order-independent, so the weighted
#                          errors both engines argmin over are BITWISE
#                          equal (the ml_logreg_gd fixed-point discipline)


def _ada_round_sql(t: int) -> str:
    return f"""
w{t} AS MATERIALIZED (
  SELECT y, price_bin, month_bin, score,
         CAST(floor(exp(-y * score) * {_ADA_WSCALE}) AS BIGINT) AS w
  FROM scored{t - 1}
),
hist{t} AS (
  SELECT feature, bin, CAST(sum(w) AS BIGINT) AS tw,
         CAST(sum(CASE WHEN y = 1 THEN w ELSE 0 END) AS BIGINT) AS pw
  FROM (SELECT 'price' AS feature, price_bin AS bin, w, y FROM w{t}
        UNION ALL
        SELECT 'month', month_bin, w, y FROM w{t})
  GROUP BY feature, bin
),
cum{t} AS (
  SELECT feature, bin,
         CAST(sum(tw) OVER cw AS BIGINT) AS cw,
         CAST(sum(pw) OVER cw AS BIGINT) AS cpw,
         CAST(sum(tw) OVER (PARTITION BY feature) AS BIGINT) AS twt,
         CAST(sum(pw) OVER (PARTITION BY feature) AS BIGINT) AS pwt
  FROM hist{t}
  WINDOW cw AS (PARTITION BY feature ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cand{t} AS (
  SELECT feature, bin, twt,
         CASE WHEN errp <= twt - errp THEN errp ELSE twt - errp END AS err,
         CASE WHEN errp <= twt - errp THEN 1 ELSE -1 END AS pol
  FROM (SELECT feature, bin, twt,
               cpw + (twt - cw) - (pwt - cpw) AS errp
        FROM cum{t} WHERE cw < twt)
),
win{t} AS MATERIALIZED (
  SELECT feature, bin, pol, err, twt,
         round(0.5 * ln((twt - err) / CAST(greatest(err, 1) AS DOUBLE)), 6)
           AS alpha
  FROM (SELECT *, row_number() OVER (ORDER BY err, feature, bin) AS rn
        FROM cand{t})
  WHERE rn = 1
),
scored{t} AS MATERIALIZED (
  SELECT s.y, s.price_bin, s.month_bin,
         s.score + v.alpha
           * (CASE WHEN (CASE WHEN v.feature = 'price' THEN s.price_bin
                              ELSE s.month_bin END) > v.bin
                   THEN v.pol ELSE -v.pol END) AS score
  FROM scored{t - 1} s, win{t} v
)"""


def _adaboost_sql() -> str:
    rounds = ",".join(_ada_round_sql(t).strip() for t in range(1, _ADA_ROUNDS + 1))
    wins = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INT) AS round_id, feature,"
        f" CAST(bin AS INT) AS split_bin, CAST(pol AS INT) AS polarity,"
        f" round(err / CAST(twt AS DOUBLE), 6) AS err_rate, alpha"
        f" FROM win{t}"
        for t in range(1, _ADA_ROUNDS + 1)
    )
    return f"""
WITH scored0 AS MATERIALIZED (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS y,
         CAST(least(floor(o_totalprice / {_STUMP_W}), {_STUMP_BINS - 1}) AS INT)
           AS price_bin,
         CAST(month(o_orderdate) - 1 AS INT) AS month_bin,
         CAST(0.0 AS DOUBLE) AS score
  FROM orders
),
{rounds},
ens AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE -1 END) <> y
                       THEN 1 ELSE 0 END) AS BIGINT) AS nerr
  FROM scored{_ADA_ROUNDS}
)
{wins}
UNION ALL
SELECT CAST(99 AS INT), 'ensemble', CAST(-1 AS INT), CAST(0 AS INT),
       round(nerr / CAST(n AS DOUBLE), 6), CAST(0.0 AS DOUBLE)
FROM ens
"""


@register("ml_adaboost_stumps", oracle=_adaboost_sql())
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete AdaBoost (Freund & Schapire 1997) over histogram
    decision stumps — the boosting loop every distributed GBDT
    descends from, run entirely as Spark aggregations. Each of the
    {rounds} rounds: (1) per-row weights w_i = exp(-y_i * F(x_i)),
    QUANTIZED to int64 micro-units so the weighted-error sums are
    order-independent and bitwise cross-engine (the ml_logreg_gd
    fixed-point discipline); (2) one weighted histogram per feature
    (<= 64 bins each — the ONLY corpus-sized shuffle of the round, with
    map-side combine); (3) best (feature, threshold, polarity) by
    cumulative-window scan over the TINY histogram; (4) alpha =
    0.5*ln((1-eps)/eps) rounded to 6 dp, and the 1-ROW winner folds
    back onto the corpus as a broadcast to update the additive score
    F(x) — never a collect. Emits one row per round (chosen stump,
    weighted error rate, alpha — the error rate must stay < 0.5 and
    the round-2+ stumps must differ from round 1, else boosting
    degenerated) plus the final ensemble's training error row
    (round_id 99). Split-search cost is independent of row count, the
    boosting state is one double per row — the exact shape that holds
    at 100 TB."""
    base = pin(
        load(spark, sf_dir, "orders").select(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(-1).alias("y"),
            F.least(
                F.floor(F.col("o_totalprice") / _STUMP_W),
                F.lit(_STUMP_BINS - 1),
            )
            .cast("int")
            .alias("price_bin"),
            (F.month("o_orderdate") - 1).cast("int").alias("month_bin"),
            F.lit(0.0).alias("score"),
        ),
        label="ada_base",
    )
    scored = base
    out_rows = []
    for t in range(1, _ADA_ROUNDS + 1):
        w = pin(
            scored.withColumn(
                "w",
                F.floor(F.exp(-F.col("y") * F.col("score")) * _ADA_WSCALE).cast(
                    "bigint"
                ),
            ),
            label=f"ada_w{t}",
        )
        hist = (
            w.groupBy("price_bin")
            .agg(
                F.sum("w").alias("tw"),
                F.sum(F.when(F.col("y") == 1, F.col("w")).otherwise(0)).alias(
                    "pw"
                ),
            )
            .select(
                F.lit("price").alias("feature"),
                F.col("price_bin").alias("bin"),
                "tw",
                "pw",
            )
            .unionByName(
                w.groupBy("month_bin")
                .agg(
                    F.sum("w").alias("tw"),
                    F.sum(
                        F.when(F.col("y") == 1, F.col("w")).otherwise(0)
                    ).alias("pw"),
                )
                .select(
                    F.lit("month").alias("feature"),
                    F.col("month_bin").alias("bin"),
                    "tw",
                    "pw",
                )
            )
        )
        wcum = (
            W.partitionBy("feature")
            .orderBy("bin")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        wall = W.partitionBy("feature")
        cum = hist.select(
            "feature",
            "bin",
            F.sum("tw").over(wcum).alias("cw"),
            F.sum("pw").over(wcum).alias("cpw"),
            F.sum("tw").over(wall).alias("twt"),
            F.sum("pw").over(wall).alias("pwt"),
        )
        errp = F.col("cpw") + (F.col("twt") - F.col("cw")) - (
            F.col("pwt") - F.col("cpw")
        )
        cand = cum.filter(F.col("cw") < F.col("twt")).select(
            "feature",
            "bin",
            "twt",
            errp.alias("errp"),
        ).select(
            "feature",
            "bin",
            "twt",
            F.when(
                F.col("errp") <= F.col("twt") - F.col("errp"), F.col("errp")
            )
            .otherwise(F.col("twt") - F.col("errp"))
            .alias("err"),
            F.when(F.col("errp") <= F.col("twt") - F.col("errp"), 1)
            .otherwise(-1)
            .alias("pol"),
        )
        # global argmin over <= 76 histogram rows: sort-limit(1) compiles
        # to TakeOrderedAndProject (per-partition heaps), no full sort
        win = pin(
            cand.orderBy("err", "feature", "bin")
            .limit(1)
            .withColumn(
                "alpha",
                F.round(
                    0.5
                    * F.log(
                        (F.col("twt") - F.col("err"))
                        / F.greatest(F.col("err"), F.lit(1)).cast("double")
                    ),
                    6,
                ),
            ),
            label=f"ada_win{t}",
        )
        out_rows.append(
            win.select(
                F.lit(t).cast("int").alias("round_id"),
                "feature",
                F.col("bin").cast("int").alias("split_bin"),
                F.col("pol").cast("int").alias("polarity"),
                F.round(
                    F.col("err") / F.col("twt").cast("double"), 6
                ).alias("err_rate"),
                "alpha",
            )
        )
        v = win.select(
            F.col("feature").alias("v_feature"),
            F.col("bin").alias("v_bin"),
            F.col("pol").alias("v_pol"),
            F.col("alpha").alias("v_alpha"),
        )
        h = F.when(
            F.when(F.col("v_feature") == "price", F.col("price_bin"))
            .otherwise(F.col("month_bin"))
            > F.col("v_bin"),
            F.col("v_pol"),
        ).otherwise(-F.col("v_pol"))
        scored = w.crossJoin(F.broadcast(v)).select(
            "y",
            "price_bin",
            "month_bin",
            (F.col("score") + F.col("v_alpha") * h).alias("score"),
        )
    ens = scored.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.when(F.col("score") > 0, 1).otherwise(-1) != F.col("y"), 1
            ).otherwise(0)
        ).alias("nerr"),
    ).select(
        F.lit(99).cast("int").alias("round_id"),
        F.lit("ensemble").alias("feature"),
        F.lit(-1).cast("int").alias("split_bin"),
        F.lit(0).cast("int").alias("polarity"),
        F.round(F.col("nerr") / F.col("n").cast("double"), 6).alias(
            "err_rate"
        ),
        F.lit(0.0).alias("alpha"),
    )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.unionByName(ens)


ml_adaboost_stumps.__doc__ = ml_adaboost_stumps.__doc__.format(rounds=_ADA_ROUNDS)


# ---------------------------------------------------------------------------
# BLEU-2 between candidate/reference document pairs
# ---------------------------------------------------------------------------

_BLEU_GAP = 250  # same cand/ref pairing as text_rouge_overlap

_BLEU_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE doc_id < {2 * _BLEU_GAP}
),
grams AS (
  SELECT doc_id, 1 AS n, unnest(w) AS g FROM tok
  UNION ALL
  SELECT doc_id, 2,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i + 1]))
  FROM tok
),
counts AS (
  SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g
),
cand AS (SELECT doc_id AS pair_id, n, g, c FROM counts
         WHERE doc_id < {_BLEU_GAP}),
ref AS (SELECT doc_id - {_BLEU_GAP} AS pair_id, n, g, c FROM counts
        WHERE doc_id >= {_BLEU_GAP}),
ov AS (
  SELECT c.pair_id, c.n, CAST(sum(least(c.c, r.c)) AS BIGINT) AS clip
  FROM cand c JOIN ref r ON c.pair_id = r.pair_id
                        AND c.n = r.n AND c.g = r.g
  GROUP BY c.pair_id, c.n
),
tots AS (
  SELECT pair_id, n, CAST(sum(c) AS BIGINT) AS tot FROM cand
  GROUP BY pair_id, n
),
lens AS (
  SELECT doc_id AS pair_id, len(w) AS c_len FROM tok
  WHERE doc_id < {_BLEU_GAP}
),
rlens AS (
  SELECT doc_id - {_BLEU_GAP} AS pair_id, len(w) AS r_len FROM tok
  WHERE doc_id >= {_BLEU_GAP}
),
wide AS (
  SELECT t1.pair_id,
         coalesce(o1.clip, 0) AS clip1, t1.tot AS tot1,
         coalesce(o2.clip, 0) AS clip2, t2.tot AS tot2,
         l.c_len, rl.r_len
  FROM tots t1
  JOIN tots t2 ON t1.pair_id = t2.pair_id AND t1.n = 1 AND t2.n = 2
  LEFT JOIN ov o1 ON t1.pair_id = o1.pair_id AND o1.n = 1
  LEFT JOIN ov o2 ON t1.pair_id = o2.pair_id AND o2.n = 2
  JOIN lens l ON t1.pair_id = l.pair_id
  JOIN rlens rl ON t1.pair_id = rl.pair_id
)
SELECT pair_id AS cand_id, pair_id + {_BLEU_GAP} AS ref_id,
       round(clip1 / CAST(tot1 AS DOUBLE), 4) AS p1,
       round(clip2 / CAST(tot2 AS DOUBLE), 4) AS p2,
       round(exp(least(0.0, 1.0 - (r_len / CAST(c_len AS DOUBLE)))), 4)
         AS brevity_penalty,
       round(CASE WHEN clip1 = 0 OR clip2 = 0 THEN 0.0
             ELSE exp(least(0.0, 1.0 - (r_len / CAST(c_len AS DOUBLE))))
                  * exp((ln(clip1 / CAST(tot1 AS DOUBLE))
                         + ln(clip2 / CAST(tot2 AS DOUBLE))) / 2.0)
             END, 4) AS bleu2
FROM wide
"""


@register("eval_bleu_corpus", oracle=_BLEU_SQL)
def eval_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-2 (Papineni et al. 2002) between paired candidate/
    reference documents — the machine-translation / distillation-eval
    metric, distributed: CLIPPED n-gram precision per order (unigram +
    bigram; clip = sum over shared grams of min(count_cand,
    count_ref), one equi-join on (pair, n, gram) — never a per-pair
    loop), the geometric mean of the two precisions, and the brevity
    penalty exp(min(0, 1 - r/c)) that stops short candidates from
    gaming precision. Pairing is doc_id vs doc_id+{gap}, the same
    stand-in key as text_rouge_overlap (its complement: ROUGE is
    recall-oriented, BLEU precision-oriented).

    Determinism: every input to exp/ln is a ratio of exact integer
    counts — both engines evaluate the identical expression tree on
    bitwise-identical doubles, and the single terminal round(.., 4)
    lands identically (same discipline as the weighted-sampling
    -ln(u)/w key). Zero-clip pairs short-circuit to 0.0 before any
    ln. Scale shape: one tokenize scan over the pruned pair range
    (predicate reaches the parquet scan), gram counts with map-side
    combine, then pair-keyed joins of pair-count-sized tables."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 2 * _BLEU_GAP)
    )
    tok = pin(
        docs.select("doc_id", F.split("text", " ").alias("w")),
        label="bleu_tok",
    )
    uni = tok.select("doc_id", F.lit(1).alias("n"), F.explode("w").alias("g"))
    bi = tok.select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(
            F.transform(
                gram_positions("w", 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i), F.element_at("w", i + 1)
                ),
            )
        ).alias("g"),
    )
    counts = pin(
        uni.unionByName(bi).groupBy("doc_id", "n", "g").agg(
            F.count("*").alias("c")
        ),
        label="bleu_counts",
    )
    cand = counts.filter(F.col("doc_id") < _BLEU_GAP).select(
        F.col("doc_id").alias("pair_id"), "n", "g", "c"
    )
    ref = counts.filter(F.col("doc_id") >= _BLEU_GAP).select(
        (F.col("doc_id") - _BLEU_GAP).alias("pair_id"),
        "n",
        F.col("g").alias("rg"),
        F.col("c").alias("rc"),
    )
    ov = (
        cand.join(ref, (cand.pair_id == ref.pair_id) & (cand.n == ref.n)
                  & (cand.g == ref.rg))
        .groupBy(cand.pair_id, cand.n)
        .agg(F.sum(F.least("c", "rc")).alias("clip"))
    )
    tots = cand.groupBy("pair_id", "n").agg(F.sum("c").alias("tot"))
    lens = tok.filter(F.col("doc_id") < _BLEU_GAP).select(
        F.col("doc_id").alias("pair_id"), F.size("w").alias("c_len")
    )
    rlens = tok.filter(F.col("doc_id") >= _BLEU_GAP).select(
        (F.col("doc_id") - _BLEU_GAP).alias("pair_id"),
        F.size("w").alias("r_len"),
    )
    t1 = tots.filter(F.col("n") == 1).select("pair_id", F.col("tot").alias("tot1"))
    t2 = tots.filter(F.col("n") == 2).select("pair_id", F.col("tot").alias("tot2"))
    o1 = ov.filter(F.col("n") == 1).select("pair_id", F.col("clip").alias("clip1"))
    o2 = ov.filter(F.col("n") == 2).select("pair_id", F.col("clip").alias("clip2"))
    wide = (
        t1.join(t2, "pair_id")
        .join(o1, "pair_id", "left")
        .join(o2, "pair_id", "left")
        .join(lens, "pair_id")
        .join(rlens, "pair_id")
        .select(
            "pair_id",
            F.coalesce("clip1", F.lit(0)).alias("clip1"),
            "tot1",
            F.coalesce("clip2", F.lit(0)).alias("clip2"),
            "tot2",
            "c_len",
            "r_len",
        )
    )
    bp = F.exp(F.least(F.lit(0.0), 1.0 - (F.col("r_len") / F.col("c_len").cast("double"))))
    p1 = F.col("clip1") / F.col("tot1").cast("double")
    p2 = F.col("clip2") / F.col("tot2").cast("double")
    return wide.select(
        F.col("pair_id").alias("cand_id"),
        (F.col("pair_id") + _BLEU_GAP).alias("ref_id"),
        F.round(p1, 4).alias("p1"),
        F.round(p2, 4).alias("p2"),
        F.round(bp, 4).alias("brevity_penalty"),
        F.round(
            F.when((F.col("clip1") == 0) | (F.col("clip2") == 0), 0.0).otherwise(
                bp * F.exp((F.log(p1) + F.log(p2)) / 2.0)
            ),
            4,
        ).alias("bleu2"),
    )


eval_bleu_corpus.__doc__ = eval_bleu_corpus.__doc__.format(gap=_BLEU_GAP)
