"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact, one map-side pass + a top-k
reduce — Spark's takeOrdered-style sort-limit is a per-partition heap
followed by a driver merge of k*partitions rows, NOT a full sort).

Scale path: LSH bucketing with data-derived hyperplanes — the bucket id
is a per-row column expression, so index build is shuffle-free; a query
probes one bucket (an equi-join), turning the 100 TB scan into a
1/2^planes slice. IVF (k-means cells) would follow the same plan shape
with learned centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import pin

from ..functions.arrays import as_double_array, cosine, dot, norm

# rows the brute-force top-k keeps
TOPK = 10
# salt buckets of the batch ANN joins' first-stage top-k (_salted_topk)
_TOPK_SALTS = 8


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str, query: DataFrame
) -> DataFrame:
    """Exact top-``TOPK`` by cosine to the (single-row) query vector.

    The query side is broadcast; scores round to 6 dp for cross-engine
    determinism; ties break on id. Norms are hoisted to each join side
    (the query's into the broadcast row, the corpus row's into a
    pre-join column) so the per-pair work is ONE dot-product fold, not
    cosine's three — same ``dot / (norm(a) * norm(b))`` op order, so
    rounded scores are bitwise unchanged.
    """
    q = F.broadcast(
        query.select(as_double_array(vec_col).alias("qv")).select(
            "qv", norm(F.col("qv")).alias("_nq")
        )
    )
    scored = (
        df.select(
            F.col(id_col), as_double_array(vec_col).alias("v")
        )
        .select(F.col(id_col), "v", norm(F.col("v")).alias("_nv"))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_nv") * F.col("_nq")), 6
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(TOPK)


def brute_force_topk_pandas(
    df: DataFrame, id_col: str, vec_col: str, query: DataFrame
) -> DataFrame:
    """Same exact top-k as :func:`brute_force_topk`, scored by an
    Arrow-vectorized Pandas UDF (numpy matmul per batch) instead of the
    JVM higher-order functions — the faster path for very wide vectors,
    and the template for any scoring the built-ins can't express."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qv = np.asarray(query.select(vec_col).first()[0], dtype=np.float64)
    qn = float(np.sqrt(qv @ qv))

    def _cos(v):
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        dots = m @ qv
        norms = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(np.round(dots / norms, 6))

    # NB: lambda-style registration — `from __future__ import annotations`
    # stringifies type hints, which pandas_udf cannot resolve for locally
    # imported pandas.
    cos = pandas_udf(_cos, "double")

    scored = df.select(
        F.col(id_col), cos(as_double_array(vec_col)).alias("cos_sim")
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(TOPK)


def with_lsh_bucket(
    df: DataFrame, id_col: str, vec_col: str, planes: DataFrame, plane_id: str, n_planes: int
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector.

    ``planes`` is a tiny (n_planes-row) DataFrame of hyperplane vectors —
    broadcast; bucket bit j = sign(dot(v, plane_j)). One cross join against
    n_planes rows + a groupBy on the id: both scale linearly.
    """
    # the n_planes rows collapse to ONE broadcast array row and the
    # bucket id is a pure fold over it — no per-bit groupBy shuffle and
    # no join of df back to itself (the previous bits+join formulation
    # read the input TWICE; max_rescan audit, round 7)
    parr = F.broadcast(
        planes.select(
            F.col(plane_id).alias("pid"), as_double_array(vec_col).alias("pv")
        )
        .select(
            F.struct(
                "pid",
                "pv",
                F.expr(
                    "CAST(shiftleft(1, CAST(pid AS INT) - 1) AS BIGINT)"
                ).alias("bit"),
            ).alias("p")
        )
        .agg(F.collect_list("p").alias("_planes"))
    )
    vcol = as_double_array(vec_col)
    bucket = F.aggregate(
        F.col("_planes"),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + F.when(dot(vcol, p["pv"]) > 0, p["bit"]).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return df.crossJoin(parr).withColumn("bucket", bucket).drop("_planes")


def lsh_probe(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: DataFrame,
    plane_id: str,
    n_planes: int,
    query_id: int,
) -> DataFrame:
    """ANN probe: score only the vectors in the query's LSH bucket."""
    bucketed = pin(
        with_lsh_bucket(df, id_col, vec_col, planes, plane_id, n_planes),
        label="lsh_buckets",
    )
    qrow = bucketed.filter(F.col(id_col) == query_id).select(
        F.col("bucket").alias("qbucket"),
        as_double_array(vec_col).alias("qv"),
        norm(as_double_array(vec_col)).alias("_nq"),
    )
    return (
        bucketed.select(
            F.col(id_col),
            "bucket",
            as_double_array(vec_col).alias("v"),
            norm(as_double_array(vec_col)).alias("_nv"),
        )
        .join(F.broadcast(qrow), F.col("bucket") == F.col("qbucket"))
        .select(
            F.col(id_col),
            # norms hoisted to the join sides: one fold per pair, same
            # dot/(norm*norm) op order as cosine() => bitwise-equal
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_nv") * F.col("_nq")), 6
            ).alias("cos_sim"),
        )
    )


def _salted_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Two-stage salted top-k per q_id over (q_id, id, cos_sim) rows —
    the distributed top-k-per-group pattern (see knn_join docstring):
    per-(q_id, salt) heaps over ``_TOPK_SALTS`` salts first, then a
    trivially small global rank."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    salted = scored.withColumn(
        "salt", F.crc32(F.col(id_col).cast("string")) % _TOPK_SALTS
    )
    w_local = Window.partitionBy("q_id", "salt").orderBy(F.desc("cos_sim"), id_col)
    w_global = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), id_col)
    return (
        salted.withColumn("r", F.row_number().over(w_local))
        .filter(F.col("r") <= k)
        .drop("r", "salt")
        .withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= k)
        .select("q_id", F.col(id_col), "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """Collapse the K-row (cell, cv) centroid table to ONE broadcastable
    row holding an array of (cell, cv, nc) structs — the shape that lets
    per-row argmax run as a pure column expression with no shuffle and no
    window. The centroid norm ``nc`` is precomputed here (k tiny rows,
    once) so the per-corpus-row score is a single dot-product aggregate
    per centroid instead of re-deriving ``norm(cv)`` per (row, centroid)."""
    return F.broadcast(
        centroids.agg(
            F.collect_list(
                F.struct(F.col("cell"), F.col("cv"), norm(F.col("cv")).alias("nc"))
            ).alias("cents")
        )
    )


def _cell_scores(vec: Column) -> Column:
    """transform(cents, c -> struct(score, tiebreak, cell)) — lexicographic
    struct ordering gives argmax-by-score with ascending-cell tie-break.

    The row norm is LET-BOUND via a single-element-array ``transform``:
    higher-order-function lambdas evaluate per element and Catalyst's
    CollapseProject inlines a hoisted projection straight back into the
    lambda, so a plain ``withColumn("nv", norm(v))`` still pays k norm
    aggregates per row. Binding ``norm(vec)`` as the OUTER lambda's
    variable forces exactly one evaluation; the inner per-centroid work
    drops from three 64-element folds (dot + both norms) to one (dot).
    Bitwise-identical to ``round(cosine(vec, cv), 6)``: same fold, same
    ``dot / (norm(a) * norm(b))`` operation order. Measured 2x on the
    sf0.1 assignment (SCALING.md)."""
    return F.transform(
        F.array(norm(vec)),
        lambda nv: F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(dot(vec, c["cv"]) / (nv * c["nc"]), 6).alias("s"),
                (-c["cell"]).alias("negc"),
                c["cell"].alias("cell"),
            ),
        ),
    )[0]


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """Nearest-centroid cell per vector as a MAP-SIDE-ONLY expression.

    The K centroids collapse to a single broadcast array row
    (:func:`_centroid_array`); the per-row argmax is ``array_max`` over a
    ``transform`` — no shuffle of the corpus, no per-row window (the
    row_number-over-partitionBy(vec_id) formulation shuffles the whole
    corpus on vec_id; since round 7 every assignment site — including
    plans/pipeline_ext.sim_ivf_topk and the Lloyd training rounds in
    operators/clustering — uses this map-side shape, writing the result
    partitioned by cell so probes become partition pruning).
    Tie-break: lowest cell id, matching the
    registered oracle's ``row_number ORDER BY cos DESC, cell``.
    Returns (id, v, cell).
    """
    v = df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    return v.crossJoin(_centroid_array(centroids)).select(
        id_col,
        "v",
        F.array_max(_cell_scores(F.col("v")))["cell"].alias("cell"),
    )


def ivf_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Batch IVF ANN: exact top-k within each query's ``nprobe`` nearest
    cells, for EVERY query row at once.

    ``queries`` needs (q_id, qv); ``centroids`` is the K-row (cell, cv)
    table. Shape: corpus assignment is map-side (:func:`ivf_assign`);
    each query explodes to its nprobe probe cells (broadcast — queries
    are small); the probe is an equi-join on cell (partition pruning
    once the assigned corpus is stored partitioned by cell); scoring
    touches ~nprobe/K of the corpus; the per-query top-k is salted
    two-stage. recall@k vs the exact :func:`knn_join` is measured in
    SCALING.md — recall rises with nprobe and reaches 1.0 at nprobe=K
    by construction.
    """
    assigned = ivf_assign(corpus, id_col, vec_col, centroids).select(
        id_col, "v", "cell", norm(F.col("v")).alias("_nv")
    )
    qcells = (
        queries.crossJoin(_centroid_array(centroids))
        .select(
            "q_id",
            "qv",
            norm(F.col("qv")).alias("_nq"),
            F.explode(
                F.slice(
                    F.reverse(F.array_sort(_cell_scores(F.col("qv")))), 1, nprobe
                )
            ).alias("pc"),
        )
        .select("q_id", "qv", "_nq", F.col("pc")["cell"].alias("cell"))
    )
    scored = assigned.join(F.broadcast(qcells), "cell").select(
        "q_id",
        F.col(id_col),
        # norms hoisted to the join sides (corpus norm once per row,
        # query norm once per probe row): one fold per probed pair,
        # same dot/(norm*norm) op order as cosine() => bitwise-equal
        F.round(
            dot(F.col("v"), F.col("qv")) / (F.col("_nv") * F.col("_nq")), 6
        ).alias("cos_sim"),
    )
    return _salted_topk(scored, id_col, k)


def lsh_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    planes: DataFrame,
    plane_id: str,
    n_planes: int,
    k: int = 10,
    flips: int = 1,
) -> DataFrame:
    """Batch multiprobe LSH ANN: top-k within each query's own hyperplane
    bucket plus every bucket within ``flips`` bit flips (multiprobe — the
    standard recall knob: a near neighbor that lands just across one
    hyperplane is recovered by probing the 1-flip buckets).

    ``queries`` needs (q_id, qv). Bucket ids are map-side column
    expressions on both sides; the probe is an equi-join on bucket
    against the exploded (1 + sum_{r<=flips} C(n_planes, r)) probe
    buckets per query. recall@k vs exact is measured in SCALING.md.
    """
    from itertools import combinations  # noqa: PLC0415

    bucketed = with_lsh_bucket(corpus, id_col, vec_col, planes, plane_id, n_planes)
    p = F.broadcast(
        planes.select(
            F.col(plane_id).alias("pid"), as_double_array(vec_col).alias("pv")
        )
    )
    qb = (
        queries.crossJoin(p)
        .select(
            "q_id",
            "qv",
            F.when(
                dot(F.col("qv"), F.col("pv")) > 0,
                F.expr("shiftleft(1, cast(pid - 1 as int))"),
            )
            .otherwise(0)
            .alias("bit"),
        )
        .groupBy("q_id")
        .agg(F.first("qv").alias("qv"), F.sum("bit").cast("bigint").alias("qbucket"))
    )
    masks = [0] + [
        sum(1 << b for b in c)
        for r in range(1, flips + 1)
        for c in combinations(range(n_planes), r)
    ]
    probes = qb.select(
        "q_id",
        "qv",
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    scored = (
        bucketed.select(
            F.col(id_col),
            "bucket",
            as_double_array(vec_col).alias("v"),
            norm(as_double_array(vec_col)).alias("_nv"),
        )
        .join(
            F.broadcast(probes.withColumn("_nq", norm(F.col("qv")))), "bucket"
        )
        .select(
            "q_id",
            F.col(id_col),
            # norms hoisted to the join sides: one fold per probed pair,
            # same dot/(norm*norm) op order as cosine() => bitwise-equal
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_nv") * F.col("_nq")), 6
            ).alias("cos_sim"),
        )
    )
    return _salted_topk(scored, id_col, k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_salt: int = 32,
) -> DataFrame:
    """Batch k-NN join: exact cosine top-k neighbors for EVERY query row.

    The query side must be small (it is broadcast); `queries` needs
    columns (q_id, qv). Scoring is one broadcast-nested-loop pass over
    the corpus — linear, no shuffle. The top-k-per-query step is the
    scale hazard: a plain window over q_id would shuffle the ENTIRE
    scored corpus onto |queries| partitions (5 queries -> 5 hot tasks
    holding N/5 rows each). Instead, two-stage salted top-k:

      stage 1: row_number over (q_id, salt) — n_salt * |queries| uniform
               keys, each task ranks ~N/(|q|*n_salt) rows, keeps k;
      stage 2: row_number over q_id on the <= k*n_salt survivors — a
               trivially small exchange.

    Same result as the single-window formulation (top-k of a union of
    per-salt top-ks is the global top-k since every candidate's global
    rank <= its salt-local rank); ties break on id so ranks are
    deterministic. This is the distributed-top-k-per-group pattern that
    survives 100x corpus growth with fixed per-task memory.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    scored = (
        corpus.select(
            F.col(id_col),
            as_double_array(vec_col).alias("v"),
            norm(as_double_array(vec_col)).alias("_nv"),
        )
        .crossJoin(F.broadcast(queries.withColumn("_nq", norm(F.col("qv")))))
        .select(
            "q_id",
            F.col(id_col),
            # norms hoisted to the join sides (corpus norm once per row
            # instead of once per (row, query) pair): one fold per pair,
            # same dot/(norm*norm) op order as cosine() => bitwise-equal
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_nv") * F.col("_nq")), 6
            ).alias("cos_sim"),
            (F.crc32(F.col(id_col).cast("string")) % n_salt).alias("salt"),
        )
    )
    w_local = Window.partitionBy("q_id", "salt").orderBy(F.desc("cos_sim"), id_col)
    w_global = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), id_col)
    return (
        scored.withColumn("r", F.row_number().over(w_local))
        .filter(F.col("r") <= k)
        .drop("r", "salt")
        .withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= k)
        .select("q_id", F.col(id_col), "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )
