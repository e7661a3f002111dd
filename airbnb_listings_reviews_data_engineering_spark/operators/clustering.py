"""Iterative clustering on DataFrames (k-means / Lloyd).

The loop shape matters more than the model: each iteration is
  assign  — broadcast K centroids, per-row argmin distance (map-side,
            no shuffle of the corpus);
  update  — element-wise mean per cluster (posexplode -> one shuffle on
            (cluster, dim) -> rebuild the centroid arrays).
At 100 TB only the K-row centroid table moves between iterations; the
corpus is re-scanned (or cached) but never reshuffled for assignment.

Determinism contract (for the cross-engine oracle): distances accumulate
sequentially (zip_with + aggregate) and are rounded to 6 dp before the
argmin (ties break on cluster id); recomputed centroid coordinates are
rounded to 6 dp. The oracle SQL mirrors both rounding points exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import pin
from ..functions.arrays import as_double_array


def sq_dist(a, b, dims: int | None = None):
    """Squared distance. With ``dims`` known, expand to a FLAT scalar
    sum — higher-order lambdas are interpreted (no codegen, no
    subexpression elimination), and the assignment step evaluates this
    once per (point, centroid); the flat form stays inside whole-stage
    codegen. Addition order matches the lambda fold exactly
    (0.0 + t1 == t1 in IEEE, then left-associated), so rounded values
    are bitwise unchanged and every existing oracle still matches."""
    if dims is not None:
        expr = None
        for d in range(1, dims + 1):
            t = (F.element_at(a, d) - F.element_at(b, d)) * (
                F.element_at(a, d) - F.element_at(b, d)
            )
            expr = t if expr is None else expr + t
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_dist_sql(dims: int) -> str:
    """DuckDB twin of ``round(sq_dist(e.v, c.cv, dims), 6)``, the
    rounded point-to-centroid distance every Lloyd oracle ranks by."""
    return (
        "round(list_sum(list_transform(generate_series(1, {dims}), "
        "d -> (e.v[d] - c.cv[d]) * (e.v[d] - c.cv[d]))), 6)"
    ).format(dims=dims)


def assign_nearest(
    v: DataFrame,
    id_col: str,
    vec_col: str,
    cents: DataFrame,
    *,
    probes: int = 1,
    dims: int | None = None,
    with_dist: bool = False,
) -> DataFrame:
    """MAP-SIDE nearest-centroid assignment by squared distance: the
    k-row (cid, cv) centroid table collapses to ONE broadcast
    array-of-structs row and the per-vector pick is a pure column
    expression — ``array_min`` (probes=1) or
    ``slice(array_sort(...), 1, probes)`` over ``struct(d2, cid)``,
    whose lexicographic ordering reproduces the oracle's
    ``row_number() ORDER BY d2, cid`` exactly. No
    ``Exchange hashpartitioning(id)``, no per-vector window: the corpus
    is touched by one narrow projection — the only assignment plan that
    survives 100 TB (the window formulation this replaces shuffled the
    full corpus once per Lloyd round, VERDICT r6 #2). Distances round
    to 6 dp before the argmin, matching every registered oracle.
    Returns (id, vec, cid), one row per probe."""
    carr = F.broadcast(
        cents.agg(F.collect_list(F.struct("cid", "cv")).alias("_cents"))
    )
    scores = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.round(sq_dist(F.col(vec_col), c["cv"], dims), 6).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    joined = v.crossJoin(carr)
    if probes == 1:
        best = F.array_min(scores)
        cols = [id_col, vec_col, best["cid"].alias("cid")]
        if with_dist:
            cols.append(best["d2"].alias("d2"))
        return joined.select(*cols)
    picked = joined.select(
        id_col,
        vec_col,
        F.explode(F.slice(F.array_sort(scores), 1, probes)).alias("_pc"),
    )
    cols = [id_col, vec_col, F.col("_pc")["cid"].alias("cid")]
    if with_dist:
        cols.append(F.col("_pc")["d2"].alias("d2"))
    return picked.select(*cols)


def _lloyd(v: DataFrame, id_col: str, k: int, iters: int, dims: int | None = None):
    """Run `iters` Lloyd rounds over (id, v) rows; centroids seeded from
    ids 1..k. Returns (cents, assigned): the final (cid, cv) centroid
    table and the last round's (id, v, cid) assignment (to the
    PREVIOUS round's centroids — kmeans_fixed's n_points contract)."""
    cents = v.filter(F.col(id_col).between(1, k)).select(
        (F.col(id_col) - 1).cast("int").alias("cid"), F.col("v").alias("cv")
    )
    assigned = None
    for _ in range(iters):
        assigned = assign_nearest(v, id_col, "v", cents, dims=dims)
        if dims is not None:
            # means as ONE groupBy(cid) with a per-dimension avg column
            # each (map-side partial aggregation, single shuffle of k
            # partial rows per map task). The posexplode fallback below
            # shuffles dims x the rows TWICE per round ((cid, pos) avg,
            # then the (cid) array rebuild) — measured 2x on the
            # training half of dedup_semdedup. Same per-partition
            # partial sums in the same row order, so the 6 dp rounded
            # means are unchanged and every oracle still matches.
            new_cents = assigned.groupBy("cid").agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at("v", d + 1)), 6)
                        for d in range(dims)
                    ]
                ).alias("cv")
            )
        else:
            means = (
                assigned.select("cid", F.posexplode("v").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("val"), 6).alias("m"))
            )
            new_cents = means.groupBy("cid").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
        # LAZY pin: the plan is truncated at pin time either way (the
        # LogicalRDD replaces the round's lineage, so plan growth stays
        # linear — the failure mode connected_components documents), but
        # a lazy pin starts no job, so the next round's pin does not
        # materialize it either: every round runs inside the caller's
        # terminal action instead of as one standalone k-row job per
        # round — `iters` fewer sequential barriers per training run
        # (round 14, guide §1.2).
        # Rounds are NOT released mid-loop: the final `assigned` lineage
        # still references the previous round's centroids; the session
        # harness frees all k-row pins via release_pins() after use.
        cents = pin(new_cents, eager=False, label="kmeans_cents")
    return cents, assigned


def kmeans_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    dims: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's algorithm with deterministic seeding (centroids = the
    vectors with ids 1..k) and a fixed iteration count. Returns one row
    per surviving cluster: (cid, n_points, c1..c{dims}).
    """
    v = df.select(
        F.col(id_col), F.slice(as_double_array(vec_col), 1, dims).alias("v")
    )
    cents, assigned = _lloyd(v, id_col, k, iters, dims)
    counts = assigned.groupBy("cid").agg(F.count("*").alias("n_points"))
    flat = [F.element_at("cv", d + 1).alias(f"c{d + 1}") for d in range(dims)]
    return counts.join(cents, "cid").select("cid", "n_points", *flat)


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    dims: int = 8,
    iters: int = 2,
) -> DataFrame:
    """The trainable front half of :func:`kmeans_fixed`: just the final
    (cid, cv) centroid table, in the shape operators/similarity's
    ``ivf_topk_join`` takes as its cell table — so a learned IVF index is
    ``kmeans_centroids(...)`` piped into ``ivf_topk_join`` (SCALING.md
    measures the recall payoff of learned vs arbitrary centroids)."""
    v = df.select(
        F.col(id_col), F.slice(as_double_array(vec_col), 1, dims).alias("v")
    )
    cents, _ = _lloyd(v, id_col, k, iters, dims)
    return cents


def kmeans_blocks(k: int, dims: int, iters: int) -> str:
    """DuckDB twin of ``kmeans_centroids``: unrolled Lloyd iterations as
    generated CTE blocks (e, c0, a1, c1, ... c{iters}) with ``_lloyd``'s
    two rounding points — for every oracle that trains the same
    centroids (ml_kmeans, the learned IVF, SemDedup, the balanced
    samplers)."""
    d2 = sq_dist_sql(dims)
    blocks = [
        f"""
e AS (
  SELECT vec_id,
         list_transform(generate_series(1, {dims}), d -> CAST(embedding[d] AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (SELECT CAST(vec_id - 1 AS INT) AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {k})
"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        blocks.append(
            f"""
a{it} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
c{it} AS (
  SELECT cid, list(m ORDER BY pos) AS cv FROM (
    SELECT cid, u.pos AS pos, round(avg(u.val), 6) AS m FROM (
      SELECT cid,
             unnest(list_transform(generate_series(1, {dims}),
                    d -> struct_pack(pos := d, val := v[d]))) AS u
      FROM a{it}
    ) GROUP BY cid, u.pos
  ) GROUP BY cid
)
"""
        )
    return ",".join(b.strip() for b in blocks)


def pq_blocks(
    sub: int, subdim: int, k: int, iters: int, train_n: int | None = None
) -> str:
    """One subspace's unrolled Lloyd chain (e{sub}, c{sub}_0, ... ),
    mirroring kmeans_blocks above but over the dimension slice
    [sub*subdim+1, (sub+1)*subdim] so the codebooks train
    independently (sim_pq_quantize: 4x16x4; sim_ivfpq_topk: 8x8x16,
    each subspace a separate call). ``train_n`` bounds the Lloyd
    LEARNING SET to vec_id <= train_n (Jegou et al.'s practice — train
    codebooks on a sample, code the whole corpus); the e{sub} slice CTE
    itself stays full-corpus because coding and LUT CTEs read it."""
    off = sub * subdim
    t = f"s{sub}"
    train_src = (
        f"(SELECT * FROM e{t} WHERE vec_id <= {train_n})"
        if train_n is not None
        else f"e{t}"
    )
    d2 = sq_dist_sql(subdim)
    blocks = [
        f"""
e{t} AS MATERIALIZED (
  SELECT vec_id,
         list_transform(generate_series({off + 1}, {off + subdim}),
                        d -> CAST(embedding[d] AS DOUBLE)) AS v
  FROM embeddings
),
c{t}0 AS (SELECT CAST(vec_id - 1 AS INT) AS cid, v AS cv
          FROM e{t} WHERE vec_id BETWEEN 1 AND {k})
"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{t}{it - 1}"
        blocks.append(
            f"""
a{t}{it} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM {train_src} e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
c{t}{it} AS MATERIALIZED (
  SELECT cid, list(m ORDER BY pos) AS cv FROM (
    SELECT cid, u.pos AS pos, round(avg(u.val), 6) AS m FROM (
      SELECT cid,
             unnest(list_transform(generate_series(1, {subdim}),
                    d -> struct_pack(pos := d, val := v[d]))) AS u
      FROM a{t}{it}
    ) GROUP BY cid, u.pos
  ) GROUP BY cid
)"""
        )
    return ",".join(b.strip() for b in blocks)
