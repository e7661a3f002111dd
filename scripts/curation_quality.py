"""Measured quality of the round-5 curation/selection operators vs
exact ground truth (VERDICT r5 #6 / r6 #9) — the same
measure-don't-claim discipline scripts/dedup_quality.py and
scripts/ann_recall.py apply to the dedup and ANN families:

1. SemDedup dup-pair recall. Ground truth = the EXACT all-pairs
   cosine>=0.99 pair set over the semdedup corpus (base 8-dim slices +
   the +0.01-perturbed copies dedup_semdedup plants). Probe = learned
   k-means cell blocking: a pair is recoverable iff its members share
   a cell, for probes=1 (dedup_semdedup) and probes=2
   (dedup_semdedup_multiprobe). Both assignments run through
   operators/clustering.assign_nearest — the map-side argmin the r6/r7
   refactor installed — so this table also regression-proves the
   refactor end-to-end (an assignment bug would crater recall).

2. Greedy k-center coverage radius vs an id-spread baseline. The
   registered sample_kcenter_coreset picks R=6 centers (Gonzalez
   2-approximation); coverage radius = max over the corpus of the
   squared distance to its nearest chosen center. The baseline picks 6
   evenly-id-spaced vectors (ids carry no embedding structure, so this
   is a deterministic stand-in for random choice). Greedy must cover
   tighter.

3. PQ reconstruction error -> retrieval recall. sim_pq_quantize's
   exact training loop (4 x 16-dim subspaces, Lloyd k-means per
   subspace) at codebook sizes k=4 and k=8; reconstruction error =
   mean over vectors of the summed per-subspace quantization d2, and
   recall@10 = overlap of ADC (asymmetric distance: query-to-codeword
   lookup tables, the Jegou et al. search scheme) top-10 vs the exact
   full-dimension L2 top-10 for 25 queries. More codewords => lower
   distortion => higher recall; the table quantifies the trade.

Usage: python scripts/curation_quality.py [sf_dir]
Updates the marker-delimited section of SCALING.md.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (  # noqa: E402
    as_double_array,
)
from airbnb_listings_reviews_data_engineering_spark.operators.clustering import (  # noqa: E402
    assign_nearest,
    kmeans_centroids,
)
from airbnb_listings_reviews_data_engineering_spark.plans.registry import (  # noqa: E402
    load,
)
from airbnb_listings_reviews_data_engineering_spark.session import (  # noqa: E402
    get_spark,
)

START = "<!-- CURATION_QUALITY_START -->"
END = "<!-- CURATION_QUALITY_END -->"

SD_DIMS = 8
COS_T = 0.99
KC_R = 6
PQ_SUBSPACES = 4
PQ_SUBDIM = 16
PQ_ITERS = 2
TOPK = 10


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _d2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _semdedup_corpus(spark, sf_dir: str):
    """The corpus dedup_semdedup blocks: base 8-dim slices + a +0.01
    first-coordinate perturbed copy of every vector (ids +100000)."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, SD_DIMS).alias("v")
    )
    perturbed = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, SD_DIMS - 1)
        ).alias("v"),
    )
    return emb, base.unionByName(perturbed)


def semdedup_pair_recall(spark, sf_dir: str, probes_list=(1, 2)) -> dict:
    """{probes: (recoverable_pairs, gt_pairs, recall)} — GT is the exact
    unblocked all-pairs cosine>=0.99 set; a pair is recoverable under
    cell blocking iff its members share an assigned cell."""
    emb, corpus = _semdedup_corpus(spark, sf_dir)
    nrm = F.sqrt(_dot(F.col("v"), F.col("v")))
    vn = corpus.select(
        "vec_id", F.transform("v", lambda x: x / nrm).alias("vn")
    )
    a = vn.select(F.col("vec_id").alias("ia"), F.col("vn").alias("va"))
    b = vn.select(F.col("vec_id").alias("ib"), F.col("vn").alias("vb"))
    gt = (
        a.join(b, F.col("ia") < F.col("ib"))
        .filter(F.round(_dot(F.col("va"), F.col("vb")), 4) >= COS_T)
        .select("ia", "ib")
    )
    gt_n = gt.count()

    cents = kmeans_centroids(emb, "vec_id", "embedding", k=4, dims=SD_DIMS, iters=2)
    out = {}
    for probes in probes_list:
        assigned = assign_nearest(corpus, "vec_id", "v", cents, probes=probes)
        ca = assigned.select(F.col("vec_id").alias("ia"), "cid")
        cb = assigned.select(F.col("vec_id").alias("ib"), "cid")
        recovered = (
            gt.join(ca, "ia").join(cb, ["ib", "cid"]).select("ia", "ib").distinct()
        )
        rec_n = recovered.count()
        out[probes] = (rec_n, gt_n, rec_n / gt_n if gt_n else 1.0)
    release_pins(spark)
    return out


def _coverage_radius(corpus, centers) -> float:
    """max over the corpus of the squared distance to the nearest of
    the given (cid, cv) centers — via the same map-side argmin the
    production assigners use."""
    assigned = assign_nearest(corpus, "vec_id", "v", centers, with_dist=True)
    return assigned.agg(F.max("d2")).first()[0]


def kcenter_radius_vs_baseline(spark, sf_dir: str) -> tuple[float, float]:
    """(greedy_radius, baseline_radius) for R=6 centers over the 8-dim
    slices. Greedy centers come from the REGISTERED
    sample_kcenter_coreset plan; the baseline takes 6 evenly-id-spaced
    vectors."""
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, SD_DIMS).alias("v")
    )
    picks = all_queries()["sample_kcenter_coreset"].fn(spark, sf_dir)
    greedy_ids = [r["vec_id"] for r in picks.select("vec_id").collect()]
    n = corpus.count()
    step = max(1, n // KC_R)
    baseline_ids = [1 + i * step for i in range(KC_R)]

    def centers_for(ids):
        lit_ids = F.array(*[F.lit(i) for i in ids])
        return (
            corpus.filter(F.array_contains(lit_ids, F.col("vec_id")))
            .select(
                F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
            )
        )

    g = _coverage_radius(corpus, centers_for(greedy_ids))
    b = _coverage_radius(corpus, centers_for(baseline_ids))
    release_pins(spark)
    return g, b


def pq_quality(spark, sf_dir: str, k: int) -> tuple[float, float]:
    """(mean reconstruction d2, ADC recall@10 vs exact full-dim L2) for
    PQ with 4 x 16-dim subspaces and ``k`` codewords per subspace,
    trained with sim_pq_quantize's exact Lloyd loop."""
    emb = load(spark, sf_dir, "embeddings")
    full = emb.select("vec_id", as_double_array("embedding").alias("v"))
    queries = full.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )

    # exact ground truth: top-10 by full-dimension squared L2
    gt_scored = full.crossJoin(F.broadcast(queries)).select(
        "q_id", "vec_id", _d2(F.col("v"), F.col("qv")).alias("d2")
    )
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    gt = {
        (r["q_id"], r["vec_id"])
        for r in gt_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .collect()
    }

    enc_parts = []
    qdist_parts = []
    for s in range(PQ_SUBSPACES):
        off = s * PQ_SUBDIM
        sub = emb.select(
            "vec_id",
            F.slice(as_double_array("embedding"), off + 1, PQ_SUBDIM).alias(
                "embedding"
            ),
        )
        cents = kmeans_centroids(
            sub, "vec_id", "embedding", k=k, dims=PQ_SUBDIM, iters=PQ_ITERS
        )
        v = sub.select("vec_id", F.col("embedding").alias("v"))
        enc_parts.append(
            assign_nearest(v, "vec_id", "v", cents, dims=PQ_SUBDIM, with_dist=True)
            .select("vec_id", F.lit(s).alias("s"), "cid", "d2")
        )
        qsub = queries.select(
            "q_id", F.slice("qv", off + 1, PQ_SUBDIM).alias("qs")
        )
        qdist_parts.append(
            qsub.crossJoin(F.broadcast(cents)).select(
                "q_id",
                F.lit(s).alias("s"),
                "cid",
                _d2(F.col("qs"), F.col("cv")).alias("qd2"),
            )
        )
    enc = enc_parts[0]
    for e in enc_parts[1:]:
        enc = enc.unionByName(e)
    qdist = qdist_parts[0]
    for q in qdist_parts[1:]:
        qdist = qdist.unionByName(q)

    mean_recon = (
        enc.groupBy("vec_id")
        .agg(F.sum("d2").alias("recon"))
        .agg(F.avg("recon"))
        .first()[0]
    )

    adc = (
        enc.join(qdist, ["s", "cid"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("qd2").alias("adc"))
    )
    wq = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    got = {
        (r["q_id"], r["vec_id"])
        for r in adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOPK)
        .collect()
    }
    release_pins(spark)
    return mean_recon, len(got & gt) / len(gt)


def dsir_target_shift(spark, sf_dir: str) -> dict:
    """Does DSIR (sample_dsir) actually pull the sample toward the
    target domain? Two measurements against the SAME hashed-bigram
    bucket space the operator scores in:

    - mean per-doc importance weight (log target/raw likelihood ratio)
      of the selected set vs an equal-size hash-random baseline pick
      from the raw pool — the quantity DSIR maximizes, so selected
      must beat baseline by construction (regression proof);
    - total-variation distance of the add-1-smoothed bucket
      distribution to the TARGET model, selected vs baseline — the
      distributional claim (arXiv:2302.03169 Fig. 2): resampled data
      should look more like the target than random raw data does.

    Returns {"lw_sel", "lw_base", "tv_sel", "tv_base"}.
    """
    from airbnb_listings_reviews_data_engineering_spark.functions.hashing import (
        hash60,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans.sampling_ext import (
        _DSIR_B,
        _DSIR_TARGET,
        sample_dsir,
    )

    docs = load(spark, sf_dir, "documents")
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
        "doc_id",
        "source",
        F.pmod(hash60(F.col("g")), F.lit(_DSIR_B)).alias("b"),
    )

    def bucket_dist(df) -> dict[int, float]:
        rows = df.groupBy("b").count().collect()
        tot = sum(r["count"] for r in rows) + _DSIR_B
        d = {b: 1.0 / tot for b in range(_DSIR_B)}
        for r in rows:
            d[r["b"]] = (r["count"] + 1.0) / tot
        return d

    target_p = bucket_dist(grams.filter(F.col("source") == _DSIR_TARGET))

    sel_rows = sample_dsir(spark, sf_dir).collect()
    sel_ids = [r.doc_id for r in sel_rows]
    lw_sel = sum(r.logw for r in sel_rows) / len(sel_rows)

    raw_grams = grams.filter(F.col("source") != _DSIR_TARGET)
    # equal-size hash-random baseline from the raw pool
    pool = docs.filter(F.col("source") != _DSIR_TARGET).select(
        "doc_id",
        hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit("|dsirbase"))
        ).alias("hk"),
    )
    base_ids = [
        r.doc_id
        for r in pool.orderBy("hk", "doc_id").limit(len(sel_ids)).collect()
    ]
    # baseline mean log-weight, scored by the operator's own model:
    # re-rank the pool by gk is not needed — read logw off the same
    # keyed table by re-running the scorer on the baseline ids
    from airbnb_listings_reviews_data_engineering_spark.plans.sampling_ext import (  # noqa: E501
        _DSIR_SQL,
    )
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    pool_sql = _DSIR_SQL[: _DSIR_SQL.rindex("SELECT")] + (
        "SELECT doc_id, logw FROM keyed"
    )
    logw_by_id = dict(con.execute(pool_sql).fetchall())
    # .get(i, 0.0): `keyed` only contains docs with >= 1 bigram, so a
    # baseline-sampled single-token doc is absent from it (logw 0 = the
    # neutral weight a bigram-less doc earns) — ADVICE r7
    lw_base = sum(logw_by_id.get(i, 0.0) for i in base_ids) / len(base_ids)

    def tv(d: dict[int, float]) -> float:
        return 0.5 * sum(
            abs(d[b] - target_p[b]) for b in range(_DSIR_B)
        )

    tv_sel = tv(bucket_dist(raw_grams.filter(F.col("doc_id").isin(sel_ids))))
    tv_base = tv(
        bucket_dist(raw_grams.filter(F.col("doc_id").isin(base_ids)))
    )
    return {
        "lw_sel": lw_sel,
        "lw_base": lw_base,
        "tv_sel": tv_sel,
        "tv_base": tv_base,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()

    sd = semdedup_pair_recall(spark, sf_dir)
    kc_g, kc_b = kcenter_radius_vs_baseline(spark, sf_dir)
    pq_rows = [(k, *pq_quality(spark, sf_dir, k)) for k in (4, 8)]
    ds = dsir_target_shift(spark, sf_dir)

    lines = [
        START,
        "## Curation-selection quality vs exact ground truth "
        f"(`{sf_dir}`, measured)",
        "",
        "Generated by scripts/curation_quality.py; floors pinned in",
        "tests/test_curation_quality.py. All assignments run through",
        "operators/clustering.assign_nearest (the map-side argmin), so",
        "these tables double as an end-to-end regression proof of the",
        "r7 shuffle-assignment refactor.",
        "",
        "### SemDedup cell-blocking pair recall (GT = exact all-pairs "
        f"cosine >= {COS_T})",
        "",
        "| probes | recovered pairs | GT pairs | recall |",
        "|---|---|---|---|",
    ]
    for probes, (rec, tot, r) in sorted(sd.items()):
        lines.append(f"| {probes} | {rec} | {tot} | {r:.3f} |")
    lines += [
        "",
        "Multi-probe sends boundary vectors to their 2 nearest cells —",
        "the paper's mitigation for Voronoi-edge misses; the recall",
        "delta above is what it buys at this corpus.",
        "",
        f"### Greedy k-center (R={KC_R}) coverage radius vs id-spread "
        "baseline",
        "",
        "| selector | coverage radius (max d2) |",
        "|---|---|",
        f"| sample_kcenter_coreset (Gonzalez greedy) | {kc_g:.4f} |",
        f"| evenly-id-spaced baseline | {kc_b:.4f} |",
        "",
        f"Greedy covers {kc_b / kc_g:.2f}x tighter; the gap is the",
        "diversity the coreset buys for data pruning.",
        "",
        "### PQ codebook size vs reconstruction error and ADC recall@10",
        "",
        "| k per subspace | code bits | mean recon d2 | recall@10 |",
        "|---|---|---|---|",
    ]
    for k, recon, recall in pq_rows:
        import math

        bits = PQ_SUBSPACES * int(math.log2(k))
        lines.append(f"| {k} | {bits} | {recon:.4f} | {recall:.3f} |")
    lines += [
        "",
        "Doubling each codebook cuts distortion and lifts recall; the",
        "64x raw-vs-code memory ratio (512 B -> 1-1.5 B) is unchanged",
        "in order of magnitude, which is the trade PQ exists to make.",
        "",
        "### DSIR selection shift toward the target domain (round 7)",
        "",
        "| selector | mean log-weight | TV to target model |",
        "|---|---|---|",
        f"| sample_dsir (importance resample) | {ds['lw_sel']:.2f} "
        f"| {ds['tv_sel']:.4f} |",
        f"| hash-random baseline (same size) | {ds['lw_base']:.2f} "
        f"| {ds['tv_base']:.4f} |",
        "",
        "Selected docs carry a higher target/raw log-likelihood ratio",
        "by construction (the regression proof); the TV row is the",
        "distributional claim — the resample should LOOK more like the",
        "target's hashed-bigram distribution than random raw data does.",
        END,
    ]

    with open(os.path.join(REPO, "SCALING.md")) as f:
        doc = f.read()
    block = "\n".join(lines)
    if START in doc:
        pre = doc.split(START)[0]
        post = doc.split(END)[1]
        doc = pre + block + post
    else:
        doc = doc.rstrip() + "\n\n" + block + "\n"
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(doc)
    print("semdedup:", sd)
    print("kcenter greedy/baseline:", kc_g, kc_b)
    print("pq:", pq_rows)


if __name__ == "__main__":
    main()
