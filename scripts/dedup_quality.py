"""Measured quality of approximate near-dup pair generation vs exact
ground truth (VERDICT r2 #8 and VERDICT r3 "Next round" #6).

Two measurements, one per SCALING.md section:

1. MinHash-LSH pairs vs exact n-gram Jaccard. Both operators run on the
   SAME corpus slice with the same shingle width; exact
   `ngram_jaccard_pairs` (AllPairs prefix filtering — zero false
   negatives at the threshold) is the ground truth, `minhash_lsh_pairs`
   is the probe. precision = TP/(TP+FP), recall = TP/(TP+FN); the
   8-hash/4-band S-curve is coarse (est is a multiple of 1/8); the
   table quantifies what each signature budget buys.

2. Sign-LSH embedding near-dup pairs vs exact cosine pairs. Ground
   truth is the unblocked all-pairs cosine join at the threshold; the
   probe is the 8-hyperplane bucket equi-join `dedup_embedding_lsh`
   runs (single bucket), plus the multiprobe flip rings (pairs whose
   buckets differ by <= r bits are recovered by exploding one side to
   its r-flip buckets). Candidates are cosine-VERIFIED, so precision is
   1.0 by construction — the measured quantities are recall and the
   candidate volume the verify stage must score.

Usage: python scripts/dedup_quality.py [sf_dir]
Updates the marker-delimited sections of SCALING.md.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.operators import (  # noqa: E402
    dedup as D,
)
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

START = "<!-- DEDUP_QUALITY_START -->"
END = "<!-- DEDUP_QUALITY_END -->"
EMB_START = "<!-- EMB_DEDUP_RECALL_START -->"
EMB_END = "<!-- EMB_DEDUP_RECALL_END -->"

THRESHOLD = 0.5
SHINGLE = 3
COS_THRESHOLD = 0.99
N_PLANES = 8


def emb_corpus(spark, sf_dir: str):
    """Embeddings + one perturbed copy per vector, the perturbation
    magnitude sweeping with vec_id so true-pair cosines spread across
    and straddle the 0.99 threshold (a fixed tiny nudge would put every
    true pair at cos~1.0 and any probe would score a trivial 1.0)."""
    from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (
        as_double_array,
    )

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    pert = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(v, (x, j) -> x * (1.0 + ((vec_id % 40) / 300.0)"
            " * cos(j + 1)))"
        ).alias("v"),
    )
    return base, base.unionByName(pert)


def emb_lsh_pair_sets(spark, sf_dir: str, flips_budgets=(0, 1, 2)):
    """Returns (exact_pairs, {flips: lsh_pairs}, n_cands {flips: int}).
    Exact = unblocked all-pairs cosine >= t (via the registered
    embedding_near_dup_pairs operator with a constant block); probes =
    sign-LSH bucket equi-join with one side exploded to its <=r-flip
    buckets, then the same cosine verify."""
    from itertools import combinations

    from airbnb_listings_reviews_data_engineering_spark.checkpoint import pin
    from airbnb_listings_reviews_data_engineering_spark.operators import (
        similarity as S,
    )

    base, corpus = emb_corpus(spark, sf_dir)
    corpus = pin(corpus, label="emb_dedup_corpus")
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in D.embedding_near_dup_pairs(
            corpus.withColumn("blk", F.lit(1)),
            "vec_id",
            "v",
            "blk",
            threshold=COS_THRESHOLD,
        ).collect()
    }
    planes = base.filter(F.col("vec_id").between(1, N_PLANES)).select(
        F.col("vec_id").cast("int").alias("pid"), "v"
    )
    bucketed = pin(
        S.with_lsh_bucket(corpus, "vec_id", "v", planes, "pid", N_PLANES),
        label="emb_dedup_buckets",
    )
    from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (
        cosine,
    )

    lsh_sets, n_cands = {}, {}
    for flips in flips_budgets:
        masks = [0] + [
            sum(1 << b for b in c)
            for r in range(1, flips + 1)
            for c in combinations(range(N_PLANES), r)
        ]
        probed = bucketed.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("pb"),
        )
        cand = (
            probed.join(
                bucketed.select(
                    F.col("vec_id").alias("vec_b"),
                    F.col("v").alias("vb"),
                    F.col("bucket").alias("b_bucket"),
                ),
                F.col("pb") == F.col("b_bucket"),
            )
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", "va", "vb")
            .distinct()
        )
        n_cands[flips] = cand.count()
        lsh_sets[flips] = {
            (r["vec_a"], r["vec_b"])
            for r in cand.select(
                "vec_a",
                "vec_b",
                F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
            )
            .filter(F.col("cos") >= COS_THRESHOLD)
            .collect()
        }
    return exact, lsh_sets, n_cands


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # Variants keep a PREFIX of each doc's tokens whose fraction sweeps
    # 0.30..0.94 by doc id, so true pair Jaccards spread across the
    # whole [0.2, 0.95] range and straddle the threshold — dropping one
    # word (the scale_smoke fixture) puts every true pair at J~0.97,
    # where any budget scores a trivial 1.0/1.0 and the S-curve is
    # invisible.
    variants = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(split(text, ' '), 1, greatest(3, "
            "cast(size(split(text, ' ')) * (0.30 + (doc_id % 65) / 100.0) "
            "as int))))"
        ).alias("text"),
    )
    corpus = base.unionByName(variants)

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(
            corpus, "doc_id", "text", shingle=SHINGLE, threshold=THRESHOLD
        ).collect()
    }
    lines = [
        f"### {sf_dir}: {corpus.count():,} docs "
        f"({base.count():,} base + near-dup variants), threshold {THRESHOLD}, "
        f"{SHINGLE}-gram shingles",
        "",
        "| LSH budget | pairs emitted | true pairs | precision | recall |",
        "|---|---|---|---|---|",
    ]
    for num_hashes, bands in ((8, 4), (16, 8), (32, 16)):
        lsh = {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_lsh_pairs(
                corpus,
                "doc_id",
                "text",
                num_hashes=num_hashes,
                bands=bands,
                threshold=THRESHOLD,
                shingle=SHINGLE,
            ).collect()
        }
        tp = len(lsh & exact)
        prec = tp / len(lsh) if lsh else 1.0
        rec = tp / len(exact) if exact else 1.0
        lines.append(
            f"| {num_hashes} hashes / {bands} bands | {len(lsh):,} | "
            f"{len(exact):,} | {prec:.3f} | {rec:.3f} |"
        )
        print(
            f"{num_hashes}h/{bands}b: lsh={len(lsh)} exact={len(exact)} "
            f"p={prec:.3f} r={rec:.3f}",
            flush=True,
        )
        release_pins(spark)

    body = [
        START,
        "",
        "## MinHash-LSH dedup quality vs exact n-gram Jaccard",
        "",
        *lines,
        "",
        "Ground truth is the prefix-filtered AllPairs exact join (zero",
        "false negatives at the threshold, tests/test_iterative_ops.py).",
        "Precision loss = signature-agreement overestimate (est is a",
        "multiple of 1/num_hashes); recall loss = true pairs that never",
        "collide in a band. Both tighten as the signature budget grows;",
        "the map-side signature cost grows linearly with num_hashes while",
        "the band join stays an equi-join — at 100 TB the budget is a",
        "per-run knob, not an architecture change.",
        f"Regenerate: `python scripts/dedup_quality.py {sf_dir}`.",
        END,
    ]
    text = "\n".join(body) + "\n"
    with open(os.path.join(REPO, "SCALING.md")) as f:
        old = f.read()
    if START in old:
        new = old.split(START)[0] + text + old.split(END)[-1]
    else:
        new = old.rstrip() + "\n\n" + text
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(new)
    print("SCALING.md dedup-quality section updated")

    # -- embedding sign-LSH pair recall vs exact cosine pairs -----------
    exact_p, lsh_sets, n_cands = emb_lsh_pair_sets(spark, sf_dir)
    release_pins(spark)
    n_corpus = 2 * spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    all_pairs = n_corpus * (n_corpus - 1) // 2
    emb_lines = [
        EMB_START,
        "",
        "## Sign-LSH embedding near-dup pair recall vs exact cosine",
        "",
        f"### {sf_dir}: {n_corpus:,} vectors ({n_corpus // 2:,} base + "
        f"magnitude-swept perturbed copies), threshold {COS_THRESHOLD}, "
        f"{N_PLANES} hyperplanes",
        "",
        "| probe | candidate pairs scored | pairs emitted | true pairs | recall |",
        "|---|---|---|---|---|",
    ]
    for flips, pairs in sorted(lsh_sets.items()):
        tp = len(pairs & exact_p)
        rec = tp / len(exact_p) if exact_p else 1.0
        tag = (
            "single bucket (dedup_embedding_lsh)"
            if flips == 0
            else f"multiprobe flips<={flips}"
        )
        emb_lines.append(
            f"| {tag} | {n_cands[flips]:,} (~1/{all_pairs // max(1, n_cands[flips])}"
            f" of all pairs) | {len(pairs):,} | {len(exact_p):,} | {rec:.3f} |"
        )
        print(
            f"emb flips={flips}: cands={n_cands[flips]} lsh={len(pairs)} "
            f"exact={len(exact_p)} r={rec:.3f}",
            flush=True,
        )
    emb_lines += [
        "",
        "Ground truth is the UNBLOCKED all-pairs cosine join at the",
        "threshold (the measurement the registered oracle cannot make —",
        "it states the same bucket blocking, so its green proves",
        "fidelity, not recall). Candidates are cosine-verified, so",
        "precision is 1.0 by construction; recall loss = true pairs",
        "whose bucket ids differ in more hyperplanes than the probe",
        "ring covers. Each flip ring multiplies candidates by ~(1 +",
        "C(8,1) + ... ) while staying an equi-join — the same knob, cost",
        "and plan shape as sim_lsh_multiprobe. Floors pinned by",
        "tests/test_dedup_quality.py.",
        f"Regenerate: `python scripts/dedup_quality.py {sf_dir}`.",
        EMB_END,
    ]
    emb_text = "\n".join(emb_lines) + "\n"
    with open(os.path.join(REPO, "SCALING.md")) as f:
        old = f.read()
    if EMB_START in old:
        new = old.split(EMB_START)[0] + emb_text + old.split(EMB_END)[-1]
    else:
        new = old.rstrip() + "\n\n" + emb_text
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(new)
    print("SCALING.md embedding-LSH recall section updated")


if __name__ == "__main__":
    main()
