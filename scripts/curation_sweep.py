"""Weak-scaling blow-up sweep for the round-7 curation/eval keys.

Same method as scripts/sf_sweep.py (fact blow-up through the registry)
applied to the documents/embeddings tables the new keys read: blown
corpora are materialized to /tmp sf-style dirs, every OTHER table is
symlinked unblown, and each key is re-timed through the registry at
1x/10x/30x. Documents get scale_smoke's tagged-token blow-up (every
token suffixed with the copy index) so cross-copy texts stay DISTINCT —
a naive row copy would plant k identical texts per doc and turn every
near-dup key quadratic by construction (skew manufacturing, not weak
scaling). Embeddings shift vec_id and nudge dim 0 by i*1e-4 per copy.

mm_phash_dedup joins the sweep as of round 8: its fixture plants one
original+variant image pair PER DOCUMENT (no cap), so the image count
scales 1:1 with the blown corpus.

Linearity test: marginal ratio (t30 - t1) / (t10 - t1) against the
data ratio 29/9 = 3.22 (the t1 subtraction removes the fixed session
floor); quadratic lands near 89/9 = 9.9.

Usage: python scripts/curation_sweep.py [reps]   (default 2)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
ROOT = "/tmp/curation_blow"
MULTS = [1, 10, 30]
SHIFT = 100_000_000

KEYS = [
    "text_decontaminate",   # corpus grams vs broadcast eval-gram set
    "sample_rho_loss",      # pinned doc-term counts + broadcast models
    "split_leakage_audit",  # minhash bands + cross-split classification
    "sample_cluster_balanced",  # Lloyd training + map-side argmin + cap
    "eval_bradley_terry",   # one-pass match matrix + K-row MM rounds
    "text_span_excise",     # positional gram explode + array rebuild
    "pack_bin_ffd",         # grouped Arrow FFD (sequential loop per group)
    "mm_phash_dedup",       # map-side dHash signatures + pigeonhole bands
    "dedup_span_exact",     # gram postings -> dup-count -> span excision
    "dedup_span_keep_first",  # same postings + canonical-occurrence filter
    "dedup_span_winnowed",  # minimizer-sampled postings, 39% of dense
    "dedup_embedding_incremental",  # batch vs corpus sign-LSH bucket join
    "text_decontaminate_bloom",     # bloom-pruned exact eval-gram join
    # round-9 corpus-reading additions (sketch keys read the UNBLOWN
    # symlinked orders and dedup_components reads a doc_id<500 slice —
    # flat by construction, so they are not swept)
    "mm_pair_dedup",        # dHash bands + verified-caption signatures
    "stream_dedup_span",    # stream grams vs standing posting index
    "ml_quality_distill",   # gopher labels -> 6 GD rounds -> holdout
]

# restrict to a named subset: SPARK_GRAFT_SWEEP_KEYS=a,b,c
_only = os.environ.get("SPARK_GRAFT_SWEEP_KEYS", "")
if _only:
    _wanted = {k for k in _only.split(",") if k}
    KEYS = [k for k in KEYS if k in _wanted]

DIMS = ["region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events"]


def blow_documents(spark, k: int):
    base = spark.read.parquet(f"{SRC}/documents.parquet")
    copies = []
    for i in range(k):
        copies.append(
            base.select(
                (F.col("doc_id") + i * SHIFT).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.expr(f"transform(split(text, ' '), t -> concat(t, '{i}'))"),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    return df


def blow_embeddings(spark, k: int):
    base = spark.read.parquet(f"{SRC}/embeddings.parquet")
    copies = []
    for i in range(k):
        copies.append(
            base.select(
                (F.col("vec_id") + i * SHIFT).alias("vec_id"),
                "label",
                F.expr(
                    f"transform(embedding, (x, j) ->"
                    f" CAST(x + {i} * 1e-4 * IF(j = 0, 1, 0) AS float))"
                ).alias("embedding"),
            )
        )
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    return df


def build(spark, k: int) -> str:
    out = f"{ROOT}/m{k}"
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    for t in DIMS:
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    blow_documents(spark, k).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    blow_embeddings(spark, k).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    if os.path.isdir(ROOT):
        shutil.rmtree(ROOT)
    spark = get_spark()
    qs = all_queries()
    dirs = {k: build(spark, k) for k in MULTS}

    for key in KEYS:  # codegen warm-up outside the timed region
        qs[key].fn(spark, dirs[1]).write.format("noop").mode("overwrite").save()
    release_pins(spark)

    times: dict[str, dict[int, float]] = {k: {} for k in KEYS}
    for k in MULTS:
        for key in KEYS:
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                qs[key].fn(spark, dirs[k]).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                release_pins(spark)
            times[key][k] = best

    dr = (MULTS[2] - MULTS[0]) / (MULTS[1] - MULTS[0])
    print(f"| key | t_1x | t_10x | t_30x | marginal (t30-t1)/(t10-t1) "
          f"| t30/t10 | linear={dr:.2f} |")
    print("|---|---|---|---|---|---|---|")
    for key in KEYS:
        t = times[key]
        denom = t[10] - t[1]
        marg = (t[30] - t[1]) / denom if denom > 0.05 else float("nan")
        # two-signal verdict: the marginal alone is noise-fragile when
        # t10-t1 is a fraction of a second (a 0.1 s denominator turns
        # box jitter into a bogus SUPERLINEAR), so the 10x->30x leg
        # ratio must corroborate: data grows 3x on that leg, so a
        # linear key sits <= ~3 plus fixed-floor dilution; a genuine
        # quadratic (marginal ~9.9) rides >= 2.5 once the variable
        # part dominates. Flag only when BOTH exceed their bars.
        leg = t[30] / t[10] if t[10] > 0 else float("nan")
        verdict = (
            "n/a (flat)"
            if marg != marg
            else (
                "SUPERLINEAR"
                if marg >= 2 * dr and leg >= 2.5
                else "linear"
            )
        )
        print(
            f"| {key} | {t[1]:.2f} | {t[10]:.2f} | {t[30]:.2f} "
            f"| {'-' if marg != marg else f'{marg:.2f}'} | {leg:.2f} "
            f"| {verdict} |"
        )


if __name__ == "__main__":
    main()
