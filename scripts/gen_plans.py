"""Generate PLANS.md: the formatted physical plans of representative
queries, so plan quality (pushdown, broadcast, bucketing, no cartesians,
TakeOrderedAndProject) is reviewable without running Spark."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airbnb_listings_reviews_data_engineering_spark.plans import all_queries  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("join_eq3", "3-way star join + aggregation: broadcast joins, pushed filters, partial/final agg"),
    ("join_semi_inlist", "left-semi replacing the reference's cross-engine IN-list splice"),
    ("join_bucketed", "bucketed co-located sort-merge join: NO exchange before the join"),
    ("src_partition_pruning", "partition-pruned scan: PartitionFilters at the source"),
    ("sort_limit_topk", "global top-k as TakeOrderedAndProject (no full sort)"),
    ("dedup_minhash_lsh", "LSH band join: blocked candidate generation, no cartesian"),
    ("win_topk_per_group", "windowed top-k: single hash exchange + sort"),
    ("agg_percentile", "exact percentile: sort-based aggregate"),
    ("join_bloom_prefilter", "Bloom bit-array probe ahead of the exact semi-join; the ExistingRDD is the probe-then-join barrier (the probe stage runs inside it — see operators/bloomjoin.py)"),
    ("sim_ivf_join", "batch IVF ANN: map-side argmax cell assignment (no corpus window), broadcast probe-cell join, two-stage salted top-k"),
    ("funnel_stages", "one-shuffle conversion funnel: per-user array state, no event-table window"),
    ("mm_shard_manifest", "byte cumsum from operators/ordered.ordered_scan (the ExistingRDD is its pinned range-shuffled Arrow scan; 8-row offsets broadcast); per-shard window is PARTITIONED"),
    ("join_point_in_time", "SCD2 point-in-time lookup: keyed equi-join + validity post-filter"),
    ("join_dynamic_partition_pruning", "runtime dim-driven fact-partition skip: dynamicpruning subquery on the scan's PartitionFilters"),
    ("dedup_semdedup", "learned-cluster-blocked semantic dedup: broadcast centroid argmin, flat codegen cosine on the in-cell pair scan"),
    ("ml_auc_exact", "exact rank-sum AUC: the global rank from operators/ordered.ordered_scan (pinned range-shuffled Arrow scan + 8-row offsets broadcast; no single-partition window)"),
    ("win_match_recognize", "row-pattern detection as gaps-and-islands: two entity-partitioned window passes + run-table self-join"),
    ("sample_dsir", "DSIR importance resample: ONE pinned doc-bucket scan, broadcast lambda table, Gumbel top-k via TakeOrderedAndProject"),
    ("eval_bradley_terry", "arena-strength MM fit: one match-log shuffle, then ALL 5 rounds as array expressions over one collected row (zero per-round exchanges)"),
    ("text_span_excise", "decontamination repair: positional gram explode, broadcast eval-gram join, pure-array token rebuild"),
    ("mm_phash_dedup", "image near-dup: map-side dHash signature projection, 4-chunk pigeonhole band join (recall 1.0 by construction)"),
    ("dedup_span_exact", "exact duplicated-span excision: pinned gram postings, combiner-reduced occurrence count, hash-keyed survivor join, positional rebuild"),
    ("text_decontaminate_bloom", "bloom-gated decontamination: 1-row bit-array crossJoin prunes corpus grams ahead of the exact eval-gram join"),
    ("dedup_embedding_incremental", "batch-vs-corpus embedding admission: 1-row plane-array bucket fold, pinned corpus index, bucket equi-join"),
    ("ml_logreg_gd", "in-engine classifier training: 6 unrolled GD rounds over one pinned feature projection, exact INT64 gradient sums (bitwise partition-order-independent weights), linear plan growth via min()-carried weights"),
    ("mm_pair_dedup", "cross-modal (image, caption) pair dedup: dHash pigeonhole band join proposes candidates; caption MinHash signatures verify on the semi-join-reduced survivor set — one blocking join, no cross join"),
    ("sketch_kmv_ndv", "bitwise-gated NDV sketch: two map-side-combined groupBys into K=64 register minima, no sort, no value buffering; estimate is exact integer sums + one IEEE division"),
    ("sketch_countmin_heavy", "count-min grid: one groupBy over the d-exploded stream into 12,288 cells, broadcast probe join, min over d rows"),
    ("dedup_components", "near-dup clustering: alternating large-star/small-star contraction, O(log n) rounds regardless of graph diameter (final star-extraction plan; per-round plans pinned)"),
    ("text_unigram_lm_em", "unigram-LM tokenizer training: hard-EM rounds as runtime aggregate folds over the pinned Heaps-bounded word table (no unrolled projection chain — CollapseProject would explode it), broadcast vocab map, final rank via WindowGroupLimit"),
    ("profile_drift_ks", "sketch-native K-S drift: level-8 grid slice per month, side split by one broadcast max-month fold, 256-boundary CDFs via side-partitioned windows, argmax boundary"),
    ("sketch_bloom_rollup", "mergeable membership: month-keyed 32-bit word masks, word-level bit_or re-agg, broadcast probe joins, self-certified merged==direct"),
    ("sim_ivfpq_apply", "IVF-PQ serving path: codebooks + PQ-coded corpus index read from the published artifacts (scans, not training/coding lineage), broadcast per-query ADC maps, top-c exact re-rank — raw vectors touched only for the survivor fetch"),
    ("text_fim_transform", "fill-in-the-middle reordering: ONE scan, one projection — hash-derived pivots, CASE-branched passthrough (no union re-scan), zero exchanges"),
    ("dedup_canonical_text", "canonicalized exact dedup: normalization expression + single groupBy on the canonical hash; fixture variants ride the same scan via per-row explode"),
    ("pipeline_training_mixture", "training-order composite: mixture factors as a broadcast, guarded instance explode, ONE range shuffle with the running token sum from operators/ordered.ordered_scan, per-sequence rollup"),
    ("sample_contrastive_triplets", "hard triplet mining: 64-row anchor batch broadcast against the partitioned corpus, per-(anchor, side) argmax windows, pos/neg pivot join"),
    ("ml_adaboost_stumps", "3 boosting rounds: weighted histogram shuffles (map-side combine to <= 76 rows), TakeOrdered 1-row winners folded back as broadcasts, int64-quantized weights"),
    ("sample_influence_proxy", "gradient-alignment influence: pinned feature projection, int64 GD chain + 1-row holdout-gradient fold, map-side scoring, two TakeOrdered slices"),
    ("text_kneser_ney_logprob", "KN LM scoring: one pair-explode scan, vocab-bounded count joins, 1-row type-count fold, int64 micro-nat per-doc sums"),
    ("sample_pareto_skyline", "2-D skyline: scan + quantized-level groupBy, strict running max over the bounded level table, broadcast front join back"),
    ("mm_audio_spectrogram", "integer STFT: 1:1 Arrow map (framed int64 Hann+DFT matmul in the closure), (doc, band) energy fold, doc-partitioned 9-row peak window"),
    ("mm_gif_frame_sample", "animated-GIF frame sampling: one Arrow map per payload (multi-frame LZW decode + temporal subsample inside the decoder loop), zero shuffles"),
    ("cogrouped_pandas_asof", "cogrouped pandas as-of join: broadcast semi-prune of the orders side, ONE cogroup exchange, vectorized merge_asof per user (datetime64 keys — the r13 fix)"),
]

SF = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark()
    qs = all_queries()
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        f"Generated by `scripts/gen_plans.py` at {SF} (plans are",
        "size-independent apart from AQE runtime re-optimization).",
        "",
    ]
    for key, why in SHOWCASE:
        df = qs[key].fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out += [f"## `{key}`", "", why + ".", "", "```", plan.strip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
