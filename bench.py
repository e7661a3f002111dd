"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Each key's full physical plan runs once untimed, then 3 timed reps,
through the noop sink (no collect to the driver, no file writes), so a
rep times scan + shuffle + compute. A key's number is the raw minimum
of its 3 reps, in seconds: the least-interfered run of the same
deterministic plan. Numbers are comparable only to runs on the same
box; ``scripts/exit_gate.sh`` compares them per key against
``scripts/bench_baseline.json``.

Prints ONE JSON line (see ``final_line``):
  {"metric": "headline_total", "value": <sec>, "unit": "sec", "sf": <float>,
   "subtotal_r2_comparable": <sec>, "per_query_file": <path>,
   "queries": {<costliest key>: <sec>, ...}, "queries_omitted": <n>,
   "queries_omitted_sum": <sec>}

and writes ``scripts/last_bench_queries.json`` (relative to the working
directory): every key's seconds under ``queries`` and the Spark job
count of its winning rep under ``jobs``.

``SPARK_GRAFT_BENCH_ONLY=key1,key2`` times a subset of the headline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

# The round-1/2 comparable set, NAMED rather than sliced by position, so
# subtotal_r2_comparable always measures the same 15 keys (ADVICE r3).
COMPARABLE = (
    "join_eq3", "join_semi_inlist", "join_agg_agg", "agg_percentile",
    "agg_collect_struct", "filt_regex_and_or", "dedup_exact",
    "dedup_minhash_lsh", "sim_cosine_topk", "sim_ivf_topk",
    "text_quality_score", "stream_window_agg", "win_topk_per_group",
    "join_asof", "sessionize",
)

# The 91 headline keys: the comparable set, then the later additions in
# the order they joined. sim_ivfpq_apply times the IVF-PQ serving path;
# its trainer is a once-per-corpus build step (SCALING.md).
HEADLINE = list(COMPARABLE) + [
    "dedup_ngram_jaccard", "sink_scd2", "sample_temperature", "sim_ivf_join",
    "dedup_incremental", "shuffle_deterministic", "src_csv_multiline_split",
    "text_bpe_train", "graph_pagerank", "funnel_stages", "mm_shard_manifest",
    "geo_grid_join", "xform_quantile_bin", "cohort_retention",
    "join_fuzzy_blocked", "diff_snapshots", "text_line_dedup",
    "ml_linreg_normal", "stream_mv_merge", "text_novelty_score",
    "sim_matryoshka_eval", "dq_temporal_consistency", "path_session_mining",
    "dedup_semdedup", "ml_naive_bayes", "text_gopher_rules",
    "pack_length_pairs", "win_match_recognize", "text_rouge_overlap",
    "sample_dsir", "text_perplexity_bucket", "sample_doremi_weights",
    "text_decontaminate", "sample_rho_loss", "split_leakage_audit",
    "mm_phash_dedup", "eval_bradley_terry", "text_span_excise",
    "pack_bin_ffd", "dedup_span_exact", "dedup_embedding_incremental",
    "text_decontaminate_bloom", "pipeline_curation_funnel",
    "sample_prototype_pruning", "stream_dedup_embedding",
    "dedup_span_winnowed", "ml_logreg_gd", "mm_pair_dedup",
    "stream_dedup_span", "ml_quality_distill", "dedup_components",
    "sketch_countmin_heavy", "sketch_quantile_dyadic", "sim_ivfpq_apply",
    "sketch_bloom_rollup", "profile_drift_ks", "text_unigram_lm_em",
    "text_fim_transform", "dedup_canonical_text", "mm_decode_png",
    "pipeline_dedup_policy", "mm_dhash_real", "mm_image_quality_filter",
    "mm_audio_vad_segments", "pipeline_training_mixture",
    "sample_contrastive_triplets", "ml_adaboost_stumps",
    "text_kneser_ney_logprob", "sample_pareto_skyline", "eval_bleu_corpus",
    "mm_audio_spectrogram", "mm_audio_vad_band", "mm_decode_gif",
    "mm_gif_frame_sample", "stream_stateful_admission",
    "stream_session_finalize",
]

REPS = 3
SIDECAR = "scripts/last_bench_queries.json"
# Result collectors keep only a 2000-char stdout tail, newline included,
# and parse the LAST JSON line.
TAIL_CHARS = 2000


def selected_keys() -> list[str]:
    """HEADLINE, or the subset named in SPARK_GRAFT_BENCH_ONLY."""
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if not only:
        return list(HEADLINE)
    wanted = {k for k in only.split(",") if k}
    unknown = wanted - set(HEADLINE)
    subset = [k for k in HEADLINE if k in wanted]
    # fail loudly on typos / empty selections: a silently empty run
    # prints a zero headline_total that reads like a measurement
    # (ADVICE r7)
    if unknown or not subset:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ONLY selects no headline keys: "
            f"unknown={sorted(unknown)}; headline keys are {HEADLINE}"
        )
    return subset


def final_line(
    timings: dict[str, float], sf: float, per_query_file: str | None
) -> str:
    """The last stdout line, newline included, at most TAIL_CHARS long.

    ``queries`` holds the costliest keys, in descending cost at 2dp, so
    a cut drops only the cheapest ones; ``queries_omitted`` and
    ``queries_omitted_sum`` reconcile the cut against ``value``. Every
    candidate line is serialized and measured, so no token width is
    assumed: the longest cost-ordered prefix that fits is kept."""
    by_cost = sorted(timings, key=lambda k: timings[k], reverse=True)
    head = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "subtotal_r2_comparable": round(
            sum(timings[k] for k in COMPARABLE if k in timings), 3
        ),
        "per_query_file": per_query_file,
    }
    for n in range(len(by_cost), -1, -1):
        line = json.dumps(
            {
                **head,
                "queries": {k: round(timings[k], 2) for k in by_cost[:n]},
                "queries_omitted": len(by_cost) - n,
                "queries_omitted_sum": round(
                    sum(timings[k] for k in by_cost[n:]), 2
                ),
            },
            separators=(",", ":"),
        ) + "\n"
        if len(line) <= TAIL_CHARS:
            return line
    raise ValueError("the final line's head alone exceeds the tail budget")


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()  # noqa: SLF001


def main() -> None:
    keys = selected_keys()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark()
    qs = all_queries()

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for key in keys:
        fn = qs[key].fn
        # One untimed rep at the timed sf_dir (JMH-style warm-up): JIT and
        # whole-stage-codegen classes compile outside the timed region, and
        # a staged key's landing zone is staged for THIS sf_dir, so no
        # timed rep pays (or counts the jobs of) the staging.
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_pins(spark)
        best = float("inf")
        for _ in range(REPS):
            j0 = _next_job_id(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if dt < best:
                best = dt
                # every job the rep started, eager pins and streaming
                # micro-batches included
                jobs[key] = _next_job_id(spark) - j0
            release_pins(spark)  # free checkpoint blocks between reps
        timings[key] = round(best, 3)

    sidecar: str | None = SIDECAR
    try:
        with open(sidecar, "w") as f:
            json.dump({"queries": timings, "jobs": jobs}, f)
    except OSError:
        sidecar = None  # the final line stays authoritative
    sys.stdout.write(final_line(timings, sf, sidecar))


if __name__ == "__main__":
    main()
