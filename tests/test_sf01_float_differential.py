"""sf0.1 cross-engine differential for the float-hash-sensitive keys
(VERDICT r10 #5).

The only hash failures the driver ever recorded (round 4:
text_bpe_encode_docs, sink_cdc_apply, src_time_travel) were float-repr
misses — values bitwise-divergent across engines at a scale the local
mirror had not exercised. The determinism rules (plans/registry.py
docstring) claim cross-engine bitwise float equality at ANY scale; this
module pins that claim at sf0.1 — 10x the driver's gate scale, where
aggregation fan-in (and so summation-order exposure) is 10x larger —
for a curated set of float-aggregate keys spanning every family that
emits arithmetic floats: the 3 round-4 failures plus group averages,
exact percentiles/medians, moment/correlation aggregates, iterative GD
and EM folds, PageRank, log-prob scorers, drift statistics and the DP
release composite.

Runs at sf0.1 with the full driver compare (columns + rowcount +
bitwise value multiset), using each key's scale-matched oracle
rendering (oracle_for), so scaled-parameter keys are exact too.
"""

from __future__ import annotations

import pytest

from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
from scripts.oracle_check import check

SF01_DIR = "/root/testdata/sf0.1"

# the 3 round-4 driver hash failures + one representative per
# float-emitting family (see module docstring)
FLOAT_SENSITIVE_KEYS = [
    "text_bpe_encode_docs",   # r04 driver hash miss
    "sink_cdc_apply",         # r04 driver hash miss
    "src_time_travel",        # r04 driver hash miss
    "agg_avg_group",          # group averages (summation-order exposure)
    "agg_percentile",         # exact per-group median
    "agg_weighted_median",    # weighted quantile fold
    "agg_corr_covar",         # second-moment aggregates
    "ml_linreg_normal",       # closed-form OLS from exact moments
    "ml_logreg_gd",           # 6 unrolled gradient-descent rounds
    "ml_naive_bayes",         # log-likelihood folds
    "graph_pagerank",         # 3 power-iteration rounds
    "eval_bradley_terry",     # MM-update rounds
    "text_bigram_logprob",    # per-doc log-prob sums
    "text_bm25",              # idf x tf saturation scoring
    "text_collocation_pmi",   # log-ratio over three count tables
    "sample_doremi_weights",  # excess-loss normalization
    "profile_drift_ks",       # K-S sup over merged quantile grids
    "sketch_quantile_dyadic", # dyadic descent over float ranks
    "stream_mv_merge",        # incremental MV float accumulators
    "pipeline_privacy_release",  # seeded-Laplace noise arithmetic
    # round-12 second wave: every new float-emitting family
    "sample_contrastive_triplets",  # rounded cosine argmax + margins
    "graph_label_prop_communities",  # modularity contributions
    "ml_adaboost_stumps",     # exp()-derived int64 weights, ln alphas
    "sample_influence_proxy",  # Elliott-sigmoid residual x int64 grads
    "text_semantic_chunking",  # rounded Jaccard min over chunk joints
    "text_kneser_ney_logprob",  # micro-nat int64 log-sums
    "sample_pareto_skyline",  # quantized 2-D score levels
    "eval_bleu_corpus",       # exp/ln geometric mean + brevity penalty
]

QUERIES = all_queries()


def test_float_sensitive_list_is_registered():
    missing = [k for k in FLOAT_SENSITIVE_KEYS if k not in QUERIES]
    assert not missing, f"unregistered keys in the sf0.1 battery: {missing}"


@pytest.mark.parametrize("key", FLOAT_SENSITIVE_KEYS)
def test_float_key_matches_oracle_at_sf01(key, spark):
    spec = QUERIES[key]
    try:
        problems = check(spec, spec.fn(spark, SF01_DIR), SF01_DIR)
    finally:
        release_pins(spark)
    assert not problems, "\n".join(problems)
