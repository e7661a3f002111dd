"""Physical-plan lint over EVERY registered query (the 100 TB posture,
enforced repo-wide rather than for 8 showcase plans).

For each registry key, builds the DataFrame and scans its formatted plan
for scale anti-patterns:

- CartesianProduct / BroadcastNestedLoopJoin — quadratic joins. Allowed
  only where one side is provably tiny and fixed (allowlist below).
- BatchEvalPython — row-at-a-time Python UDF; the engine's contract is
  Arrow-only Python (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas
  are fine).
- WindowExec with an EMPTY partition spec — Spark moves the entire input
  to ONE task ("No Partition Defined" warning); at 100 TB that is the
  whole table through a single thread. Allowed only where the window's
  input is a provably tiny fixed-cardinality frame (allowlist below:
  ordered_scan's 8-row per-range-partition offsets, per-domain count
  frames of ~n_domains rows). Detected structurally (partitionSpec() on
  every WindowExec/WindowGroupLimitExec node), not textually.
- In-memory relation fallbacks are fine (localCheckpoint shows as
  LogicalRDD/Scan ExistingRDD).

The SAME rules run over every PRE-materialization stage plan recorded
by pin() (checkpoint.record_stage_plans): pin truncates lineage, so the
final plan is structurally blind to stages that run inside a pin job —
round 5's SemDedup assignment shuffle hid exactly there (VERDICT r5).
Stage findings are tagged PIN[<label>]:<flag> and allowlisted per
(key, pin label) — never per key (VERDICT r6 #4). Stage WindowExec
nodes are counted partitioned-or-not (stage_windows): the r5/r6
shuffle-assignment class was a PARTITIONED window, invisible to the
unpartitioned counter. The map-side assignment keys are also held to a
textual rule: no per-vector window anywhere, and no corpus shuffle on
vec_id inside a pinned stage.

``audit`` turns one built frame plus its drained stage plans into the
key's plan shape (the LEDGER_FIELDS counts) and its flags;
``oracle_digest`` gives the ledger's last field, the md5 of the key's
rendered oracle with whitespace runs collapsed. The registry sweep
(tests/test_driver_oracle.py) audits every key from the same build it
compares against the oracle, asserts no flags, and asserts the shape
and the oracle digest equal the key's entry in scripts/plan_ledger.json
— any change to a plan's shape or to an oracle's text fails there until
the ledger is regenerated.

Both the script and the sweep audit against an empty staging root: a
key that serves a published artifact plans differently once the
artifact exists (sim_ivfpq_apply trains and publishes — one more
pinned stage — only on a cold start), so a ledger taken against a
warm root would depend on what earlier runs left behind.

Usage: python scripts/plan_audit.py
  rebuilds every key at DEFAULT_SF_DIR, prints flags, and rewrites
  scripts/plan_ledger.json; commit the ledger with the plan change.
"""

from __future__ import annotations

import hashlib
import json
import re
import os
import sys
from collections import Counter
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airbnb_listings_reviews_data_engineering_spark import checkpoint as _ckpt  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.planlint import (  # noqa: E402
    formatted_plan,
    unpartitioned_windows,
)

# the ledger is the plan shape at the sweep's scale (tests/conftest.py)
DEFAULT_SF_DIR = "/root/testdata/sf0.001"
LEDGER_PATH = Path(__file__).with_name("plan_ledger.json")
LEDGER_FIELDS = (
    "exchanges",
    "arrow_python",
    "nested_loop",
    "unpart_win",
    "max_rescan",
    "max_pin_rescan",
    "pinned_stages",
    "stage_exchanges",
    "stage_unpart_win",
    "stage_windows",
    "oracle_md5",
)

# keys allowed to contain a nested-loop/cartesian join because one side is
# provably tiny AND fixed-cardinality (does not grow with SF)
NESTED_LOOP_ALLOWED = {
    "join_theta_only",   # region x nation theta join: both dims fixed
    "join_cross",        # explicit tiny cross join demo
    "join_range",        # range join over fixed bucket dims
    "fn_scalar_subquery",  # scalar subquery joins a 1-row aggregate
    "sim_cosine_topk",   # crossJoin against ONE broadcast query row
    "sim_cosine_topk_pandas",
    "sim_ivf_topk",      # centroid assignment: fixed centroid count
    "sim_lsh_bucketed",  # hyperplane planes: fixed n_planes rows
    "dedup_embedding_lsh",  # same fixed-plane crossJoin builds the blocking key
    "dedup_embedding_incremental",  # same 1-row plane-array fold, batch side
    "emb_label_centroid",
    "ml_kmeans",         # k centroids
    "sample_cluster_balanced",  # same 1-row broadcast centroid-array argmin
    "sample_prototype_pruning",  # same 1-row centroid-array argmin, with dist
    "text_decontaminate_semantic",  # 1-row plane-array bucket fold (probe side)
    "stream_stateful_stats",  # single-row watermark literal join
    "sim_knn_join",      # broadcast query set capped at 6 rows (vec_id < 2005)
    "join_bloom_prefilter",  # crossJoin against the ONE-row bloom bit map
    "text_bm25",         # crossJoin against the 1-row corpus stats aggregate
    "sample_curriculum",  # crossJoin against the 1-row min/max aggregate
    "text_unigram_logprob",  # 1-row corpus total folded into the tiny freq side
    "sim_ivf_join",      # crossJoin against the ONE-row broadcast centroid array
    "sim_ivf_join_learned",  # same probe + Lloyd training (k broadcast centroids)
    "sim_lsh_multiprobe",  # crossJoin against fixed n_planes rows (bucket bits)
    "text_bigram_logprob",  # 1-row vocab size folded into the tiny unigram side
    "text_unigram_lm_em",  # 1-row round-2 total folded into the pinned
    #                        piece-count table (round 14: the vocab
    #                        projection moved out of its own pin into
    #                        the final plan — same 1-row fold as
    #                        text_unigram_logprob)
    "emb_power_iteration",  # crossJoin against the ONE-row broadcast direction
    "emb_pca_project",   # same 1-row learned direction, apply side
    "graph_pagerank",    # crossJoin against the 1-row node-count aggregate
    "text_bpe_vocab",    # crossJoin against pinned 1-row argmax winners (lazy chain)
    "text_bpe_encode_docs",  # same lazy-chain vocab, broadcast-joined to the corpus
    "sample_negative_pairs",  # 1-row corpus count folded into the anchor side
    "dq_referential",    # crossJoins of paired ONE-row count aggregates
    "agg_heavy_hitters",  # crossJoin against the 1-row corpus total
    "profile_freshness",  # crossJoin against the 1-row global-max timestamp
    "profile_drift_tv",  # (source x vocab) grid: both sides tiny aggregates
    "sim_mips_topk",     # crossJoins against the 1-row max-norm and query row
    "aqp_sample_estimate",  # crossJoin of the paired 1-row exact/estimate aggs
    "graph_triangle_count",  # crossJoin of the paired 1-row triangle/edge counts
    "sim_matryoshka_eval",  # crossJoins against the 4-row dims set + 1-row query
    "profile_mutual_info",  # crossJoin against the 1-row contingency total
    "profile_benford",   # crossJoin against the 1-row digit total
    "sim_hybrid_rrf",    # 1-row corpus stats + 1-row query vector crossJoins
    "dedup_semdedup",    # crossJoin against the k-row learned centroid table
    "sample_kcenter_coreset",  # crossJoins against 1-row chosen-center picks
    "ml_naive_bayes",    # crossJoins against the 5-row class and 1-row vocab stats
    "ml_logreg_gd",      # K crossJoins against the lazy-chain 1-row weight frame
    "ml_logreg_holdout",  # same lazy-chain weight frame + 1-row train count
    "ml_quality_distill",  # same lazy-chain weight frame + 1-row train count
    "sketch_theta_bottomk",  # 1-row theta/exact-count folds over k-row samples
    "profile_drift_psi",  # crossJoin against the 1-row snapshot totals
    "sample_mixture_epochs",  # crossJoin against the 1-row corpus totals
    "dedup_semdedup_multiprobe",  # k-row centroid + 1-row stats crossJoins
    "profile_dataset_card",  # #langs-row distribution x 1-row total fold
    "text_tokenizer_fertility",  # lazy-chain BPE vocab (text_bpe_vocab's shape)
    "sample_neyman_allocation",  # crossJoin against the 1-row weight total
    "sim_pq_quantize",   # 4x crossJoin against k-row subspace codebooks
    "text_collocation_pmi",  # crossJoin against the 1-row corpus totals
    "sink_gdpr_erasure",  # crossJoin of the paired 1-row before/after counts
    "ml_confusion_matrix",  # composes ml_naive_bayes (class/vocab crossJoins)
    "sim_mmr_rerank",    # crossJoin against the broadcast 5-query set
    "ml_ndcg_at_k",      # crossJoin against the broadcast query set + theta truth join
    "agg_association_rules",  # crossJoin against the 1-row basket count
    "ts_survival_km",    # 1-row horizon + 1-row user-count folds
    "path_markov_attribution",  # variants x tiny matrix folds + 1-row base
    "graph_label_prop_communities",  # crossJoin against the 1-row edge count
    "ml_adaboost_stumps",  # crossJoins against lazy-chain 1-row stump winners
    "sample_contrastive_triplets",  # corpus x the broadcast 64-row anchor batch
    "pipeline_training_mixture",  # crossJoin against the 1-row corpus totals
    "text_kneser_ney_logprob",  # crossJoin against the 1-row bigram-type count
    "dedup_lsh_s_curve",  # 6-row config grid x 19-row similarity grid (no corpus)
    "ts_autocorrelation",  # 14-row lag grid x day table + 1-row moments
    "agg_rfm_segmentation",  # 1-row horizon + 3-value median cut folds
    "ml_classifier_agreement",  # composes ml_naive_bayes (class/vocab folds)
    "sample_dsir",       # 1-row gram totals folded into the B=64-row lambda table
    "text_perplexity_bucket",  # text_unigram_logprob's 1-row corpus-total fold
    "sample_doremi_weights",  # 1-row corpus-total + 1-row weight-total folds
    "sample_rho_loss",   # 1-row (nh, np, V) totals folded into the vocab-row lambda table
    "sim_ivfpq_topk",   # 1-row centroid/codebook arrays + tiny probe/query folds
    "sim_ivfpq_apply",  # same search folds, codebooks read from the artifact
    "sketch_countmin_windowed",  # 1-row max-day fold onto daily grids/probes
    "sketch_join_cardinality",  # crossJoin of paired 1-row est/exact aggs
    "sketch_range_count",  # 1-row grid map + fixed probe/range literal folds
    "sketch_quantile_by_group",  # groups-row grid maps + 12-row result folds
    "sketch_quantile_windowed",  # 1-row max-day + grid-map + 3-row result folds
    "sketch_quantile_dyadic",  # 1-row grid map + 4-row quantile result folds
    "sketch_quantile_rollup",  # same 1-row merged-grid map + 4-row result folds
    "stream_sketch_quantile",  # same descent over the drained stream grid
    "sketch_bloom_rollup",   # paired 1-row filter-stat aggregate folds
    "stream_sketch_bloom",   # same post-drain 1-row stat folds
    "profile_drift_ks",      # 1-row exact-KS fold + 2-row side driver
    "agg_dp_quantile",       # 3 targets x 256-row CDF theta join + 1-row folds
    "text_unigram_encode_docs",  # word table x the 1-row vocab-map fold
    "sketch_theta_rollup",   # paired 1-row sample-stat aggregate folds
    "pipeline_dedup_policy",  # funnel rows: 3 crossJoins of paired 1-row
    #                           count aggregates (raw/survivor/cluster)
}

# keys allowed to contain an unpartitioned WindowExec because the window's
# INPUT is a fixed-cardinality tiny frame (never the data table):
UNPARTITIONED_WINDOW_ALLOWED = {
    "sample_temperature",    # share-of-total over #domains rows (~10)
    "shuffle_deterministic",  # ordered_scan offsets over its 8 range partitions
    "pack_token_shards",     # ordered_scan offsets over its 8 range partitions
    "mm_shard_manifest",     # ordered_scan offsets over its 8 range partitions
    "xform_quantile_bin",    # ordered_scan offsets over its 8 range partitions
    "text_vocab_growth",     # vocab cumsum over #buckets rows (~corpus/100)
    "dq_anomaly_volume",     # trailing window over the #days daily rollup
    "agg_gini_concentration",  # ordered_scan offsets over its 8 range partitions
    "sim_hybrid_rrf",        # fusion ranks over the joined candidate set
    "mm_reader_assignment",  # reuses mm_shard_manifest's ordered_scan offsets
    "ml_auc_exact",          # ordered_scan offsets over its 8 range partitions
    "ts_survival_km",        # log-space cumprod over the #churn-days table
    "win_rolling_corr",      # rolling moments over the day-grain table
    "agg_pareto_coverage",   # ordered_scan offsets over its 8 range partitions
    "profile_drift_ks",      # argmax over the 256-boundary gap table
    "agg_dp_quantile",       # noisy + exact CDF prefixes over 256 buckets
    "text_unigram_lm_em",    # final rank over the pinned vocab table
    "pipeline_training_mixture",  # ordered_scan offsets over its 8 range partitions
    "sample_pareto_skyline",  # strict cummax over the quantized level table
    #                           (<= ~1000 rows: bounded by the 3-dp value
    #                           domain, not the corpus)
}


# Pinned STAGE plans are allowlisted per (key, pin label), NOT per key
# (VERDICT r6 #4): a key-level pass would let a future corpus-sized
# stage under a different label ride an allowlist earned by a 1-row
# fold. Every entry names the fixed-tiny side that justifies it.
NESTED_LOOP_STAGE_ALLOWED = {
    # Lloyd training rounds: corpus crossJoins the ONE-row broadcast
    # centroid array (operators/clustering.assign_nearest — map-side
    # argmin, no corpus shuffle; the means step is the stage's only
    # exchange)
    # AdaBoost weight stages: corpus x the pinned 1-ROW stump winner
    # (the ml_logreg_gd lazy-chain fold, one per boosting round)
    ("ml_adaboost_stumps", "ada_w2"),
    ("ml_adaboost_stumps", "ada_w3"),
    # range-shuffle stage folds the 1-row corpus-totals aggregate into
    # the mixture factor broadcast join upstream
    ("pipeline_training_mixture", "tmix_ranged"),
    # candidate scoring: corpus x the broadcast 64-row anchor batch
    ("sample_contrastive_triplets", "triplet_best"),
    # temporal-split labeling: corpus x the 1-row max-date fold
    ("split_temporal_embargo", "temb_lab"),
    # influence scoring: train stream x the 1-row trained-weight frame
    # x the 1-row holdout-gradient aggregate (both lazy-chain folds)
    ("sample_influence_proxy", "inf_scores"),
    ("dedup_semdedup", "kmeans_cents"),
    ("dedup_semdedup_multiprobe", "kmeans_cents"),
    ("ml_kmeans", "kmeans_cents"),
    ("sim_ivf_join_learned", "kmeans_cents"),
    ("sim_pq_quantize", "kmeans_cents"),  # per-subspace codebooks
    # grouped per-subspace Lloyd training runs inside the artifact
    # publish job since r11 (no per-round cb pins; the bounded learning
    # set made them a net cost) — only the subs explode stays pinned,
    # and it contains no nested loop, so no stage entry is needed.
    ("sample_cluster_balanced", "kmeans_cents"),
    ("sample_prototype_pruning", "kmeans_cents"),
    # 1-row plane-array fold building the pinned eval-side index
    ("text_decontaminate_semantic", "semdecon_eval_index"),
    # same fold building the standing corpus index the stream probes
    ("stream_dedup_embedding", "sde_index"),
    # 1-row horizon date folded onto the per-customer rollup
    ("agg_rfm_segmentation", "rfm_rollup"),
    # map-side cell assignment: same ONE-row centroid-array crossJoin
    ("dedup_semdedup", "semdedup_assigned"),
    ("dedup_semdedup_multiprobe", "semdedup_mp_probed"),
    # power iteration: corpus x the ONE-row broadcast direction vector
    ("emb_pca_project", "power_iter_v"),
    ("emb_power_iteration", "power_iter_v"),
    # the ONE-row bloom bit-map broadcast against the probe side
    ("join_bloom_prefilter", "bloom_pruned"),
    # same 1-row bloom bit-map, pruning corpus grams ahead of the
    # exact eval-gram join (decontamination at unbroadcastable suites)
    ("text_decontaminate_bloom", "decon_bloom_pruned"),
    # ranked frame x the 1-row corpus count (complement pairing)
    ("pack_length_pairs", "pack_pairs_pos"),
    # variants x the tiny transition matrix + 1-row base fold
    ("path_markov_attribution", "markov_mat"),
    # greedy k-center rounds: corpus x the 1-row chosen-center pick
    ("sample_kcenter_coreset", "kcenter_state_2"),
    ("sample_kcenter_coreset", "kcenter_state_3"),
    ("sample_kcenter_coreset", "kcenter_state_4"),
    ("sample_kcenter_coreset", "kcenter_state_5"),
    ("sample_kcenter_coreset", "kcenter_state_6"),
    # fixed n_planes hyperplane rows build the bucket bits
    ("sim_lsh_bucketed", "lsh_buckets"),
    ("dedup_embedding_lsh", "lsh_bucketed"),
    # same 1-row plane-array fold building the pinned corpus-side index
    ("dedup_embedding_incremental", "emb_inc_index"),
    # 1-row corpus-total fold inside the pinned per-doc score stage
    # (text_unigram_logprob's allowlisted shape, now behind a pin)
    ("text_perplexity_bucket", "ppl_scores"),
    # candidate set x the broadcast 5-query set
    ("sim_mmr_rerank", "mmr_cand"),
    # BPE merge rounds: symbol chain x the pinned 1-ROW argmax winner
    # (VERDICT r6 #4 — the same fixed-tiny shape as the bpe final plans)
    ("text_bpe_train", "bpe_best"),
    ("text_bpe_vocab", "bpe_best"),
    ("text_bpe_encode_docs", "bpe_best"),
    ("text_tokenizer_fertility", "bpe_best"),
    # hard-EM rounds: word table x the 1-row vocab map (the same fold
    # as the old ulm_vocab{1,2} entries — round 14 pins the piece
    # COUNTS instead of the vocab, so the stage labels moved)
    ("text_unigram_lm_em", "ulm_cnt1"),
    ("text_unigram_lm_em", "ulm_cnt2"),
    ("text_unigram_encode_docs", "ulm_cnt1"),
    ("text_unigram_encode_docs", "ulm_cnt2"),
}

# stage plans allowed an unpartitioned WindowExec: (key, pin label),
# window input provably tiny and fixed
UNPARTITIONED_WINDOW_STAGE_ALLOWED = {
    # ordered_scan's 8-row offsets window inside the pinned ranked
    # frame (invisible pre-r6; was mis-allowlisted at key level, which
    # broke the final-plan tiny-window pin — VERDICT r6 #1)
    ("pack_length_pairs", "pack_pairs_pos"),
    # seed-vocab top-192 rank over the Heaps-bounded substring
    # frequency table (the text_vocab_growth class: a model table,
    # never the corpus; round 14 pins the seed itself — label moved
    # from ulm_vocab1)
    ("text_unigram_lm_em", "ulm_seed"),
    ("text_unigram_encode_docs", "ulm_seed"),
}


# The shuffle-assignment regression rule (VERDICT r6 #2/#3): every
# assignment-bearing key must stay MAP-SIDE. A reintroduced crossJoin +
# row_number()-over-partitionBy(vec_id) formulation shows as a
# per-vector window and forces an Exchange hashpartitioning(vec_id) of
# the whole corpus. A vec_id GROUPBY aggregation is legitimate (e.g.
# multiprobe's per-vector count) — only the window is banned, and
# pinned stages get the stricter rule of no vec_id shuffle at all.
MAP_SIDE_ASSIGNMENT = {
    "dedup_semdedup",
    "dedup_semdedup_multiprobe",
    "ml_kmeans",
    "sim_ivf_join_learned",
    "sim_pq_quantize",
    "sim_ivf_topk",
    "text_bpe_train",
    "text_bpe_vocab",
    "text_bpe_encode_docs",
}
PER_VECTOR_WINDOW = "windowspecdefinition(vec_id"
CORPUS_ID_SHUFFLE = "hashpartitioning(vec_id"


def _lint_plan_text(key: str, plan: str, unpart_win: int, stage: str | None) -> list[str]:
    """The shared rule battery; ``stage`` labels findings from a
    recorded pre-pin stage plan. Final plans are allowlisted per key;
    stage plans per (key, pin label) — the 100 TB posture applies to
    the hidden half of a pipeline exactly as to the visible half, and
    a stage allowlist earned by one 1-row fold must not cover a future
    corpus-sized stage under another label."""
    tag = f"PIN[{stage}]:" if stage else ""
    flags = []
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        allowed = (
            (key, stage) in NESTED_LOOP_STAGE_ALLOWED
            if stage
            else key in NESTED_LOOP_ALLOWED
        )
        if not allowed:
            flags.append(f"{tag}NESTED_LOOP")
    if "BatchEvalPython" in plan:
        flags.append(f"{tag}ROW_PYTHON")
    if unpart_win:
        allowed = (
            (key, stage) in UNPARTITIONED_WINDOW_STAGE_ALLOWED
            if stage
            else key in UNPARTITIONED_WINDOW_ALLOWED
        )
        if not allowed:
            flags.append(f"{tag}GLOBAL_WINDOW")
    if key in MAP_SIDE_ASSIGNMENT:
        if PER_VECTOR_WINDOW in plan:
            flags.append(f"{tag}PER_VECTOR_WINDOW")
        if stage and CORPUS_ID_SHUFFLE in plan:
            flags.append(f"{tag}CORPUS_ID_SHUFFLE")
    return flags


def _max_same_table_scans(plan: str) -> int:
    """Highest number of scan nodes pointing at ONE parquet path.

    Measures parquet-SOURCE passes only: a ``Scan ExistingRDD`` over a
    pinned intermediate is NOT a parquet path and never counts here —
    pin rescans are memory-backed and deliberately cheap. Their
    multiplicity is tracked separately by ``_max_pin_rescans`` so a
    regression that re-derives one pinned frame many times stays
    visible without conflating it with corpus re-reads (ADVICE r7)."""
    paths = re.findall(r"Location: \S+ \[([^\]]+)\]", plan)
    return max(Counter(paths).values()) if paths else 0


def _max_pin_rescans(plan: str) -> int:
    """Highest number of ``Scan ExistingRDD`` nodes reading ONE pinned
    RDD (identified by its ``MapPartitionsRDD[<id>] at (local)checkpoint``
    argument — the id is per-materialization, so two scans sharing it
    read the same pin). A count of 2-3 is the normal self-join /
    filter+join fan-out a pin exists to serve; a large count means some
    loop re-references one pin per iteration inside a single plan."""
    ids = re.findall(
        r"(MapPartitionsRDD\[\d+\] at \w*[cC]heckpoint)", plan
    )
    return max(Counter(ids).values()) if ids else 0


def audit(key: str, df, stages) -> tuple[dict, list[str]]:
    """(plan shape, flags) of ``key``'s built frame ``df`` and the stage
    plans its pins recorded while it was built
    (``checkpoint.drain_stage_plans``). The shape holds the
    LEDGER_FIELDS but ``oracle_md5`` (``oracle_digest``)."""
    plan = formatted_plan(df)
    unpart_win = unpartitioned_windows(df)
    flags = _lint_plan_text(key, plan, unpart_win, stage=None)
    stage_exchanges = 0
    stage_unpart = 0
    stage_windows = 0
    for label, splan, sup in stages:
        stage_exchanges += splan.count("Exchange ")
        stage_unpart += sup
        # ANY WindowExec in a pinned stage (partitioned included): the
        # r5/r6 shuffle-assignment class was a PARTITIONED window the
        # unpart counter is blind to
        stage_windows += len(re.findall(r"\(\d+\) Window", splan))
        flags += _lint_plan_text(key, splan, sup, stage=label)
    plans = [plan] + [splan for _, splan, _ in stages]
    shape = {
        "exchanges": plan.count("Exchange "),
        "arrow_python": "ArrowEvalPython" in plan
        or "FlatMapGroupsInPandas" in plan
        or "MapInPandas" in plan,
        "nested_loop": "CartesianProduct" in plan
        or "BroadcastNestedLoopJoin" in plan,
        "unpart_win": unpart_win,
        # worst same-table rescan count across final + pinned stage
        # plans: a plan that reads the same parquet table k times does
        # k corpus passes at 100 TB — the multi-derivation anti-pattern
        # fixed by pinning the shared intermediate (sample_dsir /
        # sample_doremi_weights, round 7). Legitimate multi-table joins
        # score 1 per table; only REPEATS of one path count.
        "max_rescan": max(_max_same_table_scans(p) for p in plans),
        # worst single-pin rescan count (Scan ExistingRDD multiplicity):
        # cheap by design, but a loop that re-references one pin per
        # round inside a single plan shows up here (ADVICE r7)
        "max_pin_rescan": max(_max_pin_rescans(p) for p in plans),
        "pinned_stages": len(stages),
        "stage_exchanges": stage_exchanges,
        "stage_unpart_win": stage_unpart,
        "stage_windows": stage_windows,
    }
    return shape, flags


def oracle_digest(spec, sf_dir: str) -> str:
    """md5 of ``spec``'s oracle rendered at ``sf_dir``, whitespace runs
    collapsed: a refactor of the builders may re-indent the SQL, but any
    other change to its text shows."""
    text = " ".join(spec.oracle_for(sf_dir).split())
    return hashlib.md5(text.encode()).hexdigest()


def load_ledger() -> dict[str, dict]:
    return json.loads(LEDGER_PATH.read_text())


def main() -> int:
    import tempfile

    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
    from airbnb_listings_reviews_data_engineering_spark.session import get_spark
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        ROOT_CONF,
    )

    # the session tests/conftest.py builds: fan-out decisions read the
    # core count, so the ledger must come from the sweep's configuration
    spark = get_spark(app_name="plan_audit", cpus=4, shuffle_partitions=4)
    # an empty staging root, as in the sweep (module docstring)
    stage = tempfile.TemporaryDirectory(prefix="plan_audit_stage_")
    spark.conf.set(ROOT_CONF, stage.name)
    ledger = {}
    bad = 0
    _ckpt.record_stage_plans(True)
    try:
        for key, spec in sorted(all_queries().items()):
            _ckpt.drain_stage_plans(spark)  # discard leftovers of a failed key
            try:
                df = spec.fn(spark, DEFAULT_SF_DIR)
                ledger[key], flags = audit(key, df, _ckpt.drain_stage_plans(spark))
                ledger[key]["oracle_md5"] = oracle_digest(spec, DEFAULT_SF_DIR)
            except Exception as e:  # noqa: BLE001 — report every key, then fail
                flags = [f"ERROR:{e!r:.200}"]
            finally:
                _ckpt.release_pins(spark)
            if flags:
                bad += 1
                print("FLAG", key, flags)
    finally:
        _ckpt.record_stage_plans(False)
        stage.cleanup()
    # one key per line, so a shape change diffs as that key's line
    LEDGER_PATH.write_text(
        "{\n"
        + ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in ledger.items())
        + "\n}\n"
    )
    print(f"{len(ledger)} keys written to {LEDGER_PATH.name}, {bad} flagged or failed")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
