"""Physical-plan assertions: the plans the engine claims to produce are
the plans Catalyst actually produces (100 TB posture, SURVEY.md §4).

These guard against regressions that correctness tests can't see — a
filter that stops reaching the parquet scan, a broadcast that silently
becomes a cartesian product, a top-k that becomes a global sort."""

from __future__ import annotations

import pytest

from airbnb_listings_reviews_data_engineering_spark.plans import all_queries


def _plan(spark, sf_dir, key: str) -> str:
    df = all_queries()[key].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filt_eq")
    assert "PushedFilters: [" in plan
    # the equality predicate itself is pushed, not just IsNotNull
    assert "EqualTo" in plan


def test_star_join_broadcasts_and_prunes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_eq3")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # column pruning: lineitem scan must not read all 11 columns
    assert "l_comment" not in plan


def test_star_join_broadcast_is_size_driven(spark, sf_dir):
    """join_eq3 carries NO broadcast hint (a hard-coded hint OOMs at
    100x, VERDICT r1): the broadcast above must come from Catalyst's
    size estimate. Prove it by pushing the threshold to -1 and watching
    the same plan fall back to shuffle joins."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "join_eq3")
        assert "BroadcastHashJoin" not in plan, plan[:1500]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_semi_join_is_single_engine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_semi_inlist")
    assert "LeftSemi" in plan or "BroadcastHashJoin" in plan


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_dedup_blocking_has_no_cartesian(spark, sf_dir):
    for key in ("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"):
        plan = _plan(spark, sf_dir, key)
        assert "CartesianProduct" not in plan, key


def test_aqe_enabled_everywhere(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_avg_group")
    assert "AdaptiveSparkPlan" in plan


@pytest.mark.parametrize("key", ["win_row_number", "sessionize"])
def test_window_plans_single_exchange_per_partitioning(spark, sf_dir, key):
    plan = _plan(spark, sf_dir, key)
    # window partitioning reuses one hash exchange on the partition key
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    df = __import__(
        "airbnb_listings_reviews_data_engineering_spark.plans.scale_ext",
        fromlist=["join_bucketed"],
    ).join_bucketed(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" in plan
    # the join reads co-located buckets: the only exchange is the final agg's
    join_part = plan.split("SortMergeJoin")[0]
    assert "Exchange hashpartitioning" not in join_part, join_part[-1500:]
    assert "Bucketed: true" in plan


def test_partition_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "src_partition_pruning")
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]


def test_knn_join_topk_is_two_stage_salted(spark, sf_dir):
    # sim_knn_join must NOT funnel the whole scored corpus onto |queries|
    # partitions: stage 1 ranks within (q_id, salt), stage 2 ranks the
    # <= k*n_salt survivors per q_id. Plan shape: two Window nodes, the
    # first partitioned by (q_id, salt), the second by q_id alone.
    plan = _plan(spark, sf_dir, "sim_knn_join")
    # two ranking stages, each with the rank-filter pushed into a
    # WindowGroupLimit (pre-shuffle partial top-k), the first salted
    assert plan.count("Window (") == 2, plan[:2000]
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]
    assert "salt" in plan, plan[:2000]
    # the broadcast side is the capped query set, never the corpus
    assert "LessThan(vec_id,2005)" in plan.split("BroadcastExchange")[1]


def test_rolling_hash_is_shuffle_free(spark, sf_dir):
    # pure column-expression fingerprints: scan -> project, no exchange
    plan = _plan(spark, sf_dir, "text_rolling_hash")
    assert "Exchange" not in plan, plan[:2000]


def test_hll_rollup_merges_sketches(spark, sf_dir):
    # two HashAggregate levels over sketches: build per (priority, month),
    # union-merge per priority — never a re-scan of raw values
    plan = _plan(spark, sf_dir, "agg_hll_sketch_rollup")
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan, plan[:2000]


def test_percentile_guard_flips_exact_to_approx(spark, sf_dir):
    """The guarded percentile (functions/percentile.py) must pick the
    exact aggregate at gate SF (every group inside the budget) and flip
    to approx_percentile when the budget shrinks below the group size —
    the automatic exact->approx switch VERDICT r2 asked for, visible in
    the physical plan."""
    from airbnb_listings_reviews_data_engineering_spark.functions.percentile import (
        GUARD_CONF,
    )

    plan_default = _plan(spark, sf_dir, "agg_percentile")
    assert "percentile(" in plan_default
    assert "percentile_approx" not in plan_default
    spark.conf.set(GUARD_CONF, "10")  # sf0.001 lineitem groups >> 10 rows
    try:
        plan_small = _plan(spark, sf_dir, "agg_percentile")
        assert "percentile_approx" in plan_small
        # agg_quantiles rides the same guard (cont + disc forms)
        plan_q = _plan(spark, sf_dir, "agg_quantiles")
        assert "percentile_approx" in plan_q
        assert "percentile_disc" not in plan_q
    finally:
        spark.conf.unset(GUARD_CONF)


def test_percentile_probe_is_count_only(spark, sf_dir):
    """The guard's oversized-group probe must be a plain count
    aggregation with an existence short-circuit — no value buffering."""
    from airbnb_listings_reviews_data_engineering_spark.functions.percentile import (
        exact_fits,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans.registry import load

    li = load(spark, sf_dir, "lineitem")
    assert exact_fits(li, ["l_returnflag"], "l_extendedprice") is True
    assert (
        exact_fits(li, ["l_returnflag"], "l_extendedprice", threshold=10)
        is False
    )


def _write_groups(path, values, row_group_size):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"g": values, "v": [float(i) for i in range(len(values))]})
    pq.write_table(t, str(path), row_group_size=row_group_size)


def test_parquet_stats_bound_sorted_tight_unsorted_loose(tmp_path):
    """Footer-stats bound: tight (== max group size) when the file is
    sorted by the group column, degrading to total rows when every row
    group spans the whole domain — the degradation that correctly sends
    the guard to the scan probe."""
    from airbnb_listings_reviews_data_engineering_spark.functions.percentile import (
        parquet_max_group_bound,
    )

    sorted_vals = ["a"] * 10 + ["b"] * 10 + ["c"] * 10
    _write_groups(tmp_path / "sorted.parquet", sorted_vals, 10)
    assert parquet_max_group_bound(str(tmp_path / "sorted.parquet"), "g") == 10

    interleaved = ["a", "b", "c"] * 10
    _write_groups(tmp_path / "unsorted.parquet", interleaved, 10)
    assert (
        parquet_max_group_bound(str(tmp_path / "unsorted.parquet"), "g") == 30
    )

    assert parquet_max_group_bound(str(tmp_path / "sorted.parquet"), "nope") is None
    assert parquet_max_group_bound("hdfs://nn/t.parquet", "g") is None


def test_exact_fits_stats_verdict_needs_no_scan(tmp_path):
    """When footer statistics prove every group fits, exact_fits must
    not touch the DataFrame at all — the guard of a 100 TB table cannot
    cost a scan of it. A scan-less verdict is proven by passing a
    sentinel that explodes on any attribute access."""
    from airbnb_listings_reviews_data_engineering_spark.functions.percentile import (
        exact_fits,
    )

    _write_groups(tmp_path / "t.parquet", ["a"] * 10 + ["b"] * 10, 10)

    class _Exploding:
        def __getattr__(self, name):
            raise AssertionError(f"guard scanned the table (touched .{name})")

    assert (
        exact_fits(
            _Exploding(), ["g"], "v", threshold=10,
            stats_path=str(tmp_path / "t.parquet"),
        )
        is True
    )


def test_exact_fits_freshness_invalidates_memo(spark, tmp_path):
    """Regenerating the data under the same path must re-derive the
    verdict (the memo key carries the table's fingerprint), not replay a
    stale fits=True onto now-oversized groups. A stats_path that has no
    fingerprint (a URI path: no local stat) is never memoized."""
    from airbnb_listings_reviews_data_engineering_spark.functions.percentile import (
        exact_fits,
    )

    p = tmp_path / "t.parquet"
    _write_groups(p, ["a"] * 5 + ["b"] * 5, 5)
    df = spark.read.parquet(str(p))
    stats_paths = (str(p), "hdfs://namenode:9000/t.parquet")
    for stats_path in stats_paths:
        assert exact_fits(df, ["g"], "v", threshold=10, stats_path=stats_path,
                          cache_key=("freshness-test", stats_path)) is True

    import os
    import time

    time.sleep(0.01)
    _write_groups(p, ["a"] * 50, 50)  # one oversized group now
    os.utime(p)
    df2 = spark.read.parquet(str(p))
    for stats_path in stats_paths:
        assert exact_fits(df2, ["g"], "v", threshold=10, stats_path=stats_path,
                          cache_key=("freshness-test", stats_path)) is False


def test_interval_overlap_join_is_banded_equi(spark, sf_dir):
    """The pure-range interval-overlap join must candidate-generate via
    the bucket equi-join — never a nested-loop/cartesian theta join."""
    plan = _plan(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_geo_grid_join_is_blocked_equi(spark, sf_dir):
    """The radius self-join must resolve as a hash/merge EQUI-join on
    the grid cell — a quadratic nested-loop over point pairs would pass
    correctness at gate SF and melt at 100 TB."""
    plan = _plan(spark, sf_dir, "geo_grid_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_fuzzy_linkage_is_blocked_equi(spark, sf_dir):
    """Levenshtein must verify INSIDE equi-join blocks (compound key),
    never as a nested-loop predicate over all pairs."""
    plan = _plan(spark, sf_dir, "join_fuzzy_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # the verify survives as a post-join filter


def test_linreg_moments_single_pass(spark, sf_dir):
    """Closed-form OLS accumulates all ten Gram moments in ONE
    aggregation over the joined fact — a per-moment pass would read the
    join ten times. One HashAggregate pair (partial + final) over the
    join output; no Window, no extra scan of lineitem."""
    import re

    plan = _plan(spark, sf_dir, "ml_linreg_normal")
    # formatted explain prints each scan node twice (tree + detail);
    # count the numbered NODES: lineitem + orders, once each
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "WindowExec" not in plan


def test_mips_topk_is_take_ordered(spark, sf_dir):
    """MIPS top-k must compile to TakeOrderedAndProject (per-partition
    heaps), not a global sort of the scored corpus."""
    plan = _plan(spark, sf_dir, "sim_mips_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_entropy_is_scan_only(spark, sf_dir):
    """Character entropy is a pure map-side pass: no exchange at all —
    27 length-difference expressions + fixed-point arithmetic."""
    plan = _plan(spark, sf_dir, "text_entropy")
    assert "Exchange" not in plan
    assert "WindowExec" not in plan


def test_dynamic_partition_pruning_injected(spark, sf_dir):
    # the fact side is partitioned on the join key and the dim carries
    # the filter: Catalyst must inject a runtime dynamicpruning subquery
    # on the fact scan's partition filters (the 100 TB star-join lever)
    plan = _plan(spark, sf_dir, "join_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_source_splits_probes_again_after_a_failed_probe(tmp_path):
    """A failed footer probe (path not written yet) is not cached: once
    the path is readable, the next probe sees its row groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airbnb_listings_reviews_data_engineering_spark.plans.registry import (
        _source_splits,
    )

    p = tmp_path / "late"
    assert _source_splits(str(p), 4) == (-1, -1)
    p.mkdir()
    pq.write_table(pa.table({"v": list(range(30))}), p / "part-0.parquet", row_group_size=10)
    assert _source_splits(str(p), 4) == (3, 30)
