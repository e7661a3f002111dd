"""Spark-free checks on the plan audit's inputs: the allowlists and the
committed plan-shape ledger must name registered keys only, and the
ledger must cover every key with exactly the audited fields.

The audit itself runs inside the registry sweep
(tests/test_driver_oracle.py), which builds each key once and asserts
no flags and a shape equal to the key's ledger entry. Regenerate the
ledger with `python scripts/plan_audit.py`."""

from __future__ import annotations

from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
from scripts.plan_audit import (
    LEDGER_FIELDS,
    MAP_SIDE_ASSIGNMENT,
    NESTED_LOOP_ALLOWED,
    NESTED_LOOP_STAGE_ALLOWED,
    UNPARTITIONED_WINDOW_ALLOWED,
    UNPARTITIONED_WINDOW_STAGE_ALLOWED,
    _lint_plan_text,
    load_ledger,
)


def test_allowlisted_keys_exist():
    # an allowlist entry for a deleted key would silently mask a future
    # regression under a reused name
    listed = (
        NESTED_LOOP_ALLOWED
        | UNPARTITIONED_WINDOW_ALLOWED
        | MAP_SIDE_ASSIGNMENT
        | {k for k, _ in NESTED_LOOP_STAGE_ALLOWED}
        | {k for k, _ in UNPARTITIONED_WINDOW_STAGE_ALLOWED}
    )
    assert listed - set(all_queries()) == set()


def test_ledger_covers_registry():
    ledger = load_ledger()
    registered = set(all_queries())
    assert sorted(registered - set(ledger)) == [], "keys missing from the ledger"
    assert sorted(set(ledger) - registered) == [], "ledger keys not registered"
    odd = {k: sorted(v) for k, v in ledger.items() if set(v) != set(LEDGER_FIELDS)}
    assert odd == {}


def test_rule_battery_flags_each_anti_pattern():
    bnlj = "BroadcastNestedLoopJoin BuildRight, Inner"
    assert _lint_plan_text("join_eq3", bnlj, 0, None) == ["NESTED_LOOP"]
    assert _lint_plan_text("join_cross", bnlj, 0, None) == []
    # a key-level allowlist entry does not cover the key's stages
    assert _lint_plan_text("join_cross", bnlj, 0, "s") == ["PIN[s]:NESTED_LOOP"]
    assert _lint_plan_text("ml_kmeans", bnlj, 0, "kmeans_cents") == []
    assert _lint_plan_text("join_eq3", "BatchEvalPython", 0, None) == ["ROW_PYTHON"]
    assert _lint_plan_text("join_eq3", "", 1, None) == ["GLOBAL_WINDOW"]
    assert _lint_plan_text("sample_temperature", "", 1, None) == []
    per_vec = "row_number() windowspecdefinition(vec_id#3, d#4 ASC)"
    shuffle = "Exchange hashpartitioning(vec_id#3, 4)"
    assert _lint_plan_text("ml_kmeans", per_vec, 0, None) == ["PER_VECTOR_WINDOW"]
    assert _lint_plan_text("ml_kmeans", shuffle, 0, None) == []
    assert _lint_plan_text("ml_kmeans", shuffle, 0, "a") == ["PIN[a]:CORPUS_ID_SHUFFLE"]
    assert _lint_plan_text("join_eq3", per_vec, 0, None) == []
