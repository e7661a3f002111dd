"""The registry sweep: the one test that builds every registered key.

Each key is built once, at conftest's ``sf_dir``, with pin() recording
its pre-materialization stage plans and an empty staging root, and
that one build is:
- audited by scripts/plan_audit.audit — no flags, and a plan shape
  plus oracle digest (plan_audit.oracle_digest) equal to the key's
  entry in scripts/plan_ledger.json;
- compared with its DuckDB oracle by scripts/oracle_check.check — the
  oracle type lint, the coarse Spark-vs-DuckDB type agreement, and the
  gate's column / row-count / order-insensitive value compare.
"""

from __future__ import annotations

import pytest

from airbnb_listings_reviews_data_engineering_spark import checkpoint
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
from airbnb_listings_reviews_data_engineering_spark.sources.staging import ROOT_CONF
from scripts.oracle_check import check
from scripts.plan_audit import audit, load_ledger, oracle_digest

QUERIES = all_queries()


@pytest.fixture(scope="module")
def ledger(spark, tmp_path_factory):
    # an empty staging root, as when the ledger was written (see the
    # scripts/plan_audit.py docstring)
    prior = spark.conf.get(ROOT_CONF, None)
    spark.conf.set(ROOT_CONF, str(tmp_path_factory.mktemp("stage")))
    checkpoint.record_stage_plans(True)
    yield load_ledger()
    checkpoint.record_stage_plans(False)
    if prior is None:
        spark.conf.unset(ROOT_CONF)
    else:
        spark.conf.set(ROOT_CONF, prior)


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_matches_oracle(key, spark, sf_dir, ledger):
    spec = QUERIES[key]
    checkpoint.drain_stage_plans(spark)  # discard leftovers of a failed key
    try:
        sdf = spec.fn(spark, sf_dir)
        shape, flags = audit(key, sdf, checkpoint.drain_stage_plans(spark))
        shape["oracle_md5"] = oracle_digest(spec, sf_dir)
        problems = [f"{key}: plan flag {f}" for f in flags]
        problems += check(spec, sdf, sf_dir)
    finally:
        # collected — free this query's checkpoint blocks so the sweep
        # doesn't accumulate executor storage across keys
        checkpoint.release_pins(spark)
    want = ledger.get(key, {})
    drift = {f: (want.get(f), v) for f, v in shape.items() if want.get(f) != v}
    if drift:
        problems.append(
            f"{key}: plan shape or oracle drifted from scripts/plan_ledger.json "
            f"(field: (ledger, now)) {drift}"
        )
    assert not problems, "\n".join(problems)
