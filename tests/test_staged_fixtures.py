"""Staged fixtures follow their source table: a partitioned copy staged
from a table is rebuilt when the table is rewritten in place, so a key
never answers from a stale copy."""

from __future__ import annotations

import os
import shutil


def test_partitioned_fixtures_restage_tables_rewritten_in_place(spark, sf_dir, tmp_path):
    """src_partition_pruning and join_dynamic_partition_pruning stage a
    directory-partitioned copy of events and orders, and join_bucketed
    a bucketed copy of orders and customer. After the three tables are
    rewritten in place keeping every other row, every key must match
    the DuckDB oracle over the new files, not replay the first copy."""
    import pyarrow.parquet as pq

    from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
        release_pins,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
    from airbnb_listings_reviews_data_engineering_spark.plans.scale_ext import (
        _sf_tag,
    )
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        ROOT_CONF,
    )
    from scripts.oracle_check import check

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), sf / name)
    keys = ("src_partition_pruning", "join_dynamic_partition_pruning", "join_bucketed")
    specs = [all_queries()[k] for k in keys]

    def run() -> list[str]:
        problems = []
        for spec in specs:
            problems += check(spec, spec.fn(spark, str(sf)), str(sf))
            release_pins(spark)
        return problems

    spark.conf.set(ROOT_CONF, str(tmp_path / "stage"))
    try:
        assert run() == []
        for table in ("events", "orders", "customer"):
            path = sf / f"{table}.parquet"
            t = pq.read_table(path)
            pq.write_table(t.take(list(range(0, t.num_rows, 2))), path)
        assert run() == []
        # the bucketed copies of the first files are dropped, not kept
        tag = _sf_tag(str(sf))
        bucketed = [
            t.name for t in spark.catalog.listTables() if tag in t.name
        ]
        assert len(bucketed) == 2, bucketed
    finally:
        spark.conf.unset(ROOT_CONF)
