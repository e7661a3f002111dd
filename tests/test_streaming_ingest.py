"""End-to-end test of the Structured Streaming incremental ingest:
drop-directory CSV batches -> availableNow drain -> foreachBatch MERGE
into a parquet target — the reference's daily-rerun semantics
(inc_daily_snapshot + inc_retry, SURVEY.md §2.8) without a coordinator."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from airbnb_listings_reviews_data_engineering_spark.streaming.ingest import (
    available_now_merge_ingest,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("city", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _write_batch(path: str, rows: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("id,city,price\n" + rows)


def test_incremental_merge_ingest(spark, tmp_path):
    src = str(tmp_path / "drop")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    _write_batch(f"{src}/day1.csv", "1,DC,100.0\n2,MD,200.0\n")
    out1 = available_now_merge_ingest(
        spark, src, SCHEMA, target, keys=["id"], checkpoint=ckpt
    )
    assert {(r.id, r.price) for r in out1.collect()} == {(1, 100.0), (2, 200.0)}

    # day 2: id=2 updated, id=3 new — updates win, old rows survive
    _write_batch(f"{src}/day2.csv", "2,MD,250.0\n3,VA,300.0\n")
    out2 = available_now_merge_ingest(
        spark, src, SCHEMA, target, keys=["id"], checkpoint=ckpt
    )
    assert {(r.id, r.price) for r in out2.collect()} == {
        (1, 100.0),
        (2, 250.0),
        (3, 300.0),
    }

    # re-run with no new files: checkpoint skips everything — idempotent
    out3 = available_now_merge_ingest(
        spark, src, SCHEMA, target, keys=["id"], checkpoint=ckpt
    )
    assert {(r.id, r.price) for r in out3.collect()} == {
        (1, 100.0),
        (2, 250.0),
        (3, 300.0),
    }


def test_available_now_scd2_ingest(spark, tmp_path_factory):
    """Two file drops through the streaming SCD2 fold: drop 2 closes a
    changed key at its effective date and inserts a new key; re-running
    with no new files is a no-op (checkpointed exactly-once)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from airbnb_listings_reviews_data_engineering_spark.streaming.ingest import (
        available_now_scd2_ingest,
    )

    src = str(tmp_path_factory.mktemp("scd2_src"))
    out = str(tmp_path_factory.mktemp("scd2_out")) + "/dim_hist"
    ckpt = str(tmp_path_factory.mktemp("scd2_ckpt"))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("attr", T.StringType()),
            T.StructField("eff", T.StringType()),
        ]
    )

    def ingest():
        return available_now_scd2_ingest(
            spark, src, schema, out, ["k"], ["attr"], "eff", ckpt
        )

    with open(f"{src}/drop1.csv", "w") as f:
        f.write("k,attr,eff\n1,a,2024-01-01\n2,b,2024-01-01\n")
    hist = ingest()
    assert hist.count() == 2
    assert hist.filter(F.col("is_current")).count() == 2

    with open(f"{src}/drop2.csv", "w") as f:
        f.write("k,attr,eff\n1,a2,2024-06-01\n3,c,2024-06-01\n")
    hist = ingest()
    rows = {(r.k, r.attr): r for r in hist.collect()}
    assert len(rows) == 4
    assert rows[(1, "a")].valid_to == "2024-06-01" and not rows[(1, "a")].is_current
    assert rows[(1, "a2")].is_current and rows[(1, "a2")].valid_from == "2024-06-01"
    assert rows[(2, "b")].is_current  # untouched
    assert rows[(3, "c")].is_current  # inserted
    # exactly one current row per key, always
    cur = hist.filter(F.col("is_current")).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)

    again = ingest()  # no new files -> checkpoint makes this a no-op
    assert sorted(map(str, again.collect())) == sorted(map(str, hist.collect()))


def test_merge_ingest_exactly_once_after_mid_publish_crash(
    spark, tmp_path_factory, monkeypatch
):
    """Kill the foreachBatch MID-publish — after the new version
    directory lands but before the atomic pointer swap (the
    complete-but-never-committed v_N window publish_parquet's GC
    reasons about) — then re-run. The atomic version layer + streaming
    checkpoint must deliver exactly-once into the listings_docs target:
    the crashed batch is INVISIBLE to readers (previous version stays
    published), the retry reprocesses it (checkpoint never committed),
    and the final table holds each batch's effect exactly once — no
    duplicate rows, no missing batch. The streaming analog of
    tests/test_atomic_publish.py's crash-window tests."""
    import os as _os

    from airbnb_listings_reviews_data_engineering_spark.sources import atomic
    from airbnb_listings_reviews_data_engineering_spark.sources.atomic import (
        read_published,
    )

    src = str(tmp_path_factory.mktemp("mid_src"))
    target = str(tmp_path_factory.mktemp("mid_out")) + "/listings_docs"
    ckpt = str(tmp_path_factory.mktemp("mid_ckpt"))

    def ingest():
        return available_now_merge_ingest(
            spark, src, SCHEMA, target, keys=["id"], checkpoint=ckpt
        )

    _write_batch(f"{src}/day1.csv", "1,DC,100.0\n2,MD,200.0\n")
    out1 = ingest()
    assert {(r.id, r.price) for r in out1.collect()} == {(1, 100.0), (2, 200.0)}

    # batch 2: id=2 updated, id=3 new — and the publish dies between the
    # v_N rename and the pointer swap
    _write_batch(f"{src}/day2.csv", "2,MD,250.0\n3,VA,300.0\n")

    class _CrashBeforeSwap:
        """os shim for sources.atomic: everything real except replace()."""

        def __getattr__(self, name):
            return getattr(_os, name)

        def replace(self, *_a, **_k):
            raise RuntimeError("simulated crash mid-publish before pointer swap")

    monkeypatch.setattr(atomic, "os", _CrashBeforeSwap())
    with pytest.raises(Exception, match="simulated crash"):
        ingest()
    monkeypatch.setattr(atomic, "os", _os)

    # the crashed batch must be invisible: previous version still published
    mid = read_published(spark, target)
    assert {(r.id, r.price) for r in mid.collect()} == {(1, 100.0), (2, 200.0)}

    # retry: checkpoint never committed batch 2, so it reprocesses; the
    # never-committed v_N above the pointer is discarded, not double-counted
    out2 = ingest()
    assert {(r.id, r.city, r.price) for r in out2.collect()} == {
        (1, "DC", 100.0),
        (2, "MD", 250.0),
        (3, "VA", 300.0),
    }
    assert out2.groupBy("id").count().filter("count > 1").count() == 0

    # and a further no-new-files re-run is a pure no-op
    out3 = ingest()
    assert sorted(map(str, out3.collect())) == sorted(map(str, out2.collect()))


def test_scd2_ingest_retry_after_post_publish_crash(spark, tmp_path_factory, monkeypatch):
    """The worst-ordering crash: the batch's publish is durable but the
    streaming checkpoint never commits, so the retry REPROCESSES a batch
    whose effects are already in the table. merge_scd2's idempotence
    (same batch -> no-op) makes the rerun converge to the single-run
    state instead of double-closing rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from airbnb_listings_reviews_data_engineering_spark.sources import atomic
    from airbnb_listings_reviews_data_engineering_spark.streaming.ingest import (
        available_now_scd2_ingest,
    )

    src = str(tmp_path_factory.mktemp("crash_src"))
    out = str(tmp_path_factory.mktemp("crash_out")) + "/dim_hist"
    ckpt = str(tmp_path_factory.mktemp("crash_ckpt"))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("attr", T.StringType()),
            T.StructField("eff", T.StringType()),
        ]
    )
    with open(f"{src}/drop1.csv", "w") as f:
        f.write("k,attr,eff\n1,a,2024-01-01\n2,b,2024-01-01\n")

    real_publish = atomic.publish_parquet

    def publish_then_die(df, target):
        real_publish(df, target)  # durable effects land...
        raise RuntimeError("simulated crash before checkpoint commit")

    monkeypatch.setattr(atomic, "publish_parquet", publish_then_die)
    with pytest.raises(Exception, match="simulated crash"):
        available_now_scd2_ingest(
            spark, src, schema, out, ["k"], ["attr"], "eff", ckpt
        )
    monkeypatch.setattr(atomic, "publish_parquet", real_publish)

    hist = available_now_scd2_ingest(  # the retry reprocesses drop1
        spark, src, schema, out, ["k"], ["attr"], "eff", ckpt
    )
    rows = sorted((r.k, r.attr, r.valid_from, r.valid_to, r.is_current)
                  for r in hist.collect())
    assert rows == [
        (1, "a", "2024-01-01", None, True),
        (2, "b", "2024-01-01", None, True),
    ]


def test_stream_mv_merge_restages_events_rewritten_in_place(spark, sf_dir, tmp_path):
    """An ``events`` table regenerated in place with the SAME row count
    but different values must re-stage the landing zone: the staging
    marker fingerprints the source files, not only their row count, so
    the second drain folds the new batches and matches the oracle over
    the new data instead of replaying the stale ones."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
        release_pins,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
    from scripts.oracle_check import check

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(sf_dir):
        src = os.path.join(sf_dir, name)
        if name == "events.parquet":
            shutil.copyfile(src, sf / name)
        else:
            os.symlink(src, sf / name)
    spec = all_queries()["stream_mv_merge"]

    def run() -> list[str]:
        problems = check(spec, spec.fn(spark, str(sf)), str(sf))
        release_pins(spark)
        return problems

    assert run() == []
    events = pq.read_table(sf / "events.parquet")
    i = events.schema.get_field_index("value")
    rewritten = events.set_column(i, "value", pc.add(events["value"], 1.25))
    pq.write_table(rewritten, sf / "events.parquet")
    assert pq.read_metadata(sf / "events.parquet").num_rows == events.num_rows
    assert run() == []


def test_stream_sketch_bloom_stages_once(spark, sf_dir):
    """stream_sketch_bloom stages its batch files into the one stable
    landing zone: repeated calls add no per-call directory under the
    staging root."""
    from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
        release_pins,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        staging_root,
    )

    spec = all_queries()["stream_sketch_bloom"]
    scratch = os.path.join(staging_root(spark), "scratch")

    def run() -> set[str]:
        spec.fn(spark, sf_dir).collect()
        release_pins(spark)
        return {d for d in os.listdir(scratch) if d.startswith("stream_sketch_bloom")}

    staged = run()  # the first call may create the stable zone
    assert run() == staged
    assert run() == staged


@pytest.mark.parametrize(
    "key, table",
    [
        ("stream_mv_merge", "mv"),
        ("stream_admission_span", "decisions"),
        ("src_time_travel", "customers"),
        ("sink_wap_publish", "orders_wap"),
    ],
)
def test_failed_fold_leaves_no_run_root(spark, sf_dir, tmp_path, monkeypatch, key, table):
    """A publish that raises inside a key's run (a fold step, or a
    batch key's staged versions) propagates, and the key's per-run root
    (checkpoint, published tables) is deleted all the same: failed runs
    must not pile up under ``<staging root>/scratch/``. Only the stable
    landing zones, which later runs reuse, may remain."""
    from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
        release_pins,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
    from airbnb_listings_reviews_data_engineering_spark.sources import atomic
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        ROOT_CONF,
    )

    real_publish = atomic.publish_parquet

    def publish(df, target):
        if os.path.basename(target) == table:
            raise RuntimeError("planted step failure")
        real_publish(df, target)

    monkeypatch.setattr(atomic, "publish_parquet", publish)
    prior = spark.conf.get(ROOT_CONF, None)
    spark.conf.set(ROOT_CONF, str(tmp_path))
    try:
        with pytest.raises(Exception, match="planted step failure"):
            all_queries()[key].fn(spark, sf_dir)
    finally:
        release_pins(spark)
        if prior is None:
            spark.conf.unset(ROOT_CONF)
        else:
            spark.conf.set(ROOT_CONF, prior)
    left = os.listdir(tmp_path / "scratch")
    assert [d for d in left if not d.endswith("_stable")] == []
