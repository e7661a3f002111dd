"""Durable-checkpoint helper (checkpoint.pin) and staging-root config.

Covers the three durability modes, the release/release_pins storage
cleanup (ADVICE r2: repeated invocations must not accumulate executor
storage), and that iterative operators still converge under each mode.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
    MODE_CONF,
    checkpoint_mode,
    pin,
    release,
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.operators.dedup import (
    connected_components,
)
from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
    ROOT_CONF,
    staging_dir,
    staging_root,
)


@pytest.fixture()
def mode_conf(spark):
    """Drain pins left by earlier test modules (storage accounting here
    must start from a clean slate) and restore the mode conf after."""
    release_pins(spark)
    yield
    spark.conf.unset(MODE_CONF)
    release_pins(spark)


def _stored_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_local_mode_pins_and_releases(spark, mode_conf):
    before = _stored_rdd_count(spark)
    df = pin(spark.range(1000).withColumn("v", F.col("id") * 2))
    assert df.count() == 1000
    assert _stored_rdd_count(spark) > before
    assert release_pins(spark) >= 1
    assert _stored_rdd_count(spark) == before


def test_release_single_pin(spark, mode_conf):
    before = _stored_rdd_count(spark)
    a = pin(spark.range(10))
    b = pin(spark.range(20))
    assert a.count() == 10 and b.count() == 20
    release(a)
    # b's blocks survive a's release
    assert b.count() == 20
    release(b)
    assert _stored_rdd_count(spark) == before


def test_reliable_mode_writes_checkpoint_files(spark, mode_conf, tmp_path):
    spark.conf.set(MODE_CONF, "reliable")
    assert checkpoint_mode(spark) == "reliable"
    sc = spark.sparkContext
    if sc._jsc.sc().checkpointDir().isEmpty():
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    df = pin(spark.range(500).withColumn("v", F.col("id") + 1))
    assert df.count() == 500
    ckpt_root = sc._jsc.sc().checkpointDir().get().replace("file:", "")
    files = [
        os.path.join(d, f)
        for d, _sub, fs in os.walk(ckpt_root)
        for f in fs
        if f.startswith("part-")
    ]
    assert files, "reliable mode must write checkpoint part files"
    # releasing only drops executor blocks; durable files remain the
    # recompute path, so the frame stays usable
    release_pins(spark)
    assert df.count() == 500


def test_parquet_mode_stages_and_cleans(spark, mode_conf, tmp_path):
    spark.conf.set(MODE_CONF, "parquet")
    spark.conf.set(ROOT_CONF, str(tmp_path))
    try:
        df = pin(spark.range(100).withColumn("v", F.col("id") % 7), label="t")
        assert df.count() == 100
        pins_dir = tmp_path / "_pins"
        assert any(pins_dir.iterdir())
        release_pins(spark)
        assert not any(pins_dir.iterdir())
    finally:
        spark.conf.unset(ROOT_CONF)


def test_bad_mode_raises(spark, mode_conf):
    spark.conf.set(MODE_CONF, "bogus")
    with pytest.raises(ValueError, match="bogus"):
        pin(spark.range(1))


@pytest.mark.parametrize("mode", ["local", "reliable", "parquet"])
def test_connected_components_under_each_mode(spark, mode_conf, tmp_path, mode):
    spark.conf.set(MODE_CONF, mode)
    if mode == "parquet":
        spark.conf.set(ROOT_CONF, str(tmp_path))
    if mode == "reliable" and spark.sparkContext._jsc.sc().checkpointDir().isEmpty():
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        # path graph 1-2-3-4 plus isolated pair 9-10: two components
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (9, 10)], "doc_a long, doc_b long"
        )
        got = {
            (r.node, r.component)
            for r in connected_components(pairs).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (9, 9), (10, 9)}
    finally:
        if mode == "parquet":
            spark.conf.unset(ROOT_CONF)


def test_staging_root_conf_override(spark, tmp_path):
    spark.conf.set(ROOT_CONF, str(tmp_path / "stage"))
    try:
        assert staging_root(spark) == str(tmp_path / "stage")
        assert staging_dir("k", spark) == str(tmp_path / "stage" / "k")
        # active-session fallback picks up the same conf
        assert staging_root(None) == str(tmp_path / "stage")
    finally:
        spark.conf.unset(ROOT_CONF)


def test_staging_root_env_override(spark, monkeypatch, tmp_path):
    from airbnb_listings_reviews_data_engineering_spark.sources import staging

    monkeypatch.setenv(staging.ROOT_ENV, str(tmp_path / "envstage"))
    assert staging_root(spark) == str(tmp_path / "envstage")


def test_uri_staging_root_creates_no_local_dir(spark, tmp_path, monkeypatch):
    """A dist-FS staging root (hdfs://, s3a://) must never be os.makedirs'd
    locally: that would create a bogus './hdfs:' directory on the driver
    while the real root lives on the cluster FS (ADVICE r3/r4)."""
    monkeypatch.chdir(tmp_path)
    uri_root = "hdfs://namenode:9000/stage"
    spark.conf.set(ROOT_CONF, uri_root)
    try:
        assert staging_root(spark) == uri_root
        from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
            scratch_dir,
        )

        d = scratch_dir(spark, "urik")
        assert d.startswith(uri_root + "/")
        # neither call may have touched the local filesystem
        assert list(tmp_path.iterdir()) == []
    finally:
        spark.conf.unset(ROOT_CONF)


def test_fs_delete_uri_path_deletes_via_hadoop_fs(spark, tmp_path):
    """fs_delete on a URI-style path must route through the Hadoop
    FileSystem API (shutil.rmtree silently no-ops on 'scheme://...').
    file:// is a scheme Hadoop resolves locally, so the deletion is
    observable: the directory must actually be gone afterwards."""
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        fs_delete,
    )

    victim = tmp_path / "staged_pin"
    victim.mkdir()
    (victim / "part-00000.parquet").write_bytes(b"x")
    fs_delete(f"file://{victim}", spark)
    assert not victim.exists(), "URI-path delete must reach the Hadoop FS"


def test_fs_delete_unknown_scheme_is_best_effort(spark):
    """Cleanup must never mask the caller's real failure: an unresolvable
    scheme (no Hadoop FS implementation registered) must not raise."""
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        fs_delete,
    )

    fs_delete("mock://bucket/stage/pin_deadbeef", spark)  # no exception


def test_scratch_consumers_use_guarded_helpers():
    """Every query that stages scratch under the staging root must build
    it via scratch_dir (URI-safe: no local os.makedirs on an hdfs://
    root) and clean it via fs_delete (URI-safe: rmtree silently leaks a
    dist-FS dir); sources/staging.run_root pairs the two for a per-run
    root. src_time_travel and sink_wap_publish hand-rolled both in round
    5; this pins the fix for the whole plans package, not just the two
    offenders."""
    import inspect
    import pathlib

    from airbnb_listings_reviews_data_engineering_spark.plans.merge_queries import (
        sink_wap_publish,
        src_time_travel,
    )
    from airbnb_listings_reviews_data_engineering_spark.sources.staging import (
        run_root,
    )

    helper = inspect.getsource(run_root)
    assert "scratch_dir(" in helper and "fs_delete(" in helper
    for fn in (src_time_travel, sink_wap_publish):
        src = inspect.getsource(fn)
        assert "run_root(" in src, fn.__name__
        assert "os.makedirs" not in src, fn.__name__
        assert "shutil.rmtree" not in src, fn.__name__

    # package-wide: no plans module may rmtree or makedirs a scratch path
    # directly — the helpers are the only sanctioned route (ast-based so
    # docstrings/comments that MENTION the anti-pattern don't trip it)
    import ast

    plans_dir = pathlib.Path(inspect.getfile(src_time_travel)).parent
    for py in plans_dir.glob("*.py"):
        calls = [
            f"{n.func.value.id}.{n.func.attr}"
            for n in ast.walk(ast.parse(py.read_text()))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
        ]
        assert "shutil.rmtree" not in calls, py.name
        # sources/staging.py owns the one sanctioned call: the
        # "://"-guarded local branch inside scratch_dir itself
        assert "os.makedirs" not in calls, py.name
