"""Round-11 regression tests.

Covers the short-document n-gram guard (ADVICE r10: F.sequence(1,
size-2) is DESCENDING when size < 3, and element_at(tok, 0) raised at
runtime, where DuckDB's generate_series(1, n-2) yields empty — a
latent whole-job crash / cross-engine divergence on short docs).
"""

from __future__ import annotations

import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (
    gram_positions,
)


def _mini_docs_dir(spark, tmp_path, sf_dir):
    """A testdata-shaped dir whose documents table includes <3-token docs."""
    d = tmp_path / "sfmini"
    d.mkdir()
    # reuse real small tables for everything except documents
    for t in ("region", "nation"):
        shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    rows = [
        (1, "one", "en", "web", 3),
        (2, "two words", "en", "web", 9),
        (3, "three whole tokens", "en", "book", 18),
        (4, "a much longer document with plenty of tokens inside it",
         "en", "book", 54),
        (5, "", "en", "web", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_gram_positions_matches_duckdb_generate_series(spark):
    """Guarded positions == DuckDB generate_series for every size 0..6."""
    for n in (2, 3):
        df = spark.createDataFrame(
            [(k, [f"t{i}" for i in range(k)]) for k in range(7)],
            "k int, tok array<string>",
        )
        got = {
            r["k"]: r["pos"]
            for r in df.select(
                "k", gram_positions("tok", n).alias("pos")
            ).collect()
        }
        for k in range(7):
            want = duckdb.sql(
                f"SELECT generate_series(1, {k} - {n - 1})"
            ).fetchone()[0] or []
            assert got[k] == want, (n, k, got[k], want)


def test_gram_positions_explode_short_docs_no_crash(spark):
    """explode(transform(gram_positions)) never hits element_at(tok, 0)."""
    df = spark.createDataFrame(
        [(1, ["a"]), (2, ["a", "b"]), (3, ["a", "b", "c"]), (4, [])],
        "doc_id int, tok array<string>",
    )
    grams = df.select(
        "doc_id",
        F.explode(
            F.transform(
                gram_positions("tok", 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("tok", i),
                    F.element_at("tok", i + 1),
                    F.element_at("tok", i + 2),
                ),
            )
        ).alias("g"),
    ).collect()
    assert [(r["doc_id"], r["g"]) for r in grams] == [(3, "a b c")]


@pytest.mark.parametrize(
    "key",
    [
        "text_kanon_risk",
        "pipeline_privacy_release",
        "text_rouge_overlap",
        "text_collocation_pmi",
        "text_novelty_score",
    ],
)
def test_short_doc_corpus_runs_and_matches_oracle(spark, tmp_path, sf_dir, key):
    """Every patched key runs on a corpus with <3-token docs AND still
    matches its DuckDB oracle there (the r10 fixtures had no short docs,
    so this is the divergence the guard exists to close)."""
    from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
        release_pins,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans import (
        all_queries,
    )

    REGISTRY = all_queries()

    mini = _mini_docs_dir(spark, tmp_path, sf_dir)
    entry = REGISTRY[key]
    sdf = entry.fn(spark, mini)
    spark_rows = sorted(
        tuple(str(v) for v in r) for r in sdf.collect()
    )
    release_pins(spark)
    if entry.oracle is None:
        assert isinstance(spark_rows, list)
        return
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{mini}/documents.parquet/*.parquet')"
    )
    oracle_rows = sorted(
        tuple(str(v) for v in r) for r in con.execute(entry.oracle).fetchall()
    )
    # column order can differ between engines; compare sorted-cell rows
    spark_sorted = sorted(tuple(sorted(r)) for r in spark_rows)
    oracle_sorted = sorted(tuple(sorted(r)) for r in oracle_rows)
    assert len(spark_rows) == len(oracle_rows), (key, spark_rows, oracle_rows)
    assert spark_sorted == oracle_sorted, (key, spark_sorted[:5], oracle_sorted[:5])


def test_scaled_oracle_templates_render_gate_scale_statically():
    """The driver runs the STATIC oracle at sf0.01; every oracle_tmpl
    key must render byte-identical SQL there, and must render a
    DIFFERENT (scale-matched) SQL at sf0.1 — else the template is dead
    code."""
    from airbnb_listings_reviews_data_engineering_spark.plans import (
        all_queries,
    )

    tmpl_keys = {
        k: s for k, s in all_queries().items() if s.oracle_tmpl is not None
    }
    assert set(tmpl_keys) >= {
        "dedup_semdedup",
        "dedup_semdedup_multiprobe",
        "pack_bin_ffd",
    }
    for k, s in tmpl_keys.items():
        assert s.oracle == s.oracle_for("/root/testdata/sf0.01"), k
        assert s.oracle != s.oracle_for("/root/testdata/sf0.1"), (
            f"{k}: oracle_tmpl ignores the scale knob at sf0.1"
        )


def test_fim_transform_reassembles_original(spark, sf_dir):
    """PSM parts concatenated back in PMS order must equal the source
    text for every transformed doc (the transform is a lossless
    reordering), and passthrough rows must be verbatim."""
    from airbnb_listings_reviews_data_engineering_spark.plans import (
        all_queries,
    )

    out = all_queries()["text_fim_transform"].fn(spark, sf_dir)
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = out.collect()
    assert len(rows) == len(docs)
    for r in rows:
        src = docs[r["doc_id"]]
        if not r["fim_applied"]:
            assert r["fim_text"] == src
            continue
        body = r["fim_text"]
        assert body.startswith("<PRE>")
        pre, rest = body[5:].split("<SUF>", 1)
        suf, mid = rest.split("<MID>", 1)
        reassembled = " ".join(x for x in (pre, mid, suf) if x)
        assert reassembled == src, (r["doc_id"], reassembled[:60], src[:60])
        assert 1 <= r["p1"] <= r["p2"] <= r["n_tok"]


def test_canonical_dedup_catches_planted_variants(spark, sf_dir):
    """Every planted case/whitespace variant group must fold: the
    variant (doc_id + corpus-derived offset) and its source share a
    canonical hash but have 2 distinct exact hashes, and the keeper is
    always the source (min id — structurally below the offset)."""
    from airbnb_listings_reviews_data_engineering_spark.plans import (
        all_queries,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans.pipeline_ext import (
        _canon_offset,
    )

    off = _canon_offset(sf_dir)
    out = all_queries()["dedup_canonical_text"].fn(spark, sf_dir).collect()
    n_src = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert off > n_src  # disjoint namespaces at this scale
    planted = [r for r in out if r["n_exact_distinct"] >= 2]
    # every 11th doc got a variant; all of those groups must surface
    assert len(planted) >= n_src // 11
    for r in out:
        assert r["keeper_id"] < off  # keeper is never the variant
        assert r["n_dropped"] == r["n_members"] - 1
