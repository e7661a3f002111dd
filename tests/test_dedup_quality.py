"""Precision/recall floors for MinHash-LSH vs exact n-gram Jaccard
(VERDICT r2 "Next round" #8 — the dedup twin of test_ann_recall.py).

Fixture: prefix-truncated variants whose true Jaccard sweeps the
[0.2, 0.95] range, so pairs genuinely straddle the 0.5 threshold (the
one-word-dropped fixture puts every pair at J~0.97 and any budget
scores a meaningless 1.0/1.0). Ground truth is the prefix-filtered
AllPairs exact join — zero false negatives at the threshold by the
prefix-filtering theorem. Floors sit ~0.1 under the measured sf0.001
values (8h/4b: p=0.836 r=0.876; 16h/8b: p=0.881 r=0.948); recall must
not degrade when the signature budget doubles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins
from airbnb_listings_reviews_data_engineering_spark.operators import dedup as D

THRESHOLD = 0.5
SHINGLE = 3


@pytest.fixture(scope="module")
def quality(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    variants = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(split(text, ' '), 1, greatest(3, "
            "cast(size(split(text, ' ')) * (0.30 + (doc_id % 65) / 100.0) "
            "as int))))"
        ).alias("text"),
    )
    corpus = base.unionByName(variants)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(
            corpus, "doc_id", "text", shingle=SHINGLE, threshold=THRESHOLD
        ).collect()
    }
    assert len(exact) > 100  # the fixture must generate real work

    def measure(num_hashes: int, bands: int) -> tuple[float, float]:
        lsh = {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_lsh_pairs(
                corpus,
                "doc_id",
                "text",
                num_hashes=num_hashes,
                bands=bands,
                threshold=THRESHOLD,
                shingle=SHINGLE,
            ).collect()
        }
        tp = len(lsh & exact)
        return tp / len(lsh), tp / len(exact)

    yield measure
    release_pins(spark)


def test_default_budget_floor(quality):
    p, r = quality(8, 4)
    assert p >= 0.70, f"8h/4b precision {p:.3f} below floor"
    assert r >= 0.75, f"8h/4b recall {r:.3f} below floor"


def test_doubled_budget_tightens(quality):
    p8, r8 = quality(8, 4)
    p16, r16 = quality(16, 8)
    assert p16 >= 0.75 and r16 >= 0.85
    # sampling noise allowance: doubling the budget must not LOSE quality
    assert r16 >= r8 - 0.05
    assert p16 >= p8 - 0.05


def test_embedding_lsh_pair_recall_floors(spark, sf_dir):
    """Pair-level recall of the sign-LSH embedding near-dup blocking vs
    the unblocked exact cosine join (VERDICT r3 #6 — the embedding twin
    of the MinHash floors above). Measured sf0.001: flips=0 (the
    single-bucket join dedup_embedding_lsh runs) 0.858, flips<=1 0.992,
    flips<=2 1.000; floors sit under those with margin. Precision is
    1.0 by construction (candidates are cosine-verified), so the other
    pinned quantity is candidate PRUNING: the single-bucket join must
    score only a small fraction of all pairs — recall bought by probing
    everything would be no result at all."""
    from scripts.dedup_quality import emb_lsh_pair_sets

    from airbnb_listings_reviews_data_engineering_spark.checkpoint import (
        release_pins,
    )

    exact, lsh_sets, n_cands = emb_lsh_pair_sets(spark, sf_dir)
    release_pins(spark)
    assert len(exact) > 100  # the fixture must generate real work

    def recall(flips: int) -> float:
        return len(lsh_sets[flips] & exact) / len(exact)

    r0, r1, r2 = recall(0), recall(1), recall(2)
    assert r0 >= 0.75, f"single-bucket recall {r0:.3f} below floor"
    assert r1 >= 0.92, f"flips<=1 recall {r1:.3f} below floor"
    assert r2 >= 0.99, f"flips<=2 recall {r2:.3f} below floor"
    assert r0 <= r1 <= r2  # each flip ring only widens the probe
    # emitted pairs are a subset of exact truth (verified candidates)
    assert lsh_sets[0] <= exact
    n_vecs = 2 * spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    all_pairs = n_vecs * (n_vecs - 1) // 2
    assert n_cands[0] / all_pairs <= 0.02, (
        f"single-bucket join scored {n_cands[0]}/{all_pairs} pairs — "
        "blocking is not pruning"
    )


def test_containment_floors(spark, sf_dir):
    """Pin the SCALING.md distinctive-containment claims at gate SF: the
    DF cap must keep near-total recall of the exhaustive spec while
    feeding the pair join an order of magnitude fewer posting pairs."""
    from scripts.containment_quality import (
        posting_pair_volume,
        quoting_corpus,
    )

    corpus = quoting_corpus(spark, sf_dir).localCheckpoint(eager=True)
    truth = {
        (r.doc_a, r.doc_b)
        for r in D.containment_pairs(corpus, df_cap=None).collect()
    }
    release_pins(spark)
    probe = {
        (r.doc_a, r.doc_b)
        for r in D.containment_pairs(corpus, df_cap=20).collect()
    }
    release_pins(spark)
    assert len(truth) > 50  # the quoting fixture must generate real work
    rec = len(truth & probe) / len(truth)
    assert rec >= 0.95, f"cap=20 recall {rec:.3f} below floor"
    vol_ex = posting_pair_volume(spark, corpus, None)
    vol_cap = posting_pair_volume(spark, corpus, 20)
    assert vol_ex / max(vol_cap, 1) >= 4, (
        f"cap=20 pruned only {vol_ex}/{vol_cap} posting pairs"
    )
    # every emitted pair is a real computed containment (no estimate):
    # directed truth pairs found by the probe keep identical counts
    assert all(a != b for a, b in probe)


def test_split_leakage_audit_full_recall(spark, sf_dir):
    """split_leakage_audit must flag EVERY test doc with an exact
    (AllPairs n-gram Jaccard >= 0.5) cross-split near-dup. On the
    variant fixture the planted dups are near-identical, so the
    banding probe is exact — recall and precision both 1.0 (measured
    in SCALING.md "Round-7 curation additions"); threshold-marginal
    behavior is covered by the budget-sweep floors above."""
    from airbnb_listings_reviews_data_engineering_spark.plans.pipeline_ext import (
        _LEAK_TEST_MOD,
        _variant_corpus,
        split_leakage_audit,
    )

    corpus = _variant_corpus(spark, sf_dir)
    m = _LEAK_TEST_MOD
    exact = D.ngram_jaccard_pairs(
        corpus, "doc_id", "text", shingle=SHINGLE, threshold=THRESHOLD
    )
    cross = exact.filter(
        (F.col("doc_a") % m == 0) != (F.col("doc_b") % m == 0)
    )
    truth = {(r["doc_a"], r["doc_b"]) for r in cross.collect()}
    leaked_truth = {a if a % m == 0 else b for a, b in truth}
    audit = {
        r["test_doc"] for r in split_leakage_audit(spark, sf_dir).collect()
    }
    release_pins(spark)
    assert len(truth) > 50  # the fixture must plant real cross-split leaks
    assert audit == leaked_truth
