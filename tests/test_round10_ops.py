"""Semantic invariants for the round-10 additions and ADVICE-r9 fixes —
properties the oracle hash-match alone cannot state (the oracle proves
Spark == DuckDB; these prove both engines compute the RIGHT thing).
"""

from __future__ import annotations

import hashlib

import pytest

from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins
from airbnb_listings_reviews_data_engineering_spark.operators import dedup as D
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return all_queries()


def rows(q, spark, sf_dir, key):
    out = q[key].fn(spark, sf_dir).collect()
    release_pins(spark)
    return out


def _hash60(s: str) -> int:
    """Python mirror of functions/hashing.hash60 (md5 hex first 15
    nibbles as an integer) — used to reason about the count-min cell
    formulas without an engine."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# --- ADVICE r9: count-min rows must be decorrelated --------------------------


def test_countmin_prime_rows_decorrelate_collisions():
    """The round-9 grid used (hash60 XOR seed_i) % 4096: XOR by a
    constant is bitwise and 4096 = 2^12, so ANY pair colliding in one
    row collided in all rows — effective depth 1. The prime-width rows
    must break this: for pairs of keys that collide in row 0, at least
    one other row separates them (CRT: all-rows collision requires
    h1 = h2 mod p0*p1*p2 ~ 6.9e10)."""
    from airbnb_listings_reviews_data_engineering_spark.operators.sketch import (
        CM_D,
        CM_PRIMES,
    )

    assert len(set(CM_PRIMES)) == CM_D  # distinct widths per row
    # find row-0 colliding pairs among a small key universe, then
    # check the other rows separate every one of them
    by_cell: dict[int, list[int]] = {}
    for k in range(20000):
        h = _hash60(str(k))
        by_cell.setdefault(h % CM_PRIMES[0], []).append(h)
    pairs = [
        (hs[i], hs[j])
        for hs in by_cell.values()
        if len(hs) > 1
        for i in range(len(hs))
        for j in range(i + 1, len(hs))
    ]
    assert len(pairs) > 10000  # the adversary population is real
    fully_correlated = [
        (h1, h2)
        for h1, h2 in pairs
        if all(h1 % p == h2 % p for p in CM_PRIMES[1:])
    ]
    # with XOR'd power-of-two widths EVERY pair was fully correlated;
    # with distinct primes the expected count is ~len(pairs)/p1/p2 ~ 0
    assert fully_correlated == []


def test_countmin_still_one_sided(spark, q):
    # the estimator contract survives the hash change: min over d
    # counters is always >= the exact count
    for r in rows(q, spark, "/root/testdata/sf0.01", "sketch_countmin_heavy"):
        assert r.n_est >= r.n_exact


# --- ADVICE r9: theta bottom-k small-set guard --------------------------------


def test_theta_bottomk_unsaturated_returns_exact(spark, q):
    """At sf0.001 the 2-HIGH priority has 126 distinct custkeys < k=128:
    the sketch holds the WHOLE set, so the estimate must be the exact
    count (the round-9 (k-1)*H/max(h) form overestimated ~30x here —
    max(h) of a tiny sample sits far below H*k/n)."""
    from airbnb_listings_reviews_data_engineering_spark.plans.sketch_ext import _BK_K

    r = rows(q, spark, SF_SMALL, "sketch_theta_bottomk")[0]
    # the guard is PER SKETCH: an unsaturated set's own NDV is exact
    assert r.n_exact_b < _BK_K <= r.n_exact_a  # fixture shape at sf0.001
    assert r.est_b == r.n_exact_b
    # set-op estimates stay approximate whenever either side is
    # saturated (theta = A's k-th hash cuts the union/intersection
    # samples), but must remain in the ~1/sqrt(k-2) error band instead
    # of the ~30x blowup the unguarded formula produced
    for est, exact in (
        (r.est_a, r.n_exact_a),
        (r.est_union, r.n_exact_union),
        (r.est_inter, r.n_exact_inter),
    ):
        assert abs(est - exact) / exact <= 0.3, (est, exact)


# --- ADVICE r9: CC must fail loudly when the budget is hit --------------------


def test_cc_raises_when_not_converged(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="star fixpoint"):
        D.connected_components(pairs, max_iter=0)
    release_pins(spark)


# --- dyadic count-min quantiles: the mergeable quantile sketch ----------------


def test_quantile_rollup_equals_direct(spark, q):
    """Count-min is LINEAR: per-month grids merged by cell-wise
    addition must drive the descent to IDENTICAL leaves — merged ==
    direct row-for-row, the merge-exactness KLL/GK cannot offer."""
    direct = sorted(
        map(tuple, rows(q, spark, "/root/testdata/sf0.01",
                        "sketch_quantile_dyadic"))
    )
    rollup = sorted(
        map(tuple, rows(q, spark, "/root/testdata/sf0.01",
                        "sketch_quantile_rollup"))
    )
    assert direct == rollup


def test_quantile_stream_equals_batch(spark, q):
    """The micro-batch grid (counter addition per batch) must equal the
    one-pass grid: same descent, same leaves, same verifier row."""
    direct = sorted(
        map(tuple, rows(q, spark, "/root/testdata/sf0.01",
                        "sketch_quantile_dyadic"))
    )
    stream = sorted(
        map(tuple, rows(q, spark, "/root/testdata/sf0.01",
                        "stream_sketch_quantile"))
    )
    assert direct == stream


def test_quantile_rank_error_bound_sf01(spark, q):
    """Rank error of the descent at sf0.1: the sum of <= 16 one-sided
    CM overestimates stays well inside 2 percentage points of rank for
    every target quantile (measured <= 0.004; pinned with headroom)."""
    out = rows(q, spark, "/root/testdata/sf0.1", "sketch_quantile_dyadic")
    assert {r.qpct for r in out} == {25, 50, 75, 90}
    for r in out:
        assert r.n == 600000
        assert r.rank_err <= 0.02, (r.qpct, r.rank_err)
        # the returned value is a REAL price neighborhood: its true
        # rank (rank_frac) sits on the requested quantile
        assert abs(abs(r.rank_frac - r.qpct / 100.0) - r.rank_err) < 1e-9


# --- IVF-PQ composite: recall floors and the compression contract -------------


def _exact_topk(spark, sf_dir, k=10):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (
        as_double_array,
        cosine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    qs_ = emb.filter(
        (emb.vec_id % 100 == 0) & (emb.vec_id < 2005)
    ).select(emb.vec_id.alias("q_id"), emb.v.alias("qv"))
    import pyspark.sql.functions as FF

    sc = emb.crossJoin(FF.broadcast(qs_)).select(
        "q_id", "vec_id", FF.round(cosine(emb.v, FF.col("qv")), 6).alias("c")
    )
    w = W.partitionBy("q_id").orderBy(FF.desc("c"), "vec_id")
    return {
        (r.q_id, r.vec_id)
        for r in sc.withColumn("rn", FF.row_number().over(w))
        .filter(f"rn <= {k}")
        .collect()
    }


def test_ivfpq_recall_floors(spark, q):
    """The IVF-PQ composite's recall contract at sf0.1 (isotropic
    embeddings — the ANN worst case, see scripts/ann_recall.py):
    (1) vs the SAME probe budget's plain IVF (sim_ivf_join, nprobe=2):
    the 32-bit ADC + top-100 re-rank recovers >= 75% of what scanning
    the probed cells exactly recovers (measured 0.85 — the PQ
    compression's only loss is true neighbors ranked past c by ADC);
    (2) vs exact kNN: recall is bounded by the nprobe=2 cell budget
    (~0.51 measured for plain IVF here) and must stay >= 0.35."""
    sf = "/root/testdata/sf0.1"
    ivfpq = {(r.q_id, r.vec_id) for r in rows(q, spark, sf, "sim_ivfpq_topk")}
    ivf = {(r.q_id, r.vec_id) for r in rows(q, spark, sf, "sim_ivf_join")}
    exact = _exact_topk(spark, sf)
    release_pins(spark)
    assert len(ivfpq & ivf) / len(ivf) >= 0.75
    assert len(ivfpq & exact) / len(exact) >= 0.35


def test_ivfpq_reranked_scores_are_exact(spark, q):
    """Re-ranked rows carry EXACT cosine (not ADC approximations):
    every returned (q_id, vec_id) score must equal the brute-force
    cosine — the contract that makes the composite's output
    indistinguishable from exact search restricted to its candidates."""
    from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (
        as_double_array,
        cosine,
    )
    import pyspark.sql.functions as FF

    sf = "/root/testdata/sf0.01"
    out = rows(q, spark, sf, "sim_ivfpq_topk")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    vecs = {r.vec_id: r.v for r in emb.collect()}
    import math

    for r in out:
        a, b = vecs[r.vec_id], vecs[r.q_id]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(r.cos_sim - round(dot / (na * nb), 6)) <= 2e-6, r


# --- streaming admission with index append-back --------------------------------


def test_admission_e2e_index_grows(spark, q):
    """The proof the standing index GROWS: batch 2's drop-first-token
    variants of batch 1's ADMITTED novel docs share zero content with
    the original corpus (tokens are nv{doc_id}x{k}) — a static index
    would admit every one of them; they are all rejected because
    batch 1's signatures were merged back. Corpus near-dups in batch 2
    are still caught by the ORIGINAL index entries (growth does not
    evict the standing side), and fresh novel docs still pass."""
    from airbnb_listings_reviews_data_engineering_spark.plans.streaming_q import (
        _SAE_OFF,
    )

    out = rows(q, spark, "/root/testdata/sf0.01", "stream_admission_e2e")

    def cls(in_id):
        for name in ("nov2", "corp2", "nov1v", "nov1", "corp1"):
            if in_id >= _SAE_OFF[name]:
                return name
        raise AssertionError(in_id)

    by = {}
    for r in out:
        by.setdefault(cls(r.in_id), []).append(r.admitted)
    assert by and set(by) == {"corp1", "nov1", "nov1v", "corp2", "nov2"}
    assert all(a == 0 for a in by["corp1"])   # standing corpus catches
    assert all(a == 1 for a in by["nov1"])    # novel admitted
    assert all(a == 0 for a in by["nov1v"])   # CAUGHT ONLY VIA APPEND-BACK
    assert all(a == 0 for a in by["corp2"])   # original entries persist
    assert all(a == 1 for a in by["nov2"])    # fresh novel admitted
    # batch tags line up with the classes
    batches = {cls(r.in_id): r.batch for r in out}
    assert batches["corp1"] == 1 and batches["nov1"] == 1
    assert batches["nov1v"] == 2 and batches["nov2"] == 2


# --- CM inner product + dyadic range counts -----------------------------------


def test_dyadic_cover_is_exact_partition():
    """Property: the greedy dyadic cover of [lo, hi] is a disjoint,
    complete partition into canonical nodes (node at lvl covers
    [node<<lvl, (node+1)<<lvl))."""
    import random

    from airbnb_listings_reviews_data_engineering_spark.plans.sketch_ext import (
        _dyadic_cover,
    )

    rng = random.Random(42)
    for _ in range(200):
        lo = rng.randrange(0, 1 << 16)
        hi = min((1 << 16) - 1, lo + rng.randrange(0, 1 << 14))
        nodes = _dyadic_cover(lo, hi)
        covered = []
        for lvl, node in nodes:
            covered.extend(range(node << lvl, (node + 1) << lvl))
        assert covered == list(range(lo, hi + 1)), (lo, hi)
        assert len(nodes) <= 2 * 17


def test_range_count_one_sided(spark, q):
    for r in rows(q, spark, "/root/testdata/sf0.01", "sketch_range_count"):
        assert r.n_est >= r.n_exact, r


def test_join_cardinality_one_sided_and_bounded(spark, q):
    (r,) = rows(q, spark, "/root/testdata/sf0.01", "sketch_join_cardinality")
    assert r.n_est >= r.n_exact
    # wide rows keep the additive e*|A|*|B|/w term a small multiple of
    # the true size on this fixture (measured 1.22x at sf0.1)
    assert r.n_est <= 3 * max(r.n_exact, 1), r


def test_quantile_by_group_rank_errors(spark, q):
    out = rows(q, spark, "/root/testdata/sf0.1", "sketch_quantile_by_group")
    # 3 return flags x 4 targets, every group's descent within the band
    assert len(out) == 12
    assert {r.l_returnflag for r in out} == {"A", "N", "R"}
    for r in out:
        assert r.rank_err <= 0.02, (r.l_returnflag, r.qpct, r.rank_err)


def test_countmin_windowed_one_sided_and_windowed(spark, q):
    """Windowed CM keeps the one-sided contract, and the window is
    REAL: a user's windowed estimate never exceeds their all-time
    exact count plus the grid's collision mass, and for users active
    outside the window n_exact < their all-time count."""
    out = rows(q, spark, "/root/testdata/sf0.01", "sketch_countmin_windowed")
    assert out
    for r in out:
        assert r.n_est >= r.n_exact, r
    # the 7-of-30-day window must actually cut counts: total windowed
    # exact events well below the all-time total for probed users
    import duckdb

    alltime = dict(
        duckdb.sql(
            "SELECT user_id, count(*) FROM"
            " read_parquet('/root/testdata/sf0.01/events.parquet')"
            " WHERE user_id % 3 = 0 GROUP BY user_id"
        ).fetchall()
    )
    assert sum(r.n_exact for r in out) < 0.5 * sum(alltime.values())


def test_quantile_windowed_p99(spark, q):
    """Windowed percentiles from merged per-day grids: p50/p90/p99 of
    the trailing 7-day event values land exactly on rank at sf0.1
    (exact centi-unit leaves; CM collision mass is the only error),
    and the window genuinely restricts n (7 of 30 days)."""
    out = rows(q, spark, "/root/testdata/sf0.1", "sketch_quantile_windowed")
    assert {r.qpct for r in out} == {50, 90, 99}
    for r in out:
        assert r.rank_err <= 0.005, (r.qpct, r.rank_err)
        assert r.n < 60000  # 7-day window over ~100k 30-day events


# --- streaming EMBEDDING admission with index append-back ---------------------


def test_admission_embedding_index_grows(spark, q):
    """The embedding sibling of test_admission_e2e_index_grows: batch
    2's perturbed copies of batch 1's ADMITTED negated vectors share
    no near-dup with the original corpus (cosine to their source is
    -1) — a static index would admit every one of them; they are
    rejected because batch 1's vectors were appended. Perturbed corpus
    vectors in batch 2 are still caught by the ORIGINAL index entries,
    and reversed vectors pass as fresh novel content."""
    from airbnb_listings_reviews_data_engineering_spark.plans.streaming_q import (
        _SAEE_OFF,
    )

    out = rows(q, spark, "/root/testdata/sf0.01", "stream_admission_embedding")

    def cls(in_id):
        for name in ("nov2", "corp2", "nov1v", "nov1", "corp1"):
            if in_id >= _SAEE_OFF[name]:
                return name
        raise AssertionError(in_id)

    by = {}
    for r in out:
        by.setdefault(cls(r.in_id), []).append(r.admitted)
    assert by and set(by) == {"corp1", "nov1", "nov1v", "corp2", "nov2"}
    # sign-LSH is approximate: a +0.01 perturbation can flip a bucket
    # bit when a plane dot-product sits near zero, so corpus near-dup
    # catch is a measured floor, not 100% (the oracle replays the same
    # math, so the GATE is still exact). Negation flips ALL bits
    # (cosine -1 to everything the source was near), so novel classes
    # are pure by construction.
    catch1 = 1 - sum(by["corp1"]) / len(by["corp1"])
    catch2 = 1 - sum(by["corp2"]) / len(by["corp2"])
    assert catch1 >= 0.9, catch1              # standing corpus catches
    assert all(a == 1 for a in by["nov1"])    # negated: novel, admitted
    # CAUGHT ONLY VIA APPEND-BACK: same bucket as batch-1's admission
    rej_variants = 1 - sum(by["nov1v"]) / len(by["nov1v"])
    assert rej_variants >= 0.9, rej_variants
    assert catch2 >= 0.9, catch2              # original entries persist
    assert all(a == 1 for a in by["nov2"])    # reversed: fresh novel
    batches = {cls(r.in_id): r.batch for r in out}
    assert batches["corp1"] == 1 and batches["nov1"] == 1
    assert batches["nov1v"] == 2 and batches["nov2"] == 2


# --- differentially-private release -------------------------------------------


def test_dp_counts_noise_bounded_and_clip_binds(spark, q):
    """The Laplace mechanism is real but bounded: the seeded draw's u
    lives on the 2^52 dyadic grid, so |noise| <= b * ln(2^51) ~ 35.4*b;
    every released value differs from the exact one (noise never lands
    on 0) yet stays within that worst case. Token sums are noised
    around the CLIPPED total, not the raw one — contribution bounding
    is what gives the sum a finite sensitivity."""
    import duckdb

    from airbnb_listings_reviews_data_engineering_spark.plans.curation_ext import (
        _DP_CLIP,
        _DP_EPS,
    )

    sf = "/root/testdata/sf0.01"
    out = {r.source: r for r in rows(q, spark, sf, "agg_dp_counts")}
    exact = {
        s: (n, clipped, raw)
        for s, n, clipped, raw in duckdb.sql(
            f"SELECT source, count(*),"
            f" sum(least(len(string_split(text, ' ')), {_DP_CLIP})),"
            f" sum(len(string_split(text, ' ')))"
            f" FROM read_parquet('{sf}/documents.parquet') GROUP BY source"
        ).fetchall()
    }
    assert set(out) == set(exact) and len(out) >= 2
    import math

    def laplace(seed: str, b: float) -> float:
        u = (_hash60(seed) % 2**52 + 0.5) / 2**52 - 0.5
        return -b * math.copysign(1.0, u) * math.log(1 - 2 * abs(u))

    bound = math.log(2**51) + 1e-9
    clip_binds_somewhere = False
    for s, r in out.items():
        n, clipped, raw = exact[s]
        dn = r.n_docs_noisy - n
        dt = r.n_tokens_noisy - clipped
        assert dn != 0 and abs(dn) <= (1.0 / _DP_EPS) * bound, (s, dn)
        assert dt != 0 and abs(dt) <= (_DP_CLIP / _DP_EPS) * bound, (s, dt)
        # the release is EXACTLY clipped_sum + the seeded Laplace draw —
        # i.e. noised around the CLIPPED total, whatever the raw one is
        want = clipped + laplace(f"{s}:tok", _DP_CLIP / _DP_EPS)
        assert abs(r.n_tokens_noisy - want) < 1e-3, (s, r.n_tokens_noisy, want)
        want_n = n + laplace(f"{s}:cnt", 1.0 / _DP_EPS)
        assert abs(r.n_docs_noisy - want_n) < 1e-3, (s, r.n_docs_noisy, want_n)
        if raw > clipped:
            clip_binds_somewhere = True
    assert clip_binds_somewhere  # the fixture actually exercises clipping


# --- Bloom membership rollup ---------------------------------------------------


def test_bloom_no_false_negatives_and_merge_exact(spark, q):
    """The two contracts membership sketching rests on: (1) EVERY
    present probe hits — a Bloom filter never says 'absent' about a
    present key, so a decontamination 'not seen' verdict is safe; (2)
    bit_or of the monthly filters IS the whole-period filter (the
    sketch is mergeable with zero merge error). Plus calibration: the
    measured FPR on disjoint synthetic keys stays within a small
    multiple of the (bits_set/m)^k prediction."""
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        (r,) = rows(q, spark, sf, "sketch_bloom_rollup")
        assert r.n_present_hits == r.n_present and r.n_present > 0, (sf, r)
        assert r.merged_equals_direct, sf
        assert r.n_absent == 256
        # fill factor sanity: bits_set < k * n_keys and < m
        assert 0 < r.bits_set < 131072
        # measured FPR within noise of predicted (256 probes -> coarse;
        # allow prediction + 3 sigma of the binomial)
        import math

        sigma = math.sqrt(max(r.fpr_expected, 1e-9) * 256) / 256
        assert r.fpr_measured <= r.fpr_expected + 3 * sigma + 1 / 256, (
            sf,
            r.fpr_measured,
            r.fpr_expected,
        )


# --- K-S drift from merged sketch grids ----------------------------------------


def test_drift_ks_tracks_exact(spark, q):
    """The sketch-grid K-S must sit within CM collision mass of the
    exact K-S at the same 256 boundaries, at both gate SFs — the
    number a production monitor alerts on IS the estimate; ks_err is
    its measured honesty. Counts are one-sided (CM never
    undercounts), so the side totals dominate the true row counts."""
    import duckdb

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        (r,) = rows(q, spark, sf, "profile_drift_ks")
        n_rows = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{sf}/lineitem.parquet')"
        ).fetchone()[0]
        assert r.n_cur_est + r.n_base_est >= n_rows
        assert 0.0 <= r.ks_est <= 1.0 and 0.0 <= r.ks_exact <= 1.0
        assert r.ks_err <= 0.02, (sf, r.ks_est, r.ks_exact)
        assert r.ks_at_cents % 65536 == 65535  # a real level-8 boundary


# --- streaming SPAN admission with index append-back ---------------------------


def test_admission_span_index_grows(spark, q):
    """The span sibling of test_admission_e2e_index_grows: batch 2's
    12-token prefixes of batch 1's ADMITTED fresh docs share zero
    content with the corpus — a static gram index admits every one;
    all are rejected (12/16 tokens excised) because batch 1's grams
    were appended. Corpus-copy docs in both batches are rejected by
    the ORIGINAL entries (14/18 tokens excised), fresh docs pass with
    n_removed = 0. Perfect separation measured at sf0.01
    (24/22/22/18/17)."""
    from airbnb_listings_reviews_data_engineering_spark.plans.streaming_q import (
        _SAS_OFF,
    )

    out = rows(q, spark, "/root/testdata/sf0.01", "stream_admission_span")

    def cls(in_id):
        for name in ("nov2", "corp2", "ret", "nov1", "corp1"):
            if in_id >= _SAS_OFF[name]:
                return name
        raise AssertionError(in_id)

    by = {}
    for r in out:
        by.setdefault(cls(r.in_id), []).append(r)
    assert set(by) == {"corp1", "nov1", "ret", "corp2", "nov2"}
    assert all(r.admitted == 0 for r in by["corp1"])
    assert all(r.admitted == 1 and r.n_removed == 0 for r in by["nov1"])
    # CAUGHT ONLY VIA APPEND-BACK: the 12-token prefix excises exactly
    assert all(
        r.admitted == 0 and r.n_removed == 12 and r.n_tok == 16
        for r in by["ret"]
    )
    assert all(r.admitted == 0 for r in by["corp2"])
    assert all(r.admitted == 1 and r.n_removed == 0 for r in by["nov2"])
    batches = {cls(r.in_id): r.batch for r in out}
    assert batches["corp1"] == 1 and batches["nov1"] == 1
    assert batches["ret"] == 2 and batches["nov2"] == 2


# --- unigram-LM tokenizer training ---------------------------------------------


def test_unigram_lm_em_matches_python_mirror(spark, q):
    """Full independent mirror: a third implementation of the hard-EM
    trainer in pure Python (dict-based Viterbi, no SQL) must reproduce
    the engine's final vocabulary row-for-row at sf0.001 — the oracle
    gate proves Spark == DuckDB; this proves all three compute the
    RIGHT thing (seeding, quantization, longer-piece tie-break,
    traceback, EM re-estimation). Also pins that EM learned multi-char
    pieces (it is a subword trainer, not a char counter)."""
    import math

    import duckdb

    from airbnb_listings_reviews_data_engineering_spark.plans.tokenizer_ext import (
        _ULM_ITERS,
        _ULM_MAXLEN,
        _ULM_MAXP,
        _ULM_NEG,
        _ULM_NEG2,
        _ULM_SEED_CAP,
        _ULM_SEED_MIN,
        _ULM_TOPK,
    )

    sf = "/root/testdata/sf0.001"

    def qln(f, t):
        x = math.log(f / t) * 1000000
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    toks = [
        w
        for (t,) in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf}/documents.parquet')"
        ).fetchall()
        for w in t.split(" ")
        if 1 <= len(w) <= _ULM_MAXLEN
    ]
    words = {}
    for w in toks:
        words[w] = words.get(w, 0) + 1
    subfreq = {}
    for w, c in words.items():
        for L in range(1, _ULM_MAXP + 1):
            for i in range(len(w) - L + 1):
                p = w[i : i + L]
                subfreq[p] = subfreq.get(p, 0) + c
    seed = {p: f for p, f in subfreq.items() if len(p) == 1}
    multi = sorted(
        ((p, f) for p, f in subfreq.items()
         if len(p) >= 2 and f >= _ULM_SEED_MIN),
        key=lambda x: (-x[1], x[0]),
    )[:_ULM_SEED_CAP]
    seed.update(dict(multi))
    t0 = sum(seed.values())
    vocab = {p: qln(f, t0) for p, f in seed.items()}

    def viterbi(w, lp):
        n = len(w)
        b = [0] * (n + 1)
        ls = [0] * (n + 1)
        for i in range(1, n + 1):
            c1 = b[i - 1] + lp.get(w[i - 1 : i], _ULM_NEG)
            c2 = (
                b[i - 2] + lp.get(w[i - 2 : i], _ULM_NEG)
                if i >= 2
                else _ULM_NEG2
            )
            c3 = (
                b[i - 3] + lp.get(w[i - 3 : i], _ULM_NEG)
                if i >= 3
                else _ULM_NEG2
            )
            if c3 >= c2 and c3 >= c1:
                b[i], ls[i] = c3, 3
            elif c2 >= c1:
                b[i], ls[i] = c2, 2
            else:
                b[i], ls[i] = c1, 1
        pos, pieces = n, []
        while pos > 0:
            pieces.append(w[pos - ls[pos] : pos])
            pos -= ls[pos]
        return pieces

    for _ in range(_ULM_ITERS):
        cnt = {}
        for w, c in words.items():
            for p in viterbi(w, vocab):
                cnt[p] = cnt.get(p, 0) + c
        t = sum(cnt.values())
        vocab = {p: qln(f, t) for p, f in cnt.items()}
        counts = cnt
    want = sorted(counts.items(), key=lambda x: (-x[1], x[0]))[:_ULM_TOPK]
    got = rows(q, spark, sf, "text_unigram_lm_em")
    got = sorted(got, key=lambda r: r.rnk)
    assert len(got) == min(_ULM_TOPK, len(want))
    for r, (p, f) in zip(got, want):
        assert r.piece == p and r.n_uses == f, (r, p, f)
        assert r.logp_q == vocab[p], (r, vocab[p])
        assert r.plen == len(p)
    assert any(r.plen >= 2 for r in got)  # learned subwords, not chars


def test_unigram_encode_fertility_sane(spark, q):
    """Fertility under the trained vocab: every document segments into
    at least one piece per word and at most word-length pieces
    (1 <= fertility <= max word len), and the learned subwords
    genuinely compress — corpus mean fertility sits well below the
    char-level ceiling (~ mean word length)."""
    out = rows(q, spark, "/root/testdata/sf0.01", "text_unigram_encode_docs")
    assert len(out) == 500  # every document has in-cap words
    tot_tok = sum(r.n_tok for r in out)
    tot_pc = sum(r.n_pieces for r in out)
    for r in out:
        assert r.n_pieces >= r.n_tok, r
        assert 1.0 <= r.fertility <= 12.0, r
    mean_fert = tot_pc / tot_tok
    # mean word length in the fixture is ~5 chars; char-level would be
    # ~5 pieces/word. The EM vocab must do clearly better.
    assert mean_fert < 3.0, mean_fert


def test_dp_quantile_noise_is_post_processing(spark, q):
    """Histogram DP for quantiles: the released percentile sits on a
    level-8 bucket boundary, and with eps=1 noise (sigma ~ 1.4 counts)
    against bucket counts in the hundreds the noisy CDF crossing lands
    on (or next to) the exact bucket — rel_err bounded at both SFs.
    The exact column equals the true bucket-granularity percentile
    recomputed via DuckDB."""
    import duckdb

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        out = rows(q, spark, sf, "agg_dp_quantile")
        assert {r.qpct for r in out} == {50, 90, 99}
        for r in out:
            assert r.dp_cents % 65536 == 65535  # a bucket boundary
            assert r.rel_err <= 0.05, (sf, r)
        (p50,) = [r for r in out if r.qpct == 50]
        true_med = duckdb.sql(
            f"SELECT median(l_extendedprice) FROM"
            f" read_parquet('{sf}/lineitem.parquet')"
        ).fetchone()[0]
        # the bucket ceiling of the true median is within one bucket
        assert abs(p50.exact_cents / 100.0 - true_med) <= 65536 / 100.0, (
            sf,
            p50.exact_cents,
            true_med,
        )


def test_stream_bloom_batch_equivalent(spark, q):
    """The streaming Bloom drains batch-equivalent: the micro-batch
    bit_or state must match the direct batch build word-for-word
    (merged_equals_direct), keep the no-false-negative contract, and
    stay inside the predicted FPR band — same contracts as the batch
    key, proven through the streaming path."""
    (r,) = rows(q, spark, "/root/testdata/sf0.01", "stream_sketch_bloom")
    assert r.merged_equals_direct
    assert r.n_present_hits == r.n_present > 0
    assert r.n_absent == 256 and r.n_absent_hits <= 8


# --- privacy release pipeline --------------------------------------------------


def test_privacy_release_gate_and_noise(spark, q):
    """The composite's three stages are all live: per-source releases
    sit within the Laplace worst case of the exact SURVIVOR counts
    (recomputed independently: scrub -> singleton-trigram risk ->
    drop), the k-anon gate genuinely drops documents at sf0.01, and
    every source still gets a release (the gate is a filter, not a
    collapse)."""
    import math

    import duckdb

    sf = "/root/testdata/sf0.01"
    out = {r.source: r for r in rows(q, spark, sf, "pipeline_privacy_release")}
    kept = dict(
        duckdb.sql(
            f"""
WITH scrub AS (
  SELECT doc_id, source,
         regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+',
           '<EMAIL>', 'g'), '\\d{{3}}-\\d{{2}}-\\d{{4}}', '<ID>', 'g') AS text
  FROM read_parquet('{sf}/documents.parquet')
),
tokd AS (SELECT doc_id, string_split(text, ' ') AS tok FROM scrub),
grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tok)-2),
          i -> tok[i]||' '||tok[i+1]||' '||tok[i+2])) AS g FROM tokd),
freq AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
risk AS (SELECT gr.doc_id, sum(CASE WHEN f.c < 2 THEN 1 ELSE 0 END)
                > 0.5 * count(*) AS hr
         FROM grams gr JOIN freq f USING (g) GROUP BY gr.doc_id)
SELECT source, count(*) FROM scrub s LEFT JOIN risk r USING (doc_id)
WHERE NOT COALESCE(hr, FALSE) GROUP BY source
"""
        ).fetchall()
    )
    raw = dict(
        duckdb.sql(
            f"SELECT source, count(*) FROM"
            f" read_parquet('{sf}/documents.parquet') GROUP BY source"
        ).fetchall()
    )
    assert set(out) == set(raw)  # every source released
    bound = math.log(2**51) + 1e-9
    for src, r in out.items():
        assert abs(r.n_docs_noisy - kept[src]) <= bound, (src, r, kept[src])
    # the gate is live: fewer docs survive than exist
    assert sum(kept.values()) < sum(raw.values()) - 10


def test_stream_dp_release_budget_ledger(spark, q):
    """Continual-observation DP: 3 batches x 5 priorities each release
    a noisy count with a fresh (group, batch) seed, and the ledger's
    cumulative epsilon is exactly 0.5 x batch. Each release sits
    within the Laplace worst case of its batch's exact count, and
    noise draws differ across batches for the same group (fresh seeds
    — reusing one would compose to nothing)."""
    import math

    import duckdb

    sf = "/root/testdata/sf0.01"
    out = rows(q, spark, sf, "stream_dp_release")
    assert len(out) == 15  # 3 batches x 5 priorities
    exact = {
        (b, p): n
        for p, b, n in duckdb.sql(
            f"SELECT o_orderpriority, o_orderkey % 3 + 1, count(*) FROM"
            f" read_parquet('{sf}/orders.parquet') GROUP BY 1, 2"
        ).fetchall()
    }
    bound = (1 / 0.5) * (math.log(2**51) + 1e-9)
    draws = {}
    for r in out:
        assert r.eps_spent == round(0.5 * r.batch, 4)
        d = r.n_noisy - exact[(r.batch, r.prio)]
        assert d != 0 and abs(d) <= bound, (r, exact[(r.batch, r.prio)])
        draws.setdefault(r.prio, set()).add(round(d, 4))
    for prio, ds in draws.items():
        assert len(ds) == 3, (prio, ds)  # fresh noise per batch


def test_theta_rollup_merge_exact_and_error_band(spark, q):
    """Bottom-k rollup merge is EXACT (bottom-k of the monthly
    bottom-ks IS the period bottom-k — set identity, not
    approximation), and the NDV estimate stays in the ~1/sqrt(k-2)
    band at every SF."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        (r,) = rows(q, spark, sf, "sketch_theta_rollup")
        assert r.merged_equals_direct, sf
        assert r.n_months == 80
        assert r.rel_err <= 0.3, (sf, r.est, r.n_exact)
