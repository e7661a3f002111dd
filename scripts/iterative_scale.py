"""Scale smoke for the iterative family: BPE training and PageRank.

The claim to verify is STRUCTURAL, not wall-clock: after the one
corpus-sized word-count pass, every BPE merge round runs on the
word-frequency table, whose size is the DISTINCT-word count — so corpus
replication (x10/x50/x100, same vocabulary, bigger counts) must leave
vocab size and per-round wall time flat while only the word-count pass
grows. Plain replication is the RIGHT fixture here (unlike
scale_smoke.py's suffix-disjoint copies): BPE statistics scale counts,
and identical vocab across multipliers isolates the round cost.

PageRank analogue: the per-round cost is edge-table-bound, node-state
tiny; multiplying PARALLEL edges (duplicated edge rows change outdeg
weights but not table sizes after distinct -> we instead scale the raw
pre-distinct edge stream) shows the distinct/groupBy absorbing the
blow-up in the build pass while rounds stay node/edge-bound.

Usage: python scripts/iterative_scale.py [sf_dir] [multipliers...]
Prints a markdown table to append to SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    pin,
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.operators.bpe import (  # noqa: E402
    bpe_train,
    word_frequencies,
)
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MULTS = [int(a) for a in sys.argv[2:]] or [1, 10, 50, 100]


def main() -> None:
    spark = get_spark()
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    print("| mult | docs | wordcount sec | vocab | 6-round train sec |")
    print("|---|---|---|---|---|")
    for k in MULTS:
        corpus = base
        for _ in range(k - 1):
            corpus = corpus.unionAll(base)
        corpus = corpus.repartition(32)
        n_docs = corpus.count()

        t0 = time.perf_counter()
        words = pin(word_frequencies(corpus, "text"), label="iter_scale_words")
        t_wc = time.perf_counter() - t0
        vocab = words.count()

        t0 = time.perf_counter()
        bpe_train(words, merges=6).write.format("noop").mode("overwrite").save()
        t_train = time.perf_counter() - t0

        print(
            f"| {k}x | {n_docs:,} | {t_wc:.2f} | {vocab} | {t_train:.2f} |",
            flush=True,
        )
        release_pins(spark)

    pagerank_scale(spark)


def pagerank_scale(spark) -> None:
    """Graph blow-up: k disjoint copies of the nation trade graph
    (node ids offset per copy), so nodes AND edges scale by k while the
    per-round plan is unchanged — wall time per round should grow
    sub-linearly (shuffles are tiny; job overhead dominates locally)
    and the rank table stays the only inter-round state."""
    import time as _t

    from airbnb_listings_reviews_data_engineering_spark.operators.graph import (
        pagerank_fixed,
    )

    base_edges = spark.createDataFrame(
        [(a, (a * 7 + b) % 25) for a in range(25) for b in range(1, 5)],
        "src long, dst long",
    )
    print("\n| copies | nodes | edges | 3-round pagerank sec |")
    print("|---|---|---|---|")
    for k in (1, 100, 1000):
        edges = (
            spark.range(k)
            .crossJoin(F.broadcast(base_edges))
            .select(
                (F.col("src") + F.col("id") * 25).alias("src"),
                (F.col("dst") + F.col("id") * 25).alias("dst"),
            )
            .repartition(32)
            .localCheckpoint(eager=True)
        )
        nodes = spark.range(25 * k).select(F.col("id"))
        t0 = _t.perf_counter()
        pagerank_fixed(nodes, edges, iters=3, pin_rounds=False).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = _t.perf_counter() - t0
        print(f"| {k} | {25 * k:,} | {100 * k:,} | {dt:.2f} |", flush=True)
        release_pins(spark)


if __name__ == "__main__":
    main()
