"""Connected-components round-count sweep: alternating-star vs
min-label propagation on a chain-shaped pair graph (VERDICT r8 #2).

The chain is the adversarial near-dup shape — sliding-window chunking
makes doc i overlap doc i+1, so the pair graph is a path and its
DIAMETER grows linearly with the corpus. Label propagation needs
~diameter rounds (each round moves the min label one hop); the
alternating large-star/small-star contraction (Kiveris et al., SoCC
2014) needs O(log n) — so on a chain the round count, not the data
size, is what separates the two at scale. Node ids are permuted so the
min's eccentricity is generic, not end-of-chain.

Usage: python scripts/cc_scale.py [chain lengths...]
Prints a markdown table to append to SCALING.md. Label propagation is
only run where its round count stays affordable (<= LP_CAP rounds);
beyond that the row shows the implied round count (= eccentricity of
the min-id node) with wall-clock marked n/a.
"""

from __future__ import annotations

import random
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.operators import dedup as D  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

NS = [int(a) for a in sys.argv[1:]] or [32, 128, 512, 4096]
LP_CAP = 200


def chain(n: int, seed: int = 9):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)], ids


def main() -> None:
    spark = get_spark()
    print("| chain n | star rounds | star sec | labelprop rounds | labelprop sec |")
    print("|---|---|---|---|---|")
    for n in NS:
        edges, ids = chain(n)
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        t0 = time.monotonic()
        out = {r.node: r.component for r in D.connected_components(pairs).collect()}
        star_sec = time.monotonic() - t0
        star_rounds = D.LAST_CC_ROUNDS
        release_pins(spark)
        assert set(out.values()) == {0} and len(out) == n, f"star wrong at n={n}"

        # eccentricity of node id 0 on the path = rounds labelprop needs
        pos0 = ids.index(0)
        lp_need = max(pos0, n - 1 - pos0)
        if lp_need <= LP_CAP:
            t0 = time.monotonic()
            out2 = {
                r.node: r.component
                for r in D.connected_components_labelprop(
                    pairs, max_iter=lp_need + 2
                ).collect()
            }
            lp_sec = f"{time.monotonic() - t0:.1f}"
            lp_rounds = str(D.LAST_CC_ROUNDS)
            release_pins(spark)
            assert out2 == out, f"labelprop != star at n={n}"
        else:
            lp_sec, lp_rounds = "n/a", f"~{lp_need} (implied)"
        print(f"| {n} | {star_rounds} | {star_sec:.1f} | {lp_rounds} | {lp_sec} |")


if __name__ == "__main__":
    main()
