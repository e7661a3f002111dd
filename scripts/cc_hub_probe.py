"""Hub-skew probe for star-contraction connected components
(VERDICT r9 #6): a mega-component's star center concentrates its whole
neighborhood on ONE join key in ``sym.join(mins, "a")`` — this script
measures whether that key-concentration dominates wall-clock, on the
two adversarial single-component shapes plus the balanced control:

- hub0:   star center IS the component min (node 0 — every round's
          large-star keeps the full neighborhood on the hub's key;
          the shape a converged mega-dedup-cluster has forever)
- hubmid: star center is a mid-id node (large-star round 1 rewires
          every larger neighbor to the hub's min neighbor — skew
          TRANSFERS to the new center instead of dissolving)
- chain:  the diameter adversary (cc_scale.py's shape, here at corpus
          scale — one component, no hub)
- uniform: same edge count, bounded degree (ring + chords) — the
          no-skew control

All graphs are ONE component, so any wall-clock gap between the hub
shapes and the control at equal |E| is the single-task key cost. The
session runs with AQE skew-join enabled (session.py) — a hub key past
the skew threshold is split automatically; salting by hand is only
warranted if these numbers show the hub shapes pulling away.

Usage: python scripts/cc_hub_probe.py [n_edges...]
Prints a markdown table for SCALING.md.
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

NS = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]


def edges_for(shape: str, n: int):
    if shape == "hub0":
        return [(0, i) for i in range(1, n + 1)]
    if shape == "hubmid":
        h = n // 2
        return [(h, i) for i in range(n + 1) if i != h]
    if shape == "chain":
        ids = list(range(n + 1))
        random.Random(9).shuffle(ids)
        return [(ids[i], ids[i + 1]) for i in range(n)]
    if shape == "uniform":
        # ring (connected, degree 2) + deterministic chords (degree <=
        # ~4): one component, max degree bounded
        rng = random.Random(7)
        ring = [(i, (i + 1) % (n // 2 + 1)) for i in range(n // 2 + 1)]
        chords = [
            (rng.randrange(n // 2), rng.randrange(n // 2))
            for _ in range(n - len(ring))
        ]
        return ring + chords
    raise ValueError(shape)


def main() -> None:
    spark = get_spark()
    print("| shape | edges | rounds | wall sec | one component |")
    print("|---|---|---|---|---|")
    for n in NS:
        for shape in ("hub0", "hubmid", "chain", "uniform"):
            pairs = spark.createDataFrame(
                edges_for(shape, n), "doc_a long, doc_b long"
            ).repartition(32)
            t0 = time.monotonic()
            comps = (
                D.connected_components(pairs, max_iter=40)
                .select("component")
                .distinct()
                .count()
            )
            sec = time.monotonic() - t0
            rounds = D.LAST_CC_ROUNDS
            release_pins(spark)
            print(
                f"| {shape} | {n} | {rounds} | {sec:.2f} |"
                f" {'yes' if comps == 1 else 'NO: ' + str(comps)} |"
            )


if __name__ == "__main__":
    main()
