"""Weak-scaling blow-up sweep for the RELATIONAL headline keys.

The native SF ladder (sf0.001/0.01/0.1) cannot resolve per-row cost for
these keys: measured times sit on a ~0.2-0.9 s fixed session/JIT floor
and barely move across 100x data (the raw table is quoted in
SCALING.md). So — same method as the documents/embeddings 100x smoke
(scripts/scale_smoke.py) — this script blows the sf0.1 FACT tables up
1x/10x/30x with per-copy key shifts and re-times the registered queries
through the registry itself (the fixtures are materialized to /tmp
parquet dirs laid out like an sf dir, dims symlinked unblown — fact
grows, dims fixed, the realistic direction).

Key shifts keep the workload weak-scaling instead of skew-manufacturing:
each copy's l_orderkey/o_orderkey/user_id/event_id moves to a disjoint
range, so joins and windows gain k x GROUPS of unchanged size rather
than k x bigger hot groups.

Linearity test: marginal ratio (t30 - t1) / (t10 - t1) against the data
ratio 29/9 = 3.22. A linear plan lands near 3.2 (the t1 subtraction
removes the fixed floor); a quadratic one lands near 89/9 = 9.9.

Usage: python scripts/sf_sweep.py [reps]   (default 2)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries  # noqa: E402
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
ROOT = "/tmp/sweep_blow"
MULTS = [1, 10, 30]
SHIFT = 100_000_000

KEYS = [
    "join_eq3",           # dim join + fact-fact join + agg
    "agg_percentile",     # exact per-group percentile (lineitem)
    "xform_quantile_bin", # range-partition prefix-sum binning (orders)
    "sessionize",         # gap sessionization (events window)
    "funnel_stages",      # conversion funnel (events)
    "cohort_retention",   # cohort x week matrix (events)
]

# fact table -> columns shifted per copy (disjoint key ranges per copy)
BLOWN = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id", "user_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part",
        "documents", "embeddings"]


def build(spark, k: int) -> str:
    out = f"{ROOT}/m{k}"
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    for t in DIMS:
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    for t, shift_cols in BLOWN.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = []
        for i in range(k):
            c = base
            for col in shift_cols:
                c = c.withColumn(col, F.col(col) + F.lit(i * SHIFT))
            copies.append(c)
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    if os.path.isdir(ROOT):
        shutil.rmtree(ROOT)
    spark = get_spark()
    qs = all_queries()
    dirs = {k: build(spark, k) for k in MULTS}

    # warm-up: compile codegen outside the timed region
    for key in KEYS:
        qs[key].fn(spark, dirs[1]).write.format("noop").mode("overwrite").save()
    release_pins(spark)

    times: dict[str, dict[int, float]] = {k: {} for k in KEYS}
    for k in MULTS:
        for key in KEYS:
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                qs[key].fn(spark, dirs[k]).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                release_pins(spark)
            times[key][k] = best

    dr = (MULTS[2] - MULTS[0]) / (MULTS[1] - MULTS[0])
    print(f"| key | t_1x | t_10x | t_30x | marginal (t30-t1)/(t10-t1) "
          f"| linear={dr:.2f} |")
    print("|---|---|---|---|---|---|")
    for key in KEYS:
        t = times[key]
        denom = t[10] - t[1]
        marg = (t[30] - t[1]) / denom if denom > 0.05 else float("nan")
        verdict = ("n/a (flat)" if marg != marg else
                   "linear-ish" if marg <= dr * 1.4 else
                   f"SUPRALINEAR ({marg / dr:.1f}x)")
        print(f"| {key} | {t[1]:.2f} | {t[10]:.2f} | {t[30]:.2f} "
              f"| {marg:.2f} | {verdict} |")
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
