"""Measured quality of DF-capped "distinctive" containment vs the
exhaustive containment spec (the same evidence pattern as
scripts/dedup_quality.py: the approximation's oracle encodes the same
approximation, so quality has to be measured against the unrestricted
ground truth separately).

Corpus: sf documents plus one QUOTING variant per doc_id % 5 == 0 — the
variant is a shared 20-token boilerplate preamble followed by the full
original text (the crawl reality: wrapper pages quoting whole
documents, all sharing navigation boilerplate). Ground truth = directed
exhaustive containment >= 0.8 over ALL shingles (df_cap=None,
quadratic in boilerplate df — measurement-only). Probe = the registered
df_cap=10 operator. Also recorded: the candidate posting-pair volume
each one feeds the pair join, which is WHY the cap exists.

Usage: python scripts/containment_quality.py [sf_dir]
Updates the marker-delimited section of SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.operators.dedup import (  # noqa: E402
    containment_pairs,
    with_shingles,
)
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

START = "<!-- CONTAINMENT_QUALITY_START -->"
END = "<!-- CONTAINMENT_QUALITY_END -->"

BOILERPLATE = " ".join(f"nav{i}" for i in range(20))


def quoting_corpus(spark, sf_dir: str):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    variants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit(BOILERPLATE + " "), F.col("text")).alias("text"),
    )
    return docs.unionByName(variants)


def posting_pair_volume(spark, corpus, df_cap):
    sh = with_shingles(corpus.select("doc_id", "text"), "text").select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("g")
    )
    dfc = sh.groupBy("g").agg(F.count("*").alias("df"))
    if df_cap is not None:
        dfc = dfc.filter(F.col("df") <= df_cap)
    row = dfc.agg(
        F.sum(F.col("df") * (F.col("df") - 1)).alias("pairs")
    ).collect()[0]
    return int(row.pairs or 0)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    corpus = quoting_corpus(spark, sf_dir).localCheckpoint(eager=True)
    n_docs = corpus.count()

    t0 = time.perf_counter()
    truth = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(corpus, df_cap=None).collect()
    }
    t_truth = time.perf_counter() - t0
    release_pins(spark)

    vol_ex = posting_pair_volume(spark, corpus, None)
    rows = []
    for cap in (10, 20, 50):
        t0 = time.perf_counter()
        probe = {
            (r.doc_a, r.doc_b)
            for r in containment_pairs(corpus, df_cap=cap).collect()
        }
        t_probe = time.perf_counter() - t0
        release_pins(spark)
        tp = len(truth & probe)
        prec = tp / len(probe) if probe else 1.0
        rec = tp / len(truth) if truth else 1.0
        vol = posting_pair_volume(spark, corpus, cap)
        rows.append(
            f"| df_cap={cap} | {len(probe):,} | {prec:.4f} | {rec:.4f} "
            f"| {vol:,} | {vol_ex / max(vol, 1):,.0f}x | {t_probe:.1f} |"
        )

    lines = [
        START,
        "## Distinctive (DF-capped) containment vs the exhaustive spec",
        "",
        f"{n_docs:,} docs ({sf_dir} + a quoting variant per doc_id%5==0:",
        "20-token shared boilerplate preamble + full original text),",
        "threshold 0.8, 3-gram shingles"
        " (scripts/containment_quality.py):",
        "",
        "| variant | pairs | precision | recall | posting pair rows | pruning | wall sec |",
        "|---|---|---|---|---|---|---|",
        f"| exhaustive (ground truth) | {len(truth):,} | 1 | 1 "
        f"| {vol_ex:,} | 1x | {t_truth:.1f} |",
        *rows,
        "",
        "Recall loss comes only from true pairs whose shared shingles all",
        "exceed the cap (this corpus is adversarially shingle-dense: a",
        "~31-word vocabulary, so natural df is high); the boilerplate",
        "preamble (df = #variants) is dropped at every cap — it generates",
        "the quadratic posting mass and carries none of the true pairs.",
        "'False' positives are the defined semantics difference: with",
        "common shingles out of the DENOMINATOR, distinctive containment",
        "legitimately scores diluted-but-fully-quoted content higher than",
        "the exhaustive ratio does. Floors pinned by",
        "tests/test_dedup_quality.py::test_containment_floors.",
        END,
    ]
    text = "\n".join(lines)
    with open(os.path.join(REPO, "SCALING.md")) as f:
        doc = f.read()
    if START in doc:
        pre = doc.split(START)[0]
        post = doc.split(END)[1]
        doc = pre + text + post
    else:
        doc = doc.rstrip() + "\n\n" + text + "\n"
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(doc)
    print(text)


if __name__ == "__main__":
    main()
