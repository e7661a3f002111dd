"""Weak-scaling probe for the streaming-admission family (VERDICT r10 #6).

The stream_admission_{e2e,embedding,span} design rests on one claim:
per-micro-batch cost is governed by the BATCH, not by the size of the
standing index the batch probes — i.e. the admitted corpus can grow
10x and the admission loop's per-batch latency stays (near-)flat,
because each probe is a keyed equi-join against the index (band key /
LSH bucket / gram hash), never an index rescan.

This script measures that directly: for each modality it builds the
standing index from a 1x and a 10x blown-up corpus (scale_smoke's
per-copy-tag construction, so duplicate structure scales honestly),
materializes the index as parquet (the production shape — the probe
reads the index from disk, its build cost is NOT in the timed region),
then times the SAME fixed micro-batch's probe+decision against each.

Flat = t(10x)/t(1x) far below the 10x index ratio. Output is the table
SCALING.md's round-11 section quotes.

Usage: python scripts/admission_scale.py [sf_dir] [mult ...]  (default sf0.1 1 10)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from airbnb_listings_reviews_data_engineering_spark.checkpoint import (  # noqa: E402
    release_pins,
)
from airbnb_listings_reviews_data_engineering_spark.functions.arrays import (  # noqa: E402
    as_double_array,
)
from airbnb_listings_reviews_data_engineering_spark.operators import (  # noqa: E402
    similarity as S,
)
from airbnb_listings_reviews_data_engineering_spark.operators.dedup import (  # noqa: E402
    embedding_near_dup_join,
    minhash_signature,
    positional_gram_index,
    span_excise_against_index,
)
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scale_smoke import blowup_docs, blowup_embeddings  # noqa: E402

WORK = "/tmp/airbnb_admission_scale"


def _stage(df, name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    df.write.parquet(path)
    return path


def _probe_minhash(spark, idx_path: str, batch) -> float:
    idx = spark.read.parquet(idx_path)
    sig = minhash_signature(batch, "in_id", "text")
    hcols = [f"h{j}" for j in range(8)]

    def band_keys(s, idc):
        bands = [
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"h{b * 2}").alias("k0"),
                F.col(f"h{b * 2 + 1}").alias("k1"),
            )
            for b in range(4)
        ]
        return s.select(F.col(idc), *hcols, F.explode(F.array(*bands)).alias("bk"))

    a = band_keys(sig, "in_id").alias("a")
    b = band_keys(idx, "doc_id").alias("b")
    agree = sum(
        F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        for j in range(8)
    )
    hits = (
        a.join(b, F.col("a.bk") == F.col("b.bk"))
        .select(F.col("a.in_id").alias("in_id"),
                F.round(agree / F.lit(8.0), 4).alias("est"))
        .filter(F.col("est") >= 0.5)
        .select("in_id").distinct()
    )
    t0 = time.perf_counter()
    hits.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _probe_embedding(spark, idx_path: str, batch, planes) -> float:
    idx = spark.read.parquet(idx_path)
    bk = S.with_lsh_bucket(batch, "in_id", "v", planes, "pid", 8)
    hits = (
        embedding_near_dup_join(
            bk.withColumnRenamed("in_id", "vec_id"), idx,
            "vec_id", "v", "bucket", threshold=0.99,
        )
        .select(F.col("batch_id").alias("in_id")).distinct()
    )
    t0 = time.perf_counter()
    hits.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _probe_span(spark, idx_path: str, batch) -> float:
    idx = spark.read.parquet(idx_path)
    exc = span_excise_against_index(
        batch.select("in_id", "text"), idx, "in_id", n=6
    )
    t0 = time.perf_counter()
    exc.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(m) for m in sys.argv[2:]] or [1, 10]
    spark = get_spark()
    os.makedirs(WORK, exist_ok=True)

    base_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    planes = base_emb.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").cast("int").alias("pid"), "v"
    )

    # FIXED micro-batches, identical at every index scale: half
    # near-dups of the base corpus (probe hits), half novel
    batch_docs = base_docs.filter(F.col("doc_id") % 21 == 0).select(
        (F.col("doc_id") + 90_000_000).alias("in_id"),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    ).unionByName(
        base_docs.filter(F.col("doc_id") % 23 == 0).select(
            (F.col("doc_id") + 91_000_000).alias("in_id"),
            F.concat_ws(
                " ",
                F.expr("transform(split(text, ' '), t -> concat('zq', t))"),
            ).alias("text"),
        )
    )
    batch_docs.write.mode("overwrite").parquet(os.path.join(WORK, "batch_docs"))
    batch_docs = spark.read.parquet(os.path.join(WORK, "batch_docs"))
    batch_emb = base_emb.filter(F.col("vec_id") % 21 == 0).select(
        (F.col("vec_id") + 90_000_000).alias("in_id"),
        F.concat(F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, 63)).alias("v"),
    ).unionByName(
        base_emb.filter(F.col("vec_id") % 23 == 0).select(
            (F.col("vec_id") + 91_000_000).alias("in_id"),
            F.transform("v", lambda x: -x).alias("v"),
        )
    )
    batch_emb.write.mode("overwrite").parquet(os.path.join(WORK, "batch_emb"))
    batch_emb = spark.read.parquet(os.path.join(WORK, "batch_emb"))

    n_batch = batch_docs.count()
    print(f"fixed micro-batch: {n_batch} docs / {batch_emb.count()} vectors")
    rows = []
    for k in mults:
        docs_k = blowup_docs(spark, sf_dir, k)
        emb_k = blowup_embeddings(spark, sf_dir, k).select(
            "vec_id", as_double_array("embedding").alias("v")
        )
        mh_path = _stage(minhash_signature(docs_k, "doc_id", "text"), f"mh_{k}x")
        eb_path = _stage(
            S.with_lsh_bucket(emb_k, "vec_id", "v", planes, "pid", 8).select(
                "vec_id", "v", "bucket"
            ),
            f"eb_{k}x",
        )
        sp_path = _stage(positional_gram_index(docs_k, n=6), f"sp_{k}x")
        sizes = {
            "minhash": spark.read.parquet(mh_path).count(),
            "embedding": spark.read.parquet(eb_path).count(),
            "span": spark.read.parquet(sp_path).count(),
        }
        release_pins(spark)
        t = {}
        for name, fn, args in (
            ("minhash", _probe_minhash, (spark, mh_path, batch_docs)),
            ("embedding", _probe_embedding, (spark, eb_path, batch_emb, planes)),
            ("span", _probe_span, (spark, sp_path, batch_docs)),
        ):
            best = min(fn(*args) for _ in range(2))
            release_pins(spark)
            t[name] = best
        for name in ("minhash", "embedding", "span"):
            rows.append((name, k, sizes[name], t[name]))
            print(f"{name:10s} {k:3d}x index={sizes[name]:>9,} rows "
                  f"probe={t[name]:.2f}s")

    print("\n| modality | index scale | index rows | probe sec | ratio vs 1x |")
    print("|---|---|---|---|---|")
    base_t = {name: t for name, k, _, t in rows if k == mults[0]}
    for name, k, n, t in rows:
        print(f"| {name} | {k}x | {n:,} | {t:.2f} | "
              f"{t / base_t[name]:.2f}x |")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
