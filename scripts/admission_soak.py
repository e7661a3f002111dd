"""Long-horizon admission soak (VERDICT r11 #4).

The weak-scaling table (scripts/admission_scale.py, SCALING.md r11)
proves a 10x standing index keeps a single probe flat. This script
proves the ORTHOGONAL claim a production admission loop needs: across a
realistic horizon of sequential micro-batches (default 20), with every
batch's ADMITTED documents appended back into the standing index,

  (a) per-batch probe latency stays flat — no creep from accumulated
      state, growing file counts, or planner degradation, and
  (b) index growth is exactly additive — rows(b+1) = rows(b) +
      admitted(b), i.e. the append-back path neither drops nor
      duplicates admissions.

Two modalities run the soak, covering both standing-index shapes:
  - minhash: banded signature index, batch probes by band equi-join
    (stream_dedup_minhash's shape);
  - span: positional-gram posting index, batch probes by gram-hash
    equi-join (stream_dedup_span's shape).

Each micro-batch is a deterministic slice of the corpus: half NEAR-DUP
variants of standing docs (must be rejected by the probe) and half
novel documents (token-mangled — must be admitted and appended). Every
append lands as ONE parquet file (coalesce(1)) — the file-per-batch
growth a streaming sink produces, which is exactly the long-horizon
cost this soak watches for.

Usage: python scripts/admission_soak.py [sf_dir] [n_batches]
       (default /root/testdata/sf0.1 20)
Output: a per-batch markdown table per modality + a flatness summary
(median probe of the last 5 batches vs the first 5).
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
from airbnb_listings_reviews_data_engineering_spark.operators.dedup import (  # noqa: E402
    minhash_signature,
    positional_gram_index,
)
from airbnb_listings_reviews_data_engineering_spark.session import get_spark  # noqa: E402

WORK = "/tmp/airbnb_admission_soak"


def make_batch(docs, b: int, n_batches: int):
    """Deterministic micro-batch b: the doc_id % (2*n_batches) == b and
    == b + n_batches slices, the first as near-dup variants (drop the
    leading word — probe must reject), the second as novel docs (every
    token prefixed with a batch-tagged nonce — probe must admit)."""
    stride = 2 * n_batches
    near = docs.filter(F.col("doc_id") % stride == b).select(
        (F.col("doc_id") + (b + 1) * 1_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % stride == b + n_batches).select(
        (F.col("doc_id") + (b + 1) * 1_000_000 + 500_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr(f"transform(split(text, ' '), t -> concat('zq{b}x', t))"),
        ).alias("text"),
    )
    return near.unionByName(novel)


# --- modality: minhash banded signatures -------------------------------------


def mh_build_index(docs, path: str) -> None:
    minhash_signature(docs, "doc_id", "text").write.mode("overwrite").parquet(
        path
    )


def mh_probe_and_admit(spark, idx_path: str, batch):
    """(reject_ids DataFrame, admitted signature frame). Band-key
    equi-join against the standing signature index; agreement >= 0.5
    rejects (stream_dedup_minhash's decision rule)."""
    idx = spark.read.parquet(idx_path)
    sig = minhash_signature(batch, "doc_id", "text")
    hcols = [f"h{j}" for j in range(8)]

    def band_keys(s):
        bands = [
            F.struct(
                F.lit(bb).alias("band"),
                F.col(f"h{bb * 2}").alias("k0"),
                F.col(f"h{bb * 2 + 1}").alias("k1"),
            )
            for bb in range(4)
        ]
        return s.select(
            "doc_id", *hcols, F.explode(F.array(*bands)).alias("bk")
        )

    a = band_keys(sig).alias("a")
    bnd = band_keys(idx).alias("b")
    agree = sum(
        F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        for j in range(8)
    )
    rejects = (
        a.join(bnd, F.col("a.bk") == F.col("b.bk"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.round(agree / F.lit(8.0), 4).alias("est"),
        )
        .filter(F.col("est") >= 0.5)
        .select("doc_id")
        .distinct()
    )
    admitted_sig = sig.join(rejects, "doc_id", "left_anti")
    return rejects, admitted_sig


def mh_append(admitted_sig, idx_path: str) -> None:
    admitted_sig.coalesce(1).write.mode("append").parquet(idx_path)


# --- modality: positional-gram span postings ----------------------------------


def span_build_index(docs, path: str) -> None:
    positional_gram_index(docs, n=6).write.mode(
        "overwrite"
    ).parquet(path)


def _batch_grams(batch, n: int = 6):
    """(doc_id, h) distinct 6-gram hash60 rows for a micro-batch —
    the per-doc form of positional_gram_index's corpus membership set."""
    from airbnb_listings_reviews_data_engineering_spark.functions.hashing import (
        hash60_spark_sql,
    )

    gram_h = hash60_spark_sql(f"concat_ws(' ', slice(w, i + 1, {n}))")
    return (
        batch.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(slice(w, 1, greatest(size(w) - {n - 1}, 0)),"
                    f" (x, i) -> {gram_h})"
                )
            ).alias("h"),
        )
        .distinct()
    )


def span_probe_and_admit(spark, idx_path: str, batch):
    """Gram-hash equi-join against the standing membership index: a
    batch doc sharing >= 3 distinct 6-gram hashes with the admitted
    corpus is rejected (dedup_shared_spans' detection rule applied as
    admission control). Admitted docs contribute only their NEW gram
    hashes back (anti-join keeps the index an exact set, so additive
    row growth == new distinct grams)."""
    idx = spark.read.parquet(idx_path)
    grams = _batch_grams(batch)
    hits = (
        grams.join(idx, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
    )
    admitted_grams = (
        grams.join(hits, "doc_id", "left_anti")
        .select("h")
        .distinct()
        .join(idx, "h", "left_anti")
    )
    return hits, admitted_grams


def span_append(admitted_grams, idx_path: str) -> None:
    admitted_grams.coalesce(1).write.mode("append").parquet(idx_path)


# --- soak loop -----------------------------------------------------------------


def run_soak(
    spark, docs, name: str, build, probe_and_admit, append,
    n_batches: int, workdir: str,
) -> list[dict]:
    idx_path = os.path.join(workdir, f"idx_{name}")
    build(docs, idx_path)
    rows = []
    expected = spark.read.parquet(idx_path).count()
    for b in range(n_batches):
        batch = make_batch(docs, b, n_batches)
        n_index = spark.read.parquet(idx_path).count()
        assert n_index == expected, (
            f"{name} batch {b}: index rows {n_index} != expected {expected}"
            " (append-back not additive)"
        )
        t0 = time.perf_counter()
        rejects, admitted = probe_and_admit(spark, idx_path, batch)
        n_reject = rejects.count()
        t_probe = time.perf_counter() - t0
        # additive-growth proof: the index after append must hold
        # EXACTLY old rows + the admitted frame's row count (no drops,
        # no duplicates) — counted before the write, asserted after
        n_admitted_rows = admitted.count()
        t0 = time.perf_counter()
        append(admitted, idx_path)
        t_append = time.perf_counter() - t0
        n_after = spark.read.parquet(idx_path).count()
        assert n_after == n_index + n_admitted_rows, (
            f"{name} batch {b}: {n_index} + {n_admitted_rows} admitted "
            f"!= {n_after} after append"
        )
        expected = n_after
        n_files = sum(
            1 for f in os.listdir(idx_path) if f.endswith(".parquet")
        )
        rows.append(
            {
                "batch": b,
                "index_rows": n_index,
                "probe_sec": round(t_probe, 3),
                "append_sec": round(t_append, 3),
                "n_reject": n_reject,
                "admitted_rows": n_admitted_rows,
                "index_files": n_files,
            }
        )
        release_pins(spark)
        print(
            f"{name} [{b + 1:2d}/{n_batches}] index={n_index:>9,} "
            f"files={n_files:>3} probe={t_probe:5.2f}s "
            f"append={t_append:5.2f}s rejects={n_reject:>4} "
            f"admitted_rows={n_admitted_rows:>7,}",
            flush=True,
        )
    return rows


def summarize(name: str, rows: list[dict]) -> None:
    import statistics

    probes = [r["probe_sec"] for r in rows]
    first5 = statistics.median(probes[:5])
    last5 = statistics.median(probes[-5:])
    growth = rows[-1]["index_rows"] - rows[0]["index_rows"]
    print(f"\n### {name} soak ({len(rows)} batches)")
    print("| batch | index rows | files | probe s | append s | rejects | admitted rows |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['batch']} | {r['index_rows']:,} | {r['index_files']} "
            f"| {r['probe_sec']:.2f} | {r['append_sec']:.2f} "
            f"| {r['n_reject']} | {r['admitted_rows']:,} |"
        )
    print(
        f"\nflatness: median probe first-5 {first5:.2f}s -> last-5 "
        f"{last5:.2f}s ({last5 / first5:.2f}x) over +{growth:,} index rows; "
        f"growth additive: verified every batch (hard assert)"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    all_rows = {}
    all_rows["minhash"] = run_soak(
        spark, docs, "minhash", mh_build_index, mh_probe_and_admit,
        mh_append, n_batches, WORK,
    )
    all_rows["span"] = run_soak(
        spark, docs, "span", span_build_index, span_probe_and_admit,
        span_append, n_batches, WORK,
    )
    for name, rows in all_rows.items():
        summarize(name, rows)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
