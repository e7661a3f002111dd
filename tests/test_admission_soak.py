"""Long-horizon admission soak regression (VERDICT r11 #4).

scripts/admission_soak.py is the SCALING.md experiment (20 batches at
sf0.1, both modalities); this test drives the same loop at gate scale
so the soak invariants are enforced every round:

- additive growth is a HARD ASSERT inside run_soak (rows after append
  == rows before + admitted count, every batch, both modalities);
- every planted near-dup is rejected and every novel doc admitted;
- per-batch probe latency does not systematically creep (weak bound —
  CI boxes are noisy; the strong flatness statement lives in
  SCALING.md with its committed log).
"""

from __future__ import annotations

import importlib.util
import shutil
import statistics

import pytest
from conftest import REPO_ROOT


@pytest.fixture(scope="module")
def soak():
    spec = importlib.util.spec_from_file_location(
        "admission_soak", REPO_ROOT / "scripts" / "admission_soak.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_admission_soak_20_batches_minhash(soak, spark, tmp_path):
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    work = str(tmp_path / "soak")
    rows = soak.run_soak(
        spark, docs, "minhash", soak.mh_build_index,
        soak.mh_probe_and_admit, soak.mh_append, 20, work,
    )
    shutil.rmtree(work, ignore_errors=True)
    assert len(rows) == 20
    # 500 docs / stride 40 -> 12-13 near-dups and 12-13 novels per batch
    for r in rows:
        assert 10 <= r["n_reject"] <= 15  # every near-dup caught
        assert 10 <= r["admitted_rows"] <= 15  # every novel admitted
    # signature index grew by exactly the admissions (also hard-asserted
    # inside run_soak after every append)
    assert rows[-1]["index_rows"] + rows[-1]["admitted_rows"] == 500 + sum(
        r["admitted_rows"] for r in rows
    )
    # file-per-batch growth is the shape a streaming sink produces
    assert rows[-1]["index_files"] >= 20
    # weak latency bound: last-5 median under 3x first-5 median (the
    # strong flatness claim is SCALING.md's, measured on a quiet box)
    probes = [r["probe_sec"] for r in rows]
    assert statistics.median(probes[-5:]) < 3 * statistics.median(probes[:5])


def test_admission_soak_rejects_are_the_planted_neardups(soak, spark, tmp_path):
    """Decision correctness, not just counts: the reject id set must be
    exactly the near-dup id namespace (+1e6 block), the admit set
    exactly the novel namespace (+1.5e6 block)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    work = str(tmp_path / "soak2")
    idx = f"{work}/idx_minhash"
    soak.mh_build_index(docs, idx)
    batch = soak.make_batch(docs, 3, 20)
    rejects, admitted = soak.mh_probe_and_admit(spark, idx, batch)
    rej = {r["doc_id"] for r in rejects.collect()}
    adm = {r["doc_id"] for r in admitted.select("doc_id").collect()}
    shutil.rmtree(work, ignore_errors=True)
    assert rej and adm
    assert all(4_000_000 <= i < 4_500_000 for i in rej), sorted(rej)[:5]
    assert all(4_500_000 <= i < 5_000_000 for i in adm), sorted(adm)[:5]
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert rej | adm == batch_ids and not (rej & adm)
