"""bench.py's output contract: the final line fits a 2000-char stdout
tail, and a real run writes the per-key sidecar with job counts."""

from __future__ import annotations

import json

import pytest

import bench


def test_final_line_fits_tail_with_integer_timings():
    # integer-valued seconds serialize as "3.0", one char wider than the
    # 2dp text "3" — the line must be sized by what json.dumps writes
    timings = {k: float(i % 9 + 1) for i, k in enumerate(bench.HEADLINE)}
    assert len(timings) == 91
    line = bench.final_line(timings, 0.1, bench.SIDECAR)
    assert line.endswith("\n") and line.count("\n") == 1
    assert len(line) <= 2000  # the kept stdout tail, newline included
    out = json.loads(line)
    kept = list(out["queries"])
    assert [timings[k] for k in kept] == sorted(
        (timings[k] for k in kept), reverse=True
    )
    # the cut drops only the cheapest keys
    assert min(timings[k] for k in kept) >= max(
        timings[k] for k in timings if k not in out["queries"]
    )
    assert out["queries_omitted"] == 91 - len(kept) > 0
    total = sum(out["queries"].values()) + out["queries_omitted_sum"]
    assert total == pytest.approx(out["value"], abs=0.01)
    assert out["value"] == sum(timings.values())
    assert out["subtotal_r2_comparable"] == sum(
        timings[k] for k in bench.COMPARABLE
    )


def test_selected_keys_rejects_unknown(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "join_eq3,join_eq_3")
    with pytest.raises(SystemExit, match="join_eq_3"):
        bench.selected_keys()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "sessionize,join_eq3")
    assert bench.selected_keys() == ["join_eq3", "sessionize"]


def test_bench_main_writes_contract_and_job_counts(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    keys = ["join_eq3", "agg_percentile"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", ",".join(keys))
    # a tmp cwd, so the run does not overwrite the committed sidecar
    monkeypatch.chdir(tmp_path)
    (tmp_path / "scripts").mkdir()
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    out = json.loads(lines[-1])
    assert out["metric"] == "headline_total" and out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["per_query_file"] == bench.SIDECAR
    assert sorted(out["queries"]) == sorted(keys)
    assert out["queries_omitted"] == 0 and out["queries_omitted_sum"] == 0
    assert out["subtotal_r2_comparable"] == out["value"] > 0
    side = json.loads((tmp_path / bench.SIDECAR).read_text())
    assert sorted(side["queries"]) == sorted(keys)
    assert all(side["jobs"][k] >= 1 for k in keys)
