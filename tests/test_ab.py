"""scripts/ab.py: the base export is tied to one commit, a failed bench.py
run surfaces its own error, the summary applies BENCHMARK.json's
directions and bounds, and a run waits, for a bounded time, for the
host's load to fall."""

from __future__ import annotations

import json

import pytest

from scripts import ab


def _stamped(tmp_path, sha: str):
    (tmp_path / "bench.py").write_text("")
    (tmp_path / ab.STAMP).write_text(sha + "\n")
    return str(tmp_path)


def test_kept_base_dir_is_reused_only_for_its_commit(tmp_path):
    head = ab.resolve("HEAD")
    assert ab.base_tree("HEAD", _stamped(tmp_path, head)) == head
    (tmp_path / ab.STAMP).write_text("0" * 40 + "\n")
    with pytest.raises(SystemExit, match="holds 0{40}, but HEAD is"):
        ab.base_tree("HEAD", str(tmp_path))


def test_unstamped_nonempty_base_dir_is_refused(tmp_path):
    (tmp_path / "bench.py").write_text("")
    with pytest.raises(SystemExit, match="is not empty"):
        ab.base_tree("HEAD", str(tmp_path))


def test_failed_bench_run_keeps_its_error(tmp_path, monkeypatch):
    (tmp_path / "scripts").mkdir()

    def fail(cmd, tree, env=None):
        raise SystemExit("bench.py failed: boom")

    monkeypatch.setattr(ab, "_run", fail)
    with pytest.raises(SystemExit, match="boom"):
        ab.run_keys(str(tmp_path), ["k"])
    assert not (tmp_path / ab.SIDECAR).exists()


def test_sidecar_is_put_back(tmp_path, monkeypatch):
    (tmp_path / "scripts").mkdir()
    sidecar = tmp_path / ab.SIDECAR
    sidecar.write_text("old")

    def bench(cmd, tree, env=None):
        sidecar.write_text(json.dumps({"queries": {"k": 1.5}, "jobs": {"k": 6}}))
        return ""

    monkeypatch.setattr(ab, "_run", bench)
    assert ab.run_keys(str(tmp_path), ["k"]) == {"k": 1.5, "k.jobs": 6}
    assert sidecar.read_text() == "old"


def test_summary_reads_direction_and_bound_from_benchmark():
    assert ab.E2E["rows_per_s"]["better"] == "higher"
    runs = [
        {"pair": 0, "side": side, "load1": 1.0,
         "metrics": {"run_s": run_s, "rows_per_s": rows, "failed": 0}}
        for side, run_s, rows in (("base", 10.0, 100.0), ("tree", 8.0, 50.0))
    ]
    lines = {ln.split()[0]: ln for ln in ab.summarize(runs, "abc123").splitlines()}
    assert lines["base"] == "base abc123"
    assert lines["run_s"].split()[-3:] == ["1/1", "ok", f"{ab.E2E['run_s']['bound']:.0%}"]
    assert lines["rows_per_s"].split()[-2:] == ["0/1", "WORSE"]
    assert lines["failed"].split()[-2:] == ["0/1", "-"]


def _fake_load(monkeypatch, loads):
    it = iter(loads)
    slept = []
    monkeypatch.setattr(ab.os, "getloadavg", lambda: (next(it), 0.0, 0.0))
    monkeypatch.setattr(ab.time, "sleep", slept.append)
    return slept


def test_run_waits_for_the_load_to_fall(monkeypatch):
    busy = ab.LOAD_MAX + 1
    slept = _fake_load(monkeypatch, [busy, busy, ab.LOAD_MAX - 0.5])
    assert ab.settle() == (ab.LOAD_MAX - 0.5, 2 * ab.LOAD_POLL_S)
    assert slept == [ab.LOAD_POLL_S] * 2


def test_run_wait_is_capped(monkeypatch):
    busy = ab.LOAD_MAX + 1
    slept = _fake_load(monkeypatch, [busy] * 1000)
    assert ab.settle() == (busy, ab.LOAD_WAIT_S)
    assert sum(slept) == ab.LOAD_WAIT_S


def test_idle_host_starts_at_once(monkeypatch):
    slept = _fake_load(monkeypatch, [0.0])
    assert ab.settle() == (0.0, 0)
    assert slept == []
