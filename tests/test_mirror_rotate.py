"""scripts/mirror_rotate.py keys fresh-process evidence by commit.

Spark-free: each test builds a throwaway git repo and stubs the key
registry, so ages come from real ``git rev-list`` counts.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

import pytest
from conftest import REPO_ROOT

PKG = "airbnb_listings_reviews_data_engineering_spark"
KEYS = ["a_never", "b_old", "c_new"]


def _git(repo, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t",
         *args],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def _commit(repo, path: str, n: int = 1) -> str:
    """n commits that each touch ``path``; returns the last sha."""
    f = repo / path
    f.parent.mkdir(parents=True, exist_ok=True)
    for _ in range(n):
        f.write_text((f.read_text() if f.exists() else "") + "x\n")
        _git(repo, "add", "-A")
        _git(repo, "commit", "-q", "-m", f"touch {path}")
    return _git(repo, "rev-parse", "HEAD")


@pytest.fixture
def mr(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "mirror_rotate", REPO_ROOT / "scripts" / "mirror_rotate.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    _git(tmp_path, "init", "-q")
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    monkeypatch.setattr(
        mod, "STATE_PATH", str(tmp_path / "scripts" / "mirror_rotate_state.json")
    )
    monkeypatch.setattr(mod, "registered_keys", lambda: list(KEYS))
    return mod


def _write_state(mr, rotated: dict) -> None:
    os.makedirs(os.path.dirname(mr.STATE_PATH), exist_ok=True)
    with open(mr.STATE_PATH, "w") as f:
        json.dump({"rotated": rotated}, f)


def test_mirror_rotate_picker_prefers_oldest_evidence(mr, tmp_path):
    """Never-rotated keys come first, then the key whose passing sha has
    the most code commits after it; commits outside the code paths do
    not age evidence."""
    old = _commit(tmp_path, f"{PKG}/a.py")
    new = _commit(tmp_path, "scripts/oracle_check.py")
    _commit(tmp_path, "README.md", n=3)
    _write_state(mr, {"b_old": {"sha": old, "verdict": "ok"},
                      "c_new": {"sha": new, "verdict": "ok"}})
    assert mr.evidence_ages() == {"a_never": None, "b_old": 1, "c_new": 0}
    assert mr.pick_cohort(3) == ["a_never", "b_old", "c_new"]
    assert mr.pick_cohort(1) == ["a_never"]
    # re-rotating the old key at HEAD moves it behind the other
    _write_state(mr, {"b_old": {"sha": new, "verdict": "ok"},
                      "c_new": {"sha": old, "verdict": "ok"}})
    assert mr.pick_cohort(3) == ["a_never", "c_new", "b_old"]
    with pytest.raises(SystemExit, match="unknown keys"):
        mr.main(["--keys", "a_never,zz_typo"])


def test_report_goes_red_past_max_age(mr, tmp_path, capsys):
    first = _commit(tmp_path, f"{PKG}/a.py")
    _commit(tmp_path, f"{PKG}/a.py", n=mr.MAX_AGE)
    _write_state(mr, {k: {"sha": first, "verdict": "ok"} for k in KEYS})
    assert mr.main(["--report"]) == 0  # exactly MAX_AGE commits old
    assert f"oldest_fresh_process_age_commits={mr.MAX_AGE}" in (
        capsys.readouterr().out
    )
    _commit(tmp_path, f"{PKG}/a.py")
    assert mr.main(["--report"]) == 1
    assert f"3 keys older than {mr.MAX_AGE} commits" in capsys.readouterr().out


def test_failed_rotation_counts_as_stale(mr, tmp_path, capsys):
    head = _commit(tmp_path, f"{PKG}/a.py")
    state = {k: {"sha": head, "verdict": "ok"} for k in KEYS}
    _write_state(mr, state)
    assert mr.main(["--report"]) == 0
    capsys.readouterr()
    state["b_old"]["verdict"] = "FAIL"  # failed at HEAD: no evidence
    _write_state(mr, state)
    assert mr.evidence_ages()["b_old"] is None
    assert mr.pick_cohort(1) == ["b_old"]
    assert mr.main(["--report"]) == 1
    out = capsys.readouterr().out
    assert "no evidence: 1" in out
    assert "oldest_fresh_process_age_commits=none" in out


def test_no_round_file_is_read(mr, tmp_path, monkeypatch):
    """A CORRECTNESS_r*.json naming every key is not evidence: ages come
    from the state file and git alone."""
    _commit(tmp_path, f"{PKG}/a.py")
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({k: {"hash_match": True} for k in KEYS})
    )
    real_open = open

    def guarded_open(path, *a, **kw):
        assert "CORRECTNESS_r" not in str(path), f"read {path}"
        return real_open(path, *a, **kw)

    monkeypatch.setattr("builtins.open", guarded_open)
    assert mr.evidence_ages() == dict.fromkeys(KEYS)
    assert mr.main(["--report"]) == 1
