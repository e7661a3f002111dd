"""Rotating deep-verify: fresh-process oracle checks for the registered
keys with the OLDEST independent evidence.

The single-session mirror (scripts/oracle_check.py) can mask
session-state leakage: a key that passes because an earlier key in the
same session warmed a cache, registered a temp view, or left a staging
artifact. This script burns that blind spot down a cohort at a time:

1. A key's evidence is the sha at which it last passed in a fresh
   process (scripts/mirror_rotate_state.json); its age is the number of
   commits since then that touch CODE_PATHS. A key never rotated, or
   whose last rotation FAILed, has no evidence.
2. Take the N oldest keys (default 40), keys with no evidence first.
3. Run EACH in a FRESH python process (`oracle_check.py <sf_dir> <key>`)
   — one JVM, one DuckDB, one key — so nothing another key did in-
   session can help it pass. Each of the --workers concurrent children
   gets os.cpu_count() // workers cores.
4. Record each verdict and the HEAD sha in the state file and append
   the run to scripts/mirror_rotate.log; commit both.

--report prints the age histogram and exits 1 when any key has no
evidence or is more than MAX_AGE commits old (exit-gate step 7).

Usage: python scripts/mirror_rotate.py [--n 40] [--workers 1]
           [--sf-dir /root/testdata/sf0.01] [--keys k1,k2] [--report]
Exit 0 iff every key in the cohort passed.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor, as_completed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_PATH = os.path.join(REPO, "scripts", "mirror_rotate_state.json")
LOG_PATH = os.path.join(REPO, "scripts", "mirror_rotate.log")
# commits to these paths age every key's evidence
CODE_PATHS = (
    "airbnb_listings_reviews_data_engineering_spark",
    "scripts/oracle_check.py",
)
# The ROADMAP re-anchors about every 5 PRs at about one package commit
# per PR, so 10 commits is two re-anchor periods.
MAX_AGE = 10


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", REPO, *args], capture_output=True,
                          text=True, check=True).stdout.strip()


def load_state() -> dict:
    if os.path.exists(STATE_PATH):
        return json.load(open(STATE_PATH))
    return {"rotated": {}}


def registered_keys() -> list[str]:
    sys.path.insert(0, REPO)
    from airbnb_listings_reviews_data_engineering_spark.plans import (
        all_queries,
    )

    return sorted(all_queries())


def evidence_ages() -> dict[str, int | None]:
    """{key: code commits since its last fresh-process pass, or None}."""
    rotated = load_state().get("rotated", {})

    @functools.cache
    def age(sha: str) -> int:
        return int(_git("rev-list", "--count", f"{sha}..HEAD", "--", *CODE_PATHS))

    ages: dict[str, int | None] = {}
    for k in registered_keys():
        ev = rotated.get(k, {})
        ages[k] = age(ev["sha"]) if ev.get("verdict") == "ok" else None
    return ages


def _rank(item: tuple[str, int | None]) -> tuple[float, str]:
    key, age = item
    return (-(float("inf") if age is None else age), key)


def pick_cohort(n: int) -> list[str]:
    """The n keys with the oldest evidence, keys with none first."""
    return [k for k, _ in sorted(evidence_ages().items(), key=_rank)[:n]]


def report_ages() -> bool:
    """Print the evidence-age distribution; True iff every key has
    evidence at most MAX_AGE commits old."""
    ages = evidence_ages()
    hist = Counter(a for a in ages.values() if a is not None)
    never = len(ages) - hist.total()
    print("evidence ages in code commits (age_commits: n_keys): "
          + ", ".join(f"{a}: {hist[a]}" for a in sorted(hist))
          + (f", no evidence: {never}" if never else ""))
    worst = sorted(ages.items(), key=_rank)[:5]
    print("oldest keys: " + ", ".join(
        f"{k}({'none' if a is None else a})" for k, a in worst))
    stale = sum(1 for a in ages.values() if a is None or a > MAX_AGE)
    print(f"oldest_fresh_process_age_commits="
          f"{'none' if never else max(hist, default=0)}")
    print(f"{stale} keys older than {MAX_AGE} commits or without evidence")
    return stale == 0


def _run_one(key: str, sf_dir: str, child_cpus: int) -> tuple[str, bool, str, float]:
    """One fresh-process oracle check; returns (key, ok, tail, secs)."""
    t0 = time.time()
    tail = ""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(child_cpus))
    try:
        proc = subprocess.run(
            [sys.executable,
             os.path.join(REPO, "scripts", "oracle_check.py"),
             sf_dir, key],
            capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
        )
        ok = proc.returncode == 0 and "0 failures" in proc.stdout
        if not ok:
            tail = "\n".join(
                (proc.stdout.splitlines() + proc.stderr.splitlines())[-8:]
            )
    except subprocess.TimeoutExpired:
        ok = False
        tail = "TIMEOUT after 600s (fresh-process oracle_check hung)"
    return key, ok, tail, time.time() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=40)
    ap.add_argument(
        "--workers", type=int, default=1,
        help="fresh processes to run concurrently, each with "
        "os.cpu_count() // workers cores. Isolation is unchanged — "
        "every key still gets its own process.",
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--report", action="store_true",
        help=f"print the evidence-age distribution and exit (exit code 1 "
        f"iff a key has no evidence or is over {MAX_AGE} commits old)",
    )
    ap.add_argument(
        "--keys", default="",
        help="comma-separated explicit cohort (overrides the oldest-"
        "evidence picker; for re-verifying keys whose previous rotation "
        "hit an infrastructure failure)",
    )
    args = ap.parse_args(argv)

    if args.report:
        return 0 if report_ages() else 1

    # the recorded sha must name the code that ran
    if _git("status", "--porcelain", "--", *CODE_PATHS):
        raise SystemExit(f"uncommitted changes under {CODE_PATHS}: commit first")
    sha = _git("rev-parse", "HEAD")
    if args.keys:
        known = set(registered_keys())
        cohort = [k for k in args.keys.split(",") if k]
        unknown = [k for k in cohort if k not in known]
        if unknown:
            raise SystemExit(f"unknown keys: {unknown}")
    else:
        cohort = pick_cohort(args.n)
    workers = max(1, args.workers)
    child_cpus = max(1, (os.cpu_count() or 1) // workers)
    state = load_state()
    results: dict[str, str] = {}
    t_start = time.time()
    # one hung oracle must not lose the cohort's accumulated verdicts:
    # TimeoutExpired is recorded as a FAIL and the state file is dumped
    # after EVERY completion. Completions are funneled through this
    # single thread, so the state writes never race.
    with ThreadPoolExecutor(max_workers=workers) as ex:
        futs = [ex.submit(_run_one, key, args.sf_dir, child_cpus)
                for key in cohort]
        for done, fut in enumerate(as_completed(futs), 1):
            key, ok, tail, secs = fut.result()
            results[key] = "ok" if ok else "FAIL"
            state.setdefault("rotated", {})[key] = {"sha": sha,
                                                    "verdict": results[key]}
            json.dump(state, open(STATE_PATH, "w"), indent=1, sort_keys=True)
            print(
                f"[{done}/{len(cohort)}] {results[key]:4s} {key} "
                f"({secs:.1f}s, fresh process)",
                flush=True,
            )
            if not ok:
                print(f"  --- output tail ---\n{tail}")
    n_fail = sum(1 for v in results.values() if v != "ok")
    stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(LOG_PATH, "a") as f:
        f.write(
            f"== rotate @ {sha[:10]} {stamp}: {len(cohort)} keys, "
            f"{n_fail} failures, {time.time() - t_start:.0f}s, "
            f"sf_dir={args.sf_dir}, {workers} workers x {child_cpus} cpus\n"
        )
        for k in cohort:
            f.write(f"   {results[k]:4s} {k}\n")
    print(f"\n{n_fail} failures / {len(cohort)} rotated at {sha[:10]}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
