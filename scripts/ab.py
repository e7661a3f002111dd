"""Time this tree against a git ref in alternating fresh processes.

    python scripts/ab.py BASE_REF --pairs 10 --workload airbnb_load --seed 1
    python scripts/ab.py BASE_REF --pairs 3 --keys stream_session_finalize --control join_eq3

``BASE_REF`` is exported with ``git archive`` into a directory of its
own (``--base-dir``, default a temporary directory that is deleted
afterwards), so no worktree is registered in the repository. The export
records the commit it holds in ``.ab_base_commit``; a kept ``--base-dir``
is reused only while ``BASE_REF`` still resolves to that commit. Each pair
runs one fresh process per side; the side that goes first alternates
from pair to pair, so a drift in the host's load reaches both sides
alike. Before every run the script waits, at most ``LOAD_WAIT_S``
seconds, for the host's 1-minute load average to fall below
``LOAD_MAX``, so a run does not start on the tail of the one before it;
the load average it starts at and the seconds it waited are recorded.

- ``--workload W --seed S`` runs the benchmark unedited in each tree,
  ``airbnb_bench/run.py --workload W --seed S --seconds N --trace 0``
  under this interpreter, with ``N`` the ``run_seconds`` of
  ``BENCHMARK.json``, and reads its end-to-end metrics and ``failed``
  from the last output line.
- ``--keys K,... --control C`` runs ``bench.py`` in each tree with
  ``SPARK_GRAFT_BENCH_ONLY`` set to the keys and the control key, and
  reads each key's seconds (the min of its reps) and Spark job count
  from the sidecar file ``bench.py`` writes. The sidecar each tree had
  before the run is put back afterwards.

Every run is printed as one JSON line as it finishes. The summary gives
the base commit and, per metric, each side's median and quartiles, the
tree's change of the median, whether that change exceeds the base's
interquartile range, and the pairs the tree won. A metric's direction
and regression bound come from its ``end_to_end`` entry in
``BENCHMARK.json``; every other metric (``failed``, a key's seconds and
jobs) is lower-better and has no bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDECAR = os.path.join("scripts", "last_bench_queries.json")
STAMP = ".ab_base_commit"
LOAD_MAX = 1.5  # start a run only below this 1-minute load average ...
LOAD_WAIT_S = 60  # ... or once this many seconds have passed
LOAD_POLL_S = 5
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
E2E = {m["name"]: m for m in BENCHMARK["end_to_end"]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base_ref")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--keys", help="comma-separated bench.py keys")
    p.add_argument("--control", help="an untouched bench.py key run beside --keys")
    p.add_argument("--base-dir", help="export BASE_REF here and keep it; a directory "
                   "that already holds an export of the same commit is reused")
    args = p.parse_args(argv)
    if (args.workload is None) == (args.keys is None):
        p.error("give exactly one of --workload and --keys")
    if args.pairs < 1:
        p.error("--pairs must be at least 1")
    if args.keys and not args.control:
        p.error("--keys needs a --control key")
    return args


def resolve(ref: str) -> str:
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", f"{ref}^{{commit}}"],
                         capture_output=True, text=True)
    if out.returncode:
        raise SystemExit(f"{ref} names no commit:\n{out.stderr}")
    return out.stdout.strip()


def export(sha: str, dest: str) -> None:
    """Write the files of commit ``sha`` into the empty or missing
    ``dest`` and record ``sha`` in its stamp file."""
    os.makedirs(dest, exist_ok=True)
    if os.listdir(dest):
        raise SystemExit(f"{dest} is not empty")
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait():
        raise SystemExit(f"git archive {sha} failed")
    with open(os.path.join(dest, STAMP), "w") as f:
        f.write(sha + "\n")


def base_tree(ref: str, dest: str) -> str:
    """Make ``dest`` hold the files of ``ref``: export them into an empty
    directory, or reuse an earlier export of the same commit. Returns the
    commit."""
    sha = resolve(ref)
    stamp = os.path.join(dest, STAMP)
    if not os.path.exists(stamp):
        export(sha, dest)
        return sha
    with open(stamp) as f:
        held = f.read().strip()
    if held != sha:
        raise SystemExit(
            f"{dest} holds {held}, but {ref} is {sha}; empty it or give another --base-dir"
        )
    return sha


def settle() -> tuple[float, int]:
    """Wait until the 1-minute load average is below ``LOAD_MAX``, for
    at most ``LOAD_WAIT_S`` seconds. Returns (load average, seconds
    waited)."""
    waited = 0
    load1 = os.getloadavg()[0]
    while load1 >= LOAD_MAX and waited < LOAD_WAIT_S:
        time.sleep(LOAD_POLL_S)
        waited += LOAD_POLL_S
        load1 = os.getloadavg()[0]
    return load1, waited


def _run(cmd: list[str], tree: str, env: dict | None = None) -> str:
    out = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    if out.returncode:
        raise SystemExit(
            f"{' '.join(cmd)} failed in {tree} (exit {out.returncode}):\n{out.stderr[-3000:]}"
        )
    return out.stdout


def run_workload(tree: str, args) -> dict[str, float]:
    stdout = _run(
        [sys.executable, "airbnb_bench/run.py", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(BENCHMARK["run_seconds"]),
         "--trace", "0"],
        tree,
    )
    last = json.loads(stdout.strip().splitlines()[-1])
    return {**{k: m["value"] for k, m in last["metrics"].items()}, "failed": last["failed"]}


def run_keys(tree: str, keys: list[str]) -> dict[str, float]:
    sidecar = os.path.join(tree, SIDECAR)
    saved = None
    if os.path.exists(sidecar):
        with open(sidecar, "rb") as f:
            saved = f.read()
    try:
        _run([sys.executable, "bench.py"], tree,
             dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(keys)))
        with open(sidecar) as f:
            side = json.load(f)
    finally:
        if saved is None:
            if os.path.exists(sidecar):
                os.remove(sidecar)
        else:
            with open(sidecar, "wb") as f:
                f.write(saved)
    return {
        **{k: side["queries"][k] for k in keys},
        **{f"{k}.jobs": side["jobs"][k] for k in keys},
    }


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], base_sha: str) -> str:
    """One line per metric: base and tree median [q1-q3], the change of
    the median, whether it exceeds the base's spread, pairs won, and
    whether the tree's median is worse than the base's by more than the
    metric's bound."""
    by_side = {s: [r for r in runs if r["side"] == s] for s in ("base", "tree")}
    lines = [
        f"base {base_sha}",
        f"load1 before runs: base median {statistics.median(r['load1'] for r in by_side['base']):.2f}, "
        f"tree median {statistics.median(r['load1'] for r in by_side['tree']):.2f}",
        f"{'metric':34} {'base median [q1-q3]':>28} {'tree median [q1-q3]':>28} "
        f"{'change':>8} {'>IQR':>5} {'won':>6} {'bound':>10}",
    ]
    for name in runs[0]["metrics"]:
        base = [r["metrics"][name] for r in by_side["base"]]
        tree = [r["metrics"][name] for r in by_side["tree"]]
        b1, bm, b3 = _quartiles(base)
        t1, tm, t3 = _quartiles(tree)
        spec = E2E.get(name, {})
        sign = -1 if spec.get("better") == "higher" else 1
        won = sum(sign * (t - b) < 0 for b, t in zip(base, tree))
        change = (tm - bm) / bm if bm else 0.0
        if "bound" not in spec:
            bound = "-"
        else:
            bound = "WORSE" if sign * change > spec["bound"] else f"ok {spec['bound']:.0%}"
        lines.append(
            f"{name:34} {bm:>10.4g} [{b1:.4g}-{b3:.4g}]".ljust(63)
            + f" {tm:>10.4g} [{t1:.4g}-{t3:.4g}]".ljust(29)
            + f" {change:>+8.1%} {'yes' if abs(tm - bm) > b3 - b1 else 'no':>5}"
            f" {won:>3}/{len(base)} {bound:>10}"
        )
    return "\n".join(lines)


def main(argv=None) -> None:
    args = _parse(argv)
    keys = None if args.keys is None else [*args.keys.split(","), args.control]
    base_dir = args.base_dir or tempfile.mkdtemp(prefix="ab_base_")
    trees = {"base": base_dir, "tree": ROOT}
    runs = []
    try:
        base_sha = base_tree(args.base_ref, base_dir)
        for pair in range(args.pairs):
            order = ("base", "tree") if pair % 2 == 0 else ("tree", "base")
            for side in order:
                load1, wait_s = settle()
                metrics = (
                    run_workload(trees[side], args) if keys is None
                    else run_keys(trees[side], keys)
                )
                run = {"pair": pair, "side": side, "load1": load1, "wait_s": wait_s,
                       "metrics": metrics}
                runs.append(run)
                print(json.dumps(run), flush=True)
    finally:
        if args.base_dir is None:
            shutil.rmtree(base_dir, ignore_errors=True)
    print(summarize(runs, base_sha))


if __name__ == "__main__":
    main()
