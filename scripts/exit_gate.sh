#!/usr/bin/env bash
# Exit gate: ONE command that runs everything a change must have
# green AFTER its last code commit, in an order that keeps the bench
# artifact trustworthy and couples the proof to HEAD mechanically:
#
#   0. refuse to run with uncommitted CODE (*.py/*.sh/*.sql) or an
#      uncommitted bench baseline — the manifest must describe a
#      commit, not a dirty tree
#   1. idle-wait: block until the 1-min loadavg is at most LOAD_MAX
#      (scripts/ab.py's bound) so bench numbers mean something, or
#      time out loudly
#   2. sf0.1 bench FIRST — before the mirror + pytest suite
#      heat the box — once; every key's raw min-of-3 seconds must stay
#      within BENCH_MAX_RATIO of its entry in scripts/bench_baseline.json
#      (the per-key median of idle runs' scripts/last_bench_queries.json
#      taken on the box the gate runs on); a bench that fails or writes
#      no sidecar is RED
#   3. full oracle mirror at driver fidelity -> last_mirror_run.log
#      (now with per-key wall times + top-10 slowest summary)
#   4. COVERAGE.md regeneration + SURVEY.md key-index refresh
#   5. survey completeness check
#   6. full pytest
#   7. fresh-process rotation age report: every key passed
#      oracle_check.py in a fresh process within the last MAX_AGE (10)
#      commits that touch the package or scripts/oracle_check.py
#   8. gate_manifest.json: git SHA + sha256 of both logs and of the
#      baseline + the raw headline and the worst key's ratio to its
#      baseline; the gate goes RED if HEAD moved while it ran
#
# The manifest and the two logs describe one run of the gate at one
# commit, so they are not committed (.gitignore lists them): read them
# in the checkout that ran the gate. The regenerated COVERAGE.md and
# SURVEY.md are committed.
#
# Run from the repo root:   bash scripts/exit_gate.sh
set -uo pipefail
cd "$(dirname "$0")/.."

SHA_START=$(git rev-parse HEAD)
TS_START=$(date -u +%Y-%m-%dT%H:%M:%SZ)
echo "== exit gate: $TS_START @ ${SHA_START:0:10}"

echo "== 0/8 clean-code check"
DIRTY_CODE=$(git status --porcelain | grep -E '(\.(py|sh|sql)|scripts/bench_baseline\.json)$' || true)
if [ -n "$DIRTY_CODE" ]; then
  echo "$DIRTY_CODE"
  echo "EXIT GATE RED: uncommitted code or baseline — commit before running the gate"
  exit 1
fi

# the loadavg bound scripts/ab.py waits for before each run
LOAD_MAX=1.5
IDLE_WAIT_SEC=600
echo "== 1/8 idle-wait (1-min loadavg <= ${LOAD_MAX}, up to ${IDLE_WAIT_SEC}s)"
waited=0
while :; do
  load=$(cut -d' ' -f1 /proc/loadavg)
  ok=$(python - "$load" "$LOAD_MAX" <<'PY'
import sys
print(1 if float(sys.argv[1]) <= float(sys.argv[2]) else 0)
PY
)
  [ "$ok" = "1" ] && { echo "loadavg $load ok (waited ${waited}s)"; break; }
  if [ "$waited" -ge "$IDLE_WAIT_SEC" ]; then
    echo "WARNING: loadavg still $load after ${waited}s — bench numbers may be load-inflated (recorded in manifest)"
    break
  fi
  sleep 15; waited=$((waited + 15))
done
LOAD_AT_BENCH=$(cut -d' ' -f1 /proc/loadavg)

# Largest per-key ratio (raw min-of-3 / baseline) the gate accepts.
# The baseline is the per-key median of five idle runs of unchanged
# code on a 4-core box; one of those runs reached 2.32x of it on a key
# (src_csv_multiline_split, 0.69 s vs 0.30 s), so a tighter bound would
# go RED on noise.
BENCH_MAX_RATIO=2.5
echo "== 2/8 bench vs same-box baseline (sf0.1; RED above ${BENCH_MAX_RATIO}x on any key)"
# a stale sidecar or worst-key file must not stand in for this run's
rm -f scripts/last_bench_queries.json /tmp/gate_bench_worst.json
python bench.py 2>/dev/null | tee scripts/last_bench_run.log | tail -1
rc=${PIPESTATUS[0]}
[ "$rc" -eq 0 ] || { echo "EXIT GATE RED: bench exit $rc"; exit 1; }
python - "$BENCH_MAX_RATIO" <<'PY' || { echo "EXIT GATE RED: bench sidecar missing or a key off its baseline"; exit 1; }
import json, sys

limit = float(sys.argv[1])
run = json.load(open("scripts/last_bench_queries.json"))["queries"]
base = json.load(open("scripts/bench_baseline.json"))["queries"]
if set(run) != set(base):
    print(f"keys with no baseline entry: {sorted(set(run) - set(base))}; "
          f"baseline keys not run: {sorted(set(base) - set(run))}")
    sys.exit(1)
ratios = {k: run[k] / base[k] for k in run}
worst = max(ratios, key=ratios.get)
print(f"worst key {worst}: {run[worst]} s vs baseline {base[worst]} s "
      f"({ratios[worst]:.3f}x, limit {limit}x)")
json.dump({"key": worst, "ratio": round(ratios[worst], 3)},
          open("/tmp/gate_bench_worst.json", "w"))
over = {k: round(r, 3) for k, r in ratios.items() if r > limit}
if over:
    print(f"keys above the limit: {over}")
    sys.exit(1)
PY

echo "== 3/8 full oracle mirror (sf0.01)"
python scripts/oracle_check.py 2>/dev/null | tee scripts/last_mirror_run.log | tail -2
grep -q "^0 failures" <(tail -2 scripts/last_mirror_run.log) || {
  echo "EXIT GATE RED: oracle mirror has failures"; exit 1; }
echo "-- top mirror costs:"
grep -A 11 "^slowest mirror keys" scripts/last_mirror_run.log || true

echo "== 4/8 coverage + survey index regeneration"
python scripts/gen_coverage.py scripts/last_mirror_run.log || {
  echo "EXIT GATE RED: coverage generation failed"; exit 1; }

echo "== 5/8 survey completeness check"
python scripts/check_survey.py || {
  echo "EXIT GATE RED: survey check failed"; exit 1; }

echo "== 6/8 full pytest"
python -m pytest tests/ -q --tb=line 2>&1 | tail -3 | tee /tmp/gate_pytest_tail
rc=${PIPESTATUS[0]}
[ "$rc" -eq 0 ] || { echo "EXIT GATE RED: pytest exit $rc"; exit 1; }

echo "== 7/8 fresh-process rotation age"
python scripts/mirror_rotate.py --report || {
  echo "EXIT GATE RED: a registered key has no fresh-process pass within MAX_AGE code commits (report above) — run scripts/mirror_rotate.py and commit its state and log"; exit 1; }

echo "== 8/8 gate manifest"
SHA_END=$(git rev-parse HEAD)
if [ "$SHA_END" != "$SHA_START" ]; then
  echo "EXIT GATE RED: HEAD moved during the gate ($SHA_START -> $SHA_END) — re-run at the final commit"
  exit 1
fi
python - "$SHA_START" "$TS_START" "$LOAD_AT_BENCH" <<'PY' || { echo "EXIT GATE RED: manifest"; exit 1; }
import hashlib, json, subprocess, sys, time

def sha256(p):
    return hashlib.sha256(open(p, "rb").read()).hexdigest()

bench = [l for l in open("scripts/last_bench_run.log") if l.strip().startswith("{")]
head = json.loads(bench[-1])
worst = json.load(open("/tmp/gate_bench_worst.json"))
age = 0
for line in subprocess.run(
    [sys.executable, "scripts/mirror_rotate.py", "--report"],
    capture_output=True, text=True).stdout.splitlines():
    if line.startswith("oldest_fresh_process_age_commits="):
        age = int(line.split("=")[1])
manifest = {
    "git_sha": sys.argv[1],
    "started": sys.argv[2],
    "finished": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    "loadavg_at_bench": float(sys.argv[3]),
    "mirror_log_sha256": sha256("scripts/last_mirror_run.log"),
    "bench_log_sha256": sha256("scripts/last_bench_run.log"),
    "bench_baseline_sha256": sha256("scripts/bench_baseline.json"),
    "bench_headline": head.get("value"),
    "bench_worst_key": worst["key"],
    "bench_worst_ratio": worst["ratio"],
    "pytest_tail": open("/tmp/gate_pytest_tail").read().strip().splitlines()[-1],
    "oldest_fresh_process_age_commits": age,
}
json.dump(manifest, open("scripts/gate_manifest.json", "w"), indent=1)
print(json.dumps(manifest, indent=1))
PY

echo "== exit gate GREEN: $(date -u +%Y-%m-%dT%H:%M:%SZ) @ ${SHA_START:0:10}"
echo "   commit the regenerated COVERAGE.md/SURVEY.md and scripts/last_bench_queries.json in the closing commit; scripts/gate_manifest.json and the two logs stay local (untracked)"
