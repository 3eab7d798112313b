#!/usr/bin/env bash
# Gated bench protocol, one script for every round:
#
#   dev/bench_protocol.sh ROUND CONTROL_DIR CONTROL_LABEL
#
# ROUND names the artifact dir (dev/bench_r$ROUND); CONTROL_DIR is a
# worktree of the same-window control commit, benched into the slot
# bench_${CONTROL_LABEL}_samewindow. Round 19 ran it as
# `dev/bench_protocol.sh 19 /tmp/r18head r18code` (control = the r18 end
# commit 1615c9a), round 18 as `dev/bench_protocol.sh 18 /tmp/r17head
# r17code` (control = the r17 judge commit c2cf405). The r14-r17 copies
# under dev/bench_r1*/ run superseded gates and stay as history.
#
# Gate v2 FROZEN, shared dev/gate_accept.py, gated DuckDB legs, exit
# propagation (the r18 closures):
#   * ONE shared gate (dev/gate_accept.py — r17 ADVICE #4): the v2
#     thresholds live in exactly one file, used by this script AND the
#     scale protocol. GATE v2 IS FROZEN (r17 VERDICT #7): any future
#     amendment requires an r17-style leg-by-leg re-adjudication table.
#   * GATED DUCKDB LEGS (r17 VERDICT #4): each comparator run is
#     bracketed by bare-JVM SentinelProbe pairs; the leg is accepted
#     iff both probes sit in the bare-probe band (st <= 165, mt <= 270
#     — the pre band, since bare probes carry the fresh-JVM st bias)
#     and rejected legs re-run after re-idling, artifacts kept as
#     _rejN. The probe readings ride IN the duckdb artifact
#     (probe_pre/probe_post), so the headline's denominator carries a
#     window certificate like its numerator. (Honest limitation: a
#     storm that starts and ends strictly between the brackets of one
#     ~2-min duckdb leg can hide; the spark runs' ten-leg rule cannot
#     be replicated without a sampler inside DuckDB itself. Three
#     legs + the spread check bound the damage.)
#   * EXIT PROPAGATION (r17 ADVICE #3): the commit gate's python exit
#     status is checked explicitly — GATE FAIL now exits this script
#     nonzero, as the documented contract always claimed.
#
# Discipline unchanged from r17 (see dev/bench_r17/README.md for the
# v2 amendment data): run1 = throwaway cold run; commit = median of >= 3
# ACCEPTED warm runs; ratio vs duckdb median must be < 2.0; control =
# the CONTROL_DIR worktree, benched in
# the same window. Slots with accepted artifacts are skipped on
# re-entry (resumable); reject numbering scans for the next free index
# so a re-entry never clobbers a prior set's rejects.
#
# NOTE (r17 ADVICE #2): Bench.scala's no-env default is now
# bench_full.json — ./bench.json is written ONLY by this script's
# commit gate (or an explicit SPARK_GRAFT_BENCH_OUT=./bench.json).
set -uo pipefail
if [[ $# -ne 3 ]]; then
  echo "usage: $0 ROUND CONTROL_DIR CONTROL_LABEL" >&2; exit 2
fi
ROUND=$1
cd "$(dirname "$0")/.."
ROOT=$PWD
# the sf0.1 tables, in the testdata dir next to the checkout
SF_DIR=$(dirname "$ROOT")/testdata/sf0.1
OUT=dev/bench_r$ROUND
ORACLE_SQL=dev/scale_experiment_r14/oracle_sql.json
PREFLIGHT_ST_MAX=165
PREFLIGHT_MT_MAX=270
MAX_ATTEMPTS=3
JAR_GLOB="target/scala-2.13/tingdataetlspark_*.jar"
CONTROL_DIR=$2
CONTROL_LABEL=$3

probe() { # one bare-JVM sentinel leg -> "st mt"
  java -cp "$(ls $JAR_GLOB | head -1):$SPARK_HOME/jars/*" \
    graft.SentinelProbe 32 2>/dev/null |
    python3 -c "import json,sys; d=json.load(sys.stdin); print(d['st_ms'], d['mt_ms'])"
}

wait_idle() { # block until the box sits in the pre-flight band (<= ~30 min)
  for i in $(seq 1 60); do
    read -r st mt <<< "$(probe)"
    if python3 -c "exit(0 if float('$st')<=$PREFLIGHT_ST_MAX and float('$mt')<=$PREFLIGHT_MT_MAX else 1)"; then
      echo "   [gate] idle: st=${st}ms mt=${mt}ms"; return 0
    fi
    echo "   [gate] hostile (st=${st} mt=${mt}), waiting 30s ($i/60)"
    sleep 30
  done
  echo "   [gate] WARNING: box never idled in 30 min — proceeding labeled"
  return 0
}

next_rej() { # next FREE reject index for a slot (re-entry-safe)
  local name="$1"; local i=1
  while [[ -e "$OUT/${name}_rej${i}.json" ]]; do i=$((i+1)); done
  echo "$i"
}

spark_run() { # gated full run: name dir -> writes $OUT/$name.json (+ _rejN)
  local name="$1" dir="${2:-.}"
  if [[ -s "$OUT/$name.json" ]] && python3 dev/gate_accept.py artifact "$OUT/$name.json"; then
    echo "== spark $name: existing accepted artifact, skipping"; return 0
  fi
  for att in $(seq 1 $MAX_ATTEMPTS); do
    wait_idle
    echo "== spark $name attempt $att ($(date +%H:%M:%S))"
    (cd "$dir" && SPARK_GRAFT_SF_DIR="$SF_DIR" \
      SPARK_GRAFT_BENCH_OUT="$ROOT/$OUT/$name.json" \
      sbt -batch "runMain graft.Bench" 2>&1 | grep -E '^\[bench\]' | tail -4)
    python3 -c "import json; d=json.load(open('$OUT/$name.json')); print(' ', round(d['value'],1), 's,', len(d['queries']), 'queries, failed:', d['failed'])"
    if python3 dev/gate_accept.py artifact "$OUT/$name.json"; then return 0; fi
    echo "   [gate] $name attempt $att REJECTED (sentinel out of band) — retrying"
    cp "$OUT/$name.json" "$OUT/${name}_rej$(next_rej "$name").json"
  done
  echo "   [gate] $name: no accepted run in $MAX_ATTEMPTS attempts (last kept, labeled)"
  return 0
}

duck_run() { # gated comparator leg: probe-bracketed, accepted iff both
             # probes in band; probes ride in the artifact (VERDICT #4)
  local name="$1"
  if [[ -s "$OUT/$name.json" ]]; then echo "== duckdb $name exists, skipping"; return 0; fi
  for att in $(seq 1 $MAX_ATTEMPTS); do
    wait_idle
    echo "== duckdb $name attempt $att ($(date +%H:%M:%S))"
    read -r pre_st pre_mt <<< "$(probe)"
    python3 dev/oracle_bench.py "$SF_DIR" "$ORACLE_SQL" > "$OUT/$name.json.tmp"
    read -r post_st post_mt <<< "$(probe)"
    python3 - "$OUT/$name.json.tmp" "$OUT/$name.json" "$pre_st" "$pre_mt" "$post_st" "$post_mt" <<'EOF'
import json, sys
src, dst, pre_st, pre_mt, post_st, post_mt = sys.argv[1:7]
d = json.load(open(src))
d["probe_pre"] = {"st_ms": float(pre_st), "mt_ms": float(pre_mt)}
d["probe_post"] = {"st_ms": float(post_st), "mt_ms": float(post_mt)}
json.dump(d, open(dst, "w"))
EOF
    rm -f "$OUT/$name.json.tmp"
    python3 -c "import json; d=json.load(open('$OUT/$name.json')); print(' ', round(d['value'],1), 's,', d['n'], 'queries,', d['timeouts'])"
    if python3 dev/gate_accept.py pair "$pre_st" "$pre_mt" "$post_st" "$post_mt"; then return 0; fi
    echo "   [gate] duckdb $name attempt $att REJECTED (probe bracket out of band) — retrying"
    cp "$OUT/$name.json" "$OUT/${name}_rej$(next_rej "$name").json"
    rm -f "$OUT/$name.json"
  done
  echo "   [gate] $name: no accepted duckdb leg in $MAX_ATTEMPTS attempts"
  return 0
}

# bench_run1 is the throwaway cold run (never committed): if ANY run1
# artifact exists the cache is warm and the slot is done
if [[ ! -s "$OUT/bench_run1.json" ]]; then spark_run bench_run1
else echo "== spark bench_run1: artifact exists (cold slot done)"; fi
duck_run duckdb_run1
spark_run bench_run2
duck_run duckdb_run2
spark_run bench_run3
duck_run duckdb_run3
spark_run bench_run4
spark_run "bench_${CONTROL_LABEL}_samewindow" "$CONTROL_DIR"

# COMMIT GATE: median accepted warm run vs accepted-DuckDB median,
# must be < 2.0. Exit status propagates (r17 ADVICE #3).
python3 - <<EOF || exit 1
import json, glob, re, statistics, shutil, subprocess, sys
warm = []
for n in ["bench_run2", "bench_run3", "bench_run4"]:
    path = f"$OUT/{n}.json"
    ok = subprocess.run(
        [sys.executable, "dev/gate_accept.py", "artifact", path],
        capture_output=True, text=True)
    d = json.load(open(path))
    print(f"{n}: {d['value']:.1f}s {ok.stdout.strip()}")
    if ok.returncode == 0:
        warm.append((d["value"], n))
ducks = []
for f in sorted(glob.glob("$OUT/duckdb_run*.json")):
    if re.search(r"_rej\d+\.json$", f):
        continue
    d = json.load(open(f))
    ducks.append(d["value"])
    print(f"{f}: {d['value']:.1f}s probes pre={d.get('probe_pre')} post={d.get('probe_post')}")
if len(warm) < 3:
    print(f"GATE FAIL: only {len(warm)} accepted warm runs (need 3) — re-run rejected slots")
    sys.exit(1)
if len(ducks) < 3:
    print(f"GATE FAIL: only {len(ducks)} accepted duckdb legs (need 3)")
    sys.exit(1)
dmed = statistics.median(sorted(ducks))
warm.sort()
med_val, med_name = warm[len(warm) // 2]
ratio = med_val / dmed
print(f"median accepted warm = {med_val:.1f}s ({med_name}); duckdb median = {dmed:.1f}s; ratio = {ratio:.3f}x")
if ratio >= 2.0:
    print("GATE FAIL: ratio >= 2.0 — do not commit this sitting's bench.json")
    sys.exit(1)
shutil.copy(f"$OUT/{med_name}.json", "bench.json")
print(f"ACCEPTED: {med_name} -> bench.json (ratio {ratio:.3f}x < 2.0)")
EOF
echo "== protocol done (commit gate passed)"
