#!/usr/bin/env bash
# probe_all.sh — the adversarial parity gate (round-13 verdict item 1).
#
# Loops the fixture profiles {seed0, seed1, empty, cap1, constant,
# hotbucket, fanoff} through (AdversarialFixture -> graft.Verify ->
# tools/oracle_probe.py) and exits NONZERO on any query crash or any
# oracle-parity failure. This is the mechanism that found 34 real
# boundary bugs in round 13 — one command, so no future session can
# skip it. The `dupids` profile (round 15) is CONTRACT-gated instead:
# a duplicate-primary-key corpus must trip Tables.requirePk's designed
# error (tools/PkGuard), not produce query output.
#
# Usage:
#   tools/probe_all.sh                 # all profiles (run `sbt compile` first)
#   tools/probe_all.sh seed0 empty     # a subset, by profile name
#   PROBE_KEEP=1 tools/probe_all.sh    # keep work dirs for debugging
#
# Expectations per profile:
#   - graft.Verify writes every declared query crash-free (any
#     "[verify] <name> failed" line on stderr is a gate failure);
#   - oracle_probe.py reports n_fail == 0 and n_pass == |oracle_sql|,
#     with |oracle_sql| >= MIN_ORACLED (a shrunk oracle map must fail
#     the gate, not quietly lower the bar).
#
# Runtime: the fixtures are hundreds of rows — the cost is per-query
# plan/JVM overhead, roughly 2-4 min per profile, ~18-30 min for all
# seven on an idle host. SPARK_GRAFT_CPUS (default 8) sizes the local
# master; PROBE_THREADS (default 32) sizes DuckDB.

set -u
cd "$(dirname "$0")/.."

MIN_ORACLED=178

CLASSES=target/scala-2.13/classes
if [ ! -f "$CLASSES/graft/Verify.class" ]; then
  echo "probe_all: $CLASSES missing graft.Verify — run 'sbt compile' first" >&2
  exit 2
fi
CP="$CLASSES:/opt/spark/jars/*"
# UTF-8 JVM: this host's default locale is ASCII (ANSI_X3.4-1968), under
# which a unicode PARTITION VALUE becomes an unencodable filesystem path
# (java.nio.file.InvalidPathException deep inside a partitioned write —
# found by the hostile-lang probe). Production Spark clusters run UTF-8;
# the gate must match.
export LC_ALL=C.utf8
# The module opens spark-submit would add (JDK 17 strong encapsulation).
JVM_OPTS="-Dfile.encoding=UTF-8 -Dsun.jnu.encoding=UTF-8 \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}"

# profile name -> AdversarialFixture args (after the output dir).
# Any seedN is accepted (seed2, seed3, ... vary the filler content and
# null/edge placements deterministically) — the committed default set
# runs seed0+seed1; deeper seed sweeps are an on-demand robustness
# probe, same green bar.
profile_args() {
  case "$1" in
    seed0|fanoff) echo "" ;;
    seed[0-9]|seed[0-9][0-9]) echo "${1#seed}" ;;
    empty)     echo "empty" ;;
    cap1)      echo "cap=1" ;;
    constant)  echo "constant" ;;
    hotbucket) echo "hotbucket" ;;
    dupids)    echo "dupids" ;;
    *) return 1 ;;
  esac
}

# profile name -> SPARK_GRAFT_CONF for the Verify JVM. The hotbucket
# profile shrinks the near-dedup cap so it binds on the 500-doc
# boilerplate bucket; ConfEnv applies the SAME value to the engine
# session and the oracle-SQL pair windows, so the cap-binding DuckDB
# parity is the data-level audit of the successor window. The fanoff profile
# is the seed0 fixture with the post-shuffle re-fan off (the cluster
# setting of graft.fan.postShuffle): results must not move.
profile_conf() {
  case "$1" in
    hotbucket) echo "graft.neardedup.bucketCap=8" ;;
    fanoff)    echo "graft.fan.postShuffle=off" ;;
    *)         echo "" ;;
  esac
}

PROFILES=("$@")
if [ ${#PROFILES[@]} -eq 0 ]; then
  PROFILES=(seed0 seed1 empty cap1 constant hotbucket fanoff dupids)
fi

WORK=$(mktemp -d /tmp/graft_probe_gate.XXXXXX)
if [ "${PROBE_KEEP:-0}" != "1" ]; then
  trap 'rm -rf "$WORK"' EXIT
else
  trap 'echo "probe_all: work dirs kept under $WORK"' EXIT
fi

overall=0
summary=()
for prof in "${PROFILES[@]}"; do
  args=$(profile_args "$prof") || { echo "probe_all: unknown profile '$prof'" >&2; exit 2; }
  fix="$WORK/$prof/fixture"; out="$WORK/$prof/verify"
  mkdir -p "$fix" "$out"
  echo "== profile $prof =="

  # shellcheck disable=SC2086
  if ! java $JVM_OPTS -cp "$CP" graft.tools.AdversarialFixture "$fix" $args \
       > "$WORK/$prof/fixture.log" 2>&1; then
    echo "   FIXTURE CRASH (see $WORK/$prof/fixture.log)"
    tail -5 "$WORK/$prof/fixture.log" | sed 's/^/   | /'
    overall=1; summary+=("$prof: FIXTURE CRASH"); continue
  fi

  # dupids: a PK-violating corpus is CONTRACT-gated, not parity-gated —
  # oracle parity is undefined under duplicate ids (31 silent
  # divergences when probed), so the profile's whole gate is PkGuard:
  # the designed uniqueness error must fire for both tables and the
  # graft.pk.check=skip escape must open.
  if [ "$prof" = "dupids" ]; then
    if java $JVM_OPTS -cp "$CP" graft.tools.PkGuard "$fix" \
         > "$WORK/$prof/pkguard.out" 2>&1; then
      grep '^\[pk-guard\]' "$WORK/$prof/pkguard.out" | sed 's/^/   /'
      summary+=("$prof: OK (PK contract enforced on data)")
    else
      echo "   PK GUARD FAILED:"
      tail -8 "$WORK/$prof/pkguard.out" | sed 's/^/   | /'
      overall=1; summary+=("$prof: PK contract NOT enforced")
    fi
    continue
  fi

  conf=$(profile_conf "$prof")
  SPARK_GRAFT_CONF="$conf" java $JVM_OPTS -cp "$CP" graft.Verify "$fix" "$out" \
       > "$WORK/$prof/verify.out" 2> "$WORK/$prof/verify.err"
  verify_rc=$?
  crashes=$(grep -c '^\[verify\]' "$WORK/$prof/verify.err" || true)
  if [ "$verify_rc" -ne 0 ] || [ "$crashes" -gt 0 ]; then
    echo "   VERIFY: rc=$verify_rc, $crashes query crash(es)"
    grep '^\[verify\]' "$WORK/$prof/verify.err" | head -10 | sed 's/^/   | /'
    overall=1; summary+=("$prof: $crashes crash(es), rc=$verify_rc")
    [ "$verify_rc" -ne 0 ] && continue   # no output dir to probe
  fi

  oracled=$(python3 -c "import json,sys; print(len(json.load(open('$out/oracle_sql.json'))))" 2>/dev/null || echo 0)
  python3 tools/oracle_probe.py "$fix" "$out" > "$WORK/$prof/probe.out" 2>&1
  probe_rc=$?
  tallies=$(grep -E '^== [0-9]+ pass, [0-9]+ fail ==$' "$WORK/$prof/probe.out" | tail -1)
  n_pass=$(echo "$tallies" | grep -oE '[0-9]+ pass' | grep -oE '[0-9]+' || echo 0)
  n_fail=$(echo "$tallies" | grep -oE '[0-9]+ fail' | grep -oE '[0-9]+' || echo 999)
  if [ "$probe_rc" -ne 0 ] || [ "${n_fail:-999}" -ne 0 ] \
     || [ "${n_pass:-0}" -ne "$oracled" ] || [ "$oracled" -lt "$MIN_ORACLED" ]; then
    echo "   PROBE: rc=$probe_rc, $n_pass/$oracled pass (floor $MIN_ORACLED), $n_fail fail"
    grep '^FAIL' "$WORK/$prof/probe.out" | head -10 | sed 's/^/   | /'
    overall=1; summary+=("$prof: probe $n_pass/$oracled, $n_fail fail")
  elif [ "$crashes" -eq 0 ]; then
    echo "   OK: 0 crashes, $n_pass/$oracled oracle-parity green"
    summary+=("$prof: OK ($n_pass/$oracled)")
  fi
done

echo "== probe_all summary =="
printf '   %s\n' "${summary[@]}"
if [ "$overall" -ne 0 ]; then
  echo "probe_all: GATE FAILED"
  if [ "${PROBE_KEEP:-0}" != "1" ]; then
    echo "probe_all: re-run with PROBE_KEEP=1 to keep logs"
  fi
else
  echo "probe_all: all profiles green"
fi
exit "$overall"
