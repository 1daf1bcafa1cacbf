#!/usr/bin/env bash
# The full correctness-audit sweep in one command: the DuckDB oracle
# compare at every shipped SF, the partition-invariance legs (varied
# shuffle partitions / scan splits) at sf0.01, and the executing
# full-registry codegen census (0 interpreted stages + 48 KB method
# headroom). Oracle legs must end "== N ok, 0 bad ==" with the same N
# (the declared-query count) and log no "[verify] <name> leaked N
# blocks" line; the script exits nonzero if ANY leg fails, with
# per-leg logs under $OUT.
#
# Usage: tools/audit_all.sh [outBase]   (default /tmp/graft_audit)
#
# Runs OUTSIDE sbt (frees the console; see the verify skill notes).
set -u
REPO="$(cd "$(dirname "$0")/.." && pwd)"
OUT="${1:-/tmp/graft_audit}"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED \
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
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED"

FAILED=0

leg() { # name sfDir [env assignments...]
  local name="$1" sf="$2"; shift 2
  echo "=== $name ==="
  mkdir -p "$OUT"
  # keep the full Verify log per leg: a crashed/OOM'd run must be
  # visible directly, not only via a short oracle row count downstream
  if ! env "$@" java -Xmx32g -cp "$CP" $OPTS graft.Verify "$sf" "$OUT/$name" \
      >"$OUT/$name.log" 2>&1; then
    echo "LEG FAILED: graft.Verify exited nonzero — see $OUT/$name.log"
    tail -5 "$OUT/$name.log"
    FAILED=1
    return
  fi
  local verdict
  verdict="$(python3 "$REPO/tools/check_oracle.py" "$sf" "$OUT/$name" 2>&1 | tail -1)"
  echo "$verdict"
  case "$verdict" in
    *" 0 bad ==") : ;;
    *) echo "LEG FAILED: oracle mismatch in $name"; FAILED=1 ;;
  esac
  # block census: Verify reads the cached partitions after each query's
  # scope has closed; any left over outlived the query that made them
  if grep -q '^\[verify\] .* leaked [0-9]* blocks' "$OUT/$name.log"; then
    echo "LEG FAILED: leaked blocks in $name"
    grep '^\[verify\] .* leaked [0-9]* blocks' "$OUT/$name.log" | head -5
    FAILED=1
  fi
}

# cross-SF legs (the de-pinned gates dispatch on the events row count)
leg sf0.001 /root/testdata/sf0.001
leg sf0.01  /root/testdata/sf0.01
leg sf0.1   /root/testdata/sf0.1
# partition-invariance legs at sf0.01: odd small layout, then many
# tiny scan splits (map-side order churn) — a hash that moves here
# would break on a differently-sized cluster
leg part7   /root/testdata/sf0.01 SPARK_GRAFT_CPUS=7
leg split256k /root/testdata/sf0.01 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_CONF="spark.sql.files.maxPartitionBytes=262144"

# leg 6: the executing full-registry codegen census (the gate that
# caught pipe3 running silently interpreted in r16). Executes every
# query at sf0.001, recompiles every whole-stage body; exits nonzero
# on ANY interpreted stage or a worst method past the 48 KB headroom
# bound. See graft.tools.CodegenSweep.
echo "=== codegen_sweep ==="
if java -Xmx32g -cp "$CP" $OPTS graft.tools.CodegenSweep \
    /root/testdata/sf0.001 >"$OUT/codegen_sweep.log" 2>&1; then
  tail -3 "$OUT/codegen_sweep.log"
else
  echo "LEG FAILED: CodegenSweep gate — see $OUT/codegen_sweep.log"
  tail -8 "$OUT/codegen_sweep.log"
  FAILED=1
fi

if [ "$FAILED" -ne 0 ]; then echo "== AUDIT FAILED =="; exit 1; fi
echo "== AUDIT OK: all legs green =="
