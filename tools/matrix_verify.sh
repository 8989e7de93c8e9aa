#!/bin/bash
# Full-surface correctness matrix: every registered query under each
# robustness config (codegen-off, AQE-off at sf0.01 and sf0.1, local[7],
# sf0.1, sf1), each followed by the local DuckDB oracle compare. The
# AQE-off leg runs at sf0.1 too: at sf0.01 a range exchange samples every
# row, so plan faults that depend on size stay hidden there. Runs against
# a class SNAPSHOT (CLASSDIR) so concurrent recompiles can't tear a
# running JVM.
# Usage: CLASSDIR=/tmp/graft_classes tools/matrix_verify.sh <tag>
set -uo pipefail
TAG=${1:-r13}
cd "$(dirname "$0")/.."
FAIL=0
run() { # name, sfdir, outdir, env...
  local name=$1 sfdir=$2 outdir=$3; shift 3
  echo "=== $name ==="
  if env "$@" tools/run_main.sh graft.Verify "$sfdir" "$outdir" \
      > /tmp/matrix_${TAG}_${name}.log 2>&1; then
    # Run the oracle compare WITHOUT a pipe so its exit status is real,
    # then show the tail; a red compare must fail the whole matrix.
    local vlog=/tmp/matrix_${TAG}_${name}.verify.log
    if python3 tools/verify_local.py "$sfdir" "$outdir" > "$vlog" 2>&1; then
      tail -2 "$vlog"
    else
      tail -2 "$vlog"
      echo "ORACLE-COMPARE-FAILED $name (see $vlog)"
      FAIL=1
    fi
  else
    echo "VERIFY-RUN-FAILED $name (see /tmp/matrix_${TAG}_${name}.log)"
    FAIL=1
  fi
}
run cg    /root/testdata/sf0.01 /tmp/verify_${TAG}_cg \
    SPARK_GRAFT_CONF=spark.sql.codegen.wholeStage=false
run aqe   /root/testdata/sf0.01 /tmp/verify_${TAG}_aqe \
    SPARK_GRAFT_CONF=spark.sql.adaptive.enabled=false
run aqe01 /root/testdata/sf0.1  /tmp/verify_sf01_${TAG}_aqe \
    SPARK_GRAFT_CONF=spark.sql.adaptive.enabled=false
run l7    /root/testdata/sf0.01 /tmp/verify_${TAG}_l7 SPARK_GRAFT_CPUS=7
run sf01  /root/testdata/sf0.1  /tmp/verify_sf01_${TAG}
run sf1   /tmp/testdata-sf1     /tmp/verify_sf1_${TAG} SPARK_DRIVER_MEM=24g
if [ "$FAIL" -ne 0 ]; then
  echo "=== matrix FAILED (one or more legs not all-green) ==="
  exit 1
fi
echo "=== matrix done ==="
