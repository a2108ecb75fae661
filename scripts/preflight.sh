#!/usr/bin/env bash
# Pre-round gate: refuse to snapshot with a red suite or a broken
# bench. Round 2 shipped with 14 failures its own suite catches in
# ~6 minutes — this script makes that impossible to repeat silently.
#
# Usage: scripts/preflight.sh [sf_dir]
#   sf_dir defaults to /root/testdata/sf0.01 (fast); pass
#   /root/testdata/sf0.1 for the driver-scale bench.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"

echo "== preflight: pytest (Tier-1) =="
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

echo "== preflight: benchmark smoke tests =="
python3 -m pytest perfbench -q -p no:cacheprovider

echo "== preflight: full-registry driver simulation =="
# every registered query vs its DuckDB oracle under the driver's exact
# conditions, recorded as DRIVER_SIM_r{N}.json — the window order is
# pre-validated by a committed artifact, not a round-notes sentence
python scripts/driver_sim.py --all --out auto | tail -3

echo "== preflight: bench (${SF_DIR}) =="
OUT=$(SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_PASSES=1 python bench.py 2>/dev/null | tail -1)
echo "$OUT" | python -c '
import json, sys
from raft_c_spark.plans.registry import all_queries
d = json.loads(sys.stdin.read())
assert d["unit"] == "sec" and d["queries"], d
with open(d["full"]) as fh:
    traces = json.load(fh)["queries_trace"]
fields = {"build_s", "exec_s", "build_jobs", "exec_jobs", "cpu_pydriver_s",
          "cpu_jvm_s", "cpu_pyworker_s", "gc_ms", "storage_rdds", "storage_bytes"}
bad = sorted(n for n in all_queries() if not fields <= set(traces.get(n, ())))
assert not bad, "no full trace record in %s for %s" % (d["full"], bad)
print("bench OK: %ss over %d queries at sf=%s, %d traced in %s"
      % (d["value"], len(d["queries"]), d["sf"], len(traces), d["full"]))
'

echo "== preflight: PASS =="
