#!/usr/bin/env bash
# Replicates the driver's per-round flow locally:
#   t1 smoke (entry at sf0.001) -> t2 correctness (Verify + DuckDB oracle
#   at sf0.01) -> perfbench self-tests and one untraced run per workload
#   registered in BENCHMARK.json -> bench (sf0.1, one JSON line) -> full
#   test suite.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== t1: smoke (Verify entry @ sf0.001)"
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/graft_dryrun_t1"

echo "== t2: Verify @ sf0.01 + oracle compare"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_dryrun_out"
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_dryrun_out

echo "== perfbench self-tests"
python3 -m unittest discover -s perfbench -p 'test_*.py'

echo "== perfbench smoke: one untraced run per registered workload"
for w in $(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))'); do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 \
    | tail -n 1 \
    | python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.stdin.read())["correct"] else 1)' \
    || { echo "perfbench $w: run failed or correct: false"; exit 1; }
done

echo "== bench @ sf0.1"
# a failed query (its time becomes the 1e9 sentinel) or a stale release
# map (a shared frame rebuilt after release) fails the step
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"' | python3 -c '
import json, sys
summary = None
for line in sys.stdin:
    print(line, end="")
    if "\"metric\":\"total\"" in line:
        summary = json.loads(line[line.index("{"):])
if summary is None:
    sys.exit("bench: no summary line")
bad = {k: summary[k] for k in ("errors", "shared_rebuilds") if summary[k]}
sys.exit("bench: " + json.dumps(bad) if bad else 0)'

echo "== tests"
sbt -batch test

echo "DRYRUN OK"
