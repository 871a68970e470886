#!/usr/bin/env bash
# Replicates the driver's per-round flow locally:
#   t1 smoke (entry at sf0.001) -> t2 correctness (Verify + DuckDB oracle
#   at sf0.01) -> perfbench and tools self-tests, one untraced run per workload
#   registered in BENCHMARK.json, then one traced stream_ingest run whose
#   per-tick layer counts are printed -> bench (sf0.1, one JSON line) -> full
#   test suite -> report: known-warning counts in the Verify (sf0.01) and
#   test logs, and code-line counts (reports only, never a gate).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== t1: smoke (Verify entry @ sf0.001)"
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/graft_dryrun_t1"

echo "== t2: Verify @ sf0.01 + oracle compare"
{
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_dryrun_out"
} 2>&1 | tee /tmp/graft_dryrun_verify.log
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_dryrun_out

echo "== perfbench and tools self-tests"
python3 -m unittest discover -s perfbench -p 'test_*.py'
python3 -m unittest discover -s tools -p 'test_*.py'

echo "== perfbench smoke: one untraced run per registered workload"
for w in $(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))'); do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 \
    | tail -n 1 \
    | python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.stdin.read())["correct"] else 1)' \
    || { echo "perfbench $w: run failed or correct: false"; exit 1; }
done

echo "== perfbench traced stream_ingest @ seed 1: per-tick layer counts (a report, not a gate)"
python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 1 \
  | tail -n 1 \
  | python3 -c '
import json, sys
r = json.loads(sys.stdin.read())
print("correct", r["correct"])
for k in ("operators.jobs", "streaming.push.jobs", "session.actions",
          "scan.files_read", "session.codegen_classes", "session.codegen_ms"):
    m = r["metrics"].get(k)
    print(k, m["value"] if m else "n/a")'

echo "== bench @ sf0.1"
# a failed query (its time becomes the 1e9 sentinel) or a failed warmup
# (named "warmup" in errors) fails the step
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
sys.exit("bench: errors " + json.dumps(summary["errors"])
         if summary["errors"] else 0)'

echo "== tests"
sbt -batch test 2>&1 | tee /tmp/graft_dryrun_test.log

echo "== report: known warnings per log (counts only, not a gate)"
# the test log holds one "All paths were ignored:" line by design: the
# SnapshotTableSpec control read of a dot-prefixed directory; and two
# "replaced a previously registered function" lines: the ExtensionsSpec
# control, which registers a probe function over itself, and a second
# `doc_quality_trained` registration, whose weights are loaded per call
for log in /tmp/graft_dryrun_verify.log /tmp/graft_dryrun_test.log; do
  for w in "All paths were ignored:" "WindowExec: No Partition Defined" \
      "already exists on this machine; not re-adding it" \
      "replaced a previously registered function" \
      "Broadcasting large task binary"; do
    echo "$(grep -c -- "$w" "$log" || true) $w ($log)"
  done
done
echo "== report: code lines (tools/loc.py: physical, code, path)"
python3 tools/loc.py src/main/scala src/main/scala/graft/sources/SnapshotTable.scala \
  src/main/scala/graft/streaming/PushStream.scala

echo "DRYRUN OK"
