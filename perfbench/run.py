#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one measured closed loop.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): `dashboard` (ADS panel queries and DIM
point lookups), `stream_ingest` (micro-batches through three maintained
twins, and point lookups into the CDC-maintained dim) and `curation_batch`
(cold LLM-curation jobs). The script builds the
engine and the harness from source with sbt on first use, generates the
run's inputs from the seed, runs the harness JVM at local[nproc], checks
every output (DuckDB oracles, source rows, batch forms), writes a capture
under perfbench/captures/ and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ledger. Exit code 0 means a result was printed; anything else means the
run could not be made (no sources, refused lever, build or JVM failure).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("dashboard", "stream_ingest", "curation_batch")
# The op kinds a workload's op_p50_ms is taken over; "lookup" ops are
# reported apart (lookup_p50_ms), so the lookup count never weighs it.
MAIN_OPS = ("panel", "tick", "job")
TWINS = ("cdc", "ivm", "push")
# Engine levers that change what a run measures; a lever-mode run must not
# pass as a default one, so the benchmark refuses to run under any of them.
LEVERS = ("SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_CACHED_AQE",
          "SPARK_GRAFT_APPROX_DISTINCT", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
          "SPARK_GRAFT_TRACE")
MB = 1024.0 * 1024.0
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ statistics

def p50(values):
    return statistics.median(values)


def p90(values):
    """Nearest-rank 90th percentile, or None unless at least ten samples
    lie beyond it (that is, at least 100 samples)."""
    n = len(values)
    rank = math.ceil(0.9 * n)
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def self_times(spans):
    """Self time (ms) per span name: each span's duration minus the
    durations of its direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[(s["op"], s["parent"])] = child.get((s["op"], s["parent"]), 0) + (
                s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        own = (s["end_ns"] - s["start_ns"]) - child.get((s["op"], s["id"]), 0)
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e6
    return out


# ----------------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (sbt, offline) unless the sources
    are unchanged since the last build; returns the runtime classpath."""
    out = os.path.join(HERE, "target", "perfbench")
    stamp = os.path.join(out, "stamp.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if r.returncode != 0:
        die("build failed:\n" + "\n".join(lines[-30:]))
    cp = [ln for ln in lines if "scala-2.13" in ln and os.pathsep in ln and " " not in ln]
    if not cp:
        die("build printed no classpath")
    classpath = cp[-1].split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


# ---------------------------------------------------------------------- checks

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    import decimal
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    return str(v)


def table_of(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(canon(v) for v in r) for r in df[cols].itertuples(index=False, name=None))
    return cols, rows


def oracle_check(entry):
    """Compare one dumped result with its DuckDB oracle: column names, row
    count and canonical values. Returns an error string or None."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{entry['tables']}/{t}.parquet'")
        got = table_of(pd.read_parquet(entry["dump"]))
        exp = table_of(con.sql(entry["sql"]).df())
    finally:
        con.close()
    if got[0] != exp[0]:
        return f"columns {got[0]} != oracle {exp[0]}"
    if len(got[1]) != len(exp[1]):
        return f"{len(got[1])} rows != oracle {len(exp[1])}"
    bad = [(a, b) for a, b in zip(got[1], exp[1]) if a != b]
    if bad:
        return f"{len(bad)} rows differ; first {bad[0][0]} != oracle {bad[0][1]}"
    return None


# --------------------------------------------------------------------- metrics

def end_to_end(rec, ops):
    ms = [o["ms"] for o in ops if o["kind"] in MAIN_OPS]
    lookups = [o["ms"] for o in ops if o["kind"] == "lookup"]
    failed = sum(1 for o in ops if not o["ok"])
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "op_p50_ms": (p50(ms), "ms"),
        "lookup_p50_ms": (p50(lookups) if lookups else None, "ms"),
        "op_p90_ms": (p90(ms), "ms"),
        "ops_per_s": (len(ops) / rec["timed_s"], "1/s"),
        "rows_per_s": (sum(o["rows_in"] for o in ops) / rec["timed_s"], "1/s"),
        "fail_ratio": (failed / len(ops), "ratio"),
        "state_mb": (rec["state_b"] / MB if "state_b" in rec else None, "MB"),
        "cache_peak_mb": (rec["cache_peak_b"] / MB, "MB"),
    }
    if rec["workload"] == "dashboard":
        m.pop("rows_per_s")
    else:
        m.pop("op_p90_ms")
    if rec["workload"] != "stream_ingest":
        m.pop("state_mb")
    if rec["workload"] == "curation_batch":
        m.pop("lookup_p50_ms")
    return m


def per_layer(rec, ops):
    """Per-op means over the workload's main ops (panel queries, ticks or
    jobs); the lookup.* metrics and files_kept_ratio over its lookups."""
    rows = {r["id"]: r["c"] for r in rec["ledger"] if r["kind"] in MAIN_OPS}
    lookups = [r["c"] for r in rec["ledger"] if r["kind"] == "lookup"]
    n = len(rows)
    tot = lambda k: sum(r.get(k, 0.0) for r in rows.values())
    mean = lambda k: tot(k) / n
    lmean = lambda k: statistics.mean(r.get(k, 0.0) for r in lookups) if lookups else 0.0
    wall = tot("wall_ms")
    last = rows[max(rows)]
    pruned = [r for r in lookups if r.get("dim_files_live", 0) > 0]
    session = sum(tot(k) for k in ("analysis_ms", "optimizer_ms", "physical_ms", "codegen_ms"))
    m = {
        "session.analysis_ms": (mean("analysis_ms"), "ms"),
        "session.optimizer_ms": (mean("optimizer_ms"), "ms"),
        "session.physical_ms": (mean("physical_ms"), "ms"),
        "session.codegen_ms": (mean("codegen_ms"), "ms"),
        "session.codegen_classes": (mean("codegen_classes"), "count"),
        "session.actions": (mean("actions"), "count"),
        "session.share": (session / wall, "ratio"),
        "operators.jobs": (mean("jobs"), "count"),
        "operators.stages": (mean("stages"), "count"),
        "operators.tasks": (mean("tasks"), "count"),
        "operators.job_gap_ms": (mean("job_gap_ms"), "ms"),
        "operators.driver_idle": (1.0 - tot("task_run_ms") / (wall * rec["cores"]), "ratio"),
        "operators.result_mb": (mean("result_b") / MB, "MB"),
        "operators.task_run_ms": (mean("task_run_ms"), "ms"),
        "operators.task_cpu_ms": (mean("task_cpu_ms"), "ms"),
        "operators.gc_ms": (mean("gc_ms"), "ms"),
        "operators.shuffle_write_mb": (mean("shuffle_write_b") / MB, "MB"),
        "operators.shuffle_read_mb": (mean("shuffle_read_b") / MB, "MB"),
        "operators.spill_mb": (mean("spill_b") / MB, "MB"),
        "scan.files_read": (mean("scan_files"), "count"),
        "scan.mb_read": (mean("scan_b") / MB, "MB"),
        "scan.rows_read": (mean("scan_rows"), "count"),
        "sources.commits": (mean("commits"), "count"),
        "sources.files_written": (mean("files_written"), "count"),
        "sources.mb_written": (mean("bytes_written") / MB, "MB"),
        "sources.write_amp": (tot("bytes_written") / tot("input_bytes")
                              if tot("input_bytes") else 0.0, "ratio"),
        "sources.files_live": (last.get("files_live", 0.0), "count"),
        "sources.versions_live": (last.get("versions_live", 0.0), "count"),
        "sources.files_kept_ratio": (
            statistics.mean(r.get("scan_files", 0.0) / r["dim_files_live"] for r in pruned)
            if pruned else 0.0, "ratio"),
        "lookup.tasks": (lmean("tasks"), "count"),
        "lookup.files_read": (lmean("scan_files"), "count"),
    }
    for t in TWINS:
        m[f"streaming.{t}.commit_ms"] = (mean(f"twin.{t}.commit_ms"), "ms")
        m[f"streaming.{t}.serve_ms"] = (mean(f"twin.{t}.serve_ms"), "ms")
        m[f"streaming.{t}.jobs"] = (mean(f"twin.{t}.jobs"), "count")
    m["cache.builds"] = (mean("cache_builds"), "count")
    m["cache.rebuilds"] = (mean("cache_rebuilds"), "count")
    m["cache.mb"] = (max(r.get("cache_peak_b", 0.0) for r in rows.values()) / MB, "MB")
    e2e = end_to_end(rec, ops)
    m["traced.op_p50_ms"] = e2e["op_p50_ms"]
    if "lookup_p50_ms" in e2e:
        m["traced.lookup_p50_ms"] = e2e["lookup_p50_ms"]
    return m


def cpu_jiffies():
    """The host's aggregate CPU counters (user, nice, system, idle, iowait,
    irq, softirq, steal), or None where /proc/stat is unreadable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(start, end):
    """Share of CPU time the hypervisor took from this host between two
    `cpu_jiffies` samples: noise the capture should carry."""
    if not start or not end:
        return None
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else None


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--capture", help="capture file (default perfbench/captures/...)")
    a = ap.parse_args()

    for k in LEVERS:
        if k in os.environ:
            die(f"refusing to run with engine lever {k}={os.environ[k]!r} set")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no engine sources under {ROOT} (build.sbt, src/main/scala)")
    spec = benchmark_spec()
    classpath = build()
    t_start = time.time()  # the per-run time limit starts after any build

    load_start = os.getloadavg()
    cpu_start = cpu_jiffies()
    cores = len(os.sched_getaffinity(0))
    runs = os.path.join(HERE, "work")
    for stale in os.listdir(runs) if os.path.isdir(runs) else []:
        # scratch left by a run that was killed (its process is gone)
        pid = stale.rpartition("-")[2]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(runs, stale), ignore_errors=True)
    work = os.path.join(runs, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        gen.write_inputs(a.seed, os.path.join(work, "inputs"))
        inputs_s = time.time() - t0
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.sql.session.timeZone=UTC"]
        cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main", a.workload,
                str(a.seed), str(a.seconds), str(a.trace), work, str(cores)]
        budget = max(30.0, JVM_TIMEOUT_S - (time.time() - t_start))
        t0 = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                die(f"harness JVM exceeded {budget:.0f} s")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        result = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result):
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read().splitlines()[-40:]
            die(f"harness JVM failed (exit {code}):\n" + "\n".join(tail))
        jvm_s = time.time() - t0
        cpu_end = cpu_jiffies()
        with open(result) as f:
            rec = json.load(f)
        t0 = time.time()

        ops = rec["ops"]
        by_id = {o["id"]: o for o in ops}
        for entry in rec["oracle"]:
            try:
                err = oracle_check(entry)
            except Exception as e:  # an oracle that cannot run is a failed check
                err = f"{type(e).__name__}: {e}"
            entry["ok"] = err is None
            entry["detail"] = err or ""
            if err:
                for i in entry["ops"]:
                    by_id[i]["ok"] = False
                    by_id[i]["detail"] = by_id[i]["detail"] or f"oracle: {err}"
        checks = rec["checks"] + [
            {"name": f"oracle:{e['query']}", "ok": e["ok"], "detail": e["detail"]}
            for e in rec["oracle"]]
        checks_s = time.time() - t0
        failed = sum(1 for o in ops if not o["ok"])
        correct = failed == 0 and all(c["ok"] for c in checks)

        e2e = end_to_end(rec, ops)
        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        layers = per_layer(rec, ops) if a.trace else {}
        reported = layers if a.trace else e2e
        metrics = {k: {"value": reported[k][0], "unit": reported[k][1]}
                   for k in names if k in reported}
        spans = self_times(rec.get("spans", []))

        capture = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "host_cpus": os.cpu_count(), "cores": cores, "loadavg_start": list(load_start),
            "steal_share": steal_share(cpu_start, cpu_end),
            "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            "inputs_s": inputs_s, "jvm_s": jvm_s, "checks_s": checks_s,
            "timed_s": rec["timed_s"], "jvm_checks_s": rec["jvm_checks_s"],
            "setup_phases": rec["setup_phases"],
            "correct": correct, "attempted": len(ops), "failed": failed,
            "end_to_end": {k: {"value": v, "unit": u} for k, v, u in
                           ((k, v[0], v[1]) for k, v in e2e.items())},
            "per_layer": {k: {"value": v[0], "unit": v[1]} for k, v in layers.items()},
            "span_self_ms": spans, "checks": checks,
            "ops": ops, "ledger": rec.get("ledger", []),
        }
        cap = a.capture or os.path.join(
            HERE, "captures", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        os.makedirs(os.path.dirname(os.path.abspath(cap)), exist_ok=True)
        with open(cap, "w") as f:
            json.dump(capture, f, indent=1)

        print(f"workload {a.workload}  seed {a.seed}  cores {cores}  host_cpus {os.cpu_count()}"
              f"  loadavg_start {load_start[0]:.2f}  trace {a.trace}")
        st = steal_share(cpu_start, cpu_end)
        if st is not None:
            print(f"  (CPU time stolen by the hypervisor during the run: {st:.1%})")
        print(f"  (inputs {inputs_s:.1f} s, harness {jvm_s:.1f} s, of which checks"
              f" {rec['jvm_checks_s']:.1f} s; oracle checks {checks_s:.1f} s; set-up "
              + ", ".join(f"{k} {v:.1f} s" for k, v in rec["setup_phases"].items()) + ")")
        for k, (v, u) in e2e.items():
            shown = "n/a (fewer than 100 ops)" if v is None else f"{v:.4f} {u}"
            print(f"  {k:<16} {shown}")
        kinds = {}
        for o in ops:
            kinds[o["kind"]] = kinds.get(o["kind"], 0) + 1
        print("  ops " + ", ".join(f"{n} {k}" for k, n in kinds.items()))
        for c in checks:
            if not c["ok"]:
                print(f"  CHECK FAILED {c['name']}: {c['detail']}")
        for o in ops:
            if not o["ok"]:
                print(f"  OP FAILED #{o['id']} {o['kind']} {o['name']}: {o['detail'][:300]}")
        if a.trace:
            for k, (v, u) in layers.items():
                print(f"  {k:<32} {v:.4f} {u}")
            base = os.path.join(HERE, "captures", f"{a.workload}-seed{a.seed}-trace0.json")
            if os.path.exists(base):
                with open(base) as f:
                    b = json.load(f)["end_to_end"]
                for k in ("op_p50_ms", "lookup_p50_ms"):
                    if k in e2e and e2e[k][0] is not None and b[k]["value"] is not None:
                        print(f"  tracing overhead {k}: {e2e[k][0] - b[k]['value']:+.4f}"
                              f" {e2e[k][1]}")
        print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
