#!/usr/bin/env python3
"""Benchmark of the program's serve and ingest paths and its heaviest gates.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness from source
(perfbench/build.py), runs one workload in one JVM (perfbench/harness), checks
every result, and prints one JSON line as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The full record of a run (latency per op type, per-gate times, spans) is kept
under .bench_build/perfbench/runs/.
"""
import argparse
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
import build  # noqa: E402

WORKLOADS = ("geo_serve", "pipeline_gates")
GATE_DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170
HEAP = "3g"
# On a shared 4-vCPU virtual machine the same code ran up to 1.6x faster at
# one time than at another, and a whole run moved together. The time from JVM
# launch to a ready Spark session, measured before any code of the program
# runs, tracked those swings (op latency / start-up time varied about +-7 %
# where raw latency varied +-25 %; a timed Spark query tracked them poorly),
# so the end-to-end timings are reported scaled to a host that starts Spark
# in this many seconds. The raw figures stay in the run record.
REFERENCE_SPARK_START_S = 3.5

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "retained_heap_mb": "MB"}
PER_LAYER = {
    "api.call_ms": "ms", "driver.self_ms": "ms",
    "spark.jobs_per_op": "count", "spark.jobs_unattributed": "count",
    "spark.tasks_per_op": "count", "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.scheduler_delay_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "sources.files_read_per_op": "count", "sources.file_prune_ratio": "ratio",
    "sources.bytes_read_per_op": "bytes", "sources.rows_read_per_op": "count",
    "sources.rows_read_per_result": "ratio",
    "knn.widen_ratio": "ratio", "ingest.dedup_drop_ratio": "ratio",
    "ingest.files_written": "count", "ingest.bytes_written": "bytes",
    "pipeline.tmp_dirs_left": "count", "trace.overhead_ms": "ms",
    "geo.prefix_cover_us": "us", "geo.prefixes_per_query": "count",
    "geo.cover_fallback_ratio": "ratio",
    "sql.st_covers_ns_per_row.small": "ns", "sql.st_covers_ns_per_row.medium": "ns",
    "sql.st_covers_ns_per_row.large": "ns", "sql.distance_ns_per_row": "ns",
    "sql.geohash_encode_ns_per_row": "ns", "sql.topn_by_ord_ns_per_row": "ns",
}

# JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_harness(args, work, out, log_path, deadline):
    """Runs the harness JVM; returns its peak resident set in MB."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", build.classpath(), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", GATE_DATA, "--out", out,
           "--launch-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work,
                                start_new_session=True)
        status = None
        try:
            while status is None:
                pid, st, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    status = st
                elif time.time() > deadline:
                    fail(f"harness exceeded its time limit; log: {log_path}")
                else:
                    time.sleep(0.1)
        finally:
            if status is None:  # timed out or interrupted: stop the JVM and wait for it
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}; log: {log_path}")
    return usage.ru_maxrss / 1024.0


def cells_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def canon(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=lambda t: tuple(str(x) for x in t))


def oracle_rows(con, sql):
    """The canonical rows of an oracle query. The gate inputs are fixed, so
    the answer is cached by the query text and the inputs' content."""
    h = hashlib.sha256(sql.encode())
    for name in sorted(os.listdir(GATE_DATA)):
        with open(os.path.join(GATE_DATA, name), "rb") as fh:
            h.update(name.encode() + hashlib.sha256(fh.read()).digest())
    path = os.path.join(build.OUT, "oracle-cache", h.hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    rows = canon(con.sql(sql))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(rows, fh)
    os.replace(path + ".tmp", path)
    return rows


def check_gates(rec):
    """Replays each gate's SparkEntry.oracleSql in DuckDB over the same inputs
    and compares it with the rows every op of that gate wrote. Returns the
    mismatches as {gate: [reason per failing op]}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in rec["detail"]["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{GATE_DATA}/{t}.parquet'")
    bad = {}
    for gate, outs in sorted(rec["detail"]["results"].items()):
        try:
            exp_cols, exp = oracle_rows(con, rec["detail"]["oracle_sql"][gate])
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[gate] = [f"oracle error: {e}"[:300]] * len(outs)
            continue
        for out in outs:
            got_cols, got = canon(con.sql(f"SELECT * FROM '{out['dir']}/*.parquet'"))
            if got_cols != exp_cols:
                why = f"columns {got_cols} != {exp_cols}"
            elif len(got) != len(exp) or not all(
                    len(x) == len(y) and all(cells_equal(a, b) for a, b in zip(x, y))
                    for x, y in zip(got, exp)):
                why = f"rows differ ({len(got)} vs oracle {len(exp)})"
            else:
                continue
            bad.setdefault(gate, []).append(why)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated runner still stops and reaps its JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    if not os.path.isdir(build.PROGRAM_SRC):
        fail(f"program sources not found under {build.PROGRAM_SRC}")
    if not os.path.isdir(GATE_DATA):
        fail(f"gate inputs not found under {GATE_DATA}")
    os.makedirs(build.OUT, exist_ok=True)
    with open(os.path.join(build.OUT, "build.log"), "a") as log:
        build.build(log=log)

    deadline = time.time() + RUN_LIMIT_S  # the build, first run only, has its own budget
    work = os.path.join(build.OUT, "work", args.workload)
    runs = os.path.join(build.OUT, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(runs, name + ".json")
    rss_mb = run_harness(args, work, out, os.path.join(runs, name + ".log"),
                         deadline)
    with open(out) as fh:
        rec = json.load(fh)

    failed, failures = rec["failed"], list(rec["failures"])
    if args.workload == "pipeline_gates":
        t0 = time.time()
        bad = check_gates(rec)
        rec["oracle_check_s"] = time.time() - t0
        rec["oracle_mismatch"] = bad
        for gate, whys in sorted(bad.items()):
            failed += len(whys)
            failures.append(f"gate:{gate}:{whys[0]}")
    rec["peak_rss_mb"] = rss_mb
    rec["host_factor"] = rec["spark_start_s"] / REFERENCE_SPARK_START_S
    rec["failed_op_ratio"] = failed / max(1, rec["attempted"])
    with open(out, "w") as fh:
        json.dump(rec, fh)
    shutil.rmtree(work, ignore_errors=True)
    for f in failures[:20]:
        print(f"failed: {f}", file=sys.stderr)

    if args.trace:
        values = {k: rec["layers"][k] for k in PER_LAYER}
        units = PER_LAYER
    else:
        f = rec["host_factor"]
        values = {"setup_s": rec["setup_s"] / f, "op_p50_ms": rec["op_p50_ms"] / f,
                  "ops_per_s": rec["ops_per_s"] * f, "retained_heap_mb": rec["retained_heap_mb"]}
        units = END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
