#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one line of JSON.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Steps:
  1. build the engine and the JVM harness (perfbench/build.py; cached);
  2. generate the workload's inputs from the seed (gen_star.py or
     gen_inmet.py) into a per-process state directory;
  3. run the harness (perfbench/src/PerfBench.scala) in its own JVM, with
     its own java.io.tmpdir (the index store), spark.local.dir,
     spark.sql.warehouse.dir and working directory, all inside that state
     directory, which is removed at exit;
  4. compare every registered query the workload used against its DuckDB
     oracle (tools/verify_local.py's compare);
  5. print {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics of BENCHMARK.json with --trace 0, the per-layer ones with
     --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pyarrow.parquet as pq

import build
import gen_inmet
import gen_star

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The JVM's time limit. It is far inside IndexStore's 600 s reader-grace
# window, so a run that would outlive the window is killed and fails
# before any time-triggered reap could land mid-run.
JVM_TIMEOUT_S = 165

# Same JVM options as build.sbt's javaOptions: the JDK 17 module opens
# Spark needs, the UI off, UTC, G1, and the tier-1 heap policy (half the
# host's memory, clamped to 2..8 GiB). -UsePerfData keeps the JVM from
# writing its perf-counter file to the system temp directory.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_args(classpath, tmp):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-cp", classpath, "perfbench.PerfBench"]


def oracle_check(star_dir, results_dir):
    """(attempted, failed, messages) of the DuckDB compare."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import verify_local
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = verify_local.connect(star_dir)
    failed, msgs = 0, []
    for name in sorted(oracle):
        spark_tbl = verify_local.load_spark(results_dir, name)
        try:
            duck_tbl = con.execute(oracle[name]).arrow()
            if hasattr(duck_tbl, "read_all"):
                duck_tbl = duck_tbl.read_all()
        except Exception as e:  # a broken oracle query fails the check
            failed += 1
            msgs.append(f"{name}: duckdb: {e}")
            continue
        if spark_tbl is None or verify_local.table_key(spark_tbl) != verify_local.table_key(duck_tbl):
            failed += 1
            msgs.append(f"{name}: result differs from the oracle")
    return len(oracle), failed, msgs


def main():
    # SIGTERM unwinds like an exception, so subprocess.run kills and reaps
    # the JVM and the state directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["inmet_etl", "index_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build()
    state = os.path.join(ROOT, ".bench_state", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        inputs, work, tmp = (os.path.join(state, d) for d in ("inputs", "work", "tmp"))
        for d in (inputs, work, tmp):
            os.makedirs(d)
        if a.workload == "inmet_etl":
            input_rows = gen_inmet.generate(inputs, a.seed)["stage_rows"]
        else:
            gen_star.generate(inputs, a.seed)
            input_rows = sum(pq.ParquetFile(os.path.join(inputs, f)).metadata.num_rows
                             for f in os.listdir(inputs))
        result_file = os.path.join(state, "result.json")
        t0 = time.monotonic()
        proc = subprocess.run(
            jvm_args(classpath, tmp) + [a.workload, str(a.seconds), str(a.trace),
                                        inputs, work, result_file],
            cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
            timeout=JVM_TIMEOUT_S)
        jvm_s = time.monotonic() - t0
        if proc.returncode != 0 or not os.path.exists(result_file):
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"harness exited with {proc.returncode}")
        with open(result_file) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        messages = list(res["failures"])
        results = os.path.join(work, "results")
        if os.path.isdir(results):
            n, bad, msgs = oracle_check(inputs, results)
            attempted, failed, messages = attempted + n, failed + bad, messages + msgs
        for name, ok in res["checks"].items():
            if not ok:
                messages.append(f"check failed: {name}")
        for m in messages:
            print(f"FAILED {m}", file=sys.stderr)
        e2e = dict(res["end_to_end"])
        e2e["rows_per_s"] = input_rows / e2e["pass_s"]
        if a.trace:
            values, wanted = res["per_layer"], spec["per_layer"]
            unknown = set(values) - {m["name"] for m in wanted}
            if unknown:
                raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        else:
            values, wanted = e2e, spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(f"{a.workload}: jvm {jvm_s:.1f} s, session {res['session_s']:.1f} s, "
              f"prep {res['prep_s']}, warm-up {res['warmup_s']:.1f} s, "
              f"{res['passes']} passes in {res['timed_s']:.1f} s: {res['pass_times']}",
              file=sys.stderr)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not messages, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
