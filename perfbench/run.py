#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload elt_m33|adhoc_sql --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selfcheck          # the benchmark's own arithmetic
  python3 perfbench/run.py --oracle-dump DIR    # outputs to regenerate expected.json from

It builds the program and the benchmark (build.py), then starts one JVM
for the workload with every scratch path (java.io.tmpdir, Spark local
dirs, warehouse, metastore, Derby) in a fresh directory under
.bench_build/perfbench/runs, which it deletes at exit. The last stdout
line is {"correct", "attempted", "failed", "metrics"}; a run that fails
prints no such line and exits non-zero. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("elt_m33", "adhoc_sql")
# the catalog tables adhoc_sql reads (read-only)
TABLES = os.path.join(BENCH, "data", "sf0.01")
# the whole run, build excluded, ends within this many seconds
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def java_command(scratch, main_args):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = {
        "java.io.tmpdir": tmp,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "derby.system.home": os.path.join(scratch, "derby"),
        "derby.stream.error.file": os.path.join(scratch, "derby.log"),
        "hive.exec.scratchdir": os.path.join(scratch, "hive"),
        "hive.exec.local.scratchdir": os.path.join(scratch, "hive-local"),
        "hive.downloaded.resources.dir": os.path.join(scratch, "hive-resources"),
    }
    cmd = ["java", "-Xms3g", "-Xmx3g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    return cmd + ["-cp", build.classpath(), "perfbench.Main", *main_args]


def run_jvm(scratch, main_args, log_path, capture):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=os.path.join(scratch, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_command(scratch, main_args), cwd=scratch, env=env,
                                stdout=subprocess.PIPE if capture else None, stderr=log,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=max(5, RUN_LIMIT_S - (time.time() - START)))
            return proc.returncode, out
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def valid_result(line, metrics):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and set(r["metrics"]) == set(metrics) and r["attempted"] >= 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--oracle-dump", metavar="DIR")
    a = ap.parse_args()
    if not (a.selfcheck or a.oracle_dump) and (a.workload not in WORKLOADS or a.seed is None or not a.seconds):
        ap.error(f"--workload one of {WORKLOADS}, --seed and --seconds are required")
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    build.build()
    # set-up is counted from here: compiling is not part of it
    global START
    START = time.time()

    runs = os.path.join(build.OUT, "runs")
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    name = "selfcheck" if a.selfcheck else "oracle-dump" if a.oracle_dump else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = os.path.join(runs, f"{name}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        if a.selfcheck:
            rc, _ = run_jvm(scratch, ["--selfcheck", str(cores())], os.path.join(logs, f"{name}.log"), False)
            return rc
        if a.oracle_dump:
            rc, _ = run_jvm(scratch, ["--oracle-dump", TABLES, os.path.abspath(a.oracle_dump), str(cores())],
                            os.path.join(logs, f"{name}.log"), False)
            return rc
        metrics = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        rc, out = run_jvm(scratch, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scratch", scratch, "--out", os.path.join(build.OUT, "results"),
            "--cores", str(cores()), "--start-epoch-ms", str(int(START * 1000)),
            "--tables", TABLES, "--expected", os.path.join(BENCH, "expected.json")],
            os.path.join(logs, f"{name}.log"), True)
        lines = [l for l in (out or "").splitlines() if l.strip()]
        if rc != 0 or not lines or not valid_result(lines[-1], metrics):
            print(f"perfbench: run failed (exit {rc}); see {os.path.join(logs, name + '.log')}", file=sys.stderr)
            for l in lines:
                print(l, file=sys.stderr)
            return 1
        print("\n".join(lines), flush=True)
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
