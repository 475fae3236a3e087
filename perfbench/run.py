#!/usr/bin/env python3
"""graft lifecycle benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft from source (perfbench/build.py), runs one workload in one JVM
over the repository's read-only sf0.1 test tables (TESTDATA.md) and the
seeded project, edit sequence and seed CSV it generates, checks the
outputs, and prints a
human report followed by one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. Everything the run writes
lives in a temporary directory under the build directory and is deleted
before exit. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["daily_catchup", "wide_dag_plan"]
# wall-clock budget of one run's JVM and of its DuckDB check, build excluded
RUN_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 25

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


TABLES = ["orders", "lineitem", "events", "documents"]


def data_dir():
    """The sf0.1 tables graft's own bench reads: $SPARK_GRAFT_SF_DIR, else
    the sf 0.1 row of TESTDATA.md."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        try:
            with open(os.path.join(ROOT, "TESTDATA.md")) as f:
                m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
        except OSError:
            m = None
        if not m:
            raise SystemExit("no sf0.1 test data location (set SPARK_GRAFT_SF_DIR)")
        d = m.group(1)
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"test data {d} lacks {', '.join(missing)}")
    return d.rstrip("/")


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def cpu_times():
    """Aggregate CPU tick counters from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def check_entries(data, entries):
    """Compare the operator entries the JVM wrote to `entries` with their
    DuckDB oracle through scripts/check.py. Returns (attempted, failures)."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), data, entries],
                          capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
    try:
        results = json.loads(proc.stdout[:proc.stdout.rindex("}") + 1])
    except ValueError:
        return 1, [f"scripts/check.py: {proc.stderr.strip()[-400:]}"]
    fails = [f"entry {n} differs from its DuckDB oracle: {r}"[:400]
             for n, r in sorted(results.items()) if not r.get("hash_match")]
    print(f"operator entries vs DuckDB  {len(results) - len(fails)}/{len(results)} match")
    return len(results), fails


def main():
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    data = data_dir()
    cp = build.build()
    base = build.out_dir()
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    proc = None
    try:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        cmd = (["java", f"-Xmx{heap()}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dderby.system.home=" + tmp,
                "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
               + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main", args.workload, str(args.seed),
                  str(args.seconds), str(args.trace), run_dir, data])
        cpu0 = cpu_times()
        proc = subprocess.Popen(cmd, cwd=run_dir, start_new_session=True)
        proc.wait(timeout=RUN_TIMEOUT_S)
        cpu1 = cpu_times()
        if proc.returncode != 0:
            raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
        result = json.load(open(os.path.join(run_dir, "result.json")))
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.environ.get("PERFBENCH_SPANS") and os.path.exists(spans):
            shutil.copyfile(spans, os.environ["PERFBENCH_SPANS"])
        attempted, failed = result["attempted"], result["failed"]
        entries = os.path.join(run_dir, "entries")
        if os.path.exists(os.path.join(entries, "oracle_sql.json")):
            n, fails = check_entries(data, entries)
            attempted += n
            failed += len(fails)
            for f in fails:
                print(f"FAILED {f}")
        if cpu0 and cpu1 and len(cpu0) > 7 and sum(cpu1) > sum(cpu0):
            # steal: time the hypervisor gave this machine's CPUs to others,
            # the load a fixed-work sentinel inside the run can miss
            print(f"cpu steal during the run  {100 * (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0)):.1f} %")
        print(f"seed {args.seed}: failed_ops_ratio {failed / attempted:.4f} "
              f"({failed} failed / {attempted} attempted)")
        sys.stdout.flush()
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": result["metrics"]}))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
