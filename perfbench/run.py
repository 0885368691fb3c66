#!/usr/bin/env python3
"""Benchmark of graft's two copy verbs, `write` and `read`.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Workloads (each in its own JVM, built from source on first use):
  write-compat  bare column names: CSV parse + 7-rule tagged inference -> parquet
  write-jdbc    declared col:type list: schema'd decode -> prepared-INSERT batches into Derby
  read-export   typed parquet table -> --offset bound -> typed-quoting CSV

The last stdout line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer metrics of
the traced run with --trace 1. Every metric is also printed by name and unit
on stderr. The exit code is non-zero when an output check fails.

Each run keeps its records in perfbench/.work/<workload>/: conditions.json
(nproc, load average, splits, warm-up and rep times, versions) and, for
--trace 1, trace-spans.json (name, start, end, parent and rep of each span).

--self-test runs each output check on a clean verb output and on planted
defects (a dropped row, a flipped tag or quoted bit, ...), then probes the
write verb with int64-overflow digit strings, which the timed write-compat
input leaves out. It exits non-zero unless every check passes the clean
output and catches every defect, and the probe's cells come back as strings.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
WORKLOADS = ("write-compat", "write-jdbc", "read-export")
# a run ends within this many seconds of its build
RUN_LIMIT_S = 175
SELF_TEST_LIMIT_S = 600

# JDK 17 module opens a SparkSession needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classes, jars, work, harness_args, limit_s):
    """Runs the harness in `work`; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), *ADD_OPENS, "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join([*classes, os.path.join(jars, "*")]),
           "perfbench.Main", *harness_args]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: harness exceeded {limit_s:.0f} s, killed", file=sys.stderr)
        return 3, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    built = time.monotonic()

    work = os.path.join(HERE, ".work", "self-test" if a.self_test else a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.self_test:
        code, lines = jvm(classes, jars, work, ["--self-test"], SELF_TEST_LIMIT_S)
        shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        return code

    harness_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--start-ns", str(time.time_ns())]
    code, lines = jvm(classes, jars, work, harness_args, RUN_LIMIT_S - (time.monotonic() - built))
    # keep the run's records, drop its bulky inputs and outputs
    for d in ("in", "out", "derby", "spark-local", "tmp", "target"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print(f"perfbench: harness exited {code} without a result", file=sys.stderr)
        return code or 4
    for line in lines[:-1]:
        print(line)
    for name, m in result["metrics"].items():
        print(f"  {name:28s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    frac = result["failed"] / result["attempted"]
    print(f"  {'failed_frac':28s} {frac:>16.6g} ratio  "
          f"({result['failed']} of {result['attempted']} rows; correct={result['correct']})",
          file=sys.stderr)
    print(json.dumps(result))
    return code if code != 0 else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main())
