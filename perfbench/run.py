"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark from
source (perfbench/build.py), runs workload W in one JVM on local[nproc]
(a plain `java` on the compiled classes, not `sbt run`, so nothing
prefixes the output), turns the JVM's raw record into the named metrics
(perfbench/stats.py) and prints them as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. It exits non-zero when an output check failed, and without a
result line when the build or the run failed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("snapshot_cycle", "kv_point_reads", "query_mix")
RUNS_DIR = ".bench_runs"
HEAP = "3g"
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    started = time.time()
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build(".")
    except (build.BuildError, OSError) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    scratch = os.path.abspath(os.path.join(RUNS_DIR, "%s-%d" % (tag, os.getpid())))
    os.makedirs(os.path.join(scratch, "tmp"))
    raw_file = os.path.join(RUNS_DIR, tag + ".raw.json")
    log_file = os.path.join(RUNS_DIR, tag + ".log")
    if os.path.exists(raw_file):
        os.remove(raw_file)
    # a fixed heap and the throughput collector: no heap resizing and no
    # concurrent GC threads competing with the task threads (G1 runs spread
    # about three times wider between runs)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--root", scratch, "--out", raw_file,
              "--expected", os.path.join("perfbench", "query_mix_expected.json")])
    launched_ms = time.time() * 1e3
    proc = None
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %ds, see %s" % (DEADLINE_S, log_file), file=sys.stderr)
        return 3
    finally:
        # never leave the JVM behind: not on a time-out, nor on SIGTERM/SIGINT
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        # the per-process scratch root is removed after the timed section
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.isfile(raw_file):
        print("perfbench: benchmark JVM exited %d, see %s" % (code, log_file), file=sys.stderr)
        return 3

    with open(raw_file) as f:
        raw = stats.parse_raw(json.load(f))
    info = raw["info"]
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    correct = attempted > 0 and failed == 0 and not raw["failures"]
    for k in sorted(info):
        print("info %s = %s" % (k, info[k]))
    for msg in raw["failures"]:
        print("check failed: %s" % msg)
    print("samples = %d operations (%d failed)" % (attempted, failed))
    if attempted == 0:
        print("perfbench: no operation completed, see %s" % log_file, file=sys.stderr)
        return 3
    if a.trace:
        values, table = stats.per_layer(raw), stats.PER_LAYER
    else:
        values, table = stats.end_to_end(raw, launched_ms), stats.END_TO_END
    metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in table}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
