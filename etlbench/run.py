"""The etlalchemyspark benchmark (see etlbench/README.md).

    python3 etlbench/run.py --workload relational|corpus|migrate \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the benchmark
from source (etlbench/build.py), writes the inputs once per checkout,
runs one workload in one JVM in a fresh work directory, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. Exits non-zero, without a result
line, when the build, the run or any output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("relational", "corpus", "migrate")
# Input scale: lineitem = 6M x SCALE rows (see README.md for the sizing).
SCALE = "0.01"
# Inputs are a function of this constant only, so the recorded digests
# hold for every --seed; the seed picks query order and takedown sample.
DATA_SEED = "42"
RUN_LIMIT_S = 175
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite etlbench/expected_digests.tsv from this run")
    ap.add_argument("--spans", help="where the run writes its spans")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("etlbench: %s" % e, file=sys.stderr)
        return 2
    t_start = time.monotonic()

    work = os.path.join(build.OUT_DIR, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "etlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", SCALE, "--data-seed", DATA_SEED,
            "--data", os.path.join(build.OUT_DIR,
                                   "data-%s-%s" % (SCALE, DATA_SEED)),
            "--work", work,
            "--expected", os.path.join(build.BENCH_DIR, "expected_digests.tsv"),
            "--record", "1" if a.record_digests else "0",
            "--spans", os.path.abspath(a.spans or os.path.join(
                build.OUT_DIR, "spans-%s-%d.json" % (a.workload, a.seed)))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(
            timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("etlbench: run exceeded %d s" % RUN_LIMIT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print("etlbench: benchmark JVM exited with %d" % proc.returncode,
              file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
