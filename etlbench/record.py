"""Takes a benchmark record: for each workload, one untraced run (the
end-to-end metrics), one traced run (the per-layer metrics) and the
per-operation rows from the untraced run's spans, written as one JSON
file.

    python3 etlbench/record.py OUT.json [--seed N] [--seconds S]

Run from the root of a checkout.
"""
import argparse
import json
import os
import platform
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import run  # noqa: E402


def one(workload, seed, seconds, trace, spans):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--spans", spans]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("record: %s trace=%d failed (exit %d)"
                 % (workload, trace, r.returncode))
    return json.loads(r.stdout.strip().splitlines()[-1])


def rows(spans_file):
    """Top-level spans: one row per query or lifecycle step, with the
    construct/execute split of a query from its child spans."""
    spans = json.load(open(spans_file))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in kids.get(0, []):
        row = {"name": s["name"], "layer": s["layer"], "seconds": s["dur_s"]}
        for k in kids.get(s["id"], []):
            row[k["name"] + "_s"] = k["dur_s"]
        out.append(row)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    spans = os.path.join(build.OUT_DIR, "record-spans.json")
    rec = {
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                 "mem_total_kb": int(open("/proc/meminfo").readline().split()[1])},
        "scale": run.SCALE, "data_seed": int(run.DATA_SEED),
        "seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for w in run.WORKLOADS:
        untraced = one(w, a.seed, a.seconds, 0, spans)
        ops = rows(spans)
        traced = one(w, a.seed, a.seconds, 1, spans)
        m = untraced["metrics"]
        rec["workloads"][w] = {
            "end_to_end": untraced,
            "per_layer": traced,
            "trace_overhead_s": traced["metrics"]["trace.suite_s"]["value"]
            - m["suite_s"]["value"],
            "operations": ops,
        }
    with open(a.out, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
