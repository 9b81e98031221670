"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on one workload and reports, for each
metric, the median and the distance between the first and third
quartile (statistics.quantiles(values, n=4)) as a share of the median,
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload trickle_sync --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {m: [] for m in bounds}
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, check=True).stdout.decode()
        r = json.loads(out.strip().splitlines()[-1])
        if not r["correct"] or r["failed"]:
            sys.exit("seed %d: incorrect run: %s" % (s, r))
        for m in bounds:
            values[m].append(r["metrics"][m]["value"])
        print("seed %d: %s" % (s, {m: round(v[-1], 3) for m, v in values.items()}), flush=True)
    for m, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print("%-14s median %10.3f  spread %.3f  bound %.2f" % (m, statistics.median(vs),
                                                                (q3 - q1) / statistics.median(vs), bounds[m]))


if __name__ == "__main__":
    main()
