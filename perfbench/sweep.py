#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarizes each metric.

    python3 perfbench/sweep.py --workload stream_ref_paced --seeds 1-10 [--trace 1] [--out FILE]

For every metric it prints the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread: the distance
between the quartiles as a share of the median. With --out it also
writes the runs and the summary as JSON, with the host's core count, its
1-minute load average before and after, and per run the share of CPU
time the hypervisor gave to other guests (steal).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def summarize(runs):
    names = sorted({k for r in runs for k in r["metrics"]})
    out = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs if n in r["metrics"]]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        out[n] = {"unit": runs[0]["metrics"][n]["unit"], "median": med, "q1": q[0], "q3": q[2],
                  "spread": (q[2] - q[0]) / med if med else 0.0, "n": len(vals)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,9")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    host = {"nproc": os.cpu_count(), "load1_before": load1()}
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        steal0, total0 = cpu_times()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        wall = time.time() - t0
        steal1, total1 = cpu_times()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if res is None or p.returncode != 0:
            print(f"seed {s}: exit {p.returncode} {res and res['failed']} failed", file=sys.stderr)
        if res is not None:
            res.update(seed=s, run_wall_s=wall, steal_share=steal, exit=p.returncode)
            runs.append(res)
            print(f"seed {s}: {wall:.0f} s steal {steal:.3f} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())
                if a.trace == 0), file=sys.stderr)
    host["load1_after"] = load1()
    summary = summarize(runs)
    for n, m in summary.items():
        print(f"{n:45s} median {m['median']:12.4f} {m['unit']:6s} spread {m['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                       "host": host, "summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
