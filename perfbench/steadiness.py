#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload <name> --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out FILE]

Run from the repository root. For each metric it prints the median, the
quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median,
the figure a bound must exceed. With --out it also writes the raw runs and
the summary as JSON. Runs are sequential; each is one `perfbench/run.py`
invocation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs):
    out = {}
    names = sorted({k for r in runs for k in r["result"]["metrics"]})
    for k in names:
        vals = [r["result"]["metrics"][k]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out[k] = {"unit": runs[0]["result"]["metrics"][k]["unit"], "median": med,
                  "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0, "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(args.seconds), "--trace", args.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
            sys.exit(1)
        run = {"seed": seed, "wall_s": wall, "info": json.loads(lines[-2])["info"],
               "result": json.loads(lines[-1])}
        runs.append(run)
        print(f"seed {seed}: {wall:.1f} s, correct={run['result']['correct']}, "
              f"failed={run['result']['failed']}/{run['result']['attempted']}",
              file=sys.stderr)
    summary = summarize(runs)
    for k, s in summary.items():
        print(f"{k:45s} median {s['median']:.6g} {s['unit']:6s} "
              f"q1 {s['q1']:.6g} q3 {s['q3']:.6g} spread {s['spread']:.4f}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
