#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every result.

Usage (from the repository root):

    python3 perfbench/sweep.py --out results.jsonl \
        [--workloads medallion,serve,curation] [--seeds 1-10] [--trace 0]

Runs each workload with run_seconds from BENCHMARK.json and appends one
JSON line per run ({"workload", "seed", "trace", "exit", "wall_s",
"result"}) to --out, then prints, per workload and metric, the median,
the quartiles and the spread (quartile distance over the median).
Compare two such files with compare.py.
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


def summarize(records):
    by = {}
    for r in records:
        if r.get("result"):
            for k, m in r["result"]["metrics"].items():
                by.setdefault((r["workload"], r["trace"], k), []).append(m["value"])
    for (w, t, k), vs in sorted(by.items()):
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = vs[0]
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{w:10s} t{t} {k:34s} n={len(vs):2d} median={med:12.4f} "
              f"q1={q1:12.4f} q3={q3:12.4f} spread={spread:7.4f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default="medallion,serve,curation")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        secs = json.load(fh)["run_seconds"]
    records = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(s), "--seconds", str(secs),
                                "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            try:
                result = json.loads(last)
            except ValueError:
                result = None
            rec = {"workload": w, "seed": s, "trace": a.trace, "exit": p.returncode,
                   "wall_s": round(time.time() - t0, 2), "result": result}
            records.append(rec)
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"{w} seed={s} exit={p.returncode} wall={rec['wall_s']}s", flush=True)
    summarize(records)


if __name__ == "__main__":
    main()
