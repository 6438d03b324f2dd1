#!/usr/bin/env python3
"""Compare two benchmark result files written by sweep.py.

Usage (from the repository root):

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

For every workload and metric present in both files: each side's median
and quartiles, the change of the median in percent, and for end-to-end
metrics whether the change is worse than the bound BENCHMARK.json fixes.
Counts that should repeat exactly (io.s3.requests, io.pg.statements,
spark.jobs) are flagged MOVED when two runs with the same seed, in
either file, disagree. Exits 1 when a bound is exceeded, a count moved or a run
failed.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DETERMINISTIC = ("io.s3.requests", "io.pg.statements", "spark.jobs")


def load(path):
    """{(workload, metric): [(seed, value), ...]} and the failed-run count."""
    by, failed = {}, 0
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            r = json.loads(line)
            res = r.get("result")
            if r.get("exit") != 0 or not res or not res.get("correct"):
                failed += 1
            if res:
                for k, m in res["metrics"].items():
                    by.setdefault((r["workload"], k), []).append((r["seed"], m["value"]))
    return by, failed


def moved(a, b):
    """Seeds whose deterministic count differs within or between files."""
    per_seed = {}
    for seed, v in a + b:
        per_seed.setdefault(seed, set()).add(v)
    return sorted(s for s, vs in per_seed.items() if len(vs) > 1)


def quart(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, statistics.median(vs), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    (a, fa), (b, fb) = load(sys.argv[1]), load(sys.argv[2])
    bad = fa + fb > 0
    if bad:
        print(f"failed or incorrect runs: base {fa}, change {fb}")
    for key in sorted(set(a) & set(b)):
        w, k = key
        av, bv = [v for _, v in a[key]], [v for _, v in b[key]]
        (a1, am, a3), (b1, bm, b3) = quart(av), quart(bv)
        pct = 100.0 * (bm - am) / am if am else float("nan")
        flag = ""
        if k in e2e:
            worse = (bm - am) if e2e[k]["better"] == "lower" else (am - bm)
            if am and worse / am > e2e[k]["bound"]:
                flag, bad = f"WORSE than bound {e2e[k]['bound']}", True
        if k in DETERMINISTIC and moved(a[key], b[key]):
            flag, bad = f"MOVED for seeds {moved(a[key], b[key])}", True
        print(f"{w:10s} {k:34s} base {am:11.4f} [{a1:.4f}, {a3:.4f}]  "
              f"change {bm:11.4f} [{b1:.4f}, {b3:.4f}]  {pct:+7.2f}%  {flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
