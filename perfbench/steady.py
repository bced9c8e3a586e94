#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the first and third quartile as a share of the median) against
the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads elt_star,corpus_memo]

Runs are sequential; raw results go to .bench_build/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    results = {}
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            if p.returncode != 0 or not last.startswith("{"):
                sys.exit(f"{w} seed {s} failed (exit {p.returncode}):\n"
                         f"{p.stdout[-2000:]}{p.stderr[-2000:]}")
            res = json.loads(last)
            results.setdefault(w, []).append(
                {k: v["value"] for k, v in res["metrics"].items()})
            print(f"{w} seed {s} ({time.time() - t0:.0f} s): " + " ".join(
                f"{k}={v:.4g}" for k, v in results[w][-1].items()), flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", f"steady-{int(time.time())}.json"), "w") as f:
        json.dump(results, f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'workload':14s} {'metric':18s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s}")
    for w, rows in results.items():
        for k in rows[0]:
            xs = [r[k] for r in rows]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"{w:14s} {k:18s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{(q3 - q1) / med:7.3f} {bounds[k]:6.2f}")


if __name__ == "__main__":
    main()
