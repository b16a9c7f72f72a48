#!/usr/bin/env python3
"""Steadiness check: repeats one workload with a new seed per run and prints,
for each end-to-end metric, the median, the quartiles and the quartile
spread over the median (statistics.quantiles(values, n=4)).

    python3 perfbench/steady.py --workload sql_small --runs 10

Runs measure BENCHMARK.json's `run_seconds`, as the benchmark's runs do.

Each run's final JSON line is appended to `.bench_out/steady-<workload>.jsonl`.
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


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".bench_out", f"steady-{a.workload}.jsonl")
    rows = []
    started = time.time()
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"run with seed {seed} failed")
        detail, last = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
        rows.append(last)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **last, "detail": detail,
                                "run_wall_s": time.time() - t0}) + "\n")
        print(f"seed {seed}: correct={last['correct']} attempted={last['attempted']} "
              f"failed={last['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}")
    for k in rows[0]["metrics"]:
        q1, med, q3, s = spread([r["metrics"][k]["value"] for r in rows])
        print(f"{k:<14}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{s:>9.2%}")
    print(f"wall per run: {(time.time() - started) / a.runs:.1f} s")
    shares = {r["failed"] / r["attempted"] for r in rows}
    print(f"correct in every run: {all(r['correct'] for r in rows)}; failed shares: {sorted(shares)}")


if __name__ == "__main__":
    main()
