#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload sql_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and graft
from source with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, runs one JVM (`perfbench.Main`) and checks the outputs. The last line
of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics, or with `--trace 1` per-layer metrics). The
line before it holds the run's detail. Everything the run writes lives
under `.bench_run/` and is removed at exit; traced runs keep their spans in
`.bench_out/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Inputs per workload: gen.py's scale factor, whether the workload reads
# the events table alone, and the rows per streaming file. features_tiled
# tiles the sf 0.1 bars (100,000 events) into 10 symbol copies in the JVM:
# 1,000,000 rows per op.
INPUTS = {
    "features_tiled": {"sf": 0.1, "events_only": True},
    "sql_small": {"sf": 0.001, "stream_rows": 2500},
}
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# Allowance beyond the timed phase for input generation, set-up, the last
# round and the output checks; a run should end within 180 s.
RUN_ALLOWANCE_S = 120


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles graft and the harness; returns (classpath, jvm options)."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    target = os.path.join(HERE, "target")
    stamp = source_stamp()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        log("building graft and the harness with sbt")
        os.makedirs(BUILD_DIR, exist_ok=True)
        tmp = os.path.join(BUILD_DIR, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
                           f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
        with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                                "writeLaunch"], cwd=HERE, env=env, stdout=out,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=700)
        if r.returncode != 0:
            sys.stderr.write(open(os.path.join(BUILD_DIR, "build.log")).read()[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp = open(os.path.join(target, "launch-classpath.txt")).read()
    opts = open(os.path.join(target, "launch-jvmopts.txt")).read().split("\n")
    return cp, [o for o in opts if o]


def heap_mb():
    """A fixed heap: a fifth of MemTotal, between 1 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(6144, kb // 1024 // 5))


def make_inputs(workload, seed, seconds, data):
    spec = INPUTS[workload]
    if spec.get("events_only"):
        gen.generate_events(data, seed, spec["sf"])
    else:
        gen.generate(data, seed, spec["sf"])
    if "stream_rows" in spec:
        # One batch per round: enough for rounds of 0.25 s; a run that
        # consumes them all fails its remaining stream ops.
        gen.stream(data, seed, max(40, int(seconds * 4)), spec["stream_rows"])


def run_jvm(args, cp, opts, work, deadline):
    data, jwork, out = (os.path.join(work, d) for d in ("data", "jvm", "out"))
    for d in (jwork, out, os.path.join(jwork, "tmp")):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(jwork, 'tmp')}", *opts,
           "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), data, jwork, out, str(cpus)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=jwork, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the run did not finish in time")
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"perfbench: the JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), data, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from a graft checkout; its sources are missing")

    cp, opts = build()
    started = time.time()
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        make_inputs(args.workload, args.seed, args.seconds, os.path.join(work, "data"))
        t_gen = time.time()
        res, data, out = run_jvm(args, cp, opts, work, started + args.seconds + RUN_ALLOWANCE_S)
        t_jvm = time.time()
        problems = oracle.check(args.workload, args.seed, data, out, res["check"])
        t_check = time.time()
        for p in problems:
            log(f"CHECK FAILED {p}")
        attempted, failed, e2e = stats.end_to_end(res)
        _, _, done = stats.account(res["ops"])
        tail = stats.op_tail(done)
        detail = {"workload": args.workload, "seed": args.seed, "rounds": res["rounds"],
                  "run_parts": {"gen_s": round(t_gen - started, 2), "jvm_s": round(t_jvm - t_gen, 2),
                                "check_s": round(t_check - t_jvm, 2)},
                  "wall_s": res["wall_s"], "rows_per_op": res["check"].get("rows_per_op"),
                  "setup_parts": res["setup_parts"],
                  "op_tail": None if tail is None else {"percentile": tail[0], "s": tail[1]},
                  "op_p50_by_op": {k: round(v, 4) for k, v in stats.medians_by_op(res["ops"]).items()},
                  "op_seconds": [round(s, 4) for _, s, _ in res["ops"]],
                  "e2e": e2e}
        if args.trace:
            metrics = stats.per_layer(res["trace"], res["cpus"])
            units = dict(stats.PER_LAYER)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = e2e
            units = {n: u for n, u, _ in stats.END_TO_END}
        print(json.dumps(detail))
        print(json.dumps({
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
