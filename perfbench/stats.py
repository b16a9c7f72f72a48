"""Metric definitions and the arithmetic behind them: op accounting, the
tail-percentile rule and the per-layer means. Pure functions, so they are
tested without a JVM (`python3 -m unittest discover -s perfbench`)."""
import statistics

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("cpu_s_per_op", "s", "lower"),
    ("live_heap_mb", "MB", "lower"),
]

PER_LAYER = [
    ("source.scan_s", "s"),
    ("source.table_mb", "MB"),
    ("source.table_files", "count"),
    ("features.construct_s", "s"),
    ("queries.construct_s", "s"),
    ("queries.construct_jobs", "count"),
] + [(f"queries.family.{f}_s", "s") for f in
     ("graph", "feat", "window", "tpch", "join", "dedup", "sim", "text", "ml", "other")] + [
    ("oracle.bridge_s", "s"),
    ("catalyst.analyze_s", "s"),
    ("catalyst.optimize_s", "s"),
    ("catalyst.physical_s", "s"),
    ("catalyst.codegen_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.idle_s", "s"),
    ("exec.task_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.core_busy", "ratio"),
    ("exec.straggler_ratio", "ratio"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.task_gc_s", "s"),
    ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.plan_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("jvm.gc_s", "s"),
    ("jvm.gc_count", "count"),
    ("jvm.jit_s", "s"),
]

# Percentiles op_tail_s may report, highest first.
TAIL_LADDER = (99, 95, 90, 75)
TAIL_MIN_OPS = 40
TAIL_BEYOND = 10


def tail_percentile(n):
    """The highest percentile of TAIL_LADDER with at least TAIL_BEYOND of
    `n` samples beyond it, or None under TAIL_MIN_OPS samples."""
    if n < TAIL_MIN_OPS:
        return None
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= TAIL_BEYOND:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    v = sorted(values)
    k = max(0, -(-len(v) * p // 100) - 1)
    return v[int(k)]


def account(ops):
    """Op accounting over `ops`, a list of (name, seconds, ok): attempted,
    failed, and the latencies of the ops that completed."""
    done = [s for _, s, ok in ops if ok]
    return len(ops), len(ops) - len(done), done


def op_p50(ops):
    """Median latency of the op set: the geometric mean over op names of each
    name's median (p50) seconds; with one op name, its median. A mix of ops
    of very different cost gets a value that moves with every op's latency
    instead of jumping between two ops' levels, as a pooled median does."""
    by = medians_by_op(ops)
    return statistics.geometric_mean(by.values()) if by else float("nan")


def end_to_end(result):
    """The end-to-end metrics of one untraced run from the JVM's result.
    Rates use the whole timed wall, which keeps the time of failed ops."""
    attempted, failed, done = account(result["ops"])
    m = {
        "setup_s": result["setup_s"],
        "op_p50_s": op_p50(result["ops"]),
        "ops_per_s": len(done) / result["wall_s"],
        "cpu_s_per_op": result["cpu_s"] / attempted,
        "live_heap_mb": result["live_heap_mb"],
    }
    return attempted, failed, m


def medians_by_op(ops):
    """Median seconds of each op name over its completed runs."""
    by = {}
    for name, s, ok in ops:
        if ok:
            by.setdefault(name, []).append(s)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def op_tail(done):
    """(percentile, seconds) of the tail rule, or None when too few ops."""
    p = tail_percentile(len(done))
    return None if p is None else (p, percentile(done, p))


def per_layer(trace, cpus):
    """Per-layer metrics of a traced run: figures are means per op, except
    the streaming and upsert-table ones (per micro-batch), the ratios (over the whole timed
    phase) and the per-run `source.scan_s` and `jvm.jit_s`. A layer the
    workload never reaches reads 0."""
    ops = trace["ops"]
    n = max(1, len(ops))

    def total(key):
        return sum(o["figures"].get(key, 0.0) for o in ops)

    out = {name: total(name) / n for name, _ in PER_LAYER}
    batches = total("streaming.batches")
    for name, _ in PER_LAYER:
        if name.startswith(("streaming.", "source.table_")):
            out[name] = total(name) / batches if batches else 0.0
    for f in ("graph", "feat", "window", "tpch", "join", "dedup", "sim", "text", "ml", "other"):
        lat = [o["figures"]["op_s"] for o in ops if o["family"] == f]
        out[f"queries.family.{f}_s"] = statistics.median(lat) if lat else 0.0
    wall = total("op_s")
    out["exec.core_busy"] = total("exec.task_s") / (wall * cpus) if wall else 0.0
    out["source.scan_s"] = trace["run"]["source.scan_s"]
    out["jvm.jit_s"] = trace["run"]["jvm.jit_s"]
    return out
