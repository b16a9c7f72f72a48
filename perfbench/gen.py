"""Seeded input generator.

Writes the ten tables graft's queries read (the TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) as parquet, with the column names,
physical types and value ranges of the engine's shared test tables
(FIXTURES.md §3). The same `seed` and `sf` always give the same bytes.

    python3 perfbench/gen.py OUT_DIR --seed 1 --sf 0.01
    python3 perfbench/gen.py OUT_DIR --seed 1 --stream-files 200 --stream-rows 5000
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("fast spark line small customer group row the query stream value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_year, span_days, n):
    base = np.datetime64(f"{start_year}-01-01", "us").astype(np.int64)
    return base + rng.integers(0, span_days, n) * US_PER_DAY


def events(rng, n, users):
    """Time-ordered events over January 2024; `event_id` follows `ts`."""
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(base + rng.integers(0, 30 * US_PER_DAY, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng, n):
    """Bag-of-words documents over a 31-word vocabulary; about 1% are exact
    copies of an earlier document, so the dedup operators have work."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64):
    vecs = rng.normal(0.0, 0.125, (n, dim)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def stream(out, seed, files, rows, redeliver=0.02):
    """Time-ordered tick files `stream/batch_NNNNN.parquet` for the streaming
    pipeline: (symbol, event_id, ts, close), ticks about 2 s apart. Every file
    after the first also carries redeliveries of ticks from the previous
    file's last minutes (inside the 1-hour dedup horizon) and of its own
    ticks; the rows of a file are shuffled."""
    rng = np.random.default_rng([seed, 7])
    d = os.path.join(out, "stream")
    os.makedirs(d, exist_ok=True)
    n = files * rows
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = base + np.cumsum(rng.integers(1, 4_000_000, n))
    sym = rng.integers(0, 32, n)
    close = np.round(rng.exponential(50.0, n), 2)
    extra = int(rows * redeliver)
    for f in range(files):
        idx = np.arange(f * rows, (f + 1) * rows)
        if f > 0:
            idx = np.concatenate([
                idx,
                rng.choice(np.arange(f * rows - 60, f * rows), extra // 2),
                rng.choice(idx, extra - extra // 2)])
        idx = rng.permutation(idx)
        pq.write_table(pa.table({
            "symbol": pa.array(sym[idx].astype(str)),
            "event_id": pa.array(idx.astype(np.int64)),
            "ts": pa.array(ts[idx], pa.timestamp("us", tz="UTC")),
            "close": pa.array(close[idx]),
        }), os.path.join(d, f"batch_{f:05d}.parquet"))


def generate_events(out, seed, sf):
    """The `events` table alone, sized as in `generate`, for a workload that
    reads nothing else."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    _write(out, "events", events(rng, max(1_000, int(1_000_000 * sf)), max(15, int(150_000 * sf)) // 100))


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_days(rng, 1995, 2400, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(_days(rng, 1995, 2500, n_line))})
    _write(out, "events", events(rng, n_ev, n_cust // 100))
    _write(out, "documents", documents(rng, max(500, int(50_000 * sf))))
    _write(out, "embeddings", embeddings(rng, max(500, int(20_000 * sf))))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float)
    ap.add_argument("--stream-files", type=int)
    ap.add_argument("--stream-rows", type=int)
    a = ap.parse_args()
    if a.sf:
        generate(a.out, a.seed, a.sf)
    if a.stream_files:
        stream(a.out, a.seed, a.stream_files, a.stream_rows)
