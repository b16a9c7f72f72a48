"""Output checks, run after the JVM has exited and outside every timed
region. Each returns a list of failure messages; an empty list passes.

DuckDB evaluates graft's oracle statements (`SparkEntry.oracleSql`) over
the same generated parquet the run read, and the comparison follows
`scripts/check.py`: columns sorted by name, equal dtypes, rows compared in
order, exact equality (strings compared as text, nulls equal to nulls).
"""
import os
import random

import duckdb
import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(data):
    con = duckdb.connect()
    # The checks run after the JVM has exited, so every CPU is free.
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def utc_instants(df):
    """Zoned timestamp columns as naive UTC: the SQL surface types a
    timestamp of the raw tables as a session-zoned TIMESTAMP where DuckDB
    reads TIMESTAMP_NTZ, and SqlParitySpec compares the two on the instant."""
    for c in df.columns:
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def compare(name, got, want):
    """check.py's comparison of two pandas frames."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return [f"{name}: columns differ: spark={gc} duckdb={wc}"]
    got, want = got[gc], want[wc]
    if len(got) != len(want):
        return [f"{name}: rows {len(got)} vs {len(want)}"]
    bad = []
    for c in gc:
        a, b = got[c], want[c]
        if a.dtype != b.dtype:
            bad.append(f"{name}.{c}: dtype {a.dtype} vs {b.dtype}")
            continue
        if a.dtype == object:
            neq = a.astype(str).values != b.astype(str).values
        else:
            neq = ~((a.isna().values & b.isna().values) | (a.values == b.values))
        if neq.any():
            i = int(np.argmax(neq))
            bad.append(f"{name}.{c}: {int(neq.sum())} mismatches, first at row {i}: "
                       f"spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}")
    return bad


def check_oracle(data, out, info, seed):
    """Every op's rows equal DuckDB's evaluation of its query's oracle
    statement; SQL-surface ops (`sql.*`) compare timestamps on the
    instant."""
    con = connect(data)
    bad = []
    for op, sql in info["oracle_sql"].items():
        got = con.sql(f"SELECT * FROM '{out}/{op}/*.parquet'").df()
        if not op.startswith("df."):
            got = utc_instants(got)
        bad += compare(op, got, con.sql(sql).df())
    return bad


# Base symbols on which copy 0 is compared with the ml_matrix oracle. Every
# window of that statement is partitioned by symbol, so its rows for a
# symbol depend on that symbol's events alone. DuckDB evaluates its
# recursive CTEs one row per symbol per step: all 32 symbols at sf 0.1 take
# over 40 s, two take about 5 s.
ORACLE_SYMBOLS = 2


def check_features(data, out, info, seed):
    """Every tiled copy's rows equal copy 0's (features are per symbol), and
    copy 0 equals the `ml_matrix` oracle, evaluated over the events of
    ORACLE_SYMBOLS base symbols drawn from the seed, on the columns they
    share, within the oracle's 6-decimal rounding (the tiled op's output is
    unrounded)."""
    con = connect(data)
    syms = sorted(random.Random(seed).sample(range(32), ORACLE_SYMBOLS))
    con.sql(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{data}/events.parquet'"
            f" WHERE user_id % 32 IN ({', '.join(map(str, syms))})")
    con.sql(f"CREATE VIEW tiled AS SELECT *, CAST(regexp_extract(symbol, '_([0-9]+)$', 1) AS INT)"
            f" AS _copy, regexp_replace(symbol, '_[0-9]+$', '') AS _base FROM '{out}/tiled/*.parquet'")
    row = ", ".join(c for c in con.sql("SELECT * FROM tiled LIMIT 0").columns
                    if c not in ("symbol", "_copy"))
    digest = con.sql(f"SELECT _copy, count(*), sum(hash({row})) FROM tiled"
                     " GROUP BY _copy ORDER BY _copy").fetchall()
    bad = []
    if len(digest) != info["copies"]:
        bad.append(f"features_tiled: {len(digest)} copies in the output, want {info['copies']}")
    if digest and digest[0][1] == 0:
        bad.append("features_tiled: copy 0 is empty")
    for c, n, h in digest[1:]:
        if (n, h) != digest[0][1:]:
            bad.append(f"features_tiled: copy {c} differs from copy 0 ({n} rows vs {digest[0][1]})")
    want = con.sql(info["oracle_sql"]["ml_matrix"]).df()
    cols = [c for c in want.columns if c != "event_id"]
    nonnull = " AND ".join(f"{c} IS NOT NULL" for c in cols if c != "target")
    base = ", ".join(f"'{s}'" for s in syms)
    got = con.sql(f"SELECT event_id, {', '.join(cols)} FROM tiled"
                  f" WHERE _copy = 0 AND _base IN ({base}) AND {nonnull}").df()
    got = got.sort_values("event_id", ignore_index=True)
    want = want.sort_values("event_id", ignore_index=True)
    if len(got) != len(want) or (got["event_id"].values != want["event_id"].values).any():
        return bad + [f"features_tiled: copy 0 has {len(got)} complete rows, ml_matrix {len(want)}"]
    for c in cols:
        a = got[c].astype(float).values
        b = want[c].astype(float).values
        off = ~((np.isnan(a) & np.isnan(b)) | (np.abs(a - b) <= 1e-6 + 1e-9 * np.abs(b)))
        if off.any():
            i = int(np.argmax(off))
            bad.append(f"features_tiled.{c}: {int(off.sum())} rows off ml_matrix, "
                       f"first event_id {want['event_id'][i]}: {a[i]!r} vs {b[i]!r}")
    return bad


RSI_PERIOD = 14


def check_stream(data, out, info, seed):
    """The upsert table holds one row per distinct (symbol, event_id) of the
    consumed files, so the redeliveries were dropped, and its `rsi` equals
    the RSI recurrence over the deduplicated ticks in (ts, event_id) order
    per symbol, within 1e-6."""
    con = duckdb.connect()
    files = ", ".join(f"'{f}'" for f in info["staged"])
    ticks = con.sql(
        f"SELECT DISTINCT symbol, event_id, ts, close FROM read_parquet([{files}]) "
        "ORDER BY symbol, ts, event_id").fetchall()
    table = con.sql(f"SELECT symbol, event_id, rsi FROM '{info['table']}/*.parquet'").fetchall()
    bad = []
    keys = [(s, e) for s, e, _ in table]
    if len(keys) != len(set(keys)):
        bad.append(f"stream_ingest: {len(keys) - len(set(keys))} duplicate keys in the table")
    want = {}
    alpha = 2.0 / (RSI_PERIOD + 1.0)
    prev_sym, prev, ag, al = None, None, None, None
    for sym, eid, _, close in ticks:
        if sym != prev_sym:
            prev_sym, prev, ag, al = sym, close, None, None
            want[(sym, eid)] = None
            continue
        delta = close - prev
        gain, loss = max(delta, 0.0), max(-delta, 0.0)
        ag = gain if ag is None else ag * (1.0 - alpha) + alpha * gain
        al = loss if al is None else al * (1.0 - alpha) + alpha * loss
        prev = close
        want[(sym, eid)] = 100.0 - 100.0 / (1.0 + ag / (al + 1e-10))
    got = {(s, e): r for s, e, r in table}
    if set(got) != set(want):
        bad.append(f"stream_ingest: table has {len(got)} keys, input {len(want)} distinct "
                   f"({len(set(got) - set(want))} extra, {len(set(want) - set(got))} missing)")
        return bad
    off = [k for k, w in want.items()
           if (w is None) != (got[k] is None) or (w is not None and abs(w - got[k]) > 1e-6)]
    if off:
        bad.append(f"stream_ingest: rsi of {len(off)} rows off the recurrence, "
                   f"first {off[0]}: {got[off[0]]!r} vs {want[off[0]]!r}")
    return bad


CHECKS = {
    "features_tiled": [check_features],
    "sql_small": [check_oracle, check_stream],
}


def check(workload, seed, data, out, info):
    return [p for c in CHECKS[workload] for p in c(data, os.path.join(out, "check"), info, seed)]

