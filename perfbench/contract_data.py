"""Inputs and oracle check of the contract_slice workload.

write_events makes a seeded events table shaped like the engine's test data
(one parquet file; event_id, ts as TIMESTAMP(MICROS), user_id, event_type,
value, props). oracle_mismatches runs each dumped query's DuckDB oracle
(SparkEntry.oracleSql) over the same table and compares the results the way
tools/diff_oracle.py does: columns by name, rows sorted, values exact.
"""
import glob
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows, users, days: the shape of the sf0.01 events table
PARAMS = {"rows": 10000, "users": 150, "days": 30, "start": "2024-01-01"}
TYPES = ["click", "view", "purchase", "signup", "error"]


def events_table(seed, p=PARAMS):
    rng = np.random.default_rng(seed)
    n = p["rows"]
    start = np.datetime64(p["start"], "us").astype(np.int64)
    span = p["days"] * 86400 * 10**6
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, p["users"], n).astype(np.int64)),
        "event_type": pa.array([TYPES[i] for i in rng.integers(0, len(TYPES), n)]),
        "value": pa.array(np.round(rng.lognormal(3.0, 1.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def digest(seed):
    """SHA-256 of the generated table's content."""
    h = hashlib.sha256()
    for col in events_table(seed).columns:
        h.update(str(col.to_pylist()).encode())
    return h.hexdigest()


def write_events(data_dir, seed):
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(events_table(seed), os.path.join(data_dir, "events.parquet"))


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_mismatches(data_dir, dump_dir):
    """query -> reason, for every dumped query whose result differs from its
    oracle's, or that has no dump or no oracle."""
    import duckdb
    import pandas as pd

    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
                % os.path.join(data_dir, "events.parquet"))
    wrong = {}
    names = sorted(set(oracle) | {os.path.basename(d) for d in glob.glob(os.path.join(dump_dir, "*"))
                                  if os.path.isdir(d)})
    for name in names:
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if name not in oracle:
            wrong[name] = "no oracle"
            continue
        if not files:
            wrong[name] = "no result dumped"
            continue
        s = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        try:
            o = _canon(con.execute(oracle[name]).fetchdf())
        except Exception as e:  # an oracle that cannot run checks nothing
            wrong[name] = f"oracle error: {e}"
            continue
        if list(s.columns) != list(o.columns):
            wrong[name] = f"columns {list(s.columns)} vs {list(o.columns)}"
        elif len(s) != len(o):
            wrong[name] = f"rows {len(s)} vs {len(o)}"
        elif any(s[c].dtype.kind != o[c].dtype.kind for c in s.columns):
            wrong[name] = "column kinds differ"
        else:
            for c in s.columns:
                try:
                    eq = (s[c] == o[c]) | (s[c].isna() & o[c].isna())
                except Exception:
                    eq = s[c].astype(str) == o[c].astype(str)
                if not bool(eq.all()):
                    wrong[name] = f"values differ in column {c}"
                    break
    return wrong
