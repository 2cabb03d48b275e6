"""Input tables for the q_loops workload.

Writes the four tables the loop-heavy queries read (embeddings, supplier,
lineitem, events) as parquet, with the column names and types of the
graded surface's testdata tables. Timestamps are naive microseconds, so
Spark reads them as TIMESTAMP_NTZ and `graft.queries.Tables` normalizes
them exactly as it does for the testdata.

The tables come from a fixed generator seed: the workload's own seed
only permutes the query order, so every run times the same input.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42


def write(out_dir, n_emb, n_sup, n_orders, n_parts, n_lines, n_events,
          n_users, n_keys):
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })

    save("supplier", {
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_sup), 2)),
    })

    orderkey = np.sort(rng.integers(0, n_orders, n_lines))
    linenumber = np.zeros(n_lines, np.int32)
    for i in range(1, n_lines):
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    save("lineitem", {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_lines), pa.int64()),
        "l_linenumber": pa.array(linenumber + 1, pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900, 3000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": pa.array(day0 + rng.integers(0, 2500, n_lines).astype("timedelta64[D]"),
                               pa.timestamp("us")),
    })

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    save("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n_events)),
        "value": pa.array(np.round(rng.uniform(0, 100, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, n_keys, n_events)]),
    })
