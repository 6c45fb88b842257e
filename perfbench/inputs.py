"""Seeded benchmark inputs, written once per (scale, seed) as parquet.

The sequence table keeps the shape of `featuretools_spark.datagen`'s
`make_sequences` (doc_id, tokens, n_tok, source, event_time, entity_id;
~1% of entities own ~30% of the rows) and the cutoff tables keep the
shape of `make_cutoffs` (t0 - 1 day, mid-stream, exactly at an event,
t1 + 1 hour, then evenly spaced extras). Those functions take no seed,
so this module draws the same columns from a numpy generator seeded by
`--seed`. Tokens stay short: every backfill plan prunes the column, so
its width would only slow generation.

The TPC-H-shaped tables (customer <- orders <- lineitem) carry the
columns and types of the TPC-H parquet the engine's registered
`dfs_depth2` query reads, so the same DFS spec enumerates the same
features. About a third of customers have no orders, as in TPC-H.

Generation happens outside every timed interval. A reused input is
checked against the row counts recorded when it was written.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
ANCHOR = np.datetime64("2024-01-01T00:00:00", "us")
N_FILES = 4  # like a Spark-written table: one file per writer partition

# rows, entities, max tokens; TPC-H customers. "full" is what the
# benchmark measures; "tiny" serves the self-test.
SCALES = {
    "full": {"rows": 200_000, "entities": 2_000, "max_tok": 16,
             "customers": 3_000},
    "tiny": {"rows": 4_000, "entities": 100, "max_tok": 4,
             "customers": 150},
}
GROUPS = ("sequences", "tpch")
DENSE_CUTOFFS = 64
SPARSE_CUTOFFS = 4


def _write(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _sequences(rng, rows: int, entities: int, max_tok: int) -> pa.Table:
    n_hot = max(1, entities // 100)
    hot = rng.random(rows) < 0.3
    ent = np.where(hot, rng.integers(0, n_hot, rows),
                   rng.integers(0, entities, rows))
    n_tok = (1 + rng.integers(0, max_tok, rows)).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)))
    source = np.array(["web", "books", "code", "wiki"])[
        rng.integers(0, 4, rows)]
    secs = rng.integers(0, 10_000_000, rows).astype("timedelta64[s]")
    return pa.table({
        "doc_id": pa.array([f"doc{i:08d}" for i in range(rows)]),
        "tokens": tokens,
        "n_tok": pa.array(n_tok),
        "source": pa.array(source),
        "event_time": pa.array(ANCHOR + secs, pa.timestamp("us", "UTC")),
        "entity_id": pa.array([f"e{e:05d}" for e in ent]),
    })


def _frame(seqs: pa.Table) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": seqs["doc_id"].to_numpy(),
        "entity_id": seqs["entity_id"].to_numpy(),
        "us": seqs["event_time"].cast(pa.int64()).to_numpy(),
    })


def _entities(seqs: pa.Table) -> pa.Table:
    first = _frame(seqs).groupby("entity_id", sort=True)["us"].min()
    return pa.table({
        "entity_id": pa.array(first.index.to_numpy()),
        "first_seen": pa.array(first.to_numpy()).cast(
            pa.timestamp("us", "UTC")),
    })


def _cutoffs(rng, seqs: pa.Table, per_entity: int) -> pa.Table:
    df = _frame(seqs)
    g = df.groupby("entity_id", sort=True)
    t0, t1 = g["us"].min(), g["us"].max()
    # make_cutoffs' t_exact: the event time of the entity's largest doc_id
    t_exact = df.loc[g["doc_id"].idxmax(), ["entity_id", "us"]] \
        .set_index("entity_id")["us"].reindex(t0.index)
    day, hour = 86_400_000_000, 3_600_000_000
    cols = [t0 - day, (t0 + t1) // 2, t_exact, t1 + hour]
    k = per_entity - 4
    cols += [t0 + (t1 - t0) * i // (k + 1) for i in range(1, k + 1)]
    times = np.stack([c.to_numpy() for c in cols], axis=1)[:, :per_entity]
    n = times.size
    return pa.table({
        "entity_id": pa.array(np.repeat(t0.index.to_numpy(),
                                        times.shape[1])),
        "time": pa.array(times.reshape(-1)).cast(pa.timestamp("us", "UTC")),
        "label": pa.array(rng.integers(0, 1000, n) / 1000.0),
    })


def _tpch(rng, customers: int) -> dict:
    day = np.timedelta64(1, "D")
    start = np.datetime64("1992-01-01", "D")
    span = (np.datetime64("1998-08-02", "D") - start) // day
    ckey = np.arange(1, customers + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ckey,
        "c_name": pa.array([f"Customer#{c:09d}" for c in ckey]),
        "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, customers)],
    })
    # TPC-H: customers whose key is a multiple of 3 place no orders
    buyers = ckey[ckey % 3 != 0]
    n_orders = customers * 10
    o_cust = rng.choice(buyers, n_orders)
    o_date = start + rng.integers(0, span - 151, n_orders) * day
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": o_cust,
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_orders), 2),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)],
    })
    per = rng.integers(1, 8, n_orders)
    n_li = int(per.sum())
    l_order = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per)
    first = np.repeat(np.cumsum(per) - per, per)
    l_linenumber = (np.arange(n_li) - first + 1).astype(np.int32)
    l_ship = np.repeat(o_date, per) + rng.integers(1, 122, n_li) * day
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, 20_001, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_li).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(901.0, 2_000.0, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(l_ship.astype("datetime64[us]")),
        "l_id": np.arange(n_li, dtype=np.int64),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def tpch_cutoff(seed: int) -> dt.datetime:
    """The scalar cutoff of the DFS workload: a seeded day of the 90
    before 1998-01-01 (the registered query's cutoff), so every seed
    keeps about the same share of the orders."""
    days = np.random.default_rng([seed, 7]).integers(1, 91)
    return dt.datetime(1998, 1, 1) - dt.timedelta(days=int(days))


def generate(out_dir: str, scale: str, seed: int, group: str) -> dict:
    """Write the tables of one group ("sequences" or "tpch") of one
    (scale, seed) into out_dir; return their row counts."""
    p = SCALES[scale]
    rng = np.random.default_rng([seed, GROUPS.index(group)])
    if group == "tpch":
        tables = _tpch(rng, p["customers"])
    else:
        seqs = _sequences(rng, p["rows"], p["entities"], p["max_tok"])
        tables = {
            "sequences": seqs,
            "entities": _entities(seqs),
            "cutoffs_dense": _cutoffs(rng, seqs, DENSE_CUTOFFS),
            "cutoffs_sparse": _cutoffs(rng, seqs, SPARSE_CUTOFFS),
        }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, name))
    return {name: t.num_rows for name, t in tables.items()}


def _row_count(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def ensure(work_dir: str, scale: str, seed: int, group: str) -> str:
    """Return the directory holding one group of this (scale, seed)'s
    inputs, generating it on first use and checking row counts on
    reuse."""
    d = os.path.join(work_dir, "inputs", f"{scale}-seed{seed}-{group}")
    done = os.path.join(d, "_ROWS.json")
    if os.path.exists(done):
        with open(done) as fh:
            rows = json.load(fh)
        try:
            got = {name: _row_count(os.path.join(d, name)) for name in rows}
        except OSError:  # a table went missing: write the group again
            got = None
        if got == rows:
            return d
        shutil.rmtree(d)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = generate(tmp, scale, seed, group)
    with open(os.path.join(tmp, "_ROWS.json"), "w") as fh:
        json.dump(rows, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d
