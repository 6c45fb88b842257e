"""DuckDB references for every workload, and the checks against them.

Each reference is computed from the same parquet inputs the engine
reads, with the semantics the engine documents: rows with
`t <= cutoff` (and `t > cutoff - window` under a training window)
feed the aggregates; a target row whose time index is after the cutoff,
or whose time index and last time index both fall before the window,
gets each feature's default value (0 for COUNT and SUM, else null).
"""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# relative/absolute tolerance of one feature value; sums of doubles
# differ between engines only in accumulation order
RTOL, ATOL = 1e-7, 1e-9
SUM_RTOL = 1e-6  # per-request checksums add up every row of a column


def _scan(d: str, table: str) -> str:
    return f"read_parquet('{os.path.join(d, table)}/*.parquet')"


def _trend(y: str, x: str) -> str:
    """The engine's TREND: OLS slope of y over epoch seconds, scaled to
    days/hours/minutes when the first x is whole; null for n <= 2."""
    first = f"CAST(floor(min({x})) AS BIGINT)"
    div = (f"CASE WHEN {first} % 86400 = 0 THEN 86400.0 "
           f"WHEN {first} % 3600 = 0 THEN 3600.0 "
           f"WHEN {first} % 60 = 0 THEN 60.0 ELSE 1.0 END")
    return (f"CASE WHEN count({x}) <= 2 THEN NULL "
            f"WHEN var_pop({x}) = 0 THEN 0.0 "
            f"ELSE covar_pop({x}, {y}) / var_pop({x}) * {div} END")


_BACKFILL_AGG = {
    "count": ("count(s.n_tok)", 0),
    "sum": ("sum(s.n_tok)", 0),
    "mean": ("avg(s.n_tok)", None),
    "std": ("stddev_pop(s.n_tok)", None),
    "max": ("max(s.n_tok)", None),
    "trend": (_trend("s.n_tok", "epoch_us(s.event_time) / 1e6"), None),
    "time_since_last":
        ("(epoch_us(k.time) - epoch_us(max(s.event_time))) / 1e6", None),
}


def backfill_sql(d: str, cutoffs: str, prims: list[str],
                 window_days: int | None) -> str:
    """Per-row-cutoff backfill over the sequence table: one output row
    per cutoff row, the features computed once per distinct
    (entity, time) and re-attached with the pass column `label`."""
    win = (f"AND s.event_time > k.time - INTERVAL {window_days} DAY"
           if window_days else "")
    # target mask; the last time index is the entity's latest event
    alive = "e.first_seen <= k.time"
    if window_days:
        start = f"k.time - INTERVAL {window_days} DAY"
        alive += (f" AND (e.first_seen > {start} OR "
                  f"greatest(e.first_seen, e.last_seen) > {start})")
    cols = []
    for i, p in enumerate(prims):
        expr, default = _BACKFILL_AGG[p]
        val = f"coalesce({expr}, {default})" if default is not None else expr
        dflt = "NULL" if default is None else str(default)
        cols.append(f"CASE WHEN {alive} THEN {val} ELSE {dflt} END AS f{i}")
    return f"""
    WITH k AS (SELECT DISTINCT entity_id, time FROM {_scan(d, cutoffs)}),
    e AS (SELECT n.entity_id, n.first_seen, max(q.event_time) AS last_seen
          FROM {_scan(d, 'entities')} n
          LEFT JOIN {_scan(d, 'sequences')} q USING (entity_id)
          GROUP BY ALL),
    f AS (SELECT k.entity_id, k.time, {', '.join(cols)}
          FROM k JOIN e USING (entity_id)
          LEFT JOIN {_scan(d, 'sequences')} s
            ON s.entity_id = k.entity_id AND s.event_time <= k.time {win}
          GROUP BY k.entity_id, k.time, e.first_seen, e.last_seen)
    SELECT c.entity_id, c.time, c.label, f.* EXCLUDE (entity_id, time)
    FROM {_scan(d, cutoffs)} c JOIN f USING (entity_id, time)
    """


_DFS_NAME = re.compile(r"^(SUM|MEAN|COUNT)\((\w+)(?:\.(.*))?\)$")
_AGG_SQL = {"SUM": "coalesce(sum({}), 0)", "MEAN": "avg({})",
            "COUNT": "count(*)"}


def _cents(col: str) -> str:
    return f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"


def dfs_sql(d: str, cutoff, names: list[str]) -> str:
    """The depth-2 customer <- orders <- lineitem feature matrix at one
    scalar cutoff, one SQL column per DFS feature name. Money columns
    are integer cents, as the workload's EntitySet stores them."""
    t = f"TIMESTAMP '{cutoff:%Y-%m-%d %H:%M:%S}'"
    cte = f"""
    o AS (SELECT o_orderkey, o_custkey, {_cents('o_totalprice')}
                 AS o_totalprice
          FROM {_scan(d, 'orders')} WHERE o_orderdate <= {t}),
    l AS (SELECT l.l_quantity, {_cents('l.l_extendedprice')}
                 AS l_extendedprice, {_cents('l.l_discount')} AS l_discount,
                 o.o_orderkey, o.o_custkey, o.o_totalprice
          FROM {_scan(d, 'lineitem')} l
          JOIN o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_shipdate <= {t})"""
    inner = {}   # per-order aggregates that customer-level ones stack on
    cols = []
    for i, name in enumerate(names):
        m = _DFS_NAME.match(name)
        if m is None:  # an identity column of customer
            src = _cents(f"c.{name}") if name == "c_acctbal" else f"c.{name}"
            cols.append(f"{src} AS f{i}")
            continue
        agg, child, arg = m.groups()
        if child == "orders" and arg and "(" in arg:
            im = _DFS_NAME.match(arg)
            inner_name = f"i{len(inner)}"
            ia, _, icol = im.groups()
            inner.setdefault(arg, (inner_name, (
                "count(l.o_orderkey)" if ia == "COUNT"
                else _AGG_SQL[ia].format(f"l.{icol}"))))
            frm, col = "oi", f"oi.{inner[arg][0]}"
        elif child == "orders":
            frm, col = "o", f"o.{arg}" if arg else "*"
        else:  # lineitem, directly or through its order's column
            frm, col = "l", f"l.{arg.split('.')[-1]}" if arg else "*"
        agg_sql = _AGG_SQL[agg].format(col)
        cols.append(f"(SELECT {agg_sql} FROM {frm} "
                    f"WHERE {frm}.o_custkey = c.c_custkey) AS f{i}")
    inner_cols = ", ".join(f"{sql} AS {n}" for n, sql in inner.values())
    oi = (f""", oi AS (SELECT o.o_custkey, {inner_cols} FROM o
          LEFT JOIN l ON l.o_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey, o.o_custkey)""" if inner else "")
    return f"""WITH {cte} {oi}
    SELECT c.c_custkey, {t} AS time, {', '.join(cols)}
    FROM {_scan(d, 'customer')} c"""


def compute(sql: str, path: str) -> pa.Table:
    """Run one reference query and store its result at path."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'; SET threads = 4")
        table = con.execute(sql).arrow()
    finally:
        con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return table


def _plain(col: pa.ChunkedArray) -> np.ndarray:
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us")).cast(pa.int64())
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return col.to_numpy(zero_copy_only=False)
    return col.to_numpy(zero_copy_only=False).astype(np.float64)


def checksum(table: pa.Table, n_keys: int) -> dict:
    """Row count, and per feature column its null/NaN count and the
    sum of its other values (string columns: null count only)."""
    out = {"rows": table.num_rows}
    for i, name in enumerate(table.column_names[n_keys:]):
        v = _plain(table.column(n_keys + i))
        if v.dtype == object:
            out[f"f{i}"] = (int(sum(x is None for x in v)), 0.0)
        else:
            bad = np.isnan(v)
            out[f"f{i}"] = (int(bad.sum()), float(v[~bad].sum()))
    return out


def checksums_match(got: dict, ref: dict) -> bool:
    if got.keys() != ref.keys() or got["rows"] != ref["rows"]:
        return False
    return all(got[k][0] == ref[k][0]
               and np.isclose(got[k][1], ref[k][1], rtol=SUM_RTOL,
                              atol=ATOL)
               for k in ref if k != "rows")


def compare(got: pa.Table, ref: pa.Table, n_keys: int) -> list[str]:
    """Row-by-row comparison after sorting both by their key columns;
    returns the mismatches found (empty when equal)."""
    if got.num_columns != ref.num_columns:
        return [f"{got.num_columns} columns, expected {ref.num_columns}"]
    if got.num_rows != ref.num_rows:
        return [f"{got.num_rows} rows, expected {ref.num_rows}"]
    names = got.column_names
    keys = [(c, "ascending") for c in ref.column_names[:n_keys]]
    ref = ref.sort_by(keys)
    got = got.rename_columns(ref.column_names).sort_by(keys)
    errors = []
    for i, name in enumerate(names):
        a, b = _plain(got.column(i)), _plain(ref.column(i))
        if a.dtype == object or b.dtype == object:
            ok = np.array([x == y for x, y in zip(a, b)])
        elif i < n_keys:
            ok = a == b
        else:
            ok = np.isclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True)
        if not ok.all():
            j = int(np.argmin(ok))
            errors.append(f"{name}: {int((~ok).sum())} rows differ, "
                          f"e.g. row {j}: {a[j]!r} != {b[j]!r}")
    return errors
