"""Mimic the driver's correctness gate: run each __spark_entry__
query through Spark AND its oracle SQL through DuckDB at a given SF,
compare row counts + order-insensitive values.

    python tools/check_oracle.py <testdata dir> [query,query,...]

A row whose only differences are 4-decimal values one rounding step
apart is re-run with the queries' rounding switched off. When the
unrounded values agree to BOUNDARY_RTOL it is a rounding-boundary row:
the engines summed doubles in a different order and the few-ulp
difference straddles a .00005 boundary. Those rows are printed with
their unrounded values and relative error, and do not fail the query;
every other difference does."""
import math
import os
import sys

# this checkout, so two checkouts can be checked side by side
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import __spark_entry__ as entrymod
from featuretools_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 4)
    if isinstance(v, bool):
        return bool(v)
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return round(float(v), 4)
    except Exception:
        pass
    return v

def _aclass(t: str):
    """Collapse an Arrow type string into (class, width) for the typed
    comparison. The driver hashes TYPED values, so DuckDB surfacing a
    window sum as HUGEINT (-> Arrow decimal128(38,0)) mismatches a
    Spark bigint even when every value is equal — that exact trap cost
    round 3 its only red row. Classes: int<w>, float<w>, bool, str,
    ts, date, bin, list<inner>, other."""
    t = t.lower()
    if t.startswith("list<") or t.startswith("large_list<"):
        inner = t[t.index("<") + 1:-1]
        # arrow renders "list<item: double>"
        if ":" in inner:
            inner = inner.split(":", 1)[1].strip()
        return ("list", _aclass(inner))
    if t.startswith("decimal"):
        return ("int", 128) if t.endswith(", 0)") or ",0)" in t \
            else ("float", 128)
    for w in (8, 16, 32, 64):
        if t in (f"int{w}", f"uint{w}"):
            return ("int", w)
    if t in ("float", "float32"):
        return ("float", 32)
    if t in ("double", "float64"):
        return ("float", 64)
    if t == "bool":
        return ("bool", None)
    if t in ("string", "large_string", "utf8", "large_utf8"):
        return ("str", None)
    if t.startswith("timestamp"):
        return ("ts", None)
    if t.startswith("date"):
        return ("date", None)
    if t in ("binary", "large_binary"):
        return ("bin", None)
    return ("other", t)


_SPARK_ARROW = {"tinyint": "int8", "smallint": "int16", "int": "int32",
                "bigint": "int64", "float": "float32", "double": "float64",
                "boolean": "bool", "string": "string", "date": "date32",
                "binary": "binary"}


def _sclass(simple: str):
    simple = simple.lower()
    if simple.startswith("array<"):
        return ("list", _sclass(simple[6:-1]))
    if simple.startswith("decimal("):
        return ("int", 128) if simple.endswith(",0)") else ("float", 128)
    if simple.startswith("timestamp"):
        return ("ts", None)
    return _aclass(_SPARK_ARROW.get(simple, simple))


def type_mismatches(sdf, arrow_schema):
    out = []
    stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    for f in arrow_schema:
        if f.name not in stypes:
            continue
        sc, oc = _sclass(stypes[f.name]), _aclass(str(f.type))
        if sc != oc:
            out.append(f"{f.name}: spark={stypes[f.name]}({sc}) "
                       f"oracle_arrow={f.type}({oc})")
    return out


BOUNDARY_RTOL = 1e-12


def _pairs(srows, orows, ki):
    """Mismatched (spark, oracle) row pairs: by the key at position ki
    when it is unique on both sides with the same key set, else by
    sorted position."""
    sk, ok = {r[ki]: r for r in srows}, {r[ki]: r for r in orows}
    if len(sk) == len(srows) and len(ok) == len(orows) and sk.keys() == ok.keys():
        return [(sk[k], ok[k]) for k in sk if sk[k] != ok[k]]
    return [(a, b) for a, b in zip(srows, orows) if a != b]


def _one_step(a, b):
    """a and b are 4-decimal values one rounding step apart."""
    return (isinstance(a, float) and isinstance(b, float)
            and abs(abs(a - b) - 1e-4)
            <= 1e-9 + 8 * math.ulp(max(abs(a), abs(b))))


def _unrounded(name, key):
    """The query's Spark and oracle rows with its 4-decimal rounding
    switched off, as {key: {column: value}}."""
    saved = entrymod._r4, entrymod._r4e, entrymod._R, entrymod._Re
    entrymod._r4 = entrymod._r4e = lambda df, cols: df
    entrymod._R = entrymod._Re = lambda e: f"({e})"
    try:
        sdf = qs[name](spark, SF_DIR)
        sql = entrymod.oracle_sql()[name]
    finally:
        entrymod._r4, entrymod._r4e, entrymod._R, entrymod._Re = saved
    srows = {r[key]: r.asDict() for r in sdf.collect()}
    od = con.execute(sql)
    names = [d[0] for d in od.description]
    orows = {}
    for row in od.fetchall():
        d = dict(zip(names, row))
        orows[d[key]] = d
    return srows, orows


def _boundary_rows(name, pairs, scols, key):
    """Split mismatched row pairs into rounding-boundary rows (printed
    with unrounded values) and the rest."""
    ki = scols.index(key)
    cand = [p for p in pairs
            if all(x == y or _one_step(x, y) for x, y in zip(*p))]
    if not cand:
        return [], pairs
    sraw, oraw = _unrounded(name, key)
    boundary = []
    for a, b in cand:
        k = a[ki]
        errs = []
        for c, x, y in zip(scols, a, b):
            if x == y:
                continue
            sv, ov = sraw.get(k, {}).get(c), oraw.get(k, {}).get(c)
            if sv is None or ov is None:
                errs = None
                break
            sv, ov = float(sv), float(ov)
            errs.append((c, sv, ov, abs(sv - ov) / max(abs(sv), abs(ov), 1e-300)))
        if errs and all(e[3] <= BOUNDARY_RTOL for e in errs):
            boundary.append(a)
            for c, sv, ov, rel in errs:
                print(f"  BOUNDARY {name} {key}={k} {c}: spark={sv!r} "
                      f"oracle={ov!r} rel_err={rel:.2g}")
    rest = [p for p in pairs if not any(p[0] is a for a in boundary)]
    return boundary, rest


qs = entrymod.queries()
oras = entrymod.oracle_sql()
fails = []
boundary_queries = []
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    try:
        sdf = fn(spark, SF_DIR)
        scols = sorted(sdf.columns)
        def skey(row):
            return tuple((v is None, str(v)) for v in row)

        srows = sorted(
            (tuple(norm(r[c]) for c in scols) for r in sdf.collect()),
            key=skey,
        )
        if name not in oras:
            print(f"{name}: rows={len(srows)} (no oracle - rows-only)")
            continue
        tmism = type_mismatches(sdf, con.execute(oras[name]).arrow().schema)
        for tm in tmism:
            print(f"  TYPE {name}: {tm}")
        od = con.execute(oras[name])
        names = [d[0] for d in od.description]
        ocols = sorted(names)
        orows = sorted(
            (tuple(norm(dict(zip(names, row))[c]) for c in ocols)
             for row in od.fetchall()),
            key=skey,
        )
        ok_schema = scols == ocols
        ok_count = len(srows) == len(orows)
        pairs = _pairs(srows, orows, scols.index(sdf.columns[0]))
        boundary = []
        if ok_schema and ok_count and pairs:
            boundary, pairs = _boundary_rows(name, pairs, scols,
                                             sdf.columns[0])
        for a, b in pairs[:3]:
            print(f"  MISMATCH {name}: spark={a} oracle={b}")
        mism = len(pairs)
        status = ("OK" if (ok_schema and ok_count and mism == 0
                           and not tmism) else "FAIL")
        if status == "FAIL":
            fails.append(name)
        if boundary:
            boundary_queries.append(f"{name}({len(boundary)})")
        print(f"{name}: {status} rows={len(srows)}/{len(orows)} "
              f"schema={'ok' if ok_schema else f'{scols} vs {ocols}'} mismatches={mism}"
              f" rounding_boundary={len(boundary)}")
    except Exception as e:
        fails.append(name)
        print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")

if boundary_queries:
    print("\nROUNDING BOUNDARY ROWS (not failures):", boundary_queries)
print("\nFAILED:" if fails else "\nALL OK", fails if fails else "")
sys.exit(1 if fails else 0)
