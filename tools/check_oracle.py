"""Mimic the driver's correctness gate: run each __spark_entry__
query through Spark AND its oracle SQL through DuckDB at a given SF,
compare row counts + order-insensitive values."""
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


qs = entrymod.queries()
oras = entrymod.oracle_sql()
fails = []
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
        mism = 0
        for a, b in zip(srows, orows):
            if a != b:
                mism += 1
                if mism <= 3:
                    print(f"  MISMATCH {name}: spark={a} oracle={b}")
        status = ("OK" if (ok_schema and ok_count and mism == 0
                           and not tmism) else "FAIL")
        if status == "FAIL":
            fails.append(name)
        print(f"{name}: {status} rows={len(srows)}/{len(orows)} "
              f"schema={'ok' if ok_schema else f'{scols} vs {ocols}'} mismatches={mism}")
    except Exception as e:
        fails.append(name)
        print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")

print("\nFAILED:" if fails else "\nALL OK", fails if fails else "")
sys.exit(1 if fails else 0)
