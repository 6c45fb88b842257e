"""Execute EVERY registered primitive once on a typed fixture —
catches latent AnalysisExceptions / type errors across the whole
library (analog of the reference's per-primitive docstring tests,
tests/primitive_tests/test_all_primitive_docstrings.py)."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from featuretools_spark.primitives import (
    AGG_PRIMITIVES,
    TRANSFORM_PRIMITIVES,
    get_aggregation_primitive,
    get_transform_primitive,
)
from featuretools_spark.primitives.base import AggContext, TransformContext


@pytest.fixture(scope="module")
def typed_df(spark):
    pdf = pd.DataFrame({
        "id": range(12),
        "grp": [i % 3 for i in range(12)],
        "num": [float(i) * 1.5 - 4 for i in range(12)],
        "num2": [float((i * 7) % 5) for i in range(12)],
        "flag": [i % 2 == 0 for i in range(12)],
        "cat": list("abcabcabcabc"),
        "text": ["The quick brown fox", "jumps over", "", "a lazy dog!",
                 "Der Hund und die Katze", "el que de la", "x " * 5,
                 'say "hello world" now', "#tag @user", "UPPER lower",
                 "Mr. John Smith", "末 word"],
        "url": ["https://www.example.com/a?b=1"] * 12,
        "email": ["a@gmail.com"] * 6 + ["b@corp.io"] * 6,
        "postal": ["94105"] * 12,
        "path": ["/tmp/file.txt"] * 12,
        "name": ["Dr. Jane Q Doe"] * 12,
        "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(hours=5 * i)
               for i in range(12)],
        "dt2": [dt.datetime(2023, 6, 15) + dt.timedelta(days=30 * i)
                for i in range(12)],
    })
    sdf = spark.createDataFrame(pdf)
    return sdf.withColumn(
        "loc",
        F.struct((F.col("num") / 10).alias("lat"),
                 (F.col("num2") * 20).alias("lng")),
    ).withColumn(
        "loc2",
        F.struct(F.lit(37.77).alias("lat"), F.lit(-122.41).alias("lng")),
    ).cache()


_KIND_COL = {
    "numeric": ["num", "num2"],
    "boolean": ["flag", "flag"],
    "category": ["cat", "cat"],
    "datetime": ["ts", "dt2"],
    "date_of_birth": ["dt2", "dt2"],
    "text": ["text", "text"],
    "latlong": ["loc", "loc2"],
    "url": ["url", "url"],
    "email": ["email", "email"],
    "postal_code": ["postal", "postal"],
    "file_path": ["path", "path"],
    "person_full_name": ["name", "name"],
    "phone_number": ["cat", "cat"],
    "ip_address": ["cat", "cat"],
    "any": ["num", "num2"],
    "index": ["id", "id"],
}


def _cols_for(prim):
    kinds = getattr(prim, "input_kinds", ("numeric",))
    if kinds == ():
        return []
    if len(kinds) == 1 and prim.n_inputs > 1:
        kinds = tuple(kinds[0] for _ in range(prim.n_inputs))
    if len(kinds) < prim.n_inputs:
        kinds = tuple(list(kinds) + ["numeric"] * (prim.n_inputs - len(kinds)))
    cols = []
    for i, k in enumerate(kinds[: prim.n_inputs]):
        cands = _KIND_COL.get(k, ["num", "num2"])
        cols.append(cands[min(i, len(cands) - 1)])
    return cols


def test_every_transform_executes(spark, typed_df):
    ctx = TransformContext(
        time=F.col("ts"), cutoff=F.lit(dt.datetime(2025, 1, 1)),
        order_cols=["ts", "id"], partition_cols=["grp"],
    )
    failures = []
    exprs = []
    for i, (name, cls) in enumerate(sorted(TRANSFORM_PRIMITIVES.items())):
        if getattr(cls, "strategy", "") == "pandas":
            continue  # covered by test_serialization_and_kernels
        prim = get_transform_primitive(name)
        cols = [F.col(c) for c in _cols_for(prim)]
        try:
            exprs.append(prim.expr(cols, ctx).alias(f"t_{i}"))
        except Exception as exc:  # noqa
            failures.append((name, "build", str(exc)[:120]))
    try:
        rows = typed_df.select(*exprs).collect()
        assert len(rows) == 12
    except Exception as exc:
        # bisect to find the offender
        for j, e in enumerate(exprs):
            try:
                typed_df.select(e).collect()
            except Exception as exc2:  # noqa
                failures.append((str(e), "exec", str(exc2)[:160]))
    assert not failures, failures[:5]


def test_every_expr_aggregation_executes(spark, typed_df):
    ctx = AggContext(time=F.col("ts"), cutoff=F.lit(dt.datetime(2025, 1, 1)))
    failures = []
    aggs = []
    for i, (name, cls) in enumerate(sorted(AGG_PRIMITIVES.items())):
        prim = get_aggregation_primitive(name)
        if prim.strategy != "expr":
            continue
        cols = [F.col(c) for c in _cols_for(prim)]
        try:
            aggs.append(prim.expr(cols, ctx).alias(f"a_{i}"))
        except Exception as exc:  # noqa
            failures.append((name, "build", str(exc)[:120]))
    try:
        rows = typed_df.groupBy("grp").agg(*aggs).collect()
        assert len(rows) == 3
    except Exception:
        for a in aggs:
            try:
                typed_df.groupBy("grp").agg(a).collect()
            except Exception as exc2:  # noqa
                failures.append((str(a), "exec", str(exc2)[:160]))
    assert not failures, failures[:5]


def test_every_twostage_aggregation_executes(spark, typed_df):
    """Each holistic primitive, in the as-of engine's aggregation body."""
    from featuretools_spark.asof import AggSpec, _aggregate_rows

    cut = F.lit(dt.datetime(2025, 1, 1))
    failures = []
    for name, cls in sorted(AGG_PRIMITIVES.items()):
        prim = get_aggregation_primitive(name)
        if prim.strategy != "twostage":
            continue
        spec = AggSpec("out", prim, _cols_for(prim))
        try:
            out = _aggregate_rows(typed_df, [("grp", "grp")], cut, None, "ts",
                                  [spec])
            n = out.count()
            assert n <= 3
        except Exception as exc:  # noqa
            failures.append((name, str(exc)[:160]))
    assert not failures, failures[:5]


def test_time_based_rolling(spark, typed_df):
    """rolling_mean with a duration window matches pandas rolling('15h')."""
    prim = get_transform_primitive("rolling_mean")
    prim.window_length = "15 hours"
    prim.gap = 0
    prim.min_periods = 1
    ctx = TransformContext(time=F.col("ts"), order_cols=["ts", "id"],
                           partition_cols=["grp"])
    out = typed_df.withColumn("r", prim.expr([F.col("num")], ctx))
    got = {r["id"]: r["r"] for r in out.select("id", "r").collect()}
    pdf = typed_df.select("id", "grp", "num", "ts").toPandas() \
        .sort_values(["ts", "id"])
    want = (
        pdf.set_index("ts").groupby("grp")["num"]
        .transform(lambda s: s.rolling("15h", min_periods=1).mean())
    )
    want.index = pdf["id"]
    for i in want.index:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])
