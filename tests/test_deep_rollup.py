"""Deep-path aggregations roll up from partials one grain down
(cfm._rollup): count, sum, mean, min and max over
nation <- customer <- orders <- lineitem, and the same primitives over
a direct feature from orders weighted by its lineitem count. The scalar
cutoff is checked against the same cutoff given per row: both roll up,
the scalar form aggregating per order and joining on the index, the
per-row form grouping per (order, cutoff) under column masks, so the
two plan shapes are pinned to each other."""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark import cfm
from featuretools_spark.entityset import EntitySet
from featuretools_spark.features import (
    AggregationFeature,
    DirectFeature,
    IdentityFeature,
    TransformFeature,
)

T = dt.datetime(2024, 1, 10)
NAN = float("nan")


def _d(day):
    return dt.datetime(2024, 1, day)


@pytest.fixture(scope="module")
def tiny_es(spark):
    """Every row a rollup could get wrong: NaN and null quantities, a
    lineitem with a null and one with an orphan l_orderkey, an order
    dated after the cutoff whose lineitems ship before it, an order
    and a lineitem dated exactly at the cutoff, a customer whose orders
    have no lineitems, a customer and a nation without children, a
    null and a NaN o_totalprice. The lineitem index is unique."""
    nation = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "n_nationkey long, n_name string")
    customer = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, None)],
        "c_custkey long, c_nationkey long")
    orders = spark.createDataFrame([
        (1, 1, _d(1), 100.0, 1),
        (2, 1, _d(5), None, 2),
        (6, 1, _d(20), 7.0, 6),       # after the cutoff
        (3, 2, _d(2), 33.0, 3),       # no lineitems
        (4, 3, _d(3), NAN, None),
        (5, 3, T, 50.5, 5),           # at the cutoff
        (8, 5, _d(4), 12.25, 8),
    ], "o_orderkey long, o_custkey long, o_orderdate timestamp, "
       "o_totalprice double, o_prio long")
    lineitem = spark.createDataFrame([
        (1, 1, _d(2), 1.5, 3),
        (1, 2, _d(3), NAN, 4),
        (1, 3, T, 2.25, 5),           # ships at the cutoff
        (2, 4, _d(6), None, None),
        (2, 5, _d(7), -4.0, -2),
        (6, 6, _d(8), 10.0, 7),       # its order is after the cutoff
        (None, 7, _d(1), 100.0, 100),
        (99, 8, _d(1), 200.0, 200),   # orphan
        (4, 9, _d(5), 0.5, 1),
        (4, 14, _d(12), 8.0, 8),      # ships after the cutoff
        (5, 10, _d(9), 3.0, 2),
        (8, 12, _d(11), 9.0, 9),
        (8, 13, _d(4), NAN, 6),
    ], "l_orderkey long, _li_id long, l_shipdate timestamp, "
       "l_quantity double, l_n long")
    es = EntitySet("rollup")
    es.add_dataframe("nation", nation, index="n_nationkey")
    es.add_dataframe("customer", customer, index="c_custkey")
    es.add_dataframe("orders", orders, index="o_orderkey",
                     time_index="o_orderdate")
    es.add_dataframe("lineitem", lineitem, index="_li_id",
                     time_index="l_shipdate")
    es.add_relationship("nation", "n_nationkey", "customer", "c_nationkey")
    es.add_relationship("customer", "c_custkey", "orders", "o_custkey")
    es.add_relationship("orders", "o_orderkey", "lineitem", "l_orderkey")
    return es


def _deep(es, target):
    """Every eligible deep feature at `target`, plus a stacked one."""
    li = lambda c: IdentityFeature(es, "lineitem", c)  # noqa: E731
    od = lambda c: DirectFeature(  # noqa: E731
        IdentityFeature(es, "orders", c), "lineitem", es=es)
    feats = [AggregationFeature(li("_li_id"), target, "count", es=es)]
    for p in ("sum", "mean", "min", "max"):
        for base in (li("l_quantity"), li("l_n"), od("o_totalprice"),
                     od("o_prio")):
            feats.append(AggregationFeature(base, target, p, es=es))
    feats.append(AggregationFeature(
        AggregationFeature(li("l_quantity"), "orders", "sum", es=es),
        target, "mean", es=es))
    return feats


def _matrices(es, target, feats, **kw):
    scalar = fts.calculate_feature_matrix(feats, es, cutoff_time=T, **kw)
    idx = es.index(target)
    per_row = fts.calculate_feature_matrix(
        feats, es,
        cutoff_time=es[target].select(
            idx, F.lit(T).cast("timestamp").alias("time")), **kw)
    return scalar, per_row


def _assert_same(scalar, per_row, idx, cols):
    quoted = [f"`{c}`" for c in cols]
    assert (scalar.select(quoted).dtypes
            == per_row.select(quoted).dtypes)
    want = {r[idx]: r for r in scalar.collect()}
    have = {r[idx]: r for r in per_row.collect()}
    assert want.keys() == have.keys()
    nonzero = 0
    for k, w in want.items():
        for c in cols:
            x, y = w[c], have[k][c]
            if x is None or y is None:
                assert x == y, (k, c, x, y)
            else:
                assert abs(x - y) <= 1e-12 * max(1.0, abs(x)), (k, c, x, y)
                nonzero += x != 0
    assert nonzero > 0


@pytest.mark.parametrize("target", ["customer", "nation"])
@pytest.mark.parametrize("include", [True, False])
def test_rollup_matches_per_row_path(tiny_es, target, include):
    """Every deep feature rolls up (none is left on the deep path) and
    equals the per-row path's value and type, with the cutoff included
    and excluded."""
    es = tiny_es
    feats = _deep(es, target)
    assert all(cfm._rollup(es, f) is not None for f in feats[:-1])
    scalar, per_row = _matrices(es, target, feats,
                                include_cutoff_time=include)
    _assert_same(scalar, per_row, es.index(target),
                 [f.get_name() for f in feats])


def _plan(df) -> str:
    """The optimized plan without expression ids and generated names."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?|_ft_m\d+", "", s)


def test_training_window_keeps_deep_path(tiny_es, monkeypatch):
    """With a training window the deep features keep the deep path:
    the plan is the one built with the rollup switched off, and it
    still equals the per-row path."""
    es = tiny_es
    feats = _deep(es, "customer")
    cols = [f.get_name() for f in feats]
    scalar, per_row = _matrices(es, "customer", feats,
                                training_window="5 days")
    _assert_same(scalar, per_row, "c_custkey", cols)
    monkeypatch.setattr(cfm, "_rollup", lambda es, f: None)
    deep = fts.calculate_feature_matrix(feats, es, cutoff_time=T,
                                        training_window="5 days")
    assert _plan(scalar) == _plan(deep)


def test_stacked_direct_reading_the_cutoff(tiny_es):
    """A stacked direct whose base reads the cutoff
    (MEAN(lineitem.orders.TIME_SINCE(o_orderdate))) computes at a
    scalar cutoff, against the literal cutoff, and equals the per-row
    path."""
    es = tiny_es
    since = TransformFeature(
        "time_since", [IdentityFeature(es, "orders", "o_orderdate")])
    feats = [AggregationFeature(DirectFeature(since, "lineitem", es=es),
                                "customer", "mean", es=es)]
    scalar, per_row = _matrices(es, "customer", feats)
    _assert_same(scalar, per_row, "c_custkey", [feats[0].get_name()])


def test_deep_path_per_row_skips_hop_rows_without_children(tiny_es):
    """Deep aggregations that do not roll up (percent_true, std,
    num_unique, a where) join each lineitem to its customer through the
    orders hop. At per-row cutoffs an order without lineitems before
    the cutoff is a row of its own beside the real lineitems (customer
    1's order 2 at Jan 5) and counts in no aggregate: both cutoff forms
    agree."""
    es = tiny_es
    big = IdentityFeature(es, "lineitem", "l_n") > 3
    feats = [
        AggregationFeature(big, "customer", "percent_true", es=es),
        AggregationFeature(IdentityFeature(es, "lineitem", "l_quantity"),
                           "customer", "std", es=es),
        AggregationFeature(IdentityFeature(es, "lineitem", "l_n"),
                           "customer", "num_unique", es=es),
        AggregationFeature(IdentityFeature(es, "lineitem", "_li_id"),
                           "customer", "count", where=big, es=es),
    ]
    assert all(cfm._rollup(es, f) is None for f in feats)
    t = _d(5)
    scalar = fts.calculate_feature_matrix(feats, es, cutoff_time=t)
    per_row = fts.calculate_feature_matrix(
        feats, es, cutoff_time=es["customer"].select(
            "c_custkey", F.lit(t).cast("timestamp").alias("time")))
    _assert_same(scalar, per_row, "c_custkey",
                 [f.get_name() for f in feats])
