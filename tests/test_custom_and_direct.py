"""Custom user primitives (the UDF surface, reference
primitives/base/primitive_base.py:11-161 + custom-primitive tests at
tests/primitive_tests/test_agg_feats.py:530-635) and dynamic direct
features (parent aggregations pulled down to the child grain), and
FeatureOutputSlice over a multi-output aggregation."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark.features import (
    AggregationFeature,
    DirectFeature,
    FeatureOutputSlice,
    IdentityFeature,
    TransformFeature,
)
from featuretools_spark.primitives import get_aggregation_primitive
from featuretools_spark.primitives.base import (
    AggregationPrimitive,
    TransformPrimitive,
)

CUT = dt.datetime(2024, 1, 20)


class SumOfSquares(AggregationPrimitive):
    """Custom aggregation: a user-defined Column-expression builder."""

    name = "sum_of_squares"
    default_value = 0

    def expr(self, inputs, ctx):
        x = inputs[0].cast("double")
        return F.sum(x * x)


class Clip100(TransformPrimitive):
    name = "clip_100"

    def expr(self, inputs, ctx):
        return F.least(F.greatest(inputs[0], F.lit(-100.0)), F.lit(100.0))


def test_custom_aggregation_primitive(es, duck):
    v = IdentityFeature(es, "events", "value")
    f = AggregationFeature(v, "users", SumOfSquares(), es=es)
    assert f.get_name() == "SUM_OF_SQUARES(events.value)"
    fm = fts.calculate_feature_matrix([f], es, cutoff_time=CUT)
    got = {r["user_id"]: r[f.get_name()] for r in fm.collect()}
    want = {
        r[0]: r[1]
        for r in duck.execute(
            f"""SELECT u.user_id, coalesce(sum(e.value * e.value), 0)
                FROM (SELECT DISTINCT user_id FROM events) u
                LEFT JOIN events e ON e.user_id = u.user_id
                  AND e.ts <= TIMESTAMP '{CUT}'
                GROUP BY u.user_id"""
        ).fetchall()
    }
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_custom_transform_primitive(es):
    v = IdentityFeature(es, "events", "value")
    t = TransformFeature(Clip100(), [v])
    agg = AggregationFeature(t, "users", "max", es=es)
    fm = fts.calculate_feature_matrix([agg], es, cutoff_time=CUT)
    vals = [r[agg.get_name()] for r in fm.collect()]
    assert all(val is None or val <= 100.0 for val in vals)


def test_dynamic_direct_feature(es, duck):
    """DirectFeature of a parent AGGREGATION: each order row sees its
    customer's order count as of the same cutoff."""
    tpch = None
    # reuse conftest's tpch tables inside the shared es fixture? build here
    # from the events star instead: users <- events, events get
    # users.COUNT(events) pulled down
    eid = IdentityFeature(es, "events", "event_id")
    cnt = AggregationFeature(eid, "users", "count", es=es)
    d = DirectFeature(cnt, "events", es=es)
    assert d.get_name() == "users.COUNT(events)"
    cuts = es["events"].select(
        F.col("event_id"), F.lit(CUT).alias("time")
    ).limit(500)
    fm = fts.calculate_feature_matrix([d], es, cutoff_time=cuts)
    got = {r["event_id"]: r[d.get_name()] for r in fm.collect()}
    want = {
        r[0]: r[1]
        for r in duck.execute(
            f"""WITH c AS (
                  SELECT user_id, count(*) AS n FROM events
                  WHERE ts <= TIMESTAMP '{CUT}' GROUP BY user_id
                )
                SELECT e.event_id, coalesce(c.n, 0)
                FROM events e LEFT JOIN c ON c.user_id = e.user_id
                ORDER BY e.event_id LIMIT 500"""
        ).fetchall()
    }
    assert len(got) == 500
    for k in got:
        assert got[k] == want[k], (k, got[k], want[k])


@pytest.fixture(scope="module")
def es3(spark):
    """3-level chain customer <- orders <- lineitem with a UNIQUE
    lineitem index (the shared fixture's _li_id collides on duplicate
    (orderkey, linenumber) pairs in the synthetic data)."""
    from pyspark.sql import Window
    from featuretools_spark.entityset import EntitySet

    SF = "/root/testdata/sf0.001"
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy("l_orderkey", "l_linenumber",
                           "l_extendedprice", "l_quantity", "l_shipdate")
        ),
    )
    es = EntitySet("chain")
    es.add_dataframe("customer", customer, index="c_custkey")
    es.add_dataframe("orders", orders, index="o_orderkey",
                     time_index="o_orderdate")
    es.add_dataframe("lineitem", lineitem, index="rn",
                     time_index="l_shipdate")
    es.add_relationship("customer", "c_custkey", "orders", "o_custkey")
    es.add_relationship("orders", "o_orderkey", "lineitem", "l_orderkey")
    return es


def _chain_want(duck, expr, cut_expr, extra_from=""):
    """Expected grandparent value at the lineitem grain with per-hop
    point-in-time masks (reference _handle_time filters EVERY frame:
    a parent row from the future contributes NULL, entityset.py:1407)."""
    return {
        r[0]: r[1]
        for r in duck.execute(
            f"""SELECT li.rn, CASE WHEN li.l_shipdate <= {cut_expr}
                       AND o.o_orderdate <= {cut_expr}
                       THEN {expr} END AS v
                FROM (SELECT *, row_number() OVER (ORDER BY l_orderkey,
                          l_linenumber, l_extendedprice, l_quantity,
                          l_shipdate) AS rn FROM lineitem) li
                LEFT JOIN orders o ON o.o_orderkey = li.l_orderkey
                LEFT JOIN customer c ON c.c_custkey = o.o_custkey
                {extra_from}"""
        ).fetchall()
    }


def test_direct_chain_multihop_per_row(es3, duck):
    """Bare multi-hop direct (DFS step-6 wraps the parent's own direct
    features): customer.c_acctbal -> orders -> lineitem, at PER-ROW
    cutoffs, with the orders hop PIT-masked at its own time index.
    Round-3 verdict task #3: this exact shape raised before round 4."""
    acct = IdentityFeature(es3, "customer", "c_acctbal")
    d1 = DirectFeature(acct, "orders", es=es3)
    d2 = DirectFeature(d1, "lineitem", es=es3)
    assert d2.get_name() == "orders.customer.c_acctbal"
    # two distinct cutoffs split by row parity — genuinely per-row
    cuts = es3["lineitem"].select(
        "rn",
        F.when(F.col("rn") % 2 == 0,
               F.lit(dt.datetime(1995, 6, 1)))
        .otherwise(F.lit(dt.datetime(1996, 6, 1))).alias("time"),
    )
    fm = fts.calculate_feature_matrix([d2], es3, cutoff_time=cuts)
    got = {r["rn"]: r[d2.get_name()] for r in fm.collect()}
    cut_expr = ("CASE WHEN li.rn % 2 = 0 THEN TIMESTAMP '1995-06-01'"
                " ELSE TIMESTAMP '1996-06-01' END")
    want = _chain_want(duck, "c.c_acctbal", cut_expr)
    assert len(got) == len(want)
    for k, w in want.items():
        g = got[k]
        if w is None:
            assert g is None, (k, g)
        else:
            assert g is not None and abs(g - w) < 1e-9, (k, g, w)


def test_direct_chain_transform_scalar_and_per_row(es3, duck):
    """Transform-of-direct as a direct base (DFS step-7 output wrapped
    by the parent's step 6): ABSOLUTE(customer.c_acctbal) at the orders
    grain pulled down to lineitem — raised at BOTH scalar and per-row
    cutoffs before round 4."""
    from featuretools_spark.primitives import (
        get_transform_primitive as get_transform,
    )

    acct = IdentityFeature(es3, "customer", "c_acctbal")
    d1 = DirectFeature(acct, "orders", es=es3)
    t = TransformFeature(get_transform("absolute"), [d1])
    f = DirectFeature(t, "lineitem", es=es3)
    assert f.get_name() == "orders.ABSOLUTE(customer.c_acctbal)"
    cut = dt.datetime(1995, 6, 1)
    for label, cuts in [
        ("scalar", cut),
        ("per_row", es3["lineitem"].select(
            "rn", F.lit(cut).alias("time"))),
    ]:
        fm = fts.calculate_feature_matrix([f], es3, cutoff_time=cuts)
        got = {r["rn"]: r[f.get_name()] for r in fm.collect()}
        want = _chain_want(duck, "abs(c.c_acctbal)",
                           f"TIMESTAMP '{cut}'")
        assert len(got) == len(want), label
        for k, w in want.items():
            g = got[k]
            if w is None:
                assert g is None, (label, k, g)
            else:
                assert g is not None and abs(g - w) < 1e-9, (label, k, g, w)


def test_direct_chain_enumerated_by_dfs(es3):
    """DFS at depth 3 enumerates the multi-hop direct name and the
    engine computes every enumerated feature without raising."""
    from featuretools_spark.dfs import build_features

    feats = build_features(
        es3, target_dataframe_name="lineitem",
        agg_primitives=[], trans_primitives=[],
        ignore_columns={"lineitem": ["l_partkey", "l_suppkey", "l_tax",
                                     "l_returnflag", "l_linestatus",
                                     "l_quantity", "l_discount"],
                        "customer": ["c_name", "c_mktsegment"],
                        "orders": ["o_orderstatus", "o_orderpriority"]},
        max_depth=3)
    names = [f.get_name() for f in feats]
    assert "orders.customer.c_acctbal" in names
    fm = fts.calculate_feature_matrix(
        feats, es3, cutoff_time=dt.datetime(1995, 6, 1))
    assert fm.count() == es3["lineitem"].count()


def test_window_input_of_a_cutoff_transform_sees_the_whole_target(es, duck):
    """TIME_SINCE(LAG(o_orderdate)) at per-row cutoffs, two cutoffs per
    order: the lag runs over the whole orders table in time order, not
    over the cutoff rows, so each order reads the date of the order
    before it in the table at both of its cutoffs. An order placed
    after the cutoff reads null (the target-grain mask)."""
    lag = TransformFeature("lag", [IdentityFeature(es, "orders",
                                                   "o_orderdate")])
    since = TransformFeature("time_since", [lag])
    keys = [r[0] for r in es["orders"].select("o_orderkey")
            .orderBy("o_orderkey").limit(30).collect()]
    cuts = [dt.datetime(1997, 1, 1), dt.datetime(1999, 1, 1)]
    cutoff_time = es["orders"].sparkSession.createDataFrame(
        [(k, c) for k in keys for c in cuts],
        "o_orderkey long, time timestamp")
    rows = fts.calculate_feature_matrix([since], es,
                                        cutoff_time=cutoff_time).collect()
    want = {(k, c): v for k, c, v in duck.execute(
        """WITH o AS (SELECT o_orderkey, o_orderdate,
                             lag(o_orderdate) OVER (
                                 ORDER BY o_orderdate, o_orderkey) AS prev
                      FROM orders),
                c AS (SELECT UNNEST(?) AS t)
           SELECT o_orderkey, t,
                  CASE WHEN o_orderdate <= t
                       THEN epoch(t) - epoch(prev) END
           FROM o, c WHERE o_orderkey IN (SELECT UNNEST(?))""",
        [cuts, keys]).fetchall()}
    assert len(rows) == len(want) == 60
    assert sum(v is not None for v in want.values()) > 20
    for r in rows:
        w = want[(r["o_orderkey"], r["time"])]
        got = r[since.get_name()]
        assert got == pytest.approx(w) if w is not None else got is None, (
            r, w)


def test_feature_output_slice(es):
    et = IdentityFeature(es, "events", "event_type")
    prim = get_aggregation_primitive("n_most_common")
    prim.n = 2
    nmc = AggregationFeature(et, "users", prim, es=es)
    s0 = FeatureOutputSlice(nmc, 0)
    s1 = FeatureOutputSlice(nmc, 1)
    fm = fts.calculate_feature_matrix([s0, s1], es, cutoff_time=CUT)
    assert s0.get_name() in fm.columns and s1.get_name() in fm.columns
    row = fm.collect()[0]
    a, b = row[s0.get_name()], row[s1.get_name()]
    assert a is not None and b is not None and a != b
