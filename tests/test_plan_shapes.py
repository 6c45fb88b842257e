"""Plan-shape guards.

The curation ops are all PURE MAPS — their scale contract is zero
shuffle (beyond the optional ensure_min_width round-robin, which is a
no-op whenever the scan is already as wide as the session). A
regression that introduces an Exchange would silently turn a 100-TB
map job into a 100-TB shuffle, so pin the executed plan here.

The as-of evaluators are pure JVM: no plan crosses into Python, and
strategy="sortmerge" is one Exchange + one Sort under its running
windows, with no Aggregate. A scalar cutoff never runs the windows:
its plan is the join's whatever the strategy.

A depth-2 DFS at a scalar cutoff attaches its stacked inputs to the
child frame: no table joins itself on its own index. At per-row
cutoffs it reads each table once too."""
import datetime as dt
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark.asof import CUTOFF_COL, AggSpec, _asof_sortmerge
from featuretools_spark.datagen import make_sequences
from featuretools_spark.features import AggregationFeature, IdentityFeature
from featuretools_spark.ops.classify import classifier_score
from featuretools_spark.ops.split import hash_split, sample_by_hash
from featuretools_spark.ops.textstats import (
    WITNESS_BPE_MERGES,
    bpe_token_count,
)
from featuretools_spark.primitives import get_aggregation_primitive
from featuretools_spark.timedelta import Timedelta

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas")


def _wide_docs(spark):
    """A frame already at session width, so ensure_min_width no-ops
    and any Exchange in the plan is the op's own."""
    n = spark.sparkContext.defaultParallelism
    return (
        spark.range(0, 1000, 1, n)  # born at session width, no Exchange
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("some text body "),
                     F.col("id").cast("string")).alias("text"),
        )
    )


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bpe_token_count_is_shuffle_free(spark):
    plan = _executed(
        bpe_token_count(_wide_docs(spark), "doc_id", "text",
                        WITNESS_BPE_MERGES))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_classifier_witness_mode_is_shuffle_free(spark):
    # r8: the default witness path moved the (exact, order-free)
    # md5-weight fold into ONE Arrow-batched UDF — still zero-shuffle,
    # tokenization and sigmoid/rounding still JVM expressions; the
    # pure-codegen fold remains available behind fast_witness=False
    plan = _executed(
        classifier_score(_wide_docs(spark), "doc_id", "text"))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_classifier_witness_fast_and_expr_paths_agree(spark):
    fast = classifier_score(_wide_docs(spark), "doc_id", "text",
                            bias=0.25)
    slow = classifier_score(_wide_docs(spark), "doc_id", "text",
                            bias=0.25, fast_witness=False)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    plan = _executed(slow)
    # the expression path stays pure codegen — no Python at all
    assert "EvalPython" not in plan


def test_classifier_weights_mode_is_shuffle_free(spark):
    plan = _executed(
        classifier_score(_wide_docs(spark), "doc_id", "text",
                         weights=np.ones(32)))
    assert "Exchange" not in plan


def test_hash_split_and_sample_are_shuffle_free_codegen(spark):
    df = _wide_docs(spark)
    for out in (
        hash_split(df, "doc_id",
                   [("train", 0.75), ("val", 0.125), ("test", 0.125)]),
        sample_by_hash(df, "doc_id", 0.3),
    ):
        plan = _executed(out)
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


def _nodes(df):
    """Operator names of the executed plan, top-down."""
    return re.findall(r"^[\s:+-]*(\w+)", _executed(df), re.M)


@pytest.fixture(scope="module")
def asof_inputs(spark):
    seqs = make_sequences(spark, n_rows=300, n_entities=10)
    t = dt.datetime(2024, 2, 1)
    # a local cutoff table: its plan adds no Exchange of its own
    cuts = spark.createDataFrame(
        [(f"e{i:05d}", t + dt.timedelta(days=d))
         for i in range(10) for d in (0, 20)],
        f"entity_id string, {CUTOFF_COL} timestamp")
    return seqs, cuts


def _specs(*names):
    return [AggSpec(p, get_aggregation_primitive(p),
                    [] if p in ("count", "time_since_last") else ["n_tok"])
            for p in names]


def _seq_feats(seqs, *names, **kw):
    """The EntitySet over seqs (no parent time index) and one
    aggregation per primitive name, of n_tok or (time_since_last) of
    the event time."""
    es = fts.EntitySet("asof_inputs")
    es.add_dataframe("entities", seqs.select("entity_id").distinct(),
                     index="entity_id")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    col = {p: "event_time" if p == "time_since_last" else "n_tok"
           for p in names}
    return es, [AggregationFeature(IdentityFeature(es, "sequences", col[p]),
                                   "entities", p, es=es, **kw)
                for p in names]


WINDOWED = ("count", "sum", "mean", "std", "last", "time_since_last")


@pytest.mark.parametrize("case", ["unbounded", "30 days",
                                  "30 days with max", "5 observations",
                                  "trend"])
def test_sortmerge_asof_plan_shape(spark, asof_inputs, case):
    """No sortmerge as-of plan crosses into Python. Its running windows
    sit on exactly one Exchange and one Sort, with no Exchange above
    them and no Aggregate. A bounded call and last-N route to the join
    path (no marker Union)."""
    seqs, cuts = asof_inputs
    bounded = {
        "30 days": (WINDOWED, dict(training_window="30 days"), {}),
        "30 days with max": ((*WINDOWED, "max"),
                             dict(training_window="30 days"), {}),
        "5 observations": (WINDOWED, {},
                           dict(use_previous="5 observations")),
    }
    if case in bounded:
        names, kw, feat_kw = bounded[case]
        es, feats = _seq_feats(seqs, *names, **feat_kw)
        out = fts.calculate_feature_matrix(
            feats, es, cutoff_time=cuts, strategy="sortmerge", **kw)
    else:
        specs = (_specs(*WINDOWED, "min", "first") if case == "unbounded"
                 else _specs("trend", "count"))
        out = _asof_sortmerge(seqs, "entity_id", "event_time", cuts,
                              "entity_id", specs, CUTOFF_COL, True)
    nodes = _nodes(out)
    for node in PYTHON_NODES:
        assert node not in nodes, node
    if case in bounded:
        assert "Union" not in nodes
        assert len(out.collect()) == cuts.count()
        return
    windows = [i for i, n in enumerate(nodes) if n == "Window"]
    exchanges = [i for i, n in enumerate(nodes) if n == "Exchange"]
    sorts = [i for i, n in enumerate(nodes) if n == "Sort"]
    assert len(windows) == (2 if case == "trend" else 1)
    assert len(sorts) == 1 and sorts[0] > windows[-1]
    below = [i for i in exchanges if i > sorts[0]]
    above = [i for i in exchanges if i < windows[0]]
    assert len(below) == 1
    assert not above
    assert not any("Aggregate" in n for n in nodes)
    assert len(out.collect()) == cuts.count()


def _normalized_plan(df) -> str:
    """The optimized plan with expression ids and the engine's
    per-call column counters cut out."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"_ft_(u|hop|m)\d+", r"_ft_\1", plan)


def test_scalar_cutoff_never_runs_the_running_windows(spark, asof_inputs):
    """At a scalar cutoff strategy="sortmerge" changes nothing: the
    optimized plan is the join's, string for string, with no marker
    Union and no Window, and the values are equal."""
    seqs, _ = asof_inputs
    es, feats = _seq_feats(seqs, "count", "sum", "mean", "std",
                           "time_since_last")
    t = dt.datetime(2024, 2, 10)
    join = fts.calculate_feature_matrix(feats, es, cutoff_time=t)
    want = _normalized_plan(join)
    assert "Union" not in want and "Window" not in want
    rows = {r["entity_id"]: r for r in join.collect()}
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=t,
                                      strategy="sortmerge")
    assert _normalized_plan(fm) == want
    assert {r["entity_id"]: r for r in fm.collect()} == rows


def test_sortmerge_matrix_has_no_python_node(spark, hot_seq_es):
    es, cuts, feats = hot_seq_es
    nodes = _nodes(fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, strategy="sortmerge"))
    for node in PYTHON_NODES:
        assert node not in nodes, node
    assert "Window" in nodes


def test_strategy_auto_routes_to_pure_jvm_join(spark, es):
    """strategy="auto" must produce the join path's pure-JVM plan (no
    Python stages) for plain aggregations. Unknown strategy names
    raise."""
    val = IdentityFeature(es, "events", "value")
    agg = AggregationFeature(val, "users", "sum", es=es)
    fm = fts.calculate_feature_matrix(
        [agg], es, cutoff_time=dt.datetime(2024, 3, 1), strategy="auto")
    nodes = _nodes(fm)
    for node in PYTHON_NODES:
        assert node not in nodes, node
    assert fm.count() > 0

    with pytest.raises(ValueError, match="unknown strategy"):
        fts.calculate_feature_matrix(
            [agg], es, cutoff_time=dt.datetime(2024, 3, 1),
            strategy="hash")


def test_strategy_auto_runs_the_join_plan(spark, hot_seq_es):
    """strategy="auto" is "join", decided from the call's arguments: a
    per-row build runs exactly as many Spark jobs as strategy="join"
    (no count of the cutoff table) and leaves the session's shuffle
    width as it found it."""
    es, cuts, feats = hot_seq_es
    sc = spark.sparkContext
    width = spark.conf.get("spark.sql.shuffle.partitions")

    def jobs(strategy, group):
        sc.setJobGroup(group, group)
        try:
            fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                         strategy=strategy).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("join", "strategy-warm")     # fixture caches fill here
    n_join = jobs("join", "strategy-join")
    assert n_join > 0
    assert jobs("auto", "strategy-auto") == n_join
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def _plan_nodes(jplan) -> list:
    """Every node of a JVM logical plan."""
    todo, out = [jplan], []
    while todo:
        n = todo.pop()
        out.append(n)
        ch = n.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


_TPCH_PREFIX = {"l_": "lineitem", "o_": "orders", "c_": "customer",
                "n_": "nation"}


def _relations(jplan) -> list:
    """Tables of the parquet relations under a plan node, named by their
    TPC-H column prefix."""
    return [_TPCH_PREFIX[n.output().apply(0).name()[:2]]
            for n in _plan_nodes(jplan) if n.nodeName() == "LogicalRelation"]


def test_depth2_dfs_scalar_plan_has_no_self_join(spark, es, monkeypatch):
    """At a scalar cutoff a stacked input (MEAN(orders.SUM(lineitem.x)),
    SUM(lineitem.orders.o_totalprice)) is one join onto the child
    frame: a per-key aggregate on the table index, or the parent's
    columns on the foreign key. calculate_feature_matrix runs once (no
    sub-matrix per stacked input), nothing is persisted, no join of
    lineitem or orders with itself on its own index is left in the
    optimized plan. The deep-path aggregations (SUM(lineitem.x),
    SUM(lineitem.orders.o_totalprice)) roll up from partials that ride
    the orders-grain groupBy of the stacked aggregations, and the
    target's own features ride the key frame, so lineitem, orders and
    customer are each read once."""
    from featuretools_spark import cfm

    # every call through the module's entry point counts, this one and
    # any a stacked input would make
    calls = []
    engine = cfm.calculate_feature_matrix
    monkeypatch.setattr(
        cfm, "calculate_feature_matrix",
        lambda *a, **kw: calls.append(1) or engine(*a, **kw))
    feats = fts.dfs(
        entityset=es, target_dataframe_name="customer", features_only=True,
        agg_primitives=["sum", "mean", "count"], trans_primitives=[],
        ignore_columns={
            "lineitem": ["l_partkey", "l_suppkey", "l_linenumber", "l_tax",
                         "l_returnflag", "l_linestatus"],
            "customer": ["c_name", "c_nationkey"],
        },
        max_depth=2)
    fm = cfm.calculate_feature_matrix(feats, es,
                                      cutoff_time=dt.datetime(1998, 1, 1))
    assert len(calls) == 1
    plan = fm._jdf.queryExecution().optimizedPlan()
    nodes = _plan_nodes(plan)
    assert "InMemoryRelation" not in {n.nodeName() for n in nodes}
    for n in nodes:
        if n.nodeName() != "Join" or not n.condition().isDefined():
            continue
        cond = n.condition().get().toString()
        for table, index in (("lineitem", "_li_id"), ("orders", "o_orderkey")):
            if re.search(rf"\b{index}#\d+L? = {index}#\d+", cond):
                sides = [_relations(n.children().apply(i)) for i in (0, 1)]
                assert not all(table in side for side in sides), cond
    rels = _relations(plan)
    assert rels.count("lineitem") == 1, rels
    assert rels.count("orders") <= 1, rels
    assert rels.count("customer") == 1, rels


def test_depth3_dfs_scalar_plan_reads_lineitem_once(spark):
    """The registered dfs_depth3 query (36 features over nation <-
    customer <- orders <- lineitem at a scalar cutoff) folds its deep
    paths one hop at a time: lineitem is read once, orders once."""
    import __spark_entry__ as entry
    from conftest import SF_DIR

    out = entry.q_dfs_depth3(spark, SF_DIR)
    rels = _relations(out._jdf.queryExecution().optimizedPlan())
    assert rels.count("lineitem") == 1, rels
    assert rels.count("orders") == 1, rels


def test_depth2_dfs_per_row_plan_reads_each_table_once(spark, es):
    """Per-row cutoffs take the scalar path's plan: the (customer,
    cutoff) key set joins down customer <- orders <- lineitem once, and
    the stacked aggregation (MEAN(orders.SUM(lineitem.x))), the stacked
    direct (SUM(lineitem.orders.o_totalprice)) and a direct of an
    aggregation (SUM(lineitem.orders.COUNT(lineitem))) attach per
    (key, cutoff) to that one join. Executed, the plan scans customer,
    orders and lineitem once each, and its values equal the scalar
    cutoff's."""
    from featuretools_spark.features import AggregationFeature, DirectFeature

    feats = fts.dfs(
        entityset=es, target_dataframe_name="customer", features_only=True,
        agg_primitives=["sum", "mean", "count"], trans_primitives=[],
        ignore_columns={
            "lineitem": ["l_partkey", "l_suppkey", "l_linenumber", "l_tax",
                         "l_returnflag", "l_linestatus"],
            "customer": ["c_name", "c_nationkey"],
        },
        max_depth=2)
    count = AggregationFeature(IdentityFeature(es, "lineitem", "_li_id"),
                               "orders", "count", es=es)
    feats.append(AggregationFeature(DirectFeature(count, "lineitem", es=es),
                                    "customer", "sum", es=es))
    names = [f.get_name() for f in feats]
    assert "MEAN(orders.SUM(lineitem.l_quantity))" in names
    assert "SUM(lineitem.orders.o_totalprice)" in names
    t = dt.datetime(1998, 1, 1)
    # a local cutoff table: customer is scanned for its features only
    cuts = spark.createDataFrame(
        [(r[0], t) for r in es["customer"].select("c_custkey").collect()],
        "c_custkey long, time timestamp")
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts)
    have = {r["c_custkey"]: r for r in fm.collect()}
    final = _executed(fm).split("== Initial Plan ==")[0]
    for table in ("customer", "orders", "lineitem"):
        scans = re.findall(rf"FileScan parquet [^\n]*/{table}\.parquet\]",
                           final)
        assert len(scans) == 1, (table, final)
    want = fts.calculate_feature_matrix(feats, es, cutoff_time=t).collect()
    assert len(want) == len(have) == 150
    for w in want:
        for c in names:
            x, y = w[c], have[w["c_custkey"]][c]
            if x is None or y is None or isinstance(x, str):
                assert x == y, (c, x, y)
            else:
                assert abs(x - y) <= 1e-9 * max(1.0, abs(x)), (c, x, y)


@pytest.mark.parametrize("form", ["scalar", "per_row"])
def test_timed_target_and_cutoff_rows_are_read_once(spark, es, duck, form,
                                                    tmp_path):
    """A target with a time index and a parent (orders) is read once
    for its own feature, a direct of its parent and an aggregation of
    its children, at both cutoff forms: one key frame carries the
    target's columns. Per-row cutoffs stored as parquet with a pass
    column are read once too, the label riding the aggregation. The
    values match DuckDB's, the target-grain mask included (an order
    placed after the cutoff reads null, null and 0)."""
    from featuretools_spark.features import DirectFeature

    t = dt.datetime(1995, 1, 1)
    feats = [IdentityFeature(es, "orders", "o_totalprice"),
             DirectFeature(IdentityFeature(es, "customer", "c_acctbal"),
                           "orders", es=es),
             AggregationFeature(IdentityFeature(es, "lineitem", "l_quantity"),
                                "orders", "sum", es=es)]
    keys = [r[0] for r in es["orders"].select("o_orderkey")
            .orderBy("o_orderkey").limit(200).collect()]
    if form == "scalar":
        fm = fts.calculate_feature_matrix(feats, es, cutoff_time=t,
                                          instance_ids=keys)
    else:
        path = str(tmp_path / "cutoffs")
        spark.createDataFrame(
            [(k, t, f"k{k}") for k in keys],
            "o_orderkey long, time timestamp, label string",
        ).write.parquet(path)
        fm = fts.calculate_feature_matrix(
            feats, es, cutoff_time=spark.read.parquet(path))
    rows = fm.collect()
    final = _executed(fm).split("== Initial Plan ==")[0]
    scans = re.findall(r"FileScan parquet [^\n]*/orders\.parquet\]", final)
    assert len(scans) == 1, final
    if form == "per_row":
        # the scan's location is cut short in the plan text: find the
        # cutoff file by the label column it reads
        cut_scans = re.findall(r"FileScan parquet \[[^\]]*\blabel#", final)
        assert len(cut_scans) == 1, final
        assert all(r["label"] == f"k{r['o_orderkey']}" for r in rows)
    want = {r[0]: r[1:] for r in duck.execute(
        """SELECT o.o_orderkey,
                  CASE WHEN o.o_orderdate <= ? THEN o.o_totalprice END,
                  CASE WHEN o.o_orderdate <= ? THEN c.c_acctbal END,
                  CASE WHEN o.o_orderdate <= ? THEN COALESCE(
                      (SELECT SUM(l.l_quantity) FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate <= ?), 0) ELSE 0 END
           FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
           WHERE o.o_orderkey IN (SELECT UNNEST(?))""",
        [t, t, t, t, keys]).fetchall()}
    names = [f.get_name() for f in feats]
    assert len(rows) == len(want) == 200
    assert any(w[0] is None for w in want.values())
    for r in rows:
        got = tuple(r[n] for n in names)
        assert got == pytest.approx(want[r["o_orderkey"]], rel=1e-12), (
            r["o_orderkey"], got, want[r["o_orderkey"]])
