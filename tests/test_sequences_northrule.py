"""North-rule tests on the BASELINE.json target table shape:
zero temporal leakage, token-array pass-through equality,
partitioning invariance, include_cutoff_time semantics — and the as-of
evaluators (scalar, join, sortmerge running windows) agreeing on
windows, last-N, empty windows, trend precision and NaN; one
result schema whichever strategy runs, and the grouped-kernel shuffle
width (cfm._kernel_nparts). Also the cutoff helpers: temporal cutoffs
(time_utils) and approximate binning."""

import datetime as dt
import math
import re

import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark import cfm
from featuretools_spark.datagen import make_cutoffs, make_entities, make_sequences
from featuretools_spark.features import (
    AggregationFeature,
    IdentityFeature,
    TransformFeature,
)
from featuretools_spark.primitives.transform import GreaterThanScalar
from featuretools_spark.time_utils import make_temporal_cutoffs
from featuretools_spark.timedelta import Timedelta


@pytest.fixture(scope="module")
def seq_es(spark):
    seqs = make_sequences(spark, n_rows=2000, n_entities=50).cache()
    ents = make_entities(seqs)
    es = fts.EntitySet("seq")
    es.add_dataframe("entities", ents, index="entity_id",
                     time_index="first_seen")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    return es, seqs


@pytest.fixture(scope="module")
def seq_es_untimed(seq_es):
    """seq_es with a parent that has no time index. With one and no
    last time index, the target-grain PIT mask defaults nearly every
    windowed row, and evaluators would only be compared on defaults."""
    _, seqs = seq_es
    es = fts.EntitySet("seq_untimed")
    es.add_dataframe("entities", make_entities(seqs).drop("first_seen"),
                     index="entity_id")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    return es, seqs


def _feats(es):
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    did = IdentityFeature(es, "sequences", "doc_id")
    return [
        AggregationFeature(did, "entities", "count", es=es),
        AggregationFeature(n_tok, "entities", "sum", es=es),
        AggregationFeature(n_tok, "entities", "mean", es=es),
        AggregationFeature(
            IdentityFeature(es, "sequences", "event_time"),
            "entities", "time_since_last", es=es,
        ),
    ]


def _fm_dict(fm, cols):
    return {
        (r["entity_id"], r["time"]): tuple(r[c] for c in cols)
        for r in fm.collect()
    }


def test_zero_leakage_future_perturbation(spark, seq_es):
    """Perturbing every row AFTER its entity's cutoff must not change
    the feature matrix."""
    es, seqs = seq_es
    cuts = make_cutoffs(spark, seqs, per_entity=2)
    feats = _feats(es)
    cols = [f.get_name() for f in feats]
    fm1 = _fm_dict(fts.calculate_feature_matrix(feats, es, cutoff_time=cuts), cols)

    # perturb: multiply n_tok by 1000 for rows strictly after the max cutoff
    max_cut = cuts.agg(F.min("time")).collect()[0][0]
    seqs2 = seqs.withColumn(
        "n_tok",
        F.when(F.col("event_time") > F.lit(max_cut), F.col("n_tok") * 1000)
        .otherwise(F.col("n_tok")),
    )
    es2 = fts.EntitySet("seq2")
    es2.add_dataframe("entities", make_entities(seqs), index="entity_id",
                      time_index="first_seen")
    es2.add_dataframe("sequences", seqs2, index="doc_id",
                      time_index="event_time")
    es2.add_relationship("entities", "entity_id", "sequences", "entity_id")
    cuts_early = cuts.filter(F.col("time") <= F.lit(max_cut))
    feats2 = _feats(es2)
    fm2 = _fm_dict(
        fts.calculate_feature_matrix(feats2, es2, cutoff_time=cuts_early), cols
    )
    fm1_early = {k: v for k, v in fm1.items() if k[1] <= max_cut}
    assert fm1_early == fm2


def test_partitioning_invariance(spark, seq_es):
    """Same matrix regardless of input partitioning (shuffle-invariance:
    integer sums + exact aggs are order-independent)."""
    es, seqs = seq_es
    cuts = make_cutoffs(spark, seqs, per_entity=2)
    feats = _feats(es)
    cols = [f.get_name() for f in feats]
    fm1 = _fm_dict(fts.calculate_feature_matrix(feats, es, cutoff_time=cuts), cols)

    es2 = fts.EntitySet("seq3")
    es2.add_dataframe("entities", make_entities(seqs), index="entity_id",
                      time_index="first_seen")
    es2.add_dataframe("sequences", seqs.repartition(17), index="doc_id",
                      time_index="event_time")
    es2.add_relationship("entities", "entity_id", "sequences", "entity_id")
    fm2 = _fm_dict(
        fts.calculate_feature_matrix(_feats(es2), es2, cutoff_time=cuts), cols
    )
    assert fm1 == fm2


def test_include_cutoff_time_semantics(spark, seq_es):
    """A cutoff placed exactly at an event time includes that event iff
    include_cutoff_time=True (reference _handle_time semantics)."""
    es, seqs = seq_es
    one = seqs.orderBy("doc_id").limit(1).collect()[0]
    cuts = spark.createDataFrame(
        [(one["entity_id"], one["event_time"])], "entity_id string, time timestamp"
    )
    feats = _feats(es)[:1]  # COUNT(sequences)
    inc = fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, include_cutoff_time=True
    ).collect()[0]["COUNT(sequences)"]
    exc = fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, include_cutoff_time=False
    ).collect()[0]["COUNT(sequences)"]
    assert inc == exc + 1


def test_token_passthrough_equality(spark, seq_es):
    """tokens array<int32> must survive the pipeline byte-identically:
    join features back onto sequence rows and compare token arrays +
    dtypes with the originals."""
    es, seqs = seq_es
    cuts = make_cutoffs(spark, seqs, per_entity=2)
    feats = _feats(es)[:2]
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts)
    enriched = seqs.join(
        fm.select("entity_id", "time", F.col("COUNT(sequences)").alias("cnt")),
        on=(seqs["entity_id"] == fm["entity_id"]),
        how="left",
    )
    # schema: tokens stays array<int>
    field = dict(zip(enriched.schema.names, enriched.schema.fields))["tokens"]
    assert field.dataType.simpleString() == "array<int>"
    orig = {r["doc_id"]: r["tokens"] for r in seqs.collect()}
    got = {}
    for r in enriched.select(seqs["doc_id"], "tokens").distinct().collect():
        got[r["doc_id"]] = r["tokens"]
    assert orig == got


def test_nullable_agg_output_types(spark, seq_es):
    """Reference promotes pandas dtypes to nullable (Int64/boolean)
    when NULLs appear in agg outputs (calculate_feature_matrix.py:
    906-931). The Spark-native equivalent: every agg output column is
    a NULLABLE Spark type and integer aggregates KEEP their integral
    type when a group is empty (NULL, never NaN-upcast-to-double)."""
    es, seqs = seq_es
    # a cutoff before everything -> every group empty at that cutoff
    cuts = spark.createDataFrame(
        [("e00001", dt.datetime(2000, 1, 1)),
         ("e00001", dt.datetime(2030, 1, 1))],
        "entity_id string, time timestamp",
    )
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    feats = [
        AggregationFeature(n_tok, "entities", "sum", es=es),
        AggregationFeature(n_tok, "entities", "max", es=es),
        AggregationFeature(
            IdentityFeature(es, "sequences", "doc_id"), "entities",
            "count", es=es),
    ]
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts)
    types = {f.name: (f.dataType.simpleString(), f.nullable)
             for f in fm.schema.fields}
    assert types["SUM(sequences.n_tok)"][0] == "bigint"
    assert types["MAX(sequences.n_tok)"][0] == "int"
    assert types["COUNT(sequences)"][0] == "bigint"
    # aggregates without a default fill stay NULLABLE (the analog of
    # the reference's Int64 promotion); defaulted ones (sum/count ->
    # 0) may be non-null — that IS the default semantics
    assert types["MAX(sequences.n_tok)"][1]
    rows = {r["time"].year: r for r in fm.collect()}
    assert rows[2000]["MAX(sequences.n_tok)"] is None  # NULL, not NaN
    assert rows[2000]["COUNT(sequences)"] == 0         # count default
    assert rows[2000]["SUM(sequences.n_tok)"] == 0     # sum default
    assert rows[2030]["MAX(sequences.n_tok)"] is not None


def _assert_close(a, b):
    assert set(a) == set(b)
    bad = []
    for k in a:
        for x, y in zip(a[k], b[k]):
            if x is None or y is None:
                if x != y:
                    bad.append((k, a[k], b[k]))
            elif abs(float(x) - float(y)) > 1e-6:
                bad.append((k, a[k], b[k]))
    assert not bad, bad[:5]


@pytest.mark.parametrize("include_cutoff", [True, False])
@pytest.mark.parametrize("window", [None, "3 days"])
def test_sortmerge_matches_join_windows(spark, seq_es_untimed,
                                       include_cutoff, window):
    """sortmerge parity across the 4 window-boundary modes: the marker
    tiebreak must reproduce _pit_mask exactly, and a bounded
    sortmerge call (routed to the join path) must equal join."""
    es, seqs = seq_es_untimed
    cuts = make_cutoffs(spark, seqs, per_entity=3)
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    did = IdentityFeature(es, "sequences", "doc_id")
    src = IdentityFeature(es, "sequences", "source")
    feats = [
        AggregationFeature(did, "entities", "count", es=es),
        AggregationFeature(n_tok, "entities", "sum", es=es),
        AggregationFeature(n_tok, "entities", "std", es=es),
        AggregationFeature(n_tok, "entities", "min", es=es),
        AggregationFeature(n_tok, "entities", "max", es=es),
        AggregationFeature(n_tok, "entities", "trend", es=es),
        # routed to the join strategy inside strategy='sortmerge'
        AggregationFeature(n_tok, "entities", "median", es=es),
        AggregationFeature(src, "entities", "num_unique", es=es),
        # where-clause through the running-window mask path
        AggregationFeature(n_tok, "entities", "sum", es=es,
                           where=(src == "web")).rename("sum_web"),
    ]
    cols = [f.get_name() for f in feats]
    kw = dict(cutoff_time=cuts, include_cutoff_time=include_cutoff,
              training_window=window)
    a = _fm_dict(fts.calculate_feature_matrix(feats, es, strategy="join",
                                              **kw), cols)
    b = _fm_dict(fts.calculate_feature_matrix(feats, es, strategy="sortmerge",
                                              **kw), cols)
    _assert_close(a, b)
    # many windows hold events: the comparison is not one of defaults
    assert sum(v[0] > 0 for v in a.values()) > len(a) / 4


@pytest.mark.parametrize("window", [None, "3 days"])
def test_sortmerge_matches_join_including_trend(spark, seq_es_untimed,
                                                window):
    """Every primitive the running windows compute, trend and the
    boolean reducers included, unbounded (the running windows) and
    windowed (routed to the join path): results must equal the join
    strategy to 1e-9."""
    es, seqs = seq_es_untimed
    cuts = make_cutoffs(spark, seqs, per_entity=3)
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    did = IdentityFeature(es, "sequences", "doc_id")
    ts = IdentityFeature(es, "sequences", "event_time")
    feats = [
        AggregationFeature(did, "entities", "count", es=es),
        AggregationFeature(n_tok, "entities", "sum", es=es),
        AggregationFeature(n_tok, "entities", "mean", es=es),
        AggregationFeature(n_tok, "entities", "std", es=es),
        AggregationFeature(n_tok, "entities", "min", es=es),
        AggregationFeature(n_tok, "entities", "max", es=es),
        AggregationFeature(n_tok, "entities", "first", es=es),
        AggregationFeature(n_tok, "entities", "last", es=es),
        AggregationFeature(n_tok, "entities", "trend", es=es),
        AggregationFeature(n_tok, "entities", "variance", es=es),
        AggregationFeature(ts, "entities", "time_since_last", es=es),
        AggregationFeature(ts, "entities", "time_since_first", es=es),
        AggregationFeature(ts, "entities", "first_last_time_delta", es=es),
        AggregationFeature(ts, "entities", "avg_time_between", es=es),
    ]
    # boolean reducers
    big = TransformFeature(GreaterThanScalar(value=256), [n_tok])
    feats += [
        AggregationFeature(big, "entities", "num_true", es=es),
        AggregationFeature(big, "entities", "percent_true", es=es),
        AggregationFeature(big, "entities", "any", es=es),
        AggregationFeature(big, "entities", "all", es=es),
    ]
    cols = [f.get_name() for f in feats]
    kw = dict(cutoff_time=cuts, training_window=window)
    a = _fm_dict(fts.calculate_feature_matrix(
        feats, es, strategy="join", **kw), cols)
    b = _fm_dict(fts.calculate_feature_matrix(
        feats, es, strategy="sortmerge", **kw), cols)
    _assert_close_rel(a, b)
    assert sum(v[0] > 0 for v in a.values()) > len(a) / 4


def test_sortmerge_matches_join_n_observations(spark, seq_es):
    """use_previous='N observations' routes sortmerge to the join
    path's row_number clamp: must equal the join strategy."""
    es, seqs = seq_es
    cuts = make_cutoffs(spark, seqs, per_entity=3)
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    feats = [
        AggregationFeature(n_tok, "entities", "sum", es=es,
                           use_previous="5 observations"),
        AggregationFeature(n_tok, "entities", "mean", es=es,
                           use_previous="5 observations"),
        AggregationFeature(n_tok, "entities", "median", es=es,
                           use_previous="5 observations"),
    ]
    cols = [f.get_name() for f in feats]
    a = _fm_dict(fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                              strategy="join"), cols)
    b = _fm_dict(fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                              strategy="sortmerge"), cols)
    _assert_close(a, b)


def test_sortmerge_matches_join_on_sequences(spark, seq_es):
    es, seqs = seq_es
    cuts = make_cutoffs(spark, seqs, per_entity=3)
    feats = _feats(es)
    cols = [f.get_name() for f in feats]
    a = _fm_dict(
        fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                     strategy="join"), cols)
    b = _fm_dict(
        fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                     strategy="sortmerge"), cols)
    assert set(a) == set(b)
    bad = []
    for k in a:
        for x, y in zip(a[k], b[k]):
            if x is None or y is None:
                if x != y:
                    bad.append((k, a[k], b[k]))
            elif abs(float(x) - float(y)) > 1e-6:
                bad.append((k, a[k], b[k]))
    assert not bad, bad[:5]


def _assert_close_rel(a, b):
    assert a.keys() == b.keys()
    for k in a:
        for x, y in zip(a[k], b[k]):
            if x is None or y is None:
                assert x == y, (k, x, y)
            elif isinstance(x, float):
                assert x == pytest.approx(y, rel=1e-9, abs=1e-9) or (
                    math.isnan(x) and math.isnan(y)), (k, x, y)
            else:
                assert x == y, (k, x, y)


@pytest.mark.parametrize("window", [None, "30 days"])
def test_sortmerge_matches_join_all_primitives(spark, hot_seq_es, window):
    """Every running-window primitive (and a where-masked count) on a
    hot-entity input: sortmerge, unbounded (the running windows) and
    windowed (routed to the join path), equals the join strategy to
    1e-9."""
    es, cuts, feats = hot_seq_es
    cols = [f.get_name() for f in feats]
    kw = dict(cutoff_time=cuts, training_window=window)
    a = _fm_dict(fts.calculate_feature_matrix(
        feats, es, strategy="join", **kw), cols)
    b = _fm_dict(fts.calculate_feature_matrix(
        feats, es, strategy="sortmerge", **kw), cols)
    _assert_close_rel(a, b)


@pytest.fixture(scope="module")
def plain_es(spark):
    """sequences child, parent WITHOUT a time index (so no target-grain
    PIT mask can hide strategy disagreements)."""
    seqs = make_sequences(spark, n_rows=400, n_entities=8).cache()
    ents = make_entities(seqs).drop("first_seen")
    es = fts.EntitySet("plain")
    es.add_dataframe("entities", ents, index="entity_id")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    return es, seqs, ents


def _per_row_cutoffs(spark, ents, base, step_ms=7):
    ids = [r["entity_id"] for r in ents.select("entity_id").collect()]
    return spark.createDataFrame(
        [(e, base + dt.timedelta(milliseconds=step_ms * i))
         for i, e in enumerate(ids)],
        "entity_id string, time timestamp",
    )


def test_count_zero_on_empty_window_all_strategies(spark, plain_es):
    """COUNT with pruned inputs must return 0 (not 1) when the entity
    exists but no child row qualifies: the join path's LEFT join
    null-extended row must not be counted."""
    es, seqs, ents = plain_es
    tmin = seqs.agg(F.min("event_time")).collect()[0][0]
    # distinct per-row cutoffs 1s after the earliest event with a 1ms
    # training window: every window is empty, every entity pre-exists
    cuts = _per_row_cutoffs(spark, ents, tmin + dt.timedelta(seconds=1))
    did = IdentityFeature(es, "sequences", "doc_id")
    ntok = IdentityFeature(es, "sequences", "n_tok")
    feats = [
        AggregationFeature(did, "entities", "count", es=es),
        AggregationFeature(ntok, "entities", "sum", es=es),
    ]
    for strat in ("join", "sortmerge"):
        fm = fts.calculate_feature_matrix(
            feats, es, cutoff_time=cuts,
            training_window=Timedelta(0.001, "s"), strategy=strat,
        )
        ccol = [c for c in fm.columns if "COUNT" in c.upper()][0]
        vals = [r[ccol] for r in fm.collect()]
        assert vals and all(v == 0 for v in vals), (strat, vals)


def test_masked_count_string_index_sortmerge(spark, plain_es):
    """A WHERE-masked COUNT whose input is the (string) child index
    survives strategy='sortmerge': the running window counts mask hits,
    never the casted value column."""
    es, seqs, ents = plain_es
    tmax = seqs.agg(F.max("event_time")).collect()[0][0]
    cuts = _per_row_cutoffs(spark, ents, tmax + dt.timedelta(seconds=1))
    did = IdentityFeature(es, "sequences", "doc_id")
    ntok = IdentityFeature(es, "sequences", "n_tok")
    wh = TransformFeature(GreaterThanScalar(value=30), [ntok])
    cntw = AggregationFeature(did, "entities", "count", es=es, where=wh)
    res = {}
    for strat in ("join", "sortmerge"):
        fm = fts.calculate_feature_matrix([cntw], es, cutoff_time=cuts,
                                          strategy=strat)
        ccol = [c for c in fm.columns if "COUNT" in c.upper()][0]
        res[strat] = sorted((r["entity_id"], float(r[ccol]))
                            for r in fm.collect())
    assert res["join"] == res["sortmerge"]
    assert any(v > 0 for _, v in res["join"])  # mask actually selects rows


def test_trend_subhour_window_kernel(spark):
    """sortmerge TREND must not zero out sub-hour windows: its x sums
    run on seconds from the entity's first row, so varx keeps
    window-span precision (raw epoch seconds lose it)."""
    # 10 events 37s apart (~6 min span), exact slope 2.0/s; the first
    # timestamp is NOT minute-aligned so the reference unit dividend = 1
    t0 = dt.datetime(2024, 5, 1, 13, 7, 11)
    rows = [
        (f"d{i}", "e1", t0 + dt.timedelta(seconds=37 * i),
         2.0 * 37 * i + 5.0)
        for i in range(10)
    ]
    child = spark.createDataFrame(
        rows, "doc_id string, entity_id string, event_time timestamp, "
              "val double")
    ents = spark.createDataFrame([("e1",)], "entity_id string")
    es = fts.EntitySet("trend")
    es.add_dataframe("entities", ents, index="entity_id")
    es.add_dataframe("sequences", child, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    tr = AggregationFeature(
        IdentityFeature(es, "sequences", "val"), "entities", "trend", es=es)
    cuts = spark.createDataFrame(
        [("e1", t0 + dt.timedelta(hours=1)),
         ("e1", t0 + dt.timedelta(hours=2))],
        "entity_id string, time timestamp")
    fm = fts.calculate_feature_matrix([tr], es, cutoff_time=cuts,
                                      strategy="sortmerge")
    tcol = [c for c in fm.columns if "TREND" in c.upper()][0]
    vals = [r[tcol] for r in fm.collect()]
    assert len(vals) == 2
    for v in vals:
        assert v == pytest.approx(2.0, rel=1e-9), vals


def test_nan_is_skipped_on_every_path(spark):
    """NaN in a double value column is skipped like a null, as pandas
    (the reference) skips it: sum 4.0, mean 2.0, max 3.0 over
    [1.0, NaN, 3.0] on the scalar, join and sortmerge paths —
    unbounded and windowed."""
    t0 = dt.datetime(2024, 5, 1)
    rows = [(f"d{i}", "e1", t0 + dt.timedelta(days=i), v)
            for i, v in enumerate([1.0, float("nan"), 3.0])]
    child = spark.createDataFrame(
        rows, "doc_id string, entity_id string, event_time timestamp, "
              "val double")
    es = fts.EntitySet("nan")
    es.add_dataframe("entities",
                     spark.createDataFrame([("e1",)], "entity_id string"),
                     index="entity_id")
    es.add_dataframe("sequences", child, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    val = IdentityFeature(es, "sequences", "val")
    feats = [AggregationFeature(val, "entities", p, es=es)
             for p in ("sum", "mean", "max")]
    want = (4.0, 2.0, 3.0)
    cut = t0 + dt.timedelta(days=10)
    cuts = spark.createDataFrame([("e1", cut)],
                                 "entity_id string, time timestamp")
    paths = {
        "scalar": (feats, dict(cutoff_time=cut)),
        "join": (feats, dict(cutoff_time=cuts, strategy="join")),
        "sortmerge": (feats, dict(cutoff_time=cuts, strategy="sortmerge")),
        "sortmerge 30 days": (feats, dict(
            cutoff_time=cuts, strategy="sortmerge",
            training_window="30 days")),
    }
    for path, (fs, kw) in paths.items():
        rows = fts.calculate_feature_matrix(fs, es, **kw).collect()
        assert [tuple(r[f.get_name()] for f in fs) for r in rows] == \
            [want[:len(fs)]], path


@pytest.mark.parametrize("per_row", [False, True])
@pytest.mark.parametrize("strategy", ["join", "sortmerge"])
def test_percent_true_where_matches_pandas(spark, strategy, per_row):
    """PERCENT_TRUE(b WHERE v > 0) as pandas (the reference) computes
    it: the where mask removes rows from the denominator, while a null
    value or a secondary-time-index mask counts as False
    (fillna(False)). `bs` holds b's values, governed by `resolved`."""
    import pandas as pd

    t0 = dt.datetime(2024, 5, 1)
    cut = t0 + dt.timedelta(days=10)
    late = cut + dt.timedelta(days=1)
    rows = [  # (entity, b, v, resolved)
        ("u1", True, 1.0, t0), ("u1", False, 1.0, t0),
        ("u1", False, -1.0, t0), ("u1", False, -1.0, t0),
        ("u2", True, 1.0, t0), ("u2", None, 1.0, t0),
        ("u2", True, 1.0, late), ("u2", True, -1.0, t0),
    ]
    child = spark.createDataFrame(
        [(f"d{i}", e, t0 + dt.timedelta(days=i % 4), b, b, v, r)
         for i, (e, b, v, r) in enumerate(rows)],
        "doc_id string, entity_id string, event_time timestamp, "
        "b boolean, bs boolean, v double, resolved timestamp")
    es = fts.EntitySet("pct")
    es.add_dataframe("entities", spark.createDataFrame(
        [("u1",), ("u2",)], "entity_id string"), index="entity_id")
    es.add_dataframe("events", child, index="doc_id",
                     time_index="event_time",
                     secondary_time_index={"resolved": ["bs"]})
    es.add_relationship("entities", "entity_id", "events", "entity_id")
    pos = IdentityFeature(es, "events", "v") > 0
    feats = [AggregationFeature(IdentityFeature(es, "events", c),
                                "entities", "percent_true", where=pos,
                                es=es)
             for c in ("b", "bs")]

    pdf = pd.DataFrame(rows, columns=["e", "b", "v", "resolved"])
    pdf["b"] = pdf["b"].astype("boolean")
    pdf["bs"] = pdf["b"].where(pdf["resolved"] < cut)
    sel = pdf[pdf["v"] > 0]
    want = {e: tuple(g[c].fillna(False).astype(bool).mean()
                     for c in ("b", "bs"))
            for e, g in sel.groupby("e")}

    cutoff = spark.createDataFrame(
        [("u1", cut), ("u2", cut)], "entity_id string, time timestamp"
    ) if per_row else cut
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cutoff,
                                      strategy=strategy)
    got = {r["entity_id"]: tuple(r[f.get_name()] for f in feats)
           for r in fm.collect()}
    assert got.keys() == want.keys()
    for e in want:
        assert got[e] == pytest.approx(want[e], rel=1e-12), (e, got, want)


@pytest.mark.parametrize("per_row", [False, True])
@pytest.mark.parametrize("strategy", ["join", "sortmerge"])
def test_secondary_mask_nulls_values_not_times(spark, strategy, per_row):
    """A secondary-time-index mask nulls a value and leaves its row in
    time order (reference entityset.py:1450-1455), so FIRST and LAST
    read pandas' iloc[0] and iloc[-1]: null when that row's value is
    not yet resolved at the cutoff. Only a where mask removes a row
    (`ok` holds on every row, so LAST WHERE ok is LAST). u1's latest
    cost and u2's earliest resolve after the cutoff."""
    import pandas as pd

    t0 = dt.datetime(2024, 5, 1)
    cut = t0 + dt.timedelta(days=10)
    late = cut + dt.timedelta(days=1)
    rows = [  # (entity, day, cost, resolved)
        ("u1", 1, 100.0, t0), ("u1", 2, 200.0, t0), ("u1", 3, 300.0, late),
        ("u2", 1, 100.0, late), ("u2", 2, 200.0, t0), ("u2", 3, 300.0, t0),
    ]
    child = spark.createDataFrame(
        [(f"d{i}", e, t0 + dt.timedelta(days=d), c, True, r)
         for i, (e, d, c, r) in enumerate(rows)],
        "doc_id string, entity_id string, event_time timestamp, "
        "cost double, ok boolean, resolved timestamp")
    es = fts.EntitySet("sec")
    es.add_dataframe("entities", spark.createDataFrame(
        [("u1",), ("u2",)], "entity_id string"), index="entity_id")
    es.add_dataframe("events", child, index="doc_id",
                     time_index="event_time",
                     secondary_time_index={"resolved": ["cost"]})
    es.add_relationship("entities", "entity_id", "events", "entity_id")
    cost = IdentityFeature(es, "events", "cost")
    ok = IdentityFeature(es, "events", "ok")
    feats = [AggregationFeature(cost, "entities", "last", es=es),
             AggregationFeature(cost, "entities", "first", es=es),
             AggregationFeature(cost, "entities", "last", where=ok, es=es)]

    pdf = pd.DataFrame(rows, columns=["e", "day", "cost", "resolved"])
    pdf["cost"] = pdf["cost"].where(pdf["resolved"] < cut)
    want = {}
    for e, g in pdf.sort_values("day").groupby("e"):
        vals = (g["cost"].iloc[-1], g["cost"].iloc[0], g["cost"].iloc[-1])
        want[e] = tuple(None if pd.isna(v) else v for v in vals)
    assert want["u1"] == (None, 100.0, None)
    assert want["u2"] == (300.0, None, 300.0)

    cutoff = spark.createDataFrame(
        [("u1", cut), ("u2", cut)], "entity_id string, time timestamp"
    ) if per_row else cut
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cutoff,
                                      strategy=strategy)
    got = {r["entity_id"]: tuple(r[f.get_name()] for f in feats)
           for r in fm.collect()}
    assert got == want


@pytest.mark.parametrize("strategy", ["join", "sortmerge"])
def test_std_keeps_digits_on_large_offset_values(spark, strategy):
    """STD and VARIANCE of values with a large offset and a small spread
    (v = 1e9 + i % 4) stay within rel 1e-6 of numpy at per-row cutoffs:
    the join and the running windows both read Spark's (n, avg, m2)
    variance buffer, where a sum of squares would lose every digit."""
    import numpy as np

    t0 = dt.datetime(2024, 5, 1)
    vals = [1e9 + (i % 4) for i in range(40)]
    child = spark.createDataFrame(
        [(f"d{i}", "e1", t0 + dt.timedelta(hours=i), v)
         for i, v in enumerate(vals)],
        "doc_id string, entity_id string, event_time timestamp, "
        "val double")
    es = fts.EntitySet("offset")
    es.add_dataframe("entities",
                     spark.createDataFrame([("e1",)], "entity_id string"),
                     index="entity_id")
    es.add_dataframe("sequences", child, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    val = IdentityFeature(es, "sequences", "val")
    feats = [AggregationFeature(val, "entities", p, es=es)
             for p in ("std", "variance")]
    n_seen = (13, 22, 40)
    cuts = spark.createDataFrame(
        [("e1", t0 + dt.timedelta(hours=n - 0.5)) for n in n_seen],
        "entity_id string, time timestamp")
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                      strategy=strategy)
    got = sorted((r["time"], tuple(r[f.get_name()] for f in feats))
                 for r in fm.collect())
    assert len(got) == len(n_seen)
    for (_, (sd, var)), n in zip(got, n_seen):
        assert sd == pytest.approx(np.std(vals[:n]), rel=1e-6), (n, sd)
        assert var == pytest.approx(np.var(vals[:n]), rel=1e-6), (n, var)


# ----------------------------------------------------------------------
# one result schema for every as-of strategy
# ----------------------------------------------------------------------
@pytest.fixture(scope="module")
def strategy_es(spark):
    seqs = make_sequences(spark, n_rows=3000, n_entities=60).cache()
    ents = make_entities(seqs)
    es = fts.EntitySet("strategy")
    es.add_dataframe("entities", ents, index="entity_id",
                     time_index="first_seen")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    cuts = make_cutoffs(spark, seqs, per_entity=3).cache()
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    feats = [
        AggregationFeature(
            IdentityFeature(es, "sequences", "doc_id"), "entities",
            "count", es=es),
        AggregationFeature(n_tok, "entities", "sum", es=es),
        AggregationFeature(n_tok, "entities", "mean", es=es),
    ]
    return es, cuts, feats


def test_strategy_schema_parity_count_is_long(spark, strategy_es):
    """The result schema must not depend on the strategy the caller
    picks: the sortmerge casts count-family outputs back to long at the
    merge boundary (asof._output_type) to match the join path's
    bigint."""
    es, cuts, feats = strategy_es
    dj = dict(fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, strategy="join").dtypes)
    ds = dict(fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, strategy="sortmerge").dtypes)
    assert dj == ds
    assert dj["COUNT(sequences)"] == "bigint"


# ----------------------------------------------------------------------
# grouped-kernel shuffle width scales with input size
# ----------------------------------------------------------------------
def test_kernel_nparts_grows_with_input(spark, monkeypatch):
    monkeypatch.setattr(cfm, "_KERNEL_PART_BYTES", 1 << 12)  # 4 KiB
    small = cfm._kernel_nparts(spark.range(10))
    big = cfm._kernel_nparts(spark.range(1_000_000))
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert small == floor            # never below the session width
    assert big > small               # and grows with input bytes
    # cap guard
    monkeypatch.setattr(cfm, "_KERNEL_PART_BYTES", 1)
    monkeypatch.setattr(cfm, "_KERNEL_MAX_PARTS", 100)
    assert cfm._kernel_nparts(spark.range(1_000_000)) == 100


def test_kernel_nparts_ignores_join_multiplied_estimates(spark, monkeypatch):
    """Regression: Catalyst propagates sizeInBytes MULTIPLICATIVELY
    through joins, so the plan-root stat of a multi-join plan
    overshoots by orders of magnitude — and repartition(n, cols) is a
    user width AQE will not coalesce, so the overshoot became 32768
    real tasks on a 150-row test. _kernel_nparts must size from the
    LEAF scans: a self-join chain over a tiny input stays at the
    session floor no matter how many joins the plan stacks."""
    import pyspark.sql.functions as F

    a = spark.range(100).withColumn("k", F.col("id") % 10)
    j = a
    for i in range(4):
        j = j.join(a.select("k", F.col("id").alias(f"id{i}")), "k")
    monkeypatch.setattr(cfm, "_KERNEL_PART_BYTES", 64 << 20)
    got = cfm._kernel_nparts(j)
    assert got == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_kernel_nparts_ignores_statless_rdd_leaves(spark):
    """Regression: a LogicalRDD leaf (any createDataFrame / Arrow /
    checkpoint boundary — e.g. the test suites' cutoff DataFrames)
    has no statistics and reports the defaultSizeInBytes sentinel;
    summing it drove the kernel width straight to the 32768 cap on a
    150-row input. Unknown-sized leaves must contribute the floor."""
    pdf = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double")
    leaves = pdf._jdf.queryExecution().optimizedPlan().collectLeaves()
    it, has_rdd_leaf = leaves.iterator(), False
    while it.hasNext():
        n = it.next()
        if "RDD" in n.nodeName():
            has_rdd_leaf = True
    got = cfm._kernel_nparts(pdf)
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if has_rdd_leaf:
        assert got == floor
    else:  # environment materialized it as LocalRelation: still tiny
        assert got == floor


def test_kernel_floor_exempt_from_escalated_width(spark):
    from featuretools_spark import cfm

    df = spark.range(100).withColumn("g", F.col("id") % 4)
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cfm._kernel_nparts(df) == base
    try:
        # a session genuinely CONFIGURED wide keeps its width
        spark.conf.set("spark.sql.shuffle.partitions", "4096")
        assert cfm._kernel_nparts(df) == 4096
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(base))


T0 = dt.datetime(2024, 5, 1)


def _two_entity_es(spark):
    """Six events of two entities, and four aggregations of them.
    Returns (es, features, want): want(entity, cutoff) is what pandas
    computes for the features from the events at or before cutoff."""
    import pandas as pd

    events = [(f"d{i}", e, T0 + dt.timedelta(days=i), v)
              for i, (e, v) in enumerate([("u1", 3.0), ("u1", -1.0),
                                          ("u2", 5.0), ("u1", 7.0),
                                          ("u2", 2.0), ("u2", 4.0)])]
    es = fts.EntitySet("dup_cutoffs")
    es.add_dataframe("entities", spark.createDataFrame(
        [("u1",), ("u2",)], "entity_id string"), index="entity_id")
    es.add_dataframe("events", spark.createDataFrame(
        events, "doc_id string, entity_id string, event_time timestamp, "
        "v double"), index="doc_id", time_index="event_time")
    es.add_relationship("entities", "entity_id", "events", "entity_id")
    v = IdentityFeature(es, "events", "v")
    feats = [AggregationFeature(v, "entities", p, es=es)
             for p in ("sum", "mean", "max")]
    feats.append(AggregationFeature(IdentityFeature(es, "events", "doc_id"),
                                    "entities", "count", es=es))

    pdf = pd.DataFrame(events, columns=["doc_id", "e", "t", "v"])

    def want(e, cut):
        g = pdf[(pdf["e"] == e) & (pdf["t"] <= cut)]
        return (g["v"].sum(), g["v"].mean(), g["v"].max(), len(g))

    return es, feats, want


@pytest.mark.parametrize("strategy", ["join", "sortmerge"])
def test_duplicate_cutoff_rows_keep_their_pass_columns(spark, strategy):
    """Two per-row cutoff rows with the same (instance, time) and
    different pass-column values come back as two rows: each keeps its
    own label, and both carry the features of that (instance, time),
    as pandas computes them from the events at or before the cutoff.
    The string label is a group key of the aggregation, not a first()
    carry, so the aggregate stays hash-based: no SortAggregate."""
    es, feats, want = _two_entity_es(spark)
    mid = T0 + dt.timedelta(days=3, hours=12)
    late = T0 + dt.timedelta(days=5, hours=12)
    cutoffs = {"x": ("u1", mid), "y": ("u1", mid), "z": ("u2", mid),
               "w": ("u2", late)}
    cuts = spark.createDataFrame(
        [(e, t, label) for label, (e, t) in cutoffs.items()],
        "entity_id string, time timestamp, label string")
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                      strategy=strategy)
    rows = fm.collect()
    got = {r["label"]: (r["entity_id"],
                        tuple(r[f.get_name()] for f in feats))
           for r in rows}
    assert len(rows) == len(cutoffs) and got.keys() == cutoffs.keys()
    for label, (e, cut) in cutoffs.items():
        assert got[label][0] == e, label
        assert got[label][1] == pytest.approx(want(e, cut), rel=1e-12), (
            label, got[label], want(e, cut))
    assert got["x"] == got["y"]
    plan = fm._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan


@pytest.mark.parametrize("strategy", ["join", "sortmerge"])
def test_null_key_cutoff_rows_keep_their_pass_columns(spark, strategy):
    """A cutoff row with a null time or a null instance id matches no
    event. It comes back as its own row, with its own label and the
    features' default values (sum and count 0, mean and max null),
    beside an ordinary row."""
    es, feats, want = _two_entity_es(spark)
    mid = T0 + dt.timedelta(days=3, hours=12)
    cuts = spark.createDataFrame(
        [("u1", mid, "a"), ("u2", None, "b"), (None, T0, "c")],
        "entity_id string, time timestamp, label string")
    rows = fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, strategy=strategy).collect()
    got = {r["label"]: r for r in rows}
    assert len(rows) == 3 and got.keys() == {"a", "b", "c"}
    assert (got["a"]["entity_id"], got["a"]["time"]) == ("u1", mid)
    assert tuple(got["a"][f.get_name()] for f in feats) == pytest.approx(
        want("u1", mid), rel=1e-12)
    for label, e, t in (("b", "u2", None), ("c", None, T0)):
        r = got[label]
        assert (r["entity_id"], r["time"]) == (e, t), r
        assert tuple(r[f.get_name()] for f in feats) == (0, None, None, 0), r


@pytest.mark.parametrize("strategy, holistic", [
    ("join", False), ("sortmerge", False), ("join", True)])
def test_derived_cutoff_plan_is_evaluated_once(spark, strategy, holistic):
    """Cutoff rows derived through a Python UDF are evaluated once per
    call, whichever strategy runs: an accumulator the UDF bumps per
    source row reads the source row count after one collect(). The
    rows are derived through a groupBy, or, with a holistic MODE that
    reads the joined rows apart from the main groupBy, through a union:
    no exchange below the cutoff rows for Spark to reuse between the
    two reads."""
    es, feats, want = _two_entity_es(spark)
    acc = spark.sparkContext.accumulator(0)

    def bump(label):
        acc.add(1)
        return label

    src = spark.createDataFrame(
        [("u1", T0 + dt.timedelta(days=d), f"l{d}") for d in range(4)]
        + [("u2", T0 + dt.timedelta(days=d), f"m{d}") for d in (2, 3, 4)],
        "entity_id string, time timestamp, label string")
    src = src.withColumn("label", F.udf(bump, "string")("label"))
    if holistic:
        feats = feats + [AggregationFeature(
            IdentityFeature(es, "events", "doc_id"), "entities", "mode",
            es=es)]
        cuts = src.filter(F.col("entity_id") == "u1").unionByName(
            src.filter(F.col("entity_id") == "u2"))
    else:
        cuts = src.groupBy("entity_id", "time").agg(
            F.max("label").alias("label"))
    rows = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                        strategy=strategy).collect()
    assert acc.value == 7
    assert len(rows) == 7
    for r in rows:
        assert tuple(r[f.get_name()] for f in feats[:4]) == pytest.approx(
            want(r["entity_id"], r["time"]), rel=1e-12), r


@pytest.mark.parametrize("strategy", ["join", "sortmerge"])
def test_pass_columns_ride_every_group(spark, strategy):
    """Two aggregation groups at per-row cutoffs: a MODE, whose counts
    subplan joins back on the cutoff rows, and a windowed COUNT that
    chains after it. A null string label and a map column come back as
    given, the MODE of the null-labelled row included, and no carried
    column makes an aggregate sort-based (a first() over a string
    would)."""
    es, _, _ = _two_entity_es(spark)
    doc = IdentityFeature(es, "events", "doc_id")
    feats = [AggregationFeature(doc, "entities", "mode", es=es),
             AggregationFeature(doc, "entities", "count", es=es,
                                use_previous="2 days")]
    mid = T0 + dt.timedelta(days=3, hours=12)
    late = T0 + dt.timedelta(days=5, hours=12)
    cuts = spark.createDataFrame(
        [("u1", mid, "a"), ("u2", late, None)],
        "entity_id string, time timestamp, label string",
    ).withColumn("tags", F.create_map(F.lit("e"), F.col("entity_id")))
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                      strategy=strategy)
    got = {r["entity_id"]: r for r in fm.collect()}
    mode, count = (f.get_name() for f in feats)
    assert got.keys() == {"u1", "u2"}
    assert (got["u1"]["label"], got["u1"]["tags"]) == ("a", {"e": "u1"})
    assert (got["u2"]["label"], got["u2"]["tags"]) == (None, {"e": "u2"})
    # u1 at day 3.5: d0, d1, d3 once each, the first in order wins, and
    # d3 in the last 2 days. u2 at day 5.5: d2, d4, d5; d4 and d5
    assert (got["u1"][mode], got["u1"][count]) == ("d0", 1)
    assert (got["u2"][mode], got["u2"][count]) == ("d2", 2)
    plan = fm._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"SortAggregate\([^\n]*first\(", plan), plan


def test_make_temporal_cutoffs(spark):
    cuts = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10))], "uid long, time timestamp"
    )
    out = make_temporal_cutoffs(cuts, "uid", window_size="1 day",
                                num_windows=3)
    times = sorted(r["time"] for r in out.collect())
    assert times == [dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 9),
                     dt.datetime(2024, 1, 10)]
    out2 = make_temporal_cutoffs(cuts, "uid", num_windows=3,
                                 start=dt.datetime(2024, 1, 8))
    times2 = sorted(r["time"] for r in out2.collect())
    assert times2 == times


def test_approximate_binning(es, spark):
    """With approximate=2 days, all cutoffs inside one 2-day bin share
    the aggregate computed at the bin floor."""
    cuts = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 15, 6)), (0, dt.datetime(2024, 1, 15, 18)),
         (0, dt.datetime(2024, 1, 19))],
        "user_id long, time timestamp",
    )
    v = IdentityFeature(es, "events", "value")
    f = AggregationFeature(v, "users", "sum", es=es)
    exact = fts.calculate_feature_matrix([f], es, cutoff_time=cuts)
    approx = fts.calculate_feature_matrix([f], es, cutoff_time=cuts,
                                          approximate="2 days")
    ex = {r["time"]: r[f.get_name()] for r in exact.collect()}
    ap = {r["time"]: r[f.get_name()] for r in approx.collect()}
    t1, t2 = dt.datetime(2024, 1, 15, 6), dt.datetime(2024, 1, 15, 18)
    # same bin -> identical approximate values, exact values differ
    assert ap[t1] == ap[t2]
    assert ex[t1] != ex[t2]
    # approximate value = exact value at the bin floor (2-day bins
    # anchor to the epoch grid: floor(2024-01-15T06) = 2024-01-14T00)
    import calendar

    floor_s = (calendar.timegm(t1.timetuple()) // 172800) * 172800
    floor_ts = dt.datetime.utcfromtimestamp(floor_s)
    floor_exact = fts.calculate_feature_matrix(
        [f], es,
        cutoff_time=spark.createDataFrame(
            [(0, floor_ts)], "user_id long, time timestamp"
        ),
    ).collect()[0][f.get_name()]
    assert ap[t1] == floor_exact


def test_approximate_fans_out_once_over_every_group(es, spark):
    """Under approximate every aggregation group chains on the distinct
    binned keys, and one left join fans them all out onto the cutoff
    rows: two groups (a plain SUM and a use_previous COUNT) read their
    exact values at the bin floor, a cutoff row with a null key reads
    the defaults, and the optimized plan joins on the bin once."""
    import calendar

    t1, t2 = dt.datetime(2024, 1, 15, 6), dt.datetime(2024, 1, 15, 18)
    cuts = spark.createDataFrame(
        [(0, t1), (0, t2), (0, dt.datetime(2024, 1, 19)), (None, t1)],
        "user_id long, time timestamp",
    )
    v = IdentityFeature(es, "events", "value")
    feats = [
        AggregationFeature(v, "users", "sum", es=es),
        AggregationFeature(v, "users", "count", es=es,
                           use_previous="3 days"),
    ]
    names = [f.get_name() for f in feats]
    approx = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                          approximate="2 days")
    plan = approx._jdf.queryExecution().optimizedPlan().toString()
    assert sum("Join" in ln and "_ft_bin" in ln
               for ln in plan.splitlines()) == 1, plan
    got = {(r["user_id"], r["time"]): tuple(r[n] for n in names)
           for r in approx.collect()}

    def floor(t):
        s = (calendar.timegm(t.timetuple()) // 172800) * 172800
        return dt.datetime.utcfromtimestamp(s)

    floors = spark.createDataFrame(
        [(0, floor(t)) for t in (t1, dt.datetime(2024, 1, 19))],
        "user_id long, time timestamp")
    exact = {r["time"]: tuple(r[n] for n in names)
             for r in fts.calculate_feature_matrix(
                 feats, es, cutoff_time=floors).collect()}
    assert got[(0, t1)] == got[(0, t2)] == exact[floor(t1)]
    assert got[(0, dt.datetime(2024, 1, 19))] == \
        exact[floor(dt.datetime(2024, 1, 19))]
    assert got[(None, t1)] == (0, 0)
    # the comparison is not one of defaults
    assert all(x > 0 for x in exact[floor(t1)]), exact
