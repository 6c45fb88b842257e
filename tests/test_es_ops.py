"""EntitySet ops: interesting values + DFS where clauses, secondary
time index masking, encode_features, selection ops, normalize, concat,
query_by_values, and the one-pass Gram-matrix correlation."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark.encode import (
    encode_features,
    remove_highly_correlated_features,
    remove_highly_null_features,
    remove_low_information_features,
    remove_single_value_features,
)
from featuretools_spark.features import AggregationFeature, IdentityFeature

CUT = dt.datetime(2024, 1, 20)


def test_interesting_values_where_dfs(es, duck):
    es.add_interesting_values(max_values=2, dataframe_name="events")
    iv = es.meta["events"].interesting_values
    assert "event_type" in iv and len(iv["event_type"]) == 2
    feats = fts.dfs(
        entityset=es, target_dataframe_name="users", features_only=True,
        agg_primitives=["count"], trans_primitives=[], max_depth=1,
        where_primitives=["count"],
    )
    names = [f.get_name() for f in feats]
    v0 = iv["event_type"][0]
    assert f"COUNT(events WHERE event_type = {v0})" in names
    # execute one where feature and check against duckdb
    wf = [f for f in feats if "WHERE event_type" in f.get_name()][:1]
    fm = fts.calculate_feature_matrix(wf, es, cutoff_time=CUT)
    got = {r["user_id"]: r[wf[0].get_name()] for r in fm.collect()}
    want = {
        r[0]: r[1]
        for r in duck.execute(
            f"""SELECT u.user_id, count(CASE WHEN e.event_type = '{v0}'
                THEN 1 END)
                FROM (SELECT DISTINCT user_id FROM events) u
                LEFT JOIN events e ON e.user_id = u.user_id
                  AND e.ts <= TIMESTAMP '{CUT}'
                GROUP BY u.user_id"""
        ).fetchall()
    }
    assert got == want


def test_secondary_time_index_masking(spark):
    """Values governed by a secondary time index are invisible before
    that time: SUM over a masked column ignores rows whose sec time is
    at/after the cutoff."""
    rows = [
        (1, 10, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 5), 100.0),
        (2, 10, dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 20), 200.0),
        (3, 10, dt.datetime(2024, 1, 3), None, 300.0),
    ]
    child = spark.createDataFrame(
        rows, "id long, uid long, ts timestamp, resolved_at timestamp, cost double"
    )
    parent = child.select("uid").distinct()
    es = fts.EntitySet("sec")
    es.add_dataframe("parents", parent, index="uid")
    es.add_dataframe(
        "child", child, index="id", time_index="ts",
        secondary_time_index={"resolved_at": ["cost"]},
    )
    es.add_relationship("parents", "uid", "child", "uid")
    f = AggregationFeature(
        IdentityFeature(es, "child", "cost"), "parents", "sum", es=es
    )
    fm = fts.calculate_feature_matrix([f], es, cutoff_time=dt.datetime(2024, 1, 10))
    val = fm.collect()[0][f.get_name()]
    # row1 resolved 1/5 (< cutoff) -> visible; row2 resolved 1/20 -> masked;
    # row3 never resolved -> masked
    assert val == 100.0
    # per-row cutoff path agrees
    cuts = spark.createDataFrame(
        [(10, dt.datetime(2024, 1, 10))], "uid long, time timestamp"
    )
    fm2 = fts.calculate_feature_matrix([f], es, cutoff_time=cuts)
    assert fm2.collect()[0][f.get_name()] == 100.0


@pytest.mark.parametrize("per_row", [False, True])
def test_secondary_time_index_masks_holistic_over_foreign_key(spark,
                                                              per_row):
    """A holistic primitive over the child's foreign key, under a
    secondary time index, sees the mask as over any other column: it
    equals the same primitive over a copy of the key, in both forms
    (counts and flag) and at both cutoff forms."""
    t = dt.datetime(2024, 1, 1)
    rows = [(i, 10 + i % 2, t + dt.timedelta(days=i),
             t + dt.timedelta(days=i + (i % 3) * 4)) for i in range(12)]
    child = spark.createDataFrame(
        rows, "id long, uid long, ts timestamp, resolved_at timestamp"
    ).withColumn("uid_copy", F.col("uid"))
    es = fts.EntitySet("sec_fk")
    es.add_dataframe("parents", child.select("uid").distinct(), index="uid")
    es.add_dataframe(
        "child", child, index="id", time_index="ts",
        secondary_time_index={"resolved_at": ["uid", "uid_copy"]},
    )
    es.add_relationship("parents", "uid", "child", "uid")
    prims = ("mode", "n_most_common_frequency", "max_count",
             "max_consecutive_positives")
    feats = {(p, c): AggregationFeature(IdentityFeature(es, "child", c),
                                        "parents", p, es=es)
             for p in prims for c in ("uid", "uid_copy")}
    cut = dt.datetime(2024, 1, 9)
    if per_row:
        cut = spark.createDataFrame([(10, cut), (11, cut)],
                                    "uid long, time timestamp")
    fm = fts.calculate_feature_matrix(list(feats.values()), es,
                                      cutoff_time=cut).collect()
    assert len(fm) == 2
    for r in fm:
        for p in prims:
            key = r[feats[(p, "uid")].get_name()]
            assert key == r[feats[(p, "uid_copy")].get_name()], (p, r)
    # masked values drop out: each uid has 2 rows resolved before the
    # cutoff, of 5 and 4 rows at or before it
    assert {r["uid"]: r["MAX_COUNT(child.uid)"] for r in fm} == {10: 2, 11: 2}


def test_encode_and_selection(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0, None, 5.0), (2, "b", 2.0, None, 10.0),
         (3, "a", 3.0, None, 15.0), (4, "c", 4.0, None, 20.0)],
        "id long, cat string, x double, all_null double, y double",
    )
    enc = encode_features(df, ["cat"], top_n=2)
    cols = set(enc.columns)
    assert "cat = a" in cols and "cat = b" in cols and "cat is unknown" in cols
    row = {r["id"]: r for r in enc.collect()}
    assert row[1]["cat = a"] == 1 and row[4]["cat is unknown"] == 1

    # selection ops
    assert "all_null" not in remove_highly_null_features(df, 0.9).columns
    df2 = df.withColumn("const", F.lit(7))
    assert "const" not in remove_single_value_features(df2, count_nan_as_value=True).columns
    low = remove_low_information_features(df2, keys=["id"])
    assert "const" not in low.columns and "all_null" not in low.columns
    # y = 5x exactly correlated -> y (later column) dropped
    corr = remove_highly_correlated_features(df, keys=["id"])
    assert "y" not in corr.columns and "x" in corr.columns


def test_normalize_and_concat_and_query(spark):
    base = spark.createDataFrame(
        [(1, "s1", "web", dt.datetime(2024, 1, 1)),
         (2, "s1", "web", dt.datetime(2024, 1, 2)),
         (3, "s2", "app", dt.datetime(2024, 1, 3))],
        "id long, sess string, channel string, ts timestamp",
    )
    es = fts.EntitySet("n")
    es.add_dataframe("log", base, index="id", time_index="ts")
    es.normalize_dataframe("log", "sessions", index="sess",
                           additional_columns=["channel"])
    assert "sessions" in es
    sess = {r["sess"]: r["channel"] for r in es["sessions"].collect()}
    assert sess == {"s1": "web", "s2": "app"}
    assert "channel" not in es["log"].columns
    assert any(r.parent_name == "sessions" for r in es.relationships)

    q = es.query_by_values("log", [1, 3])
    assert {r["id"] for r in q.collect()} == {1, 3}
    q2 = es.query_by_values("log", ["s1"], column_name="sess",
                            time_last=dt.datetime(2024, 1, 1))
    assert {r["id"] for r in q2.collect()} == {1}


# ----------------------------------------------------------------------
# one-pass Gram-matrix correlation (VERDICT r5 stretch: the pairwise
# F.corr plan is quadratic in width — 1k columns would be ~500k agg
# expressions; the gram path is O(1) plan size)
# ----------------------------------------------------------------------
def _corr_pdf():
    import numpy as np
    import pandas as pd
    rnd = np.random.default_rng(7)
    rows = 400
    base = rnd.normal(size=rows)
    return pd.DataFrame({
        "a": base,
        "b": base * 2.0 + rnd.normal(scale=1e-3, size=rows),
        "c": rnd.normal(size=rows),
        "d": np.where(rnd.random(rows) < 0.3, np.nan,
                      base + rnd.normal(scale=0.5, size=rows)),
        "e": -base,
        "f": np.ones(rows),
    })


def test_corr_gram_matches_pandas_pairwise_complete(spark):
    import numpy as np
    from featuretools_spark.encode import _corr_matrix_gram
    pdf = _corr_pdf()
    df = spark.createDataFrame(pdf).repartition(5)
    got = _corr_matrix_gram(df, list(pdf.columns))
    want = pdf.corr(min_periods=1).to_numpy()
    assert np.allclose(got, want, atol=1e-9, equal_nan=True)


def test_corr_gram_drop_set_matches_pairwise(spark):
    from featuretools_spark.encode import (
        remove_highly_correlated_features,
    )
    df = spark.createDataFrame(_corr_pdf()).repartition(3)
    out_p = remove_highly_correlated_features(df, 0.95, method="pairwise")
    out_g = remove_highly_correlated_features(df, 0.95, method="gram")
    assert out_p.columns == out_g.columns
    assert "b" not in out_g.columns      # 0.99-corr copy of a dropped
    assert "e" not in out_g.columns      # perfect anti-correlation
    assert {"a", "c", "d", "f"} <= set(out_g.columns)


def test_corr_gram_empty_input_drops_nothing(spark):
    from featuretools_spark.encode import (
        remove_highly_correlated_features,
    )
    cols = list(_corr_pdf().columns)
    df = spark.createDataFrame(
        _corr_pdf().iloc[:0], schema=" double, ".join(cols) + " double")
    out = remove_highly_correlated_features(df, 0.95, method="gram")
    assert out.columns == list(_corr_pdf().columns)


def test_gram_corr_clamps_degenerate_variance(spark):
    from featuretools_spark.encode import _corr_matrix_gram

    # a near-constant column whose B - A^2/N cancels catastrophically
    # in float64, plus a real column
    n = 400
    rows = [(1.0e9 + (i % 2) * 1e-4, float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, ["nearconst", "ramp"])
    corr = _corr_matrix_gram(df, ["nearconst", "ramp"])
    finite = corr[np.isfinite(corr)]
    assert np.all(np.abs(finite) <= 1.0 + 1e-9), corr

    # exactly-constant column: NaN (no variance), never a drop signal
    rows2 = [(7.0, float(i)) for i in range(50)]
    df2 = spark.createDataFrame(rows2, ["const", "ramp"])
    corr2 = _corr_matrix_gram(df2, ["const", "ramp"])
    assert np.isnan(corr2[0, 1]) and np.isnan(corr2[1, 0])
