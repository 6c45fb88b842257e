"""Primitive parity vs pandas/numpy — the reference's kernels ARE
pandas ops, so pandas is the ground truth here (mirrors the
reference's per-primitive unit tests, tests/primitive_tests/)."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark.features import (
    AggregationFeature,
    GroupByTransformFeature,
    IdentityFeature,
    TransformFeature,
)
from featuretools_spark.primitives import (
    get_aggregation_primitive,
    get_transform_primitive,
)
from featuretools_spark.primitives.base import TransformContext


@pytest.fixture(scope="module")
def small_pdf():
    rng = np.random.RandomState(7)
    n = 40
    return pd.DataFrame({
        "id": np.arange(n),
        "grp": rng.randint(0, 3, n),
        "val": np.where(rng.rand(n) < 0.15, np.nan,
                        np.round(rng.randn(n) * 10, 2)),
        "den": rng.randint(-2, 3, n).astype(float),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.randint(0, 10**6, n), unit="s"),
        "flag": rng.rand(n) < 0.5,
        "cat": rng.choice(list("abc"), n),
    })


@pytest.fixture(scope="module")
def small_sdf(spark, small_pdf):
    return spark.createDataFrame(small_pdf).cache()


def _tf(spark, sdf, prim_name, cols, order=("ts", "id"), partition=None, **kw):
    prim = get_transform_primitive(prim_name)
    for k, v in kw.items():
        setattr(prim, k, v)
    ctx = TransformContext(
        time=F.col("ts"),
        order_cols=list(order),
        partition_cols=list(partition or []),
    )
    out = sdf.withColumn("_out", prim.expr([F.col(c) for c in cols], ctx))
    return {r["id"]: r["_out"] for r in out.select("id", "_out").collect()}


def _close(a, b, tol=1e-9):
    if a is None and (b is None or (isinstance(b, float) and math.isnan(b))):
        return True
    if a is None or b is None:
        return False
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    if isinstance(a, (int, float)):
        fa, fb = float(a), float(b)
        if math.isinf(fa) or math.isinf(fb):
            return fa == fb
        return abs(fa - fb) <= tol * max(1.0, abs(fb))
    return a == b


def test_weekday_week_parity(spark, small_sdf, small_pdf):
    got = _tf(spark, small_sdf, "weekday", ["ts"])
    want = small_pdf.set_index("id")["ts"].dt.weekday
    assert all(got[i] == want[i] for i in want.index)
    got_w = _tf(spark, small_sdf, "week", ["ts"])
    want_w = small_pdf.set_index("id")["ts"].dt.isocalendar().week
    assert all(got_w[i] == want_w[i] for i in want_w.index)


def test_modulo_python_semantics(spark, small_sdf, small_pdf):
    got = _tf(spark, small_sdf, "modulo_numeric", ["val", "den"])
    p = small_pdf.set_index("id")
    for i in p.index:
        v, d = p.loc[i, "val"], p.loc[i, "den"]
        if np.isnan(v):
            assert got[i] is None or math.isnan(got[i])
        elif d == 0:
            assert got[i] is None or math.isnan(got[i])
        else:
            assert _close(got[i], v % d), (i, got[i], v % d)


def test_divide_by_zero_inf(spark, small_sdf, small_pdf):
    got = _tf(spark, small_sdf, "divide_numeric", ["val", "den"])
    p = small_pdf.set_index("id")
    for i in p.index:
        v, d = p.loc[i, "val"], p.loc[i, "den"]
        if np.isnan(v):
            continue
        want = v / d if d != 0 else (
            np.inf if v > 0 else (-np.inf if v < 0 else np.nan)
        )
        if math.isnan(want):
            assert got[i] is None or math.isnan(got[i])
        else:
            assert _close(got[i], want), (i, got[i], want)


def test_cum_sum_nan_slots(spark, small_sdf, small_pdf):
    got = _tf(spark, small_sdf, "cum_sum", ["val"], partition=["grp"])
    p = small_pdf.sort_values(["ts", "id"])
    want = p.groupby("grp")["val"].cumsum()
    want.index = p["id"]
    for i in want.index:
        assert _close(got[i], want[i]), (i, got[i], want[i])


def test_percentile_pct_rank(spark, small_sdf, small_pdf):
    got = _tf(spark, small_sdf, "percentile", ["val"])
    want = small_pdf.set_index("id")["val"].rank(pct=True)
    for i in want.index:
        assert _close(got[i], want[i]), (i, got[i], want[i])


def test_rolling_mean_gap(spark, small_sdf, small_pdf):
    got = _tf(spark, small_sdf, "rolling_mean", ["val"], partition=["grp"],
              window_length=4, gap=1, min_periods=2)
    p = small_pdf.sort_values(["ts", "id"])
    def roll(s):
        return s.shift(1).rolling(4, min_periods=2).mean()
    want = p.groupby("grp")["val"].transform(roll)
    want.index = p["id"]
    # pandas counts NaN windows differently: min_periods in pandas counts
    # non-null; our impl counts non-null too (F.count) — compare directly
    for i in want.index:
        assert _close(got[i], want[i], 1e-9), (i, got[i], want[i])


def _agg_parity(spark, small_sdf, small_pdf, prim_name, col, pd_fn, tol=1e-9,
                where=None, cutoff=dt.datetime(2025, 1, 1),
                use_previous=None, sec=None):
    """Aggregate `col` of each grp's rows with prim_name and compare
    with pd_fn over the same rows, sorted by (ts, id): those at or
    before the cutoff (a datetime, or a {grp: datetime} of per-row
    cutoffs), the last use_previous ("<n> observations") of them, and
    of those the rows whose `where` column is True. `sec` names a
    secondary time index over `col`: its value reads NaN where `sec`
    is at or after the cutoff."""
    es = fts.EntitySet("p")
    grps = small_sdf.select(F.col("grp")).distinct()
    es.add_dataframe("grps", grps, index="grp")
    es.add_dataframe("rows", small_sdf, index="id", time_index="ts",
                     secondary_time_index={sec: [col]} if sec else None)
    es.add_relationship("grps", "grp", "rows", "grp")
    feat = AggregationFeature(
        IdentityFeature(es, "rows", col), "grps", prim_name, es=es,
        where=IdentityFeature(es, "rows", where) if where else None,
        use_previous=use_previous,
    )
    cut = cutoff
    if isinstance(cutoff, dict):
        cut = spark.createDataFrame(
            [(int(g), t) for g, t in cutoff.items()],
            "grp long, time timestamp")
    fm = fts.calculate_feature_matrix([feat], es, cutoff_time=cut)
    got = {r["grp"]: r[feat.get_name()] for r in fm.collect()}
    for g, sub in small_pdf.sort_values(["ts", "id"]).groupby("grp"):
        t = cutoff[g] if isinstance(cutoff, dict) else cutoff
        sub = sub[sub["ts"] <= t]
        if use_previous:
            sub = sub.tail(int(use_previous.split()[0]))
        if sec:
            sub = sub.assign(**{col: sub[col].where(sub[sec] < t)})
        if where:
            sub = sub[sub[where] == True]  # noqa: E712 (None is not kept)
        want = pd_fn(sub)
        assert _close(got[g], want, tol), (prim_name, g, got[g], want)


def test_agg_std_ddof0(spark, small_sdf, small_pdf):
    _agg_parity(spark, small_sdf, small_pdf, "std", "val",
                lambda s: np.nanstd(s["val"].values))


def test_agg_skew_pandas(spark, small_sdf, small_pdf):
    _agg_parity(spark, small_sdf, small_pdf, "skew", "val",
                lambda s: s["val"].skew(), tol=1e-7)


def test_agg_kurtosis_pandas(spark, small_sdf, small_pdf):
    _agg_parity(spark, small_sdf, small_pdf, "kurtosis", "val",
                lambda s: s["val"].kurt(), tol=1e-7)


def test_agg_median_mode(spark, small_sdf, small_pdf):
    _agg_parity(spark, small_sdf, small_pdf, "median", "val",
                lambda s: s["val"].median())
    _agg_parity(spark, small_sdf, small_pdf, "mode", "cat",
                lambda s: s["cat"].mode().iloc[0])


def test_agg_entropy_scipy(spark, small_sdf, small_pdf):
    def ent(s):
        c = s["cat"].value_counts().values.astype(float)
        p = c / c.sum()
        return float(-(p * np.log(p)).sum())
    _agg_parity(spark, small_sdf, small_pdf, "entropy", "cat", ent, tol=1e-9)


def test_agg_trend_ols(spark, small_sdf, small_pdf):
    """reference calculate_trend (utils/time_utils.py:111-139): dropna,
    NaN for n<=2, 0 when all x equal, x scaled by the unit dividend of
    the first valid timestamp."""
    def trend(s):
        ok = s["val"].notna() & s["ts"].notna()
        if ok.sum() <= 2:
            return None
        xs = s.loc[ok, "ts"].astype("int64").values / 1e9  # seconds
        y = s.loc[ok, "val"].values
        first = int(xs[0])
        div = next((d for d in (86400, 3600, 60) if first % d == 0), 1)
        x = xs / div
        if len(np.unique(x)) == 1:
            return 0.0
        return float(np.cov(x, y, bias=True)[0, 1] / np.var(x))
    _agg_parity(spark, small_sdf, small_pdf, "trend", "val", trend, tol=1e-6)


def test_agg_consecutive_and_peaks(spark, small_sdf, small_pdf):
    def max_consec_true(s):
        s2 = s.sort_values(["ts", "id"])["flag"].fillna(False)
        best = cur = 0
        for v in s2:
            cur = cur + 1 if v else 0
            best = max(best, cur)
        return float(best) if best else None
    _agg_parity(spark, small_sdf, small_pdf, "max_consecutive_true", "flag",
                max_consec_true)

    def n_peaks(s):
        v = s.sort_values(["ts", "id"])["val"].values
        n = 0
        for i in range(1, len(v) - 1):
            if not (np.isnan(v[i - 1]) or np.isnan(v[i]) or np.isnan(v[i + 1])):
                if v[i] > v[i - 1] and v[i] > v[i + 1]:
                    n += 1
        return n
    # our num_peaks uses lag/lead over nulls-last ordering; NaN neighbors
    # make the comparison null → not counted, same as the loop above
    _agg_parity(spark, small_sdf, small_pdf, "num_peaks", "val", n_peaks)


@pytest.mark.parametrize("per_row", [False, True])
def test_sum_over_cancelling_infinities_is_nan(spark, per_row):
    """SUM over [inf, -inf] is NaN, as in pandas, not the default 0:
    defaults fill NULL (no qualifying rows) and leave a NaN result
    alone. MEAN stays NaN; a user without events gets SUM's default 0
    and a NULL MEAN; NaN inputs are skipped."""
    from featuretools_spark.entityset import EntitySet

    inf, nan, t = float("inf"), float("nan"), dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, t, inf), (2, 1, t, -inf), (3, 2, t, 1.5), (4, 2, t, nan)],
        "event_id long, user_id long, ts timestamp, v double")
    es = EntitySet("nan_sum")
    es.add_dataframe("users", spark.createDataFrame(
        [(1,), (2,), (3,)], "user_id long"), index="user_id")
    es.add_dataframe("events", ev, index="event_id", time_index="ts")
    es.add_relationship("users", "user_id", "events", "user_id")
    v = IdentityFeature(es, "events", "v")
    feats = [AggregationFeature(v, "users", p, es=es)
             for p in ("sum", "mean")]
    cut = t + dt.timedelta(days=1)
    if per_row:
        cut = spark.createDataFrame([(u, cut) for u in (1, 2, 3)],
                                    "user_id long, time timestamp")
    fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cut)
    got = {r["user_id"]: (r["SUM(events.v)"], r["MEAN(events.v)"])
           for r in fm.collect()}
    want = pd.DataFrame({"u": [1, 1, 2, 2], "v": [inf, -inf, 1.5, nan]}) \
        .groupby("u")["v"].agg(["sum", "mean"])
    assert math.isnan(want.loc[1, "sum"]) and math.isnan(got[1][0])
    assert math.isnan(want.loc[1, "mean"]) and math.isnan(got[1][1])
    assert got[2] == (want.loc[2, "sum"], want.loc[2, "mean"]) == (1.5, 1.5)
    assert got[3] == (0.0, None)


# ----------------------------------------------------------------------
# holistic primitives vs pandas loops over each group's rows in (ts, id)
# order, with and without a where mask
# ----------------------------------------------------------------------
@pytest.fixture(scope="module")
def hol_pdf(small_pdf):
    """small_pdf plus `keep`, a where column (True, False or None), and
    `mono`, increasing in time in grp 0, decreasing in grp 1 and
    unordered in grp 2."""
    hours = (small_pdf["ts"] - pd.Timestamp("2024-01-01")).dt.total_seconds() / 3600
    mono = np.select([small_pdf["grp"] == 0, small_pdf["grp"] == 1],
                     [hours, -hours], small_pdf["den"])
    keep = [None if i % 5 == 0 else i % 3 != 0 for i in small_pdf["id"]]
    return small_pdf.assign(keep=pd.Series(keep, dtype=object), mono=mono,
                            res=small_pdf["ts"] + pd.to_timedelta(
                                small_pdf["id"] % 3, unit="D"))


@pytest.fixture(scope="module")
def hol_sdf(spark, hol_pdf):
    return spark.createDataFrame(hol_pdf).cache()


def _runs(flags):
    """Longest run of True in `flags`; a False or a null breaks a run."""
    best = cur = 0
    for f in flags:
        cur = cur + 1 if f is True or f is np.True_ else 0
        best = max(best, cur)
    return best


def _since_last(b, hit):
    """Rows with b == hit after the last row with b != hit."""
    n = 0
    for v in b:
        n = n + 1 if v == hit else 0
    return n


def _adjacent(v):
    """Consecutive pairs (prev, cur) of v, both non-null."""
    return [(a, c) for a, c in zip(v[:-1], v[1:])
            if not (np.isnan(a) or np.isnan(c))]


def _monotone(v, ok):
    if len(v) == 0:
        return None  # no rows: the default, NaN
    return all(ok(a, c) for a, c in _adjacent(v))


def _vs_mean(v, below):
    m = np.nanmean(v) if np.isfinite(v).any() else np.nan
    return (v < m) if below else (v > m)


_HOLISTIC = {
    "max_consecutive_true": ("flag", lambda s: _runs(
        [bool(x) for x in s["flag"]])),
    "max_consecutive_false": ("flag", lambda s: _runs(
        [not x for x in s["flag"]])),
    "max_consecutive_positives": ("val", lambda s: _runs(
        list(s["val"].values > 0))),
    "max_consecutive_negatives": ("den", lambda s: _runs(
        list(s["den"].values < 0))),
    "max_consecutive_zeros": ("den", lambda s: _runs(
        list(s["den"].values == 0))),
    "num_true_since_last_false": ("flag", lambda s: _since_last(
        list(s["flag"]), True)),
    "num_false_since_last_true": ("flag", lambda s: _since_last(
        list(s["flag"]), False)),
    # the mean comparisons read den, whose small integer sums are exact:
    # val's grp-0 mean lies within an ulp of one of its values, and
    # pandas and Spark sum in different orders
    "num_consecutive_greater_mean": ("den", lambda s: _runs(
        list(_vs_mean(s["den"].values, False)))),
    "num_consecutive_less_mean": ("den", lambda s: _runs(
        list(_vs_mean(s["den"].values, True)))),
    "count_below_mean": ("den", lambda s: float(
        _vs_mean(s["den"].values, True).sum())),
    "min_count": ("den", lambda s: int(
        (s["den"] == s["den"].min()).sum())),
    "median_count": ("den", lambda s: int(
        (s["den"] == s["den"].median()).sum())),
    "count_inside_nth_std": ("val", lambda s: int(
        ((s["val"] - s["val"].mean()).abs() <= s["val"].std(ddof=0)).sum())),
    "count_outside_nth_std": ("val", lambda s: int(
        ((s["val"] - s["val"].mean()).abs() > s["val"].std(ddof=0)).sum())),
    "is_monotonically_increasing": ("mono", lambda s: _monotone(
        s["mono"].values, lambda a, c: c >= a)),
    "is_monotonically_decreasing": ("mono", lambda s: _monotone(
        s["mono"].values, lambda a, c: c <= a)),
    "num_zero_crossings": ("val", lambda s: sum(
        np.sign(a) * np.sign(c) < 0 for a, c in _adjacent(s["val"].values))),
}


@pytest.mark.parametrize("where", [None, "keep"])
@pytest.mark.parametrize("prim_name", sorted(_HOLISTIC))
def test_agg_holistic_parity(spark, hol_sdf, hol_pdf, prim_name, where):
    col, fn = _HOLISTIC[prim_name]
    _agg_parity(spark, hol_sdf, hol_pdf, prim_name, col, fn, where=where)


def test_agg_holistic_per_row_cutoffs(spark, hol_sdf, hol_pdf):
    col, fn = _HOLISTIC["max_consecutive_positives"]
    _agg_parity(spark, hol_sdf, hol_pdf, "max_consecutive_positives", col,
                fn, where="keep", cutoff={0: dt.datetime(2024, 1, 5),
                                          1: dt.datetime(2024, 1, 9),
                                          2: dt.datetime(2024, 1, 12)})


@pytest.mark.parametrize("prim_name", ["is_monotonically_increasing",
                                       "max_consecutive_true"])
def test_agg_holistic_where_without_rows(spark, hol_sdf, hol_pdf,
                                         prim_name):
    """Each grp's cutoff falls just before its first row inside the
    where: it has rows, none of them kept, and reads the default."""
    first = hol_pdf[hol_pdf["keep"] == True].groupby("grp")["ts"].min()  # noqa: E712
    cut = {g: (t - pd.Timedelta(seconds=1)).to_pydatetime()
           for g, t in first.items()}
    assert all(((hol_pdf["grp"] == g) & (hol_pdf["ts"] <= t)).any()
               for g, t in cut.items())
    col, fn = _HOLISTIC[prim_name]
    _agg_parity(spark, hol_sdf, hol_pdf, prim_name, col, fn, where="keep",
                cutoff=cut)


def test_agg_holistic_secondary_time_index(spark, hol_sdf, hol_pdf):
    col, fn = _HOLISTIC["num_consecutive_greater_mean"]
    _agg_parity(spark, hol_sdf, hol_pdf, "num_consecutive_greater_mean",
                col, fn, cutoff=dt.datetime(2024, 1, 8), sec="res")


def test_agg_holistic_use_previous_observations(spark, hol_sdf, hol_pdf):
    col, fn = _HOLISTIC["num_true_since_last_false"]
    _agg_parity(spark, hol_sdf, hol_pdf, "num_true_since_last_false", col,
                fn, where="keep", cutoff=dt.datetime(2024, 1, 9),
                use_previous="5 observations")
