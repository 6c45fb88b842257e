"""Aggregation primitive library.

Parity targets are the reference's pandas/numpy kernels
(featuretools/primitives/standard/aggregation/*, one class per file —
see SURVEY.md §2.4 for the file:line map). Every primitive here is a
single Catalyst aggregate expression where possible (fast path =
reference's `to_agg`, feature_set_calculator.py:713-746); holistic
ones (mode / entropy / *_count / runs / peaks, the analog of
`to_apply`, fsc.py:748-772) reduce a shared counts frame or window
columns over the child rows — still pure JVM, no Python UDFs.

Parity details handled (SURVEY §7.4): np.std/var are population
(ddof=0) → stddev_pop/var_pop; pandas skew/kurtosis are
bias-corrected → closed-form corrections over Spark's population
moments; mode ties break to the smallest value (pandas order).
"""

from __future__ import annotations

from pyspark.sql import Column, Window as W
from pyspark.sql import functions as F

from featuretools_spark.primitives.base import (
    AggContext,
    AggregationPrimitive,
    agg_primitive,
)


# ----------------------------------------------------------------------
# basic statistics (reference: count.py:8, sum_primitive.py:8, mean.py:7,
# min/max_primitive.py:7, median.py:7, std.py:7, variance.py:29)
# ----------------------------------------------------------------------
@agg_primitive
class Count(AggregationPrimitive):
    name = "count"
    input_kinds = ("index",)
    default_value = 0

    def expr(self, inputs, ctx):
        # the index is unique + non-null by EntitySet contract, so an
        # unmasked COUNT needs no column at all — the engine passes
        # inputs=[] then, letting Catalyst prune the (often string)
        # index column out of the scan entirely. WHERE / secondary-TI
        # masks arrive as when()-wrapped inputs and keep the column.
        return F.count(inputs[0]) if inputs else F.count(F.lit(1))


@agg_primitive
class Sum(AggregationPrimitive):
    name = "sum"
    default_value = 0
    commutative = True

    def expr(self, inputs, ctx):
        return F.sum(inputs[0])


@agg_primitive
class Mean(AggregationPrimitive):
    name = "mean"

    def expr(self, inputs, ctx):
        return F.avg(inputs[0])


@agg_primitive
class Min(AggregationPrimitive):
    name = "min"

    def expr(self, inputs, ctx):
        return F.min(inputs[0])


@agg_primitive
class Max(AggregationPrimitive):
    name = "max"

    def expr(self, inputs, ctx):
        return F.max(inputs[0])


@agg_primitive
class Median(AggregationPrimitive):
    name = "median"

    def expr(self, inputs, ctx):
        # exact (reference uses pandas .median); Spark median() is exact
        return F.median(inputs[0])


@agg_primitive
class Std(AggregationPrimitive):
    name = "std"

    def expr(self, inputs, ctx):
        # reference std.py uses np.std = population ddof=0
        return F.stddev_pop(inputs[0])


@agg_primitive
class Variance(AggregationPrimitive):
    name = "variance"

    def expr(self, inputs, ctx):
        return F.var_pop(inputs[0])


@agg_primitive
class Skew(AggregationPrimitive):
    name = "skew"

    def expr(self, inputs, ctx):
        # pandas sample skew G1 = g1 * sqrt(n(n-1)) / (n-2);
        # Spark skewness() = population g1. Undefined for n<3 or var=0.
        x = inputs[0]
        n = F.count(x).cast("double")
        g1 = F.skewness(x)
        corr = F.sqrt(n * (n - F.lit(1.0))) / (n - F.lit(2.0))
        return F.when(n >= 3, g1 * corr)


@agg_primitive
class Kurtosis(AggregationPrimitive):
    name = "kurtosis"

    def expr(self, inputs, ctx):
        # pandas kurt (bias-corrected excess):
        # G2 = ((n+1)*g2 + 6) * (n-1) / ((n-2)(n-3)), g2 = population excess
        x = inputs[0]
        n = F.count(x).cast("double")
        g2 = F.kurtosis(x)
        num = ((n + 1) * g2 + 6) * (n - 1)
        den = (n - 2) * (n - 3)
        return F.when(n >= 4, num / den)


@agg_primitive
class NumUnique(AggregationPrimitive):
    name = "num_unique"
    input_kinds = ("category",)
    return_kind = "numeric"

    def expr(self, inputs, ctx):
        # exact distinct (reference nunique), NOT approx — parity
        return F.count_distinct(inputs[0])


# ----------------------------------------------------------------------
# boolean aggregates (any/all/num_true/percent_true)
# ----------------------------------------------------------------------
@agg_primitive
class Any(AggregationPrimitive):
    name = "any"
    input_kinds = ("boolean",)
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.max(inputs[0].cast("boolean"))


@agg_primitive
class All(AggregationPrimitive):
    name = "all"
    input_kinds = ("boolean",)
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.min(inputs[0].cast("boolean"))


@agg_primitive
class NumTrue(AggregationPrimitive):
    name = "num_true"
    input_kinds = ("boolean",)
    default_value = 0

    def expr(self, inputs, ctx):
        return F.sum(inputs[0].cast("int"))


@agg_primitive
class PercentTrue(AggregationPrimitive):
    name = "percent_true"
    input_kinds = ("boolean",)

    def fill_nulls(self, value):
        # reference fillna(False) first: NULL counts as False
        return F.coalesce(value.cast("boolean"), F.lit(False))

    def expr(self, inputs, ctx):
        return F.avg(inputs[0].cast("boolean").cast("int"))


# ----------------------------------------------------------------------
# order statistics in time order (first/last — reference first.py:12,
# last.py:12 take iloc[0]/iloc[-1] of the time-sorted group)
# ----------------------------------------------------------------------
@agg_primitive
class First(AggregationPrimitive):
    name = "first"
    uses_time_index = True
    input_kinds = ("any",)
    return_kind = "same"

    def expr(self, inputs, ctx):
        return F.min_by(inputs[0], ctx.time)


@agg_primitive
class Last(AggregationPrimitive):
    name = "last"
    uses_time_index = True
    input_kinds = ("any",)
    return_kind = "same"

    def expr(self, inputs, ctx):
        return F.max_by(inputs[0], ctx.time)


# ----------------------------------------------------------------------
# time aggregates (uses_calc_time family — reference time_since_last.py:8
# etc.; cutoff is just a column in our engine so these are one-pass)
# ----------------------------------------------------------------------
def _ts_sec(c: Column) -> Column:
    """Epoch seconds from any timestamp flavor (NTZ-safe) or numeric."""
    return c.cast("timestamp").cast("double")


def _seconds_between(later: Column, earlier: Column) -> Column:
    # integer-micros difference, then ONE division — bit-identical to
    # SQL (epoch_us(a) - epoch_us(b)) / 1e6 (oracle parity; a double
    # cast per operand rounds twice and differs in the last ULP)
    return (
        F.unix_micros(later.cast("timestamp"))
        - F.unix_micros(earlier.cast("timestamp"))
    ) / F.lit(1e6)


@agg_primitive
class TimeSinceLast(AggregationPrimitive):
    name = "time_since_last"
    uses_calc_time = True
    uses_time_index = True
    input_kinds = ()

    def expr(self, inputs, ctx):
        return _seconds_between(ctx.cutoff, F.max(ctx.time))


@agg_primitive
class TimeSinceFirst(AggregationPrimitive):
    name = "time_since_first"
    uses_calc_time = True
    uses_time_index = True
    input_kinds = ()

    def expr(self, inputs, ctx):
        return _seconds_between(ctx.cutoff, F.min(ctx.time))


@agg_primitive
class TimeSinceLastTrue(AggregationPrimitive):
    name = "time_since_last_true"
    uses_calc_time = True
    uses_time_index = True
    input_kinds = ("boolean",)

    def expr(self, inputs, ctx):
        return _seconds_between(
            ctx.cutoff, F.max(F.when(inputs[0].cast("boolean"), ctx.time))
        )


@agg_primitive
class TimeSinceLastFalse(AggregationPrimitive):
    name = "time_since_last_false"
    uses_calc_time = True
    uses_time_index = True
    input_kinds = ("boolean",)

    def expr(self, inputs, ctx):
        return _seconds_between(
            ctx.cutoff, F.max(F.when(~inputs[0].cast("boolean"), ctx.time))
        )


@agg_primitive
class TimeSinceLastMax(AggregationPrimitive):
    name = "time_since_last_max"
    uses_calc_time = True
    uses_time_index = True

    def expr(self, inputs, ctx):
        return _seconds_between(ctx.cutoff, F.max_by(ctx.time, inputs[0]))


@agg_primitive
class TimeSinceLastMin(AggregationPrimitive):
    name = "time_since_last_min"
    uses_calc_time = True
    uses_time_index = True

    def expr(self, inputs, ctx):
        return _seconds_between(ctx.cutoff, F.min_by(ctx.time, inputs[0]))


@agg_primitive
class AvgTimeBetween(AggregationPrimitive):
    name = "avg_time_between"
    uses_time_index = True
    input_kinds = ()

    def expr(self, inputs, ctx):
        n = F.count(ctx.time)
        span = _seconds_between(F.max(ctx.time), F.min(ctx.time))
        return F.when(n > 1, span / (n - 1).cast("double"))


@agg_primitive
class FirstLastTimeDelta(AggregationPrimitive):
    name = "first_last_time_delta"
    uses_time_index = True
    input_kinds = ()

    def expr(self, inputs, ctx):
        return _seconds_between(F.max(ctx.time), F.min(ctx.time))


@agg_primitive
class DateFirstEvent(AggregationPrimitive):
    name = "date_first_event"
    uses_time_index = True
    input_kinds = ()
    return_kind = "datetime"

    def expr(self, inputs, ctx):
        return F.min(ctx.time)


# ----------------------------------------------------------------------
# threshold counts (count_greater_than.py:7 family)
# ----------------------------------------------------------------------
class _ThresholdCount(AggregationPrimitive):
    default_value = 0

    def __init__(self, threshold=0):
        self.threshold = threshold

    def display_name(self):
        return f"{self.name.upper()}"


@agg_primitive
class CountGreaterThan(_ThresholdCount):
    name = "count_greater_than"

    def expr(self, inputs, ctx):
        return F.count(F.when(inputs[0] > self.threshold, 1))


@agg_primitive
class CountLessThan(_ThresholdCount):
    name = "count_less_than"

    def expr(self, inputs, ctx):
        return F.count(F.when(inputs[0] < self.threshold, 1))


@agg_primitive
class CountInsideRange(AggregationPrimitive):
    name = "count_inside_range"
    default_value = 0

    def __init__(self, lower=0, upper=1):
        self.lower, self.upper = lower, upper

    def expr(self, inputs, ctx):
        x = inputs[0]
        return F.count(F.when((x >= self.lower) & (x <= self.upper), 1))


@agg_primitive
class CountOutsideRange(AggregationPrimitive):
    name = "count_outside_range"
    default_value = 0

    def __init__(self, lower=0, upper=1):
        self.lower, self.upper = lower, upper

    def expr(self, inputs, ctx):
        x = inputs[0]
        return F.count(F.when((x < self.lower) | (x > self.upper), 1))


# ----------------------------------------------------------------------
# single-pass derived stats
# ----------------------------------------------------------------------
@agg_primitive
class MaxMinDelta(AggregationPrimitive):
    name = "max_min_delta"

    def expr(self, inputs, ctx):
        return F.max(inputs[0]) - F.min(inputs[0])


@agg_primitive
class AverageCountPerUnique(AggregationPrimitive):
    name = "average_count_per_unique"
    input_kinds = ("category",)

    def expr(self, inputs, ctx):
        return F.count(inputs[0]).cast("double") / F.count_distinct(inputs[0])


@agg_primitive
class PercentUnique(AggregationPrimitive):
    name = "percent_unique"
    input_kinds = ("category",)

    def expr(self, inputs, ctx):
        return F.count_distinct(inputs[0]).cast("double") / F.count(inputs[0])


@agg_primitive
class HasNoDuplicates(AggregationPrimitive):
    name = "has_no_duplicates"
    input_kinds = ("any",)
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.count_distinct(inputs[0]) == F.count(inputs[0])


@agg_primitive
class IsUnique(AggregationPrimitive):
    name = "is_unique"
    input_kinds = ("category",)
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.count_distinct(inputs[0]) == F.count(inputs[0])


@agg_primitive
class NUniqueDays(AggregationPrimitive):
    name = "n_unique_days"
    input_kinds = ("datetime",)

    def expr(self, inputs, ctx):
        return F.count_distinct(F.to_date(inputs[0]))


@agg_primitive
class NUniqueWeeks(AggregationPrimitive):
    name = "n_unique_weeks"
    input_kinds = ("datetime",)

    def expr(self, inputs, ctx):
        # ISO year+week, matching pandas Period('W') distinctness
        return F.count_distinct(
            F.date_trunc("week", inputs[0])
        )


@agg_primitive
class NUniqueMonths(AggregationPrimitive):
    name = "n_unique_months"
    input_kinds = ("datetime",)

    def expr(self, inputs, ctx):
        return F.count_distinct(F.date_trunc("month", inputs[0]))


@agg_primitive
class NUniqueDaysOfMonth(AggregationPrimitive):
    name = "n_unique_days_of_month"
    input_kinds = ("datetime",)

    def expr(self, inputs, ctx):
        return F.count_distinct(F.dayofmonth(inputs[0]))


@agg_primitive
class NUniqueDaysOfCalendarYear(AggregationPrimitive):
    name = "n_unique_days_of_calendar_year"
    input_kinds = ("datetime",)

    def expr(self, inputs, ctx):
        return F.count_distinct(F.dayofyear(inputs[0]))


# ----------------------------------------------------------------------
# trend (reference trend.py:9,29): OLS slope of value vs time where
# datetime time is converted to fractional days since epoch
# (utils/time_utils.py:111-140). Closed form via population moments —
# one pass, no UDF.
# ----------------------------------------------------------------------
@agg_primitive
class Trend(AggregationPrimitive):
    """OLS slope of value over time — reference calculate_trend
    (utils/time_utils.py:111-139) semantics exactly: pairs dropna'd,
    NaN for n <= 2, 0 when every x is equal, and x scaled by a
    data-dependent unit chosen from the FIRST valid timestamp
    (find_dividend_by_unit: whole days -> days, whole hours -> hours,
    whole minutes -> minutes, else seconds)."""

    name = "trend"
    uses_time_index = True

    def expr(self, inputs, ctx):
        y = inputs[0].cast("double")
        xs = _ts_sec(ctx.time)  # epoch seconds, fractional
        valid = y.isNotNull() & xs.isNotNull()
        xv = F.when(valid, xs)
        yv = F.when(valid, y)
        n = F.count(xv)
        cov = F.covar_pop(xv, yv)
        var = F.var_pop(xv)
        # frames are time-sorted, so the first valid x is the min
        first_i = F.floor(F.min(xv)).cast("long")
        div = (
            F.when(F.pmod(first_i, F.lit(86400)) == 0, F.lit(86400.0))
            .when(F.pmod(first_i, F.lit(3600)) == 0, F.lit(3600.0))
            .when(F.pmod(first_i, F.lit(60)) == 0, F.lit(60.0))
            .otherwise(F.lit(1.0))
        )
        return (
            F.when(n <= 2, F.lit(None).cast("double"))
            .when(var == 0, F.lit(0.0))
            .otherwise(cov / var * div)
        )


# ----------------------------------------------------------------------
# holistic primitives (strategy "twostage"), in one of two forms the
# as-of engine batches (asof._aggregate_rows):
#   "counts": mode / n_most_common / n_most_common_frequency / entropy
#     reduce one ranked per-(key, value) counts frame (counts_agg), one
#     subplan per distinct (input, mask). Reference: mode.py:7,
#     n_most_common.py:7, entropy.py:7.
#   "flag": window columns over the child rows plus one aggregate in
#     the engine's main groupBy (flag_parts). Reference:
#     count_above_mean.py:8 ...
# ----------------------------------------------------------------------
@agg_primitive
class Mode(AggregationPrimitive):
    name = "mode"
    input_kinds = ("category",)
    return_kind = "same"
    strategy = "twostage"
    batch_family = "counts"

    def counts_agg(self, vcol, out_name):
        # _rn == 1 is unique per key, so max() just picks that value
        # (type-preserving for any orderable input)
        return F.max(F.when(F.col("_rn") == 1, F.col(vcol))).alias(out_name)


@agg_primitive
class NMostCommon(AggregationPrimitive):
    name = "n_most_common"
    input_kinds = ("category",)
    return_kind = "list"
    strategy = "twostage"
    batch_family = "counts"

    def __init__(self, n=3):
        self.n = n

    def counts_agg(self, vcol, out_name):
        # collect_list skips the nulls the when() leaves for _rn > n
        pairs = F.array_sort(F.collect_list(
            F.when(F.col("_rn") <= self.n,
                   F.struct(F.col("_rn"), F.col(vcol).alias("val")))
        ))
        return F.transform(pairs, lambda p: p["val"]).alias(out_name)


@agg_primitive
class Entropy(AggregationPrimitive):
    name = "entropy"
    input_kinds = ("category",)
    strategy = "twostage"
    batch_family = "counts"

    def counts_agg(self, vcol, out_name):
        # H = ln n - (1/n) Σ c ln c  (scipy.stats.entropy on counts)
        n = F.sum("_cnt").cast("double")
        clogc = F.sum(F.col("_cnt") * F.log(F.col("_cnt").cast("double")))
        return (F.log(n) - clogc / n).alias(out_name)


class _Flag(AggregationPrimitive):
    strategy = "twostage"
    batch_family = "flag"
    default_value = 0


class _CountVsGroupStat(_Flag):
    _cmp = None  # "above" | "below"

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        v = v.cast("double")
        stat = F.avg(v).over(wk)
        flag = (v > stat) if self._cmp == "above" else (v < stat)
        c = f"_bf_{uid}"
        return {c: flag}, F.count(F.when(F.col(c), 1)).cast("double")


@agg_primitive
class CountAboveMean(_CountVsGroupStat):
    name = "count_above_mean"
    _cmp = "above"


@agg_primitive
class CountBelowMean(_CountVsGroupStat):
    name = "count_below_mean"
    _cmp = "below"


class _ExtremumCount(_Flag):
    _which = "max"

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        if self._which == "max":
            target = F.max(v).over(wk)
        elif self._which == "min":
            target = F.min(v).over(wk)
        else:
            target = F.median(v).over(wk)
        c = f"_bf_{uid}"
        return {c: v == target}, F.count(F.when(F.col(c), 1))


@agg_primitive
class MaxCount(_ExtremumCount):
    name = "max_count"
    _which = "max"


@agg_primitive
class MinCount(_ExtremumCount):
    name = "min_count"
    _which = "min"


@agg_primitive
class MedianCount(_ExtremumCount):
    name = "median_count"
    _which = "median"


@agg_primitive
class CountInsideNthSTD(_Flag):
    name = "count_inside_nth_std"

    def __init__(self, n=1):
        self.n = n

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        v = v.cast("double")
        mu, sd = F.avg(v).over(wk), F.stddev_pop(v).over(wk)
        c = f"_bf_{uid}"
        inside = F.abs(v - mu) <= F.lit(float(self.n)) * sd
        return {c: inside}, F.count(F.when(F.col(c), 1))


@agg_primitive
class CountOutsideNthSTD(_Flag):
    name = "count_outside_nth_std"

    def __init__(self, n=1):
        self.n = n

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        v = v.cast("double")
        mu, sd = F.avg(v).over(wk), F.stddev_pop(v).over(wk)
        c = f"_bf_{uid}"
        outside = F.abs(v - mu) > F.lit(float(self.n)) * sd
        return {c: outside}, F.count(F.when(F.col(c), 1))


# ----------------------------------------------------------------------
# time-ordered sequence aggregates: flags over the time-ordered window
# wo (lag/lead, running max). Reference is_monotonically_increasing.py:7,
# max_consecutive_true.py:7, num_peaks.py:9, num_zero_crossings.py:8.
# ----------------------------------------------------------------------
class _Ordered(_Flag):
    uses_time_index = True


@agg_primitive
class IsMonotonicallyIncreasing(_Ordered):
    name = "is_monotonically_increasing"
    return_kind = "boolean"
    default_value = None

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        v = v.cast("double")
        c = f"_bf_{uid}"
        return {c: v - F.lag(v).over(wo)}, F.coalesce(
            F.min(F.col(c) >= 0), F.lit(True))


@agg_primitive
class IsMonotonicallyDecreasing(_Ordered):
    name = "is_monotonically_decreasing"
    return_kind = "boolean"
    default_value = None

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        v = v.cast("double")
        c = f"_bf_{uid}"
        return {c: v - F.lag(v).over(wo)}, F.coalesce(
            F.min(F.col(c) <= 0), F.lit(True))


class _MaxConsecutive(_Ordered):
    """The longest run of consecutive rows whose _flag is true, in wo's
    order: a row's run length is its row number minus that of the last
    break (a false or null flag) at or before it."""

    def _flag(self, v, wk):
        raise NotImplementedError

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        f, r, n = f"_bf_{uid}", f"_bf_{uid}r", f"_bf_{uid}n"
        last_break = F.max(F.when(~F.coalesce(F.col(f), F.lit(False)),
                                  F.col(r))).over(
            wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        run = F.when(F.col(f), F.col(r) - F.coalesce(last_break, F.lit(0)))
        return ({f: self._flag(v, wk), r: F.row_number().over(wo), n: run},
                F.max(F.col(n)).cast("long"))


@agg_primitive
class MaxConsecutiveTrue(_MaxConsecutive):
    name = "max_consecutive_true"

    def _flag(self, v, wk):
        return F.coalesce(v.cast("boolean"), F.lit(False))


@agg_primitive
class MaxConsecutiveFalse(_MaxConsecutive):
    name = "max_consecutive_false"

    def _flag(self, v, wk):
        return ~F.coalesce(v.cast("boolean"), F.lit(True))


@agg_primitive
class MaxConsecutivePositives(_MaxConsecutive):
    name = "max_consecutive_positives"

    def _flag(self, v, wk):
        return v > 0


@agg_primitive
class MaxConsecutiveNegatives(_MaxConsecutive):
    name = "max_consecutive_negatives"

    def _flag(self, v, wk):
        return v < 0


@agg_primitive
class MaxConsecutiveZeros(_MaxConsecutive):
    name = "max_consecutive_zeros"

    def _flag(self, v, wk):
        return v == 0


@agg_primitive
class NumPeaks(_Ordered):
    name = "num_peaks"

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        v = v.cast("double")
        prev, nxt = F.lag(v).over(wo), F.lead(v).over(wo)
        c = f"_bf_{uid}"
        return {c: (v > prev) & (v > nxt)}, F.count(F.when(F.col(c), 1))


@agg_primitive
class NumZeroCrossings(_Ordered):
    name = "num_zero_crossings"

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        sign = F.signum(v.cast("double"))
        prev = F.lag(sign).over(wo)
        c = f"_bf_{uid}"
        crossing = sign.isNotNull() & prev.isNotNull() & (sign * prev < 0)
        return {c: crossing}, F.count(F.when(F.col(c), 1))


class _NumSinceLast(_Ordered):
    input_kinds = ("boolean",)
    _count = True  # count true rows after the last false, or vice versa

    def flag_parts(self, v, out_name, ctx, wk, wo, uid):
        b = F.coalesce(v.cast("boolean"), F.lit(False))
        hit = b if self._count else ~b
        last = F.max(F.when(~hit, ctx.time)).over(wk)
        c = f"_bf_{uid}"
        return ({c: hit & (last.isNull() | (ctx.time > last))},
                F.count(F.when(F.col(c), 1)))


@agg_primitive
class NumTrueSinceLastFalse(_NumSinceLast):
    name = "num_true_since_last_false"
    _count = True


@agg_primitive
class NumFalseSinceLastTrue(_NumSinceLast):
    name = "num_false_since_last_true"
    _count = False


@agg_primitive
class NMostCommonFrequency(AggregationPrimitive):
    name = "n_most_common_frequency"
    input_kinds = ("category",)
    return_kind = "list"
    strategy = "twostage"
    batch_family = "counts"

    def __init__(self, n=3):
        self.n = n

    def counts_agg(self, vcol, out_name):
        pairs = F.array_sort(F.collect_list(
            F.when(F.col("_rn") <= self.n,
                   F.struct(F.col("_rn"), F.col("_cnt").alias("c")))
        ))
        return F.transform(pairs, lambda p: p["c"]).alias(out_name)


class _NumConsecutiveVsMean(_MaxConsecutive):
    _cmp = "greater"

    def _flag(self, v, wk):
        v = v.cast("double")
        mean = F.avg(v).over(wk)
        return (v > mean) if self._cmp == "greater" else (v < mean)


@agg_primitive
class NumConsecutiveGreaterMean(_NumConsecutiveVsMean):
    name = "num_consecutive_greater_mean"
    _cmp = "greater"


@agg_primitive
class NumConsecutiveLessMean(_NumConsecutiveVsMean):
    name = "num_consecutive_less_mean"
    _cmp = "less"
