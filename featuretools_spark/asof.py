"""The as-of kernel: per-(instance, cutoff) point-in-time aggregation.

This is the throughput-critical redesign of the reference's
`calculate_feature_matrix` cutoff loop (calculate_feature_matrix.py:
437-506 re-filters the whole EntitySet once per unique cutoff time —
O(#cutoffs) passes). We do ONE pass, with two physical evaluators,
both pure JVM (no row crosses into Python). cfm._aggregate_group picks
one per feature group; nothing here routes.

The join (_aggregate_rows; whole-stage codegen): one aggregation body
over the child rows visible at each cutoff, in one of two key shapes
the caller builds:
    - a scalar cutoff (every group, whatever the strategy): the child
      rows filtered once by the time predicate against the literal,
      grouped by the entity key with map-side partial aggregation,
      then left-joined onto the instance keys (the reference's scalar
      "tuple path", cfm.py:399-432);
    - per-row cutoffs (cfm._aggregate_keyed): the cutoff rows LEFT-
      joined with the events on the entity key, the time predicate a
      join condition (a cutoff without events is one null-extended
      row), grouped back per cutoff row. Per-entity work is
      |events(entity)| x |cutoffs(entity)|: optimal when cutoffs per
      entity are few (the common backfill shape: 1-10 label times).
    Time predicates follow the reference's _handle_time
    (entityset.py:1407-1457, _pit_mask): include_cutoff_time=True →
    t <= cutoff, window t > cutoff-w; False → t < cutoff, window
    t >= cutoff-w.

The running windows (_asof_sortmerge; per-row cutoffs only): union
events with one MARKER row per cutoff, hash-partition on the entity
key and sort within partitions by (key, time, tiebreak): one Exchange,
one Sort. Markers sort into the event stream at their cutoffs, so each
primitive is finalized from a few running window aggregates (its
_PARTIALS: counts, sums, variance, min/max, first/last valid value and
time) read at the marker rows. O(events + cutoffs) instead of the
join's events x cutoffs. Only a strategy="sortmerge" group that is
unbounded (no training window, no use_previous), over one hop, with
inputs that do not vary per cutoff runs here, and only its specs a
running window computes (_split_kernel_specs); the rest of the group
runs on the join and merges back on (instance, cutoff). Both give the
same schema (_output_type).
    Skew note: a hot entity stays in one partition, its events and
    markers one sorted block. Measured at 2M events with one entity
    holding 50% or 10% of them, the windows still beat the join at 64
    cutoffs per entity and lose to it at 4 (ROADMAP item 5); hashing
    the hot entity into sub-streams lost to the better of the two at
    every shape. On the join, AQE's skew join splits the hot key.

Both evaluators read child rows whose float/double value columns have
NaN mapped to null (_nan_to_null), so NaN is skipped the way pandas
(the reference) skips it. Both return one row per cutoff row, with
primitive default values filled for instances that have no qualifying
events.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featuretools_spark.primitives.base import AggContext, AggregationPrimitive
from featuretools_spark.timedelta import Timedelta

CUTOFF_COL = "_ft_cutoff"


@dataclass
class AggSpec:
    out_name: str
    primitive: AggregationPrimitive
    input_cols: list  # value column names on the child frame
    where_col: str | None = None  # boolean column on the child frame
    # secondary-time-index mask: value columns are NULL where
    # sec_time >= cutoff (reference entityset.py:1450-1455)
    sec_time_col: str | None = None


def _pit_mask(time_col: Column, cutoff: Column, include_cutoff_time: bool,
              training_window: Timedelta | None, lti: Column | None = None
              ) -> Column:
    """Column-expression form of the reference's _handle_time row filter
    (entityset.py:1407-1447): keep t <= cutoff (or <), and inside the
    training window — where a row's last_time_index falling in the
    window also keeps it (child activity makes the row 'current')."""
    pred = time_col <= cutoff if include_cutoff_time else time_col < cutoff
    if training_window is not None:
        start = training_window.subtract_from(cutoff)
        wmask = time_col > start if include_cutoff_time else time_col >= start
        if lti is not None:
            lmask = lti > start if include_cutoff_time else lti >= start
            wmask = wmask | lmask
        pred = pred & wmask
    return pred


def _wrap_where(col: Column, where: Column | None) -> Column:
    return F.when(where, col) if where is not None else col


def _spec_input(col: Column, s: AggSpec, cutoff: Column) -> Column:
    """`col` as spec `s` aggregates it. A secondary-time-index mask
    nulls the value (reference entityset.py:1450-1455), the primitive
    fills nulls (percent_true's fillna(False)), and a where mask then
    removes the row: a null every aggregate skips."""
    if s.sec_time_col:
        col = F.when(F.col(s.sec_time_col) < cutoff, col)
    return _wrap_where(s.primitive.fill_nulls(col),
                       F.col(s.where_col) if s.where_col else None)


def _nan_to_null(child: DataFrame, specs: list[AggSpec]) -> DataFrame:
    """NaN -> null in the float/double columns the specs read, so every
    evaluator skips NaN the way pandas (the reference) does; Spark's
    aggregates would otherwise propagate it (sum NaN, max NaN)."""
    read = {c for s in specs
            if not getattr(s.primitive, "reads_partials", False)
            for c in s.input_cols}
    fixes = {
        c: F.nanvl(F.col(c), F.lit(None).cast(t))
        for c, t in child.dtypes if c in read and t in ("float", "double")
    }
    return child.withColumns(fixes) if fixes else child


def _aggregate_rows(rows, group, cut, present, time_col, specs,
                    n_observations=None, carry=(), onto=None):
    """One output row per cutoff row from `rows`, the child rows visible
    at their cutoffs, NaN already mapped to null (_nan_to_null). Every
    as-of aggregation on the join path runs here, at both cutoff forms.

    group: (column of rows, output name) pairs that identify a cutoff
    row; cut: the cutoff as a Column of rows (a literal at a scalar
    cutoff); carry: (column, output name) pairs of further cutoff-row
    columns, each the same on every row of a group, kept as they are:
    a fixed-width value through a first(), any other value as one more
    grouping key (a first() over a string makes the aggregate
    sort-based). The counts subplans group and join on `group` alone,
    so a null carry value joins like any other. present names
    a child column that is null exactly on a cutoff row without child
    rows — `rows` is then a LEFT join of the cutoff rows with their
    child rows and its groups are the full cutoff set. present=None
    says `rows` holds no null-extended rows: the result attaches to
    `onto`, the cutoff frame, by left joins on the output names, every
    column kept.
    Returns the group and carry columns (or onto's) plus one column per
    spec, defaults filled."""
    gcols = [F.col(c) for c, _ in group]
    keys = [n for _, n in group]
    # each holistic primitive has one of two forms: "counts" (mode /
    # n_most_common / entropy) reduce one shared per-(key, value)
    # counts subplan per distinct (input, mask); every other one is a
    # "flag": window columns over the rows and one aggregate in the
    # main groupBy (zero extra joins)
    expr_specs = [s for s in specs if s.primitive.strategy == "expr"]
    counts_specs = [s for s in specs
                    if s.primitive.batch_family == "counts"]
    flag_specs = [s for s in specs if s.primitive.strategy != "expr"
                  and s.primitive.batch_family != "counts"]

    def sec_mask(s):
        # secondary-time-index mask (reference entityset.py:1450-1455):
        # values are NULL until their governing time has passed
        return F.col(s.sec_time_col) < cut if s.sec_time_col else None

    def spec_mask(s):
        m = F.col(s.where_col) if s.where_col else None
        if s.sec_time_col:
            m = sec_mask(s) if m is None else (m & sec_mask(s))
        return m

    if n_observations is not None:
        # use_previous in observations: last-n child rows per cutoff
        w = W.partitionBy(*gcols).orderBy(
            F.col(time_col).desc_nulls_last())
        keep = F.col("__rn") <= n_observations
        if present is not None:
            keep = keep | F.col(present).isNull()
        rows = rows.withColumn("__rn", F.row_number().over(w)).filter(keep)

    time = F.col(time_col) if time_col else None
    ctx = AggContext(time=time, cutoff=cut)

    # null-extended rows drop out of every aggregate; the count guard
    # reproduces "no child rows -> NULL -> fill default" for primitives
    # that fill nulls (percent_true's fillna(False))
    guard = F.count(F.col(present)) > 0 if present is not None else None

    def guarded(agg):
        return agg if guard is None else F.when(guard, agg)

    aggs = []
    if flag_specs:
        order = (time.asc_nulls_last() if time_col
                 else F.monotonically_increasing_id())
        for i, s in enumerate(flag_specs):
            # a where removes rows: the spec's windows partition by the
            # mask too, so lag/lead, runs and group stats see only the
            # rows inside it, and its flag columns are null outside it.
            # A cutoff row with no rows inside the mask gets the default
            where = F.col(s.where_col) if s.where_col else None
            wk = W.partitionBy(*gcols, *([where] if s.where_col else []))
            v = _wrap_where(F.col(s.input_cols[0]), spec_mask(s))
            cols, agg = s.primitive.flag_parts(
                v, s.out_name, ctx, wk, wk.orderBy(order), f"j{i}")
            for cname, cexpr in cols.items():
                rows = rows.withColumn(cname, _wrap_where(cexpr, where))
            if s.where_col:
                agg = F.when(F.max(where), agg)
            aggs.append(guarded(agg).alias(s.out_name))
    for s in expr_specs:
        # a where mask removes the row, its time included; a
        # secondary-time-index mask nulls only the values, so LAST of
        # a latest value not yet resolved is null (reference iloc[-1])
        local_ctx = ctx if not (s.where_col and time_col) else AggContext(
            time=F.when(F.col(s.where_col), time), cutoff=cut)
        if s.input_cols:
            inputs = [_spec_input(F.col(c), s, cut) for c in s.input_cols]
        elif s.primitive.uses_time_index:
            inputs = []
        else:
            # pruned-input primitives (unmasked COUNT): count the
            # mandatory child column — F.count(F.lit(1)) would count
            # the null-extended row as 1
            here = F.col(present) if present is not None else F.lit(1)
            inputs = [_wrap_where(here, spec_mask(s))]
        aggs.append(guarded(s.primitive.expr(inputs, local_ctx))
                    .alias(s.out_name))
    types = dict(rows.dtypes)
    fixed = [(c, n) for c, n in carry
             if types[c].split("(")[0] in _FIXED_WIDTH]
    aggs += [F.first(F.col(c)).alias(n) for c, n in fixed]
    out_keys = [F.col(c).alias(n) for c, n in group]
    along = [F.col(c).alias(n) for c, n in carry if (c, n) not in fixed]
    # with present set the LEFT join keeps every cutoff row, so the
    # groupBy output IS the full cutoff set — no join-back needed
    out = onto
    if aggs:
        agged = rows.groupBy(*out_keys, *along).agg(*aggs)
        out = agged if out is None else out.join(agged, on=keys, how="left")
    elif out is None:
        # the groups alone (distinct() cannot take a map carry; the
        # unread count is pruned from the plan)
        out = rows.groupBy(*out_keys, *along).agg(
            F.count(F.lit(1)).alias("__n")).drop("__n")

    if counts_specs:
        # ONE per-(key, value) counts subplan per distinct
        # (input, where, sec-mask): mode / n_most_common / entropy /
        # n_most_common_frequency all reduce over the same ranked
        # counts frame — one child-side join and one groupBy serve
        # every counts primitive in the group
        groups: dict = {}
        for s in counts_specs:
            groups.setdefault(
                (s.input_cols[0], s.where_col, s.sec_time_col), []
            ).append(s)
        for gkey in sorted(groups, key=str):
            gspecs = groups[gkey]
            vals = _wrap_where(F.col(gkey[0]), spec_mask(gspecs[0]))
            counts = (
                rows.select(*out_keys, vals.alias("_vcv"))
                .filter(F.col("_vcv").isNotNull())
                .groupBy(*keys, "_vcv")
                .agg(F.count(F.lit(1)).alias("_cnt"))
            )
            wrk = W.partitionBy(*keys).orderBy(
                F.desc("_cnt"), F.asc("_vcv"))
            part = (
                counts.withColumn("_rn", F.row_number().over(wrk))
                .groupBy(*keys)
                .agg(*[s.primitive.counts_agg("_vcv", s.out_name)
                       for s in gspecs])
            )
            out = out.join(part, on=keys, how="left")

    return _fill_defaults(out, {s.out_name: s.primitive.default_value
                                for s in specs})


# the simple type names whose first() keeps an aggregate hash-based
_FIXED_WIDTH = ("boolean", "tinyint", "smallint", "int", "bigint", "float",
                "double", "decimal", "date", "timestamp", "timestamp_ntz")


def _fill_defaults(out: DataFrame, defaults: dict) -> DataFrame:
    """Replace NULL (not NaN — a NaN result, e.g. a sum over inf and
    -inf, stays NaN as in pandas) with each column's default value,
    cast to the column's type. Like DataFrame.fillna, a numeric default
    fills only numeric columns. The cast takes the type's name: a
    DataType object reaches the JVM as JSON, one more py4j call each."""
    types = {f.name: f.dataType for f in out.schema.fields}
    fills = {
        c: F.coalesce(F.col(c), F.lit(dv).cast(types[c].simpleString()))
        for c, dv in defaults.items()
        if dv is not None and isinstance(types[c], T.NumericType)
    }
    return out.withColumns(fills) if fills else out


# ----------------------------------------------------------------------
# the running windows: marker union + JVM window aggregates
# ----------------------------------------------------------------------
# The partial columns each primitive is finalized from. A partial is a
# running window aggregate over one (value, mask) stream, read at the
# marker rows:
#   n             valid values (masked rows when the spec has no value)
#   s             sum of the values
#   vp            population variance of the values: Spark's own
#                 (n, avg, m2) buffer, as on the join path (a sum of
#                 squares loses every digit on large-offset values)
#   na            masked rows, nulls included (percent_true)
#   mn, mx        min and max value
#   ft, lt        time (micros) of the first and last valid value
#   fv, lv        the first and last valid value
#   sx, sx2, sxy  sums of x, x² and x·value; x = seconds from the
#                 entity's first row
_PARTIALS = {
    "count": ["n"],
    "sum": ["n", "s"],
    "mean": ["n", "s"],
    "std": ["n", "s", "vp"],
    "variance": ["n", "s", "vp"],
    "min": ["n", "mn"],
    "max": ["n", "mx"],
    "first": ["n", "ft", "fv"],
    "last": ["n", "lt", "lv"],
    "time_since_last": ["n", "lt"],
    "time_since_first": ["n", "ft"],
    "first_last_time_delta": ["n", "ft", "lt"],
    "avg_time_between": ["n", "ft", "lt"],
    "trend": ["n", "s", "ft", "sx", "sx2", "sxy"],
    "num_true": ["n", "s"],
    "percent_true": ["n", "s", "na"],
    "any": ["n", "mx"],
    "all": ["n", "mn"],
}
_BOOL_PRIMS = {"any", "all"}
_INTEGRAL_T = {"tinyint", "smallint", "int", "bigint"}
_NUMERIC_TYPES = (
    "byte", "short", "integer", "long", "float", "double", "decimal",
    "boolean",
)


def _output_type(spec, child_types: dict) -> str:
    """The type the JOIN strategy produces for this spec (the running
    windows compute in doubles). The caller picks the strategy, so the
    result schema must not depend on that choice. Integer casts are
    lossless (counts/sums of integrals are exact in double far past
    any window size); decimal inputs keep double rather than faking
    decimal precision the windows never had."""
    p = spec.primitive.name
    if p in _BOOL_PRIMS:
        return "boolean"
    if p in ("count", "num_true"):
        return "long"
    it = child_types.get(spec.input_cols[0]) if spec.input_cols else None
    if p == "sum" and it in _INTEGRAL_T:
        return "long"        # Spark widens integral sums to bigint
    if p in ("min", "max", "first", "last") and it \
            and it != "double" and not it.startswith("decimal"):
        return it            # join path preserves the input type
    return "double"


def _split_kernel_specs(child, time_col, specs):
    """Partition an unbounded group's specs into (running-window,
    join-routed).

    The running windows take every _PARTIALS primitive. Everything
    else runs on the join and is merged back on (instance, cutoff), so
    strategy='sortmerge' never raises: holistic primitives (median,
    num_unique, mode, entropy, ...), non-numeric inputs and
    secondary-time-index masks. A child without a time index has no
    event order, so all of its specs run on the join.
    Splitting measured faster than running the whole call on join, on
    a 4-vCPU host at 64 cutoffs per entity with median added: request
    p50 7.47 vs 7.75 s, split faster in 4 of 5 pairs.
    """
    if time_col is None:
        return [], list(specs)
    numeric_ok = {
        f.name: f.dataType.typeName() in _NUMERIC_TYPES
        for f in child.schema.fields
    }
    kern, rest = [], []
    for s in specs:
        ok = (
            s.primitive.name in _PARTIALS
            and s.primitive.strategy == "expr"
            and s.sec_time_col is None
            # count's value column is irrelevant: _asof_sortmerge
            # strips it and counts where-mask hits / window rows, so a
            # non-numeric child index on a masked COUNT is fine here
            and (s.primitive.name == "count"
                 or all(numeric_ok.get(c, False) for c in s.input_cols))
        )
        (kern if ok else rest).append(s)
    return kern, rest


def _finalize(pname, c, ct_us):
    """The primitive's value from its partials; c(p) is the column
    holding partial p, ct_us the cutoff in micros."""
    N = c("n")
    if pname == "count":
        return N
    if pname in ("sum", "num_true"):
        return F.when(N > 0, c("s"))
    if pname == "mean":
        return F.when(N > 0, c("s") / N)
    if pname in ("std", "variance"):
        return F.when(N > 0, F.sqrt(c("vp")) if pname == "std" else c("vp"))
    if pname in ("min", "all"):
        return c("mn") > 0 if pname == "all" else c("mn")
    if pname in ("max", "any"):
        return c("mx") > 0 if pname == "any" else c("mx")
    if pname == "first":
        return c("fv")
    if pname == "last":
        return F.when(N > 0, c("lv"))
    if pname == "percent_true":
        # reference fillna(False): nulls count in the denominator
        return F.when(c("na") > 0, F.coalesce(c("s"), F.lit(0.0)) / c("na"))
    if pname == "time_since_last":
        return F.when(N > 0, (ct_us - c("lt")) / F.lit(1e6))
    if pname == "time_since_first":
        return F.when(N > 0, (ct_us - c("ft")) / F.lit(1e6))
    if pname == "first_last_time_delta":
        return F.when(N > 0, (c("lt") - c("ft")) / F.lit(1e6))
    if pname == "avg_time_between":
        return F.when(N > 1, (c("lt") - c("ft")) / F.lit(1e6) / (N - 1))
    if pname == "trend":
        # reference calculate_trend parity: n<=2 -> NaN, all-equal x
        # -> 0, slope scaled by the unit dividend of the first valid
        # timestamp (whole days/hours/minutes)
        sx, sx2, sy, sxy = c("sx"), c("sx2"), c("s"), c("sxy")
        varx = sx2 / N - (sx / N) * (sx / N)
        cov = sxy / N - (sx / N) * (sy / N)
        # running-sum cancellation guard: relative epsilon
        zero = varx <= 1e-12 * F.greatest(sx2 / N, F.lit(1e-300))
        first_i = F.floor(c("ft") / 1e6).cast("long")
        div = (
            F.when(F.pmod(first_i, F.lit(86400)) == 0, F.lit(86400.0))
            .when(F.pmod(first_i, F.lit(3600)) == 0, F.lit(3600.0))
            .when(F.pmod(first_i, F.lit(60)) == 0, F.lit(60.0))
            .otherwise(F.lit(1.0))
        )
        return (
            F.when(N <= 2, F.lit(None).cast("double"))
            .when(zero, F.lit(0.0))
            .otherwise(cov / varx * div)
        )
    raise ValueError(pname)  # pragma: no cover — gated by _PARTIALS


def _asof_sortmerge(child, key_col, time_col, cutoffs, instance_col, specs,
                    cutoff_col, include_cutoff_time):
    """Marker union, one exchange, one sort, JVM running windows, for
    an unbounded window.

    Each cutoff becomes a MARKER row (tag 1), unioned into the event
    stream (tag 0). One hash exchange on the entity key co-locates each
    entity; sortWithinPartitions(key, time, tiebreak) interleaves
    markers with events at exactly the cutoff position (the tiebreak
    encodes include_cutoff_time). A running window aggregate (ROWS
    UNBOUNDED PRECEDING..CURRENT ROW) read at a marker covers every
    event sorted before it, so each primitive's _PARTIALS are running
    windows finalized at the marker rows: no Aggregate.

    No row crosses into Python: shipping the stream to a vectorized
    Python sweep of the same algorithm cost more in JVM→Python
    serialization than in math (~7 s of an 11.7 s stage at 20M events
    + 12.8M markers, BENCH r8).
    """
    specs = [
        AggSpec(s.out_name, s.primitive,
                [] if s.primitive.name == "count" else s.input_cols,
                s.where_col)
        for s in specs
    ]
    value_cols = sorted({c for s in specs for c in s.input_cols})
    where_cols = sorted({s.where_col for s in specs if s.where_col})

    # tiebreak: events sort at 0. include_cutoff_time=True wants events
    # at t == cutoff INSIDE the window -> markers sort after ties (+1);
    # False wants them outside -> markers sort before ties (-1)
    srt = 1 if include_cutoff_time else -1

    ev = child.filter(F.col(time_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.unix_micros(F.col(time_col).cast("timestamp")).alias("__t"),
        F.lit(0).cast("byte").alias("__srt"),
        F.lit(0).cast("byte").alias("__tag"),
        *[F.col(c).cast("double").alias(f"__v_{c}") for c in value_cols],
        *[F.col(c).cast("boolean").alias(f"__w_{c}") for c in where_cols],
    )
    markers = cutoffs.select(
        F.col(instance_col).alias("__k"),
        F.unix_micros(F.col(cutoff_col).cast("timestamp")).alias("__t"),
        F.lit(srt).cast("byte").alias("__srt"),
        F.lit(1).cast("byte").alias("__tag"),
        *[F.lit(None).cast("double").alias(f"__v_{c}") for c in value_cols],
        *[F.lit(None).cast("boolean").alias(f"__w_{c}") for c in where_cols],
    )
    # hash-partition on the entity key: the windows need all rows of an
    # entity in ONE partition and the within-partition sort, never
    # cross-partition order — so no range partitioner and its sampling
    # job (an extra evaluation of the whole union)
    unioned = (
        ev.unionByName(markers)
        .repartition(F.col("__k"))
        .sortWithinPartitions("__k", "__t", "__srt")
    )
    w = (
        W.partitionBy("__k")
        .orderBy("__t", "__srt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    if any(s.primitive.name == "trend" for s in specs):
        # trend's x sums run on seconds from the entity's first row: raw
        # epoch seconds (~1.7e9) square to ~3e18 and lose the
        # window-scale precision of varx (varx and cov do not change
        # under the shift). Same window spec, so this stacks on the
        # same sort.
        unioned = unioned.withColumn("__o", F.nth_value("__t", 1).over(w))
    t = F.col("__t")
    is_ev = F.col("__tag") == F.lit(0)

    # one partial column per (value column, where column, partial):
    # specs reading the same stream share them
    def stream(s):
        return (s.input_cols[0] if s.input_cols else None, s.where_col)

    streams: dict = {}      # (col, wcol) -> {partial: column name}
    for s in specs:
        names = streams.setdefault(stream(s), {})
        i = list(streams).index(stream(s))
        for p in _PARTIALS[s.primitive.name]:
            names.setdefault(p, f"__p{i}_{p}")

    running = []
    for (col, wcol), names in streams.items():
        cond = is_ev
        if wcol is not None:
            cond = cond & F.coalesce(F.col(f"__w_{wcol}"), F.lit(False))
        v = F.when(cond, F.col(f"__v_{col}")) if col else None
        valid = (cond & v.isNotNull()) if col else cond
        vt = F.when(valid, t)
        x = (t - F.col("__o")) / F.lit(1e6) if "sx" in names else None
        agg = {
            "n": lambda: F.count(vt),
            "na": lambda: F.count(F.when(cond, F.lit(1))),
            "s": lambda: F.sum(v),
            "vp": lambda: F.var_pop(v),
            "mn": lambda: F.min(v),
            "mx": lambda: F.max(v),
            "ft": lambda: F.min(vt),
            "lt": lambda: F.max(vt),
            "fv": lambda: F.first(v, ignorenulls=True),
            "lv": lambda: F.last(v, ignorenulls=True),
            "sx": lambda: F.sum(F.when(valid, x)),
            "sx2": lambda: F.sum(F.when(valid, x * x)),
            "sxy": lambda: F.sum(x * v),
        }
        running += [agg[p]().over(w).alias(nm) for p, nm in names.items()]
    marked = unioned.select("__k", t.alias("__c"), *running).filter(~is_ev)

    key_type = cutoffs.schema[instance_col].dataType.simpleString()
    child_t = dict(child.dtypes)
    c_us = F.col("__c")
    result = marked.select(
        F.col("__k").cast(key_type).alias(instance_col),
        F.timestamp_micros(c_us).alias(cutoff_col),
        *[_finalize(s.primitive.name,
                    lambda p, n=streams[stream(s)]: F.col(n[p]), c_us)
          .cast(_output_type(s, child_t)).alias(s.out_name) for s in specs],
    )
    return _fill_defaults(result, {s.out_name: s.primitive.default_value
                                   for s in specs})
