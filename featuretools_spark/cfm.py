"""calculate_feature_matrix — compile a feature DAG to ONE Spark plan.

Replaces the reference's per-unique-cutoff loop
(computational_backends/calculate_feature_matrix.py:51-369, 437-506)
with a single declarative plan:

- aggregation features are grouped by (relationship path, window,
  observation count) — one as-of aggregation per group (asof.py), all
  expression primitives fused into ONE groupBy (the Spark analog of
  the reference's `group_features` fusion, feature_set.py:157-183)
- where-clauses become conditional aggregation (F.when inside the
  agg), not a second pass (fsc.py:672-674 analog)
- the cutoff is a Column: the literal at a scalar cutoff, CUTOFF_COL
  on the frame at per-row cutoffs (pit = (cutoff | None,
  include_cutoff_time, training_window)); PIT masks are predicates
  against it (_pit_mask), and one code path serves both forms
- direct features are one broadcast-able join of the parent's masked
  columns down the FK per relationship (fsc.py:594-650 analog); at
  per-row cutoffs a base that varies per cutoff (a direct chain, an
  aggregation, a cutoff-reading transform) is computed on the
  parent's (key, cutoff) frame and joined on both
- stacked inputs (an aggregation's or direct's input that is itself an
  aggregation or direct, depth>=2 DFS) attach to the child frame like
  the reference's trie walk: a per-row aggregate of the child's own
  children, the parent's masked columns joined on the FK. At a scalar
  cutoff the child frame is the PIT-filtered table and an aggregate
  joins on its index; at per-row cutoffs the frame is the (instance,
  cutoff) key set joined down the path, each table once, and an
  aggregate groups back per (key, cutoff) (_aggregate_keyed)
- deep-path aggregations (a path A <- M <- ... <- C) without a
  training window roll up when decomposable (_rollup): a count, sum,
  mean, min or max of a number on C, or of a direct from M over the
  last hop, with no where, use_previous or secondary time index. Its
  partials per M row (n, s, mn, mx; a direct's weighted by the row's C
  count) are stacked inputs at the M grain, riding the groupBy(C -> M
  key) of the other M-grain stacked inputs; A combines and finalizes
  them in the groupBy(M -> A key) of its M-level features. Longer
  paths fold one hop at a time. Everything else (a training window,
  std/trend/holistic primitives) joins each C row to its A ancestor
  through the PIT-filtered hops
- one key frame per call: at a scalar cutoff the target table with
  the literal cutoff, at per-row cutoffs the cutoff rows with their
  pass columns and, under "join", a row key. The aggregation groups
  chain on it; at per-row cutoffs one left join then brings in the
  target's columns (its own features, the directs' foreign keys, the
  target-grain mask's time columns, the identity inputs of matrix
  transforms), so the target and the cutoff rows are each read once
- transform features compile in one place (_materialize_features)
  on whatever frame holds their inputs: a table, or the matrix for a
  transform of an aggregation or direct output (in (cutoff, instance)
  order) and, at per-row cutoffs, for one that reads the cutoff.
  Expression primitives become Column expressions; a pandas-kernel
  primitive (the EWM family), at any depth, runs on its inputs'
  columns through _apply_pandas_transform. uses_full_dataframe
  (window) transforms on a table are computed over the full table in
  time order BEFORE instance filtering (feature_set.py:102-155
  semantics) — sound because all our window frames look only
  backward in time (no leakage)

Internally all features get sanitized column names (_f0.._fn); the
final select renames to reference-parity feature names.
"""

from __future__ import annotations

import dataclasses as _dc
import datetime as _dt

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from featuretools_spark.asof import (
    _PARTIALS,
    CUTOFF_COL,
    AggSpec,
    _aggregate_rows,
    _asof_sortmerge,
    _fill_defaults,
    _finalize,
    _nan_to_null,
    _pit_mask,
    _split_kernel_specs,
)
from featuretools_spark.entityset import LTI_COLUMN_NAME, EntitySet
from featuretools_spark.features import (
    AggregationFeature,
    DirectFeature,
    FeatureBase,
    FeatureOutputSlice,
    GroupByTransformFeature,
    IdentityFeature,
    TransformFeature,
)
from featuretools_spark.primitives.base import (
    AGG_PRIMITIVES,
    AggregationPrimitive,
    TransformContext,
)
from featuretools_spark.timedelta import Timedelta


def calculate_feature_matrix(
    features: list[FeatureBase],
    entityset: EntitySet | None = None,
    cutoff_time=None,
    instance_ids=None,
    training_window=None,
    include_cutoff_time: bool = True,
    approximate=None,
    strategy: str = "join",
    cutoff_time_in_index: bool = True,
) -> DataFrame:
    """Compute the feature matrix.

    cutoff_time: None | scalar datetime/str | Spark DataFrame with
    (target-index column or 'instance_id', 'time', *pass_columns).
    approximate: optional Timedelta/str — bin cutoff times down to
    this window for AGGREGATION features (deliberate accuracy/speed
    trade, reference cfm.py:234-276): expensive aggregates are
    computed once per (instance, binned time) instead of per exact
    cutoff. Identity/transform/direct features stay exact.
    Returns a DataFrame with one row per cutoff row (per target row at
    a scalar cutoff): the instance, its time, the pass columns, and
    one column per feature, named with reference-parity feature names.

    One key frame per call carries every stage. At a scalar cutoff it
    is the target table with the literal cutoff, the target's own
    features and the columns later stages read. At per-row cutoffs it
    is the cutoff rows themselves, pass columns on them: the
    aggregation groups chain on those rows, each grouped back per
    cutoff row, and one left join then brings in the target's columns.
    Under `approximate` the groups chain on the key frame's distinct
    binned keys instead, and one left join fans their outputs out onto
    the key frame.

    strategy: "join" (default) | "sortmerge" | "auto". It picks the
    evaluator at per-row cutoffs only; at a scalar cutoff every group
    takes the join. At per-row cutoffs "sortmerge" runs an unbounded,
    single-hop group with inputs that do not vary per cutoff on the
    JVM running windows (asof.py); every other group, and every group
    of a training_window call, runs on the join, where AQE's skew join
    splits a hot key. "auto" runs "join", decided from the call's
    arguments with no data read: no measured rule yet says when the
    running windows win.
    """
    if strategy not in ("join", "sortmerge", "auto"):
        raise ValueError(
            f"unknown strategy {strategy!r}: use 'join', 'sortmerge', "
            "or 'auto'")
    if strategy == "auto":
        strategy = "join"
    es = entityset or _find_es(features)
    target = features[0].entity
    for f in features:
        if f.entity != target:
            raise ValueError("all features must target the same dataframe")
    index_col = es.index(target)
    training_window = Timedelta.parse(training_window) if training_window else None
    cutoffs, pass_cols, scalar_cutoff = _build_cutoffs(
        es, index_col, cutoff_time)

    # ---- dedupe features by name, keep order; slices pull in bases ----
    ordered, seen = [], set()
    slices = [f for f in features if isinstance(f, FeatureOutputSlice)]
    expanded = []
    for f in features:
        if isinstance(f, FeatureOutputSlice):
            expanded.append(f.base_feature)
        else:
            expanded.append(f)
    for f in expanded:
        n = f.get_name()
        if n not in seen:
            seen.add(n)
            ordered.append(f)

    # transforms stacked on aggregation/direct outputs (reference Step 4
    # transforms of agg features, deep_feature_synthesis.py:629-676)
    # compile on the MATRIX after their inputs land, not on the target
    # frame; their agg/direct inputs are hoisted as hidden internal
    # features so the normal machinery computes them.
    matrix_trans = [
        f for f in ordered
        if not isinstance(f, (AggregationFeature, DirectFeature))
        and _has_agg_or_direct_dep(f)
    ]
    mt_names = {f.get_name() for f in matrix_trans}
    hidden = []
    have = {f.get_name() for f in ordered}
    for f in matrix_trans:
        for d in _agg_direct_roots(f):
            if d.get_name() not in have:
                have.add(d.get_name())
                hidden.append(d)
    ordered_all = ordered + hidden

    internal = {f.get_name(): f"_f{i}" for i, f in enumerate(ordered_all)}
    pit = (scalar_cutoff, include_cutoff_time, training_window)
    # binning applies to per-row cutoffs only
    approx_td = (Timedelta.parse(approximate)
                 if approximate and scalar_cutoff is None else None)

    agg_feats = [f for f in ordered_all if isinstance(f, AggregationFeature)]
    direct_feats = [f for f in ordered_all if isinstance(f, DirectFeature)]
    other_feats = [
        f for f in ordered_all
        if not isinstance(f, (AggregationFeature, DirectFeature))
        and f.get_name() not in mt_names
    ]

    # ---- the target's columns, from one read of the target ----
    # its own features (window transforms over the whole table, before
    # any instance filter; at per-row cutoffs those reading the cutoff
    # compute on the matrix), the directs' foreign keys, the columns of
    # the target-grain mask and the identity inputs of the transforms
    # computed on the matrix
    tti = es.time_index(target)
    tlti = (LTI_COLUMN_NAME if es.meta[target].last_time_index
            and LTI_COLUMN_NAME in es[target].columns else None)
    tgt_sec = {
        internal[f.get_name()]: _sec_governing_col(es, target, f)
        for f in ordered_all
        if not isinstance(f, AggregationFeature)
    }
    on_matrix = [] if scalar_cutoff is not None else [
        f for f in other_feats if _uses_calc_time(f)]
    on_target = [f for f in other_feats if not _uses_calc_time(f)
                 or scalar_cutoff is not None]
    # the window inputs of the transforms computed on the matrix see
    # the whole target in time order, as when requested alone: they
    # compute here and ride along
    wins: dict = {}
    for f in matrix_trans + on_matrix:
        _window_deps(f, wins)
    wins = {n: (f, f"_ft_w{i}") for i, (n, f) in enumerate(wins.items())}
    raw = {f.relationship.child_col for f in direct_feats}
    raw |= {c for c in (tti, tlti, *tgt_sec.values()) if c}
    for f in matrix_trans + on_matrix:
        _ident_deps(f, target, raw)
    raw.discard(index_col)
    tfeats = on_target + [f for f, _ in wins.values()]
    tdf, tcols = _materialize_features(es, target, es[target], tfeats, tti,
                                       pit=pit)
    tnames = [internal[f.get_name()] for f in on_target]
    tnames += [c for _, c in wins.values()]
    tgt_cols = [*[F.col(c).alias(n) for c, n in zip(tcols, tnames)],
                *sorted(raw)]

    # ---- the key frame ----
    if scalar_cutoff is not None:
        keys = tdf.select(
            index_col,
            F.lit(scalar_cutoff).cast("timestamp").alias(CUTOFF_COL),
            *tgt_cols)
    else:
        keys = cutoffs
    if instance_ids is not None:
        keys = keys.filter(F.col(index_col).isin(list(instance_ids)))
    if scalar_cutoff is None and _is_derived_plan(keys):
        # the cutoff rows can feed more than one read (the running
        # windows' distinct keys, approximate's fan-out, a holistic
        # counts subplan, a per-cutoff direct's key frame): a
        # lazy localCheckpoint evaluates the user's cutoff plan once, at
        # first use, and keeps the row key below stable across reads
        keys = keys.localCheckpoint(eager=False)
    matrix = keys

    # ---- aggregation features, one as-of aggregation per group ----
    # the groups chain on one frame, each grouped back per row of it:
    # the key frame, or under approximate its distinct binned keys,
    # which one left join then fans out onto the key frame
    groups = _agg_groups(_rolled_up(es, agg_feats, training_window))
    fan_out = approx_td is not None and bool(groups)
    agged, row_keys = matrix, None
    if fan_out:
        step = int(round(approx_td.to_seconds()))
        binned = F.timestamp_seconds(
            F.floor(F.unix_micros(F.col(CUTOFF_COL))
                    / F.lit(step * 1_000_000)) * F.lit(step))
        matrix = matrix.withColumn("_ft_bin", binned)
        agged = keys.select(index_col, binned.alias(CUTOFF_COL)).distinct()
    elif scalar_cutoff is None and groups:
        # the row key keeps cutoff rows with the same (instance, time)
        # apart; the pass columns and earlier groups' outputs ride each
        # groupBy as carries (asof._aggregate_rows), and leading with
        # the instance lets the as-of join's partitioning serve it
        agged = matrix.withColumn(_ROW_KEY, F.monotonically_increasing_id())
        row_keys = [index_col, CUTOFF_COL, _ROW_KEY]
    for feats in groups:
        agged = _aggregate_group(es, feats, agged, index_col, internal, pit,
                                 strategy, row_keys)
    if fan_out:
        # a left join: a cutoff row whose key is null reads the defaults
        matrix = _fill_defaults(
            matrix.join(agged.withColumnRenamed(CUTOFF_COL, "_ft_bin"),
                        on=[index_col, "_ft_bin"], how="left"),
            {internal[f.get_name()]: f.primitive.default_value
             for feats in groups for f in feats}).drop("_ft_bin")
    else:
        matrix = agged.drop(_ROW_KEY)

    # ---- the target's columns onto the cutoff rows ----
    if scalar_cutoff is None and tgt_cols:
        matrix = matrix.join(tdf.select(index_col, *tgt_cols), on=index_col,
                             how="left")
    if on_matrix:
        matrix, mcols = _materialize_features(
            es, target, matrix, on_matrix, tti, pit=pit,
            computed={n: c for n, (_, c) in wins.items()})
        matrix = matrix.withColumnsRenamed({
            c: internal[f.get_name()] for c, f in zip(mcols, on_matrix)})

    # ---- direct features ----
    # one left join per relationship of the parent's masked columns on
    # the foreign key; a base that varies per cutoff (a direct chain, an
    # aggregation, a cutoff-reading transform) is computed on the
    # parent's (key, cutoff) frame and joined on both (_join_directs)
    if direct_feats:
        fks = sorted({f.relationship.child_col for f in direct_feats})
        matrix = _join_directs(
            es, matrix, direct_feats, internal, pit,
            keys=None if scalar_cutoff is not None else
            keys.select(index_col, CUTOFF_COL).join(
                tdf.select(index_col, *fks), on=index_col, how="left"))

    # ---- transforms of aggregation/direct outputs, on the matrix ----
    # (reference feature_set_calculator.py:526-592): their inputs are
    # already per (instance, cutoff), so a window or groupby transform
    # of an aggregation or direct output runs over the matrix in
    # (cutoff, instance) order, with no extra pass over a table; a
    # window of target columns under them is read from wins
    if matrix_trans:
        matrix, mcols = _materialize_features(
            es, target, matrix, matrix_trans, None, pit=pit,
            computed={**{n: c for n, c in internal.items()
                         if n not in mt_names},
                      **{n: c for n, (_, c) in wins.items()}},
            order_cols=[CUTOFF_COL, index_col])
        matrix = matrix.withColumnsRenamed({
            c: internal[f.get_name()] for c, f in zip(mcols, matrix_trans)})

    # ---- target-grain point-in-time mask ----
    # reference _handle_time (entityset.py:1407-1457) filters the
    # TARGET frame too, and missing instances come back as a
    # generate_default_df row (feature_set_calculator.py:135-146):
    # a cutoff earlier than the row's own time index yields the
    # primitive default for aggregations and NULL for everything
    # else; secondary-time-index columns of the target are NULLed
    # while sec_time >= cutoff.
    tcond = (
        _pit_mask(F.col(tti), F.col(CUTOFF_COL), include_cutoff_time,
                  training_window, lti=F.col(tlti) if tlti else None)
        if tti else None
    )
    masked = {}
    for f in ordered_all:
        cname = internal[f.get_name()]
        cond = tcond
        sec = tgt_sec.get(cname)
        if sec:
            smask = F.col(sec) < F.col(CUTOFF_COL)
            cond = smask if cond is None else (cond & smask)
        if cond is None:
            continue
        dv = (
            f.primitive.default_value
            if isinstance(f, AggregationFeature) else None
        )
        col = F.when(cond, F.col(cname))
        if dv is not None:
            col = col.otherwise(F.lit(dv))
        masked[cname] = col

    # ---- final projection: rename, pass columns, mask ----
    out_cols = [F.col(index_col), F.col(CUTOFF_COL).alias("time"),
                *[F.col(_pass_col(i)).alias(c)
                  for i, c in enumerate(pass_cols)]]
    emitted = {f.get_name() for f in features if not isinstance(f, FeatureOutputSlice)}
    for f in ordered:
        if f.get_name() in emitted:
            out_cols.append(F.col(internal[f.get_name()]).alias(f.get_name()))
    for f in slices:
        base_col = F.col(internal[f.base_feature.get_name()])
        out_cols.append(F.element_at(base_col, f.n + 1).alias(f.get_name()))
    return matrix.withColumns(masked).select(*out_cols)


# ----------------------------------------------------------------------
# feature groups, shared by the matrix and by stacked inputs
# ----------------------------------------------------------------------
def _agg_groups(feats) -> list:
    """Aggregation features grouped by (relationship path, use_previous):
    each group is one as-of aggregation."""
    groups: dict = {}
    for f in feats:
        path_key = tuple(
            (r.parent_name, r.parent_col, r.child_name, r.child_col)
            for r in f.relationship_path
        )
        groups.setdefault((path_key, *_use_previous(f)), []).append(f)
    return list(groups.values())


def _use_previous(f):
    """(duration window | None, observation count | None) of f."""
    up = f.use_previous
    win = up if (up and not up.is_observation) else None
    nobs = int(up.value) if (up and up.is_observation) else None
    return win, nobs


# ----------------------------------------------------------------------
# deep-path rollup: without a training window, a decomposable
# aggregation over a path A <- M <- ... <- C is computed from per-M
# partials instead of joining every C row to its A ancestor. The
# partials (asof._PARTIALS: n, s, mn, mx) are stacked inputs at the M
# grain, so they ride the groupBy(C -> M key[, cutoff]) that already
# computes the M-grain stacked inputs; A combines them (_COMBINE)
# inside the groupBy(M -> A key) of its M-level features and finalizes
# (asof._finalize). Longer paths fold one hop at a time.
# ----------------------------------------------------------------------
_ROLLUP_PRIMS = ("count", "sum", "mean", "min", "max")
# how one grain's partials merge into the next grain's
_COMBINE = {"n": F.sum, "s": F.sum, "mn": F.min, "mx": F.max}
# value types whose rollup types equal the join path's: a decimal's sum
# of sums widens its precision, and float * count is computed in float
_ROLLUP_TYPES = ("tinyint", "smallint", "int", "bigint", "double")


class _Partial(AggregationPrimitive):
    """One partial of raw child values: n (valid values; child rows
    when `rows`), s, mn or mx."""
    name = "partial"

    def __init__(self, part: str, rows: bool = False):
        self.part = part
        if rows:
            self.input_kinds = ()

    def expr(self, inputs, ctx):
        if not inputs:
            return F.count(F.lit(1))
        fn = {"n": F.count, "s": F.sum, "mn": F.min, "mx": F.max}
        return fn[self.part](inputs[0])


class _RollUp(AggregationPrimitive):
    """Combine partials one grain down into one partial (`target` a
    partial) or, when `final`, into the primitive `target`'s value.
    weighted: the inputs are a direct value y and its child row count
    w, and each row contributes y's partials over its w child rows."""
    name = "rollup"

    def __init__(self, target: str, final: bool, weighted: bool = False,
                 default=None):
        self.target, self.final, self.weighted = target, final, weighted
        self.default_value = default
        # partials are already NaN-free: a NaN there is inf - inf, which
        # the aggregate over the raw rows also yields
        self.reads_partials = not weighted

    def expr(self, inputs, ctx):
        if self.weighted:
            y, w = inputs
            rows = {"n": F.when(y.isNotNull(), w), "s": y * w,
                    "mn": F.when(w > 0, y), "mx": F.when(w > 0, y)}
        else:
            parts = _PARTIALS[self.target] if self.final else [self.target]
            rows = dict(zip(parts, inputs))

        def c(q):
            return _COMBINE[q](rows[q])

        return (_finalize(self.target, c, None) if self.final
                else c(self.target))


def _is_number(es, f) -> bool:
    """True when f's values have one of _ROLLUP_TYPES: a column of such
    a type, a row-wise numeric transform of such values, a direct of
    one, or a count/sum/mean/min/max of one."""
    if isinstance(f, IdentityFeature):
        return (es[f.entity].schema[f.column].dataType.simpleString()
                in _ROLLUP_TYPES)
    if isinstance(f, DirectFeature):
        return _is_number(es, f.base_feature)
    if isinstance(f, AggregationFeature):
        p = f.primitive
        return p.name == "count" or (
            p.name in _ROLLUP_PRIMS and _is_number(es, f.base_features[0]))
    if type(f) is not TransformFeature:
        return False
    p = f.primitive
    return (p.return_kind == "numeric" and not p.uses_full_dataframe
            and getattr(p, "strategy", "expr") == "expr"
            and all(_is_number(es, b) for b in f.base_features))


def _rolled_up(es, feats, training_window) -> list:
    """feats with each decomposable deep aggregation replaced by its
    rollup. A training window keeps
    the deep path: its hop mask keeps rows whose last time index is in
    the window, which the partials' child mask does not."""
    if training_window is not None:
        return feats
    return [_rollup(es, f) or f for f in feats]


def _rollup(es, f):
    """f rewritten as an aggregation over its first hop of partials one
    grain down, named like f; None when f must take the deep path.

    f qualifies when its primitive is count, sum, mean, min or max, it
    has no where, no use_previous and no secondary-time-index mask, and
    its input is a number (_is_number) on the deepest child C, or a
    direct of a number on C's parent M over the path's last hop. Such
    a direct weighs each M row by its C row count: sum = Σ y·n_C,
    count and mean from Σ n_C·[y not null], min/max over rows with
    n_C > 0."""
    path, p = f.relationship_path, f.primitive
    if (len(path) < 2 or p.name not in _ROLLUP_PRIMS
            or type(p) is not AGG_PRIMITIVES.get(p.name)
            or f.where is not None or f.use_previous is not None
            or _secondary_mask_col(es, f) is not None):
        return None
    x, weighted = f.base_features[0], False
    if p.name == "count":
        x = None                         # an unmasked count counts rows
    elif isinstance(x, DirectFeature):
        y = x.base_feature
        if not (x.relationship == path[-1] and _is_number(es, y)
                and _sec_governing_col(es, y.entity, y) is None):
            return None
        x, weighted = y, True
    elif not _is_number(es, x):
        return None
    return _rolled(es, p.name, path, x, weighted, final=True,
                   default=p.default_value).rename(f.get_name())


def _rolled(es, target, path, x, weighted, final=False, default=None):
    """AggregationFeature at path[0].parent_name over path[0]: `target`
    of x over the whole path, a partial unless `final` (then filled
    with `default`). x None counts the deepest child's rows; a weighted
    x is a direct value on path[-1].parent_name."""
    r = path[0]
    if len(path) == 1:
        if x is None:
            x = IdentityFeature(es, r.child_name, es.index(r.child_name))
            prim, tag = _Partial(target, rows=True), "rows"
        else:
            prim, tag = _Partial(target), target
        bases = [x]
    elif weighted and len(path) == 2:
        prim = _RollUp(target, final, weighted=True, default=default)
        bases = [x, _rolled(es, "n", path[1:], None, False)]
        tag = f"{target}*n"
    else:
        prim = _RollUp(target, final, default=default)
        parts = _PARTIALS[target] if final else [target]
        bases = [_rolled(es, q, path[1:], x, weighted) for q in parts]
        tag = target
    f = AggregationFeature(bases, r.parent_name, prim, es=es,
                           relationship_path=path[:1])
    return f.rename(
        f"_ft_{tag}[{r.parent_name}<-{r.child_name}.{r.child_col}]"
        f"({', '.join(b.get_name() for b in bases)})")


def _aggregate_group(es, feats, keys, index_col, names, pit, strategy="join",
                     row_keys=None) -> DataFrame:
    """One as-of aggregation for a group from _agg_groups: the deepest
    child of the group's path, the group's inputs materialized on it,
    one AggSpec per feature (output column names[f.get_name()]). The
    one place that picks a group's evaluator.

    pit = (cutoff, include_cutoff_time, training_window); the cutoff is
    None at per-row cutoffs. keys carries index_col and, at per-row
    cutoffs, CUTOFF_COL. At a scalar cutoff keys may be any frame keyed
    by index_col; at per-row cutoffs, any frame whose row_keys columns
    (default: index_col, CUTOFF_COL) identify a row. The aggregates
    attach to it and every column it carries is kept (how the matrix
    chains its groups and stacked inputs attach to a child frame).

    A scalar cutoff takes the join whatever the strategy: the
    PIT-filtered child rows grouped by the entity key. Per-row cutoffs
    take _aggregate_keyed, except a "sortmerge" group with no training
    window or use_previous, over one hop, with inputs that do not vary
    per cutoff: the specs a running window computes
    (asof._split_kernel_specs) run on asof._asof_sortmerge over the
    distinct (index_col, CUTOFF_COL) of keys, and the rest on
    _aggregate_keyed. Returns keys plus one column per feature,
    defaults filled."""
    win, nobs = _use_previous(feats[0])
    sc, inc, tw = pit
    # reference applies BOTH filters (ES pre-filtered by
    # training_window, then use_previous): with fixed-duration
    # windows that composes to the more restrictive of the two
    if win and tw:
        window = win if win.to_seconds() <= tw.to_seconds() else tw
    else:
        window = win or tw
    path = feats[0].relationship_path
    child = path[-1].child_name
    time_col = es.time_index(child)
    bases = _group_bases(feats)
    # a window bounds the join's expansion, and bounded running windows
    # (a prefix difference hi - lo) never measured faster than the join
    # beyond the run-to-run spread, at 200k or 2M events
    if sc is None and (strategy != "sortmerge" or window or nobs
                       or len(path) > 1 or any(map(_per_cutoff, bases))):
        return _aggregate_keyed(es, feats, bases, keys, index_col, names,
                                pit, window, nobs, row_keys)
    if sc is None:
        child_df, key_col = es[child], path[0].child_col
    else:
        child_df, key_col = _child_frame(es, path, pit)
    # every base/where feature of the group in ONE pass, so shared
    # inputs (and stacked inputs at a scalar cutoff) are computed once
    child_df, cols = _materialize_features(es, child, child_df, bases,
                                           time_col, pit=pit)
    specs = _specs(es, feats, names, bases, cols)
    child_df = _nan_to_null(child_df, specs)
    if sc is not None:
        cut = _cut(pit)
        if time_col is not None:
            child_df = child_df.filter(
                _pit_mask(F.col(time_col), cut, inc, window))
        return _aggregate_rows(child_df, [(key_col, index_col)], cut, None,
                               time_col, specs, nobs, onto=keys)
    kern, rest = _split_kernel_specs(child_df, time_col, specs)
    joined = {s.out_name for s in rest}
    rest_feats = [f for f in feats if names[f.get_name()] in joined]
    out = keys
    if rest_feats:
        out = _aggregate_keyed(es, rest_feats, _group_bases(rest_feats), keys,
                               index_col, names, pit, window, nobs, row_keys)
    if not kern:
        return out
    on = [index_col, CUTOFF_COL]
    windows = _asof_sortmerge(child_df, key_col, time_col,
                              keys.select(*on).distinct(), index_col, kern,
                              CUTOFF_COL, inc)
    # a left join: the windows hold one row per distinct (instance,
    # cutoff) of keys, and keys' rows are the output's
    return _fill_defaults(out.join(windows, on=on, how="left"),
                          {s.out_name: s.primitive.default_value
                           for s in kern})


def _group_bases(feats) -> list:
    """The base and where features of a group's aggregations."""
    return [b for f in feats
            for b in (*f.base_features, *filter(None, [f.where]))]


def _aggregate_keyed(es, feats, bases, keys, index_col, names, pit, window,
                     nobs, row_keys=None) -> DataFrame:
    """A group at per-row cutoffs whose path is deep or whose inputs
    vary per cutoff: the rows of `keys` joined down the group's path,
    each table once, then aggregated back to one row per row of keys.

    Each hop table is LEFT-joined on its foreign key under _pit_mask
    against the row's cutoff (the reference's _handle_time on the trie
    descent), the deepest child under the as-of time predicate. The
    child's inputs that do not vary per cutoff are computed on the
    child table first (a window transform sees each row once); the rest
    on the joined rows, where stacked inputs attach as at a scalar
    cutoff, per (child row, cutoff) instead of per child row. keys'
    columns are renamed apart from the child's for the join and come
    back unchanged."""
    global _MAT_COUNTER
    _, inc, tw = pit
    path = feats[0].relationship_path
    child = path[-1].child_name
    time_col = es.time_index(child)
    cut = F.col(CUTOFF_COL)
    row_keys = row_keys or [index_col, CUTOFF_COL]
    _MAT_COUNTER += 1
    up = {c: c if c == CUTOFF_COL else f"_ft_u{_MAT_COUNTER}_{c}"
          for c in keys.columns}
    rows = keys.select(*[F.col(f"`{c}`").alias(n) for c, n in up.items()])
    link, hop_keys = up[index_col], []
    for rel, nxt in zip(path, path[1:]):
        ti = es.time_index(rel.child_name)
        tbl = es[rel.child_name]
        lti = (es.meta[rel.child_name].last_time_index
               and LTI_COLUMN_NAME in tbl.columns)
        _MAT_COUNTER += 1
        hop_keys.append(f"_ft_hop{_MAT_COUNTER}")
        hop = tbl.select(
            F.col(rel.child_col).alias("_ft_fk"),
            F.col(nxt.parent_col).alias(hop_keys[-1]),
            *([F.col(ti).alias("_ft_ti")] if ti else []),
            *([F.col(LTI_COLUMN_NAME).alias("_ft_lti")] if lti else []),
        )
        cond = F.col(link) == F.col("_ft_fk")
        if ti:
            cond = cond & _pit_mask(F.col("_ft_ti"), cut, inc, tw,
                                    lti=F.col("_ft_lti") if lti else None)
        rows = rows.join(hop, cond, "left").drop("_ft_fk", "_ft_ti",
                                                 "_ft_lti")
        link = hop_keys[-1]
    static = [b for b in bases if not _per_cutoff(b)]
    varying = [b for b in bases if _per_cutoff(b)]
    child_df, scols = _materialize_features(es, child, es[child], static,
                                            time_col)
    key_col = path[-1].child_col
    cond = F.col(link) == F.col(key_col)
    if time_col:
        cond = cond & _pit_mask(F.col(time_col), cut, inc, window)
    # Join strategy deliberately left to the planner (guide §3.1 was
    # evaluated here in round 8): forcing a shuffled-hash build on the
    # cutoff side wins ~10% at sparse cutoff densities (4/entity) but
    # loses 3x at dense ones (64/entity: the "small" build side is
    # events x 64, measured 10.4s -> 32.5s at 20M rows), and the
    # engine cannot know the density without counting. Sort-merge
    # degrades gracefully in both regimes.
    rows = rows.join(child_df, cond, "left")
    # a row of keys without child rows is one null-extended row; so is
    # each hop row without child rows, which is dropped when the row of
    # keys has real child rows
    hit = F.col(key_col).isNotNull()
    if len(path) > 1:
        per_row = W.partitionBy(*[up[c] for c in row_keys])
        rows = (rows.withColumn("_ft_any", F.max(hit).over(per_row))
                .filter(hit | ~F.col("_ft_any")).drop("_ft_any"))
    rows, vcols = _materialize_features(
        es, child, rows, varying, time_col, pit=pit,
        row_keys=[up[c] for c in row_keys] + hop_keys + [es.index(child)])
    # what attached to a null-extended row is no child's value
    rows = rows.withColumns({c: F.when(hit, F.col(c)) for c in vcols})
    specs = _specs(es, feats, names, static + varying, scols + vcols)
    return _aggregate_rows(
        _nan_to_null(rows, specs), [(up[c], c) for c in row_keys],
        cut, key_col, time_col, specs, nobs,
        carry=[(n, c) for c, n in up.items() if c not in row_keys])


def _specs(es, feats, names, bases, cols) -> list:
    """One AggSpec per feature of a group; bases[i] materialized to
    column cols[i]."""
    col = dict(zip((b.get_name() for b in bases), cols))
    specs = []
    for f in feats:
        in_cols = [col[b.get_name()] for b in f.base_features]
        where_col = col[f.where.get_name()] if f.where is not None else None
        kinds = getattr(f.primitive, "input_kinds", ("numeric",))
        sec_time_col = _secondary_mask_col(es, f)
        if kinds == () or (f.primitive.name == "count" and f.where is None
                           and sec_time_col is None):
            # an unmasked COUNT is a row count: dropping the index input
            # lets Catalyst prune the column from the scan
            in_cols = []
        specs.append(AggSpec(names[f.get_name()], f.primitive, in_cols,
                             where_col, sec_time_col))
    return specs


def _join_directs(es, frame, feats, names, pit, keys=None) -> DataFrame:
    """Attach direct features to `frame`, which already carries each
    feature's foreign key (relationship.child_col): per relationship,
    ONE left join of the parent's columns on that key (reference
    fsc.py:594-650), named names[f.get_name()].

    The parent's bases materialize on the parent table, stacked bases
    attached first. At per-row cutoffs a base that varies per cutoff
    needs the parent per (key, cutoff): the parent joined to the
    distinct (foreign key, cutoff) pairs of `keys`, a frame of the
    same rows as `frame` before anything attached, and the join is on
    both. PIT and last time index arrive as column masks at the cutoff,
    not filters (reference _handle_time filters EVERY dataframe to
    t <= cutoff): a parent row "from the future", or a missing parent,
    contributes NULL; secondary-time-index columns stay NULL until
    their governing time has passed."""
    cutoff = _cut(pit)
    by_rel: dict = {}
    for f in feats:
        by_rel.setdefault(f.relationship, []).append(f)
    for rel, rfeats in by_rel.items():
        pti = es.time_index(rel.parent_name)
        bases = [f.base_feature for f in rfeats]
        parent_df, on = es[rel.parent_name], [rel.child_col]
        if pit[0] is None and any(map(_per_cutoff, bases)):
            parent_df = parent_df.join(
                keys.select(F.col(rel.child_col).alias(rel.parent_col),
                            CUTOFF_COL).distinct(),
                on=rel.parent_col)
            on.append(CUTOFF_COL)
        parent_df, cols = _materialize_features(
            es, rel.parent_name, parent_df, bases, pti, pit=pit,
            row_keys=[rel.parent_col, CUTOFF_COL])
        sec_by_feat = {
            names[f.get_name()]: _sec_governing_col(
                es, rel.parent_name, f.base_feature)
            for f in rfeats
        }
        need_sec = sorted({c for c in sec_by_feat.values() if c})
        has_lti = (
            es.meta[rel.parent_name].last_time_index
            and LTI_COLUMN_NAME in parent_df.columns
        )
        sel = parent_df.select(
            F.col(rel.parent_col).alias(rel.child_col),
            *on[1:],
            *[F.col(c).alias(names[f.get_name()])
              for c, f in zip(cols, rfeats)],
            *([F.col(pti).alias("_ft_par_ti")] if pti else []),
            *([F.col(LTI_COLUMN_NAME).alias("_ft_par_lti")]
              if has_lti else []),
            *[F.col(c).alias(f"_ft_psec_{c}") for c in need_sec],
        )
        frame = frame.join(sel if len(on) > 1 else F.broadcast(sel), on=on,
                           how="left")
        for f in rfeats:
            cname = names[f.get_name()]
            cond = None
            if pti:
                cond = _pit_mask(
                    F.col("_ft_par_ti"), cutoff, pit[1], pit[2],
                    lti=F.col("_ft_par_lti") if has_lti else None,
                )
            sec = sec_by_feat[cname]
            if sec:
                smask = F.col(f"_ft_psec_{sec}") < cutoff
                cond = smask if cond is None else (cond & smask)
            if cond is not None:
                frame = frame.withColumn(cname, F.when(cond, F.col(cname)))
        frame = frame.drop(
            "_ft_par_ti", "_ft_par_lti",
            *[f"_ft_psec_{c}" for c in need_sec],
        )
    return frame


# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------
def _find_es(features):
    for f in features:
        es = getattr(f, "es", None)
        if es is not None:
            return es
        for d in f.get_dependencies(deep=True):
            es = getattr(d, "es", None)
            if es is not None:
                return es
    raise ValueError("no EntitySet found on features")


def _is_derived_plan(df) -> bool:
    """True when the DataFrame's analyzed plan contains non-trivial
    operators (aggregates, joins, generators, windows, set ops) —
    i.e. re-evaluating it costs real work, unlike a scan/project/
    filter over stored files. Best-effort: unknown shapes count as
    derived (materializing a small frame twice is cheaper than
    re-running an expensive plan twice)."""
    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True
    return any(k in s for k in (
        "Aggregate", "Join", "Generate", "Window", "Union",
        "Deduplicate", "Distinct"))


# the cutoff rows' row key, and the name a pass column takes on the
# matrix (apart from the target's columns the matrix also carries)
_ROW_KEY = "_ft_row"


def _pass_col(i: int) -> str:
    return f"_ft_p{i}"


def _build_cutoffs(es, index_col, cutoff_time):
    """Normalize cutoff_time. A cutoff table gives (its rows as
    (index_col, CUTOFF_COL, *_pass_col(i)), the pass column names,
    None); a scalar or None (the latest time in the EntitySet) gives
    (None, [], the cutoff)."""
    if isinstance(cutoff_time, DataFrame):
        cols = cutoff_time.columns
        inst = index_col if index_col in cols else (
            "instance_id" if "instance_id" in cols else cols[0]
        )
        tcol = "time" if "time" in cols else cols[1]
        pass_cols = [c for c in cols if c not in (inst, tcol)]
        df = cutoff_time.select(
            F.col(inst).alias(index_col),
            F.col(tcol).cast("timestamp").alias(CUTOFF_COL),
            *[F.col(c).alias(_pass_col(i)) for i, c in enumerate(pass_cols)],
        )
        return df, pass_cols, None
    if cutoff_time is None:
        cutoff_time = _max_time(es)
    if isinstance(cutoff_time, str):
        cutoff_time = _dt.datetime.fromisoformat(cutoff_time)
    return None, [], cutoff_time


def _max_time(es):
    best = None
    for name, meta in es.meta.items():
        if meta.time_index:
            m = es[name].agg(F.max(meta.time_index)).collect()[0][0]
            if m is not None and (best is None or m > best):
                best = m
    if best is None:
        raise ValueError("no time index anywhere; pass cutoff_time explicitly")
    return best


def _apply_scalar_pit(es, table, df, pit):
    """_handle_time row filter for an intermediate path table at a
    scalar cutoff (reference filters EVERY dataframe on the descent,
    feature_set_calculator trie walk)."""
    ti = es.time_index(table)
    if ti is None:
        return df
    _, inc, tw = pit
    lti = (
        F.col(LTI_COLUMN_NAME)
        if es.meta[table].last_time_index and LTI_COLUMN_NAME in df.columns
        else None
    )
    return df.filter(_pit_mask(F.col(ti), _cut(pit), inc, tw, lti=lti))


def _child_frame(es, path, pit):
    """DataFrame of the deepest child on the path with the TOP ancestor
    key attached (denormalized path keys — reference fsc.py:373-431),
    at a scalar cutoff. Returns (df, ancestor_key_col).

    The mapping chain only ever joins on PARENT indexes (validated
    unique by add_relationship), never on child indexes — child tables
    need no unique key for multi-hop aggregation. Intermediate
    mappings are dimension-sized; Catalyst broadcasts them when small.

    pit: (scalar_cutoff, include_cutoff_time, training_window) — every
    table is row-filtered to the cutoff like the reference's trie
    descent (a lineitem belonging to a post-cutoff order is invisible at
    the customer grain).
    """
    child_name = path[-1].child_name
    df, ti = es[child_name], es.time_index(child_name)
    if ti is not None:
        # the as-of layer re-applies the full predicate, training window
        # included
        df = df.filter(_pit_mask(F.col(ti), _cut(pit), pit[1], None))
    if len(path) == 1:
        return df, path[0].child_col
    key_col = "_ft_ancestor_key"
    # mapping: (index of the next rel's parent table) -> top ancestor key
    mapping = None
    for rel, nxt in zip(path, path[1:]):
        tbl = _apply_scalar_pit(es, rel.child_name, es[rel.child_name], pit)
        if mapping is None:
            mapping = tbl.select(
                F.col(nxt.parent_col).alias("_ft_link"),
                F.col(rel.child_col).alias(key_col),
            )
        else:
            mapping = (
                tbl.select(
                    F.col(nxt.parent_col).alias("_ft_link_new"),
                    F.col(rel.child_col).alias("_ft_link"),
                )
                .join(mapping, on="_ft_link", how="left")
                .select(F.col("_ft_link_new").alias("_ft_link"),
                        F.col(key_col))
            )
    last = path[-1]
    df = df.join(
        mapping,
        df[last.child_col] == mapping["_ft_link"],
        "left",
    ).drop("_ft_link")
    return df, key_col


def _cut(pit) -> Column:
    """The cutoff of a pit as a Column: the literal at a scalar cutoff,
    else the frame's CUTOFF_COL."""
    return (F.col(CUTOFF_COL) if pit[0] is None
            else F.lit(pit[0]).cast("timestamp"))


def _sec_governing_col(es, table, feature):
    """Return the secondary-time-index column governing any identity
    column of `table` feeding `feature` (values are only valid once
    that time has passed — reference entityset.py:1450-1455)."""
    sec = es.meta[table].secondary_time_index or {}
    if not sec:
        return None
    id_cols = set()

    def walk(f):
        if isinstance(f, IdentityFeature) and f.entity == table:
            id_cols.add(f.column)
        for d in f.get_dependencies():
            walk(d)

    walk(feature)
    for tcol, cols in sec.items():
        if id_cols & set(cols):
            return tcol
    return None


def _secondary_mask_col(es, agg_feature):
    """Secondary-TI mask column for an aggregation's child inputs."""
    for b in agg_feature.base_features:
        tcol = _sec_governing_col(es, agg_feature.child_entity, b)
        if tcol:
            return tcol
    return None


def _has_agg_or_direct_dep(f) -> bool:
    for d in f.get_dependencies():
        if isinstance(d, (AggregationFeature, DirectFeature)):
            return True
        if _has_agg_or_direct_dep(d):
            return True
    return False


def _agg_direct_roots(f, acc=None) -> list:
    """Top-most AggregationFeature/DirectFeature nodes under f (the
    aggregation and direct machinery computes everything below them)."""
    if acc is None:
        acc = []
    for d in f.get_dependencies():
        if isinstance(d, (AggregationFeature, DirectFeature)):
            acc.append(d)
        else:
            _agg_direct_roots(d, acc)
    return acc


def _ident_deps(f, table, acc: set):
    """Raw columns of `table` read by f outside agg/direct subtrees."""
    if isinstance(f, IdentityFeature):
        if f.entity == table:
            acc.add(f.column)
        return
    if isinstance(f, (AggregationFeature, DirectFeature)):
        return
    for d in f.get_dependencies():
        _ident_deps(d, table, acc)


def _window_deps(f, acc: dict):
    """Top-most dependencies of f that are window transforms over the
    table (uses_full_dataframe) and read neither the cutoff nor an
    aggregation or direct output, by name. The walk stops at
    aggregation and direct nodes: below them is another table."""
    for d in f.get_dependencies():
        if isinstance(d, (AggregationFeature, DirectFeature)):
            continue
        if (_uses_full_df(d) and not _uses_calc_time(d)
                and not _has_agg_or_direct_dep(d)):
            acc.setdefault(d.get_name(), d)
        else:
            _window_deps(d, acc)


def _per_cutoff(f) -> bool:
    """True when f's value at a row varies with the cutoff: it reads
    the cutoff, or is or contains an aggregation or a direct feature
    (whose parent row is PIT-masked)."""
    return (isinstance(f, (AggregationFeature, DirectFeature))
            or _has_agg_or_direct_dep(f) or _uses_calc_time(f))


def _materialize_features(es, table, df, feats, time_col, pit=None,
                          row_keys=None, computed=None, order_cols=None):
    """Add one column per feature to df; returns (df, colnames). The one
    compiler of transform features, on a table or on the matrix.
    computed: feature name -> the column of df already holding it; such
    a feature is neither computed again nor descended into. order_cols:
    df's time order, by default (time_col, the table's index); the
    matrix passes (CUTOFF_COL, instance).

    Row-wise transforms compile into Column expressions; window
    transforms (uses_full_dataframe) into Window expressions over
    (partition?, order_cols) — on a table, over all rows before any
    instance filtering. A groupby transform partitions by its groupby
    feature, compiled like any input. uses_calc_time transforms read
    the cutoff of pit = (cutoff, include_cutoff_time, training_window)
    (_cut: the literal at a scalar cutoff, else df's CUTOFF_COL).
    Pandas-kernel transforms (the EWM family) run first, at any depth
    and inputs first: each one's inputs compile to double columns and
    its groupby to a column, _apply_pandas_transform adds its output
    and the temporary columns are dropped; consumers read the output
    like any column.

    Stacked inputs — AggregationFeature/DirectFeature nodes at this
    table's grain (depth>=2 DFS, e.g. MEAN(orders.SUM(lineitem.x)))
    — need a pit and attach straight onto df the way the reference's
    trie walk computes a child's features on the child frame: each
    aggregation group is one aggregate per table row (fsc.py:764-771),
    each relationship's direct features one left join of the parent's
    masked columns on the foreign key (fsc.py:594-650). At a scalar
    cutoff df is the table filtered to t <= cutoff (_child_frame) and
    an aggregate joins on the table index; at per-row cutoffs df is
    the table's rows per cutoff, CUTOFF_COL among its columns and
    row_keys identifying a row, and an aggregate groups back to those
    rows (_aggregate_keyed). df needs no target-grain mask: the
    consuming aggregation drops rows outside the cutoff's window.
    """
    new_cols = dict(computed or {})

    def fresh() -> str:
        global _MAT_COUNTER
        _MAT_COUNTER += 1
        return f"_ft_m{_MAT_COUNTER}"

    # the stacked inputs under feats, and the pandas-kernel nodes,
    # inputs before consumers
    special: list = []
    kernels: dict = {}

    def _collect(f):
        name = f.get_name()
        if name in new_cols or name in kernels:
            return
        if isinstance(f, (AggregationFeature, DirectFeature)):
            special.append(f)
            return
        for d in f.get_dependencies():
            _collect(d)
        if getattr(getattr(f, "primitive", None), "strategy", "") == "pandas":
            kernels[name] = f

    for f in feats:
        _collect(f)
    if special:
        uniq = list({f.get_name(): f for f in special}.values())
        precomputed = {f.get_name(): fresh() for f in uniq}
        keys = df
        aggs = [f for f in uniq if isinstance(f, AggregationFeature)]
        for group in _agg_groups(_rolled_up(es, aggs, pit[2])):
            df = _aggregate_group(es, group, df, es.index(table),
                                  precomputed, pit, row_keys=row_keys)
        directs = [f for f in uniq if isinstance(f, DirectFeature)]
        if directs:
            df = _join_directs(es, df, directs, precomputed, pit, keys=keys)
        new_cols.update(precomputed)
    if pit is None and any(_uses_calc_time(f) for f in feats):
        raise ValueError("uses_calc_time feature outside cutoff context")
    ctx = TransformContext(
        time=F.col(time_col) if time_col else None,
        cutoff=_cut(pit) if pit else None,
        order_cols=order_cols or [c for c in (time_col, es.index(table))
                                  if c],
    )

    def compile_feat(f) -> Column:
        name = f.get_name()
        if name in new_cols:
            return F.col(new_cols[name])
        if isinstance(f, IdentityFeature):
            return F.col(f.column)
        if isinstance(f, TransformFeature):
            local = ctx
            if isinstance(f, GroupByTransformFeature):
                local = _dc.replace(ctx, partition_cols=[
                    compile_feat(f.groupby)])
            inputs = [compile_feat(b) for b in f.base_features]
            return f.primitive.expr(inputs, local)
        raise ValueError(f"cannot materialize {f!r} on table {table}")

    for name, f in kernels.items():
        ins = {fresh(): compile_feat(b).cast("double")
               for b in f.base_features}
        grp = ({fresh(): compile_feat(f.groupby)}
               if isinstance(f, GroupByTransformFeature) else {})
        new_cols[name] = fresh()
        df = _apply_pandas_transform(
            df.withColumns({**ins, **grp}), f.primitive, list(ins),
            new_cols[name], ctx.order_cols, list(grp)).drop(*ins, *grp)

    for f in feats:
        name = f.get_name()
        if name not in new_cols:
            c = compile_feat(f)
            new_cols[name] = fresh()
            df = df.withColumn(new_cols[name], c)
    return df, [new_cols[f.get_name()] for f in feats]


# the grouped pandas kernel's input bytes per partition, and its most
# partitions
_KERNEL_PART_BYTES = 64 << 20
_KERNEL_MAX_PARTS = 32768


def _kernel_nparts(df) -> int:
    """Shuffle width for the grouped pandas kernel, scaled with INPUT
    SIZE instead of pinned to spark.sql.shuffle.partitions (VERDICT
    r5 #3 watch item / r6 #4): the static width packs linearly more
    groups per partition as data grows — memory stays bounded (the
    group loop streams Arrow batches), but parallelism and straggler
    smoothing don't. Width = sum of the optimized plan's LEAF scan
    size estimates (no job runs) / _KERNEL_PART_BYTES, floored at the
    session shuffle width — never fewer partitions than any other agg
    would get — and capped at _KERNEL_MAX_PARTS.

    Leaf sum, NOT the plan root's sizeInBytes: Catalyst propagates
    size estimates MULTIPLICATIVELY through joins, so the root stat
    of the CFM's multi-join plan overshoots by orders of magnitude —
    and an explicit repartition(n, cols) is a user-specified width
    that AQE does NOT coalesce back, so an overshoot here becomes
    tens of thousands of real Python-worker tasks on a toy input
    (observed: a 150-row test spun 32768 tasks). File-scan leaves
    carry actual file bytes; local relations carry actual row bytes.
    Leaves with NO statistics (LogicalRDD — any createDataFrame /
    Arrow / checkpoint boundary) report the defaultSizeInBytes
    sentinel (~Long.MaxValue); those are EXCLUDED from the sum — an
    unknown-sized input contributes the floor, never the cap. No
    real scan is an exabyte, so believable = < 2^60 bytes."""
    floor = int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    try:
        leaves = (df._jdf.queryExecution().optimizedPlan()
                  .collectLeaves())
        size = 0
        it = leaves.iterator()
        while it.hasNext():
            s = int(str(it.next().stats().sizeInBytes()))
            if s < 1 << 60:
                size += s
    except Exception:
        return floor
    return max(floor, min(-(-size // _KERNEL_PART_BYTES),
                          _KERNEL_MAX_PARTS))


def _apply_pandas_transform(df, prim, in_cols, out_col, order_cols, part_cols):
    from pyspark.sql import types as T

    schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.DoubleType(), True)]
    )

    if part_cols:
        # hash-partition by the groupby key and run ONE mapInPandas
        # per partition, looping groups in Python: applyInPandas pays
        # an Arrow exchange + Python invocation PER GROUP, which
        # dominates when groups are small and numerous (the common
        # per-entity shape). Memory is bounded by the shuffle
        # partition, the same contract as the sortmerge kernel.
        import pandas as _pd

        nparts = _kernel_nparts(df)
        # explicit nulls-LAST ordering to match pandas sort_values
        # (the global path's NaN/NaT placement); Spark's default is
        # nulls-first and would feed kernels a different row order
        # for groups containing null order values
        ordered = (
            df.repartition(nparts, *[F.col(c) for c in part_cols])
            .sortWithinPartitions(
                *part_cols,
                *[F.col(c).asc_nulls_last() for c in order_cols],
            )
        )

        def fngrp(batches):
            # STREAMING group loop (r5, VERDICT #4): consume Arrow
            # batches one at a time and cut at group boundaries —
            # peak memory is one batch + the currently-open GROUP,
            # not the whole shuffle partition. Rows arrive sorted by
            # (key, order), so groups are contiguous and appear in
            # key order; the last group of each batch may continue
            # into the next batch, so it is held back until a new
            # key (or end of partition) closes it. Each group slice
            # is already in kernel order — no per-group re-sort.
            buf = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if buf is not None and len(buf):
                    pdf = _pd.concat([buf, pdf], ignore_index=True)
                groups = list(
                    pdf.groupby(part_cols, sort=False, dropna=False)
                )
                for _, g in groups[:-1]:
                    yield prim.pandas(g, in_cols, out_col, order_cols)
                buf = groups[-1][1] if groups else None
            if buf is not None and len(buf):
                yield prim.pandas(buf, in_cols, out_col, order_cols)

        return ordered.mapInPandas(fngrp, schema)
    # global (no partition key) EWM primitives have a genuinely
    # distributed evaluation — a two-pass segmented prefix scan over
    # range partitions (ewm.py) — so they never hit the single-group
    # collapse below
    from featuretools_spark.ewm import ewm_global
    from featuretools_spark.primitives.transform import _EWMBase

    if isinstance(prim, _EWMBase):
        kind = {"exponential_weighted_average": "mean",
                "exponential_weighted_std": "std",
                "exponential_weighted_variance": "var"}[prim.name]
        return ewm_global(
            df, in_cols[0], out_col, order_cols, kind=kind,
            alpha=prim.alpha, com=prim.com, span=prim.span,
            halflife=prim.halflife, ignore_na=prim.ignore_na,
        )
    # bounded-window kernels (savgol, rolling_outlier_count): each row
    # reads a fixed neighbourhood, so chunk + halo-exchange instead of
    # collapsing into one pandas frame
    halo = getattr(prim, "halo", lambda: None)()
    if halo is not None:
        from featuretools_spark.chunked import bounded_window_global

        return bounded_window_global(
            df, prim, in_cols, out_col, order_cols, halo[0], halo[1]
        )
    # single global group (full-column semantics, reference parity);
    # a bare int literal in groupBy is parsed as an ordinal — use a
    # materialized constant column instead. This shape collapses the
    # table into ONE executor's pandas frame, so it is hard-capped:
    # above the threshold, partition by the entity key instead
    # (GroupByTransformFeature) — that is the scale path.
    import os

    cap = int(os.environ.get("FT_SPARK_GLOBAL_PANDAS_MAX_ROWS", 10_000_000))
    tagged = df.withColumn("__ft_g", F.lit(1))
    schema2 = T.StructType(
        tagged.schema.fields
        + [f for f in schema.fields if f.name == out_col]
    )

    def fn2(pdf):
        if len(pdf) > cap:
            raise ValueError(
                f"global pandas transform {prim.name!r} over {len(pdf)} rows "
                f"exceeds FT_SPARK_GLOBAL_PANDAS_MAX_ROWS={cap}; partition "
                f"by an entity key (GroupByTransformFeature) instead"
            )
        pdf = pdf.sort_values(order_cols, kind="stable")
        return prim.pandas(pdf, in_cols, out_col, order_cols)

    return tagged.groupBy("__ft_g").applyInPandas(fn2, schema2).drop("__ft_g")


_MAT_COUNTER = 0


def _uses_full_df(f) -> bool:
    prim = getattr(f, "primitive", None)
    if prim is not None and getattr(prim, "uses_full_dataframe", False):
        return True
    return any(_uses_full_df(d) for d in f.get_dependencies())


def _uses_calc_time(f) -> bool:
    prim = getattr(f, "primitive", None)
    if prim is not None and getattr(prim, "uses_calc_time", False):
        return True
    return any(_uses_calc_time(d) for d in f.get_dependencies())
