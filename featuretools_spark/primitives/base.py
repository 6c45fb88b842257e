"""Primitive protocol — the Spark-first re-expression of the
reference's PrimitiveBase (primitives/base/primitive_base.py:11-161).

A primitive is a *Column-expression builder*: `expr(inputs, ctx)`
returns a Catalyst Column so the whole feature compiles into one
`groupBy().agg(...)` / `select(...)` and stays inside whole-stage
codegen. Holistic primitives Spark cannot express in one aggregate
expression declare `strategy = "twostage"` and one of two batched
forms (counts_agg over a shared value-counts frame, or flag_parts:
window columns plus one aggregate). Only genuinely
order-dependent kernels (ewm, savgol) fall back to pandas via the
as-of kernel's vectorized path — never per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column


@dataclass
class AggContext:
    """Execution context handed to aggregation primitives.

    time:   Column — the child table's time index (None if absent)
    cutoff: Column — per-row cutoff time (F.lit(ts) on the scalar path)
    """

    time: Column | None = None
    cutoff: Column | None = None


@dataclass
class TransformContext:
    """Context for transforms.

    time:    Column — the table's time index
    cutoff:  Column — calc-time (for uses_calc_time primitives)
    order_cols: list of column names giving deterministic time order
    partition_cols: grouping for GroupByTransformFeature (may be empty)
    """

    time: Column | None = None
    cutoff: Column | None = None
    order_cols: list = field(default_factory=list)
    partition_cols: list = field(default_factory=list)

    def window(self):
        """Time-ordered window over the whole table (or the group for
        groupby-transforms)."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        w = W.partitionBy(*self.partition_cols) if self.partition_cols else W.partitionBy()
        return w.orderBy(*[F.col(c).asc_nulls_last() for c in self.order_cols])


class AggregationPrimitive:
    name: str = ""
    n_inputs: int = 1
    uses_calc_time: bool = False      # needs ctx.cutoff
    uses_time_index: bool = False     # engine appends the time column as input
    input_kinds: tuple = ("numeric",)  # for DFS matching: numeric|category|boolean|datetime|index|any
    return_kind: str = "numeric"
    strategy: str = "expr"            # expr | twostage
    default_value = None              # fill for groups with no rows
    commutative = False
    stack_on_self = False

    def expr(self, inputs: list[Column], ctx: AggContext) -> Column:
        raise NotImplementedError

    def fill_nulls(self, value: Column) -> Column:
        """The input value expr() reads, nulls filled. The engine fills
        before a where mask removes rows, so a filled null still counts
        and a masked-out row does not."""
        return value

    # -- holistic protocol (strategy = "twostage") --------------------
    # The as-of engine computes every holistic primitive of a group in
    # ONE pass over the cutoffs x events rows, in one of two forms:
    #   "counts": computable from a shared per-(key, value) counts
    #     frame ranked by (freq desc, value asc) — implement
    #     counts_agg(). One groupBy serves every counts primitive on
    #     the same input column and mask.
    #   "flag" (any other batch_family): window columns + one
    #     aggregate — implement flag_parts(). All flag primitives
    #     merge into the engine's main groupBy (zero extra joins). A
    #     where mask partitions the spec's windows and nulls its
    #     columns outside the mask, so time-ordered windows (lag/lead,
    #     runs) see only the rows inside it.
    batch_family: str | None = None

    def counts_agg(self, vcol: str, out_name: str) -> Column:
        """Aggregate expression over the ranked value-counts frame
        (columns: keys..., `vcol`, _cnt, _rn with _rn = row_number
        ordered by (_cnt desc, value asc))."""
        raise NotImplementedError

    def flag_parts(self, v: Column, out_name: str, ctx: AggContext,
                   wk, wo, uid: str):
        """Return (cols, agg): `cols` maps intermediate column names to
        window expressions to attach, in order (a later one may read an
        earlier one by name), before the engine's groupBy; `agg` is the
        final aggregate expression (UNaliased — the engine aliases and
        guards it for empty windows). wk is Window.partitionBy(keys,
        plus the where column under a where); wo additionally
        time-orders. uid makes intermediate column names unique per
        spec."""
        raise NotImplementedError

    def display_name(self) -> str:
        return self.name.upper()


class TransformPrimitive:
    name: str = ""
    n_inputs: int = 1
    uses_calc_time: bool = False
    uses_full_dataframe: bool = False  # window transforms (lag/cum/rolling)
    input_kinds: tuple = ("numeric",)
    return_kind: str = "numeric"

    def expr(self, inputs: list[Column], ctx: TransformContext) -> Column:
        raise NotImplementedError

    def display_name(self) -> str:
        return self.name.upper()


AGG_PRIMITIVES: dict[str, type] = {}
TRANSFORM_PRIMITIVES: dict[str, type] = {}


def agg_primitive(cls):
    AGG_PRIMITIVES[cls.name] = cls
    return cls


def transform_primitive(cls):
    TRANSFORM_PRIMITIVES[cls.name] = cls
    return cls


def get_aggregation_primitive(name_or_obj) -> AggregationPrimitive:
    if isinstance(name_or_obj, AggregationPrimitive):
        return name_or_obj
    if isinstance(name_or_obj, type) and issubclass(name_or_obj, AggregationPrimitive):
        return name_or_obj()
    key = str(name_or_obj).lower()
    if key not in AGG_PRIMITIVES:
        raise KeyError(f"unknown aggregation primitive {name_or_obj!r}")
    return AGG_PRIMITIVES[key]()


def get_transform_primitive(name_or_obj) -> TransformPrimitive:
    if isinstance(name_or_obj, TransformPrimitive):
        return name_or_obj
    if isinstance(name_or_obj, type) and issubclass(name_or_obj, TransformPrimitive):
        return name_or_obj()
    key = str(name_or_obj).lower()
    if key not in TRANSFORM_PRIMITIVES:
        raise KeyError(f"unknown transform primitive {name_or_obj!r}")
    return TRANSFORM_PRIMITIVES[key]()
