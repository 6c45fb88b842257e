"""EntitySet — catalog of named Spark DataFrames + 1:N relationships.

Re-expresses the reference data model (featuretools/entityset/
entityset.py:28-745, relationship.py:1-200) over pyspark.sql.DataFrame:
tables are lazy DataFrames (any DataFrame source — Catalyst prunes
columns and pushes predicates into the scan), relationships are metadata, and the
last-time-index is computed as a distributed agg-join loop instead of
the reference's recursive pandas reindex (entityset.py:1063-1243).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featuretools_spark.schema import (
    ColumnSchema,
    default_tags,
    infer_logical_type,
)

LTI_COLUMN_NAME = "_ft_last_time"


@dataclass(frozen=True)
class Relationship:
    """parent 1 — N child on (parent_col == child_col).

    parent_col must be the parent table's index
    (reference relationship.py:32-39)."""

    parent_name: str
    parent_col: str
    child_name: str
    child_col: str

    def __repr__(self):
        return (
            f"<Relationship: {self.child_name}.{self.child_col} -> "
            f"{self.parent_name}.{self.parent_col}>"
        )


class TableMeta:
    def __init__(self, name, index, time_index=None, secondary_time_index=None):
        self.name = name
        self.index = index
        self.time_index = time_index
        # {sec_time_col: [cols only valid at/after that time]}
        self.secondary_time_index = secondary_time_index or {}
        self.column_schemas: dict[str, ColumnSchema] = {}
        self.last_time_index = False  # True once add_last_time_indexes ran
        self.interesting_values: dict[str, list] = {}


class EntitySet:
    """{name -> DataFrame} + relationships + per-table metadata."""

    def __init__(self, id: str = "entityset"):
        self.id = id
        self.tables: dict[str, DataFrame] = {}
        self.meta: dict[str, TableMeta] = {}
        self.relationships: list[Relationship] = []

    # ------------------------------------------------------------------
    # registration
    # ------------------------------------------------------------------
    def add_dataframe(
        self,
        name: str,
        df: DataFrame,
        index: str,
        time_index: str | None = None,
        logical_types: dict | None = None,
        semantic_tags: dict | None = None,
        secondary_time_index: dict | None = None,
    ) -> "EntitySet":
        if index not in df.columns:
            raise ValueError(f"index column {index!r} not in {name}: {df.columns}")
        if time_index is not None and time_index not in df.columns:
            raise ValueError(f"time_index {time_index!r} not in {name}")
        meta = TableMeta(name, index, time_index, secondary_time_index)
        logical_types = logical_types or {}
        semantic_tags = semantic_tags or {}
        for f in df.schema.fields:
            lt = logical_types.get(f.name) or infer_logical_type(f.dataType)
            tags = set(default_tags(lt)) | set(semantic_tags.get(f.name, set()))
            if f.name == index:
                tags = {"index"}
            if f.name == time_index:
                tags |= {"time_index"}
            meta.column_schemas[f.name] = ColumnSchema(lt, tags)
        self.tables[name] = df
        self.meta[name] = meta
        return self

    def add_relationship(
        self, parent_name: str, parent_col: str, child_name: str, child_col: str
    ) -> "EntitySet":
        for nm, col in ((parent_name, parent_col), (child_name, child_col)):
            if nm not in self.tables:
                raise KeyError(f"unknown table {nm!r}")
            if col not in self.tables[nm].columns:
                raise ValueError(f"column {col!r} not in table {nm!r}")
        if parent_col != self.meta[parent_name].index:
            raise ValueError(
                f"parent column {parent_col!r} must be the index of "
                f"{parent_name!r} (reference relationship.py:32-39)"
            )
        rel = Relationship(parent_name, parent_col, child_name, child_col)
        self.relationships.append(rel)
        self.meta[child_name].column_schemas[child_col].semantic_tags.add(
            "foreign_key"
        )
        return self

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self.tables

    def time_index(self, name: str) -> str | None:
        return self.meta[name].time_index

    def index(self, name: str) -> str:
        return self.meta[name].index

    # ------------------------------------------------------------------
    # graph traversal (reference entityset.py:433-580)
    # ------------------------------------------------------------------
    def get_forward_relationships(self, child_name: str) -> list[Relationship]:
        return [r for r in self.relationships if r.child_name == child_name]

    def get_backward_relationships(self, parent_name: str) -> list[Relationship]:
        return [r for r in self.relationships if r.parent_name == parent_name]

    def find_backward_paths(self, start: str, goal: str) -> list[list[Relationship]]:
        """All parent→child relationship chains from start down to goal."""
        paths = []

        def walk(table, acc, seen):
            if table == goal and acc:
                paths.append(list(acc))
                return
            for rel in self.get_backward_relationships(table):
                if rel.child_name in seen:
                    continue
                acc.append(rel)
                walk(rel.child_name, acc, seen | {rel.child_name})
                acc.pop()

        walk(start, [], {start})
        return paths

    def find_forward_paths(self, start: str, goal: str) -> list[list[Relationship]]:
        """All child→parent chains from start up to goal."""
        paths = []

        def walk(table, acc, seen):
            if table == goal and acc:
                paths.append(list(acc))
                return
            for rel in self.get_forward_relationships(table):
                if rel.parent_name in seen:
                    continue
                acc.append(rel)
                walk(rel.parent_name, acc, seen | {rel.parent_name})
                acc.pop()

        walk(start, [], {start})
        return paths

    # ------------------------------------------------------------------
    # interesting values (reference entityset.py:1267-1337) — per
    # categorical column, the most frequent values; drives WHERE-clause
    # feature enumeration in DFS. One groupBy per column, driver-side
    # metadata only.
    # ------------------------------------------------------------------
    def add_interesting_values(
        self, max_values: int = 5, dataframe_name: str | None = None,
        values: dict | None = None,
    ) -> "EntitySet":
        names = [dataframe_name] if dataframe_name else list(self.tables)
        for name in names:
            meta = self.meta[name]
            if values is not None:
                meta.interesting_values.update(values)
                continue
            df = self.tables[name]
            for col, cs in meta.column_schemas.items():
                if not cs.is_categorical() or "index" in cs.semantic_tags:
                    continue
                top = (
                    df.filter(F.col(col).isNotNull())
                    .groupBy(col)
                    .count()
                    .orderBy(F.desc("count"), F.asc(col))
                    .limit(max_values)
                    .collect()
                )
                meta.interesting_values[col] = [r[col] for r in top]
        return self

    # ------------------------------------------------------------------
    # query_by_values (reference entityset.py:1459-1534): semi-join /
    # isin filter + optional time window
    # ------------------------------------------------------------------
    def query_by_values(
        self, dataframe_name: str, instance_vals, column_name: str | None = None,
        time_last=None, training_window=None, include_cutoff_time: bool = True,
    ) -> DataFrame:
        from featuretools_spark.timedelta import Timedelta

        df = self.tables[dataframe_name]
        col = column_name or self.meta[dataframe_name].index
        if isinstance(instance_vals, DataFrame):
            vals_df = instance_vals.toDF(col)
            df = df.join(F.broadcast(vals_df), on=col, how="left_semi")
        else:
            df = df.filter(F.col(col).isin(list(instance_vals)))
        ti = self.meta[dataframe_name].time_index
        if time_last is not None and ti:
            t = F.col(ti)
            cutoff = F.lit(time_last).cast("timestamp")
            pred = t <= cutoff if include_cutoff_time else t < cutoff
            if training_window is not None:
                w = Timedelta.parse(training_window)
                start = w.subtract_from(cutoff)
                pred = pred & (t > start if include_cutoff_time else t >= start)
            df = df.filter(pred)
        return df

    # ------------------------------------------------------------------
    # concat (reference entityset.py:1007-1058): union same-schema
    # entitysets, dedup per table by index (keep first in time order)
    # ------------------------------------------------------------------
    def concat(self, other: "EntitySet") -> "EntitySet":
        from pyspark.sql import Window as W

        out = EntitySet(self.id)
        for name, df in self.tables.items():
            meta = self.meta[name]
            merged = df.unionByName(other.tables[name], allowMissingColumns=True)
            if meta.time_index:
                w = W.partitionBy(meta.index).orderBy(
                    F.col(meta.time_index).asc_nulls_last()
                )
                merged = (
                    merged.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).drop("_rn")
                )
            else:
                merged = merged.dropDuplicates([meta.index])
            out.add_dataframe(
                name, merged, index=meta.index, time_index=meta.time_index,
                secondary_time_index=meta.secondary_time_index,
            )
        for rel in self.relationships:
            out.add_relationship(rel.parent_name, rel.parent_col,
                                 rel.child_name, rel.child_col)
        return out

    # ------------------------------------------------------------------
    # last time index (reference entityset.py:1063-1243) — needed for
    # training_window filtering of parent rows whose descendants are
    # still active. Distributed version: children-first topological
    # sweep; each parent's LTI = greatest(own time, max(child LTI) per
    # parent key). Pure groupBy+join — no UDF.
    # ------------------------------------------------------------------
    def add_last_time_indexes(self, updated_dataframes: list[str] | None = None):
        order = self._leaves_first_order()
        for name in order:
            df = self.tables[name]
            meta = self.meta[name]
            ti = meta.time_index
            if LTI_COLUMN_NAME in df.columns:
                df = df.drop(LTI_COLUMN_NAME)
            lti = F.col(ti).cast("timestamp") if ti else F.lit(None).cast("timestamp")
            df = df.withColumn(LTI_COLUMN_NAME, lti)
            for rel in self.get_backward_relationships(name):
                child = self.tables[rel.child_name]
                if LTI_COLUMN_NAME not in child.columns:
                    continue
                child_max = (
                    child.groupBy(F.col(rel.child_col).alias(rel.parent_col))
                    .agg(F.max(LTI_COLUMN_NAME).alias("_child_lti"))
                )
                df = df.join(child_max, on=rel.parent_col, how="left").withColumn(
                    LTI_COLUMN_NAME,
                    F.greatest(
                        F.coalesce(F.col(LTI_COLUMN_NAME), F.col("_child_lti")),
                        F.coalesce(F.col("_child_lti"), F.col(LTI_COLUMN_NAME)),
                    ),
                ).drop("_child_lti")
            self.tables[name] = df
            meta.last_time_index = True
        return self

    def _leaves_first_order(self) -> list[str]:
        """Topological order with leaf (childless) tables first."""
        remaining = set(self.tables)
        order = []
        while remaining:
            progressed = False
            for name in sorted(remaining):
                children = {
                    r.child_name
                    for r in self.get_backward_relationships(name)
                    if r.child_name != name
                }
                if not (children & remaining):
                    order.append(name)
                    remaining.discard(name)
                    progressed = True
            if not progressed:  # cycle — arbitrary order for the rest
                order.extend(sorted(remaining))
                break
        return order

    # ------------------------------------------------------------------
    # normalize_dataframe (reference entityset.py:919-947): split a new
    # parent table out of an existing one, dedup keep=first by time.
    # ------------------------------------------------------------------
    def normalize_dataframe(
        self,
        base_dataframe_name: str,
        new_dataframe_name: str,
        index: str,
        additional_columns: list[str] | None = None,
        make_time_index: bool = False,
    ) -> "EntitySet":
        from pyspark.sql import Window as W

        base = self.tables[base_dataframe_name]
        meta = self.meta[base_dataframe_name]
        cols = [index] + list(additional_columns or [])
        ti = meta.time_index
        sel = base.select(*cols, *( [ti] if ti and ti not in cols else [] ))
        if ti:
            w = W.partitionBy(index).orderBy(F.col(ti).asc_nulls_last())
            new_df = (
                sel.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            new_df = sel.dropDuplicates([index])
        new_ti = ti if (make_time_index and ti) else None
        if not make_time_index and ti and ti not in (additional_columns or []):
            new_df = new_df.drop(ti)
        self.add_dataframe(new_dataframe_name, new_df, index=index, time_index=new_ti)
        # drop moved columns from base (keep the FK)
        drop = [c for c in (additional_columns or []) if c != index]
        if drop:
            self.tables[base_dataframe_name] = base.drop(*drop)
            for c in drop:
                self.meta[base_dataframe_name].column_schemas.pop(c, None)
        self.add_relationship(new_dataframe_name, index, base_dataframe_name, index)
        return self

    def __repr__(self):
        lines = [f"Entityset: {self.id}", "  DataFrames:"]
        for name, meta in self.meta.items():
            lines.append(
                f"    {name} [index: {meta.index}, time_index: {meta.time_index}]"
            )
        lines.append("  Relationships:")
        for rel in self.relationships:
            lines.append(f"    {rel!r}")
        return "\n".join(lines)
