"""The benchmark's workloads: how each opens its inputs, what one
request is, and the DuckDB reference its outputs are checked against.

Every request rebuilds its EntitySet, features and DataFrame from the
opened inputs, so no request reuses another's plan or shuffle files.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark.features import AggregationFeature, IdentityFeature
from featuretools_spark.io import backfill_with_checkpoints, bucket_of

from perfbench import inputs, oracle
from perfbench.trace import Tracer

OFF = Tracer(None, enabled=False)

BACKFILL_FEATURES = [("count", "doc_id"), ("sum", "n_tok"), ("mean", "n_tok"),
                     ("std", "n_tok"), ("time_since_last", "event_time")]
# the DFS spec of the engine's registered dfs_depth2 query
DFS_SPEC = dict(
    agg_primitives=["sum", "mean", "count"], trans_primitives=[],
    ignore_columns={
        "lineitem": ["l_partkey", "l_suppkey", "l_linenumber", "l_tax",
                     "l_returnflag", "l_linestatus"],
        "customer": ["c_name", "c_nationkey"],
    },
    max_depth=2,
)
# what that spec enumerates; a different list fails the request
DFS_FEATURES = [
    "c_acctbal", "c_mktsegment", "SUM(orders.o_totalprice)",
    "MEAN(orders.o_totalprice)", "COUNT(orders)", "SUM(lineitem.l_quantity)",
    "SUM(lineitem.l_extendedprice)", "SUM(lineitem.l_discount)",
    "MEAN(lineitem.l_quantity)", "MEAN(lineitem.l_extendedprice)",
    "MEAN(lineitem.l_discount)", "COUNT(lineitem)",
    "SUM(orders.MEAN(lineitem.l_quantity))",
    "SUM(orders.MEAN(lineitem.l_extendedprice))",
    "SUM(orders.MEAN(lineitem.l_discount))",
    "MEAN(orders.SUM(lineitem.l_quantity))",
    "MEAN(orders.SUM(lineitem.l_extendedprice))",
    "MEAN(orders.SUM(lineitem.l_discount))",
    "MEAN(orders.MEAN(lineitem.l_quantity))",
    "MEAN(orders.MEAN(lineitem.l_extendedprice))",
    "MEAN(orders.MEAN(lineitem.l_discount))",
    "MEAN(orders.COUNT(lineitem))", "SUM(lineitem.orders.o_totalprice)",
    "MEAN(lineitem.orders.o_totalprice)",
]


@dataclass
class Outcome:
    """One request: wall seconds, output rows x feature columns, and
    whether its output passed the check."""
    seconds: float
    values: int
    ok: bool
    detail: str = ""


def _checksum_exprs(df, n_keys: int) -> list:
    """Spark side of oracle.checksum, evaluated in the request's own
    action through observe()."""
    exprs = [F.count(F.lit(1)).alias("rows")]
    for i, (name, kind) in enumerate(df.dtypes[n_keys:]):
        c = F.col(f"`{name}`")
        if kind == "string":
            bad, val = c.isNull(), F.lit(0.0)
        else:
            d = c.cast("double")
            bad, val = d.isNull() | F.isnan(d), d
        exprs += [F.sum(bad.cast("long")).alias(f"n{i}"),
                  F.coalesce(F.sum(F.when(~bad, val)), F.lit(0.0))
                  .alias(f"s{i}")]
    return exprs


def observed(df, n_keys: int) -> tuple:
    """`df` with its checksum attached, and the Observation that holds
    the checksum once an action has run `df`."""
    obs = Observation()
    return df.observe(obs, *_checksum_exprs(df, n_keys)), obs


def checksum_of(obs: Observation) -> dict:
    """An observed checksum in the shape of oracle.checksum."""
    m = obs.get
    n = (len(m) - 1) // 2
    return {"rows": m["rows"],
            **{f"f{i}": (m[f"n{i}"], m[f"s{i}"]) for i in range(n)}}


def add_checksums(parts: list[dict]) -> dict:
    """The checksum of the union of outputs, from theirs."""
    out = {"rows": sum(p["rows"] for p in parts)}
    for k in parts[0]:
        if k != "rows":
            out[k] = (sum(p[k][0] for p in parts),
                      sum(p[k][1] for p in parts))
    return out


def run_action(df, n_keys: int, out: str | None = None) -> dict:
    """Evaluate every column into the noop sink, or into parquet at
    `out`; return the checksum of what was produced, read off the same
    execution."""
    df, obs = observed(df, n_keys)
    w = df.write.mode("overwrite")
    if out is None:
        w.format("noop").save()
    else:
        w.parquet(out)
    return checksum_of(obs)


def _read_dir(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    return pa.concat_tables([pq.read_table(f) for f in files])


class Workload:
    """One request builds a feature matrix and evaluates it once."""

    n_keys: int       # leading key columns of the output
    group: str        # the inputs.GROUPS entry it reads
    # Warm-up requests before timing, fixed per workload. They absorb
    # the cold first request of a shape (3-4x a warm one) and the next,
    # still 1.5x; the third is within ~10% of the timed ones. The JVM
    # then keeps compiling for several requests, but requests vary more
    # from host load than from that drift, so run time goes to the
    # timed window instead. A settle-until-stable rule stopped at
    # varying counts and made set-up time bimodal.
    warmup = 2

    def prepare(self) -> None:
        """Untimed bookkeeping the per-request checks need."""

    def build(self, tr):
        raise NotImplementedError

    def requests(self, tr, rid, ref_sum: dict,
                 out: str | None = None) -> list[Outcome]:
        """One request; `out` keeps its output for the row-by-row check."""
        t0 = time.perf_counter()
        tr.begin("request", rid)
        try:
            fm = self.build(tr)
            with tr.span("exec.action"):
                got = run_action(fm, self.n_keys, out)
        finally:
            tr.end()
        ok = oracle.checksums_match(got, ref_sum)
        return [Outcome(time.perf_counter() - t0,
                        got["rows"] * (len(got) - 1), ok,
                        "" if ok else f"checksum {got} != {ref_sum}")]

    def output(self, out: str) -> pa.Table:
        """The output a request kept for the row-by-row check."""
        return _read_dir(out)


class Backfill(Workload):
    """Per-row-cutoff as-of backfill of the sequence table to entities."""

    n_keys = 3  # entity_id, time, label
    group = "sequences"

    def __init__(self, cutoffs: str, features: list, strategy: str,
                 window_days: int | None = None):
        self.cutoffs = cutoffs
        self.features = features
        self.strategy = strategy
        self.window_days = window_days

    def open(self, spark, d: str, seed: int) -> None:
        self.spark = spark
        self.seqs = spark.read.parquet(os.path.join(d, "sequences"))
        self.ents = spark.read.parquet(os.path.join(d, "entities"))
        self.cuts = spark.read.parquet(os.path.join(d, self.cutoffs))

    def reference_sql(self, d: str, seed: int) -> str:
        return oracle.backfill_sql(d, self.cutoffs,
                                   [p for p, _ in self.features],
                                   self.window_days)

    def entityset(self):
        es = fts.EntitySet("perfbench")
        es.add_dataframe("entities", self.ents, index="entity_id",
                         time_index="first_seen")
        es.add_dataframe("sequences", self.seqs, index="doc_id",
                         time_index="event_time")
        es.add_relationship("entities", "entity_id", "sequences",
                            "entity_id")
        if self.window_days:
            # a training window keeps an entity whose latest activity
            # falls inside it, which only the last time index records
            es.add_last_time_indexes()
        return es

    def matrix(self, tr, es, cuts):
        feats = [AggregationFeature(IdentityFeature(es, "sequences", col),
                                    "entities", prim, es=es)
                 for prim, col in self.features]
        window = f"{self.window_days} days" if self.window_days else None
        with tr.span("cfm.build"):
            fm = fts.calculate_feature_matrix(
                feats, es, cutoff_time=cuts, strategy=self.strategy,
                training_window=window)
        return fm.select("entity_id", "time", "label",
                         *[f"`{f.get_name()}`" for f in feats])

    def build(self, tr):
        with tr.span("entityset.build"):
            es = self.entityset()
        return self.matrix(tr, es, self.cuts)


class Dfs(Workload):
    """Depth-2 DFS over customer <- orders <- lineitem, then the feature
    matrix at one scalar cutoff."""

    n_keys = 2  # c_custkey, time
    group = "tpch"

    def open(self, spark, d: str, seed: int) -> None:
        self.spark = spark
        self.tables = {t: spark.read.parquet(os.path.join(d, t))
                       for t in ("customer", "orders", "lineitem")}
        self.cutoff = inputs.tpch_cutoff(seed)

    def reference_sql(self, d: str, seed: int) -> str:
        return oracle.dfs_sql(d, inputs.tpch_cutoff(seed), DFS_FEATURES)

    def build(self, tr):
        def cents(df, *cols):
            for c in cols:
                df = df.withColumn(
                    c, F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long"))
            return df

        t = self.tables
        with tr.span("entityset.build"):
            es = fts.EntitySet("tpch")
            es.add_dataframe("customer", cents(t["customer"], "c_acctbal"),
                             index="c_custkey")
            es.add_dataframe("orders", cents(t["orders"], "o_totalprice"),
                             index="o_orderkey", time_index="o_orderdate")
            es.add_dataframe(
                "lineitem",
                cents(t["lineitem"], "l_extendedprice", "l_discount"),
                index="l_id", time_index="l_shipdate")
            es.add_relationship("customer", "c_custkey", "orders",
                                "o_custkey")
            es.add_relationship("orders", "o_orderkey", "lineitem",
                                "l_orderkey")
        tr.begin("dfs.enumerate")
        feats = fts.dfs(entityset=es, target_dataframe_name="customer",
                        features_only=True, **DFS_SPEC)
        tr.end(features=len(feats))
        names = [f.get_name() for f in feats]
        if names != DFS_FEATURES:
            raise AssertionError(f"dfs enumerated {names}")
        with tr.span("cfm.build"):
            fm = fts.calculate_feature_matrix(feats, es,
                                              cutoff_time=self.cutoff)
        return fm.select("c_custkey", "time", *[f"`{n}`" for n in names])


class Resumable(Backfill):
    """The production backfill: io.backfill_with_checkpoints writes one
    parquet bucket per slice of the cutoff table; one request is one
    bucket (build, write, manifest and read-back count)."""

    warmup = 2  # rounds of N_BUCKETS requests

    def __init__(self, n_buckets: int, out_root: str):
        super().__init__("cutoffs_sparse", BACKFILL_FEATURES, "join")
        self.n_buckets = n_buckets
        self.out_root = out_root
        self.round = 0
        self.last_dir = None

    def prepare(self) -> None:
        """Expected rows per bucket, for the per-request check."""
        counts = self.cuts.groupBy(
            bucket_of(F.col("entity_id"), self.n_buckets).alias("b")
        ).count().collect()
        self.bucket_rows = {r["b"]: r["count"] for r in counts}

    def _run(self, tr, out_dir: str, stamps: list, sums: list):
        k = self.n_buckets
        with tr.span("entityset.build"):
            es = self.entityset()

        def builder(b, n):
            if stamps:
                tr.end()  # the previous bucket's write and count are done
            stamps.append(time.perf_counter())
            tr.begin("io.bucket", f"{self.round}.{b}", bucket=b)
            cuts = self.cuts.filter(bucket_of(F.col("entity_id"), n) == b)
            # the bucket's write fills its checksum
            df, obs = observed(self.matrix(tr, es, cuts), self.n_keys)
            sums.append(obs)
            return df

        try:
            return backfill_with_checkpoints(builder, out_dir, n_buckets=k,
                                             spark=self.spark)
        finally:
            if stamps:
                tr.end()
            stamps.append(time.perf_counter())

    def requests(self, tr, rid, ref_sum: dict,
                 out: str | None = None) -> list[Outcome]:
        """One round of buckets; the last round is kept for the check.
        Each bucket's row count must match its cutoff rows, and the
        buckets' checksums must add up to the reference's: a round that
        does not fails every bucket."""
        self.round += 1
        out_dir = os.path.join(self.out_root, f"round{self.round}")
        stamps, sums = [], []
        tr.begin("io.backfill", f"round{self.round}")
        try:
            summary = self._run(tr, out_dir, stamps, sums)
        finally:
            tr.end()
        got = add_checksums([checksum_of(o) for o in sums])
        round_ok = oracle.checksums_match(got, ref_sum)
        if tr.enabled:
            for s in tr.spans:
                if s["name"] == "io.bucket" and s["rid"].startswith(
                        f"{self.round}."):
                    s["wall_s"] = summary["buckets"][s["bucket"]]["wall_s"]
        if self.last_dir:
            shutil.rmtree(self.last_dir)
        self.last_dir = out_dir
        n_feats = len(self.features)
        out = []
        for b in range(self.n_buckets):
            rows = summary["buckets"][b]["rows"]
            ok = rows == self.bucket_rows.get(b, 0) and round_ok
            out.append(Outcome(
                stamps[b + 1] - stamps[b], rows * n_feats, ok,
                "" if ok else f"bucket {b}: {rows} rows, round checksum "
                f"{got} vs {ref_sum}"))
        return out

    def output(self, out: str) -> pa.Table:
        return _read_dir(self.last_dir)

    def resume(self, tr) -> bool:
        """Re-run over the finished directory: every bucket must be
        skipped from its manifest, with no Spark job."""
        def builder(b, n):
            raise AssertionError(f"resume rebuilt bucket {b}")

        with tr.span("io.resume", "resume"):
            summary = backfill_with_checkpoints(
                builder, self.last_dir, n_buckets=self.n_buckets,
                spark=self.spark)
        return (sorted(summary["resumed"]) == list(range(self.n_buckets))
                and summary["total_rows"] == sum(self.bucket_rows.values()))


def make(name: str, work_dir: str):
    """The workload called `name`. BENCHMARK.json lists the two that fit
    its time budget; the other two run by name:
    - backfill_dense_auto: 64 cutoffs per entity under strategy="auto",
      so cfm's preflight count and router run, then the join path's
      events x cutoffs expansion (the router's workload);
    - backfill_windowed_sm: a bounded training window under sortmerge,
      the only shape that crosses the Python boundary (the mapInArrow
      sweep) while every other workload bypasses it."""
    if name == "backfill_dense_auto":
        return Backfill("cutoffs_dense", BACKFILL_FEATURES, "auto")
    if name == "backfill_windowed_sm":
        return Backfill("cutoffs_sparse",
                        BACKFILL_FEATURES + [("trend", "n_tok"),
                                             ("max", "n_tok")],
                        "sortmerge", window_days=30)
    if name == "backfill_resumable":
        return Resumable(N_BUCKETS, os.path.join(work_dir, "out",
                                                 str(os.getpid())))
    if name == "dfs_tpch_depth2":
        return Dfs()
    raise ValueError(f"unknown workload {name!r}")


N_BUCKETS = 4
WORKLOADS = ["backfill_dense_auto", "backfill_windowed_sm",
             "backfill_resumable", "dfs_tpch_depth2"]
