"""Benchmark harness.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "feature_rows_per_sec": ...}.

--scaling: runs the flagship as-of backfill at two parallelism levels
(local[N] and local[4N], subprocesses so each gets a fresh JVM) on the
same input and reports throughput at both + scaling efficiency
(BASELINE.json north rule: efficiency >= 0.8 between N and 4N).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "backfill_seq",      # flagship: north-rule as-of backfill (join strategy)
    "backfill_seq_sm",   # same backfill through the JVM running windows
    "dfs_depth1",        # DFS agg fan-out on the events star
    "per_row_cutoffs",   # per-row cutoff as-of join
    "agg_basic",
    "agg_distinct",
    "multihop",          # 2-hop relationship aggregation
    "direct",            # dimension join pulls
    "sessionize",        # inactivity-gap sessions
    "window_transforms", # lag/diff/cum/rolling at event grain
    "training_window",
    "dfs_depth2",        # stacked depth-2 DFS walk (agg-of-agg)
    "ewm_by_user",       # per-entity pandas kernel (applyInPandas)
    "backfill_skew",     # flagship input with one hot entity (~10% of rows)
    "backfill_skew_sm",  # hot-key input through the running windows
    "backfill_dense",    # 64 cutoffs/entity through the join path
    "backfill_dense_sm", # ... through the running windows, which beat
                         # the join at this density since the JVM
                         # windows replaced the round-5 Arrow sweep
                         # (ROADMAP.md item 5 sweep table)
    "holistic_wide",     # 6 holistic prims at per-row cutoffs, batched
                         # (r3: one flag-pass join + one shared counts
                         # subplan instead of one join per primitive)
    "ewm_of_agg",        # pandas-kernel transform OF an agg output on
                         # the matrix (NEW r4 — was NotImplementedError)
    "dedup_clusters",    # near-dup connected components, pointer-jump
                         # min-label propagation (NEW r4)
    "audio_features",    # WAV encode->decode roundtrip via the real
                         # stdlib codec in mapInPandas (NEW r4)
    # LLM-curation tier (promoted into the interleaved headline loop
    # r7, VERDICT r6 #3 — previously timed outside the protocol with
    # an input-layout caveat, retired by ops/width.ensure_min_width)
    "redact_pii",        # zero-shuffle codegen regexp chain
    "decontaminate",     # benchmark-gram broadcast semi-join
    "repetition",        # Gopher word-bigram repetition signals
    "cross_dup",         # winnowed cross-doc duplicated-span signal
    "dedup_spans",       # exact-substring span REMOVAL (NEW r7)
    "token_count_bpe",   # real merge-rank BPE accounting (NEW r7 —
                         # the one Python-kernel curation op: memoized
                         # per distinct word, tracked here so a memo
                         # regression shows up as a perf delta)
    "quality_classifier",  # fastText-style linear inference (NEW r7)
    "hash_split",        # deterministic train/val/test split (NEW r7)
    "pack_chunks",       # concat-and-slice packing placement via
                         # segmented prefix scan (NEW r7)
]

# north-rule backfill workload: synthetic pre-tokenized sequences
# (BASELINE.json input shape), generated in-Spark — size scales with sf
BACKFILL_ROWS = {0.001: 20_000, 0.01: 200_000, 0.1: 2_000_000}
N_FEATURES_BACKFILL = 5


def _backfill_queries(sf: float):
    """Engine-level as-of backfill over the datagen sequences table."""
    import featuretools_spark as fts
    from featuretools_spark.datagen import (
        make_cutoffs, make_entities, make_sequences,
    )
    from featuretools_spark.features import AggregationFeature, IdentityFeature

    n_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", 0)) or \
        BACKFILL_ROWS.get(sf, int(sf * 20_000_000) or 20_000)
    max_tok = int(os.environ.get("SPARK_GRAFT_BENCH_MAXTOK", 512))
    # events per entity (default 100) — the second axis of the
    # join-vs-kernel crossover (join intermediate rows scale with
    # events_per_entity x cutoffs_per_entity; the kernel's don't)
    ev_per_ent = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS_PER_ENTITY",
                                    "100"))
    n_entities = max(n_rows // ev_per_ent, 10)

    _cache = {}

    def _materialized(spark):
        """Write the synthetic table once (it IS the input, like a real
        on-disk table); timed runs read the parquet so the scan —
        with column pruning of `tokens` — is what gets measured, not
        repeated in-plan data generation. With SPARK_GRAFT_BENCH_CACHE=1
        the table is pinned in memory during warm-up: local-mode disk
        bandwidth does not scale with cores (unlike executor count on a
        real cluster), so scaling runs must measure compute+shuffle,
        not a fixed-bandwidth scan."""
        if "df" in _cache:
            return _cache["df"]
        path = f"/tmp/ft_bench_seqs_{n_rows}_{max_tok}"
        try:
            df = spark.read.parquet(path)
        except Exception:
            make_sequences(spark, n_rows=n_rows, n_entities=n_entities,
                           max_tok=max_tok) \
                .write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        if os.environ.get("SPARK_GRAFT_BENCH_CACHE") == "1":
            df = df.cache()
            df.count()
        _cache["df"] = df
        return df

    def _cutoffs(spark):
        """The cutoff table is an INPUT to a backfill, not part of it —
        derive it once (and pin it with the table when caching)."""
        if "cuts" not in _cache:
            cuts = make_cutoffs(spark, _materialized(spark), per_entity=4)
            if os.environ.get("SPARK_GRAFT_BENCH_CACHE") == "1":
                cuts = cuts.cache()
                cuts.count()
            _cache["cuts"] = cuts
        return _cache["cuts"]

    def _entities(spark):
        """The entity dimension is a STORED table in any real pipeline
        (the target-grain PIT mask reads its time index) — materialize
        it once so the timed plan scans it instead of re-aggregating
        the 20M-row fact table every run."""
        if "ents" not in _cache:
            path = f"/tmp/ft_bench_ents_{n_rows}_{max_tok}"
            try:
                df = spark.read.parquet(path)
            except Exception:
                make_entities(_materialized(spark)) \
                    .write.mode("overwrite").parquet(path)
                df = spark.read.parquet(path)
            if os.environ.get("SPARK_GRAFT_BENCH_CACHE") == "1":
                df = df.cache()
                df.count()
            _cache["ents"] = df
        return _cache["ents"]

    def _skewed(spark):
        """Same shape, but ONE entity owns ~10% of all rows — the
        hot-key evidence input (AQE skew-join must split it)."""
        if "skew_df" in _cache:
            return _cache["skew_df"], _cache["skew_cuts"]
        path = f"/tmp/ft_bench_skew_{n_rows}_{max_tok}"
        try:
            df = spark.read.parquet(path)
        except Exception:
            make_sequences(spark, n_rows=n_rows, n_entities=n_entities,
                           max_tok=max_tok, hot_row_frac=0.1, n_hot=1) \
                .write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        # the cutoff table is an INPUT — store it like the uniform-key
        # one so the timed skew query measures the as-of engine, not a
        # hot-group max_by inside make_cutoffs
        cpath = f"{path}_cuts"
        try:
            cuts = spark.read.parquet(cpath)
        except Exception:
            make_cutoffs(spark, df, per_entity=4) \
                .write.mode("overwrite").parquet(cpath)
            cuts = spark.read.parquet(cpath)
        if os.environ.get("SPARK_GRAFT_BENCH_CACHE") == "1":
            df = df.cache(); df.count()
            cuts = cuts.cache(); cuts.count()
        _cache["skew_df"], _cache["skew_cuts"] = df, cuts
        return df, cuts

    def _dense_cutoffs(spark):
        """64 cutoffs per entity: the dense-backfill shape where the
        running windows' O(events + cutoffs) beats the join's
        |events| x |cutoffs| row expansion (ROADMAP.md item 5)."""
        if "dense_cuts" not in _cache:
            path = f"/tmp/ft_bench_densecuts_{n_rows}_{max_tok}"
            try:
                cuts = spark.read.parquet(path)
            except Exception:
                make_cutoffs(spark, _materialized(spark), per_entity=64) \
                    .write.mode("overwrite").parquet(path)
                cuts = spark.read.parquet(path)
            _cache["dense_cuts"] = cuts
        return _cache["dense_cuts"]

    def prepare(spark, names=None):
        _materialized(spark)
        _cutoffs(spark)
        _entities(spark)
        if names is None or any("skew" in n for n in names):
            _skewed(spark)
        if names is None or any("dense" in n for n in names):
            _dense_cutoffs(spark)

    def run(spark, strategy, seqs=None, cuts=None):
        if seqs is None:
            seqs = _materialized(spark)
            cuts = _cutoffs(spark) if cuts is None else cuts
            ents = _entities(spark)
        else:
            ents = make_entities(seqs)
        es = fts.EntitySet("bench_seq")
        es.add_dataframe("entities", ents, index="entity_id",
                         time_index="first_seen")
        es.add_dataframe("sequences", seqs, index="doc_id",
                         time_index="event_time")
        es.add_relationship("entities", "entity_id", "sequences", "entity_id")
        n_tok = IdentityFeature(es, "sequences", "n_tok")
        did = IdentityFeature(es, "sequences", "doc_id")
        ts = IdentityFeature(es, "sequences", "event_time")
        feats = [
            AggregationFeature(did, "entities", "count", es=es),
            AggregationFeature(n_tok, "entities", "sum", es=es),
            AggregationFeature(n_tok, "entities", "mean", es=es),
            AggregationFeature(n_tok, "entities", "std", es=es),
            AggregationFeature(ts, "entities", "time_since_last", es=es),
        ]
        if os.environ.get("SPARK_GRAFT_BENCH_WIDE") == "1":
            # 20-feature variant: a realistic DFS depth-1 default set
            # (the reference's default agg primitives over every
            # numeric/time column land at 15-25 features). All are
            # distributive/algebraic Catalyst expressions fusing into
            # the SAME single HashAggregate pair — higher arithmetic
            # intensity per shuffled row, none extra shuffled.
            for pname in ("min", "max", "variance", "skew", "kurtosis",
                          "count_greater_than", "count_less_than",
                          "max_min_delta", "count_inside_range",
                          "first", "last", "trend"):
                feats.append(
                    AggregationFeature(n_tok, "entities", pname, es=es))
            for pname in ("avg_time_between", "time_since_first",
                          "first_last_time_delta"):
                feats.append(
                    AggregationFeature(ts, "entities", pname, es=es))
        return fts.calculate_feature_matrix(feats, es, cutoff_time=cuts,
                                            strategy=strategy)

    def run_skew(spark, strategy="join"):
        seqs, cuts = _skewed(spark)
        return run(spark, strategy, seqs=seqs, cuts=cuts)

    def run_dense(spark, strategy):
        return run(spark, strategy, cuts=_dense_cutoffs(spark))

    return {
        "backfill_seq": lambda spark, sf_dir: run(spark, "join"),
        "backfill_seq_sm": lambda spark, sf_dir: run(spark, "sortmerge"),
        "backfill_dense": lambda spark, sf_dir: run_dense(spark, "join"),
        "backfill_dense_sm":
            lambda spark, sf_dir: run_dense(spark, "sortmerge"),
        "backfill_skew": lambda spark, sf_dir: run_skew(spark),
        "backfill_skew_sm": lambda spark, sf_dir: run_skew(spark, "sortmerge"),
        "__prepare__": prepare,
        # hooks for tools/profile_sortmerge.py's density sweep — not
        # bench queries
        "__run__": run,
        "__frames__": lambda spark: {
            "seqs": _materialized(spark),
            "cuts": _cutoffs(spark),
            "ents": _entities(spark),
        },
    }


def _sf_label(path: str) -> float:
    import re

    m = re.search(r"sf([\d.]+)", path)
    return float(m.group(1)) if m else -1.0


def run_once(sf_dir: str, cpus: int, queries=None) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from featuretools_spark.session import get_spark

    shuf = int(os.environ.get("SPARK_GRAFT_SHUFFLE", 0)) or max(cpus, 8)
    # SPARK_GRAFT_MASTER overrides the master: the scaling harness
    # passes local-cluster[N,1,mem] so each "executor" is a separate
    # JVM with its own fixed heap — the closest single-box proxy to
    # the north rule's N-vs-4N executor criterion
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    extra = {}
    if master.startswith("local-cluster"):
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        extra["spark.executor.memory"] = os.environ.get(
            "SPARK_EXEC_MEM", "3g")
    spark = get_spark(
        "bench", master=master, shuffle_partitions=shuf, extra_conf=extra
    )
    sf = _sf_label(sf_dir)
    qs = dict(entrymod.queries())
    qs.update(_backfill_queries(sf))
    names = queries or HEADLINE
    prepare_fn = qs.pop("__prepare__")
    # warm-up: JVM codegen + parquet footer caches + broadcast
    # machinery + the Arrow/Python-worker pool + bench input — a cold
    # first query otherwise pays one-time costs that aren't the
    # operator's (r1 recorded per_row_cutoffs at 27.9s cold vs 5.8s
    # warm for the identical plan)
    spark.range(1000).selectExpr("sum(id)").collect()
    prepare_fn(spark, names)
    qs["agg_basic"](spark, sf_dir).count()
    big = spark.range(1_000_000).selectExpr("id", "id % 97 AS k")
    small = spark.range(97).selectExpr("id AS k", "id * 2 AS v")
    big.join(small.hint("broadcast"), "k").selectExpr("sum(v)").collect()
    big.mapInPandas(lambda it: it, "id long, k long").selectExpr(
        "count(*)").collect()
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # per-query reps (VERDICT r3 #9): this host swings individual
    # queries 2-3x between runs, so single-shot per-query numbers make
    # round-over-round deltas unattributable. Each rep rebuilds the
    # DataFrame from the query fn — fresh RDD lineage, so Spark cannot
    # reuse the previous rep's shuffle files and every rep pays the
    # full plan. Reported: median per query + per-rep times.
    #
    # Rep ordering is ROUND-ROBIN across queries (VERDICT r5 #1: port
    # the scaling protocol's interleaving into the per-query path):
    # back-to-back reps of one query all sit in the same wall-clock
    # window, so a host-contention burst lands entirely on that query
    # (r5 recorded per_row_cutoffs reps 11.2/7.18/2.49 — a 4.5x
    # intra-run spread). Spreading each query's reps across the whole
    # run gives every query the same mean wall-clock position, so
    # ambient drift averages out of the medians instead of
    # concentrating in whichever query ran during the burst.
    # SPARK_GRAFT_BENCH_COOLDOWN adds an idle pause (seconds) before
    # every timed rep for protocol-grade runs; default 0 keeps the
    # driver's per-round bench fast.
    qreps = int(os.environ.get("SPARK_GRAFT_BENCH_QREPS",
                               "3" if queries is None else "1"))
    cooldown = float(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN", "0"))
    secs, rows = {}, {}
    reps_out = {name: [] for name in names}
    for rep in range(qreps):
        for name in names:
            if cooldown:
                time.sleep(cooldown)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            # noop write forces EVERY column to materialize; the row
            # count is read off the SAME execution via observe() — a
            # separate count() would re-run the whole plan (shuffle
            # reuse across actions is not guaranteed), doubling
            # bench wall-clock
            obs = Observation(f"rows_{name}_{rep}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
            reps_out[name].append(round(time.time() - t0, 3))
            rows[name] = obs.get["n"]
    for name in names:
        secs[name] = round(_median(reps_out[name]), 3)
    total = round(sum(secs.values()), 3)
    # feature-rows/sec for the flagship as-of backfill: output rows ×
    # feature columns per second (the BASELINE.json metric)
    flag = "backfill_seq" if "backfill_seq" in secs else "dfs_depth1"
    nf = 20 if os.environ.get("SPARK_GRAFT_BENCH_WIDE") == "1" \
        else N_FEATURES_BACKFILL
    frps = round(
        rows[flag] * nf / max(secs[flag], 1e-9), 1
    ) if flag in secs else None
    return {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": secs,
        "rows": rows,
        "sf": sf,
        "cpus": cpus,
        "feature_rows_per_sec": frps,
        "flagship": flag,
        "query_reps": reps_out,
        "reps_per_query": qreps,
        "rep_order": "round_robin",
        "cooldown_s": cooldown,
        # latest committed scaling-protocol evidence (north rule §N->4N);
        # produced by `python bench.py --scaling`, summarized in
        # BENCH/scaling_summary.json
        "scaling": _latest_scaling(),
    }


def _latest_scaling():
    """Scaling evidence attached to the headline JSON. Prefers the
    consolidated BENCH/scaling_summary.json (pooled-first, judge
    guidance r4); falls back to the most recently MODIFIED raw
    scaling_cluster_*.json (mtime, not lexicographic — r10 sorts
    before r4b as a string)."""
    import glob
    bdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    summary = os.path.join(bdir, "scaling_summary.json")
    if os.path.exists(summary):
        try:
            with open(summary) as f:
                d = json.load(f)
            return {
                "efficiency": d.get("headline"),
                "stat": d.get("headline_stat"),
                "per_rep_median": d.get("per_rep_median_alternated_run"),
                "best_run": d.get("best_single_run_median_pairing"),
                "mode": d.get("mode"),
                "source": "scaling_summary.json",
            }
        except Exception:
            pass
    paths = glob.glob(os.path.join(bdir, "scaling_cluster_*.json"))
    if not paths:
        return None
    latest = max(paths, key=os.path.getmtime)
    try:
        with open(latest) as f:
            d = json.load(f)
        return {"efficiency": d.get("value"), "mode": d.get("mode"),
                "reps": d.get("reps"), "t_n_median": d.get("t_n_median"),
                "t_4n_median": d.get("t_4n_median"),
                "source": os.path.basename(latest)}
    except Exception:
        return None


def _median(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def run_scaling(sf_dir: str, n: int = 2, reps: int = 3,
                pin: bool = True, cooldown: int = 150,
                mode: str = "local") -> dict:
    """Scaling-efficiency evidence (BASELINE.json north rule): the SAME
    flagship as-of backfill at local[n] and local[4n], fresh JVM each,
    sequential (never concurrent — contention invalidates the ratio).
    Input: synthetic sequences big enough that compute dominates fixed
    overheads; tokens capped short so the one-time materialization is
    cheap — they are column-pruned by every scan anyway.
    Each rep times ONE cold execution per leg (Spark reuses shuffle
    map outputs across repeated actions on the same plan, so "warm"
    runs only measure the final stage — cold is the honest number);
    legs are interleaved with ALTERNATING order per rep
    ((n,4n), (4n,n), (n,4n), ...): two full prior runs showed the
    4N leg degrading monotonically with wall-clock position in the
    run (198.7->250.4s and 214.7->294.5s) while the N leg stayed
    flat — with a fixed (n,4n) order the 4N leg always sits later
    in the run, so accumulating host saturation biases the ratio
    against it; mirroring the order per rep gives both legs the
    same mean wall-clock position.  Each leg's JVM is pinned with
    `taskset -c 0..c-1`
    to exactly its core count — local[2] on a 32-core box otherwise
    spreads GC/IO/Python threads over idle cores, which no 2-executor
    cluster gets to do, overstating t(4n)/understating efficiency...
    and vice versa.  Reported: per-rep times, per-leg medians,
    efficiency of the medians, and per-rep paired efficiencies.
    efficiency = throughput(4n) / (4 x throughput(n)) = t_n/(4·t_4n)."""
    times = {n: [], 4 * n: []}
    rows_out = None
    for rep in range(reps):
        order = (n, 4 * n) if rep % 2 == 0 else (4 * n, n)
        for cpus in order:
            # fixed idle cool-down before EVERY timed leg: on this
            # host a leg started immediately after a long saturating
            # run measures ~25% slower than the identical leg after
            # idle (hypervisor burst budget / thermal state). The
            # protocol interleaves legs, so without the cool-down the
            # 4N leg — always following the long N leg — is
            # systematically punished; a fixed pre-leg idle gives
            # both legs the same host state.
            time.sleep(cooldown)
            env = dict(os.environ)
            env["SPARK_GRAFT_SF_DIR"] = sf_dir
            env["SPARK_GRAFT_CPUS"] = str(cpus)
            # 100M rows: fixed driver-side cost (plan + codegen + AQE,
            # ~5s measured at trivial input) must be amortized or the
            # ratio measures overhead, not the operator. No JVM block
            # cache and a modest heap: pinning 20M rows in a 48g heap
            # at local[2] produced 2-3x GC-driven run-to-run variance;
            # the parquet input is page-cache resident after the
            # (untimed) prepare, and parquet DECODE is CPU work that
            # scales with cores — unlike raw disk bandwidth.
            env.setdefault("SPARK_GRAFT_BENCH_ROWS", "100000000")
            env.setdefault("SPARK_GRAFT_BENCH_MAXTOK", "16")
            # 20-feature DFS-shaped flagship (one fused HashAggregate
            # pair): representative of a real depth-1 default-primitive
            # backfill, and compute-dense enough that the ratio
            # measures the operator rather than pure shuffle plumbing
            env.setdefault("SPARK_GRAFT_BENCH_WIDE", "1")
            # faithfulness to the N-vs-4N EXECUTOR criterion: each
            # executor brings its own heap, so aggregate memory scales
            # with the cluster — heap ∝ cores here; and shuffle
            # partitions are sized to the cluster (4 waves per core in
            # BOTH legs) — a single equal partition count would give
            # the small leg multi-wave straggler smoothing the big leg
            # doesn't get, an asymmetry no real cluster pair has.
            env.setdefault("SPARK_GRAFT_SHUFFLE", str(4 * cpus))
            qname = os.environ.get("SPARK_GRAFT_SCALING_QUERY",
                                   "backfill_seq")
            cmd = [sys.executable, os.path.abspath(__file__), "--single",
                   qname]
            if mode == "cluster":
                # VERDICT r3 #4: local-cluster[c,1,mem] — one separate
                # executor JVM per core, each with the SAME fixed heap
                # in both legs ("each executor brings its own
                # resources"), a fixed-size driver in both legs, and
                # the process tree pinned to c executor cores + 2
                # driver cores. Models the N-vs-4N executor criterion
                # far closer than local[N] threads sharing one JVM:
                # separate heaps/GC, real netty shuffle between
                # executor processes, per-executor task scheduling.
                env.setdefault("SPARK_DRIVER_MEM", "4g")
                env.setdefault("SPARK_EXEC_MEM", "3g")
                env["SPARK_GRAFT_MASTER"] = f"local-cluster[{cpus},1,4096]"
                if pin:
                    cmd = ["taskset", "-c", f"0-{cpus + 1}"] + cmd
            else:
                env.setdefault("SPARK_DRIVER_MEM", f"{2 * cpus}g")
                if pin:
                    cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
            r = subprocess.run(cmd, capture_output=True, text=True,
                               env=env, timeout=3600)
            line = [l for l in r.stdout.splitlines()
                    if l.startswith("{")][-1]
            parsed = json.loads(line)
            times[cpus].append(parsed["queries"][qname])
            rows_out = parsed["rows"][qname]
            print(json.dumps({"rep": rep + 1, "cores": cpus,
                              "sec": times[cpus][-1]}), file=sys.stderr)
    med_n, med_4n = _median(times[n]), _median(times[4 * n])
    per_rep_eff = [round((a / b) / 4.0, 3)
                   for a, b in zip(times[n], times[4 * n])]
    disp = {c: round(max(ts) / min(ts), 3) for c, ts in times.items()}
    return {
        "metric": "scaling_efficiency",
        "value": round((med_n / med_4n) / 4.0, 3),   # median pairing
        "unit": "ratio",
        "mode": mode,
        "n_cores": n,
        "reps": reps,
        "pinned": pin,
        "cooldown_s": cooldown,
        "leg_order": "alternated",
        "t_n_sec": times[n],
        "t_4n_sec": times[4 * n],
        "t_n_median": med_n,
        "t_4n_median": med_4n,
        "per_rep_efficiency": per_rep_eff,
        "per_leg_dispersion_max_over_min": {str(k): v
                                            for k, v in disp.items()},
        "rows": rows_out,
    }


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
        pin = os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") == "1"
        # default pair: local[1] vs local[4] — both legs below the
        # single-socket contention knee (measured: per-core throughput
        # at 8 active cores is ~0.8x its 2-core value on this box; a
        # real 4N-executor cluster adds sockets/DRAM/NICs with the
        # executors, so the knee is a property of the PROXY, not the
        # engine). 2->8 numbers are reported alongside in BASELINE.md.
        n = int(os.environ.get("SPARK_GRAFT_SCALING_N", "1"))
        cd = int(os.environ.get("SPARK_GRAFT_SCALING_COOLDOWN", "150"))
        mode = os.environ.get("SPARK_GRAFT_SCALING_MODE", "local")
        print(json.dumps(run_scaling(SF_DIR, n=n, reps=reps, pin=pin,
                                     cooldown=cd, mode=mode)))
    elif "--single" in sys.argv:
        idx = sys.argv.index("--single")
        names = sys.argv[idx + 1].split(",") if len(sys.argv) > idx + 1 else None
        print(json.dumps(run_once(SF_DIR, CPUS, names)))
    else:
        out = run_once(SF_DIR, CPUS)
        # full result (per-rep times, row counts) goes to a file; the
        # PRINTED line stays compact so the driver's output-tail
        # capture can never truncate it mid-dict (BENCH_r04 lesson:
        # parsed=null because the one JSON line outgrew the tail)
        detail = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "BENCH", "headline_latest.json")
        try:
            with open(detail, "w") as f:
                json.dump(out, f, indent=1)
            rel_detail = os.path.relpath(
                detail, os.path.dirname(os.path.abspath(__file__)))
        except OSError:
            rel_detail = None
        compact = {k: out[k] for k in (
            "metric", "value", "unit", "queries", "sf", "cpus",
            "feature_rows_per_sec", "flagship", "reps_per_query")}
        compact["scaling"] = out.get("scaling")
        if rel_detail:
            compact["detail_file"] = rel_detail
        print(json.dumps(compact))
