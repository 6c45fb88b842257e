"""Join vs sortmerge crossover sweep for the flagship as-of backfill.

Times the whole matrix build through strategy="sortmerge" and
strategy="join" at increasing cutoff density (cutoffs per entity),
interleaved rep by rep. The join path expands |events| x
|cutoffs-per-entity| rows before aggregating; sortmerge is
O(events + cutoffs), so the curves cross at some density.

Usage:
  python tools/profile_sortmerge.py --sweep 4,16,64,256 [--rows 2000000] [--reps 3]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _median(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def _timed_interleaved(builders: dict, reps: int):
    """Time each named query `reps` times in interleaved order
    (a,b,a,b,...) so OS page cache / codegen warm-up and any slow host
    drift land on every query equally instead of on whichever ran
    first."""
    raw = {k: [] for k in builders}
    for _ in range(reps):
        for k, b in builders.items():
            t0 = time.time()
            _noop(b())
            raw[k].append(round(time.time() - t0, 3))
    return {k: (round(_median(v), 3), v) for k, v in raw.items()}


def main():
    def arg(name, default):
        return next((sys.argv[i + 1] for i, a in enumerate(sys.argv)
                     if a == name), default)

    rows = int(arg("--rows", 2_000_000))
    reps = int(arg("--reps", 3))
    sweep = arg("--sweep", None)
    if not sweep:
        sys.exit(__doc__)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    os.environ["SPARK_GRAFT_BENCH_ROWS"] = str(rows)
    import bench
    from featuretools_spark.datagen import make_cutoffs
    from featuretools_spark.session import get_spark

    spark = get_spark("profile_sm", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench._backfill_queries(rows / 20_000_000)
    qs["__prepare__"](spark, names=["backfill_seq"])

    out = {"rows": rows, "cpus": cpus, "reps": reps}
    res = {}
    # warm the cached input tables + codegen once before timing
    _noop(qs["__run__"](spark, "join"))
    for d in (int(x) for x in sweep.split(",")):
        path = f"/tmp/ft_prof_cuts_{rows}_{d}"
        try:
            cuts = spark.read.parquet(path)
        except Exception:
            base = qs["__frames__"](spark)["seqs"]
            make_cutoffs(spark, base, per_entity=d) \
                .write.mode("overwrite").parquet(path)
            cuts = spark.read.parquet(path)
        timed = _timed_interleaved({
            "sortmerge": lambda c=cuts: qs["__run__"](
                spark, "sortmerge", cuts=c),
            "join": lambda c=cuts: qs["__run__"](spark, "join", cuts=c),
        }, reps)
        (t_sm, r_sm), (t_j, r_j) = timed["sortmerge"], timed["join"]
        res[d] = {"sortmerge": t_sm, "join": t_j,
                  "sm_reps": r_sm, "join_reps": r_j,
                  "ratio_join_over_sm": round(t_j / t_sm, 3)}
        print(json.dumps({"density": d, **res[d]}), flush=True)
    out["sweep"] = res
    print(json.dumps(out))


if __name__ == "__main__":
    main()
