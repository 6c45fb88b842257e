"""Closed-loop benchmark of the point-in-time DFS engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

One client issues one request at a time to a fresh local Spark session
(`local[<cpus>]`, the engine's session defaults). A run:

1. writes the seed's inputs and the DuckDB reference of the workload
   once (outside every timed interval; reused inputs are row-counted);
2. sets up: starts Spark, opens the inputs and issues the workload's
   fixed number of warm-up requests of its own shape; `setup_s`. The
   first one keeps its output for the row-by-row check of step 4;
3. issues requests for `--seconds`, checking each request's output
   checksum against the reference (for `backfill_resumable`, the sum
   of a round's bucket checksums, and each bucket's row count);
4. checks that output row by row against the reference (for
   `backfill_resumable`, the last round's buckets, then a resume call
   over them that must skip every bucket).

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. A traced run
alternates traced and untraced requests; the per-layer numbers come
from the traced ones. `trace.overhead_pct` is the median share of a
traced request's time spent inside the tracer; the report line also
compares the traced and untraced medians, with their samples, which is
only as exact as the spread of requests allows. Spans are written to
`.perfbench_work/trace-<workload>-seed<n>.json`.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import featuretools_spark  # noqa: E402,F401  (fails outside a checkout)
from featuretools_spark.session import get_spark  # noqa: E402

from perfbench import inputs, oracle, trace, workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
END_TO_END_UNITS = {"request_p50_s": "s", "feature_values_per_s": "1/s",
                    "setup_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "warmup.first_request_s": "s",
    "warmup.requests": "count", "entityset.build_s": "s",
    "dfs.enumerate_s": "s", "dfs.features": "count", "cfm.build_s": "s",
    "cfm.build_jobs": "count", "exec.action_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "io.bucket_s": "s",
    "io.jobs_per_bucket": "count", "io.resume_s": "s",
    "io.resume_jobs": "count", "trace.overhead_pct": "%",
    # per layer because it does not repeat from run to run: the JVM
    # heap grows as its collector decides
    "peak_rss_mb": "MB",
}


def _reference(wl, d: str, seed: int):
    """The workload's DuckDB reference, stored next to the inputs under
    the hash of its query."""
    sql = wl.reference_sql(d, seed)
    digest = hashlib.sha1(sql.encode()).hexdigest()[:16]
    path = os.path.join(d, f"reference-{digest}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    return oracle.compute(sql, path)


def _safe(wl, tr, rid, ref_sum, out=None):
    """One round of requests; a raise counts as one failed request."""
    try:
        return wl.requests(tr, rid, ref_sum, out)
    except Exception:
        traceback.print_exc()
        return [workloads.Outcome(0.0, 0, False, "raised")]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _host_cpu() -> tuple[int, int]:
    """The host's steal and total CPU time so far, in clock ticks: time
    a virtual machine's CPUs waited on the hypervisor slows every
    request and explains most run-to-run spread on a shared host."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def layer_metrics(spans: list[dict], warm: list, session_s: float,
                  cost_share: list) -> tuple[dict, list]:
    """Per-layer medians over the traced requests, and the requests whose
    job/stage/task counts differ from the first request of their shape."""
    def spans_of(name):
        return [s for s in spans if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    buckets, requests = spans_of("io.bucket"), spans_of("request")
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    # the action of a bucket is what io does after the build returns
    actions = spans_of("exec.action") or buckets
    action_s = [dur(s) - sum(dur(c) for c in kids.get(s["id"], []))
                for s in actions]
    cfm = spans_of("cfm.build")
    m = {
        "session.start_s": session_s,
        "warmup.first_request_s": warm[0],
        "warmup.requests": len(warm),
        "entityset.build_s": _med([dur(s) for s in spans_of(
            "entityset.build")]),
        "dfs.enumerate_s": _med([dur(s) for s in spans_of("dfs.enumerate")]),
        "dfs.features": _med([s["features"]
                              for s in spans_of("dfs.enumerate")]),
        "cfm.build_s": _med([dur(s) for s in cfm]),
        "cfm.build_jobs": _med([s["jobs"] for s in cfm]),
        "exec.action_s": _med(action_s),
        "io.bucket_s": _med([s["wall_s"] for s in buckets]),
        "io.jobs_per_bucket": _med([
            s["jobs"] + sum(c["jobs"] for c in kids.get(s["id"], []))
            for s in buckets]),
        "io.resume_s": _med([dur(s) for s in spans_of("io.resume")]),
        "io.resume_jobs": _med([s["jobs"] for s in spans_of("io.resume")]),
        "trace.overhead_pct": 100.0 * _med(cost_share),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"exec.{k}"] = _med([s[k] for s in actions])
    # counts must repeat exactly across requests of one shape (a bucket
    # of the resumable backfill is its own shape)
    shapes, drift = {}, []
    for top in requests + buckets:
        todo, counts = [top], []
        while todo:
            s = todo.pop(0)
            counts.append((s["name"], s["jobs"], s["stages"], s["tasks"]))
            todo.extend(kids.get(s["id"], []))
        key = top.get("bucket")
        if shapes.setdefault(key, counts) != counts:
            drift.append({"rid": top["rid"], "counts": counts,
                          "first": shapes[key]})
    return m, drift


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(inputs.SCALES),
                   default="full", help="input size (tiny: self-test)")
    args = p.parse_args(argv)

    # Spark's scratch files stay inside the checkout
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    wl = workloads.make(args.workload, WORK)
    d = inputs.ensure(WORK, args.scale, args.seed, wl.group)
    ref = _reference(wl, d, args.seed)
    ref_sum = oracle.checksum(ref, wl.n_keys)

    cpus = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf={
                          "spark.local.dir": tmp,
                          "spark.sql.warehouse.dir": os.path.join(tmp, "wh"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={tmp}",
                      })
    try:
        session_s = time.perf_counter() - t_setup
        sc = spark.sparkContext
        tracer = trace.Tracer(sc, bool(args.trace))
        wl.open(spark, d, args.seed)
        # the expected-output bookkeeping of a workload is not set-up
        t_prep = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t_prep
        # the cold first request keeps its output for the row-by-row check
        check_dir = os.path.join(tmp, "check")
        warm, outcomes = [], []
        for i in range(wl.warmup):
            got = _safe(wl, workloads.OFF, f"warmup{i}", ref_sum,
                        None if i else check_dir)
            outcomes += got
            warm.append(sum(o.seconds for o in got))
        setup_s = time.perf_counter() - t_setup - prep_s

        timed, traced_s, untraced_s, cost_share = [], [], [], []
        rss = trace.RssSampler(sc._gateway.proc.pid)
        with rss if args.trace else contextlib.nullcontext():
            cpu0 = _host_cpu()
            t_end = time.perf_counter() + args.seconds
            i = 0
            while time.perf_counter() < t_end or not timed:
                traced = args.trace and i % 2 == 0
                cost = tracer.cost
                got = _safe(wl, tracer if traced else workloads.OFF, i,
                            ref_sum)
                timed += got
                (traced_s if traced else untraced_s).append(
                    _med([o.seconds for o in got]))
                if traced:
                    cost_share.append((tracer.cost - cost) / max(
                        sum(o.seconds for o in got), 1e-9))
                    tracer.count_jobs()
                i += 1
        cpu1 = _host_cpu()
        outcomes += timed

        try:
            errors = oracle.compare(wl.output(check_dir), ref, wl.n_keys)
        except (OSError, ValueError) as e:  # the request kept no output
            errors = [f"no output to check: {e!r}"]
        resume_ok = True
        if hasattr(wl, "resume"):
            resume_ok = wl.resume(tracer)
            tracer.count_jobs()
    finally:
        spark.stop()
        # the Spark JVM exits when its stdin closes; its Python workers
        # end with it
        jvm = spark.sparkContext._gateway.proc
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        if hasattr(wl, "last_dir"):
            shutil.rmtree(wl.out_root, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    for e in errors + ([] if resume_ok else ["resume did not skip"]):
        print(f"correctness: {e}", file=sys.stderr)
    for o in outcomes:
        if not o.ok:
            print(f"failed request: {o.detail}", file=sys.stderr)
    good = [o for o in timed if o.ok]
    # plus the row-by-row check and, for the resumable backfill, resume
    attempted = len(outcomes) + 1 + hasattr(wl, "resume")
    failed = sum(not o.ok for o in outcomes) + bool(errors) + (not resume_ok)
    report = {"workload": args.workload, "seed": args.seed,
              "warmup_s": warm, "request_s": [o.seconds for o in timed],
              "host_steal_pct": 100.0 * (cpu1[0] - cpu0[0])
              / max(cpu1[1] - cpu0[1], 1)}
    if args.trace:
        spans = tracer.dump()
        metrics, drift = layer_metrics(spans, warm, session_s, cost_share)
        metrics["peak_rss_mb"] = rss.peak / 2**20
        report["self_s"] = trace.self_times(spans)
        report["count_drift"] = drift
        report["traced_s"], report["untraced_s"] = traced_s, untraced_s
        if traced_s and untraced_s:
            report["traced_vs_untraced_pct"] = 100.0 * (
                _med(traced_s) / _med(untraced_s) - 1.0)
        with open(os.path.join(
                WORK, f"trace-{args.workload}-seed{args.seed}.json"),
                "w") as fh:
            json.dump(spans, fh, indent=1)
        units = LAYER_UNITS
        # a count that does not repeat is reported, not counted as a
        # wrong output: `correct` is about what the program computed
        for d in drift:
            print(f"job counts differ: {d}", file=sys.stderr)
    else:
        # medians, not totals over the run: one request slowed by the
        # host would move a total as much as it moves a mean
        metrics = {
            "request_p50_s": _med([o.seconds for o in good]),
            "feature_values_per_s": _med([o.values / o.seconds
                                          for o in good]),
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
    correct = not errors and failed == 0
    print(json.dumps(report))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
