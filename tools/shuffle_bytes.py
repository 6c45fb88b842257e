"""Measure shuffle payload of entry queries: runs each named
__spark_entry__ query wrapped in a scalar count (so its whole subtree
executes on ONE QueryExecution) and sums every ShuffleExchange's
"shuffle bytes written" / "shuffle records written" SQLMetrics from
the AQE-final plan.

Round-7 use: before/after evidence for (a) md5 grams shipped as
16-byte unhex binary instead of 32-char hex (cross_dup, dedup_spans)
and (b) decontaminate's corpus-wide pre-join distinct removal.

Usage: python tools/shuffle_bytes.py <sf_dir> q1,q2,... [--out f]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _scala_seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _walk(node):
    """Yield every physical node, descending through AQE wrappers."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    for ch in _scala_seq(node.children()):
        yield from _walk(ch)
    # reused exchanges / subqueries hold their child via .child()
    if name in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        try:
            yield from _walk(node.child())
        except Exception:
            pass


def _exchange_metrics_plan(plan):
    total_b = total_r = n_ex = 0
    seen = set()
    for node in _walk(plan):
        nm = node.nodeName()
        if "Exchange" not in nm or "Broadcast" in nm:
            continue
        ident = node.id()
        if ident in seen:        # reused exchanges count once
            continue
        seen.add(ident)
        n_ex += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k, v = kv._1(), int(kv._2().value())
            if k == "shuffleBytesWritten":
                total_b += v
            elif k == "shuffleRecordsWritten":
                total_r += v
    return {"shuffle_bytes": total_b, "shuffle_records": total_r,
            "n_exchanges": n_ex}


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2].split(",")
    out_path = next((sys.argv[i + 1] for i, a in enumerate(sys.argv)
                     if a == "--out"), None)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from featuretools_spark.session import get_spark

    spark = get_spark("shuffle_bytes", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = {"metric": "shuffle_bytes", "sf_dir": sf_dir, "queries": {}}
    for name in names:
        import time
        t0 = time.time()
        # execute the plan's OWN RDD (a count-wrapper would let
        # Catalyst prune the very expressions we're measuring; a
        # .write action runs a separate QueryExecution whose metrics
        # never land here)
        jdf = qs[name](spark, sf_dir)._jdf
        plan = jdf.queryExecution().executedPlan()
        rows = plan.execute().count()
        m = _exchange_metrics_plan(plan)
        m["rows"] = rows
        m["secs"] = round(time.time() - t0, 2)
        m["shuffle_mib"] = round(m["shuffle_bytes"] / (1 << 20), 1)
        out["queries"][name] = m
        print(json.dumps({name: m}), flush=True)
    print(json.dumps(out))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
