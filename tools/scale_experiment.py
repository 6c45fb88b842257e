"""Controlled scaling-efficiency experiment (north-rule evidence).

Run one core count per process, sequentially, on an idle machine:

    python tools/scale_experiment.py 2
    python tools/scale_experiment.py 8

run0 is the COLD timing (use it): repeated actions on the same plan
skip completed shuffle stages via MapOutputTracker reuse, so run1/2
only measure the final stage (printed for illustration).
efficiency(N -> 4N) = t_cold(N) / (4 * t_cold(4N)).
Input: the materialized 20M-row synthetic sequences table (written by
`python bench.py --scaling` to /tmp/ft_bench_seqs_20000000_16).
"""
import os, sys, time
# this checkout, so two checkouts can be run side by side
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
cpus = int(sys.argv[1])
import featuretools_spark as fts
from featuretools_spark.datagen import make_cutoffs, make_entities
from featuretools_spark.features import AggregationFeature, IdentityFeature
from featuretools_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("scale", master=f"local[{cpus}]",
                  shuffle_partitions=max(cpus, 8),
                  extra_conf={"spark.driver.memory": "48g"})
seqs = spark.read.parquet("/tmp/ft_bench_seqs_20000000_16").cache()
print("rows", seqs.count(), flush=True)
cuts = make_cutoffs(spark, seqs, per_entity=4).cache()
print("cuts", cuts.count(), flush=True)
es = fts.EntitySet("s")
es.add_dataframe("entities", make_entities(seqs), index="entity_id",
                 time_index="first_seen")
es.add_dataframe("sequences", seqs, index="doc_id", time_index="event_time")
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
fm = fts.calculate_feature_matrix(feats, es, cutoff_time=cuts)
plan = fm._jdf.queryExecution().executedPlan().toString()
for marker in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
    if marker in plan:
        print("JOIN:", marker, flush=True)
for i in range(3):
    t0 = time.time()
    n = fm.count()
    print(f"run{i}", round(time.time() - t0, 2), "rows", n, flush=True)
