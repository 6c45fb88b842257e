"""spark-submit entry point for a resumable as-of backfill.

Ship the engine as a zip and run on any cluster:

    cd /root/repo && zip -qr /tmp/featuretools_spark.zip featuretools_spark
    spark-submit --py-files /tmp/featuretools_spark.zip \\
        scripts/submit_backfill.py \\
        --input  /path/to/sequences_parquet \\
        --cutoffs /path/to/cutoffs_parquet \\
        --output /path/to/feature_matrix \\
        --entity-col entity_id --time-col event_time --index-col doc_id \\
        --features count,sum:n_tok,mean:n_tok,std:n_tok,time_since_last \\
        --buckets 32

The job is split into --buckets independent slices of the cutoff
table (hash of the entity key); each slice writes its own parquet
directory + _MANIFEST.json (rows, wall time, columns) and a re-run
skips completed slices — resumable from per-partition checkpoints
with lineage + metrics (BASELINE.json ops requirements).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_features(spec: str):
    out = []
    for item in spec.split(","):
        if ":" in item:
            prim, col = item.split(":", 1)
        else:
            prim, col = item, None
        out.append((prim.strip(), col.strip() if col else None))
    return out


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--cutoffs", required=True,
                   help="parquet with (entity col, time) per cutoff row")
    p.add_argument("--output", required=True)
    p.add_argument("--entity-col", default="entity_id")
    p.add_argument("--time-col", default="event_time")
    p.add_argument("--index-col", default="doc_id")
    p.add_argument("--features", default="count,sum:n_tok,mean:n_tok")
    p.add_argument("--training-window", default=None)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--strategy", default="join",
                   choices=["join", "sortmerge"])
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import featuretools_spark as fts
    from featuretools_spark.features import AggregationFeature, IdentityFeature
    from featuretools_spark.io import backfill_with_checkpoints, bucket_of

    spark = SparkSession.builder.appName("ft_spark_backfill").getOrCreate()
    seqs = spark.read.parquet(args.input)
    cutoffs = spark.read.parquet(args.cutoffs)
    ents = seqs.groupBy(args.entity_col).agg(
        F.min(args.time_col).alias("first_seen")
    )

    es = fts.EntitySet("backfill")
    es.add_dataframe("entities", ents, index=args.entity_col,
                     time_index="first_seen")
    es.add_dataframe("sequences", seqs, index=args.index_col,
                     time_index=args.time_col)
    es.add_relationship("entities", args.entity_col, "sequences",
                        args.entity_col)

    feats = []
    for prim, col in parse_features(args.features):
        if col is None:
            base_col = (
                args.index_col if prim == "count" else args.time_col
            )
        else:
            base_col = col
        feats.append(
            AggregationFeature(
                IdentityFeature(es, "sequences", base_col), "entities", prim,
                es=es,
            )
        )

    def build(bucket, n_buckets):
        cuts = cutoffs.filter(
            bucket_of(F.col(args.entity_col), n_buckets) == bucket
        )
        return fts.calculate_feature_matrix(
            feats, es, cutoff_time=cuts,
            training_window=args.training_window,
            strategy=args.strategy,
        )

    summary = backfill_with_checkpoints(
        build, args.output, n_buckets=args.buckets
    )
    print(json.dumps({
        "total_rows": summary["total_rows"],
        "resumed_buckets": summary["resumed"],
        "features": [f.get_name() for f in feats],
    }))


if __name__ == "__main__":
    sys.exit(main())
