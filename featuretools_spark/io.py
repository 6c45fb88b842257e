"""Resumable backfill writer: per-partition checkpoints + lineage +
metrics (the north rule's ops requirements).

The reference's analog is save_progress's per-chunk CSV + atomic
rename (computational_backends/utils.py:37-58). Here a backfill is
split into deterministic partitions (hash buckets of the instance
key); each bucket writes an independent parquet directory plus a
_MANIFEST json with row counts, wall time and the feature list —
re-running skips buckets whose manifest exists (idempotent resume).
A bucket's rows are counted by an observe() in the write's own
execution, so the manifest costs no Spark job, and every manifest is
written to a temp file and renamed into place, so a crash leaves the
old file or none, never a truncated one.

Buckets are written as parquet only; there is no table-format
(Iceberg) writer.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def backfill_with_checkpoints(
    fm_builder,
    out_dir: str,
    n_buckets: int = 16,
    index_col: str = None,
    spark=None,
) -> dict:
    """Run a backfill in n_buckets independent slices.

    fm_builder: callable (bucket_predicate_column) -> DataFrame; it
    must apply the predicate to the CUTOFF side so each slice is an
    independent re-runnable job.
    Each bucket's `rows` is counted during its write (an observe() on
    the builder's frame), with no read-back. `spark` is accepted and
    not used.
    Returns the run summary (also written to <out_dir>/_RUN.json).
    """
    os.makedirs(out_dir, exist_ok=True)
    summary = {"buckets": {}, "resumed": [], "total_rows": 0}
    for b in range(n_buckets):
        part_dir = os.path.join(out_dir, f"bucket={b}")
        manifest_path = os.path.join(part_dir, "_MANIFEST.json")
        if os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                m = json.load(fh)
            summary["buckets"][b] = m
            summary["resumed"].append(b)
            summary["total_rows"] += m["rows"]
            continue
        t0 = time.time()
        df = fm_builder(b, n_buckets)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(part_dir)
        rows = obs.get["rows"]
        manifest = {
            "bucket": b,
            "rows": rows,
            "wall_s": round(time.time() - t0, 3),
            "columns": df.columns,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _write_json(manifest_path, manifest)
        summary["buckets"][b] = manifest
        summary["total_rows"] += rows
    _write_json(os.path.join(out_dir, "_RUN.json"), summary, indent=1)
    return summary


def _write_json(path: str, obj, **kw) -> None:
    """Dump `obj` to a temp file beside `path`, then rename it over
    `path`. The `_` prefix keeps the temp file out of parquet reads."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, **kw)
    os.replace(tmp, path)


def bucket_of(col, n_buckets: int):
    """Deterministic bucket id for an instance-key column."""
    return F.pmod(F.hash(col), F.lit(n_buckets))


# ----------------------------------------------------------------------
# EntitySet (de)serialization — parquet tables + JSON schema sidecar
# (reference entityset/serialize.py:1-94 / deserialize.py:1-176)
# ----------------------------------------------------------------------
def es_to_parquet(es, out_dir: str) -> str:
    """Write every table as parquet plus a data_description.json with
    indexes / time indexes / secondary TIs / relationships."""
    os.makedirs(out_dir, exist_ok=True)
    desc = {"id": es.id, "tables": {}, "relationships": []}
    for name, df in es.tables.items():
        meta = es.meta[name]
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        desc["tables"][name] = {
            "index": meta.index,
            "time_index": meta.time_index,
            "secondary_time_index": meta.secondary_time_index,
            "interesting_values": meta.interesting_values,
        }
    for r in es.relationships:
        desc["relationships"].append(
            [r.parent_name, r.parent_col, r.child_name, r.child_col]
        )
    with open(os.path.join(out_dir, "data_description.json"), "w") as fh:
        json.dump(desc, fh, indent=1)
    return out_dir


def es_from_parquet(spark, in_dir: str):
    """Reload an EntitySet written by es_to_parquet."""
    from featuretools_spark.entityset import EntitySet

    with open(os.path.join(in_dir, "data_description.json")) as fh:
        desc = json.load(fh)
    es = EntitySet(desc["id"])
    for name, t in desc["tables"].items():
        df = spark.read.parquet(os.path.join(in_dir, name))
        es.add_dataframe(
            name, df, index=t["index"], time_index=t.get("time_index"),
            secondary_time_index=t.get("secondary_time_index") or None,
        )
        es.meta[name].interesting_values = t.get("interesting_values") or {}
    for parent, pcol, child, ccol in desc["relationships"]:
        es.add_relationship(parent, pcol, child, ccol)
    return es
