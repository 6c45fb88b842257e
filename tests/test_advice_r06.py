"""Regression tests for the round-6 ADVICE findings.

1. jpeg.py — progressive scans with out-of-band Ss/Se/Ah/Al must raise
   ValueError (the strict=False degrade-to-NULL contract catches only
   ValueError), never numpy IndexError.
2. dedup.py — simhash_near_duplicates releases its persisted chunk
   table on the success path.
3. cfm.py — _kernel_nparts' floor is the session's configured width.
4. encode.py — gram-path correlation clamps negative variance and
   rejects |corr| > 1 garbage instead of letting it cross the drop
   threshold.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _patch_first_ac_sos(payload: bytes, se_value: int) -> bytes:
    """Return payload with the first AC scan's Se byte overwritten.

    SOS layout: FF DA | len(2) | Ns(1) | Ns*(Cs,TdTa) | Ss | Se | AhAl.
    """
    d = bytearray(payload)
    pos = 0
    while True:
        pos = d.find(b"\xff\xda", pos)
        if pos < 0:
            raise AssertionError("no AC SOS found to patch")
        ns = d[pos + 4]
        ss_at = pos + 5 + 2 * ns
        if d[ss_at] > 0:  # AC scan
            d[ss_at + 1] = se_value
            return bytes(d)
        pos += 2


def test_progressive_rejects_out_of_band_se():
    from featuretools_spark.ops.jpeg import (
        decode_jpeg, encode_jpeg_progressive)

    arr = (np.arange(16 * 16 * 3) % 251).reshape(16, 16, 3).astype(
        np.uint8)
    good = encode_jpeg_progressive(arr)
    decode_jpeg(good)  # sanity: unpatched payload decodes

    bad = _patch_first_ac_sos(good, 200)
    with pytest.raises(ValueError, match="spectral selection"):
        decode_jpeg(bad)


def test_simhash_releases_chunk_cache(spark):
    from featuretools_spark.ops.dedup import simhash_near_duplicates

    texts = [
        ("a", "the quick brown fox jumps over the lazy dog again"),
        ("b", "the quick brown fox jumps over the lazy dog againn"),
        ("c", "entirely different content with no overlap at all xyz"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = simhash_near_duplicates(df, "doc_id", "text", max_hamming=10)
    out.count()  # materialize the result
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # the chunk table must be unpersisted; at most the (small, eager)
    # localCheckpoint of the filtered pairs remains, and THAT one the
    # ContextCleaner reclaims once `out` is dereferenced — the leak
    # was the signature-scale chunk cache surviving every call
    assert after <= before + 1, (
        f"simhash leaked {after - before} persisted RDD(s)")


def test_kernel_floor_exempt_from_escalated_width(spark):
    from featuretools_spark import cfm

    df = spark.range(100).withColumn("g", F.col("id") % 4)
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cfm._kernel_nparts(df) == base
    try:
        # a session genuinely CONFIGURED wide keeps its width
        spark.conf.set("spark.sql.shuffle.partitions", "4096")
        assert cfm._kernel_nparts(df) == 4096
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(base))


def test_gram_corr_clamps_degenerate_variance(spark):
    from featuretools_spark.encode import _corr_matrix_gram

    # a near-constant column whose B - A^2/N cancels catastrophically
    # in float64, plus a real column
    n = 400
    rows = [(1.0e9 + (i % 2) * 1e-4, float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, ["nearconst", "ramp"])
    corr = _corr_matrix_gram(df, ["nearconst", "ramp"])
    finite = corr[np.isfinite(corr)]
    assert np.all(np.abs(finite) <= 1.0 + 1e-9), corr

    # exactly-constant column: NaN (no variance), never a drop signal
    rows2 = [(7.0, float(i)) for i in range(50)]
    df2 = spark.createDataFrame(rows2, ["const", "ramp"])
    corr2 = _corr_matrix_gram(df2, ["const", "ramp"])
    assert np.isnan(corr2[0, 1]) and np.isnan(corr2[1, 0])
