"""Round-6 additions: one result schema for every as-of strategy,
input-scaled grouped-kernel shuffle width (VERDICT r5 #4), strict=False
media fallback + corrupt-codec ValueError contracts (ADVICE r5), and
the witness-oracle corpus-margin guard (ADVICE r5 #4)."""

import os

import pytest
from pyspark.sql import functions as F

import featuretools_spark as fts
from featuretools_spark import cfm
from featuretools_spark.datagen import (
    make_cutoffs, make_entities, make_sequences,
)
from featuretools_spark.features import AggregationFeature, IdentityFeature

SF_GATE = "/root/testdata/sf0.01"   # the driver's correctness-gate SF


@pytest.fixture(scope="module")
def strategy_es(spark):
    seqs = make_sequences(spark, n_rows=3000, n_entities=60).cache()
    ents = make_entities(seqs)
    es = fts.EntitySet("strategy")
    es.add_dataframe("entities", ents, index="entity_id",
                     time_index="first_seen")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    cuts = make_cutoffs(spark, seqs, per_entity=3).cache()
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    feats = [
        AggregationFeature(
            IdentityFeature(es, "sequences", "doc_id"), "entities",
            "count", es=es),
        AggregationFeature(n_tok, "entities", "sum", es=es),
        AggregationFeature(n_tok, "entities", "mean", es=es),
    ]
    return es, cuts, feats


def test_strategy_schema_parity_count_is_long(spark, strategy_es):
    """The result schema must not depend on the strategy the caller
    picks: the sortmerge casts count-family outputs back to long at the
    merge boundary (asof._output_type) to match the join path's
    bigint."""
    es, cuts, feats = strategy_es
    dj = dict(fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, strategy="join").dtypes)
    ds = dict(fts.calculate_feature_matrix(
        feats, es, cutoff_time=cuts, strategy="sortmerge").dtypes)
    assert dj == ds
    assert dj["COUNT(sequences)"] == "bigint"


# ----------------------------------------------------------------------
# grouped-kernel shuffle width scales with input size
# ----------------------------------------------------------------------
def test_kernel_nparts_grows_with_input(spark):
    os.environ["FT_SPARK_KERNEL_PART_BYTES"] = str(1 << 12)  # 4 KiB
    try:
        small = cfm._kernel_nparts(spark.range(10))
        big = cfm._kernel_nparts(spark.range(1_000_000))
    finally:
        os.environ.pop("FT_SPARK_KERNEL_PART_BYTES")
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert small == floor            # never below the session width
    assert big > small               # and grows with input bytes
    # cap guard
    os.environ["FT_SPARK_KERNEL_PART_BYTES"] = "1"
    os.environ["FT_SPARK_KERNEL_MAX_PARTS"] = "100"
    try:
        assert cfm._kernel_nparts(spark.range(1_000_000)) == 100
    finally:
        os.environ.pop("FT_SPARK_KERNEL_PART_BYTES")
        os.environ.pop("FT_SPARK_KERNEL_MAX_PARTS")


def test_kernel_nparts_ignores_join_multiplied_estimates(spark):
    """Regression: Catalyst propagates sizeInBytes MULTIPLICATIVELY
    through joins, so the plan-root stat of a multi-join plan
    overshoots by orders of magnitude — and repartition(n, cols) is a
    user width AQE will not coalesce, so the overshoot became 32768
    real tasks on a 150-row test. _kernel_nparts must size from the
    LEAF scans: a self-join chain over a tiny input stays at the
    session floor no matter how many joins the plan stacks."""
    import pyspark.sql.functions as F

    a = spark.range(100).withColumn("k", F.col("id") % 10)
    j = a
    for i in range(4):
        j = j.join(a.select("k", F.col("id").alias(f"id{i}")), "k")
    os.environ["FT_SPARK_KERNEL_PART_BYTES"] = str(64 << 20)
    try:
        got = cfm._kernel_nparts(j)
    finally:
        os.environ.pop("FT_SPARK_KERNEL_PART_BYTES")
    assert got == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_kernel_nparts_ignores_statless_rdd_leaves(spark):
    """Regression: a LogicalRDD leaf (any createDataFrame / Arrow /
    checkpoint boundary — e.g. the test suites' cutoff DataFrames)
    has no statistics and reports the defaultSizeInBytes sentinel;
    summing it drove the kernel width straight to the 32768 cap on a
    150-row input. Unknown-sized leaves must contribute the floor."""
    pdf = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double")
    leaves = pdf._jdf.queryExecution().optimizedPlan().collectLeaves()
    it, has_rdd_leaf = leaves.iterator(), False
    while it.hasNext():
        n = it.next()
        if "RDD" in n.nodeName():
            has_rdd_leaf = True
    got = cfm._kernel_nparts(pdf)
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if has_rdd_leaf:
        assert got == floor
    else:  # environment materialized it as LocalRelation: still tiny
        assert got == floor


# ----------------------------------------------------------------------
# strict=False fallback on MALFORMED magic-matching payloads (ADVICE)
# ----------------------------------------------------------------------
def _one_payload_df(spark, payload):
    return spark.createDataFrame(
        [("m1", payload, 1.0)], "media_id string, payload binary, "
        "duration_s double")


# ----------------------------------------------------------------------
# progressive JPEG (VERDICT r5 stretch: "the other half of real-world
# JPEGs"): the SOF2 decoder must reproduce the baseline decode of the
# same quantized coefficients, across gray/RGB/4:2:0, odd dims, and
# EOB-run-heavy content
# ----------------------------------------------------------------------
def _prog_images():
    import numpy as np
    rnd = np.random.default_rng(3)
    noisy_gray = (rnd.random((24, 17)) * 255).astype(np.uint8)
    noisy_rgb = (rnd.random((31, 22, 3)) * 255).astype(np.uint8)
    # smooth gradient: most AC bands are all-zero -> multi-block EOB
    # runs with buffered correction bits, the intricate decode path
    grad = (np.add.outer(np.arange(40) * 3, np.arange(56) * 2)
            % 256).astype(np.uint8)
    flat = np.full((64, 48), 128, dtype=np.uint8)   # maximal EOB runs
    return [(noisy_gray, False), (noisy_rgb, False),
            (noisy_rgb, True), (grad, False), (flat, False)]


def test_progressive_jpeg_matches_baseline_decode():
    from featuretools_spark.ops.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive,
    )
    for img, sub in _prog_images():
        base = decode_jpeg(encode_jpeg(img, subsample=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsample=sub))
        for k in ("width", "height", "channels", "bit_depth"):
            assert prog[k] == base[k], (k, img.shape, sub)
        # identical quantized coefficients -> identical pixels up to
        # float-summation order (batched vs per-block IDCT)
        assert abs(prog["mean_px"] - base["mean_px"]) < 1e-6, (img.shape, sub)
        assert abs(prog["std_px"] - base["std_px"]) < 1e-6, (img.shape, sub)


def test_progressive_jpeg_decode_is_accurate():
    import numpy as np
    from featuretools_spark.ops.jpeg import (
        decode_jpeg, encode_jpeg_progressive,
    )
    img = np.full((32, 32), 200, dtype=np.uint8)
    st = decode_jpeg(encode_jpeg_progressive(img, quality_scale=8))
    assert abs(st["mean_px"] - 200.0) < 2.0
    assert st["std_px"] < 3.0


def test_progressive_jpeg_via_image_features(spark):
    import numpy as np
    from featuretools_spark.ops.jpeg import encode_jpeg_progressive
    from featuretools_spark.ops.multimodal import image_features
    img = (np.random.default_rng(5).random((20, 20, 3)) * 255
           ).astype(np.uint8)
    payload = encode_jpeg_progressive(img)
    df = spark.createDataFrame([("m1", payload)], "media_id string, "
                               "payload binary")
    row = image_features(df, strict=True).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (20, 20, 3)


# ----------------------------------------------------------------------
# one-pass Gram-matrix correlation (VERDICT r5 stretch: the pairwise
# F.corr plan is quadratic in width — 1k columns would be ~500k agg
# expressions; the gram path is O(1) plan size)
# ----------------------------------------------------------------------
def _corr_pdf():
    import numpy as np
    import pandas as pd
    rnd = np.random.default_rng(7)
    rows = 400
    base = rnd.normal(size=rows)
    return pd.DataFrame({
        "a": base,
        "b": base * 2.0 + rnd.normal(scale=1e-3, size=rows),
        "c": rnd.normal(size=rows),
        "d": np.where(rnd.random(rows) < 0.3, np.nan,
                      base + rnd.normal(scale=0.5, size=rows)),
        "e": -base,
        "f": np.ones(rows),
    })


def test_corr_gram_matches_pandas_pairwise_complete(spark):
    import numpy as np
    from featuretools_spark.encode import _corr_matrix_gram
    pdf = _corr_pdf()
    df = spark.createDataFrame(pdf).repartition(5)
    got = _corr_matrix_gram(df, list(pdf.columns))
    want = pdf.corr(min_periods=1).to_numpy()
    assert np.allclose(got, want, atol=1e-9, equal_nan=True)


def test_corr_gram_drop_set_matches_pairwise(spark):
    from featuretools_spark.encode import (
        remove_highly_correlated_features,
    )
    df = spark.createDataFrame(_corr_pdf()).repartition(3)
    out_p = remove_highly_correlated_features(df, 0.95, method="pairwise")
    out_g = remove_highly_correlated_features(df, 0.95, method="gram")
    assert out_p.columns == out_g.columns
    assert "b" not in out_g.columns      # 0.99-corr copy of a dropped
    assert "e" not in out_g.columns      # perfect anti-correlation
    assert {"a", "c", "d", "f"} <= set(out_g.columns)


def test_corr_gram_empty_input_drops_nothing(spark):
    from featuretools_spark.encode import (
        remove_highly_correlated_features,
    )
    cols = list(_corr_pdf().columns)
    df = spark.createDataFrame(
        _corr_pdf().iloc[:0], schema=" double, ".join(cols) + " double")
    out = remove_highly_correlated_features(df, 0.95, method="gram")
    assert out.columns == list(_corr_pdf().columns)


def test_malformed_jpeg_magic_falls_back_non_strict(spark):
    from featuretools_spark.ops.multimodal import image_features

    df = _one_payload_df(spark, b"\xff\xd8not really a jpeg at all")
    row = image_features(df, strict=False).collect()[0]
    assert row["width"] is None and row["img_features"] is not None
    with pytest.raises(Exception, match="corrupt JPEG|not a JPEG"):
        image_features(df, strict=True).collect()


def test_malformed_riff_falls_back_non_strict(spark):
    from featuretools_spark.ops.multimodal import (
        audio_features, frame_sample, video_features,
    )

    wav = _one_payload_df(spark, b"RIFF\x10\x00\x00\x00WAVEjunk")
    row = audio_features(wav, strict=False).collect()[0]
    assert row["sample_rate"] is None and row["n_bytes"] > 0

    avi = _one_payload_df(spark, b"RIFF\x10\x00\x00\x00AVI junk")
    row = video_features(avi, strict=False).collect()[0]
    assert row["width"] is None and row["n_bytes"] > 0
    # frame_sample: malformed AVI falls back to the deterministic fake
    rows = frame_sample(avi, strict=False).collect()
    assert len(rows) >= 1 and rows[0]["frame_features"] is not None
    with pytest.raises(Exception, match="corrupt AVI|AVI missing"):
        video_features(avi, strict=True).collect()


def test_wav_magic_on_avi_payload_yields_null_row(spark):
    """audio_features' RIFF sniff also matches AVI payloads; decode_wav
    rejects them with ValueError -> NULL row under strict=False."""
    import numpy as np

    from featuretools_spark.ops.avi import encode_avi_mjpeg
    from featuretools_spark.ops.multimodal import audio_features

    frames = [np.full((16, 16), 100, dtype=np.uint8)]
    df = _one_payload_df(spark, encode_avi_mjpeg(frames, fps=2.0))
    row = audio_features(df, strict=False).collect()[0]
    assert row["sample_rate"] is None and row["n_bytes"] > 0


def test_corrupt_jpeg_raises_valueerror_not_keyerror():
    import numpy as np

    from featuretools_spark.ops.jpeg import decode_jpeg, encode_jpeg

    img = (np.arange(32 * 32 * 3).reshape(32, 32, 3) % 251).astype("uint8")
    b = bytearray(encode_jpeg(img))
    i = b.find(b"\xff\xda")
    b[i + 6] = 0x77  # scan references DC table 7 / AC table 7: undefined
    with pytest.raises(ValueError, match="missing DC DHT table 7"):
        decode_jpeg(bytes(b))
    with pytest.raises(ValueError, match="truncated|corrupt JPEG"):
        decode_jpeg(bytes(b[:24]))


def test_frame_sample_max_ticks_caps_and_is_detectable(spark):
    import numpy as np

    from featuretools_spark.ops.avi import encode_avi_mjpeg
    from featuretools_spark.ops.multimodal import frame_sample

    frames = [np.full((16, 16), 40 + 10 * i, dtype=np.uint8)
              for i in range(12)]
    df = _one_payload_df(spark, encode_avi_mjpeg(frames, fps=4.0))
    # 12 frames at 4 fps = 3 s; every 0.25 s wants 12 ticks -> cap at 5
    rows = frame_sample(df, every_s=0.25, max_ticks=5).collect()
    assert len(rows) == 5
    # truncation is detectable: last tick time < duration
    assert max(r["frame_t"] for r in rows) == pytest.approx(4 * 0.25)
    full = frame_sample(df, every_s=0.25).collect()   # default cap 1024
    assert len(full) == 12


# ----------------------------------------------------------------------
# witness-oracle corpus margins (ADVICE r5 #4): the minhash/simhash
# oracles equal the exact pair set only because the driver corpus has
# a Jaccard margin around the 0.5 threshold and a >=1-bit hamming
# margin under max_hamming=10. Assert those margins HERE so a future
# corpus regeneration fails THIS test (data changed) instead of
# presenting as an engine regression in the oracle gate.
# ----------------------------------------------------------------------
@pytest.fixture(scope="module")
def doc_pairs_j5():
    import duckdb

    con = duckdb.connect()
    return con.execute(f"""
        WITH d AS (SELECT * FROM read_parquet(
            '{SF_GATE}/documents.parquet')),
        sh AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, greatest(length(lower(text)) - 4, 1) + 1),
                i -> substring(lower(text), i::INT, 5))) AS s
            FROM d
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    """).fetchall()


def test_minhash_witness_margin_gap(doc_pairs_j5):
    """No pair may sit in the LSH dead zone (0.45, 0.85): qualifying
    pairs must be well ABOVE threshold 0.5 (banding recall ~1 there)
    and everything else well BELOW it."""
    in_gap = [(a, b, j) for a, b, j in doc_pairs_j5 if 0.45 < j < 0.85]
    assert not in_gap, (
        "driver corpus changed: pairs inside the witness margin gap "
        f"(0.45, 0.85): {in_gap[:5]} — the minhash_dedup oracle's "
        "exact-equality claim no longer holds BY CONSTRUCTION; this is "
        "a DATA change, not an engine regression")


def test_simhash_witness_margin(spark):
    """Every pair with exact 7-gram Jaccard >= 0.5 must sit at hamming
    <= 9 under the engine's 64-bit simhash — one bit of margin below
    max_hamming=10 blocking. Round-6 role change: the simhash_dedup
    ORACLE no longer relies on this margin (it reproduces the md5
    hamming gate exactly, any scale), so this test now pins the
    RECALL property — hamming-10 blocking still catches every planted
    near-dup on the driver corpus. tools/check_sf1_tiling.py measured
    the margin flipping 2-4 pairs per hash-perturbed corpus at sf0.1
    scale, which is why the oracle contract moved."""
    import duckdb

    from featuretools_spark.ops.dedup import hamming_distance, simhash64

    con = duckdb.connect()
    close = con.execute(f"""
        WITH d AS (SELECT * FROM read_parquet(
            '{SF_GATE}/documents.parquet')),
        sh AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, greatest(length(lower(text)) - 6, 1) + 1),
                i -> substring(lower(text), i::INT, 7))) AS s
            FROM d
        )
        SELECT a.doc_id, b.doc_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= 0.5
    """).fetchall()
    assert close, "corpus lost its planted near-dup pairs entirely"
    docs = spark.read.parquet(f"{SF_GATE}/documents.parquet")
    sig = simhash64(docs, "doc_id", "text")
    a = sig.alias("a")
    b = sig.alias("b")
    ham = {
        (r["ia"], r["ib"]): r["h"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("ia"),
                F.col("b.doc_id").alias("ib"),
                hamming_distance(F.col("a.simhash"),
                                 F.col("b.simhash")).alias("h"))
        .collect()
    }
    bad = [(ia, ib, ham[(ia, ib)]) for ia, ib in close
           if ham[(ia, ib)] > 9]
    assert not bad, (
        f"driver corpus changed: qualifying pairs at hamming > 9: {bad} "
        "— the simhash_dedup oracle's blocking margin is gone; DATA "
        "change, not an engine regression")


def test_simhash_md5_signature_parity_with_duckdb(spark):
    """hash_fn='md5' witness mode: Spark signatures must equal the
    DuckDB-recomputed ones bit-for-bit for every driver doc — this is
    the property the round-6 simhash_dedup oracle rests on (the SQL
    rebuilds signatures, chunks, hamming, and re-score from scratch)."""
    import duckdb

    from featuretools_spark.ops.dedup import simhash64

    docs = spark.read.parquet(f"{SF_GATE}/documents.parquet")
    got = {r["doc_id"]: r["simhash"] for r in
           simhash64(docs, "doc_id", "text", hash_fn="md5").collect()}

    def votes(col):
        return " + ".join(
            f"(CASE WHEN sum(CASE WHEN ({col} >> {i}) & 1 = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32))

    con = duckdb.connect()
    rows = con.execute(f"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(
                lower(trim(text)), '\\s+')) AS tok
            FROM read_parquet('{SF_GATE}/documents.parquet')
        ), h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
                   ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
            FROM toks
        )
        SELECT doc_id, {votes('hi')} AS sig_hi, {votes('lo')} AS sig_lo
        FROM h GROUP BY doc_id""").fetchall()
    assert len(rows) == len(got)
    for doc_id, sig_hi, sig_lo in rows:
        want = (sig_hi << 32) | sig_lo
        if want >= 1 << 63:            # engine packs into a signed long
            want -= 1 << 64
        assert got[doc_id] == want, doc_id


def test_simhash_candidate_volume_guard(spark):
    """The pigeonhole candidate join must refuse (actionably) instead
    of going quadratic when narrow chunks make every bucket hot."""
    from featuretools_spark.ops.dedup import simhash_near_duplicates

    docs = spark.read.parquet(f"{SF_GATE}/documents.parquet")
    os.environ["FT_SPARK_SIMHASH_MAX_CANDIDATES"] = "10"
    try:
        with pytest.raises(ValueError, match="candidate pairs"):
            simhash_near_duplicates(docs, "doc_id", "text",
                                    max_hamming=10).count()
    finally:
        os.environ.pop("FT_SPARK_SIMHASH_MAX_CANDIDATES")
    # default cap: the driver corpus sails through
    n = simhash_near_duplicates(docs, "doc_id", "text",
                                max_hamming=10).count()
    assert n > 0


def test_redact_pii_counts_and_text(spark):
    from featuretools_spark.ops.scrub import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.io ssn 123-45-6789 tel 555-867-5309 ip 10.0.0.1"),
         (2, "clean text, no identifiers at all"),
         (3, "")],
        ["id", "t"])
    r = {x["id"]: x for x in redact_pii(df, "t").collect()}
    assert (r[1]["n_email"], r[1]["n_ssn"], r[1]["n_phone"],
            r[1]["n_ipv4"]) == (1, 1, 1, 1)
    assert r[1]["redacted"] == \
        "mail [EMAIL] ssn [SSN] tel [PHONE] ip [IPV4]"
    assert r[2]["redacted"] == r[2]["t"]
    assert r[3]["redacted"] == ""


def test_decontaminate_overlap_and_clean(spark):
    from featuretools_spark.ops.scrub import decontaminate

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence with other words here"),
         (3, "quick brown fox jumps over something else entirely ok")],
        ["id", "t"])
    bench = spark.createDataFrame(
        [(99, "the quick brown fox jumps over a fence")], ["id", "t"])
    r = {x["id"]: (x["n_matched"], x["contaminated"])
         for x in decontaminate(docs, bench, "id", "t", n=5).collect()}
    # doc 1 shares 'the quick brown fox jumps' + 'quick brown fox
    # jumps over'; doc 3 shares only the second; doc 2 none
    assert r[1] == (2, True)
    assert r[3] == (1, True)
    assert r[2] == (0, False)


def test_repetition_features_fractions(spark):
    from featuretools_spark.ops.textstats import repetition_features

    df = spark.createDataFrame(
        [(1, "the cat and the cat and the dog"),
         (2, "all words unique here today friend"),
         (3, ""), (4, "one")], ["id", "t"])
    r = {x["id"]: (x["n_grams"], x["top_ngram_frac"], x["dup_ngram_frac"])
         for x in repetition_features(df, "id", "t").collect()}
    assert r[1] == (7, 0.2857, 0.8571)
    assert r[2] == (5, 0.2, 0.0)
    assert r[3] == (0, 0.0, 0.0) and r[4] == (0, 0.0, 0.0)


def test_curation_ops_compose_into_one_lazy_plan(spark):
    """quality -> repetition -> redaction -> decontamination compose
    as one lazy DataFrame pipeline (no intermediate actions), the way
    a real curation job chains them; the composed plan still resolves
    and returns per-doc rows."""
    from featuretools_spark.ops.scrub import decontaminate, redact_pii
    from featuretools_spark.ops.textstats import (
        quality_features, repetition_features,
    )

    docs = spark.read.parquet(f"{SF_GATE}/documents.parquet").limit(200)
    q = quality_features(docs, "text")
    rep = repetition_features(docs, "doc_id", "text", n=2)
    red = redact_pii(docs, "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    dec = decontaminate(docs, bench, "doc_id", "text", n=5)
    full = (
        q.select("doc_id", "quality_score")
        .join(rep, "doc_id")
        .join(red.select("doc_id", "redacted"), "doc_id")
        .join(dec, "doc_id")
    )
    rows = full.collect()          # first and only action
    assert len(rows) == 200
    cols = set(full.columns)
    assert {"quality_score", "top_ngram_frac", "redacted",
            "contaminated"} <= cols


def test_cross_doc_duplication_detects_shared_spans(spark):
    from featuretools_spark.ops.dedup import cross_doc_duplication

    base = ("the quick brown fox jumps over the lazy dog "
            "again and again today")
    df = spark.createDataFrame(
        [(1, base), (2, base + " with a twist at the end here"),
         (3, "completely different content sharing nothing with others"),
         (4, "short")], ["id", "t"])
    r = {x["id"]: (x["n_spans"], x["shared_frac"])
         for x in cross_doc_duplication(df, "id", "t").collect()}
    # winnowing (r7): doc 1 is a prefix of doc 2 — interior anchors
    # coincide, only doc 1's final sub-w-window anchors can differ,
    # so the shared fraction is high but not necessarily 1.0
    assert r[1][1] >= 0.5
    assert 0 < r[2][1] < 1.0         # doc 2 has a unique tail
    assert r[3] == (r[3][0], 0.0) and r[3][0] > 0
    assert r[4] == (0, 0.0)          # shorter than k
