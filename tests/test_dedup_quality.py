"""Quantitative pass criteria for the hash-specific (no-SQL-oracle)
ops: SimHash blocking recall vs brute-force hamming, MinHash-LSH
recall/precision on planted near-duplicates, ANN-LSH recall@k vs the
exact brute-force baseline, fingerprint determinism/robustness, and
exact-substring span removal (trim_duplicated_spans) with the
winnowed-fingerprint machinery it shares with cross_doc_duplication.

Reference analog for span removal: none — featuretools has no text
surface; this is the LLM-curation tier (Lee et al., "Deduplicating
Training Data Makes Language Models Better", re-expressed over
winnowed fingerprints so a SQL oracle can reproduce it).

Also here: the driver corpus's witness-oracle margins, simhash's md5
signature parity, candidate guard and cache release, and the curation
ops (redaction, decontamination, repetition, cross-doc duplication)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from featuretools_spark.ops.dedup import (
    cross_doc_duplication,
    exact_duplicates,
    hamming_distance,
    minhash_duplicates,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_duplicates,
    trim_duplicated_spans,
)
from featuretools_spark.ops.scrub import decontaminate
from featuretools_spark.ops.similarity import brute_force_topk, lsh_topk
from featuretools_spark.ops.textstats import fingerprint

SF_DIR = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"   # the driver's correctness-gate SF

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
]


def _doc(i, mutate=None):
    """Deterministic 40-word document; mutate=j swaps word j."""
    words = [_WORDS[(i * 7 + j * 3) % len(_WORDS)] + str((i + j) % 9)
             for j in range(40)]
    if mutate is not None:
        words[mutate] = "zz" + words[mutate]
    return " ".join(words)


@pytest.fixture(scope="module")
def planted(spark):
    """120 distinct docs + 12 planted near-copies (1 word of 40
    changed -> shingle Jaccard ~0.9)."""
    rows = [(i, _doc(i)) for i in range(120)]
    rows += [(1000 + i, _doc(i, mutate=(i * 5) % 40)) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id int, text string").cache()


def test_simhash_blocking_recall_exact(spark, planted):
    """The pigeonhole fix: with max_hamming=h the blocking join must
    find EVERY pair whose exact 64-bit hamming distance is <= h —
    verified against the brute-force all-pairs distance."""
    for h in (3, 6):
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_duplicates(
                planted, "doc_id", "text", max_hamming=h
            ).collect()
        }
        sig = simhash64(planted, "doc_id", "text")
        a = sig.select(F.col("doc_id").alias("id_a"),
                       F.col("simhash").alias("sh_a"))
        b = sig.select(F.col("doc_id").alias("id_b"),
                       F.col("simhash").alias("sh_b"))
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(hamming_distance(F.col("sh_a"), F.col("sh_b")) <= h)
            .collect()
        }
        assert got == brute, f"hamming<={h}: blocking missed pairs"
        if h == 6:
            # the planted near-copies should mostly land within 6 bits
            planted_found = sum(1 for (x, y) in got if y == x + 1000)
            assert planted_found >= 8


def test_minhash_planted_recall_precision(spark, planted):
    pairs = minhash_duplicates(planted, "doc_id", "text", num_perm=64,
                               bands=16, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    planted_pairs = {(i, 1000 + i) for i in range(12)}
    found = planted_pairs & set(got)
    assert len(found) >= 11, f"recall {len(found)}/12"
    # precision: every reported pair must be a true near-dup (exact
    # 5-gram Jaccard >= 0.4)
    if got:
        cands = spark.createDataFrame(
            [(a, b) for a, b in got], "id_a int, id_b int"
        )
        exact = ngram_jaccard_pairs(planted, "doc_id", "text", k=5,
                                    threshold=0.0, candidates=cands)
        jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
        bad = [p for p in got if jac.get(p, 0.0) < 0.4]
        assert not bad, f"false positives: {bad[:5]}"
        # estimator quality on the found planted pairs
        for p in found:
            assert abs(got[p] - jac[p]) < 0.3


def test_ngram_jaccard_refuses_quadratic(spark, planted):
    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(planted, "doc_id", "text",
                            max_rows_all_pairs=10).collect()


def test_lsh_topk_recall_at_k(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    kw = dict(id_col="vec_id", vec_col="embedding", k=5)
    exact = brute_force_topk(corpus, queries, **kw).collect()
    approx = lsh_topk(corpus, queries, n_planes=12, **kw).collect()
    truth: dict = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = tot = 0
    for r in approx:
        tot += 0  # counted via truth below
        if r["vec_id"] in truth.get(r["query_id"], set()):
            hits += 1
    tot = sum(len(v) for v in truth.values())
    assert tot > 0
    recall = hits / tot
    assert recall >= 0.9, f"recall@5 = {recall:.2f}"


def test_fingerprint_determinism_and_robustness(spark):
    rows = [
        (1, "The quick  Brown fox\njumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy dog and then naps"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = {r["doc_id"]: r for r in fingerprint(df, "doc_id", "text").collect()}
    # whitespace + case normalization: 1 and 2 are identical
    assert fp[1]["exact_fp"] == fp[2]["exact_fp"]
    assert fp[1]["min_gram_fp"] == fp[2]["min_gram_fp"]
    # appending text can only widen the gram set: min never increases
    assert fp[3]["min_gram_fp"] <= fp[2]["min_gram_fp"]
    assert fp[3]["max_gram_fp"] >= fp[2]["max_gram_fp"]
    # prefix-sharing doc differs in exact fp
    assert fp[3]["exact_fp"] != fp[2]["exact_fp"]


def test_brute_force_topk_refuses_large_query_side(spark):
    """VERDICT r2 #7: the quadratic broadcast cross-join refuses an
    oversized query side, pointing at lsh_topk."""
    import pytest
    from pyspark.sql import functions as F

    from featuretools_spark.ops.similarity import brute_force_topk

    corpus = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(1), F.rand(2)).alias("embedding"))
    queries = spark.range(30).select(
        F.col("id").alias("query_id"),
        F.array(F.rand(3), F.rand(4)).alias("query_vec"))
    with pytest.raises(ValueError, match="lsh_topk"):
        brute_force_topk(corpus, queries, k=3, max_query_rows=10)
    out = brute_force_topk(corpus, queries, k=3, max_query_rows=100)
    assert out.count() == 90


def test_embedding_near_dup_lsh_recall(spark):
    """Planted high-cosine pairs (v + small noise, cos >= ~0.97) must
    be recovered by the random-hyperplane LSH path at >= 0.9 recall,
    with every reported pair verified exact (precision 1 by
    construction: the final filter is the true cosine)."""
    import numpy as np

    from featuretools_spark.ops.dedup import embedding_near_duplicates

    rng = np.random.RandomState(5)
    base = rng.randn(150, 32)
    near = base[:30] + 0.08 * rng.randn(30, 32)   # planted near-dups
    far = rng.randn(120, 32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(1000 + i, [float(x) for x in v]) for i, v in enumerate(near)]
    rows += [(5000 + i, [float(x) for x in v]) for i, v in enumerate(far)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.9, method="exact"
        ).collect()
    }
    assert len(exact) >= 25     # the planted pairs are really there
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.9, method="lsh",
            n_planes=10, n_tables=8,
        ).collect()
    }
    assert got <= exact          # precision 1: exact cosine re-check
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"


def test_embedding_near_dup_exact_refuses_large(spark):
    df = spark.range(100).selectExpr(
        "id AS vec_id", "array(cast(id as double)) AS embedding")
    from featuretools_spark.ops.dedup import embedding_near_duplicates

    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_duplicates(df, "vec_id", "embedding",
                                  method="exact", max_rows_exact=10)


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF with a k-means coarse quantizer: on clustered embeddings
    (the realistic shape — uniform-random vectors are IVF's worst
    case) recall@10 vs brute force must be >= 0.9, and the quantizer
    must be deterministic across runs."""
    import numpy as np

    from featuretools_spark.ops.similarity import (
        brute_force_topk, ivf_topk, kmeans_centroids,
    )

    rng = np.random.RandomState(8)
    centers = rng.randn(12, 16) * 4.0
    pts = np.concatenate(
        [c + rng.randn(60, 16) * 0.5 for c in centers])    # 720 rows
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    corpus = df.filter(F.col("vec_id") >= 24)
    qs = df.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))

    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(corpus, qs, k=10).collect()}
    got = {(r["query_id"], r["vec_id"])
           for r in ivf_topk(corpus, qs, k=10, n_clusters=12, n_probe=3,
                             max_iter=4).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.2f} < 0.9"

    c1 = kmeans_centroids(corpus, "embedding", 12, max_iter=2)
    c2 = kmeans_centroids(corpus, "embedding", 12, max_iter=2)
    # hash-seeded init is deterministic; F.avg partial-aggregation
    # order is not contractually so — compare with fp tolerance.
    assert np.allclose(np.array(c1), np.array(c2), rtol=1e-9, atol=1e-12)


def test_ivf_plan_size_constant_in_n_clusters(spark):
    """Centroids travel as a spark broadcast, not plan literals: the
    optimized plan of ivf_topk must stay O(1) even at n_clusters=1024
    x dim=64 (would be ~65k literal nodes in the old encoding)."""
    from featuretools_spark.ops.similarity import ivf_topk

    rng = np.random.RandomState(3)
    pts = rng.randn(200, 64)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    corpus = df.filter(F.col("vec_id") >= 8)
    qs = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    centroids = [[float(x) for x in row]
                 for row in rng.randn(1024, 64)]
    out = ivf_topk(corpus, qs, k=5, n_probe=4, centroids=centroids)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 50_000, f"plan blew up: {len(plan)} chars"
    assert out.limit(1).count() >= 0  # executes end-to-end


def test_duplicate_clusters_transitive_and_canonical(spark):
    """NEW r4: pair-graph cluster resolution. A~B, B~C (no A~C pair)
    must land in ONE cluster labeled min(id); keep_canonical keeps
    exactly one survivor per cluster and passes untouched rows
    through."""
    from featuretools_spark.ops.dedup import (
        duplicate_clusters, keep_canonical,
    )

    # components: {1,2,3} (chain), {10,11}, {20,21,22,23} (star on 20)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (20, 23)],
        "id_a int, id_b int")
    got = {r["id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}

    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in [1, 2, 3, 5, 10, 11, 20, 21, 22, 23, 99]],
        "doc_id int, text string")
    kept = sorted(r["doc_id"]
                  for r in keep_canonical(df, pairs, "doc_id").collect())
    # survivors: cluster minima 1, 10, 20 + untouched 5, 99
    assert kept == [1, 5, 10, 20, 99]

    # long chain through the DISTRIBUTED loop (max_edges_driver=0
    # forces it — the union-find fast path would hide it): pointer
    # jumping closes a 12-hop chain well inside default rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30, 42)], "id_a int, id_b int")
    got2 = {r["id"]: r["cluster_id"]
            for r in duplicate_clusters(
                chain, max_edges_driver=0).collect()}
    assert set(got2.values()) == {30}

    # distributed and driver union-find paths agree exactly
    got3 = {r["id"]: r["cluster_id"]
            for r in duplicate_clusters(chain).collect()}
    assert got3 == got2

    # non-convergence guard fires with tiny max_iter (distributed)
    import pytest as _pt
    with _pt.raises(RuntimeError, match="converge"):
        duplicate_clusters(chain, max_iter=2, max_edges_driver=0)


# ----------------------------------------------------------------------
# exact-substring span removal over winnowed fingerprints
# ----------------------------------------------------------------------
def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


SHARED = "the quick brown fox jumps over the lazy dog near the river bank"


def test_trim_removes_shared_span_keeps_unique(spark):
    """Two docs sharing a long span, each with unique flanks: the
    shared interior is cut from both, unique text survives."""
    a = "AAAA unique alpha prelude " + SHARED + " alpha epilogue ZZZZ"
    b = "BBBB different beta intro " + SHARED + " beta outro YYYY"
    c = "totally unrelated text that shares nothing with the others"
    out = {
        r["doc_id"]: r
        for r in trim_duplicated_spans(
            _docs(spark, [(1, a), (2, b), (3, c)]), "doc_id", "text",
            k=20, w=8,
        ).collect()
    }
    # doc 3 untouched
    assert out[3]["text"] == c
    assert out[3]["n_dup_spans"] == 0 and out[3]["chars_removed"] == 0
    # docs 1+2: the shared span's interior is gone, flanks survive
    for i, (orig, flank_l, flank_r) in (
        (1, (a, "unique alpha prelude", "alpha epilogue")),
        (2, (b, "different beta intro", "beta outro")),
    ):
        t = out[i]["text"]
        assert out[i]["n_dup_spans"] >= 1
        assert out[i]["chars_removed"] >= 1
        assert len(t) == len(orig) - out[i]["chars_removed"]
        # the interior of the shared span must be removed
        assert "jumps over the lazy dog" not in t
        # unique flanks must survive (anchors are scoped to the span;
        # at most w-1 grams ~ w+k-2 chars of boundary slack)
        assert flank_l[: len(flank_l) // 2] in t
        assert flank_r[len(flank_r) // 2:] in t


def test_trim_internal_repetition_alone_not_removed(spark):
    """min_df counts DISTINCT docs: a doc repeating its own span,
    alone in the corpus, is untouched."""
    rep = "repeat this exact sentence again and again! " * 3
    out = trim_duplicated_spans(
        _docs(spark, [(1, rep), (2, "nothing in common here at all")]),
        "doc_id", "text", k=20, w=8,
    ).collect()
    r = {x["doc_id"]: x for x in out}
    assert r[1]["text"] == rep and r[1]["chars_removed"] == 0
    assert r[2]["chars_removed"] == 0


def test_trim_identical_docs_fully_gutted(spark):
    """Two byte-identical docs: every anchored window is shared, so
    (almost) the whole text is removed from both — at most the
    detection floor k + w - 2 chars of boundary slack survives."""
    txt = SHARED + " and then some more words to make it long enough"
    out = trim_duplicated_spans(
        _docs(spark, [(1, txt), (2, txt)]), "doc_id", "text",
        k=20, w=8,
    ).collect()
    for r in out:
        assert r["chars_removed"] >= len(txt) - (20 + 8 - 2)
        assert len(r["text"]) == len(txt) - r["chars_removed"]


def test_trim_offset_invariance_winnowing_floor(spark):
    """The r6 strided bug class: the same span at offsets differing
    by a non-multiple of the old stride. Winnowing is content-defined,
    so the span is detected and trimmed in BOTH docs regardless of
    offset."""
    for shift in range(1, 7):  # every offset class mod the old stride 5
        a = "x" * 3 + SHARED + " tail one"
        b = "y" * (3 + shift) + SHARED + " other tail"
        out = {
            r["doc_id"]: r
            for r in trim_duplicated_spans(
                _docs(spark, [(1, a), (2, b)]), "doc_id", "text",
                k=20, w=8,
            ).collect()
        }
        assert out[1]["chars_removed"] > 0, f"shift={shift} missed in a"
        assert out[2]["chars_removed"] > 0, f"shift={shift} missed in b"
        assert "jumps over the lazy" not in out[1]["text"]
        assert "jumps over the lazy" not in out[2]["text"]


def test_trim_short_and_null_docs_pass_through(spark):
    out = {
        r["doc_id"]: r
        for r in trim_duplicated_spans(
            _docs(spark, [(1, "short"), (2, ""), (3, None),
                          (4, SHARED), (5, SHARED)]),
            "doc_id", "text", k=20, w=8,
        ).collect()
    }
    assert out[1]["text"] == "short" and out[1]["chars_removed"] == 0
    assert out[2]["text"] == "" and out[2]["chars_removed"] == 0
    assert out[3]["text"] is None and out[3]["chars_removed"] == 0
    assert out[4]["chars_removed"] > 0  # 4 and 5 share everything


def test_trim_adjacent_intervals_merge(spark):
    """Anchors k chars apart produce touching [p, p+k) intervals that
    must merge into ONE span (n_dup_spans counts merged islands)."""
    long_shared = SHARED + " " + SHARED + " " + SHARED
    a = "intro-A " + long_shared + " outro-A"
    b = "intro-B " + long_shared + " outro-B"
    out = {
        r["doc_id"]: r
        for r in trim_duplicated_spans(
            _docs(spark, [(1, a), (2, b)]), "doc_id", "text",
            k=20, w=8,
        ).collect()
    }
    # one contiguous shared region -> a small number of merged islands
    # (boundary anchors may split off at most one extra interval/side)
    assert 1 <= out[1]["n_dup_spans"] <= 3
    assert out[1]["chars_removed"] >= len(long_shared) - (20 + 8 - 2)


def test_trim_xxhash64_matches_md5_mode(spark):
    """The bigint scale path selects identical anchors-by-content
    semantics; removal output must match the md5 witness mode."""
    a = "AAAA unique alpha prelude " + SHARED + " alpha epilogue ZZZZ"
    b = "BBBB different beta intro " + SHARED + " beta outro YYYY"
    df = _docs(spark, [(1, a), (2, b)])
    md = {r["doc_id"]: (r["text"], r["chars_removed"]) for r in
          trim_duplicated_spans(df, "doc_id", "text",
                                k=20, w=8, hash_fn="md5").collect()}
    xx = {r["doc_id"]: (r["text"], r["chars_removed"]) for r in
          trim_duplicated_spans(df, "doc_id", "text",
                                k=20, w=8, hash_fn="xxhash64").collect()}
    # winnowing picks the min-HASH per window, so anchor CHOICE can
    # differ between hash functions — but both must remove the shared
    # interior and keep doc-unique text
    for i in (1, 2):
        assert "jumps over the lazy dog" not in md[i][0]
        assert "jumps over the lazy dog" not in xx[i][0]
        assert md[i][1] > 0 and xx[i][1] > 0


def test_trim_composes_with_exact_dedup_and_decontaminate(spark):
    """Pipeline smoke: trim spans -> exact whole-doc dedup (trimming
    two same-span docs can make them byte-identical) -> benchmark
    decontamination, all as one lazy chained plan."""
    a = "AAAA unique alpha prelude " + SHARED + " alpha epilogue ZZZZ"
    docs = _docs(spark, [(1, a), (2, a), (3, "benchmark answer text "
                                             "that must be flagged here")])
    bench = spark.createDataFrame(
        [("benchmark answer text that must be flagged here",)], ["text"])
    trimmed = trim_duplicated_spans(docs, "doc_id", "text", k=20, w=8)
    deduped = exact_duplicates(
        trimmed.select("doc_id", "text"), ["text"], "doc_id")
    kept = deduped.filter(~F.col("is_duplicate")).select("doc_id", "text")
    flagged = decontaminate(kept, bench, id_col="doc_id",
                            text_col="text", n=8)
    by_id = {r["doc_id"]: r for r in flagged.collect()}
    # docs 1 and 2 are identical -> identical after trimming -> one
    # survives; doc 3 carries the benchmark gram
    assert set(by_id) == {1, 3}
    assert by_id[3]["contaminated"] and not by_id[1]["contaminated"]


def test_cross_dup_winnowed_offset_invariance(spark):
    """cross_doc_duplication (the signal twin) also detects spans at
    any offset now — the exact r6 miss case."""
    a = "xx" + SHARED + " tail"
    b = "y" * 7 + SHARED + " other"  # offset differs by 5 (old stride!)
    r = {x["doc_id"]: x["shared_frac"] for x in cross_doc_duplication(
        _docs(spark, [(1, a), (2, b)]), "doc_id", "text",
        k=20, w=8).collect()}
    assert r[1] > 0 and r[2] > 0


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
