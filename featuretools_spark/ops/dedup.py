"""Deduplication operators for web-scale corpora.

All pure Spark expressions (whole-stage codegen) — no Python in the
hot path:

- exact_duplicates: sha2 content hash → window count per hash.
  Scale: one shuffle on the 256-bit hash; skew-free (hashes are
  uniform).
- minhash: k independent min-hashes from one explode of shingles —
  minhash_i(doc) = min over shingles of hash(shingle, i). One
  explode + one groupBy(doc) with k min() aggregates (map-side
  partial agg keeps shuffle tiny: k longs per doc).
- lsh_candidate_pairs: band the signature, self-join on
  (band_idx, band_hash) — the standard MinHash-LSH bucket join.
  Candidate pairs are verified with the signature-equality estimate.
- simhash64: 64-bit SimHash from token hashes (bit-majority vote,
  64 conditional sums in one groupBy).
- ngram_jaccard_pairs: exact Jaccard on shingle sets for candidate
  pairs (array_intersect/array_union) — the verification step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def exact_duplicates(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Adds content_hash, dup_count, is_duplicate (true on all rows of
    a group except the smallest id — the canonical survivor)."""
    h = F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]), 256)
    out = df.withColumn("content_hash", h)
    w = W.partitionBy("content_hash")
    out = out.withColumn("dup_count", F.count(F.lit(1)).over(w))
    out = out.withColumn(
        "is_duplicate",
        (F.col("dup_count") > 1)
        & (F.col(id_col) != F.min(id_col).over(w)),
    )
    return out


def shingles(text_col, k: int = 5):
    t = F.lower(text_col)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(k)))
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 64, k: int = 5
) -> DataFrame:
    """One row per doc: id + minhash array<long>[num_perm].

    Plan: explode distinct shingles once, then ONE groupBy(id) with
    num_perm min(hash(shingle, seed_i)) aggregates. Partial (map-side)
    aggregation reduces the shuffle to num_perm longs per doc.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("_sh")
    )
    aggs = [
        F.min(F.hash(F.col("_sh"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("minhash")
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, num_perm: int = 64, bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH: band the signature, bucket-join, estimate Jaccard
    as the fraction of equal minhash components. Returns
    (id_a, id_b, est_jaccard) with id_a < id_b, deduped across bands.

    max_bucket_size (opt-in, default None = exact recall) caps
    degenerate buckets (empty docs, boilerplate): one hot bucket of b
    rows costs b^2/2 join outputs, so buckets above the cap are dropped
    before the self-join — those docs are trivially near-identical
    cliques better handled by exact_duplicates. At 100-TB scale pass a
    cap (e.g. 2000); dropped pairs mean recall loss, so it is not the
    default."""
    rows = num_perm // bands
    banded = sig.select(
        F.col(id_col),
        F.col("minhash"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.hash(
                        F.concat_ws(
                            ",",
                            F.slice(F.col("minhash"), b * rows + 1, rows).cast(
                                "array<string>"
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "minhash", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        bw = W.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(bw))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.minhash").alias("mh_a"),
            F.col("b.minhash").alias("mh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_perm))
    )
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def minhash_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.8,
    verify: str | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection.

    verify=None (default, the scale path): returns candidate pairs
    with ESTIMATED Jaccard (signature agreement) >= threshold —
    one pass, no second join against the shingle sets.

    verify="exact" (the witness path): LSH candidates are re-scored
    with the EXACT shingle Jaccard and filtered at threshold, so the
    output (id_a, id_b, jaccard) is a deterministic function of the
    corpus alone — any engine can recompute it from the raw text
    (this is what the driver's DuckDB oracle checks); the
    hash-specific signatures only decide which pairs get SCORED,
    and LSH recall at the threshold is what the oracle witnesses.
    Costs one extra join of candidates against the shingle sets."""
    sig = minhash_signature(df, id_col, text_col, num_perm, k)
    pairs = lsh_candidate_pairs(sig, id_col, num_perm, bands)
    if verify == "exact":
        return ngram_jaccard_pairs(
            df, id_col, text_col, k=k, threshold=threshold,
            candidates=pairs.select("id_a", "id_b"),
        )
    return pairs.filter(F.col("est_jaccard") >= threshold)


def simhash64(df: DataFrame, id_col: str, text_col: str,
              hash_fn: str = "spark") -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, majority vote of
    token-hash bits. One explode + one groupBy with 64 conditional
    sums; the signature is reassembled with bit arithmetic.

    hash_fn="spark" (default): token bits from F.xxhash64 — the fast
    JVM scale path, engine-specific values.
    hash_fn="md5" (witness mode): token bits from md5(token) — bits
    32..63 are the first 8 hex digits, bits 0..31 the next 8 — so a
    SQL oracle (DuckDB) can rebuild the identical signatures, chunk
    blocks, hamming distances, and final pair set at ANY scale (same
    pattern as similarity.rh_signature / textstats.fingerprint md5
    modes). Slower (string md5 per token), so not the default."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_tok"),
    )
    if hash_fn == "md5":
        hx = F.md5(F.encode(F.col("_tok"), "UTF-8"))
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        # Java << wraps, so bit 31 of hi lands on the sign bit — the
        # BIT PATTERN is exactly the 64 md5 bits, which is all the
        # vote/chunk/hamming machinery reads
        toks = toks.withColumn("_h", F.shiftleft(hi, 32).bitwiseOR(lo))
    elif hash_fn == "spark":
        toks = toks.withColumn("_h", F.xxhash64("_tok"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}: use 'spark' or 'md5'")
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b_{i}")
        for i in range(64)
    ]
    votes = toks.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig + F.when(F.col(f"b_{i}") > 0, F.lit(1).cast("long") * (2 ** i if i < 63 else -(2 ** 63))).otherwise(0)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def hamming_distance(a, b):
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    verify_jaccard: float | None = None, shingle_k: int = 5,
    hash_fn: str = "spark",
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole blocking: the 64-bit
    signature splits into (max_hamming + 1) chunks — a pair within the
    hamming bound MUST share at least one exact chunk, so blocking on
    chunks has perfect recall at the requested bound — then candidate
    pairs are verified with the exact hamming distance.

    The hamming bound is exact; its relation to JACCARD is
    probabilistic. MEASURED (round 6, tools/check_sf1_tiling.py over
    ten hash-perturbed 5k-doc corpora): at max_hamming=10 on 64 bits,
    2-4 true-J>=0.5 pairs per corpus sit close enough to the boundary
    that re-hashing flips them in or out — so the verify path's
    output contract is {hamming <= max_hamming} INTERSECT
    {jaccard >= verify_jaccard}, NOT the full J>=t pair set. Recall
    of planted near-dups stays pinned by the quantitative pytest
    (test_dedup_quality witness-margin tests). hash_fn="md5" makes the
    whole pipeline engine-agnostic so a SQL oracle can reproduce the
    contract exactly at any scale.

    Scale note: chunk width is 64//(max_hamming+1) bits, so small
    bounds block on wide (rare) chunks; at max_hamming=10 the 5-6-bit
    chunks have only 32-64 distinct values and candidate pairs grow
    ~n^2/2^width per chunk — prefer minhash LSH when a LOW similarity
    floor over a LARGE corpus is the goal. A pre-flight count-agg
    estimates the exact candidate volume and REFUSES above
    FT_SPARK_SIMHASH_MAX_CANDIDATES (default 2e9) rather than launch
    a silently quadratic join."""
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    base, extra = divmod(64, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    starts = [sum(widths[:i]) for i in range(n_chunks)]
    sig = simhash64(df, id_col, text_col, hash_fn=hash_fn)
    chunks = sig.select(
        id_col, "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk_idx"),
                    F.shiftrightunsigned(F.col("simhash"), starts[i])
                    .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("chunk"),
                )
                for i in range(n_chunks)
            ])
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk")
    # quadratic-degeneration guard (round 6): narrow chunks (small
    # widths at large max_hamming) put ~n/2^width docs in every
    # bucket, so the candidate join emits ~sum_buckets C(n_b, 2) rows
    # — at web scale that silently becomes all-pairs. Estimate the
    # exact candidate volume with one cheap count-agg over the chunk
    # table (distributive, map-side combined) and refuse with an
    # actionable message instead of launching an n^2 join. Override
    # with FT_SPARK_SIMHASH_MAX_CANDIDATES; minhash LSH (wide OR-ed
    # bands + hot-bucket cap) is the scale path for low thresholds.
    import os as _os
    from pyspark import StorageLevel

    cap = int(_os.environ.get("FT_SPARK_SIMHASH_MAX_CANDIDATES",
                              str(2_000_000_000)))
    # persist the chunk table: the guard's count-agg materializes it
    # once and the self-join below then reads the cache for BOTH
    # sides — previously the unpersisted self-join recomputed the
    # explode + 64-vote signature aggregation twice
    chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
    est = (
        chunks.groupBy("chunk_idx", "chunk").count()
        .select(F.sum(F.col("count") * (F.col("count") - 1) / 2)
                .alias("pairs"))
        .collect()[0]["pairs"]
    ) or 0
    if est > cap:
        chunks.unpersist()
        raise ValueError(
            f"simhash_near_duplicates: pigeonhole blocking at "
            f"max_hamming={max_hamming} ({n_chunks} chunks of "
            f"{min(widths)}-{max(widths)} bits) would generate "
            f"~{int(est):,} candidate pairs (> cap {cap:,}) — the "
            f"chunk buckets are too hot at this corpus size. Use a "
            f"smaller max_hamming (wider, rarer chunks), or "
            f"minhash_duplicates for low similarity floors at scale, "
            f"or raise FT_SPARK_SIMHASH_MAX_CANDIDATES explicitly."
        )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = hamming_distance(F.col("sh_a"), F.col("sh_b"))
    out = pairs.select("id_a", "id_b", dist.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    # materialize the (small: hamming-filtered, cap-guarded) pair set
    # now so the persisted chunk table can be RELEASED before
    # returning — previously the cache leaked on the success path and
    # repeated calls in a long session accumulated signature-table
    # blocks (ADVICE r6). localCheckpoint keeps the downstream plan
    # reading the materialized pairs, never the unpersisted chunks.
    out = out.localCheckpoint(eager=True)
    chunks.unpersist()
    if verify_jaccard is not None:
        # witness path: re-score the hamming-bounded candidates with
        # the exact shingle Jaccard — output (id_a, id_b, jaccard)
        # is engine-independent (the DuckDB oracle recomputes it from
        # raw text); the signature only gates which pairs are scored.
        # Blocking recall is exact for the HAMMING bound (pigeonhole);
        # whether every true J>=t pair clears that bound is a corpus
        # property (see docstring) — with hash_fn="md5" the oracle
        # reproduces the same gate, so the check is exact either way.
        return ngram_jaccard_pairs(
            df, id_col, text_col, k=shingle_k, threshold=verify_jaccard,
            candidates=out.select("id_a", "id_b"),
        )
    return out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5,
    threshold: float = 0.5, candidates: DataFrame | None = None,
    max_rows_all_pairs: int = 200_000,
) -> DataFrame:
    """Exact n-gram Jaccard between candidate pairs. If candidates is
    None, all pairs sharing at least one shingle-bucket are considered
    — an O(n^2/32) shape that is REFUSED above max_rows_all_pairs rows:
    at corpus scale always pass LSH candidates
    (lsh_candidate_pairs / simhash_near_duplicates)."""
    sh = df.select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
    if candidates is None:
        n = df.count()
        if n > max_rows_all_pairs:
            raise ValueError(
                f"ngram_jaccard_pairs without candidates is quadratic: "
                f"{n} rows > max_rows_all_pairs={max_rows_all_pairs}; "
                f"pass LSH candidate pairs instead"
            )
        bucket = sh.select(
            id_col, "sh",
            F.explode(F.transform("sh", lambda s: F.pmod(F.hash(s), F.lit(32)))).alias("b"),
        ).dropDuplicates([id_col, "b"])
        a, b = bucket.alias("a"), bucket.alias("b")
        candidates = (
            a.join(b, (F.col("a.b") == F.col("b.b"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "id_a", "id_b", (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    method: str = "lsh",
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    max_rows_exact: int = 50_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    id_a < id_b and cos >= threshold.

    method="lsh" (the scale path): random-hyperplane signatures
    (similarity.rh_signature — deterministic hash-derived planes, one
    JVM expression per table) bucket the corpus n_tables times; rows
    sharing any full signature in any table become candidates, then
    the exact JVM cosine (zip_with dot product) filters. High-cosine
    pairs collide with probability (1 - theta/pi)^n_planes per table
    — recall is tuned by n_tables, candidate volume by n_planes.
    Shuffle cost: one self-join per signature table on a LONG key,
    pairs deduped before the cosine re-rank.

    method="exact": all-pairs cosine — O(n^2), REFUSED above
    max_rows_exact rows; the correctness oracle for the LSH path.
    Numeric ids take a broadcast-matrix kernel: the corpus matrix is
    a spark broadcast and each mapInPandas batch computes its block
    of the cosine matrix with ONE BLAS matmul, emitting only pairs
    above threshold — ~50× faster than per-pair Catalyst
    higher-order-function folds (which are interpreted per element),
    with O(matches) output instead of an n² intermediate.
    """
    from featuretools_spark.ops.similarity import cosine, rh_signature

    base = df.select(F.col(id_col), F.col(vec_col))
    if method == "exact":
        id_type = base.schema[id_col].dataType.simpleString()
        if id_type in ("tinyint", "smallint", "int", "bigint",
                       "float", "double"):
            import numpy as np
            import pandas as pd

            # ONE bounded job instead of count-then-collect (two full
            # scans): limit(max+1) caps driver memory exactly like the
            # old count guard did, and len() supplies the refusal
            data = base.limit(max_rows_exact + 1).collect()
            n = len(data)
            if n > max_rows_exact:
                raise ValueError(
                    f"embedding_near_duplicates(method='exact') is "
                    f"quadratic: > max_rows_exact={max_rows_exact} rows; "
                    f"use method='lsh' at corpus scale"
                )
            ids_c = np.array([r[0] for r in data])
            M = np.stack([np.asarray(r[1], dtype=np.float64)
                          for r in data])
            nc = np.sqrt((M * M).sum(axis=1))
            bc = df.sparkSession.sparkContext.broadcast((ids_c, M, nc))
            out_schema = f"id_a {id_type}, id_b {id_type}, cos double"

            def block(batches):
                idc, Mc, ncs = bc.value
                for pdf in batches:
                    if not len(pdf):
                        continue
                    bid = pdf[id_col].to_numpy()
                    B = np.stack([np.asarray(v, dtype=np.float64)
                                  for v in pdf[vec_col]])
                    bn = np.sqrt((B * B).sum(axis=1))
                    with np.errstate(invalid="ignore", divide="ignore"):
                        S = (B @ Mc.T) / (bn[:, None] * ncs[None, :])
                    ii, jj = np.nonzero(
                        (S >= threshold) & (idc[None, :] > bid[:, None]))
                    yield pd.DataFrame({"id_a": bid[ii],
                                        "id_b": idc[jj],
                                        "cos": S[ii, jj]})

            # the corpus matrix fits one scan split (a small parquet
            # file), which would run the whole O(n^2) BLAS sweep as a
            # SINGLE task — spread the row blocks over the session's
            # cores so each task multiplies an (n/parts x d) block
            # (measured sf1: 40.8s -> ~3s at n=20k, local[32]). Each
            # row's dot products are identical regardless of which
            # block it lands in, so the pair set is unchanged.
            parts = min(
                base.sparkSession.sparkContext.defaultParallelism,
                max(1, -(-n // 256)),
            )
            return base.repartition(parts).mapInPandas(block, out_schema)
        # non-numeric ids: Catalyst pair path (general but slower) —
        # the quadratic refusal still needs a count here (no collect
        # happens on this path, so there is no bounded job to reuse)
        n = base.count()
        if n > max_rows_exact:
            raise ValueError(
                f"embedding_near_duplicates(method='exact') is quadratic: "
                f"{n} rows > max_rows_exact={max_rows_exact}; use "
                f"method='lsh' at corpus scale"
            )
        a, b = base.alias("a"), base.alias("b")
        pairs = a.join(
            b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cos"),
        )
        return pairs.filter(F.col("cos") >= threshold)

    if method != "lsh":
        raise ValueError(f"unknown method {method!r}: use 'lsh' or 'exact'")

    sig = base
    for t in range(n_tables):
        sig = rh_signature(sig, vec_col, n_planes, seed + 7919 * t) \
            .withColumnRenamed("rh_sig", f"__sig{t}")
    tabbed = sig.select(
        id_col, vec_col,
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("tbl"), F.col(f"__sig{t}").alias("sig"))
            for t in range(n_tables)
        ])).alias("ts"),
    ).select(id_col, vec_col, F.col("ts.tbl").alias("tbl"),
             F.col("ts.sig").alias("sig"))
    a, b = tabbed.alias("a"), tabbed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("__va"),
            F.col(f"b.{vec_col}").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    max_edges_driver: int = 2_000_000,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters: connected components
    over the pair graph, labeling every member with the MIN id in its
    component. Returns (id, cluster_id).

    Training-data pipelines need this step after any near-dup pass
    (minhash/simhash/embedding): pairs alone over-delete — A~B and
    B~C must collapse to ONE survivor for {A,B,C} even when A~C was
    never emitted as a pair.

    Algorithm: iterative min-label propagation in DataFrame ops —
    each round joins current labels across the symmetrized edge list
    and takes the min (one shuffle per round, map-side-combinable
    groupBy), then POINTER-JUMPS (adopts the current label OF its
    label), which shortcuts chains so rounds needed are
    O(log diameter) instead of O(diameter). Near-dup components are
    shallow anyway (stars around a template / chains of drafts);
    the jump makes even adversarial chains close in a few rounds.
    Every round eagerly localCheckpoints the label frame: plans stay
    O(1) deep instead of growing one join per iteration, and the
    fixpoint count that gates the loop pins what the next round
    reads. Raises after max_iter rounds without a fixpoint.

    Small-regime fast path: when the pair count is at most
    max_edges_driver, the pairs are pulled to the driver through
    Arrow and resolved with a path-compressed union-find —
    milliseconds instead of one Spark job per propagation round.
    The cluster map of a dedup pass is bounded by the number of
    DUPLICATE documents, typically orders of magnitude below corpus
    size, so this path covers most real runs; beyond the threshold
    the distributed loop takes over."""
    p0 = pairs.select(F.col(id_a).alias("src"),
                      F.col(id_b).alias("dst")).distinct() \
        .localCheckpoint(eager=True)
    n_pairs = p0.count()
    if n_pairs <= max_edges_driver:
        pdf = p0.toPandas()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:      # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN so the root IS the canonical label
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        members: dict = {}
        # .tolist() -> plain Python scalars (createDataFrame rejects
        # numpy types, and mixed numpy/python keys would double-count)
        for x in set(pdf["src"].tolist()) | set(pdf["dst"].tolist()):
            members[x] = find(x)
        id_type = pairs.schema[id_a].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            list(members.items()),
            f"id {id_type}, cluster_id {id_type}",
        )

    edges = (
        p0.union(p0.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # min label among neighbours, per node
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr, on="id", how="left")
            .select(
                "id",
                F.col("cluster_id").alias("__old"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        # pointer jump: my label is a node id in my component — adopt
        # ITS label too (labels only ever decrease, so this is safe
        # and halves remaining chain depth each round)
        jump = stepped.select(F.col("id").alias("cluster_id"),
                              F.col("cluster_id").alias("__jl"))
        new = (
            stepped.join(jump, on="cluster_id", how="left")
            .withColumn(
                "cluster_id",
                F.least(F.col("cluster_id"),
                        F.coalesce(F.col("__jl"), F.col("cluster_id"))),
            )
            .withColumn("__chg", F.col("cluster_id") < F.col("__old"))
            .select("id", "cluster_id", "__chg")
        )
        new = new.localCheckpoint(eager=True)
        changed = new.filter(F.col("__chg")).limit(1).count()
        labels = new.drop("__chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds — "
        "component diameter exceeds max_iter; raise max_iter"
    )


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except one canonical survivor per
    cluster (the min id). Rows never named in a pair pass through
    untouched — the join against the (small) cluster map is the only
    cost beyond the dedup pass that produced the pairs."""
    clusters = duplicate_clusters(pairs, id_a, id_b)
    return (
        df.join(clusters.withColumnRenamed("id", id_col),
                on=id_col, how="left")
        .filter(F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col(id_col)))
        .drop("cluster_id")
    )


def _gram_hasher(hash_fn: str):
    """k-gram hash expression factory. "md5" is the witness mode (any
    SQL engine recomputes the hex values verbatim — the DuckDB oracle
    does); "xxhash64" is the scale path (8-byte bigints through the
    shuffle instead of 32-char hex, ~4x less gram payload)."""
    if hash_fn == "md5":
        # unhex: ship 16-byte binary through the shuffle instead of
        # 32-char hex (2x less gram payload; bytewise ordering of the
        # binary equals lexicographic ordering of the lowercase hex,
        # so winnowing picks the SAME anchors the hex oracle does)
        return lambda c: F.unhex(F.md5(F.encode(c, "UTF-8"))), "binary"
    if hash_fn == "md5hex":
        # legacy r6 representation, kept ONLY for the recorded
        # before/after shuffle-payload comparison (tools/shuffle_bytes)
        return lambda c: F.md5(F.encode(c, "UTF-8")), "string"
    if hash_fn == "xxhash64":
        return lambda c: F.xxhash64(c), "bigint"
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _gram_hashes(t, k: int, hash_fn: str):
    """Array of hashes of ALL k-char grams of t (dense — winnowing
    selects which ones ship); empty array below k chars."""
    h, typ = _gram_hasher(hash_fn)
    n_g = F.length(t) - F.lit(k) + 1
    return F.when(
        F.length(t) < k, F.expr(f"CAST(array() AS array<{typ}>)")
    ).otherwise(F.transform(
        F.sequence(F.lit(0), n_g - 1),
        lambda i: h(F.substring(t, i + 1, k)),
    ))


def _winnow_anchors(gh, w: int):
    """Winnowed anchor positions (0-based gram starts) from a gram-
    hash array column: every window of w consecutive grams selects its
    min-hash position (leftmost on ties — matches SQL list_position
    first-occurrence), positions deduped.

    CONTENT-DEFINED sampling: the anchor decision inside a window
    depends only on the w + k - 1 chars under it, so two documents
    sharing a span select the SAME anchors in the span's interior
    regardless of the span's byte offset in each doc. Hard detection
    floor: any cross-doc span of length >= k + w - 1 contains at least
    one full window, hence at least one common anchored gram. (Round 6
    shipped STRIDED sampling here, whose floor claim was wrong: two
    copies of a span at offsets differing mod stride never sample the
    same gram — winnowing is the fix, same plan shape.)

    Docs with 1..w-1 grams anchor their single partial window, so
    every doc with >= 1 gram is represented.

    Plan shape: zip_with binds each window SLICE once, then
    array_min + array_position scan it — O(n x w) comparisons but
    only ONE array allocation per window and zero per-element struct
    allocations (the first r7 cut allocated a (hash, pos) struct per
    window element; measured 174s -> see BENCH gram-payload artifact).
    array_position's first-occurrence is the leftmost tie-break, same
    as SQL list_position."""
    n = F.size(gh)
    wlen = F.least(F.lit(w), n)
    starts = F.sequence(F.lit(0), n - wlen)
    return F.when(n <= 0, F.expr("CAST(array() AS array<int>)")).otherwise(
        F.array_distinct(F.zip_with(
            starts,
            F.transform(starts, lambda s: F.slice(gh, s + 1, wlen)),
            lambda s, sl: (
                s + F.array_position(sl, F.array_min(sl)) - 1
            ).cast("int"),
        ))
    )


def cross_doc_duplication(
    df: DataFrame, id_col: str, text_col: str, k: int = 20,
    w: int = 8, hash_fn: str = "md5",
) -> DataFrame:
    """Cross-document duplicated-span signal (the dataset-analysis
    counterpart of exact-substring dedup): per doc, the fraction of
    its winnowed k-char fingerprints that also occur in ANOTHER doc.

        n_spans      distinct anchored k-grams in the doc
        shared_frac  of those, fraction whose gram appears in >= 2
                     distinct docs

    Sampling is WINNOWED (_winnow_anchors): content-defined anchors,
    so any cross-doc span of length >= k + w - 1 is guaranteed to
    contribute at least one common anchored gram to both docs —
    regardless of where the span sits in each doc. (Replaces round
    6's strided sampling, which silently missed spans at offsets
    differing mod stride.) Per-doc grams are DISTINCT so internal
    repetition doesn't count as cross-doc duplication.

    Scale: the explode ships only (id, hash) for ~1/w of positions;
    doc-frequency is a map-side-combinable count-distinct-docs per
    gram; the join back redistributes only gram rows. Linear in
    corpus size, no quadratic pair stage. hash_fn="xxhash64" swaps
    the 32-char hex grams for bigints at scale (4x less shuffle);
    "md5" is the oracle-checkable witness mode."""
    from featuretools_spark.ops.width import ensure_min_width

    t = F.lower(F.col(text_col))
    hashed = ensure_min_width(df.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col), _gram_hashes(t, k, hash_fn).alias("_gh"))
    grams = hashed.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.transform(
            _winnow_anchors(F.col("_gh"), w),
            lambda p: F.element_at(F.col("_gh"), p + 1),
        ))).alias("_g"),
    )
    # doc-frequency via a window over the gram key instead of a
    # groupBy + join-back: the (id, gram) rows are DISTINCT per doc
    # (array_distinct above), so count(*) over the gram partition IS
    # countDistinct(doc). The join formulation evaluated the whole
    # gram+winnow subtree TWICE (the aggregate side and the join side
    # have different shapes, so no exchange reuse) and shuffled the
    # gram rows twice; the window shape hashes them ONCE and reads
    # the per-gram count off the sorted partition (guide §2.4).
    # Window groups buffer one gram's rows and spill when degenerate
    # boilerplate grams get hot — same skew exposure the join-back's
    # gram-side shuffle had.
    per_doc = (
        grams.withColumn(
            "_df", F.count(F.lit(1)).over(W.partitionBy("_g")))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0)).alias("_s"),
        )
    )
    out = df.select(id_col).join(per_doc, id_col, "left")
    n = F.coalesce(F.col("_n"), F.lit(0))
    r4 = lambda x: F.floor(x.cast("double") * 10000.0 + F.lit(0.5))  # noqa: E731
    return out.select(
        F.col(id_col),
        n.cast("long").alias("n_spans"),
        (r4(F.when(n > 0, F.col("_s") / n).otherwise(F.lit(0.0)))
         .cast("double") / 10000.0).alias("shared_frac"),
    )


def trim_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 20,
    w: int = 8, min_df: int = 2, hash_fn: str = "md5",
) -> DataFrame:
    """Exact-substring span REMOVAL — the curation ACTION behind the
    cross_doc_duplication signal (Lee-et-al.-style dedup-by-substring,
    re-expressed with winnowed fingerprints so a SQL oracle reproduces
    it): spans whose anchored k-char fingerprint occurs in >= min_df
    distinct documents are cut out of the text.

        1. per doc, hashes of ALL k-char grams (RAW text — positions
           must align with the surgery, so no case folding here),
           winnowed to content-defined anchors (_winnow_anchors:
           common spans >= k + w - 1 chars anchor identically in
           every doc holding them)
        2. gram doc-frequency (countDistinct doc) — internal repeats
           alone never mark a span
        3. a doc's anchor positions whose gram has df >= min_df
           become intervals [p, p+k), merged when overlapping or
           adjacent (one array_sort + one fold)
        4. one fold over the merged intervals rebuilds the text from
           the kept segments (single substring-surgery pass)

    Removal is ANCHOR-scoped: exactly the anchored [p, p+k) windows
    (merged) are cut, not the maximal shared extent — deterministic,
    order-free, and identical on every doc holding the span (interior
    anchors coincide; each doc's boundary anchors may differ by up to
    w - 1 grams).

    Returns df with `text_col` REPLACED by the trimmed text (so the op
    composes with keep_canonical / decontaminate as a pipeline stage)
    plus `n_dup_spans` (merged intervals removed) and `chars_removed`.

    Scale: the explode ships (id, hash) for ~1/w of positions;
    doc-frequency is a map-side-combinable agg; anchor positions
    regroup by doc id (bounded by doc_len/w per doc); the folds are
    per-row JVM expressions. Linear, no pair stage. hash_fn="xxhash64"
    is the bigint scale path; "md5" the oracle witness. Reference
    analog: none (featuretools has no text surface); this is the
    LLM-pipeline tier."""
    from featuretools_spark.ops.width import ensure_min_width

    t = F.col(text_col)
    hashed = ensure_min_width(df.select(F.col(id_col), F.col(text_col))) \
        .select(
            F.col(id_col).alias("_id"),
            _gram_hashes(t, k, hash_fn).alias("_gh"))
    pg = hashed.select(
        "_id",
        F.explode(F.transform(
            _winnow_anchors(F.col("_gh"), w),
            lambda p: F.struct(
                p.alias("p"),
                F.element_at(F.col("_gh"), p + 1).alias("g")),
        )).alias("_pg"),
    ).select("_id", F.col("_pg.p").alias("_p"), F.col("_pg.g").alias("_g"))
    # doc-frequency + position filter in ONE pass over the anchored
    # grams: the old distinct -> groupBy -> join-back shape evaluated
    # the gram+winnow subtree TWICE (no exchange reuse between the
    # aggregate and join sides) and shuffled the gram rows three
    # times. Both window functions partition by the gram key, so one
    # exchange + one sort (_g, _id, _p) serves them: `_first` marks
    # the first row of each (_g, _id) run, its per-gram sum is
    # exactly countDistinct(_id), and the filter keeps the same rows
    # the inner join against the min_df gram set kept. Window groups
    # buffer one gram's rows and spill when a gram is degenerate-hot
    # — the same skew exposure the join-back shuffle had.
    wg_ord = W.partitionBy("_g").orderBy("_id", "_p")
    wg = W.partitionBy("_g")
    pos = (
        pg.withColumn(
            "_first",
            F.coalesce(F.lag("_id").over(wg_ord) != F.col("_id"),
                       F.lit(True)))
        .withColumn(
            "_df", F.sum(F.when(F.col("_first"), 1).otherwise(0)).over(wg))
        .filter(F.col("_df") >= min_df)
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("_p")).alias("_ps"))
    )

    def _merge(acc, p):
        last = F.element_at(acc, -1)
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(
                last["s"].alias("s"),
                F.greatest(last["e"], p + F.lit(k)).alias("e"))),
        )
        appended = F.concat(acc, F.array(F.struct(
            p.alias("s"), (p + F.lit(k)).alias("e"))))
        return F.when(
            (F.size(acc) > 0) & (last["e"] >= p), extended
        ).otherwise(appended)

    ivs = F.aggregate(
        F.coalesce(
            F.col("_ps"), F.expr("CAST(array() AS array<int>)")),
        F.expr("CAST(array() AS array<struct<s:int,e:int>>)"),
        _merge,
    )
    # widen the surgery side as well: if `pos` broadcasts, the fold
    # below would otherwise run at the raw scan's (narrow) width
    joined = ensure_min_width(df).join(
        pos.withColumnRenamed("_id", id_col), id_col, "left"
    ).withColumn("_ivs", ivs).drop("_ps")
    trimmed = F.aggregate(
        F.col("_ivs"),
        F.struct(F.lit(0).alias("cur"), F.lit("").alias("acc")),
        lambda st, iv: F.struct(
            iv["e"].alias("cur"),
            F.concat(
                st["acc"],
                F.substring(t, st["cur"] + 1, iv["s"] - st["cur"]),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"],
            F.substring(t, st["cur"] + 1, F.length(t) - st["cur"])),
    )
    removed = F.aggregate(
        F.col("_ivs"), F.lit(0),
        lambda a, iv: a + (iv["e"] - iv["s"]))
    out_cols = [
        trimmed.alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return joined.select(
        *out_cols,
        F.size("_ivs").cast("long").alias("n_dup_spans"),
        removed.cast("long").alias("chars_removed"),
    )
