"""encode_features + feature-selection post-ops.

Reference: synthesis/encode_features.py:13-194 (one-hot top-n
categories + unknown bucket) and selection/selection.py:5-140
(remove_low_information / highly_null / single_value /
highly_correlated). All pure DataFrame ops: category frequencies are
ONE groupBy per column (top-n via count + row_number window), the
one-hot expansion is F.when columns (no pivot shuffle), and the
selection stats run in ONE aggregate pass over the matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _qcol(name: str):
    return F.col(f"`{name}`")


def encode_features(
    feature_matrix: DataFrame,
    features: list[str] | None = None,
    top_n: int = 10,
    include_unknown: bool = True,
    drop_first: bool = False,
) -> DataFrame:
    """One-hot encode categorical (string) columns into
    `col = value` 0/1 columns for the top_n most frequent values
    (ties: smaller value first), plus `col is unknown`."""
    if features is None:
        features = [
            f.name for f in feature_matrix.schema.fields
            if f.dataType.typeName() == "string"
        ]
    out = feature_matrix
    for col in features:
        counts = (
            feature_matrix.filter(_qcol(col).isNotNull())
            .groupBy(_qcol(col).alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = W.partitionBy().orderBy(F.desc("_c"), F.asc("_v"))
        top = [
            r["_v"]
            for r in counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_n)
            .collect()
        ]
        if drop_first:
            top = top[1:]
        for v in top:
            out = out.withColumn(
                f"{col} = {v}", (_qcol(col) == v).cast("int")
            )
        if include_unknown:
            out = out.withColumn(
                f"{col} is unknown",
                (~_qcol(col).isin(top) | _qcol(col).isNull()).cast("int"),
            )
        out = out.drop(col)
    return out


def _numeric_cols(df: DataFrame, exclude: set | None = None) -> list[str]:
    exclude = exclude or set()
    num = ("byte", "short", "integer", "long", "float", "double", "decimal")
    return [
        f.name for f in df.schema.fields
        if f.dataType.typeName() in num and f.name not in exclude
    ]


def remove_highly_null_features(
    feature_matrix: DataFrame, pct_null_threshold: float = 0.95,
    keys: list[str] | None = None,
) -> DataFrame:
    """Drop columns whose null fraction >= threshold (reference
    selection.py:31). One aggregate pass for every column."""
    keys = set(keys or [])
    cols = [c for c in feature_matrix.columns if c not in keys]
    stats = feature_matrix.agg(
        *[
            (F.count(F.when(_qcol(c).isNull(), 1)) / F.count(F.lit(1))).alias(c)
            for c in cols
        ]
    ).collect()[0]
    drop = [c for c in cols if (stats[c] or 0.0) >= pct_null_threshold]
    return feature_matrix.drop(*drop)


def remove_single_value_features(
    feature_matrix: DataFrame, count_nan_as_value: bool = False,
    keys: list[str] | None = None,
) -> DataFrame:
    """Drop columns with <= 1 distinct value (reference selection.py:70)."""
    keys = set(keys or [])
    cols = [c for c in feature_matrix.columns if c not in keys]
    aggs = []
    for c in cols:
        d = F.count_distinct(_qcol(c))
        if count_nan_as_value:
            d = d + F.max(F.when(_qcol(c).isNull(), 1).otherwise(0))
        aggs.append(d.alias(c))
    stats = feature_matrix.agg(*aggs).collect()[0]
    drop = [c for c in cols if (stats[c] or 0) <= 1]
    return feature_matrix.drop(*drop)


def remove_low_information_features(
    feature_matrix: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Drop columns that are all-null or single-valued (reference
    selection.py:5 combines both conditions)."""
    keys = set(keys or [])
    cols = [c for c in feature_matrix.columns if c not in keys]
    stats = feature_matrix.agg(
        *(
            [F.count_distinct(_qcol(c)).alias(f"d_{i}") for i, c in enumerate(cols)]
            + [F.count(_qcol(c)).alias(f"n_{i}") for i, c in enumerate(cols)]
        )
    ).collect()[0]
    drop = [
        c for i, c in enumerate(cols)
        if (stats[f"d_{i}"] or 0) <= 1 or (stats[f"n_{i}"] or 0) == 0
    ]
    return feature_matrix.drop(*drop)


#: widest matrix the pairwise plan handles comfortably. MEASURED
#: (BENCH/corr_width_r6.json, 100k rows, local[32], 8g heap): gram
#: beats pairwise already at 16 columns (6.4s vs 11.1s) and pairwise
#: OOMs by 64 columns — each pair needs ~6 non-dedupable moment
#: aggregate buffers (pair-masked, so Catalyst cannot share them
#: across pairs), and n(n-1)/2 pairs x 6 explodes the hash-agg state
#: quadratically in width. auto therefore flips to gram early;
#: pairwise stays available as the no-Python-worker fallback.
_CORR_PAIRWISE_MAX = 16
#: driver/task guard for the Gram path: partials are 4 * p^2 doubles
_CORR_GRAM_MAX_COLS = 4096


def remove_highly_correlated_features(
    feature_matrix: DataFrame, pct_corr_threshold: float = 0.95,
    keys: list[str] | None = None, method: str = "auto",
) -> DataFrame:
    """Drop the LATER column of each numeric pair with
    |corr| >= threshold (reference selection.py:102 keeps the earlier
    feature).

    method: "pairwise" | "gram" | "auto".
    - pairwise: n(n-1)/2 F.corr expressions in one aggregate pass —
      optimal for narrow matrices, quadratic PLAN size in width.
    - gram: ONE mapInArrow pass computes four p x p GEMM partials per
      partition (pair-valid counts V'V, masked sums Xf'V, masked
      square sums (Xf^2)'V, cross products Xf'Xf — Xf is the matrix
      with nulls zero-filled, V the validity indicator, so every
      pairwise-complete Pearson term is a matrix product, same
      design as Spark MLlib's RowMatrix.computeCovariance), partials
      tree-reduce to the driver, and the p x p correlation matrix
      falls out in closed form. Plan size is O(1) in width; work per
      partition is 4 BLAS GEMMs. Pairwise-complete null semantics
      match F.corr's pair-row filtering.
    - auto: pairwise up to _CORR_PAIRWISE_MAX columns, gram above.
    """
    keys = set(keys or [])
    cols = _numeric_cols(feature_matrix, exclude=keys)
    if len(cols) < 2:
        return feature_matrix
    if method == "auto":
        method = "pairwise" if len(cols) <= _CORR_PAIRWISE_MAX else "gram"
    if method == "gram":
        corr = _corr_matrix_gram(feature_matrix, cols)
        drop = set()
        for i in range(len(cols)):
            if cols[i] in drop:
                continue
            for j in range(i + 1, len(cols)):
                if cols[j] in drop:
                    continue
                c = corr[i, j]
                if c == c and abs(c) != float("inf") \
                        and abs(c) >= pct_corr_threshold:
                    drop.add(cols[j])
        return feature_matrix.drop(*drop)
    if method != "pairwise":
        raise ValueError(f"unknown corr method {method!r}: "
                         "use 'pairwise', 'gram', or 'auto'")
    pairs = [
        (i, j) for i in range(len(cols)) for j in range(i + 1, len(cols))
    ]
    aggs = [
        _pair_corr_expr(_qcol(cols[i]).cast("double"),
                        _qcol(cols[j]).cast("double"))
        .alias(f"c_{i}_{j}")
        for i, j in pairs
    ]
    stats = feature_matrix.agg(*aggs).collect()[0]
    drop = set()
    for i, j in pairs:
        if cols[i] in drop or cols[j] in drop:
            continue
        c = stats[f"c_{i}_{j}"]
        # None (no variance / no complete rows) and NaN both mean
        # "no usable correlation": never a drop
        if c is not None and c == c and abs(c) >= pct_corr_threshold:
            drop.add(cols[j])
    return feature_matrix.drop(*drop)


def _pair_corr_expr(x, y):
    """Pairwise-complete Pearson correlation as ONE aggregate column.
    Not F.corr: under Spark 4's default ANSI mode F.corr raises
    DIVIDE_BY_ZERO when a pair has no variance (any constant column
    crashes the whole selection pass); these moment expressions give
    NULL there instead — the same contract as DuckDB/pandas corr.
    Catalyst dedups the repeated per-column moments across pairs."""
    both = x.isNotNull() & y.isNotNull()
    xm, ym = F.when(both, x), F.when(both, y)
    n = F.count(xm).cast("double")
    sx, sy = F.sum(xm), F.sum(ym)
    cov = F.sum(xm * ym) - sx * sy / n
    vx = F.greatest(F.sum(xm * xm) - sx * sx / n, F.lit(0.0))
    vy = F.greatest(F.sum(ym * ym) - sy * sy / n, F.lit(0.0))
    return F.try_divide(cov, F.sqrt(vx * vy))


def _corr_matrix_gram(df: DataFrame, cols: list[str]):
    """Pairwise-complete Pearson correlation matrix for `cols` in one
    distributed pass; returns a p x p numpy array (NaN where a pair
    has no variance or no complete rows).

    Partials per Arrow batch (accumulated per partition, X the
    batch as a rows x p float64 block, V = ~isnan(X), Xf = X with
    NaN->0):
        N  = V'V    pair-complete row counts
        A  = Xf'V   A[i,j] = sum of x_i over rows where BOTH valid
        B  = (Xf*Xf)'V
        C  = Xf'Xf  cross products (zero rows drop out by masking)
    Then corr(i,j) = (C - A*A.T/N) / sqrt((B - A^2/N)(B' - A'^2/N)).
    One 4p^2-double blob per partition tree-reduces to the driver —
    bounded by partition count and width, never by row count."""
    import numpy as np
    from pyspark.sql import types as T

    p = len(cols)
    if p > _CORR_GRAM_MAX_COLS:
        raise ValueError(
            f"gram corr on {p} columns needs {4 * p * p * 8 >> 20} MiB "
            f"of partial state per task (cap {_CORR_GRAM_MAX_COLS} "
            "columns); partition the feature set or raise the cap")
    src = df.select(*[_qcol(c).cast("double").alias(f"x{i}")
                      for i, c in enumerate(cols)])

    def part_stats(batches):
        acc = np.zeros((4, p, p))
        seen = False
        for b in batches:
            X = np.column_stack([
                b.column(i).to_numpy(zero_copy_only=False)
                for i in range(p)
            ]).astype(np.float64, copy=False)
            nan = np.isnan(X)
            if not nan.any():
                # all-valid fast path (the common case): V is all-ones,
                # so V'V = n, Xf'V and (Xf²)'V are rank-1 column sums —
                # ONE real GEMM instead of four plus two masked copies
                acc[0] += X.shape[0]
                acc[1] += X.sum(axis=0)[:, None]
                acc[2] += (X * X).sum(axis=0)[:, None]
                acc[3] += X.T @ X
            else:
                V = (~nan).astype(np.float64)
                Xf = np.where(nan, 0.0, X)
                acc[0] += V.T @ V
                acc[1] += Xf.T @ V
                acc[2] += (Xf * Xf).T @ V
                acc[3] += Xf.T @ Xf
            seen = True
        if seen:
            import pyarrow as pa
            yield pa.record_batch(
                [pa.array([acc.tobytes()], type=pa.binary())], ["partial"]
            )

    partials = src.mapInArrow(
        part_stats, schema=T.StructType(
            [T.StructField("partial", T.BinaryType())])
    )
    try:
        total = (
            partials.rdd
            .map(lambda r: np.frombuffer(r["partial"]).reshape(4, p, p))
            .treeReduce(lambda a, b: a + b, depth=2)
        )
    except ValueError:   # empty input: no partition yielded a partial
        return np.full((p, p), np.nan)
    N, A, B, C = total
    with np.errstate(invalid="ignore", divide="ignore"):
        cov = C - A * A.T / N
        # clamp the cancellation-prone B - A^2/N form at 0 (the
        # pairwise path's F.greatest(..., 0.0)): a near-constant
        # column can otherwise yield a tiny spurious variance and
        # |corr| > 1 garbage that crosses the drop threshold
        varx = np.maximum(B - A * A / N, 0.0)
        corr = cov / np.sqrt(varx * varx.T)
        corr[np.abs(corr) > 1.0 + 1e-9] = np.nan
    return corr
