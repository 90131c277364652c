"""Distributed embedding linear algebra: moments, PCA, whitening-style
projection. Beyond-reference pipeline surface — the preprocessing every
embedding-heavy curation step (SemDeDup clustering, ANN index builds,
outlier filtering) runs before touching the vectors.

Scale design (100 TB): the corpus-wide second moments reduce through an
AUGMENTED MOMENT MATRIX — each partition emits ONE (d+1)x(d+1) numpy
matrix M_p = Σ [x;1][x;1]^T over its rows (``mapInPandas``, so the hot
loop is one BLAS gemm per Arrow batch), and the driver adds the
partition partials: count, mean and covariance all read off the single
reduced matrix. No shuffle at all — the reduction is the narrow
``collect`` of #partitions small matrices (a 64-dim corpus is 33 KB per
partition regardless of row count). The eigendecomposition is a d x d
driver-side ``numpy.linalg.eigh`` (d is the embedding width — always
driver-sized); the resulting components ride the projection expression
as literals, so projecting the corpus is a pure whole-stage-codegen
scan (zip_with/aggregate dot products), no Python, no shuffle, no
broadcast table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c(col):
    return F.col(col) if isinstance(col, str) else col


def embedding_moments(df: DataFrame, vec_col: str = "embedding",
                      dim: int | None = None):
    """(n, mean, cov): exact corpus count, mean vector and SAMPLE
    covariance matrix (ddof=1) of ``vec_col``, reduced via per-partition
    augmented moment matrices (module docstring). Rows with null or
    wrong-width vectors are skipped. Returns numpy arrays."""
    if dim is None:
        probe = df.select(F.size(_c(vec_col)).alias("d")) \
            .where(F.col("d") > 0).limit(1).collect()
        if not probe:
            raise ValueError("no non-empty vectors to infer dim from")
        dim = int(probe[0]["d"])
    d1 = dim + 1

    def partials(batches):
        import pandas as pd
        from pyspark import TaskContext
        m = np.zeros((d1, d1), dtype=np.float64)
        for pdf in batches:
            col = [v for v in pdf[vec_col]
                   if v is not None and len(v) == dim]
            if col:
                x = np.asarray([np.asarray(v, dtype=np.float64)
                                for v in col])
                aug = np.hstack([x, np.ones((len(x), 1))])
                m += aug.T @ aug
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame({"pid": [pid], "m": [m.ravel().tolist()]})

    rows = df.select(vec_col).mapInPandas(
        partials, schema="pid int, m array<double>").collect()
    m = np.zeros((d1, d1), dtype=np.float64)
    # add partials in partition order: reruns over the same partitioning
    # are bit-identical (float addition order pinned); a different
    # partitioning can differ by normal float-summation noise, like any
    # distributed float reduction
    for r in sorted(rows, key=lambda r: r["pid"]):
        m += np.asarray(r["m"], dtype=np.float64).reshape(d1, d1)
    n = m[dim, dim]
    if n < 2:
        raise ValueError("need at least 2 vectors for covariance")
    mean = m[:dim, dim] / n
    cov = (m[:dim, :dim] - n * np.outer(mean, mean)) / (n - 1.0)
    return int(n), mean, cov


def pca(df: DataFrame, vec_col: str = "embedding", k: int = 2,
        dim: int | None = None):
    """Principal components of the corpus: returns
    (mean, components, eigenvalues, explained_ratio) — components is a
    (k, d) array of unit vectors, eigenvalues the top-k sample
    variances along them, in decreasing order. Deterministic sign
    convention: each component's largest-magnitude entry is positive
    (first index on magnitude ties), so results do not depend on LAPACK
    sign choices."""
    n, mean, cov = embedding_moments(df, vec_col, dim)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    vals = vals[order]
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(np.trace(cov))
    ratio = vals / total if total > 0 else np.zeros_like(vals)
    return mean, comps, vals, ratio


def project(df: DataFrame, mean, components, vec_col: str = "embedding",
            out_col: str = "pc", method: str = "arrow") -> DataFrame:
    """Add ``out_col`` = array<double> of PCA scores
    ``components @ (x - mean)``. Zero shuffle either way; two
    execution strategies:

    - ``method='arrow'`` (default): ONE vectorized pandas UDF — each
      Arrow batch is a single BLAS gemm ``(X - mean) @ C.T``. Spark's
      array HOFs do not participate in whole-stage codegen (they are
      interpreted), so for k x d literal dot products the Arrow gemm
      is the fast path at every scale (r8: the k=64, d=64 gate spent
      ~5.5 s/pass analyzing + interpreting a 4096-literal expression
      tree over 2000 rows; the gemm is <0.5 s). Gemm pairwise
      summation differs from the fold's sequential order by ~1e-15
      relative — callers that compare against an exact replay should
      round (the gates round to 4).
    - ``method='native'``: mean and components ride the plan as
      literals and the projection is pure zip_with/aggregate
      expressions — zero Python processes, SQL-replayable shape.
    """
    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)
    if method == "arrow":
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<double>")
        def _proj(col: pd.Series) -> pd.Series:
            x = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in col])
            if len(x) == 0:
                return pd.Series([], dtype=object)
            s = (x - mean) @ comps.T
            return pd.Series(list(s))

        return df.withColumn(out_col, _proj(_c(vec_col)))
    centered = F.zip_with(
        _c(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(v)) for v in mean]),
        lambda a, b: a - b)

    def dot(comp):
        return F.aggregate(
            F.zip_with(F.col("__ctr"),
                       F.array(*[F.lit(float(v)) for v in comp]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)

    return (df.withColumn("__ctr", centered)
            .withColumn(out_col, F.array(*[dot(c) for c in comps]))
            .drop("__ctr"))


def dimension_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension corpus statistics as a DataFrame — the
    SQL-checkable face of the moment computation: (dim, n, mean, var)
    with 1-based dims. Sums run in exact DECIMAL over inputs rounded to
    6 decimals, so the result is bit-identical under any partitioning
    or aggregation order (the same order-independence trick as the
    TPC-H money sums). One posexplode + one groupBy shuffle."""
    # decimal(18,8) holds round(x,6) exactly; products stay inside the
    # 38-digit exact range ((18,8)^2 -> (37,16)), so both sums are
    # EXACT decimals. All divisions happen after casting the exact sums
    # to double, so both engines run the identical IEEE ops.
    x = F.round(F.col("__v").cast("double"), 6).cast("decimal(18,8)")
    ex = df.select(F.posexplode(_c(vec_col)).alias("__d", "__v")) \
        .select((F.col("__d") + 1).cast("long").alias("dim"), x.alias("x"))
    agg = (ex.groupBy("dim")
           .agg(F.count("*").alias("n"),
                F.sum("x").alias("s1"),
                F.sum(F.col("x") * F.col("x")).alias("s2")))
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    nn = F.col("n").cast("double")
    return agg.select(
        "dim", "n",
        (s1 / nn).alias("mean"),
        ((s2 - s1 * s1 / nn) / (nn - 1)).alias("var"))
