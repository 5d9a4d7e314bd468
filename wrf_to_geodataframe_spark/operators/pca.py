"""Distributed PCA over an embedding column — the whitening /
dimensionality-reduction step in front of the similarity-search and
semantic-dedup operators (suite/pipeline.py sim_* / dedup_semantic):
SemDeDup-style pipelines PCA-reduce before clustering, and ANN recall
improves when the index is built in the decorrelated basis.

Shape: the ONLY distributed work is one pass computing per-partition
partial (count, sum, Gram) statistics in exact integer arithmetic
(values quantized to ``floor(v * 2^20)`` — dyadic, so dequantization is
exact in binary — partial sums are BIGINT, overflow-safe to ~10^12 rows
at unit-norm 64-dim inputs); partials are P x (d + d^2 + 1) numbers, a
bounded O(1)-control-state collect.  The d x d eigendecomposition runs
on the driver (numpy ``eigh`` on the symmetric covariance — d is
64-ish, never data-sized), components broadcast back, and the
projection is a zero-shuffle Arrow map.  Integer partials add exactly
in ANY order, so the fit is BIT-DETERMINISTIC across runs and cluster
layouts — same discipline as the suite's quantized aggregates.
"""

from __future__ import annotations

import numpy as np

_QBITS = 20
_Q = float(1 << _QBITS)  # dyadic quantization: /2^20 is exact in binary


def fit_pca(spark, df, col: str = "embedding"):
    """Fit PCA on ``df[col]`` (array<float|double>, fixed dimension).
    Returns ``(mean, components, eigvals)`` — components as rows,
    eigenvalue-descending; eigvals are the covariance eigenvalues
    (population, divide-by-n)."""
    import pandas as pd

    def _partials(it):
        for pdf in it:
            vecs = np.stack(
                [np.asarray(v, "float64") for v in pdf[col]]
            )
            q = np.floor(vecs * _Q).astype("int64")
            g = q.T @ q  # exact: int64 dot products
            s = q.sum(axis=0)
            d = q.shape[1]
            yield pd.DataFrame(
                {
                    "n": [int(len(q))],
                    "s": [s.tolist()],
                    "g": [g.reshape(d * d).tolist()],
                }
            )

    parts = (
        df.select(col)
        .mapInPandas(
            _partials, "n long, s array<long>, g array<long>"
        )
        .collect()
    )
    if not parts:
        raise ValueError("fit_pca: empty input")
    d = int(np.sqrt(len(parts[0]["g"])))
    n = 0
    s = np.zeros(d, dtype=object)  # python ints: no silent overflow
    g = np.zeros((d, d), dtype=object)
    # integer partials: addition is exact and order-free, so no
    # partition-order sorting is needed for determinism
    for row in parts:
        n += row["n"]
        s = s + np.asarray(row["s"], dtype=object)
        g = g + np.asarray(row["g"], dtype=object).reshape(d, d)
    s_f = s.astype("float64") / _Q
    g_f = g.astype("float64") / (_Q * _Q)
    mean = s_f / n
    cov = g_f / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(eigvals)[::-1]
    return mean, eigvecs[:, order].T.copy(), eigvals[order].copy()


def project_pca(
    spark, df, mean, components, k: int, col: str = "embedding",
    out_col: str = "pca",
):
    """Append ``out_col`` = the first ``k`` principal coordinates of
    ``col``.  Zero shuffles — a pure Arrow map over the existing
    partitioning; mean/components ride a broadcast."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    comp = components[:k]
    b = spark.sparkContext.broadcast(
        (np.asarray(mean, "float64"), np.asarray(comp, "float64"))
    )
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )
    cols = df.columns

    def _run(it):
        mu, c = b.value
        for pdf in it:
            vecs = np.stack(
                [np.asarray(v, "float64") for v in pdf[col]]
            )
            proj = (vecs - mu) @ c.T
            out = pdf.copy()
            out[out_col] = list(proj)
            yield out[cols + [out_col]]

    return df.mapInPandas(_run, schema)
