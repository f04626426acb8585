"""Distributed PCA over an embedding column (LLM-pipeline tier, L3/V).

The decomposition splits by data size, the way large-scale PCA actually
runs (e.g. Spark MLlib's RowMatrix.computePrincipalComponents and the
sketch-free path of Halko et al.'s randomized SVD baseline):

- The d×d GRAM MATRIX is the only corpus-sized computation. Each Arrow
  batch contributes one BLAS ``X.T @ X`` (plus column sums and a count);
  partials are flattened to (pos, val) and reduced with a map-side-combined
  ``groupBy(pos).sum`` — shuffle volume is ``#partitions × (d² + d + 1)``
  rows of 8 bytes, independent of row count. At d=1024 that is 8 MB per
  partition; the corpus is read exactly once.
- The d×d EIGENDECOMPOSITION is O(d³) driver-side numpy — microseconds for
  embedding-sized d, and the only part that doesn't distribute (it doesn't
  need to: d² doubles fit in L2 cache long before 100 TB of rows matter).
- PROJECTION closes over the k×d component matrix and applies it with one
  BLAS matmul per Arrow batch (``mapInPandas``).

Sign convention: each component is flipped so its largest-|coefficient|
entry is positive — eigenvectors are sign-ambiguous and LAPACK's choice is
build-dependent, so determinism has to be imposed.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PCAModel:
    components: np.ndarray  # (k, d) row-orthonormal
    explained_variance: np.ndarray  # (k,) eigenvalues of the covariance
    explained_variance_ratio: np.ndarray  # (k,)
    mean: np.ndarray  # (d,) column means used for centering
    n_rows: int
    total_variance: float = 0.0  # trace of the covariance (sum of ALL eigenvalues)


def _gram_partials(embedding_col: str, d: int):
    n_flat = d * d + d + 1  # gram + colsum + count

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(n_flat)
        seen = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            seen = True
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[embedding_col]])
            acc[: d * d] += (m.T @ m).ravel()
            acc[d * d : d * d + d] += m.sum(axis=0)
            acc[-1] += len(m)
        if seen:
            yield pd.DataFrame({"pos": np.arange(n_flat), "val": acc})

    return batches


def pca_fit(df: DataFrame, embedding_col: str, k: int, dim: int | None = None) -> PCAModel:
    """Fit PCA on ``df[embedding_col]`` (array<float/double>, fixed dim).

    One corpus pass (see module docstring); ``dim`` is probed from the
    first row when not given (a 1-row driver lookup, not a scan).
    """
    if dim is None:
        first = df.select(F.size(embedding_col).alias("d")).limit(1).collect()
        if not first:
            raise ValueError("pca_fit on an empty DataFrame")
        dim = first[0]["d"]
    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")

    partials = df.select(embedding_col).mapInPandas(
        _gram_partials(embedding_col, dim), schema="pos long, val double"
    )
    flat_rows = partials.groupBy("pos").agg(F.sum("val").alias("val")).collect()
    flat = np.zeros(dim * dim + dim + 1)
    for r in flat_rows:
        flat[r["pos"]] = r["val"]
    n = int(flat[-1])
    if n < 2:
        raise ValueError(f"pca_fit needs >= 2 rows, got {n}")
    gram = flat[: dim * dim].reshape(dim, dim)
    mean = flat[dim * dim : dim * dim + dim] / n
    # covariance from the uncentered gram: (X'X - n·μμ') / (n-1)
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, order].T  # (k, d)
    # deterministic sign: largest-|coeff| entry positive per component
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ev = eigvals[order]
    total_var = float(np.trace(cov))
    return PCAModel(
        components=comps,
        explained_variance=ev,
        explained_variance_ratio=ev / total_var if total_var > 0 else np.zeros(k),
        mean=mean,
        n_rows=n,
        total_variance=total_var,
    )


def pca_project(
    df: DataFrame, embedding_col: str, model: PCAModel, out_col: str = "pca"
) -> DataFrame:
    """Append ``out_col`` = components @ (v - mean): Arrow-batched BLAS,
    matrix closure-shipped once per executor (same path as the other
    vector transforms)."""
    comps = np.ascontiguousarray(model.components, dtype=np.float64)
    mean = np.ascontiguousarray(model.mean, dtype=np.float64)
    fields = df.schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + [f"`{out_col}` array<double>"]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[embedding_col]])
            proj = (m - mean) @ comps.T
            pdf = pdf.copy()
            pdf[out_col] = list(proj)
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)
