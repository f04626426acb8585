"""Vector-column operators for embedding pipelines (SURVEY.md §2.11 L3
extension tier): L2 normalization, int8 quantization, random projection.

All three are expression forms — array higher-order functions, fully
declarative, DuckDB-oracle-checkable. Spark 4 evaluates HOFs interpreted
per element, so they suit projections over modest dims (≤ a few hundred)
or wherever plan composability matters (predicates push through them).
No shuffle: every one is a per-row transformation that stays in the scan
stage.

Quantization is symmetric per-vector: scale = max|x|/127, q = round(x /
scale) ∈ [-127, 127] stored as ``array<tinyint>`` + one float scale —
4× smaller than float32 on the wire, reconstruction error ≤ scale/2 per
component. Zero vectors get scale 0 and all-zero codes (dequantize
returns the zero vector exactly).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.similarity import l2_norm


def l2_normalize(a: Column | str) -> Column:
    """Unit-norm copy of an array<numeric> column (zero vectors unchanged)."""
    a = F.col(a) if isinstance(a, str) else a
    n = l2_norm(a)
    return F.when(n == 0, a.cast("array<double>")).otherwise(
        F.transform(a, lambda x: x / n)
    )


def quantize_int8(a: Column | str) -> tuple[Column, Column]:
    """(codes array<tinyint>, scale double) — symmetric per-vector int8.

    ``round`` is HALF_UP to match the dequantize error bound exactly;
    codes are in [-127, 127] (never -128, keeping negation safe).
    """
    a = F.col(a) if isinstance(a, str) else a
    scale = F.aggregate(a, F.lit(0.0), lambda m, x: F.greatest(m, F.abs(x))) / F.lit(127.0)
    codes = F.when(scale == 0, F.transform(a, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(a, lambda x: F.round(x / scale).cast("tinyint"))
    )
    return codes, scale


def dequantize_int8(codes: Column | str, scale: Column | str) -> Column:
    codes = F.col(codes) if isinstance(codes, str) else codes
    scale = F.col(scale) if isinstance(scale, str) else scale
    return F.transform(codes, lambda q: q.cast("double") * scale)


def random_projection_matrix(dim_in: int, dim_out: int, seed: int = 42) -> np.ndarray:
    """Gaussian projection matrix (dim_out × dim_in), scaled 1/sqrt(dim_out)
    so expected pairwise distances are preserved (Johnson–Lindenstrauss).
    Deterministic from the seed — driver-side numpy, shipped as literals."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim_out, dim_in)) / np.sqrt(dim_out)


def project_expr(a: Column | str, matrix: np.ndarray) -> Column:
    """array<double> of ``matrix @ a`` via expressions — one zip_with fold
    per output dim. Right for small dim_out / oracle parity."""
    a = F.col(a) if isinstance(a, str) else a
    outs = []
    for row in matrix:
        lit_row = F.array(*[F.lit(float(v)) for v in row])
        outs.append(
            F.aggregate(
                F.zip_with(a, lit_row, lambda x, r: x * r),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    return F.array(*outs)
