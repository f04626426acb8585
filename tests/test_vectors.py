"""Tests for vector operators: normalization, int8 quantization, random
projection (expression tier vs numpy reference)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.vectors import (
    dequantize_int8,
    l2_normalize,
    project_expr,
    quantize_int8,
    random_projection_matrix,
)


@pytest.fixture()
def vecs(spark):
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)]
    rows.append((40, [0.0] * 16))  # zero vector
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_l2_normalize_unit_norm(vecs):
    out = vecs.select(
        "vec_id", F.sqrt(F.aggregate(F.transform(l2_normalize("embedding"), lambda x: x * x), F.lit(0.0), lambda a, b: a + b)).alias("n")
    ).collect()
    for r in out:
        if r.vec_id == 40:
            assert r.n == 0.0  # zero vector unchanged
        else:
            assert abs(r.n - 1.0) < 1e-12


def test_quantize_roundtrip_error_bound(vecs):
    codes, scale = quantize_int8("embedding")
    df = vecs.select("vec_id", "embedding", codes.alias("codes"), scale.alias("scale"))
    rows = df.select(
        "vec_id",
        "scale",
        F.array_max(F.transform(F.col("codes"), lambda q: F.abs(q.cast("int")))).alias("max_code"),
        F.array_max(
            F.zip_with(
                dequantize_int8("codes", "scale"), F.col("embedding"), lambda d, x: F.abs(d - x)
            )
        ).alias("max_err"),
    ).collect()
    for r in rows:
        assert r.max_code <= 127
        assert r.max_err <= r.scale / 2 + 1e-12
    zero = df.filter(F.col("vec_id") == 40).select("scale", "codes").first()
    assert zero.scale == 0.0 and all(c == 0 for c in zero.codes)


def test_project_expr_matches_numpy(spark):
    mat = random_projection_matrix(8, 3, seed=5)
    v = [float(x) for x in np.arange(8, dtype=np.float64)]
    df = spark.createDataFrame([(1, v)], "vec_id long, embedding array<double>")
    got = df.select(project_expr("embedding", mat).alias("p")).first().p
    want = mat @ np.array(v)
    assert np.allclose(got, want, atol=1e-12)


def test_random_projection_matrix_deterministic():
    a = random_projection_matrix(64, 8, seed=9)
    b = random_projection_matrix(64, 8, seed=9)
    c = random_projection_matrix(64, 8, seed=10)
    assert np.array_equal(a, b) and not np.array_equal(a, c)


def test_project_expr_matches_numpy_on_every_row(vecs):
    mat = random_projection_matrix(16, 4, seed=3)
    want = {r.vec_id: mat @ np.asarray(r.embedding) for r in vecs.collect()}
    expr = {
        r.vec_id: r.p
        for r in vecs.select("vec_id", project_expr("embedding", mat).alias("p")).collect()
    }
    assert expr.keys() == want.keys()
    for k in expr:
        assert np.allclose(expr[k], want[k], atol=1e-9)
