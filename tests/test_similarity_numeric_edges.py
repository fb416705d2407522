"""NULL and non-finite edge cases of the numpy fast paths in
operators/similarity.py, pinned against the JVM expression semantics they
replay."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from delta_kernel_rs_spark.operators.similarity import (
    _assign_centroids_arrow,
    _assign_literal_centroids,
    _bucket_topk_quantized,
    _int8_codes,
    _with_norm2,
)

DIMS = 4


def test_vector_with_null_element_gets_null_norm_like_the_jvm_fold(spark):
    """A ``dims``-long vector holding a NULL element folds to a NULL norm2
    on the JVM (x*y is NULL, acc+NULL is NULL) and scores NULL against
    every centroid, so it lands on the lowest centroid id."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.1, 0.9, 0.0, 0.0]),
        (3, [0.0, None, 1.0, 0.0]),  # full length, one NULL element
        (4, None),
        (5, [0.9, 0.1]),  # short vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(1, [0.0, 1.0, 0.0, 0.0]), (0, [1.0, 0.0, 0.0, 0.0])]

    fast = {
        r.vec_id: (r.norm2, r.centroid_id)
        for r in _assign_centroids_arrow(df, cents, "vec_id", "embedding", DIMS).collect()
    }
    jvm = {
        r.vec_id: (r.norm2, r.centroid_id)
        for r in _assign_literal_centroids(
            _with_norm2(df, "embedding", DIMS), sorted(cents), "vec_id", "embedding"
        ).collect()
    }
    assert fast[3] == (None, 0)
    assert fast == jvm


def test_zero_norm_denormal_vector_codes_clamp_to_127():
    """Every element a denormal: the squared norm underflows to 0, the
    normalized vector is +inf and its scale inf, so each code is NaN
    before the clamp — Spark's least/greatest make that 127."""
    v = np.full((1, DIMS), 5e-324)
    n2 = float((v * v).sum())
    assert n2 == 0.0
    with np.errstate(divide="ignore"):
        nv = v / math.sqrt(n2)
    qs = np.maximum(0.0, np.max(np.abs(nv), axis=1)) / 127.0
    assert _int8_codes(nv, qs).tolist() == [[127] * DIMS]
    # finite rows are unchanged: round half up, clamp, zero scale → 0
    nv = np.array([[0.5, -0.5, 0.25, 0.0], [0.0, 0.0, 0.0, 0.0]])
    qs = np.array([0.5 / 127.0, 0.0])
    assert _int8_codes(nv, qs).tolist() == [[127, -127, 64, 0], [0, 0, 0, 0]]


def test_denormal_query_scores_like_the_jvm():
    """End to end through the bucket top-k: with codes of 127 the denormal
    query's dot product with a positive neighbor is positive, so its qcos
    is +inf (a wrapped INT64_MIN dot product gave 0 * inf = NaN)."""
    vecs = [[5e-324] * DIMS, [1.0, 1.0, 1.0, 1.0]]
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1],
            "embedding": [np.array(v) for v in vecs],
            "norm2": [float(sum(x * x for x in v)) for v in vecs],
            "centroid_id": [7, 7],
            "__is_q": [True, False],
        }
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        out = _bucket_topk_quantized("vec_id", "embedding", 5, DIMS)(pdf)
    hit = out[(out.query_id == 0) & (out.neighbor_id == 1)]
    assert len(hit) == 1
    assert hit.qcos.astype("float64").iloc[0] == math.inf
