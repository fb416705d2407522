"""Embedding similarity search: brute-force top-k, IVF ANN, near-dup pairs.

Operates on an ``array<float>`` embedding column (the `embeddings` fixture
table). All dot products / norms are left-fold expressions over the element
sequence in index order with explicit DOUBLE casts — fully JVM-side
(whole-stage codegen, no Python), and bit-for-bit reproducible by the
DuckDB oracle's ``list_reduce`` fold, so cosine scores and the ranks derived
from them hash-match exactly.

Scale posture:
- brute-force top-k broadcasts only the (small) query set; the big side
  streams map-side — no shuffle until the final per-query top-k.
- IVF: centroid assignment broadcasts only centroids; probing is an
  equi-join on the assigned centroid — the classic bucketed ANN plan.
- near-dup runs inside blocking groups (equi-join on the block key),
  never an unblocked all-pairs product.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from delta_kernel_rs_spark.operators.parallel import ensure_min_parallelism

DIMS = 64


def _fold_dot(a: str, b: str, dims: int = DIMS) -> str:
    """SQL for a left-fold dot product of two array columns (index order).

    ``zip_with`` walks both arrays positionally — the same products in the
    same order as an indexed ``element_at`` loop (bit-identical result,
    hash-compatible with the DuckDB oracle's ``list_reduce`` fold) without
    materializing an index sequence per evaluation.
    """
    return (
        f"aggregate(zip_with({a},{b},"
        f"(x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc,v) -> acc+v)"
    )


def norm2_expr(col: str, dims: int = DIMS) -> Column:
    """Squared L2 norm of an array column (same fold as the dot product)."""
    return F.expr(_fold_dot(col, col, dims))


def cosine_expr(a: str, b: str, na2: str, nb2: str, dims: int = DIMS) -> Column:
    """cosine(a,b) given precomputed squared norms: dot / sqrt(na2*nb2)."""
    return F.expr(f"{_fold_dot(a, b, dims)} / sqrt({na2}*{nb2})")


def _with_norm2(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    return df.withColumn("norm2", norm2_expr(vec_col, dims))


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (brute force).

    Returns (query_id, neighbor_id, rank, cosine); rank ties broken by
    neighbor id. The query side is broadcast; the corpus side never
    shuffles until the per-query top-k window.
    """
    corpus = _with_norm2(ensure_min_parallelism(df), vec_col, dims).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("e"), F.col("norm2").alias("en2")
    )
    queries = _with_norm2(query_df, vec_col, dims).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q"), F.col("norm2").alias("qn2")
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("q", "e", "qn2", "en2", dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_assign(
    df: DataFrame,
    centroid_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties: lowest id).

    Centroids are broadcast; assignment is a map-side scored join plus a
    per-vector argmax — the IVF "coarse quantizer" step.

    r12 note (measured, kept as-is): a literal-centroid map-only variant
    (`_assign_literal_centroids`, the shape that won big inside
    `kmeans_clusters`) was 1.7× SLOWER here — higher-order-function
    expressions are CodegenFallback, and per-row interpreted scoring of
    the full centroid array costs more than this broadcast join + rank
    window whose per-row work is one fold per joined centroid; an
    unrolled `element_at` sum chain (codegen'd) was slower still. The
    kmeans case differs because its before-plan re-executed the whole
    nested-iteration subtree four times.
    """
    cents = _with_norm2(centroid_df, vec_col, dims).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c"), F.col("norm2").alias("cn2")
    )
    vecs = _with_norm2(ensure_min_parallelism(df), vec_col, dims)
    scored = vecs.join(F.broadcast(cents)).withColumn(
        "ccos", cosine_expr(vec_col, "c", "norm2", "cn2", dims)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select(id_col, vec_col, "norm2", "centroid_id")
    )


def _rank_order(cos, nids):
    """Replicate ``ORDER BY cosine DESC, neighbor_id ASC`` on numpy arrays.

    Spark's double ordering puts NaN above +Infinity and (plain DESC)
    NULLs last; ``cos`` uses None→null. Returns the permutation array.
    """
    import numpy as np

    n = len(nids)
    is_null = np.array([c is None for c in cos])
    vals = np.array(
        [0.0 if c is None else float(c) for c in cos], dtype=np.float64
    )
    is_nan = np.isnan(vals) & ~is_null
    vals = np.where(is_nan, 0.0, vals)
    # lexsort: last key is primary — nulls last, then NaN first, then
    # value desc, then neighbor id asc
    return np.lexsort(
        (nids, -vals, ~is_nan, is_null.astype(np.int8))
    )


def _bucket_topk_cosine(id_col: str, vec_col: str, k: int, dims: int):
    """Per-centroid-bucket exact top-k cosine, as an applyInPandas body.

    Cosines replay the engine fold bit-for-bit (per-dimension
    ``acc += double(q_i)*double(e_i)`` over the member matrix, then
    ``dot / sqrt(qn2*en2)`` — the `_dominated_in_cluster` construction);
    members or queries with NULL vector/norm2 produce NULL cosines and
    rank last by neighbor id, exactly like the former join + window.
    """

    def topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "query_id": pdf[id_col].iloc[0:0],
                "centroid_id": pd.Series([], dtype="int64"),
                "neighbor_id": pdf[id_col].iloc[0:0],
                "rank": pd.Series([], dtype="int32"),
            }
        )
        if len(pdf) == 0 or pdf["centroid_id"].isnull().all():
            return empty  # the join dropped NULL bucket keys
        cid = int(pdf["centroid_id"].iloc[0])
        ids = pdf[id_col].to_numpy()
        vecs = pdf[vec_col].to_numpy()
        n2 = pdf["norm2"].to_numpy(dtype=np.float64, na_value=np.nan)
        valid = np.array(
            [v is not None and len(v) == dims for v in vecs]
        ) & ~np.isnan(n2)
        V = (
            np.stack(vecs[valid]).astype(np.float64)
            if valid.any()
            else np.zeros((0, dims))
        )
        vn2 = n2[valid]
        vids = ids[valid]
        q_rows = np.nonzero(pdf["__is_q"].to_numpy() == True)[0]  # noqa: E712
        out_q, out_n, out_r = [], [], []
        for qi in q_rows:
            qid = ids[qi]
            cos = [None] * len(ids)
            if valid[qi]:
                q = np.stack([vecs[qi]]).astype(np.float64)[0]
                acc = np.zeros(V.shape[0])
                for i in range(dims):  # the engine fold, one dim at a time
                    acc += V[:, i] * q[i]
                c = acc / np.sqrt(n2[qi] * vn2)
                for j, m in enumerate(np.nonzero(valid)[0]):
                    cos[m] = c[j]
            sel = ids != qid
            nids = ids[sel]
            csel = [cos[j] for j in np.nonzero(sel)[0]]
            order = _rank_order(csel, nids)[:k]
            for r, j in enumerate(order, 1):
                out_q.append(qid)
                out_n.append(nids[j])
                out_r.append(r)
        return pd.DataFrame(
            {
                "query_id": out_q,
                "centroid_id": cid,
                "neighbor_id": out_n,
                "rank": pd.Series(out_r, dtype="int32"),
            }
        ) if out_q else empty

    return topk


def ivf_topk(
    df: DataFrame,
    n_centroids: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 8",
    dims: int = DIMS,
) -> DataFrame:
    """IVF-style ANN: probe only the query's own centroid bucket.

    Deterministic "training": centroids are the first ``n_centroids``
    vectors by id. Returns (query_id, centroid_id, neighbor_id, rank).
    At scale the probe is an equi-join on centroid_id — each query touches
    one bucket, not the whole corpus.

    r13 (guide §2.4/§4.2): the probe is one applyInPandas over the
    centroid buckets instead of the former queries⋈bucket self-join +
    rank window — the assignment frame has a single consumer (the Arrow
    assignment executes once; the join plan re-executed it through a
    ReusedExchange at the window's shuffle), and the per-pair interpreted
    cosine fold becomes the numpy fold replica. Same-JVM A/B min-of-5:
    fused 0.84 s vs join+window 0.96 s, fused ahead in all five pairs,
    outputs tuple-identical. Ordering replicates the window exactly —
    see _bucket_topk_cosine.
    """
    cents = sorted(
        (r[0], list(r[1]))
        for r in df.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    assigned = _assign_centroids_arrow(df, cents, id_col, vec_col, dims)
    id_type = df.schema[id_col].dataType.simpleString()
    return (
        assigned.withColumn("__is_q", F.expr(query_pred))
        .groupBy("centroid_id")
        .applyInPandas(
            _bucket_topk_cosine(id_col, vec_col, k, dims),
            schema=(
                f"query_id {id_type}, centroid_id long, "
                f"neighbor_id {id_type}, rank int"
            ),
        )
    )


def embedding_neardup_blocked(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """Near-duplicate embedding pairs within blocking groups.

    Pairs (vec_a, vec_b, block, cosine) with cosine >= threshold, generated
    only inside ``block_col`` groups (equi-join shuffle on the block key).
    For corpora without a natural block key, use
    :func:`random_hyperplane_buckets` as the key instead.

    Each vector is normalized ONCE before the pair join (``x/sqrt(norm2)``
    per element), so per-pair scoring is a bare 64-element dot fold — no
    per-pair norms, sqrt, or division. The normalization happens below the
    join's shuffle boundary, so Catalyst cannot inline it into the
    per-pair expressions.
    """
    side = (
        _with_norm2(ensure_min_parallelism(df), vec_col, dims)
        .withColumn(
            "nvec",
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE)/sqrt(norm2))"),
        )
        .select(F.col(id_col), F.col("nvec"), F.col(block_col))
    )
    a, b = side.alias("a"), side.alias("b")
    dot = (
        "aggregate(zip_with(a.nvec, b.nvec, (x,y) -> x*y), "
        "CAST(0.0 AS DOUBLE), (acc,v) -> acc+v)"
    )
    return (
        a.join(
            b,
            on=[
                F.col(f"a.{block_col}") == F.col(f"b.{block_col}"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.col(f"a.{block_col}").alias("block"),
            F.expr(dot).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """Symmetric per-vector int8 quantization with exact error accounting.

    The standard 4× storage cut applied before PQ/IVF indexing at corpus
    scale: ``scale = max|x| / 127``, ``code_i = clamp(half_up(x_i / scale),
    -127, 127)``. Rounding is spelled as ``floor(v + 0.5)`` rather than an
    engine-native ``round()`` so Spark and the DuckDB oracle share exact
    IEEE semantics. A zero vector quantizes to scale 0 with all-zero codes.

    Emits per vector, in one codegen'd projection (map-only — no shuffle,
    no Python, safe at any corpus size):
    - ``scale`` — the dequantization factor,
    - ``code_sum`` / ``code_poshash`` — order-insensitive and
      position-weighted checksums over the int8 codes (these pin the exact
      code vector without hashing an array column),
    - ``n_saturated`` — codes clamped to ±127,
    - ``l2_err`` / ``max_err`` — exact reconstruction error of
      ``code_i * scale`` vs the original, folded in index order.
    """
    abs_max = (
        f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        f"(acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
    )
    codes = (
        f"transform({vec_col}, x -> CAST(CASE WHEN scale = 0.0 THEN 0.0 "
        f"ELSE least(127.0, greatest(-127.0, "
        f"floor(CAST(x AS DOUBLE)/scale + 0.5d))) END AS INT))"
    )
    err_terms = (
        f"zip_with({vec_col}, codes, "
        f"(x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE)*scale)"
    )
    return (
        ensure_min_parallelism(df)
        .withColumn("scale", F.expr(f"{abs_max} / 127.0d"))
        .withColumn("codes", F.expr(codes))
        .select(
            F.col(id_col),
            F.col("scale"),
            F.expr(
                "aggregate(codes, CAST(0 AS BIGINT), (acc, c) -> acc + c)"
            ).alias("code_sum"),
            F.expr(
                "aggregate(zip_with(codes, sequence(1, size(codes)), "
                "(c, i) -> CAST(c AS BIGINT)*i), CAST(0 AS BIGINT), "
                "(acc, v) -> acc + v)"
            ).alias("code_poshash"),
            F.expr("size(filter(codes, c -> abs(c) = 127))").alias("n_saturated"),
            F.expr(
                f"sqrt(aggregate(transform({err_terms}, e -> e*e), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
            ).alias("l2_err"),
            F.expr(
                f"aggregate(transform({err_terms}, e -> abs(e)), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> greatest(acc, v))"
            ).alias("max_err"),
        )
    )


def random_hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    dims: int = DIMS,
    seed: int = 0x51AB,
    out: str = "bucket",
) -> DataFrame:
    """Sign-of-projection LSH bucket id for cosine similarity.

    Bucket = the n-bit sign pattern of dot products with seeded ±1
    hyperplanes. Vectors in the same bucket are cosine-similar with
    probability (1 - θ/π)^n — use as the blocking key for near-dup joins
    when no metadata block exists. (Spark-side operator; recall/precision
    characterized in tests rather than oracle-checked.)
    """
    rng = random.Random(seed)
    planes = [[rng.choice((-1.0, 1.0)) for _ in range(dims)] for _ in range(n_planes)]
    bits = []
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        dot = F.aggregate(
            F.zip_with(arr, F.col(vec_col).cast("array<double>"), lambda p, e: p * e),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long")))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.withColumn(out, bucket)


def _int8_codes(nv, qs):
    """int8 codes of normalized vectors ``nv`` (rows) at scales ``qs``:
    ``floor(nv/qs + 0.5)`` clamped to ±127, 0 where the scale is 0.

    Spark's ``least``/``greatest`` order NaN above every number, so a NaN
    code (a zero-norm vector of denormals: ``nv`` is ±inf and ``qs`` inf)
    clamps to 127; ``np.clip`` would pass it through to INT64_MIN."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        codes = np.floor(nv / qs[:, None] + 0.5)
    codes = np.where(np.isnan(codes), 127.0, np.clip(codes, -127.0, 127.0))
    return np.where(qs[:, None] == 0.0, 0.0, codes).astype(np.int64)


def _bucket_topk_quantized(id_col: str, vec_col: str, k: int, dims: int):
    """Per-bucket int8-quantized top-k, as an applyInPandas body.

    Replays the former expression chain value-for-value:
    ``nvec_i = double(v_i)/sqrt(norm2)`` (per-element IEEE divide),
    ``qscale = max(0, max|nvec|)/127.0`` (the greatest-fold), codes =
    ``floor(nvec/qscale + 0.5)`` clamped to ±127 as INT (0 when qscale
    is 0), ``code_dot`` in exact int64, and
    ``qcos = (double(code_dot) * qs) * ns`` in that multiply order.
    NULL vectors/norms yield NULL qcos and rank last by neighbor id,
    matching the join + window.
    """

    def topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "query_id": pdf[id_col].iloc[0:0],
                "centroid_id": pd.Series([], dtype="int64"),
                "neighbor_id": pdf[id_col].iloc[0:0],
                "rank": pd.Series([], dtype="int32"),
                "qcos": pd.Series([], dtype="Float64"),
            }
        )
        if len(pdf) == 0 or pdf["centroid_id"].isnull().all():
            return empty
        cid = int(pdf["centroid_id"].iloc[0])
        ids = pdf[id_col].to_numpy()
        vecs = pdf[vec_col].to_numpy()
        n2 = pdf["norm2"].to_numpy(dtype=np.float64, na_value=np.nan)
        valid = np.array(
            [v is not None and len(v) == dims for v in vecs]
        ) & ~np.isnan(n2)
        if valid.any():
            V = np.stack(vecs[valid]).astype(np.float64)
            nv = V / np.sqrt(n2[valid])[:, None]
            qs = np.maximum(0.0, np.max(np.abs(nv), axis=1)) / 127.0
            codes = _int8_codes(nv, qs)
        else:
            codes = np.zeros((0, dims), dtype=np.int64)
            qs = np.zeros(0)
        valid_pos = np.nonzero(valid)[0]
        pos_of = {int(p): j for j, p in enumerate(valid_pos)}
        q_rows = np.nonzero(pdf["__is_q"].to_numpy() == True)[0]  # noqa: E712
        out_q, out_n, out_r, out_c = [], [], [], []
        for qi in q_rows:
            qid = ids[qi]
            cos = [None] * len(ids)
            if valid[qi]:
                jq = pos_of[int(qi)]
                dots = codes @ codes[jq]  # exact: |codes| <= 127, 64 dims
                c = (dots.astype(np.float64) * qs[jq]) * qs
                for j, m in enumerate(valid_pos):
                    cos[m] = c[j]
            sel = ids != qid
            nids = ids[sel]
            csel = [cos[j] for j in np.nonzero(sel)[0]]
            order = _rank_order(csel, nids)[:k]
            for r, j in enumerate(order, 1):
                out_q.append(qid)
                out_n.append(nids[j])
                out_r.append(r)
                out_c.append(csel[j])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": out_q,
                "centroid_id": cid,
                "neighbor_id": out_n,
                "rank": pd.Series(out_r, dtype="int32"),
                "qcos": pd.Series(out_c, dtype="Float64"),
            }
        )

    return topk


def ivf_topk_quantized(
    df: DataFrame,
    n_centroids: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 8",
    dims: int = DIMS,
) -> DataFrame:
    """IVF ANN scored with int8-quantized normalized vectors.

    The composed scale path: coarse quantizer (full-precision centroid
    assignment, broadcast centroids) narrows each query to ONE bucket;
    fine scoring runs on int8 codes of the L2-normalized vectors —
    ``qcos = code_dot * scale_a * scale_b`` approximates cosine with a
    64-byte payload per vector (4× memory cut; the practical trade at
    billion-vector scale, where the float corpus no longer fits hot).
    Codes/scales are exact integer/IEEE constructions, so ranking is
    engine-reproducible (tie-break on neighbor id).

    Returns (query_id, centroid_id, neighbor_id, rank, qcos).

    r13 (guide §2.4/§4.2): like ivf_topk, the probe is one applyInPandas
    over the centroid buckets — the three interpreted per-row HOF chains
    (normalize, scale fold, code transform), the per-pair interpreted
    integer-dot fold, the self-join, and the rank window all collapse
    into a numpy replay of the exact same arithmetic (see
    _bucket_topk_quantized: per-element IEEE normalize/quantize, exact
    int64 code dot, ``double(dot) * qs * ns`` in that order).
    """
    cents = sorted(
        (r[0], list(r[1]))
        for r in df.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    assigned = _assign_centroids_arrow(df, cents, id_col, vec_col, dims)
    id_type = df.schema[id_col].dataType.simpleString()
    return (
        assigned.withColumn("__is_q", F.expr(query_pred))
        .groupBy("centroid_id")
        .applyInPandas(
            _bucket_topk_quantized(id_col, vec_col, k, dims),
            schema=(
                f"query_id {id_type}, centroid_id long, "
                f"neighbor_id {id_type}, rank int, qcos double"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Signed-random-projection (SRP) LSH — the hyperplane-hash ANN family


def srp_signs(n_planes: int, dims: int = DIMS) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix: sign(p, i) derives from
    md5(f"{p}:{i}") — reproducible on any engine that can evaluate md5,
    which is what lets the oracle rebuild the identical planes. (True
    randomness buys nothing here: any fixed sign matrix is a valid SRP
    instance, and a deterministic one makes the whole index a pure
    function of the data.)"""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) < 8 else -1
            for i in range(dims)
        ]
        for p in range(n_planes)
    ]


def _srp_bucket_expr(vec_col: str, signs: list[list[int]]) -> Column:
    """16ish-bit SRP signature: bit p = [dot(vec, plane_p) > 0], summed as
    a single integer bucket id. Each plane is one codegen'd fold over the
    array with the sign literals inlined — no Python, no shuffle."""
    bits = []
    for p, row in enumerate(signs):
        arr = ",".join(str(s) for s in row)
        dot = (
            f"aggregate(zip_with({vec_col}, array({arr}),"
            f"(x,s) -> CAST(x AS DOUBLE)*s), CAST(0.0 AS DOUBLE),"
            f"(acc,v) -> acc+v)"
        )
        bits.append(f"(CASE WHEN {dot} > 0.0 THEN {1 << p} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(bits) + " AS BIGINT)")


def srp_topk(
    df: DataFrame,
    query_df: DataFrame,
    n_planes: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """SRP-LSH ANN: queries probe only their own hyperplane-signature
    bucket; candidates get exact cosine; per-query top-k.

    Returns (query_id, bucket, neighbor_id, rank, cosine). The bucket
    join is a plain equi-join on the signature — candidate count is
    bounded by bucket co-residency (corpus/2^planes expected), never the
    corpus. More planes = smaller buckets = higher precision / lower
    recall; the classic SRP trade (Charikar's simhash for cosine space,
    applied to dense vectors)."""
    signs = srp_signs(n_planes, dims)
    bucket = _srp_bucket_expr(vec_col, signs)
    corpus = _with_norm2(ensure_min_parallelism(df), vec_col, dims).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("e"),
        F.col("norm2").alias("en2"),
        bucket.alias("bucket"),
    )
    queries = _with_norm2(query_df, vec_col, dims).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q"),
        F.col("norm2").alias("qn2"),
        bucket.alias("bucket"),
    )
    # bucket appears on both sides — alias the frames for the equi-join
    scored = corpus.alias("c").join(
        F.broadcast(queries).alias("qq"),
        (F.col("c.bucket") == F.col("qq.bucket"))
        & (F.col("c.neighbor_id") != F.col("qq.query_id")),
    ).withColumn("cosine", cosine_expr("qq.q", "c.e", "qq.qn2", "c.en2", dims))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("qq.bucket").alias("bucket"), "neighbor_id",
            "rank", "cosine",
        )
    )


KMEANS_SCALE = 1_000_000.0


def _kmeans_update(
    assigned: DataFrame,
    vec_col: str,
    scale: float = KMEANS_SCALE,
) -> DataFrame:
    """Lloyd centroid update with ORDER-INDEPENDENT arithmetic.

    A distributed mean of doubles is nondeterministic (float addition is
    not associative; partition order varies run to run), so the update
    sums INTEGER-scaled components — ``sum(round(x * scale))`` over
    BIGINTs is exact in any order — and divides once at the end. This is
    the repo's standard integer-scaled-sum pattern, applied per
    (cluster, dimension); it is what makes a k-means result hash-exact
    against the DuckDB oracle AND stable across cluster topologies.

    Returns (centroid_id, c array<double>). Empty clusters simply emit no
    row (the classic Lloyd dropped-cluster case).
    """
    ex = assigned.select(
        "centroid_id", F.posexplode(vec_col).alias("pos", "x")
    ).select(
        "centroid_id",
        "pos",
        F.round(F.col("x").cast("double") * scale).cast("long").alias("sx"),
    )
    per = ex.groupBy("centroid_id", "pos").agg(
        F.sum("sx").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return per.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
            lambda t: t["s"].cast("double") / (F.lit(scale) * t["n"]),
        ).alias("c")
    )


def _py_fold_dot(a: list[float], b: list[float]) -> float:
    """Driver-side replica of the ``_fold_dot`` left fold: the SAME IEEE
    multiply/add sequence in index order, so a norm computed here is
    bit-identical to the engine's (and therefore the oracle's) fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _assign_literal_centroids(
    vecs: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Map-only max-cosine assignment against DRIVER-HELD centroids.

    ``cents`` is [(centroid_id, vector)] — an IVF-nlist-sized object
    (n_centroids × dims doubles), the classic "centroids fit on the
    driver" k-means shape. Baking them in as literals turns assignment
    into ONE codegen'd projection: no broadcast join, no per-vector
    window/argmax shuffle (guide §2.4 — the r12 before-plan ran a
    BroadcastNestedLoopJoin + two WindowGroupLimits + an Exchange per
    iteration for what is a per-row argmax).

    The score arithmetic is the exact expression tree ivf_assign used —
    ``fold_dot(vec, c) / sqrt(norm2 * cn2)`` with per-element double
    casts — so scores are bit-identical; the argmax tie-break (highest
    cosine, then lowest centroid id) is array_max over (cc, -cid)
    structs, the same double-then-long lexicographic comparison the
    window's (cosine DESC, cid ASC) sort performed.

    ``vecs`` must already carry ``norm2``. Output columns match
    ivf_assign: (id_col, vec_col, norm2, centroid_id).
    """
    score_structs = F.array(
        *[
            F.struct(
                (
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            F.array(*[F.lit(float(x)) for x in c_vec]),
                            lambda x, y: x.cast("double") * y.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / F.sqrt(
                        F.col("norm2") * F.lit(_py_fold_dot(c_vec, c_vec))
                    )
                ).alias("cc"),
                F.lit(-cid).cast("long").alias("nid"),
            )
            for cid, c_vec in cents
        ]
    )
    return vecs.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("norm2"),
        (-F.array_max(score_structs)["nid"]).cast("long").alias("centroid_id"),
    )


def _assign_centroids_arrow(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    dims: int,
) -> DataFrame:
    """Map-only max-cosine assignment vs driver-held centroids, scored in
    numpy over Arrow batches (r13, guide §4.2).

    Replaces the interpreted CodegenFallback HOF projection of
    `_assign_literal_centroids` (measured ~1.1 s per execution at sf0.1
    for what is 2000 rows × 8 centroids): norm2 and every dot product
    replay the engine fold BIT-FOR-BIT — ``acc += double(x)*double(y)``
    per dimension in index order, vectorized over rows (the same
    construction `_dominated_in_cluster` pins against its fold replica),
    then ``dot / sqrt(norm2 * cn2)`` with single correctly-rounded IEEE
    ops. The argmax tie-break (max cosine, then lowest centroid id)
    falls out of numpy's first-max-wins argmax over ascending-cid
    columns; NaN agrees too (Spark orders NaN largest and breaks ties on
    lowest cid — numpy argmax returns the FIRST NaN index).

    Rows whose vector is NULL, holds a NULL element or is not ``dims``
    long take the JVM's degenerate path: all-null cosines → lowest centroid id; norm2 is the
    self-fold of whatever elements exist (the zip_with null-padding
    semantics). Output matches `_assign_literal_centroids`:
    (id_col, vec_col, norm2, centroid_id).
    """
    from pyspark.sql import types as T

    cents = sorted(cents)
    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    schema = T.StructType.fromDDL(
        f"{id_col} {id_type}, {vec_col} {vec_type}, "
        "norm2 double, centroid_id long"
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        k = len(cents)
        cids = np.array([c for c, _ in cents], dtype=np.int64)
        C = np.array([v for _, v in cents], dtype=np.float64) if k else None
        cn2 = np.array(
            [_py_fold_dot(v, v) for _, v in cents], dtype=np.float64
        )
        for batch in batches:
            ids, vecs = batch.column(0), batch.column(1)
            n = len(ids)
            norm2 = np.full(n, np.nan)
            centroid = np.full(n, -1, dtype=np.int64)
            lens = (
                pc.list_value_length(vecs)
                .fill_null(-1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            fast = lens == dims
            values = pc.list_flatten(vecs)
            if values.null_count:
                # a NULL element nulls the JVM fold: such rows take the
                # degenerate path below (typed NULL norm2, lowest cid)
                parents = pc.list_parent_indices(vecs).to_numpy(zero_copy_only=False)
                nulls = pc.is_null(values).to_numpy(zero_copy_only=False)
                fast[parents[nulls]] = False
            if fast.any() and k:
                sub = vecs.take(pa.array(np.nonzero(fast)[0]))
                V = (
                    sub.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64)
                    .reshape(-1, dims)
                )
                m = V.shape[0]
                n2 = np.zeros(m)
                for i in range(dims):  # the engine fold, one dim at a time
                    n2 += V[:, i] * V[:, i]
                cos = np.empty((m, k))
                for j in range(k):
                    acc = np.zeros(m)
                    Cj = C[j]
                    for i in range(dims):
                        acc += V[:, i] * Cj[i]
                    cos[:, j] = acc / np.sqrt(n2 * cn2[j])
                centroid[fast] = cids[np.argmax(cos, axis=1)]
                norm2[fast] = n2
            # degenerate rows: null / wrong-length vectors → all-null
            # cosines → lowest cid; norm2 = self-fold of the raw list
            # (zip_with null-padding makes every score null regardless)
            slow_idx = np.nonzero(~fast)[0]
            null_norm = np.zeros(n, dtype=bool)
            if slow_idx.size:
                low = int(cids.min()) if k else -1
                pylists = vecs.to_pylist()
                for r in slow_idx:
                    v = pylists[r]
                    centroid[r] = low
                    if v is None or any(x is None for x in v):
                        null_norm[r] = True
                    else:
                        norm2[r] = _py_fold_dot(v, v)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    vecs,
                    pa.array(norm2, type=pa.float64(), mask=null_norm),
                    pa.array(centroid, type=pa.int64())
                    if k
                    else pa.nulls(n, type=pa.int64()),
                ],
                names=[id_col, vec_col, "norm2", "centroid_id"],
            )

    return ensure_min_parallelism(df.select(id_col, vec_col)).mapInArrow(
        gen, schema
    )


def kmeans_clusters(
    df: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column.

    Seeding is the first ``n_centroids`` vectors by id (the same
    deterministic "training" convention as ivf_topk); each iteration
    assigns every vector to its max-cosine centroid (ties -> lowest
    centroid id) and recomputes centroids as the integer-scaled
    element-wise mean (see _kmeans_update). ``n_iters`` assignment
    passes run in total, with n_iters - 1 updates between them.

    100 TB posture: centroids live on the driver between iterations
    (n_centroids × dims doubles — the standard k-means/IVF "model fits
    on the driver" shape; the collects here are n_centroids-row,
    metadata-sized, same class as the Jaccard plan-chooser probe).
    Assignment is a map-only codegen'd projection against centroid
    literals (no join, no shuffle — guide §2.4); the update is one
    groupBy((cluster, dim)) with map-side partial combine over
    dims×-exploded rows, then an n_centroids-row regroup. Scores and
    tie-breaks are bit-identical to the former broadcast-join + window
    plan (see _assign_literal_centroids), so results hash-match the
    DuckDB oracle unchanged.

    Returns (id_col, vec_col, norm2, centroid_id).
    """
    cents = sorted(
        (r[0], list(r[1]))
        for r in df.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    assigned = None
    for it in range(max(1, n_iters)):
        # r13: assignment + norm2 scored in one numpy Arrow pass instead
        # of the interpreted literal-HOF projection (bit-identical fold
        # replay — see _assign_centroids_arrow; same-JVM A/B in
        # OPTIMIZATION_r13.md)
        assigned = _assign_centroids_arrow(df, cents, id_col, vec_col, dims)
        if it < n_iters - 1:
            cents = sorted(
                (r[0], list(r[1]))
                for r in _kmeans_update(assigned, vec_col).collect()
            )
    return assigned


def _dominated_in_cluster(
    id_col: str, vec_col: str, threshold: float
):
    """Build the per-cluster dominated-id finder for ``applyInPandas``.

    A member is dominated when any LOWER-id member of the same cluster
    has cosine >= threshold with it. The cosine arithmetic replicates the
    engine's fold BIT-FOR-BIT: ``acc = acc + double(a_i)*double(b_i)``
    applied SEQUENTIALLY over dimensions (vectorized over pairs — each
    numpy ``+=`` step performs the identical IEEE-754 double add/multiply
    per pair that the zip_with/aggregate fold performs per row), then
    ``dot / sqrt(na2 * nb2)`` with the engine-computed ``norm2`` values
    carried in. sqrt/multiply/divide are single correctly-rounded IEEE
    ops in both runtimes, so the dominated set is exactly the relational
    join's (pinned by the oracle hash gate at both SFs).

    Known, documented divergence: an actual NaN payload compares
    NaN >= t as False here but True under Spark's NaN-is-largest
    ordering. Embedding fixtures (and any sane embedding store) carry no
    NaN; nulls agree on both paths (null cosine never dominates).

    Memory is blocked: O(block²) per step, never O(cluster²) at once.
    """

    def find(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({id_col: pdf[id_col].iloc[0:0]})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        vecs = pdf[vec_col].to_numpy()[order]
        keep_mask = np.array([v is not None for v in vecs])
        # null vectors / norms can never dominate nor be dominated via a
        # non-null cosine on the fold path either; drop them up front
        n2 = pdf["norm2"].to_numpy(dtype=np.float64, na_value=np.nan)[order]
        keep_mask &= ~np.isnan(n2)
        ids, vecs, n2 = ids[keep_mask], vecs[keep_mask], n2[keep_mask]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({id_col: ids[:0]})
        V = np.stack(vecs).astype(np.float64)  # float32→double: exact cast
        dims_n = V.shape[1]
        dominated = np.zeros(n, dtype=bool)
        B = 2048
        for cs in range(1, n, B):
            ce = min(cs + B, n)
            col_dom = dominated[cs:ce].copy()
            denom_c = n2[cs:ce]
            for rs in range(0, ce - 1, B):
                re_ = min(rs + B, ce)
                Vr, Vc = V[rs:re_], V[cs:ce]
                acc = np.zeros((re_ - rs, ce - cs))
                for i in range(dims_n):
                    # the engine fold's exact step, one dim at a time
                    acc += Vr[:, i : i + 1] * Vc[:, i]
                cos = acc / np.sqrt(n2[rs:re_, None] * denom_c[None, :])
                # only rows with global index < column's global index count
                r_idx = np.arange(rs, re_)[:, None]
                c_idx = np.arange(cs, ce)[None, :]
                col_dom |= ((cos >= threshold) & (r_idx < c_idx)).any(axis=0)
            dominated[cs:ce] = col_dom
        return pd.DataFrame({id_col: ids[dominated]})

    return find


def semantic_dedup(
    df: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    embeddings with k-means, then inside each cluster drop every vector
    that has a LOWER-id member with cosine >= ``threshold``.

    (The paper's greedy keep-one-per-similar-group is order-dependent;
    this uses the deterministic dominated-by-any-lower-id rule — the same
    keep-min-id convention as exact_duplicate_groups — which removes a
    superset of the greedy rule's removals within each cluster.)

    100 TB posture: the pairwise check is an equi-join on centroid_id —
    with n_centroids scaled like an IVF nlist, cluster sizes stay
    ~constant and the join fanout per cluster is bounded; there is never
    a corpus-wide all-pairs product.

    Returns (id_col, cluster_id, cluster_size, is_kept).
    """
    # r13 (guide §2.4, §4.2): the r12 shape fed the assignment frame to
    # FOUR consumers (dominated finder, sizes aggregate, two output
    # joins) behind a localCheckpoint. But every output column is a
    # per-CLUSTER fact — dominated-ness, cluster size, membership — so
    # ONE applyInPandas over the centroid groups can emit the final rows
    # directly: cluster_size is the group length, is_kept is the
    # complement of the same numpy dominated set (shared code below).
    # That removes the checkpoint materialization job, the sizes
    # broadcast job, and both joins; the assignment frame now has a
    # single consumer, so no materialization barrier is needed at all.
    # The dominated arithmetic is untouched (_dominated_in_cluster,
    # oracle-pinned bit-for-bit); the former inner sizes-join dropped
    # rows with a NULL centroid_id (impossible unless the centroid seed
    # set is empty), replicated by the null-group guard.
    assigned = kmeans_clusters(
        df, n_centroids=n_centroids, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col, dims=dims,
    )
    id_type = assigned.schema[id_col].dataType.simpleString()
    find = _dominated_in_cluster(id_col, vec_col, threshold)

    def emit(pdf):
        import pandas as pd

        if len(pdf) == 0 or pdf["centroid_id"].isnull().all():
            return pd.DataFrame(
                {
                    id_col: pdf[id_col].iloc[0:0],
                    "cluster_id": pd.Series([], dtype="int64"),
                    "cluster_size": pd.Series([], dtype="int64"),
                    "is_kept": pd.Series([], dtype="bool"),
                }
            )
        dominated = set(find(pdf)[id_col])
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster_id": pdf["centroid_id"],
                "cluster_size": len(pdf),
                "is_kept": [i not in dominated for i in pdf[id_col]],
            }
        )

    return (
        assigned.select("centroid_id", id_col, vec_col, "norm2")
        .groupBy("centroid_id")
        .applyInPandas(
            emit,
            schema=(
                f"{id_col} {id_type}, cluster_id long, "
                "cluster_size long, is_kept boolean"
            ),
        )
    )
