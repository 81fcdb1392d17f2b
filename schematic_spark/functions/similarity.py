"""Vector arithmetic and similarity search over embedding columns.

* :func:`dot`, :func:`l2_norm`, :func:`cosine_similarity` — the one
  vector kernel. Every product is formed in double, whatever the
  element type (``array<float>`` and integer arrays are widened
  element by element), and summed left to right in one ``aggregate``
  over ``zip_with``. Every other function here, and the embedding
  near-dup join in ``dedup``, goes through it.
* :func:`cosine_topk` — brute-force cosine top-k. One scan, one
  ``orderBy(...).limit(k)`` (Spark executes this as a per-partition
  TakeOrdered + driver merge — no full sort, no shuffle of the data).
  The correctness baseline.
* :func:`lsh_topk` — random-hyperplane LSH variant (Charikar's sign
  bits): the scan keeps vectors whose bucket id is within
  ``probe_radius`` bits of the query's, a ``bit_count(sig ^ qsig)``
  test. The bucket column can be a partition/cluster key so pruning
  happens at the file level.
* IVF-style variant: :func:`ivf_assign`/:func:`ivf_topk` — coarse
  k-means-ish centroids (deterministic sampled seeds), probe the
  closest ``n_probe`` lists.

All distance math is JVM-side higher-order functions. Each constant
(the plane matrix, the centroid matrix, the query) enters the plan as
ONE array literal built from SQL text (:func:`_double_array`), so a
query's build cost does not grow with its width. The only Python is
driver-side plane/centroid generation (seeded numpy) and the query's
own bucket id and probe order.

Dimension contract: vectors are assumed to share the query/plane
dimension. ``zip_with`` pads a shorter side with NULLs, so a NULL
vector, a NULL element or a mismatched dimension yields a NULL
dot/cosine/signature/assignment: the row is ranked last or
bucket-filtered out rather than erroring. Validate dimensions
upstream (``embedding_dims`` in the suite does exactly that) if mixed
dims are possible.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _double_sql(x: float) -> str:
    """SQL text that parses back to exactly ``x`` as a DOUBLE (a bare
    ``0.5`` would parse as a DECIMAL)."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _double_array(values) -> Column:
    """A 1-D or 2-D numeric array as ONE literal column (array<double>
    or array<array<double>>): a few py4j round trips whatever its size,
    where a list of ``F.lit`` Columns costs several per element."""
    def sql(a: np.ndarray) -> str:
        items = map(_double_sql, a.tolist()) if a.ndim == 1 else map(sql, a)
        return f"array({', '.join(items)})"

    return F.expr(sql(np.asarray(values, dtype=float)))


def _zip_sum(a: Column, b: Column, term) -> Column:
    """Σ term(a_i, b_i) over the two arrays, both sides widened to
    double, summed left to right — the one vector fold."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: term(x.cast("double"), y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, in double."""
    return _zip_sum(a, b, lambda x, y: x * y)


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array column, in double."""
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two numeric array columns, in double — no UDF."""
    return dot(a, b) / F.greatest(
        l2_norm(a) * l2_norm(b), F.lit(1e-12)
    )


def _planes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).randn(n_planes, dim)


def hyperplane_signature(
    vec: Column, *, dim: int, n_planes: int = 12, seed: int = 42
) -> Column:
    """Bucket id: bit b = sign(vec · plane_b) >= 0, an int up to 31
    planes and a bigint from 32. Planes are seeded standard normals
    generated on the driver, one 2-D literal in the plan.

    One ``transform`` gives the sign bits and one integer fold packs
    them; the planes are listed highest first so ``acc * 2 + bit``
    leaves plane b on bit b."""
    planes = _double_array(_planes(n_planes, dim, seed)[::-1])
    bits = F.transform(planes, lambda p: (dot(vec, p) >= 0).cast("int"))
    zero = F.lit(0).cast("int" if n_planes < 32 else "bigint")
    return F.aggregate(bits, zero, lambda acc, bit: acc * 2 + bit)


def cosine_to_query(vec: Column, query: list[float]) -> Column:
    """Cosine similarity of a vector column against a constant query.
    The query's norm is numpy's, computed once on the driver."""
    q = np.asarray(query, dtype=float)
    qn = float(np.linalg.norm(q)) or 1e-12
    return dot(vec, _double_array(q)) / (
        F.greatest(l2_norm(vec), F.lit(1e-12)) * F.lit(qn)
    )


def _topk(
    df: DataFrame, query: list[float], k: int, vec_col: str, id_col: str
) -> DataFrame:
    """Shared ranking tail for every top-k path: (id, cosine), highest
    first, deterministic id tiebreak. One copy on purpose — the
    approximate paths must rank EXACTLY like the brute-force baseline
    (the driver-hash oracles depend on the tiebreak), so the contract
    lives in one place."""
    return (
        df.select(
            F.col(id_col),
            cosine_to_query(F.col(vec_col), query).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k by cosine: (id, cosine), highest first."""
    return _topk(df, query, k, vec_col, id_col)


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    seed: int = 42,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only vectors whose hyperplane bucket is
    within ``probe_radius`` bits of the query's bucket
    (``probe_radius >= n_planes`` scans every non-NULL vector)."""
    if probe_radius < 0:
        raise ValueError(f"probe_radius must be >= 0 (got {probe_radius})")
    q = [float(x) for x in query]
    # the query's bucket, with the signature fold's arithmetic: products
    # in double summed left to right, and NaN on the set side of the
    # sign test because Spark orders NaN above every number
    qsig = 0
    for b, plane in enumerate(_planes(n_planes, len(q), seed)):
        s = 0.0
        for w, x in zip(plane.tolist(), q):
            s += x * w
        if not s < 0:
            qsig |= 1 << b
    sig = hyperplane_signature(
        F.col(vec_col), dim=len(q), n_planes=n_planes, seed=seed
    )
    near = F.bit_count(sig.bitwiseXOR(F.lit(qsig))) <= probe_radius
    return _topk(df.where(near), query, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------

def train_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Five driver-side Lloyd iterations over a deterministic sample —
    the coarse quantizer for IVF. Sample size is fixed, so driver memory
    is O(sample·dim) regardless of table size."""
    rows = (
        df.select(vec_col)
        # deterministic pseudo-random sample: TakeOrdered on a direct
        # hash of the vector column (one cheap hash per row — no
        # to_json serialization, no full sort/shuffle)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            "train_centroids: input has no vectors to train on"
        )
    x = np.asarray([r[0] for r in rows], dtype=float)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(5):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            m = x[assign == c]
            if len(m):
                cent[c] = m.mean(axis=0)
    return cent


def ivf_assign(
    vec: Column, centroids: np.ndarray
) -> Column:
    """Nearest-centroid id (L2): ``array_min`` over one (distance, index)
    struct per centroid, so equal-distance ties go to the smallest
    index. NULL for a NULL vector, a NULL element or a mismatched
    dimension — each would make every distance NULL, and a NULL
    distance sorts FIRST in the struct ``array_min``; the guard reads
    the vector, not the winner (reading the winner's distance would
    reference the ``array_min`` tree twice, and CSE does not reach
    across higher-order-function lambdas)."""
    centroids = np.asarray(centroids, dtype=float)
    if len(centroids) == 0:
        raise ValueError("ivf_assign: centroids must be non-empty")
    dist = F.transform(
        _double_array(centroids),
        lambda c, i: F.struct(
            _zip_sum(vec, c, lambda x, y: (x - y) * (x - y)).alias("d"),
            i.alias("i"),
        ),
    )
    whole = (F.size(vec) == centroids.shape[1]) & F.forall(
        vec, lambda x: x.isNotNull()
    )
    return F.when(whole, F.array_min(dist)["i"])


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 4,
) -> DataFrame:
    """Probe the ``n_probe`` closest centroid lists, brute-force within."""
    q = np.asarray(query, dtype=float)
    order = np.argsort(((centroids - q) ** 2).sum(axis=1))
    probe = [int(i) for i in order[:n_probe]]
    assign = ivf_assign(F.col(vec_col), centroids)
    return _topk(df.where(assign.isin(probe)), query, k, vec_col, id_col)
