"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (``zip_with`` + ``aggregate`` fold, JVM-side), plus one
Arrow-batched numpy replay of that fold for large workloads.

Precision contract: elements are cast to double BEFORE any arithmetic so
that Spark and the DuckDB oracle (``embedding::DOUBLE[]`` +
``list_dot_product``) fold the same doubles in the same array order —
verified to agree bit-for-bit on the fixture embeddings. The replay
(:func:`fold_dot`) performs the same single-rounded IEEE multiply and
add per dimension, in the same order, so the fold and the Arrow kernels
return identical doubles: a regime switch between them changes cost,
never values.

North-star extension (SURVEY.md §2.12); no reference analog.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column
from pyspark.sql import functions as F

# Rows per numpy block: keeps the pair accumulator cache-resident
# (measured 3x faster than one 10k-row Arrow batch at a time).
_PAIR_BLOCK_ROWS = 1024
# Doubles per (rows × cells) score block of :func:`cell_ranks` — 8 MB,
# so a block stays tens of MB with its temporaries even at ~40k cells.
_SCORE_BLOCK = 1 << 20


def as_double(vec) -> Column:
    return F.col(vec).cast("array<double>") if isinstance(vec, str) else vec.cast("array<double>")


def dot(a, b) -> Column:
    """Dot product: fold of elementwise products in array order."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    """Cosine similarity. DuckDB twin:
    list_dot_product(a::DOUBLE[], b::DOUBLE[]) /
    (sqrt(list_dot_product(a,a)) * sqrt(list_dot_product(b,b)))."""
    a, b = as_double(a), as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def fold_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """``x · y`` over the last axis (leading axes broadcast), replaying
    :func:`dot`'s fold: dimension by dimension, one IEEE multiply and one
    add, vectorized over rows — bit-identical to the JVM fold and to
    DuckDB ``list_dot_product``."""
    acc = np.zeros(np.broadcast_shapes(x.shape[:-1], y.shape[:-1]))
    for i in range(x.shape[-1]):
        acc += x[..., i] * y[..., i]
    return acc


def _fold_py(a, b):
    """One row of :func:`dot` with its null semantics: a null or ragged
    pair, or a null element, folds to null."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def _matrix(col: pa.Array) -> np.ndarray | None:
    """Zero-copy ``(n, d)`` view of a ``list<double>`` Arrow array, or
    None when a row is null, the rows are ragged, or an element is null
    (the fold's null cases, which :func:`_fold_py` handles)."""
    if col.null_count:
        return None
    flat = col.flatten()
    if flat.null_count:
        return None
    n = len(col)
    d = len(flat) // n if n else 0
    if np.any(np.diff(col.offsets.to_numpy()) != d):
        return None
    return flat.to_numpy(zero_copy_only=True).reshape(n, d)


def dot_vectorized(a, b) -> Column:
    """Arrow-batched :func:`dot` — the fast path for LARGE pairwise
    workloads, where Catalyst's interpreted higher-order fold dominates.
    Returns the fold's exact doubles (:func:`fold_dot`); a batch holding
    a null or ragged row takes the per-row fold. Prefer ``dot`` for small
    workloads: it keeps Python out of the path."""
    from pyspark.sql.functions import arrow_udf

    def _adot(x: pa.Array, y: pa.Array) -> pa.Array:
        X, Y = _matrix(x), _matrix(y)
        if X is None or Y is None or X.shape != Y.shape:
            return pa.array(
                [_fold_py(p, q) for p, q in zip(x.to_pylist(), y.to_pylist())],
                pa.float64(),
            )
        out = np.empty(len(X))
        for lo in range(0, len(X), _PAIR_BLOCK_ROWS):
            hi = lo + _PAIR_BLOCK_ROWS
            out[lo:hi] = fold_dot(X[lo:hi], Y[lo:hi])
        return pa.array(out)

    return arrow_udf(_adot, "double")(as_double(a), as_double(b))


def cell_ranks(centroids, depth: int):
    """Column factory: ``array<int>`` of the ``depth`` nearest cells per
    vector, ranked by the IVF assignment score ``c·c − 2·(e·c)`` with
    ties by cell — the order of a window ``ORDER BY s, cell`` over the
    fold-scored (vector × centroid) cross join, computed inside Arrow
    batches instead of as one row per (vector, cell). Scores come from
    :func:`fold_dot`, so the ranks are those of the fold form. The fold
    scores a null, ragged or null-holding vector null against every
    cell, and a window puts tied nulls in cell order, so such a vector
    gets the first ``depth`` cells. The centroids ride in the UDF
    closure."""
    from pyspark.sql.functions import arrow_udf

    C = np.asarray(centroids, dtype=np.float64)
    k, d = C.shape
    cc = fold_dot(C, C)
    depth = min(depth, k)
    block = max(1, _SCORE_BLOCK // k)

    def _rank_rows(Q):
        out = np.empty((len(Q), depth), dtype=np.int32)
        for lo in range(0, len(Q), block):
            s = cc - 2.0 * fold_dot(Q[lo:lo + block, None, :], C[None, :, :])
            out[lo:lo + block] = np.argsort(s, axis=1, kind="stable")[:, :depth]
        return out

    def _ranks(e: pa.Array) -> pa.Array:
        Q = _matrix(e)
        if Q is not None and Q.shape[1] == d:
            ranks = _rank_rows(Q)
        else:
            ranks = np.array(
                [_rank_rows(np.array([r]))[0]
                 if r is not None and len(r) == d and None not in r
                 else np.arange(depth) for r in e.to_pylist()],
                dtype=np.int32,
            ).reshape(-1, depth)
        offsets = np.arange(0, ranks.size + 1, depth, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, pa.array(ranks.ravel()))

    return arrow_udf(_ranks, "array<int>")
