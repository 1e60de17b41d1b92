"""Worker-side numpy kernels of the exact quantized cosine.

The format: elements rounded to 7 decimal places, half away from zero
(a ``decimal(9,7)`` cast), and scaled to integers; dot products and
squared norms are exact integer sums carried in float64, and the final
divide and sqrt are single correctly-rounded IEEE ops, so numpy, Spark
and DuckDB produce bit-identical doubles. The sums stay exact while
``dim * max|Qa| * max|Qb| < 2**53`` (|x| < 1.18 at 64 dims; the
provisioned embeddings stay below 0.6); past that the product helpers
raise ``ValueError`` instead of summing inexactly.

Shipping rule: Arrow and ``applyInPandas`` kernels run in Python
workers that may not be able to import this package (an external
driver can host the session without it on their path), and cloudpickle
pickles package functions by reference. This module, which imports
numpy only, registers itself to be pickled by value, so kernel closures
may call it; a closure must call no other module of the package.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle

# PySpark's vendored cloudpickle is the one its UDF serializer uses.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def quantize(X, scale=1e7):
    """``X * scale`` rounded to integers, half away from zero, as the
    SQL decimal casts round; np.rint's half-to-even diverges on dyadic
    floats that land on the .5 boundary (e.g. 0.12890625 at 7dp)."""
    return np.floor(np.abs(X) * scale + 0.5) * np.sign(X)


def stack_rows(cells):
    """Equal-length ``array<double>`` cells as a float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in cells])


def _check_exact(Qa, Qb):
    if Qa.size and Qb.size:
        bound = Qa.shape[1] * np.abs(Qa).max() * np.abs(Qb).max()
        if bound >= 2.0**53:
            raise ValueError(
                f"quantized dot products leave the exact float64 range: "
                f"dim * max|Qa| * max|Qb| = {bound:.4g} >= 2**53"
            )


def rowdot(Qa, Qb):
    """Exact row-wise dot products of two integer-valued matrices."""
    _check_exact(Qa, Qb)
    return np.einsum("ij,ij->i", Qa, Qb)


def gram(Qa, Qb):
    """Exact (rows_a x rows_b) dot-product matrix, one BLAS matmul."""
    _check_exact(Qa, Qb)
    return Qa @ Qb.T


def norms(Q):
    """Euclidean norms of 7dp-quantized rows, in original units."""
    return np.sqrt(rowdot(Q, Q) / 1e14)


def qcosine(A, B):
    """Unrounded row-wise cosine of two equal-shape float matrices."""
    Qa, Qb = quantize(A), quantize(B)
    return (rowdot(Qa, Qb) / 1e14) / (norms(Qa) * norms(Qb))


def cosine_matrix(A, B):
    """Unrounded cosine of every row of ``A`` against every row of
    ``B``; each entry is bit-identical to ``qcosine`` of the pair."""
    Qa, Qb = quantize(A), quantize(B)
    return (gram(Qa, Qb) / 1e14) / np.outer(norms(Qa), norms(Qb))


def nearest_cells(X, C, n):
    """Each row's ``n`` highest-cosine rows of ``C``, best first, as
    int32; iterated argmax, so ties go to the lowest index."""
    cos = cosine_matrix(X, C)
    picks = []
    for _ in range(min(n, cos.shape[1])):
        best = cos.argmax(axis=1)
        picks.append(best)
        cos[np.arange(len(best)), best] = -np.inf
    return np.stack(picks, axis=1).astype("int32")


def pq_quantize(cells):
    """Normalize-then-requantize for PQ: 7dp quantization, exact
    integer norm, one IEEE sqrt and divide, 7dp quantization again.
    ``max(n, 1)`` only rewrites the all-zero row (a quantized norm is
    an integer), which stays zero instead of becoming 0/0 NaN."""
    Q1 = quantize(stack_rows(cells))
    n = np.sqrt(rowdot(Q1, Q1))
    return quantize(Q1 / np.maximum(n, 1.0)[:, None])


def pq_distances(Q, CB, m_sub):
    """Squared L2 distances of each row's ``m_sub`` subvectors to the
    codebook's, as (rows x m_sub x codes); exact, since normalized rows
    keep every term far below 2**53."""
    d = Q.shape[1] // m_sub
    subs = [slice(m * d, (m + 1) * d) for m in range(m_sub)]
    return np.stack(
        [((Q[:, None, s] - CB[None, :, s]) ** 2).sum(-1) for s in subs], axis=1
    )


def lsh_planes(seed, n_tables, n_planes, dim):
    """The LSH hyperplanes at 6dp: PCG64 streams ``seed + t`` of
    (n_planes x dim) standard normals, one per table, stacked."""
    planes = np.concatenate(
        [
            np.random.default_rng(seed + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    )
    return quantize(planes, 1e6)
