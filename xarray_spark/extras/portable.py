"""Engine-portable deterministic hashing for oracle-checkable dedup/ANN.

The fast paths in ``dedup``/``similarity`` use ``xxhash64`` and float
hyperplanes — engine-specific, so the driver's DuckDB oracle can only do
rows-only checks on them.  This module defines hash primitives computable
BIT-FOR-BIT identically in PySpark, DuckDB SQL, and plain Python:

- ``md5_long``: first 15 hex chars of md5 → non-negative 60-bit BIGINT.
  Spark: ``conv(substring(md5(x), 1, 15), 16, 10)``;
  DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``;
  Python: ``int(hashlib.md5(x).hexdigest()[:15], 16)``.
- universal permutation hashes ``(a_i * h + b_i) mod 2^31-1`` with
  coefficients themselves md5-derived (no RNG state to replicate);
  products stay < 2^62 so 64-bit engines agree without overflow.
- quantized integer hyperplanes: coefficients in [-1000, 1000] from
  md5, vectors quantized by ``floor(x * 1e6)`` (floor, not round —
  round-half ties differ between engines; floor is IEEE-exact in both).
  The signature bit is the sign of an exact INTEGER dot product, so
  bucket membership is deterministic across engines, unlike float dots
  whose summation order flips signs near zero.

These are the *verification* variants; the xxhash64 paths remain the
production default (one JVM hash vs an md5 + string conv per token).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1 — universal-hash modulus small enough that
#: (a * h + b) stays below 2^62 in 64-bit signed arithmetic.
PRIME31 = 2_147_483_647


def _md5_int(s: str) -> int:
    """First 60 bits of md5 as a Python int (driver-side twin of
    ``md5_long``) — used to derive coefficients, never applied to data."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def md5_long(col: Column) -> Column:
    """60-bit non-negative BIGINT from md5 — Spark side."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5_long(expr: str) -> str:
    """Same value in DuckDB SQL."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def perm_coeffs(k: int) -> list[tuple[int, int]]:
    """k universal-hash coefficient pairs (a in [1, P-1], b in [0, P-1]),
    md5-derived so the oracle SQL can inline the same literals."""
    return [
        (_md5_int(f"perm-a-{i}") % (PRIME31 - 1) + 1,
         _md5_int(f"perm-b-{i}") % PRIME31)
        for i in range(k)
    ]


def plane_coeffs(n_planes: int, dim: int) -> list[list[int]]:
    """Integer hyperplane coefficients in [-1000, 1000], md5-derived
    position-wise (plane index is FLAT: callers banding L tables of r
    planes each use indices 0..L*r-1)."""
    return [
        [_md5_int(f"plane-{p}-{j}") % 2001 - 1000 for j in range(dim)]
        for p in range(n_planes)
    ]


def quantize_vec(vec: Column) -> Column:
    """floor(x * 1e6) per element as BIGINT — exact and identical in
    Spark and DuckDB (float→double is exact; double*1e6 and floor are
    IEEE-deterministic; no round-half ambiguity)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long")
    )


SQL_QUANTIZE = "list_transform({v}, x -> floor(x::DOUBLE * 1000000)::BIGINT)"


def int_dot(qvec: Column, plane: list[int]) -> Column:
    """Exact integer dot product of a quantized vector with an integer
    plane: |sum| ≤ dim · 1e6·|x|max · 1000 — far below 2^63 for unit-ish
    embeddings, and addition order cannot change an integer sum."""
    arr = F.array(*[F.lit(int(c)).cast("long") for c in plane])
    return F.aggregate(
        F.zip_with(qvec, arr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int_signature(vec: Column, planes: list[list[int]]) -> Column:
    """Sign-bit LSH bucket id over integer planes: bit i = (v·p_i) > 0."""
    if len(planes) > 62:
        raise ValueError("int_signature packs bits into a signed 64-bit "
                         f"bucket id; {len(planes)} planes would overflow")
    qv = quantize_vec(vec)
    sig = None
    for i, p in enumerate(planes):
        bit = F.when(int_dot(qv, p) > 0, F.lit(1 << i).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return sig


def centroid_coeffs(n_cells: int, dim: int) -> list[list[int]]:
    """Fixed integer centroids in quantized-embedding space (coeff in
    [-1000, 1000] scaled by 1000 → the floor(x*1e6) range of unit-ish
    embeddings), md5-derived position-wise.  NOT a trained codebook —
    these verify the IVF *query path* (assignment, probing, re-rank)
    against a SQL oracle; production codebooks come from ivf_fit."""
    return [
        [(_md5_int(f"cell-{c}-{j}") % 2001 - 1000) * 1000 for j in range(dim)]
        for c in range(n_cells)
    ]


def pq_codebook(m: int, k: int, d_sub: int) -> list:
    """Fixed integer PQ codebooks: ``m`` subquantizers × ``k`` codes ×
    ``d_sub`` dims, entries md5-derived in the quantized-embedding range
    ([-1000, 1000]·1000 — the floor(x·1e6) scale of unit-ish vectors).
    NOT trained — these verify the PQ *query path* (encode, ADC rank)
    bit-for-bit against a SQL oracle; production codebooks come from
    k-means over subvector samples (same bounded-sample recipe as
    ivf_fit)."""
    return [
        [[(_md5_int(f"pq-{s}-{c}-{j}") % 2001 - 1000) * 1000
          for j in range(d_sub)]
         for c in range(k)]
        for s in range(m)
    ]


def sql_pq_entry(s_expr: str, c_expr: str, j_expr: str) -> str:
    """The same PQ codebook entry inside DuckDB SQL."""
    h = sql_md5_long(f"'pq-' || ({s_expr}) || '-' || ({c_expr}) || '-' || ({j_expr})")
    return f"(({h} % 2001 - 1000) * 1000)"
