"""Multi-dimensional clustering keys: Z-order (Morton) + Hilbert.

The reference rejected hash partitioning for having "no query
optimization benefits" and leaned on composite DESC indexes instead
(``meta/adr/ADR-020:37-39``, ``apps/db-compiler/schema/duckdb_schema.sql:
248-277``). Spark has no secondary indexes, so the engine clusters data
files by a space-filling curve over (source-code, n_tok, xxhash64(doc_id))
and records per-file key ranges in the manifest — the lakehouse analog of
an index.

These are the ONLY Python kernels in the engine (north rule: zero
per-row Python). They are Arrow-batched pandas UDFs over numpy uint64
bit-twiddling; everything upstream (hashing, scaling, clamping) stays
JVM-side. The Morton spread uses the standard magic-constant bit
dilation; the Hilbert transform is Skilling's public-domain
AxesToTranspose (J. Skilling, "Programming the Hilbert curve", 2004).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# ---------------------------------------------------------------- morton


def _spread2(x: np.ndarray) -> np.ndarray:
    """Dilate 31 bits so there is a 0 between consecutive bits."""
    x = x & np.uint64(0x7FFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def morton2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return _spread2(a) | (_spread2(b) << np.uint64(1))


# ---------------------------------------------------------------- hilbert


def hilbert_index(coords: np.ndarray, bits: int) -> np.ndarray:
    """Vectorized Skilling transform: (n, d) uint64 coords → hilbert key.

    Loops over bits×dims (≤ 63 iterations), each step a full-array numpy
    op — O(rows) work per batch, no per-row Python.
    """
    x = coords.astype(np.uint64).copy()
    n, d = x.shape
    m = np.uint64(1) << np.uint64(bits - 1)

    q = m
    while q > np.uint64(1):
        p = q - np.uint64(1)
        for i in range(d):
            mask = (x[:, i] & q) != 0
            x[mask, 0] ^= p
            nm = ~mask
            t = (x[nm, 0] ^ x[nm, i]) & p
            x[nm, 0] ^= t
            x[nm, i] ^= t
        q >>= np.uint64(1)

    for i in range(1, d):
        x[:, i] ^= x[:, i - 1]
    t = np.zeros(n, dtype=np.uint64)
    q = m
    while q > np.uint64(1):
        mask = (x[:, d - 1] & q) != 0
        t[mask] ^= q - np.uint64(1)
        q >>= np.uint64(1)
    for i in range(d):
        x[:, i] ^= t

    # interleave the transposed representation into one integer:
    # output bit (b*d + (d-1-i)) comes from bit b of x[:, i]
    out = np.zeros(n, dtype=np.uint64)
    for b in range(bits - 1, -1, -1):
        for i in range(d):
            out = (out << np.uint64(1)) | ((x[:, i] >> np.uint64(b)) & np.uint64(1))
    return out


# ------------------------------------------------------------- UDF layer


def _scale_to_bits(v: np.ndarray, lo: float, hi: float, bits: int) -> np.ndarray:
    """Min-max scale float64 → uint64 in [0, 2^bits)."""
    span = max(hi - lo, 1e-12)
    frac = np.clip((v.astype(np.float64) - lo) / span, 0.0, 1.0)
    return (frac * float((1 << bits) - 1)).astype(np.uint64)


CURVES = ("zorder", "hilbert")
# the n_tok range every curve scales onto its axis (values outside clamp)
N_TOK_LO, N_TOK_HI = 0, 4096


def zkey_np(
    curve: str, n_tok: np.ndarray, hash_hi31: np.ndarray, lo: int = N_TOK_LO, hi: int = N_TOK_HI
) -> np.ndarray:
    """THE cluster-key kernel: int64 keys of ``curve`` over (n_tok, the
    top 31 bits of xxhash64(doc_id)). The pandas UDF and the compaction
    planner (which evaluates it on the manifest's per-file samples) both
    call it. Morton takes the hash's 31 bits; Hilbert takes its top 21
    (``hash_hi31 >> 10``)."""
    if curve not in CURVES:
        raise ValueError(f"unknown curve {curve!r}")
    bits = 31 if curve == "zorder" else 21
    a = _scale_to_bits(n_tok, lo, hi, bits)
    b = hash_hi31.astype(np.uint64) >> np.uint64(31 - bits)
    if curve == "zorder":
        key = morton2(a, b)
    else:
        key = hilbert_index(np.stack([a, b], axis=1), bits)
    # shift into signed-positive range for a LongType column
    return (key >> np.uint64(1)).astype(np.int64)


def zkey_udf(curve: str = "zorder", n_tok_lo: int = N_TOK_LO, n_tok_hi: int = N_TOK_HI):
    """Factory: pandas UDF computing the 2D cluster key within a `source`
    partition from (n_tok, xxhash64(doc_id)).

    `source` is the leading physical dimension (the Hive partition dir),
    so inside a partition the curve covers (n_tok, doc-hash): queries that
    range-filter n_tok prune files via manifest zmin/zmax; the doc-hash
    axis spreads rows evenly over the curve so range cuts balance file
    sizes (MERGE prunes by the manifest's doc_id range, not the hash).
    """

    @pandas_udf(LongType())
    def _zkey(n_tok: pd.Series, doc_hash: pd.Series) -> pd.Series:
        h = doc_hash.to_numpy().astype(np.int64).view(np.uint64)
        return pd.Series(zkey_np(curve, n_tok.to_numpy(), h >> np.uint64(33), n_tok_lo, n_tok_hi))

    return _zkey


def _spread2_expr(x: Column) -> Column:
    """JVM mirror of :func:`_spread2`: dilate 31 bits with interleaved 0s.
    Pure shift/mask Column ops — stays inside whole-stage codegen."""
    x = x.bitwiseAND(F.lit(0x7FFFFFFF))
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zkey_expr_zorder(
    n_tok: Column, doc_hash: Column, n_tok_lo: int = N_TOK_LO, n_tok_hi: int = N_TOK_HI
) -> Column:
    """Morton Z-key as a native Column expression — bit-exact with the
    Arrow kernel (asserted in tests/test_zorder.py) but with ZERO Python
    in the plan: no Python-worker spawn, no Arrow IPC, and the expression
    fuses into the same codegen stage as the shuffle write. Matters for
    scaling: worker spawn + per-batch IPC are per-TASK fixed costs, and
    the 4N-executor level runs 4× the tasks, so a Python stage taxes the
    bigger cluster disproportionately (measured in BENCH.md round 2).

    Float path mirrors numpy exactly: clip((v-lo)/span, 0, 1) in float64,
    × (2³¹−1), truncate-toward-zero (Spark double→long cast ≡ numpy
    astype) — identical IEEE754 ops → identical keys."""
    bits = 31
    span = max(n_tok_hi - n_tok_lo, 1e-12)
    frac = F.least(
        F.greatest((n_tok.cast("double") - F.lit(float(n_tok_lo))) / F.lit(span), F.lit(0.0)),
        F.lit(1.0),
    )
    a = (frac * F.lit(float((1 << bits) - 1))).cast("long")
    b = F.shiftrightunsigned(doc_hash, 64 - bits)  # uint64-view >> 33
    key = _spread2_expr(a).bitwiseOR(F.shiftleft(_spread2_expr(b), 1))
    return F.shiftrightunsigned(key, 1)  # signed-positive, as the kernel


def with_zkey(
    df, curve: str = "zorder", n_tok_lo: int = N_TOK_LO, n_tok_hi: int = N_TOK_HI
) -> Column:
    """Attach the cluster key column ``_zkey``.

    The default Morton curve is a pure JVM expression
    (:func:`zkey_expr_zorder`); Hilbert keeps the Arrow kernel (its
    bit×dim iteration doesn't reduce to a fixed expression tree). An
    unknown curve raises here, on the driver, before any plan exists."""
    if curve not in CURVES:
        raise ValueError(f"unknown curve {curve!r}")
    if curve == "zorder":
        return df.withColumn(
            "_zkey", zkey_expr_zorder(F.col("n_tok"), F.xxhash64(F.col("doc_id")), n_tok_lo, n_tok_hi)
        )
    udf = zkey_udf(curve, n_tok_lo, n_tok_hi)
    return df.withColumn("_zkey", udf(F.col("n_tok"), F.xxhash64(F.col("doc_id"))))
