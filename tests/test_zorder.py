"""Kernel unit tests with exact-value asserts (the reference's style in
``libs/hoopstat-data/tests/test_transforms.py``)."""

import numpy as np

from hoopstat_haus_spark.lakehouse.zorder import (
    _scale_to_bits,
    hilbert_index,
    morton2,
)


def test_morton2_exact_values():
    a = np.array([0b0000, 0b1111, 0b1010, 1], dtype=np.uint64)
    b = np.array([0b0000, 0b0000, 0b0101, 1], dtype=np.uint64)
    out = morton2(a, b)
    # interleave: bit i of a -> bit 2i, bit i of b -> bit 2i+1
    assert out[0] == 0
    assert out[1] == 0b01010101
    assert out[2] == 0b01100110  # a=1010,b=0101 -> MSB pairs (b_i,a_i): 01 10 01 10
    assert out[3] == 0b11


def test_morton2_orders_by_high_bits():
    # points close in both dims are close in Z; far in one dim dominates
    a = np.array([0, 1, 2, 1 << 30], dtype=np.uint64)
    b = np.array([0, 0, 0, 0], dtype=np.uint64)
    out = morton2(a, b)
    assert list(np.argsort(out)) == [0, 1, 2, 3]


def test_hilbert_bijective_on_small_grid():
    bits = 4
    n = 1 << bits
    xs, ys = np.meshgrid(np.arange(n, dtype=np.uint64), np.arange(n, dtype=np.uint64))
    coords = np.stack([xs.ravel(), ys.ravel()], axis=1)
    keys = hilbert_index(coords, bits)
    assert len(set(keys.tolist())) == n * n  # bijection
    assert keys.min() == 0 and keys.max() == n * n - 1


def test_hilbert_unit_steps_are_adjacent():
    """Consecutive Hilbert indices must be grid neighbors (curve property
    Z-order lacks) — the reason it's the skew-robust fallback."""
    bits = 4
    n = 1 << bits
    xs, ys = np.meshgrid(np.arange(n, dtype=np.uint64), np.arange(n, dtype=np.uint64))
    coords = np.stack([xs.ravel(), ys.ravel()], axis=1)
    keys = hilbert_index(coords, bits)
    order = np.argsort(keys)
    pts = coords[order].astype(np.int64)
    d = np.abs(np.diff(pts, axis=0)).sum(axis=1)
    assert (d == 1).all()


def test_scale_to_bits_clamps_and_spans():
    v = np.array([-5.0, 0.0, 512.0, 1e9])
    out = _scale_to_bits(v, 0, 512, 8)
    assert out[0] == 0 and out[1] == 0
    assert out[2] == 255 and out[3] == 255


def test_jvm_zkey_expr_matches_arrow_kernel(spark):
    """The production Morton path is a native Column expression; it must
    stay bit-exact with the Arrow kernel across clamp edges and the full
    signed hash range."""
    from pyspark.sql import functions as F

    from hoopstat_haus_spark.lakehouse.zorder import zkey_expr_zorder, zkey_udf

    df = spark.range(0, 100000).select(
        (F.pmod(F.col("id") * 7919, F.lit(6000)) - F.lit(500)).cast("int").alias("n_tok"),
        F.xxhash64(F.col("id").cast("string")).alias("h"),
    )
    udf = zkey_udf("zorder", 0, 4096)
    mism = (
        df.select(
            zkey_expr_zorder(F.col("n_tok"), F.col("h"), 0, 4096).alias("jvm"),
            udf(F.col("n_tok"), F.col("h")).alias("arrow"),
        )
        .filter(F.col("jvm") != F.col("arrow"))
        .count()
    )
    assert mism == 0


def test_mixed_curve_compaction_disjoint_tagged_and_lossless(spark, tmp_path):
    """One partition compacts on Hilbert, the rest on Morton (the
    maint_compact_scan gate shape): per-partition z-ranges must be
    disjoint under EACH curve, and the token payload must survive
    bit-exact."""
    from pyspark.sql import functions as F

    from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
    from hoopstat_haus_spark.tables import synthetic, token_sig

    pol = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=2 << 20, max_file_bytes=4 << 20)
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 8000), repartition_n=8)
    pre = sorted(tuple(r) for r in t.scan().select("doc_id", token_sig("tokens").alias("s")).collect())
    parts = sorted({e["partition"] for e in t.manifest_entries()})
    assert len(parts) >= 2
    snap_h, _ = t.compact(pol, curve="hilbert", sources=[parts[0]])
    assert snap_h is not None
    snap_z, _ = t.compact(pol)
    assert snap_z is not None

    entries = t.manifest_entries()
    by_part: dict[str, list[dict]] = {}
    for e in entries:
        by_part.setdefault(e["partition"], []).append(e)
    assert set(by_part) == set(parts)
    for part, es in by_part.items():
        want = "hilbert" if part == parts[0] else "zorder"
        ranges = sorted((e["zmin"], e["zmax"]) for e in es)
        assert all(zmin >= 0 for zmin, _ in ranges)
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
            assert b_lo > a_hi, f"overlapping {want} ranges in {part}"

    post = sorted(tuple(r) for r in t.scan().select("doc_id", token_sig("tokens").alias("s")).collect())
    assert pre == post
