"""Exact-value planner tests, mirroring the reference's
``test_partitioning.py`` coverage of its 5/25/50 MB policy."""

import pytest

from hoopstat_haus_spark.lakehouse.compaction import (
    CompactionPolicy,
    output_file_count,
    plan_compaction,
)

MB = 1024 * 1024


def entry(path, part, size, zmin=0):
    return {
        "file_path": path,
        "partition": part,
        "file_bytes": size,
        "row_count": 10,
        "token_count": 100,
        "zmin": zmin,
        "zmax": zmin + 10,
        "min_n_tok": 1,
        "max_n_tok": 9,
        "min_doc_id": "a",
        "max_doc_id": "z",
    }


POLICY = CompactionPolicy(min_file_bytes=5 * MB, target_file_bytes=25 * MB, max_file_bytes=50 * MB)


def paths(files):
    return [f["file_path"] for f in files]


def test_well_sized_clustered_files_left_alone():
    entries = [entry("f1", "web", 25 * MB), entry("f2", "web", 30 * MB)]
    assert plan_compaction(entries, POLICY) == {}


def test_small_files_are_all_candidates():
    sizes = [4, 4, 4, 4, 4, 4, 3, 3]  # MB, all < 5MB min -> candidates
    entries = [entry(f"f{i}", "web", s * MB) for i, s in enumerate(sizes)]
    entries.append(entry("ok", "web", 25 * MB))
    plans = plan_compaction(entries, POLICY)
    assert paths(plans["web"]) == [f"f{i}" for i in range(len(sizes))]
    assert output_file_count(sum(f["file_bytes"] for f in plans["web"]), POLICY) == 2


def test_oversized_file_gets_own_split_group():
    entries = [entry("big", "web", 120 * MB), entry("ok", "web", 25 * MB)]
    plans = plan_compaction(entries, POLICY)
    assert paths(plans["web"]) == ["big"]
    assert output_file_count(120 * MB, POLICY) == 5


def test_single_small_file_not_worth_rewriting():
    entries = [entry("lonely", "web", 1 * MB)]
    assert plan_compaction(entries, POLICY) == {}


def test_unclustered_files_are_candidates_when_clustering_required():
    entries = [entry("f1", "web", 25 * MB, zmin=-1), entry("f2", "web", 25 * MB, zmin=-1)]
    plans = plan_compaction(entries, POLICY)
    assert set(paths(plans["web"])) == {"f1", "f2"}


def test_partitions_planned_independently():
    entries = [
        entry("w1", "web", 1 * MB),
        entry("w2", "web", 1 * MB),
        entry("b1", "books", 1 * MB),
        entry("b2", "books", 1 * MB),
    ]
    plans = plan_compaction(entries, POLICY)
    assert set(plans) == {"web", "books"}
    assert all(f["partition"] == p for p, files in plans.items() for f in files)


class TestSketchBounds:
    """Metadata-only bounds planning (manifest zq sketches)."""

    def test_stats_emit_sorted_sketch(self, spark, tmp_path):
        from hoopstat_haus_spark.lakehouse import manifest as mf
        from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
        from hoopstat_haus_spark.tables import synthetic

        t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 4000), repartition_n=6)
        for e in t.manifest_entries():
            zq = e["zq"]
            # sampled sketch: up to GRID-1 points (fewer for small files)
            assert zq is not None and 1 <= len(zq) <= mf.ZQ_GRID - 1
            assert zq == sorted(zq)
            # unclustered ingest: pruning sentinel untouched
            assert e["zmin"] == -1 and e["zmax"] == -1

    def test_grid_truncation_is_executor_side_and_bit_identical(self, spark):
        """Round-5 scale fix: the ≤31-point grid truncation runs INSIDE the
        agg's output projection (bounded driver traffic: each manifest row
        ships ≤ ZQ_GRID−1 longs no matter the file size), and must pick
        bit-identical points to the former driver-side Python
        ``zs[min(n-1, i*n//ZQ_GRID)]``."""
        import pyspark.sql.functions as F

        from hoopstat_haus_spark.lakehouse import manifest as mf

        cases = [0, 1, 5, mf.ZQ_GRID - 1, mf.ZQ_GRID, mf.ZQ_GRID + 1, 100, 1000, 17001]
        arrays = [[i * 7 + (i % 3) for i in range(n)] for n in cases]
        rows = (
            spark.createDataFrame([(a,) for a in arrays], "zs array<long>")
            .select(mf._zq_grid_expr(F.col("zs")).alias("zq"), F.size("zs").alias("n"))
            .collect()
        )
        got = {r["n"]: r["zq"] for r in rows}
        for a in arrays:
            n = len(a)
            if n > mf.ZQ_GRID - 1:
                want = [a[min(n - 1, (i * n) // mf.ZQ_GRID)] for i in range(1, mf.ZQ_GRID)]
            else:
                want = a
            assert got[n] == want, n
            assert len(got[n]) <= mf.ZQ_GRID - 1

    def test_stats_agg_row_width_is_bounded(self, spark, tmp_path):
        """Pin that compute_file_stats never collects a row wider than the
        grid: every zq list (including the tiny-file second pass) is
        ≤ ZQ_GRID−1 points even when the file's sample is much larger."""
        from hoopstat_haus_spark.lakehouse import manifest as mf
        from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
        from hoopstat_haus_spark.tables import synthetic

        # one big file: 40k rows → ~2.5k sampled keys ≫ grid
        t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 40000), repartition_n=1)
        stats = mf.compute_file_stats(spark, t.path, [e["file_path"] for e in t.manifest_entries()])
        assert stats
        for d in stats:
            assert d["zq"] is not None and len(d["zq"]) <= mf.ZQ_GRID - 1

    @pytest.mark.parametrize("curve", ["zorder", "hilbert"])
    def test_sketch_bounds_match_exact_quantiles(self, spark, tmp_path, curve):
        """Driver-side cuts merged from the per-file samples must land
        close to the exact quantiles of the curve's keys, under either
        curve, on unclustered ingest: each boundary within a small mass
        fraction of its target."""
        import numpy as np

        from hoopstat_haus_spark.lakehouse import compaction as C
        from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
        from hoopstat_haus_spark.lakehouse.zorder import with_zkey
        from hoopstat_haus_spark.tables import synthetic

        t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 12000), repartition_n=12)
        entries = [e for e in t.manifest_entries() if e["partition"] == "web"]
        assert len(entries) >= 4
        n_out = 6
        sk = C._bounds_from_sketches(entries, n_out, curve)
        assert len(sk) == n_out - 1
        assert sk == sorted(sk)
        # exact quantiles of the true key distribution for comparison
        df = t.scan().filter("source = 'web'")
        zk = with_zkey(df.select("source", "doc_id", "n_tok"), curve=curve).select("_zkey")
        keys = np.array([r[0] for r in zk.collect()])
        for j, b in enumerate(sk, start=1):
            below = int((keys <= b).sum())
            # each cut's realized mass within 6% of its target mass
            assert abs(below / len(keys) - j / n_out) < 0.06, (j, below / len(keys))


class TestCurveTaggedSketches:
    """The samples hold the curve INPUTS, so any curve plans from them,
    whatever curve (if any) clustered the files."""

    def test_hilbert_sketches_plan_metadata_only(self, spark, tmp_path):
        """A Hilbert compaction of a Hilbert-compacted table plans its
        bounds from the manifest alone: no SparkSession is passed in."""
        from hoopstat_haus_spark.lakehouse import compaction as C
        from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
        from hoopstat_haus_spark.tables import synthetic

        t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 6000), repartition_n=8)
        pol = C.CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=2 << 20, max_file_bytes=4 << 20)
        snap, _ = t.compact(pol, curve="hilbert")
        assert snap is not None
        entries = t.manifest_entries()
        assert entries and all(e["zmin"] >= 0 for e in entries)

        units: dict[str, list[dict]] = {}
        for e in entries:
            units.setdefault(e["partition"], []).append(e)
        n_out = {p: 3 for p in units}
        bounds = C.plan_unit_bounds(units, n_out, curve="hilbert")
        assert set(bounds) == set(units)
        for b in bounds.values():
            assert len(b) == 2 and b == sorted(b)

    def test_curve_mismatch_plans_from_metadata(self, spark, tmp_path):
        """Morton-written entries give Hilbert cuts: a Morton-compacted
        partition's samples, evaluated under Hilbert, yield n_out−1
        sorted cuts inside the Hilbert key domain (2·21 bits, shifted
        right once), not Morton keys."""
        from hoopstat_haus_spark.lakehouse import compaction as C
        from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
        from hoopstat_haus_spark.tables import synthetic

        t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 4000), repartition_n=6)
        pol = C.CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=2 << 20, max_file_bytes=4 << 20)
        assert t.compact(pol)[0] is not None
        entries = [e for e in t.manifest_entries() if e["partition"] == "web"]
        assert entries and all(e["zmin"] >= 0 for e in entries)
        morton = C._bounds_from_sketches(entries, 4, "zorder")
        hilbert = C._bounds_from_sketches(entries, 4, "hilbert")
        for b in (morton, hilbert):
            assert len(b) == 3 and b == sorted(b)
        assert all(0 <= b < 1 << 41 for b in hilbert)
        assert hilbert != morton

    def test_curve_mismatch_bounds_every_unit(self, spark, tmp_path):
        """Hilbert over Morton-written ingest gives EVERY unit n_out−1
        sorted cuts, from the driver alone: a unit wanting 100 files, and
        a unit of 1-row files none of whose rows the 1/16 sample draw
        keeps (each file's sample is then its one row)."""
        from pyspark.sql import functions as F

        from hoopstat_haus_spark.lakehouse import compaction as C
        from hoopstat_haus_spark.lakehouse import manifest as mf
        from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
        from hoopstat_haus_spark.tables import synthetic

        docs = synthetic(spark, 4000)
        t = TokenLakeTable.create(spark, str(tmp_path / "t"), docs, repartition_n=6)
        unsampled = (
            docs.filter("source = 'web'")
            .filter(F.pmod(F.xxhash64("doc_id", F.lit(13)), F.lit(mf.ZQ_SAMPLE_MOD)) != 0)
            .withColumn("source", F.lit("tiny"))
            .limit(4)
            .collect()
        )
        # one row per slice → one 1-row file per row
        rows = spark.sparkContext.parallelize(unsampled, len(unsampled))
        t.append(spark.createDataFrame(rows, docs.schema))

        units: dict[str, list[dict]] = {}
        for e in t.manifest_entries():
            units.setdefault(e["partition"], []).append(e)
        assert len(units["tiny"]) == 4
        assert all(e["row_count"] == 1 and len(e["zq"]) == 1 for e in units["tiny"])
        n_out = {"web": 100, "tiny": 3}
        units = {p: units[p] for p in n_out}
        bounds = C.plan_unit_bounds(units, n_out, curve="hilbert")
        assert set(bounds) == set(units)
        for p, b in bounds.items():
            assert len(b) == n_out[p] - 1 and b == sorted(b), p
