"""Compaction curve variants (Hilbert, mixed-curve single cycle) +
incremental snapshot-diff planning."""

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
KB = 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=4 * MB, max_file_bytes=8 * MB)
# below the smallest source's bytes: every unit writes ≥ 2 range-cut files
SMALL = CompactionPolicy(min_file_bytes=32 * KB, target_file_bytes=96 * KB, max_file_bytes=192 * KB)
POLICIES = pytest.mark.parametrize("policy, min_out", [(POLICY, 1), (SMALL, 2)], ids=["4mb", "96kb"])


def sigs(t, **kw):
    return sorted(tuple(r) for r in t.scan(**kw).select("doc_id", token_sig(F.col("tokens")).alias("s")).collect())


def ranges_by_partition(t) -> dict[str, list[tuple[int, int]]]:
    by_part: dict[str, list] = {}
    for e in t.manifest_entries():
        by_part.setdefault(e["partition"], []).append((e["zmin"], e["zmax"]))
    return {p: sorted(r) for p, r in by_part.items()}


@POLICIES
def test_hilbert_curve_compaction(spark, tmp_table_dir, policy, min_out):
    """Hilbert over unclustered ingest: bounds come from the manifest
    samples evaluated under Hilbert, and every unit is still range-cut."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 6000), repartition_n=8)
    pre = sigs(t)
    snap, m = t.compact(policy, curve="hilbert")
    assert snap is not None and sigs(t) == pre
    assert m.files_out >= min_out * m.partitions
    for ranges in ranges_by_partition(t).values():
        assert len(ranges) >= min_out
        for a, b in zip(ranges, ranges[1:]):
            assert b[0] > a[1]  # hilbert keys also range-disjoint per file


@POLICIES
def test_mixed_curve_single_cycle_compaction(spark, tmp_table_dir, policy, min_out):
    """Round-5: curve_by_source compacts a mixed-layout table in ONE
    cycle — one snapshot commit, token equality, and file-range
    disjointness under each curve."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 8000), repartition_n=8)
    pre = sigs(t)
    pre_snap = t.log.current_id()
    parts = sorted({e["partition"] for e in t.manifest_entries()})
    hil = parts[0]
    snap, m = t.compact(policy, curve_by_source={hil: "hilbert"})
    assert snap is not None and sigs(t) == pre
    # exactly ONE commit for the whole mixed-curve cycle
    assert snap.snapshot_id == pre_snap + 1
    assert snap.summary["curve_by_source"] == {hil: "hilbert"}
    assert m.files_out >= min_out * m.partitions
    for ranges in ranges_by_partition(t).values():
        assert len(ranges) >= min_out
        for a, b in zip(ranges, ranges[1:]):
            assert b[0] > a[1]  # per-partition disjointness under BOTH curves


def test_changed_partitions_since(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 3000), repartition_n=4)
    v1 = t.log.current_id()
    upd = synthetic(spark, 3000).filter("source = 'wiki'").limit(5)
    upd = upd.withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))"))
    merge_into(t, upd)
    diff = t.changed_partitions_since(v1)
    assert "wiki" in diff
    assert diff["wiki"]["added_files"] >= 1 and diff["wiki"]["removed_files"] >= 1
    assert "books" not in diff or diff["books"]["added_files"] == 0


def test_changed_partitions_since_dv_only_commit(spark, tmp_table_dir):
    """A DELETE adds and removes no file, only deletion vectors: the
    diff still reports its partitions, each DV'd file as removed and
    row_delta = −Δdv_rows, so incremental jobs see the change."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 3000), repartition_n=4)
    v1 = t.log.current_id()
    snap, _ = t.delete_where("source = 'wiki' and cast(substr(doc_id, 5) as long) % 5 = 0")
    dv_files = [e for e in t.manifest_entries() if e["dv_rows"]]
    diff = t.changed_partitions_since(v1)
    assert diff == {
        "wiki": {
            "added_files": 0,
            "removed_files": len(dv_files),
            "row_delta": -snap.summary["matched_rows"],
        }
    }
