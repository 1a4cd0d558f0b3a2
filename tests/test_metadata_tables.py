"""Iceberg-style metadata inspection tables (table.py::history/files/
partitions) — DataFrames over the snapshot log and manifests, verified
against the ground truth the engine itself maintains."""

from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.tables import synthetic

POL = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)


def test_metadata_tables(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    t.append(
        synthetic(spark, 4200).filter("cast(substr(doc_id, 5) as long) >= 4000"),
        repartition_n=2,
    )
    t.compact(POL)
    t.tag("after-compact")

    hist = t.history().collect()
    assert [r["snapshot_id"] for r in hist] == t.log.list_ids()
    assert [r["operation"] for r in hist] == ["append", "append", "compact"]
    cur = [r for r in hist if r["is_current"]]
    assert len(cur) == 1 and cur[0]["snapshot_id"] == t.log.current_id()
    assert cur[0]["tags"] == ["after-compact"] and cur[0]["rows"] == 4200
    assert all(r["parent_id"] == (None if i == 0 else hist[i - 1]["snapshot_id"])
               for i, r in enumerate(hist))
    assert all(r["committed_ms"] > 0 for r in hist)

    # files() matches the manifest exactly, and totals match the scan
    entries = t.manifest_entries()
    files = t.files().collect()
    assert {r["file_path"] for r in files} == {e["file_path"] for e in entries}
    assert sum(r["row_count"] for r in files) == 4200
    assert all(r["zmin"] <= r["zmax"] and r["min_n_tok"] <= r["max_n_tok"] for r in files)
    # shard-level pruning: a sources-filtered call returns only that partition
    part = files[0]["partition"]
    pruned = t.files(sources=[part]).collect()
    assert pruned and {r["partition"] for r in pruned} == {part}
    assert len(pruned) == sum(1 for e in entries if e["partition"] == part)

    # partitions() is the manifest-list rollup: cross-check vs files()
    parts = {r["partition"]: r for r in t.partitions().collect()}
    by_part = (
        t.files()
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("row_count").alias("rows"),
            F.sum("file_bytes").alias("bytes"),
        )
        .collect()
    )
    for r in by_part:
        assert parts[r["partition"]]["n_files"] == r["n"]
        assert parts[r["partition"]]["rows"] == r["rows"]
        assert parts[r["partition"]]["bytes"] == r["bytes"]

    # a pinned snapshot sees the PRE-compaction file set
    pre = hist[1]["snapshot_id"]
    old_files = t.files(snapshot_id=pre).collect()
    assert {r["file_path"] for r in old_files} == {
        e["file_path"] for e in t.manifest_entries(pre)
    }
    assert sum(r["row_count"] for r in old_files) == 4200

    # empty-table shapes stay queryable
    t2 = TokenLakeTable(spark, tmp_table_dir + "-none")
    assert t2.history().count() == 0 and t2.files().count() == 0
    assert t2.partitions().count() == 0


def test_history_merge_snapshot_carries_full_aggregates(spark, tmp_table_dir):
    """Merge commits stamp the same files/rows/tokens/bytes aggregates as
    append/compact — history() must not report files=0 on them."""
    from hoopstat_haus_spark.lakehouse.merge import merge_into

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1200), repartition_n=2)
    feed = synthetic(spark, 1300).filter("cast(substr(doc_id, 5) as long) >= 1150")
    merge_into(t, feed)

    row = [r for r in t.history().collect() if r["operation"] == "merge"][-1]
    assert row["rows"] == 1300 and row["files"] > 0
    summ = t.log.current().summary
    assert summ["files"] == len(t.manifest_entries())
    # live tokens: the MERGE's upserted rows are deleted by DVs
    assert summ["tokens"] == sum(e["token_count"] - e["dv_tokens"] for e in t.manifest_entries())
    assert summ["bytes"] > 0 and summ["partitions"] > 0
