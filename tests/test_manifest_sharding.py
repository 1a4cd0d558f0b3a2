"""Sharded manifests + manifest list (Iceberg-style metadata layout).

The O(all-files)-per-commit monolith is gone: commits write new shards
ONLY for touched partitions and carry the rest by reference in a small
JSON list (one record per partition, exact aggregates). These tests pin
the carry-by-reference behavior, GC reachability through the list, the
refusal of the removed monolithic-manifest format, and the fused
writer's stats parity and memory bound.
"""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic, token_sig

POL = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)


def _records(t):
    return {r["partition"]: r for r in mf.read_manifest_list(t.path, t.log.current().manifest)}


def _sig(t, **kw):
    return sorted(tuple(r) for r in t.scan(**kw).select("doc_id", token_sig("tokens").alias("s")).collect())


def test_merge_rewrites_only_touched_partition_shard(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 5000), repartition_n=4)
    before = _records(t)
    assert len(before) >= 3
    target = sorted(before)[0]
    pre = _sig(t)
    ups = (
        t.scan(sources=[target])
        .limit(50)
        .select(
            "doc_id",
            F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"),
            "n_tok",
            "source",
        )
    )
    merge_into(t, ups)
    after = _records(t)
    assert set(after) == set(before)
    for part in before:
        if part == target:
            assert after[part]["path"] != before[part]["path"], "touched shard must be rewritten"
        else:
            assert after[part]["path"] == before[part]["path"], f"untouched shard {part} rewritten"
    # the commit summary's row count comes from list aggregates and must
    # match reality
    assert t.log.current().summary["rows"] == len(pre)


def test_append_carries_untouched_shards(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    before = _records(t)
    target = sorted(before)[-1]
    batch = (
        synthetic(spark, 4100)
        .filter("cast(substr(doc_id, 5) as long) >= 4000")
        .withColumn("source", F.lit(target))
    )
    t.append(batch, repartition_n=1)
    after = _records(t)
    for part in before:
        if part == target:
            assert after[part]["path"] != before[part]["path"]
            assert after[part]["n_files"] == before[part]["n_files"] + 1
        else:
            assert after[part]["path"] == before[part]["path"]
    assert t.scan(sources=[target]).count() == before[target]["row_count"] + 100


def test_targeted_compact_carries_other_shards(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 6000), repartition_n=6)
    before = _records(t)
    target = sorted(before)[0]
    snap, _ = t.compact(POL, sources=[target])
    assert snap is not None
    after = _records(t)
    assert after[target]["path"] != before[target]["path"]
    assert after[target]["n_unclustered"] == 0
    for part in before:
        if part != target:
            assert after[part]["path"] == before[part]["path"]


def test_gc_walks_manifest_list_and_keeps_carried_shards(spark, tmp_table_dir):
    """After compact-all then merge-one-partition + expiry: shards the
    HEAD list carries by reference must survive GC even though the list
    that first wrote them is expired; unreachable old shards and lists
    are removed; data remains intact."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 5000), repartition_n=4)
    t.compact(POL)
    compacted_records = _records(t)
    pre = _sig(t)

    target = sorted(compacted_records)[0]
    ups = (
        t.scan(sources=[target])
        .limit(20)
        .select(
            "doc_id",
            F.expr("transform(tokens, x -> cast(x + 0 as int))").alias("tokens"),
            "n_tok",
            "source",
        )
    )
    merge_into(t, ups)
    head_rel = t.log.current().manifest
    live_meta = {r["path"] for r in mf.read_manifest_list(t.path, head_rel)}
    carried = {
        compacted_records[p]["path"] for p in compacted_records if p != target
    }
    assert carried <= live_meta, "merge must carry untouched compacted shards by reference"

    t.expire_snapshots(keep_last=1)
    report = t.collect_garbage(min_age_s=0.0)
    removed = set(report["removed_manifests"])
    assert removed, "expired snapshots' metadata should be collected"
    assert not (removed & live_meta), "GC removed metadata the head still reaches"
    for rel in live_meta:
        assert os.path.exists(os.path.join(t.path, rel))
    assert _sig(t) == pre


def test_gc_opens_each_distinct_shard_once(spark, tmp_table_dir, monkeypatch):
    """Round-5 scale fix: reachability dedupes shard reads by path.
    With K retained snapshots over P partitions, GC must open each
    distinct shard parquet exactly ONCE (≈ P + touched partitions'
    rewrites), never K × P — shards carried by reference across
    snapshots share their whole file set."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 5000), repartition_n=4)
    before = _records(t)
    target = sorted(before)[0]
    ups = (
        t.scan(sources=[target])
        .limit(20)
        .select(
            "doc_id",
            F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"),
            "n_tok",
            "source",
        )
    )
    merge_into(t, ups)  # 2 snapshots retained: P shared shards + old/new target shard

    opens: list[str] = []
    real_read_shard = mf.read_shard

    def counting_read_shard(table_path, record):
        if record.get("path") is not None:
            opens.append(record["path"])
        return real_read_shard(table_path, record)

    from hoopstat_haus_spark.lakehouse import gc as gc_mod

    monkeypatch.setattr(gc_mod.mf, "read_shard", counting_read_shard)
    from hoopstat_haus_spark.lakehouse.gc import collect_garbage

    report = collect_garbage(t.path, dry_run=True, min_age_s=0.0)

    distinct = {
        rec["path"]
        for sid in t.log.list_ids()
        for rec in mf.read_manifest_list(t.path, t.log.get(sid).manifest)
    }
    assert sorted(opens) == sorted(distinct), "each distinct shard must be opened exactly once"
    # 1-of-P merge: P carried + 1 rewritten shard — NOT 2 snapshots × P
    assert len(opens) == len(before) + 1
    assert not report["removed_data_files"], "all data reachable"


def test_non_list_manifest_is_rejected(spark, tmp_table_dir):
    """Only manifest lists are readable. A snapshot pointing at a
    monolithic manifest parquet (the pre-sharding format) fails loudly,
    naming the unsupported format, instead of being read."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 500), repartition_n=2)
    entries = t.manifest_entries()
    rel = f"_manifests/manifest-{uuid.uuid4().hex[:12]}.parquet"
    cols = {name: [e.get(name) for e in entries] for name, _ in mf._MANIFEST_FIELDS}
    pq.write_table(
        pa.Table.from_pydict(cols, schema=mf.MANIFEST_ARROW_SCHEMA),
        os.path.join(t.path, rel),
    )
    t.log.commit(rel, "legacy", {"schema_version": 1})
    for read in (t.scan, t.manifest_entries, lambda: mf.read_manifest_list(t.path, rel)):
        with pytest.raises(ValueError, match="unsupported manifest format"):
            read()


def test_scan_prunes_at_shard_level(spark, tmp_table_dir):
    """Source- and n_tok-filtered scans must agree with post-hoc filters
    (the shard-level pruning is an optimization, never a semantics
    change)."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    parts = sorted(_records(t))
    full = t.scan().collect()
    one = t.scan(sources=[parts[0]]).collect()
    assert sorted(r["doc_id"] for r in one) == sorted(
        r["doc_id"] for r in full if r["source"] == parts[0]
    )
    lo, hi = 100, 140
    rng = t.scan(n_tok_min=lo, n_tok_max=hi).collect()
    assert sorted(r["doc_id"] for r in rng) == sorted(
        r["doc_id"] for r in full if lo <= r["n_tok"] <= hi
    )


def test_scan_physically_reads_only_pruned_files(spark, tmp_table_dir):
    """Shard-level pruning must reach the PHYSICAL plan: a
    source-filtered scan's input file list contains only that
    partition's files (not merely a post-hoc filter over everything)."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 3000), repartition_n=4)
    parts = sorted(_records(t))
    files = t.scan(sources=[parts[0]]).inputFiles()
    assert files and all(f"source={parts[0]}/" in f for f in files), files[:3]
    rng = t.scan(n_tok_min=4000)  # above the generator's n_tok ceiling
    assert rng.inputFiles() == [] and rng.count() == 0


def test_scan_chunks_huge_path_lists(spark, tmp_table_dir, monkeypatch):
    """Past SCAN_PATHS_CHUNK selected files, scan() unions chunked parquet
    reads (bounded per-relation file index) with identical results and
    filter pushdown into every branch."""
    import io
    from contextlib import redirect_stdout

    from hoopstat_haus_spark.lakehouse import table as table_mod
    from hoopstat_haus_spark.tables import token_sig

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=7)
    whole = sorted(
        tuple(r) for r in t.scan().select("doc_id", token_sig("tokens").alias("s")).collect()
    )
    n_files = len(t.manifest_entries())
    assert n_files > 3

    monkeypatch.setattr(table_mod, "SCAN_PATHS_CHUNK", 3)
    chunked = t.scan()
    got = sorted(
        tuple(r) for r in chunked.select("doc_id", token_sig("tokens").alias("s")).collect()
    )
    assert got == whole

    buf = io.StringIO()
    with redirect_stdout(buf):
        chunked.filter("n_tok >= 100").explain("formatted")
    plan = buf.getvalue()
    n_chunks = -(-n_files // 3)
    # formatted explain names each scan twice: tree node + detail section
    assert plan.count("Scan parquet") == 2 * n_chunks
    # the n_tok filter reaches every branch's parquet scan
    assert (
        plan.count("PushedFilters: [IsNotNull(n_tok), GreaterThanOrEqual(n_tok,100)]") == n_chunks
    )

    # stat-range pruning still applies before chunking
    pruned = t.scan(n_tok_min=100)
    assert pruned.count() == t.scan().filter("n_tok >= 100").count()


def test_fused_write_stats_match_recomputation(spark, tmp_table_dir):
    """Round-6 fused writer: create/append manifest entries come from
    the SAME job that writes the files (write_partitioned_with_stats).
    They must be byte-identical to a fresh compute_file_stats pass over
    the written files — drift would corrupt pruning bounds and the
    metadata-only compaction planner (zq sketches)."""
    from hoopstat_haus_spark.lakehouse import manifest as mf

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 6000), repartition_n=5)
    entries = {e["file_path"]: e for e in t.manifest_entries()}
    fresh = mf.compute_file_stats(spark, t.path, sorted(entries))
    assert len(fresh) == len(entries)
    for e in fresh:
        assert entries[e["file_path"]] == e


def test_partition_dir_escaping_matches_spark():
    """The fused writer's partition-dir names must stay byte-identical
    to what Spark's partitionBy produced for the same values (mixed old
    and new files share data/source=<v>/ directories)."""
    from hoopstat_haus_spark.lakehouse.manifest import _escape_partition_value

    assert _escape_partition_value("web") == "web"
    assert _escape_partition_value("src 1") == "src 1"  # space stays raw
    assert _escape_partition_value("a/b") == "a%2Fb"
    assert _escape_partition_value("a:b=c") == "a%3Ab%3Dc"
    assert _escape_partition_value("p%q") == "p%25q"


def test_fused_write_stats_multibatch_parity(spark, tmp_table_dir):
    """The fused writers fold stats across MANY Arrow batches per file
    when rows exceed arrow.maxRecordsPerBatch; pin parity under a tiny
    batch size (forces multi-batch accumulation, per-source buffering
    and multi-row-group files on both write paths)."""
    from hoopstat_haus_spark.lakehouse import manifest as mf
    from hoopstat_haus_spark.lakehouse.compaction import CompactionPolicy

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 8000), repartition_n=2)
        pol = CompactionPolicy(
            min_file_bytes=1 << 20, target_file_bytes=2 << 20, max_file_bytes=8 << 20
        )
        snap, _m = t.compact(pol, job_id="mb-1")
        assert snap is not None
    finally:
        spark.conf.set(key, prev)
    entries = {e["file_path"]: e for e in t.manifest_entries()}
    fresh = mf.compute_file_stats(spark, t.path, sorted(entries))
    assert len(fresh) == len(entries)
    for e in fresh:
        assert entries[e["file_path"]] == e


def test_fused_writer_flushes_wide_rows_by_bytes(spark, tmp_table_dir):
    """The writer's buffer cap counts Arrow bytes, not rows: ~10 KB rows
    (10x the ~1 KB synthetic payload) arriving in small Arrow batches
    must leave the Python worker, which cannot spill, as row groups of
    at most the per-source cap, not buffer 64k rows (~640 MB) per
    source. Checked through the written file's row-group metadata."""
    n_rows, n_tok, batch_rows = 8000, 2500, 250  # ~80 MB, one task, one source
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        df = spark.range(0, n_rows, 1, 1).select(
            F.format_string("doc-%08d", "id").alias("doc_id"),
            F.sequence(F.lit(0), F.lit(n_tok - 1)).alias("tokens"),
            F.lit(n_tok).alias("n_tok"),
            F.lit("web").alias("source"),
        )
        t = TokenLakeTable.create(spark, tmp_table_dir, df)
    finally:
        spark.conf.set(key, prev)
    (entry,) = t.manifest_entries()
    assert entry["row_count"] == n_rows
    md = pq.ParquetFile(os.path.join(t.path, entry["file_path"])).metadata
    assert md.num_row_groups >= 2, "the whole file was buffered as one row group"
    cap_rows = mf._FLUSH_BYTES_PER_FILE // (4 * n_tok) + batch_rows
    assert max(md.row_group(i).num_rows for i in range(md.num_row_groups)) <= cap_rows


def test_writer_task_keeps_one_file_open_over_many_sources(tmp_path, monkeypatch):
    """One writer task over 1000 sources writes 1000 files with at most
    one ParquetWriter open at a time: the Python worker cannot spill, so
    its open writers must not grow with the source count."""
    live = peak = 0

    class CountingWriter(pq.ParquetWriter):
        def __init__(self, *args, **kwargs):
            nonlocal live, peak
            super().__init__(*args, **kwargs)
            live += 1
            peak = max(peak, live)

        def close(self):
            nonlocal live
            live -= self.is_open
            super().close()

    monkeypatch.setattr(pq, "ParquetWriter", CountingWriter)
    n = 3000  # 3 rows per source; the 500-row batches cut source runs
    batch = pa.table(
        {
            "doc_id": [f"doc-{i:08d}" for i in range(n)],
            "tokens": pa.array([[i] for i in range(n)], pa.list_(pa.int32())),
            "n_tok": pa.array([1] * n, pa.int32()),
            "source": [f"s{i // 3:04d}" for i in range(n)],
            # the helper columns write_partitioned_with_stats adds
            "_zs_flag": [i % 3 == 0 for i in range(n)],
            "_zq_src": pa.array(range(n), pa.int64()),
        }
    )
    batches = batch.to_batches(max_chunksize=500)
    (stats,) = mf._write_task(iter(batches), str(tmp_path), None, None)
    stats = stats.to_pylist()
    assert peak == 1 and live == 0
    assert len(stats) == 1000
    assert sorted(s["partition"] for s in stats) == [f"s{i:04d}" for i in range(1000)]
    assert all(s["row_count"] == 3 for s in stats)
    for s in stats:
        tbl = pq.read_table(os.path.join(tmp_path, s["dir"], s["file_name"]))
        assert tbl.num_rows == 3 and "source" not in tbl.column_names


def test_create_from_one_task_writes_one_file_per_source(spark, tmp_table_dir):
    """A create whose one task interleaves 1000 sources (3 rows each)
    writes 1000 files, each holding one source's rows, with stats equal
    to a re-read."""
    df = spark.range(0, 3000, 1, 1).select(
        F.format_string("doc-%08d", "id").alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.format_string("s%04d", F.col("id") * 7 % 1000).alias("source"),  # interleaved
    )
    t = TokenLakeTable.create(spark, tmp_table_dir, df)
    entries = {e["file_path"]: e for e in t.manifest_entries()}
    assert len(entries) == 1000
    assert len({e["partition"] for e in entries.values()}) == 1000
    assert all(e["row_count"] == 3 for e in entries.values())
    fresh = mf.compute_file_stats(spark, t.path, sorted(entries))
    assert {e["file_path"]: e for e in fresh} == entries
