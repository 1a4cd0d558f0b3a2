"""Skew handling + concurrent-writer safety — the north rule's explicit
operational requirements."""

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.snapshots import ConcurrentCommitError
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=2 * MB, max_file_bytes=8 * MB)


def test_extreme_skew_outputs_balanced_files(spark, tmp_table_dir):
    """95% of rows in one source: the hot partition must split into many
    near-target files with disjoint z-ranges, not one giant file."""
    df = synthetic(spark, 30000).withColumn(
        "source",
        F.when(F.substring("doc_id", 5, 10).cast("long") % 20 != 0, "web").otherwise(F.col("source")),
    )
    t = TokenLakeTable.create(spark, tmp_table_dir, df, repartition_n=16)
    pre = sorted(tuple(r) for r in t.scan().select("doc_id", token_sig(F.col("tokens")).alias("s")).collect())
    policy = CompactionPolicy(min_file_bytes=MB // 2, target_file_bytes=MB, max_file_bytes=4 * MB)
    t.compact(policy)
    assert sorted(tuple(r) for r in t.scan().select("doc_id", token_sig(F.col("tokens")).alias("s")).collect()) == pre

    web = [e for e in t.manifest_entries() if e["partition"] == "web"]
    assert len(web) >= 4, "hot partition not split"
    sizes = [e["file_bytes"] for e in web]
    assert max(sizes) <= policy.max_file_bytes
    # balanced: largest within 4x of median (range-bucket routing, not hash luck)
    sizes.sort()
    assert sizes[-1] <= 4 * sizes[len(sizes) // 2]
    ranges = sorted((e["zmin"], e["zmax"]) for e in web)
    for a, b in zip(ranges, ranges[1:]):
        assert b[0] > a[1]


def test_concurrent_compactions_one_wins(spark, tmp_table_dir):
    """Two maintenance jobs planned against the same snapshot: the first
    commit wins, the second hits optimistic-concurrency rejection and
    leaves the table untouched (its outputs become GC-able orphans)."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=8)
    snap1, _ = t.compact(POLICY, job_id="writer-a")
    assert snap1 is not None

    # writer-b planned against v1 (stale): simulate by committing with the
    # old expected_parent
    with pytest.raises(ConcurrentCommitError):
        t.log.commit("manifest-from-writer-b", "compact", expected_parent=1)

    # table state is writer-a's
    assert t.log.current_id() == snap1.snapshot_id
    rows = t.scan().count()
    assert rows == 4000


def test_commit_exclusive_creation_beats_check_then_act(spark, tmp_table_dir):
    """Two writers that BOTH read head=N must not both commit v(N+1):
    the second exclusive create of v(N+1).json fails even though its
    expected_parent check passed (simulated by pre-creating the version
    file another writer would have just written)."""
    import os

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1000), repartition_n=2)
    head = t.log.current_id()
    # writer A commits v(head+1) out-of-band (both writers read head)
    with open(os.path.join(t.path, "_snapshots", f"v{head + 1}.json"), "w") as f:
        f.write("{}")
    with pytest.raises(ConcurrentCommitError):
        t.log.commit("manifest-from-writer-b", "compact", expected_parent=head)


def test_gc_min_age_protects_fresh_orphans(spark, tmp_table_dir):
    """A young unreachable file (possibly an in-flight job's staged
    output) survives GC; with the guard disabled it is collected."""
    import os

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1000), repartition_n=2)
    orphan = os.path.join(t.path, "data", "source=web", "orphan-000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not-a-real-parquet")
    report = t.collect_garbage()  # default min-age: keep
    assert "data/source=web/orphan-000.parquet" not in report["removed_data_files"]
    assert os.path.exists(orphan)
    report = t.collect_garbage(min_age_s=0)
    assert "data/source=web/orphan-000.parquet" in report["removed_data_files"]
    assert not os.path.exists(orphan)


def test_gc_spares_checkpointed_outputs_and_live_staging(spark, tmp_table_dir):
    """GC during a crashed-but-resumable compaction must keep (a) unit
    outputs recorded in the job checkpoint (staged into data dirs but in
    no manifest yet) and (b) the job's .staging tree — the resume
    contract depends on both."""
    import os

    from hoopstat_haus_spark.lakehouse.checkpoint import JobCheckpoint

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1000), repartition_n=2)
    # simulate a crashed job: one done unit whose output is an orphan file
    out_rel = "data/source=web/compact-crashjob-00000.parquet"
    with open(os.path.join(t.path, out_rel), "wb") as f:
        f.write(b"staged-output")
    ckpt = JobCheckpoint(t.path, "crashjob")
    ckpt.done(
        "web", ["data/source=web/whatever.parquet"], [out_rel], rows=1, tokens=1, duration_s=0.1,
        output_stats=[],
    )
    staging_dir = os.path.join(t.path, ".staging", "crashjob", "web")
    os.makedirs(staging_dir)
    with open(os.path.join(staging_dir, "part-0.parquet"), "wb") as f:
        f.write(b"in-flight")

    report = t.collect_garbage(min_age_s=0)  # even with age guard off
    assert out_rel not in report["removed_data_files"]
    assert os.path.exists(os.path.join(t.path, out_rel))
    assert ".staging/crashjob" not in report.get("removed_staging", [])
    assert os.path.isdir(staging_dir)


def test_gc_staging_age_gates_on_subtree_mtime(spark, tmp_table_dir):
    """A long-running uncheckpointed job keeps WRITING into
    .staging/<job>/out/ — POSIX freezes the TOP dir's mtime once its
    direct entries exist, so the sweep must gate on the newest mtime in
    the SUBTREE or it deletes a live job's in-flight output."""
    import os
    import time as _time

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 200), repartition_n=2)
    job = os.path.join(t.path, ".staging", "longjob")
    out = os.path.join(job, "out")
    os.makedirs(out)
    with open(os.path.join(out, "part-0.parquet"), "wb") as f:
        f.write(b"in-flight")
    # age the TOP dir (and everything but the freshest file) past min_age
    old = _time.time() - 3600
    os.utime(job, (old, old))
    os.utime(out, (old, old))
    os.utime(os.path.join(out, "part-0.parquet"), (old, old))
    # ... then the job writes one more file just now (live activity)
    with open(os.path.join(out, "part-1.parquet"), "wb") as f:
        f.write(b"fresh")

    report = t.collect_garbage(min_age_s=600)
    assert ".staging/longjob" not in report.get("removed_staging", [])
    assert os.path.isdir(out)

    # once the whole subtree is old, the sweep takes it (writing part-1
    # refreshed out/'s own mtime — age every node again)
    os.utime(os.path.join(out, "part-1.parquet"), (old, old))
    os.utime(out, (old, old))
    os.utime(job, (old, old))
    report = t.collect_garbage(min_age_s=600)
    assert ".staging/longjob" in report["removed_staging"]
    assert not os.path.isdir(job)


def test_merge_rejects_duplicate_update_keys(spark, tmp_table_dir):
    """Iceberg MERGE semantics: duplicate (doc_id, source) in the update
    set must fail loudly, not fan out matched rows."""
    from hoopstat_haus_spark.lakehouse.merge import merge_into

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1000), repartition_n=2)
    one = t.scan().limit(1).select("doc_id", "tokens", "n_tok", "source")
    dup = one.unionByName(one)
    with pytest.raises(ValueError, match="duplicate update key"):
        merge_into(t, dup)


def test_merge_null_op_upserts(spark, tmp_table_dir):
    """A feed row whose ``_op`` is NULL upserts: a new key lands and a
    matched key takes the feed's value, like a row without ``_op``."""
    from hoopstat_haus_spark.lakehouse.merge import merge_into

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1000), repartition_n=2)
    feed = (
        synthetic(spark, 1002)
        .filter("doc_id IN ('doc-0000000007', 'doc-0000001001')")
        .withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))"))
        .withColumn("_op", F.lit(None).cast("string"))
    )
    want = {r["doc_id"]: r["tokens"] for r in feed.collect()}
    merge_into(t, feed)
    got = t.scan().filter(F.col("doc_id").isin(list(want))).collect()
    assert {r["doc_id"]: r["tokens"] for r in got} == want
    assert t.scan().count() == 1001


def test_merge_insert_files_sized_to_insert_count(spark, tmp_table_dir):
    """A mostly-upsert feed with a handful of genuinely-new rows writes
    its upserts' new versions and its inserts in ONE write sized from
    the rows it writes — not fanned out across up to 256 salted
    partitions as tiny files, undoing compaction."""
    from hoopstat_haus_spark.lakehouse.merge import merge_into

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    # feed = 500 upserts + 3 new docs
    ups = t.scan().filter(
        F.expr("cast(substr(doc_id, 5) as long) % 8 = 0")
    ).select("doc_id", "tokens", "n_tok", "source")
    news = synthetic(spark, 4003).filter(
        F.expr("cast(substr(doc_id, 5) as long) >= 4000")
    ).select("doc_id", "tokens", "n_tok", "source")
    before = {e["file_path"] for e in t.manifest_entries()}
    merge_into(t, ups.unionByName(news))
    ins_files = [
        e for e in t.manifest_entries()
        if e["file_path"] not in before and "/merge-" in e["file_path"]
    ]
    n_sources = ups.unionByName(news).select("source").distinct().count()
    # sized from 503 rows → 1 shuffle partition → ≤ one file per source
    assert 1 <= len(ins_files) <= n_sources, [e["file_path"] for e in ins_files]


def test_lost_race_orphan_shards_are_gc_able(spark, tmp_table_dir):
    """A writer that loses the optimistic-concurrency race has already
    written its new manifest shards + list (update_manifest runs before
    commit). Those orphans must (a) not corrupt the winner's chain and
    (b) be collected by GC once aged, while every shard the winner's
    list references survives."""
    import os

    from hoopstat_haus_spark.lakehouse import manifest as mf

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    head = t.log.current()
    records = mf.read_manifest_list(t.path, head.manifest)
    part = records[0]["partition"]

    # loser writes its manifest update (one rewritten shard) but the
    # winner commits first
    loser_rel, _ = mf.update_manifest(
        t.path, head.manifest, {part: mf.read_shard(t.path, records[0])}
    )
    snap_w, _ = t.compact(POLICY, job_id="winner")
    assert snap_w is not None
    with pytest.raises(ConcurrentCommitError):
        t.log.commit(loser_rel, "compact", expected_parent=head.snapshot_id)

    pre = sorted(r["doc_id"] for r in t.scan().select("doc_id").collect())
    t.expire_snapshots(keep_last=1)
    report = t.collect_garbage(min_age_s=0.0)
    # the loser's list (and its freshly-written shard) are orphans now
    assert loser_rel in report["removed_manifests"]
    head_rel = t.log.current().manifest
    live = {head_rel} | {r["path"] for r in mf.read_manifest_list(t.path, head_rel)}
    for rel in live:
        assert os.path.exists(os.path.join(t.path, rel))
    assert sorted(r["doc_id"] for r in t.scan().select("doc_id").collect()) == pre


def test_compaction_confs_stay_off_the_caller_session(spark, tmp_table_dir, monkeypatch):
    """Compaction runs its units with AQE off and a job-sized
    maxPartitionBytes on a session of its own: a query the caller runs
    meanwhile keeps AQE. The caller's runtime SQL conf (here the parquet
    codec) still reaches the units."""
    import os

    import pyarrow.parquet as pq

    from hoopstat_haus_spark.lakehouse import table as table_mod

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    aqe, codec = "spark.sql.adaptive.enabled", "spark.sql.parquet.compression.codec"
    seen = []
    orig = table_mod.compact_partition

    def unit(table, *args, **kwargs):
        seen.append((spark.conf.get(aqe), table.spark.conf.get(aqe)))
        return orig(table, *args, **kwargs)

    monkeypatch.setattr(table_mod, "compact_partition", unit)
    prev = spark.conf.get(codec)
    spark.conf.set(codec, "snappy")
    try:
        snap, _metrics = t.compact(POLICY, job_id="confs")
    finally:
        spark.conf.set(codec, prev)
    assert snap is not None and seen
    assert set(seen) == {("true", "false")}
    assert spark.conf.get(aqe) == "true"
    compacted = [e for e in t.manifest_entries() if "/compact-confs-" in e["file_path"]]
    assert compacted
    for e in compacted:
        md = pq.ParquetFile(os.path.join(t.path, e["file_path"])).metadata
        assert md.row_group(0).column(0).compression == "SNAPPY"


def test_merge_null_source_upsert_fails_before_writing(spark, tmp_table_dir):
    """An upsert or insert with a NULL source names no partition: MERGE
    rejects it from its planning collect, before any write, and leaves
    the head and the staging dir as they were. A NULL-source delete
    matches nothing and is fine."""
    import os

    from hoopstat_haus_spark.lakehouse.merge import merge_into

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 1000), repartition_n=2)
    head = t.log.current_id()
    feed = synthetic(spark, 1002).filter("doc_id IN ('doc-0000000007', 'doc-0000001001')")
    null_src = feed.withColumn(
        "source", F.when(F.col("doc_id") == "doc-0000001001", F.lit(None)).otherwise(F.col("source"))
    )
    with pytest.raises(ValueError, match="NULL source"):
        merge_into(t, null_src)
    assert t.log.current_id() == head
    staging = os.path.join(t.path, ".staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []

    merge_into(t, null_src.filter(F.col("source").isNull()).withColumn("_op", F.lit("delete")))
    assert t.scan().count() == 1000


def test_append_null_source_names_the_partition_column(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 200), repartition_n=1)
    bad = synthetic(spark, 202).filter("doc_id >= 'doc-0000000200'").withColumn(
        "source", F.lit(None).cast("string")
    )
    with pytest.raises(Exception, match="partition column 'source'"):
        t.append(bad)
    assert t.scan().count() == 200
