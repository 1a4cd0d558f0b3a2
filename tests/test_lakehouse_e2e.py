"""End-to-end maintenance-cycle tests: the engine analog of the
reference's bronze→silver→gold LocalStack pipeline test
(``testing/tests/test_integration_pipeline.py``): seeded synthetic input,
full cycle, per-layer assertions, token-array equality (M11 analog), and
snapshot isolation (M3/M4 analog)."""

import os

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.snapshots import ConcurrentCommitError
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=4 * MB, max_file_bytes=8 * MB)


def sig_rows(table, **scan_kw):
    df = table.scan(**scan_kw).select("doc_id", token_sig(F.col("tokens")).alias("sig"), "n_tok", "source")
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "t")
    df = synthetic(spark, 12000)
    return TokenLakeTable.create(spark, path, df, repartition_n=12)


def test_create_writes_fragmented_hive_layout(table):
    entries = table.manifest_entries()
    assert len(entries) > 30  # fragmentation knob worked
    assert {e["partition"] for e in entries} == {"web", "books", "code", "wiki", "forums"}
    assert sum(e["row_count"] for e in entries) == 12000
    for e in entries:
        assert os.path.exists(os.path.join(table.path, e["file_path"]))
        assert e["file_path"].startswith(f"data/source={e['partition']}/")


def test_manifest_stats_match_data(table, spark):
    entries = table.manifest_entries()
    df = table.scan()
    total_tokens = df.agg(F.sum("n_tok")).collect()[0][0]
    assert sum(e["token_count"] for e in entries) == total_tokens
    assert min(e["min_n_tok"] for e in entries) == df.agg(F.min("n_tok")).collect()[0][0]
    assert max(e["max_n_tok"] for e in entries) == df.agg(F.max("n_tok")).collect()[0][0]


def test_full_cycle_token_equality_and_isolation(table):
    pre = sig_rows(table)
    pre_snap = table.log.current_id()

    snap, metrics = table.compact(POLICY)
    assert snap is not None

    # M11 analog: token-array equality per doc_id, pre vs post
    assert sig_rows(table) == pre
    # snapshot isolation: reader pinned to the pre-maintenance snapshot
    assert sig_rows(table, snapshot_id=pre_snap) == pre

    entries = table.manifest_entries()
    assert len(entries) < 20  # small files gone
    # every new file is clustered and carries a real z-range
    by_part = {}
    for e in entries:
        by_part.setdefault(e["partition"], []).append((e["zmin"], e["zmax"]))
    for part, ranges in by_part.items():
        assert all(zmin >= 0 for zmin, _ in ranges)
        ranges.sort()
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
            assert b_lo > a_hi, f"overlapping z-ranges in {part}"

    assert metrics.files_in > metrics.files_out
    assert metrics.gb_per_hour > 0
    assert metrics.rows == 12000


def test_merge_summary_extra_cannot_clobber_aggregates(table, spark):
    # fail-fast at entry: no rewrite work happens, no snapshot is committed
    head = table.log.current_id()
    with pytest.raises(ValueError, match="clobber commit aggregates"):
        merge_into(table, synthetic(spark, 5), summary_extra={"rows": 0})
    assert table.log.current_id() == head


def test_merge_upsert_insert_delete(table, spark):
    base = sig_rows(table)
    head = table.log.current_id()

    updates = synthetic(spark, 12010).filter(
        F.expr("cast(substr(doc_id, 5) as long) % 1000 = 0 or cast(substr(doc_id, 5) as long) >= 12000")
    )
    updates = updates.withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 7 as int))"))
    updates = updates.withColumn("n_tok", F.size("tokens").cast("int"))
    updates = updates.withColumn(
        "_op", F.when(F.expr("cast(substr(doc_id, 5) as long) = 0"), "delete").otherwise("upsert")
    )
    n_upd = updates.count()
    n_ins = updates.filter("cast(substr(doc_id, 5) as long) >= 12000").count()
    assert (n_upd, n_ins) == (22, 10)

    snap, metrics = merge_into(table, updates)
    post = sig_rows(table)
    assert len(post) == 12000 - 1 + 10  # one delete, ten inserts

    post_map = {r[0]: r for r in post}
    base_map = {r[0]: r for r in base}
    assert "doc-0000000000" not in post_map  # deleted
    assert "doc-0000012005" in post_map  # inserted
    changed = [d for d in base_map if d in post_map and base_map[d] != post_map[d]]
    assert sorted(changed) == [f"doc-{i:010d}" for i in range(1000, 12000, 1000)]

    # snapshot isolation across MERGE too
    assert sig_rows(table, snapshot_id=head) == base
    # CoW efficiency: untouched files carried by reference
    prev_files = {e["file_path"] for e in table.manifest_entries(head)}
    now_files = {e["file_path"] for e in table.manifest_entries()}
    assert prev_files & now_files, "merge rewrote every file — pruning failed"


def test_scan_pruning_matches_full_filter(table):
    full = table.scan().filter("n_tok between 100 and 140")
    pruned = table.scan(n_tok_min=100, n_tok_max=140)
    assert sorted(r["doc_id"] for r in full.collect()) == sorted(r["doc_id"] for r in pruned.collect())
    # pruning must actually skip files
    entries = table.manifest_entries()
    touched = [e for e in entries if e["max_n_tok"] >= 100 and e["min_n_tok"] <= 140]
    assert len(touched) < len(entries)


def test_source_pruning(table):
    web = table.scan(sources=["web"])
    assert web.select("source").distinct().collect()[0][0] == "web"


def test_concurrent_commit_rejected(table):
    with pytest.raises(ConcurrentCommitError):
        table.log.commit("bogus-manifest", "append", expected_parent=1)


def test_expire_and_gc_keep_current_reachable(table):
    rows_before = sig_rows(table)
    table.expire_snapshots(keep_last=1)
    # min_age_s=0: this test targets reachability; the age guard is
    # covered by test_gc_min_age_protects_fresh_orphans
    report = table.collect_garbage(min_age_s=0)
    assert report["removed_data_files"], "expected orphaned pre-compaction files to be removed"
    assert sig_rows(table) == rows_before
    # removed files are really gone; reachable files all exist
    for rel in report["removed_data_files"]:
        assert not os.path.exists(os.path.join(table.path, rel))
    for e in table.manifest_entries():
        assert os.path.exists(os.path.join(table.path, e["file_path"]))


def test_resume_skips_completed_units(spark, tmp_table_dir):
    from hoopstat_haus_spark.lakehouse.checkpoint import JobCheckpoint
    from hoopstat_haus_spark.lakehouse.compaction import compact_partition, plan_compaction

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=8)
    pre = sig_rows(t)
    entries = t.manifest_entries()
    plans = plan_compaction(entries, POLICY)
    part = sorted(plans)[0]
    in_paths = [f["file_path"] for f in plans[part]]

    # simulate a crash: one unit completed, no snapshot committed
    ck = JobCheckpoint(t.path, "job-x")
    ck.intent(part, in_paths)
    out, _stats = compact_partition(t, t.schema_def(), part, plans[part], "job-x", bounds=[])
    ck.done(part, in_paths, out, rows=1, tokens=1, duration_s=0.0, output_stats=_stats)
    assert t.log.current_id() == 1  # crash left readers untouched

    snap, metrics = t.compact(POLICY, job_id="job-x")
    assert snap.snapshot_id == 2
    now_files = {e["file_path"] for e in t.manifest_entries()}
    assert set(out) <= now_files, "resume must reuse the completed unit's outputs"
    assert sig_rows(t) == pre


def test_resume_reruns_unit_whose_inputs_changed(spark, tmp_table_dir):
    """A unit checkpointed ``done`` before a crash is reused only while
    its inputs are still the ones planned against the head: a DELETE
    committed between the crash and the resume changes them, and
    reusing the stale outputs would resurrect the deleted rows."""
    from hoopstat_haus_spark.lakehouse.checkpoint import JobCheckpoint
    from hoopstat_haus_spark.lakehouse.compaction import compact_partition, plan_compaction

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=8)
    plans = plan_compaction(t.manifest_entries(), POLICY)
    part = sorted(plans)[0]
    in_paths = [f["file_path"] for f in plans[part]]

    # crash after one unit finished: checkpointed done, nothing committed
    ck = JobCheckpoint(t.path, "job-z")
    ck.intent(part, in_paths)
    out, stats = compact_partition(t, t.schema_def(), part, plans[part], "job-z", bounds=[])
    ck.done(part, in_paths, out, rows=1, tokens=1, duration_s=0.0, output_stats=stats)

    victims = [
        r["doc_id"] for r in t.scan(sources=[part]).select("doc_id").orderBy("doc_id").limit(5).collect()
    ]
    t.delete_where(F.col("doc_id").isin(victims))
    expected = sig_rows(t)
    assert len(expected) == 3995

    snap, _metrics = t.compact(POLICY, job_id="job-z")
    assert snap is not None
    assert t.scan().count() == 3995, "resume resurrected deleted rows"
    assert sig_rows(t) == expected


def test_checkpoint_records_of_distinct_units_stay_apart(tmp_path):
    """Unit names that differ only in characters a file name must encode
    keep one record each, so a resumed job finds every done unit (and
    GC keeps protecting its outputs)."""
    from hoopstat_haus_spark.lakehouse.checkpoint import JobCheckpoint

    ck = JobCheckpoint(str(tmp_path), "job-n")
    units = ["a/b", "a_b", "a=b", "a-b"]
    for u in units:
        ck.done(u, [], [f"out-{u}"], rows=1, tokens=1, duration_s=0.0, output_stats=[])
    done = ck.completed_units()
    assert sorted(done) == sorted(units)
    assert all(done[u]["output_files"] == [f"out-{u}"] for u in units)


def test_checkpointed_stats_match_recomputation(spark, tmp_path_factory):
    """Round-3 path: manifest entries come from per-unit checkpoint
    stats (computed inside the unit thread, not a post-rewrite stats
    job). They must be byte-identical to a fresh recomputation over the
    committed files — any drift silently corrupts pruning bounds."""
    from hoopstat_haus_spark.lakehouse import manifest as mf

    path = str(tmp_path_factory.mktemp("ckstats") / "t")
    t = TokenLakeTable.create(spark, path, synthetic(spark, 9000), repartition_n=10)
    snap, _metrics = t.compact(POLICY, job_id="ckstats-1")
    assert snap is not None

    entries = {e["file_path"]: e for e in t.manifest_entries()}
    compacted = [p for p in entries if "/compact-ckstats-1-" in p or "compact-ckstats-1" in p]
    assert compacted, "no compacted files found in manifest"
    fresh = mf.compute_file_stats(spark, t.path, compacted)
    assert len(fresh) == len(compacted)
    for e in fresh:
        assert entries[e["file_path"]] == e


def _merge_new_docs(t, spark):
    for i in range(3):
        batch = synthetic(spark, 200).withColumn("doc_id", F.concat(F.lit(f"b{i}-"), "doc_id"))
        merge_into(t, batch, job_id=f"batch-{i}")


def _delete_compacted_docs(t, spark):
    live = {e["file_path"] for e in t.manifest_entries()}
    assert all("/compact-first-" in p for p in live), "delete must touch compaction outputs"
    victims = [r["doc_id"] for r in t.scan().select("doc_id").orderBy("doc_id").limit(5).collect()]
    snap, _metrics = t.delete_where(F.col("doc_id").isin(victims), job_id="gdpr")
    assert snap is not None


@pytest.mark.parametrize("between", [_delete_compacted_docs, _merge_new_docs], ids=["delete", "merge"])
def test_gc_after_expire_leaves_only_live_files(spark, tmp_table_dir, between):
    """Committed jobs keep no checkpoint, so once their snapshots expire
    GC reclaims every output they superseded: the data files left on
    disk are exactly the live manifest's."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=8)
    assert t.compact(POLICY, job_id="first")[0] is not None
    between(t, spark)
    t.compact(POLICY, job_id="second")
    rows = sig_rows(t)

    t.expire_snapshots(keep_last=1)
    t.collect_garbage(min_age_s=0)
    on_disk = {
        os.path.relpath(os.path.join(d, n), t.path)
        for d, _dirs, files in os.walk(os.path.join(t.path, "data"))
        for n in files
    }
    assert on_disk == {e["file_path"] for e in t.manifest_entries()}
    ckpt_root = os.path.join(t.path, "_checkpoints")
    assert not os.path.isdir(ckpt_root) or os.listdir(ckpt_root) == []
    assert sig_rows(t) == rows
