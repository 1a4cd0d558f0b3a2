"""Deletion vectors: DELETE, UPDATE and MERGE remove rows by position.

A DELETE writes no data file, UPDATE and MERGE write only the changed
rows, every reader applies the DVs, compaction is the one physical
rewriter, and GC keeps exactly the DVs a retained snapshot references.
The crash cells check that an op dying at its commit leaves readers on
the old snapshot, that a rerun converges, and that GC collects what the
dead attempt wrote.
"""

import os

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.changes import changes_summary, table_changes
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.snapshots import SnapshotLog
from hoopstat_haus_spark.tables import synthetic, token_sig

NUM = "cast(substr(doc_id, 5) as long)"
POLICY = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)


def sig_map(df):
    rows = df.select("doc_id", token_sig(F.col("tokens")).alias("sig"), "n_tok", "source").collect()
    out = {r["doc_id"]: (r["sig"], r["n_tok"], r["source"]) for r in rows}
    assert len(out) == len(rows), "duplicate doc_id"
    return out


def digest(t, **kw):
    """(rows, hash sum) over (doc_id, tokens, source) of a full scan."""
    h = F.pmod(F.xxhash64("doc_id", "tokens", "source"), F.lit(1 << 32))
    r = t.scan(**kw).agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return r["n"], r["h"]


def data_files(t):
    return {
        os.path.relpath(os.path.join(d, n), t.path)
        for d, _dirs, names in os.walk(os.path.join(t.path, "data"))
        for n in names
    }


def by_path(t, snapshot_id=None):
    return {e["file_path"]: e for e in t.manifest_entries(snapshot_id)}


def make(spark, path, n=2000, parts=4):
    return TokenLakeTable.create(spark, path, synthetic(spark, n), repartition_n=parts)


def test_delete_writes_only_dvs_and_keeps_paths(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"))
    pre, pre_entries, pre_files = sig_map(t.scan()), by_path(t), data_files(t)
    snap, metrics = t.delete_where(f"{NUM} % 7 = 3")
    gone = {d for d in pre if int(d[4:]) % 7 == 3}

    # no data file written: every new file on disk is a DV
    new_files = data_files(t) - pre_files
    assert new_files and all(".dv-" in p for p in new_files)
    assert snap.summary["new_files"] == 0 and metrics.files_out == 0
    # the touched entries keep their paths and point at those DVs
    post_entries = by_path(t)
    assert set(post_entries) == set(pre_entries)
    dv_paths = {e["dv_path"] for e in post_entries.values() if e["dv_path"]}
    assert dv_paths == new_files and snap.summary["dv_files"] == len(dv_paths)
    assert sum(e["dv_rows"] for e in post_entries.values()) == len(gone)
    # every surface counts live rows
    assert set(sig_map(t.scan())) == set(pre) - gone
    assert snap.summary["rows"] == len(pre) - len(gone)
    assert sum(r["rows"] for r in t.partitions().collect()) == len(pre) - len(gone)
    hist = {r["snapshot_id"]: r["rows"] for r in t.history().collect()}
    assert hist[snap.snapshot_id] == len(pre) - len(gone)
    files = t.files().collect()
    assert sum(r["row_count"] - r["dv_rows"] for r in files) == len(pre) - len(gone)


def test_second_delete_unions_positions(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"), parts=1)
    t.delete_where(f"{NUM} % 10 = 1")
    first = by_path(t)
    t.delete_where(f"{NUM} % 10 = 2")
    second = by_path(t)
    for path, e in second.items():
        old = first[path]
        assert e["dv_path"] != old["dv_path"], "a grown DV is a new file"
        a, b = set(mf.read_dv(t.path, old).tolist()), set(mf.read_dv(t.path, e).tolist())
        assert a < b and e["dv_rows"] == len(b)
        assert os.path.exists(os.path.join(t.path, old["dv_path"]))  # the old snapshot's
    left = sig_map(t.scan())
    assert all(int(d[4:]) % 10 not in (1, 2) for d in left)
    assert len(left) == 2000 - 400


def test_fully_deleted_file_leaves_manifest(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"), n=600, parts=2)
    victim = sorted(by_path(t))[0]
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(t.path, victim)).select("doc_id").collect()
    ]
    # two deletes: the second empties a file that already carries a DV
    t.delete_where(F.col("doc_id").isin(ids[:5]))
    snap, _ = t.delete_where(F.col("doc_id").isin(ids[5:]))
    assert victim not in by_path(t)
    assert snap.summary["dv_files"] == 0
    assert t.scan().count() == 600 - len(ids)


def test_time_travel_and_rollback_return_deleted_rows(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"))
    base_id, base = t.log.current_id(), sig_map(t.scan())
    t.delete_where(f"{NUM} % 5 = 0")
    t.update_where(f"{NUM} % 5 = 1", {"tokens": "transform(tokens, x -> cast(x + 2 as int))"})
    assert sig_map(t.scan(snapshot_id=base_id)) == base
    mutated_id = t.log.current_id()
    t.rollback(snapshot_id=base_id)
    assert sig_map(t.scan()) == base
    assert changes_summary(table_changes(t, mutated_id)) == {"insert": 400, "update": 400}


def test_update_and_merge_write_only_changed_rows(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"))
    before = by_path(t)
    snap, _ = t.update_where(f"{NUM} % 40 = 3", {"tokens": "transform(tokens, x -> x + 1)"})
    new = [e for p, e in by_path(t).items() if p not in before]
    assert sum(e["row_count"] for e in new) == snap.summary["matched_rows"] == 50

    before = by_path(t)
    feed = (
        synthetic(spark, 2010)
        .filter(F.expr(f"{NUM} % 100 = 7 or {NUM} >= 2000"))
        .withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 3 as int))"))
        .withColumn("_op", F.when(F.expr(f"{NUM} = 107"), "delete").otherwise("upsert"))
    )
    pre = sig_map(t.scan())
    snap, _ = merge_into(t, feed)
    new = [e for p, e in by_path(t).items() if p not in before]
    # 19 upserts + 10 inserts; the delete writes nothing
    assert sum(e["row_count"] for e in new) == 29
    assert snap.summary["new_files"] == len(new)
    post = sig_map(t.scan())
    inserted = {f"doc-{i:010d}" for i in range(2000, 2010)}
    assert set(post) == (set(pre) - {"doc-0000000107"}) | inserted


def test_merge_feed_null_keeps_evolved_value(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"), n=500, parts=2)
    t.evolve_schema([{"name": "lang", "type": "string", "default": "und"}])
    t.update_where(f"{NUM} < 20", {"lang": "'en'"})
    feed = synthetic(spark, 500).filter(F.expr(f"{NUM} < 10")).withColumn(
        "tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))")
    )  # no lang column: NULL in the projected feed
    merge_into(t, feed)
    langs = {r["doc_id"]: r["lang"] for r in t.scan().filter(F.expr(f"{NUM} < 30")).collect()}
    assert all(langs[f"doc-{i:010d}"] == "en" for i in range(20))
    assert all(langs[f"doc-{i:010d}"] == "und" for i in range(20, 30))


def test_compaction_purges_dvs_and_cdc_across_it_is_empty(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"))
    t.delete_where(f"{NUM} % 3 = 0")
    t.update_where(f"{NUM} % 3 = 1 and {NUM} < 300", {"n_tok": "n_tok"})
    from_id, rows = t.log.current_id(), sig_map(t.scan())
    snap, metrics = t.compact(POLICY)
    assert snap is not None
    compacted = {e["partition"] for e in t.manifest_entries() if "/compact-" in e["file_path"]}
    assert compacted
    assert all(not e["dv_rows"] for e in t.manifest_entries() if e["partition"] in compacted)
    assert metrics.rows == len(rows)  # live rows in, live rows out
    assert sig_map(t.scan()) == rows
    assert table_changes(t, from_id).count() == 0


def test_gc_keeps_referenced_dvs_and_removes_superseded(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"), parts=2)
    t.delete_where(f"{NUM} % 9 = 4")
    first = {e["dv_path"] for e in t.manifest_entries() if e["dv_path"]}
    t.delete_where(f"{NUM} % 9 = 5")
    live = {e["dv_path"] for e in t.manifest_entries() if e["dv_path"]}
    superseded = first - live
    assert superseded
    rows = sig_map(t.scan())

    t.expire_snapshots(keep_last=1)
    report = t.collect_garbage(min_age_s=0)
    assert superseded <= set(report["removed_data_files"])
    assert not live & set(report["removed_data_files"])
    assert all(os.path.exists(os.path.join(t.path, p)) for p in live)
    assert sig_map(t.scan()) == rows


def test_dvs_on_table_path_with_space(spark, tmp_path):
    t = make(spark, str(tmp_path / "my t"), n=800, parts=2)
    from_id, pre = t.log.current_id(), sig_map(t.scan())
    t.delete_where(f"{NUM} % 10 = 0")
    t.update_where(f"{NUM} % 10 = 1", {"tokens": "transform(tokens, x -> x + 1)"})
    merge_into(t, synthetic(spark, 800).filter(F.expr(f"{NUM} % 10 = 2")))
    post = sig_map(t.scan())
    assert set(post) == {d for d in pre if int(d[4:]) % 10 != 0}
    assert changes_summary(table_changes(t, from_id)) == {"delete": 80, "update": 80}


def _crash_delete(t, spark):
    return t.delete_where(f"{NUM} % 6 = 1", job_id="crash")


def _crash_update(t, spark):
    return t.update_where(
        f"{NUM} % 6 = 2", {"tokens": "transform(tokens, x -> x + 1)"}, job_id="crash"
    )


def _crash_merge(t, spark):
    feed = synthetic(spark, 1010).filter(F.expr(f"{NUM} % 6 = 3 or {NUM} >= 1000"))
    feed = feed.withColumn("tokens", F.expr("transform(tokens, x -> x + 2)"))
    return merge_into(t, feed, job_id="crash")


@pytest.mark.parametrize(
    "op", [_crash_delete, _crash_update, _crash_merge], ids=["delete", "update", "merge"]
)
def test_crash_at_commit_leaves_head_and_gc_collects_orphans(spark, tmp_path, monkeypatch, op):
    control = make(spark, str(tmp_path / "control"), n=1000, parts=2)
    op(control, spark)
    want = digest(control)

    t = make(spark, str(tmp_path / "t"), n=1000, parts=2)
    head, pre_digest, pre_files = t.log.current_id(), digest(t), data_files(t)

    def crash(*_a, **_k):
        raise RuntimeError("crash at commit")

    # the op's DVs and data files are written, then the commit dies
    with monkeypatch.context() as m:
        m.setattr(SnapshotLog, "commit", crash)
        with pytest.raises(RuntimeError, match="crash at commit"):
            op(t, spark)
    orphans = data_files(t) - pre_files
    assert orphans and any(".dv-" in p for p in orphans)
    assert t.log.current_id() == head
    assert digest(t) == pre_digest

    op(t, spark)  # the rerun converges to the uncrashed result
    assert digest(t) == want
    report = t.collect_garbage(min_age_s=0)
    assert set(report["removed_data_files"]) == orphans
    assert data_files(t) >= {e["file_path"] for e in t.manifest_entries()}


ODD_SOURCE = "o'b\\c/d%e f"  # a SQL quote, a backslash, a path separator, % and a space


@pytest.mark.parametrize("cap", [10**9, 0], ids=["predicate", "join"])
def test_dv_and_pick_reads_on_both_sides_of_predicate_cap(spark, tmp_path, monkeypatch, cap):
    """DVs and the change feed's picked positions apply the same way by
    one IN predicate (at most DV_PREDICATE_MAX positions) and by a
    broadcast join (above it): on whole, chunked and mixed reads, and on
    a partition whose name needs SQL and path escaping."""
    from hoopstat_haus_spark.lakehouse import table as table_mod

    monkeypatch.setattr(table_mod, "DV_PREDICATE_MAX", cap)
    df = synthetic(spark, 2000).withColumn(
        "source", F.when(F.expr(f"{NUM} % 4 = 0"), F.lit(ODD_SOURCE)).otherwise(F.col("source"))
    )
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), df, repartition_n=4)
    base_id, pre = t.log.current_id(), sig_map(t.scan())
    t.delete_where(f"{NUM} % 7 = 3")
    del_id = t.log.current_id()
    t.update_where(f"{NUM} % 7 = 4", {"n_tok": "n_tok + 1"})
    want = {
        d: (sig, n + (int(d[4:]) % 7 == 4), s) for d, (sig, n, s) in pre.items() if int(d[4:]) % 7 != 3
    }
    assert any(s == ODD_SOURCE for _sig, _n, s in want.values())
    assert sig_map(t.scan()) == want
    assert sig_map(t.scan(sources=[ODD_SOURCE])) == {
        d: v for d, v in want.items() if v[2] == ODD_SOURCE
    }
    n_del = sum(int(d[4:]) % 7 == 3 for d in pre)

    # picks: a DELETE's feed reads its rows at their positions, the
    # reverse diff reads them back
    assert changes_summary(table_changes(t, base_id, del_id)) == {"delete": n_del}
    assert changes_summary(table_changes(t, del_id, base_id)) == {"insert": n_del}
    # one relation of picked and whole files: rollback past the delete,
    # then an append
    t.rollback(base_id)
    t.append(synthetic(spark, 2010).filter(F.expr(f"{NUM} >= 2000")))
    assert changes_summary(table_changes(t, del_id)) == {"insert": n_del + 10}

    monkeypatch.setattr(table_mod, "SCAN_PATHS_CHUNK", 3)
    assert len(t.manifest_entries()) > 3
    t.delete_where(f"{NUM} % 5 = 0")
    assert sig_map(t.scan()) == {
        **{d: v for d, v in pre.items() if int(d[4:]) % 5},
        **sig_map(synthetic(spark, 2010).filter(F.expr(f"{NUM} >= 2000 AND {NUM} % 5 != 0"))),
    }
