"""Predicate DELETE (lakehouse/delete.py) + change data feed
(lakehouse/changes.py).

DELETE is verified the same way every other maintenance op is: token-sig
equality of the survivors against the filtered pre-state, snapshot
isolation of the pre-delete state, and carried-by-reference proof that
only predicate-touched files got a deletion vector.

The change feed is verified by REPLAY: applying the emitted changes to
the FROM state must reproduce the TO state exactly, and pure physical
rewrites (compaction) must emit zero rows.
"""

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.changes import changed_files, changes_summary, table_changes
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=4 * MB, max_file_bytes=8 * MB)

NUM = "cast(substr(doc_id, 5) as long)"


def sig_map(df):
    rows = df.select("doc_id", token_sig(F.col("tokens")).alias("sig"), "n_tok", "source").collect()
    out = {r["doc_id"]: (r["sig"], r["n_tok"], r["source"]) for r in rows}
    assert len(out) == len(rows), "duplicate doc_id"
    return out


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdl") / "t")
    return TokenLakeTable.create(spark, path, synthetic(spark, 6000), repartition_n=8)


def test_delete_where_rows_and_isolation(table):
    pre = sig_map(table.scan())
    pre_snap = table.log.current_id()
    pre_list = {r["partition"]: r["path"] for r in
                mf.read_manifest_list(table.path, table.log.current().manifest)}

    cond = f"source = 'web' and {NUM} % 9 = 0"
    snap, metrics = table.delete_where(cond)
    assert snap is not None and snap.operation == "delete"

    expected_gone = {d for d, (_s, _n, src) in pre.items()
                     if src == "web" and int(d[4:]) % 9 == 0}
    assert expected_gone, "fixture produced no matching rows"
    post = sig_map(table.scan())
    assert set(pre) - set(post) == expected_gone
    # survivors byte-identical (token sigs unchanged)
    assert all(post[d] == pre[d] for d in post)
    assert snap.summary["matched_rows"] == len(expected_gone)

    # snapshot isolation: pre-delete snapshot still reads everything
    assert sig_map(table.scan(snapshot_id=pre_snap)) == pre

    # partition pruning: only source=web gets a new manifest shard; every
    # other partition's shard is carried by reference (same path)
    post_list = {r["partition"]: r["path"] for r in
                 mf.read_manifest_list(table.path, table.log.current().manifest)}
    for part, path in pre_list.items():
        if part == "web":
            assert post_list[part] != path
        else:
            assert post_list[part] == path

    # file pruning within the partition: only files holding a match got
    # a DV; no data file was written or dropped
    pre_web = {e["file_path"]: e["dv_path"] for e in table.manifest_entries(pre_snap)
               if e["partition"] == "web"}
    post_web = {e["file_path"]: e["dv_path"] for e in table.manifest_entries()
                if e["partition"] == "web"}
    assert set(post_web) == set(pre_web)
    assert metrics.files_in == sum(1 for p, dv in post_web.items() if dv != pre_web[p])


def test_delete_where_no_match_commits_nothing(table):
    head = table.log.current_id()
    snap, _metrics = table.delete_where(f"{NUM} = 999999999")
    assert snap is None
    assert table.log.current_id() == head


def test_delete_where_null_predicate_rows_survive(table):
    """SQL DELETE semantics: rows where the predicate evaluates NULL are
    NOT deleted (only TRUE deletes)."""
    pre = sig_map(table.scan())
    # nullif makes the predicate NULL for every non-matching row
    some_id = sorted(pre)[0]
    snap, _ = table.delete_where(f"nullif(doc_id, '{some_id}') is null")
    post = sig_map(table.scan())
    assert set(pre) - set(post) == {some_id}
    assert snap.summary["matched_rows"] == 1
    # file-level pruning: one doc lives in one file — exactly one DV
    assert snap.summary["dv_files"] == 1


def test_changes_after_merge_replays_exactly(table, spark):
    from_id = table.log.current_id()
    pre = sig_map(table.scan(snapshot_id=from_id))

    updates = synthetic(spark, 6010).filter(F.expr(f"{NUM} % 500 = 100 or {NUM} >= 6000"))
    updates = updates.withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 3 as int))"))
    updates = updates.withColumn("n_tok", F.size("tokens").cast("int"))
    updates = updates.withColumn(
        "_op", F.when(F.expr(f"{NUM} = 100"), "delete").otherwise("upsert")
    )
    merge_into(table, updates)
    to_id = table.log.current_id()
    post = sig_map(table.scan())

    ch = table_changes(table, from_id, to_id)
    assert ch.columns == ["doc_id", "tokens", "n_tok", "source", "_change"]
    rows = ch.select("doc_id", "_change", token_sig(F.col("tokens")).alias("sig"),
                     "n_tok", "source").collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["_change"], {})[r["doc_id"]] = (r["sig"], r["n_tok"], r["source"])

    assert set(by_kind.get("insert", {})) == set(post) - set(pre)
    assert set(by_kind.get("delete", {})) == set(pre) - set(post)
    expected_updates = {d for d in pre if d in post and pre[d] != post[d]}
    assert set(by_kind.get("update", {})) == expected_updates
    assert expected_updates and by_kind["insert"] and by_kind["delete"]

    # replay: FROM state + changes == TO state
    replayed = dict(pre)
    for d in by_kind.get("delete", {}):
        replayed.pop(d)
    for kind in ("update", "insert"):
        replayed.update(by_kind.get(kind, {}))
    assert replayed == post

    # no-op rewrite rows (co-located neighbors in rewritten files) are
    # suppressed: every emitted row is a REAL logical change
    assert len(rows) == len(by_kind["insert"]) + len(by_kind["delete"]) + len(expected_updates)


def test_changes_after_compaction_is_empty(table):
    from_id = table.log.current_id()
    snap, _ = table.compact(POLICY)
    assert snap is not None
    ch = table_changes(table, from_id)
    # the diff READ real files (compaction rewrote them)...
    added, removed = changed_files(table, from_id, table.log.current_id())
    assert added and removed
    # ...but emitted zero logical changes
    assert ch.count() == 0


def test_changes_after_delete_where(table):
    from_id = table.log.current_id()
    pre = sig_map(table.scan())
    table.delete_where(f"{NUM} % 1111 = 7")
    expected = {d for d in pre if int(d[4:]) % 1111 == 7}
    assert expected
    ch = table_changes(table, from_id)
    assert changes_summary(ch) == {"delete": len(expected)}
    got = {r["doc_id"]: (r["sig"], r["n_tok"], r["source"]) for r in
           ch.select("doc_id", token_sig(F.col("tokens")).alias("sig"), "n_tok", "source").collect()}
    assert got == {d: pre[d] for d in expected}  # delete rows carry FROM values


def test_changes_same_snapshot_empty(table):
    head = table.log.current_id()
    assert table_changes(table, head, head).count() == 0


def test_changes_shard_aware_single_partition(table, spark):
    """A single-partition merge's diff touches only that partition's
    files — the shard-aware walk never lists other partitions' files."""
    from_id = table.log.current_id()
    upd = (
        synthetic(spark, 6000)
        .filter(F.expr(f"source = 'code' and {NUM} % 700 = 3"))
        .withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))"))
    )
    assert upd.count() > 0
    merge_into(table, upd)
    added, removed = changed_files(table, from_id, table.log.current_id())
    assert added and removed
    assert all("source=code/" in e["file_path"] for e in added + removed)


def test_changes_across_schema_evolution(table, spark):
    from_id = table.log.current_id()
    table.evolve_schema([{"name": "lang", "type": "string", "default": "und"}])
    batch = (
        synthetic(spark, 6050)
        .filter(F.expr(f"{NUM} >= 6040"))
        .withColumn("lang", F.lit("en"))
    )
    table.append(batch, repartition_n=1)
    ch = table_changes(table, from_id)
    assert ch.columns == ["doc_id", "tokens", "n_tok", "source", "lang", "_change"]
    rows = ch.collect()
    # metadata-only evolution emits nothing; only the appended batch shows
    assert {r["_change"] for r in rows} == {"insert"}
    assert sorted(r["doc_id"] for r in rows) == [f"doc-{i:010d}" for i in range(6040, 6050)]
    assert all(r["lang"] == "en" for r in rows)


def test_delete_summary_carries_table_aggregates(spark, tmp_path):
    """DML snapshots stamp the same post-state aggregates every other
    commit kind does — history()/trend tooling reads files/tokens."""
    t = TokenLakeTable.create(spark, str(tmp_path / "s"), synthetic(spark, 700), repartition_n=2)
    snap, _ = t.delete_where(f"{NUM} % 9 = 0")
    for key in ("files", "rows", "tokens", "bytes", "partitions"):
        assert snap.summary.get(key, 0) > 0, key
    hist = {r["snapshot_id"]: r for r in t.history().collect()}
    assert hist[snap.snapshot_id]["files"] > 0


def test_dml_on_table_path_with_space(spark, tmp_path):
    """input_file_name() URL-encodes its URI: a table path containing a
    space must still map matched files back to manifest entries."""
    t = TokenLakeTable.create(spark, str(tmp_path / "my t"), synthetic(spark, 600), repartition_n=2)
    pre = sig_map(t.scan())
    expected_gone = {d for d in pre if int(d[4:]) % 10 == 0}
    snap, _ = t.delete_where(f"{NUM} % 10 = 0")
    assert snap is not None and snap.summary["matched_rows"] == len(expected_gone)
    assert set(sig_map(t.scan())) == set(pre) - expected_gone


def test_dml_on_partition_value_with_space(spark, tmp_path):
    """URL-encoding appears in the URI wherever the special char lives —
    a clean table root with an encoded PARTITION value must decode too,
    or the strict manifest lookup refuses the whole delete."""
    t = TokenLakeTable.create(
        spark,
        str(tmp_path / "t"),
        synthetic(spark, 400).withColumn(
            "source", F.concat(F.lit("my "), F.col("source"))
        ),
        repartition_n=2,
    )
    pre = sig_map(t.scan())
    gone = {d for d in pre if int(d[4:]) % 8 == 0}
    snap, _ = t.delete_where(f"{NUM} % 8 = 0")
    assert snap is not None and snap.summary["matched_rows"] == len(gone)
    assert set(sig_map(t.scan())) == set(pre) - gone


def test_dml_on_partition_value_spark_escapes(spark, tmp_path):
    """Chars in Spark's partition-escaping set ('%', ':') are stored
    %XX-encoded in dir names but RAW in manifest records — the find
    pass must unescape when selecting shards, or every DML on such a
    table refuses to commit."""
    t = TokenLakeTable.create(
        spark,
        str(tmp_path / "t"),
        synthetic(spark, 400).withColumn(
            "source", F.concat(F.lit("a%x:"), F.col("source"))
        ),
        repartition_n=2,
    )
    pre = sig_map(t.scan())
    gone = {d for d in pre if int(d[4:]) % 6 == 0}
    snap, _ = t.delete_where(f"{NUM} % 6 = 0")
    assert snap is not None and snap.summary["matched_rows"] == len(gone)
    assert set(sig_map(t.scan())) == set(pre) - gone


def test_changes_classify_join_shuffles_no_payload(spark, tmp_path):
    """Round-6 two-phase CDC: the classify join over a compaction diff
    carries only (doc_id, source, sig) — no Exchange in the plan may
    ship the `tokens` payload (the old one-phase join shuffled the full
    token arrays on BOTH sides to produce zero rows), and the changed-
    key classes all count zero, so no phase-2 payload fetch appears."""
    import io
    from contextlib import redirect_stdout

    t = TokenLakeTable.create(
        spark, str(tmp_path / "t"), synthetic(spark, 6000), repartition_n=8
    )
    from_id = t.log.current_id()
    snap, _ = t.compact(POLICY)
    assert snap is not None
    ch = table_changes(t, from_id)
    # all classes counted zero -> the returned frame is an EMPTY local
    # relation: phase 2 planned no payload scan at all
    assert ch.count() == 0
    buf = io.StringIO()
    with redirect_stdout(buf):
        ch.explain("formatted")
    assert "Scan parquet" not in buf.getvalue()

    # a DELETE's diff is the DV delta of the files it touched: the plan
    # now scans those rows; with only position sets broadcast, NO
    # Exchange anywhere may carry the tokens payload
    from_id2 = t.log.current_id()
    t.delete_where(f"{NUM} % 500 = 3")
    ch2 = table_changes(t, from_id2)
    assert set(changes_summary(ch2)) == {"delete"}
    buf = io.StringIO()
    with redirect_stdout(buf):
        ch2.explain("formatted")
    plan = buf.getvalue()
    assert ") Scan parquet" in plan  # payload fetch is present this time
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and ") Exchange" in block.splitlines()[0]:
            assert "tokens" not in block, f"payload in exchange:\n{block}"


def test_changes_pure_append_is_joinless_inserts(spark, tmp_path):
    """A diff that only ADDED files (append/WAP publish) short-circuits
    to a labeled scan: every row is an insert and the plan contains no
    join and no exchange at all."""
    import io
    from contextlib import redirect_stdout

    t = TokenLakeTable.create(
        spark, str(tmp_path / "t"), synthetic(spark, 2000), repartition_n=4
    )
    from_id = t.log.current_id()
    t.append(synthetic(spark, 500).withColumn("doc_id", F.concat(F.lit("x"), F.col("doc_id"))))
    ch = table_changes(t, from_id)
    got = {r["_change"] for r in ch.select("_change").distinct().collect()}
    assert got == {"insert"}
    assert ch.count() == 500
    buf = io.StringIO()
    with redirect_stdout(buf):
        ch.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan and "Exchange" not in plan
