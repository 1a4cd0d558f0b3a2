"""Write-audit-publish (lakehouse/wap.py).

Verified the DML way: staged rows invisible to every committed scan,
token-sig equality of the staged view vs the input, publish rebasing
over a concurrent commit, exactly-once re-publish, GC treating live
staged files as roots (and discarded ones as garbage), and the audit
flow (validate_batch over the staged view → discard the dirty ref).
"""

import os

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import TokenLakeTable
from hoopstat_haus_spark.lakehouse.gc import collect_garbage
from hoopstat_haus_spark.lakehouse.quarantine import validate_batch
from hoopstat_haus_spark.lakehouse.wap import (
    discard_staged,
    publish_staged,
    scan_staged,
    stage_append,
    staged_records,
)
from hoopstat_haus_spark.tables import synthetic, token_sig


def sigs(df):
    rows = df.select("doc_id", token_sig(F.col("tokens")).alias("sig")).collect()
    out = {r["doc_id"]: r["sig"] for r in rows}
    assert len(out) == len(rows), "duplicate doc_id"
    return out


def batch(spark, n, prefix):
    """Fresh-keyed batch: synthetic rows re-keyed so they never collide
    with the table's own doc ids."""
    return synthetic(spark, n).withColumn(
        "doc_id", F.concat(F.lit(prefix + "-"), F.col("doc_id"))
    )


@pytest.fixture()
def table(spark, tmp_path):
    return TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 3000), repartition_n=4)


def test_stage_is_invisible_and_scan_staged_exact(table, spark):
    head_before = table.log.current_id()
    src = batch(spark, 400, "wapa")
    rec = stage_append(table, src, ref="audit1")
    assert table.log.current_id() == head_before  # no pointer motion
    assert "audit1" in staged_records(table.path)
    assert rec["base_id"] == head_before
    base = sigs(table.scan())
    assert not any(d.startswith("wapa-") for d in base)
    staged = sigs(scan_staged(table, "audit1"))
    assert staged == sigs(src)


def test_publish_rebases_over_concurrent_commit(table, spark):
    stage_append(table, batch(spark, 300, "wapb"), ref="audit2")
    # head moves AFTER staging: a plain append lands in between
    table.append(batch(spark, 200, "mid"), repartition_n=2)
    mid_head = table.log.current_id()
    snap = publish_staged(table, "audit2")
    assert snap.parent_id == mid_head  # rebased onto the newer head
    assert snap.summary["wap_ref"] == "audit2"
    final = sigs(table.scan())
    assert sum(d.startswith("wapb-") for d in final) == 300
    assert sum(d.startswith("mid-") for d in final) == 200
    assert "audit2" not in staged_records(table.path)
    # exactly-once: re-publish (crash-after-commit replay) is a no-op
    again = publish_staged(table, "audit2")
    assert again.snapshot_id == snap.snapshot_id


def test_audit_flow_discard_dirty_publish_clean(table, spark):
    dirty = batch(spark, 150, "wapc").withColumn(
        "tokens", F.when(F.col("doc_id").endswith("0"), F.slice("tokens", 1, 2)).otherwise(F.col("tokens"))
    )  # every *0 doc now has n_tok != size(tokens)
    stage_append(table, dirty, ref="dirty")
    ok, bad = validate_batch(scan_staged(table, "dirty"))
    assert bad.count() > 0  # audit catches the corruption pre-publish
    discard_staged(table, "dirty")
    assert "dirty" not in staged_records(table.path)
    with pytest.raises(KeyError):
        publish_staged(table, "dirty")

    clean = batch(spark, 150, "wapd")
    stage_append(table, clean, ref="clean")
    ok2, bad2 = validate_batch(scan_staged(table, "clean"))
    assert bad2.count() == 0
    publish_staged(table, "clean")
    assert sum(d.startswith("wapd-") for d in sigs(table.scan())) == 150


def test_gc_protects_live_staged_and_reaps_discarded(table, spark):
    rec = stage_append(table, batch(spark, 120, "wape"), ref="gcref")
    staged_files = [e["file_path"] for e in rec["entries"]]
    assert staged_files
    report = collect_garbage(table.path, min_age_s=0)
    assert not set(report["removed_data_files"]) & set(staged_files)
    for rel in staged_files:
        assert os.path.exists(os.path.join(table.path, rel))
    # audit still works after an aggressive GC ran underneath it
    assert scan_staged(table, "gcref").count() == 120

    discard_staged(table, "gcref")
    report2 = collect_garbage(table.path, min_age_s=0)
    assert set(staged_files) <= set(report2["removed_data_files"])
    for rel in staged_files:
        assert not os.path.exists(os.path.join(table.path, rel))


def test_ref_hygiene(table, spark):
    stage_append(table, batch(spark, 50, "wapf"), ref="dup")
    with pytest.raises(FileExistsError):
        stage_append(table, batch(spark, 50, "wapg"), ref="dup")
    with pytest.raises(ValueError):
        stage_append(table, batch(spark, 50, "waph"), ref="bad/ref")
    discard_staged(table, "dup")


def test_publish_after_schema_evolution(table, spark):
    """A schema evolve landing between stage and publish must not strand
    the staged files: they were written under the OLD schema version, so
    the post-publish scan reads them with the new column's default (the
    same mixed-schema machinery every committed old file uses)."""
    stage_append(table, batch(spark, 90, "waps"), ref="preevo")
    table.evolve_schema([{"name": "lang", "type": "string", "default": "und"}])
    # the staged view still reads at its own pinned schema version
    assert "lang" not in scan_staged(table, "preevo").columns
    snap = publish_staged(table, "preevo")
    assert snap.summary["schema_version"] == table.schema_def().version
    out = table.scan().filter(F.col("doc_id").startswith("waps-"))
    assert out.count() == 90
    assert {r["lang"] for r in out.select("lang").distinct().collect()} == {"und"}


def test_republish_after_schema_evolve_returns_the_publish(table, spark):
    """The schema snapshot carries only table aggregates: copying the
    head's summary would stamp the publish's ``wap_ref`` on it, and an
    exactly-once re-publish (newest-first stamp scan) would return the
    schema snapshot instead of the append it made."""
    stage_append(table, batch(spark, 60, "wapr"), ref="p")
    pub = publish_staged(table, "p")
    evo = table.evolve_schema([{"name": "lang", "type": "string", "default": "und"}])
    assert "wap_ref" not in evo.summary and "job_id" not in evo.summary
    aggs = ("files", "rows", "tokens", "bytes", "partitions")
    assert {k: evo.summary[k] for k in aggs} == {k: pub.summary[k] for k in aggs}
    assert evo.summary["schema_version"] == pub.summary["schema_version"] + 1
    assert publish_staged(table, "p").snapshot_id == pub.snapshot_id


def test_concurrent_publish_of_same_ref_appends_once(table, spark, monkeypatch):
    """Two publishers of one ref: the CAS loser must re-check the
    wap_ref stamp on retry instead of rebasing the batch onto a head
    that already contains it (which would append every row twice)."""
    stage_append(table, batch(spark, 200, "race"), ref="race1")
    pre_rows = table.scan().count()

    other = TokenLakeTable(spark, table.path)  # the racing publisher
    real_commit = table.log.commit
    winner = []

    def commit_with_race(*a, **kw):
        if not winner:
            winner.append(publish_staged(other, "race1"))  # winner lands first
        return real_commit(*a, **kw)  # now raises ConcurrentCommitError

    monkeypatch.setattr(table.log, "commit", commit_with_race)
    snap = publish_staged(table, "race1")
    assert snap.snapshot_id == winner[0].snapshot_id  # loser adopted the winner's commit
    assert table.scan().count() == pre_rows + 200  # appended exactly once
    assert "race1" not in staged_records(table.path)


def test_publish_detects_same_ref_commit_before_first_attempt(table, spark):
    """A same-ref publish landing between the initial stamp scan and the
    first commit attempt must be detected by the pre-commit re-scan, not
    double-appended. Simulated by publishing via a second handle AFTER
    this handle's publish has read the staged record (the re-scan runs
    every attempt, so the winner's commit is found before planning)."""
    stage_append(table, batch(spark, 120, "race0"), ref="race0")
    pre = table.scan().count()
    other = TokenLakeTable(spark, table.path)
    winner = publish_staged(other, "race0")
    # loser arrives late: full pre-scan finds the stamp — and the
    # attempt-loop re-scan path is covered by the injected-race test
    snap = publish_staged(table, "race0")
    assert snap.snapshot_id == winner.snapshot_id
    assert table.scan().count() == pre + 120


def test_publish_survives_rival_cleanup_between_scan_and_read(table, spark, monkeypatch):
    """Rival publishes AND removes the staged record between this
    publisher's stamp scan and its staged read: the KeyError resolves to
    the rival's commit instead of a spurious error."""
    import hoopstat_haus_spark.lakehouse.wap as wap

    stage_append(table, batch(spark, 80, "racex"), ref="racex")
    pre = table.scan().count()
    other = TokenLakeTable(spark, table.path)
    winner = []
    real_read = wap._read_staged

    def read_after_rival(path, ref):
        if not winner:
            winner.append(None)  # guard first: the rival re-enters this patch
            winner[0] = publish_staged(other, ref)  # commits + cleans up
        return real_read(path, ref)  # now raises KeyError

    monkeypatch.setattr(wap, "_read_staged", read_after_rival)
    snap = publish_staged(table, "racex")
    assert snap.snapshot_id == winner[0].snapshot_id
    assert table.scan().count() == pre + 80
