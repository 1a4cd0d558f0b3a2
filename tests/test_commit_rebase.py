"""A lost commit race, for every file-set writer (``table.commit_rewrite``).

Each cell lets a rival commit through a second ``TokenLakeTable`` handle
right before the writer's first ``SnapshotLog.commit`` call, then checks
the head and the ``(doc_id, token_sig, source)`` rows. A writer rebases
onto the rival's snapshot when every file it removes is still live
there under the same deletion vector and, for delete, update and merge,
no partition it touches gained a file; otherwise it raises
``ConcurrentCommitError`` and the rival's state stands.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import table as table_mod
from hoopstat_haus_spark.lakehouse.checkpoint import JobCheckpoint
from hoopstat_haus_spark.lakehouse.health import read_job_records
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.snapshots import ConcurrentCommitError, SnapshotLog
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=4 * MB, max_file_bytes=8 * MB)
SOURCES = ["books", "code"]
MOD5_2 = "CAST(substr(doc_id, 5) AS INT) % 5 = 2"
MOD5_3 = "CAST(substr(doc_id, 5) AS INT) % 5 = 3"


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rebase") / "template")
    df = synthetic(spark, 2000).filter(F.col("source").isin(SOURCES))
    TokenLakeTable.create(spark, path, df, repartition_n=3)
    return path


@pytest.fixture()
def t(spark, template, tmp_path):
    path = str(tmp_path / "t")
    shutil.copytree(template, path)
    return TokenLakeTable(spark, path)


def _rows(df):
    """Sorted ``(doc_id, token_sig, source)`` rows: a duplicated key shows."""
    rows = df.select("doc_id", token_sig(F.col("tokens")).alias("sig"), "source").collect()
    return sorted(tuple(r) for r in rows)


def _fresh(spark, n, prefix, source):
    """``n`` rows under new keys, all in partition ``source``."""
    return (
        synthetic(spark, n)
        .withColumn("doc_id", F.concat(F.lit(prefix + "-"), F.col("doc_id")))
        .withColumn("source", F.lit(source))
    )


def _mod5(rows, k, sources=SOURCES):
    """``rows`` less those a ``% 5 = k`` delete over ``sources`` removes."""
    return [r for r in rows if not (r[2] in sources and int(r[0][4:]) % 5 == k)]


def _race(monkeypatch, rival):
    """Run ``rival()`` (which commits through its own handle) inside the
    next ``SnapshotLog.commit`` call, before that call runs. Returns a
    list that holds the rival's result once it ran. The guard is set
    first, because the rival's own commit re-enters the wrapper."""
    real = SnapshotLog.commit
    out = []

    def commit(self, *a, **kw):
        if not out:
            out.append(None)
            out[0] = rival()
        return real(self, *a, **kw)

    monkeypatch.setattr(SnapshotLog, "commit", commit)
    return out


def _records(t, operation):
    return [r for r in read_job_records(t.path) if r["operation"] == operation]


def test_compact_rebases_over_append(spark, t, monkeypatch):
    """An append to a partition being compacted does not void the
    compaction: it commits on the append's snapshot, and the appended
    file stays live and uncompacted."""
    pre = _rows(t.scan())
    extra = _fresh(spark, 100, "app", "books")
    units = []
    real_unit = table_mod.compact_partition

    def count_unit(*a, **kw):
        units.append(a[2])
        return real_unit(*a, **kw)

    monkeypatch.setattr(table_mod, "compact_partition", count_unit)
    other = TokenLakeTable(spark, t.path)
    rival = _race(monkeypatch, lambda: other.append(extra, repartition_n=1))
    snap, _ = t.compact(POLICY, job_id="rebase-c1")

    assert snap.parent_id == rival[0].snapshot_id == t.log.current_id() - 1
    assert _rows(t.scan()) == sorted(pre + _rows(extra))
    before = {e["file_path"] for e in t.manifest_entries(rival[0].parent_id)}
    appended = {e["file_path"] for e in t.manifest_entries(rival[0].snapshot_id)} - before
    live = {e["file_path"] for e in t.manifest_entries()}
    assert appended and appended <= live
    assert sorted(units) == SOURCES  # no unit re-ran for the rebase
    recs = _records(t, "compact")
    assert [(r["status"], r["snapshot_id"]) for r in recs] == [("success", snap.snapshot_id)]


def test_append_rebases_over_append(spark, t, monkeypatch):
    pre = _rows(t.scan())
    a, b = _fresh(spark, 60, "a", "books"), _fresh(spark, 40, "b", "code")
    other = TokenLakeTable(spark, t.path)
    rival = _race(monkeypatch, lambda: other.append(b, repartition_n=1))
    snap = t.append(a, repartition_n=1)
    assert snap.parent_id == rival[0].snapshot_id
    assert snap.snapshot_id == t.log.current_id()
    assert _rows(t.scan()) == sorted(pre + _rows(a) + _rows(b))


def test_compact_conflicts_with_delete_then_resumes(spark, t, monkeypatch):
    """A delete that gives a compaction input a DV voids the compaction:
    committing it would bring the deleted rows back. The failed run
    keeps its checkpoint, and a rerun under the same job id re-runs the
    unit whose inputs changed."""
    pre = _rows(t.scan())
    other = TokenLakeTable(spark, t.path)
    rival = _race(monkeypatch, lambda: other.delete_where(MOD5_2, sources=["books"])[0])
    with pytest.raises(ConcurrentCommitError):
        t.compact(POLICY, job_id="rebase-c2")
    deleted = _mod5(pre, 2, ["books"])
    assert t.log.current_id() == rival[0].snapshot_id
    assert _rows(t.scan()) == deleted
    assert [r["status"] for r in _records(t, "compact")] == ["failed"]
    assert JobCheckpoint(t.path, "rebase-c2").completed_units()

    monkeypatch.undo()
    snap, _ = t.compact(POLICY, job_id="rebase-c2")
    assert snap.parent_id == rival[0].snapshot_id
    assert not any(e["dv_path"] for e in t.manifest_entries())
    assert _rows(t.scan()) == deleted


def test_delete_conflicts_with_delete_on_the_same_files(spark, t, monkeypatch):
    """Each DV holds its file's full deleted set, so two deletes that
    each give one file a new DV cannot both commit."""
    pre = _rows(t.scan())
    other = TokenLakeTable(spark, t.path)
    rival = _race(monkeypatch, lambda: other.delete_where(MOD5_3)[0])
    with pytest.raises(ConcurrentCommitError):
        t.delete_where(MOD5_2)
    assert t.log.current_id() == rival[0].snapshot_id
    assert _rows(t.scan()) == _mod5(pre, 3)


def test_merge_conflicts_with_append_of_its_keys(spark, t, monkeypatch):
    """A MERGE that inserts a key must not rebase over an append of that
    key: its match pass never saw the appended row."""
    pre = _rows(t.scan())
    feed = _fresh(spark, 20, "dup", "books")
    other = TokenLakeTable(spark, t.path)
    rival = _race(monkeypatch, lambda: other.append(feed, repartition_n=1))
    with pytest.raises(ConcurrentCommitError):
        merge_into(t, feed)
    assert t.log.current_id() == rival[0].snapshot_id
    after = _rows(t.scan())
    assert after == sorted(pre + _rows(feed))
    assert len({(d, s) for d, _sig, s in after}) == len(after)


def test_delete_rebases_over_append_to_another_partition(spark, t, monkeypatch):
    pre = _rows(t.scan())
    extra = _fresh(spark, 50, "other", "code")
    other = TokenLakeTable(spark, t.path)
    rival = _race(monkeypatch, lambda: other.append(extra, repartition_n=1))
    snap, _ = t.delete_where(MOD5_2, sources=["books"])
    assert snap.parent_id == rival[0].snapshot_id
    assert _rows(t.scan()) == sorted(_mod5(pre, 2, ["books"]) + _rows(extra))


def test_create_conflicts_with_create(spark, tmp_path, monkeypatch):
    """A creator that finds the table created while it wrote must not
    commit over it: the first creator's rows would leave the head."""
    path = str(tmp_path / "c")
    a, b = _fresh(spark, 80, "A", "books"), _fresh(spark, 40, "B", "code")
    _race(monkeypatch, lambda: TokenLakeTable.create(spark, path, a, repartition_n=1))
    with pytest.raises(ConcurrentCommitError):
        TokenLakeTable.create(spark, path, b, repartition_n=1)
    t = TokenLakeTable(spark, path)
    assert t.log.current_id() == 1
    assert _rows(t.scan()) == _rows(a)
