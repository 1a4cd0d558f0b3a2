"""A crash at every metadata write.

Every metadata file of a table becomes visible through
``snapshots.write_atomic``. Here each call of it fails once, either
before it writes or right after, during a DELETE and during a two-unit
compaction. Whatever the crash point, the head is the old or the new
snapshot, a full scan holds exactly that snapshot's rows, and running
the op again (the compaction under the same job id) converges to the
result of a run that never crashed."""

import hashlib
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable, snapshots
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=4 * MB, max_file_bytes=8 * MB)
SOURCES = ["books", "code"]


class Crash(RuntimeError):
    pass


def _delete(t):
    t.delete_where("CAST(substr(doc_id, 5) AS INT) % 5 = 2")


def _compact(t):
    # one unit at a time: the k-th metadata write is the same site in
    # every run
    t.compact(POLICY, job_id="crash-compact", max_concurrent_units=1)


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("crash") / "template")
    df = synthetic(spark, 2000).filter(F.col("source").isin(SOURCES))
    TokenLakeTable.create(spark, path, df, repartition_n=3)
    return path


def _digest(t) -> str:
    rows = t.scan().select("doc_id", token_sig(F.col("tokens")).alias("sig"), "source")
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows.collect())).encode()).hexdigest()


def _run(spark, template, path, op, crash_at=None, after=False):
    """Copy the template to ``path`` and run ``op`` on it with the
    ``crash_at``-th metadata write failing once (before the write, or
    after it with ``after``). Returns (table, metadata writes made)."""
    shutil.copytree(template, path)
    t = TokenLakeTable(spark, path)
    real = snapshots.write_atomic
    lock = threading.Lock()
    calls = [0]

    def write_atomic(p, text, exclusive=False):
        with lock:
            calls[0] += 1
            k = calls[0]
        if k == crash_at and not after:
            raise Crash(f"before metadata write {k}: {p}")
        real(p, text, exclusive)
        if k == crash_at:
            raise Crash(f"after metadata write {k}: {p}")

    snapshots.write_atomic = write_atomic
    try:
        if crash_at is None:
            op(t)
        else:
            with pytest.raises(Crash):
                op(t)
    finally:
        snapshots.write_atomic = real
    return t, calls[0]


@pytest.mark.parametrize("op", [_delete, _compact], ids=["delete", "compact"])
def test_crash_at_every_metadata_write_converges(spark, template, tmp_path, op):
    base = TokenLakeTable(spark, template)
    old_id = base.log.current_id()
    old_digest = _digest(base)
    done, n_writes = _run(spark, template, str(tmp_path / "clean"), op)
    new_digest = _digest(done)
    assert done.log.current_id() == old_id + 1
    if op is _compact:
        assert new_digest == old_digest
        assert n_writes == 7  # 2 intents, 2 dones, list, snapshot, _metrics
    else:
        assert new_digest != old_digest
        assert n_writes == 3  # list, snapshot, _metrics
    for after in (False, True):
        for k in range(1, n_writes + 1):
            t, _ = _run(spark, template, str(tmp_path / f"k{k}-{after}"), op, k, after)
            head = t.log.current_id()
            assert head in (old_id, old_id + 1), (k, after, head)
            assert _digest(t) == (old_digest if head == old_id else new_digest), (k, after)
            op(t)  # the rerun
            assert t.log.current_id() == old_id + 1, (k, after)
            assert _digest(t) == new_digest, (k, after)
