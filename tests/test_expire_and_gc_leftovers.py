"""Retention edges: ``expire(keep_last=0)`` keeps only HEAD and tagged
snapshots (``ids[-0:]`` used to keep every id), a negative count is
refused, and GC sweeps the ``<name>.tmp-<uuid>`` a publisher killed
inside ``snapshots.write_atomic`` leaves in the metadata dirs."""

import json
import os
import sys
import time
import uuid

import pytest

from hoopstat_haus_spark.lakehouse import TokenLakeTable
from hoopstat_haus_spark.lakehouse.gc import collect_garbage
from hoopstat_haus_spark.lakehouse.snapshots import SnapshotLog
from hoopstat_haus_spark.tables import synthetic

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
import maintenance_job  # noqa: E402


def _log(path, commits=4):
    log = SnapshotLog(str(path))
    for _ in range(commits):
        log.commit(manifest="_manifests/list.json", operation="append")
    return log


def test_expire_keep_last_zero_keeps_head_and_tags(tmp_path):
    log = _log(tmp_path / "plain")
    assert log.expire(keep_last=0) == [1, 2, 3]
    assert log.list_ids() == [4]

    tagged = _log(tmp_path / "tagged")
    tagged.set_tag("pinned", snapshot_id=2)
    assert tagged.expire(keep_last=0) == [1, 3]
    assert tagged.list_ids() == [2, 4]


def test_expire_negative_keep_last_raises(tmp_path):
    log = _log(tmp_path)
    with pytest.raises(ValueError, match="keep_last"):
        log.expire(keep_last=-1)
    assert log.list_ids() == [1, 2, 3, 4]


def test_cli_expire_keep_last_zero(spark, tmp_table_dir, capsys):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 200), repartition_n=1)
    manifest = t.log.current().manifest
    for _ in range(3):
        t.log.commit(manifest=manifest, operation="append")
    rc = maintenance_job.main(["expire", "--table", t.path, "--keep-last", "0"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["expired_snapshots"] == [1, 2, 3]
    assert t.log.list_ids() == [4]


def test_gc_sweeps_write_atomic_leftovers(tmp_path):
    table = str(tmp_path)
    SnapshotLog(table)
    old = time.time() - 2 * 3600
    planted = []
    for sub in ("_snapshots", "_schema", "_metrics"):
        os.makedirs(os.path.join(table, sub), exist_ok=True)
        rel = f"{sub}/v7.json.tmp-{uuid.uuid4().hex}"
        with open(os.path.join(table, rel), "w") as f:
            f.write("{}")
        os.utime(os.path.join(table, rel), (old, old))
        planted.append(rel)
    young = f"_snapshots/tag-x.json.tmp-{uuid.uuid4().hex}"
    kept = ["_metrics/job-1.json", "_schema/notes.tmp-1"]
    for rel in [young, *kept]:
        with open(os.path.join(table, rel), "w") as f:
            f.write("{}")
    for rel in kept:
        os.utime(os.path.join(table, rel), (old, old))

    report = collect_garbage(table)
    assert report["removed_manifests"] == sorted(planted)
    assert all(not os.path.exists(os.path.join(table, rel)) for rel in planted)
    assert os.path.exists(os.path.join(table, young))

    assert collect_garbage(table, min_age_s=0)["removed_manifests"] == [young]
    assert all(os.path.exists(os.path.join(table, rel)) for rel in kept)


def test_gc_sweeps_write_atomic_leftovers_outside_metadata_dirs(tmp_path):
    """Checkpoints, incremental views, digest indexes and the quarantine
    pointer publish through ``write_atomic`` too, so their leftovers
    are swept as well; a young one survives the default min age."""
    table = str(tmp_path)
    SnapshotLog(table)
    planted = [
        f"_checkpoints/j1/u.json.tmp-{uuid.uuid4().hex}",
        f"_views/v.json.tmp-{uuid.uuid4().hex}",
        f"_digest_index/ix/meta.json.tmp-{uuid.uuid4().hex}",
        f"_quarantine_ptr.tmp-{uuid.uuid4().hex}",
    ]
    young = f"_views/w.json.tmp-{uuid.uuid4().hex}"
    for rel in [*planted, young]:
        os.makedirs(os.path.dirname(os.path.join(table, rel)), exist_ok=True)
        with open(os.path.join(table, rel), "w") as f:
            f.write("{}")
    for rel in planted:
        os.utime(os.path.join(table, rel), (0, 0))

    assert collect_garbage(table)["removed_manifests"] == sorted(planted)
    assert not any(os.path.exists(os.path.join(table, rel)) for rel in planted)
    assert os.path.exists(os.path.join(table, young))
