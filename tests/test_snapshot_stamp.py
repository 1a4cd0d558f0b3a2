"""``SnapshotLog.stamped``, the one "did this commit already land?"
lookup behind WAP's exactly-once publish and the stream ingest's replay
skip, on a metadata-only log."""

from hoopstat_haus_spark.lakehouse.snapshots import SnapshotLog


def test_stamped_finds_newest_match_after_an_id(tmp_path):
    log = SnapshotLog(str(tmp_path))
    for summary in ({"ref": "a"}, {"ref": "b"}, {"ref": "a"}, {}):
        log.commit(manifest="_manifests/list.json", operation="append", summary=summary)

    assert log.stamped("ref", "a").snapshot_id == 3
    assert log.stamped("ref", "b").snapshot_id == 2
    assert log.stamped("ref", "a", after=1).snapshot_id == 3
    assert log.stamped("ref", "b", after=2) is None
    assert log.stamped("ref", "a", after=3) is None
    assert log.stamped("ref", "c") is None
    assert log.stamped("other", "a") is None
