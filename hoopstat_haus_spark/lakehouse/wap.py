"""Write-audit-publish: stage-only appends audited before exposure.

Iceberg's WAP pattern (``write.wap.enabled`` stage-only snapshots,
cherry-picked to the main branch after audits pass; reference analog:
the ready-marker gating in ``libs/hoopstat-s3/hoopstat_s3/
silver_s3_manager.py:314-376`` — data exists but is not "published"
until the marker lands) adapted to this log's exclusive-create version
mutex: a version slot is allocated only at PUBLISH time, so a staged
batch awaiting audit never blocks concurrent maintenance commits.

    _snapshots/staged-<ref>.json  — staged record (file entries inline)

The record is created exclusively (``snapshots.write_atomic``: one
staged batch per ref), and ``<ref>`` must pass ``snapshots.check_name``.
``stage_append`` writes the data files and computes their manifest
entries, but commits no snapshot and claims no version. Audits read the
staged rows through ``scan_staged`` (same explicit-schema/defaults path
as a committed scan) — e.g. ``quarantine.validate_batch`` over them.
``publish_staged`` commits an append against WHATEVER head exists at
publish time through ``table.commit_rewrite``, which rebases it over a
commit that lands meanwhile. It is exactly-once: the published
snapshot's summary carries ``wap_ref``, so a re-publish after a crash
between commit and cleanup, or a publisher that lost the race to a
rival publisher of the same ref, finds that commit and only completes
the cleanup. ``discard_staged`` drops the record; the now-orphaned data
files age out through normal GC (which treats LIVE staged records'
files as reachable).

Scale note: the staged record inlines one ~200-byte entry per data
file — a staged batch is one ingest's output (10^2-10^3 files), never
the whole table, so the record stays metadata-scale; publish commits
through ``table.commit_rewrite`` exactly like ``TokenLakeTable.append``,
so it writes shards only for the partitions the batch landed in.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from hoopstat_haus_spark.lakehouse import snapshots
from hoopstat_haus_spark.lakehouse.schema import read_schema
from hoopstat_haus_spark.lakehouse.snapshots import Snapshot
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable, commit_rewrite, read_touched


def _staged_path(table_path: str, ref: str) -> str:
    snapshots.check_name(ref, "staged ref")
    return os.path.join(table_path, "_snapshots", f"staged-{ref}.json")


def staged_records(table_path: str) -> dict[str, dict]:
    """All live staged records by ref (GC reads this for reachability)."""
    snap_dir = os.path.join(table_path, "_snapshots")
    out: dict[str, dict] = {}
    if not os.path.isdir(snap_dir):
        return out
    for name in sorted(os.listdir(snap_dir)):
        if name.startswith("staged-") and name.endswith(".json"):
            with open(os.path.join(snap_dir, name)) as f:
                rec = json.load(f)
            out[rec["ref"]] = rec
    return out


def _read_staged(table_path: str, ref: str) -> dict:
    try:
        with open(_staged_path(table_path, ref)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise KeyError(f"unknown staged ref {ref!r}") from None


def stage_append(
    table: TokenLakeTable,
    df: DataFrame,
    ref: str | None = None,
    repartition_n: int | None = None,
) -> dict:
    """Write ``df``'s files and stats WITHOUT committing. Returns the
    staged record (``ref`` keys the later publish/discard)."""
    ref = ref or f"wap-{uuid.uuid4().hex[:10]}"
    path = _staged_path(table.path, ref)  # validates ref up front
    head = table.log.current()
    if head is None:
        raise ValueError("stage_append needs an existing table (use create)")
    schema = table.schema_def()
    entries = table._write_files(schema.conform(df), f"wap-{ref}", repartition_n)
    rec = {
        "ref": ref,
        "base_id": head.snapshot_id,
        "operation": "append",
        "schema_version": schema.version,
        "entries": entries,
        "created_ms": int(time.time() * 1000),
    }
    try:
        # exclusive: one staged batch per ref
        snapshots.write_atomic(path, json.dumps(rec, indent=1), exclusive=True)
    except FileExistsError:
        raise FileExistsError(f"staged ref {ref!r} already exists") from None
    return rec


def scan_staged(table: TokenLakeTable, ref: str) -> DataFrame:
    """The staged rows only (what an audit inspects) — explicit read
    schema + defaults, exactly like a committed scan; the audited view
    of the WHOLE table-after is ``table.scan().unionByName(this)``."""
    rec = _read_staged(table.path, ref)
    schema = read_schema(table.path, rec["schema_version"])
    return read_touched(table, schema, rec["entries"])


def _finish_published(table: TokenLakeTable, ref: str, snap: Snapshot) -> Snapshot:
    """Complete a publish someone already committed: drop the staged
    record (the committing publisher may have beaten us to that too)."""
    try:
        os.remove(_staged_path(table.path, ref))
    except FileNotFoundError:
        pass
    return snap


def publish_staged(table: TokenLakeTable, ref: str) -> Snapshot:
    """Expose a staged batch: one append commit against the CURRENT
    head (not the stage-time head — appends commute with every commit
    kind, so the batch rebases onto whatever maintenance ran since).
    Exactly-once via the ``wap_ref`` stamp, looked up after the head is
    read; a rival publish of this ref landing after that head is
    returned by ``commit_rewrite`` instead of a second append."""
    head = table.log.current()
    done = table.log.stamped("wap_ref", ref)
    if done is not None:
        return _finish_published(table, ref, done)
    try:
        rec = _read_staged(table.path, ref)
    except KeyError:
        # the record vanished after the lookup: a rival publisher may
        # have committed AND cleaned up; its stamp decides success or error
        done = table.log.stamped("wap_ref", ref)
        if done is None:
            raise
        return _finish_published(table, ref, done)
    snap = commit_rewrite(
        table,
        head,
        "append",
        [],
        rec["entries"],
        {"wap_ref": ref, "staged_ms": rec["created_ms"]},
        stamp_key="wap_ref",
    )
    return _finish_published(table, ref, snap)


def discard_staged(table: TokenLakeTable, ref: str) -> dict:
    """Drop a staged batch that failed its audit. Metadata-only: the
    staged data files become orphans and normal GC (min-age guarded)
    removes them."""
    rec = _read_staged(table.path, ref)
    os.remove(_staged_path(table.path, ref))
    return rec
