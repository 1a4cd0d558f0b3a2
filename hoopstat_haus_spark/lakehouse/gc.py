"""Reachability GC: delete files no retained snapshot can reach.

Expiry (snapshots.py) only drops snapshot records; this pass walks the
remaining snapshots → their manifests → their file sets (every entry's
data file AND its deletion vector), and removes anything on disk
outside that reachable set (orphans from crashed jobs included — a DV
or data file written before a commit that never landed). The two-phase
split means a crash between expire and GC can only leave garbage, never
dangle a reference.

Concurrent-writer safety (Iceberg's orphan-file rules):

- **min-age guard**: a file younger than ``min_age_s`` is NEVER deleted,
  even if unreachable — it may belong to a job that hasn't committed its
  snapshot yet (default 1 h; pass 0 only when no other writer can run).
- **checkpoint protection**: files recorded as ``output_files`` in ANY
  ``_checkpoints`` record are kept — a crashed-but-resumable
  compaction's staged-into-place outputs must survive GC or the resume
  fails on missing files. Only uncommitted compactions hold
  checkpoints (a compaction that returns clears its own; merge, delete
  and update write none), so committed outputs are protected only by
  reachability and become garbage once their snapshots expire.
- **publish leftovers**: a process killed inside
  ``snapshots.write_atomic`` leaves its ``<name>.tmp-<32 hex>`` behind;
  past the min age these are swept from the whole table tree but
  ``data/``, ``.staging/`` and ``_manifests/`` (each swept by its own
  rule) and reported under ``removed_manifests``.
- **scoped staging sweep**: only ``.staging/<job_id>`` dirs older than
  the min age AND not owned by a checkpointed job are removed — never
  the whole tree (which would destroy a live job's in-flight output).

Scale note: reachable-set construction is driver-side set algebra over
manifest metadata (~1 row per data file), deduped at SHARD level —
shards are immutable and carried by reference across snapshots, so K
retained snapshots over P partitions cost O(distinct shard paths)
parquet opens (≈ P + touched), never O(K × P); expired-only shards are
never opened. At ~10^6 files the resulting path set is ~100 MB of
strings; if manifests outgrow the driver, the same union/except is one
Spark job over manifest DataFrames.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.snapshots import SnapshotLog

DEFAULT_MIN_AGE_S = 3600.0
# the tmp name snapshots.write_atomic publishes through
_PUBLISH_TMP = re.compile(r".+\.tmp-[0-9a-f]{32}")


def _checkpoint_protected(table_path: str) -> set[str]:
    """Relative paths of every checkpointed unit's output files."""
    protected: set[str] = set()
    root = os.path.join(table_path, "_checkpoints")
    if not os.path.isdir(root):
        return protected
    for job_id in os.listdir(root):
        job_dir = os.path.join(root, job_id)
        if not os.path.isdir(job_dir):
            continue
        for name in os.listdir(job_dir):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(job_dir, name)) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            protected.update(rec.get("output_files", []))
    return protected


def collect_garbage(
    table_path: str, dry_run: bool = False, min_age_s: float = DEFAULT_MIN_AGE_S
) -> dict:
    log = SnapshotLog(table_path)
    now = time.time()
    reachable_data: set[str] = set()
    reachable_manifests: set[str] = set()
    # Shard-level diffing: shards are immutable and carried by REFERENCE
    # across snapshots, so any shard path named by ≥1 retained list is
    # reachable in toto and its entry set needs reading exactly ONCE —
    # K retained snapshots over P partitions cost O(distinct shards)
    # parquet opens (≈ P + touched), never O(K × P). Shards referenced
    # only by expired snapshots are never opened at all: their data
    # files are either shared with a retained shard (already reachable)
    # or garbage the directory walk finds without any manifest help.
    for sid in log.list_ids():
        snap = log.get(sid)
        reachable_manifests.add(snap.manifest)
        for rec in mf.read_manifest_list(table_path, snap.manifest):
            if rec["path"] in reachable_manifests:
                continue  # shard already read for another snapshot
            reachable_manifests.add(rec["path"])
            for e in mf.read_shard(table_path, rec):
                reachable_data.add(e["file_path"])
                if e["dv_path"]:
                    reachable_data.add(e["dv_path"])
    reachable_data |= _checkpoint_protected(table_path)
    # live write-audit-publish batches: staged but not yet published
    # files have no snapshot referencing them, yet an audit may run
    # longer than min_age — their entries are roots until publish or
    # discard removes the staged record
    from hoopstat_haus_spark.lakehouse.wap import staged_records

    for rec in staged_records(table_path).values():
        reachable_data.update(e["file_path"] for e in rec["entries"])

    def young(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) < min_age_s
        except OSError:
            return True  # vanished mid-walk → someone is using it

    def young_tree(path: str) -> bool:
        """min-age gate over a SUBTREE's newest mtime: a live job writing
        into .staging/<job>/out/ only bumps nested dirs — the top dir's
        mtime freezes once its direct entries exist, so gating on it
        alone would sweep a long-running job's in-flight output."""
        if young(path):
            return True
        try:
            for dirpath, _dirs, files in os.walk(path):
                if young(dirpath) or any(
                    young(os.path.join(dirpath, f)) for f in files
                ):
                    return True
        except OSError:
            return True
        return False

    removed_data, removed_manifests, removed_staging = [], [], []
    data_root = os.path.join(table_path, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        for name in files:
            abs_path = os.path.join(dirpath, name)
            rel = os.path.relpath(abs_path, table_path)
            if rel not in reachable_data and not young(abs_path):
                removed_data.append(rel)
                if not dry_run:
                    os.remove(abs_path)

    man_dir = os.path.join(table_path, "_manifests")
    if os.path.isdir(man_dir):
        for name in os.listdir(man_dir):
            rel = f"_manifests/{name}"
            abs_path = os.path.join(table_path, rel)
            if rel not in reachable_manifests and not young(abs_path):
                removed_manifests.append(rel)
                if not dry_run:
                    os.remove(abs_path)

    # publish leftovers wherever write_atomic runs: every metadata dir,
    # and the table root (the quarantine pointer). The trees swept by
    # their own rules are left out.
    for dirpath, dirs, files in os.walk(table_path):
        if dirpath == table_path:
            dirs[:] = [d for d in dirs if d not in ("data", ".staging", "_manifests")]
        for name in files:
            abs_path = os.path.join(dirpath, name)
            if _PUBLISH_TMP.fullmatch(name) and not young(abs_path):
                removed_manifests.append(os.path.relpath(abs_path, table_path))
                if not dry_run:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(abs_path)

    # sweep ONLY stale per-job staging dirs; jobs with a checkpoint dir
    # are resumable and keep their staging until the checkpoint is gone
    staging = os.path.join(table_path, ".staging")
    ckpt_root = os.path.join(table_path, "_checkpoints")
    if os.path.isdir(staging):
        for job_id in os.listdir(staging):
            job_staging = os.path.join(staging, job_id)
            if young_tree(job_staging) or os.path.isdir(os.path.join(ckpt_root, job_id)):
                continue
            removed_staging.append(f".staging/{job_id}")
            if not dry_run:
                shutil.rmtree(job_staging, ignore_errors=True)

    # superseded quarantine sidecars: replay swaps the pointer to a
    # fresh dir and leaves the old one in place (an rmtree there could
    # delete a concurrent appender's in-flight files — the appender's
    # post-write pointer recheck handles recovery). Old dirs become
    # plain orphans; collect them here once past the min age.
    ptr = os.path.join(table_path, "_quarantine_ptr")
    live_sidecar = "_quarantine"
    if os.path.exists(ptr):
        with open(ptr) as f:
            live_sidecar = f.read().strip()
    for name in os.listdir(table_path):
        if not name.startswith("_quarantine") or name == live_sidecar:
            continue
        p = os.path.join(table_path, name)
        if not os.path.isdir(p) or young_tree(p):
            continue
        removed_staging.append(name)
        if not dry_run:
            shutil.rmtree(p, ignore_errors=True)

    return {
        "reachable_files": len(reachable_data),
        "removed_data_files": sorted(removed_data),
        "removed_manifests": sorted(removed_manifests),
        "removed_staging": sorted(removed_staging),
    }
