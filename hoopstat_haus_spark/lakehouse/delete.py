"""Row-level DML by deletion vectors: DELETE, and the DV commit UPDATE
and MERGE share.

Reference ancestor: the replay engine's "overwrite the one object that
holds the bad rows" pattern (``apps/bronze-ingestion/app/replay.py``,
write-back ``:425-458``) — generalized here to arbitrary-predicate row
DML with Iceberg semantics: ``DELETE FROM`` removes rows where the
predicate is TRUE (NULL/FALSE rows survive); ``UPDATE SET`` replaces
matching rows with new versions (update.py, which shares this module's
find pass and :func:`commit_dvs`).

No data file is rewritten. Rows are removed by deletion vectors (the
Delta Lake DV protocol, Iceberg v2 position deletes; manifest.py): a
DV is the set of deleted row positions of one data file. A DML op is
two steps:

1. *Find* (:func:`find_touched_files`) — one column-pruned pass over
   the (optionally partition-pruned) snapshot through
   ``table.read_touched``, the one reader of data files, so rows an
   earlier DV deleted cannot match again. ``filter(pred)`` then group
   by file: each touched file's newly matched row positions and their
   n_tok sum. The token payload is never read; one row per touched
   FILE is collected, carrying its positions — 8 driver bytes per
   matched row, the size of the DVs the commit then writes.
2. *Commit* (:func:`commit_dvs`) — per touched file the union of its
   old and new positions is written as a new DV file and the manifest
   entry is swapped for the same path with the new ``dv_*`` fields; a
   file whose every row is deleted leaves the manifest instead. New
   row versions (UPDATE, MERGE) are written by :func:`write_new_rows`
   and committed alongside, through ``table.commit_rewrite``, the one
   file-set commit, so manifest I/O is O(touched partitions).

The physical rewrite is compaction's: a DV'd file is a rewrite
candidate there, so it is deferred and batched, not dropped.

A delete that matches nothing commits nothing (returns ``(None,
metrics)``): readers keep the current snapshot, and the run's
``_metrics`` record still reads success.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.health import JobMetrics, job_record
from hoopstat_haus_spark.lakehouse.snapshots import Snapshot
from hoopstat_haus_spark.lakehouse.table import (
    POS_FILE,
    POS_ROW,
    TokenLakeTable,
    commit_rewrite,
    read_touched,
)
from hoopstat_haus_spark.lakehouse.zorder import with_zkey


def delete_where(
    table: TokenLakeTable,
    condition: Column | str,
    job_id: str | None = None,
    sources: list[str] | None = None,
) -> tuple[Snapshot | None, JobMetrics]:
    """Delete rows where ``condition`` is TRUE; returns (snapshot, metrics).

    ``condition`` is a Column or a SQL string over the table's live
    schema. ``sources`` optionally restricts the find pass to the named
    partitions (manifest-level pruning — shards of other partitions are
    never opened). Writes DVs only, never a data file.
    """
    with job_record(table.path, "delete", job_id) as metrics:
        pred = F.expr(condition) if isinstance(condition, str) else condition
        head, matched_rows, cand, shard_entries = find_touched_files(
            table, pred, sources, metrics
        )
        if not cand:
            return None, metrics
        summary = {"job_id": metrics.job, "matched_rows": matched_rows}
        return commit_dvs(table, "delete", head, cand, shard_entries, [], summary, metrics), metrics


def collect_hits(rows: DataFrame, entries: list[dict]) -> list[dict]:
    """Group ``rows`` (a ``read_touched(..., with_pos=True)`` frame,
    already filtered to the matched rows) by data file: one collected
    row per touched file. Returns the touched files' manifest entries,
    sorted by path, each carrying ``hit_rows`` (its matched positions,
    sorted) and ``hit_tokens`` (their n_tok sum) for :func:`commit_dvs`."""
    by_name = {(e["partition"], os.path.basename(e["file_path"])): e for e in entries}
    hits = (
        rows.groupBy("source", POS_FILE)
        .agg(
            F.sort_array(F.collect_list(POS_ROW)).alias("pos"),
            F.sum("n_tok").cast("long").alias("tok"),
        )
        .collect()
    )
    out = []
    for r in hits:
        e = by_name.get((r["source"], r[POS_FILE]))
        # every matched row comes FROM the listed entries, so a miss is
        # metadata corruption — skipping it would commit a delete that
        # left matched rows in place
        if e is None:
            raise RuntimeError(
                f"matched file {r['source']}/{r[POS_FILE]} is not in the manifest "
                "it was read from — refusing to commit"
            )
        out.append(
            {**e, "hit_rows": np.asarray(r["pos"], dtype=np.int64), "hit_tokens": r["tok"] or 0}
        )
    return sorted(out, key=lambda e: e["file_path"])


def find_touched_files(
    table: TokenLakeTable,
    pred: Column,
    sources: list[str] | None,
    metrics: JobMetrics,
):
    """Pass 1 (shared by DELETE/UPDATE): column-pruned predicate scan
    through the DV-aware reader → the files holding ≥1 live match.

    Returns ``(head, matched_rows, cand, shard_entries)`` where ``cand``
    is the touched files' manifest entries from :func:`collect_hits`
    (sorted by path, each with its ``hit_rows``) and ``shard_entries``
    maps each touched PARTITION to its full entry list. ``cand`` is
    empty when nothing matches.
    """
    head = table.log.current()
    # read the PINNED head's shards once: the find pass reads exactly
    # these entries, so the positions it returns belong to them
    shards = {
        r["partition"]: mf.read_shard(table.path, r)
        for r in mf.read_manifest_list(table.path, head.manifest)
        if sources is None or r["partition"] in sources
    }
    entries = [e for es in shards.values() for e in es]
    if not entries:
        return head, 0, [], {}
    rows = read_touched(table, table.schema_def(), entries, with_pos=True).filter(pred)
    cand = collect_hits(rows, entries)
    if not cand:
        return head, 0, [], {}
    matched_rows = sum(len(e["hit_rows"]) for e in cand)
    metrics.files_in = len(cand)
    metrics.bytes_in = sum(e["file_bytes"] for e in cand)
    metrics.partitions = len({e["partition"] for e in cand})
    metrics.rows = sum(e["row_count"] for e in cand)
    metrics.tokens = sum(e["token_count"] for e in cand)
    return head, matched_rows, cand, {e["partition"]: shards[e["partition"]] for e in cand}


def avg_row_bytes(items: list[dict]) -> int:
    """Observed bytes/row of manifest entries or list records (fallback
    1 KiB) — sizes :func:`write_new_rows`."""
    rows = sum(r["row_count"] for r in items)
    return max(1, sum(r["file_bytes"] for r in items) // rows) if rows else 1024


def write_new_rows(
    table: TokenLakeTable, rows: DataFrame, n_rows: int, row_bytes: int, prefix: str, curve: str
) -> list[dict]:
    """ONE fused write of new row versions (UPDATE's, MERGE's upserts
    and inserts), sized to their bytes: ⌈n_rows·row_bytes /
    ``manifest.WRITE_TASK_BYTES``⌉ writer tasks (≤ 256), so a handful
    of changed rows is one task and one file per source, not a file per
    touched file. Hashing on (source, doc-salt), not source alone, lets
    a big single-source write still spread over that many tasks. The
    rows carry their ``_zkey`` and the writer sorts each task by
    ``(source, _zkey)``, so every file is Z-clustered. Returns the new
    files' manifest entries."""
    n_parts = max(1, min(256, -(-n_rows * row_bytes // mf.WRITE_TASK_BYTES)))
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(n_parts))
    sized = with_zkey(rows.repartition(n_parts, "source", salt), curve=curve)
    return table._write_files(sized, prefix, repartition_n=None, curve=curve)


def commit_dvs(
    table: TokenLakeTable,
    op: str,
    head: Snapshot,
    cand: list[dict],
    shard_entries: dict[str, list[dict]],
    fresh: list[dict],
    summary: dict,
    metrics: JobMetrics,
) -> Snapshot:
    """THE DV commit (DELETE, UPDATE and MERGE): for every entry of
    ``cand`` (from :func:`collect_hits`), write the union of its old DV
    and its ``hit_rows`` as a new DV file and swap the entry for the
    same path with the new ``dv_*`` fields — or drop it when every row
    is now deleted — then commit that swap plus the ``fresh`` files
    (new row versions) through ``commit_rewrite``. ``summary`` holds
    the op's own keys; the file counts are appended here. Sets
    ``metrics.snapshot_id`` (the caller's ``job_record`` writes the
    record). Everything is written before the commit, so a lost race
    or a crash leaves only orphans GC collects."""
    dv_entries = []
    for c in cand:
        e = {k: v for k, v in c.items() if k not in ("hit_rows", "hit_tokens")}
        # the find pass reads through the old DV: hits are new positions
        pos = np.union1d(mf.read_dv(table.path, e), c["hit_rows"])
        if len(pos) < e["row_count"]:
            dv_entries.append(
                {
                    **e,
                    "dv_path": mf.write_dv(table.path, e, pos),
                    "dv_rows": len(pos),
                    "dv_tokens": e["dv_tokens"] + c["hit_tokens"],
                }
            )
    metrics.files_out = len(fresh)
    metrics.bytes_out = sum(e["file_bytes"] for e in fresh)
    snap = commit_rewrite(
        table,
        head,
        op,
        cand,  # dropped by path; the DV'd ones return in the added list
        dv_entries + fresh,
        {**summary, "dv_files": len(dv_entries), "new_files": len(fresh)},
        shards=shard_entries,
    )
    metrics.snapshot_id = snap.snapshot_id
    return snap
