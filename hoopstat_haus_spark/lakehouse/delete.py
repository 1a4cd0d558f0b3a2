"""Row-level DML as file-pruned copy-on-write rewrites: DELETE + UPDATE.

Reference ancestor: the replay engine's "overwrite the one object that
holds the bad rows" pattern (``apps/bronze-ingestion/app/replay.py``,
write-back ``:425-458``) — generalized here from key-addressed patches to
arbitrary-predicate row DML with Iceberg semantics: ``DELETE FROM``
removes rows where the predicate is TRUE (NULL/FALSE rows survive);
``UPDATE SET`` rewrites matching rows in place (see update.py, which
shares this module's find pass and ``rewrite_touched``).

Scale design (two passes, both bounded by the predicate):

1. *Find* — one column-pruned scan over the (optionally
   partition-pruned) snapshot: ``filter(pred)`` then group by
   ``input_file_name()``. Catalyst prunes the read schema to the
   predicate's columns and pushes the predicate into the parquet scan,
   so the token payload is never read; the shuffle is one row per
   TOUCHED file. Files with zero matches are never rewritten.
2. *Rewrite* — only touched files are read in full; survivors
   (``NOT coalesce(pred, false)``) are re-clustered and written back.
   Untouched files — in touched partitions and elsewhere — are carried
   into the new manifest by reference: the commit is
   ``table.commit_rewrite``, the one file-set commit every writer uses,
   so manifest I/O is O(touched partitions).

A delete that matches nothing commits nothing (returns ``(None,
metrics)``): readers keep the current snapshot, no empty rewrite churn,
and the run's ``_metrics`` record still reads success.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.health import job_record
from hoopstat_haus_spark.lakehouse.metrics import JobMetrics
from hoopstat_haus_spark.lakehouse.snapshots import Snapshot
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable, commit_rewrite, read_touched
from hoopstat_haus_spark.lakehouse.zorder import with_zkey


def delete_where(
    table: TokenLakeTable,
    condition: Column | str,
    job_id: str | None = None,
    sources: list[str] | None = None,
    curve: str = "zorder",
) -> tuple[Snapshot | None, JobMetrics]:
    """Delete rows where ``condition`` is TRUE; returns (snapshot, metrics).

    ``condition`` is a Column or a SQL string over the table's live
    schema. ``sources`` optionally restricts the find pass to the named
    partitions (manifest-level pruning — shards of other partitions are
    never opened). ``curve`` names the space-filling curve rewritten
    survivors are re-keyed with (same contract as ``merge_into``).
    """
    job_id = job_id or f"delete-{uuid.uuid4().hex[:10]}"
    with job_record(table.path, "delete", job_id) as metrics:
        return _delete_run(table, condition, job_id, sources, curve, metrics)


def find_touched_files(
    table: TokenLakeTable,
    pred: Column,
    sources: list[str] | None,
    metrics: JobMetrics,
):
    """Pass 1 (shared by DELETE/UPDATE): column-pruned predicate scan →
    manifest entries of the files holding ≥1 match.

    Returns ``(head, matched_rows, cand, shard_entries)`` where ``cand``
    is the touched files' manifest entries (sorted by path) and
    ``shard_entries`` maps each touched PARTITION to its full entry list
    (only those partitions' shards are materialized driver-side).
    ``cand`` is empty when nothing matches.
    """
    head = table.log.current()
    # scan the PINNED head, not a re-resolved current(): a commit landing
    # between current() and scan() would make the find pass observe files
    # absent from head's manifest and the rewrite silently skip them
    scan = table.scan(snapshot_id=head.snapshot_id, sources=sources)
    hits = (
        scan.filter(pred)
        .groupBy(F.input_file_name().alias("file_uri"))
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .collect()
    )
    # input_file_name() URL-encodes its URI (a table path with a space
    # comes back as %20) — mf.uri_to_rel decodes and raises on a miss
    touched = {mf.uri_to_rel(table.path, r["file_uri"]): r["n_matched"] for r in hits}
    matched_rows = int(sum(touched.values()))
    if not touched:
        return head, 0, [], {}

    # only the touched partitions' shards are materialized driver-side.
    # Dir names carry Spark's partition escaping (%XX for '%', '=', ':'…)
    # while manifest records store the RAW source value — unescape when
    # extracting the value (Hive unescapePathName ≡ percent-decoding)
    from urllib.parse import unquote

    records = mf.read_manifest_list(table.path, head.manifest)
    rel_parts = {
        unquote(p.split("/", 2)[1].split("=", 1)[1]) for p in touched
    }  # data/source=<s>/...
    shard_entries = {
        r["partition"]: mf.read_shard(table.path, r)
        for r in records
        if r["partition"] in rel_parts
    }
    by_path = {e["file_path"]: e for es in shard_entries.values() for e in es}
    # every scanned file comes FROM head's manifest (the scan is pinned
    # above), so a miss here is metadata corruption — skipping it would
    # commit a delete that left matched rows untouched
    lost = [p for p in sorted(touched) if p not in by_path]
    if lost:
        raise RuntimeError(
            f"{len(lost)} matched file(s) missing from head manifest "
            f"(e.g. {lost[0]!r}) — manifest/scan disagree, refusing to commit"
        )
    cand = [by_path[p] for p in sorted(touched)]
    metrics.files_in = len(cand)
    metrics.bytes_in = sum(e["file_bytes"] for e in cand)
    metrics.partitions = len({e["partition"] for e in cand})
    metrics.rows = sum(e["row_count"] for e in cand)
    metrics.tokens = sum(e["token_count"] for e in cand)
    return head, matched_rows, cand, shard_entries


def rewrite_touched(
    table: TokenLakeTable,
    op: str,
    head: Snapshot,
    cand: list[dict],
    shard_entries: dict[str, list[dict]],
    transform: Callable[[DataFrame], DataFrame],
    curve: str,
    metrics: JobMetrics,
    summary: dict,
) -> tuple[Snapshot, JobMetrics]:
    """Pass 2 + commit (shared by DELETE/UPDATE): read exactly the
    touched files, ``transform`` their rows (DELETE filters, UPDATE
    projects), re-cluster, write, then commit the swap of ``cand`` for
    the fresh files and set ``metrics.snapshot_id`` (the caller's
    ``job_record`` writes the record). ``summary`` holds the op's own
    keys; the file counts are appended here. ``metrics.job`` is the job
    id (output-file prefix)."""
    cand_paths = [e["file_path"] for e in cand]
    out = transform(read_touched(table, table.schema_def(), cand_paths))
    out = with_zkey(out, curve=curve).sortWithinPartitions("source", mf.ZKEY_COL)
    fresh = table._write_files(
        out, f"{op}-{metrics.job}", repartition_n=None, curve=curve
    )
    metrics.files_out = len(fresh)
    metrics.bytes_out = sum(e["file_bytes"] for e in fresh)
    snap = commit_rewrite(
        table,
        head,
        op,
        cand,
        fresh,
        {**summary, "rewritten_files": len(cand_paths), "new_files": len(fresh)},
        shards=shard_entries,
    )
    metrics.snapshot_id = snap.snapshot_id
    return snap, metrics


def _delete_run(
    table: TokenLakeTable,
    condition: Column | str,
    job_id: str,
    sources: list[str] | None,
    curve: str,
    metrics: JobMetrics,
) -> tuple[Snapshot | None, JobMetrics]:
    pred = F.expr(condition) if isinstance(condition, str) else condition
    head, matched_rows, cand, shard_entries = find_touched_files(table, pred, sources, metrics)
    if not cand:
        return None, metrics
    return rewrite_touched(
        table,
        "delete",
        head,
        cand,
        shard_entries,
        lambda rows: rows.filter(~F.coalesce(pred, F.lit(False))),
        curve,
        metrics,
        {"job_id": job_id, "matched_rows": matched_rows},
    )
