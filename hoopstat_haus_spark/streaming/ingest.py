"""Structured Streaming ingest into the token lakehouse.

``readStream`` over a parquet feed directory → ``foreachBatch`` →
deterministic in-batch dedupe → optional anti-join dedupe against the
corpus → ``merge_into``, with EXACTLY-ONCE table effects.

Exactly-once: Structured Streaming's checkpoint replays a failed micro
batch under the SAME ``batch_id``, so sinks must be idempotent per
batch. Every merge commit here stamps ``stream_id``/``stream_batch_id``
— plus the checkpoint's own query id — into the snapshot summary; a
replayed batch whose id is ≤ the highest committed id FOR THE SAME
QUERY ID is skipped before any Spark job runs (the newest stamp is one
``SnapshotLog.stamped`` lookup, the one WAP publish uses too). The query-id guard is
what makes checkpoint loss safe: a fresh checkpoint renumbers batches
from 0, so without it the never-ingested files that land in batches
0..k ≤ high-water would be skipped as "replays" — silent data loss.
With a different query id nothing is skipped; the merges run again and
upsert idempotence (not the stamp) carries correctness, at replay-work
cost. (Reference analog: the bronze ingestion's idempotency head-check
before overwrite, ``libs/hoopstat-s3/hoopstat_s3/
silver_s3_manager.py:255-272`` — one marker per completed unit, check
before write.)

Feeds may carry the optional ``_op`` column ('upsert' | 'delete' —
``merge_into``'s contract). Delete rows bypass the corpus anti-join
dedupe (their keys EXIST in the corpus by definition; the anti-join
would silently swallow every tombstone) and bypass validation (they
carry no payload to validate), but share the in-batch key dedupe; a
key appearing in BOTH channels of one batch resolves to the tombstone
(the feed carries no intra-batch order — deterministic delete-wins,
never a duplicate-key merge crash).

Scale notes (100 TB): feed discovery/state is Spark's file-source
checkpoint (driver-side listing of NEW files only); ``dedupe='key'``
checks the batch against a column-pruned (doc_id, source) corpus scan
restricted to the feed's partitions (the same shard-level pruning
``scan`` always applies) — and the corpus side never shuffles: the
batch keys broadcast into a semi-join whose ≤ |batch| result
broadcasts back into the anti-join (see ``_anti_corpus``). ``dedupe='content'`` compares ``token_sig``; pass ``content_index``
to back it with a persisted
:class:`~hoopstat_haus_spark.lakehouse.digest_index.DigestIndex`
(skinny sig scan, CDC-refreshed in O(changed partitions) per batch) —
without one it falls back to re-hashing every corpus payload per
micro-batch, the documented non-scale path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hoopstat_haus_spark.lakehouse.merge import OP_COL, merge_into
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
from hoopstat_haus_spark.tables.token_table import token_sig

SUMMARY_STREAM_ID = "stream_id"
SUMMARY_BATCH_ID = "stream_batch_id"
SUMMARY_QUERY_ID = "stream_query_id"


def _checkpoint_query_id(checkpoint_dir: str | None) -> str | None:
    """The streaming query id from ``<checkpoint>/metadata`` — written
    by Spark at query start (before batch 0 runs), stable across
    restarts with the same checkpoint, fresh for a new checkpoint dir.
    None when unreadable (e.g. tests driving the processor directly)."""
    if not checkpoint_dir:
        return None
    import json
    import os

    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return json.load(f)["id"]
    except (OSError, KeyError, ValueError):
        return None


def last_committed_stamp(table: TokenLakeTable, stream_id: str) -> tuple[str | None, int]:
    """(query_id, batch_id) of the newest snapshot stamped for
    ``stream_id`` ((None, −1) if none): one ``SnapshotLog.stamped``
    lookup, which walks newest-first and stops at the first stamp. A
    stream's commits are ordered, so the newest stamp IS its high-water
    mark — O(snapshots since the last ingest), not O(history), per
    micro-batch.

    If snapshot expiry has dropped every stamped snapshot, this returns
    (None, −1) and a replayed batch would merge again — which is still
    CORRECT: re-upserting identical (doc_id, source)→tokens rows (and
    re-deleting absent ones) is a semantic no-op; the stamp only avoids
    the wasted work and keeps snapshot counts stable under replay."""
    snap = table.log.stamped(SUMMARY_STREAM_ID, stream_id)
    if snap is None:
        return None, -1
    return snap.summary.get(SUMMARY_QUERY_ID), int(snap.summary.get(SUMMARY_BATCH_ID, -1))


def last_committed_batch(table: TokenLakeTable, stream_id: str) -> int:
    """Highest ``stream_batch_id`` any snapshot records for ``stream_id``
    (−1 if none)."""
    return last_committed_stamp(table, stream_id)[1]


def dedupe_batch(batch: DataFrame) -> DataFrame:
    """Deterministic in-batch dedupe on the merge key (doc_id, source):
    keep the row with the largest (n_tok, token_sig) — an arbitrary but
    stable total order, so replays and retries pick the same survivor
    (``merge_into`` rejects duplicate keys outright)."""
    w = Window.partitionBy("doc_id", "source").orderBy(
        F.col("n_tok").desc(), token_sig(F.col("tokens")).desc()
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _anti_corpus(
    batch: DataFrame, table: TokenLakeTable, mode: str, index=None
) -> DataFrame:
    # Both modes avoid shuffling the corpus: a direct `batch LEFT ANTI
    # corpus` join cannot broadcast the small side (Spark builds only the
    # RIGHT side of a LEFT ANTI hash join), so it would sort-merge-shuffle
    # the whole skinny scan per micro-batch. Instead: semi-join the corpus
    # against the broadcast batch keys — the result is ≤ |batch| rows —
    # then anti-join the batch against that broadcast result. Two
    # broadcast joins, zero corpus-side exchange.
    if mode == "key":
        # prune the corpus scan to the feed's partitions first — the
        # merge key includes source, so cross-partition rows can't match
        # and the shard-level pruning in scan() skips their metadata too
        parts = [r.source for r in batch.select("source").distinct().collect()]
        existing = table.scan(sources=parts).select("doc_id", "source")
        keys = batch.select("doc_id", "source")
        present = existing.join(F.broadcast(keys), ["doc_id", "source"], "left_semi")
        return batch.join(F.broadcast(present), ["doc_id", "source"], "left_anti")
    if mode == "content":
        # content identity spans partitions by definition. With a
        # DigestIndex the corpus side is the persisted skinny sig column
        # (~60 B/row, digests never recomputed); without one it is a
        # column-pruned full scan that re-hashes every payload per batch
        # — the documented non-scale fallback.
        sigs = batch.withColumn("_sig", token_sig(F.col("tokens")))
        if index is not None:
            existing = index.to_df().select(F.col("sig").alias("_sig"))
        else:
            existing = table.scan().select(token_sig(F.col("tokens")).alias("_sig"))
        present = existing.join(
            F.broadcast(sigs.select("_sig").distinct()), "_sig", "left_semi"
        ).distinct()
        return sigs.join(F.broadcast(present), "_sig", "left_anti").drop("_sig")
    raise ValueError(f"dedupe mode {mode!r} (expected 'key', 'content', or None)")


def make_batch_processor(
    table: TokenLakeTable,
    stream_id: str,
    dedupe: str | None = "key",
    validate: bool = False,
    content_index: str | None = None,
    checkpoint_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function — exposed separately so tests can
    drive replay semantics without a running stream.

    ``content_index`` (with ``dedupe='content'``) names a persisted
    :class:`~hoopstat_haus_spark.lakehouse.digest_index.DigestIndex`:
    each micro-batch refreshes it to the table head (O(changed
    partitions) via the change feed — a no-op when nothing changed) and
    dedupes against the skinny sig column instead of re-hashing every
    corpus payload. First use pays one full build scan.

    ``validate=True`` runs the quarantine classifier over each
    micro-batch BEFORE the merge: invalid rows (length mismatch,
    out-of-vocab, null keys) land in the quarantine sidecar for the
    standard ``replay`` fixes instead of entering the corpus. The
    sidecar write happens before the merge commit, so a crash in
    between replays the batch — already-quarantined keys are anti-
    joined away, making the quarantine leg idempotent too.

    ``checkpoint_dir`` enables the query-id guard on the replay skip
    (see module docstring); without it (direct test drives) the skip
    falls back to batch-id-only — correct only while batch ids come
    from one numbering."""

    def process(batch: DataFrame, batch_id: int) -> None:
        qid = _checkpoint_query_id(checkpoint_dir)
        last_qid, last_bid = last_committed_stamp(table, stream_id)
        # skip a replay ONLY under the same batch numbering: a fresh
        # checkpoint (different query id) renumbers from 0, and skipping
        # by id alone would silently drop never-ingested files
        if batch_id <= last_bid and (qid is None or last_qid is None or qid == last_qid):
            return  # replayed micro-batch: already merged, skip entirely
        # live-schema intersection, not the base four: an evolved column
        # present in the feed must reach merge_into (absent ones become
        # NULL -> default there). _op rides along when present — it IS
        # merge_into's delete channel; dropping it would silently turn
        # feed tombstones into upserts.
        cols = [n for n in table.schema_def().names() if n in batch.columns]
        has_op = OP_COL in batch.columns
        incoming = batch.select(*cols + ([OP_COL] if has_op else []))
        deletes = None
        if has_op:
            deletes = dedupe_batch(incoming.filter(F.col(OP_COL) == "delete"))
            incoming = incoming.filter(
                F.coalesce(F.col(OP_COL), F.lit("upsert")) != "delete"
            ).drop(OP_COL)
        if validate:
            from hoopstat_haus_spark.lakehouse.quarantine import (
                quarantine_batch,
                read_quarantine,
                validate_batch,
            )

            incoming, rejected = validate_batch(incoming)
            # replay idempotence: the sidecar (O(bad rows), small) may
            # already hold this batch's rejects from a crashed attempt.
            # Null-SAFE match on (key, content): null_key rejects have no
            # usable key, so a plain equi-anti-join would never match them
            # (null != null) and every crash replay would re-append them.
            seen = read_quarantine(table).select(
                "doc_id", "source", token_sig(F.col("tokens")).alias("_sig")
            )
            rej = rejected.withColumn("_sig", token_sig(F.col("tokens")))
            cond = (
                rej["doc_id"].eqNullSafe(seen["doc_id"])
                & rej["source"].eqNullSafe(seen["source"])
                & rej["_sig"].eqNullSafe(seen["_sig"])
            )
            # materialize once: the emptiness probe and the sidecar write
            # would otherwise each re-run classify + the anti-join
            fresh = rej.join(F.broadcast(seen), cond, "left_anti").drop("_sig").localCheckpoint()
            if not fresh.isEmpty():
                quarantine_batch(table, fresh)
        updates = dedupe_batch(incoming)
        if dedupe:
            idx = None
            if dedupe == "content" and content_index:
                from hoopstat_haus_spark.lakehouse.digest_index import DigestIndex

                idx = DigestIndex(table, content_index)
                idx.refresh()  # advance to head before the merge below
            updates = _anti_corpus(updates, table, dedupe, index=idx)
        if deletes is not None:
            # tombstones bypass the corpus anti-join (their keys exist by
            # definition — key dedupe would swallow every delete). A key
            # present in BOTH channels would reach merge as a duplicate
            # and wedge the stream (foreachBatch replays the crash
            # forever) — the feed carries no intra-batch order, so the
            # tombstone wins deterministically: upserts for deleted keys
            # are dropped here. Feeds needing insert-after-delete must
            # put the ops in separate batches.
            dkeys = deletes.select("doc_id", "source")
            # null-SAFE match (like the quarantine leg): a null-key row in
            # both channels would equi-miss and still reach merge as a
            # duplicate; broadcast the delete keys (bounded by batch size)
            cond = updates["doc_id"].eqNullSafe(dkeys["doc_id"]) & updates[
                "source"
            ].eqNullSafe(dkeys["source"])
            updates = (
                updates.join(F.broadcast(dkeys), cond, "left_anti")
                .withColumn(OP_COL, F.lit("upsert"))
                .unionByName(deletes)
            )
        # rows survive post-dedupe? one cheap probe; an all-duplicate batch
        # commits nothing (replay of a no-op batch is naturally a no-op)
        if updates.isEmpty():
            return
        extra = {SUMMARY_STREAM_ID: stream_id, SUMMARY_BATCH_ID: batch_id}
        if qid is not None:
            extra[SUMMARY_QUERY_ID] = qid
        merge_into(
            table,
            updates,
            job_id=f"{stream_id}-b{batch_id}",
            summary_extra=extra,
        )

    return process


def stream_ingest(
    spark: SparkSession,
    table: TokenLakeTable,
    feed_dir: str,
    checkpoint_dir: str,
    stream_id: str = "ingest",
    dedupe: str | None = "key",
    validate: bool = False,
    content_index: str | None = None,
) -> None:
    """Process every parquet file currently in ``feed_dir`` that this
    checkpoint has not seen, as one-or-more exactly-once micro-batch
    merges, then stop (``Trigger.AvailableNow``). Re-running with the
    same ``checkpoint_dir`` picks up only NEW files — incremental
    ingestion as a cron job; a long-lived service would swap the trigger
    for a processing-time one, nothing else changes."""
    # _op rides in the read schema so feed tombstones survive the source
    # (parquet files without the column read it as NULL → upsert default)
    reader = (
        spark.readStream.schema(table.schema_def().ddl(extra=((OP_COL, "string"),)))
        .option("maxFilesPerTrigger", 1000)
        .parquet(feed_dir)
    )
    q = (
        reader.writeStream.foreachBatch(
            make_batch_processor(
                table,
                stream_id,
                dedupe,
                validate=validate,
                content_index=content_index,
                checkpoint_dir=checkpoint_dir,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
