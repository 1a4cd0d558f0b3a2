"""MERGE INTO: partition-pruned, manifest-pruned, by deletion vectors.

Reference ancestor: quarantine replay — patch a payload, overwrite the
single bronze object addressed by (entity, date, game_id), re-derive the
affected date downstream (``apps/bronze-ingestion/app/replay.py:127-364``,
write-back ``:425-458``). The engine generalizes "overwrite the one
object that holds the key" to Iceberg MERGE semantics:

    WHEN MATCHED AND u._op = 'delete'  THEN DELETE
    WHEN MATCHED                       THEN UPDATE (tokens, n_tok)
    WHEN NOT MATCHED AND NOT delete    THEN INSERT

A missing or NULL ``_op`` upserts.

Scale design (SURVEY.md §7.5): the full table is NEVER joined. MERGE
plans driver-side from ONE Arrow collect of the feed's (doc_id, source,
_op) — the feed the match pass broadcasts whole anyway, so its keys are
driver-sized. That collect materializes the cached feed, checks for
duplicate keys, sizes the write, names the partitions whose manifest
shards are read, and picks the candidate files: a file of a feed
partition is a candidate iff one of that partition's feed keys falls in
its [min_doc_id, max_doc_id] (one bisect per file, no Spark job). ONE
match pass reads the candidate files (under their deletion vectors) and
hash-joins them with the broadcast update side, so the 4 KB token arrays
of the target never shuffle. No data file is rewritten: every matched
row — upserted or deleted — gets a deletion vector
(``delete.commit_dvs``), and the upserts' new versions plus the inserts
go out in ONE fused write of just those rows. Untouched files are
carried into the new manifest by reference.
"""

from __future__ import annotations

import bisect
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.delete import (
    avg_row_bytes,
    collect_hits,
    commit_dvs,
    write_new_rows,
)
from hoopstat_haus_spark.lakehouse.health import JobMetrics, job_record
from hoopstat_haus_spark.lakehouse.snapshots import Snapshot
from hoopstat_haus_spark.lakehouse.table import POS_FILE, POS_ROW, TokenLakeTable, read_touched

OP_COL = "_op"  # optional in updates: 'upsert' (default, also for NULL) | 'delete'

# Snapshot-summary keys the merge commit computes itself; summary_extra
# must not shadow them (history()/metadata readers trust the aggregates).
_RESERVED_SUMMARY_KEYS = frozenset(
    {"files", "rows", "tokens", "bytes", "partitions",
     "job_id", "dv_files", "new_files", "schema_version"}
)


def _keys_by_part(keys: list[tuple[str | None, str | None]]) -> dict[str, list[str]]:
    """Feed (doc_id, source) keys → partition → sorted doc_ids. A key
    with a NULL half is left out: it matches no file, as in SQL."""
    out: dict[str, list[str]] = {}
    for doc_id, source in keys:
        if doc_id is not None and source is not None:
            out.setdefault(source, []).append(doc_id)
    for ks in out.values():
        ks.sort()
    return out


def _candidate_files(entries: list[dict], keys_by_part: dict[str, list[str]]) -> list[dict]:
    """The entries whose [min_doc_id, max_doc_id] holds a feed key of
    their partition (``keys_by_part``: partition → sorted doc_ids): one
    bisect per file, driver-side."""
    out = []
    for e in entries:
        keys = keys_by_part.get(e["partition"])
        lo, hi = e["min_doc_id"], e["max_doc_id"]
        if not keys or lo is None or hi is None:
            continue
        i = bisect.bisect_left(keys, lo)
        if i < len(keys) and keys[i] <= hi:
            out.append(e)
    return out


def merge_into(
    table: TokenLakeTable,
    updates: DataFrame,
    job_id: str | None = None,
    curve: str = "zorder",
    summary_extra: dict | None = None,
) -> tuple[Snapshot, JobMetrics]:
    """Upsert/delete ``updates`` (doc_id, tokens, n_tok, source[, _op])
    into the table; returns the new snapshot + job metrics.

    Duplicate (doc_id, source) keys in ``updates`` are REJECTED up front
    (Iceberg MERGE raises on multiple matches): a fanned-out left join
    would silently duplicate matched target rows and break the
    one-token-array-per-doc_id invariant. Callers with legitimately
    duplicated feeds (e.g. quarantine replay across batches) must dedupe
    deterministically first.

    ``summary_extra`` fields are merged into the commit's snapshot
    summary (e.g. the streaming ingest stamps ``stream_id`` /
    ``stream_batch_id`` there for replay idempotence). Keys that would
    clobber the commit's own aggregates are rejected up front —
    history() and metadata readers depend on those values."""
    clash = set(summary_extra or {}) & _RESERVED_SUMMARY_KEYS
    if clash:
        raise ValueError(
            f"summary_extra keys would clobber commit aggregates: {sorted(clash)}"
        )
    with job_record(table.path, "merge", job_id) as metrics:
        head = table.log.current()
        # manifest LIST only — per-partition shards are read later, and
        # only for the partitions the update feed actually touches
        records = mf.read_manifest_list(table.path, head.manifest)

        schema = table.schema_def()
        value_cols = [f for f in schema.fields if f["name"] not in ("doc_id", "source")]
        # one _op per row: a missing or NULL _op upserts
        op = F.col(OP_COL) if OP_COL in updates.columns else F.lit(None)
        # project onto the live schema, keeping _op: evolved columns
        # absent from the update feed become NULL → the coalesce below
        # keeps the target's value (an explicit NULL overwrite is not
        # expressible — same limitation as the reference's dict-merge
        # upserts)
        proj = [
            (
                F.col(f["name"]).cast(f["type"])
                if f["name"] in updates.columns
                else F.lit(None).cast(f["type"])
            ).alias(f["name"])
            for f in schema.fields
        ]
        # cache the projected update set: the planning collect below
        # materializes it, and the match pass and the write read it again
        updates = updates.select(
            *proj, F.coalesce(op.cast("string"), F.lit("upsert")).alias(OP_COL)
        ).persist()
        try:
            # ONE collect of the feed's keys plans the whole merge
            # driver-side: the duplicate-key check, the write size, the
            # feed partitions (which decide the manifest shards to read)
            # and the candidate files. The feed is broadcast whole in the
            # match pass, so its keys are driver-sized; the collect is
            # Arrow, so no Python worker runs.
            feed = updates.select("doc_id", "source", OP_COL).toArrow().to_pydict()
            keys = list(zip(feed["doc_id"], feed["source"]))
            if len(set(keys)) < len(keys):
                # NULLs compare equal here, as in a groupBy
                doc_id, source = next(k for k, n in Counter(keys).items() if n > 1)
                raise ValueError(
                    f"merge_into: duplicate update key (doc_id={doc_id!r}, "
                    f"source={source!r}) — MERGE requires unique (doc_id, source); "
                    "dedupe the update set first"
                )
            # every non-delete feed row is an upsert or an insert; it must
            # name its partition (a NULL-source delete matches nothing, as
            # in SQL)
            if any(s is None and op != "delete" for s, op in zip(feed["source"], feed[OP_COL])):
                raise ValueError(
                    "merge_into: an upsert or insert row has a NULL source — every "
                    "written row must name its partition"
                )
            n_new = sum(op != "delete" for op in feed[OP_COL])
            feed_parts = {s for s in feed["source"] if s is not None}

            # read ONLY the feed partitions' manifest shards: untouched
            # partitions never materialize driver-side, so a MERGE into 1
            # of 10^4 partitions plans against one shard's entries
            shard_entries = {
                r["partition"]: mf.read_shard(table.path, r)
                for r in records
                if r["partition"] in feed_parts
            }
            cand = _candidate_files(
                [e for es in shard_entries.values() for e in es], _keys_by_part(keys)
            )
            metrics.files_in = len(cand)
            metrics.bytes_in = sum(e["file_bytes"] for e in cand)
            metrics.partitions = len({e["partition"] for e in cand})

            u = updates.alias("u")
            # feed rows that insert: the non-deletes, less the matched keys
            new_rows = u.filter(F.col(OP_COL) != "delete")
            hits: list[dict] = []
            matched = None
            try:
                if cand:
                    # the ONE match pass: candidate files (under their DVs)
                    # ⋈ the broadcast feed. Cached because two actions read
                    # it — the DV positions collect and the write — while
                    # it holds only the matched rows, so the candidate
                    # files are scanned once.
                    t = read_touched(table, schema, cand, with_pos=True).alias("t")
                    matched = (
                        t.join(F.broadcast(u), ["doc_id", "source"], "inner")
                        .select(
                            F.col("doc_id"),
                            F.col("source"),
                            F.col(f"t.{POS_FILE}").alias(POS_FILE),
                            F.col(f"t.{POS_ROW}").alias(POS_ROW),
                            F.col("t.n_tok").alias("n_tok"),  # the target's: DV token count
                            F.col(f"u.{OP_COL}").alias(OP_COL),
                            # a feed NULL (e.g. an evolved column the feed
                            # lacks) keeps the target's value
                            *[
                                F.coalesce(F.col(f"u.{f['name']}"), F.col(f"t.{f['name']}"))
                                .cast(f["type"])
                                .alias(f"_new_{f['name']}")
                                for f in value_cols
                            ],
                        )
                        .persist()
                    )
                    hits = collect_hits(matched, cand)
                    new_rows = new_rows.join(
                        matched.select("doc_id", "source"), ["doc_id", "source"], "left_anti"
                    )
                new_rows = schema.apply_defaults(new_rows.select(*schema.names()))
                if matched is not None:
                    upserts = matched.filter(F.col(OP_COL) != "delete")
                    new_rows = upserts.select(
                        *[
                            c if c in ("doc_id", "source") else F.col(f"_new_{c}").alias(c)
                            for c in schema.names()
                        ]
                    ).unionByName(new_rows)
                # matched upserts and inserts: ONE fused write, sized from
                # the planning collect
                fresh = []
                if n_new:
                    # row width from the manifest LIST's per-shard aggregates
                    row_bytes = avg_row_bytes(records)
                    fresh = write_new_rows(
                        table, new_rows, n_new, row_bytes, f"merge-{metrics.job}", curve
                    )
            finally:
                if matched is not None:
                    matched.unpersist()

            # stats came back from the write job itself (fused writer) —
            # no re-read of the new files
            metrics.rows = sum(e["row_count"] for e in fresh)
            metrics.tokens = sum(e["token_count"] for e in fresh)
            # new shards only for partitions that actually changed (a DV'd
            # file or a fresh output); everything else rides by reference.
            # summary_extra overlap with the commit's own keys is rejected
            # at entry, so history() never sees clobbered aggregates
            snap = commit_dvs(
                table,
                "merge",
                head,
                hits,
                # a feed partition new to the table starts empty: every
                # touched partition is in shards, so the commit re-reads
                # no manifest
                {p: [] for p in feed_parts} | shard_entries,
                fresh,
                {"job_id": metrics.job, **(summary_extra or {})},
                metrics,
            )
        finally:
            updates.unpersist()
        return snap, metrics
