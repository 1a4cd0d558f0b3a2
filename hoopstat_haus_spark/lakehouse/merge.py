"""MERGE INTO: partition-pruned, manifest-pruned, by deletion vectors.

Reference ancestor: quarantine replay — patch a payload, overwrite the
single bronze object addressed by (entity, date, game_id), re-derive the
affected date downstream (``apps/bronze-ingestion/app/replay.py:127-364``,
write-back ``:425-458``). The engine generalizes "overwrite the one
object that holds the key" to Iceberg MERGE semantics:

    WHEN MATCHED AND u._op = 'delete'  THEN DELETE
    WHEN MATCHED                       THEN UPDATE (tokens, n_tok)
    WHEN NOT MATCHED AND NOT delete    THEN INSERT

Scale design (SURVEY.md §7.5): the full table is NEVER joined. Candidate
files are chosen by joining the (small) update set against the manifest's
per-file [min_doc_id, max_doc_id] ranges within matching `source`
partitions — a broadcast of metadata, not data. ONE match pass reads the
candidate files (under their deletion vectors) and hash-joins them with
the broadcast update side, so the 4 KB token arrays of the target never
shuffle. No data file is rewritten: every matched row — upserted or
deleted — gets a deletion vector (``delete.commit_dvs``), and the
upserts' new versions plus the inserts go out in ONE fused write of just
those rows. Untouched files are carried into the new manifest by
reference.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.delete import (
    avg_row_bytes,
    collect_hits,
    commit_dvs,
    write_new_rows,
)
from hoopstat_haus_spark.lakehouse.health import job_record
from hoopstat_haus_spark.lakehouse.metrics import JobMetrics
from hoopstat_haus_spark.lakehouse.snapshots import Snapshot
from hoopstat_haus_spark.lakehouse.table import POS_FILE, POS_ROW, TokenLakeTable, read_touched

OP_COL = "_op"  # optional in updates: 'upsert' (default) | 'delete'

# Snapshot-summary keys the merge commit computes itself; summary_extra
# must not shadow them (history()/metadata readers trust the aggregates).
_RESERVED_SUMMARY_KEYS = frozenset(
    {"files", "rows", "tokens", "bytes", "partitions",
     "job_id", "dv_files", "new_files", "schema_version"}
)


def _candidate_files(spark: SparkSession, entries: list[dict], updates: DataFrame) -> list[dict]:
    """Manifest ∩ updates on (partition, doc_id range) → files to match."""
    man = spark.createDataFrame(
        [(e["file_path"], e["partition"], e["min_doc_id"], e["max_doc_id"]) for e in entries],
        schema="file_path string, partition string, min_doc_id string, max_doc_id string",
    )
    # no .distinct(): the semi-join only tests existence, and dedup would
    # cost a full shuffle stage over the update feed just to shrink an
    # already-broadcast-sized build side
    keys = updates.select("doc_id", "source")
    hit = (
        man.join(
            F.broadcast(keys),
            (man.partition == keys.source)
            & (keys.doc_id >= man.min_doc_id)
            & (keys.doc_id <= man.max_doc_id),
            "left_semi",
        )
        .select("file_path")
        .collect()
    )
    paths = {r["file_path"] for r in hit}
    return [e for e in entries if e["file_path"] in paths]


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
    job_id = job_id or f"merge-{uuid.uuid4().hex[:10]}"
    with job_record(table.path, "merge", job_id) as metrics:
        return _merge_run(table, updates, job_id, curve, metrics, summary_extra)


def _merge_run(
    table: TokenLakeTable,
    updates: DataFrame,
    job_id: str,
    curve: str,
    metrics: JobMetrics,
    summary_extra: dict | None = None,
) -> tuple[Snapshot, JobMetrics]:
    head = table.log.current()
    # manifest LIST only — per-partition shards are read later, and only
    # for the partitions the update feed actually touches
    records = mf.read_manifest_list(table.path, head.manifest)

    schema = table.schema_def()
    value_cols = [f for f in schema.fields if f["name"] not in ("doc_id", "source")]
    if OP_COL not in updates.columns:
        updates = updates.withColumn(OP_COL, F.lit("upsert"))
    # project onto the live schema, keeping _op: evolved columns absent
    # from the update feed become NULL → the coalesce below keeps the
    # target's value (an explicit NULL overwrite is not expressible —
    # same limitation as the reference's dict-merge upserts)
    proj = [
        (
            F.col(f["name"]).cast(f["type"])
            if f["name"] in updates.columns
            else F.lit(None).cast(f["type"])
        ).alias(f["name"])
        for f in schema.fields
    ]
    # cache the projected update set: three downstream actions consume
    # it (the probe, candidate-file pruning, the match pass) and
    # re-deriving the feed each time re-runs its upstream plan. The probe
    # below doubles as the cache materializer (full aggregation, no limit
    # short-circuit).
    updates = updates.select(*proj, F.col(OP_COL)).persist()
    try:
        return _merge_apply(
            table, updates, job_id, curve, metrics, head, records, schema, value_cols,
            summary_extra,
        )
    finally:
        updates.unpersist()


def _merge_apply(
    table, updates, job_id, curve, metrics, head, records, schema, value_cols,
    summary_extra=None,
):
    spark = table.spark
    # ONE materializing aggregate: populates the persisted cache, probes
    # for duplicate keys (max per-key count), counts the rows the merge
    # will write (every non-delete feed row is an upsert or an insert),
    # AND the feed's distinct partitions (which decide the manifest
    # shards to read)
    probe = (
        updates.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.coalesce(F.col(OP_COL), F.lit("upsert")) != "delete", 1)).alias("w"),
        )
        .agg(
            F.max("n").alias("max_n"),
            F.sum("w").cast("long").alias("n_new"),
            F.collect_set("source").alias("feed_parts"),
        )
        .collect()[0]
    )
    feed_parts = set(probe["feed_parts"] or [])
    if (probe["max_n"] or 0) > 1:
        dup = (
            updates.groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"merge_into: duplicate update key (doc_id={dup[0]['doc_id']!r}, "
            f"source={dup[0]['source']!r}) — MERGE requires unique (doc_id, source); "
            "dedupe the update set first"
        )

    # read ONLY the feed partitions' manifest shards: untouched
    # partitions never materialize driver-side, so a MERGE into 1 of
    # 10^4 partitions plans against one shard's entries
    shard_entries = {
        r["partition"]: mf.read_shard(table.path, r)
        for r in records
        if r["partition"] in feed_parts
    }
    touched_entries = [e for es in shard_entries.values() for e in es]
    cand = _candidate_files(spark, touched_entries, updates)
    metrics.files_in = len(cand)
    metrics.bytes_in = sum(e["file_bytes"] for e in cand)
    metrics.partitions = len({e["partition"] for e in cand})

    u = updates.alias("u")
    # feed rows that insert: the non-deletes, less the matched keys below
    new_rows = u.filter(F.col(OP_COL) != "delete")
    hits: list[dict] = []
    matched = None
    try:
        if cand:
            # the ONE match pass: candidate files (under their DVs) ⋈ the
            # broadcast feed. Cached because two actions read it — the
            # DV positions collect and the write — while it holds only
            # the matched rows, so the candidate files are scanned once.
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
                    # a feed NULL (e.g. an evolved column the feed lacks)
                    # keeps the target's value
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
            upserts = matched.filter(F.coalesce(F.col(OP_COL), F.lit("upsert")) != "delete")
            new_rows = upserts.select(
                *[
                    c if c in ("doc_id", "source") else F.col(f"_new_{c}").alias(c)
                    for c in schema.names()
                ]
            ).unionByName(new_rows)
        # matched upserts and inserts: ONE fused write, sized from the probe
        fresh = []
        if probe["n_new"]:
            # row width from the manifest LIST's per-shard aggregates
            row_bytes = avg_row_bytes(records)
            fresh = write_new_rows(
                table, new_rows, probe["n_new"], row_bytes, f"merge-{job_id}", curve
            )
    finally:
        if matched is not None:
            matched.unpersist()

    # stats came back from the write job itself (fused writer) — no
    # re-read of the new files
    metrics.rows = sum(e["row_count"] for e in fresh)
    metrics.tokens = sum(e["token_count"] for e in fresh)
    # new shards only for partitions that actually changed (a DV'd file
    # or a fresh output); everything else rides by reference.
    # summary_extra overlap with the commit's own keys is rejected at
    # entry, so history() never sees clobbered aggregates
    snap = commit_dvs(
        table,
        "merge",
        head,
        hits,
        # a feed partition new to the table starts empty: every touched
        # partition is in shards, so the commit re-reads no manifest
        {p: [] for p in feed_parts} | shard_entries,
        fresh,
        {"job_id": job_id, **(summary_extra or {})},
        metrics,
    )
    return snap, metrics
