"""Driver-gate queries for the maintenance engine itself.

Because the token table is a closed-form derivation from `documents`
(tables/token_table.py), even *post-maintenance* scans have exact ANSI
SQL oracles: the oracle computes the expected logical state directly
from `documents`, while the Spark side actually builds a lake table,
runs the maintenance operation (compaction / merge / snapshot pinning),
scans it back, and aggregates. A value mismatch means the engine
corrupted, lost, or duplicated rows.

Rollup shape (per source): n_docs, sum_n_tok, sum_tok_checksum — the
checksum folds every token value in every array, so token-array
corruption cannot hide.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse.compaction import CompactionPolicy
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable
from hoopstat_haus_spark.tables.token_table import (
    _MULT,
    _STEP,
    _VOCAB,
    documents_token_sql,
    from_documents,
    token_expr,
)

SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch", "qruns")

TEST_POLICY = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)


def _scratch(name: str) -> str:
    _sweep_stale()
    path = os.path.join(SCRATCH_ROOT, f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _sweep_stale(max_age_s: float = 6 * 3600) -> None:
    """Old query-run tables are safe to drop (results already collected)."""
    if not os.path.isdir(SCRATCH_ROOT):
        return
    now = time.time()
    for name in os.listdir(SCRATCH_ROOT):
        p = os.path.join(SCRATCH_ROOT, name)
        try:
            if now - os.path.getmtime(p) > max_age_s:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def rollup(df: DataFrame) -> DataFrame:
    checksum = F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
    return (
        df.select("source", "n_tok", checksum.alias("chk"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_n_tok"),
            F.sum("chk").alias("sum_tok_checksum"),
        )
        .orderBy("source")
    )


_ROLLUP_SQL = """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
           CAST(SUM(list_sum(tokens)) AS BIGINT) AS sum_tok_checksum
    FROM {src} t GROUP BY source ORDER BY source
"""


def compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cycle: fragmented create → target-size space-filling-curve
    rewrite → snapshot → post-maintenance scan rollup (SURVEY.md §7.3
    step 5). BOTH curves run in ONE cycle (``curve_by_source``): the
    SMALLEST partition (deterministic: fewest bytes, name tie-break)
    compacts on the Hilbert curve (Arrow kernel path), the rest on the
    default pure-JVM Morton — one bounds plan, one snapshot commit. The
    oracle checks logical state, which must be identical regardless of
    physical layout, so this drives the Hilbert executor through the
    same value-checked gate at minimal kernel cost."""
    from hoopstat_haus_spark.lakehouse import manifest as mf

    t = TokenLakeTable.create(spark, _scratch("compact"), from_documents(spark, sf_dir), repartition_n=8)
    records = mf.read_manifest_list(t.path, t.log.current().manifest)
    smallest = min(records, key=lambda r: (r["file_bytes"], r["partition"]))["partition"]
    t.compact(TEST_POLICY, curve_by_source={smallest: "hilbert"})
    return rollup(t.scan())


def merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO cycle: upsert every 50th doc (tokens+1), delete every
    250th, insert 10 new docs, then scan the committed result."""
    t = TokenLakeTable.create(spark, _scratch("merge"), from_documents(spark, sf_dir), repartition_n=8)

    base = from_documents(spark, sf_dir)
    num = F.substring("doc_id", 5, 10).cast("long")
    upserts = (
        base.filter(num % 50 == 0)
        .withColumn("tokens", F.transform("tokens", lambda x: (x + 1).cast("int")))
        .withColumn("_op", F.when(num % 250 == 0, "delete").otherwise("upsert"))
    )
    ins_num = F.col("id") + F.lit(900000)
    inserts = spark.range(10).select(
        F.format_string("doc-%08d", ins_num).alias("doc_id"),
        token_expr(ins_num, F.lit(16)).alias("tokens"),
        F.lit(16).alias("n_tok"),
        F.lit("src0").alias("source"),
        F.lit("upsert").alias("_op"),
    )
    merge_into(t, upserts.unionByName(inserts))
    return rollup(t.scan())


def snapshot_isolation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact, then read the PRE-maintenance snapshot: must equal the
    original derivation exactly (readers pinned to old snapshots are
    unaffected by maintenance). Also pins the change-data-feed identity:
    a compaction is a pure physical rewrite, so ``table_changes`` across
    it must emit ZERO rows (``cdc_compaction_silent`` TRUE in the
    oracle) — the strongest possible no-op-suppression check, since the
    diff actually reads every rewritten file on both sides."""
    from hoopstat_haus_spark.lakehouse.changes import table_changes

    t = TokenLakeTable.create(spark, _scratch("isolation"), from_documents(spark, sf_dir), repartition_n=8)
    pre_snapshot = t.log.current_id()
    t.compact(TEST_POLICY)
    cdc_silent = table_changes(t, pre_snapshot).count() == 0
    return rollup(t.scan(snapshot_id=pre_snapshot)).withColumn(
        "cdc_compaction_silent", F.lit(cdc_silent)
    )


def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution cycle: create (v1) → add `lang` column with
    default 'und' → append a second batch that carries explicit values →
    compact (mixed-schema rewrite) → scan and roll up by (source, lang).
    Old rows must read the default, new rows their values, token arrays
    intact through the whole cycle — all value-checked by the oracle's
    closed-form reconstruction."""
    t = TokenLakeTable.create(
        spark, _scratch("evolve"), from_documents(spark, sf_dir), repartition_n=8
    )
    t.evolve_schema([{"name": "lang", "type": "string", "default": "und"}])
    base = from_documents(spark, sf_dir)
    num = F.substring("doc_id", 5, 10).cast("long") + F.lit(700000)
    batch2 = base.select(
        F.format_string("doc-%08d", num).alias("doc_id"),
        "tokens",
        "n_tok",
        "source",
        F.when(num % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    t.append(batch2, repartition_n=4)
    t.compact(TEST_POLICY)
    df = t.scan()
    checksum = F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
    return (
        df.select("source", "lang", "n_tok", checksum.alias("chk"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_n_tok"),
            F.sum("chk").alias("sum_tok_checksum"),
        )
        .orderBy("source", "lang")
    )


def gc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry + reachability-GC cycle: create fragmented →
    compact (the pre-compaction files stay reachable only through the
    old snapshot) → expire all but the head snapshot → collect garbage
    with min-age 0 → verify the orphans were ACTUALLY deleted from disk
    → scan. The rollup must still equal the closed-form derivation
    (GC must never touch a reachable file), and ``gc_removed_orphans``
    — true only if ≥1 orphan was removed AND every removed path is gone
    AND a dry-run rerun finds nothing left — is pinned TRUE.

    Row-level DML runs between create and compact, value-checked by the
    oracle's mirrors and CDC-pinned per op:

    - a predicate UPDATE (src3 docs with num%40==3, tokens+3) — the oracle
      CASE-WHEN mirrors the assignment, partition-scoped find pass, CDC
      across it must emit exactly {update: matched};
    - a predicate DELETE (every 97th doc) — the oracle's WHERE mirror
      value-checks survivors, CDC must emit {delete: matched};
    - a ROLLBACK round-trip (restore pre-update, then roll forward) —
      metadata-only manifest restore: CDC to the restored snapshot must
      net to zero against pre_update, the inverse feed must reinsert
      exactly the deleted docs, and the forward restore leaves the final
      state bit-identical, so the oracle is untouched.

    All ops' replaced files become extra orphans the GC invariant must
    clean (all folded into the pinned flag)."""
    from hoopstat_haus_spark.lakehouse.changes import changes_summary, table_changes

    t = TokenLakeTable.create(spark, _scratch("gc"), from_documents(spark, sf_dir), repartition_n=8)
    pre_update = t.log.current_id()
    upd_snap, _m = t.update_where(
        "source = 'src3' and cast(substr(doc_id, 5) as bigint) % 40 = 3",
        {"tokens": "transform(tokens, x -> cast(x + 3 as int))"},
        sources=["src3"],
    )
    update_ok = (
        upd_snap is not None
        and upd_snap.summary["matched_rows"] > 0
        and changes_summary(table_changes(t, pre_update))
        == {"update": upd_snap.summary["matched_rows"]}
    )
    pre_delete = t.log.current_id()
    del_snap, _m = t.delete_where("cast(substr(doc_id, 5) as bigint) % 97 = 0")
    cdc = changes_summary(table_changes(t, pre_delete))
    delete_ok = (
        del_snap is not None
        and del_snap.summary["matched_rows"] > 0
        and cdc == {"delete": del_snap.summary["matched_rows"]}
    )
    head_before = t.log.current_id()
    rb = t.rollback(snapshot_id=pre_update)
    inverse = changes_summary(table_changes(t, head_before))
    rollback_ok = (
        rb.operation == "rollback"
        and rb.summary["restored_snapshot_id"] == pre_update
        and changes_summary(table_changes(t, pre_update)) == {}  # bit-identical restore
        and inverse.get("insert") == del_snap.summary["matched_rows"]
        and "delete" not in inverse
    )
    t.rollback(snapshot_id=head_before)  # roll forward; final state unchanged
    rollback_ok = rollback_ok and changes_summary(table_changes(t, head_before)) == {}
    t.compact(TEST_POLICY)
    t.expire_snapshots(keep_last=1)
    report = t.collect_garbage(min_age_s=0.0)
    removed = report["removed_data_files"]
    all_gone = all(not os.path.exists(os.path.join(t.path, r)) for r in removed)
    rerun_clean = not t.collect_garbage(min_age_s=0.0)["removed_data_files"]
    gc_ok = bool(removed) and all_gone and rerun_clean and delete_ok and update_ok and rollback_ok
    return rollup(t.scan()).withColumn("gc_removed_orphans", F.lit(gc_ok))


def quarantine_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine + replay cycle (M6/M7, reference quarantine store +
    replay engine), driven through the STREAMING ingest path: create →
    deliver a micro-batch carrying deterministic planted errors (10
    length_mismatch, 10 out-of-vocab, 10 clean rows on a fresh doc-id
    range) to ``make_batch_processor(validate=True, dedupe='content',
    content_index=...)`` — the clean rows merge exactly-once under the
    stream stamp after content-dedupe against the persisted DigestIndex
    (built here from the base corpus), the rejects land in the sidecar
    — replay with the standard fixes (recount / clamp-vocab) → then a
    write-audit-publish round-trip (stage a clean batch → audit passes
    → publish; stage a dirty batch → audit catches all 8 rows →
    discard) → refresh the index across all those commits and
    value-check it against a recomputed scan digest on src0 (the
    partition every mutation landed in) → scan. The rollup must equal
    the closed-form oracle of base ∪ fixed-batch ∪ wap-published-batch,
    and ``replay_resolved_all`` — true only if the stream leg held
    (batch stamped, a redelivered batch is a no-op, rejects
    classified), every quarantined row resolved, none still fail, the
    sidecar is empty afterwards, the WAP leg held (staged invisible
    pre-publish, audit counts exact, exactly-once republish, no staged
    records left), AND the CDC-refreshed DigestIndex matches the
    recomputed truth exactly — is pinned TRUE."""
    from hoopstat_haus_spark.lakehouse.quarantine import (
        VOCAB_SIZE,
        read_quarantine,
        replay,
        validate_batch,
    )

    t = TokenLakeTable.create(
        spark, _scratch("quarantine"), from_documents(spark, sf_dir), repartition_n=8
    )
    num = F.col("id") + F.lit(950000)
    batch = spark.range(30).select(
        F.format_string("doc-%08d", num).alias("doc_id"),
        token_expr(num, F.lit(16)).alias("tokens"),
        F.lit(16).alias("n_tok"),
        F.lit("src0").alias("source"),
        (F.col("id") % 3).alias("_kind"),
    )
    batch = batch.withColumn(
        "n_tok", F.when(F.col("_kind") == 0, F.lit(21)).otherwise(F.col("n_tok"))
    ).withColumn(
        "tokens",
        F.when(
            F.col("_kind") == 1,
            F.transform(
                "tokens",
                lambda x, i: F.when(i == 2, F.lit(VOCAB_SIZE + 7)).otherwise(x).cast("int"),
            ),
        ).otherwise(F.col("tokens")),
    ).drop("_kind")

    from hoopstat_haus_spark.streaming.ingest import last_committed_batch, make_batch_processor

    proc = make_batch_processor(
        t, "gate-stream", dedupe="content", validate=True, content_index="gate-cs"
    )
    proc(batch, 0)
    head_after_ingest = t.log.current_id()
    proc(batch, 0)  # redelivery of the SAME batch id: exactly-once no-op
    stream_ok = (
        last_committed_batch(t, "gate-stream") == 0
        and t.log.current_id() == head_after_ingest
        and read_quarantine(t).count() == 20
    )
    rep = replay(t)
    ok = (
        stream_ok
        and rep["replayed"] == 20
        and rep["resolved"] == 20
        and rep["still_failed"] == 0
        and read_quarantine(t).count() == 0
    )

    # write-audit-publish leg: a clean staged batch passes its audit and
    # publishes (oracle mirrors its 20 rows); a dirty one is caught by
    # the same audit and discarded without ever reaching a scan
    from hoopstat_haus_spark.lakehouse.wap import (
        discard_staged,
        publish_staged,
        scan_staged,
        stage_append,
        staged_records,
    )

    clean_num = F.col("id") + F.lit(960000)
    wap_clean = spark.range(20).select(
        F.format_string("doc-%08d", clean_num).alias("doc_id"),
        token_expr(clean_num, F.lit(16)).alias("tokens"),
        F.lit(16).alias("n_tok"),
        F.lit("src0").alias("source"),
    )
    dirty_num = F.col("id") + F.lit(970000)
    wap_dirty = spark.range(8).select(
        F.format_string("doc-%08d", dirty_num).alias("doc_id"),
        token_expr(dirty_num, F.lit(16)).alias("tokens"),
        F.lit(20).alias("n_tok"),  # every row fails the length audit
        F.lit("src0").alias("source"),
    )
    pre_publish_head = t.log.current_id()
    stage_append(t, wap_clean, ref="gate-clean")
    stage_append(t, wap_dirty, ref="gate-dirty")
    staged_invisible = t.log.current_id() == pre_publish_head
    _, bad_clean = validate_batch(scan_staged(t, "gate-clean"))
    _, bad_dirty = validate_batch(scan_staged(t, "gate-dirty"))
    audit_ok = bad_clean.count() == 0 and bad_dirty.count() == 8
    discard_staged(t, "gate-dirty")
    snap = publish_staged(t, "gate-clean")
    wap_ok = (
        staged_invisible
        and audit_ok
        and snap.summary.get("wap_ref") == "gate-clean"
        and publish_staged(t, "gate-clean").snapshot_id == snap.snapshot_id
        and staged_records(t.path) == {}
    )

    # DigestIndex leg: the index was BUILT from the base corpus inside
    # the stream processor; refresh now rolls it across the ingest,
    # replay, and WAP-publish commits via the change feed (never a
    # rebuild). Value-check on src0 — the partition every mutation
    # landed in — against a freshly recomputed scan digest: any lost /
    # duplicated / stale sig breaks the except-both-ways emptiness.
    from hoopstat_haus_spark.lakehouse.digest_index import DigestIndex
    from hoopstat_haus_spark.tables.token_table import token_sig

    ix = DigestIndex(t, "gate-cs")
    st = ix.refresh()
    # materialize both sides once: the comparison below is two actions,
    # and the truth side re-hashes src0's token payloads on every replay.
    # exceptAll emptiness BOTH ways is full multiset equality (counts
    # included), so no separate count probe.
    truth = (
        t.scan(sources=["src0"])
        .select("doc_id", "source", token_sig(F.col("tokens")).alias("sig"))
        .localCheckpoint()
    )
    got = ix.to_df(sources=["src0"]).localCheckpoint()
    idx_ok = (
        st["snapshot_id"] == t.log.current_id()
        and got.exceptAll(truth).isEmpty()
        and truth.exceptAll(got).isEmpty()
    )
    return rollup(t.scan()).withColumn("replay_resolved_all", F.lit(ok and wap_ok and idx_ok))


def _tokens_sql() -> str:
    return documents_token_sql()


ORACLE = {
    # compaction scan must equal the pure derivation
    "maint_compact_scan": _ROLLUP_SQL.format(src=_tokens_sql()),
    # pre-maintenance pinned scan equals the derivation; the CDC feed
    # across the compaction must be empty (pinned TRUE)
    "maint_snapshot_isolation_scan": f"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
               CAST(SUM(list_sum(tokens)) AS BIGINT) AS sum_tok_checksum,
               TRUE AS cdc_compaction_silent
        FROM {_tokens_sql()} t GROUP BY source ORDER BY source
    """,
    # post-GC scan must equal the derivation with the UPDATE's CASE-WHEN
    # mirror applied (tokens+3 on src3's num%40==3 docs) MINUS the
    # predicate-deleted docs (value-checking update_where AND
    # delete_where); orphan removal + per-op CDC consistency are
    # Spark/driver-side invariants pinned TRUE
    "maint_gc_scan": f"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
               CAST(SUM(list_sum(tokens)) AS BIGINT) AS sum_tok_checksum,
               TRUE AS gc_removed_orphans
        FROM (
          SELECT source, n_tok,
                 CASE WHEN source = 'src3'
                           AND CAST(substr(doc_id, 5) AS BIGINT) % 40 = 3
                      THEN list_transform(tokens, x -> CAST(x + 3 AS INTEGER))
                      ELSE tokens END AS tokens
          FROM {_tokens_sql()} t
          WHERE CAST(substr(doc_id, 5) AS BIGINT) % 97 != 0
        ) GROUP BY source ORDER BY source
    """,
    "maint_merge_scan": _ROLLUP_SQL.format(
        src=f"""(
          SELECT doc_id,
                 CASE WHEN CAST(substr(doc_id, 5) AS BIGINT) % 50 = 0
                      THEN list_transform(tokens, x -> CAST(x + 1 AS INTEGER)) ELSE tokens END AS tokens,
                 n_tok, source
          FROM {_tokens_sql()} b
          WHERE CAST(substr(doc_id, 5) AS BIGINT) % 250 != 0
          UNION ALL
          SELECT printf('doc-%08d', 900000 + i) AS doc_id,
                 list_transform(range(0, 16), k -> CAST(((900000 + i) * {_MULT} + k * {_STEP}) % {_VOCAB} AS INTEGER)) AS tokens,
                 16 AS n_tok, 'src0' AS source
          FROM range(10) r(i)
        )"""
    ),
}

# post-replay scan = base ∪ the planted batch AFTER its fixes: recount
# restores n_tok=16 on the length rows (tokens untouched), clamp maps
# the planted out-of-vocab token (VOCAB+7 at position 2) to VOCAB-1 =
# 50256; sidecar emptiness is a Spark/driver-side invariant pinned TRUE
ORACLE["maint_quarantine_scan"] = f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
           CAST(SUM(list_sum(tokens)) AS BIGINT) AS sum_tok_checksum,
           TRUE AS replay_resolved_all
    FROM (
      SELECT source, n_tok, tokens FROM {{base}} t
      UNION ALL
      SELECT 'src0' AS source, 16 AS n_tok,
             list_transform(range(0, 16), k -> CAST(
               CASE WHEN i % 3 = 1 AND k = 2 THEN {_VOCAB - 1}
                    ELSE ((950000 + i) * {_MULT} + k * {_STEP}) % {_VOCAB} END
               AS INTEGER)) AS tokens
      FROM range(30) r(i)
      UNION ALL
      -- the write-audit-publish leg's published clean batch (the dirty
      -- staged batch is discarded pre-publish and never reaches a scan)
      SELECT 'src0' AS source, 16 AS n_tok,
             list_transform(range(0, 16), k -> CAST(
               ((960000 + i) * {_MULT} + k * {_STEP}) % {_VOCAB}
               AS INTEGER)) AS tokens
      FROM range(20) w(i)
    ) GROUP BY source ORDER BY source
""".replace("{base}", _tokens_sql())

ORACLE["maint_schema_evolution_scan"] = f"""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
           CAST(SUM(list_sum(tokens)) AS BIGINT) AS sum_tok_checksum
    FROM (
      SELECT source, 'und' AS lang, n_tok, tokens FROM {_tokens_sql()} t
      UNION ALL
      SELECT source,
             CASE WHEN (CAST(substr(doc_id, 5) AS BIGINT) + 700000) % 2 = 0
                  THEN 'en' ELSE 'fr' END AS lang,
             n_tok, tokens
      FROM {_tokens_sql()} t2
    ) GROUP BY source, lang ORDER BY source, lang
"""

QUERIES = {
    "maint_compact_scan": compact_scan,
    "maint_merge_scan": merge_scan,
    "maint_snapshot_isolation_scan": snapshot_isolation_scan,
    "maint_schema_evolution_scan": schema_evolution_scan,
    "maint_gc_scan": gc_scan,
    "maint_quarantine_scan": quarantine_scan,
}
