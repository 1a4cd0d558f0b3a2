"""spark-submit entry point for the maintenance engine.

Ship as:

    python jobs/build_pyfiles.py                       # → dist/hoopstat_haus_spark.zip
    spark-submit --py-files dist/hoopstat_haus_spark.zip \\
        jobs/maintenance_job.py compact \\
        --table /data/tokens --target-mb 128 --curve zorder --job-id nightly-42

Subcommands:
    compact   rewrite each partition's small, oversized and unclustered
              files into target-size files range-cut on a Z-order or
              Hilbert curve (resumable via --job-id; --since-snapshot N
              compacts only partitions changed since that snapshot,
              --sources a,b restricts to named partitions)
    merge     MERGE INTO from an updates parquet path
    delete    DELETE FROM ... WHERE <sql predicate> (deletion vectors:
              only files holding a match get one, no data file is
              written; the next compaction of those partitions removes
              the rows from disk — run it for GDPR-style erasure)
    update    UPDATE ... SET col=expr WHERE <sql predicate> (same find
              pass as delete; DVs + one write of the new row versions;
              RHS sees OLD row)
    changes   row-level net change feed between two snapshots
              (insert/update/delete classification; optional --out
              parquet for downstream incremental consumers)
    ingest    Structured Streaming ingest of a parquet feed directory
              (Trigger.AvailableNow; exactly-once via snapshot-stamped
              stream batch ids — re-run on a schedule for incremental
              pickup of new feed files)
    expire    snapshot expiry + reachability GC (tagged snapshots kept)
    tag       set/list/drop named snapshot refs — pin the exact corpus
              snapshot a training run consumed (scan(tag=...) reads it)
    rollback  restore an earlier snapshot (by id or tag) as a NEW
              commit — metadata-only, history preserved, CDC-inverse
    evolve    add columns to the table schema (metadata-only)
    stats     print current snapshot summary + per-partition manifest rollup
    health    roll up per-job metrics into the pipeline health report
    wap       write-audit-publish: stage a parquet batch without
              committing, audit the staged rows, publish (rebased onto
              the current head, exactly-once) or discard; list shows
              live staged refs — publish refuses a failing audit
              unless --skip-audit
    corpus    run the training-corpus pipeline (quality → dedup →
              decontaminate → tokenize, optional mixture budgets and
              sequence packing) from a documents dir to parquet
    ann-index build a persisted IVF index from an embeddings dir
              (cell-partitioned vectors; probe scans partition-prune)
    view      build/refresh the incremental materialized per-source
              rollup (O(changed rows) via the preimage change feed)
    digest-index  build/refresh the persisted content-sig index
              (CDC-incremental; backs `ingest --dedupe content
              --content-index NAME` without per-batch payload re-hash)

On a cluster the session comes from spark-submit's conf; local runs fall
back to the tuned local factory. Every job prints one JSON line to
stdout: the per-job record (the reference's performance-log contract,
``apps/gold-analytics/app/performance.py``). compact, merge, delete and
update also append their ``_metrics`` record (success, no-op or failure)
keyed by ``--job-id``, which is stamped into the snapshot summary too;
``health`` rolls those records up."""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            return active
    except Exception:
        pass
    from hoopstat_haus_spark.session import get_spark

    return get_spark(app_name="maintenance-job")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="maintenance_job")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compact")
    c.add_argument("--table", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--curve", choices=["zorder", "hilbert"], default="zorder")
    c.add_argument("--job-id", default=None, help="reuse to resume a crashed run")
    # default None = scale-adaptive (max(4, defaultParallelism // 2))
    c.add_argument("--concurrent-units", type=int, default=None)
    c.add_argument(
        "--since-snapshot",
        type=int,
        default=None,
        help="incremental: compact ONLY partitions whose file set changed "
        "since this snapshot id (snapshot-diff discovery; reference analog "
        "process_incremental)",
    )
    c.add_argument(
        "--sources",
        default=None,
        help="comma-separated partition list to restrict the run to",
    )

    m = sub.add_parser("merge")
    m.add_argument("--table", required=True)
    m.add_argument("--updates", required=True, help="parquet path with (doc_id, tokens, n_tok, source[, _op])")
    m.add_argument("--job-id", default=None)

    ing = sub.add_parser("ingest")
    ing.add_argument("--table", required=True)
    ing.add_argument("--feed", required=True, help="parquet feed directory (flat files)")
    ing.add_argument("--checkpoint", required=True, help="stream checkpoint dir (file-discovery state)")
    ing.add_argument("--stream-id", default="ingest", help="idempotence key in snapshot summaries")
    ing.add_argument(
        "--dedupe",
        choices=["key", "content", "none"],
        default="key",
        help="anti-join new rows against the corpus by merge key or token content",
    )
    ing.add_argument(
        "--validate",
        action="store_true",
        help="classify each micro-batch; invalid rows go to the quarantine sidecar",
    )
    ing.add_argument(
        "--content-index",
        default=None,
        metavar="NAME",
        help="with --dedupe content: back the dedupe with a persisted DigestIndex",
    )

    d = sub.add_parser("delete")
    d.add_argument("--table", required=True)
    d.add_argument("--where", required=True, help="SQL predicate; rows where it is TRUE are deleted")
    d.add_argument("--sources", default=None, help="comma-separated partition list to restrict the find pass")
    d.add_argument("--job-id", default=None)

    u = sub.add_parser("update")
    u.add_argument("--table", required=True)
    u.add_argument("--where", required=True, help="SQL predicate; rows where it is TRUE are updated")
    u.add_argument(
        "--set",
        action="append",
        required=True,
        metavar="COL=EXPR",
        help="assignment (repeatable); EXPR is SQL over the OLD row",
    )
    u.add_argument("--sources", default=None, help="comma-separated partition list to restrict the find pass")
    u.add_argument("--job-id", default=None)

    ch = sub.add_parser("changes")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-snapshot", type=int, required=True)
    ch.add_argument("--to-snapshot", type=int, default=None)
    ch.add_argument("--out", default=None, help="optional parquet path for the change rows")

    e = sub.add_parser("expire")
    e.add_argument("--table", required=True)
    e.add_argument("--keep-last", type=int, default=2)
    e.add_argument(
        "--max-age-h",
        type=float,
        default=None,
        help="never expire snapshots younger than this many hours (age widens retention)",
    )
    e.add_argument("--dry-run", action="store_true")

    tg = sub.add_parser("tag")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", default=None, help="tag to set (omit to list tags)")
    tg.add_argument("--snapshot", type=int, default=None, help="snapshot id (default HEAD)")
    tg.add_argument("--replace", action="store_true", help="retarget an existing tag")
    tg.add_argument("--drop", action="store_true", help="drop the named tag")

    rb = sub.add_parser("rollback")
    rb.add_argument("--table", required=True)
    rb.add_argument("--snapshot", type=int, default=None, help="snapshot id to restore")
    rb.add_argument("--tag", default=None, help="tag to restore (instead of --snapshot)")

    s = sub.add_parser("stats")
    s.add_argument("--table", required=True)

    ev = sub.add_parser("evolve")
    ev.add_argument("--table", required=True)
    ev.add_argument(
        "--add",
        required=True,
        action="append",
        help="name:type[:default], e.g. lang:string:und (repeatable)",
    )

    h = sub.add_parser("health")
    h.add_argument("--table", required=True)
    h.add_argument("--lookback-jobs", type=int, default=50)

    cp = sub.add_parser("corpus")
    cp.add_argument("--input", required=True, help="dir containing documents.parquet")
    cp.add_argument(
        "--out", required=True, help="output parquet dir (token table; packed sequences with --seq-len)"
    )
    cp.add_argument("--benchmark", default=None, help="parquet with (bench_id, text) → decontamination")
    cp.add_argument(
        "--budget",
        action="append",
        default=None,
        help="source=tokens mixture budget (repeatable); unbudgeted sources drop",
    )
    cp.add_argument("--seq-len", type=int, default=None, help="pack into fixed-length sequences")
    cp.add_argument("--n-shards", type=int, default=64)
    cp.add_argument(
        "--scrub",
        action="store_true",
        help="PII-redact and line-dedup document text before quality filtering",
    )
    cp.add_argument(
        "--shuffle-shards",
        type=int,
        default=None,
        help="deterministic training-order shuffle of packed sequences into N output shards",
    )
    cp.add_argument(
        "--dedupe-against",
        default=None,
        metavar="TABLE",
        help="drop docs whose token content this lake table already holds (DigestIndex join)",
    )
    cp.add_argument("--dedupe-index", default="content_sigs", metavar="NAME")
    cp.add_argument(
        "--no-refresh-index",
        action="store_true",
        help="use the lake index as-is (read-only lake access; index maintained by digest-index)",
    )
    cp.add_argument("--job-id", default=None)

    w = sub.add_parser("wap")
    w.add_argument(
        "action",
        choices=["stage", "audit", "publish", "discard", "list"],
        help="write-audit-publish step",
    )
    w.add_argument("--table", required=True)
    w.add_argument("--input", default=None, help="parquet path to stage (stage only)")
    w.add_argument("--ref", default=None, help="staged-batch ref (required except stage/list)")
    w.add_argument(
        "--skip-audit",
        action="store_true",
        help="publish without re-running the validation audit",
    )
    w.add_argument("--job-id", default=None)

    vw = sub.add_parser("view")
    vw.add_argument("--table", required=True)
    vw.add_argument("--name", default="source_rollup", help="view name under <table>/_views/")
    vw.add_argument("--job-id", default=None)

    di = sub.add_parser("digest-index")
    di.add_argument("--table", required=True)
    di.add_argument("--name", default="content_sigs", help="index name under <table>/_digest_index/")
    di.add_argument("--job-id", default=None)

    ai = sub.add_parser("ann-index")
    ai.add_argument("--input", required=True, help="dir containing embeddings.parquet")
    ai.add_argument("--out", required=True, help="index output dir (must not exist)")
    ai.add_argument("--n-lists", type=int, default=16)
    ai.add_argument("--job-id", default=None)

    args = ap.parse_args(argv)
    print(json.dumps(_dispatch(args, _spark())))
    return 0


def _dispatch(args, spark) -> dict:
    if args.cmd == "view":
        from hoopstat_haus_spark.lakehouse import TokenLakeTable as _TLT
        from hoopstat_haus_spark.lakehouse.incremental import IncrementalRollup

        v = IncrementalRollup(_TLT(spark, args.table), args.name)
        had = v.state() is not None
        st = v.refresh()
        return {
            "name": args.name,
            "action": "refresh" if had else "build",
            "snapshot_id": st["snapshot_id"],
            "sources": len(st["rows"]),
            "rows": int(sum(vals[0] for vals in st["rows"].values())),
        }

    if args.cmd == "digest-index":
        from hoopstat_haus_spark.lakehouse import TokenLakeTable as _TLT
        from hoopstat_haus_spark.lakehouse.digest_index import DigestIndex

        ix = DigestIndex(_TLT(spark, args.table), args.name)
        had = ix.state() is not None
        st = ix.refresh()
        return {
            "name": args.name,
            "action": "refresh" if had else "build",
            "snapshot_id": st["snapshot_id"],
            "sources": len(st["parts"]),
            "rows": ix.to_df().count(),
        }

    if args.cmd == "ann-index":
        from hoopstat_haus_spark.operators.common import load
        from hoopstat_haus_spark.similarity.ann_index import build_ivf_index

        emb = load(spark, args.input, "embeddings").select("vec_id", "embedding")
        meta = build_ivf_index(spark, emb, args.out, n_lists=args.n_lists)
        return {**meta, "out": args.out, "rows": meta["n_vectors"]}

    if args.cmd == "corpus":
        from hoopstat_haus_spark.pipeline import build_training_corpus

        budgets = None
        if args.budget:
            budgets = {}
            for spec in args.budget:
                name, _, val = spec.partition("=")
                if not name or not val:
                    raise SystemExit(f"bad --budget spec {spec!r}, want source=tokens")
                budgets[name] = int(val)
        bench_df = spark.read.parquet(args.benchmark) if args.benchmark else None
        against = None
        if args.dedupe_against:
            from hoopstat_haus_spark.lakehouse import TokenLakeTable as _TLT

            against = _TLT(spark, args.dedupe_against)
        out_df, rep = build_training_corpus(
            spark,
            args.input,
            benchmark=bench_df,
            budgets=budgets,
            seq_len=args.seq_len,
            n_shards=args.n_shards,
            shuffle_out_shards=args.shuffle_shards,
            scrub=args.scrub,
            dedupe_against=against,
            dedupe_index=args.dedupe_index,
            refresh_lake_index=not args.no_refresh_index,
        )
        out_df.write.mode("error").parquet(args.out)
        return {
            "stages": rep.stages,
            "out": args.out,
            "rows": rep.stages.get(
                "packed_sequences",
                rep.stages.get(
                    "mixed", rep.stages.get("lake_dedup", rep.stages["tokenized"])
                ),
            ),
        }

    from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable

    table = TokenLakeTable(spark, args.table)

    if args.cmd == "compact":
        policy = CompactionPolicy(
            min_file_bytes=(args.target_mb // 4) << 20,
            target_file_bytes=args.target_mb << 20,
            max_file_bytes=(args.target_mb * 2) << 20,
        )
        sources = args.sources.split(",") if args.sources else None
        since = args.since_snapshot
        if since is not None:
            # incremental discovery (M8/M9): snapshot-diff names the
            # partitions with new/removed files; only those become
            # compaction units. The pruned unit list ships in the job's
            # JSON record so operators can audit what was skipped.
            changed = table.changed_partitions_since(since)
            inc = sorted(changed)
            if sources is not None:
                inc = [p for p in inc if p in set(sources)]
            if not inc:
                return {
                    "snapshot": None,
                    "since_snapshot": since,
                    "changed_partitions": [],
                    "skipped": "no partitions changed since snapshot",
                }
            sources = inc
        snap, metrics = table.compact(
            policy,
            curve=args.curve,
            job_id=args.job_id,
            max_concurrent_units=args.concurrent_units,
            sources=sources,
        )
        out = metrics.to_dict()
        out["snapshot"] = snap.snapshot_id if snap else None
        if since is not None:
            out["since_snapshot"] = since
            out["changed_partitions"] = sources
        elif sources is not None:
            out["sources"] = sources
        return out
    if args.cmd == "merge":
        from hoopstat_haus_spark.lakehouse.merge import merge_into

        updates = spark.read.parquet(args.updates)
        snap, metrics = merge_into(table, updates, job_id=args.job_id)
        out = metrics.to_dict()
        out["snapshot"] = snap.snapshot_id
        return out
    if args.cmd == "delete":
        sources = args.sources.split(",") if args.sources else None
        snap, metrics = table.delete_where(args.where, job_id=args.job_id, sources=sources)
        out = metrics.to_dict()
        out["snapshot"] = snap.snapshot_id if snap else None
        out["matched_rows"] = snap.summary["matched_rows"] if snap else 0
        out["where"] = args.where
        return out
    if args.cmd == "update":
        sources = args.sources.split(",") if args.sources else None
        assignments = {}
        for item in args.set:
            col, _, expr = item.partition("=")
            if not _ or not col.strip() or not expr.strip():
                raise SystemExit(f"bad --set {item!r} (want COL=EXPR)")
            assignments[col.strip()] = expr.strip()
        snap, metrics = table.update_where(
            args.where, assignments, job_id=args.job_id, sources=sources
        )
        out = metrics.to_dict()
        out["snapshot"] = snap.snapshot_id if snap else None
        out["matched_rows"] = snap.summary["matched_rows"] if snap else 0
        out["where"] = args.where
        # effective columns (n_tok auto-recount may ride along)
        out["set"] = snap.summary["assigned_columns"] if snap else sorted(assignments)
        return out
    if args.cmd == "changes":
        from hoopstat_haus_spark.lakehouse.changes import changes_summary, table_changes

        ch_df = table_changes(table, args.from_snapshot, args.to_snapshot)
        if args.out:
            ch_df.write.mode("error").parquet(args.out)
            # summarize from the files just written — re-running the
            # change-diff join would execute the full-outer classify +
            # content-sig pass a second time over every changed file
            summary = changes_summary(spark.read.parquet(args.out))
        else:
            summary = changes_summary(ch_df)
        return {
            "from_snapshot": args.from_snapshot,
            "to_snapshot": args.to_snapshot if args.to_snapshot is not None else table.log.current_id(),
            "changes": summary,
            "rows": int(sum(summary.values())),
            **({"out": args.out} if args.out else {}),
        }
    if args.cmd == "wap":
        from hoopstat_haus_spark.lakehouse.wap import (
            discard_staged,
            publish_staged,
            scan_staged,
            stage_append,
            staged_records,
        )

        def _need_ref():
            if not args.ref:
                raise SystemExit(f"wap {args.action} needs --ref")
            return args.ref

        if args.action == "list":
            return {
                "staged": {
                    ref: {
                        "base_snapshot": rec["base_id"],
                        "files": len(rec["entries"]),
                        "rows": int(sum(e["row_count"] for e in rec["entries"])),
                        "created_ms": rec["created_ms"],
                    }
                    for ref, rec in staged_records(args.table).items()
                }
            }
        if args.action == "stage":
            if not args.input:
                raise SystemExit("wap stage needs --input")
            rec = stage_append(table, spark.read.parquet(args.input), ref=args.ref)
            return {
                "ref": rec["ref"],
                "base_snapshot": rec["base_id"],
                "files": len(rec["entries"]),
                "rows": int(sum(e["row_count"] for e in rec["entries"])),
            }
        if args.action == "audit":
            from pyspark.sql import functions as F

            from hoopstat_haus_spark.lakehouse.quarantine import ERROR_NONE, classify

            # ONE scan+classification pass: a per-class aggregate over the
            # classified frame (ok rows under ERROR_NONE) — the previous
            # ok.count/bad.count/groupBy trio re-read the staged files
            # up to three times
            per_class = {
                r["_error_class"]: r["n"]
                for r in classify(scan_staged(table, _need_ref()))
                .groupBy("_error_class")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            ok_rows = per_class.pop(ERROR_NONE, 0)
            return {
                "ref": args.ref,
                "ok_rows": ok_rows,
                "bad_rows": int(sum(per_class.values())),
                "by_class": per_class,
            }
        if args.action == "publish":
            ref = _need_ref()
            if not args.skip_audit:
                from hoopstat_haus_spark.lakehouse.quarantine import validate_batch

                n_bad = validate_batch(scan_staged(table, ref))[1].count()
                if n_bad:
                    raise SystemExit(
                        f"staged batch {ref!r} fails its audit ({n_bad} rows); "
                        "fix and restage, discard it, or pass --skip-audit"
                    )
            snap = publish_staged(table, ref)
            return {
                "snapshot": snap.snapshot_id,
                "ref": ref,
                "rows": int(snap.summary.get("rows", 0)),
            }
        rec = discard_staged(table, _need_ref())
        return {
            "discarded": args.ref,
            "orphaned_files": len(rec["entries"]),
            "note": "data files age out via expire's GC min-age",
        }
    if args.cmd == "ingest":
        from hoopstat_haus_spark.streaming.ingest import last_committed_batch, stream_ingest

        q_before = 0
        if args.validate:
            from hoopstat_haus_spark.lakehouse.quarantine import read_quarantine

            q_before = read_quarantine(table).count()
        before = table.log.current_id()
        stream_ingest(
            spark,
            table,
            args.feed,
            args.checkpoint,
            stream_id=args.stream_id,
            dedupe=None if args.dedupe == "none" else args.dedupe,
            validate=args.validate,
            content_index=args.content_index,
        )
        snap = table.log.current()
        out = {
            "snapshot": snap.snapshot_id,
            "snapshots_committed": snap.snapshot_id - (before or 0),
            "stream_id": args.stream_id,
            "last_stream_batch": last_committed_batch(table, args.stream_id),
            "rows": int(snap.summary.get("rows", 0)),
        }
        if args.validate:
            q_after = read_quarantine(table).count()
            # this RUN's rejects; the sidecar is cumulative across runs
            out["quarantined"] = q_after - q_before
            out["quarantine_depth"] = q_after
        return out
    if args.cmd == "expire":
        import time as _time

        cutoff = (
            int((_time.time() - args.max_age_h * 3600) * 1000)
            if args.max_age_h is not None
            else None
        )
        expired = table.expire_snapshots(keep_last=args.keep_last, older_than_ms=cutoff)
        from hoopstat_haus_spark.lakehouse.gc import collect_garbage

        report = collect_garbage(table.path, dry_run=args.dry_run)
        return {
            "expired_snapshots": expired,
            "removed_data_files": len(report["removed_data_files"]),
            "removed_manifests": len(report["removed_manifests"]),
            "reachable_files": report["reachable_files"],
            "dry_run": args.dry_run,
        }
    if args.cmd == "tag":
        if args.drop and not args.name:
            # falling through to the listing would exit 0 with the tag
            # still protecting its snapshot from expiry/GC
            raise SystemExit("tag --drop needs --name")
        if args.name and args.drop:
            table.drop_tag(args.name)
            return {"dropped": args.name, "tags": table.tags()}
        if args.name:
            rec = table.tag(args.name, snapshot_id=args.snapshot, replace=args.replace)
            return {"tagged": rec, "tags": table.tags()}
        return {"tags": table.tags()}
    if args.cmd == "rollback":
        if (args.snapshot is None) == (args.tag is None):
            raise SystemExit("pass exactly one of --snapshot / --tag")
        snap = table.rollback(snapshot_id=args.snapshot, tag=args.tag)
        return {
            "snapshot": snap.snapshot_id,
            "restored_snapshot_id": snap.summary["restored_snapshot_id"],
            "rows": snap.summary["rows"],
            "files": snap.summary["files"],
        }
    if args.cmd == "evolve":
        fields = []
        for spec in args.add:
            parts = spec.split(":")
            if len(parts) not in (2, 3):
                raise SystemExit(f"bad --add spec {spec!r}, want name:type[:default]")
            fields.append(
                {"name": parts[0], "type": parts[1], "default": parts[2] if len(parts) == 3 else None}
            )
        snap = table.evolve_schema(fields)
        return {
            "snapshot": snap.snapshot_id,
            "schema_version": snap.summary.get("schema_version"),
            "added": fields,
        }
    if args.cmd == "health":
        from hoopstat_haus_spark.lakehouse.health import health_report

        return health_report(table.path, lookback_jobs=args.lookback_jobs)
    if args.cmd == "stats":
        from hoopstat_haus_spark.lakehouse import manifest as mf

        snap = table.log.current()
        # per-partition rollup straight from the manifest LIST records —
        # O(partitions) metadata, no shard parquet is opened
        per_part = {
            r["partition"]: {
                "files": r["n_files"],
                "rows": r["row_count"],
                "bytes": r["file_bytes"],
                "tokens": r["token_count"],
            }
            for r in (mf.read_manifest_list(table.path, snap.manifest) if snap else [])
        }
        return {
            "snapshot": snap.snapshot_id if snap else None,
            "operation": snap.operation if snap else None,
            "summary": snap.summary if snap else {},
            "partitions": per_part,
        }
    raise SystemExit(f"unknown command {args.cmd!r}")


if __name__ == "__main__":
    sys.exit(main())
