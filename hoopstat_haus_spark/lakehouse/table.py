"""TokenLakeTable: the engine facade — create/scan/append/compact/merge/GC.

Layout (SURVEY.md §7.2):

    <path>/data/source=<s>/<file>.parquet     data files (Hive dirs)
    <path>/_manifests/list-*.json             manifest list (1 record/partition)
    <path>/_manifests/shard-*.parquet         per-partition file-stats shards
    <path>/_snapshots/v<N>.json               snapshot log; newest = HEAD (snapshots.py)
    <path>/_checkpoints/<job_id>/*.json       in-flight compaction lineage (checkpoint.py)

Readers always resolve data files THROUGH a snapshot's manifest — never
by listing directories — which is what makes commits atomic and scans
snapshot-isolated (reference analog: downstream only reacts to the
silver-ready marker, ``meta/adr/ADR-028:33-38``).

``commit_rewrite`` (module level) is THE file-set commit: create,
append, compact, merge, delete, update and WAP publish all drop/add
manifest entries and commit the next snapshot record through it, and it
is the one place a lost race is rebased or raised (its docstring states
the rule). Only the metadata-only commits (``evolve_schema``,
``rollback``) reuse an existing manifest and call
``SnapshotLog.commit`` directly.

``read_touched`` (module level) is THE reader of table data files:
scan, the DML find passes, MERGE, the change feed, WAP audits and
compaction all read manifest entries through it, and it applies each
file's deletion vector (manifest.py). The only other reader is the
``compute_file_stats`` test oracle.

Scale bound — scan path list: a full-table ``scan()`` materializes every
surviving file path driver-side into one ``parquet(*paths)`` call. At the
target 10^6-file scale that is ~10^8 bytes of path strings — the same
O(files) planning footprint an Iceberg/Delta driver holds when it turns
manifests into FileScanTasks, and an order of magnitude under the shard
metadata already resident during pruning, so it is a documented bound,
not a defect. Every predicate (partition, stat range) prunes BEFORE the
list is built, so only unfiltered full-table scans ever see the maximum;
memory grows with files *selected*, never files *on disk*. Beyond
``SCAN_PATHS_CHUNK`` selected files, ``scan()`` switches to chunked
``parquet()`` reads behind a ``unionByName`` — each relation's
InMemoryFileIndex then holds one chunk's paths instead of the full list,
and Spark unions the scans (filters/pruning push into every branch).

Scale bound — deletion vectors: a read of files that carry DVs, or of
the change feed's picked positions, loads those positions driver-side;
the manifest gives their count before any DV file is opened (Σ
``dv_rows`` over the selected files), and no Spark job reads a DV file.
Up to ``DV_PREDICATE_MAX`` positions are applied by ONE IN predicate
inside the read's own parquet relation: the plan carries one ~40-byte
key string per position, and parsing and planning the list costs JVM
CPU that grows with it (~1.7 s at 10^4 keys, ~7 s at 10^5). Above the
constant the positions become ONE Arrow-backed local relation (~30
driver bytes per position) that the same relation outer-joins by
broadcast, at the price of one single-task job to collect it; the
constant sits where the two cost the same. Compaction is what bounds
the count — a DV'd file is a rewrite candidate, and its output carries
no DV.
"""

from __future__ import annotations

import functools
import os
import time
import uuid

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.checkpoint import JobCheckpoint
from hoopstat_haus_spark.lakehouse.compaction import (
    CompactionPolicy,
    compact_partition,
    output_file_count,
    partition_has_candidates,
    plan_compaction,
    plan_unit_bounds,
)
from hoopstat_haus_spark.lakehouse.health import JobMetrics, job_record
from hoopstat_haus_spark.lakehouse.schema import TableSchema, evolved, read_schema, write_schema
from hoopstat_haus_spark.lakehouse.snapshots import ConcurrentCommitError, Snapshot, SnapshotLog

DATA_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]  # base (schema v1)

# Max file paths per parquet relation in scan(); larger selections union
# chunked reads (see the module docstring's scale-bound note).
SCAN_PATHS_CHUNK = 100_000

# Max selected DV + pick positions a read applies by one IN predicate;
# above it read_touched broadcast-joins them (module docstring). Where
# the two cost the same, measured warm on a 4-vCPU host (40k-row table,
# process-tree CPU per lookup, predicate vs join): 10^3 positions 0.45
# vs 0.51 s, 2·10^3 0.37 vs 0.47 s, 4·10^3 0.63 vs 0.57 s, 8·10^3 0.79
# vs 0.53 s.
DV_PREDICATE_MAX = 2_000

# attempts of one commit_rewrite (the planned commit, then rebases)
# before its last ConcurrentCommitError is raised
COMMIT_ATTEMPTS = 5


class TokenLakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log = SnapshotLog(self.path)

    # ----------------------------------------------------------- schema
    def schema_def(self, snapshot_id: int | None = None) -> TableSchema:
        """The live schema, or the one stamped on a pinned snapshot."""
        if snapshot_id is not None:
            snap = self.log.get(snapshot_id)
            return read_schema(self.path, snap.summary.get("schema_version", 1))
        return read_schema(self.path)

    def evolve_schema(self, add_fields: list[dict]) -> Snapshot:
        """Add columns (``{"name", "type", "default"}``) — metadata-only:
        no data file is touched; a new snapshot stamps the new version
        over the SAME manifest. Old files read the new columns as their
        default (schema.py module docstring)."""
        head = self.log.current()
        new_schema = evolved(self.schema_def(), add_fields)
        # table aggregates only: copying head.summary would stamp the
        # head op's own keys (job_id, wap_ref, stream_id…) on this
        # snapshot, and exactly-once lookups would then find it
        summary = mf.summary_from_records(mf.read_manifest_list(self.path, head.manifest))
        schema_file = write_schema(self.path, new_schema)
        try:
            return self.log.commit(
                head.manifest,
                "schema",
                {**summary, "schema_version": new_schema.version},
                expected_parent=head.snapshot_id,
            )
        except Exception:
            # a lost optimistic-concurrency race must not leave the
            # orphan schema-vK.json behind: read_schema resolves the max
            # version on disk, so the orphan would become the live schema
            # with no committed snapshot stamping it, and a retry would
            # fail on write_schema's exclusive create.
            try:
                os.remove(schema_file)
            except OSError:
                pass
            raise

    # ------------------------------------------------------------ write
    @property
    def data_dir(self) -> str:
        return os.path.join(self.path, "data")

    def _write_files(self, df: DataFrame, prefix: str, repartition_n: int | None) -> list[dict]:
        """Write ``df`` through the one data writer
        (``manifest.write_data_files``): ONE job writes the
        source-partitioned files AND computes their manifest stats, then
        the files are renamed from staging into the table's data dirs.
        Returns the new files' manifest entries."""
        job = f"{prefix}-{uuid.uuid4().hex[:10]}"
        out = df
        if repartition_n:
            out = out.repartition(repartition_n)
        keep = set(self.schema_def().names()) | {mf.ZKEY_COL}
        out = out.select(*[c for c in out.columns if c in keep])
        _paths, entries = mf.write_data_files(
            out, self.path, os.path.join(self.path, ".staging", job), job
        )
        return entries

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        repartition_n: int | None = None,
    ) -> "TokenLakeTable":
        """Create a table from a DataFrame. ``repartition_n`` is the
        fragmentation knob: N tasks × |sources| dirs → many small files,
        the state a fresh ingest leaves behind and compaction fixes."""
        t = cls(spark, path)
        if t.log.current_id() is not None:
            raise ValueError(f"table already exists at {path}")
        os.makedirs(t.data_dir, exist_ok=True)
        entries = t._write_files(df, "append", repartition_n)
        commit_rewrite(t, None, "append", [], entries, {})
        return t

    def append(self, df: DataFrame, repartition_n: int | None = None) -> Snapshot:
        """Append a batch. Manifest cost is O(touched partitions): only
        the partitions the batch lands in get a new shard; the rest of
        the table is carried by reference in the new manifest list."""
        head = self.log.current()
        fresh = self._write_files(self.schema_def().conform(df), "append", repartition_n)
        return commit_rewrite(self, head, "append", [], fresh, {})

    # ------------------------------------------------------------- read
    def manifest_entries(self, snapshot_id: int | None = None) -> list[dict]:
        snap = self.log.get(snapshot_id) if snapshot_id else self.log.current()
        if snap is None:
            return []
        return mf.read_manifest(self.path, snap.manifest)

    # ------------------------------------- metadata inspection tables
    # Iceberg's `table.history` / `table.files` / `table.partitions`
    # surface (reference analog: the per-date success map + summary
    # manifest lineage, SURVEY M5/M9) as DataFrames, so operators can
    # join/filter table metadata with the same API as data.

    def history(self) -> DataFrame:
        """One row per retained snapshot, newest last. Metadata-only:
        O(retained) snapshot-JSON reads driver-side (expiry bounds the
        count); no manifest shard or data file is opened."""
        cur = self.log.current_id()
        tags_by_id: dict[int, list[str]] = {}
        for name, sid in sorted(self.log.tags().items()):
            tags_by_id.setdefault(sid, []).append(name)
        rows = [
            (
                s.snapshot_id,
                s.parent_id,
                s.timestamp_ms,
                s.operation,
                int(s.summary.get("rows", 0)),
                int(s.summary.get("files", 0)),
                s.summary.get("schema_version"),
                s.snapshot_id == cur,
                tags_by_id.get(s.snapshot_id, []),
            )
            for s in (self.log.get(sid) for sid in self.log.list_ids())
        ]
        return local_frame(
            self.spark,
            "snapshot_id long, parent_id long, committed_ms long, operation string, "
            "rows long, files long, schema_version int, is_current boolean, "
            "tags array<string>",
            list(zip(*rows)),
        )

    def partitions(self, snapshot_id: int | None = None) -> DataFrame:
        """Per-partition rollup straight from the manifest LIST —
        O(partitions) metadata, no shard parquet is opened."""
        snap = self.log.get(snapshot_id) if snapshot_id else self.log.current()
        recs = mf.read_manifest_list(self.path, snap.manifest) if snap else []
        return local_frame(
            self.spark,
            "partition string, n_files long, rows long, tokens long, bytes long",
            [
                [r[k] for r in recs]
                for k in ("partition", "n_files", "row_count", "token_count", "file_bytes")
            ],
        )

    def files(
        self, snapshot_id: int | None = None, sources: list[str] | None = None
    ) -> DataFrame:
        """One row per live data file with its manifest stats (the zq
        planning sketch is dropped — inspect via ``manifest_entries``).
        ``row_count``/``token_count`` are physical; ``dv_rows`` of them
        are deleted by the file's deletion vector.
        ``sources`` prunes at shard level BEFORE any shard is opened,
        same as ``scan``; an unfiltered call materializes O(files) rows
        through the driver — the same footprint as ``manifest_entries``
        and an Iceberg planner's file list."""
        snap = self.log.get(snapshot_id) if snapshot_id else self.log.current()
        entries: list[dict] = []
        if snap is not None:
            for rec in mf.read_manifest_list(self.path, snap.manifest):
                if sources is not None and rec["partition"] not in sources:
                    continue
                entries.extend(mf.read_shard(self.path, rec))
        cols = (
            "file_path",
            "partition",
            "row_count",
            "token_count",
            "min_doc_id",
            "max_doc_id",
            "min_n_tok",
            "max_n_tok",
            "zmin",
            "zmax",
            "file_bytes",
            "dv_rows",
        )
        return local_frame(
            self.spark,
            "file_path string, partition string, row_count long, token_count long, "
            "min_doc_id string, max_doc_id string, min_n_tok int, max_n_tok int, "
            "zmin long, zmax long, file_bytes long, dv_rows long",
            [[e.get(c) for e in entries] for c in cols],
        )

    def scan(
        self,
        snapshot_id: int | None = None,
        n_tok_min: int | None = None,
        n_tok_max: int | None = None,
        sources: list[str] | None = None,
        tag: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-pinned scan with manifest-based file pruning.

        Partition (``sources``) and stat (``n_tok`` range) predicates are
        applied to manifest min/max BEFORE Spark sees a file list — the
        driver-side analog of the reference's QueryPatternOptimizer prefix
        pruning (``partitioning.py:166-266``) — then again as real
        filters so parquet row-group pushdown finishes the job.

        Pruning is TWO-level: the manifest list's per-shard aggregates
        drop whole partitions first (a pruned shard's parquet is never
        even opened), then the surviving shards' per-file stats prune
        files. A source-filtered scan of a 10^4-partition table reads
        exactly the named partitions' shards.

        ``tag`` pins the scan to a named snapshot ref (``set_tag``),
        ``as_of_ms`` to the newest retained snapshot committed at or
        before that timestamp (Delta's TIMESTAMP AS OF) — each mutually
        exclusive with an explicit ``snapshot_id`` and each other.
        """
        if sum(x is not None for x in (snapshot_id, tag, as_of_ms)) > 1:
            raise ValueError("pass at most one of snapshot_id, tag, as_of_ms")
        if tag is not None:
            snapshot_id = self.log.resolve_tag(tag)
        if as_of_ms is not None:
            snapshot_id = self.log.snapshot_as_of(as_of_ms)
        schema = self.schema_def(snapshot_id)
        snap = self.log.get(snapshot_id) if snapshot_id else self.log.current()
        entries: list[dict] = []
        if snap is not None:
            for rec in mf.read_manifest_list(self.path, snap.manifest):
                if sources is not None and rec["partition"] not in sources:
                    continue
                if n_tok_min is not None and rec["max_n_tok"] < n_tok_min:
                    continue
                if n_tok_max is not None and rec["min_n_tok"] > n_tok_max:
                    continue
                entries.extend(mf.read_shard(self.path, rec))
        if sources is not None:
            entries = [e for e in entries if e["partition"] in sources]
        if n_tok_min is not None:
            entries = [e for e in entries if e["max_n_tok"] >= n_tok_min]
        if n_tok_max is not None:
            entries = [e for e in entries if e["min_n_tok"] <= n_tok_max]
        if not entries:
            return local_frame(self.spark, schema.ddl())
        df = read_touched(self, schema, entries)
        if n_tok_min is not None:
            df = df.filter(F.col("n_tok") >= n_tok_min)
        if n_tok_max is not None:
            df = df.filter(F.col("n_tok") <= n_tok_max)
        return df

    # ------------------------------------------- maintenance: compaction
    def compact(
        self,
        policy: CompactionPolicy | None = None,
        curve: str = "zorder",
        job_id: str | None = None,
        max_concurrent_units: int | None = None,
        sources: list[str] | None = None,
        curve_by_source: dict[str, str] | None = None,
    ) -> tuple[Snapshot | None, JobMetrics]:
        """Full compaction + Z-order cycle; resumable via ``job_id``.

        ``sources`` restricts the run to the named partitions (targeted
        maintenance: incremental compaction of changed partitions);
        None compacts every partition the planner flags.

        ``curve_by_source`` overrides the space-filling curve for the
        named partitions (everything else uses ``curve``), so a table
        with per-partition layout choices compacts in ONE cycle — one
        bounds plan, one stats pass per unit, ONE snapshot commit —
        instead of one full cycle per curve.

        Per-partition units run through the lineage checkpoint: a re-run
        with the same job_id skips finished partitions (their outputs are
        already staged into the data dirs) and commits ONE snapshot at
        the end. Crash anywhere → readers still see the old snapshot and
        the checkpoint stays for the resume; a run that returns
        (committed, or nothing to do) removes it.

        Units are submitted concurrently (``max_concurrent_units``
        driver threads): Spark's scheduler interleaves their stages, so
        small partitions fill task slots a big partition's tail leaves
        idle — without this, per-source sequencing caps utilization at
        each source's own partition count. Default (None) is
        scale-adaptive: max(4, defaultParallelism // 2), so a
        many-partition table on a wide cluster isn't throttled to 4
        in-flight units while most cores idle.
        """
        if max_concurrent_units is None:
            max_concurrent_units = max(4, self.spark.sparkContext.defaultParallelism // 2)
        policy = policy or CompactionPolicy()
        with job_record(self.path, "compact", job_id) as metrics:
            # a separate body so the checkpoint is cleared on every
            # return (a commit or a no-op) and never on a raise, which
            # leaves it for the resume
            out = self._compact_run(
                policy, curve, max_concurrent_units, metrics, sources, curve_by_source
            )
            JobCheckpoint(self.path, metrics.job).clear()
            return out

    def _compact_run(
        self,
        policy: CompactionPolicy,
        curve: str,
        max_concurrent_units: int,
        metrics: JobMetrics,
        sources: list[str] | None = None,
        curve_by_source: dict[str, str] | None = None,
    ) -> tuple[Snapshot | None, JobMetrics]:
        job_id = metrics.job
        cb = curve_by_source or {}
        head = self.log.current()
        records = mf.read_manifest_list(self.path, head.manifest)
        # a well-compacted partition's shard is never even opened
        # (O(touched) planning, not O(all files))
        want = set(sources) if sources is not None else None
        cand_records = [
            r
            for r in records
            if (want is None or r["partition"] in want) and partition_has_candidates(r, policy)
        ]
        shard_entries = {r["partition"]: mf.read_shard(self.path, r) for r in cand_records}
        entries = [e for es in shard_entries.values() for e in es]
        plans = plan_compaction(entries, policy)
        if not plans:
            return None, metrics

        ckpt = JobCheckpoint(self.path, job_id)
        done = ckpt.completed_units()
        removed: list[dict] = []
        pending: list[tuple[str, list[dict]]] = []
        fresh: list[dict] = []  # per-file stats, computed inside units
        for part, inputs in plans.items():
            removed.extend(inputs)
            metrics.files_in += len(inputs)
            metrics.bytes_in += sum(f["file_bytes"] for f in inputs)
            metrics.rows += sum(mf.live_rows(f) for f in inputs)
            metrics.tokens += sum(mf.live_tokens(f) for f in inputs)
            metrics.partitions += 1
            # reuse a finished unit only if it rewrote exactly the inputs
            # planned against THIS head, DVs included: a commit since the
            # crash (e.g. a DELETE) changes them, and stale outputs would
            # resurrect the rows it removed. A re-run overwrites the stale
            # outputs under the same deterministic names.
            if part in done and {tuple(f) for f in done[part]["input_files"]} == set(
                file_ids(inputs)
            ):
                fresh.extend(done[part]["output_stats"])
            else:
                pending.append((part, inputs))

        schema = self.schema_def()
        unit_bounds: dict[str, list[int]] = {}
        if pending:
            unit_bounds = plan_unit_bounds(
                {part: inputs for part, inputs in pending},
                {
                    part: output_file_count(sum(f["file_bytes"] for f in inputs), policy)
                    for part, inputs in pending
                },
                curve=curve,
                curve_by_source=cb,
            )

        def _run_unit(unit_table: TokenLakeTable, part: str, inputs: list[dict]) -> list[dict]:
            in_paths = file_ids(inputs)
            t0 = time.time()
            ckpt.intent(part, in_paths)
            # stats come back from the SAME job that writes the files
            # (the fused writer): one job per unit instead of write + a
            # column-pruned re-read of the output — fewer stage
            # boundaries (the serial tail costs 4x in N->4N scaling) and
            # ~GB-scale less read I/O per cycle
            out, stats = compact_partition(
                unit_table,
                schema,
                part,
                inputs,
                job_id,
                bounds=unit_bounds[part],
                curve=cb.get(part, curve),
            )
            ckpt.done(
                part,
                in_paths,
                out,
                rows=sum(mf.live_rows(f) for f in inputs),
                tokens=sum(mf.live_tokens(f) for f in inputs),
                duration_s=time.time() - t0,
                output_stats=stats,
            )
            return stats

        if pending:
            import warnings
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            workers = max(1, min(max_concurrent_units, len(pending)))
            # biggest partitions first: small ones backfill the tail.
            # (A single globally-routed job for ALL units — one map
            # stage, one shuffle, one write stage — was built and
            # interleaved-A/B'd in round 6: it trades the per-unit job
            # boundaries for a global shuffle BARRIER, which loses the
            # map/write pipelining across units. Measured min-of-K:
            # ~7% faster at local[4]/800k but ~10% SLOWER at
            # local[16]/3.2M and neutral at local[1]; at 10^4-partition
            # scale the barrier and the CASE-per-source routing plan
            # only get worse, so the pipelined per-unit design stays.)
            pending.sort(key=lambda pu: -sum(f["file_bytes"] for f in pu[1]))
            # the units run on their own session: the confs below must
            # not reach a query the caller runs meanwhile. It starts from
            # the caller's runtime SQL conf (codec, batch size, ...).
            unit_spark = self.spark.newSession()
            caller_conf = self.spark.conf
            for k, v in caller_conf.getAll.items():
                if caller_conf.isModifiable(k):
                    unit_spark.conf.set(k, v)
            # size map partitions to the JOB, not the default: small-file
            # inputs coalesce under maxPartitionBytes, and the 128 MB
            # default can leave a big cluster mostly idle through the
            # whole map stage (e.g. 1 GB hot partition → 8 read tasks on
            # 16+ cores). Target ≈ 3 waves of map tasks per core.
            par = self.spark.sparkContext.defaultParallelism
            total_in = sum(f["file_bytes"] for _p, inputs in pending for f in inputs)
            sized = min(128 << 20, max(4 << 20, total_in // max(par * 3, 1)))
            unit_spark.conf.set("spark.sql.files.maxPartitionBytes", str(sized))
            # AQE's per-shuffle-stage materialization barrier buys
            # nothing here — bucket routing is explicit and the key is
            # near-unique (no skew to re-plan) — and costs 8-20% wall
            # (interleaved A/B, BENCH.md). Queries keep AQE.
            unit_spark.conf.set("spark.sql.adaptive.enabled", "false")
            unit_table = TokenLakeTable(unit_spark, self.path)
            # pool threads start without the caller's Spark local
            # properties (job group, description, scheduler pool): each
            # unit gets its own copy, captured here in the calling thread.
            # Session tags are not inherited (the wrapper warns), but the
            # units run on their own session, which never carried them.
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", UserWarning)
                runs = [
                    inheritable_thread_target(functools.partial(_run_unit, unit_table, *pu))
                    for pu in pending
                ]
            with ThreadPoolExecutor(max_workers=workers) as pool:
                for stats in pool.map(lambda run: run(), runs):
                    fresh.extend(stats)

        metrics.files_out = len(fresh)
        metrics.bytes_out = sum(e["file_bytes"] for e in fresh)
        # only PLANNED partitions get a new shard (kept files + fresh
        # outputs); every other shard is carried by reference
        snap = commit_rewrite(
            self,
            head,
            "compact",
            removed,
            fresh,
            {
                "job_id": job_id,
                "curve": curve,
                **({"curve_by_source": cb} if cb else {}),
            },
            shards=shard_entries,
        )
        metrics.snapshot_id = snap.snapshot_id
        return snap, metrics

    # ------------------------------------------- maintenance: row delete
    def delete_where(
        self,
        condition,
        job_id: str | None = None,
        sources: list[str] | None = None,
    ):
        """Predicate DELETE by deletion vectors: writes no data file
        (see lakehouse/delete.py)."""
        from hoopstat_haus_spark.lakehouse.delete import delete_where

        return delete_where(self, condition, job_id=job_id, sources=sources)

    # ------------------------------------------- maintenance: row update
    def update_where(
        self,
        condition,
        assignments: dict,
        job_id: str | None = None,
        sources: list[str] | None = None,
        curve: str = "zorder",
    ):
        """Predicate UPDATE SET: a deletion vector on the matched rows
        plus a write of only their new versions (see lakehouse/update.py)."""
        from hoopstat_haus_spark.lakehouse.update import update_where

        return update_where(
            self, condition, assignments, job_id=job_id, sources=sources, curve=curve
        )

    # ------------------------------------------------- change data feed
    def changes(self, from_snapshot_id: int, to_snapshot_id: int | None = None) -> DataFrame:
        """Row-level net changes between snapshots (lakehouse/changes.py)."""
        from hoopstat_haus_spark.lakehouse.changes import table_changes

        return table_changes(self, from_snapshot_id, to_snapshot_id)

    # -------------------------------------- incremental planning (M8)
    def changed_partitions_since(self, snapshot_id: int) -> dict[str, dict]:
        """Snapshot-diff: which partitions gained/lost rows since
        ``snapshot_id`` — the engine's incremental-discovery primitive
        (reference analog: lookback-window freshness checks,
        ``apps/gold-analytics/app/s3_discovery.py:240-314``). Downstream
        jobs re-derive ONLY these partitions instead of rescanning.

        A file kept on both sides whose deletion vector changed counts
        like ``changes.changed_files`` counts it: as removed when its DV
        grew (a DELETE adds and removes no file), as added when it
        shrank (a rollback past a delete); ``row_delta`` moves by the
        DV's row change, so a DV-only commit reports −Δ``dv_rows``.

        Shard-aware: a partition whose manifest shard is carried by
        reference between the two snapshots (same shard path) is skipped
        without reading it — the diff costs O(changed partitions)."""
        old_snap = self.log.get(snapshot_id)
        new_snap = self.log.current()
        out: dict[str, dict] = {}
        for part, old_entries, new_entries in mf.diff_partition_entries(
            self.path, old_snap.manifest, new_snap.manifest
        ):
            old_files = {e["file_path"]: e for e in old_entries}
            new_files = {e["file_path"]: e for e in new_entries}
            d = {"added_files": 0, "removed_files": 0, "row_delta": 0}
            for path, e in new_files.items():
                if path not in old_files:
                    d["added_files"] += 1
                    d["row_delta"] += mf.live_rows(e)
            for path, e in old_files.items():
                if path not in new_files:
                    d["removed_files"] += 1
                    d["row_delta"] -= mf.live_rows(e)
                elif new_files[path]["dv_rows"] != e["dv_rows"]:
                    grown = new_files[path]["dv_rows"] - e["dv_rows"]
                    d["removed_files" if grown > 0 else "added_files"] += 1
                    d["row_delta"] -= grown
            if d["added_files"] or d["removed_files"]:
                out[part] = d
        return out

    # ----------------------------------------------- rollback (restore)
    def rollback(self, snapshot_id: int | None = None, tag: str | None = None) -> Snapshot:
        """Restore the table's DATA state to an earlier snapshot as a NEW
        commit (Iceberg ``rollback_to_snapshot`` semantics): the target's
        manifest is carried by reference — zero data I/O, O(partitions)
        list-file metadata, one atomic pointer swap. History stays
        intact: the rolled-back-FROM state remains pinnable/taggable, and
        the change feed across the rollback emits exactly the inverse of
        the undone commits' row changes (it is an ordinary manifest
        file-diff). GC reachability follows from the snapshot record, so
        the restored files are protected for as long as the rollback
        snapshot (or any tag on it) is retained.

        Schema is NOT rolled back: evolution here is additive-with-
        defaults (schema.py), so HEAD reads of the restored files under
        the live schema fill evolved columns with their defaults — the
        same mixed-schema contract every scan already honors. The live
        schema version is stamped on the rollback snapshot.
        """
        if (snapshot_id is None) == (tag is None):
            raise ValueError("pass exactly one of snapshot_id, tag")
        if tag is not None:
            snapshot_id = self.log.resolve_tag(tag)
        head = self.log.current()
        if head is not None and snapshot_id == head.snapshot_id:
            raise ValueError(f"v{snapshot_id} is already HEAD")
        try:
            target = self.log.get(snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{snapshot_id} does not exist (expired or never committed)"
            ) from None
        summary = mf.summary_from_records(mf.read_manifest_list(self.path, target.manifest))
        return self.log.commit(
            target.manifest,
            "rollback",
            {
                **summary,
                "restored_snapshot_id": snapshot_id,
                "schema_version": self.schema_def().version,
            },
            expected_parent=head.snapshot_id if head else None,
        )

    # --------------------------------------------------- tags (named refs)
    def tag(self, name: str, snapshot_id: int | None = None, replace: bool = False) -> dict:
        """Pin a named ref to a snapshot (default HEAD); tagged snapshots
        survive ``expire_snapshots`` + GC until the tag is dropped."""
        return self.log.set_tag(name, snapshot_id=snapshot_id, replace=replace)

    def drop_tag(self, name: str) -> None:
        self.log.drop_tag(name)

    def tags(self) -> dict[str, int]:
        return self.log.tags()

    # ---------------------------------------------- maintenance: expiry
    def expire_snapshots(self, keep_last: int = 2, older_than_ms: int | None = None) -> list[int]:
        return self.log.expire(keep_last, older_than_ms=older_than_ms)

    def collect_garbage(self, min_age_s: float | None = None) -> dict:
        from hoopstat_haus_spark.lakehouse.gc import DEFAULT_MIN_AGE_S, collect_garbage

        return collect_garbage(
            self.path, min_age_s=DEFAULT_MIN_AGE_S if min_age_s is None else min_age_s
        )


def file_ids(entries: list[dict]) -> list[tuple[str, str | None]]:
    """The identity of the files a rewrite read: each data file with the
    deletion vector it was read under. Compaction's resume check and
    ``commit_rewrite``'s rebase check compare these pairs; the path
    alone misses a DV that a rival commit gave a file that had none."""
    return [(e["file_path"], e.get("dv_path")) for e in entries]


def commit_rewrite(
    table: TokenLakeTable,
    head: Snapshot | None,
    operation: str,
    removed: list[dict],
    added: list[dict],
    summary: dict,
    shards: dict[str, list[dict]] | None = None,
    stamp_key: str | None = None,
) -> Snapshot:
    """THE file-set commit: drop the ``removed`` manifest entries, add
    the ``added`` ones (with their per-file stats), write new shards
    ONLY for the touched partitions (those of removed ∪ added; every
    other shard is carried by reference), and commit the next snapshot
    on ``head`` (``None``: a new table, which must claim v1).

    A touched partition's base entries come from ``shards`` (the
    partition → entries map a planner already read) when present, else
    from ``head``'s manifest list — so no shard is read twice. The
    summary is the post-commit table aggregates, then the caller's
    op-specific keys, then the live ``schema_version``.

    A lost race (``ConcurrentCommitError`` from ``SnapshotLog.commit``)
    is retried here and nowhere else, up to ``COMMIT_ATTEMPTS`` attempts
    in all. A commit planned against no head never rebases. Otherwise
    the touched partitions' shards are re-read from the new head and
    the commit rebases onto it if (a) every removed entry's ``file_ids``
    pair is still live there — a rival that rewrote, dropped or gave a
    new DV to a file this commit read conflicts with it, since each DV
    holds its file's full deleted set — and (b) for delete, update and
    merge, no touched partition holds a file missing from the planned
    base, whose rows the op's predicate or keys never saw. A failed
    check raises ``ConcurrentCommitError``. With ``stamp_key``, a
    snapshot committed after the lost attempt's head and stamped with
    ``summary[stamp_key]`` is this commit made by a rival, and is
    returned instead (WAP's exactly-once publish)."""
    dropped = {e["file_path"] for e in removed}
    parts = {e["partition"] for e in removed} | {e["partition"] for e in added}
    base = dict(shards or {})
    missing = parts - set(base)
    if missing and head is not None:
        for rec in mf.read_manifest_list(table.path, head.manifest):
            if rec["partition"] in missing:
                base[rec["partition"]] = mf.read_shard(table.path, rec)
    planned = {e["file_path"] for p in parts for e in base.get(p, [])}
    attempt = 1
    while True:
        changed = {p: [e for e in base.get(p, []) if e["file_path"] not in dropped] for p in parts}
        for e in added:
            changed[e["partition"]].append(e)
        rel, records = mf.update_manifest(table.path, head.manifest if head else None, changed)
        try:
            return table.log.commit(
                rel,
                operation,
                {
                    **mf.summary_from_records(records),
                    **summary,
                    "schema_version": table.schema_def().version,
                },
                expected_parent=head.snapshot_id if head else 0,
            )
        except ConcurrentCommitError:
            if head is None or attempt == COMMIT_ATTEMPTS:
                raise
        attempt += 1
        lost = head.snapshot_id
        head = table.log.current()
        if stamp_key is not None:
            rival = table.log.stamped(stamp_key, summary[stamp_key], after=lost)
            if rival is not None:
                return rival
        base = {
            rec["partition"]: mf.read_shard(table.path, rec)
            for rec in mf.read_manifest_list(table.path, head.manifest)
            if rec["partition"] in parts
        }
        live = [e for es in base.values() for e in es]
        gone = set(file_ids(removed)) - set(file_ids(live))
        new = set()
        if operation in ("delete", "update", "merge"):
            new = {e["file_path"] for e in live} - planned
        if gone or new:
            raise ConcurrentCommitError(
                f"{operation} planned against v{lost} cannot rebase onto v{head.snapshot_id}: "
                f"{len(gone)} input file(s) rewritten or given a new DV, "
                f"{len(new)} file(s) added to its partitions"
            )


# position columns of a ``read_touched(..., with_pos=True)`` frame: with
# ``source`` they key a row to its (partition, data file, row_index)
POS_FILE = "_pos_file"
POS_ROW = "_pos_row"
_POS_KEYS = ["source", POS_FILE, POS_ROW]
_POS_HIT = "_pos_hit"
# the same keys as one SQL string: the file name holds no "/" and the
# row is digits, so the key is unambiguous whatever the partition value
_FILE_KEY = f"concat_ws('/', source, {POS_FILE})"
_ROW_KEY = f"concat_ws('/', source, {POS_FILE}, cast({POS_ROW} as string))"


def local_frame(spark: SparkSession, ddl: str, columns=()) -> DataFrame:
    """A driver-held frame: ``columns`` (one sequence per ``ddl`` field;
    empty for no rows) as ONE Arrow-backed local relation. Its plan is a
    ``LocalTableScan``, so no action over it runs a Python-worker task —
    ``createDataFrame`` over a Python list plans a Python RDD instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(struct)
    columns = columns or [[]] * len(arrow)
    arrays = [pa.array(c, f.type) for c, f in zip(columns, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema=struct)


def _file_of(entry: dict) -> tuple[str, str]:
    """(partition, file name): a data file as the position keys name it."""
    return entry["partition"], os.path.basename(entry["file_path"])


def _is_in(key_sql: str, keys) -> Column:
    """``key_sql IN (keys)`` built in ONE JVM call. Spark turns a long
    IN list into a hash set, and string literals are bound as
    references, not inlined into generated code, so a new key set
    compiles no new code."""
    lits = ",".join("'" + k.replace("\\", "\\\\").replace("'", "\\'") + "'" for k in keys)
    return F.expr(f"{key_sql} IN ({lits})")


def read_touched(
    table: TokenLakeTable,
    schema: TableSchema,
    entries: list[dict],
    with_pos: bool = False,
) -> DataFrame:
    """THE reader of table data files: the rows of exactly the listed
    manifest entries under ``schema`` (explicit read schema, so a file
    older than an evolved column reads it as NULL and then its default;
    ``_zkey`` dropped). ``with_pos`` adds the
    ``POS_FILE``/``POS_ROW`` columns the DML find passes collect.

    Every entry is read through ONE parquet relation per
    ``SCAN_PATHS_CHUNK`` paths (unioned beyond that). A file with a
    deletion vector drops its DV's positions; an entry carrying
    ``pick_rows`` (the change feed's DV delta) keeps exactly those
    positions. Positions are keyed on (source, ``_metadata.file_name``,
    ``_metadata.row_index``) and applied in the relation's own stage:
    up to ``DV_PREDICATE_MAX`` selected positions by one IN predicate
    per chunk (≈ the key's bytes in the plan, ~40 per position), above
    it by a broadcast outer join against one Arrow-backed local relation
    (~30 driver bytes per position, collected by one single-task job).
    A read with no DV and no pick adds neither and reads no
    ``_metadata``."""
    ddl = schema.ddl(extra=((mf.ZKEY_COL, "long"),))
    # (partition, file name) → positions: a picked file keeps them, a
    # DV'd file drops them
    marks: dict[tuple[str, str], object] = {}
    picked: set[tuple[str, str]] = set()
    for e in entries:
        key = _file_of(e)
        if "pick_rows" in e:
            marks[key] = e["pick_rows"]
            picked.add(key)
        elif e.get("dv_rows"):
            marks[key] = mf.read_dv(table.path, e)
    by_join = sum(len(rows) for rows in marks.values()) > DV_PREDICATE_MAX

    def keep(hit: Column, keys) -> Column:
        """Rows to keep, given ``hit`` (the row's position is marked)
        over files ``keys``: unmarked and DV'd files keep the rows not
        hit, picked files the rows hit."""
        picks = [f"{p}/{n}" for p, n in keys if (p, n) in picked]
        return F.when(_is_in(_FILE_KEY, picks), hit).otherwise(~hit) if picks else ~hit

    df = None
    for i in range(0, len(entries), SCAN_PATHS_CHUNK):
        chunk = entries[i : i + SCAN_PATHS_CHUNK]
        part = (
            table.spark.read.option("basePath", table.data_dir)
            .schema(ddl)
            .parquet(*[os.path.join(table.path, e["file_path"]) for e in chunk])
        )
        if with_pos or marks:
            # _metadata does not pass through unionByName: select it per chunk
            part = part.select(
                "*",
                F.col("_metadata.file_name").alias(POS_FILE),
                F.col("_metadata.row_index").alias(POS_ROW),
            )
        keys = [_file_of(e) for e in chunk if _file_of(e) in marks]
        if keys and not by_join:
            hit = _is_in(_ROW_KEY, (f"{p}/{n}/{r}" for p, n in keys for r in marks[(p, n)]))
            part = part.filter(keep(hit, keys))
        df = part if df is None else df.unionByName(part)
    if df is None:
        return local_frame(table.spark, schema.ddl())
    if by_join:
        counts = [len(rows) for rows in marks.values()]
        hits = local_frame(
            table.spark,
            f"source string, {POS_FILE} string, {POS_ROW} long, {_POS_HIT} boolean",
            [
                np.repeat(np.array([p for p, _f in marks], dtype=object), counts),
                np.repeat(np.array([f for _p, f in marks], dtype=object), counts),
                np.concatenate([np.asarray(rows, np.int64) for rows in marks.values()]),
                np.ones(sum(counts), dtype=bool),
            ],
        )
        df = df.join(F.broadcast(hits), _POS_KEYS, "left_outer")
        df = df.filter(keep(F.col(_POS_HIT).isNotNull(), marks))
    cols = schema.names()
    if with_pos:
        cols += [POS_FILE, POS_ROW]
    # the join puts its keys first: restore the schema's column order
    return schema.apply_defaults(df.select(*cols))
