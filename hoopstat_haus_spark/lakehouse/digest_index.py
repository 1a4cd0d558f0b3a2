"""Persisted content-digest index: a materialized (doc_id, source, sig)
projection of the table, refreshed from the change feed in O(changed
partitions) — the at-scale answer to content-identity dedupe.

Why it exists: ``streaming/ingest.py``'s ``dedupe='content'`` must ask
"does this token payload already exist ANYWHERE in the corpus?" — a
question whose naive form reads every token array in the table per
micro-batch. The index replaces that with a skinny scan: ~60 bytes/row
(two short strings + an md5 hex) instead of the full payload, a ~300×
I/O reduction at the 100 TB target, and it never recomputes a digest
for an unchanged row.

Reference ancestor: the gold layer's "re-derive only changed dates"
discovery loop (``apps/gold-analytics/app/s3_discovery.py``) — here
upgraded to row-granular maintenance off the net change feed
(:func:`~hoopstat_haus_spark.lakehouse.changes.table_changes`), the
same substrate :mod:`incremental` uses for scalar rollups. The index is
the per-ROW analog: too big for JSON state, so its state is parquet,
partitioned by source and committed by atomically replacing one small
state file (``snapshots.write_atomic``).

Layout (all under ``<table>/_digest_index/<name>/``):

- ``state.json`` — ``{"snapshot_id": N, "parts": {source: reldir}}``,
  replaced atomically (``snapshots.write_atomic``; a crashed refresh
  leaves the old state valid). ``<name>`` must pass
  ``snapshots.check_name``.
- ``build-*/`` / ``refresh-*/`` — immutable parquet dirs holding
  ``_part=<source>/`` subdirs (Spark ``partitionBy``; the data files
  ALSO carry ``source`` as a real column, so readers never parse dir
  names). A refresh writes new subdirs only for CHANGED sources and
  carries the rest by pointer — the manifest-list trick at index scale.
- Unreferenced top-level dirs are swept opportunistically after a
  successful state swap, but only once OLDER than ``SWEEP_MIN_AGE_S``
  — the GC min-age discipline: a racing refresher's just-written dirs
  and a reader still planning over the previous state are never deleted
  underneath them; true orphans (crashes, lost-update races) age out on
  a later refresh.

Refresh algebra (net feed, so compaction emits nothing and the index
is untouched by pure rewrites): for the changed sources only,
``new = old ⟕anti (update ∪ delete keys) ∪ sig(insert ∪ update rows)``.
The removed-key side is O(changed rows) and broadcasts; the old index
partition is skinny. If the state's snapshot has been expired from the
log, refresh falls back to a full rebuild (documented cost: one
column-pruned corpus scan — the same price as first build).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import snapshots
from hoopstat_haus_spark.lakehouse.changes import CHANGE_COL, table_changes
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable, local_frame
from hoopstat_haus_spark.tables.token_table import token_sig

_PART_COL = "_part"


class DigestIndex:
    """A named, persisted, incrementally-maintained content-sig index."""

    def __init__(self, table: TokenLakeTable, name: str = "content_sigs"):
        # a path component under _digest_index/, and the sweep rmtrees
        # inside self.root: "." / ".." would aim it at the table root
        snapshots.check_name(name, "index name")
        self.table = table
        self.root = os.path.join(table.path, "_digest_index", name)

    # -- state ------------------------------------------------------------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    def state(self) -> dict | None:
        try:
            with open(self._state_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_state(self, snapshot_id: int, parts: dict[str, str]) -> dict:
        state = {"snapshot_id": snapshot_id, "parts": parts}
        os.makedirs(self.root, exist_ok=True)
        snapshots.write_atomic(self._state_path, json.dumps(state, indent=1, sort_keys=True))
        self._sweep_orphans(parts)
        return state

    #: orphan data dirs younger than this survive the sweep — the same
    #: min-age discipline GC applies to data files: a racing refresher's
    #: just-written dirs (not yet in OUR parts) and a long-running
    #: reader's plan over the previous state must not be deleted under
    #: them. Dirs a lost-update race truly orphaned age out next refresh.
    SWEEP_MIN_AGE_S = 3600.0

    def _sweep_orphans(self, parts: dict[str, str]) -> None:
        import time

        live_tops = {rel.split(os.sep, 1)[0] for rel in parts.values()}
        now = time.time()
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if not os.path.isdir(full) or d in live_tops:
                continue
            try:
                if now - os.path.getmtime(full) < self.SWEEP_MIN_AGE_S:
                    continue
            except OSError:
                continue  # vanished mid-walk → someone else is sweeping
            shutil.rmtree(full, ignore_errors=True)

    # target index rows per write task (~120 MB at ~60 B/row) — sizing
    # by source COUNT alone would funnel a 10^9-row source into one task
    ROWS_PER_TASK = 2_000_000

    def _plan_write(self, sources: list[str] | None, head: int) -> tuple[int, int]:
        """(task count, per-source salt fan-out) from the manifest
        list's per-partition row counts — metadata only, no scan.
        Hash-partitioning on the source column alone can NEVER split one
        source across tasks, so a doc-hash salt with ``spread`` values
        rides along: the largest source splits into ~spread tasks/files
        of ~ROWS_PER_TASK rows each."""
        parts_df = self.table.partitions(snapshot_id=head)
        rows = {r["partition"]: r["rows"] for r in parts_df.collect()}
        if sources is not None:
            rows = {s: n for s, n in rows.items() if s in sources}
        total = sum(rows.values())
        biggest = max(rows.values(), default=0)
        n_tasks = max(len(rows), -(-total // self.ROWS_PER_TASK), 1)
        spread = max(1, -(-biggest // self.ROWS_PER_TASK))
        return n_tasks, spread

    # -- writes -------------------------------------------------------------
    def _write_partitions(
        self, df: DataFrame, kind: str, plan: tuple[int, int]
    ) -> dict[str, str]:
        """Write (doc_id, source, sig) rows into ``<kind>-<uuid>/_part=…``
        dirs and return {source: reldir}. ``source`` stays a DATA column
        (the ``_part`` copy is what partitionBy consumes), so mapping dir
        names back to values only needs Spark's own escaping, and readers
        never need it at all. ``plan`` = (task count, per-source salt
        fan-out from :meth:`_plan_write`)."""
        n_groups, spread = plan
        top = f"{kind}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, top)
        salt = F.pmod(F.xxhash64("doc_id"), F.lit(spread))
        (
            df.withColumn(_PART_COL, F.col("source"))
            .withColumn("_salt", salt)
            .repartition(max(1, n_groups), _PART_COL, "_salt")
            .drop("_salt")
            .write.partitionBy(_PART_COL)
            .parquet(out)
        )
        from urllib.parse import unquote

        parts: dict[str, str] = {}
        for d in os.listdir(out):
            if d.startswith(f"{_PART_COL}="):
                parts[unquote(d[len(_PART_COL) + 1 :])] = os.path.join(top, d)
        return parts

    def _index_frame(self, df: DataFrame) -> DataFrame:
        return df.select("doc_id", "source", token_sig(F.col("tokens")).alias("sig"))

    # -- maintenance --------------------------------------------------------
    def refresh(self) -> dict:
        """Bring the index to the table HEAD. First call (or a state
        whose snapshot has been expired) materializes from a full
        column-pruned scan; otherwise only the change feed's sources are
        rewritten. Returns the new state."""
        head = self.table.log.current_id()
        st = self.state()
        if st is not None and st["snapshot_id"] == head:
            return st
        if st is not None:
            try:
                self.table.log.get(st["snapshot_id"])
            except FileNotFoundError:
                st = None  # expired base: rebuild
        if st is None:
            parts = self._write_partitions(
                self._index_frame(self.table.scan(snapshot_id=head)),
                "build",
                self._plan_write(None, head),
            )
            return self._write_state(head, parts)

        # hash the changed rows' payloads ONCE: the feed feeds three
        # consumers (changed-source collect, the add side, the remove
        # keys), so materialize it as a skinny (key, sig, kind) frame —
        # token arrays are dropped before the checkpoint, and the diff
        # join never re-executes
        ch = table_changes(self.table, st["snapshot_id"], head)
        delta = ch.select(
            "doc_id",
            "source",
            token_sig(F.col("tokens")).alias("sig"),
            F.col(CHANGE_COL).alias("_ch"),
        ).localCheckpoint()
        changed = [r["source"] for r in delta.select("source").distinct().collect()]
        if not changed:
            return self._write_state(head, dict(st["parts"]))
        adds = delta.filter(F.col("_ch") != "delete").select("doc_id", "source", "sig")
        gone = delta.filter(F.col("_ch") != "insert").select("doc_id", "source")
        old = self.to_df(sources=[s for s in changed if s in st["parts"]])
        new = old.join(F.broadcast(gone), ["doc_id", "source"], "left_anti").unionByName(adds)
        fresh = self._write_partitions(new, "refresh", self._plan_write(changed, head))
        parts = {s: p for s, p in st["parts"].items() if s not in changed}
        parts.update(fresh)  # changed sources that ended empty stay absent
        return self._write_state(head, parts)

    # -- reads ----------------------------------------------------------------
    def to_df(self, sources: list[str] | None = None) -> DataFrame:
        """The index as a DataFrame (doc_id, source, sig). ``sources``
        prunes at the directory level — no other partition's files are
        ever listed or opened."""
        st = self.state()
        if st is None:
            raise ValueError("digest index never refreshed")
        parts = st["parts"]
        if sources is not None:
            parts = {s: p for s, p in parts.items() if s in sources}
        dirs = [os.path.join(self.root, rel) for rel in sorted(parts.values())]
        if not dirs:
            return local_frame(self.table.spark, "doc_id string, source string, sig string")
        return self.table.spark.read.parquet(*dirs).select("doc_id", "source", "sig")
