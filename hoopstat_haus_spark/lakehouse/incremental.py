"""Incremental view maintenance: a materialized rollup refreshed from
the change feed in O(changed rows), never O(table).

Reference ancestor: the gold layer re-derives per-entity aggregates for
changed dates only (``apps/gold-analytics/app/s3_discovery.py`` lookback
+ per-date rebuild). The engine upgrades date-granular rebuild to
ROW-granular algebra: because the tracked aggregates (count / sum /
sum-of-token-checksums) are abelian-group measures, a preimage-carrying
change feed (``table_changes(..., preimage=True)``) is enough to move
the view forward — subtract ``delete``/``update_pre`` rows, add
``insert``/``update_post`` rows. No rescan, no join against the table.

State is a tiny JSON at ``<table>/_views/<name>.json`` (O(sources) rows
+ the snapshot id it is valid for), replaced atomically
(``snapshots.write_atomic``); ``<name>`` must pass
``snapshots.check_name``. A crashed refresh leaves the old state
intact; re-runs are idempotent because the stored snapshot id only
advances on a successful write. Refresh cost = one Spark aggregate over
the changed files' rows — at 100 TB a 1-partition MERGE refreshes the
corpus-wide rollup in seconds while a full recompute would rescan
everything.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import snapshots
from hoopstat_haus_spark.lakehouse.changes import CHANGE_COL, table_changes
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable, local_frame

_MEASURES = ("n_docs", "sum_n_tok", "sum_tok_checksum")


def _rollup(df: DataFrame, sign=None) -> DataFrame:
    """The maintained view: per-source n_docs / sum_n_tok / token
    checksum (the same shape the maintenance gates pin). ``sign`` turns
    it into a DELTA aggregate over a preimage change feed."""
    chk = F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
    s = sign if sign is not None else F.lit(1).cast("long")
    return df.groupBy("source").agg(
        F.sum(s).cast("long").alias("n_docs"),
        F.sum(s * F.col("n_tok")).cast("long").alias("sum_n_tok"),
        F.sum(s * chk).cast("long").alias("sum_tok_checksum"),
    )


class IncrementalRollup:
    """A named materialized per-source rollup over a TokenLakeTable."""

    def __init__(self, table: TokenLakeTable, name: str = "source_rollup"):
        snapshots.check_name(name, "view name")  # a path component under _views/
        self.table = table
        self.path = os.path.join(table.path, "_views", f"{name}.json")

    # -- state ----------------------------------------------------------
    def state(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_state(self, snapshot_id: int, rows: dict) -> dict:
        state = {"snapshot_id": snapshot_id, "rows": rows}
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        snapshots.write_atomic(self.path, json.dumps(state, indent=1, sort_keys=True))
        return state

    # -- maintenance ------------------------------------------------------
    def refresh(self) -> dict:
        """Bring the view up to the table HEAD. First call materializes
        from a full scan; every later call applies only the change feed
        since the view's snapshot. A state whose base snapshot has been
        EXPIRED from the log (no change feed can start there) falls back
        to a full rebuild instead of wedging every future refresh.
        Returns the new state."""
        head = self.table.log.current_id()
        st = self.state()
        if st is not None and st["snapshot_id"] != head:
            try:
                self.table.log.get(st["snapshot_id"])
            except FileNotFoundError:
                st = None  # expired base: rebuild
        if st is None:
            rows = {
                r["source"]: [int(r[m]) for m in _MEASURES]
                for r in _rollup(self.table.scan(snapshot_id=head)).collect()
            }
            return self._write_state(head, rows)
        if st["snapshot_id"] == head:
            return st
        ch = table_changes(self.table, st["snapshot_id"], head, preimage=True)
        sign = (
            F.when(F.col(CHANGE_COL).isin("insert", "update_post"), F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
        )
        rows = dict(st["rows"])
        for r in _rollup(ch, sign=sign).collect():
            cur = rows.get(r["source"], [0, 0, 0])
            nxt = [int(cur[i]) + int(r[m]) for i, m in enumerate(_MEASURES)]
            if nxt[0] == 0:
                rows.pop(r["source"], None)  # source fully deleted
            else:
                rows[r["source"]] = nxt
        return self._write_state(head, rows)

    # -- reads ------------------------------------------------------------
    def to_df(self) -> DataFrame:
        st = self.state()
        if st is None:
            raise ValueError("view never refreshed")
        data = [(s, *vals) for s, vals in sorted(st["rows"].items())]
        return local_frame(
            self.table.spark,
            "source string, n_docs long, sum_n_tok long, sum_tok_checksum long",
            list(zip(*data)),
        )
