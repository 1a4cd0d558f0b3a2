"""UPDATE SET ... WHERE: predicate update by deletion vector + new rows.

Completes the row-level DML trio (MERGE ``merge.py``, DELETE
``delete.py``, UPDATE here) with Iceberg ``UPDATE`` semantics: rows
where the predicate is TRUE get the assignment expressions applied;
NULL/FALSE rows stay in place, untouched. Reference ancestor:
the replay engine's fix-and-rewrite path
(``apps/bronze-ingestion/app/replay.py:425-458``), which patches known
rows inside the one object holding them — generalized to arbitrary
predicates and expressions.

Shares DELETE's design (see delete.py's module docstring) and its code:
pass 1 is ``find_touched_files``, a column-pruned find through the
DV-aware reader that never reads the token payload and collects one
row per touched FILE; pass 2 reads only the touched files' MATCHED rows,
applies the assignments (the projection built here) and writes just
those new versions through the fused writer (``write_new_rows``); the
commit (``commit_dvs``) puts a deletion vector on the matched positions
of every touched file. No existing data file is rewritten, and every
untouched file is carried into the new manifest by reference, so
manifest I/O stays O(touched partitions).

Invariants enforced here:

- ``doc_id`` and ``source`` cannot be assigned (identity + partition
  columns; a partition move is a delete+insert, use ``merge_into``).
- if ``tokens`` is assigned and ``n_tok`` is not, ``n_tok`` is
  recounted as ``size(tokens)`` so the table's n_tok↔tokens invariant
  cannot drift (the quarantine validator would reject such rows on
  ingest; UPDATE must not create them post-ingest).

An update that matches nothing commits nothing (returns ``(None,
metrics)``); its ``_metrics`` record still reads success.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse.delete import (
    avg_row_bytes,
    commit_dvs,
    find_touched_files,
    write_new_rows,
)
from hoopstat_haus_spark.lakehouse.health import JobMetrics, job_record
from hoopstat_haus_spark.lakehouse.snapshots import Snapshot

from hoopstat_haus_spark.lakehouse.table import TokenLakeTable, read_touched

# UPDATE commits inside delete.commit_dvs; commit_rewrite stays a
# module attribute here because maintbench/tracer.py wraps it by name
# in both DML modules
from hoopstat_haus_spark.lakehouse.table import commit_rewrite  # noqa: F401

_PROTECTED = ("doc_id", "source")


def update_where(
    table: TokenLakeTable,
    condition: Column | str,
    assignments: dict[str, Column | str],
    job_id: str | None = None,
    sources: list[str] | None = None,
    curve: str = "zorder",
) -> tuple[Snapshot | None, JobMetrics]:
    """Apply ``assignments`` to rows where ``condition`` is TRUE.

    ``assignments`` maps column name → Column or SQL expression string
    evaluated over the OLD row (standard UPDATE semantics: all
    right-hand sides see pre-update values, so ``{"a": "b", "b": "a"}``
    swaps). ``curve`` names the space-filling curve the new row versions
    are keyed with. Returns ``(snapshot, metrics)``; snapshot is None
    when the predicate matched nothing.
    """
    with job_record(table.path, "update", job_id) as metrics:
        pred = F.expr(condition) if isinstance(condition, str) else condition
        schema = table.schema_def()
        names = schema.names()

        bad = [c for c in assignments if c in _PROTECTED]
        if bad:
            raise ValueError(
                f"cannot assign identity/partition column(s) {bad}; "
                "a partition or key move is a delete+insert (use merge_into)"
            )
        unknown = [c for c in assignments if c not in names]
        if unknown:
            raise ValueError(f"unknown column(s) {unknown}; table schema is {names}")
        assigns = {
            c: (F.expr(v) if isinstance(v, str) else v) for c, v in assignments.items()
        }
        auto_ntok = "tokens" in assigns and "n_tok" not in assigns and "n_tok" in names

        # ---- pass 1: find touched files (shared with DELETE) -----------
        head, matched_rows, cand, shard_entries = find_touched_files(table, pred, sources, metrics)
        if not cand:
            return None, metrics

        # ---- pass 2: new versions of exactly the matched rows ----------
        # the touched files read under their OLD DVs: pred matches exactly
        # the rows pass 1 found
        matched = read_touched(table, schema, cand).filter(pred)
        # Two-step projection so every RHS sees OLD values (standard
        # UPDATE swap semantics). A single select that re-aliases `tokens`
        # would let Spark 4's lateral column aliasing bind a later RHS's
        # `tokens` reference to the NEW value; staging the new values
        # under reserved `__new_*` names keeps all RHS references on the
        # input attributes. Catalyst collapses the pair back into one
        # Project.
        staged = matched.select("*", *[assigns[c].alias(f"__new_{c}") for c in assigns])

        # auto-recounted n_tok reads size(__new_tokens), NOT a copy of the
        # tokens expression: the double reference to a non-cheap staged
        # column blocks CollapseProject from re-inlining it
        # (plan-verified), so the assignment expression evaluates ONCE per
        # matched row — duplicating it would double the write's dominant
        # per-row cost.
        def _out(c: str) -> Column:
            if c == "n_tok" and auto_ntok:
                return F.size(F.col("__new_tokens"))
            return F.col(f"__new_{c}") if c in assigns else F.col(c)

        # conform assignment results to the DECLARED column types
        # (store-assignment cast, like Iceberg UPDATE): SQL `n_tok/2` is a
        # double, and writing it as-is would commit parquet files the
        # explicit-schema scan path can no longer read (INT32 expected,
        # DOUBLE found)
        new_rows = schema.conform(staged.select(*[_out(c).alias(c) for c in names]))
        fresh = write_new_rows(
            table, new_rows, matched_rows, avg_row_bytes(cand), f"update-{metrics.job}", curve
        )
        summary = {
            "job_id": metrics.job,
            "matched_rows": matched_rows,
            "assigned_columns": sorted(set(assigns) | ({"n_tok"} if auto_ntok else set())),
        }
        snap = commit_dvs(table, "update", head, cand, shard_entries, fresh, summary, metrics)
        return snap, metrics
