"""Quarantine + replay: invalid-row isolation and fixed-up reingestion.

Reference: the bronze quarantine store with error classification
(``apps/bronze-ingestion/app/quarantine.py:20-372``) and the replay
engine with Identity / RoundingTolerance transforms and a
quarantined→replaying→resolved state machine
(``apps/bronze-ingestion/app/replay.py:100-660``). The engine's version
is set-based instead of per-object:

- :func:`validate_batch` splits an incoming batch into (valid,
  quarantined) with a per-row ``_error_class`` — one pass, native
  predicates, no Python.
- :func:`quarantine_batch` writes rejects to a ``_quarantine/`` sidecar
  (parquet, partitioned by error class) — the reject-file pattern.
- :func:`replay` applies a fix transform to selected quarantined rows,
  re-validates, MERGEs the now-valid rows into the table, and rewrites
  the sidecar without them (resolved). Rows whose fix still fails stay
  quarantined (failed) — same terminal states as the reference.

The live sidecar is named by the ``_quarantine_ptr`` file, which replay
replaces atomically (``snapshots.write_atomic``) to publish a new one.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import snapshots
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.table import TokenLakeTable, local_frame
from hoopstat_haus_spark.tables.token_table import token_sig

VOCAB_SIZE = 50257

ERROR_NONE = "ok"
ERROR_LENGTH = "length_mismatch"  # n_tok != size(tokens)
ERROR_VOCAB = "token_out_of_vocab"
ERROR_EMPTY = "empty_sequence"
ERROR_NULL_KEY = "null_key"


def classify(df: DataFrame) -> DataFrame:
    """Attach ``_error_class`` (first failing rule wins, reference-style
    priority: structural > content)."""
    # t.isNull() first: exists() under three-valued logic returns NULL
    # (not true) when no element matches but one is NULL, so a bare
    # range check would classify [1, NULL, 2] as ok — and token_sig's
    # join silently skips NULLs, breaking token-array equality parity
    bad_vocab = F.exists("tokens", lambda t: t.isNull() | (t < 0) | (t >= VOCAB_SIZE))
    return df.withColumn(
        "_error_class",
        F.when(F.col("doc_id").isNull() | F.col("source").isNull(), ERROR_NULL_KEY)
        .when(F.col("tokens").isNull() | (F.size("tokens") == 0), ERROR_EMPTY)
        .when(F.size("tokens") != F.col("n_tok"), ERROR_LENGTH)
        .when(bad_vocab, ERROR_VOCAB)
        .otherwise(ERROR_NONE),
    )


def validate_batch(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    c = classify(df)
    return (
        c.filter(F.col("_error_class") == ERROR_NONE).drop("_error_class"),
        c.filter(F.col("_error_class") != ERROR_NONE),
    )


def _ptr_path(table: TokenLakeTable) -> str:
    return os.path.join(table.path, "_quarantine_ptr")


def quarantine_dir(table: TokenLakeTable) -> str:
    """Resolve the LIVE sidecar dir through the pointer file (snapshot-log
    style). No pointer → the default dir. Replay swaps the pointer with
    one atomic replace, so a crash at any instant leaves a valid live
    sidecar — the old two-rename swap had a window (after `qd -> old`,
    before `tmp -> qd`) where no sidecar existed and every quarantined
    row silently vanished from reads."""
    ptr = _ptr_path(table)
    if os.path.exists(ptr):
        with open(ptr) as f:
            return os.path.join(table.path, f.read().strip())
    return os.path.join(table.path, "_quarantine")


def quarantine_batch(table: TokenLakeTable, rejected: DataFrame) -> None:
    """Append rejects to the live sidecar, RACE-SAFE against a concurrent
    :func:`replay`: the append resolves the pointer, writes, then
    re-reads the pointer — if a replay swapped the sidecar mid-write,
    the rows just landed in a dir that will never be read again, so the
    append retries into the new live dir. Rows stranded in the old dir
    are orphans (replay defers its destruction to GC's min-age sweep,
    so a mid-write dir is never rmtree'd under the writer). The only
    loss window left is a crash between write and recheck — the same
    exposure as crashing mid-write, which the streaming sidecar leg
    already replays idempotently."""
    for _ in range(5):
        target = quarantine_dir(table)
        rejected.write.mode("append").partitionBy("_error_class").parquet(target)
        if quarantine_dir(table) == target:
            return
    raise RuntimeError("quarantine_batch: sidecar pointer kept moving (5 replays mid-append?)")


_QUARANTINE_DDL = "doc_id string, tokens array<int>, n_tok int, source string, _error_class string"


def read_quarantine(table: TokenLakeTable) -> DataFrame:
    qd = quarantine_dir(table)
    # a fully-resolved sidecar is a dir with no parquet files (replay
    # rewrites it from an empty frame) — schema inference would throw,
    # so both the missing and the drained cases read as typed-empty
    if not os.path.isdir(qd) or not any(
        f.endswith(".parquet") for _, _, fs in os.walk(qd) for f in fs
    ):
        return local_frame(table.spark, _QUARANTINE_DDL)
    return table.spark.read.parquet(qd)


# -------------------------------------------------- fix transforms (M7)


def fix_recount(df: DataFrame) -> DataFrame:
    """Repair length_mismatch: trust the array, recompute n_tok."""
    return df.withColumn("n_tok", F.size("tokens").cast("int"))


def fix_clamp_vocab(df: DataFrame) -> DataFrame:
    """Repair token_out_of_vocab: clamp into [0, vocab) (reference
    RoundingTolerance analog — bounded coercion instead of rejection)."""
    return df.withColumn(
        "tokens",
        F.transform("tokens", lambda t: F.least(F.greatest(t, F.lit(0)), F.lit(VOCAB_SIZE - 1))),
    )


FIXES: dict[str, Callable[[DataFrame], DataFrame]] = {
    ERROR_LENGTH: fix_recount,
    ERROR_VOCAB: fix_clamp_vocab,
}


def replay(
    table: TokenLakeTable,
    error_classes: list[str] | None = None,
    fixes: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
) -> dict:
    """Replay quarantined rows through their fix transform → re-validate
    → MERGE the resolved rows → rewrite the sidecar without them.

    Returns {replayed, resolved, still_failed} counts."""
    fixes = fixes or FIXES
    replay_classes = [c for c in (error_classes or list(fixes)) if c in fixes]
    q = read_quarantine(table).filter(F.col("_error_class").isin(replay_classes))
    total = q.count()
    if total == 0:
        return {"replayed": 0, "resolved": 0, "still_failed": 0}

    fixed_parts = []
    for err in replay_classes:
        part = q.filter(F.col("_error_class") == err).drop("_error_class")
        fixed_parts.append(fixes[err](part))
    candidates = fixed_parts[0]
    for p in fixed_parts[1:]:
        candidates = candidates.unionByName(p)

    valid, still_bad = validate_batch(candidates)
    # the same doc can be quarantined in several batches: MERGE rejects
    # duplicate keys, so pick ONE deterministic winner per (doc_id,
    # source) — longest token array, then lexicographic token digest
    dedupe_w = Window.partitionBy("doc_id", "source").orderBy(
        F.desc("n_tok"), token_sig(F.col("tokens"))
    )
    valid = (
        valid.withColumn("_rn", F.row_number().over(dedupe_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    resolved = valid.count()
    still_failed = still_bad.count()
    if resolved:
        merge_into(table, valid)

    # rewrite sidecar: keep the non-replayed classes plus still-failing
    # rows, written to a FRESH dir; one atomic pointer swap makes it live
    remaining = read_quarantine(table).filter(~F.col("_error_class").isin(replay_classes))
    remaining = remaining.unionByName(still_bad)
    old_live = quarantine_dir(table)
    new_name = f"_quarantine-{uuid.uuid4().hex[:8]}"
    remaining.write.mode("overwrite").partitionBy("_error_class").parquet(
        os.path.join(table.path, new_name)
    )
    # atomic: readers see old or new, never neither
    snapshots.write_atomic(_ptr_path(table), new_name)
    # the old dir is NOT destroyed here: a concurrent quarantine_batch
    # that resolved the pointer pre-swap may still be writing into it
    # (its post-write recheck will retry into the new dir) — an
    # immediate rmtree would delete those in-flight files under the
    # writer. GC's min-age sweep collects non-live sidecar dirs instead
    # (collect_garbage removes _quarantine-* dirs the pointer no longer
    # names once they age past min_age_s).
    return {"replayed": total, "resolved": resolved, "still_failed": still_failed}

