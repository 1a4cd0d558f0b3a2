"""Quarantine + replay lifecycle — engine analog of the reference's
test_quarantine_cli.py / test_replay.py suites: classify, isolate,
fix-transform, re-validate, MERGE resolved rows, terminal failed state."""

from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.quarantine import (
    ERROR_EMPTY,
    ERROR_LENGTH,
    ERROR_VOCAB,
    classify,
    quarantine_batch,
    read_quarantine,
    replay,
    validate_batch,
)
from hoopstat_haus_spark.tables import synthetic


def corrupted_batch(spark):
    """Deterministic corruption: every 10th row wrong n_tok, every 15th
    an out-of-vocab token, every 30th emptied."""
    num = F.substring("doc_id", 5, 10).cast("long")
    df = synthetic(spark, 300)
    df = df.withColumn(
        "n_tok", F.when(num % 10 == 0, F.col("n_tok") + 1).otherwise(F.col("n_tok"))
    )
    df = df.withColumn(
        "tokens",
        F.when(
            num % 15 == 0, F.concat(F.slice("tokens", 1, F.size("tokens") - 1), F.array(F.lit(99999)))
        ).otherwise(F.col("tokens")),
    )
    df = df.withColumn(
        "tokens", F.when(num % 30 == 0, F.array().cast("array<int>")).otherwise(F.col("tokens"))
    )
    return df


def by_class(t):
    """Quarantined row counts per error class."""
    rows = read_quarantine(t).groupBy("_error_class").agg(F.count(F.lit(1)).alias("n")).collect()
    return {r["_error_class"]: r["n"] for r in rows}


def test_classify_priorities(spark):
    c = classify(corrupted_batch(spark))
    counts = {r["_error_class"]: r["n"] for r in c.groupBy("_error_class").agg(F.count("*").alias("n")).collect()}
    assert counts[ERROR_EMPTY] == 10  # %30 wins over %10/%15 (structural first)
    assert counts[ERROR_LENGTH] == 20  # %10 minus the %30 overlap
    assert counts[ERROR_VOCAB] == 10  # %15 minus the %30 overlap (odd
    # multiples of 15 are never %10, so no collision with length_mismatch)
    assert counts["ok"] == 300 - 10 - 20 - 10


def test_ingest_with_quarantine_then_replay(spark, tmp_table_dir):
    batch = corrupted_batch(spark)
    valid, rejected = validate_batch(batch)
    n_valid, n_rej = valid.count(), rejected.count()
    assert n_valid + n_rej == 300

    t = TokenLakeTable.create(spark, tmp_table_dir, valid, repartition_n=2)
    quarantine_batch(t, rejected)
    assert t.scan().count() == n_valid

    summary = by_class(t)
    assert summary[ERROR_LENGTH] == 20 and summary[ERROR_VOCAB] == 10 and summary[ERROR_EMPTY] == 10

    # replay fixable classes: length (recount) + vocab (clamp)
    report = replay(t)
    assert report == {"replayed": 30, "resolved": 30, "still_failed": 0}
    assert t.scan().count() == n_valid + 30

    # fixed rows really are repaired in the table
    repaired = t.scan().filter("doc_id = 'doc-0000000010'").collect()[0]
    assert repaired["n_tok"] == len(repaired["tokens"])
    clamped = t.scan().filter("doc_id = 'doc-0000000015'").collect()[0]
    assert max(clamped["tokens"]) < 50257

    # empty-sequence rows have no fix: still quarantined (terminal failed)
    left = by_class(t)
    assert left == {ERROR_EMPTY: 10}

    # replay is idempotent once resolved
    assert replay(t) == {"replayed": 0, "resolved": 0, "still_failed": 0}


def test_replay_dedupes_same_doc_across_batches(spark, tmp_table_dir):
    """The same doc quarantined in two batches (different corruption)
    must MERGE as ONE deterministic winner, preserving the
    one-token-array-per-doc_id invariant."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 100), repartition_n=2)
    base = synthetic(spark, 1).select("doc_id", "tokens", "n_tok", "source")
    bad1 = base.withColumn("n_tok", F.col("n_tok") + 1)  # length_mismatch
    bad2 = base.withColumn("n_tok", F.col("n_tok") + 2)  # same doc, again
    quarantine_batch(t, classify(bad1).filter(F.col("_error_class") != "ok"))
    quarantine_batch(t, classify(bad2).filter(F.col("_error_class") != "ok"))
    assert read_quarantine(t).count() == 2

    report = replay(t, error_classes=[ERROR_LENGTH])
    assert report["replayed"] == 2
    key = base.collect()[0]["doc_id"]
    assert t.scan().filter(F.col("doc_id") == key).count() == 1


def test_sidecar_pointer_survives_replay(spark, tmp_table_dir):
    """After replay the live sidecar resolves through the pointer file
    (single atomic os.replace swap — no window with no sidecar at all).
    The pre-swap dir is NOT destroyed inline — a concurrent appender may
    still be writing into it — it ages out through GC's min-age sweep."""
    import os

    from hoopstat_haus_spark.lakehouse.gc import collect_garbage
    from hoopstat_haus_spark.lakehouse.quarantine import quarantine_dir

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 100), repartition_n=2)
    batch = corrupted_batch(spark)
    _, rejected = validate_batch(batch)
    quarantine_batch(t, rejected)
    before_dir = quarantine_dir(t)
    replay(t)
    after_dir = quarantine_dir(t)
    assert after_dir != before_dir
    assert os.path.exists(os.path.join(t.path, "_quarantine_ptr"))
    # deferred destruction: the old dir survives the swap (a mid-write
    # appender must never have it rmtree'd underneath)...
    assert os.path.isdir(before_dir)
    # ...is invisible to reads (they resolve through the pointer)...
    assert read_quarantine(t).count() > 0
    # ...and GC collects it once past the min age (0 here), while the
    # LIVE sidecar always survives
    swept = collect_garbage(t.path, min_age_s=0)
    assert os.path.basename(before_dir) in swept["removed_staging"]
    assert not os.path.isdir(before_dir)
    assert os.path.isdir(after_dir)
    assert read_quarantine(t).count() > 0
