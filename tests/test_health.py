"""Pipeline-health aggregation — reference health-aggregator semantics
(operational / degraded / outage, most-recent-run rules)."""

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.health import (
    DEGRADED,
    OPERATIONAL,
    OUTAGE,
    health_report,
    read_job_records,
    record_job_metrics,
)
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.health import JobMetrics
from hoopstat_haus_spark.tables import synthetic

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=2 * MB, max_file_bytes=8 * MB)


def test_jobs_record_metrics_and_report_operational(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 3000), repartition_n=4)
    t.compact(POLICY)
    upd = (
        t.scan()
        .limit(5)
        .select("doc_id", F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"), "n_tok", "source")
    )
    merge_into(t, upd)

    recs = read_job_records(t.path)
    assert {r["operation"] for r in recs} == {"compact", "merge"}
    assert all(r["status"] == "success" for r in recs)
    assert all(r["snapshot_id"] is not None for r in recs)

    report = health_report(t.path)
    assert report["overall_status"] == OPERATIONAL
    assert report["stages"]["compact"]["status"] == OPERATIONAL
    assert report["stages"]["compact"]["total_gb_in"] > 0
    assert report["stages"]["merge"]["runs"] == 1


def test_failed_head_degrades_and_no_success_is_outage(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    t.compact(POLICY)
    # a newer failed compact run → DEGRADED (older success exists)
    record_job_metrics(t.path, JobMetrics(job="boom").finish(), "compact", status="failed")
    # a stage with only failures → OUTAGE; overall = worst stage
    record_job_metrics(t.path, JobMetrics(job="boom2").finish(), "merge", status="failed")
    report = health_report(t.path)
    assert report["stages"]["compact"]["status"] == DEGRADED
    assert report["stages"]["merge"]["status"] == OUTAGE
    assert report["overall_status"] == OUTAGE


def test_empty_table_reports_outage(tmp_path):
    report = health_report(str(tmp_path))
    assert report["overall_status"] == OUTAGE
    assert report["jobs_seen"] == 0


@pytest.mark.parametrize("op", ["compact", "merge", "delete", "update"])
def test_crashed_op_records_failed_and_degrades(spark, tmp_table_dir, op):
    """A maintenance op that raises mid-flight must leave a
    status='failed' record (advisor finding: without it, DEGRADED/OUTAGE
    were unreachable from engine-run jobs). Each op succeeds once first,
    so its failure reads as DEGRADED."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    t.compact(POLICY)
    doc = t.scan().first()["doc_id"]
    if op == "compact":
        # fresh small files give the planner a unit; the unit raises
        more = synthetic(spark, 300).withColumn("doc_id", F.concat(F.lit("x-"), "doc_id"))
        t.append(more, repartition_n=4)
        fail, match = (lambda: t.compact(POLICY, curve="bogus")), "unknown curve"
    elif op == "merge":
        ok = (
            t.scan().limit(5)
            .select("doc_id", F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"),
                    "n_tok", "source")
        )
        merge_into(t, ok)
        dup = ok.limit(1).unionByName(ok.limit(1))  # duplicate keys → reject
        fail, match = (lambda: merge_into(t, dup)), "duplicate"
    elif op == "delete":
        t.delete_where(F.col("doc_id") == doc)
        fail, match = (lambda: t.delete_where("no_such_col = 1")), "no_such_col"
    else:
        t.update_where(F.col("doc_id") == doc, {"n_tok": "n_tok + 0"})
        fail, match = (lambda: t.update_where("n_tok > 0", {"doc_id": "'x'"})), "identity"
    with pytest.raises(Exception, match=match):
        fail()
    recs = [r for r in read_job_records(t.path) if r["operation"] == op]
    assert [r["status"] for r in recs][-2:] == ["success", "failed"]
    assert match in (recs[-1].get("error") or "")
    assert health_report(t.path)["stages"][op]["status"] == DEGRADED


def test_noop_compact_records_success_without_snapshot(spark, tmp_table_dir):
    """A run with nothing to do still writes a success record (else a
    nightly compaction of a compacted table goes stale), and its zero
    bytes do not drag the stage's mean throughput to 0."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    assert t.compact(POLICY)[0] is not None
    first = health_report(t.path)["stages"]["compact"]["mean_gb_per_hour"]
    snap, _metrics = t.compact(POLICY)
    assert snap is None
    recs = [r for r in read_job_records(t.path) if r["operation"] == "compact"]
    assert [r["status"] for r in recs] == ["success", "success"]
    assert recs[-1]["snapshot_id"] is None and recs[0]["snapshot_id"] is not None
    stage = health_report(t.path)["stages"]["compact"]
    assert stage["successes"] == 2
    assert stage["mean_gb_per_hour"] == first


def test_stale_success_degrades_with_freshness_rule(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    t.compact(POLICY)
    assert health_report(t.path)["stages"]["compact"]["status"] == OPERATIONAL
    # fresh enough for a 1h window, stale for a 0ms window
    assert health_report(t.path, max_staleness_ms=3_600_000)["stages"]["compact"]["status"] == OPERATIONAL
    assert health_report(t.path, max_staleness_ms=0)["stages"]["compact"]["status"] == DEGRADED
