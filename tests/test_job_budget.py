"""Spark jobs per op: the driver-side MERGE plan and the one-relation
DV read keep every DML round to a fixed, small number of Spark jobs,
and driver-held frames plan no Python RDD.

Counts are per op on a ≤2k-row table in the shared session, by job
group. Before the MERGE plan moved driver-side and DVs were applied
inside the scan relation, a seed-1 benchmark probe counted MERGE 11,
DELETE 3, UPDATE 6, CDC 11 and a lookup over a DV'd partition 3 jobs;
on this test's table that code ran MERGE 13, DELETE 3, UPDATE 6 and a
DV'd lookup 3 (a clean one 2).
"""

import uuid

from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.changes import table_changes
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic

NUM = "cast(substr(doc_id, 5) as long)"


def jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through its own job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dml_round_job_budget(spark, tmp_path):
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 2000), repartition_n=4)
    parts = sorted({e["partition"] for e in t.manifest_entries()})
    lookup = lambda s: t.scan(sources=[s], n_tok_min=50, n_tok_max=400).count()  # noqa: E731
    clean = jobs(spark, lambda: lookup(parts[0]))

    feed = (
        synthetic(spark, 2005)
        .filter(F.expr(f"{NUM} < 40 OR {NUM} >= 2000"))
        .withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))"))
        .withColumn("_op", F.when(F.expr(f"{NUM} < 5"), "delete").otherwise("upsert"))
    )
    n_merge = jobs(spark, lambda: merge_into(t, feed))
    n_delete = jobs(spark, lambda: t.delete_where(f"{NUM} % 9 = 1"))
    n_update = jobs(spark, lambda: t.update_where(f"{NUM} % 9 = 2", {"n_tok": "n_tok + 1"}))
    assert any(e["dv_rows"] for e in t.manifest_entries() if e["partition"] == parts[0])
    dv_lookup = jobs(spark, lambda: lookup(parts[0]))
    assert dv_lookup == clean
    assert (n_merge, n_delete, n_update) == (8, 2, 4)


def test_empty_and_metadata_frames_plan_no_python_rdd(spark, tmp_path):
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 1000), repartition_n=4)
    from_id = t.log.current_id()
    snap, _metrics = t.compact(
        CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)
    )
    assert snap is not None
    frames = [
        t.scan(sources=["absent"]),
        table_changes(t, from_id),  # across a pure compaction: empty
        t.history(),
        t.partitions(),
        t.files(),
    ]
    for df in frames:
        assert "ExistingRDD" not in executed_plan(df)
