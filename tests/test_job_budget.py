"""Spark jobs per op: the driver-side MERGE plan and the one-relation
DV read keep every DML round to a fixed, small number of Spark jobs,
driver-held frames plan no Python RDD, a compaction unit under
``manifest.WRITE_TASK_BYTES`` writes all its files from one task, every
write plan sorts once (in the fused writer), and compaction units run
in the caller's job group.

Counts are per op on a ≤2k-row table in the shared session, by job
group. Before the MERGE plan moved driver-side and DVs were applied
inside the scan relation, a seed-1 benchmark probe counted MERGE 11,
DELETE 3, UPDATE 6, CDC 11 and a lookup over a DV'd partition 3 jobs;
on this test's table that code ran MERGE 13, DELETE 3, UPDATE 6 and a
DV'd lookup 3 (a clean one 2).
"""

import os
import re
import threading
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse import table as table_mod
from hoopstat_haus_spark.lakehouse.changes import table_changes
from hoopstat_haus_spark.lakehouse.compaction import output_file_count, write_task_count
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic, token_sig

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


@pytest.mark.parametrize("task_bytes", [None, 160 << 10], ids=["default", "small_cap"])
def test_compaction_write_stage_sized_by_bytes(spark, tmp_path, monkeypatch, task_bytes):
    """A unit's write stage runs one Python task per
    ``manifest.WRITE_TASK_BYTES`` of input, not one per output file: a
    Python writer task costs ~0.2 s of worker CPU whatever its row
    count. A unit under the cap writes all its range-cut files from ONE
    task, with no Exchange (one task per output file ran before); under
    a small cap, runs of buckets share a task. Either way every unit
    writes its planned file count, in ascending disjoint Z-ranges, and
    the rows are unchanged."""
    if task_bytes:
        monkeypatch.setattr(mf, "WRITE_TASK_BYTES", task_bytes)
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 4000), repartition_n=4)
    policy = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=40 << 10, max_file_bytes=8 << 20)
    pre = sorted(t.scan().select("doc_id", token_sig("tokens")).collect())
    sc = spark.sparkContext
    units: dict[str, dict] = {}
    current = threading.local()  # the partition of the unit this thread runs
    orig_unit, orig_write = table_mod.compact_partition, mf.write_partitioned_with_stats

    def unit(table, schema, partition, inputs, job_id, bounds, curve="zorder"):
        # units run on pool threads: tag their jobs from inside the unit
        group = f"unit-{uuid.uuid4().hex[:8]}"
        units[partition] = {"group": group, "n_out": len(bounds) + 1, "inputs": inputs}
        current.partition = partition
        sc.setJobGroup(group, group)
        try:
            return orig_unit(table, schema, partition, inputs, job_id, bounds, curve)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def write(df, *args):
        units[current.partition]["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return orig_write(df, *args)

    monkeypatch.setattr(table_mod, "compact_partition", unit)
    monkeypatch.setattr(mf, "write_partitioned_with_stats", write)
    snap, _metrics = t.compact(policy, job_id="tasks")
    assert snap is not None and len(units) >= 2
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    by_part: dict[str, list[dict]] = {}
    for e in t.manifest_entries():
        by_part.setdefault(e["partition"], []).append(e)
    shared = 0  # units whose tasks each write several files
    for part, u in units.items():
        planned = output_file_count(sum(f["file_bytes"] for f in u["inputs"]), policy)
        assert u["n_out"] == planned >= 2
        n_tasks = write_task_count(u["inputs"], planned)
        stages = [
            tracker.getStageInfo(s)
            for j in sorted(tracker.getJobIdsForGroup(u["group"]))
            for s in sorted(tracker.getJobInfo(j).stageIds)
        ]
        if n_tasks == 1:
            assert [s.numTasks for s in stages] == [1], (part, [s.numTasks for s in stages])
            assert "Exchange" not in u["plan"]
        else:
            assert stages[-1].numTasks == n_tasks  # the write job's result stage
        shared += 1 < n_tasks < planned
        files = sorted(by_part[part], key=lambda e: e["file_path"])
        assert len(files) == planned
        assert all(
            mf.BUCKET_COL not in pq.read_schema(os.path.join(t.path, e["file_path"])).names
            for e in files
        )
        assert all(e["zmin"] <= e["zmax"] for e in files)
        for a, b in zip(files, files[1:]):
            assert a["zmax"] < b["zmin"], (part, a["file_path"], b["file_path"])
    assert (shared > 0) == bool(task_bytes)
    assert sorted(t.scan().select("doc_id", token_sig("tokens")).collect()) == pre


def test_write_tasks_match_output_files_at_default_target():
    """At the default 128 MB target a unit writes one file per task, as
    before the write stage was sized by bytes."""
    policy = CompactionPolicy()
    for total in (1, 100 << 20, 128 << 20, (128 << 20) + 1, 1 << 30, (5 << 30) + 12345):
        inputs = [{"file_bytes": total // 3}, {"file_bytes": total - total // 3}]
        n_out = output_file_count(total, policy)
        assert write_task_count(inputs, n_out) == n_out


def writer_frames(spark, monkeypatch) -> list:
    """Collects the fused writer's ``mapInArrow`` frames, in run order."""
    frames = []
    cls = type(spark.range(0))
    orig = cls.mapInArrow

    def spy(self, func, *args, **kwargs):
        out = orig(self, func, *args, **kwargs)
        if getattr(func, "func", None) is mf._write_task:
            frames.append(out)
        return out

    monkeypatch.setattr(cls, "mapInArrow", spy)
    return frames


def final_plan(df) -> str:
    """The executed plan of a frame that ran (AQE's final plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def test_one_sort_per_write_plan(spark, tmp_path, monkeypatch):
    """The fused writer sorts its own input, so every write plan holds
    exactly one Sort: a new one for create and append, and the writer's
    alone where the rows used to arrive pre-sorted (UPDATE's and MERGE's
    new rows, compaction units). A one-task compaction unit still runs
    without an Exchange."""
    frames = writer_frames(spark, monkeypatch)
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 4000), repartition_n=4)
    t.append(synthetic(spark, 4100).filter(F.expr(f"{NUM} >= 4000")), repartition_n=2)
    t.update_where(f"{NUM} % 9 = 2", {"n_tok": "n_tok + 1"})
    feed = (
        synthetic(spark, 4105)
        .filter(F.expr(f"{NUM} < 40 OR {NUM} >= 4100"))
        .withColumn("tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))"))
    )
    merge_into(t, feed)
    assert len(frames) == 4
    monkeypatch.setattr(mf, "WRITE_TASK_BYTES", 160 << 10)
    policy = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=40 << 10, max_file_bytes=8 << 20)
    assert t.compact(policy)[0] is not None
    plans = [final_plan(f) for f in frames]
    assert [len(re.findall(r"\bSort \[", p)) for p in plans] == [1] * len(plans)
    units = plans[4:]
    assert {"Exchange" in p for p in units} == {True, False}  # multi-task and one-task units
    assert all("Coalesce 1" in p for p in units if "Exchange" not in p)


def test_compaction_units_run_in_callers_job_group(spark, tmp_path):
    """Compaction units run on pool threads, which must carry the
    caller's Spark local properties: a job group set around
    ``compact`` holds every unit's jobs, so ``cancelJobGroup`` can stop
    a running compaction."""
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 1000), repartition_n=4)
    policy = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)
    out = {}
    n_jobs = jobs(spark, lambda: out.update(metrics=t.compact(policy)[1]))
    assert out["metrics"].partitions >= 2
    assert n_jobs >= out["metrics"].partitions
