"""One commit invariant, every writer.

Create, append, compact, merge, delete, update and WAP publish all
commit through ``table.commit_rewrite``. For each, the new snapshot's
summary aggregates must equal the aggregates of the manifest list it
points at, ``schema_version`` must be the live version, and every
partition the op did not touch must keep its parent's shard (carried
by reference, not rewritten).
"""

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.wap import publish_staged, stage_append
from hoopstat_haus_spark.tables import synthetic

POL = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20, max_file_bytes=8 << 20)
AGGS = ("files", "rows", "tokens", "bytes", "partitions")


def _fresh(spark, n, prefix, source):
    """New-keyed rows, all in one partition."""
    return (
        synthetic(spark, n)
        .withColumn("doc_id", F.concat(F.lit(prefix + "-"), F.col("doc_id")))
        .withColumn("source", F.lit(source))
    )


def _some_ids(t, part):
    rows = t.scan(sources=[part]).select("doc_id").limit(20).collect()
    return [r["doc_id"] for r in rows]


def _append(t, spark, part):
    t.append(_fresh(spark, 150, "inv", part), repartition_n=1)


def _compact(t, spark, part):
    snap, _ = t.compact(POL, sources=[part])
    assert snap is not None


def _merge(t, spark, part):
    ups = t.scan(sources=[part]).limit(40).select(
        "doc_id",
        F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"),
        "n_tok",
        "source",
    )
    merge_into(t, ups.unionByName(_fresh(spark, 10, "ins", part)))


def _delete(t, spark, part):
    snap, _ = t.delete_where(F.col("doc_id").isin(_some_ids(t, part)))
    assert snap is not None


def _update(t, spark, part):
    snap, _ = t.update_where(
        F.col("doc_id").isin(_some_ids(t, part)),
        {"tokens": "transform(tokens, x -> x + 1)"},
    )
    assert snap is not None


def _publish(t, spark, part):
    stage_append(t, _fresh(spark, 120, "wap", part), ref="inv")
    publish_staged(t, "inv")


WRITERS = {
    "append": _append,
    "compact": _compact,
    "merge": _merge,
    "delete": _delete,
    "update": _update,
    "wap_publish": _publish,
}


def _shards(t, snap):
    return {r["partition"]: r for r in mf.read_manifest_list(t.path, snap.manifest)}


def _assert_summary_matches_manifest(t, snap):
    records = mf.read_manifest_list(t.path, snap.manifest)
    expected = mf.summary_from_records(records)
    assert {k: snap.summary[k] for k in AGGS} == expected
    assert snap.summary["schema_version"] == t.schema_def().version


@pytest.mark.parametrize("op", ["create", *WRITERS])
def test_every_writer_commits_consistent_summary_and_carries_shards(spark, tmp_path, op):
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), synthetic(spark, 3000), repartition_n=4)
    if op == "create":
        snap = t.log.current()
        assert snap.parent_id is None
        _assert_summary_matches_manifest(t, snap)
        assert snap.summary["rows"] == 3000
        return
    # a non-default live version, so a stale stamp would show
    t.evolve_schema([{"name": "lang", "type": "string", "default": "und"}])
    parent = t.log.current()
    before = _shards(t, parent)
    assert len(before) >= 3
    part = sorted(before)[0]

    WRITERS[op](t, spark, part)

    snap = t.log.current()
    assert snap.parent_id == parent.snapshot_id  # exactly one commit
    _assert_summary_matches_manifest(t, snap)
    after = _shards(t, snap)
    assert set(after) == set(before)
    assert after[part]["path"] != before[part]["path"], "touched shard must be rewritten"
    for other in set(before) - {part}:
        assert after[other]["path"] == before[other]["path"], f"untouched shard {other} rewritten"
