"""Names that reach metadata and staging paths, and the one metadata
write: job ids and partition values cannot aim a write or an ``rmtree``
outside the table's own directories, and ``write_atomic`` publishes a
file whole or not at all."""

import os

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable, snapshots
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=4 * MB, max_file_bytes=8 * MB)


def _tree(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root) for d, _dirs, files in os.walk(root) for f in files
    }


def _sigs(t) -> list:
    df = t.scan().select("doc_id", token_sig(F.col("tokens")).alias("sig"), "source")
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def small_table(spark, tmp_path):
    path = str(tmp_path / "t")
    return TokenLakeTable.create(spark, path, synthetic(spark, 400), repartition_n=4)


def test_bad_job_id_on_compact_touches_nothing(small_table):
    # a crashed, resumable compaction leaves its checkpoint dir behind;
    # with it present, _checkpoints/.. is the table root
    os.makedirs(os.path.join(small_table.path, "_checkpoints", "other-job"))
    before = _tree(small_table.path)
    with pytest.raises(ValueError, match="job id"):
        small_table.compact(POLICY, job_id="..")
    assert _tree(small_table.path) == before


def test_bad_job_id_on_merge_touches_nothing(spark, small_table):
    before = _tree(small_table.path)
    feed = small_table.scan().limit(5)
    with pytest.raises(ValueError, match="job id"):
        merge_into(small_table, feed, job_id="a/../b")
    assert _tree(small_table.path) == before


def test_compaction_stages_under_the_escaped_partition_dir(spark, tmp_path):
    # <table>/.staging/<job>/../../../victim is the table root's sibling
    victim = tmp_path / "victim"
    victim.mkdir()
    (victim / "keep.txt").write_text("x")
    df = synthetic(spark, 200).withColumn("source", F.lit("../../../victim"))
    t = TokenLakeTable.create(spark, str(tmp_path / "t"), df, repartition_n=4)
    pre = _sigs(t)
    snap, _metrics = t.compact(POLICY, job_id="esc")
    assert snap is not None
    assert (victim / "keep.txt").read_text() == "x"
    assert _sigs(t) == pre
    assert len(pre) == 200


@pytest.mark.parametrize("name", ["", ".", "..", ".x", "-x", "a..b", "a/b", "a b"])
def test_check_name_rejects_path_like_names(name):
    with pytest.raises(ValueError):
        snapshots.check_name(name, "name")


def test_write_atomic_exclusive_and_replace(tmp_path):
    path = str(tmp_path / "rec.json")
    snapshots.write_atomic(path, "one", exclusive=True)
    with pytest.raises(FileExistsError):
        snapshots.write_atomic(path, "two", exclusive=True)
    assert open(path).read() == "one"
    snapshots.write_atomic(path, "three")
    assert open(path).read() == "three"
    assert os.listdir(tmp_path) == ["rec.json"]  # no tmp left behind
