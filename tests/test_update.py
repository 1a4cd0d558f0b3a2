"""Predicate UPDATE (lakehouse/update.py).

Verified the DML way: token-sig equality of updated rows against a
closed-form expectation, byte-identity of non-matching rows, snapshot
isolation of the pre-update state, carried-by-reference proof that only
predicate-touched files got a deletion vector, and CDC classification
of the change as pure ``update`` rows.
"""

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.changes import changes_summary, table_changes
from hoopstat_haus_spark.tables import synthetic, token_sig

NUM = "cast(substr(doc_id, 5) as long)"


def sig_map(df):
    rows = df.select("doc_id", token_sig(F.col("tokens")).alias("sig"), "n_tok", "source").collect()
    out = {r["doc_id"]: (r["sig"], r["n_tok"], r["source"]) for r in rows}
    assert len(out) == len(rows), "duplicate doc_id"
    return out


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("upd") / "t")
    return TokenLakeTable.create(spark, path, synthetic(spark, 5000), repartition_n=8)


def test_update_where_values_isolation_and_pruning(table, spark):
    pre = sig_map(table.scan())
    pre_snap = table.log.current_id()
    pre_list = {r["partition"]: r["path"] for r in
                mf.read_manifest_list(table.path, table.log.current().manifest)}

    cond = f"source = 'web' and {NUM} % 7 = 0"
    snap, metrics = table.update_where(
        cond, {"tokens": "transform(tokens, x -> cast(x + 5 as int))"}
    )
    assert snap is not None and snap.operation == "update"
    assert snap.summary["assigned_columns"] == ["n_tok", "tokens"]  # n_tok auto-recount

    expected_hit = {d for d, (_s, n, src) in pre.items()
                    if src == "web" and int(d[4:]) % 7 == 0}
    assert expected_hit, "fixture produced no matching rows"
    assert snap.summary["matched_rows"] == len(expected_hit)

    # closed-form expectation: +5 on every token of matched docs only
    expect = synthetic(spark, 5000).withColumn(
        "tokens",
        F.when(F.expr(cond), F.expr("transform(tokens, x -> cast(x + 5 as int))"))
        .otherwise(F.col("tokens")),
    )
    assert sig_map(table.scan()) == sig_map(expect)

    # row count conserved; non-matching rows byte-identical
    post = sig_map(table.scan())
    assert set(post) == set(pre)
    assert all(post[d] == pre[d] for d in post if d not in expected_hit)
    assert all(post[d] != pre[d] for d in expected_hit)

    # snapshot isolation: the pre-update snapshot still reads old values
    assert sig_map(table.scan(snapshot_id=pre_snap)) == pre

    # manifest pruning: only source=web gets a new shard
    post_list = {r["partition"]: r["path"] for r in
                 mf.read_manifest_list(table.path, table.log.current().manifest)}
    for part, path in pre_list.items():
        assert (post_list[part] != path) == (part == "web")

    # file pruning: only files holding a match got a DV, and the only
    # new files hold the matched rows' new versions
    pre_web = {e["file_path"]: e["dv_path"] for e in table.manifest_entries(pre_snap)
               if e["partition"] == "web"}
    post_web = {e["file_path"]: e for e in table.manifest_entries()
                if e["partition"] == "web"}
    assert metrics.files_in == sum(
        1 for p, dv in pre_web.items() if post_web[p]["dv_path"] != dv
    )
    new = [e for p, e in post_web.items() if p not in pre_web]
    assert sum(e["row_count"] for e in new) == len(expected_hit)


def test_update_cdc_classifies_as_update_with_preimage(table):
    from_id = table.log.current_id()
    pre = sig_map(table.scan())
    snap, _ = table.update_where(
        f"{NUM} % 601 = 4", {"tokens": "transform(tokens, x -> cast(x + 1 as int))"}
    )
    expected = {d for d in pre if int(d[4:]) % 601 == 4}
    assert expected and snap.summary["matched_rows"] == len(expected)

    assert changes_summary(table_changes(table, from_id)) == {"update": len(expected)}
    pairs = changes_summary(table_changes(table, from_id, preimage=True))
    assert pairs == {"update_pre": len(expected), "update_post": len(expected)}
    # preimage rows carry FROM values
    ch = table_changes(table, from_id, preimage=True)
    pre_rows = {r["doc_id"]: (r["sig"], r["n_tok"], r["source"]) for r in
                ch.filter(F.col("_change") == "update_pre")
                .select("doc_id", token_sig(F.col("tokens")).alias("sig"), "n_tok", "source")
                .collect()}
    assert pre_rows == {d: pre[d] for d in expected}


def test_update_n_tok_recount_on_token_resize(table):
    """Assigning tokens without n_tok recounts n_tok = size(tokens)."""
    pre = sig_map(table.scan())
    target = sorted(pre)[0]
    snap, _ = table.update_where(
        f"doc_id = '{target}'", {"tokens": "slice(tokens, 1, 3)"}
    )
    assert snap.summary["matched_rows"] == 1
    row = table.scan().filter(F.col("doc_id") == target).collect()[0]
    assert len(row["tokens"]) == 3 and row["n_tok"] == 3


def test_update_rhs_sees_old_values(table):
    """Standard UPDATE semantics: every RHS evaluates over the OLD row,
    so an assignment chain can't observe another assignment."""
    pre = sig_map(table.scan())
    target = sorted(pre)[1]
    # n_tok := n_tok explicitly, tokens := shrink — with new-value
    # visibility n_tok would recount; with UPDATE semantics it keeps OLD
    snap, _ = table.update_where(
        f"doc_id = '{target}'",
        {"tokens": "slice(tokens, 1, 2)", "n_tok": "n_tok"},
    )
    assert snap.summary["matched_rows"] == 1
    row = table.scan().filter(F.col("doc_id") == target).collect()[0]
    assert len(row["tokens"]) == 2 and row["n_tok"] == pre[target][1]


def test_update_no_match_commits_nothing(table):
    head = table.log.current_id()
    snap, _ = table.update_where(f"{NUM} = 999999999", {"n_tok": "n_tok + 1"})
    assert snap is None
    assert table.log.current_id() == head


def test_update_rejects_identity_and_unknown_columns(table):
    with pytest.raises(ValueError, match="identity/partition"):
        table.update_where("true", {"source": "'web'"})
    with pytest.raises(ValueError, match="unknown column"):
        table.update_where("true", {"nope": "1"})
    # validation happens before any scan/commit
    assert table.log.current().operation != "update_failed"


def test_update_null_predicate_rows_survive_unchanged(table):
    """UPDATE only touches predicate-TRUE rows; NULL rows pass through."""
    pre = sig_map(table.scan())
    some_id = sorted(pre)[2]
    snap, _ = table.update_where(
        f"nullif(doc_id, '{some_id}') is null",
        {"tokens": "transform(tokens, x -> cast(x + 2 as int))"},
    )
    assert snap.summary["matched_rows"] == 1
    post = sig_map(table.scan())
    assert {d for d in pre if post[d] != pre[d]} == {some_id}


def test_update_conforms_assignment_types(spark, tmp_path):
    """A widening RHS (SQL arithmetic promoting int to double) must be
    store-assignment cast back to the declared column type — otherwise
    the commit succeeds but every later explicit-schema scan of the
    partition fails (parquet INT32 expected, DOUBLE found)."""
    t = TokenLakeTable.create(spark, str(tmp_path / "w"), synthetic(spark, 800), repartition_n=2)
    pre = {r["doc_id"]: r["n_tok"] for r in t.scan().select("doc_id", "n_tok").collect()}
    snap, _ = t.update_where(f"{NUM} % 5 = 0", {"n_tok": "n_tok + cast(1.0 as double)"})
    assert snap is not None
    post_df = t.scan()
    assert dict(post_df.dtypes)["n_tok"] == "int"  # declared type survived
    post = {r["doc_id"]: r["n_tok"] for r in post_df.select("doc_id", "n_tok").collect()}
    for d, n in pre.items():
        assert post[d] == (n + 1 if int(d[4:]) % 5 == 0 else n)
