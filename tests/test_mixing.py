"""Corpus mixing vs a DuckDB oracle replaying the same hash gate, plus
budget adherence, determinism/monotonicity, and the no-shuffle plan."""

import io
from contextlib import redirect_stdout

import duckdb
import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.tables import from_documents
from hoopstat_haus_spark.tables.mixing import (
    mixed_corpus,
    mixed_corpus_sql,
    plan_mixture,
    source_token_totals,
)
from hoopstat_haus_spark.tables.token_table import documents_token_sql
from tests.conftest import SF01_DIR, SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    return con


def _budgets(tok, fracs):
    """fracs maps source INDEX (by sorted name) -> fraction; the docs
    table's source domain (src0..src19) is driver data, so tests bind
    budgets positionally."""
    totals = {r.source: r.total_tokens for r in source_token_totals(tok).collect()}
    names = sorted(totals)
    return {names[i]: int(totals[names[i]] * f) for i, f in fracs.items()}, totals


def test_mixing_matches_duckdb(spark, duck):
    tok = from_documents(spark, SF_DIR)
    budgets, _ = _budgets(tok, {0: 0.4, 1: 0.8, 2: 1.0})
    got = sorted(r.doc_id for r in mixed_corpus(tok, budgets, "s1").select("doc_id").collect())
    inner = mixed_corpus_sql(plan_mixture(tok, budgets), "s1", documents_token_sql())
    want = sorted(r[0] for r in duck.execute(f"SELECT doc_id FROM {inner} m").fetchall())
    assert len(got) > 20  # non-vacuous
    assert got == want


def test_mixing_hits_budgets(spark):
    tok = from_documents(spark, SF01_DIR)
    budgets, totals = _budgets(tok, {0: 0.5, 1: 0.25})
    kept = {
        r.source: r.total_tokens
        for r in source_token_totals(mixed_corpus(tok, budgets)).collect()
    }
    for s, budget in budgets.items():
        assert abs(kept[s] - budget) / budget < 0.10, (s, kept[s], budget)
    # unbudgeted sources drop entirely
    assert set(kept) == set(budgets) and set(budgets) < set(totals)


def test_mixing_full_budget_keeps_everything(spark):
    tok = from_documents(spark, SF_DIR)
    totals = {r.source: r.total_tokens for r in source_token_totals(tok).collect()}
    kept = mixed_corpus(tok, {s: t * 2 for s, t in totals.items()})
    assert kept.count() == tok.count()


def test_mixing_is_deterministic_and_content_keyed(spark):
    tok = from_documents(spark, SF_DIR)
    budgets, _ = _budgets(tok, {i: 0.5 for i in range(5)})
    a = sorted(r.doc_id for r in mixed_corpus(tok, budgets, "s1").select("doc_id").collect())
    b = sorted(r.doc_id for r in mixed_corpus(tok, budgets, "s1").select("doc_id").collect())
    assert a == b
    # a different salt draws a different (deterministic) sample
    c = sorted(r.doc_id for r in mixed_corpus(tok, budgets, "s2").select("doc_id").collect())
    assert a != c
    # keep decisions are per-doc: restricting the input corpus never
    # flips a surviving doc's fate at the same thresholds (incremental
    # rebuild property) — gate the half corpus with the FULL plan
    from hoopstat_haus_spark.tables.mixing import _u32_hash

    thresholds = plan_mixture(tok, budgets)
    half = tok.filter(F.substring("doc_id", 12, 1).isin(["0", "2", "4", "6", "8"]))
    gate = F.lit(0).cast("long")
    for s, t in sorted(thresholds.items()):
        gate = F.when(F.col("source") == s, F.lit(t)).otherwise(gate)
    kept_half = sorted(r.doc_id for r in half.filter(_u32_hash("s1") < gate).select("doc_id").collect())
    half_ids = {r.doc_id for r in half.select("doc_id").collect()}
    assert kept_half == sorted(i for i in a if i in half_ids)


def test_mixing_gate_is_shuffle_free(spark):
    tok = from_documents(spark, SF_DIR)
    budgets, _ = _budgets(tok, {0: 0.5})
    buf = io.StringIO()
    with redirect_stdout(buf):
        mixed_corpus(tok, budgets).explain("formatted")
    assert "Exchange (" not in buf.getvalue()


def test_mixing_plans_from_manifest_metadata(spark, tmp_table_dir):
    from hoopstat_haus_spark.lakehouse import TokenLakeTable
    from hoopstat_haus_spark.tables import synthetic
    from hoopstat_haus_spark.tables.mixing import plan_mixture_from_table

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 4000), repartition_n=4)
    totals = {r.source: r.total_tokens for r in source_token_totals(t.scan()).collect()}
    budgets = {"web": int(totals["web"] * 0.5), "books": totals["books"] * 3}

    # manifest-planned thresholds == scan-planned thresholds (the
    # manifest token_count rollup IS the per-source total)
    assert plan_mixture_from_table(t, budgets) == plan_mixture(t.scan(), budgets)

    # the manifest-planned gate over a partition-pruned scan keeps the
    # same docs as the scan-planned gate over the whole table
    got = mixed_corpus(
        t.scan(sources=["web", "books"]), budgets, "s1",
        thresholds=plan_mixture_from_table(t, budgets),
    )
    want = mixed_corpus(t.scan(), budgets, "s1")
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) == sorted(
        r.doc_id for r in want.select("doc_id").collect()
    )


class TestSplit:
    def test_disjoint_exhaustive_deterministic(self, spark):
        from hoopstat_haus_spark.tables.mixing import with_split
        from hoopstat_haus_spark.tables import synthetic

        docs = synthetic(spark, 4000)
        fr = {"train": 0.9, "val": 0.05, "test": 0.05}
        tagged = with_split(docs, fr)
        n = docs.count()
        counts = {r["split"]: r["n"] for r in
                  tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert None not in counts and sum(counts.values()) == n  # exhaustive
        assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
        # approximate the fractions within sampling noise (4σ)
        import math
        for name, frac in fr.items():
            sd = math.sqrt(n * frac * (1 - frac))
            assert abs(counts[name] - n * frac) < 4 * sd + 1

        # python-recompute oracle: the assignment is a pure function
        import hashlib
        rows = tagged.select("doc_id", "split").collect()
        for r in rows[:500]:
            h = int(hashlib.md5((r["doc_id"] + "split").encode()).hexdigest()[:8], 16)
            expect = "train" if h < int(0.9 * 2**32) else (
                "val" if h < int(0.95 * 2**32) else "test")
            assert r["split"] == expect, r

    def test_split_stable_under_corpus_growth(self, spark):
        from hoopstat_haus_spark.tables.mixing import with_split
        from hoopstat_haus_spark.tables import synthetic

        fr = {"train": 0.8, "val": 0.2}
        small = {r["doc_id"]: r["split"]
                 for r in with_split(synthetic(spark, 1000), fr).select("doc_id", "split").collect()}
        big = {r["doc_id"]: r["split"]
               for r in with_split(synthetic(spark, 3000), fr).select("doc_id", "split").collect()}
        assert all(big[d] == s for d, s in small.items())  # no doc ever moves

    def test_split_short_fractions_leave_null_holdout(self, spark):
        from hoopstat_haus_spark.tables.mixing import with_split
        from hoopstat_haus_spark.tables import synthetic

        tagged = with_split(synthetic(spark, 2000), {"train": 0.5})
        n_null = tagged.filter(F.col("split").isNull()).count()
        assert 0 < n_null < 2000

    def test_split_validation(self, spark):
        import pytest as _pytest
        from hoopstat_haus_spark.tables.mixing import with_split
        from hoopstat_haus_spark.tables import synthetic

        docs = synthetic(spark, 10)
        with _pytest.raises(ValueError):
            with_split(docs, {})
        with _pytest.raises(ValueError):
            with_split(docs, {"a": 0.0})
        with _pytest.raises(ValueError):
            with_split(docs, {"a": 0.7, "b": 0.4})
