"""Corpus mixing: deterministic per-source sampling to token budgets.

A training-data build rarely uses its sources as-is — it targets a
mixture ("30 B tokens web, 10 B books, ..."). This module downsamples
each source to a token budget with a CONTENT-KEYED Bernoulli gate:
keep doc iff  u32(md5(doc_id ‖ salt)) < frac·2³²,  frac = budget/total.

Why hash-gated instead of ``df.sample``: the keep decision is a pure
function of (doc_id, salt, budgets), so it is reproducible across
runs, engines (the DuckDB oracle replays it exactly — ``CAST('0x'||
substr(md5(..),1,8) AS BIGINT)`` ≡ Spark ``conv(substring(md5(..),1,8),
16,10)``), cluster sizes, and even incremental re-builds: a doc's fate
never depends on which partition or batch it arrived in, so appending
data and re-mixing keeps every previously-kept doc (monotone under
corpus growth at fixed fracs).

Scale: the totals pass is a 5-row aggregate (map-side combined); the
gate itself is a stateless filter — no shuffle, no driver data path.
Sampling hits the budget in expectation with relative error
O(1/√n_docs_source); exact-budget packing would need a global sort and
is not worth a corpus shuffle for a mixture target.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U32 = 1 << 32


def _u32_hash(salt: str) -> Column:
    """Uniform int in [0, 2^32) from the first 8 md5 hex chars of
    doc_id+salt — reproducible in DuckDB (see :func:`mixed_corpus_sql`)."""
    return F.conv(F.substring(F.md5(F.concat(F.col("doc_id"), F.lit(salt))), 1, 8), 16, 10).cast(
        "long"
    )


def source_token_totals(tokens_df: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens) — the mixture planner's input."""
    return tokens_df.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
    )


def _thresholds(totals: dict[str, int], budgets: dict[str, int]) -> dict[str, int]:
    thresholds: dict[str, int] = {}
    for source, total in totals.items():
        budget = budgets.get(source, 0)
        frac = min(1.0, budget / total) if total else 0.0
        thresholds[source] = _U32 if frac >= 1.0 else int(frac * _U32)
    return thresholds


def plan_mixture(tokens_df: DataFrame, budgets: dict[str, int]) -> dict[str, int]:
    """Per-source u32 keep-thresholds for the requested token budgets.

    frac = min(1, budget/total) → threshold = floor(frac·2³²). Sources
    not in ``budgets`` get threshold 0 (dropped). The totals aggregate
    collects O(sources) rows — metadata-scale at any corpus size."""
    return _thresholds(
        {r.source: r.total_tokens for r in source_token_totals(tokens_df).collect()}, budgets
    )


def mixed_corpus(
    tokens_df: DataFrame,
    budgets: dict[str, int],
    salt: str = "mix",
    thresholds: dict[str, int] | None = None,
) -> DataFrame:
    """The sampled corpus: same schema as the input, each source thinned
    to ≈ its token budget (exactly kept: docs whose content hash clears
    the source's threshold). Pass precomputed ``thresholds`` (from
    :func:`_thresholds` over an already-collected totals dict) to skip
    the planning aggregate — callers that just ran
    :func:`source_token_totals` themselves shouldn't pay it twice."""
    if thresholds is None:
        thresholds = plan_mixture(tokens_df, budgets)
    gate = F.lit(0).cast("long")
    for source, thr in sorted(thresholds.items()):
        gate = F.when(F.col("source") == source, F.lit(thr)).otherwise(gate)
    return tokens_df.filter(_u32_hash(salt) < gate)


def with_split(
    df: DataFrame,
    fractions: dict[str, float],
    salt: str = "split",
    col_name: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: one ``split`` column from
    consecutive u32 intervals of the same content-keyed hash the mixture
    gate uses.

    Properties a training build needs from its split:

    - **disjoint + exhaustive** by construction (consecutive intervals;
      when the fractions sum to 1 the last interval closes at 2³², so
      float rounding can't orphan a row — fractions summing short leave
      the remainder as NULL, an explicit discard-holdout);
    - **deterministic & engine-independent**: a pure function of
      (doc_id, salt, fractions) — no partitioning, no RNG state, so the
      same doc lands in the same split on any cluster size, engine, or
      re-run, and **stays there as the corpus grows** (append + re-split
      never moves a doc across the train/eval boundary — the property
      that prevents silent eval-set leakage over time);
    - **leakage-free w.r.t. exact content** once the pipeline's dedup
      stages ran (one doc_id per content digest): near-duplicate leakage
      is the dedup stages' job, not the splitter's.

    Stateless projection — no shuffle, no driver data path.
    """
    if not fractions:
        raise ValueError("fractions must name at least one split")
    bad = {k: v for k, v in fractions.items() if not 0.0 < v <= 1.0}
    if bad:
        raise ValueError(f"fractions must be in (0, 1]: {bad}")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        hi = _U32 if acc >= 1.0 - 1e-12 else int(acc * _U32)
        cond = F.col("_split_h") < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return (
        df.withColumn("_split_h", _u32_hash(salt))
        .withColumn(col_name, expr.otherwise(F.lit(None).cast("string")))
        .drop("_split_h")
    )


def mixed_corpus_sql(thresholds: dict[str, int], salt: str, tok_inner: str) -> str:
    """DuckDB SQL for the same sampled corpus, given the thresholds
    :func:`plan_mixture` computed (the plan is driver-side metadata; the
    oracle replays the GATE, which is the data-path semantics)."""
    cases = " ".join(
        f"WHEN source = '{s}' THEN {t}" for s, t in sorted(thresholds.items())
    )
    return f"""(
      SELECT doc_id, tokens, n_tok, source FROM {tok_inner}
      WHERE CAST('0x' || substr(md5(doc_id || '{salt}'), 1, 8) AS BIGINT)
            < (CASE {cases} ELSE 0 END)
    )"""
