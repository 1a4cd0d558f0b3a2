"""The tokenized-sequence table: the engine's canonical input.

Schema (from the north rule / BASELINE.json input_hint):

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Two deterministic constructors:

- :func:`from_documents` derives the table from the driver-provided
  ``documents.parquet`` with pure Column expressions. The SAME derivation
  is expressible in ANSI SQL (:func:`documents_token_sql`), which lets the
  DuckDB oracle verify even post-maintenance scans value-by-value.
- :func:`synthetic` generates an arbitrary-scale table from
  ``spark.range`` with a skewed ``source`` distribution — the bench
  input. No data files are shipped; everything is computed.

This mirrors the reference's seeded mock-data approach
(``libs/hoopstat-mock-data``, ``MockDataGenerator(seed=42)`` at
``libs/hoopstat-e2e-testing/hoopstat_e2e_testing/pipeline_runner.py:33``)
but with closed-form determinism instead of a seeded RNG so two engines
can reproduce it independently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# Multiplicative-hash constants (Knuth 2654435761; 40503 = Fibonacci-ish
# 16-bit mixer). Vocab size 50257 = GPT-2 BPE vocab, a realistic token id
# domain. All arithmetic stays in int64 → exact in Spark and DuckDB:
# every (d * _MULT) site reduces BOTH factors mod the outer modulus first
# ((d*M) mod V == ((d mod V)*(M mod V)) mod V), so products stay < 2^63
# for ANY doc number — the bare d*M form would throw ANSI overflow past
# doc numbers ≈ 3.47e9, inside a 100 TB corpus's id domain.
_MULT = 2654435761
_STEP = 40503
_VOCAB = 50257
_MULT_V = _MULT % _VOCAB

# Skewed source distribution for the synthetic generator: `web` is the
# hot partition (55%) per the north rule's skew requirement.
_SOURCES = [("web", 55), ("books", 25), ("code", 12), ("wiki", 6), ("forums", 2)]


def token_expr(doc_num: Column, n_tok: Column) -> Column:
    """tokens[i] = (doc_num * MULT + i * STEP) % VOCAB, i in [0, n_tok)
    — computed with doc_num pre-reduced mod VOCAB (identical value,
    overflow-safe for any int64 doc number)."""
    d_red = F.pmod(doc_num, F.lit(_VOCAB))
    return F.transform(
        F.sequence(F.lit(0), n_tok - F.lit(1)),
        lambda i: ((d_red * F.lit(_MULT_V) + i.cast("long") * F.lit(_STEP)) % F.lit(_VOCAB)).cast("int"),
    )


def token_sig(tokens: Column) -> Column:
    """Order-sensitive digest of a token array, identical in DuckDB via
    ``md5(array_to_string(tokens, ','))`` — used wherever a query needs to
    compare/emit token arrays without relying on array hashing parity."""
    return F.md5(F.array_join(F.transform(tokens, lambda x: x.cast("string")), ","))


def tokenize_documents(docs: DataFrame) -> DataFrame:
    """Deterministic token table from a (doc_id, n_chars, source, …)
    documents frame — the closed-form generator over any doc subset
    (the training-corpus pipeline tokenizes its filtered survivors with
    the same expressions ``from_documents`` applies to the full table).

    n_tok = clamp(floor(n_chars / 4), 8, 512)  (≈ chars-per-token 4)
    """
    # rename the input key first: Spark's lateral-column-alias resolution
    # would otherwise bind `doc_id` inside token_expr to the NEW string alias
    d = docs.select(F.col("doc_id").cast("long").alias("_doc_num"), "n_chars", "source")
    doc_num = F.col("_doc_num")
    n_tok = F.greatest(F.lit(8), F.least(F.lit(512), F.floor(F.col("n_chars") / F.lit(4)).cast("int")))
    return d.select(
        F.format_string("doc-%08d", doc_num).alias("doc_id"),
        token_expr(doc_num, n_tok).alias("tokens"),
        n_tok.cast("int").alias("n_tok"),
        F.col("source"),
    )


def from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`tokenize_documents` over ``{sf_dir}/documents.parquet``."""
    return tokenize_documents(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def documents_token_sql(inner: str = "documents") -> str:
    """DuckDB SQL producing the exact same rows as :func:`from_documents`.

    Returns a derived-table SQL string (parenthesized) to splice into
    oracle queries: ``f"SELECT ... FROM {documents_token_sql()} t"``.
    """
    return f"""(
      SELECT
        printf('doc-%08d', doc_id) AS doc_id,
        list_transform(range(0, n_tok), i -> CAST(((doc_id % {_VOCAB}) * {_MULT_V} + i * {_STEP}) % {_VOCAB} AS INTEGER)) AS tokens,
        CAST(n_tok AS INTEGER) AS n_tok,
        source
      FROM (
        SELECT doc_id, source,
               GREATEST(8, LEAST(512, CAST(FLOOR(n_chars / 4) AS INTEGER))) AS n_tok
        FROM {inner}
      )
    )"""


def synthetic(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Arbitrary-scale deterministic token table from ``spark.range``.

    source is skewed (55% 'web'), n_tok in [8, 512] with mean ≈ 260
    (≈ 1 KB/row of int32 tokens), so ~1M docs ≈ 1 GB raw token payload.
    """
    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    doc_num = F.col("id")
    # pmod of a mixed hash → stable pseudo-uniform bucket in [0, 100);
    # factors reduced mod the prime so the product can't overflow int64
    _p = 982451653
    bucket = F.pmod(
        (F.pmod(doc_num, F.lit(_p)) * F.lit(_MULT % _p)) % F.lit(_p), F.lit(100)
    )
    src = None
    lo = 0
    for name, weight in _SOURCES:
        cond = bucket < F.lit(lo + weight)
        src = F.when(cond, F.lit(name)) if src is None else src.when(cond, F.lit(name))
        lo += weight
    source = src.otherwise(F.lit(_SOURCES[-1][0]))
    n_tok = (F.lit(8) + F.pmod(doc_num * F.lit(_STEP) + F.lit(17), F.lit(505))).cast("int")
    return rng.select(
        F.format_string("doc-%010d", doc_num).alias("doc_id"),
        token_expr(doc_num, n_tok).alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )
