"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training corpus carries images/audio/video as `binary` columns
with struct metadata. The Spark-side machinery — schema, partition-safe
batch iteration, Arrow-batched UDF signatures — is real and tested here;
there is no *codec* step (actual JPEG/audio decode) because the
image/audio libraries aren't in this container: features are computed
from the raw payload bytes, inside the one ``mapInPandas`` body a real
decoder would slot into.

Design rules encoded here:
- decode/feature work runs in ``mapInPandas`` (arrow batches, one Python
  worker pass per partition, no per-row serialization);
- binary payloads NEVER enter a shuffle: features are extracted first,
  payload dropped, THEN grouped/joined;
- deterministic fake payloads derive from doc text (md5 stream), so the
  pipeline is testable end-to-end without media libs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hoopstat_haus_spark.operators.common import load

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), False),
                ]
            ),
            False,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
        T.StructField("first16_hex", T.StringType(), False),
    ]
)


def synthetic_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from `documents`: payload =
    md5 keystream of the text, sized by n_chars. Real plumbing, fake
    bytes."""
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.col("text"),
        F.col("n_chars"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for text, n in zip(b["text"], b["n_chars"]):
                seed = hashlib.md5(text.encode()).digest()
                reps = int(n) // 16 + 1
                payloads.append((seed * reps)[: int(n)])
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "media_type": b["media_type"],
                    "payload": payloads,
                    "meta": [
                        {"width": int(n) % 640, "height": int(n) % 480, "n_bytes": int(n)}
                        for n in b["n_chars"]
                    ],
                }
            )

    return docs.mapInPandas(gen, schema=MEDIA_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads — the shape
    every real decode job takes: mapInPandas, payload consumed inside the
    worker, only small features leave (payload never shuffles)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ent, hexes, sizes = [], [], []
            for p in b["payload"]:
                arr = np.frombuffer(p, dtype=np.uint8)
                counts = np.bincount(arr, minlength=256).astype(np.float64)
                probs = counts[counts > 0] / len(arr)
                ent.append(float(-(probs * np.log2(probs)).sum()))
                hexes.append(arr[:16].tobytes().hex())
                sizes.append(len(arr))
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "media_type": b["media_type"],
                    "n_bytes": sizes,
                    "byte_entropy": ent,
                    "first16_hex": hexes,
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(feats, schema=FEATURE_SCHEMA)


def _closed_form_entropy(docs: DataFrame) -> DataFrame:
    """(doc_id, e_closed): byte entropy of the md5-keystream payload in
    CLOSED FORM from md5(text) hex + n_chars — no payload touched.

    The payload is the 16-byte md5 digest repeated and truncated to
    n_chars, so byte i of the digest appears n//16 + (i < n%16) times;
    entropy = −Σ_v (c_v/n)·log2(c_v/n) over distinct digest byte VALUES
    (digest bytes can collide — P ≈ 37% for 16 random bytes — so the
    per-value counts must be grouped, not assumed uniform). 100% native
    expressions; the same formula is ANSI-SQL for the DuckDB oracle."""
    pos = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n"),
        F.md5("text").alias("hex"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("i"),
    ).select(
        "doc_id",
        "n",
        F.substring("hex", F.col("i") * 2 + 1, 2).alias("bv"),
        (F.col("n") / 16).cast("long") + F.when(F.col("i") < F.col("n") % 16, 1).otherwise(0),
    )
    pos = pos.toDF("doc_id", "n", "bv", "cnt")
    per_val = pos.groupBy("doc_id", "n", "bv").agg(F.sum("cnt").alias("c")).filter(F.col("c") > 0)
    p = F.col("c").cast("double") / F.col("n")
    return per_val.groupBy("doc_id").agg((-F.sum(p * F.log2(p))).alias("e_closed"))


def media_feature_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: synth media → extract → rollup per media_type.

    FULLY oracle-checked (the entropy facet included): the fake payload
    is a pure function of `text` (n_bytes = n_chars, first16 = md5
    digest), so per-row byte entropy has a closed form that both Spark
    (native expressions) and DuckDB (SQL) can compute independently of
    the numpy path. The gate (a) averages the CLOSED-FORM entropy per
    media_type — value-checked against DuckDB — and (b) pins
    ``n_entropy_mismatch`` (numpy-extracted vs closed-form, tolerance
    1e-9) to 0, proving the mapInPandas/Arrow path computes the same
    numbers the algebra says it must."""
    feats = extract_features(synthetic_media(spark, sf_dir))
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    closed = _closed_form_entropy(docs)
    joined = feats.join(closed, "doc_id")
    mism = F.when(F.abs(F.col("byte_entropy") - F.col("e_closed")) > 1e-9, 1).otherwise(0)
    return (
        joined.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(
                F.sum(F.col("e_closed").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
                + F.lit(1e-9),
                4,
            ).alias("avg_entropy"),
            F.countDistinct("first16_hex").alias("distinct_heads"),
            F.sum(mism).cast("long").alias("n_entropy_mismatch"),
        )
        .orderBy("media_type")
    )


ORACLE = {
    # every facet value-checked: counts/bytes/heads are direct SQL; the
    # entropy average is recomputed from the closed form (see
    # _closed_form_entropy); the numpy-vs-closed-form mismatch count is
    # a Spark-internal invariant pinned to the literal 0.
    "mm_media_feature_rollup": """
        WITH d AS (
          SELECT doc_id, text, n_chars,
                 CASE WHEN doc_id % 3 = 0 THEN 'image'
                      WHEN doc_id % 3 = 1 THEN 'audio'
                      ELSE 'video' END AS media_type
          FROM documents
        ), pos AS (
          SELECT d.doc_id, d.media_type, d.n_chars,
                 substr(md5(d.text), 2 * i.i + 1, 2) AS bv,
                 (d.n_chars // 16) + CASE WHEN i.i < d.n_chars % 16 THEN 1 ELSE 0 END AS cnt
          FROM d, (SELECT unnest(range(0, 16)) AS i) i
        ), pv AS (
          SELECT doc_id, media_type, n_chars, bv, SUM(cnt) AS c
          FROM pos GROUP BY 1, 2, 3, 4
        ), ent AS (
          SELECT doc_id, media_type,
                 -SUM((CAST(c AS DOUBLE) / n_chars) * log2(CAST(c AS DOUBLE) / n_chars)) AS e
          FROM pv WHERE c > 0 GROUP BY 1, 2
        )
        SELECT d.media_type, COUNT(*) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS total_bytes,
               ROUND(CAST(SUM(CAST(ent.e AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) + 1e-9, 4) AS avg_entropy,
               COUNT(DISTINCT substr(md5(d.text), 1, 32)) AS distinct_heads,
               CAST(0 AS BIGINT) AS n_entropy_mismatch
        FROM d JOIN ent ON d.doc_id = ent.doc_id
        GROUP BY d.media_type ORDER BY d.media_type
    """,
}


QUERIES = {
    "mm_media_feature_rollup": media_feature_rollup,
}
