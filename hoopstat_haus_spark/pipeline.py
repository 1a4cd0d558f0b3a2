"""The end-to-end training-corpus pipeline: every stage an LLM data
build runs, composed from this engine's operators.

    documents
      → scrub                 (optional: PII redaction + in-document
                               line dedup — ``text/scrub``)
      → quality filter        (Gopher-style composite gate)
      → exact dedup           (normalized-content digest, keep min doc_id)
      → near dedup            (MinHash LSH candidates, exact-Jaccard
                               verified, drop the greater doc of a pair)
      → decontamination       (benchmark n-gram overlap, optional)
      → tokenize              (closed-form generator — stands in for a
                               real tokenizer; same expressions as
                               ``tables.from_documents``)
      → lake dedup            (optional: drop docs whose token content an
                               existing TokenLakeTable already holds —
                               skinny sig join against its DigestIndex)
      → mix                   (optional: per-source token budgets,
                               content-keyed gate — ``tables/mixing``)
      → pack                  (optional: fixed-length training
                               sequences — ``tables/packing``)
      → lakehouse ingest      (optional: CREATE or MERGE a TokenLakeTable)

Scale design: one (doc_id, shingles) frame is built over the quality+
exact-dedup SURVIVORS, localCheckpoint-materialized once, and shared by
the two consumers that need shingles (near-dedup candidate generation /
verification and decontamination) — the same sharing discipline
``text/dedup.py`` applies corpus-wide. Stage survivors materialize via
lazy localCheckpoint so each stage's work runs once even though the next
stage and the metrics count both consume it (a production pipeline would
persist stage outputs as tables; executor-local blocks are the batch-job
analog). All stages are native Column expressions — the pipeline
inherits every underlying operator's plan properties (broadcast
benchmark, capped LSH buckets, no corpus-side wide shuffle outside the
dedup aggregations themselves).

Determinism: survivor sets depend only on content (digest min-doc-id,
pair greater-doc-id drops, fixed thresholds), so re-runs produce
byte-identical corpora — required for reproducible training data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hoopstat_haus_spark.operators.common import load
from hoopstat_haus_spark.tables.mixing import mixed_corpus
from hoopstat_haus_spark.tables.packing import pack_sequences, shuffle_sequences
from hoopstat_haus_spark.tables.token_table import tokenize_documents
from hoopstat_haus_spark.text.analysis import gopher_pass
from hoopstat_haus_spark.text.decontaminate import contamination_report_from
from hoopstat_haus_spark.text.dedup import _minhash_verified, word_shingles


@dataclass
class PipelineReport:
    """Per-stage surviving-document counts (the metrics a data-pipeline
    run logs; reference analog: the per-job performance records)."""

    stages: dict = field(default_factory=dict)

    def record(self, stage: str, n: int) -> None:
        self.stages[stage] = n


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    benchmark: DataFrame | None = None,
    near_dup_threshold: float = 0.6,
    min_hits: int = 2,
    budgets: dict[str, int] | None = None,
    seq_len: int | None = None,
    n_shards: int = 64,
    shuffle_out_shards: int | None = None,
    shuffle_salt: str = "shuf",
    scrub: bool = False,
    dedupe_against=None,
    dedupe_index: str = "content_sigs",
    refresh_lake_index: bool = True,
) -> tuple[DataFrame, PipelineReport]:
    """Run the full pipeline; returns (token table of the cleaned
    corpus — or packed sequences when ``seq_len`` is set — and the
    per-stage report). ``benchmark`` needs (bench_id, text);
    ``budgets`` maps source → token budget (see ``tables/mixing``);
    ``shuffle_out_shards`` additionally applies the deterministic
    training-order shuffle (``tables/packing.shuffle_sequences``) to the
    packed output — requires ``seq_len``; ``scrub`` PII-redacts and
    line-dedups text before quality filtering (``text/scrub``);
    ``dedupe_against`` (a :class:`TokenLakeTable`) drops tokenized docs
    whose token content already exists in that lake table — the
    don't-retrain-on-what-you-already-hold gate — via its persisted
    :class:`~hoopstat_haus_spark.lakehouse.digest_index.DigestIndex`
    named ``dedupe_index``. ``refresh_lake_index=True`` (default)
    brings the index to the table head first — NOTE this WRITES under
    the lake table's directory (builds the index on first use, a full
    lake scan); a consumer with read-only access to the lake should
    maintain the index from the table's own maintenance jobs (CLI
    ``digest-index``) and pass ``refresh_lake_index=False``, accepting
    that an index behind head under-drops (never over-drops)."""
    if shuffle_out_shards is not None and seq_len is None:
        raise ValueError("shuffle_out_shards requires seq_len (only sequences shuffle)")
    rep = PipelineReport()
    docs = load(spark, sf_dir, "documents")
    rep.record("input", docs.count())

    # 0. scrub (optional) — PII redaction + in-document line dedup,
    #    a stateless projection (drops no docs, so the count is free);
    #    audit columns stay out of the corpus schema
    if scrub:
        from hoopstat_haus_spark.text.scrub import scrub_documents

        docs = scrub_documents(docs).drop("n_lines_removed", "pii")
        rep.record("scrubbed", rep.stages["input"])

    # 1. quality — native expressions, codegen, no shuffle
    q = docs.filter(gopher_pass(F.col("text"))).localCheckpoint(eager=False)
    rep.record("quality", q.count())

    # 2. exact dedup — keep min doc_id per digest via ONE window shuffle
    #    (a keep-set semi-join would shuffle the corpus anyway, and the
    #    keep set is O(corpus) — not broadcastable at scale)
    digest = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    w = Window.partitionBy(digest).orderBy("doc_id")
    exact = (
        q.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )
    rep.record("exact_dedup", exact.count())

    # one shingle frame for BOTH remaining text stages
    npart = spark.sparkContext.defaultParallelism
    shingled = (
        exact.repartition(npart, "doc_id")
        .select("doc_id", word_shingles(F.col("text")).alias("shingles"))
        .localCheckpoint(eager=False)
    )

    # 3. near dedup — verified pairs emit doc1 < doc2; drop every doc
    #    that has a verified near-duplicate with a SMALLER id (greedy
    #    keep-first). Docs that were never measured similar both stay,
    #    even when a shared neighbor links them transitively — the
    #    threshold, not the link graph, defines "duplicate" here.
    pairs = _minhash_verified(shingled, near_dup_threshold)
    drop = pairs.select(F.col("doc2").alias("doc_id")).distinct()
    # NO broadcast hint on the drop set: near-dup fractions at web scale
    # run 20-50% of the corpus, so the set is O(corpus) in the worst
    # case — AQE broadcasts it when the measured size is small and falls
    # back to a shuffle anti-join when it is not (a forced broadcast
    # would OOM the driver exactly on the dirtiest inputs)
    near = exact.join(drop, "doc_id", "left_anti").localCheckpoint(eager=False)
    rep.record("near_dedup", near.count())

    survivors = near
    if benchmark is not None:
        # 4. decontamination — over the SAME shingle frame, restricted to
        #    still-surviving docs by ANTI-joining the small drop set (a
        #    semi-join on the survivor ids would broadcast O(corpus))
        flagged = contamination_report_from(
            shingled.join(drop, "doc_id", "left_anti"),  # drop is unbounded — AQE picks
            benchmark,
            min_hits,
        ).select("doc_id")
        survivors = near.join(F.broadcast(flagged), "doc_id", "left_anti").localCheckpoint(
            eager=False
        )
        rep.record("decontaminated", survivors.count())

    # 5. tokenize
    tokens = tokenize_documents(survivors)
    rep.record("tokenized", rep.stages.get("decontaminated", rep.stages["near_dedup"]))

    # 5b. lake dedup (optional) — drop docs whose TOKEN content the lake
    #     table already holds. Both sides can be huge at scale (a full
    #     pipeline run × a 10^12-row lake), so no broadcast assumptions:
    #     the candidate side hashes once into a skinny (doc_id, sig)
    #     frame, the lake side is the persisted index's sig column, and
    #     the semi-join shuffles only those two skinny frames; the final
    #     anti-join's drop set is O(overlap) and AQE picks its join
    #     (same reasoning as the near-dedup drop set above).
    if dedupe_against is not None:
        from hoopstat_haus_spark.lakehouse.digest_index import DigestIndex
        from hoopstat_haus_spark.tables.token_table import token_sig

        ix = DigestIndex(dedupe_against, dedupe_index)
        if refresh_lake_index:
            ix.refresh()
        elif ix.state() is None:
            raise ValueError(
                f"digest index {dedupe_index!r} does not exist on {dedupe_against.path};"
                " build it with the digest-index maintenance job or pass"
                " refresh_lake_index=True"
            )
        # materialize the tokenize projection ONCE: the anti-join below
        # references tokens on its left AND under cand→dup_ids, and an
        # un-checkpointed projection would run twice in the same job
        tokens = tokens.localCheckpoint(eager=False)
        cand = tokens.select("doc_id", token_sig(F.col("tokens")).alias("_sig"))
        existing = ix.to_df().select(F.col("sig").alias("_sig"))
        dup_ids = cand.join(existing, "_sig", "left_semi").select("doc_id")
        tokens = tokens.join(dup_ids, "doc_id", "left_anti").localCheckpoint(eager=False)
        rep.record("lake_dedup", tokens.count())

    # 6. mix — thin each source to its token budget (content-keyed gate,
    #    shuffle-free; thresholds planned from a 5-row totals aggregate)
    if budgets is not None:
        tokens = mixed_corpus(tokens, budgets).localCheckpoint(eager=False)
        rep.record("mixed", tokens.count())

    # 7. pack — fixed-length training sequences (one payload shuffle on
    #    (source, shard)); the return schema switches to sequences
    if seq_len is not None:
        # checkpoint like every other counted stage: the report count and
        # the caller's write must not each replay the packing shuffle
        tokens = pack_sequences(tokens, seq_len, n_shards).localCheckpoint(eager=False)
        rep.record("packed_sequences", tokens.count())
        # 8. training-order shuffle — a permutation (no count change, no
        #    extra action): one shuffle on the content-keyed out-shard
        if shuffle_out_shards is not None:
            tokens = shuffle_sequences(tokens, shuffle_out_shards, shuffle_salt)
            rep.record("shuffled", rep.stages["packed_sequences"])
    return tokens, rep
