"""hoopstat_haus_spark — a PySpark-native lakehouse table-maintenance engine.

A from-scratch re-expression of the capabilities of the reference repo
``efischer19/hoopstat-haus`` (a medallion NBA-analytics lakehouse) as an
idiomatic Spark DataFrame engine, centered on Iceberg-style table
maintenance over tables of pre-tokenized training sequences
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``:

- small-file compaction into target-size files (reference planner:
  ``libs/hoopstat-data/hoopstat_data/partitioning.py:90-163``)
- Z-order / Hilbert multi-dimensional clustering (reference rejected hash
  partitioning for lacking query benefits, ``meta/adr/ADR-020``; we give it
  real clustering)
- manifest rewrite with per-file min/max stats (reference summary manifest:
  ``apps/bronze-ingestion/app/bronze_summary.py``)
- snapshot commit / expiry / reachability GC (reference ready-markers:
  ``libs/hoopstat-s3/hoopstat_s3/silver_s3_manager.py:314-376``)
- MERGE INTO / DELETE / UPDATE as partition-pruned matches recorded in
  deletion vectors, the copy-on-write rewrite deferred to compaction
  (reference quarantine replay: ``apps/bronze-ingestion/app/replay.py``)
- per-partition lineage checkpoints + resumable compaction (reference idempotent
  re-run orchestration: ``apps/gold-analytics/app/processors.py:1022-1180``)

Plus the reference's analytic operator surface (aggregations, windows,
joins, top-k, quality checks — SURVEY.md §2) re-expressed over Spark
DataFrames, and the training-data-pipeline operators a 100 TB corpus
needs (dedup, similarity search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
