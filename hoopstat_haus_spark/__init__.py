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

import os
import sys
import threading
import zipimport

__version__ = "0.1.0"


def _reuse_unchanged_zip_directories():
    """Make ``importlib.invalidate_caches()`` re-read only changed zip archives.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python-worker task. On CPython < 3.13 each ``zipimporter`` on the path
    then re-reads its archive's whole directory — pyspark.zip has 1328
    entries and a worker holds ~16 importers over it and the py4j zip —
    which costs 0.13-0.22 s of CPU per task before it sees a row. This
    swaps ``zipimporter.invalidate_caches`` for one that re-reads an
    archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs from
    the stat taken before its last read, so a rewritten archive is still
    re-read. CPython 3.13 already invalidates lazily and is left alone.

    Runs at package import, i.e. in the driver and in every worker that
    unpickles an engine task body. Archives already cached at that point
    are stamped as they stand; in a worker PySpark read them moments
    before, at the start of the same task. Idempotent.
    """
    if sys.version_info >= (3, 13):
        return
    read = zipimport.zipimporter.invalidate_caches
    if getattr(read, "_stat_keyed", False):
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_ino, st.st_size, st.st_mtime_ns)

    stamps = {a: stamp(a) for a in list(zipimport._zip_directory_cache)}

    lock = threading.Lock()  # the stamp must describe the directory cached beside it

    def invalidate_caches(self):
        with lock:
            now = stamp(self.archive)
            files = zipimport._zip_directory_cache.get(self.archive)
            if now is not None and files is not None and stamps.get(self.archive) == now:
                self._files = files
                return
            read(self)
            stamps[self.archive] = now if self.archive in zipimport._zip_directory_cache else None

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reuse_unchanged_zip_directories()
