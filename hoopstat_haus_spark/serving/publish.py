"""Gold-artifact publisher: registry query results → static JSON + index.

Reference ancestor: the gold-analytics artifact writer
(``apps/gold-analytics/app/json_artifacts.py:79-145``: per-entity JSON
documents capped at 100 KB) and the ADR-024 catalog
(``index/latest.json`` listing every dataset; < 50 ms discovery).

Design:

- Each published query becomes ``<root>/<query>/<pub_id>/<page>.json``,
  newline-JSON records in the query's own deterministic ORDER BY, paged
  so no artifact exceeds the byte cap (the reference's Lambda-memory
  and client-fetch bound; a serving CDN caches small immutable objects
  well). The page directory is NEW per publish (pub_id = publish
  timestamp): pages are write-once, so a republish never mutates a URI
  a reader (or CDN) already holds — readers resolve page URIs only
  through the index, exactly like data files resolve only through the
  snapshot manifest.
- ``index/latest.json`` lists every artifact {resource_uri, rows,
  bytes} plus per-query row totals and the publish timestamp. It is
  replaced ATOMICALLY LAST (``lakehouse.snapshots.write_atomic``, the
  one metadata write of the lakehouse) — a reader always sees either
  the complete new catalog or the previous one, the same
  commit-ordering rule as a lakehouse snapshot record; and since
  pages are immutable, the OLD catalog's pages stay intact for
  in-flight readers (the previous publish is retained; older ones are
  pruned after the swap).
- Results STREAM through the driver (``toJSON().toLocalIterator()`` →
  one page in memory at a time): gold artifacts are pre-aggregated
  rollups/leaderboards (KB-scale) so this rarely matters, but a
  publisher pointed at a large result is bounded by the page cap plus
  one result partition, never the full result.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from hoopstat_haus_spark.lakehouse import snapshots

MAX_ARTIFACT_BYTES = 100 * 1024

# rollup/leaderboard-shaped gates: small, stable, useful to serve
DEFAULT_GOLD_QUERIES = [
    "agg_pricing_summary",
    "agg_events_by_type",
    "win_part_leaderboard",
    "join_revenue_by_nation",
    "text_source_quality_rollup",
    "q_quality_score",
]


def _new_pub_id(out_root: str, name: str) -> str:
    """Fresh write-once page-directory id for one publish of ``name``."""
    base = f"p{int(time.time() * 1000):013d}"
    pub_id = base
    i = 0
    while os.path.exists(os.path.join(out_root, name, pub_id)):
        i += 1
        pub_id = f"{base}-{i}"
    return pub_id


def _write_pages(
    line_iter, out_root: str, name: str, cap: int, extra: dict | None = None
) -> tuple[list[dict], int]:
    """Stream newline-JSON lines into ≤``cap``-byte page files under a
    FRESH ``<out_root>/<name>/<pub_id>/`` directory; returns
    (page records, total rows).

    Pages are write-once: a republish never overwrites a URI an
    in-flight reader (or CDN) resolved from the previous index, and a
    smaller republish can't leave higher-numbered stale pages
    fetchable under the new catalog — the index is the only resolution
    path, like data files behind the snapshot manifest.

    Only the CURRENT page is ever held in memory, so driver memory is
    bounded by the page cap no matter how large the published result is
    (the caller feeds ``df.toJSON().toLocalIterator()``, which fetches
    one partition at a time — a full-table publish can't OOM the
    driver the way a ``collect()`` would). Partition order follows
    partition index, so a query's global ORDER BY survives paging."""
    pub_id = _new_pub_id(out_root, name)
    os.makedirs(os.path.join(out_root, name, pub_id), exist_ok=True)
    records: list[dict] = []
    page: list[str] = []
    size = 0
    total = 0

    def flush() -> None:
        nonlocal page, size
        rel = f"{name}/{pub_id}/{len(records):04d}.json"
        path = os.path.join(out_root, rel)
        body = "\n".join(page) + ("\n" if page else "")
        snapshots.write_atomic(path, body)
        rec = {
            "resource_uri": rel[: -len(".json")],
            "rows": len(page),
            "bytes": len(body.encode()),
        }
        if extra:
            rec.update(extra)
        records.append(rec)
        page, size = [], 0

    for line in line_iter:
        n = len(line.encode()) + 1
        if n > cap:
            # one row alone would breach the byte cap the serving layer
            # promises (the reference's Lambda-memory / client-fetch
            # bound) — fail loudly instead of shipping an oversize page
            raise ValueError(
                f"publish {name!r}: a single row serializes to {n} bytes, "
                f"over the {cap}-byte artifact cap — raise max_artifact_bytes "
                "or slim the rollup"
            )
        if page and size + n > cap:
            flush()
        page.append(line)
        size += n
        total += 1
    flush()  # an empty result still publishes one (empty) page
    return records, total


def _prune_old_publishes(out_root: str, names: list[str], keep: int = 2) -> None:
    """After the index swap, drop page dirs older than the newest
    ``keep`` per query (current + previous: in-flight readers of the
    OLD catalog keep resolving while the new one takes over)."""
    for name in names:
        d = os.path.join(out_root, name)
        if not os.path.isdir(d):
            continue
        pubs = sorted(p for p in os.listdir(d) if p.startswith("p"))
        for stale in pubs[:-keep] if keep else pubs:
            import shutil

            shutil.rmtree(os.path.join(d, stale), ignore_errors=True)


def _write_index(out_root: str, index: dict) -> None:
    """Commit the catalog ATOMICALLY LAST (``snapshots.write_atomic``):
    a reader always sees either the complete new index or the previous
    one — the same ordering rule as a lakehouse snapshot record. Both
    publishers share this so the commit protocol can't drift."""
    os.makedirs(os.path.join(out_root, "index"), exist_ok=True)
    snapshots.write_atomic(
        os.path.join(out_root, "index", "latest.json"), json.dumps(index, indent=1)
    )


def publish_gold_artifacts(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    query_names: list[str] | None = None,
    max_artifact_bytes: int = MAX_ARTIFACT_BYTES,
) -> dict:
    """Materialize the named registry queries as static artifacts under
    ``out_root``; returns the index document (also written to
    ``index/latest.json``)."""
    from hoopstat_haus_spark import registry

    queries = registry.all_queries()
    names = query_names or DEFAULT_GOLD_QUERIES
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise KeyError(f"unknown registry queries: {unknown}")

    artifacts = []
    datasets = {}
    for name in names:
        df = queries[name](spark, sf_dir)
        # toJSON serializes JVM-side; toLocalIterator ships one
        # partition of result strings at a time (see _write_pages)
        page_records, nrows = _write_pages(
            df.toJSON().toLocalIterator(), out_root, name, max_artifact_bytes
        )
        artifacts.extend(page_records)
        datasets[name] = {"rows": nrows, "pages": len(page_records)}

    index = {
        "format_version": 1,
        "published_at_ms": int(time.time() * 1000),
        "sf_dir": sf_dir,
        "datasets": datasets,
        "artifacts": artifacts,
    }
    _write_index(out_root, index)
    _prune_old_publishes(out_root, names)
    return index


def publish_table_artifacts(
    table,
    out_root: str,
    rollups: dict[str, object],
    snapshot_id: int | None = None,
    tag: str | None = None,
    max_artifact_bytes: int = MAX_ARTIFACT_BYTES,
) -> dict:
    """Publish rollups of a :class:`TokenLakeTable` from ONE pinned
    snapshot.

    The snapshot id is resolved ONCE at entry (head at call time, or an
    explicit ``snapshot_id``) and every rollup runs over
    ``table.scan(snapshot_id=pinned)`` — so a publisher racing
    concurrent maintenance (a compact/MERGE committing between two
    rollup materializations) still emits artifacts of a single
    consistent table state, and every artifact record AND the index
    carry that ``snapshot_id`` for the reader to verify (reference
    analog: the ADR-024 catalog's per-dataset version).

    ``rollups`` maps artifact name → callable(DataFrame) → DataFrame,
    each receiving the PINNED scan.

    ``tag`` publishes a NAMED snapshot ref ("serve the corpus a model
    trained on"): it resolves once at entry and the tag name rides the
    index next to the resolved snapshot id.
    """
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass either snapshot_id or tag, not both")
        snapshot_id = table.log.resolve_tag(tag)
    pinned = snapshot_id if snapshot_id is not None else table.log.current_id()
    artifacts = []
    datasets = {}
    for name, fn in rollups.items():
        df = fn(table.scan(snapshot_id=pinned))
        page_records, nrows = _write_pages(
            df.toJSON().toLocalIterator(),
            out_root,
            name,
            max_artifact_bytes,
            extra={"snapshot_id": pinned},
        )
        artifacts.extend(page_records)
        datasets[name] = {"rows": nrows, "pages": len(page_records), "snapshot_id": pinned}

    index = {
        "format_version": 1,
        "published_at_ms": int(time.time() * 1000),
        "table_path": table.path,
        "snapshot_id": pinned,
        **({"tag": tag} if tag is not None else {}),
        "datasets": datasets,
        "artifacts": artifacts,
    }
    _write_index(out_root, index)
    _prune_old_publishes(out_root, list(rollups))
    return index
