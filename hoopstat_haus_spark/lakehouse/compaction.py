"""Small-file compaction: candidate planner, range bounds, Z-order rewrite.

The reference ships a compaction *planner* only — file-size policy
MIN 5 / TARGET 25 / MAX 50 MB, a parquet size estimator, and a split
recommendation (``libs/hoopstat-data/hoopstat_data/partitioning.py:
90-163``) — and defers execution to S3 Tables ("3× faster queries via
automatic compaction", ``meta/adr/ADR-026:74-75``). This module is the
execution engine it never had, scaled for a 1000-executor cluster. One
path runs from plan to write:

- **Planner** (:func:`plan_compaction`): pure driver-side function over
  manifest rows (metadata, not data). Picks each partition's candidate
  files (undersized, oversized, not yet clustered, or carrying a
  deletion vector — compaction is the only physical rewriter, so this
  is where DELETE/UPDATE/MERGE's deleted rows leave disk); the unit writes
  :func:`output_file_count` files of the candidates' total bytes.
  Unit-testable with exact-value asserts, like the reference's
  ``test_partitioning.py``.
- **Bounds** (:func:`plan_unit_bounds`): each unit's n_out−1 Z-range
  cuts, merged from the manifest's per-file quantile sketches; only
  units sketched under another curve are sampled, in one fused scan per
  curve.
- **Executor** (:func:`compact_partition`): per `source` partition, ONE
  wide transform: read of the victim files under their deletion
  vectors (``table.read_touched``) → Z-key → each row's Z-range bucket
  (``_bucket``) → a write stage sized by bytes, one task per
  ``manifest.WRITE_TASK_BYTES`` of input (:func:`write_task_count`):
  contiguous bucket runs hash-route to their task (:func:`_route_reps`),
  or, for a one-task unit, no shuffle at all → parquet write through
  the one fused writer every data write shares
  (``manifest.write_data_files``: files and their manifest stats in the
  same job), which sorts each task by ``_zkey`` and rolls one file per
  bucket. Tasks are sized by bytes, so a small unit writes many files
  from one task. Output files get balanced row counts and DISJOINT
  Z-ranges — that disjointness is what makes manifest zmin/zmax
  pruning effective.
  ``TokenLakeTable.compact`` runs the units on their own session with
  AQE off: routing is explicit, so there is nothing to re-plan.

Skew handling: partitions are processed as independent units (hot
`source` values don't convoy behind cold ones, and each unit saturates
the cluster), and within a unit the bounds give every output bucket an
equal share of rows.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.zorder import with_zkey

_ROUTE_REPS_CACHE: dict[int, list[int]] = {}


def _route_reps(spark: SparkSession, n_out: int) -> list[int]:
    """Representative longs r_i with pmod(murmur3_hash(r_i), n_out) == i.

    ``df.repartition(n, key)`` hash-routes rows; routing the literal
    r_i therefore lands each run of Z-range buckets in its OWN partition
    i — range-partitioned output without RangePartitioner's sampling job
    (which re-reads full rows, tokens included, with no column pruning:
    the dominant cost of a naive repartitionByRange rewrite)."""
    if n_out in _ROUTE_REPS_CACHE:
        return _ROUTE_REPS_CACHE[n_out]
    rows = (
        spark.range(0, max(n_out * 64, 256))
        .select(F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(n_out)).alias("p"))
        .groupBy("p")
        .agg(F.min("id").alias("rep"))
        .collect()
    )
    reps = {r["p"]: r["rep"] for r in rows}
    out = [int(reps[i]) for i in range(n_out)]
    _ROUTE_REPS_CACHE[n_out] = out
    return out


@dataclass
class CompactionPolicy:
    """Engine defaults target cloud-scale files; tests shrink them.

    The reference's 5/25/50 MB policy was sized for Lambda memory
    (``meta/adr/ADR-020:65-69``); a 100 TB table wants 128 MB+ targets so
    a scan task amortizes open/seek costs.
    """

    min_file_bytes: int = 32 * 1024 * 1024
    target_file_bytes: int = 128 * 1024 * 1024
    max_file_bytes: int = 256 * 1024 * 1024


# rewrite a partition when at least this many of its files are candidates
MIN_INPUT_FILES = 2


def plan_compaction(entries: list[dict], policy: CompactionPolicy) -> dict[str, list[dict]]:
    """Candidate files per partition.

    A file is a rewrite candidate when it is undersized, oversized, not
    yet Z-clustered (zmin < 0), or carries a deletion vector. A
    partition is planned when it has at least ``MIN_INPUT_FILES``
    candidates, an oversized one or a DV'd one (a lone DV'd file is
    still rewritten, so deleted rows do leave disk); its output file
    count is :func:`output_file_count` of the candidates' bytes, cut
    into that many files by range bounds.
    """
    by_partition: dict[str, list[dict]] = {}
    for e in entries:
        by_partition.setdefault(e["partition"], []).append(e)

    plans: dict[str, list[dict]] = {}
    for part, files in sorted(by_partition.items()):
        candidates = [
            f
            for f in files
            if f["file_bytes"] < policy.min_file_bytes
            or f["file_bytes"] > policy.max_file_bytes
            or f["zmin"] < 0
            or f.get("dv_rows", 0) > 0
        ]
        if len(candidates) < MIN_INPUT_FILES and not any(
            f["file_bytes"] > policy.max_file_bytes or f.get("dv_rows", 0) > 0
            for f in candidates
        ):
            continue
        plans[part] = candidates
    return plans


def output_file_count(total_bytes: int, policy: CompactionPolicy) -> int:
    return max(1, math.ceil(total_bytes / policy.target_file_bytes))


def write_task_count(inputs: list[dict], n_out: int) -> int:
    """Writer tasks of a unit writing ``n_out`` files from ``inputs``:
    one per ``manifest.WRITE_TASK_BYTES`` of input, at most one per
    output file. At the default 128 MB target it equals ``n_out``."""
    total = sum(f["file_bytes"] for f in inputs)
    return min(n_out, max(1, math.ceil(total / mf.WRITE_TASK_BYTES)))


_BOUNDS_MIN_GRID = 256  # percentile points per partition in the bounds scan
_BOUNDS_FILE_CAP = 32
_BOUNDS_SAMPLE_MOD = 8  # keep at most ~1/8 of rows in the bounds scan


def _sample_files(entries: list[dict], cap: int = _BOUNDS_FILE_CAP) -> list[dict]:
    """Deterministic every-kth file subset for boundary estimation.

    Files are strided over their manifest ``zmin`` order, NOT path
    order: victim files can be CLUSTERED (e.g. MERGE/compaction output,
    each file a narrow zkey band), and a path-ordered subset of those
    would skip whole zkey ranges, leaving the quantile sketch blind in
    the gaps. Striding the zmin-sorted list keeps the sampled files
    spread across the key domain for clustered victims, and is a no-op
    distinction for unclustered ingest output (zmin = -1 everywhere,
    rows hash-distributed → any subset is unbiased). Capping bounds
    the planning scan at ~cap file opens per unit no matter how
    fragmented the input is — at 100 TB the boundary job must not
    touch a million footers."""
    ordered = sorted(entries, key=lambda e: (e.get("zmin", -1), e["file_path"]))
    if len(ordered) <= cap:
        return ordered
    step = len(ordered) / cap
    return [ordered[int(i * step)] for i in range(cap)]


def _bounds_from_sketches(entries: list[dict], n_out: int, curve: str = "zorder") -> list[int] | None:
    """Range boundaries from the manifest's per-file ``zq`` quantile
    sketches — pure driver-side arithmetic, ZERO data scanned.

    Each file contributes its sketch points weighted by its row count;
    the merged weighted CDF yields the unit's n_out−1 equal-mass cuts.
    Sketch resolution (31 points/file × files) dwarfs n_out, and
    boundary error only shifts output file sizes, bounded well inside
    the policy's max/target headroom. Returns None when any file lacks
    a sketch (pre-sketch manifest) or carries one computed with a
    DIFFERENT curve than this run's (``zq_curve`` tag) — Hilbert-key
    quantiles interpreted as Morton cuts, or vice versa, would skew
    output file sizes arbitrarily past the policy."""
    pts: list[tuple[int, float]] = []
    total = 0
    for e in entries:
        zq, r = e.get("zq"), e.get("row_count", 0)
        if not zq or e.get("zq_curve") != curve:
            return None
        pts.extend((int(z), r / len(zq)) for z in zq)
        total += r
    if not pts or total <= 0:
        return None
    pts.sort()
    targets = [j * total / n_out for j in range(1, n_out)]
    bounds: list[int] = []
    cum, ti = 0.0, 0
    for z, w in pts:
        cum += w
        while ti < len(targets) and cum >= targets[ti]:
            bounds.append(z)
            ti += 1
    while len(bounds) < n_out - 1:
        bounds.append(pts[-1][0])
    return bounds


def _scan_bounds(
    spark: SparkSession,
    table_path: str,
    units: dict[str, list[dict]],
    unit_n_out: dict[str, int],
    curve: str,
) -> dict[str, list[int]]:
    """Bounds for units the manifest sketches cannot answer: ONE
    column-pruned, hash-sampled scan over a bounded file subset per unit
    (:func:`_sample_files`) for all of them.

    Each partition gets a percentile grid of max(256, 4·n_out) points,
    n_out the largest among these units (accuracy scaled with it), read
    off by :func:`_bounds_from_sketches` as if it were one file's
    sketch. The sample rate comes from the sampled files' manifest row
    counts: ~1/8 of rows, but no fewer rows than grid points, so a unit
    of tiny files is read whole and no unit's sample comes up empty."""
    grid_n = max(_BOUNDS_MIN_GRID, 4 * max(unit_n_out[p] for p in units))
    sampled = {p: _sample_files(entries) for p, entries in units.items()}
    mods = {
        p: max(1, min(_BOUNDS_SAMPLE_MOD, sum(e["row_count"] for e in files) // grid_n))
        for p, files in sampled.items()
    }
    rate = F.create_map(*[F.lit(x) for p, m in mods.items() for x in (p, m)])
    skinny = (
        spark.read.option("basePath", os.path.join(table_path, "data"))
        .schema("doc_id string, n_tok int, source string")
        .parquet(*[os.path.join(table_path, e["file_path"]) for files in sampled.values() for e in files])
        .filter(F.pmod(F.xxhash64("doc_id", F.lit(7)), F.element_at(rate, F.col("source"))) == 0)
    )
    fracs = F.array(*[F.lit(i / grid_n) for i in range(1, grid_n)])
    rows = (
        with_zkey(skinny, curve=curve)
        .groupBy("source")
        .agg(F.percentile_approx("_zkey", fracs, F.lit(20 * grid_n)).alias("g"))
        .collect()
    )
    grids = {r["source"]: r["g"] for r in rows}
    out: dict[str, list[int]] = {}
    for part in units:
        grid = grids.get(part)
        if not grid:
            raise RuntimeError(f"bounds scan sampled no rows of partition {part!r}")
        sketch = {"zq": grid, "row_count": len(grid), "zq_curve": curve}
        out[part] = _bounds_from_sketches([sketch], unit_n_out[part], curve)
    return out


def plan_unit_bounds(
    spark: SparkSession,
    table_path: str,
    unit_entries: dict[str, list[dict]],
    unit_n_out: dict[str, int],
    curve: str = "zorder",
    curve_by_source: dict[str, str] | None = None,
) -> dict[str, list[int]]:
    """Range boundaries for EVERY unit: n_out−1 sorted cuts each ([] for
    a one-file unit) — the one bounds estimator compaction has.

    Manifest sketches answer first (:func:`_bounds_from_sketches`):
    merging the per-file ``zq`` quantile sketches the stats pass already
    computed needs no scan and no Spark job. Sampling fills in only
    where a sketch cannot — files sketched under another curve (Hilbert
    over Morton-sketched ingest) or predating sketches: those units
    share one fused scan per curve (:func:`_scan_bounds`).

    ``curve_by_source`` overrides the curve per partition (mixed-curve
    single-cycle compaction): each unit's sketches are matched against
    ITS curve, so the scans number ≤ distinct curves, not units.
    """
    cb = curve_by_source or {}
    out: dict[str, list[int]] = {}
    scan_units: dict[str, dict[str, list[dict]]] = {}
    for part, entries in unit_entries.items():
        n_out = unit_n_out.get(part, 1)
        if n_out <= 1:
            out[part] = []
            continue
        c = cb.get(part, curve)
        sketched = _bounds_from_sketches(entries, n_out, c)
        if sketched is None:
            scan_units.setdefault(c, {})[part] = entries
        else:
            out[part] = sketched
    for c, units in scan_units.items():
        out.update(_scan_bounds(spark, table_path, units, unit_n_out, c))
    return out


def compact_partition(
    table,
    schema,
    partition: str,
    inputs: list[dict],
    job_id: str,
    bounds: list[int],
    curve: str = "zorder",
) -> tuple[list[str], list[dict]]:
    """Rewrite one partition's victim files (manifest entries) into
    len(bounds)+1 files cut at ``bounds`` (from
    :func:`plan_unit_bounds`); returns (new relative paths, their
    manifest stats entries). The inputs are read under their deletion
    vectors, so the outputs hold only live rows and carry no DV.

    The write stage is sized by bytes, not by output files
    (:func:`write_task_count`): each row carries its range bucket as
    ``_bucket``, and contiguous bucket runs hash-route to
    ``n_tasks`` tasks (:func:`_route_reps`); a unit of one task — any
    unit under ``manifest.WRITE_TASK_BYTES`` — skips the shuffle
    (``coalesce(1)``). The frame goes through the one data writer
    (:func:`manifest.write_data_files`) with ``source`` as a literal:
    the writer sorts each task by ``_zkey``, a task rolls one file per
    bucket in that order, and the files' stats come back from the SAME
    job. Outputs are staged under ``.staging/<job_id>/source=<escaped
    partition>`` (the data dir's own escaped name, so no partition value
    can aim the writer's staging ``rmtree`` outside the job's staging
    dir) and renamed to deterministic
    ``compact-<job_id>-NNNNN.parquet`` names, numbered in bucket order;
    readers resolve files through the manifest, so they are invisible
    until the final snapshot commit.

    ``schema`` (the table's live schema) makes mixed-schema rewrites
    safe: files predating an evolved column read it as its default
    instead of the reader inferring one arbitrary file's footer and
    silently dropping the column from the compacted output.
    """
    from hoopstat_haus_spark.lakehouse.table import read_touched  # table imports this module

    spark = table.spark
    n_out = len(bounds) + 1
    n_tasks = write_task_count(inputs, n_out)
    df = with_zkey(read_touched(table, schema, inputs).drop("source"), curve=curve)
    if n_out > 1:
        b_arr = F.array(*[F.lit(int(b)) for b in bounds])
        bucket = F.aggregate(
            b_arr, F.lit(0), lambda acc, b: acc + F.when(F.col("_zkey") > b, 1).otherwise(0)
        )
        df = df.withColumn(mf.BUCKET_COL, bucket)
    if n_tasks > 1:
        reps = _route_reps(spark, n_tasks)
        # bucket b goes to task b·n_tasks // n_out: contiguous bucket
        # runs, so task order is bucket order. reps MUST stay LongType:
        # HashPartitioning is Murmur3 over the column's physical type,
        # and murmur3(int32 x) != murmur3(int64 x) — int literals here
        # silently randomize the bucket→task map
        task_rep = F.array(*[F.lit(reps[b * n_tasks // n_out]).cast("long") for b in range(n_out)])
        route = F.element_at(task_rep, F.col(mf.BUCKET_COL) + 1)
        df = df.repartition(n_tasks, route.alias("_route"))
    else:
        df = df.coalesce(1)

    # only THIS unit's staging dir is cleared and removed — other units
    # of the job may still be writing under .staging/<job_id>/
    return mf.write_data_files(
        df.withColumn("source", F.lit(partition)),
        table.path,
        os.path.join(
            table.path, ".staging", job_id, "source=" + mf._escape_partition_value(partition)
        ),
        f"compact-{job_id}",
        curve=curve,
    )
