"""Small-file compaction: bin-packing planner + Z-order rewrite executor.

The reference ships a compaction *planner* only — file-size policy
MIN 5 / TARGET 25 / MAX 50 MB, a parquet size estimator, and a split
recommendation (``libs/hoopstat-data/hoopstat_data/partitioning.py:
90-163``) — and defers execution to S3 Tables ("3× faster queries via
automatic compaction", ``meta/adr/ADR-026:74-75``). This module is the
execution engine it never had, scaled for a 1000-executor cluster:

- **Planner** (:func:`plan_compaction`): pure driver-side function over
  manifest rows (metadata, not data). First-fit-decreasing bin packing of
  undersized files into target-size groups; oversized files become split
  groups. Unit-testable with exact-value asserts, like the reference's
  ``test_partitioning.py``.
- **Executor** (:func:`compact_partition`): per `source` partition, ONE
  wide transform: column-pruned read of the victim files → JVM-side
  xxhash64 + Arrow Z-key kernel → ``repartitionByRange(n_out, _zkey)``
  → ``sortWithinPartitions(_zkey)`` → parquet write through the one
  fused writer every data write shares (``manifest.write_data_files``:
  files and their manifest stats in the same job). Range partitioning
  samples the key distribution, so output files get balanced bytes and
  DISJOINT Z-ranges — that disjointness is what makes manifest zmin/zmax
  pruning effective. AQE handles residual skew.

Skew handling: partitions are processed as independent units (hot
`source` values don't convoy behind cold ones, and each unit saturates
the cluster), and within a unit the shuffle key is the near-unique
Z-key, which cannot skew. For the no-sort binpack strategy the shuffle
key is a salted doc-hash (``pmod(xxhash64(doc_id), n_out)``).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse.zorder import with_zkey

_ROUTE_REPS_CACHE: dict[int, list[int]] = {}


def _route_reps(spark: SparkSession, n_out: int) -> list[int]:
    """Representative longs r_i with pmod(murmur3_hash(r_i), n_out) == i.

    ``df.repartition(n, key)`` hash-routes rows; routing the literal
    r_bucket therefore lands each Z-range bucket in its OWN partition —
    range-partitioned output without RangePartitioner's sampling job
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
    # rewrite a partition when at least this many files are undersized
    min_input_files: int = 2


@dataclass
class FileGroup:
    partition: str
    files: list[dict] = field(default_factory=list)

    @property
    def total_bytes(self) -> int:
        return sum(f["file_bytes"] for f in self.files)

    @property
    def paths(self) -> list[str]:
        return [f["file_path"] for f in self.files]


def plan_compaction(
    entries: list[dict],
    policy: CompactionPolicy,
    require_clustered: bool = True,
) -> dict[str, list[FileGroup]]:
    """First-fit-decreasing bin packing per partition.

    A file is a rewrite candidate when it is undersized, oversized, or
    (``require_clustered``) not yet Z-clustered (zmin < 0). Candidates are
    sorted by size descending and packed first-fit into bins capped at
    ``target_file_bytes`` — the classic FFD ≤ (11/9)·OPT + 1 bound keeps
    output counts near-optimal without a solver.
    """
    by_partition: dict[str, list[dict]] = {}
    for e in entries:
        by_partition.setdefault(e["partition"], []).append(e)

    plans: dict[str, list[FileGroup]] = {}
    for part, files in sorted(by_partition.items()):
        candidates = [
            f
            for f in files
            if f["file_bytes"] < policy.min_file_bytes
            or f["file_bytes"] > policy.max_file_bytes
            or (require_clustered and f["zmin"] < 0)
        ]
        if len(candidates) < policy.min_input_files and not any(
            f["file_bytes"] > policy.max_file_bytes for f in candidates
        ):
            continue
        bins: list[FileGroup] = []
        for f in sorted(candidates, key=lambda x: -x["file_bytes"]):
            placed = False
            if f["file_bytes"] <= policy.target_file_bytes:
                for b in bins:
                    if b.total_bytes + f["file_bytes"] <= policy.target_file_bytes:
                        b.files.append(f)
                        placed = True
                        break
            if not placed:
                bins.append(FileGroup(partition=part, files=[f]))
        plans[part] = bins
    return plans


def output_file_count(total_bytes: int, policy: CompactionPolicy) -> int:
    return max(1, math.ceil(total_bytes / policy.target_file_bytes))


_BOUNDS_GRID = 256


_BOUNDS_FILE_CAP = 32
_BOUNDS_SAMPLE_MOD = 8  # keep ~1/8 of rows in the planning sketch


def _sample_files(entries: list[dict], cap: int = _BOUNDS_FILE_CAP) -> list[str]:
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
    paths = [e["file_path"] for e in ordered]
    if len(paths) <= cap:
        return sorted(paths)
    step = len(paths) / cap
    return [paths[int(i * step)] for i in range(cap)]


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
    output file sizes arbitrarily past the policy; mismatches fall back
    to the scan."""
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


def plan_unit_bounds(
    spark: SparkSession,
    table_path: str,
    unit_entries: dict[str, list[dict]],
    unit_n_out: dict[str, int],
    curve: str = "zorder",
    curve_by_source: dict[str, str] | None = None,
) -> dict[str, list[int]]:
    """Range boundaries for EVERY pending unit — from manifest metadata
    when possible, one fused skinny job otherwise.

    Preferred path (:func:`_bounds_from_sketches`): merge the per-file
    ``zq`` quantile sketches the stats pass already computed — no scan,
    no Spark job, the units start immediately. Sketches are curve-tagged
    (``zq_curve``), so Hilbert compactions of Hilbert-sketched files
    plan metadata-only too; a curve mismatch (or pre-tag manifest)
    falls back to the scan.

    Fallback (pre-sketch/mismatched manifests): a single column-pruned,
    1/8-hash-sampled pass over a bounded file subset per unit
    (:func:`_sample_files`) computes a fixed {grid} -quantile sketch
    per partition, and each unit's n_out−1 boundaries are read off the
    grid driver-side (grid granularity ≥ 4× any realistic n_out, so
    the extra rounding shifts file sizes by ≪ the target/max headroom).
    One scan instead of one per unit.

    ``curve_by_source`` overrides the curve per partition (mixed-curve
    single-cycle compaction): each unit's sketches are matched against
    ITS curve, and the scan fallback runs one fused job per distinct
    curve among the units that need it (≤ number of curves, not units).
    """
    out: dict[str, list[int]] = {}
    scan_units: dict[str, list[dict]] = {}
    cb = curve_by_source or {}
    for part, entries in unit_entries.items():
        n_out = unit_n_out.get(part, 1)
        if n_out <= 1:
            continue
        sketched = _bounds_from_sketches(entries, n_out, cb.get(part, curve))
        if sketched is not None:
            out[part] = sketched
        else:
            scan_units[part] = entries

    by_curve: dict[str, dict[str, list[dict]]] = {}
    for part, entries in scan_units.items():
        by_curve.setdefault(cb.get(part, curve), {})[part] = entries
    data_dir = os.path.join(table_path, "data")
    fracs = [i / _BOUNDS_GRID for i in range(1, _BOUNDS_GRID)]
    for c, units in by_curve.items():
        all_paths = [p for entries in units.values() for p in _sample_files(entries)]
        if not all_paths:
            continue
        skinny = (
            spark.read.option("basePath", data_dir)
            .parquet(*[os.path.join(table_path, p) for p in all_paths])
            .select("source", "doc_id", "n_tok")
            .filter(F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(_BOUNDS_SAMPLE_MOD)) == 0)
        )
        skinny = with_zkey(skinny, curve=c)
        rows = (
            skinny.groupBy("source")
            .agg(F.percentile_approx("_zkey", F.array(*[F.lit(f) for f in fracs]), F.lit(5000)).alias("g"))
            .collect()
        )
        grids = {r["source"]: r["g"] for r in rows}
        for part in units:
            n_out = unit_n_out[part]
            grid = grids.get(part)
            if not grid or n_out > _BOUNDS_GRID // 4:
                continue  # huge unit: grid too coarse → per-unit estimation
            out[part] = [
                int(grid[min(len(grid) - 1, max(0, round(j * _BOUNDS_GRID / n_out) - 1))])
                for j in range(1, n_out)
            ]
    return out


def compact_partition(
    spark: SparkSession,
    table_path: str,
    partition: str,
    input_rel_paths: list[str],
    total_bytes: int,
    policy: CompactionPolicy,
    job_id: str,
    curve: str = "zorder",
    strategy: str = "sort",
    read_ddl: str | None = None,
    bounds: list[int] | None = None,
) -> tuple[list[str], list[dict]]:
    """Rewrite one partition's victim files; returns (new relative
    paths, their manifest stats entries).

    The routed, ``_zkey``-sorted frame goes through the one data writer
    (:func:`manifest.write_data_files`) with ``source`` as a literal:
    each task holds one source, so it writes exactly one file, in its
    sorted order, and its stats come back from the SAME job. Outputs are
    staged under ``.staging/<job_id>/<partition>`` and renamed to
    deterministic ``compact-<job_id>-NNNNN.parquet`` names; readers
    resolve files through the manifest, so they are invisible until the
    final snapshot commit.

    ``read_ddl`` (the table schema + _zkey) makes mixed-schema rewrites
    safe: files predating an evolved column read it as NULL instead of
    the reader inferring one arbitrary file's footer and silently
    dropping the column from the compacted output.
    """
    data_dir = os.path.join(table_path, "data")
    abs_paths = [os.path.join(table_path, p) for p in input_rel_paths]
    n_out = output_file_count(total_bytes, policy)

    reader = spark.read.option("basePath", data_dir)
    if read_ddl:
        reader = reader.schema(read_ddl)
    df = reader.parquet(*abs_paths).drop("source", "_zkey")
    if strategy == "sort":
        df = with_zkey(df, curve=curve)
        if n_out > 1:
            if bounds is None:
                # boundary estimation on a COLUMN-PRUNED scan: reads
                # only (doc_id, n_tok) — a few % of bytes since `tokens`
                # never loads — thinned to a deterministic ~1/4 hash
                # sample (RangePartitioner samples too; boundary error
                # shifts file sizes a few %, well under target/max
                # headroom). Callers that plan many units should pass
                # precomputed ``bounds`` from plan_unit_bounds() — ONE
                # job for all units instead of one per unit.
                skinny = (
                    spark.read.option("basePath", data_dir)
                    .parquet(*abs_paths)
                    .select("doc_id", "n_tok")
                    .filter(F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(4)) == 0)
                )
                skinny = with_zkey(skinny, curve=curve)
                fracs = [i / n_out for i in range(1, n_out)]
                bounds = skinny.agg(
                    F.percentile_approx("_zkey", F.array(*[F.lit(f) for f in fracs]), F.lit(5000))
                ).collect()[0][0]
                if not bounds:  # degenerate unit: sample came up empty
                    full = with_zkey(
                        spark.read.option("basePath", data_dir)
                        .parquet(*abs_paths)
                        .select("doc_id", "n_tok"),
                        curve=curve,
                    )
                    bounds = full.agg(
                        F.percentile_approx(
                            "_zkey", F.array(*[F.lit(f) for f in fracs]), F.lit(5000)
                        )
                    ).collect()[0][0] or [0] * (n_out - 1)
            b_arr = F.array(*[F.lit(int(b)) for b in bounds])
            bucket = F.aggregate(
                b_arr, F.lit(0), lambda acc, b: acc + F.when(F.col("_zkey") > b, 1).otherwise(0)
            )
            reps = _route_reps(spark, n_out)
            # reps MUST stay LongType: HashPartitioning is Murmur3 over the
            # column's physical type, and murmur3(int32 x) != murmur3(int64 x)
            # — int literals here silently randomize the bucket→partition map
            route = F.element_at(F.array(*[F.lit(r).cast("long") for r in reps]), bucket + 1)
            df = df.repartition(n_out, route.alias("_route")).sortWithinPartitions("_zkey")
        else:
            df = df.coalesce(1).sortWithinPartitions("_zkey")
    elif strategy == "binpack":
        # no clustering: salted even-byte split, no sort cost
        df = df.repartition(n_out, F.pmod(F.xxhash64("doc_id"), F.lit(n_out)))
        df = with_zkey(df, curve=curve)  # still stamp the key for future pruning
        df = df.sortWithinPartitions("_zkey")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    # only THIS unit's staging dir is cleared and removed — other units
    # of the job may still be writing under .staging/<job_id>/
    return mf.write_data_files(
        df.withColumn("source", F.lit(partition)),
        table_path,
        os.path.join(table_path, ".staging", job_id, partition),
        f"compact-{job_id}",
        curve=curve,
    )


def estimate_parquet_bytes(row_count: int, avg_tokens: float) -> int:
    """Planner-side size estimate: int32 tokens dominate; parquet gets
    ~0.7 compression on this payload (the reference assumed the same
    ratio, ``partitioning.py:99-113``)."""
    raw = row_count * (4 * avg_tokens + 40)
    return int(raw * 0.7)
