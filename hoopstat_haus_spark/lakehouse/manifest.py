"""Manifest: per-file stats, computed by the one fused data writer.

The reference keeps a summary manifest of per-entity file counts/sizes
(``apps/bronze-ingestion/app/bronze_summary.py:161-286``) and a JSON
catalog (``meta/adr/ADR-024``). We upgrade it to an Iceberg-style file
manifest with per-file min/max column stats so the scan layer can prune
files by predicate before Spark ever lists them.

Manifest row schema:
    file_path    string   (relative to table root)
    partition    string   (source value)
    row_count    long
    token_count  long     (sum of n_tok — lineage metric)
    min_doc_id / max_doc_id    string
    min_n_tok / max_n_tok      int
    zmin / zmax  long     (Z-order key range; -1 when file is unclustered)
    file_bytes   long
    zq           list<long>  (sample of the curve's inputs, below)
    dv_path      string   (the file's deletion vector; null when it has none)
    dv_rows / dv_tokens  long  (rows the DV deletes and their n_tok sum)

``row_count`` and ``token_count`` stay PHYSICAL (what the file holds);
the live counts are those minus ``dv_rows``/``dv_tokens``
(:func:`live_rows`).

``zq`` is what compaction plans its range cuts from, with no scan: a
sorted sample of ≤ ``ZQ_GRID``−1 of the file's rows, each packed as
``(xxhash64(doc_id) >>> 33) << 31 | max(n_tok, 0)`` (:func:`_zq_src`)
— the two inputs of every space-filling curve, not one curve's key, so
the planner can evaluate ANY curve on it (``zorder.zkey_np``). Rows
enter the sample by a fixed 1/``ZQ_SAMPLE_MOD`` doc-hash draw (all rows
of a file the draw misses), and the sorted sample is cut to evenly
spaced ranks. Sorting hash-major spreads the kept points evenly over
the hash axis.

Deletion vectors (Delta Lake's DV protocol, Iceberg v2 position
deletes): DELETE, UPDATE and MERGE remove rows by recording their
positions, never by rewriting the file. A DV is one small parquet of
sorted int64 ``row_index`` (:func:`write_dv`) next to its data file
under ``data/source=<s>/``; it holds the file's FULL deleted set, so a
later delete on the same file writes the union to a new DV file and
the entry swaps to it. Compaction is the only physical rewriter.

Every data write (create, append, merge, DML, WAP, compaction) goes
through :func:`write_data_files`: ONE job writes the files and folds
their stats (:func:`write_partitioned_with_stats`), then the files are
renamed out of staging. The writer sorts each task's rows by its file
key itself, so callers hand it unsorted frames, and each task streams
its batches into one file at a time (:func:`_write_task`): the Python
worker, which cannot spill, holds one open file whatever the source
count. :func:`compute_file_stats`, a column-pruned
re-read of written files, is the parity oracle the tests pin the
writer's stats against; no production path calls it.

Layout (Iceberg manifest-list design; reference ancestor ADR-024's JSON
catalog): a snapshot points at a LIST file (`_manifests/list-*.json`,
one record per partition with exact aggregates) which points at
per-partition SHARD parquets (`_manifests/shard-*.parquet`, one row per
data file). Commits (``table.commit_rewrite`` → :func:`update_manifest`)
rewrite only touched partitions' shards; at ~10^6 files / 10^4
partitions a single-partition MERGE writes KBs of metadata, not an
O(all-files) monolith, and planners read only the shards the list says
can matter.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import snapshots

ZKEY_COL = "_zkey"  # kept in data files: parquet footers carry its min/max
# a row's output file within its source (compaction's range bucket);
# keys the fused writer's files, never written into one
BUCKET_COL = "_bucket"

# input bytes one fused-writer task takes: DML new-row writes and each
# compaction unit's write stage size their task count by it. Python
# stages are sized by bytes, not by output files: fewer, fuller tasks
# mean fewer Arrow round trips and less shuffle.
WRITE_TASK_BYTES = 128 << 20

# the dv_* fields of a file without a deletion vector
DV_FREE = {"dv_path": None, "dv_rows": 0, "dv_tokens": 0}


def live_rows(e: dict) -> int:
    """Rows of a manifest entry that are not deleted by its DV."""
    return e["row_count"] - (e.get("dv_rows") or 0)


def live_tokens(e: dict) -> int:
    return e["token_count"] - (e.get("dv_tokens") or 0)


def _file_bytes(table_path: str, rel_paths: list[str]) -> dict[str, int]:
    return {p: os.path.getsize(os.path.join(table_path, p)) for p in rel_paths}


ZQ_GRID = 32  # per-file zq sample resolution (≤31 points)
ZQ_SAMPLE_MOD = 16  # zq draws from a deterministic 1/16 doc-hash sample

# the manifest-list format this code writes and reads; v3 lists point at
# shards whose zq holds packed curve inputs (v2 held Morton-key quantiles)
MANIFEST_FORMAT_VERSION = 3


def _zq_src():
    """A row's curve inputs packed into one non-negative long: the top 31
    bits of xxhash64(doc_id) over max(n_tok, 0) in the low 31 bits. Every
    curve clips n_tok below 0, so the clamp leaves the key unchanged."""
    hash_hi31 = F.shiftrightunsigned(F.xxhash64("doc_id"), 33)
    n_tok = F.greatest(F.col("n_tok"), F.lit(0)).cast("long")
    return F.shiftleft(hash_hi31, 31).bitwiseOR(n_tok)


def _zs_flag():
    """Whether a row is in its file's 1/ZQ_SAMPLE_MOD zq draw."""
    return F.pmod(F.xxhash64("doc_id", F.lit(13)), F.lit(ZQ_SAMPLE_MOD)) == 0


def _zq_grid_expr(zs):
    """EXECUTOR-side grid truncation of a sorted sample array down to
    ≤ ZQ_GRID−1 evenly ranked points, inside the agg's output projection.

    This bounds each manifest row at ≤31 longs BEFORE collect, so the
    stats pass's driver traffic is O(files × ZQ_GRID) no matter the file
    size — a whole-table stats pass at 10^6 files ships ~250 MB of
    sample points instead of the O(rows / ZQ_SAMPLE_MOD) raw samples
    (~100 GB at target scale) the round-4 driver-side truncation
    collected. Index arithmetic is done in exact-double territory
    (i·n < 2^53) so the picked points are bit-identical to the former
    Python ``zs[min(n-1, i*n//ZQ_GRID)]``."""
    n = F.size(zs).cast("long")
    picked = F.transform(
        F.sequence(F.lit(1), F.lit(ZQ_GRID - 1)),
        lambda i: F.element_at(
            zs, F.least(n, F.floor(i.cast("long") * n / F.lit(ZQ_GRID)) + F.lit(1)).cast("int")
        ),
    )
    return F.when(F.size(zs) > ZQ_GRID - 1, picked).otherwise(zs)


def uri_to_rel(table_path: str, uri: str) -> str:
    """Map an ``input_file_name()`` URI back to a table-relative path.
    The URI is URL-encoded END TO END (a space anywhere — root OR a
    partition value — arrives as %20, and an on-disk literal '%' from
    Spark's own partition escaping arrives as %25), so EVERY branch
    decodes exactly once; manifests store the decoded on-disk names.
    An unmappable URI raises — silently passing it through would plant
    it in the manifest as a file_path."""
    from urllib.parse import unquote, urlparse

    prefix = "file:" + table_path.rstrip("/") + "/"
    if uri.startswith(prefix):
        return unquote(uri[len(prefix):])
    p = unquote(urlparse(uri).path) if ":" in uri.split("/", 1)[0] else uri
    abs_root = os.path.abspath(table_path).rstrip("/") + "/"
    if p.startswith(abs_root):
        return p[len(abs_root):]
    raise ValueError(f"file {uri!r} is not under table root {table_path!r}")


def compute_file_stats(spark: SparkSession, table_path: str, rel_paths: list[str]) -> list[dict]:
    """One distributed pass: per-file row/token counts + min/max stats +
    the ``zq`` sample of the curve inputs (module docstring).

    The parity oracle: no production path calls this (every write
    computes its stats in :func:`write_partitioned_with_stats`); tests
    compare the writer's manifest entries against this re-read of the
    written files, so the stats definition below is the reference.

    Sample mechanics (round 4): a deterministic 1/{ZQ_SAMPLE_MOD}
    doc-hash sample of each file's packed inputs is collected sorted and
    cut to ≤{ZQ_GRID}−1 evenly ranked points — measured ~40% cheaper
    than percentile_approx, whose per-row GK updates dominated the stats
    pass regardless of accuracy. Accuracy is set by the UNIT-level
    merged sample (the planner weights every file's points by its row
    count, so sample length is free to vary). Files whose sample comes
    up empty (P = (15/16)^rows — only near-empty files in practice) get
    a bounded second pass that collects ALL their rows (each such file
    is tiny by construction), so every file carries a sample."""
    if not rel_paths:
        return []
    abs_paths = [os.path.join(table_path, p) for p in rel_paths]
    base = os.path.join(table_path, "data")
    df = spark.read.option("basePath", base).parquet(*abs_paths)
    has_zkey = ZKEY_COL in df.columns
    zmin = F.min(ZKEY_COL) if has_zkey else F.lit(-1).cast("long")
    zmax = F.max(ZKEY_COL) if has_zkey else F.lit(-1).cast("long")
    zsamp = F.when(_zs_flag(), _zq_src())
    rows = (
        df.groupBy(F.input_file_name().alias("file_uri"), F.col("source").alias("partition"))
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum("n_tok").cast("long").alias("token_count"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
            zmin.alias("zmin"),
            zmax.alias("zmax"),
            F.sort_array(F.collect_list(zsamp)).alias("zs_full"),
        )
        .select("*", _zq_grid_expr(F.col("zs_full")).alias("zs"))
        .drop("zs_full")
        .collect()
    )
    # normalize file URIs (file:///...) back to table-relative paths
    def to_rel(uri: str) -> str:
        return uri_to_rel(table_path, uri)

    # bounded second pass: files the 1/mod sample missed entirely are
    # tiny (P(empty) = ((mod-1)/mod)^rows), so collecting ALL their rows
    # is metadata-scale and gives every file a sample
    missed = [to_rel(r["file_uri"]) for r in rows if not r["zs"]]
    full_zs: dict[str, list] = {}
    if missed:
        small = spark.read.option("basePath", base).parquet(
            *[os.path.join(table_path, p) for p in missed]
        )
        for r2 in (
            small.groupBy(F.input_file_name().alias("file_uri"))
            .agg(F.sort_array(F.collect_list(_zq_src())).alias("zs_full"))
            .select("*", _zq_grid_expr(F.col("zs_full")).alias("zs"))
            .collect()
        ):
            full_zs[to_rel(r2["file_uri"])] = r2["zs"]

    sizes = _file_bytes(table_path, rel_paths)
    out = []
    for r in rows:
        rel = to_rel(r["file_uri"])
        d = r.asDict()
        d.pop("file_uri")
        zs = d.pop("zs") or full_zs.get(rel) or []
        d["zq"] = [int(z) for z in zs] or None  # already grid-truncated executor-side
        d["file_path"] = rel
        d["file_bytes"] = sizes[rel]
        d.update(DV_FREE)  # a freshly written file has no deletion vector
        out.append(d)
    return out


def _escape_partition_value(v: str) -> str:
    """Hive/Spark-compatible partition-dir escaping (the exact char set
    ``ExternalCatalogUtils.escapePathName`` encodes): control chars, DEL
    and ``"#%'*/:=?\\{[]^`` become %XX; everything else (including
    space and non-ASCII) passes through raw — so the fused writer's
    directory names are byte-identical to what ``partitionBy('source')``
    produced for the same values."""
    special = '"#%\'*/:=?\\{[]^'
    return "".join(
        f"%{ord(ch):02X}" if (ord(ch) < 32 or ord(ch) == 127 or ch in special) else ch
        for ch in v
    )


# the fused writer's one stats row per written file
_STATS_SCHEMA = pa.schema(
    [
        ("pid", pa.int32()),
        ("partition", pa.string()),
        ("dir", pa.string()),
        ("file_name", pa.string()),
        ("row_count", pa.int64()),
        ("token_count", pa.int64()),
        ("min_doc_id", pa.string()),
        ("max_doc_id", pa.string()),
        ("min_n_tok", pa.int32()),
        ("max_n_tok", pa.int32()),
        ("zmin", pa.int64()),
        ("zmax", pa.int64()),
        ("zq", pa.list_(pa.int64())),
    ]
)

# fused-writer buffering, in Arrow bytes (``RecordBatch.nbytes``): the
# open file's batches flush as one row group once they reach this cap.
# A task has at most one open file, so this bounds its buffer whatever
# the row width or source count — the Python worker cannot spill.
_FLUSH_BYTES_PER_FILE = 64 << 20


def parquet_codec_conf(spark: SparkSession) -> tuple[str | None, int | None]:
    """(codec, level) for the pyarrow writers, honoring the SAME session
    confs the JVM parquet writer reads — a caller that temporarily sets
    e.g. snappy (the bench's fragmented-ingest template) must get
    snappy from the fused writers too.

    Spark codec names are translated to pyarrow's: ``lz4raw``/``lz4_raw``
    map to pyarrow ``lz4`` (which writes the parquet LZ4_RAW codec);
    ``lzo`` has no pyarrow encoder and raises HERE, driver-side, instead
    of as an opaque executor task failure."""
    codec = spark.conf.get("spark.sql.parquet.compression.codec", "zstd").lower()
    if codec in ("uncompressed", "none"):
        return None, None
    if codec in ("lz4raw", "lz4_raw"):
        codec = "lz4"
    if codec == "lzo":
        raise ValueError(
            "spark.sql.parquet.compression.codec=lzo is not supported by the "
            "fused pyarrow writers (no LZO encoder); use zstd/snappy/gzip/lz4"
        )
    level = None
    if codec == "zstd":
        level = int(spark.conf.get("spark.hadoop.parquet.compression.codec.zstd.level", "1"))
    return codec, level


class FileStatsAcc:
    """THE per-file manifest-stats accumulator of the fused writer —
    one implementation of the stats definition, pinned against
    :func:`compute_file_stats`: fold Arrow batches with :meth:`add`,
    read the final stat fields from :meth:`finalize`.

    ``zq_src`` is the rows' packed curve inputs (:func:`_zq_src`),
    ``flag`` the JVM-computed zq sample membership and ``zk`` the stored
    ``_zkey`` (None for unclustered input, whose zmin/zmax stay -1). The
    sample is the ascending-sorted draw cut to ≤ ZQ_GRID−1 points, with
    the tiny-file all-rows fallback — index arithmetic identical to
    ``_zq_grid_expr``."""

    def __init__(self) -> None:
        self.n_rows = 0
        self.tok_sum = 0
        self.min_doc = self.max_doc = None
        self.min_nt = self.max_nt = None
        self.zmin = self.zmax = -1
        self.src_parts: list = []
        self.samp_parts: list = []

    def add(self, batch, zq_src, flag, zk=None) -> None:
        import pyarrow.compute as pc

        names = batch.schema.names
        self.n_rows += batch.num_rows
        nt = batch.column(names.index("n_tok"))
        self.tok_sum += pc.sum(nt).as_py() or 0
        mm = pc.min_max(nt)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        self.min_nt = lo if self.min_nt is None else min(self.min_nt, lo)
        self.max_nt = hi if self.max_nt is None else max(self.max_nt, hi)
        dm = pc.min_max(batch.column(names.index("doc_id")))
        dlo, dhi = dm["min"].as_py(), dm["max"].as_py()
        self.min_doc = dlo if self.min_doc is None else min(self.min_doc, dlo)
        self.max_doc = dhi if self.max_doc is None else max(self.max_doc, dhi)
        if zk is not None:
            zlo, zhi = int(zk.min()), int(zk.max())
            self.zmin = zlo if self.zmin < 0 else min(self.zmin, zlo)
            self.zmax = max(self.zmax, zhi)
        self.src_parts.append(zq_src)
        self.samp_parts.append(zq_src[flag])

    def finalize(self) -> dict:
        import numpy as np

        samp = np.concatenate(self.samp_parts)
        zs = np.sort(samp if len(samp) else np.concatenate(self.src_parts))  # tiny-file fallback
        n = len(zs)
        if n > ZQ_GRID - 1:
            zs = zs[[min(n - 1, i * n // ZQ_GRID) for i in range(1, ZQ_GRID)]]
        return {
            "row_count": self.n_rows,
            "token_count": self.tok_sum,
            "min_doc_id": self.min_doc,
            "max_doc_id": self.max_doc,
            "min_n_tok": self.min_nt,
            "max_n_tok": self.max_nt,
            "zmin": self.zmin,
            "zmax": self.zmax,
            "zq": [int(z) for z in zs],
        }


def _write_task(batches, staging: str, codec: str | None, codec_level: int | None):
    """One writer task (the ``mapInArrow`` body of
    :func:`write_partitioned_with_stats`): stream the task's sorted
    Arrow batches into parquet files under ``staging`` and yield one
    :data:`_STATS_SCHEMA` row per file.

    A file's key is its ``source`` value, plus its :data:`BUCKET_COL`
    value when the batches carry that column. Each batch is cut into
    zero-copy slices at key changes. A slice with the open file's key
    joins that file; any other key closes it and opens the next. Sorted
    input never brings a closed key back, so at most one ParquetWriter
    is open. A file's buffered slices flush as one row group at
    ``_FLUSH_BYTES_PER_FILE``; being one contiguous run, they pin at
    most two batches beyond the bytes they count. Files are named
    ``part-<pid>-<file ordinal>-<uuid>``, so sorting the names of one
    task's files gives their write order."""
    import numpy as np
    import pyarrow.compute as pc
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else 0
    out: dict[str, list] = {name: [] for name in _STATS_SCHEMA.names}
    cur = None  # the open file

    def flush():
        if cur["buf"]:
            cur["writer"].write_table(pa.Table.from_batches(cur["buf"]))
            cur["buf"], cur["buf_bytes"] = [], 0

    def close():
        flush()
        cur["writer"].close()
        for k, v in {"pid": pid, **cur["names"], **cur["acc"].finalize()}.items():
            out[k].append(v)

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        cols = batch.schema.names
        src = batch.column(cols.index("source"))
        if src.null_count:
            raise ValueError(
                "NULL value in partition column 'source': every written row "
                "must name its partition"
            )
        zk = None
        if ZKEY_COL in cols:
            zk = batch.column(cols.index(ZKEY_COL)).to_numpy(zero_copy_only=False)
        zq_src = batch.column(cols.index("_zq_src")).to_numpy(zero_copy_only=False)
        fl = batch.column(cols.index("_zs_flag")).to_numpy(zero_copy_only=False).astype(bool)
        bk = None
        change = pc.not_equal(src.slice(1), src.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        if BUCKET_COL in cols:
            bk = batch.column(cols.index(BUCKET_COL)).to_numpy(zero_copy_only=False)
            change = change | (bk[1:] != bk[:-1])
        drop = [c for c in ("source", "_zs_flag", "_zq_src", BUCKET_COL) if c in cols]
        cuts = [0, *(np.flatnonzero(change) + 1).tolist(), n]
        for a, b in zip(cuts, cuts[1:]):
            rows = batch.slice(a, b - a)
            data = rows.drop_columns(drop)
            key = (src[a].as_py(), None if bk is None else int(bk[a]))
            if cur is None or cur["key"] != key:
                if cur is not None:
                    close()
                d = f"source={_escape_partition_value(key[0])}"
                # the file ordinal is the count of files this task closed
                name = f"part-{pid:05d}-{len(out['pid']):05d}-{uuid.uuid4().hex[:8]}.parquet"
                path = os.path.join(staging, d, name)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                writer = pq.ParquetWriter(
                    path, data.schema, compression=codec or "none", compression_level=codec_level
                )
                cur = {
                    "key": key,
                    "names": {"partition": key[0], "dir": d, "file_name": name},
                    "writer": writer,
                    "buf": [],
                    "buf_bytes": 0,
                    "acc": FileStatsAcc(),
                }
            cur["buf"].append(data)
            cur["buf_bytes"] += data.nbytes
            cur["acc"].add(rows, zq_src[a:b], fl[a:b], None if zk is None else zk[a:b])
            if cur["buf_bytes"] >= _FLUSH_BYTES_PER_FILE:
                flush()
    if cur is not None:
        close()
    if out["pid"]:
        yield pa.RecordBatch.from_pydict(out, schema=_STATS_SCHEMA)


def write_partitioned_with_stats(
    df: DataFrame, staging: str, codec: str | None, codec_level: int | None
) -> list[dict]:
    """THE data writer: write ``df`` partitioned by ``source`` under
    ``staging`` AND compute every output file's manifest stats in the
    SAME job. Every data write goes through it (create, append, merge,
    DML, WAP and compaction, via :func:`write_data_files`); no job
    re-reads its own output for stats.

    The writer owns the order it depends on: it sorts each task's rows
    by ``source``, then ``_zkey`` when ``df`` carries it
    (``sortWithinPartitions``, so the JVM sorter buffers and spills, not
    the Python worker). A caller that already sorted that way, or by
    ``_zkey`` under a literal ``source``, gets no second Sort. Each task
    then runs :func:`_write_task`: one file per run of the file key —
    ``source``, or ``(source, _bucket)`` when ``df`` carries a
    :data:`BUCKET_COL` column (compaction's range buckets, monotone in
    ``_zkey``, never written) — with at most one ParquetWriter open,
    same codec/level as the JVM writer. A NULL ``source`` raises
    ``ValueError`` naming the partition column.

    Stats are bit-identical to :func:`compute_file_stats`: the same
    JVM-side helper columns (``_zs_flag`` and the packed curve inputs
    ``_zq_src``, never written), ascending sort, grid truncation and
    tiny-file all-rows fallback. Clustered inputs (``_zkey`` column
    present) record real zmin/zmax; unclustered ones record -1.

    Returns one dict per written file: ``partition`` (raw value),
    ``dir`` (escaped ``source=...`` dir under staging), ``file_name``,
    ``pid`` and the stat fields. Task-retry safe: names carry a fresh
    uuid per attempt and only files named in collected rows are
    renamed out of staging."""
    from pyspark.sql.pandas.types import from_arrow_schema

    has_zkey = ZKEY_COL in df.columns
    wide = df.sortWithinPartitions("source", *([ZKEY_COL] if has_zkey else []))
    wide = wide.withColumn("_zs_flag", _zs_flag()).withColumn("_zq_src", _zq_src())
    task = functools.partial(_write_task, staging=staging, codec=codec, codec_level=codec_level)
    return [r.asDict() for r in wide.mapInArrow(task, from_arrow_schema(_STATS_SCHEMA)).collect()]


def write_data_files(
    df: DataFrame, table_path: str, staging: str, prefix: str
) -> tuple[list[str], list[dict]]:
    """Write ``df`` (with a ``source`` column, in any row order: the
    writer sorts it) through :func:`write_partitioned_with_stats` into
    ``staging``, then rename each file to
    ``data/source=<s>/{prefix}-{seq:05d}.parquet``, numbered per
    partition in task, then file-ordinal order. Returns (new
    table-relative paths, their manifest entries).

    The one staged-rename step of every data write. Staged files are
    invisible to readers (they resolve files through a snapshot's
    manifest) until the caller commits the entries. ``staging`` is
    cleared first, so a crashed attempt's partial output is discarded,
    and removed at the end."""
    if os.path.exists(staging):
        shutil.rmtree(staging)
    os.makedirs(staging, exist_ok=True)
    codec, level = parquet_codec_conf(df.sparkSession)
    rows = write_partitioned_with_stats(df, staging, codec, level)
    new_rel: list[str] = []
    entries: list[dict] = []
    seq: dict[str, int] = {}
    for r in sorted(rows, key=lambda x: (x["dir"], x["pid"], x["file_name"])):
        d = r["dir"]
        seq[d] = seq.get(d, -1) + 1
        rel = f"data/{d}/{prefix}-{seq[d]:05d}.parquet"
        dst = os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(os.path.join(staging, d, r["file_name"]), dst)
        new_rel.append(rel)
        e = {k: v for k, v in r.items() if k not in ("pid", "dir", "file_name")}
        e["zq"] = [int(z) for z in r["zq"]] or None
        e.update(file_path=rel, file_bytes=os.path.getsize(dst), **DV_FREE)
        entries.append(e)
    shutil.rmtree(staging, ignore_errors=True)
    return new_rel, entries


def write_dv(table_path: str, entry: dict, positions) -> str:
    """Write the FULL deleted-position set of ``entry``'s data file as a
    new DV parquet (one int64 ``row_index`` column, sorted) next to the
    data file, tmp + rename; returns its table-relative path. Every
    write gets a fresh name, so a DV an older snapshot references is
    never overwritten — it becomes garbage only when that snapshot
    expires, and GC's data-dir walk and young-file guard cover it."""
    import numpy as np

    stem = os.path.splitext(entry["file_path"])[0]
    rel = f"{stem}.dv-{uuid.uuid4().hex[:12]}.parquet"
    abs_path = os.path.join(table_path, rel)
    pq.write_table(
        pa.table({"row_index": pa.array(np.asarray(positions, dtype=np.int64))}),
        abs_path + ".tmp",
    )
    os.replace(abs_path + ".tmp", abs_path)
    return rel


def read_dv(table_path: str, entry: dict):
    """The sorted deleted positions of ``entry``'s data file (an empty
    int64 array when it has no DV)."""
    import numpy as np

    if not entry.get("dv_path"):
        return np.empty(0, dtype=np.int64)
    tbl = pq.read_table(os.path.join(table_path, entry["dv_path"]), columns=["row_index"])
    return tbl.column(0).to_numpy()


_MANIFEST_FIELDS = [
    ("file_path", pa.string()),
    ("partition", pa.string()),
    ("row_count", pa.int64()),
    ("token_count", pa.int64()),
    ("min_doc_id", pa.string()),
    ("max_doc_id", pa.string()),
    ("min_n_tok", pa.int32()),
    ("max_n_tok", pa.int32()),
    ("zmin", pa.int64()),
    ("zmax", pa.int64()),
    ("file_bytes", pa.int64()),
    # sample of the curve inputs (module docstring): compaction's bounds
    ("zq", pa.list_(pa.int64())),
    # the file's deletion vector (module docstring)
    ("dv_path", pa.string()),
    ("dv_rows", pa.int64()),
    ("dv_tokens", pa.int64()),
]
MANIFEST_ARROW_SCHEMA = pa.schema(_MANIFEST_FIELDS)


# --------------------------------------------------------------- shards
#
# A snapshot's manifest is a LIST file (JSON, metadata-scale: one record
# per partition) pointing at per-partition SHARD parquets (one row per
# data file). Commits rewrite only the touched partitions' shards and
# carry the rest by reference — the Iceberg manifest-list design — so a
# MERGE into 1 of 10^4 partitions writes one shard + one small list, not
# an O(all-files) monolith. Planning reads only the shards it needs,
# guided by the list's exact per-shard aggregates.


def shard_record(partition: str, rel_path: str, entries: list[dict]) -> dict:
    """List-file record: exact per-shard aggregates so planners can skip
    reading shards that cannot contain work — the candidate test in
    plan_compaction (undersized / oversized / unclustered / DV'd file
    exists) and scan pruning (source, n_tok range) evaluate EXACTLY on
    these. ``row_count``/``token_count`` are LIVE (deletion vectors
    subtracted), so the snapshot summary's ``rows`` is the live count."""
    return {
        "partition": partition,
        "path": rel_path,
        "n_files": len(entries),
        "row_count": int(sum(live_rows(e) for e in entries)),
        "token_count": int(sum(live_tokens(e) for e in entries)),
        "file_bytes": int(sum(e["file_bytes"] for e in entries)),
        "min_file_bytes": int(min(e["file_bytes"] for e in entries)),
        "max_file_bytes": int(max(e["file_bytes"] for e in entries)),
        "n_unclustered": sum(1 for e in entries if e["zmin"] < 0),
        "n_dv_files": sum(1 for e in entries if e.get("dv_rows")),
        "min_n_tok": int(min(e["min_n_tok"] for e in entries)),
        "max_n_tok": int(max(e["max_n_tok"] for e in entries)),
    }


def _write_shard(table_path: str, partition: str, entries: list[dict]) -> dict:
    os.makedirs(os.path.join(table_path, "_manifests"), exist_ok=True)
    rel = f"_manifests/shard-{uuid.uuid4().hex[:12]}.parquet"
    cols = {
        name: [e.get(name, DV_FREE.get(name)) for e in entries] for name, _ in _MANIFEST_FIELDS
    }
    pq.write_table(
        pa.Table.from_pydict(cols, schema=MANIFEST_ARROW_SCHEMA),
        os.path.join(table_path, rel),
    )
    return shard_record(partition, rel, entries)


def _write_list(table_path: str, records: list[dict]) -> str:
    import json

    os.makedirs(os.path.join(table_path, "_manifests"), exist_ok=True)
    rel = f"_manifests/list-{uuid.uuid4().hex[:12]}.json"
    body = {
        "format_version": MANIFEST_FORMAT_VERSION,
        "shards": sorted(records, key=lambda r: r["partition"]),
    }
    # a crash mid-write must not leave a truncated JSON a future resume
    # path could try to parse
    snapshots.write_atomic(os.path.join(table_path, rel), json.dumps(body, indent=1))
    return rel


def read_manifest_list(table_path: str, rel_path: str) -> list[dict]:
    """Shard records of a manifest list. Any other manifest rel (e.g. a
    monolithic ``manifest-*.parquet`` from before sharding), or a list of
    another ``format_version`` (a v2 list's ``zq`` holds Morton-key
    quantiles, which the planner would misread as packed inputs),
    raises."""
    import json

    name = os.path.basename(rel_path)
    if not (name.startswith("list-") and name.endswith(".json")):
        raise ValueError(
            f"unsupported manifest format: {rel_path!r} is not a manifest list "
            "(_manifests/list-*.json); monolithic manifests are no longer readable"
        )
    with open(os.path.join(table_path, rel_path)) as f:
        body = json.load(f)
    version = body.get("format_version")
    if version != MANIFEST_FORMAT_VERSION:
        raise ValueError(
            f"unsupported manifest format: {rel_path!r} is format_version {version!r}, "
            f"this engine reads {MANIFEST_FORMAT_VERSION}"
        )
    return body["shards"]


def read_shard(table_path: str, record: dict) -> list[dict]:
    """Entries of one shard record."""
    return pq.read_table(os.path.join(table_path, record["path"])).to_pylist()


def diff_partition_entries(table_path: str, old_manifest: str, new_manifest: str):
    """Yield ``(partition, old_entries, new_entries)`` for every
    partition whose manifest shard DIFFERS between two manifests — the
    single shard-aware diff walk behind both incremental partition
    discovery (``table.changed_partitions_since``) and the row-level
    change feed (``changes.changed_files``).

    A partition carried by reference (identical immutable shard path on
    both sides) is skipped without opening the shard parquet, so the
    walk costs O(changed partitions). Entries are the full per-file
    dicts; ``[]`` marks a side where the partition is absent."""
    old_recs = {r["partition"]: r for r in read_manifest_list(table_path, old_manifest)}
    new_recs = {r["partition"]: r for r in read_manifest_list(table_path, new_manifest)}
    for part in sorted(set(old_recs) | set(new_recs)):
        o, n = old_recs.get(part), new_recs.get(part)
        if o is not None and n is not None and o["path"] == n["path"]:
            continue  # same immutable shard → byte-identical partition
        yield (
            part,
            read_shard(table_path, o) if o else [],
            read_shard(table_path, n) if n else [],
        )


def update_manifest(
    table_path: str,
    base_rel: str | None,
    changed: dict[str, list[dict]],
) -> tuple[str, list[dict]]:
    """The manifest half of ``table.commit_rewrite`` (its only caller):
    write NEW shards for the partitions in ``changed`` (mapping
    partition → its full new entry list; an empty list drops the
    partition), carry every other shard by reference, and write the new
    list. Returns (list rel, records).
    O(touched partitions) writes + O(partitions) list I/O — never
    O(all files)."""
    records: list[dict] = []
    if base_rel is not None:
        records = [
            rec
            for rec in read_manifest_list(table_path, base_rel)
            if rec["partition"] not in changed
        ]
    for part, entries in sorted(changed.items()):
        if entries:
            records.append(_write_shard(table_path, part, entries))
    return _write_list(table_path, records), records


def summary_from_records(records: list[dict]) -> dict:
    return {
        "files": int(sum(r["n_files"] for r in records)),
        "rows": int(sum(r["row_count"] for r in records)),
        "tokens": int(sum(r["token_count"] for r in records)),
        "bytes": int(sum(r["file_bytes"] for r in records)),
        "partitions": len(records),
    }


def read_manifest(table_path: str, rel_path: str) -> list[dict]:
    """ALL entries of a manifest. O(files) — planners should prefer
    read_manifest_list + read_shard on the partitions they actually
    touch."""
    out: list[dict] = []
    for rec in read_manifest_list(table_path, rel_path):
        out.extend(read_shard(table_path, rec))
    return out

