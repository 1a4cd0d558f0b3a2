"""Maintenance-engine benchmark: closed-loop workloads against TokenLakeTable.

Run from the repository root:

    python3 maintbench/run.py --workload compact_zorder --seed 1 --seconds 10 --trace 0

One run starts ``local[nproc]`` Spark and builds the workload's template
table from the seed three times (``setup_s`` is the median build; the
first runs in a cold JVM). Untimed warm-up rounds follow, then
``--seconds`` divided by the workload's nominal round length timed
rounds (at least one), so every run of a workload does the same work.
Every round hardlink-clones the template (the engine only
adds and removes files, so clones share data blocks safely) and issues
its ops one after another from one driver thread: a closed loop with one
client. Every round of a run repeats the same seeded ops.

Workloads (the seed picks the doc-number offset, the feed keys, the DML
predicates and the lookup windows):

- ``compact_zorder``: a fragmented snappy ingest table (24k docs, five
  skewed sources, 120 files), two micro-batch appends of 640 docs over
  every source, then ``compact(curve="zorder")``;
- ``merge_dml_cdc``: a Z-ordered base (8k docs over 8 sources), one
  ``merge_into`` feed (200 upserts from one doc range, 20 inserts, 10
  deletes), one ``delete_where`` and one ``update_where``, and the
  materialized ``changes()`` since the round began.

Every round then runs 8 lookups, ``scan(sources, n_tok_min,
n_tok_max).count()``, then ``expire_snapshots(keep_last=1)`` and
``collect_garbage(min_age_s=0)``.

Timings that end-to-end metrics bound are CPU seconds of the driver, its
JVM and the Python workers, read from ``/proc`` around each op: on a
small shared VM the wall time of one op moves by a fifth or more between
runs with the host's steal time, while its CPU seconds move about half
as much. Wall
times are per-layer metrics of the traced run (``op.*_s``).

Correctness checks (each failure counts against ``ok_op_frac`` and makes
the exit code 1): every lookup count equals the generator's closed-form
count; the CDC class counts equal what the feeds imply; the head's row
total and a full scan after GC equal the live row count; and, once per
run, an order-independent digest of (doc_id, tokens, source) over the
table equals the digest of the generated rows and the feeds.

The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of
``maintbench/tracer.py``, from rounds that alternate untraced and
traced (the tracing overhead is the difference of their round walls).
The line before it holds details: set-up parts, round and sample counts.

Everything the run writes stays under ``.maintbench/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".maintbench")

# (name, unit, better); every workload reports every one of them
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("maint_cpu_s", "s", "lower"),
    ("space_amp", "ratio", "lower"),
    ("write_amp", "ratio", "lower"),
    ("ok_op_frac", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

# generator constants: tokens come from tables.token_expr; n_tok and the
# source buckets use the same closed forms as tables.synthetic
STEP = 40503
VOCAB = 50257
MULT = 2654435761
PRIME = 982451653
GEN_STRIDE = 1_000_000_000  # content number of a doc's g-th version
SKEW = [("web", 55), ("books", 25), ("code", 12), ("wiki", 6), ("forums", 2)]
KEY_BYTES = 14  # len("doc-%010d")
SETUP_BUILDS = 3  # template builds per run; setup_s is their median


def tail_of(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than twenty samples)."""
    n = len(xs)
    if n < 20:
        return max(xs)
    q = 1.0 - 10.0 / n
    return statistics.quantiles(xs, n=1000, method="inclusive")[int(q * 1000) - 1]


def clone_tree(src: str, dst: str) -> None:
    for dirpath, _dirs, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for name in files:
            os.link(os.path.join(dirpath, name), os.path.join(dst, rel, name))


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(dirpath, name)
            out[p] = os.path.getsize(p)
    return out


# ------------------------------------------------------------------ model
class Model:
    """What the table should hold: per doc index, live flag, content
    number (tokens and n_tok derive from it) and update bump count."""

    def __init__(self, np, off: int, cap: int, sources: list[str], src_idx):
        self.np = np
        self.off = off
        self.sources = sources
        self.src = src_idx
        self.live = np.zeros(cap, dtype=bool)
        self.content = np.arange(off, off + cap, dtype=np.int64)
        self.bump = np.zeros(cap, dtype=np.int64)

    def copy(self) -> "Model":
        m = Model.__new__(Model)
        m.np, m.off, m.sources, m.src = self.np, self.off, self.sources, self.src
        m.live, m.content, m.bump = self.live.copy(), self.content.copy(), self.bump.copy()
        return m

    def n_tok(self):
        return 8 + (self.content * STEP + 17) % 505

    def logical_bytes(self, mask) -> int:
        return int(4 * self.n_tok()[mask].sum() + KEY_BYTES * int(mask.sum()))


def source_index(np, doc_nums, n_sources: int, seed: int):
    bucket = ((doc_nums % PRIME) * (MULT % PRIME)) % PRIME
    if n_sources == len(SKEW):
        cuts = np.cumsum([w for _n, w in SKEW])
        return np.searchsorted(cuts, bucket % 100, side="right")
    return (bucket + seed % n_sources) % n_sources


class Gen:
    """Spark-side generator that agrees with :class:`Model`."""

    def __init__(self, spark, n_sources: int, seed: int):
        from pyspark.sql import functions as F

        self.spark, self.F, self.seed = spark, F, seed
        self.n_sources = n_sources
        self.sources = (
            [n for n, _w in SKEW] if n_sources == len(SKEW) else [f"s{i:02d}" for i in range(n_sources)]
        )

    def source_col(self, d):
        F = self.F
        bucket = (F.pmod(d, F.lit(PRIME)) * F.lit(MULT % PRIME)) % F.lit(PRIME)
        if self.n_sources == len(SKEW):
            col, lo = None, 0
            for name, w in SKEW:
                cond = F.pmod(bucket, F.lit(100)) < F.lit(lo + w)
                col = F.when(cond, F.lit(name)) if col is None else col.when(cond, F.lit(name))
                lo += w
            return col.otherwise(F.lit(SKEW[-1][0]))
        shift = F.lit(self.seed % self.n_sources)
        return F.format_string("s%02d", F.pmod(bucket + shift, F.lit(self.n_sources)))

    def rows(self, d, content, bump=None):
        from hoopstat_haus_spark.tables.token_table import token_expr

        F = self.F
        n_tok = (F.lit(8) + F.pmod(content * F.lit(STEP) + F.lit(17), F.lit(505))).cast("int")
        tokens = token_expr(content, n_tok)
        if bump is not None:
            tokens = F.transform(tokens, lambda x: ((x + bump) % F.lit(VOCAB)).cast("int"))
        return [
            F.format_string("doc-%010d", d).alias("doc_id"),
            tokens.alias("tokens"),
            n_tok.alias("n_tok"),
            self.source_col(d).alias("source"),
        ]

    def docs(self, lo: int, hi: int, gen: int = 0, parts: int | None = None, op: str | None = None):
        F = self.F
        d = F.col("id")
        cols = self.rows(d, d + F.lit(gen * GEN_STRIDE))
        if op is not None:
            cols.append(F.lit(op).alias("_op"))
        return self.spark.range(lo, hi, 1, parts or 1).select(*cols)

    def delta_digest(self, base: Model, model: Model) -> tuple[int, int]:
        """How the digest moves from ``base`` to ``model``: minus the
        base version of every doc that changed, plus its new version."""
        import pandas as pd

        np, F = model.np, self.F
        odd = np.nonzero(
            (model.live != base.live) | (model.content != base.content) | (model.bump != base.bump)
        )[0]
        old, new = odd[base.live[odd]], odd[model.live[odd]]
        pdf = pd.DataFrame(
            {
                "d": np.concatenate([old, new]).astype(np.int64) + model.off,
                "c": np.concatenate([base.content[old], model.content[new]]),
                "b": np.concatenate([base.bump[old], model.bump[new]]),
                "s": np.concatenate([-np.ones(len(old)), np.ones(len(new))]).astype(np.int64),
            }
        )
        if pdf.empty:
            return 0, 0
        df = self.spark.createDataFrame(pdf, "d long, c long, b long, s long")
        return digest(df.select(*self.rows(F.col("d"), F.col("c"), F.col("b")), "s"), "s")


def digest(df, sign: str | None = None) -> tuple[int, int]:
    """(row count, sum of a per-row hash of doc_id, tokens and source):
    equal for two row sets that hold the same rows, in any order."""
    from pyspark.sql import functions as F

    w = F.col(sign) if sign else F.lit(1)
    h = F.pmod(F.xxhash64("doc_id", "tokens", "source"), F.lit(1 << 32)) * w
    row = df.agg(F.sum(w).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"] or 0), int(row["h"] or 0)


# ---------------------------------------------------------------- harness
class Op(NamedTuple):
    kind: str
    wall: float
    cpu: float  # CPU seconds of the driver, its JVM and the Python workers
    ok: bool


class Bench:
    """Times ops, counts failures and checks, and holds one round's log."""

    def __init__(self, procs):
        self.procs = procs
        self.tracer = None  # set during traced rounds
        self.attempted = 0
        self.failed = 0
        self.ops: list[Op] = []
        self.logical = 0

    def op(self, kind: str, fn, logical: int = 0, **attrs):
        self.attempted += 1
        self.logical += logical
        ctx = self.tracer.op(kind, attrs) if self.tracer is not None else nullcontext()
        # CPU is read from /proc outside the wall-clock window
        cpu0 = sum(self.procs.cpu().values())
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            with ctx:
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            ok = False
        wall = time.perf_counter() - t0
        self.ops.append(Op(kind, wall, sum(self.procs.cpu().values()) - cpu0, ok))
        return out

    def check(self, name: str, ok: bool, detail: object = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)


# -------------------------------------------------------------- workloads
class Workload:
    name = ""
    n_sources = len(SKEW)
    n_docs = 0
    n_lookups = 8
    warm_rounds = 1  # untimed rounds before the timed section
    round_s = 10.0  # nominal round length; --seconds / round_s rounds are timed

    def __init__(self, spark, bench: Bench, seed: int):
        import numpy as np

        self.np, self.spark, self.bench, self.seed = np, spark, bench, seed
        self.rng = np.random.default_rng(seed % 2**32)
        self.off = (seed % 900 + 1) * 1_000_000
        self.gen = Gen(spark, self.n_sources, seed)
        self.cap = self.n_docs + self.extra_docs()
        doc_nums = np.arange(self.off, self.off + self.cap, dtype=np.int64)
        self.base = Model(np, self.off, self.cap, self.gen.sources, source_index(np, doc_nums, self.n_sources, seed))
        self.base.live[: self.n_docs] = True
        self.template = ""  # set by build_template
        self.base_digest: tuple[int, int] | None = None
        self.lookup_windows = self._lookup_windows()
        self.want_digest = False  # set for the first timed round

    def extra_docs(self) -> int:
        """Doc numbers past the template's, kept free for new docs."""
        return 0

    def mask(self, lo: int, hi: int):
        m = self.np.zeros(self.cap, dtype=bool)
        m[lo:hi] = True
        return m

    def _lookup_windows(self) -> list[tuple[list[str], int, int]]:
        """Lookups cycle over the sources and their n_tok windows are
        evenly spaced over n_tok's range, so every seed reads the same mix
        of hot and cold partitions and of narrow and wide docs; the seed
        only shifts the windows."""
        span = 497 - 16  # windows of 16 n_tok values inside [8, 512]
        phase = int(self.rng.integers(0, span))
        srcs = self.gen.sources
        out = []
        for i in range(self.n_lookups):
            lo = 8 + (phase + i * span // self.n_lookups) % span
            out.append(([srcs[i % len(srcs)]], lo, lo + 15))
        return out

    # template ------------------------------------------------------------
    def build_template(self, path: str) -> None:
        raise NotImplementedError

    def create(self, path: str, df, repartition_n: int | None, codec: str | None = None) -> None:
        from hoopstat_haus_spark.lakehouse import TokenLakeTable

        key = "spark.sql.parquet.compression.codec"
        prev = self.spark.conf.get(key)
        if codec:
            self.spark.conf.set(key, codec)
        try:
            if self.base_digest is None:
                # the digest the checks compare against comes from the
                # generated rows themselves, read once from cache
                df = df.persist()
                self.base_digest = digest(df)
            TokenLakeTable.create(self.spark, path, df, repartition_n=repartition_n)
        finally:
            self.spark.conf.set(key, prev)
            df.unpersist()
        self.template = path

    # one round ------------------------------------------------------------
    def body(self, table, model: Model) -> None:
        raise NotImplementedError

    def round(self, table) -> Model:
        """The timed ops of one round; returns the model they imply."""
        b = self.bench
        model = self.base.copy()
        self.body(table, model)
        for srcs, lo, hi in self.lookup_windows:
            n = b.op("lookup", lambda: table.scan(sources=srcs, n_tok_min=lo, n_tok_max=hi).count())
            want = self.expected_count(model, srcs, lo, hi)
            b.check("lookup_count", n == want, f"{srcs} [{lo},{hi}] got {n} want {want}")
        self.written = sum(
            size for p, size in tree_files(table.path).items() if p not in self.start_files
        )
        b.op("expire", lambda: table.expire_snapshots(keep_last=1))
        b.op("gc", lambda: table.collect_garbage(min_age_s=0))
        return model

    def verify(self, table, model: Model) -> float:
        """Untimed checks after a round; returns its space amplification."""
        b = self.bench
        live = int(model.live.sum())
        head = table.log.current()
        b.check("head_rows", int(head.summary.get("rows", -1)) == live, head.summary)
        n = table.scan().count()
        b.check("full_scan_after_gc", n == live, f"got {n} want {live}")
        if self.want_digest:
            self.want_digest = False
            got = digest(table.scan())
            dn, dh = self.gen.delta_digest(self.base, model)
            want = (self.base_digest[0] + dn, self.base_digest[1] + dh)
            b.check("row_digest", got == want, f"got {got} want {want}")
        from hoopstat_haus_spark.lakehouse import manifest as mf

        recs = mf.read_manifest_list(table.path, head.manifest)
        tokens = sum(r["token_count"] for r in recs)
        rows = sum(r["row_count"] for r in recs)
        return sum(r["file_bytes"] for r in recs) / (4 * tokens + KEY_BYTES * rows)

    def expected_count(self, model: Model, srcs: list[str], lo: int, hi: int) -> int:
        np = self.np
        want = np.isin(model.src, [model.sources.index(s) for s in srcs])
        nt = model.n_tok()
        return int((model.live & want & (nt >= lo) & (nt <= hi)).sum())


class CompactZorder(Workload):
    name = "compact_zorder"
    n_docs = 24_000
    fragment_tasks = 24
    n_appends, batch = 2, 640
    warm_rounds = 2
    round_s = 5.0

    def extra_docs(self) -> int:
        return self.n_appends * self.batch

    def policy(self):
        from hoopstat_haus_spark.lakehouse import CompactionPolicy

        return CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=2 << 20, max_file_bytes=8 << 20)

    def build_template(self, path: str) -> None:
        # raw ingest output: snappy, many small files per source
        df = self.gen.docs(self.off, self.off + self.n_docs, parts=4)
        self.create(path, df, self.fragment_tasks, "snappy")

    def body(self, table, model: Model) -> None:
        # micro-batches of new docs spread over every source, then the
        # Z-order compaction of everything
        b, o = self.bench, self.off
        for i in range(self.n_appends):
            lo = self.n_docs + i * self.batch
            df = self.gen.docs(o + lo, o + lo + self.batch)
            model.live[lo : lo + self.batch] = True
            logical = model.logical_bytes(self.mask(lo, lo + self.batch))
            b.op("append", lambda: table.append(df), logical)
        out = b.op("compact", lambda: table.compact(self.policy(), curve="zorder"))
        if out is not None:
            m = out[1]
            b.logical += 4 * m.tokens + KEY_BYTES * m.rows


class MergeDmlCdc(Workload):
    name = "merge_dml_cdc"
    n_sources = 8
    n_docs = 8_000
    upserts, inserts, deletes = 200, 20, 10

    def __init__(self, spark, bench, seed):
        super().__init__(spark, bench, seed)
        rng, n = self.rng, self.n_docs
        self.up = int(rng.integers(0, n - self.upserts))
        self.dl = int(rng.integers(0, n - self.deletes))
        while self.dl < self.up + self.upserts and self.up < self.dl + self.deletes:
            self.dl = int(rng.integers(0, n - self.deletes))  # keys must be disjoint
        self.dml = []
        for kind in ("delete", "update"):
            lo = int(rng.integers(0, n - n // 5))
            nt = int(rng.integers(8, 500))
            self.dml.append((kind, lo, lo + n // 5, nt, nt + 3))

    def extra_docs(self) -> int:
        return self.inserts

    def build_template(self, path: str) -> None:
        # the base as compaction would leave it: Z-ordered files,
        # range-split within each source, written in one job
        from hoopstat_haus_spark.lakehouse.zorder import with_zkey

        df = with_zkey(self.gen.docs(self.off, self.off + self.n_docs, parts=4), curve="zorder")
        df = df.repartitionByRange(8, "source", "_zkey").sortWithinPartitions("source", "_zkey")
        self.create(path, df, None)

    def body(self, table, model: Model) -> None:
        from hoopstat_haus_spark.lakehouse.merge import merge_into

        b, o, gen, n = self.bench, self.off, self.gen, self.n_docs
        pre = table.log.current_id()
        start = model.copy()

        # one MERGE feed: upserts from one doc range, inserts, deletes
        up, dl, ins = self.up, self.dl, n
        feed = (
            gen.docs(o + up, o + up + self.upserts, gen=1, op="upsert")
            .unionByName(gen.docs(o + ins, o + ins + self.inserts, gen=1, op="upsert"))
            .unionByName(gen.docs(o + dl, o + dl + self.deletes, op="delete"))
        )
        named = self.mask(up, up + self.upserts) | self.mask(ins, ins + self.inserts)
        dels = self.mask(dl, dl + self.deletes) & model.live
        logical = model.logical_bytes(dels)
        model.content[named] += GEN_STRIDE
        model.live[named] = True
        model.live[dels] = False
        logical += model.logical_bytes(named)
        changed = int(named.sum() + dels.sum())
        b.op("merge", lambda: merge_into(table, feed, curve="zorder"), logical, rows_changed=changed)

        for kind, lo, hi, nt_lo, nt_hi in self.dml:
            cond = (
                f"doc_id >= 'doc-{o + lo:010d}' AND doc_id < 'doc-{o + hi:010d}' "
                f"AND n_tok BETWEEN {nt_lo} AND {nt_hi}"
            )
            nt = model.n_tok()
            hit = self.mask(lo, hi) & model.live & (nt >= nt_lo) & (nt <= nt_hi)
            logical = model.logical_bytes(hit)
            if kind == "delete":
                b.op("delete", lambda: table.delete_where(cond), logical)
                model.live[hit] = False
            else:
                assign = {"tokens": f"transform(tokens, x -> (x + 1) % {VOCAB})"}
                b.op("update", lambda: table.update_where(cond, assign), logical)
                model.bump[hit] += 1

        both = model.live & start.live
        want = {
            "insert": int((model.live & ~start.live).sum()),
            "delete": int((start.live & ~model.live).sum()),
            "update": int(
                (both & ((model.content != start.content) | (model.bump != start.bump))).sum()
            ),
        }
        got = b.op("cdc", lambda: self.cdc(table, pre), rows_out=sum(want.values()))
        want = {k: v for k, v in want.items() if v}
        b.check("cdc_class_counts", got == want, f"got {got} want {want}")

    @staticmethod
    def cdc(table, pre: int) -> dict[str, int]:
        """Materialize the change feed: class counts plus a payload hash,
        so every change row's tokens are read."""
        from pyspark.sql import functions as F

        df = table.changes(pre)
        rows = (
            df.groupBy("_change")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("tokens") % 1024).alias("h"))
            .collect()
        )
        return {r["_change"]: int(r["n"]) for r in rows}


WORKLOADS = {w.name: w for w in (CompactZorder, MergeDmlCdc)}


# ------------------------------------------------------------------- main
def start_spark(run_dir: str, trace: bool):
    cpus = os.cpu_count() or 1
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from hoopstat_haus_spark.session import get_spark

    return get_spark(app_name="maintbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass  # already closed; the stdin close below still ends the JVM
    if proc is not None:
        # the JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_setup = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "hoopstat_haus_spark", "lakehouse", "table.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        spark = start_spark(run_dir, bool(args.trace))
        from tracer import OP_KINDS, ProcTree, Tracer, cpu_delta, median_or_zero, read_event_log

        procs = ProcTree()
        bench = Bench(procs)
        cls = WORKLOADS[args.workload]
        n_round = 0

        def one_round(wl: Workload, tracer=None) -> dict:
            nonlocal n_round
            n_round += 1
            clone = os.path.join(run_dir, f"round-{n_round}")
            clone_tree(wl.template, clone)
            from hoopstat_haus_spark.lakehouse import TokenLakeTable

            table = TokenLakeTable(spark, clone)
            wl.start_files = tree_files(clone)
            bench.ops, bench.logical = [], 0
            bench.tracer = tracer
            cpu0 = procs.cpu() if tracer else None
            if tracer:
                tracer.install()
            try:
                model = wl.round(table)
            finally:
                if tracer:
                    tracer.uninstall()
                bench.tracer = None
            cpu = cpu_delta(cpu0, procs.cpu()) if tracer else None
            ops = bench.ops
            t_check = time.perf_counter()
            space_amp = wl.verify(table, model)
            shutil.rmtree(clone, ignore_errors=True)
            # shuffle files are dropped only after a JVM GC lets the
            # ContextCleaner see their dead references
            spark.sparkContext._jvm.System.gc()
            per_kind: dict[str, list[float]] = {}
            for o in ops:
                per_kind.setdefault(o.kind, []).append(o.wall)
            maint_s, maint_cpu_s = sum(o.wall for o in ops), sum(o.cpu for o in ops)
            print(
                f"round {n_round}{' traced' if tracer else ''}: ops {maint_s:.2f}s "
                f"cpu {maint_cpu_s:.2f}s, checks {time.perf_counter() - t_check:.2f}s; "
                + ", ".join(f"{k} {' '.join(f'{w:.2f}' for w in ws)}" for k, ws in per_kind.items()),
                file=sys.stderr,
            )
            return {
                "ops": ops,
                "maint_s": maint_s,
                "maint_cpu_s": maint_cpu_s,
                "space_amp": space_amp,
                "write_amp": wl.written / bench.logical if bench.logical else 0.0,
                "cpu": cpu,
            }

        t_spark = time.perf_counter() - t_setup
        wl = cls(spark, bench, args.seed)
        # set-up is repeated in every run: the template is built
        # SETUP_BUILDS times (the first in a cold JVM) and setup_s is the
        # median build
        builds = []
        for i in range(SETUP_BUILDS):
            prev = wl.template
            t = time.perf_counter()
            wl.build_template(os.path.join(run_dir, f"template-{i}"))
            builds.append(time.perf_counter() - t)
            if prev:
                shutil.rmtree(prev)
        setup_s = statistics.median(builds)
        # untimed warm-up rounds, so JIT, codegen and Python-worker
        # start-up land before the timed section
        t_warm = time.perf_counter()
        for _ in range(cls.warm_rounds):
            one_round(wl)
        t_warm = time.perf_counter() - t_warm
        print(
            f"setup: spark {t_spark:.2f}s, builds {' '.join(f'{b:.2f}' for b in builds)}s, "
            f"warm-up {t_warm:.2f}s",
            file=sys.stderr,
        )
        wl.want_digest = True
        # a fixed round count, not a deadline: CPU per round still falls
        # as the JIT warms, so runs must stop at the same round to compare
        n_timed = max(1, round(args.seconds / cls.round_s))
        t0 = time.perf_counter()
        plain: list[dict] = [one_round(wl)]
        traced: list[dict] = []
        tracer = Tracer(spark) if args.trace else None
        if tracer is None:
            plain += [one_round(wl) for _ in range(n_timed - 1)]
        else:
            # untraced, traced, untraced, ...: each traced round sits
            # between two untraced ones, so the overhead estimate is not
            # biased by rounds getting warmer
            for _ in range(n_timed):
                traced.append(one_round(wl, tracer))
                plain.append(one_round(wl))
        t_timed = time.perf_counter() - t0
        peak_rss = procs.peak_rss_mb()

        def ops_of(rounds: list[dict], kind: str) -> list[Op]:
            return [o for r in rounds for o in r["ops"] if o.kind == kind and o.ok]

        detail: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "rounds": len(plain),
            "spark_start_s": round(t_spark, 3),
            "builds_s": [round(b, 3) for b in builds],
            "warm_up_s": round(t_warm, 3),
            "timed_s": round(t_timed, 3),
        }
        if tracer is None:
            look = ops_of(plain, "lookup")
            values = {
                "setup_s": setup_s,
                "maint_cpu_s": statistics.median(r["maint_cpu_s"] for r in plain),
                "space_amp": statistics.median(r["space_amp"] for r in plain),
                "write_amp": statistics.median(r["write_amp"] for r in plain),
                "ok_op_frac": (bench.attempted - bench.failed) / bench.attempted,
                "peak_rss_mb": peak_rss,
            }
            units = {n: u for n, u, _b in END_TO_END}
            detail.update(
                {
                    "lookup_samples": len(look),
                    "maint_s": [round(r["maint_s"], 3) for r in plain],
                }
            )
        else:
            overhead = statistics.median(r["maint_s"] for r in traced) - statistics.median(
                r["maint_s"] for r in plain
            )
            cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
            for r in traced:
                for k, v in r["cpu"].items():
                    cpu[k] += v
            n_tr = len(traced)
            proc = {f"proc.{k}_cpu_s": v / n_tr for k, v in cpu.items()}
            proc["proc.peak_rss_mb"] = peak_rss
            # each op kind's wall and CPU, from the untraced rounds
            op_walls = {}
            for kind in OP_KINDS:
                done = ops_of(plain, kind)
                op_walls[f"op.{kind}_s"] = median_or_zero([o.wall for o in done])
                op_walls[f"op.{kind}_cpu_s"] = median_or_zero([o.cpu for o in done])
            for kind in ("append", "lookup"):
                walls = [o.wall for o in ops_of(plain, kind)]
                op_walls[f"op.{kind}_tail_s"] = tail_of(walls) if walls else 0.0
            op_walls["op.maint_s"] = statistics.median(r["maint_s"] for r in plain)
            slots = spark.sparkContext.defaultParallelism
            stop_spark(spark)
            spark = None
            events = read_event_log(os.path.join(run_dir, "eventlog"))
            values = tracer.layer_metrics(n_tr, events, slots, proc, op_walls, overhead)
            from tracer import PER_LAYER

            units = {n: u for n, u, _b, _m in PER_LAYER}
            detail.update({"traced_rounds": n_tr, "untraced_maint_s": [r["maint_s"] for r in plain]})
        correct = bench.failed == 0
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": bench.attempted,
                    "failed": bench.failed,
                    "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
                }
            ),
            flush=True,
        )
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
