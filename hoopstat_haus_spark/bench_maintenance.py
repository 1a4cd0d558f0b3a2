"""Maintenance-throughput bench, one parallelism level per process.

Run as: ``python -m hoopstat_haus_spark.bench_maintenance --cpus N
--docs M [--iters K]`` — prints ONE JSON line. With ``--serve`` the
process instead stays resident: it prints a READY line, then runs one
iteration per "RUN" line on stdin, emitting one JSON sample line each.
bench.py uses serve mode to run interleaved lo/hi rounds against two
resident servers (one local[N], one local[4N]), bracketing each round
with host-ceiling microbenches and gating on host stability (see
BENCH.md "Two-cluster-size evidence"; the four-concurrent-tenant
design was evaluated and rejected there).

Methodology (this sandbox's host throttles CPU stochastically, ~2-4×
swings minute-to-minute):

- the synthetic input table is created ONCE as an immutable template and
  hardlink-cloned per iteration (compaction only adds/removes files, so
  clones share data blocks safely);
- each level runs K iterations in one JVM — iteration 1 doubles as
  JIT/Python-worker warmup — and reports best-of-K (the code's
  capability when the host isn't throttling; both levels are sampled
  identically);
- shuffle goes to tmpfs (``/dev/shm``, ephemeral, cleaned up) so the
  single local disk doesn't serialize what a real cluster spreads over
  many spindles; table data itself stays on disk. Disable with
  SPARK_GRAFT_SHM_SHUFFLE=0.

Timing covers the full maintenance cycle (plan → Z-order rewrite →
manifest rewrite → snapshot commit), not input generation. Throughput
is over parquet bytes in (compressed at rest).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".scratch")


def _clone_hardlink(src: str, dst: str) -> None:
    for dirpath, _dirs, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        os.makedirs(os.path.join(dst, rel) if rel != "." else dst, exist_ok=True)
        for name in files:
            os.link(os.path.join(dirpath, name), os.path.join(dst, rel, name))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--docs", type=int, default=1_600_000)
    ap.add_argument("--target-mb", type=int, default=16)
    ap.add_argument("--fragment-files", type=int, default=128)
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--max-units", type=int, default=0, help="0 = max(4, cpus//2)")
    ap.add_argument(
        "--serve",
        action="store_true",
        help="stay resident: one iteration per 'RUN' stdin line, JSON sample per line",
    )
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    max_units = args.max_units or max(4, args.cpus // 2)
    extra = {}
    if os.environ.get("SPARK_GRAFT_SHM_SHUFFLE", "1") != "0" and os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = f"/dev/shm/spark-graft-tmp-{os.getpid()}"

    from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
    from hoopstat_haus_spark.session import get_spark
    from hoopstat_haus_spark.tables import synthetic

    spark = get_spark(app_name=f"bench-maint-{args.cpus}", cpus=args.cpus, extra_conf=extra)
    if os.environ.get("SPARK_GRAFT_MASTER", "").startswith("spark://"):
        # standalone executors register asynchronously; sizing heuristics
        # (defaultParallelism) and the first timed sample must not run
        # against a half-registered cluster
        want = 1 + int(os.environ.get("SPARK_GRAFT_EXECUTORS", "2"))
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() >= want:
                break
            time.sleep(0.5)
        else:
            raise RuntimeError(f"standalone executors failed to register (want {want - 1})")
    policy = CompactionPolicy(
        min_file_bytes=(args.target_mb // 2) << 20,
        target_file_bytes=args.target_mb << 20,
        max_file_bytes=(args.target_mb * 4) << 20,
    )

    # v3: the manifest format version; an older template's manifest
    # list is refused by this engine's reader
    template = os.path.join(SCRATCH, f"bench-template-{args.docs}-{args.fragment_files}-v3")
    if not os.path.isdir(os.path.join(template, "_snapshots")):
        shutil.rmtree(template, ignore_errors=True)
        # the fragmented input simulates raw ingest output: snappy, like
        # most ingest paths — compaction re-encodes to the engine's zstd
        # (one of the things maintenance is FOR; ~4× smaller at rest)
        spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
        try:
            TokenLakeTable.create(
                spark, template, synthetic(spark, args.docs), repartition_n=args.fragment_files
            )
        finally:
            spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
        os.sync()

    def one_iteration() -> dict:
        clone = os.path.join(SCRATCH, f"bench-run-{uuid.uuid4().hex[:8]}")
        try:
            _clone_hardlink(template, clone)
            table = TokenLakeTable(spark, clone)
            t0 = time.time()
            _snap, metrics = table.compact(policy, max_concurrent_units=max_units)
            wall = time.time() - t0
            return {
                "wall": round(wall, 3),
                "gb_in": round(metrics.bytes_in / 1e9, 4),
                "gb_out": round(metrics.bytes_out / 1e9, 4),
                "files_in": metrics.files_in,
                "files_out": metrics.files_out,
                "rows": metrics.rows,
                "tokens": metrics.tokens,
            }
        finally:
            shutil.rmtree(clone, ignore_errors=True)
            # shuffle files in spark.local.dir (tmpfs = RAM) are only
            # dropped by ContextCleaner after a JVM GC; without this,
            # ~3 GB accrues per iteration and later iterations measure
            # memory pressure, not the engine (observed 70→248 s drift)
            spark.sparkContext._jvm.System.gc()

    if args.serve:
        print(json.dumps({"ready": True, "cpus": args.cpus}), flush=True)
        for line in sys.stdin:
            if line.strip() != "RUN":
                continue
            print(json.dumps(one_iteration()), flush=True)
    else:
        samples = []
        last: dict = {}
        for _ in range(args.iters):
            last = one_iteration()
            samples.append(last["wall"])
        best = min(samples)
        out = {
            "cpus": args.cpus,
            "docs": args.docs,
            "files_in": last["files_in"],
            "files_out": last["files_out"],
            "gb_in": last["gb_in"],
            "gb_out": last["gb_out"],  # zstd re-encode: ~4× smaller at rest
            "duration_s_samples": samples,
            "duration_s": best,
            "gb_per_hour": round(last["gb_in"] / (best / 3600.0), 2),
            "rows_per_second": round(last["rows"] / best, 1),
            "tokens_per_second": round(last["tokens"] / best, 1),
        }
        print(json.dumps(out))
    if "spark.local.dir" in extra:
        shutil.rmtree(extra["spark.local.dir"], ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
