"""Pipeline-health aggregation across maintenance jobs.

Reference: ``apps/health-aggregator/app/aggregator.py:1-423`` — per-stage
daily summaries rolled into a validated health report with
OPERATIONAL / DEGRADED / OUTAGE statuses (most-recent-run semantics,
worst-stage-wins overall, ``_derive_stage_statuses`` at :190-257).

Engine version: every compact / merge / delete / update run enters
:func:`job_record`, which yields the run's :class:`JobMetrics` and
appends exactly one JSON record of it to ``_metrics/`` when the run
ends — success (a no-op run included, with ``snapshot_id`` None) or
failure. The record is the reference's per-job performance context
manager output (``apps/gold-analytics/app/performance.py:22-198``,
throughput at ``:190-193``: ``{job, duration_s, records_processed,
records_per_second}``), extended with the byte-level numbers the north
rule grades (GB in/out, GB/hr, files and partitions touched), plus the
run's status, commit and error. :func:`health_report` rolls the
records up per operation with the reference's status rules:

- OPERATIONAL — the most recent run of the operation succeeded
- DEGRADED   — the most recent run failed, but some run in the lookback
               succeeded
- OUTAGE     — no successful run in the lookback window
- overall    — worst stage wins (OUTAGE > DEGRADED > OPERATIONAL)

Scale note: records are metadata (one small JSON per job). The rollup
here is driver-side; if a deployment produces millions of job records,
the same aggregation is one ``spark.read.json("_metrics/")`` groupBy.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from hoopstat_haus_spark.lakehouse import snapshots

OPERATIONAL = "operational"
DEGRADED = "degraded"
OUTAGE = "outage"

_SEVERITY = {OPERATIONAL: 0, DEGRADED: 1, OUTAGE: 2}


@dataclass
class JobMetrics:
    job: str
    started: float = field(default_factory=time.time)
    bytes_in: int = 0
    bytes_out: int = 0
    rows: int = 0
    tokens: int = 0
    files_in: int = 0
    files_out: int = 0
    partitions: int = 0
    duration_s: float = 0.0
    snapshot_id: int | None = None  # the run's commit; None for a no-op

    def finish(self) -> "JobMetrics":
        self.duration_s = time.time() - self.started
        return self

    @property
    def gb_in(self) -> float:
        return self.bytes_in / 1e9

    @property
    def gb_per_hour(self) -> float:
        if self.duration_s <= 0:
            return 0.0
        return self.gb_in / (self.duration_s / 3600.0)

    @property
    def rows_per_second(self) -> float:
        return self.rows / self.duration_s if self.duration_s > 0 else 0.0

    def to_dict(self) -> dict:
        return {
            "job": self.job,
            "duration_s": round(self.duration_s, 3),
            "bytes_in": self.bytes_in,
            "bytes_out": self.bytes_out,
            "gb_in": round(self.gb_in, 4),
            "gb_per_hour": round(self.gb_per_hour, 2),
            "rows": self.rows,
            "tokens": self.tokens,
            "rows_per_second": round(self.rows_per_second, 1),
            "files_in": self.files_in,
            "files_out": self.files_out,
            "partitions": self.partitions,
        }


def _metrics_dir(table_path: str) -> str:
    return os.path.join(table_path, "_metrics")


def record_job_metrics(
    table_path: str,
    metrics: JobMetrics,
    operation: str,
    status: str = "success",
    error: str | None = None,
) -> str:
    """Append one job record; returns its path. Immutable, uniquely named
    — concurrent writers never collide — and created exclusively
    (``snapshots.write_atomic``), so a reader never sees it torn."""
    d = _metrics_dir(table_path)
    os.makedirs(d, exist_ok=True)
    rec = {
        **metrics.to_dict(),
        "operation": operation,
        "status": status,
        "snapshot_id": metrics.snapshot_id,
        "error": error,
        "recorded_ms": int(time.time() * 1000),
        # ns tiebreaker: two records in the same millisecond (e.g. a
        # job's auto-record then an orchestrator's follow-up) must still
        # order deterministically for most-recent-run status rules
        "recorded_ns": time.time_ns(),
    }
    path = os.path.join(d, f"{rec['recorded_ms']}-{operation}-{uuid.uuid4().hex[:6]}.json")
    snapshots.write_atomic(path, json.dumps(rec, indent=1), exclusive=True)
    return path


@contextmanager
def job_record(table_path: str, operation: str, job_id: str | None = None):
    """One maintenance run's lifecycle record: yields a fresh
    ``JobMetrics(job=job_id)`` (``job_id`` defaults to
    ``<operation>-<10 hex>``; the body reads it as ``metrics.job``) and
    writes exactly one ``_metrics`` record when the body ends. A body
    that commits sets
    ``metrics.snapshot_id``; one that returns without committing (a
    no-op) still records ``status='success'``, so a healthy stage never
    goes stale. A body that raises records ``status='failed'`` and
    re-raises: without failure records DEGRADED/OUTAGE are unreachable,
    since a stage crashing for days would still read OPERATIONAL from
    its last old success. The failure's ``error`` is the exception's
    class and message (``repr`` of a Spark ``AnalysisException``
    carries no message); an ``OSError`` while recording it (full or
    read-only disk) is swallowed so it cannot mask the root cause.

    ``job_id`` names the job's checkpoint and staging dirs and its
    output files, so it must pass ``snapshots.check_name``; a bad id
    raises ValueError before the body runs and records nothing."""
    job_id = job_id or f"{operation}-{uuid.uuid4().hex[:10]}"
    snapshots.check_name(job_id, "job id")
    metrics = JobMetrics(job=job_id)
    try:
        yield metrics
    except Exception as exc:
        metrics.finish()
        error = f"{type(exc).__name__}: {exc}"[:500]
        try:
            record_job_metrics(table_path, metrics, operation, status="failed", error=error)
        except OSError:
            pass
        raise
    metrics.finish()
    record_job_metrics(table_path, metrics, operation)


def read_job_records(table_path: str) -> list[dict]:
    d = _metrics_dir(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
        except (OSError, ValueError):
            continue
    out.sort(key=lambda r: (r.get("recorded_ms", 0), r.get("recorded_ns", 0)))
    return out


def _stage_status(records: list[dict]) -> str:
    """Reference rules (aggregator.py:190-257): most recent run decides;
    older successes downgrade a missing/failed head to DEGRADED."""
    if not records:
        return OUTAGE
    most_recent = records[-1]
    if most_recent.get("status") == "success":
        return OPERATIONAL
    if any(r.get("status") == "success" for r in records):
        return DEGRADED
    return OUTAGE


def health_report(
    table_path: str, lookback_jobs: int = 50, max_staleness_ms: int | None = None
) -> dict:
    """Aggregate the last ``lookback_jobs`` records per operation into the
    reference's health-report shape.

    ``max_staleness_ms``: optional freshness rule — a stage whose most
    recent SUCCESS is older than this window is downgraded to DEGRADED
    even if that old run succeeded (a stage that has been crashing
    before it can record anything, or simply not running, must not
    report OPERATIONAL from a stale success forever)."""
    records = read_job_records(table_path)
    by_op: dict[str, list[dict]] = {}
    for r in records:
        by_op.setdefault(r.get("operation", "unknown"), []).append(r)

    stages: dict[str, dict] = {}
    for op, recs in sorted(by_op.items()):
        recs = recs[-lookback_jobs:]
        ok = [r for r in recs if r.get("status") == "success"]
        # no-op runs read no bytes; averaging them into the throughput
        # would drag a well-maintained table's rate toward zero
        # (bytes_in, not the rounded gb_in, so tiny runs still count)
        moved = [r for r in ok if r.get("bytes_in", 0) > 0]
        status = _stage_status(recs)
        if (
            max_staleness_ms is not None
            and status == OPERATIONAL
            and (not ok or time.time() * 1000 - ok[-1]["recorded_ms"] > max_staleness_ms)
        ):
            status = DEGRADED
        stages[op] = {
            "status": status,
            "runs": len(recs),
            "successes": len(ok),
            "last_success_ms": max((r["recorded_ms"] for r in ok), default=None),
            "total_gb_in": round(sum(r.get("gb_in", 0.0) for r in ok), 4),
            "total_rows": int(sum(r.get("rows", 0) for r in ok)),
            "mean_gb_per_hour": round(
                sum(r.get("gb_per_hour", 0.0) for r in moved) / len(moved), 2
            )
            if moved
            else 0.0,
        }

    overall = OPERATIONAL
    for s in stages.values():
        if _SEVERITY[s["status"]] > _SEVERITY[overall]:
            overall = s["status"]
    if not stages:
        overall = OUTAGE

    return {
        "overall_status": overall,
        "stages": stages,
        "jobs_seen": len(records),
        "generated_ms": int(time.time() * 1000),
    }
