"""Per-partition lineage checkpoints → resumable compaction jobs.

The reference re-runs idempotently with per-date success maps and
exists-checks (``apps/gold-analytics/app/processors.py:1022-1180``,
``silver_s3_manager.py:255-272``) and tracks replay status through a
state machine (``apps/bronze-ingestion/app/replay.py:378-424``). The
engine's equivalent: each compaction job gets
``_checkpoints/<job_id>/<quoted unit>.json`` records, each replaced
atomically (``snapshots.write_atomic``), written in two phases —

    intent:  {unit, state=running, input_files}
    done:    {unit, state=done, input_files, output_files,
              rows, tokens, duration_s, output_stats}

``output_stats`` holds the manifest entries of ``output_files``, as
computed by the job that wrote them, so a commit (first or resumed)
never re-reads outputs for stats. A resumed job (same job_id) reuses a
``done`` unit's outputs when its ``input_files`` are still the unit's
planned inputs, and re-runs every other unit from scratch after
discarding its orphaned staging files. Because the snapshot commit
happens once, at the end, a crash at ANY point leaves readers on the
old snapshot.

Compaction is the only multi-unit job, so it is the only writer of
checkpoints: merge, delete and update are one rewrite each and keep
their lineage in the snapshot summary and the ``_metrics`` record. A
checkpoint lives exactly as long as there is something to resume —
:meth:`JobCheckpoint.clear` removes it whenever the job returns
normally (committed or nothing to do). Until then GC treats its
``output_files`` as roots; a job that raised keeps it, and a crash
between commit and clear is cleared by the next run with that job id.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from urllib.parse import quote

from hoopstat_haus_spark.lakehouse import snapshots


class JobCheckpoint:
    def __init__(self, table_path: str, job_id: str):
        self.job_id = job_id
        self.dir = os.path.join(table_path, "_checkpoints", job_id)

    def _path(self, unit: str) -> str:
        # injective: two units never share a record file
        return os.path.join(self.dir, f"{quote(unit, safe='')}.json")

    def _write(self, unit: str, record: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        snapshots.write_atomic(self._path(unit), json.dumps(record, indent=1))

    def intent(self, unit: str, input_files: list[str]) -> None:
        self._write(
            unit,
            {
                "job_id": self.job_id,
                "unit": unit,
                "state": "running",
                "input_files": input_files,
                "started_ms": int(time.time() * 1000),
            },
        )

    def done(
        self,
        unit: str,
        input_files: list[str],
        output_files: list[str],
        rows: int,
        tokens: int,
        duration_s: float,
        output_stats: list[dict],
    ) -> None:
        self._write(
            unit,
            {
                "job_id": self.job_id,
                "unit": unit,
                "state": "done",
                "input_files": input_files,
                "output_files": output_files,
                "rows": rows,
                "tokens": tokens,
                "duration_s": round(duration_s, 3),
                "output_stats": output_stats,
            },
        )

    def completed_units(self) -> dict[str, dict]:
        out = {}
        if not os.path.isdir(self.dir):
            return out
        for name in os.listdir(self.dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.dir, name)) as f:
                rec = json.load(f)
            if rec.get("state") == "done":
                out[rec["unit"]] = rec
        return out

    def clear(self) -> None:
        """Drop the job's checkpoint: nothing is left to resume, and GC
        stops protecting its outputs (committed ones stay reachable
        through the snapshot that holds them)."""
        shutil.rmtree(self.dir, ignore_errors=True)
