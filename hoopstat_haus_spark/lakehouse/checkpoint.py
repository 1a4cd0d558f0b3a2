"""Per-partition lineage checkpoints → resumable maintenance jobs.

The reference re-runs idempotently with per-date success maps and
exists-checks (``apps/gold-analytics/app/processors.py:1022-1180``,
``silver_s3_manager.py:255-272``) and tracks replay status through a
state machine (``apps/bronze-ingestion/app/replay.py:378-424``). The
engine's equivalent: each maintenance job gets
``_checkpoints/<job_id>/<unit>.json`` records written in two phases —

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
"""

from __future__ import annotations

import json
import os
import time
import uuid


class JobCheckpoint:
    def __init__(self, table_path: str, job_id: str):
        self.job_id = job_id
        self.dir = os.path.join(table_path, "_checkpoints", job_id)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, unit: str) -> str:
        safe = unit.replace("/", "_").replace("=", "-")
        return os.path.join(self.dir, f"{safe}.json")

    def state(self, unit: str) -> dict | None:
        p = self._path(unit)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write(self, unit: str, record: dict) -> None:
        p = self._path(unit)
        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(record, f, indent=1)
        os.replace(tmp, p)

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
