"""Checkpointed per-unit lineage log — resumable maintenance jobs.

Every maintenance job (compaction, clustering, merge) logs one JSON
record per completed work unit (a table partition or a MERGE rewrite
batch) to ``metadata/lineage/<job_tag>.jsonl``. Records carry
file-level metrics (files rewritten, bytes compacted, rows merged) AND
the new manifest entries the unit produced, so a resumed job can skip
the unit entirely and still assemble the final manifest. job.py's
``MaintenanceJob`` owns the protocol (replay, units, commit); this
module is its durable log.

Write protocol: a unit's record is appended with ``fsync`` only AFTER
its data files are fully written — so a crash mid-unit leaves no
marker, and the rerun rewrites that unit's (deterministically named,
mode=overwrite) output directory. Completion is therefore idempotent:
no partition is ever double-applied (north_rule requirement).
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path


class LineageLog:
    def __init__(self, table_root: str | Path, job_id: str):
        self.path = Path(table_root) / "metadata" / "lineage" / f"{job_id}.jsonl"
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self.job_id = job_id
        self._lock = threading.Lock()  # units may complete concurrently

    def records(self) -> list[dict]:
        if not self.path.exists():
            return []
        out = []
        for line in self.path.read_text().splitlines():
            line = line.strip()
            if line:
                out.append(json.loads(line))
        return out

    def completed_units(self) -> dict[str, dict]:
        """unit_id → latest completion record (resume lookup)."""
        return {r["unit"]: r for r in self.records() if r.get("event") == "unit_done"}

    def committed(self) -> dict | None:
        """The job's 'committed' event, or None.

        A job_id that already committed must NOT commit again: its
        manifest rows are already in the table, and re-assembling from
        lineage would union them a second time (duplicated files ⇒
        duplicated rows on scan). Replayed jobs — e.g. a foreachBatch
        micro-batch rerun after a crash between table commit and the
        stream checkpoint write — return this record instead.
        """
        for r in reversed(self.records()):
            if r.get("event") == "committed":
                return r
        return None

    def mark_unit_done(
        self,
        unit: str,
        files_in: list[str],
        new_manifest_rows: list[dict],
        metrics: dict,
    ) -> None:
        rec = {
            "event": "unit_done",
            "job_id": self.job_id,
            "unit": unit,
            "timestamp_ms": int(time.time() * 1000),
            "files_in": files_in,
            "new_manifest_rows": new_manifest_rows,
            "metrics": metrics,
        }
        self._append(rec)

    def log_event(self, event: str, **kv) -> None:
        self._append({"event": event, "job_id": self.job_id, "timestamp_ms": int(time.time() * 1000), **kv})

    def _append(self, rec: dict) -> None:
        with self._lock, open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")
            f.flush()
            os.fsync(f.fileno())
