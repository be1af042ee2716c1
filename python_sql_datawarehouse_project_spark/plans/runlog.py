"""Run-log tables: the reference's seven `tools.*_log` tables
(ddl_tools.sql:51-233) re-expressed as append-only JSONL under the
warehouse root.  The log IS the pipeline state machine — the
reference's manifest-file dance (incoming/success/archive moves,
SURVEY.md §3.2) collapses into status rows here.

JSONL (not Spark writes) on purpose: log rows are single-row,
driver-side control-plane events; spinning a Spark job per audit row
would be the tail wagging the dog.  Analytical access is still easy:
spark.read.json(path).
"""

from __future__ import annotations

import datetime as _dt
import json
import os

LOG_TABLES = (
    "file_audit_log",
    "job_execution_log",
    "mapping_validation_log",
    "row_validation_log",
    "load_error_log",
    "transformation_log",
    "integration_log",
    "mv_refresh_log",
)


def now() -> str:
    """A run-log row's ``logged_at`` stamp (UTC, ISO 8601)."""
    return _dt.datetime.now(_dt.timezone.utc).isoformat()


class RowBuffer:
    """Run-log rows held in memory, with RunLog's ``append`` signature.

    Procs that run concurrently write into one buffer each; the
    driver thread then replays the buffers into the RunLog in a fixed
    order, so the log's row order does not depend on which proc
    finished first.  Each row keeps the ``logged_at`` of the event."""

    def __init__(self):
        self.rows: list[tuple[str, dict]] = []

    def append(self, table: str, **row) -> None:
        row.setdefault("logged_at", now())
        self.rows.append((table, row))

    def replay(self, log) -> None:
        for table, row in self.rows:
            log.append(table, **row)


class RunLog:
    def __init__(self, root: str):
        self.root = os.path.join(root, "tools")
        os.makedirs(self.root, exist_ok=True)

    def _path(self, table: str) -> str:
        if table not in LOG_TABLES:
            raise KeyError(f"unknown log table {table!r}")
        return os.path.join(self.root, f"{table}.jsonl")

    def append(self, table: str, **row) -> None:
        row.setdefault("logged_at", now())
        with open(self._path(table), "a") as f:
            f.write(json.dumps(row, default=str) + "\n")

    def read(self, table: str) -> list[dict]:
        p = self._path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def successes(self, table: str, batch_id: str) -> set[str]:
        """Proc names with a SUCCESS row for this batch — the
        dependency-gate lookup (reference gold_integration.py:276-290)."""
        return {
            r.get("proc_name", "")
            for r in self.read(table)
            if r.get("batch_id") == batch_id and r.get("status") == "SUCCESS"
        }
