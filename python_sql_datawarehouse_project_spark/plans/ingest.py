"""Batch ingestion orchestrator — the Spark analogue of the
reference's `batch_processing.py <client> start` pipeline (SURVEY.md
§3.1), collapsed from five subprocess launches per file into one
driver program of lazy DataFrame transforms.

Per-file lifecycle (statuses land in the run log, which replaces both
the file_audit_log rows and the incoming/success/failed file moves):

  discover -> V1 config match   (no match -> CONFIG_FAILED, quarantine)
  read                          (S1-S4 by configured extension)
  V2 mapping validation         (mismatch -> MAPPING_FAILED, stop file)
  V3 row validation             (failures logged, NON-FATAL — the
                                 reference warns and proceeds,
                                 batch_processing.py:1209-1220)
  P1-P3 projection + batch stamp
  bronze write                  (idempotent batch-partition overwrite)

Files land concurrently (pipeline.concurrently): config matching is a
driver-side name lookup, and every bronze table then gets one call
that lands its files one after another in file-name order — files
bound for one table keep their sequential effect, each overwriting
the batch partition of the one before it, while different tables
load side by side.  Each file's run-log rows go into its own
RowBuffer, stamped with ``logged_at`` when the event happens, and
once every call has finished the driver thread appends them in
sorted file-name order, so the log reads exactly as a one-file-at-a-
time run.  A file that raises stops only the files queued behind it
for the same table: every other call finishes, every row buffered so
far is logged, and then the first error in call order is re-raised.

Batch ids are the reference's BATCH + 6-digit counter.  Re-running a
batch overwrites exactly its partitions (delete-then-insert
semantics); the three reference modes map as: start = new batch id,
restart/reprocessing = rerun same batch id (identical effect here
because conversion isn't a separate persisted stage).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import SparkSession

from ..sources.mapping import ColumnMapping, apply_mapping
from ..sources.readers import read_source
from ..sources.validation import (
    SourceConfig,
    match_config,
    validate_mapping,
    validate_rows,
)
from .pipeline import concurrently
from .runlog import RowBuffer, RunLog
from .warehouse import Warehouse


@dataclass
class FileResult:
    file: str
    status: str  # LOADED | CONFIG_FAILED | MAPPING_FAILED | READ_FAILED
    target_table: str | None = None
    rows: int = 0
    detail: str | None = None


@dataclass
class IngestPlan:
    """Per-client ingest config: the tools.client_config +
    column_mapping + required_columns tables as plain data."""

    configs: list[SourceConfig]
    mappings: dict[str, list[ColumnMapping]]  # target_table -> mapping
    required: dict[str, list[str]] = field(default_factory=dict)


def ingest_directory(
    spark: SparkSession,
    wh: Warehouse,
    log: RunLog | RowBuffer,
    plan: IngestPlan,
    incoming_dir: str,
    source_system: str,
    batch_id: str,
) -> list[FileResult]:
    """Land every file of `incoming_dir` into bronze; returns one
    FileResult per file, in sorted file-name order (see the module
    docstring for what runs concurrently)."""
    files = sorted(
        f for f in os.listdir(incoming_dir)
        if os.path.isfile(os.path.join(incoming_dir, f))
    )
    rows = {f: RowBuffer() for f in files}
    results: dict[str, FileResult] = {}
    tables: dict[str, list[tuple[str, SourceConfig]]] = {}
    for fname in files:
        cfg = match_config(fname, source_system, plan.configs)
        if cfg is None:
            results[fname] = FileResult(fname, "CONFIG_FAILED")
            rows[fname].append(
                "file_audit_log",
                batch_id=batch_id,
                physical_file_name=fname,
                config_validation_status="FAILED",
            )
        else:
            tables.setdefault(cfg.target_table, []).append((fname, cfg))

    def land(table_files: list[tuple[str, SourceConfig]]) -> list[FileResult]:
        return [
            _ingest_file(spark, wh, plan, incoming_dir, fname, cfg, batch_id, rows[fname])
            for fname, cfg in table_files
        ]

    try:
        for landed in concurrently(spark, [partial(land, t) for t in tables.values()]):
            results.update((r.file, r) for r in landed)
    finally:
        for fname in files:
            rows[fname].replay(log)
    return [results[f] for f in files]


def _ingest_file(
    spark: SparkSession,
    wh: Warehouse,
    plan: IngestPlan,
    incoming_dir: str,
    fname: str,
    cfg: SourceConfig,
    batch_id: str,
    rows: RowBuffer,
) -> FileResult:
    """One config-matched file: read, validate, project, write."""
    mappings = plan.mappings[cfg.target_table]
    try:
        df = read_source(spark, os.path.join(incoming_dir, fname), cfg.extension)
    except Exception as e:
        rows.append(
            "load_error_log",
            batch_id=batch_id,
            physical_file_name=fname,
            message=str(e),
        )
        return FileResult(fname, "READ_FAILED", cfg.target_table, 0, str(e))

    mv = validate_mapping(df, [m.source for m in mappings])
    rows.append(
        "mapping_validation_log",
        batch_id=batch_id,
        physical_file_name=fname,
        status="SUCCESS" if mv.ok else "FAILED",
        missing=",".join(mv.missing),
        extra=",".join(mv.extra),
    )
    if not mv.ok:
        return FileResult(
            fname,
            "MAPPING_FAILED",
            cfg.target_table,
            0,
            f"missing={mv.missing} extra={mv.extra}",
        )

    req = plan.required.get(cfg.target_table, [])
    if req:
        # required columns are TARGET names; check them post-projection
        projected = apply_mapping(df, mappings)
        rv = validate_rows(projected, req)
        rows.append(
            "row_validation_log",
            batch_id=batch_id,
            physical_file_name=fname,
            status="SUCCESS" if rv.ok else "FAILED",
            total_rows=rv.total_rows,
            null_counts=rv.null_counts,
            duplicate_rows=rv.duplicate_rows,
        )
        # non-fatal by contract: continue loading either way

    out = apply_mapping(df, mappings, batch_id=batch_id).drop("dwh_batch_id")
    n = wh.write_batch(out, "bronze", cfg.target_table, batch_id)
    rows.append(
        "file_audit_log",
        batch_id=batch_id,
        physical_file_name=fname,
        config_validation_status="SUCCESS",
        load_status="SUCCESS",
        total_rows=n,
    )
    return FileResult(fname, "LOADED", cfg.target_table, n)
