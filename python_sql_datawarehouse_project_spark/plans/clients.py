"""Multi-client orchestration: the `tools.client_reference` registry
and the all-clients driver loop (reference
handlers/batch_processing.py:247-257, 358-386, 1276-1296).

The reference scopes every config, log and table by client_schema and,
when invoked with no arguments, runs `start` for EVERY registered
client.  Here each client owns an isolated sub-root of the registry
root — its own Warehouse (bronze/silver/gold/mv trees) and RunLog (the
seven tools.* log tables) — so two clients can never read each other's
batches, exactly like the per-client Postgres schemas.

Registry state (client_id, client_schema, last_batch_id, versions)
persists as a JSON file under <root>/tools/client_reference.json:
single-row driver-side control-plane metadata, same storage rationale
as RunLog's JSONL (runlog.py docstring) — a Spark job per registry
update would be the tail wagging the dog.

Scale note: the loop is driver-side sequencing only; all heavy lifting
inside `process_client` is the same Spark plans as single-client mode
(its source directories, files and stage procs run concurrently —
see plans/ingest.py and plans/pipeline.py).  Clients are independent,
so a deployment that needs overlap can run them as separate Spark
applications against the same root — the per-client sub-roots make
that safe without coordination.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from functools import partial

from pyspark.sql import SparkSession

from .ingest import FileResult, IngestPlan, ingest_directory
from .pipeline import concurrently, next_batch_id, run_batch
from .runlog import RowBuffer, RunLog
from .warehouse import Warehouse


@dataclass
class ClientRef:
    """One row of tools.client_reference (ddl_tools.sql:4-14)."""

    client_id: int
    client_schema: str
    client_name: str | None = None
    mapping_version: str | None = None
    required_column_version: str | None = None
    config_version: str | None = None
    last_batch_id: str | None = None


@dataclass
class ClientSources:
    """A client's file-landing configuration: the ingest plan (config
    + mapping + required-column tables) and one incoming directory per
    source system (the raw/{client}/{source_system}/incoming tree)."""

    plan: IngestPlan
    incoming: dict[str, str]  # source_system -> directory


@dataclass
class ClientRunResult:
    client_schema: str
    batch_id: str
    results: dict = field(default_factory=dict)
    ingested: list[FileResult] = field(default_factory=list)


class ClientRegistry:
    """client_schema -> ClientRef, persisted under the registry root."""

    def __init__(self, root: str):
        self.root = root
        self._path = os.path.join(root, "tools", "client_reference.json")
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        self._clients: dict[str, ClientRef] = {}
        if os.path.exists(self._path):
            with open(self._path) as f:
                for row in json.load(f):
                    self._clients[row["client_schema"]] = ClientRef(**row)

    def _save(self) -> None:
        with open(self._path, "w") as f:
            json.dump([asdict(c) for c in self._clients.values()], f, indent=1)

    def register(self, client_schema: str, **fields) -> ClientRef:
        """Idempotent insert; client_id mimics the reference's serial
        sequence (next integer)."""
        if client_schema in self._clients:
            return self._clients[client_schema]
        ref = ClientRef(
            client_id=1 + max((c.client_id for c in self._clients.values()), default=0),
            client_schema=client_schema,
            **fields,
        )
        self._clients[client_schema] = ref
        self._save()
        return ref

    def get(self, client_schema: str) -> ClientRef:
        """Lookup with the reference's hard failure on unknown schema
        (batch_processing.py:251-255 raises; the procs RAISE EXCEPTION
        'Client schema % tidak ditemukan')."""
        if client_schema not in self._clients:
            raise KeyError(
                f"client_schema {client_schema!r} not found in client_reference"
            )
        return self._clients[client_schema]

    def all(self) -> list[ClientRef]:
        return sorted(self._clients.values(), key=lambda c: c.client_id)

    def set_last_batch(self, client_schema: str, batch_id: str) -> None:
        """UPDATE tools.client_reference SET last_batch_id = ...
        (batch_processing.py:385)."""
        self.get(client_schema).last_batch_id = batch_id
        self._save()

    # -- per-client resources -----------------------------------------
    def client_root(self, client_schema: str) -> str:
        self.get(client_schema)  # existence check
        return os.path.join(self.root, client_schema)

    def warehouse(self, spark: SparkSession, client_schema: str) -> Warehouse:
        return Warehouse(spark, self.client_root(client_schema))

    def runlog(self, client_schema: str) -> RunLog:
        return RunLog(self.client_root(client_schema))


MODES = ("start", "restart", "reprocessing")


def process_client(
    spark: SparkSession,
    registry: ClientRegistry,
    client_schema: str,
    mode: str = "start",
    sources: ClientSources | None = None,
    mv_mode: str = "full",
) -> ClientRunResult:
    """One client's batch run (reference process_client,
    batch_processing.py:358-386,502,776), the three modes mapped to
    the Spark batch-overwrite model:

      start         allocate the next batch id, ingest every incoming
                    source directory, run silver -> gold -> MV
      restart       re-run the LAST batch id end-to-end, ingestion
                    included (the reference re-drives conversion off
                    the batch manifest; here re-ingesting the same dir
                    is idempotent by the overwrite-batch discipline)
      reprocessing  re-run the LAST batch id SKIPPING ingestion — the
                    reference reloads already-converted parquet
                    staging files (batch_processing.py:776-860);
                    bronze IS that staged layer here, so reprocessing
                    = transforms only over the landed bronze batch
    """
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    ref = registry.get(client_schema)
    if mode in ("restart", "reprocessing") and ref.last_batch_id:
        batch_id = ref.last_batch_id
    else:
        batch_id = next_batch_id(ref.last_batch_id)
    wh = registry.warehouse(spark, client_schema)
    log = registry.runlog(client_schema)
    ingested: list[FileResult] = []
    if sources is not None and mode != "reprocessing":
        # source systems land concurrently, so no two of them may be
        # configured onto one bronze table (the reference names targets
        # <system>_<table>); each directory logs into its own buffer,
        # replayed in source-system order
        dirs = [
            (system, d) for system, d in sorted(sources.incoming.items())
            if os.path.isdir(d)
        ]
        buffers = [RowBuffer() for _ in dirs]
        calls = [
            partial(ingest_directory, spark, wh, buf, sources.plan, d, system, batch_id)
            for (system, d), buf in zip(dirs, buffers)
        ]
        try:
            ingested = [r for landed in concurrently(spark, calls) for r in landed]
        finally:
            for buf in buffers:
                buf.replay(log)
    # mv_mode="incremental" is the scale path (plans/pipeline.run_mvs);
    # the previous-state snapshot resolves from the state layer's own
    # partition listing, so restart/reprocessing replays stay
    # exactly-once with no driver memory
    results = run_batch(wh, log, batch_id, mv_mode=mv_mode)
    registry.set_last_batch(client_schema, batch_id)
    return ClientRunResult(client_schema, batch_id, results, ingested)


def run_all_clients(
    spark: SparkSession,
    registry: ClientRegistry,
    sources: dict[str, ClientSources] | None = None,
    mv_mode: str = "full",
) -> list[ClientRunResult]:
    """No-args driver behavior (batch_processing.py:1276-1296): run
    `start` for every registered client, in client_id order."""
    return [
        process_client(
            spark,
            registry,
            c.client_schema,
            "start",
            (sources or {}).get(c.client_schema),
            mv_mode=mv_mode,
        )
        for c in registry.all()
    ]
