"""Batch orchestrator: the Spark analogue of the reference's three
driver scripts (silver_clean_transform.py, gold_integration.py,
refresh_mv.py — SURVEY.md §3.2), collapsed into one in-process plan.

Lifecycle per batch:
  run_silver  -> every silver transform, logged to transformation_log
  run_gold    -> dims first, then facts gated on dim SUCCESS rows
                 (integration_dependencies semantics; SKIPPED rows are
                 logged exactly like gold_integration.py:276-290)
  run_mvs     -> FULL refresh of each registered MV, mv_refresh_log
                 (or mode="incremental": fold-the-batch state merge
                 for the six maintainable MVs, history recompute for
                 the three order-dependent ones)

What runs concurrently.  In the reference each proc runs on its own
autocommit connection and writes its own table, and within a stage no
proc reads another's output.  So each stage hands all of its procs
to `concurrently` at once: the six silver transforms, then the gold
dims, then the gold facts, then the nine MVs.  Spark's scheduler
interleaves their jobs, which keeps cores busy that one small
single-task job at a time leaves idle.

Barriers.  `concurrently` returns only when every call has finished,
so each stage ends before the next starts: silver -> gold dims ->
dependency gate -> gold facts -> MVs, as in the reference's three
drivers.  Ingest (plans/ingest.py) finishes before silver starts.

Run-log order.  Procs return their results instead of logging; the
driver thread appends the rows once the stage has returned, in
registry order (TRANSFORMS order, dims before facts, MVS order), so
the log reads exactly as a one-proc-at-a-time run.

Contract for stage callables.  They run on worker threads that share
one SparkSession, so they must not change session conf or any other
session-wide state; a conf set by one proc would leak into the jobs
of its siblings.  (The scoped confs of the streaming drains and of
catalog.load_table are outside these stages.)  Spark local
properties are per thread: each call starts with a copy of the
calling thread's job group and description.

Batch IDs follow the reference's "BATCH" + 6-digit counter
(batch_processing.py:49-56).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from .gold import DEPENDENCIES, INTEGRATIONS
from .mv import MVS, refresh_mv
from .mv_incremental import INCREMENTAL, refresh_mv_incremental
from .runlog import RunLog
from .silver import TRANSFORMS
from .warehouse import Warehouse

T = TypeVar("T")


def next_batch_id(last: str | None) -> str:
    """BATCH###### counter (reference batch_processing.py:49-56)."""
    n = int(last.removeprefix("BATCH")) if last else 0
    return f"BATCH{n + 1:06d}"


def concurrently(spark: SparkSession, calls: Sequence[Callable[[], T]]) -> list[T]:
    """Run each zero-argument call on its own driver thread and return
    their results in call order.

    Each call is wrapped with `inheritable_thread_target(spark)`, so
    the Spark jobs it submits carry the caller's local properties (job
    group, description) and session tags.  Every call gets its own copy
    of those properties, so a call that sets its own job group leaves
    its siblings' alone.  Returns only after every call has finished;
    if any call raised, the first exception in call order is re-raised
    then."""
    with ThreadPoolExecutor(max_workers=max(1, len(calls))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    return [f.result() for f in futures]


def _run_procs(
    wh: Warehouse, procs: dict[str, Callable], batch_id: str
) -> dict[str, tuple]:
    """Run (wh, batch_id) -> (ok, err, rows) procs concurrently."""
    calls = [partial(fn, wh, batch_id) for fn in procs.values()]
    return dict(zip(procs, concurrently(wh.spark, calls)))


def _log_results(
    log: RunLog,
    table: str,
    batch_id: str,
    results: dict[str, tuple],
    mode: str | None = None,
) -> None:
    """One status row per proc, in `results` order; with `mode`, a
    successful row's message names it (mv_refresh_log)."""
    for name, (ok, err, n) in results.items():
        log.append(
            table,
            proc_name=name,
            batch_id=batch_id,
            status="SUCCESS" if ok else "FAILED",
            record_count=n,
            message=(err or f"mode={mode}") if mode else err,
        )


def run_silver(wh: Warehouse, log: RunLog, batch_id: str) -> dict[str, tuple]:
    results = _run_procs(wh, TRANSFORMS, batch_id)
    _log_results(log, "transformation_log", batch_id, results)
    return results


def run_gold(wh: Warehouse, log: RunLog, batch_id: str) -> dict[str, tuple]:
    """Dims before facts; facts skipped unless all deps SUCCESS.

    The dims (no dependencies) run together and are logged; then the
    dependency gate reads the log once and the facts whose dims all
    succeeded run together.  A fact depends only on dims."""
    dims = sorted(k for k in INTEGRATIONS if k not in DEPENDENCIES)
    facts = sorted(DEPENDENCIES)
    results = _run_procs(wh, {k: INTEGRATIONS[k] for k in dims}, batch_id)
    _log_results(log, "integration_log", batch_id, results)
    done = log.successes("integration_log", batch_id)
    missing = {k: [d for d in DEPENDENCIES[k] if d not in done] for k in facts}
    ran = _run_procs(
        wh, {k: INTEGRATIONS[k] for k in facts if not missing[k]}, batch_id
    )
    for name in facts:
        if name in ran:
            results[name] = ran[name]
            _log_results(log, "integration_log", batch_id, {name: ran[name]})
            continue
        results[name] = (False, f"SKIPPED: deps not satisfied {missing[name]}", 0)
        log.append(
            "integration_log",
            proc_name=name,
            batch_id=batch_id,
            status="SKIPPED",
            record_count=0,
            message=f"dependencies not satisfied: {missing[name]}",
        )
    return results


def run_mvs(
    wh: Warehouse,
    log: RunLog,
    batch_id: str,
    mode: str = "full",
    prev_batch_id: str | None = None,
) -> dict[str, tuple]:
    """Refresh all nine MVs for `batch_id`, all at once (see the module
    docstring); rows land in mv_refresh_log in MVS order.

    mode="full" (default, reference-faithful: refresh_mode='FULL' at
    materialized_view.sql:161-169) recomputes each MV over the batch.

    mode="incremental" is the scale path a 100 TB deployment runs:
    the six incrementally-maintainable MVs fold ONLY the new gold
    batch into their partial-aggregate state (cost proportional to the
    batch + group cardinality, never the fact history); the three
    order-dependent MVs (mv_incremental.FULL_ONLY) are recomputed
    over full history, which is their only correct definition.
    `prev_batch_id` names the state snapshot to build on; when None
    each MV resolves its OWN latest completed snapshot (marker files,
    mv_incremental.resolve_prev_state) and folds in any gold batches
    no snapshot has covered — so an MV with a legitimately-empty
    first delta, or one newly added to INCREMENTAL on a warehouse
    with history, rebuilds correctly instead of silently restarting
    state from the current batch (ADVICE r9).

    Semantics note: incremental mode produces `refresh_mv(...,
    history=True)` semantics — each MV over FULL warehouse history as
    of `batch_id`.  That matches mode="full" only while the warehouse
    holds a single batch; with more batches loaded, mode="full"
    (reference-faithful) computes each MV over the named batch alone,
    so the two modes legitimately differ.  The parity pytest
    (tests/test_mv_incremental.py) pins incremental == full-HISTORY
    recompute bitwise, not == mode="full" output.

    mode="incremental_approx" is incremental with ONE substitution:
    mv_customer_lifetime_value maintains qa22-style HLL registers at
    customer grain instead of exact (customer, order)-grain state
    (mv_incremental.refresh_mv_incremental_approx) — order_count
    becomes an estimate (error pytest-bounded), lifetime_value stays
    exact, and the dominant incremental state cost drops from order
    cardinality to customer cardinality.
    """
    from .mv_incremental import APPROX, refresh_mv_incremental_approx

    incremental = mode in ("incremental", "incremental_approx")

    def refresh(name: str) -> tuple:
        if incremental and name in INCREMENTAL:
            try:
                if mode == "incremental_approx" and name in APPROX:
                    _, n = refresh_mv_incremental_approx(
                        wh, name, batch_id, prev_batch_id=prev_batch_id
                    )
                else:
                    _, n = refresh_mv_incremental(
                        wh, name, batch_id, prev_batch_id=prev_batch_id
                    )
                return True, None, n
            except Exception as e:  # logged like the FULL path's failures
                return False, str(e), 0
        return refresh_mv(wh, name, batch_id, history=incremental)

    results = dict(zip(MVS, concurrently(wh.spark, [partial(refresh, n) for n in MVS])))
    _log_results(log, "mv_refresh_log", batch_id, results, mode=mode)
    return results


def run_batch(
    wh: Warehouse,
    log: RunLog,
    batch_id: str,
    mv_mode: str = "full",
    prev_batch_id: str | None = None,
) -> dict[str, dict]:
    """Full silver -> gold -> MV pass for one batch (the reference's
    three CLI entry points chained, minus the manifest file dance).
    `mv_mode`/`prev_batch_id` route the MV stage (see run_mvs)."""
    silver = run_silver(wh, log, batch_id)
    gold = run_gold(wh, log, batch_id)
    mvs = run_mvs(wh, log, batch_id, mode=mv_mode, prev_batch_id=prev_batch_id)
    status = (
        "SUCCESS"
        if all(ok for ok, *_ in [*silver.values(), *gold.values(), *mvs.values()])
        else "FAILED"
    )
    log.append("job_execution_log", batch_id=batch_id, status=status)
    return {"silver": silver, "gold": gold, "mv": mvs}
