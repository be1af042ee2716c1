"""Benchmark-side wrappers around the package's public layer functions.

The package itself is not modified: ``install`` rebinds module
attributes from outside, for traced passes only.  It opens a span
around each layer call made inside ``process_client`` and counts
warehouse writes, run-log appends, catalog scans and stream-drain
splits.  ``ShmEntries`` removes what the program's stream drains
leave in /dev/shm.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time

import measure
from workloads import PKG


def _rebind(orig, wrapper) -> None:
    """Point every package-module attribute bound to ``orig`` at
    ``wrapper`` (modules import layer functions by name)."""
    for name, mod in list(sys.modules.items()):
        if name == PKG or name.startswith(PKG + "."):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)


class ShmEntries:
    """The program's stream drains stage sources and checkpoints in
    /dev/shm (``streaming.windows._fast_tmpdir``), under names starting
    ``spark-graft-``; the benchmark lets them, so it measures the path
    the program takes.  This notes which such entries exist when the
    run starts, and ``remove_new`` deletes the ones the run added,
    including checkpoint dirs under ``spark-graft-ckpt``."""

    ROOT = "/dev/shm"
    CKPT = "spark-graft-ckpt"

    def __init__(self):
        self.before = self._entries()

    def _entries(self) -> set[str]:
        try:
            found = {e for e in os.listdir(self.ROOT) if e.startswith("spark-graft-")}
        except OSError:  # no /dev/shm
            return set()
        if self.CKPT in found:
            try:
                found.update(os.path.join(self.CKPT, e)
                             for e in os.listdir(os.path.join(self.ROOT, self.CKPT)))
            except OSError:
                pass  # not a directory, or removed meanwhile
        return found

    def remove_new(self) -> None:
        # deepest first, so a checkpoint dir goes before its parent
        for rel in sorted(self._entries() - self.before, key=len, reverse=True):
            path = os.path.join(self.ROOT, rel)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except OSError:
                    pass  # already gone


def install(ctx) -> dict:
    """Wrap the layer functions for traced passes; returns the live
    counter dict the wrappers add to."""
    from python_sql_datawarehouse_project_spark import catalog
    from python_sql_datawarehouse_project_spark.plans import (
        ingest, mv, mv_incremental, pipeline,
    )
    from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
    from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse
    from python_sql_datawarehouse_project_spark.streaming import windows

    counters = {k: 0 for k in (
        "catalog.scan_s", "plans.warehouse.write_calls", "plans.warehouse.write_rows",
        "plans.warehouse.write_s", "plans.runlog.appends", "streaming.setup_s",
        "streaming.exec_s",
    )}

    def spanned(fn, layer):
        @functools.wraps(fn)
        def w(*a, **k):
            with ctx.tracer.span(layer):
                return fn(*a, **k)
        return w

    for fn, layer in (
        (ingest.ingest_directory, "plans.ingest"),
        (pipeline.run_silver, "plans.silver"),
        (pipeline.run_gold, "plans.gold"),
        (mv.refresh_mv, "plans.mv"),
        (mv_incremental.refresh_mv_incremental, "plans.mv_incremental"),
    ):
        _rebind(fn, spanned(fn, layer))

    load_table = catalog.load_table

    @functools.wraps(load_table)
    def timed_load(*a, **k):
        t = time.perf_counter()
        try:
            return load_table(*a, **k)
        finally:
            counters["catalog.scan_s"] += time.perf_counter() - t

    _rebind(load_table, timed_load)

    drain = windows.run_available_now

    @functools.wraps(drain)
    def split_drain(*a, **k):
        out = drain(*a, **k)
        counters["streaming.setup_s"] += windows.LAST_DRAIN_SPLIT.get("setup_s", 0.0)
        counters["streaming.exec_s"] += windows.LAST_DRAIN_SPLIT.get("exec_s", 0.0)
        return out

    _rebind(drain, split_drain)

    write_batch = Warehouse.write_batch

    @functools.wraps(write_batch)
    def counted_write(self, *a, **k):
        t = time.perf_counter()
        n = write_batch(self, *a, **k)
        counters["plans.warehouse.write_calls"] += 1
        counters["plans.warehouse.write_rows"] += n
        counters["plans.warehouse.write_s"] += time.perf_counter() - t
        return n

    Warehouse.write_batch = counted_write

    append = RunLog.append

    @functools.wraps(append)
    def counted_append(self, *a, **k):
        counters["plans.runlog.appends"] += 1
        return append(self, *a, **k)

    RunLog.append = counted_append
    return counters


def event_log_busy_s(sc) -> float:
    """Time Spark's listener bus spent in the event-log writer (count x
    mean of its processing-time timer): the event log's own cost."""
    cls = sc._jvm.java.lang.Class.forName("org.apache.spark.scheduler.EventLoggingListener")
    timer = sc._jsc.sc().listenerBus().metrics().getTimerForListenerClass(cls)
    if timer.isEmpty():
        return 0.0
    t = timer.get()
    return t.getCount() * t.getSnapshot().getMean() / 1e9


def peak_rss_mb() -> float:
    """Largest peak resident set (VmHWM) in the benchmark's process tree."""
    best = 0
    for pid in [os.getpid(), *measure.tree_pids()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024
