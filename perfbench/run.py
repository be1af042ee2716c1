"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload warehouse|corpus --seed N \
        --seconds S --trace 0|1 [--spans FILE]

Run from the repository root.  Everything the run writes (its copy of
the tables, warehouses, indexes, Spark local dirs, event logs) lives
under ``.perfbench_run/<pid>`` in the current directory and is deleted
on exit, as are the stream-drain entries the program puts in /dev/shm.  The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.  The line before it records the session sizing.
README.md documents every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hooks  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402

# The first round also starts the JVM (~10 s), so the median is a
# settled round.  Seven rounds let the median ride out a busy second
# or two; each round more costs 0.5-1 s in every run.
SETUP_ROUNDS = 7
DRIVER_MEM = "2g"
# the repository's fixed sf0.01 tables (~60k lineitem rows), copied in
DATA = os.path.join(HERE, "data", "sf0.01")

FULL_COUNTERS = ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb")
SMALL_COUNTERS = ("wall_s", "jobs", "cpu_s", "shuffle_mb")
FULL_LAYERS = (
    "plans.ingest", "plans.silver", "plans.gold", "plans.mv", "plans.mv_incremental",
    "plans.dedup_index", "plans.bloom_index", "streaming",
)
OPERATOR_LAYERS = tuple(f"operators.{m}" for m in (
    "analytics", "tpch", "tpch2", "windows", "windows_extra", "events",
    "dedup", "semdedup", "graph", "text", "recursive", "multimodal",
    "udtfs", "approx",
))
UNITS = {"wall_s": "s", "cpu_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_mb": "MB", "spill_mb": "MB"}


def cpus() -> int:
    """The session's core count: SPARK_GRAFT_CPUS when set, else the
    cores this process may run on (never build_session's local[32])."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


class Run:
    def __init__(self, args, tmp: str):
        self.args, self.tmp = args, tmp
        self.wl = workloads.WORKLOADS[args.workload]()
        self.cpus = cpus()
        self.spark = None
        self.build_s: list[float] = []
        self.eventlog = os.path.join(tmp, "eventlog")
        self.ctx = workloads.Ctx(
            spark=None, root=tmp, tables=os.path.join(tmp, "tables"),
            rng=random.Random(args.seed), tracer=measure.Tracer(),
        )

    def conf(self) -> dict[str, str]:
        c = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
            # -XX:-UsePerfData keeps the JVM's hsperfdata file out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}/t "
                f"-Dderby.system.home={self.tmp}/derby -XX:-UsePerfData",
        }
        if self.args.trace:
            os.makedirs(self.eventlog, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.eventlog,
            })
        return c

    def session(self) -> None:
        from python_sql_datawarehouse_project_spark.session import build_session

        self.stop()
        t = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=self.conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.build_s.append(time.perf_counter() - t)
        self.ctx.spark = self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then end the JVM and wait for it and every
        other process this run started."""
        from pyspark import SparkContext

        try:
            self.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    gw.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
            deadline = time.time() + 30
            while measure.tree_pids() and time.time() < deadline:
                time.sleep(0.2)
            for pid in measure.tree_pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # it ended on its own meanwhile

    def setup(self) -> float:
        """SETUP_ROUNDS x (copying the tables into the run's temp root +
        session build + the workload's staging and warm-up); returns the
        median round.
        Stopping the previous round's session is left out: its time
        jumps by up to 0.4 s from round to round."""
        times = []
        for _ in range(SETUP_ROUNDS):
            self.stop()
            t = time.perf_counter()
            shutil.rmtree(self.ctx.tables, ignore_errors=True)
            shutil.copytree(DATA, self.ctx.tables)
            self.session()
            self.wl.setup(self.ctx)
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    def passes(self) -> tuple[list, list]:
        """Passes until --seconds have gone by (at least one).  Returns
        ([{wall, cpu}] per pass, [(op name, wall, ok)])."""
        per_pass, ops = [], []
        start = time.perf_counter()
        while not per_pass or time.perf_counter() - start < self.args.seconds:
            todo = self.wl.pass_ops(self.ctx)
            c0, w0 = measure.tree_cpu_s(), time.perf_counter()
            with self.ctx.tracer.span("bench.pass"):
                for name, op in todo:
                    t = time.perf_counter()
                    try:
                        ok = bool(op())
                    except Exception:
                        traceback.print_exc()
                        ok = False
                    ops.append((name, time.perf_counter() - t, ok))
                    if not ok:
                        print(f"perfbench: check failed: {name}", file=sys.stderr)
            wall, cpu = time.perf_counter() - w0, measure.tree_cpu_s() - c0
            per_pass.append({"wall": wall, "cpu": cpu})
        return per_pass, ops


def execute(run: Run) -> dict:
    setup_s = run.setup()
    if run.args.trace:
        counters = hooks.install(run.ctx)
        run.ctx.tracer = measure.Tracer(run.spark.sparkContext)
    per_pass, ops = run.passes()
    checks, problems = run.wl.finish(run.ctx)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    result = {
        "correct": not problems and all(ok for *_, ok in ops),
        "attempted": len(ops) + checks,
        "failed": sum(1 for *_, ok in ops if not ok) + len(problems),
        "passes": len(per_pass),
        "gate_samples": sum(1 for name, *_ in ops if name not in run.wl.writes),
    }
    if not run.args.trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall"] for p in per_pass),
            "cpu_s": statistics.median(p["cpu"] for p in per_pass),
        }
        result["metrics"] = {k: {"value": v, "unit": "s"} for k, v in metrics.items()}
        return result
    peak_mb = hooks.peak_rss_mb()
    log_busy_s = hooks.event_log_busy_s(run.spark.sparkContext)
    run.stop()  # closes the event log
    if run.args.spans:
        run.ctx.tracer.dump(run.args.spans)
    fold = measure.fold_event_log(measure.read_event_logs(run.eventlog), run.ctx.tracer.spans)
    overhead_s = log_busy_s + run.ctx.tracer.busy_s
    result["metrics"] = layer_metrics(run, fold, counters, per_pass, peak_mb, overhead_s)
    return result


def layer_metrics(run: Run, fold: dict, counters: dict, per_pass: list,
                  peak_mb: float, overhead_s: float) -> dict:
    """Per-layer totals: span self time as wall_s, event-log counters
    of the jobs each span launched, plus the hooks' counters."""
    timed_wall = sum(p["wall"] for p in per_pass)
    spans = run.ctx.tracer.spans
    self_s = measure.self_times(spans)
    per: dict[str, dict] = {}
    for s in spans:
        d = per.setdefault(s.name, {})
        d["wall_s"] = d.get("wall_s", 0.0) + self_s[s.id]
        for k, v in fold.get(s.id, {}).items():
            d[k] = d.get(k, 0) + v
    out = {}
    for layers, names in ((FULL_LAYERS, FULL_COUNTERS), (OPERATOR_LAYERS, SMALL_COUNTERS)):
        for layer in layers:
            for c in names:
                out[f"{layer}.{c}"] = (per.get(layer, {}).get(c, 0), UNITS[c])
    covered = sum(v["wall_s"] for k, v in per.items() if not k.startswith("bench."))
    # only jobs some span launched: the rest are set-up and end-of-run checks
    total = {k: sum(b.get(k, 0) for sid, b in fold.items() if sid is not None)
             for k in ("gc_s", "input_mb")}
    out.update({
        "session.build_s": (statistics.median(run.build_s), "s"),
        "catalog.scan_s": (counters["catalog.scan_s"], "s"),
        "catalog.input_mb": (total["input_mb"], "MB"),
        "plans.warehouse.write_calls": (counters["plans.warehouse.write_calls"], "count"),
        "plans.warehouse.write_rows": (counters["plans.warehouse.write_rows"], "count"),
        "plans.warehouse.write_s": (counters["plans.warehouse.write_s"], "s"),
        "plans.runlog.appends": (counters["plans.runlog.appends"], "count"),
        "streaming.setup_s": (counters["streaming.setup_s"], "s"),
        "streaming.exec_s": (counters["streaming.exec_s"], "s"),
        "spark.gc_s": (total["gc_s"], "s"),
        "spark.peak_mem_mb": (peak_mb, "MB"),
        "trace.overhead_pct": (100.0 * overhead_s / timed_wall, "%"),
        "trace.coverage_pct": (100.0 * covered / timed_wall, "%"),
        "trace.pass_s": (statistics.median(p["wall"] for p in per_pass), "s"),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="traced runs: also write the spans here (JSON lines)")
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    sys.path.insert(0, cwd)  # the program under test, from the checkout root
    try:
        import pyspark  # noqa: F401

        import python_sql_datawarehouse_project_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its processes and removes its files
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    tmp = os.path.join(cwd, ".perfbench_run", str(os.getpid()))
    for sub in ("t", "local", "derby"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(tmp, "t"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    tempfile.tempdir = os.path.join(tmp, "t")
    run = Run(args, tmp)
    shm = hooks.ShmEntries()
    try:
        result = execute(run)
    finally:
        try:
            run.shutdown()
        finally:
            shm.remove_new()
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass  # another run still uses it
    n_gates = result.pop("gate_samples")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "master": f"local[{run.cpus}]",
        "shuffle_partitions": run.cpus, "driver_memory": DRIVER_MEM,
        "passes": result.pop("passes"), "gate_samples": n_gates,
        # highest percentile with ten samples beyond it (None: only the median)
        "gate_tail_percentile": measure.tail_percentile(n_gates),
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
