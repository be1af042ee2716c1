"""Concurrent stage execution (plans/pipeline.py `concurrently`): the
procs of one stage really overlap, the run log still reads in registry
order, the caller's Spark job group reaches every call, and an error
surfaces only once its siblings have finished.

The stubs synchronise through threading primitives with timeouts, so
no assertion depends on timing: a one-at-a-time run breaks a barrier
or misses an event and logs FAILED instead of hanging."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from python_sql_datawarehouse_project_spark.plans import pipeline
from python_sql_datawarehouse_project_spark.plans.gold import DEPENDENCIES, INTEGRATIONS
from python_sql_datawarehouse_project_spark.plans.mv import MVS
from python_sql_datawarehouse_project_spark.plans.pipeline import (
    concurrently,
    run_batch,
    run_gold,
    run_mvs,
    run_silver,
)
from python_sql_datawarehouse_project_spark.plans.runlog import RowBuffer, RunLog
from python_sql_datawarehouse_project_spark.plans.silver import TRANSFORMS
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse

BATCH = "BATCH000001"
WAIT_S = 30


def _ok(*_a, **_k):
    return True, None, 0


def _meeting(barrier: threading.Barrier):
    """A proc that succeeds only if a sibling reaches the barrier too."""

    def proc(*_a, **_k):
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            return False, "ran alone: no sibling reached the barrier", 0
        return True, None, 0

    return proc


def _chain(names: list[str]) -> dict:
    """Procs that finish in REVERSE order: each waits for its
    successor to finish first, so completion order is the opposite of
    registry order whenever they run together."""
    done = {n: threading.Event() for n in names}

    def make(i: int, name: str):
        def proc(*_a, **_k):
            nxt = names[i + 1] if i + 1 < len(names) else None
            if nxt is not None and not done[nxt].wait(WAIT_S):
                result = (False, f"{nxt} never finished", 0)
            else:
                result = (True, None, i)
            done[name].set()
            return result

        return proc

    return {n: make(i, n) for i, n in enumerate(names)}


def _mv_stub(procs: dict):
    def refresh_mv(wh, name, batch_id, history=False):
        return procs.get(name, _ok)(wh, batch_id)

    return refresh_mv


@pytest.fixture()
def wh_log(spark, tmp_path):
    return Warehouse(spark, str(tmp_path)), RunLog(str(tmp_path))


def test_stage_procs_overlap(wh_log, monkeypatch):
    wh, log = wh_log
    silver = _meeting(threading.Barrier(2, timeout=WAIT_S))
    first, *_, last = TRANSFORMS
    for name in TRANSFORMS:
        monkeypatch.setitem(TRANSFORMS, name, silver if name in (first, last) else _ok)
    mv = _meeting(threading.Barrier(2, timeout=WAIT_S))
    monkeypatch.setattr(
        pipeline, "refresh_mv", _mv_stub({n: mv for n in list(MVS)[-2:]})
    )

    assert all(ok for ok, *_ in run_silver(wh, log, BATCH).values())
    assert all(ok for ok, *_ in run_mvs(wh, log, BATCH).values())
    for table in ("transformation_log", "mv_refresh_log"):
        assert {r["status"] for r in log.read(table)} == {"SUCCESS"}


def test_run_log_rows_follow_registry_order(wh_log, monkeypatch):
    wh, log = wh_log
    for name, proc in _chain(list(TRANSFORMS)).items():
        monkeypatch.setitem(TRANSFORMS, name, proc)
    dims = sorted(k for k in INTEGRATIONS if k not in DEPENDENCIES)
    for name, proc in _chain(dims).items():
        monkeypatch.setitem(INTEGRATIONS, name, proc)
    for name in DEPENDENCIES:
        monkeypatch.setitem(INTEGRATIONS, name, _ok)
    monkeypatch.setattr(pipeline, "refresh_mv", _mv_stub(_chain(list(MVS))))

    results = run_batch(wh, log, BATCH)

    assert all(ok for stage in results.values() for ok, *_ in stage.values())
    assert list(results["mv"]) == list(MVS)
    assert [r["proc_name"] for r in log.read("transformation_log")] == list(TRANSFORMS)
    assert [r["proc_name"] for r in log.read("integration_log")] == [
        *dims, *sorted(DEPENDENCIES)
    ]
    assert [r["proc_name"] for r in log.read("mv_refresh_log")] == list(MVS)
    assert log.read("job_execution_log")[0]["status"] == "SUCCESS"


def test_failed_dim_skips_fact_after_dims_are_logged(wh_log, monkeypatch):
    wh, log = wh_log
    dims = sorted(k for k in INTEGRATIONS if k not in DEPENDENCIES)
    fact_ran = threading.Event()
    monkeypatch.setitem(INTEGRATIONS, dims[0], lambda *_: (False, "boom", 0))
    for name in dims[1:]:
        monkeypatch.setitem(INTEGRATIONS, name, _ok)
    for name in DEPENDENCIES:
        monkeypatch.setitem(INTEGRATIONS, name, lambda *_: fact_ran.set())

    res = run_gold(wh, log, BATCH)

    assert not fact_ran.is_set()
    rows = log.read("integration_log")
    assert [(r["proc_name"], r["status"]) for r in rows] == [
        (dims[0], "FAILED"),
        *((d, "SUCCESS") for d in dims[1:]),
        *((f, "SKIPPED") for f in sorted(DEPENDENCIES)),
    ]
    for fact in DEPENDENCIES:
        assert res[fact][0] is False and res[fact][1].startswith("SKIPPED")


def test_caller_job_group_reaches_stage_calls(wh_log, monkeypatch):
    wh, log = wh_log
    sc = wh.spark.sparkContext
    seen, own = {}, {}
    barrier = threading.Barrier(len(TRANSFORMS), timeout=WAIT_S)

    def make(name: str):
        def proc(*_a, **_k):
            seen[name] = sc.getLocalProperty("spark.jobGroup.id")
            # a call's own job group must not leak into its siblings
            sc.setJobGroup(f"own-{name}", name, False)
            barrier.wait()
            own[name] = sc.getLocalProperty("spark.jobGroup.id")
            return True, None, 0

        return proc

    for name in TRANSFORMS:
        monkeypatch.setitem(TRANSFORMS, name, make(name))
    sc.setJobGroup("caller-group", "set by the caller", False)
    try:
        run_silver(wh, log, BATCH)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {n: "caller-group" for n in TRANSFORMS}
    assert own == {n: f"own-{n}" for n in TRANSFORMS}


def test_error_surfaces_after_siblings_finish(spark):
    later_raised = threading.Event()
    finished = []

    def first():
        # raises only once the later call has already raised, so the
        # error that surfaces must be chosen by call order
        later_raised.wait(WAIT_S)
        raise ValueError("first in call order")

    def slow():
        later_raised.wait(WAIT_S)
        time.sleep(0.5)
        finished.append("slow")
        return "slow"

    def later():
        later_raised.set()
        raise RuntimeError("raised first in time")

    with pytest.raises(ValueError, match="first in call order"):
        concurrently(spark, [first, slow, later])
    assert finished == ["slow"]


def test_results_come_back_in_call_order(spark):
    procs = _chain(["a", "b", "c", "d"])
    assert concurrently(spark, [lambda p=p: p()[2] for p in procs.values()]) == [0, 1, 2, 3]
    assert concurrently(spark, []) == []


def test_buffered_rows_replay_in_call_order_under_stress(spark, tmp_path):
    # more calls than cores, switching threads as often as possible:
    # every row each call buffered is replayed, in call order
    n, per_call = 4 * (os.cpu_count() or 4), 50
    buffers = [RowBuffer() for _ in range(n)]

    def call(i: int) -> int:
        for k in range(per_call):
            buffers[i].append("transformation_log", proc_name=f"p{i}", seq=k)
        return i

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert concurrently(spark, [lambda i=i: call(i) for i in range(n)]) == list(range(n))
    finally:
        sys.setswitchinterval(prev)
    log = RunLog(str(tmp_path))
    for buf in buffers:
        buf.replay(log)
    assert [(r["proc_name"], r["seq"]) for r in log.read("transformation_log")] == [
        (f"p{i}", k) for i in range(n) for k in range(per_call)
    ]
