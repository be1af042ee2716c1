"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import math
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import measure  # noqa: E402
import workloads  # noqa: E402
from measure import Span  # noqa: E402


# -- percentile rule ---------------------------------------------------


def _beyond(n: int, p: int) -> int:
    """Samples of 1..n above their nearest-rank p-th percentile."""
    return n - math.ceil(n * p / 100)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert measure.tail_percentile(100) == 90
    assert measure.tail_percentile(1000) == 99
    assert measure.tail_percentile(20) == 50
    assert measure.tail_percentile(19) is None
    for n in (20, 37, 100, 250):
        p = measure.tail_percentile(n)
        assert _beyond(n, p) >= 10
        if p < 99:  # the next percentile up would leave fewer than ten
            assert _beyond(n, p + 1) < 10


# -- span self time ----------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "bench.pass", None, 0.0, 10.0),
        Span(1, "plans.silver", 0, 1.0, 4.0),
        Span(2, "plans.gold", 0, 3.0, 6.0),  # overlaps span 1 by 1 s
        Span(3, "plans.mv", 0, 8.0, 9.0),
        Span(4, "plans.ingest", 2, 4.0, 5.0),
    ]
    st = measure.self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)  # children cover [1,6] and [8,9]
    assert st[1] == 3.0
    assert st[2] == 2.0
    assert st[3] == 1.0
    assert st[4] == 1.0


# -- event-log fold ----------------------------------------------------


def _task(stage, cpu_ns, shuffle_read, written, spilled=0, read=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Memory Bytes Spilled": spilled, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    })


def test_fold_attributes_by_group_then_by_time():
    mb = 1024 * 1024
    spans = [
        Span(0, "bench.pass", None, 100.0, 110.0),
        Span(1, "operators.tpch", 0, 101.0, 104.0),
        Span(2, "streaming", 0, 105.0, 109.0),
    ]
    log = [
        json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 101500,
                    "Stage IDs": [0, 1],
                    "Properties": {"spark.jobGroup.id": "span-1"}}),
        _task(0, 2e9, 0, mb, read=3 * mb),
        _task(1, 1e9, mb, 0, spilled=mb),
        # a micro-batch job: its own group, so attribution falls back to time
        json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 106000,
                    "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "stream-run-1"}}),
        _task(2, 4e9, 0, 0),
        # outside every span
        json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 200000,
                    "Stage IDs": [3], "Properties": {}}),
        _task(3, 1e9, 0, 0),
        "",
    ]
    out = measure.fold_event_log(log, spans)
    tpch, stream = out[1], out[2]
    assert tpch["jobs"] == 1 and tpch["tasks"] == 2 and tpch["cpu_s"] == 3.0
    assert tpch["shuffle_mb"] == 2.0 and tpch["spill_mb"] == 1.0
    assert tpch["input_mb"] == 3.0 and tpch["gc_s"] == 2 * 0.005
    assert stream["jobs"] == 1 and stream["tasks"] == 1 and stream["cpu_s"] == 4.0
    assert out[None] == {"jobs": 1, "tasks": 1, "cpu_s": 1.0, "gc_s": 0.005,
                         "shuffle_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0}
    assert 0 not in out


# -- seeded selection --------------------------------------------------


def _gate_order(seed):
    ctx = workloads.Ctx(None, "", "", random.Random(seed), measure.Tracer(),
                        {"queries": {g: len for g in workloads.STAR_GATES}})
    w = workloads.Warehouse()
    return [[name for name, _ in w.gate_ops(ctx)] for _ in range(2)]


def test_gate_order_is_seeded():
    assert _gate_order(1) == _gate_order(1)
    assert _gate_order(1) != _gate_order(2)
    assert sorted(_gate_order(3)[0]) == sorted(workloads.STAR_GATES)


def _warehouse_pass(seed, root):
    ctx = workloads.Ctx(None, str(root), "", random.Random(seed), measure.Tracer(),
                        {"plan": None, "clients": 0,
                         "queries": {g: len for g in workloads.STAR_GATES}})
    names = [name for name, _ in workloads.Warehouse().pass_ops(ctx)]
    files = {}
    for dirpath, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            with open(os.path.join(dirpath, f)) as fh:
                files[os.path.relpath(os.path.join(dirpath, f), root)] = fh.read()
    return names, files


def test_warehouse_batches_are_seeded(tmp_path):
    names, a = _warehouse_pass(7, tmp_path / "a")
    assert (names, a) == _warehouse_pass(7, tmp_path / "b")
    names_c, c = _warehouse_pass(8, tmp_path / "c")
    assert a.keys() == c.keys() and a != c and names != names_c
    assert names[0] == "client_batch"
    assert sorted(names[1:]) == sorted(workloads.STAR_GATES)
    assert len([k for k in a if "sales_details" in k]) == 1


def test_corpus_batches_are_seeded():
    def batches(seed):
        ctx = workloads.Ctx(None, "", "", random.Random(seed), measure.Tracer(), {
            "queries": {g: len for g in workloads.CORPUS_GATES},
            "pool": list(range(400, 500)),
        })
        names = [name for name, _ in workloads.Corpus().pass_ops(ctx)]
        return names, ctx.state["batch_ids"]

    assert batches(5) == batches(5)
    assert batches(5)[1] != batches(6)[1]
    assert batches(5)[0] != batches(6)[0]


# -- /dev/shm clean-up -------------------------------------------------


def test_shm_entries_removes_only_what_the_run_added(tmp_path, monkeypatch):
    import hooks

    monkeypatch.setattr(hooks.ShmEntries, "ROOT", str(tmp_path))
    (tmp_path / "spark-graft-ckpt" / "old_query").mkdir(parents=True)
    (tmp_path / "spark-graft-stream-src-old").mkdir()
    (tmp_path / "unrelated").mkdir()
    shm = hooks.ShmEntries()
    (tmp_path / "spark-graft-ckpt" / "new_query" / "offsets").mkdir(parents=True)
    (tmp_path / "spark-graft-slicer-new").mkdir()
    (tmp_path / "spark-graft-note").write_text("x")
    (tmp_path / "another").mkdir()
    shm.remove_new()
    assert sorted(os.listdir(tmp_path)) == [
        "another", "spark-graft-ckpt", "spark-graft-stream-src-old", "unrelated"]
    assert os.listdir(tmp_path / "spark-graft-ckpt") == ["old_query"]


def test_shm_entries_removes_a_checkpoint_root_it_created(tmp_path, monkeypatch):
    import hooks

    monkeypatch.setattr(hooks.ShmEntries, "ROOT", str(tmp_path))
    shm = hooks.ShmEntries()
    (tmp_path / "spark-graft-ckpt" / "q1").mkdir(parents=True)
    shm.remove_new()
    assert os.listdir(tmp_path) == []
