"""Self-tests of the benchmark: generator determinism, self-time
arithmetic, event-log parsing, that the checks catch a wrong truth value,
and a tiny end-to-end smoke of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

TINY = 10_000


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    cache = tmp_path_factory.mktemp("cache")
    snapdir, _ = gen.ensure(str(cache), 5, TINY)
    return snapdir


def test_generator_is_deterministic(tmp_path, tiny):
    again, gen_s = gen.ensure(str(tmp_path / "a"), 5, TINY)
    assert gen_s > 0
    assert _digest(again) == _digest(tiny)
    other, _ = gen.ensure(str(tmp_path / "b"), 6, TINY)
    assert _digest(other) != _digest(tiny)


def test_generator_cache_hit_and_eviction(tmp_path):
    cache = str(tmp_path)
    first, _ = gen.ensure(cache, 1, 2000)
    assert gen.ensure(cache, 1, 2000) == (first, 0.0)
    for seed in range(2, gen.CACHE_KEEP + 2):
        gen.ensure(cache, seed, 2000)
    assert len(os.listdir(cache)) == gen.CACHE_KEEP
    assert not os.path.exists(first)


def test_generator_layout_invariants(tiny):
    t = gen.load_truth(tiny)
    off, glen = t["group_offsets"], t["group_len_gas"]
    assert off[0] == 0 and np.array_equal(off[1:], np.cumsum(glen)[:-1])
    assert np.all(np.diff(glen) <= 0)  # largest halo first
    # Subhalos lie inside their halo, in order.
    grnr, start, slen = t["sub_grnr"], t["sub_start"], t["sub_len_gas"]
    assert np.all(start >= off[grnr]) and np.all(start + slen <= off[grnr] + glen[grnr])
    assert np.all(np.diff(grnr) >= 0)
    assert int(glen.sum()) < int(t["n_gas"])  # an unbound tail exists
    files = sorted(os.listdir(os.path.join(tiny, "snap")))
    assert len(files) == gen.NFILES
    with open(os.path.join(tiny, "snap", files[0], "Header", "_attrs.json")) as fh:
        assert json.load(fh)["Git_commit"]


def _span(sid, start, end, parent=None, name="x"):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": "o"}


def test_self_time_arithmetic():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps span 1: union 1..6 covers 5
        _span(3, 8.0, 12.0, 0),  # runs past its parent: clipped to 8..10
        _span(4, 1.5, 2.0, 1),
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    # The root's children cover 7 of its 10 s.
    assert tr.coverage(spans[0], st[0]) == pytest.approx(0.7)


def test_recorder_nests_spans():
    rec = tr.Recorder()
    with rec.span("op#1", op="op#1"):
        with rec.span("catalog.construct"):
            pass
    root, child = rec.spans
    assert child["parent"] == root["id"] and child["op"] == "op#1"
    assert root["start"] <= child["start"] <= child["end"] <= root["end"]


def test_plan_fingerprint_ignores_expression_ids():
    a = "HashAggregate(keys=[GroupID#12L], functions=[sum(Masses#7)]) plan_id=3"
    b = "HashAggregate(keys=[GroupID#99L], functions=[sum(Masses#41)]) plan_id=8"
    c = "HashAggregate(keys=[GroupID#12L], functions=[max(Masses#7)]) plan_id=3"
    assert tr.plan_fingerprint(a) == tr.plan_fingerprint(b) != tr.plan_fingerprint(c)


def test_read_event_log(tmp_path):
    read_kernel = {"nodeName": "MapInArrow", "simpleString": "", "children": [],
                   "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    udf = {"nodeName": "ArrowEvalPython", "simpleString": "", "children": [read_kernel],
           "metrics": [{"name": "number of output rows", "accumulatorId": 8}]}
    plan = {"nodeName": "AdaptiveSparkPlan", "simpleString": "", "children": [
        {"nodeName": "Window", "simpleString": "Window [sum(x)], [], [uid ASC]",
         "children": [{"nodeName": "Exchange", "simpleString": "Exchange SinglePartition",
                       "children": [udf]}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Stage Infos": [{"Stage ID": 0, "Parent IDs": []}, {"Stage ID": 1, "Parent IDs": [0]}],
         "Properties": {"spark.jobGroup.id": "op#2|execute", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"ID": 7, "Name": "number of output rows", "Update": "1000"},
             {"ID": 8, "Name": "number of output rows", "Update": "990"},
             {"ID": 9, "Name": "data sent to Python workers", "Update": "2000000"}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    g = tr.read_event_log(str(path))["op#2|execute"]
    assert g["exec.jobs"] == 1 and g["exec.tasks"] == 2 and g["leaf_tasks"] == 1
    assert g["exec.stages"] == 1
    assert g["exec.task_s"] == pytest.approx(2.0)
    assert g["shuffle.write_mb"] == pytest.approx(3.0)
    assert g["acc:data sent to Python workers"] == 2e6
    assert g["acc:number of output rows"] == 1990
    assert g["source:number of output rows"] == 1000
    assert g["python:number of output rows"] == 990
    assert g["plan.single_partition_windows"] == 1
    assert g["plan.exchanges"] == 1 and g["plan.python_nodes"] == 2


def _perfect_rows(t):
    """Outputs a correct engine would return, built from the truth."""
    def dec(v):
        v = int(str(v))
        return f"{v // 10**6}.{v % 10**6:06d}"

    return {
        "pbc_rect_cutout": [{"n": int(t["cutout_count"]), "msum": float(t["cutout_msum"])}],
        "histogram2d": [
            {"xbin": i, "ybin": j, "count": int(c)}
            for (i, j), c in np.ndenumerate(t["hist"]) if c
        ],
        "group_offsets": [
            {"GroupID": i, "offset": int(o)} for i, o in enumerate(t["group_offsets"])
        ],
        "global_running_sum": [{
            "mx": dec(t["running_total_q"]), "s": dec(t["running_sum_q"]),
            "spot": dec(t["running_spot_q"]),
        }],
    }


def test_checks_accept_truth_and_reject_a_corrupted_value(tiny):
    truth = gen.load_truth(tiny)
    ops = {op.name: op for op in wl.CATALOG_OPS}
    rows = _perfect_rows(truth)
    ctx = wl.Ctx(None, tiny, "", truth)
    for name, r in rows.items():
        assert ops[name].check(r, ctx) == [], name
    corrupt = {
        "pbc_rect_cutout": ("cutout_count", lambda v: v + 1),
        "histogram2d": ("hist", lambda v: v + np.eye(*v.shape, dtype=v.dtype)),
        "group_offsets": ("group_offsets", lambda v: np.where(np.arange(len(v)) == 3, v + 1, v)),
        "global_running_sum": ("running_spot_q", lambda v: str(int(str(v)) + 1)),
    }
    for name, (key, bump) in corrupt.items():
        bad = dict(truth)
        bad[key] = bump(truth[key])
        assert ops[name].check(rows[name], wl.Ctx(None, tiny, "", bad)), name


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_workload_smoke(tmp_path, monkeypatch, workload):
    """One measuring process on ~1e4 particles passes every check."""
    monkeypatch.setattr(run, "RUNS", str(tmp_path / "runs"))
    snapdir, _ = gen.ensure(str(tmp_path / "cache"), 3, TINY)
    args = SimpleNamespace(workload=workload, seed=3, seconds=0.0)
    t0 = time.perf_counter()
    rec = run._child(args, snapdir, 0)
    assert rec["failed"] == 0, rec["errors"]
    assert rec["attempted"] >= 2 * (len(wl.CATALOG_OPS) if workload == "halo_catalog"
                                    else wl.SELECT_PASS)
    assert rec["peak_rss_mb"] > 0
    assert not os.listdir(str(tmp_path / "runs"))  # the run dir is removed
    print(f"{workload} smoke: {time.perf_counter() - t0:.1f} s")
