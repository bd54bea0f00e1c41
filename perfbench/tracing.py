"""Tracing for the benchmark: in-memory spans, self-time arithmetic,
plan fingerprints and a Spark event-log reader.

Spans are recorded by the benchmark around its own calls into the
library (construct, plan, execute, fetch of each op); nothing inside
``scida_spark`` is instrumented. A span's self time is its wall minus
the part of its interval its direct children cover.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    """Spans kept in memory: (id, name, start, end, parent, op)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> wall minus the union of its direct children, each
    child clipped to the parent's interval."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            ps = by_id[p]
            a, b = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if b > a:
                children[p].append((a, b))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children[s["id"]]) for s in spans
    }


def coverage(root: dict, root_self_time: float) -> float:
    """Share of a root span's wall that its child spans cover."""
    wall = root["end"] - root["start"]
    return 1.0 - root_self_time / wall if wall > 0 else 1.0


_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"(plan_id=|id=|\[id=#?)\d+")


def plan_fingerprint(plan_text: str) -> str:
    """Hash of a physical plan with expression and plan ids normalised."""
    norm = _PLAN_ID.sub(r"\1N", _EXPR_ID.sub("#N", plan_text))
    return hashlib.sha1(norm.encode()).hexdigest()[:16]


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

# Event-log metrics summed per job group (see read_event_log).
EVENT_METRICS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb", "plan.exchanges",
    "plan.single_partition_windows", "plan.nested_loop_joins", "plan.python_nodes",
)
PYTHON_NODES = ("Python", "ArrowEval", "MapInArrow", "MapInPandas", "InPandas")
# Nodes that turn stored data into rows: scans, and the mapInArrow read
# kernel of sources/hdf5.py (the only mapInArrow in these plans).
SOURCE_NODES = ("BatchScan", "Scan", "FileScan", "MapInArrow")


def _walk_plan(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk_plan(child)


def _is_python(node: dict) -> bool:
    name = node.get("nodeName", "")
    return any(k in name for k in PYTHON_NODES) or "(Python)" in node.get("simpleString", "")


def plan_counts(info: dict) -> dict[str, int]:
    """Node counts of one (final) physical plan tree."""
    out = {"plan.exchanges": 0, "plan.single_partition_windows": 0,
           "plan.nested_loop_joins": 0, "plan.python_nodes": 0}
    for node in _walk_plan(info):
        name, text = node.get("nodeName", ""), node.get("simpleString", "")
        if name.endswith("Exchange") and "QueryStage" not in name:
            out["plan.exchanges"] += 1
        elif name == "Window" and re.search(r"\], \[\], \[", text):
            out["plan.single_partition_windows"] += 1
        elif "NestedLoopJoin" in name:
            out["plan.nested_loop_joins"] += 1
        if _is_python(node):
            out["plan.python_nodes"] += 1
    return out


def _node_accumulators(info: dict, out: dict[int, str]) -> None:
    """Accumulator id -> 'source' / 'python' for the metrics of source
    and Python nodes (a Python source counts as a source)."""
    for node in _walk_plan(info):
        name = node.get("nodeName", "")
        kind = ("source" if name.startswith(SOURCE_NODES)
                else "python" if _is_python(node) else None)
        if kind:
            for m in node.get("metrics", []):
                out[m["accumulatorId"]] = kind


def read_event_log(path: str) -> dict:
    """Per job group: jobs, stages, tasks, task metrics, SQL metrics
    (by name, and by name for source and Python nodes) and plan node
    counts, summed over its executions."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    leaf_stages: set[int] = set()
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    node_acc: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or "-"
                g = groups[grp]
                g["exec.jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    stage_group[st["Stage ID"]] = grp
                    if not st.get("Parent IDs"):
                        leaf_stages.add(st["Stage ID"])
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), grp)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                grp = stage_group.get(info["Stage ID"])
                if grp is not None and "Failure Reason" not in info:
                    groups[grp]["exec.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                if grp is not None:
                    _add_task(groups[grp], ev, ev["Stage ID"] in leaf_stages, node_acc)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                info = ev.get("sparkPlanInfo") or {}
                exec_plan[ev["executionId"]] = info
                _node_accumulators(info, node_acc)
    for ex, info in exec_plan.items():
        grp = exec_group.get(ex)
        if grp is None:
            continue
        for k, v in plan_counts(info).items():
            groups[grp][k] += v
    return {k: dict(v) for k, v in groups.items()}


def _add_task(g: dict, ev: dict, leaf: bool, node_acc: dict[int, str]) -> None:
    g["exec.tasks"] += 1
    if leaf:
        g["leaf_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    g["exec.task_s"] += m.get("Executor Run Time", 0) / 1e3
    g["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    g["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    g["shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle.read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / 1e6
    g["shuffle.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if not name or name.startswith("internal."):
            continue
        try:
            upd = float(acc.get("Update"))
        except (TypeError, ValueError):
            continue
        g["acc:" + name] += upd
        node = node_acc.get(acc.get("ID"))
        if node:
            g[f"{node}:{name}"] += upd


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
                files += 1
            except OSError:
                pass
    return total, files


def find_event_log(log_dir: str) -> str | None:
    if not os.path.isdir(log_dir):
        return None
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, sorted(names)[-1]) if names else None
