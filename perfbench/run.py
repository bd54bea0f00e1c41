"""Benchmark entry point.

    python3 perfbench/run.py --workload halo_catalog --seed 1 --seconds 20 --trace 0

Generates (or reuses) the seeded snapshot, then starts fresh worker
processes, each with its own TMPDIR, SPARK_LOCAL_DIRS, warehouse and
event-log dir under one run dir that is deleted afterwards:

* ``--trace 0``: one measuring process reports the end-to-end metrics.
  Its peak memory (driver Python, JVM, Python workers) is sampled from
  /proc.
* ``--trace 1``: one traced measuring process (Spark event log on; job
  groups and plan forcing on every other warm pass) that reports the
  per-layer metrics.

Prints a human-readable summary, then as its last line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing as tr  # noqa: E402

WORKLOADS = ("halo_catalog", "halo_selectors")
N_PART = 1 << 20  # gas particles, and as many dark-matter particles
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 165  # a whole run, generation included, must end within 180 s
MIN_COVERAGE = 0.95  # traced runs: layer self times over op wall, per op
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")

END_TO_END = {
    "setup_s": "s",
    "cold_total_s": "s",
    "warm_total_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "op.p50_ms": "ms",
    "op.p90_ms": "ms",
    "session.start_s": "s",
    "sources.load_s": "s",
    "catalog.offsets_s": "s",
    "sources.exec_s": "s",
    "sources.read_mb": "MB",
    "sources.rows_read": "count",
    "sources.splits_read": "count",
    "sources.splits_total": "count",
    "fields.construct_s": "s",
    "dataset.save_s": "s",
    "dataset.save_mb": "MB",
    "catalog.construct_s": "s",
    "catalog.construct_jobs": "count",
    "catalog.exec_s": "s",
    "prefix_sum.exec_s": "s",
    "histogram.exec_s": "s",
    "spatial.exec_s": "s",
    "catalyst.plan_s": "s",
    "plan.exchanges": "count",
    "plan.single_partition_windows": "count",
    "plan.nested_loop_joins": "count",
    "plan.python_nodes": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.idle_core_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "python.worker_s": "s",
    "python.sent_mb": "MB",
    "python.rows_returned": "count",
    "blocks.cached_mb": "MB",
    "fetch.s": "s",
    "fetch.result_mb": "MB",
    "store_mb": "MB",
    "store.write_mb_cold": "MB",
    "store.files_cold": "count",
    "store.write_mb_warm": "MB",
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}


class MemSampler(threading.Thread):
    """Peak memory of a process and all its descendants. The JVM counts
    its resident set (RSS, from statm); walking its page tables for PSS
    would take ~20 ms a sample while holding its mmap lock. A JVM thread
    that starts a Python worker forks first: until the fork execs, it
    runs the java binary under the thread's name and its pages are the
    JVM's, so it counts nothing. Python processes count their
    proportional set (PSS): the workers fork from one daemon, so pages
    they share are split among them, not counted once per worker."""

    PERIOD_S = 0.25
    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._stop_evt = threading.Event()

    def _tree(self) -> list[tuple[int, str]]:
        """(pid, command name) of the process and its descendants."""
        children: dict[int, list[tuple[int, str]]] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
                ppid = int(tail.split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append((int(e), head.split("(", 1)[1]))
        out, todo = [], [(self.pid, "")]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p[0], []))
        return out

    def _bytes(self, pid: int, comm: str) -> int:
        try:
            if comm == "java":
                with open(f"/proc/{pid}/statm") as fh:
                    return int(fh.read().split()[1]) * self.PAGE
            if os.readlink(f"/proc/{pid}/exe").endswith("/java"):
                return 0
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(self._bytes(*p) for p in self._tree()))
            self._stop_evt.wait(self.PERIOD_S)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def _child(args, snapdir: str, traced: int) -> dict:
    """Run one worker process in a fresh private run dir; return its
    record plus peak memory and bytes left in its temp and warehouse dirs."""
    os.makedirs(RUNS, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS)
    try:
        tmp, local = os.path.join(rundir, "tmp"), os.path.join(rundir, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        env = dict(os.environ)
        env.update({
            "TMPDIR": tmp,
            # Every JVM, the launcher's too, keeps its scratch files here.
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONHASHSEED": "0",
            # Python workers import the library and the workload module.
            "PYTHONPATH": os.pathsep.join(
                [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
        })
        out = os.path.join(rundir, "record.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--snapdir", snapdir, "--rundir", rundir,
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(traced), "--out", out,
        ]
        spawn = time.time()
        proc = subprocess.Popen(cmd + ["--spawn", repr(spawn)], env=env, cwd=rundir,
                                stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                                start_new_session=True)
        sampler = MemSampler(proc.pid)
        sampler.start()
        try:
            _, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise RuntimeError(f"worker timed out after {CHILD_TIMEOUT_S}s")
        finally:
            peak = sampler.stop()
            _reap_group(proc.pid)
        if proc.returncode != 0:
            tail = err.decode(errors="replace")[-3000:]
            raise RuntimeError(f"worker exited {proc.returncode}:\n{tail}")
        with open(out) as fh:
            rec = json.load(fh)
        rec["peak_rss_mb"] = peak / 1e6
        rec["store_mb"] = sum(
            tr.du(os.path.join(rundir, d))[0] for d in ("tmp", "warehouse")
        ) / 1e6
        return rec
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def _reap_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group and wait."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def end_to_end(rec: dict) -> dict:
    return {
        "setup_s": rec["setup_s"],
        "cold_total_s": rec["cold_total_s"],
        "warm_total_s": statistics.median(rec["warm_pass_s"]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scida_spark")):
        print(f"scida_spark not found next to {HERE}", file=sys.stderr)
        return 2

    snapdir, gen_s = gen.ensure(CACHE, args.seed, N_PART)
    print(f"inputs: {snapdir} (generated in {gen_s:.2f} s)", file=sys.stderr)

    rec = _child(args, snapdir, args.trace)
    if args.trace:
        values = dict(rec["layers"])
        walls = rec["warm_walls"]
        values["op.p50_ms"] = statistics.median(walls) * 1e3
        values["op.p90_ms"] = statistics.quantiles(walls, n=10, method="inclusive")[-1] * 1e3
        values["store_mb"] = rec["store_mb"]
        values["store.write_mb_cold"] = rec["store_cold"][0] / 1e6
        values["store.files_cold"] = rec["store_cold"][1]
        values["store.write_mb_warm"] = (rec["store_end"][0] - rec["store_cold"][0]) / 1e6
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(rec).items()}
    correct = rec["failed"] == 0

    rec["host"].update(seed=args.seed, gen_s=round(gen_s, 3))
    record = {k: rec[k] for k in ("host", "per_op", "errors", "setup_s")}
    record["workload"] = args.workload
    for key in ("fingerprints", "coverage", "accumulators", "job_groups", "spans"):
        if key in rec:
            record[key] = rec[key]
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"workload {args.workload}  seed {args.seed}  host {json.dumps(rec['host'])}")
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
    print(f"  attempted {rec['attempted']}  failed {rec['failed']}  correct {correct}")
    for e in rec["errors"]:
        print(f"  ERROR {e}")
    low = [f"{op} {c:.3f}" for op, c in rec.get("coverage", []) if c < MIN_COVERAGE]
    if low:
        print(f"  WARNING layer self times cover < {MIN_COVERAGE} of the op wall: {low}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
