"""One benchmark process: set up a session and the dataset, run the
workload's cold pass and warm passes, check every output and write a
JSON record. Started by ``run.py`` with a private TMPDIR and
SPARK_LOCAL_DIRS already in its environment.

    python3 perfbench/worker.py --workload W --snapdir D --rundir R \
        --seconds S --seed N --trace 0|1 --spawn T --out F
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

# Warm passes run until --seconds have passed, and at least this many.
MIN_WARM_PASSES = {"halo_catalog": 1, "halo_selectors": 2}
# Driver JVM heap sizing that does not depend on measured GC times: G1
# otherwise sizes its young generation and starts old-generation marking
# from pause timings, so the JVM's footprint would follow the host's speed.
JVM_HEAP_OPTS = "-Xms2g -Xmn256m -XX:-G1UseAdaptiveIHOP"


class Runner:
    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.rec = tr.Recorder()
        self.cpus = len(os.sched_getaffinity(0))
        self.warehouse = os.path.join(args.rundir, "warehouse")
        self.events = os.path.join(args.rundir, "events")
        self.ctx = None
        self.targets: list[tuple[str, int]] = []  # halo_selectors requests
        self.fingerprints: dict[str, str] = {}

    # -- setup -------------------------------------------------------------

    def setup(self) -> dict:
        from scida_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={self.args.rundir} {JVM_HEAP_OPTS}",
        }
        if self.traced:
            os.makedirs(self.events, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.rec.span("setup", op="setup"):
            with self.rec.span("session.start"):
                spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                                  extra_conf=conf)
                spark.range(1000).selectExpr("sum(id)").collect()
            self.ctx = wl.Ctx(spark, self.args.snapdir, self.warehouse, truth=None,
                              rec=self.rec, cpus=self.cpus)
            with self.rec.span("sources.load"):
                if self.args.workload == "halo_catalog":
                    wl.catalog_setup(self.ctx)
                else:
                    wl.selector_setup(self.ctx)
        setup_s = time.time() - self.args.spawn
        truth = self.ctx.truth = gen.load_truth(self.args.snapdir)
        sc = spark.sparkContext
        host = {
            "nproc": self.cpus,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark_version": spark.version,
            "driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
            "n_gas": int(truth["n_gas"]),
            "n_halo": len(truth["group_len_gas"]),
            "n_subhalo": len(truth["sub_len_gas"]),
            "input_mb": round(tr.du(os.path.join(self.args.snapdir, "snap"))[0] / 1e6, 3),
        }
        return {"setup_s": setup_s, "host": host}

    # -- one timed op ------------------------------------------------------

    def hooked(self, k: int) -> bool:
        """Whether pass k runs with the trace hooks (job groups and plan
        forcing). A traced process alternates, so the warm passes without
        hooks give the hooks' overhead; untraced processes never hook."""
        return self.traced and k % 2 == 0

    def call(self, op_id: str, layer: str, construct, hooked: bool):
        """Time construct -> (plan) -> execute -> fetch of one op.
        Returns (wall seconds, fetched result or the exception raised)."""
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
        from pyspark.sql.dataframe import DataFrame
        from pyspark.util import _load_from_socket

        sc = self.ctx.spark.sparkContext

        def phase(name):
            if hooked:
                sc.setJobGroup(f"{op_id}|{name}", name)

        t0 = time.perf_counter()
        try:
            with self.rec.span(op_id, op=op_id):
                phase("construct")
                with self.rec.span(f"{layer}.construct"):
                    target = construct(self.ctx)
                is_df = isinstance(target, DataFrame)
                if hooked and is_df:
                    phase("plan")
                    with self.rec.span("catalyst.plan"):
                        plan = target._jdf.queryExecution().executedPlan().toString()
                    self.fingerprints[op_id.split("#")[0]] = tr.plan_fingerprint(plan)
                phase("execute")
                with self.rec.span(f"{layer}.exec"):
                    sock = target._jdf.collectToPython() if is_df else target()
                phase("fetch")
                with self.rec.span("fetch"):
                    result = (
                        list(_load_from_socket(sock, BatchedSerializer(CPickleSerializer())))
                        if is_df else None
                    )
        except Exception as exc:  # noqa: BLE001 -- an op that raises is a failed attempt
            result = exc
        return time.perf_counter() - t0, result

    # -- workloads ---------------------------------------------------------

    def run_passes(self, one_pass) -> list:
        """Cold pass, then warm passes until --seconds have elapsed."""
        min_passes = 1 + (2 if self.traced else MIN_WARM_PASSES[self.args.workload])
        t_start = time.perf_counter()
        passes = []
        while True:
            k = len(passes)
            if self.traced and not self.hooked(k):
                self.ctx.spark.sparkContext.setJobGroup("-", "unhooked pass")
            passes.append(one_pass(k, self.hooked(k)))
            if k == 0:
                self.store_cold = tr.du(self.warehouse)
            if len(passes) >= min_passes and \
                    time.perf_counter() - t_start >= self.args.seconds:
                return passes

    def catalog_pass(self, k: int, hooked: bool) -> list:
        out = []
        for op in wl.CATALOG_OPS:
            wall, result = self.call(f"{op.name}#{k}", op.layer, op.construct, hooked)
            out.append((op.name, wall, result))
        return out

    def selector_pass(self, k: int, hooked: bool) -> list:
        import numpy as np

        order = np.random.default_rng([self.args.seed, 11, k]).permutation(len(self.targets))
        out = []
        for i in order:
            kind, idx = self.targets[i]
            wall, result = self.call(
                f"{kind}:{idx}#{k}", "sources",
                lambda ctx, kind=kind, idx=idx: wl.request_df(ctx, kind, idx), hooked,
            )
            out.append(((kind, idx), wall, result))
        return out

    def measure(self) -> dict:
        ctx = self.ctx
        if self.args.workload == "halo_catalog":
            passes = self.run_passes(self.catalog_pass)
            checks = {op.name: op.check for op in wl.CATALOG_OPS}

            def check(key, result):
                return checks[key](result, ctx)
        else:
            self.targets = wl.selector_targets(
                self.args.seed, len(ctx.state["halos"]), len(ctx.state["subs"]),
                wl.SELECT_PASS,
            )
            passes = self.run_passes(self.selector_pass)

            def check(key, result):
                return wl.check_request(result, ctx, *key)

        jsc = ctx.spark.sparkContext._jsc.sc()
        cached = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
        attempted = failed = 0
        errors: list[str] = []
        for p in passes:
            for key, _wall, result in p:
                attempted += 1
                if isinstance(result, Exception):
                    errs = [f"{key}: raised {type(result).__name__}: {str(result)[:300]}"]
                else:
                    try:
                        errs = check(key, result)
                    except Exception as exc:  # noqa: BLE001 -- a crash in a check is a failed op
                        errs = [f"{key}: check raised {type(exc).__name__}: {exc}"]
                if errs:
                    failed += 1
                    errors.extend(errs)
        per_op: dict[str, list] = {}
        for p in passes:
            for key, wall, _r in p:
                name = key if isinstance(key, str) else ":".join(map(str, key))
                per_op.setdefault(name, []).append(round(wall, 6))
        n_splits = -(-int(ctx.truth["n_gas"]) // wl.NPY_ROWS_PER_SPLIT)
        return {
            "n_passes": len(passes),
            "pass_s": [sum(w for _k, w, _r in p) for p in passes],
            "cold_total_s": sum(w for _k, w, _r in passes[0]),
            "warm_pass_s": [sum(w for _k, w, _r in p) for p in passes[1:]],
            "warm_walls": [w for p in passes[1:] for _k, w, _r in p],
            "result_bytes": [
                sum(len(pickle.dumps(r)) for _k, _w, r in p if isinstance(r, list))
                for p in passes
            ],
            "save_bytes": tr.du(os.path.join(self.warehouse, "annotated"))[0],
            "cached_bytes": cached,
            "splits_planned": n_splits * len(self.targets),
            "per_op": per_op,
            "attempted": attempted,
            "failed": failed,
            "errors": errors[:20],
            "store_cold": self.store_cold,
        }

    def layer_metrics(self, res: dict) -> dict:
        """Per-layer metrics from the spans and the event log, per hooked
        warm pass (see ``hooked``)."""
        passes = [k for k in range(1, res["n_passes"]) if self.hooked(k)]
        n = max(1, len(passes))
        keep = {f"#{k}" for k in passes}
        st = tr.self_times(self.rec.spans)
        span_s: dict[str, float] = {}
        coverages = []
        for s in self.rec.spans:
            op = s["op"]
            if op == "setup":
                if s["parent"] is not None:
                    span_s[s["name"]] = span_s.get(s["name"], 0.0) + st[s["id"]]
                continue
            if op[op.rindex("#"):] not in keep:
                continue
            if s["parent"] is None:
                coverages.append((op, tr.coverage(s, st[s["id"]])))
            else:
                span_s[s["name"]] = span_s.get(s["name"], 0.0) + st[s["id"]] / n
        m = {
            "session.start_s": span_s.get("session.start", 0.0),
            "sources.load_s": span_s.get("sources.load", 0.0),
            "catalog.offsets_s": span_s.get("catalog.offsets", 0.0),
            "fields.construct_s": span_s.get("fields.construct", 0.0),
            "catalog.construct_s": span_s.get("catalog.construct", 0.0),
            "catalog.exec_s": span_s.get("catalog.exec", 0.0),
            "prefix_sum.exec_s": span_s.get("prefix_sum.exec", 0.0),
            "histogram.exec_s": span_s.get("histogram.exec", 0.0),
            "spatial.exec_s": span_s.get("spatial.exec", 0.0),
            "sources.exec_s": span_s.get("sources.exec", 0.0),
            "dataset.save_s": span_s.get("dataset.exec", 0.0),
            "catalyst.plan_s": span_s.get("catalyst.plan", 0.0),
            "fetch.s": span_s.get("fetch", 0.0),
            "fetch.result_mb": sum(res["result_bytes"][k] for k in passes) / n / 1e6,
            "dataset.save_mb": res["save_bytes"] / 1e6,
            "blocks.cached_mb": res["cached_bytes"] / 1e6,
            "trace.coverage": min((c for _op, c in coverages), default=1.0),
        }
        self.coverages = coverages
        exec_wall = sum(span_s.get(f"{layer}.exec", 0.0) for layer in wl.LAYERS)
        m.update(self._event_metrics(keep, n, exec_wall))
        if self.args.workload == "halo_selectors":
            m["sources.splits_total"] = res["splits_planned"] / n
        else:
            m["sources.splits_total"] = m["sources.splits_read"]
        hooked = [res["pass_s"][k] for k in passes]
        plain = [res["pass_s"][k] for k in range(1, res["n_passes"]) if not self.hooked(k)]
        m["trace.overhead_ratio"] = (
            statistics.median(hooked) / statistics.median(plain) if hooked and plain else 1.0
        )
        return m

    def _event_metrics(self, keep: set[str], n: int, exec_wall: float) -> dict:
        path = tr.find_event_log(self.events)
        groups = tr.read_event_log(path) if path else {}
        self.job_groups = groups
        tot: dict[str, float] = {}
        construct_jobs = exec_task_s = 0.0
        for grp, vals in groups.items():
            op_id, _, phase = grp.partition("|")
            if "#" not in op_id or op_id[op_id.rindex("#"):] not in keep:
                continue
            for k, v in vals.items():
                tot[k] = tot.get(k, 0.0) + v / n
            if phase == "construct":
                construct_jobs += vals.get("exec.jobs", 0.0) / n
            if phase == "execute":
                exec_task_s += vals.get("exec.task_s", 0.0) / n
        m = {k: tot.get(k, 0.0) for k in tr.EVENT_METRICS}
        m["catalog.construct_jobs"] = construct_jobs
        m["exec.idle_core_s"] = self.cpus * exec_wall - exec_task_s
        self.accumulators = {k[4:]: v for k, v in tot.items() if k.startswith("acc:")}
        m["python.sent_mb"] = tot.get("python:data sent to Python workers", 0.0) / 1e6
        m["python.worker_s"] = tot.get("python:time to run Python workers", 0.0) / 1e3
        m["python.rows_returned"] = tot.get("python:number of output rows", 0.0)
        m["sources.rows_read"] = tot.get("source:number of output rows", 0.0)
        m["sources.read_mb"] = (
            tot.get("source:data returned from Python workers", 0.0)
            + tot.get("source:size of files read", 0.0)
        ) / 1e6
        m["sources.splits_read"] = tot.get("leaf_tasks", 0.0)
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--snapdir", required=True)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    r = Runner(args)
    out = r.setup()
    out.update(r.measure())
    if r.traced:
        # The event log is complete only once the context has stopped.
        r.ctx.spark.stop()
        out["layers"] = r.layer_metrics(out)
        out["fingerprints"] = r.fingerprints
        out["accumulators"] = r.accumulators
        out["job_groups"] = r.job_groups
        out["coverage"] = r.coverages
        out["spans"] = r.rec.spans
    out["store_end"] = tr.du(r.warehouse)
    with open(args.out, "w") as fh:
        json.dump(out, fh, default=str)
    # Untraced processes skip the orderly shutdown: run.py ends the
    # process group (JVM and Python workers) and waits for it.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
