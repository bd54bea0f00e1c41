"""SparkSession factory tuned for this engine.

Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default all cores); on a
real cluster the same configs apply — AQE handles runtime re-planning
(partition coalescing, skew joins) so the static shuffle-partition
count only needs to be in the right order of magnitude.

Scale posture (100 TB): every knob here is chosen to survive a
1000-executor deployment —
  * AQE on (coalesce + skew join): replaces the reference's hand-rolled
    chunk cost model (scida ``map_group_operation`` planner,
    reference src/scida/customs/arepo/dataset.py:1381-1445).
  * Arrow execution for the Pandas-UDF escape hatches.
  * UTC session timezone so results are engine-independent.

Python workers: sessions from ``get_spark`` fork their workers from the
``scida_spark._pydaemon`` daemon, which stops every Python task from
re-reading pyspark.zip and the spark-core jar. Before CPython 3.13,
PySpark's per-task ``importlib.invalidate_caches()`` makes each of a
worker's 16 zipimporters re-read its whole archive directory: 160-240
ms per task measured on a 4-core host, which took a traced benchmark's
gas read to 11-14 s of worker start-up against 2-4 s of run time.

The Python Data Source planner workers (schema lookup, filter pushdown
and read planning for the npy and zarr sources) always start from the
stock ``pyspark.daemon``: Spark starts planners with its hard-coded
default daemon module, whatever ``spark.python.daemon.module`` says.
Importing the ``scida_spark`` package inside any daemon-forked worker
installs the same patch (see ``scida_spark/__init__.py``), and a planner
imports it when it unpickles a source, so every later call in that
reused worker is stat-checked. A traced benchmark run of 10 uid-range
selections per pass (4-core host) spent 2.1 s per pass in Catalyst
planning before and 0.37 s after. The same hook patches the workers of
a session not built by ``get_spark`` once they import ``scida_spark``.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# The directory holding the scida_spark package: the workers must import
# scida_spark._pydaemon and the closures' scida_spark modules even when
# the driver found the package only through a sys.path insert.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Serialises local_df's set/restore of the session-wide Arrow conf.
_ARROW_CONF_LOCK = threading.Lock()


def _default_driver_memory() -> str:
    """Half of physical memory in whole GiB, at least 1g and at most 64g.
    The driver heap grows lazily up to its cap, so a cap above the host's
    memory lets a long session's JVM be killed by the OOM killer."""
    half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // 2**30
    return f"{min(max(half, 1), 64)}g"


def get_spark(
    app_name: str = "scida_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Vectorized-kernel batch size: the 10k default throttles the
        # Pandas-UDF kernels with Python round-trip overhead (measured
        # 3x on the 12M-row catalog-ID kernel). 128k rows ≈ 1-8 MB
        # Arrow batches for the numeric columns these kernels carry.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        # spark.sql.files.maxPartitionBytes stays at the 128 MB default:
        # measured at sf0.1, smaller splits change nothing once the JVM
        # is warm (per-query planning overhead dominates, not scan
        # parallelism), and at real scale 128 MB is the right split size.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # localCheckpoint blocks (the shared-scan pattern: clique maps,
        # signature tables, exact top-k) are only released when the JVM
        # GCs their RDD references and ContextCleaner follows up; the
        # default periodic-GC interval is 30 MIN, so a session that
        # re-runs checkpoint-heavy queries accumulates dead blocks and
        # each warm pass gets SLOWER (measured at the ×100 stress set:
        # sim_topk 54 s → 98 s across passes; with GC between runs it
        # stabilizes at ~42-46 s). Two minutes bounds the creep at
        # negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # PySpark 4 captures the Python call site for EVERY DataFrame
        # API call (errors/utils.py::_with_origin) — a getActiveSession
        # + JVM round-trip per call. On plan-construction-heavy queries
        # (sim_topk builds ~10k Column expressions) this is ~10% of
        # wall time and buys nothing outside interactive debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Workers fork from our daemon: see scida_spark/_pydaemon.py.
        .config("spark.python.daemon.module", "scida_spark._pydaemon")
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join([_PACKAGE_PARENT] + [p for p in [conf.get(key)] if p])
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-created session.

    The driver hands ``queries()`` callables its own session; pin the
    configs that affect result *values* (timezone, AQE) — these are all
    runtime-mutable SQL confs.

    ``spark.python.daemon.module`` is a static conf, so this cannot set
    it: an externally-created session keeps stock PySpark workers. A
    worker that imports ``scida_spark`` (to unpickle a closure or a Data
    Source) patches itself on import and stops re-reading its zip
    archives on every Python call from then on; one that never imports
    it keeps the re-read (see scida_spark/_pydaemon.py). The planner
    workers run on the stock daemon in every session, ``get_spark``'s
    included, and are covered the same way. Results are the same either
    way.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Perf-only (never value-affecting): larger Arrow batches for the
    # Pandas-UDF kernels — see get_spark.
    # (spark.sql.execution.arrow.pyspark.enabled is NOT pinned here —
    # r16, closes the r15 ADVICE item: it is a semantic toggle for the
    # caller's own createDataFrame(pandas)/toPandas coercions, not
    # purely perf. local_df scopes it around its own conversion
    # instead, so an externally-created session keeps its owner's
    # setting everywhere else.)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
    # Externally-created sessions default to 200 shuffle partitions —
    # pointless task overhead at test scale; AQE still re-coalesces.
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    # (spark.python.sql.dataFrameDebugging.enabled is STATIC — only
    # settable at session build; see get_spark. An externally-created
    # session keeps whatever its creator chose.)
    return spark


def local_df(spark: SparkSession, data, schema=None):
    """``createDataFrame`` for DRIVER-BUILT metadata tables (query
    literals, calibration rows, offset maps, drift folds — all
    metadata-sized by construction), coalesced to ONE partition.

    PySpark parallelizes local rows into ``defaultParallelism``
    pickled slices (= cores), so every tiny literal table otherwise
    becomes a 32-partition ExistingRDD whose every partition pays a
    Python-worker round trip PER EVALUATION — measured ~30 ms/partition
    (~1 s per count of one 100-row table), and the cert-union slots
    evaluate dozens of such tables per serve (sketch_distinct_rollup:
    a 177-task result stage, median task 290 ms wall / 5 ms CPU).
    Routing through pandas/Arrow moves the rows as one Arrow batch the
    JVM decodes itself — same 100-row table: 120 ms → and coalesce(1)
    removes the near-empty task fan. Falls back to the plain pickle
    path for anything pandas/Arrow cannot represent; Spark re-validates
    the declared schema either way, so values are identical.

    One partition is the right layout for these tables at ANY scale:
    they are broadcast sides or driver folds, never partitioned work."""
    if schema is not None:
        try:
            import pandas as pd
            from pyspark.sql.types import StructType

            st = (
                schema
                if isinstance(schema, StructType)
                else StructType.fromDDL(schema)
            )
            rows = list(data)
            # pandas reads a top-level float NaN as MISSING (→ NULL);
            # the pickle path keeps it a NaN value. Any NaN anywhere →
            # take the slow faithful path.
            def _no_nan(v):
                if isinstance(v, float):
                    return v == v
                if isinstance(v, (list, tuple)):
                    return all(_no_nan(x) for x in v)
                return True

            def _int_columns_safe() -> bool:
                # r16 (closes the r15 ADVICE item): a column mixing
                # None with ints becomes float64 in pandas, silently
                # rounding ints beyond 2**53 before the Arrow cast
                # back to long. Only the mix is unsafe — all-int
                # columns stay int64, all-None stays object.
                if not rows:
                    return True
                width = len(st.names)
                if not all(
                    isinstance(r, (list, tuple)) and len(r) == width
                    for r in rows
                ):
                    return False  # unknown row shape — take pickle path
                for col in zip(*rows):
                    has_none = any(v is None for v in col)
                    has_big = any(
                        isinstance(v, int)
                        and not isinstance(v, bool)
                        and abs(v) > 2**53
                        for v in col
                    )
                    if has_none and has_big:
                        return False
                return True

            if all(_no_nan(r) for r in rows) and _int_columns_safe():
                pdf = pd.DataFrame.from_records(rows, columns=st.names)
                # Arrow conversion scoped to THIS call (not pinned
                # session-wide): set/restore around createDataFrame —
                # the conversion happens eagerly inside the call.
                # The lock keeps a local_df call in another thread from
                # restoring the old value while this conversion still
                # needs "true". Conversions outside local_df do not take
                # it and can still see the toggle.
                key = "spark.sql.execution.arrow.pyspark.enabled"
                with _ARROW_CONF_LOCK:
                    old = spark.conf.get(key, None)
                    spark.conf.set(key, "true")
                    try:
                        return spark.createDataFrame(pdf, st).coalesce(1)
                    finally:
                        if old is None:
                            spark.conf.unset(key)
                        else:
                            spark.conf.set(key, old)
        except Exception:  # noqa: BLE001 — fidelity over speed
            pass
    return spark.createDataFrame(data, schema).coalesce(1)
