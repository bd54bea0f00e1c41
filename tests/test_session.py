"""Session factory: the worker daemon, the workers' PYTHONPATH, and
local_df's scoped Arrow conf under concurrent callers."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import threading
import time
import zipfile
import zipimport

from scida_spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_stat_checked_invalidation_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"scida_zt_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        _pydaemon.stat_checked(zipimport.zipimporter.invalidate_caches),
    )
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(zpath)
    try:
        assert importlib.import_module("scida_zt_a").X == 1
        importlib.invalidate_caches()  # first call reads and stamps
        assert reads.count(zpath) == 2  # the importer's own read + this one

        _write_zip(zpath, {"scida_zt_a": "X = 1\n", "scida_zt_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(zpath) == 3
        assert importlib.import_module("scida_zt_b").Y == 2

        importlib.invalidate_caches()  # unchanged: no re-read
        assert reads.count(zpath) == 3
    finally:
        for name in ("scida_zt_a", "scida_zt_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zpath, None)
        zipimport._zip_directory_cache.pop(zpath, None)


def test_daemon_patches_nothing_from_python_3_13(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _pydaemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


def test_get_spark_workers_run_under_the_daemon(spark):
    def probe(_):
        import sys as _sys
        import zipimport as _zipimport

        return (_sys.modules["__main__"].__spec__.name,
                _zipimport.zipimporter.invalidate_caches.__qualname__)

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    stock = "zipimporter.invalidate_caches"
    patched = "stat_checked.<locals>.invalidate_caches"
    assert got == [("scida_spark._pydaemon",
                    patched if sys.version_info < (3, 13) else stock)]
    # The driver's own zipimport is never patched.
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == stock


def test_get_spark_workers_start_from_another_cwd(tmp_path):
    """A driver that finds scida_spark only through a sys.path insert,
    run from a directory that does not hold the package and with no
    PYTHONPATH, still gets working Python workers: get_spark puts the
    package's directory on the workers' PYTHONPATH."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from scida_spark.session import get_spark

        spark = get_spark("cwd-probe", master="local[2]", shuffle_partitions=2,
                          extra_conf={{"spark.ui.enabled": "false"}})

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print("SUM", spark.range(100).select(plus_one("id").alias("x"))
              .agg(F.sum("x")).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUM 5050" in proc.stdout


def test_local_df_arrow_conf_is_safe_across_threads(spark, monkeypatch):
    """Two threads in local_df on one session: each conversion runs with
    the Arrow conf on, and the caller's value is back afterwards."""
    from scida_spark.session import local_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    seen: list[str] = []
    real_create = spark.createDataFrame

    def slow_create(data, *args, **kwargs):
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            time.sleep(0.2)  # widen the window between set and restore
            seen.append(spark.conf.get(key))
        return real_create(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", slow_create)
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    errors: list[Exception] = []

    def call(i):
        try:
            for j in range(3):
                local_df(spark, [(i, j)], "a long, b long")
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert seen == ["true"] * 6
        assert spark.conf.get(key) == "false"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
