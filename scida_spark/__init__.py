"""scida_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference (cbyrohl/scida), rebuilt
Spark-first: DataFrames + Catalyst instead of dask arrays + hand-rolled
chunk planning.

Public surface:
  * ``load(path)`` → :class:`Dataset` (dict-of-DataFrames handle)
  * ``get_spark()`` → tuned SparkSession
  * ``operators`` / ``functions`` / ``streaming`` subpackages
"""

import sys

from scida_spark.session import ensure_session_defaults, get_spark

# In a Python worker forked from a Spark daemon, install the stat-checked
# zipimport invalidation (see _pydaemon.py). This covers the Python Data
# Source planner workers, which Spark forks from the stock pyspark.daemon
# and which import this package when they unpickle an npy or zarr source.
# The guard reads __main__ rather than PYTHON_WORKER_FACTORY_SECRET: only
# daemon-forked workers are reused across calls, where the patch pays,
# and the variable also leaks into processes a worker spawns. The
# driver's __main__ is never a daemon, so its zipimport stays stock.
if getattr(getattr(sys.modules.get("__main__"), "__spec__", None), "name", None) in (
    "pyspark.daemon",
    "scida_spark._pydaemon",
):
    from scida_spark import _pydaemon

    _pydaemon.install()

__all__ = ["get_spark", "ensure_session_defaults", "load", "Dataset"]
__version__ = "0.1.0"


def load(path, spark=None, **kwargs):
    """Open a dataset directory/file → Dataset handle (lazy DataFrames).

    Mirrors ``scida.load()`` (reference src/scida/convenience.py:287-396)
    but dispatches on storage format to a Spark reader.
    """
    from scida_spark.dataset import load as _load

    return _load(path, spark=spark, **kwargs)


def __getattr__(name):
    if name == "Dataset":
        from scida_spark.dataset import Dataset

        return Dataset
    raise AttributeError(name)
