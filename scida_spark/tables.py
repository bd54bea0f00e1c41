"""Helpers for the driver's synthetic star-schema tables (TESTDATA.md)."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; parquet scan → full pushdown/pruning.

    ``events.ts`` has shipped under two parquet encodings, normalized
    here to a session-TZ TIMESTAMP either way (session TZ is pinned UTC
    in session.py, so wall-clock values match DuckDB's):

    * TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as
      int64 nanos (legacy conf, runtime-settable) and convert with
      *integer* division to the same microsecond truncation DuckDB
      applies when it coerces ns → µs.
    * timestamp[us] without the UTC-adjusted flag: Spark ≥4.1 reads it
      as TIMESTAMP_NTZ, which breaks ``withWatermark`` and bigint
      casts downstream; cast to TIMESTAMP (same wall-clock under UTC).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")



def table_fingerprint(sf_dir: str, *names: str) -> str:
    """Content key of the named tables under ``sf_dir``: md5 over each
    table's absolute path and the sorted (relpath, size, mtime_ns) of
    its parquet file(s). Stat-only (no data is read), and it changes
    whenever a table is rewritten or the same tables are read from
    another directory."""
    parts = []
    for name in names:
        root = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
        files = []
        try:
            if os.path.isdir(root):
                for dirpath, _dirs, fns in os.walk(root):
                    for fn in fns:
                        p = os.path.join(dirpath, fn)
                        st = os.stat(p)
                        files.append(
                            f"{os.path.relpath(p, root)}:{st.st_size}:"
                            f"{st.st_mtime_ns}"
                        )
            else:
                st = os.stat(root)
                files.append(f".:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            files.append("missing")
        parts += [root, *sorted(files)]
    return hashlib.md5("\n".join(parts).encode()).hexdigest()
