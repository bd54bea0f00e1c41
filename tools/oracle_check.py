"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count, column names, and values (order-insensitive).
Every PASS and ok? line ends with ``sha256=<16 hex>`` of the normalized
Spark result, so two trees can be compared slot by slot.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, ".")

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_run(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).df()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def result_hash(df: pd.DataFrame) -> str:
    """First 16 hex digits of the sha256 of ``normalize(df)`` as CSV:
    independent of row and column order."""
    return hashlib.sha256(normalize(df).to_csv(index=False).encode()).hexdigest()[:16]


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(sdf.columns) != sorted(odf.columns):
        issues.append(f"schema mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return issues
    if len(sdf) != len(odf):
        issues.append(f"row count mismatch: spark={len(sdf)} oracle={len(odf)}")
        return issues
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv = pd.to_numeric(sv, errors="coerce").astype(float)
            ov = pd.to_numeric(ov, errors="coerce").astype(float)
            both_nan = sv.isna() & ov.isna()
            exact = (sv == ov) | both_nan
            if not exact.all():
                diff = (sv - ov).abs().max()
                issues.append(f"col {c}: {int((~exact).sum())} value diffs, max abs diff {diff!r}")
        else:
            eq = (sv.astype(str) == ov.astype(str))
            if not eq.all():
                i = int((~eq).idxmax())
                issues.append(
                    f"col {c}: {int((~eq).sum())} diffs, first at row {i}: "
                    f"spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                )
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from scida_spark.session import get_spark

    spark = get_spark("oracle_check")
    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s) sha256={result_hash(sdf)}")
            if len(sdf) == 0:
                print(f"      WARNING: zero rows")
            continue
        try:
            odf = duck_run(sf_dir, oracles[name])
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        issues = compare(name, sdf, odf)
        if issues:
            failures += 1
            print(f"FAIL  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            for i in issues:
                print(f"      {i}")
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s) sha256={result_hash(sdf)}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
