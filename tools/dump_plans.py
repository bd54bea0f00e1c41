"""Dump the formatted physical plan (``.explain("formatted")``) of
registry slots, one file per slot: ``<out_dir>/<slot>.txt``, or
``<out_dir>/<slot>_<tag>.txt`` with ``--tag`` (e.g. before/after plan
evidence for an optimization). ``tests/test_plans.py`` asserts the
load-bearing plan properties; these dumps are for reading.

Usage: python tools/dump_plans.py <out_dir> [--tag TAG] [--sf SF_DIR] [slot ...]
(default slots: bench.py's HEADLINE; default SF_DIR:
$SPARK_GRAFT_SF_DIR, else /root/testdata/sf0.01).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("slots", nargs="*")
    ap.add_argument("--tag", default="")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    args = ap.parse_intermixed_args()
    from scida_spark.session import get_spark

    spark = get_spark("dump_plans")
    import __spark_entry__ as E
    from bench import HEADLINE

    reg = E.queries()
    names = args.slots or [n for n in HEADLINE if n in reg]
    os.makedirs(args.out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    suffix = f"_{args.tag}" if args.tag else ""
    for name in names:
        df = reg[name](spark, args.sf)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan.strip() + "\n")
        n_ex = plan.count("Exchange")
        n_py = sum(
            plan.count(op)
            for op in (
                "EvalPython",
                "MapInArrow",
                "MapInPandas",
                "FlatMapGroupsInPandas",
            )
        )
        print(f"{name}: {len(plan)} chars, Exchange x{n_ex}, PythonNodes x{n_py} -> {path}")


if __name__ == "__main__":
    main()
