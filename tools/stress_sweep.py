"""Interleaved cold/warm stress sweep over registry slots with a
per-query wall-clock cap.

Usage:
    python tools/stress_sweep.py SF_DIR [--cap 420] [--passes 3] slot ...

Each pass runs every named slot once (interleaved — the contention
protocol from SCALE.md: sequential per-slot repeats confound JIT/page
-cache warmup with real cost). Pass 0 is cold. A slot is executed as
``queries()[name](spark, sf_dir).count()`` inside its own Spark job
group; a reaper thread cancels the group at the cap so one pathological
slot cannot eat the sweep budget (cancelled slots report ``CAPPED``).

Emits one JSON line per (slot, pass) and a final ``SUMMARY`` line:
per slot, every pass's result plus the min and median wall over the
warm passes (pass >= 1). The min is the noise-robust number on a shared
host (contention only ever adds time).
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = argv[0]
    cap = 420.0
    passes = 3
    rest = []
    i = 1
    while i < len(argv):
        if argv[i] == "--cap":
            cap = float(argv[i + 1])
            i += 2
        elif argv[i] == "--passes":
            passes = int(argv[i + 1])
            i += 2
        else:
            rest.append(argv[i])
            i += 1

    sys.path.insert(0, ".")
    import __spark_entry__ as E
    from scida_spark.session import get_spark

    spark = get_spark()
    sc = spark.sparkContext
    qs = E.queries()
    missing = [n for n in rest if n not in qs]
    if missing:
        raise SystemExit(f"unknown slots: {missing}")

    results: dict[str, list] = {n: [] for n in rest}
    for p in range(passes):
        for name in rest:
            group = f"sweep-{name}-{p}"
            sc.setJobGroup(group, name, interruptOnCancel=True)
            done = threading.Event()

            def reaper():
                if not done.wait(cap):
                    sc.cancelJobGroup(group)

            t = threading.Thread(target=reaper, daemon=True)
            t.start()
            t0 = time.time()
            try:
                n_rows = qs[name](spark, sf_dir).count()
                dt = time.time() - t0
                results[name].append(round(dt, 2))
                print(json.dumps({"slot": name, "pass": p,
                                  "sec": round(dt, 2), "rows": n_rows}),
                      flush=True)
            except Exception as e:
                dt = time.time() - t0
                capped = dt >= cap - 2
                results[name].append("CAPPED" if capped else f"ERR:{e}"[:80])
                print(json.dumps({"slot": name, "pass": p,
                                  "sec": round(dt, 2),
                                  "status": "CAPPED" if capped
                                  else f"ERR:{e}"[:200]}), flush=True)
            finally:
                done.set()
                sc.setJobGroup("", "")
    summary = {}
    for name, r in results.items():
        warm = [x for x in r[1:] if isinstance(x, float)]
        summary[name] = {
            "passes": r,
            "warm_min": min(warm, default=None),
            "warm_median": statistics.median(warm) if warm else None,
        }
    print("SUMMARY " + json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
