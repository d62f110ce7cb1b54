#!/usr/bin/env python
"""Time individual corpus queries with the noop sink (guide §1.4).

Usage::

    python tools/qtime.py x91 x92 ...        # short IDs or full names
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/qtime.py --reps 2 x86

Runs on bench.py's session (``bench.build_spark``, the host-sized
``testing.local_session``) so numbers are comparable with the official
bench; runs an untimed sf0.001 warm pass
of the SELECTED queries first for steady-state JIT, then times at the
target SF with min-of-``--reps``. Prints one JSON line per query to
stdout plus a total.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--explain-dir", default=None,
                    help="also dump .explain('formatted') to DIR/<name>.txt")
    args = ap.parse_args()

    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.build_spark()
    spark.sparkContext.setLogLevel("WARN")

    import __spark_entry__ as entry_mod

    qmap = entry_mod.queries()
    full = {}
    for n in args.names:
        hits = [k for k in qmap if k == n or k.split("_", 1)[0] == n]
        if not hits:
            bench.log(f"unknown query: {n}")
            sys.exit(2)
        full[hits[0]] = qmap[hits[0]]

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)

    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if not args.no_warm and os.path.isdir(warm_dir):
        t0 = time.perf_counter()
        for name, fn in full.items():
            try:
                bench.materialize(fn(spark, warm_dir))
            except Exception as exc:
                bench.log(f"warm FAIL {name}: {exc}")
        bench.log(f"warm pass: {time.perf_counter() - t0:.1f}s (untimed)")

    total = 0.0
    out = {}
    for name, fn in full.items():
        spark.sparkContext.setJobDescription(name)
        best = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            try:
                bench.materialize(fn(spark, sf_dir))
            except Exception as exc:
                bench.log(f"FAIL {name}: {exc}")
                best = float("nan")
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        if best == best:
            total += best
        print(json.dumps({"query": name, "sec": out[name]}), flush=True)
        if args.explain_dir:
            try:
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception as exc:
                plan = f"explain failed: {exc}"
            with open(f"{args.explain_dir}/{name}.txt", "w") as fh:
                fh.write(plan)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    print(json.dumps({"total": round(total, 3), "queries": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
