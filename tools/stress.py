#!/usr/bin/env python
"""Run one scale-stress family and write its JSON record.

Usage::

    python tools/stress.py <family> --scale S [--out PATH]

Families (``stream_sentinel_spark.stress``): dedup, ann, index,
streaming, upsert, ops, sf1. Scale 1 is the size the ``STRESS_*.json``
records were taken at; assertions that relate two timings run only at
scale >= 1. The family runs on the host-sized ``testing.local_session``
with a fresh warehouse. The record holds the family's sections plus
``bench.calibration`` and the 1-min loadavg before and after the run,
the session's cores and driver heap, and ``all_assertions_pass``; it
is written even when an assertion fails. Default ``--out`` is
``STRESS_<family>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from stream_sentinel_spark.stress import FAMILIES

    ap = argparse.ArgumentParser()
    ap.add_argument("family", choices=sorted(FAMILIES))
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import bench
    from stream_sentinel_spark.testing import driver_mem_mb, local_session

    spark = (
        local_session(f"stress-{args.family}")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ss_stress_wh_"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rec: dict = {
        "family": args.family,
        "scale": args.scale,
        "cores": spark.sparkContext.defaultParallelism,
        "driver_mem_mb": driver_mem_mb(),
        "calibration_sec": {"pre": bench.calibration(spark)},
        "loadavg": {"pre": list(os.getloadavg())},
        "all_assertions_pass": False,
    }
    try:
        rec.update(FAMILIES[args.family](spark, args.scale))
        rec["all_assertions_pass"] = True
    except AssertionError as exc:
        rec.update(getattr(exc, "record", {}))
        rec["failed_assertion"] = repr(exc)[:2000]
        raise
    finally:
        rec["calibration_sec"]["post"] = bench.calibration(spark)
        rec["loadavg"]["post"] = list(os.getloadavg())
        with open(args.out or f"STRESS_{args.family}.json", "w") as fh:
            json.dump(rec, fh, indent=1, default=str)
        print(json.dumps(rec, default=str), flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
