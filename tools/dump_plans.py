#!/usr/bin/env python
"""Dump ``.explain("formatted")`` for corpus queries to files.

Usage::

    python tools/dump_plans.py OUTDIR SUFFIX q1 q2 ...

Writes ``OUTDIR/<full_query_name>_<SUFFIX>.txt``. Gate entries that run
streaming loops execute them in the course of building their result
frame — the dump costs one run of each query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)

    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qmap = entry_mod.queries()
    for n in names:
        hits = [k for k in qmap if k == n or k.split("_", 1)[0] == n]
        if not hits:
            print(f"unknown query: {n}", file=sys.stderr)
            sys.exit(2)
        full = hits[0]
        df = qmap[full](spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(f"{outdir}/{full}_{suffix}.txt", "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {full}_{suffix}.txt", flush=True)


if __name__ == "__main__":
    main()
