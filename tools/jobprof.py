#!/usr/bin/env python
"""Decompose one corpus query's wall clock into per-job-description
buckets via the UI REST API (guide §1.5/§7.1) — the ingest loop labels
each stage (`ingest eN: kernel` etc.), so this attributes the loop's
many small jobs to their stage.

Usage::

    python tools/jobprof.py x104 [--reps 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    import bench
    from stream_sentinel_spark.testing import local_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = (
        local_session("jobprof")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4090")
        # the REST listing must keep every job of one query, not the
        # builder's last 100
        .config("spark.ui.retainedJobs", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qmap = entry_mod.queries()
    hits = [k for k in qmap if k == args.name or k.split("_", 1)[0] == args.name]
    if not hits:
        print(f"unknown query: {args.name}", file=sys.stderr)
        sys.exit(2)
    name = hits[0]
    fn = qmap[name]

    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if not args.no_warm and os.path.isdir(warm_dir):
        bench.materialize(fn(spark, warm_dir))

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4090/api/v1/applications/{app_id}/jobs"

    def jobs_now():
        with urllib.request.urlopen(base) as r:
            return json.load(r)

    for rep in range(args.reps):
        seen = {j["jobId"] for j in jobs_now()}
        t0 = time.perf_counter()
        bench.materialize(fn(spark, sf_dir))
        wall = time.perf_counter() - t0
        buckets: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for j in jobs_now():
            if j["jobId"] in seen:
                continue
            desc = j.get("description") or j.get("name") or "?"
            # collapse per-epoch labels to the stage name
            if desc.startswith("ingest e"):
                desc = "ingest: " + desc.split(": ", 1)[1]
            dur = 0.0
            if j.get("submissionTime") and j.get("completionTime"):
                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                st = time.mktime(time.strptime(j["submissionTime"], fmt))
                et = time.mktime(time.strptime(j["completionTime"], fmt))
                # sub-second part is in the string; strptime keeps %f
                dur = et - st
            b = buckets[desc]
            b[0] += 1
            b[1] += dur
        out = {
            "query": name,
            "rep": rep,
            "wall_sec": round(wall, 3),
            "by_desc": {
                k: {"jobs": v[0], "sum_sec": round(v[1], 3)}
                for k, v in sorted(
                    buckets.items(), key=lambda kv: -kv[1][1]
                )
            },
        }
        print(json.dumps(out))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
