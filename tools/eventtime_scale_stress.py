"""Scale-stress the EVENT-TIME ordered mode at extreme key cardinality:
the key-packed event-time path (stateful_alerts_event_time) on the same
churn-shaped stream the arrival-order stress uses — 300k events / ~295k
distinct keys — asserting that the hot keys fire and that state rows
stay bounded by the hash-bucket count. STRESS_r05_eventtime.json also
holds the retired per-key leg (the 11.14x packing speedup) as history.

The stream's event times advance 1 s per event across 6 files
(maxFilesPerTrigger=1), so with a 5 s watermark delay each batch's rows
flush when the next batch's data advances the watermark; a final
sentinel file (far-future ts, fires nothing) flushes the tail.

Run:  python tools/eventtime_scale_stress.py [--out STRESS_r05_eventtime.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))  # repo root (the package)
sys.path.insert(0, _HERE)                   # tools/ (sibling stress module)

from pyspark.sql import functions as F

from streaming_scale_stress import N_EVENTS, ProgressCapture, _make_stream_files

WATERMARK = "5 seconds"


def _add_sentinel(spark, src: str) -> None:
    spark.range(1).select(
        F.lit("sentinel").alias("event_id"),
        F.lit("sentinel_user").alias("user_id"),
        F.lit(0.0).alias("value"),  # fires nothing
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000 + (N_EVENTS + 10_000) * 1_000_000)
        ).alias("ts"),
    ).coalesce(1).write.mode("append").parquet(src)


def _run(spark, src, schema):
    import shutil

    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
    from stream_sentinel_spark.streaming import read_file_stream
    from stream_sentinel_spark.streaming.state import stateful_alerts_event_time

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    ckpt = tempfile.mkdtemp(prefix="ss_evt_stress_ckpt_")
    try:
        stream = read_file_stream(
            spark, src, schema, time_col="ts", watermark=WATERMARK,
            max_files_per_trigger=1,
        )
        stateful = [r for r in DEFAULT_RULES if r.type != "threshold"]
        alerts = stateful_alerts_event_time(
            stream, stateful, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        )
        t0 = time.perf_counter()
        q = (
            alerts.writeStream.format("memory")
            .queryName("evt_stress")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = spark.table("evt_stress").collect()
        data_ms = sum(
            p["batchDuration"] for p in cap.progress if p.get("numInputRows")
        )
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in cap.progress
            if p.get("stateOperators")
        ]
        return {
            "wall_sec": round(wall, 2),
            "events_per_sec": round(N_EVENTS / (data_ms / 1000.0), 1)
            if data_ms
            else None,
            "n_batches": len(cap.progress),
            "state_rows_max": max(state_rows) if state_rows else None,
            "alerts": sorted(
                (r["rule_name"], r["key"], str(r["alert_ts"]), r["details"])
                for r in rows
                if r["key"] != "sentinel_user"
            ),
        }
    finally:
        spark.streams.removeListener(cap)
        shutil.rmtree(ckpt, ignore_errors=True)


def run(out_path: str) -> dict:
    from stream_sentinel_spark.streaming.state import N_STATE_BUCKETS
    from stream_sentinel_spark.testing import stress_session

    spark = stress_session()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    src = tempfile.mkdtemp(prefix="ss_evt_stress_src_")
    try:
        _make_stream_files(spark, src)
        _add_sentinel(spark, src)
        schema = spark.read.parquet(src).schema

        packed = _run(spark, src, schema)

        rec = {
            "n_events": N_EVENTS,
            "n_distinct_keys": spark.read.parquet(src)
            .select("user_id").distinct().count() - 1,  # minus sentinel
            "watermark": WATERMARK,
            "n_buckets": N_STATE_BUCKETS,
            "key_packed": {k: v for k, v in packed.items() if k != "alerts"},
            "n_alerts": len(packed["alerts"]),
        }
        print(json.dumps(rec, indent=1), flush=True)
        assert rec["n_alerts"] > 0, "hot keys must actually fire"
        # state rows are bounded by the bucket count (+1 operator row
        # slack), not by the keys with pending rows
        assert rec["key_packed"]["state_rows_max"] <= N_STATE_BUCKETS + 1
        rec["all_assertions_pass"] = True
        with open(out_path, "w") as fh:
            json.dump(rec, fh, indent=1)
        return rec
    finally:
        import shutil

        shutil.rmtree(src, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="STRESS_r05_eventtime.json")
    args = ap.parse_args()
    run(args.out)
