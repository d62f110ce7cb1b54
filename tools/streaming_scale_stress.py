"""Scale-stress the streaming stateful path at high key cardinality —
the third leg of the round-4 stress series (dedup, ANN, now state).

The bench protocol streams the sf0.1 events table: 100k events over
1,500 keys. A 100 TB deployment's pain point is KEY CARDINALITY — state
rows, not event volume — so this synthesizes a churn-shaped stream
(most keys appear in exactly one micro-batch, a small hot set recurs
and actually fires the rules) at ~200x the bench's key count, runs the
full 3-rule pipeline on the RocksDB state store, and measures:

- throughput + micro-batch latencies at 300k events / ~295k distinct
  keys across 6 micro-batches;
- state rows WITHOUT TTL: bounded by the hash-bucket count
  (state.N_STATE_BUCKETS), not by the ~295k keys ever seen — key
  packing puts ~72 keys in each bucket's blob (reported from the
  engine's own stateOperators metrics); and
- state evicted WITH the idle-key TTL (state_ttl_ms): churned keys are
  pruned from their blobs and fully idle buckets dropped, so final
  state rows collapse — the knob that keeps blob sizes bounded on
  unbounded-cardinality streams.

Alert parity is asserted between the two runs (TTL only evicts keys
whose windows expired; with window_seconds << ttl semantics preserved
for the hot keys — here the churn keys fire nothing, so alert sets
must be IDENTICAL). STRESS_r05_streaming.json also holds the retired
per-key legs (the 8.15x packing speedup) as history.

Run:  python tools/streaming_scale_stress.py [--out STRESS_r05_streaming.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

N_EVENTS = 300_000
N_BATCHES = 6
HOT_KEYS = 100             # recurring keys that actually fire rules
CHURN_SHARE = 64           # 1 of every CHURN_SHARE rows goes to a hot key
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class ProgressCapture(StreamingQueryListener):
    """Collects each micro-batch's raw progress JSON (stateOperators
    carries numRowsTotal / memoryUsedBytes straight from the engine)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _make_stream_files(spark, src: str) -> None:
    """6 parquet files, written in batch order. Key: hot (recurring,
    fires threshold+rate) for 1/CHURN_SHARE of rows, else a row-unique
    churn key seen exactly once ever. The hot index cycles through the
    hot-row SEQUENCE (id // CHURN_SHARE), not the raw id — `id %
    HOT_KEYS` over multiples of 64 would alias to gcd(64, HOT_KEYS)
    residues and silently shrink the hot set."""
    per_batch = N_EVENTS // N_BATCHES
    base = spark.range(N_EVENTS).select(
        F.col("id"),
        F.concat(F.lit("e"), F.col("id")).alias("event_id"),
        F.when(
            F.col("id") % CHURN_SHARE == 0,
            F.concat(
                F.lit("hot"), ((F.col("id") / CHURN_SHARE).cast("long") % HOT_KEYS)
            ).cast("string"),
        )
        .otherwise(F.concat(F.lit("churn"), F.col("id")))
        .alias("user_id"),
        # hot keys see high values often enough to fire threshold+rate
        F.when(F.col("id") % CHURN_SHARE == 0, 900.0)
        .otherwise((F.col("id") % 100).cast("double"))
        .alias("value"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * F.lit(1_000_000)
        ).alias("ts"),
    )
    for b in range(N_BATCHES):
        (
            base.filter(
                (F.col("id") >= b * per_batch) & (F.col("id") < (b + 1) * per_batch)
            )
            .drop("id")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )


def _run(spark, src, schema, ttl_ms):
    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
    from stream_sentinel_spark.streaming import compile_rules_streaming, read_file_stream

    import shutil

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    ckpt = tempfile.mkdtemp(prefix="ss_stream_stress_ckpt_")
    try:
        stream = read_file_stream(
            spark, src, schema, time_col="ts", watermark=None,
            max_files_per_trigger=1,
        )
        alerts = compile_rules_streaming(
            stream, DEFAULT_RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",), state_ttl_ms=ttl_ms,
        )
        t0 = time.perf_counter()
        writer = (
            alerts.writeStream.format("memory")
            .queryName(f"stress_{'ttl' if ttl_ms else 'nottl'}")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )
        if ttl_ms is None:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            # ProcessingTime timeouts make availableNow never terminate
            # (see stateful_alerts docstring) — drive the TTL leg the way
            # production runs it: continuous trigger, explicit stop once
            # the input is drained and the evictions have been serviced
            q = writer.start()
            deadline = time.time() + 600
            while time.time() < deadline:
                time.sleep(0.5)
                done = [p for p in cap.progress if p.get("numInputRows")]
                tail = cap.progress[len(cap.progress) - 3:]
                if (
                    sum(p["numInputRows"] for p in done) >= N_EVENTS
                    and len(tail) == 3
                    and all(not p.get("numInputRows") for p in tail)
                ):
                    break
            q.stop()
            q.awaitTermination()
        wall = time.perf_counter() - t0
        deadline = time.time() + 15
        while time.time() < deadline and len(cap.progress) < N_BATCHES:
            time.sleep(0.25)
        alerts_rows = spark.table(f"stress_{'ttl' if ttl_ms else 'nottl'}").collect()
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in cap.progress
            if p.get("stateOperators")
        ]
        batch_ms = sorted(
            p["batchDuration"] for p in cap.progress if "batchDuration" in p
        )
        # throughput over the DATA batches only — the TTL leg's wall
        # includes the drain-poll wait, which is harness, not engine
        data_ms = sum(
            p["batchDuration"] for p in cap.progress if p.get("numInputRows")
        )
        return {
            "wall_sec": round(wall, 2),
            "events_per_sec": round(N_EVENTS / (data_ms / 1000.0), 1)
            if data_ms
            else None,
            "n_batches": len(cap.progress),
            "batch_ms_p50": batch_ms[len(batch_ms) // 2] if batch_ms else None,
            "batch_ms_max": batch_ms[-1] if batch_ms else None,
            "state_rows_per_batch": state_rows,
            "state_rows_final": state_rows[-1] if state_rows else None,
            "alerts": sorted(
                (r["rule_name"], r["key"], str(r["alert_ts"])) for r in alerts_rows
            ),
        }
    finally:
        spark.streams.removeListener(cap)
        shutil.rmtree(ckpt, ignore_errors=True)


def run(out_path: str) -> dict:
    from stream_sentinel_spark.streaming.state import N_STATE_BUCKETS
    from stream_sentinel_spark.testing import stress_session

    spark = stress_session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    src = tempfile.mkdtemp(prefix="ss_stream_stress_src_")
    try:
        _make_stream_files(spark, src)
        schema = spark.read.parquet(src).schema

        no_ttl = _run(spark, src, schema, ttl_ms=None)
        with_ttl = _run(spark, src, schema, ttl_ms=1)

        total_keys = spark.read.parquet(src).select("user_id").distinct().count()
        rec = {
            "n_events": N_EVENTS,
            "n_distinct_keys": total_keys,
            "bench_protocol_keys": 1500,
            "state_store": "rocksdb",
            "n_buckets": N_STATE_BUCKETS,
            "no_ttl": {k: v for k, v in no_ttl.items() if k != "alerts"},
            "with_ttl": {k: v for k, v in with_ttl.items() if k != "alerts"},
            "alert_parity": no_ttl["alerts"] == with_ttl["alerts"],
            "n_alerts": len(no_ttl["alerts"]),
        }
        print(json.dumps(rec, indent=1), flush=True)

        # ---- assertions: the recorded claims must hold -------------------
        assert rec["alert_parity"], "TTL must not change the alert stream"
        assert rec["n_alerts"] > 0, "hot keys must actually fire"
        # state rows = BUCKETS, not keys: bounded by the bucket count
        # although the stream carries ~72x more keys
        assert no_ttl["state_rows_final"] <= N_STATE_BUCKETS < total_keys, (
            f"state rows {no_ttl['state_rows_final']} exceed the bucket count"
        )
        # with TTL, churned keys evict between batches and idle buckets
        # drop whole: final state is a fraction of the no-TTL run's
        assert with_ttl["state_rows_final"] < 0.35 * no_ttl["state_rows_final"], (
            f"TTL state {with_ttl['state_rows_final']} not bounded vs "
            f"{no_ttl['state_rows_final']}"
        )
        rec["all_assertions_pass"] = True
        with open(out_path, "w") as fh:
            json.dump(rec, fh, indent=1)
        return rec
    finally:
        import shutil

        shutil.rmtree(src, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="STRESS_r05_streaming.json")
    args = ap.parse_args()
    run(args.out)
