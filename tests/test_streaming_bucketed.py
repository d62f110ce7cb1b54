"""Key-packed arrival-order path ≡ the batch plan.

stateful_alerts groups by a hash bucket of the key and packs many
per-key detector states into one blob; the detection loop per key
slice is the SAME function for every key (_eval_sorted). This module
pins what the packing adds — the bucket sort (key-primary, then ts,
then tie-breaks), the blob round trip across micro-batches, the
in-blob TTL eviction, the state-store provider and the backend switch
plumbing — against compile_rules, the batch plan the DuckDB oracle
checks."""

from __future__ import annotations

import pytest

from stream_sentinel_spark.plans.pipeline import compile_rules
from stream_sentinel_spark.rules import DetectionRule
from stream_sentinel_spark.sources.batch import load_table
from stream_sentinel_spark.streaming import (
    compile_rules_streaming,
    read_file_stream,
    run_available_now,
)
from stream_sentinel_spark.streaming import state
from stream_sentinel_spark.streaming.state import stateful_alerts

SF_DIR = "/root/testdata/sf0.001"

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

RULES = [
    DetectionRule(
        name="high_rate", type="rate", key_field="user_id",
        window_seconds=86_400, threshold=4,
    ),
    DetectionRule(
        name="unusual_amount", type="statistical", key_field="user_id",
        field="amount", window_size=20, deviation_factor=2.5, decimal_scale=2,
    ),
]


def _alert_key(row):
    return (
        row["rule_name"], row["key"], row["alert_ts"], row["details"],
        row["rule_index"],
    )


@pytest.fixture(scope="module")
def events_src(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bkt") / "events")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").parquet(path)
    return path, ev


@pytest.fixture(scope="module")
def batch_alerts(events_src):
    _, ev = events_src
    rows = compile_rules(
        ev, RULES, key_field="user_id", time_col="ts", order_cols=("event_id",)
    ).collect()
    assert len(rows) > 0, "fixture rules must fire on the test data"
    return rows


def _run(spark, events_src, tag, **kw):
    path, ev = events_src
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    alerts = stateful_alerts(
        stream, RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",), **kw,
    )
    return run_available_now(alerts, query_name=f"bkt_{tag}")


def test_bucketed_matches_batch_plan(spark, events_src, batch_alerts):
    got = _run(spark, events_src, "packed")
    assert sorted(map(_alert_key, got)) == sorted(map(_alert_key, batch_alerts))
    # original_event survives the packed-blob round trip (ingest_ts is
    # the stream's wall-clock stamp, absent from the batch frame)
    def payload(r):
        return {k: v for k, v in r["original_event"].items() if k != "ingest_ts"}

    b = {_alert_key(r): payload(r) for r in batch_alerts}
    p = {_alert_key(r): payload(r) for r in got}
    assert b == p and len(next(iter(b.values()))) > 3


def test_bucketed_packs_keys(spark, events_src, batch_alerts, monkeypatch):
    """With ONE bucket every key lands in ONE blob and the results must
    still match — the degenerate case that proves the per-key slicing
    inside the bucket, not the hash spread, carries the semantics."""
    monkeypatch.setattr(state, "N_STATE_BUCKETS", 1)
    one = _run(spark, events_src, "one")
    assert sorted(map(_alert_key, one)) == sorted(map(_alert_key, batch_alerts))


def test_bucketed_state_survives_batches(spark, events_src, batch_alerts, tmp_path):
    """Detector windows must accumulate ACROSS micro-batches through the
    packed blob: stream the events as four ts-ranged files, one per
    trigger, in ts order (mtimes forced increasing — the file source
    picks files by modification time), so arrival order is event-time
    order and the result must equal the batch plan."""
    import os

    from pyspark.sql import functions as F

    _, ev = events_src
    multi = str(tmp_path / "multi")
    lo, hi = ev.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).head()
    edges = [lo + (hi - lo) * i // 4 for i in range(1, 4)]
    bounds = [None, *edges, None]
    seen: set = set()
    base_mtime = None
    for i in range(4):
        cond = F.lit(True)
        if bounds[i] is not None:
            cond = cond & (F.unix_micros("ts") >= bounds[i])
        if bounds[i + 1] is not None:
            cond = cond & (F.unix_micros("ts") < bounds[i + 1])
        ev.filter(cond).coalesce(1).write.mode("append").parquet(multi)
        new = {f for f in os.listdir(multi) if f.endswith(".parquet")} - seen
        assert len(new) == 1
        f = f"{multi}/{new.pop()}"
        if base_mtime is None:
            base_mtime = os.stat(f).st_mtime
        os.utime(f, (base_mtime, base_mtime + 2.0 * i))
        seen = {f for f in os.listdir(multi) if f.endswith(".parquet")}
    stream = read_file_stream(
        spark, multi, ev.schema, time_col="ts", watermark=None,
        max_files_per_trigger=1,
    )
    alerts = stateful_alerts(
        stream, RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    )
    q = (
        alerts.writeStream.format("memory").queryName("bkt_multi")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("bkt_multi").collect()
    data_batches = [p for p in q.recentProgress if p.numInputRows]
    assert len(data_batches) == 4, "one micro-batch per ts-ranged file"
    assert sorted(map(_alert_key, got)) == sorted(map(_alert_key, batch_alerts))


def test_bucketed_ttl_evicts_idle_keys(spark, tmp_path):
    """In-blob TTL: a key idle past the TTL restarts fresh — its rate
    window forgets the old events, so a second burst that would fire
    with retained state does NOT fire after eviction (and DOES fire in
    the no-TTL run). Two batches, wall-clock sleep between them."""
    import time as _time

    from pyspark.sql import functions as F

    rules = [
        DetectionRule(
            name="burst", type="rate", key_field="user_id",
            window_seconds=86_400, threshold=3,
        )
    ]
    src = str(tmp_path / "ttl_src")
    base = spark.range(3).select(
        F.concat(F.lit("e"), F.col("id")).alias("event_id"),
        F.lit("k1").alias("user_id"),
        F.lit(1.0).alias("value"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id")).alias("ts"),
    )
    burst2 = spark.range(3, 5).select(
        F.concat(F.lit("e"), F.col("id")).alias("event_id"),
        F.lit("k1").alias("user_id"),
        F.lit(1.0).alias("value"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id")).alias("ts"),
    )
    base.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain(ttl_ms, tag):
        stream = read_file_stream(
            spark, src, schema, time_col="ts", watermark=None,
            max_files_per_trigger=1,
        )
        alerts = stateful_alerts(
            stream, rules, key_field="user_id", time_col="ts",
            order_cols=("event_id",), state_ttl_ms=ttl_ms,
        )
        # manual two-trigger drive: batch 1 (3 events), sleep past the
        # TTL, batch 2 (2 events). ProcessingTime timeouts keep
        # availableNow alive (see stateful_alerts docstring), so drive a
        # continuous trigger and stop explicitly.
        q = (
            alerts.writeStream.format("memory").queryName(f"ttl_{tag}")
            .outputMode("append").start()
        )
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if any(
                    p.numInputRows for p in (q.recentProgress or [])
                ) and sum(p.numInputRows for p in q.recentProgress) >= 3:
                    break
                _time.sleep(0.3)
            _time.sleep(1.5 if ttl_ms else 0.2)  # let the TTL elapse
            burst2.coalesce(1).write.mode("append").parquet(src)
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if sum(p.numInputRows for p in (q.recentProgress or [])) >= 5:
                    break
                _time.sleep(0.3)
            _time.sleep(1.0)  # let the final batch commit
        finally:
            q.stop()
            q.awaitTermination()
        return spark.table(f"ttl_{tag}").collect()

    import shutil

    no_ttl = drain(None, "off")
    shutil.rmtree(src)
    base.coalesce(1).write.mode("overwrite").parquet(src)
    with_ttl = drain(500, "on")
    # threshold 3: without TTL the 5 cumulative events fire on events
    # 4 and 5; with the state evicted between batches the second burst
    # restarts at count 1-2 and never crosses 3
    assert len(no_ttl) == 2, [r["details"] for r in no_ttl]
    assert len(with_ttl) == 0, [r["details"] for r in with_ttl]


def test_ttl_never_evicts_a_key_with_data_in_the_batch():
    """The GroupState ProcessingTimeTimeout contract: a key that has
    data in the trigger never times out, however long the gap since its
    previous batch — so the in-blob eviction must prune AFTER stamping
    the batch's keys. Driven at the processor level with an ancient
    last-seen stamp: the key's rate window must ACCUMULATE across the
    gap (per-key timeout behavior), not restart."""
    import json as _json

    import pandas as pd

    from stream_sentinel_spark.streaming.state import _make_bucketed_processor

    spec = {
        "rule_index": 0, "name": "burst", "type": "rate", "field": "value",
        "threshold": 3.0, "window_seconds": 86_400, "window_size": 0,
        "deviation_factor": 0.0, "decimal_scale": 2, "target": 0.0,
    }

    class FakeState:
        def __init__(self, blob):
            self._blob = blob
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._blob is not None

        @property
        def get(self):
            return (self._blob,)

        def update(self, t):
            self._blob = t[0]

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            self._blob = None

    def pdf(ids, key="k1"):
        return pd.DataFrame(
            {
                "__ss_key": [key] * len(ids),
                "__ss_ts_us": [1_000_000 * i for i in ids],
                "__ss_event": [{"n": str(i)} for i in ids],
                "event_id": [f"e{i}" for i in ids],
            }
        )

    proc = _make_bucketed_processor([spec], {}, ("event_id",), ttl_ms=500)
    # hand-crafted prior state: k1's rate window already holds 2
    # timestamps, last seen at wall epoch 0 — i.e. ages ago vs ttl=500ms
    blob_in = _json.dumps(
        {"s": {"k1": {"r0": [0, 1]}}, "t": {"k1": 0}}
    )
    state_ = FakeState(blob_in)
    # batch arrives much later than ttl=500ms, but k1 HAS data in it —
    # the retained window (2 old events) + 2 new events crosses the
    # threshold of 3, which only happens if the state survived
    out = list(proc(("bkt",), iter([pdf([3, 4])]), state_))
    assert out and list(out[0]["rule_name"]) == ["burst"], (
        "retained rate window must fire on the 4th cumulative event"
    )
    kept = _json.loads(state_._blob)
    assert "k1" in kept["s"] and len(kept["s"]["k1"]["r0"]) == 4
    # an idle OTHER key with a stale stamp in the same blob is pruned
    blob_in = _json.dumps(
        {"s": {"k1": {"r0": [0]}, "idle": {"r0": [0]}}, "t": {"k1": 0, "idle": 0}}
    )
    state_ = FakeState(blob_in)
    list(proc(("bkt",), iter([pdf([5])]), state_))
    kept = _json.loads(state_._blob)
    assert "idle" not in kept["s"] and "k1" in kept["s"]


def test_compile_rules_streaming_bucketed_switch(spark, events_src, batch_alerts):
    """The compiler's default stateful path is the key-packed arrival
    path: grouped by the hash bucket, and equal to the batch plan."""
    path, ev = events_src
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    alerts = compile_rules_streaming(
        stream, RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    )
    plan = alerts._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan and "__ss_bkt" in plan
    got = run_available_now(alerts, query_name="bkt_compiled")
    assert sorted(map(_alert_key, got)) == sorted(map(_alert_key, batch_alerts))


def test_compile_rules_streaming_backend_param(spark, events_src):
    """The backend switch accepts exactly the two paths and rejects
    every other name — including the retired per-key, transformWith-
    State and n-bucket backends — before any query starts."""
    path, ev = events_src
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    for name in ("flink", "aiws", "tws", "bucketed"):
        with pytest.raises(ValueError, match="unknown stateful backend"):
            compile_rules_streaming(
                stream, RULES, key_field="user_id", time_col="ts", backend=name
            )
    # "event_time_bucketed": the earlier name of "event_time", still
    # passed by perfbench's detect-late workload
    for name in ("arrival", "event_time", "event_time_bucketed"):
        compile_rules_streaming(
            stream, RULES, key_field="user_id", time_col="ts", backend=name
        )


def test_aiws_on_rocksdb_matches_default_store(spark, events_src):
    """The bench's measured streaming path: the applyInPandasWithState
    arrival path on the RocksDB state store provider must produce the
    identical alert set to the default HDFS-backed store."""
    base = _run(spark, events_src, "mem")
    assert len(base) > 0
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    try:
        rocks = _run(spark, events_src, "aiws_rocks")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert sorted(map(_alert_key, base)) == sorted(map(_alert_key, rocks))


@pytest.mark.parametrize("backend", ["arrival", "event_time"])
def test_old_bucket_key_checkpoint_is_refused(
    spark, events_src, tmp_path, monkeypatch, backend
):
    """A checkpoint of the earlier 4,096-bucket layout (pmod's ``bigint``
    state key) must not resume on the 256-bucket ``int`` key: Spark
    checks the key type, not the bucket range, so only the type change
    turns a silent restart with keys hashed away from their state into
    a refusal."""
    from pyspark.sql import functions as F

    _, ev = events_src
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    part = ev.orderBy("event_id").limit(200).coalesce(1)
    part.write.parquet(src)

    def drain():
        stream = read_file_stream(
            spark, src, ev.schema, time_col="ts",
            watermark="5 seconds" if backend == "event_time" else None,
        )
        alerts = compile_rules_streaming(
            stream, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",), backend=backend,
        )
        (
            # a memory sink cannot resume from a checkpoint
            alerts.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start().awaitTermination()
        )

    with monkeypatch.context() as m:
        m.setattr(
            state, "_bucket_column",
            lambda key: F.pmod(F.xxhash64(key), F.lit(4096)),
        )
        drain()
    # new input, so the restart plans a stateful batch against the old
    # checkpoint's state schema
    part.write.mode("append").parquet(src)
    with pytest.raises(Exception, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        drain()
