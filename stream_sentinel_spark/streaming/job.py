"""Streaming pipeline assembly — buildPipeline parity on Structured
Streaming (StreamSentinelJob.java:102-140, SURVEY §3.1).

Shape: source (S1/S2/S3) → [stateless rule branches as native filters +
ONE keyed stateful branch for all rate/statistical rules] → unionByName
→ sink (S5). Stateless rules never enter Python: a threshold rule is a
codegen'd filter even in streaming. The stateful branch is the single
shuffle, on the same key the reference's keyBy uses.

Checkpointing (T4): every writer takes ``checkpoint_location``;
Structured Streaming's offset/state checkpointing gives exactly-once
state. The built-in Kafka writer below is at-least-once; for parity
with the reference's EXACTLY_ONCE sink (StreamSentinelJob.java:154-165)
use :mod:`stream_sentinel_spark.streaming.exactly_once` —
``write_alerts_exactly_once`` + ``kafka_publisher`` (idempotent keys +
epoch commit log; restart-replay proven in tests/test_exactly_once.py).
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from stream_sentinel_spark.config import EngineConfig
from stream_sentinel_spark.functions.alerts import serialize_alerts
from stream_sentinel_spark.plans.pipeline import compile_rule
from stream_sentinel_spark.rules import DetectionRule
from stream_sentinel_spark.streaming.sources import INGEST_COL
from stream_sentinel_spark.streaming.state import (
    stateful_alerts,
    stateful_alerts_event_time,
)

STATEFUL_TYPES = ("rate", "statistical", "cusum")


def compile_rules_streaming(
    events: DataFrame,
    rules: Sequence[DetectionRule],
    *,
    key_field: str,
    time_col: str = "ts",
    order_cols: Sequence[str] = (),
    state_ttl_ms: int | None = None,
    backend: str = "arrival",
) -> DataFrame:
    """Compile a rule set against a STREAMING events frame.

    Stateless rules compile through the shared batch compiler (identical
    plans work on streaming frames); stateful rules are gathered into
    one keyed stateful branch. Empty rule set is fatal, as at job
    start (StreamSentinelJob.java:70-75).

    ``backend`` picks the stateful path; both are key-packed (one state
    blob per ``xxhash64(key) mod 256`` bucket — the fixed
    ``state.N_STATE_BUCKETS``, not derived from config because the
    bucket is the checkpointed state key; a checkpoint of the earlier
    4,096-bucket ``bigint`` key is refused on restart):

    - ``"arrival"`` (default): the reference's arrival-order
      evaluation (:func:`~stream_sentinel_spark.streaming.state.stateful_alerts`);
      ``state_ttl_ms`` evicts keys idle for that much wall-clock time.
    - ``"event_time"``: events ordered by ``(time_col, *order_cols)``
      up to the watermark, so alerts are invariant to delivery order
      (:func:`~stream_sentinel_spark.streaming.state.stateful_alerts_event_time`);
      ``events`` MUST carry ``withWatermark``; ``state_ttl_ms`` there
      means EVENT-TIME idleness — deterministic and replay-stable — and
      expired rate windows are pruned automatically even without it.

    ``"event_time_bucketed"`` is accepted as the earlier name of
    ``"event_time"`` (the benchmark's detect-late workload still passes
    it); any other name raises ``ValueError``. Both paths match the
    batch plans (tests/test_streaming_parity.py,
    tests/test_streaming_bucketed.py, tests/test_streaming_event_time.py)
    and run on the RocksDB state store via
    ``spark.sql.streaming.stateStore.providerClass``."""
    if backend == "event_time_bucketed":
        backend = "event_time"
    if backend not in ("arrival", "event_time"):
        raise ValueError(f"unknown stateful backend: {backend!r}")
    if not rules:
        raise ValueError(
            "No detection rules configured — refusing to start (empty rule set)"
        )
    # ingestion-time column is plumbing, not event payload: keep it out of
    # alert original_event so batch and streaming alerts are identical
    payload_cols = [c for c in events.columns if c != INGEST_COL]
    payload = events.select(*payload_cols)

    branches: list[DataFrame] = []
    stateful: list[tuple[int, DetectionRule]] = []
    for i, rule in enumerate(rules):
        rule.validate()
        if rule.type in STATEFUL_TYPES:
            stateful.append((i, rule))
        else:
            branches.append(
                compile_rule(
                    payload, rule, key_field=key_field, time_col=time_col,
                    rule_index=i,
                )
            )
    if stateful:
        stateful_fn = (
            stateful_alerts_event_time if backend == "event_time" else stateful_alerts
        )
        branches.append(
            stateful_fn(
                payload,
                [r for _, r in stateful],
                key_field=key_field,
                time_col=time_col,
                order_cols=order_cols,
                rule_indexes=[i for i, _ in stateful],
                state_ttl_ms=state_ttl_ms,
            )
        )
    return reduce(lambda a, b: a.unionByName(b), branches)


def write_alerts_kafka(
    alerts: DataFrame, config: EngineConfig, *, query_name: str = "sentinel-alerts"
) -> StreamingQuery:
    """S5 — serialized alerts to the alert topic with checkpointing
    (at-least-once; see ``exactly_once.write_alerts_exactly_once`` for
    the exactly-once delivery regime)."""
    return (
        serialize_alerts(alerts)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", config.kafka_bootstrap_servers)
        .option("topic", config.kafka_alert_topic)
        .option("checkpointLocation", config.checkpoint_location)
        .queryName(query_name)
        .start()
    )


def write_alerts_files(
    alerts: DataFrame,
    path: str,
    *,
    checkpoint_location: str,
    fmt: str = "parquet",
    query_name: str = "sentinel-alerts-files",
) -> StreamingQuery:
    """Exactly-once file sink for the correctness path (SURVEY §7.4.6)."""
    return (
        alerts.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
        .start()
    )


def run_available_now(alerts: DataFrame, *, query_name: str = "sentinel-test") -> list:
    """Drain the stream's currently-available input through a memory sink
    and return the collected alert rows (test/replay helper)."""
    q = (
        alerts.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = alerts.sparkSession
    return spark.table(query_name).collect()
