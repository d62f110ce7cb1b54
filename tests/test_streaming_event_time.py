"""Event-time ordered streaming mode: detection results must be
INVARIANT to arrival order up to the watermark bound, and equal the
batch plans (which are event-time ordered by construction).

The fixture deliberately delivers events SHUFFLED within two time
blocks across micro-batches (maxFilesPerTrigger=1) with sentinel
events advancing the watermark between and after the blocks — the
arrival-order path would evaluate the shuffled windows and
produce different rate/statistical alerts; the event-time mode must
reproduce the batch alert set exactly."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from stream_sentinel_spark.plans.pipeline import compile_rules
from stream_sentinel_spark.rules import DetectionRule
from stream_sentinel_spark.streaming.sources import read_file_stream
from stream_sentinel_spark.streaming.state import stateful_alerts_event_time

BASE = dt.datetime(2024, 1, 1)
SENTINEL_USER = 9999
DELAY = "150 seconds"  # must cover the disorder span (one 120 s block)

RULES = [
    DetectionRule(
        name="r_rate", type="rate", key_field="user_id",
        window_seconds=30, threshold=3,
    ),
    DetectionRule(
        name="r_stat", type="statistical", field="value", window_size=5,
        deviation_factor=1.5, decimal_scale=2,
    ),
]


def _mk_events():
    rng = random.Random(7)
    rows = []
    eid = 0
    # block 1: seconds 0..119; block 2: seconds 122..241 (2s gap at the
    # split so the mid-sentinel watermark lands between the blocks)
    for block_start in (0, 122):
        for s in range(120):
            for u in (1, 2, 3):
                if (s + u) % 2 == 0:
                    rows.append(
                        dict(
                            event_id=eid,
                            user_id=u,
                            value=float((s * 7 + u * 13) % 300),
                            ts=BASE + dt.timedelta(seconds=block_start + s),
                        )
                    )
                    eid += 1
    b1 = [r for r in rows if r["ts"] < BASE + dt.timedelta(seconds=121)]
    b2 = [r for r in rows if r["ts"] >= BASE + dt.timedelta(seconds=121)]
    rng.shuffle(b1)
    rng.shuffle(b2)

    def split3(rows_):
        # SHUFFLED rows split across three files: the disorder now spans
        # MICRO-BATCHES, not just within one (each batch is event-time
        # sorted internally by _run_rules_over_bucket, so single-file
        # disorder is invisible to the arrival-order path)
        k = (len(rows_) + 2) // 3
        return [rows_[i : i + k] for i in range(0, len(rows_), k)]
    # sentinels: own key, NULL value (invisible to value rules; rate
    # threshold 3 never fires on single events)
    def sentinel(eid_, secs):
        return dict(
            event_id=eid_, user_id=SENTINEL_USER, value=None,
            ts=BASE + dt.timedelta(seconds=secs),
        )

    # mid sentinel: wm = ts - 150s must cover block 1 (>119) and not
    # reach block 2 (<122): ts = 271s -> wm 121s
    s1 = sentinel(100_000, 271)
    # end sentinel: wm past block 2 (241): ts = 393s -> wm 243s
    s2 = sentinel(100_001, 393)
    # final kick: the end sentinel's watermark takes effect one batch
    # later; this batch carries it
    s3 = sentinel(100_002, 420)
    return rows, [*split3(b1), [s1], *split3(b2), [s2], [s3]]


@pytest.fixture(scope="module")
def event_time_fixture(spark, tmp_path_factory):
    all_rows, file_groups = _mk_events()
    schema = "event_id long, user_id long, value double, ts timestamp"
    path = str(tmp_path_factory.mktemp("evt") / "src")
    for i, grp in enumerate(file_groups):
        spark.createDataFrame(
            [(r["event_id"], r["user_id"], r["value"], r["ts"]) for r in grp],
            schema,
        ).coalesce(1).write.mode("append").parquet(path)
    full = spark.createDataFrame(
        [
            (r["event_id"], r["user_id"], r["value"], r["ts"])
            for grp in file_groups
            for r in grp
        ],
        schema,
    )
    return path, full


def _key(row):
    return (row["rule_name"], row["key"], row["alert_ts"], row["details"], row["rule_index"])


def test_event_time_mode_matches_batch_despite_shuffled_arrival(
    spark, event_time_fixture
):
    path, full = event_time_fixture
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch = [
            r
            for r in compile_rules(
                full, RULES, key_field="user_id", time_col="ts",
                order_cols=("event_id",),
            ).collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert len(batch) > 0, "fixture must fire alerts"

        stream = read_file_stream(
            spark, path, full.schema, time_col="ts", watermark=DELAY,
            max_files_per_trigger=1,
        )
        alerts = stateful_alerts_event_time(
            stream, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName("evt_mode")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = [
            r
            for r in spark.table("evt_mode").collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_event_time_bucketed_matches_batch_and_per_key(
    spark, event_time_fixture, monkeypatch
):
    """The key-packed event-time mode must reproduce the batch alert set
    on the same shuffled cross-batch delivery with SEVERAL keys per
    blob: at the default 256 buckets the fixture's four keys are
    spread about one per bucket (the test above), so the bucket count
    is patched to 2 here, forcing the key-primary sort + per-slice
    flush to separate keys sharing one buffer."""
    from stream_sentinel_spark.streaming import state

    monkeypatch.setattr(state, "N_STATE_BUCKETS", 2)
    path, full = event_time_fixture
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch = [
            r
            for r in compile_rules(
                full, RULES, key_field="user_id", time_col="ts",
                order_cols=("event_id",),
            ).collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        stream = read_file_stream(
            spark, path, full.schema, time_col="ts", watermark=DELAY,
            max_files_per_trigger=1,
        )
        alerts = stateful_alerts_event_time(
            stream, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName("evt_bkt_mode")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = [
            r
            for r in spark.table("evt_bkt_mode").collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
        assert len(streamed) > 0
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_arrival_order_backend_differs_on_shuffled_input(
    spark, event_time_fixture
):
    """The contrast that makes the mode matter: the reference-parity
    arrival-order path evaluates the SAME shuffled delivery in
    arrival order and produces a DIFFERENT alert set (deterministically,
    fixed shuffle seed) — event-time ordering is a real semantic
    upgrade, not a formality."""
    from stream_sentinel_spark.streaming.state import stateful_alerts

    path, full = event_time_fixture
    batch = {
        _key(r)
        for r in compile_rules(
            full, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        ).collect()
        if r["key"] != str(SENTINEL_USER)
    }
    stream = read_file_stream(
        spark, path, full.schema, time_col="ts", watermark=DELAY,
        max_files_per_trigger=1,
    )
    alerts = stateful_alerts(
        stream, RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName("arrival_mode")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        _key(r)
        for r in spark.table("arrival_mode").collect()
        if r["key"] != str(SENTINEL_USER)
    }
    assert streamed != batch


# slow tier (~57 s at 4 cores): compiler sweep with and without TTL; the
# event-time path's batch parity runs at default size in
# test_event_time_mode_matches_batch_despite_shuffled_arrival and
# test_event_time_bucketed_matches_batch_and_per_key
@pytest.mark.slow
def test_compile_rules_streaming_event_time_backends(spark, event_time_fixture):
    """The pipeline compiler reaches the event-time path: the
    compiled stream (stateless branches native + event-time stateful
    branch) must reproduce the batch alert set on the shuffled fixture,
    with and without an event-time TTL far beyond the rule windows."""
    from stream_sentinel_spark.streaming import compile_rules_streaming

    path, full = event_time_fixture
    rules = [
        *RULES,
        DetectionRule(name="hot", type="threshold", field="value", threshold=290.0),
    ]
    batch = [
        r
        for r in compile_rules(
            full, rules, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        ).collect()
        if r["key"] != str(SENTINEL_USER)
    ]
    assert any(r["rule_name"] == "hot" for r in batch)
    stream = read_file_stream(
        spark, path, full.schema, time_col="ts", watermark=DELAY,
        max_files_per_trigger=1,
    )
    alerts = compile_rules_streaming(
        stream, rules, key_field="user_id", time_col="ts",
        order_cols=("event_id",), backend="event_time",
    )
    q = (
        alerts.writeStream.format("memory").queryName("evt_cet")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = [
        r
        for r in spark.table("evt_cet").collect()
        if r["key"] != str(SENTINEL_USER)
    ]
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))

    # a TTL far beyond every rule window must not change the alert set
    # (event-time idleness eviction only touches keys whose windows are
    # semantically dead at eviction time)
    stream = read_file_stream(
        spark, path, full.schema, time_col="ts", watermark=DELAY,
        max_files_per_trigger=1,
    )
    alerts = compile_rules_streaming(
        stream, rules, key_field="user_id", time_col="ts",
        order_cols=("event_id",), backend="event_time",
        state_ttl_ms=86_400_000 * 365,
    )
    q = (
        alerts.writeStream.format("memory").queryName("evt_ttl")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = [
        r for r in spark.table("evt_ttl").collect()
        if r["key"] != str(SENTINEL_USER)
    ]
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))


class _EvtFakeState:
    def __init__(self, blob=None):
        self._blob = blob
        self.hasTimedOut = False
        self.removed = False
        self.armed_at = None
        self.wm = 0

    @property
    def exists(self):
        return self._blob is not None

    @property
    def get(self):
        return (self._blob,)

    def getCurrentWatermarkMs(self):
        return self.wm

    def update(self, t):
        self._blob = t[0]

    def remove(self):
        self.removed = True
        self._blob = None

    def setTimeoutTimestamp(self, ts):
        self.armed_at = ts


def _rate_spec(win_s=60, threshold=100.0):
    return {
        "rule_index": 0, "name": "r", "type": "rate", "field": None,
        "threshold": threshold, "window_seconds": win_s, "window_size": 0,
        "deviation_factor": 0.0, "decimal_scale": None, "target": 0.0,
    }


def _stat_spec():
    return {
        "rule_index": 1, "name": "s", "type": "statistical", "field": "value",
        "threshold": 0.0, "window_seconds": 0, "window_size": 10,
        "deviation_factor": 2.5, "decimal_scale": 2, "target": 0.0,
    }


def _pdf(ids, key="k"):
    import pandas as pd

    return pd.DataFrame(
        {
            "__ss_key": [key] * len(ids),
            "__ss_ts_us": [1_000_000 * i for i in ids],
            "__ss_event": [{"n": str(i)} for i in ids],
            "event_id": [f"e{i}" for i in ids],
        }
    )


def test_rate_only_state_evicts_once_windows_expire():
    """A rate-only key's detector state must disappear entirely once
    the watermark passes every retained timestamp + window — the
    semantic eviction that bounds event-time state without any TTL
    (bit-safe: a future row's own eviction cutoff is >= wm - window).
    The processor arms a timeout at the expiry point; firing it with an
    advanced watermark removes the blob."""
    import json as _json

    from stream_sentinel_spark.streaming.state import (
        _make_event_time_flush_processor,
    )

    proc = _make_event_time_flush_processor(
        [_rate_spec(win_s=60)], {}, ("event_id",)
    )
    st = _EvtFakeState()
    st.wm = 10_000  # both events (ts 1s, 2s) are ready
    list(proc((0,), iter([_pdf([1, 2])]), st))
    blob = _json.loads(st._blob)
    assert blob["det"]["k"]["r0"] == [1_000, 2_000]
    assert st.armed_at == 2_000 + 60_000, "armed at the expiry point"
    # watermark just short of expiry (boundary is STRICT): nothing dies
    st.hasTimedOut = True
    st.wm = 62_000
    list(proc((0,), iter([]), st))
    assert not st.removed and _json.loads(st._blob)["det"]["k"]["r0"] == [2_000]
    # watermark past the last entry's expiry: the whole blob goes
    st.hasTimedOut = True
    st.wm = 62_001
    list(proc((0,), iter([]), st))
    assert st.removed


def test_event_time_ttl_evicts_idle_statistical_state():
    """Statistical windows are count-based and never expire by time;
    the event-time TTL evicts a key once its last flushed EVENT TIME is
    ttl behind the watermark — and never before."""
    import json as _json

    from stream_sentinel_spark.streaming.state import (
        _make_event_time_flush_processor,
    )

    proc = _make_event_time_flush_processor(
        [_stat_spec()], {1: "__ss_v1"}, ("event_id",), ttl_ms=5_000
    )
    pdf = _pdf([1, 2])
    pdf["__ss_v1"] = [1.0, 2.0]
    st = _EvtFakeState()
    st.wm = 3_000  # events ready, but NOT yet idle (last+ttl=7000 > wm)
    list(proc((0,), iter([pdf]), st))
    blob = _json.loads(st._blob)
    # statistical history is stored as scaled ints (decimal_scale=2)
    assert blob["det"]["k"]["r1"] == [100, 200] and blob["last"] == {"k": 2_000}
    assert st.armed_at == 2_000 + 5_000
    st.hasTimedOut = True
    st.wm = 7_000  # last + ttl == 7000: strict boundary — retained
    list(proc((0,), iter([]), st))
    assert not st.removed
    st.hasTimedOut = True
    st.wm = 7_001
    list(proc((0,), iter([]), st))
    assert st.removed


def test_bucketed_event_time_ttl_evicts_only_idle_keys():
    """In the packed mode the TTL prunes per KEY inside the blob: an
    idle key's stat window goes, a recently-flushed sibling stays."""
    import json as _json

    from stream_sentinel_spark.streaming.state import (
        _make_event_time_flush_processor,
    )

    proc = _make_event_time_flush_processor(
        [_stat_spec()], {1: "__ss_v1"}, ("event_id",), ttl_ms=5_000
    )
    old = _pdf([1], key="idle")
    old["__ss_v1"] = [1.0]
    st = _EvtFakeState()
    st.wm = 2_000  # idle's event flushes but is not yet TTL-expired
    list(proc(("b",), iter([old]), st))
    fresh = _pdf([12], key="live")
    fresh["__ss_v1"] = [2.0]
    st.hasTimedOut = False
    st.wm = 12_000  # idle's last=1000: 12000-1000 > 5000 → evicted
    list(proc(("b",), iter([fresh]), st))
    blob = _json.loads(st._blob)
    assert "idle" not in blob["det"] and "live" in blob["det"]
    assert blob["last"] == {"live": 12_000}


def test_columnar_buffer_partial_flush():
    """The state blob's pending buffer is COLUMNAR (round 10: one list
    per column instead of one dict per row — the whole-buffer json
    round-trip per trigger was the backend's dominant cost). A partial
    flush must keep exactly the not-yet-ready rows, persist them
    columnar, and flush them on the next watermark advance. (Blobs of
    the older row-dict layout need no upgrade path: their checkpoints
    carry the 4,096-bucket ``bigint`` state key, which a restart
    refuses — test_streaming_bucketed.py.)"""
    import json as _json

    from stream_sentinel_spark.streaming import state as S

    proc = S._make_event_time_flush_processor(
        [_rate_spec(win_s=60)], {}, ("event_id",)
    )
    st = _EvtFakeState()
    st.wm = 1_500  # ts 1s ready, ts 2s pending
    list(proc((0,), iter([_pdf([1, 2])]), st))
    blob = _json.loads(st._blob)
    assert isinstance(blob["buf"], dict), "pending buffer persists columnar"
    assert blob["buf"][S._TSUS] == [2_000_000]
    assert blob["buf"][S._KEY] == ["k"]
    assert blob["buf"]["event_id"] == ["e2"]
    assert blob["det"]["k"]["r0"] == [1_000], "only the ready row evaluated"
    assert st.armed_at == st.wm + 1, "re-armed while rows pend"
    # second advance flushes the pending row identically
    st.hasTimedOut = True
    st.wm = 10_000
    list(proc((0,), iter([]), st))
    assert _json.loads(st._blob)["det"]["k"]["r0"] == [1_000, 2_000]
