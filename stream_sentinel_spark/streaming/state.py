"""Stateful streaming detectors — W1/W2 on `applyInPandasWithState`.

The reference keeps one `ValueState<List<AnomalyDetector>>` per key and
runs every detector on every event in arrival order
(AnomalyProcessFunction.java:59-60,106-143). Spark has no built-in
per-event trailing-window operator (grouped `window()` fires per window,
not per event — SURVEY §7.4.1), so this is the one place the engine
drops to the custom-stateful escape hatch: ONE `applyInPandasWithState`
processor per query that owns ALL stateful rules — a single shuffle and
a single state store, mirroring the reference's single keyBy
(StreamSentinelJob.java:121-124).

Two paths, both KEY-PACKED:

- :func:`stateful_alerts` — arrival order, the reference's semantics;
- :func:`stateful_alerts_event_time` — event-time order up to the
  watermark (a reorder buffer flushed as the watermark passes).

Both group by ``xxhash64(key) mod N_STATE_BUCKETS`` and keep ONE state
blob per bucket: a JSON dict of key → detector state, so one framework
round trip (Arrow group slice, state get/put, Python invocation) serves
every key in the bucket. At a few thousand keys a bucket holds about one
key; past that keys pack, which is where per-key grouping stopped
scaling (8.15× at 295k keys, STRESS_r05_streaming.json).

``N_STATE_BUCKETS`` is a fixed constant, deliberately NOT derived from
the session (shuffle partitions, cores) or the data: the bucket id is
the state store's grouping key, so a restart whose count differed would
hash keys into other buckets than the ones holding their state and
silently restart their detectors empty. Changing it is a state-format
change that needs a fresh checkpoint.

A key's detector state is ``{"r<idx>": [..]}`` — rate rules hold the
timestamp deque in epoch ms (bounded by the window duration,
RateSpikeDetector.java:85-90), statistical rules the last-N value deque
(bounded by windowSize, StatisticalOutlierDetector.java:124-127). Both
bounds are tiny (≤ dozens of entries), so state size is O(keys), the
same as the reference.

Arithmetic parity: the evaluation re-implements the batch operators'
exact expressions (operators/rate.py, operators/statistical.py) —
including the fixed-point `decimal_scale` path and Java's
``BigDecimal(double).setScale(HALF_UP)`` rendering of ``%.nf`` — so a
streaming run over the same rows in the same order produces
bit-identical alerts to the batch plan (tested in
tests/test_streaming_parity.py).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator, Sequence
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from stream_sentinel_spark.functions.alerts import original_event_map
from stream_sentinel_spark.functions.coercion import key_column, numeric_field
from stream_sentinel_spark.operators.cusum import DETAILS_FORMAT as CUSUM_FORMAT
from stream_sentinel_spark.operators.rate import DETAILS_FORMAT as RATE_FORMAT
from stream_sentinel_spark.operators.statistical import (
    DETAILS_FORMAT as STAT_FORMAT,
    MIN_HISTORY_SIZE,
)
from stream_sentinel_spark.rules import DetectionRule

_KEY = "__ss_key"
_BKT = "__ss_bkt"
_TSUS = "__ss_ts_us"
_EVMAP = "__ss_event"

#: Hash buckets of both stateful paths — part of the checkpointed state
#: key, so fixed (see the module docstring), never read from config.
N_STATE_BUCKETS = 4096

#: Output schema of the stateful branch — identical to functions.alerts
#: ALERT_FIELDS except alert_ts carried as epoch micros (converted back
#: to TimestampType right after the processor; Arrow-safe either way).
ALERT_SCHEMA = T.StructType(
    [
        T.StructField("rule_name", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("alert_ts_us", T.LongType()),
        T.StructField("details", T.StringType()),
        T.StructField("original_event", T.MapType(T.StringType(), T.StringType())),
        T.StructField("rule_index", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("state_json", T.StringType())])


def _java_fmt(x: float, nd: int) -> str:
    """Java's ``String.format("%.<nd>f", double)``: HALF_UP rounding of
    the double's exact decimal expansion — NOT Python's ``%`` operator,
    which rounds half-even and would diverge on exact ties."""
    q = Decimal(1).scaleb(-nd) if nd > 0 else Decimal(1)
    return str(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _cents(v: float, scale: int) -> int:
    """Spark's ``cast(decimal(18,s)) * 10^s → long`` (HALF_UP)."""
    p = Decimal(1).scaleb(-scale)
    return int(Decimal(v).quantize(p, rounding=ROUND_HALF_UP).scaleb(scale))


def _eval_rate(rule_spec: dict, hist: list, ts_ms: int) -> str | None:
    """RateSpikeDetector.evaluate (:74-114): evict strictly-older-than
    window (boundary kept, :85-87), append (:90), fire iff count >
    threshold (:94)."""
    window_ms = rule_spec["window_seconds"] * 1000
    cutoff = ts_ms - window_ms
    while hist and hist[0] < cutoff:
        hist.pop(0)
    hist.append(ts_ms)
    cnt = len(hist)
    if cnt > rule_spec["threshold"]:
        return RATE_FORMAT.replace("%d", "{}", 2).replace("%.0f", "{}").format(
            cnt, rule_spec["window_seconds"], _java_fmt(rule_spec["threshold"], 0)
        )
    return None


def _eval_statistical(rule_spec: dict, hist: list, v: float) -> str | None:
    """StatisticalOutlierDetector.evaluate (:77-130): warm-up guard ≥2
    (:92), population σ over the window EXCLUDING the current value
    (:122-127,:149-156), σ=0 → fire on any difference (:96-99), then
    append + trim (:124-127)."""
    scale = rule_spec.get("decimal_scale")
    window_size = rule_spec["window_size"]
    factor = rule_spec["deviation_factor"]
    details = None
    if len(hist) >= MIN_HISTORY_SIZE:
        if scale is None:
            n = len(hist)
            mean = sum(hist) / n
            var = sum((x - mean) ** 2 for x in hist) / n
            sd = math.sqrt(var)
            mean_fmt, sd_fmt = mean, sd
        else:
            # exact fixed-point twin of operators/statistical.py
            p = 10**scale
            n = len(hist)  # hist holds scaled-integer cents
            s = sum(hist)
            ssq = sum(c * c for c in hist)
            mean = (float(s) / float(p)) / n
            var = (float(ssq) / float(p * p)) / n - mean * mean
            sd = math.sqrt(max(var, 0.0))
            mean_fmt = ((2 * s + n) // (2 * n)) / p
            sd_fmt = math.floor(sd * p + 0.5) / p
        bound = 0.0 if sd == 0.0 else factor * sd
        if abs(v - mean) > bound:
            details = (
                STAT_FORMAT.replace("%s", "{}")
                .replace("%.2f", "{}", 3)
                .replace("%.1f", "{}")
                .format(
                    rule_spec["field"],
                    _java_fmt(v, 2),
                    _java_fmt(mean_fmt, 2),
                    _java_fmt(sd_fmt, 2),
                    _java_fmt(factor, 1),
                )
            )
    hist.append(v if scale is None else _cents(v, scale))
    del hist[:-window_size]
    return details


def _eval_cusum(rule_spec: dict, hist: list, v: float) -> str | None:
    """operators/cusum.py twin (engine extension): ``s = max(0, s +
    cents(v) − cents(target))``, fire iff ``s > cents(threshold)``.
    State is ONE scaled integer — the smallest of any stateful rule —
    and the arithmetic is the same fixed-point the batch closed form
    uses, so batch/streaming parity is exact, not approximate."""
    scale = rule_spec.get("decimal_scale")
    if scale is None:
        scale = 2
    p = 10**scale
    s = hist[0] if hist else 0
    s = max(0, s + _cents(v, scale) - _cents(rule_spec["target"], scale))
    hist[:] = [s]
    if s > _cents(rule_spec["threshold"], scale):
        return (
            CUSUM_FORMAT.replace("%s", "{}")
            .replace("%.2f", "{}", 4)
            .format(
                rule_spec["field"],
                _java_fmt(v, 2),
                _java_fmt(s / p, 2),
                _java_fmt(rule_spec["target"], 2),
                _java_fmt(rule_spec["threshold"], 2),
            )
        )
    return None


def _order_sort_keys(pdf, order_cols: tuple[str, ...]) -> list:
    """Null-safe lexsort key arrays for the tie-break columns, least-
    significant first (np.lexsort treats the LAST key as primary, so
    callers append ts and then the key column after these). pandas sort_values puts NA LAST (na_position
    default); a raw object-array lexsort would instead raise TypeError
    on None-vs-str comparison. Each column contributes
    (value-with-filler, is-null) with is-null the more significant of
    the two — identical ordering to the old pandas sort,
    null-tolerant."""
    import numpy as np
    import pandas as pd

    keys: list = []
    for c in reversed(order_cols):
        col = pdf[c].to_numpy()
        isnull = pd.isna(col)
        if isnull.any():
            # the filler only needs to COMPARE cleanly against the
            # non-null values (is-null is the more significant key,
            # so its value never affects order) — use an actual
            # non-null value, which is type-consistent for any
            # dtype, including object columns of non-string values
            # where a '' filler would make lexsort raise TypeError
            nonnull = col[~isnull]
            filler = nonnull[0] if len(nonnull) else 0
            keys.append(np.where(isnull, filler, col))
            keys.append(isnull)
        else:
            keys.append(col)
    return keys


def _eval_sorted(
    st: dict,
    key0,
    rule_specs: list[dict],
    ts_arr,
    ev_arr,
    val_arr: dict,
    out: dict,
    lo: int,
    hi: int,
) -> None:
    """Detector loop over PRE-SORTED event arrays for ONE key — rows
    [lo, hi) of the shared arrays (slice bounds, not copies, so a
    bucket pays no per-key array slicing). Mutates ``st`` and appends
    alert columns to ``out``. The single source of the detection
    semantics for both stateful paths."""
    # hoist per-rule lookups out of the event loop: the f-string state
    # key and dict fetch per (event x rule) were measurable at 100k+
    # events/batch. All three evaluators mutate hist IN PLACE, so the
    # hoisted references stay live.
    plans = []
    for spec in rule_specs:
        idx = spec["rule_index"]
        plans.append((spec, idx, st.setdefault(f"r{idx}", []), spec["type"]))
    for i in range(lo, hi):
        ts_us = int(ts_arr[i])
        ts_ms = ts_us // 1000  # reference time axis is epoch ms (:78-80)
        for spec, idx, hist, kind in plans:
            if kind == "rate":
                details = _eval_rate(spec, hist, ts_ms)
            else:
                v = val_arr[idx][i]
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    continue  # skip: window untouched (:83-86)
                if kind == "cusum":
                    details = _eval_cusum(spec, hist, float(v))
                else:
                    details = _eval_statistical(spec, hist, float(v))
            if details is not None:
                out["rule_name"].append(spec["name"])
                out["key"].append(key0)
                out["alert_ts_us"].append(ts_us)
                out["details"].append(details)
                out["original_event"].append(ev_arr[i])
                out["rule_index"].append(idx)


def _run_rules_over_bucket(
    states: dict,
    pdfs,
    rule_specs: list[dict],
    value_cols: dict[int, str],
    order_cols: tuple[str, ...],
    last_seen: dict | None = None,
    now_ms: int = 0,
):
    """Micro-batch evaluation for a BUCKET of keys: one sort of the
    whole bucket with the key as the primary sort key, then one
    :func:`_eval_sorted` call per key slice — so N keys cost one Arrow
    group, one state get/put, and one lexsort instead of N of each.
    ``states`` maps key → that key's detector state. ``last_seen``
    (when TTL is on) is stamped with ``now_ms`` for every key present."""
    import numpy as np
    import pandas as pd

    chunks = list(pdfs)
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    out: dict[str, list] = {f.name: [] for f in ALERT_SCHEMA.fields}
    n = len(pdf)
    if n == 0:
        return out
    key_np = pdf[_KEY].to_numpy()
    ts_np = pdf[_TSUS].to_numpy()
    order = np.lexsort((*_order_sort_keys(pdf, order_cols), ts_np, key_np))
    k_arr = key_np[order]
    ts_arr = ts_np[order]
    ev_arr = pdf[_EVMAP].to_numpy()[order]
    val_arr = {idx: pdf[col].to_numpy()[order] for idx, col in value_cols.items()}
    bounds = np.flatnonzero(k_arr[1:] != k_arr[:-1]) + 1
    lo = 0
    for hi in [*bounds.tolist(), n]:
        key0 = k_arr[lo]
        st = states.get(key0)
        if st is None:
            st = states[key0] = {}
        if last_seen is not None:
            last_seen[key0] = now_ms
        _eval_sorted(st, key0, rule_specs, ts_arr, ev_arr, val_arr, out, lo, hi)
        lo = hi
    return out


def _prepare_keyed(
    events: DataFrame,
    rules: Sequence[DetectionRule],
    key_field: str,
    time_col: str,
    order_cols: Sequence[str],
    rule_indexes: Sequence[int] | None,
    event_columns: Sequence[str] | None,
    keep_time_col: bool = False,
):
    """Shared input prep for both paths: the keyed projection (key,
    epoch-us timestamp, original-event map, order + value columns, and
    the key's hash bucket) and the pickled rule specs.
    ``keep_time_col`` carries the RAW watermarked timestamp column
    through the projection — required by the event-time mode
    (projecting it away severs the watermark the EventTimeTimeout
    needs)."""
    idxs = list(rule_indexes) if rule_indexes is not None else list(range(len(rules)))
    specs: list[dict] = []
    value_cols: dict[int, str] = {}
    cols = [
        key_column(events, key_field).alias(_KEY),
        F.unix_micros(F.col(time_col)).alias(_TSUS),
        original_event_map(
            event_columns if event_columns is not None else events.columns
        ).alias(_EVMAP),
        *(F.col(c) for c in order_cols),
    ]
    if keep_time_col:
        cols.append(F.col(time_col))
    for rule, idx in zip(rules, idxs):
        rule.validate()
        spec = {
            "rule_index": idx,
            "name": rule.name,
            "type": rule.type,
            "field": rule.field,
            "threshold": float(rule.threshold),
            "window_seconds": int(rule.window_seconds or 0),
            "window_size": int(rule.window_size),
            "deviation_factor": float(rule.deviation_factor),
            "decimal_scale": rule.decimal_scale,
        }
        spec["target"] = float(rule.target)
        if rule.type not in ("rate", "statistical", "cusum"):
            raise ValueError(f"stateful_alerts got stateless rule type: {rule.type}")
        if rule.type in ("statistical", "cusum"):
            vcol = f"__ss_v{idx}"
            value_cols[idx] = vcol
            cols.append(numeric_field(events, rule.field).alias(vcol))
        specs.append(spec)
    keyed = events.select(*cols).withColumn(
        _BKT, F.pmod(F.xxhash64(F.col(_KEY)), F.lit(N_STATE_BUCKETS))
    )
    return keyed, specs, value_cols


def _apply_packed(keyed: DataFrame, process, timeout: str) -> DataFrame:
    """Run ``process`` once per hash bucket and convert the alert
    timestamp back from epoch micros."""
    alerts = keyed.groupBy(_BKT).applyInPandasWithState(
        process,
        outputStructType=ALERT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
    return alerts.select(
        "rule_name",
        "key",
        F.timestamp_micros(F.col("alert_ts_us")).alias("alert_ts"),
        "details",
        "original_event",
        "rule_index",
    )


# ---------------------------------------------------------------------------
# Arrival order (the reference's semantics)
# ---------------------------------------------------------------------------

def _make_bucketed_processor(
    rule_specs: list[dict],
    value_cols: dict[int, str],
    order_cols: tuple[str, ...],
    ttl_ms: int | None = None,
):
    """Arrival-order per-BUCKET processor closure: the state blob is a
    JSON dict of key → detector state (plus key → last-seen wall-ms
    when TTL is on), so one framework round trip (Arrow group slice +
    state get/put + Python invocation) serves every key in the bucket."""
    import time

    import pandas as pd

    def process(key, pdfs: Iterator, state) -> Iterator:
        if state.hasTimedOut:
            # every key in this bucket has been idle ≥ ttl since the
            # bucket's last event — drop the whole blob
            state.remove()
            return
        blob = state.get[0] if state.exists else None
        wrapped: dict = json.loads(blob) if blob else {}
        states: dict = wrapped.get("s", {})
        now_ms = 0
        last: dict | None = None
        if ttl_ms is not None:
            last = wrapped.get("t", {})
            now_ms = int(time.time() * 1000)
        out = _run_rules_over_bucket(
            states, pdfs, rule_specs, value_cols, order_cols, last, now_ms
        )
        if last is not None:
            # in-blob eviction AFTER processing stamps this batch's keys:
            # a key WITH data in the batch always survives — the GroupState
            # contract's ProcessingTimeTimeout likewise never fires for a
            # key that has data in the trigger, however long the gap since
            # its previous batch. Only keys absent from this batch AND idle
            # past the TTL are dropped (a per-key timeout would have
            # fired at this same trigger).
            dead = [k for k, t in last.items() if now_ms - t > ttl_ms]
            for k in dead:
                states.pop(k, None)
                del last[k]
        wrapped = {"s": states}
        if last is not None:
            wrapped["t"] = last
        state.update((json.dumps(wrapped),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out["rule_name"]:
            yield pd.DataFrame(out)

    return process


def stateful_alerts(
    events: DataFrame,
    rules: Sequence[DetectionRule],
    *,
    key_field: str,
    time_col: str = "ts",
    order_cols: Sequence[str] = (),
    rule_indexes: Sequence[int] | None = None,
    event_columns: Sequence[str] | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Compile the stateful rules (rate/statistical/cusum) of a rule set
    into ONE key-packed stateful branch over a streaming DataFrame,
    evaluated in ARRIVAL order (within a micro-batch: by ``time_col``
    then ``order_cols``).

    ``rule_indexes`` preserves each rule's position in the full YAML list
    so the union with stateless branches keeps reference emission order
    (SURVEY §3.2).

    Grouping is by ``xxhash64(key) mod N_STATE_BUCKETS`` with one state
    blob per bucket; the same :func:`_eval_sorted` loop runs per key
    slice of the bucket-sorted batch against that key's own detector
    state, so results are those of a per-key processor (pinned against
    the batch plan in tests/test_streaming_parity.py and
    tests/test_streaming_bucketed.py). The state store holds at most
    ``N_STATE_BUCKETS`` rows; the blobs grow with resident keys, so
    UNBOUNDED key spaces need the TTL below.

    ``state_ttl_ms`` enables idle-key state eviction: a key with no
    events for the TTL has its detector state dropped (re-created fresh
    on its next event, exactly like a brand-new key). It follows the
    GroupState ProcessingTimeTimeout contract per key: a key WITH data
    in the batch always keeps its state, a key absent from the batch
    and idle past the TTL is pruned when its bucket is next invoked,
    and a FULLY idle bucket is dropped whole by its processing-time
    timeout (state ∝ live keys, not keys-ever-seen). The reference
    keeps per-key state forever (AnomalyProcessFunction.java:86-90) —
    unbounded key cardinality at 100 TB needs the bound; pick TTL ≫ the
    largest rule window so eviction never changes live-detection
    results.

    OPERATIONAL NOTE: with ``state_ttl_ms`` set, the query uses
    ProcessingTime timeouts, and Spark's ``availableNow``/drain triggers
    never self-terminate under that time mode — the engine keeps
    scheduling empty micro-batches to service (even absent) future
    timers (observed: state fully evicted to 0 rows, 300+ empty batches
    and counting). TTL is for CONTINUOUS jobs; batch-drain/replay runs
    (``run_available_now``, availableNow triggers) should leave
    ``state_ttl_ms=None``. ``tools/stress.py streaming`` drives the
    TTL leg with a continuous trigger + explicit stop for this reason."""
    keyed, specs, value_cols = _prepare_keyed(
        events, rules, key_field, time_col, order_cols, rule_indexes, event_columns
    )
    return _apply_packed(
        keyed,
        _make_bucketed_processor(specs, value_cols, tuple(order_cols), state_ttl_ms),
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Event-time ordered mode (the upgrade the reference cannot do)
# ---------------------------------------------------------------------------

def _make_event_time_flush_processor(
    rule_specs: list[dict],
    value_cols: dict[int, str],
    order_cols: tuple[str, ...],
    ttl_ms: int | None = None,
):
    """Event-time per-BUCKET processor closure: buffer arriving rows,
    and on each watermark advance evaluate the buffered prefix with
    ``ts ≤ watermark`` in (ts, *order_cols) order — per key, via the
    shared detection loop (:func:`_eval_sorted` through
    :func:`_run_rules_over_bucket`). The state blob holds the pending
    buffer (``buf``), key → detector state (``det``) and, with TTL,
    key → last flushed event ms (``last``).

    The reference processes in ARRIVAL order (AnomalyProcessFunction
    consumes the Flink stream as delivered; SURVEY §2.5 T3) — shuffled
    delivery changes its rate/statistical windows. This mode makes
    detection results INVARIANT to delivery order up to the watermark
    bound: any permutation of arrivals within the allowed lateness
    yields identical alerts (pinned against the batch plans, which are
    event-time ordered by construction, in
    test_streaming_event_time.py). Rows LATER than the watermark (true
    stragglers) never reach this processor: with EventTimeTimeout,
    Spark drops older-than-watermark input rows before the stateful
    operator — the standard watermark contract.

    STATE BOUNDS (all watermark-driven, hence DETERMINISTIC and
    replay-stable — unlike the arrival-order path's wall-clock TTL):

    - the pending buffer is bounded by events within the
      out-of-orderness window (flushed as the watermark passes them);
    - rate windows are pruned on every invocation once the watermark
      passes ``entry + window_seconds`` — bit-equal to not pruning,
      because every future row's own eviction cutoff (``ts − window``)
      is ≥ ``wm − window`` (rows below the watermark are dropped by the
      engine), so a rate-only key's state disappears entirely once its
      windows expire (a timeout is armed at the expiry point to
      finalize eviction without waiting for new traffic);
    - ``ttl_ms`` (optional) evicts a key's WHOLE detector state once
      its last flushed EVENT TIME is ``ttl_ms`` behind the watermark —
      the knob that bounds statistical/cusum histories, which are
      count-based and therefore never expire by time (the reference
      retains them forever, AnomalyProcessFunction.java:86-90). Same
      contract as the arrival-order TTL: pick ``ttl_ms`` ≫ the rule
      windows so eviction never changes live results.
    """
    import pandas as pd

    buf_cols = [_KEY, _TSUS, _EVMAP, *order_cols, *value_cols.values()]
    rate_windows = [
        ("r%d" % s["rule_index"], s["window_seconds"] * 1000)
        for s in rule_specs
        if s["type"] == "rate"
    ]
    nonrate_keys = [
        "r%d" % s["rule_index"] for s in rule_specs if s["type"] != "rate"
    ]

    def _prune_rate(det: dict, wm_ms: int) -> None:
        for rk, win_ms in rate_windows:
            hist = det.get(rk)
            if hist and hist[0] < wm_ms - win_ms:
                det[rk][:] = [t for t in hist if t >= wm_ms - win_ms]

    def _evict_at(det: dict, last_ms, wm_ms: int):
        """Event time at which this key's whole det becomes droppable:
        last+ttl when TTL is on; else the rate windows' expiry point
        when nothing count-based is retained; else None (never)."""
        if ttl_ms is not None and last_ms is not None:
            return last_ms + ttl_ms
        if any(det.get(k) for k in nonrate_keys):
            return None
        pts = [det[rk][-1] + win for rk, win in rate_windows if det.get(rk)]
        return max(pts) if pts else None

    def _empty_buf() -> dict:
        return {c: [] for c in buf_cols}

    def process(key, pdfs: Iterator, state) -> Iterator:
        wm_ms = state.getCurrentWatermarkMs()
        blob = state.get[0] if state.exists else None
        st: dict = json.loads(blob) if blob else {"det": {}, "buf": _empty_buf()}
        buf = st["buf"]
        if isinstance(buf, list):
            # blob written by the pre-columnar (row-dict) version of
            # this processor — a checkpoint upgraded in place must keep
            # flushing; rows convert once and re-persist columnar
            buf = {c: [r[c] for r in buf] for c in buf_cols}
        if not state.hasTimedOut:
            for pdf in pdfs:
                for c in buf_cols:
                    if c == _EVMAP:
                        # the original-event map is by far the widest
                        # buffer field and is only READ at flush time —
                        # encode it once on arrival so each batch's
                        # state re-dump escapes one flat string per
                        # pending row instead of re-walking a nested
                        # dict per row per batch
                        buf[c].extend(json.dumps(m) for m in pdf[c])
                    else:
                        buf[c].extend(pdf[c].tolist())
        # COLUMNAR buffer (round 10): the state blob stores one list
        # per column instead of one dict per row — the whole-buffer
        # json round-trip every trigger pays (the dominant cost of this
        # backend: a trigger that buffers N rows re-encodes all N) goes
        # from N·|cols| repeated keys and dict constructions to |cols|
        # flat arrays, and arrival/flush use vectorized column pulls
        # instead of to_dict("records") row loops. Values, flush order
        # and detector semantics are unchanged (the evaluation sorts by
        # (ts, *order_cols) downstream).
        ts = buf[_TSUS]
        n_ready = sum(1 for t in ts if t // 1000 <= wm_ms)
        if n_ready == len(ts):
            ready_buf, pending_buf = (buf if ts else None), _empty_buf()
        elif n_ready == 0:
            ready_buf, pending_buf = None, buf
        else:
            mask = [t // 1000 <= wm_ms for t in ts]
            ready_buf = {
                c: [v for v, m in zip(buf[c], mask) if m] for c in buf_cols
            }
            pending_buf = {
                c: [v for v, m in zip(buf[c], mask) if not m] for c in buf_cols
            }
        st["buf"] = pending_buf
        n_pending = len(pending_buf[_TSUS])
        out = None
        if ready_buf is not None:
            # str = current blob format (encoded on arrival above);
            # dict = a row buffered by the pre-encoding version — a
            # checkpoint upgraded in place must keep flushing, not
            # poison every retry with TypeError
            ready_buf[_EVMAP] = [
                json.loads(s) if isinstance(s, str) else s
                for s in ready_buf[_EVMAP]
            ]
            out = _run_rules_over_bucket(
                st["det"],
                [pd.DataFrame(ready_buf, columns=buf_cols)],
                rule_specs,
                value_cols,
                order_cols,
            )
            if ttl_ms is not None:
                lt = st.setdefault("last", {})
                for k, t in zip(ready_buf[_KEY], ready_buf[_TSUS]):
                    tms = t // 1000
                    if tms > lt.get(k, -1):
                        lt[k] = tms
        # watermark-expired rate windows + whole-key eviction
        pend_keys = set(pending_buf[_KEY])
        next_fire: list[int] = []
        lt = st.get("last", {})
        dead = []
        for k, det in st["det"].items():
            _prune_rate(det, wm_ms)
            if k in pend_keys:
                continue
            at = _evict_at(det, lt.get(k), wm_ms)
            # STRICT: an entry with expiry == wm still counts for a
            # row arriving exactly at the watermark (rate eviction
            # keeps boundary entries), so evict only once wm passes
            if at is not None and at < wm_ms:
                dead.append(k)
            elif at is not None:
                next_fire.append(at)
        for k in dead:
            del st["det"][k]
            lt.pop(k, None)
        empties = [k for k, d in st["det"].items() if not any(d.values())]
        for k in empties:
            del st["det"][k]
            lt.pop(k, None)
        empty = not n_pending and not st["det"]
        if empty:
            # nothing buffered and no detector window holds history —
            # drop the state entirely instead of persisting an empty
            # blob forever; keys restart fresh if they speak again
            state.remove()
        else:
            state.update((json.dumps(st),))
            if n_pending:
                # re-arm: fires as soon as the watermark moves again
                state.setTimeoutTimestamp(wm_ms + 1)
            elif next_fire:
                # arm the eviction point (TTL idleness or rate-window
                # expiry) so idle keys are dropped without new traffic
                state.setTimeoutTimestamp(max(min(next_fire), wm_ms + 1))
        if out and out["rule_name"]:
            yield pd.DataFrame(out)

    return process


def stateful_alerts_event_time(
    events: DataFrame,
    rules: Sequence[DetectionRule],
    *,
    key_field: str,
    time_col: str = "ts",
    order_cols: Sequence[str] = (),
    rule_indexes: Sequence[int] | None = None,
    event_columns: Sequence[str] | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """:func:`stateful_alerts` in EVENT-TIME order: detection windows
    see events ordered by ``(time_col, *order_cols)`` regardless of
    arrival order, up to the stream's watermark bound. ``events`` MUST
    carry ``withWatermark(time_col, ...)`` — the watermark is both the
    reorder buffer bound and the flush clock. Emission is delayed by
    the watermark (alerts for an event appear once the watermark passes
    it), and rows arriving LATER than the watermark are dropped by the
    engine before the processor (the standard watermark lateness
    contract) — the two inherent prices of ordering; the arrival-order
    path (:func:`stateful_alerts`) keeps the reference's
    immediate-emission, evaluate-everything behavior.

    Key-packed like the arrival path: one buffer + detector blob per
    ``xxhash64(key) mod N_STATE_BUCKETS`` bucket, flushed per key slice
    in (ts, *order_cols) order through the same evaluation function,
    with EventTimeTimeout (batch parity pinned in
    tests/test_streaming_event_time.py).

    State bounds: the pending buffer is watermark-bounded and expired
    rate windows are pruned automatically (both deterministic);
    ``state_ttl_ms`` additionally evicts a key's whole detector state
    once its last flushed EVENT TIME falls ``state_ttl_ms`` behind the
    watermark — needed for statistical/cusum rules, whose count-based
    windows never expire by time. Event-time idleness (not wall clock),
    so eviction is deterministic and replay-stable; pick it ≫ the rule
    windows, as with the arrival-order TTL."""
    keyed, specs, value_cols = _prepare_keyed(
        events, rules, key_field, time_col, order_cols, rule_indexes,
        event_columns, keep_time_col=True,
    )
    return _apply_packed(
        keyed,
        _make_event_time_flush_processor(
            specs, value_cols, tuple(order_cols), state_ttl_ms
        ),
        GroupStateTimeout.EventTimeTimeout,
    )
