"""The benchmark's workloads: inputs, set-up, timed drain and output check.

Every workload is a closed loop over a backlog: all input files are
written before timing, one file per micro-batch (``maxFilesPerTrigger=1``),
and an ``availableNow`` query drains them. The backlog is sized from
``--seconds`` and a fixed per-workload batch time near the one seen on a
4-core host, so a drain lasts about ``--seconds`` there; the inputs
depend only on the seed and ``--seconds``, never on a measured speed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

import gen


@dataclass(frozen=True)
class Spec:
    """One workload: its input shape, backend and batch sizing."""

    kind: str  # "detect" | "ingest"
    shape: str
    per_file: int  # events (docs) per micro-batch file
    batch_s: float  # seconds per micro-batch on a 4-core host; sizes the backlog
    backend: str | None = None  # None: the library's default
    watermark: str | None = None
    local1_baseline: bool = False


WORKLOADS: dict[str, Spec] = {
    # per-event rule work in the Python workers dominates
    "detect-hot": Spec("detect", "hot", 1_000, 1.5, local1_baseline=True),
    # per-key framework round trips and state-store inserts dominate
    "detect-churn": Spec("detect", "churn", 1_000, 1.2, local1_baseline=True),
    # the event-time reorder buffer; out-of-order inside a 5 s watermark
    "detect-late": Spec(
        "detect", "late", 1_000, 1.3, backend="event_time_bucketed",
        watermark="5 seconds",
    ),
    # index reads (match) beside index writes (append, compaction, manifest)
    "ingest-dedup": Spec("ingest", "x91", 60, 3.2),
}

INGEST_CORPUS = 600
INGEST_PLANTS = 20  # exact copies per epoch, of corpus or earlier-epoch docs
COMPACT_EVERY = 3
#: warm-up micro-batches per kind
WARM_FILES = {"detect": 2, "ingest": 1}


def detect_rules():
    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
    from stream_sentinel_spark.rules import DetectionRule

    return list(DEFAULT_RULES) + [
        DetectionRule(
            name="value_drift", type="cusum", field="value", target=105.0,
            threshold=300.0,
        )
    ]


def n_batches(spec: Spec, seconds: float) -> int:
    return max(4, round(seconds / spec.batch_s))


@dataclass
class Inputs:
    """Generated files and tables of one run."""

    warm: str
    src: str
    n_records: int
    n_batches: int
    warm_tables: list  # one per warm-up file
    tables: list  # one per backlog file
    corpus: pa.Table | None = None  # ingest: the indexed docs


def make_inputs(spec: Spec, seed: int, seconds: float, root: str) -> Inputs:
    rng = np.random.default_rng(seed)
    nb = n_batches(spec, seconds)
    corpus = None
    if spec.kind == "detect":
        warm = gen.detect_events(
            rng, spec.shape, WARM_FILES["detect"], 100, first_id=-10_000_000
        )
        tables = gen.detect_events(rng, spec.shape, nb, spec.per_file)
    else:
        k = WARM_FILES["ingest"]
        corpus, epochs = gen.ingest_docs(
            rng, INGEST_CORPUS, k + nb, spec.per_file, INGEST_PLANTS
        )
        warm, tables = epochs[:k], epochs[k:]
    inp = Inputs(
        f"{root}/warm", f"{root}/src", sum(t.num_rows for t in tables), len(tables),
        warm, tables, corpus,
    )
    for path, ts in ((inp.warm, warm), (inp.src, tables)):
        w = gen.FileWriter(path, len(ts))
        for t in ts:
            w.write(t)
    return inp


@dataclass
class Drain:
    """What one timed drain leaves for the metrics and the check."""

    wall_s: float
    progress: list  # StreamingQueryProgress dicts, data batches only
    out: str
    start_call_ms: float  # compile_rules_streaming / run_dedup_ingest wall
    error: str | None = None


def _schema(spec: Spec):
    from pyspark.sql import types as T

    if spec.kind == "detect":
        return T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
    return T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )


def _start_query(spark, spec: Spec, src: str, work: str, table: str):
    """Start the availableNow query over ``src``; returns (query, call ms)."""
    from stream_sentinel_spark.streaming import compile_rules_streaming, read_file_stream

    stream = read_file_stream(
        spark, src, _schema(spec),
        time_col="ts" if spec.kind == "detect" else None,
        watermark=spec.watermark, max_files_per_trigger=1,
    )
    t0 = time.perf_counter()
    if spec.kind == "detect":
        kw = {"backend": spec.backend} if spec.backend else {}
        alerts = compile_rules_streaming(
            stream, detect_rules(), key_field="user_id", time_col="ts",
            order_cols=("event_id",), **kw,
        )
        call_ms = (time.perf_counter() - t0) * 1e3
        q = (
            alerts.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        return q, call_ms
    from stream_sentinel_spark.streaming.ingest import run_dedup_ingest

    q = run_dedup_ingest(
        stream,
        checkpoint_location=f"{work}/ckpt",
        available_now=True,
        table=table,
        kind="minhash",
        id_col="doc_id",
        content_col="text",
        threshold=1.0,
        accepted_path=f"{work}/out",
        commit_log_dir=f"{work}/commits",
        compact_every=COMPACT_EVERY,
    )
    return q, (time.perf_counter() - t0) * 1e3


def run_stream(spark, spec: Spec, src: str, work: str, table: str = "") -> Drain:
    """Drain ``src`` once with a fresh checkpoint under ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.perf_counter()
    error = None
    q = None
    try:
        q, call_ms = _start_query(spark, spec, src, work, table)
        q.awaitTermination()
    except Exception:  # a failed drain is counted, not fatal
        error = traceback.format_exc()
        call_ms = 0.0
    wall = time.perf_counter() - t0
    progress = []
    if q is not None:
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return Drain(wall, progress, f"{work}/out", call_ms, error)


def build_index(spark, corpus: pa.Table, table: str) -> None:
    from stream_sentinel_spark.operators.dedup import build_minhash_index

    df = spark.createDataFrame(corpus.to_pandas(), schema=_schema(WORKLOADS["ingest-dedup"]))
    build_minhash_index(df, table, num_hashes=32, bands=8)


def setup(spark, spec: Spec, inp: Inputs, work: str, table: str) -> None:
    """The warm-up stream (for ingest, after building the index it runs
    against): the one-time costs a first micro-batch would otherwise
    carry. The ingest warm-up epochs are the stream's first epochs, so
    the timed drain continues on the index they grew."""
    t0 = time.perf_counter()
    if spec.kind == "ingest":
        build_index(spark, inp.corpus, table)
    t1 = time.perf_counter()
    d = run_stream(spark, spec, inp.warm, f"{work}/warm", table)
    print(f"setup: index {t1 - t0:.2f}s, warm-up stream {d.wall_s:.2f}s",
          file=sys.stderr, flush=True)
    if d.error:
        raise RuntimeError(f"warm-up stream failed: {d.error}")


def check(spark, spec: Spec, inp: Inputs, drain: Drain) -> bool:
    """True iff the drain's output equals the reference computation."""
    if drain.error:
        return False
    if spec.kind == "ingest":
        got = set()
        if os.path.isdir(drain.out):  # absent when nothing was accepted
            got = {r[0] for r in spark.read.parquet(drain.out).select("doc_id").collect()}
        ids = {i for t in inp.tables for i in t.column("doc_id").to_pylist()}
        want = gen.dedup_oracle(inp.corpus, inp.warm_tables + inp.tables) & ids
        return got == want
    from pyspark.sql import functions as F

    from stream_sentinel_spark.plans.pipeline import compile_rules

    events = spark.read.schema(_schema(spec)).parquet(inp.src).filter(
        F.col("user_id") != gen.SENTINEL_KEY
    )
    want = compile_rules(
        events, detect_rules(), key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    )
    got = spark.read.parquet(drain.out).filter(F.col("key") != str(gen.SENTINEL_KEY))
    return _fingerprint(want) == _fingerprint(got)


def _fingerprint(alerts) -> tuple:
    """(count, order-independent value hash) of an alert set."""
    from pyspark.sql import functions as F

    h = F.xxhash64(
        "rule_name", F.col("key").cast("string"), F.unix_micros("alert_ts"),
        "details", F.col("rule_index").cast("int"),
    ).cast("decimal(38,0)")
    row = alerts.agg(F.count(F.lit(1)), F.sum(h)).head()
    return int(row[0]), row[1]
