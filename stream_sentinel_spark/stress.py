"""Scale-stress families: each is a function ``(spark, scale) -> dict``
that runs one subsystem's operators on synthetic corpora, records walls
and counters, and asserts the claims the ``STRESS_*.json`` records make.

``tools/stress.py <family> --scale S`` runs one family under the
host-sized session and writes its record; ``tests/test_scale_stress.py``
runs every family at a small scale in the slow tier.

Scale 1 is the size the records were taken at; every size is linear in
``scale`` above a floor, and the floors that matter keep a regime
engaged at small scale (a hot cluster above the 256-row salting cutoff,
more churn keys than state buckets). Assertions on counts, recall and
row equality hold at every scale. Assertions that relate two timings
(growth ratios, per-epoch flatness) are claims about full scale and run
at ``scale >= 1`` only.

Families, by subsystem:

- ``dedup``: x19 MinHash pairs, x08 candidates, x61 cross pairs, salted
  self-join equivalence, x70 containment with its blocking/candidate
  decomposition.
- ``ann``: x07 sign-LSH cosine pairs and x20 IVF top-k.
- ``index``: persisted-index match vs the one-shot operators, append
  growth and compaction, the MinHash and LSH ingest loops, transitive
  intra-batch dedup, auto-sized LSH band keys.
- ``streaming``: arrival-order detection with and without idle-key TTL,
  event-time detection, and streaming session windows, at high key
  cardinality.
- ``upsert``: merge-on-read growth and compaction, schema evolution,
  the retention horizon, the change feed, its durable consumer and the
  maintained aggregate view.
- ``ops``: sequence packing, zone-map and bloom file skipping, BM25,
  the NB quality classifier and duplicated-span excision.
- ``sf1``: the heavy families together at an sf1-equivalent slice
  (150 k documents and vectors, 1 M events).
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import tempfile
import time
from functools import reduce

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from stream_sentinel_spark.operators.cdc import merge_latest
from stream_sentinel_spark.operators.curation import (
    excise_duplicated_spans,
    nb_quality_classifier,
    pack_fill_stats,
    pack_sequences,
    word_tokens,
)
from stream_sentinel_spark.operators.dedup import (
    _banded_keys,
    _containment_doc_sets,
    _containment_prefix_candidates,
    _hot_salted_self_join,
    append_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    containment_pairs,
    incremental_neardups,
    match_minhash_index,
    minhash_lsh_candidates,
    minhash_pairs_between,
    minhash_signatures,
    minhash_verified_pairs,
)
from stream_sentinel_spark.operators.indexing import bm25_topk
from stream_sentinel_spark.operators.similarity import (
    _auto_lsh_bits,
    _band_struct_expr,
    append_lsh_index,
    brute_force_topk,
    build_lsh_index,
    compact_lsh_index,
    cosine_pairs_lsh,
    cosine_pairs_lsh_incremental,
    index_candidates,
    ivf_assign,
    ivf_topk,
    ivf_train,
    lsh_signatures,
    match_lsh_index,
)
from stream_sentinel_spark.operators.windows import session_windows
from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
from stream_sentinel_spark.plans.pipeline import compile_rules
from stream_sentinel_spark.sources.batch import load_table
from stream_sentinel_spark.sources.bucketing import (
    table_num_buckets,
    write_bucketed,
)
from stream_sentinel_spark.sources.skipping import (
    file_bloom_maps,
    file_zone_maps,
    prune_files,
    prune_files_bloom,
    read_pruned,
    read_pruned_bloom,
    refresh_bloom_maps,
    refresh_zone_maps,
)
from stream_sentinel_spark.streaming import (
    compile_rules_streaming,
    read_file_stream,
)
from stream_sentinel_spark.streaming.ingest import (
    make_dedup_ingest_batch_fn,
    run_dedup_ingest,
)
from stream_sentinel_spark.streaming.sources import DEFAULT_WATERMARK
from stream_sentinel_spark.streaming.state import (
    N_STATE_BUCKETS,
    stateful_alerts_event_time,
)
from stream_sentinel_spark.streaming.upsert import (
    compact_upsert_log,
    follow_upsert_changes,
    maintain_agg_view,
    make_upsert_batch_fn,
    read_agg_view,
    read_consumer_offset,
    read_upsert_changes,
    read_upsert_history,
    read_upsert_snapshot,
)
from stream_sentinel_spark.testing import (
    make_skewed_corpus,
    make_skewed_embeddings,
)

#: the sf0.1 tables, under the same variable and default as bench.py
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
MINHASH_COLS = ("new_id", "n_matches", "best_jaccard", "first_match")
LSH_COLS = ("new_id", "n_matches", "best_cos", "first_match")
SENTINEL_KEY = -1


# ---- shared helpers --------------------------------------------------------


def _n(full: int, scale: float, floor: int = 1) -> int:
    """``full`` at scale 1, linear in ``scale``, never below ``floor``."""
    return max(floor, int(full * scale))


def _since(t0: float) -> float:
    return round(time.time() - t0, 2)


def _same_rows(a, b) -> bool:
    """Equal as multisets of rows (exceptAll both ways)."""
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _rows(df, cols) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _corpus(spark, scale, n_docs, hot, planted, *, hot_floor=8):
    hot, planted = _n(hot, scale, hot_floor), _n(planted, scale, 8)
    c = make_skewed_corpus(
        spark, n_docs=max(_n(n_docs, scale), hot + 2 * planted + 200),
        hot_cluster=hot, planted_pairs=planted,
    )
    return dataclasses.replace(c, docs=c.docs.localCheckpoint(eager=True))


def _embeddings(spark, scale, n_vecs, hot, planted, queries, **kw):
    hot, planted = _n(hot, scale, 8), _n(planted, scale, 8)
    e = make_skewed_embeddings(
        spark, n_vecs=max(_n(n_vecs, scale), hot + 2 * planted + 200),
        hot_cluster=hot, planted_pairs=planted,
        n_queries=_n(queries, scale, 20) if queries else 0, **kw,
    )
    return dataclasses.replace(
        e, vectors=e.vectors.localCheckpoint(eager=True),
        queries=e.queries.localCheckpoint(eager=True),
    )


@contextlib.contextmanager
def _conf(spark, settings: dict):
    """Session settings for one section, restored after it."""
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _sections(spark, scale, *sections) -> dict:
    """Run each ``section(spark, scale, out, root)`` with a fresh temp
    ``root``; ``out`` is the section's record. A failed assertion
    carries the record so far as ``exc.record``."""
    rec: dict = {}
    for fn in sections:
        name = fn.__name__.lstrip("_")
        out = rec[name] = {}
        root = tempfile.mkdtemp(prefix=f"ss_stress_{name}_")
        try:
            fn(spark, scale, out, root)
        except AssertionError as exc:
            exc.record = rec
            raise
        finally:
            shutil.rmtree(root, ignore_errors=True)
            print(f"{name}: {json.dumps(out, default=str)}", flush=True)
    return rec


def _dedup_ingest_loop(
    spark, root, *, table, kind, id_col, content_col, threshold, base,
    epochs, probe, build, match_cols, **loop_kw,
):
    """Build ``table`` over ``base``, stream ``epochs`` (one file each)
    through ``run_dedup_ingest``, and match ``probe`` against the grown
    index and against a from-scratch rebuild over base + everything the
    loop accepted. Returns (record, accepted frame)."""
    match = match_minhash_index if kind == "minhash" else match_lsh_index
    t0 = time.time()
    build(base, table)
    out = {"build_sec": _since(t0)}
    src = f"{root}/{table}_src"
    for frame in epochs:
        frame.coalesce(1).write.mode("append").parquet(src)
    stream = read_file_stream(
        spark, src, base.schema, time_col=None, watermark=None,
        max_files_per_trigger=1,
    )
    t0 = time.time()
    q = run_dedup_ingest(
        stream, checkpoint_location=f"{root}/{table}_ckpt", available_now=True,
        table=table, kind=kind, id_col=id_col, content_col=content_col,
        threshold=threshold, accepted_path=f"{root}/{table}_acc", **loop_kw,
    )
    q.awaitTermination()
    out["stream_sec"] = _since(t0)
    out["epoch_ms"] = [
        p["durationMs"].get("triggerExecution")
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p["numInputRows"] > 0
    ]
    accepted = spark.read.parquet(f"{root}/{table}_acc")
    got = _rows(match(spark, probe, table, threshold=threshold), match_cols)
    build(
        base.unionByName(accepted.drop("epoch")).localCheckpoint(eager=True),
        f"{table}_rb",
    )
    want = _rows(
        match(spark, probe, f"{table}_rb", threshold=threshold), match_cols
    )
    out["probe_rows"] = len(got)
    out["loop_equals_rebuild"] = got == want
    return out, accepted


def _replicated_events(spark, scale, src, sentinel_offsets_ms):
    """The sf0.1 events table (every ``1/scale``-th user below scale 1)
    as 10 copies with per-copy user/event id offsets and per-copy ts
    blocks, one file per copy in copy order, plus one sentinel file per
    offset past the global max ts to drain event-time buffers. Returns
    (source frame, pinned union of the copies)."""
    ev = load_table(spark, SF_DIR, "events")
    stride = max(1, round(1 / scale))
    if stride > 1:
        ev = ev.filter(F.col("user_id") % stride == 0)
    span_ms = ev.agg(
        (F.max(F.unix_millis("ts")) - F.min(F.unix_millis("ts")))
    ).head()[0] + 60_000

    def copy(k: int):
        return ev.select(
            (F.col("event_id") + F.lit(k * 100_000_000)).alias("event_id"),
            F.timestamp_millis(
                F.unix_millis("ts") + F.lit(int(k) * span_ms)
            ).alias("ts"),
            (F.col("user_id") + F.lit(k * 10_000_000)).alias("user_id"),
            "event_type", "value", "props",
        ).select(*ev.columns)

    big = reduce(
        lambda a, b: a.unionByName(b), [copy(k) for k in range(10)]
    ).localCheckpoint(eager=True)
    for k in range(10):
        copy(k).coalesce(1).write.mode("append").parquet(src)
    # enforce file order = copy order (maxFilesPerTrigger picks by mtime)
    files = sorted(
        (f for f in os.listdir(src) if f.startswith("part-")),
        key=lambda f: os.stat(f"{src}/{f}").st_mtime,
    )
    base_mt = time.time()
    for i, f in enumerate(files):
        os.utime(f"{src}/{f}", (base_mt, base_mt + 2.0 * i))
    max_ms = big.agg(F.max(F.unix_millis("ts"))).head()[0]
    for j, off in enumerate(sentinel_offsets_ms):
        before = set(os.listdir(src))
        spark.createDataFrame(
            [(-(j + 1), SENTINEL_KEY, "sentinel")],
            "event_id long, user_id long, event_type string",
        ).select(
            "event_id",
            F.timestamp_millis(F.lit(max_ms + off)).alias("ts"),
            "user_id", "event_type",
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).select(*ev.columns).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            os.utime(f"{src}/{f}",
                     (base_mt, base_mt + 2.0 * (len(files) + j + 1)))
    return ev, big


# ---- dedup -----------------------------------------------------------------

#: (n_docs, hot_cluster, planted_pairs) at scale 1: x19 runs the first
#: three, x70 all five (the 50k shape is shared)
_DEDUP_SHAPES = (
    (12_500, 500, 625),
    (25_000, 1_000, 1_250),
    (50_000, 2_000, 2_500),
    (100_000, 2_500, 5_000),
    (150_000, 3_000, 7_500),
)


def _near_dup_pairs(spark, scale, out, root):
    """x19 across three sizes (recall vs the analytic truth: hot-cluster
    pairs + planted pairs, random background cannot reach 0.8), x08 and
    x61 at the 50k shape, the salted self-join against the plain plan,
    and x70 across five sizes with its blocking and candidate counts.

    On this FIXED-vocab fixture every shingle's df scales with n_docs,
    so the containment candidate space tracks the pair space (~n²), not
    n log n: x70's wall is asserted against its own candidate growth,
    not as sublinear. x19 stays the sublinear path."""
    corpora = [_corpus(spark, scale, *shape) for shape in _DEDUP_SHAPES[:3]]
    out["scales"] = []
    for c in corpora:
        hot, planted = c.hot_ids[1], c.planted.count()
        t0 = time.time()
        v = minhash_verified_pairs(c.docs, "doc_id", "text", threshold=0.8)
        found = v.count()
        dt = time.time() - t0
        planted_hit = v.join(c.planted, ["a_id", "b_id"]).count()
        truth = hot * (hot - 1) // 2 + planted
        out["scales"].append({
            "n_docs": c.n_docs, "hot_cluster": hot, "planted_pairs": planted,
            "true_pairs": truth, "x19_pairs": found, "x19_sec": round(dt, 2),
            "x19_recall": round(found / truth, 6),
            "planted_recall": round(planted_hit / planted, 6),
        })
    s = out["scales"]
    out["x19_time_ratio_50k_over_12k"] = round(s[2]["x19_sec"] / s[0]["x19_sec"], 2)

    big = corpora[2]
    t0 = time.time()
    out["x08_candidates_50k"] = minhash_lsh_candidates(big.docs, "doc_id", "text").count()
    out["x08_sec_50k"] = _since(t0)

    # x61: 4/5 old x 1/5 new; only cross pairs, recall of the cross truth
    old = big.docs.filter(F.col("doc_id") % 5 != 0).localCheckpoint(eager=True)
    new = big.docs.filter(F.col("doc_id") % 5 == 0).localCheckpoint(eager=True)
    t0 = time.time()
    cross = minhash_pairs_between(old, new, "doc_id", "text", threshold=0.8)
    n_cross = cross.count()
    out["x61_sec_50k"] = _since(t0)
    # planted cross pairs: exactly one side lands in `new`
    planted_cross = big.planted.filter(
        (F.col("a_id") % 5 == 0) != (F.col("b_id") % 5 == 0)
    )
    n_planted_cross = planted_cross.count()
    norm = cross.select(
        F.least("a_id", "b_id").alias("a_id"), F.greatest("a_id", "b_id").alias("b_id")
    )
    hit_cross = norm.join(planted_cross, ["a_id", "b_id"]).count()
    hot_big = big.hot_ids[1]
    hot_new = len(range(0, hot_big, 5))
    cross_truth = hot_new * (hot_big - hot_new) + n_planted_cross
    out["x61_cross_pairs_50k"] = n_cross
    out["x61_cross_truth"] = cross_truth
    out["x61_cross_recall"] = round(n_cross / cross_truth, 6)
    out["x61_planted_cross_recall"] = round(hit_cross / n_planted_cross, 6)

    # salting may never add or lose a pair (the cutoff forces the salted
    # regime on the hot buckets at every scale)
    keyed = _banded_keys(minhash_signatures(big.docs, "doc_id", "text"), 64, 16)
    plain = (
        _hot_salted_self_join(keyed, ["band", "bucket"])
        .select("a_id", "b_id").distinct().localCheckpoint(eager=True)
    )
    t0 = time.time()
    salted = (
        _hot_salted_self_join(keyed, ["band", "bucket"], cutoff=_n(256, scale, 4))
        .select("a_id", "b_id").distinct().localCheckpoint(eager=True)
    )
    out["salted_sec_50k"] = _since(t0)
    only_plain = plain.join(salted, ["a_id", "b_id"], "left_anti").count()
    only_salted = salted.join(plain, ["a_id", "b_id"], "left_anti").count()
    out["salted_equal"] = only_plain == 0 and only_salted == 0
    out["salted_pairs"] = salted.count()

    # x70: rare-feature blocking excludes the hot cluster's shingles (the
    # vocabulary's most frequent), so C(hot,2) never reaches the join
    out["x70"] = []
    for i, shape in enumerate(_DEDUP_SHAPES):
        c = corpora[i] if i < 3 else _corpus(spark, scale, *shape)
        hot, planted = c.hot_ids[1], c.planted.count()
        row = {"n_docs": c.n_docs, "hot_cluster": hot, "planted": planted}
        t0 = time.time()
        cp = containment_pairs(
            c.docs, "doc_id", "text", n=3, threshold=0.9, rare_frac=0.2,
            min_size=5,
        ).localCheckpoint(eager=True)
        row["pairs"] = cp.count()
        row["sec"] = _since(t0)
        row["hot_pairs"] = cp.filter(
            (F.col("a_id") < hot) & (F.col("b_id") < hot)
        ).count()
        row["planted_hit"] = cp.join(c.planted, ["a_id", "b_id"]).count()
        t0 = time.time()
        doc_sets, pos = _containment_doc_sets(c.docs, "doc_id", "text", 3, 0.2, 5)
        mass = doc_sets.agg(
            F.count(F.lit(1)).alias("docs"), F.sum("sz").alias("mass")
        ).head()
        row["blocking_sec"] = _since(t0)
        row["rank_pos"] = pos
        row["blocked_docs"] = mass.docs
        row["blocked_mass"] = mass.mass
        t0 = time.time()
        row["candidates"] = _containment_prefix_candidates(doc_sets, 0.9).count()
        row["candidates_sec"] = _since(t0)
        out["x70"].append(row)
    x70 = out["x70"]
    out["x70_time_ratio_50k_over_12k"] = round(x70[2]["sec"] / x70[0]["sec"], 2)
    out["x70_wall_ratio_150k_over_50k"] = round(x70[4]["sec"] / x70[2]["sec"], 2)
    out["x70_candidate_ratio_150k_over_50k"] = round(
        x70[4]["candidates"] / max(x70[2]["candidates"], 1), 2
    )
    out["x70_mass_ratio_150k_over_50k"] = round(
        x70[4]["blocked_mass"] / max(x70[2]["blocked_mass"], 1), 2
    )

    assert all(r["planted_recall"] >= 0.99 for r in out["scales"])
    assert all(r["x19_recall"] >= 0.999 for r in out["scales"])
    assert out["x61_cross_recall"] >= 0.999
    assert out["salted_equal"]
    # blocking absorbs the hot cluster and planted coverage holds, at
    # the x19 sizes and at the x70 growth sizes
    assert all(r["hot_pairs"] <= r["n_docs"] // 250 for r in x70[:3])
    assert all(r["planted_hit"] >= 0.9 * r["planted"] for r in x70[:3])
    assert all(r["hot_pairs"] <= r["n_docs"] // 250 for r in x70[2:])
    assert all(r["planted_hit"] >= 0.9 * r["planted"] for r in x70[2:])
    if scale >= 1:
        assert out["x19_time_ratio_50k_over_12k"] < 8.0, "x19 must be sublinear in pairs"
        # bounded by the pair space (16x), not sublinear: see docstring
        assert out["x70_time_ratio_50k_over_12k"] < 16.0
        # the decomposition must explain the wall: it may not grow past
        # the candidate space by more than 2x
        assert (
            out["x70_wall_ratio_150k_over_50k"]
            <= 2.0 * max(out["x70_candidate_ratio_150k_over_50k"], 1.0)
        ), "wall grew past the candidate space — unexplained"


def dedup(spark, scale: float) -> dict:
    return _sections(spark, scale, _near_dup_pairs)


# ---- ann -------------------------------------------------------------------


def _lsh_pairs_and_ivf(spark, scale, out, root):
    """x07 (sign-LSH, bits=64 bands=8) at 20k vectors with a 1k hot
    cluster: recall vs the analytic truth (C(hot,2) + planted; the
    clustered background cannot reach 0.9). x20 (IVF, 64 cells, nprobe
    8) at 50k x 500 held-out queries: recall@5 vs brute force, training
    and query walls split (training is the amortized one-off)."""
    e20 = _embeddings(spark, scale, 20_000, 1_000, 1_000, 0)
    hot, planted = e20.hot_ids[1], e20.planted.count()
    truth = hot * (hot - 1) // 2 + planted
    t0 = time.time()
    pairs = cosine_pairs_lsh(
        e20.vectors, "vec_id", "embedding", threshold=0.9, bits=64, bands=8,
    ).localCheckpoint(eager=True)
    found = pairs.count()
    out["x07_sec_20k"] = _since(t0)
    planted_hit = pairs.join(e20.planted, ["a_id", "b_id"]).count()
    out["x07_pairs_20k"] = found
    out["x07_truth_20k"] = truth
    out["x07_recall_20k"] = round(found / truth, 6)
    out["x07_planted_recall"] = round(planted_hit / planted, 6)
    min_cos = pairs.agg(F.min("cos")).first()[0]  # None iff zero pairs:
    # a recall collapse then fails on the recall assertion
    out["x07_min_found_cos"] = round(min_cos, 6) if min_cos is not None else None
    out["x07_min_true_cos_floor"] = round(e20.min_true_cos, 6)

    e50 = _embeddings(spark, scale, 50_000, 5_000, 1_000, 500)
    t0 = time.time()
    exact = brute_force_topk(
        e50.vectors, e50.queries, "vec_id", "embedding", k=5
    ).localCheckpoint(eager=True)
    out["exact_topk_sec_50k"] = _since(t0)
    t0 = time.time()
    centroids = ivf_train(e50.vectors, "vec_id", "embedding", n_cells=64, iters=3)
    out["x20_train_sec_50k"] = _since(t0)
    t0 = time.time()
    approx = ivf_topk(
        e50.vectors, e50.queries, "vec_id", "embedding",
        k=5, n_cells=64, nprobe=8, centroids=centroids,
    ).localCheckpoint(eager=True)
    out["x20_query_sec_50k"] = _since(t0)
    sizes = [
        r["n"] for r in ivf_assign(e50.vectors, centroids, "vec_id", "embedding")
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    out["x20_hot_cell_rows"] = max(sizes)
    out["x20_cells_used"] = len(sizes)
    n_exact = exact.count()
    overlap = approx.select("q_id", "n_id").join(
        exact.select("q_id", "n_id"), ["q_id", "n_id"]
    ).count()
    out["x20_recall_at_5"] = round(overlap / n_exact, 6)

    assert found <= truth, "exact verification can never exceed truth"
    assert out["x07_recall_20k"] >= 0.98, "x07 LSH recall floor"
    assert out["x07_planted_recall"] >= 0.99
    assert out["x07_min_found_cos"] >= 0.9, "threshold honored"
    assert out["x20_recall_at_5"] >= 0.9, "IVF recall floor at nprobe=8/64"


def ann(spark, scale: float) -> dict:
    return _sections(spark, scale, _lsh_pairs_and_ivf)


# ---- index -----------------------------------------------------------------


def _match_vs_oneshot(spark, scale, out, root):
    """The persisted index's per-batch match against the one-shot
    incremental operator (which re-derives the corpus side every batch):
    40k old x 10k new docs and 16k x 4k vectors, split on id % 5 so the
    hot cluster and planted pairs straddle the frames. Rows must be
    identical; build, best-of-3 match and one-shot walls recorded."""
    docs = _corpus(spark, scale, 50_000, 2_000, 2_500).docs
    vecs = _embeddings(spark, scale, 20_000, 1_000, 1_000, 0).vectors
    for tag, frame, id_col, build, match, oneshot, cols in (
        ("minhash", docs, "doc_id",
         lambda df, t: build_minhash_index(df, t, num_hashes=32, bands=8),
         lambda df, t: match_minhash_index(spark, df, t, threshold=0.8),
         lambda o, n: incremental_neardups(
             o, n, "doc_id", "text", num_hashes=32, bands=8, threshold=0.8),
         MINHASH_COLS),
        ("lsh", vecs, "vec_id",
         lambda df, t: build_lsh_index(df, t, bits=64, bands=8),
         lambda df, t: match_lsh_index(spark, df, t, threshold=0.9),
         lambda o, n: cosine_pairs_lsh_incremental(
             o, n, "vec_id", "embedding", threshold=0.9, bits=64, bands=8),
         LSH_COLS),
    ):
        old = frame.filter(F.col(id_col) % 5 != 0)
        new = frame.filter(F.col(id_col) % 5 == 0)
        t0 = time.time()
        build(old, f"sx_{tag}")
        out[f"{tag}_build_sec"] = _since(t0)
        best = None
        for _ in range(3):
            t0 = time.time()
            got = _rows(match(new, f"sx_{tag}"), cols)
            best = min(best or 1e9, time.time() - t0)
        out[f"{tag}_match_sec"] = round(best, 2)
        t0 = time.time()
        want = _rows(oneshot(old, new), cols)
        out[f"{tag}_oneshot_sec"] = _since(t0)
        out[f"{tag}_rows"] = len(got)
        out[f"{tag}_match_equals_oneshot"] = got == want
    assert out["minhash_match_equals_oneshot"], "minhash match must be exact"
    assert out["lsh_match_equals_oneshot"], "lsh match must be exact"
    assert out["minhash_rows"] > 0 and out["lsh_rows"] > 0, "non-vacuous"


def _append_growth(spark, scale, out, root):
    """Build on a base slice, then 4 rounds of append + match a fixed
    probe while the index grows ~3x; N appends must equal one rebuild,
    compaction must keep the probe bit-identical while collapsing the
    file count. Append cost is O(batch) by construction; match cost may
    grow with accumulated files between compactions but not as fast as
    the index."""
    n_appends = 4
    docs = _corpus(spark, scale, 40_000, 2_000, 2_500).docs
    vecs = _embeddings(spark, scale, 20_000, 1_000, 1_000, 0).vectors
    for tag, frame, id_col, build, append, match, cols, row_suffix, compact in (
        ("minhash", docs, "doc_id",
         lambda df, t: build_minhash_index(df, t, num_hashes=32, bands=8),
         append_minhash_index,
         lambda df, t: match_minhash_index(spark, df, t, threshold=0.8),
         MINHASH_COLS, "_verify", compact_minhash_index),
        ("lsh", vecs, "vec_id",
         lambda df, t: build_lsh_index(df, t, bits=64, bands=8),
         append_lsh_index,
         lambda df, t: match_lsh_index(spark, df, t, threshold=0.9),
         LSH_COLS, "_vecs", compact_lsh_index),
    ):
        table = f"apx_{tag}"
        m = F.col(id_col) % 8
        base, probe = frame.filter(m < 2), frame.filter(m == 7)
        t0 = time.time()
        build(base, table)
        o = out[tag] = {
            "build_sec": _since(t0), "append_sec": [], "match_sec": [],
            "index_rows": [],
        }
        for r in range(n_appends):
            t0 = time.time()
            append(frame.filter(m == 2 + r), table)
            o["append_sec"].append(_since(t0))
            t0 = time.time()
            got = _rows(match(probe, table), cols)
            o["match_sec"].append(_since(t0))
            o["index_rows"].append(spark.table(f"{table}{row_suffix}").count())
        build(frame.filter(m < 2 + n_appends), f"{table}_rebuilt")
        want = _rows(match(probe, f"{table}_rebuilt"), cols)
        o["match_rows"] = len(got)
        o["append_equals_rebuild"] = got == want
        o["files_before_compact"] = len(spark.table(f"{table}_bands").inputFiles())
        t0 = time.time()
        compact(spark, table)
        o["compact_sec"] = _since(t0)
        o["files_after_compact"] = len(spark.table(f"{table}_bands").inputFiles())
        t0 = time.time()
        got_c = _rows(match(probe, table), cols)
        o["match_after_compact_sec"] = _since(t0)
        o["compact_preserves_match"] = got_c == got
        growth = o["index_rows"][-1] / o["index_rows"][0]
        o["index_growth"] = round(growth, 2)
        o["append_ratio_last_over_first"] = round(
            o["append_sec"][-1] / max(o["append_sec"][0], 0.01), 2
        )
        o["match_ratio_last_over_first"] = round(
            o["match_sec"][-1] / max(o["match_sec"][0], 0.01), 2
        )
        assert o["compact_preserves_match"], f"{tag}: compaction drifted"
        assert o["files_after_compact"] < o["files_before_compact"]
        assert o["append_equals_rebuild"], f"{tag}: append drifted from rebuild"
        assert o["match_rows"] > 0, f"{tag}: vacuous probe"
        if scale >= 1:
            assert o["append_ratio_last_over_first"] < 2.5, (
                f"{tag}: append cost grew with index size"
            )
            assert o["match_ratio_last_over_first"] < growth, (
                f"{tag}: match cost grew as fast as the index itself"
            )


def _minhash_ingest(spark, scale, out, root):
    """run_dedup_ingest over 6 epochs of 5k docs onto a 5k-doc base
    index (compact_every=3): the loop's final index answers a
    never-streamed probe exactly like a batch rebuild, duplicates are
    diverted, and per-epoch wall (excluding the init epoch) stays flat
    while the index grows."""
    docs = _corpus(spark, scale, 40_000, 2_000, 2_500).docs
    m = F.col("doc_id") % 8
    loop, accepted = _dedup_ingest_loop(
        spark, root, table="ing_sx", kind="minhash", id_col="doc_id",
        content_col="text", threshold=0.8, base=docs.filter(m < 1),
        epochs=[docs.filter(m == 1 + e) for e in range(6)],
        probe=docs.filter(m == 7),
        build=lambda df, t: build_minhash_index(df, t, num_hashes=32, bands=8),
        match_cols=MINHASH_COLS, matches_path=f"{root}/matches",
        compact_every=3,
    )
    out.update(loop)

    def per_epoch(df):
        return [
            r["count"] for r in df.groupBy("epoch").count().orderBy("epoch").collect()
        ]

    out["accepted_per_epoch"] = per_epoch(accepted)
    out["duplicates_per_epoch"] = per_epoch(spark.read.parquet(f"{root}/matches"))
    out["index_rows"] = spark.table("ing_sx_verify").count()
    out["index_files"] = len(spark.table("ing_sx_bands").inputFiles())
    durs = out["epoch_ms"]
    out["epoch_flatness_max_over_min_excl_first"] = round(
        max(durs[1:]) / max(min(durs[1:]), 1), 2
    )
    assert out["loop_equals_rebuild"], "ingest loop drifted from batch rebuild"
    assert out["probe_rows"] > 0 and sum(out["duplicates_per_epoch"]) > 0
    if scale >= 1:
        assert out["epoch_flatness_max_over_min_excl_first"] < 2.5


def _transitive_within_batch(spark, scale, out, root):
    """Transitive intra-batch dedup at 5k md5-segment chains (15k docs)
    in ONE batch through the real foreachBatch body: consecutive chain
    positions share ~0.5 trigram Jaccard, distance-2 ~0.2, background
    ~0.003; width-1 bands (num_hashes=32, bands=32) put the per-pair
    miss probability at 0.5^32. The closed form must hold exactly:
    positions {0, 2} accepted, 1 diverted, matched only by its accepted
    predecessor."""
    n_chains = _n(5_000, scale, 50)
    chains = spark.range(n_chains).select(F.col("id").alias("ck"))

    def seg(i):
        def h(tag):
            return F.md5(F.concat(F.lit(tag), F.col("ck").cast("string"),
                                  F.lit(":"), F.lit(str(i))))

        return F.concat(
            h("r08s"),
            F.translate(h("r08t"), "0123456789abcdef", "ghijklmnopqrstuv"),
        )

    docs = reduce(lambda a, b: a.unionByName(b), [
        chains.select(
            (F.col("ck") * 4 + p).alias("doc_id"),
            F.concat(seg(p), seg(p + 1), seg(p + 2)).alias("text"),
        )
        for p in (0, 1, 2)
    ]).localCheckpoint(eager=True)
    seed = spark.range(1).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.concat(
            F.md5(F.lit("r08seed:a")),
            F.translate(F.md5(F.lit("r08seed:b")),
                        "0123456789abcdef", "ghijklmnopqrstuv"),
            F.md5(F.lit("r08seed:c")),
        ).alias("text"),
    )
    build_minhash_index(seed, "r08_tr", num_hashes=32, bands=32)
    fn = make_dedup_ingest_batch_fn(
        table="r08_tr", kind="minhash", id_col="doc_id", content_col="text",
        threshold=0.35, accepted_path=f"{root}/acc",
        matches_path=f"{root}/match", dedup_within_batch="transitive",
    )
    t0 = time.time()
    fn(docs, 0)
    out["tr_batch_sec"] = _since(t0)
    acc = spark.read.parquet(f"{root}/acc")
    div = spark.read.parquet(f"{root}/match").filter(F.col("within_batch"))
    out["tr_docs"] = n_chains * 3
    out["tr_accepted"] = acc.count()
    out["tr_diverted"] = div.count()
    ok_positions = (
        acc.filter((F.col("doc_id") % 4) == 1).count() == 0
        and div.filter((F.col("new_id") % 4) != 1).count() == 0
        and div.filter(
            (F.col("n_matches") != 1)
            | (F.col("first_match") != F.col("new_id") - 1)
        ).count() == 0
    )
    out["tr_closed_form_exact"] = ok_positions
    t0 = time.time()
    out["tr_verified_pairs"] = minhash_verified_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=32, threshold=0.35
    ).count()
    out["tr_verified_pairs_sec"] = _since(t0)
    assert out["tr_accepted"] == 2 * n_chains
    assert out["tr_diverted"] == n_chains
    assert ok_positions
    assert out["tr_verified_pairs"] == 2 * n_chains


def _lsh_ingest(spark, scale, out, root):
    """The embedding ingest loop (kind="lsh") at 100k clustered vectors:
    a 25k base index + 2 epochs x 25k, loop ≡ batch rebuild on a probe.

    At the default index width (bits=16, bands=4: 4-bit band keys) a
    clustered corpus collides whole clusters into single band buckets,
    and candidate volume goes quadratic in the cluster sizes (first
    measured: 163M candidates, 12 min per epoch). 8-bit band keys
    (bits=32) keep near-identical vectors colliding while background
    clusters stop colliding: the width must cut candidates severalfold,
    and the loop runs at that width."""
    vecs = _embeddings(spark, scale, 100_000, 10_000, 1_000, 100).vectors
    m = F.col("vec_id") % 4
    base = vecs.filter(m == 0)
    for tag, bits in (("default_b16", 16), ("wide_b32", 32)):
        t0 = time.time()
        build_lsh_index(base, f"no_cand_{tag}", bits=bits)
        out[f"x96_build_{tag}_sec"] = _since(t0)
        t0 = time.time()
        out[f"x96_candidates_{tag}"] = index_candidates(
            spark, vecs.filter(m == 1), f"no_cand_{tag}", "vec_id", "embedding",
        ).count()
        out[f"x96_candidates_{tag}_sec"] = _since(t0)
    out["x96_candidate_ratio"] = round(
        out["x96_candidates_default_b16"] / max(out["x96_candidates_wide_b32"], 1), 1
    )
    loop, accepted = _dedup_ingest_loop(
        spark, root, table="no_lsh_ing", kind="lsh", id_col="vec_id",
        content_col="embedding", threshold=0.9, base=base,
        epochs=[vecs.filter(m == 1), vecs.filter(m == 2)],
        probe=vecs.filter(m == 3),
        build=lambda df, t: build_lsh_index(df, t, bits=32),
        match_cols=LSH_COLS, commit_log_dir=f"{root}/commits",
    )
    out.update({f"x96_{k}": v for k, v in loop.items()})
    out["x96_accepted"] = accepted.count()
    durs = out["x96_epoch_ms"]
    out["x96_flatness_excl_first"] = (
        round(max(durs[1:]) / max(min(durs[1:]), 1), 2) if len(durs) > 2 else 1.0
    )
    assert out["x96_loop_equals_rebuild"]
    assert out["x96_probe_rows"] > 0
    # first run measured 7.8x candidates, 10.7x candidate-stage wall
    assert out["x96_candidate_ratio"] > 5, out["x96_candidate_ratio"]
    if scale >= 1:
        assert out["x96_flatness_excl_first"] < 2.5


def _auto_sized_index(spark, scale, out, root):
    """``_auto_lsh_bits`` on 200k clustered vectors (10% hot cluster)
    with a hottest-bucket bound of half the hot cluster: the probe must
    walk past the 4-bit default to >= 8-bit band keys. Per-width
    hottest-bucket occupancy and the probe wall recorded."""
    vecs = _embeddings(spark, scale, 200_000, 20_000, 5_000, 100).vectors
    out["trials"] = {}
    for bits in (16, 32, 64):
        t0 = time.time()
        sig = lsh_signatures(vecs, "vec_id", "embedding", bits, 64, 42)
        hottest = (
            sig.select(F.explode(_band_struct_expr(bits, 4)).alias("bb"))
            .groupBy("bb.band", "bb.val")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .head()[0]
        )
        out["trials"][bits] = {"hottest": int(hottest), "sec": _since(t0)}
    t0 = time.time()
    chosen = _auto_lsh_bits(
        vecs, "vec_id", "embedding", 4, 64, 42, _n(10_000, scale, 4)
    )
    out["probe_sec"] = _since(t0)
    out["chosen_bits"] = int(chosen)
    assert chosen >= 32, out


def index(spark, scale: float) -> dict:
    return _sections(
        spark, scale, _match_vs_oneshot, _append_growth, _minhash_ingest,
        _transitive_within_batch, _lsh_ingest, _auto_sized_index,
    )


# ---- streaming -------------------------------------------------------------


class _ProgressCapture(StreamingQueryListener):
    """Each micro-batch's raw progress JSON (stateOperators carries
    numRowsTotal straight from the engine)."""

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


_CHURN_SHARE = 64  # 1 of every _CHURN_SHARE rows goes to a hot key
_N_BATCHES = 6


def _churn_stream_files(spark, src: str, n_events: int) -> None:
    """6 parquet files in batch order, ts advancing 1 s per event. Key:
    hot (recurring, fires threshold+rate) for 1/_CHURN_SHARE of rows,
    else a row-unique churn key seen exactly once. One hot key per 3 000
    events (100 at 300k), so each recurs ~47 times at any size. The hot
    index cycles through the hot-row SEQUENCE (id // _CHURN_SHARE), not
    the raw id: ``id % hot_keys`` over multiples of 64 would alias to
    gcd(64, hot_keys) residues and silently shrink the hot set."""
    per_batch, hot_keys = n_events // _N_BATCHES, max(1, n_events // 3_000)
    base = spark.range(n_events).select(
        F.col("id"),
        F.concat(F.lit("e"), F.col("id")).alias("event_id"),
        F.when(
            F.col("id") % _CHURN_SHARE == 0,
            F.concat(
                F.lit("hot"), ((F.col("id") / _CHURN_SHARE).cast("long") % hot_keys)
            ).cast("string"),
        )
        .otherwise(F.concat(F.lit("churn"), F.col("id")))
        .alias("user_id"),
        F.when(F.col("id") % _CHURN_SHARE == 0, 900.0)
        .otherwise((F.col("id") % 100).cast("double"))
        .alias("value"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * F.lit(1_000_000)
        ).alias("ts"),
    )
    for b in range(_N_BATCHES):
        (
            base.filter(
                (F.col("id") >= b * per_batch) & (F.col("id") < (b + 1) * per_batch)
            )
            .drop("id").coalesce(1).write.mode("append").parquet(src)
        )


def _run_to_memory(spark, alerts, name, ckpt, cap, drain_rows=None):
    """Start ``alerts`` into memory table ``name``. With ``drain_rows``
    the query runs on the default trigger and stops once that many rows
    were processed and three empty batches serviced the evictions
    (ProcessingTime timeouts keep availableNow from terminating)."""
    writer = (
        alerts.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
    )
    if drain_rows is None:
        writer.trigger(availableNow=True).start().awaitTermination()
        return
    q = writer.start()
    deadline = time.time() + 600
    while time.time() < deadline:
        time.sleep(0.5)
        done = [p for p in cap.progress if p.get("numInputRows")]
        tail = cap.progress[len(cap.progress) - 3:]
        if (
            sum(p["numInputRows"] for p in done) >= drain_rows
            and len(tail) == 3
            and all(not p.get("numInputRows") for p in tail)
        ):
            break
    q.stop()
    q.awaitTermination()


def _state_and_alerts(spark, scale, out, root):
    """300k events over ~295k distinct keys (a churn-shaped stream: most
    keys appear once, 100 hot keys at scale 1 recur and fire) through the 3-rule
    pipeline on RocksDB, in three runs:

    - arrival order, no TTL: state rows are bounded by the hash-bucket
      count, not by the keys ever seen;
    - arrival order with the idle-key TTL: churned keys are evicted and
      idle buckets dropped, so final state collapses, with an IDENTICAL
      alert stream (the churn keys fire nothing);
    - event time (5 s watermark; a far-future sentinel file flushes the
      tail): hot keys fire, state rows bounded by the bucket count."""
    # floor: more churn keys than state buckets
    n_events = _n(300_000, scale, 12_000)
    src = f"{root}/src"
    _churn_stream_files(spark, src, n_events)
    schema = spark.read.parquet(src).schema
    total_keys = spark.read.parquet(src).select("user_id").distinct().count()
    out.update(n_events=n_events, n_distinct_keys=total_keys, n_buckets=N_STATE_BUCKETS)

    def run(name, ttl_ms=None, watermark=None):
        cap = _ProgressCapture()
        spark.streams.addListener(cap)
        try:
            stream = read_file_stream(
                spark, src, schema, time_col="ts", watermark=watermark,
                max_files_per_trigger=1,
            )
            if watermark is None:
                alerts = compile_rules_streaming(
                    stream, DEFAULT_RULES, key_field="user_id", time_col="ts",
                    order_cols=("event_id",), state_ttl_ms=ttl_ms,
                )
            else:
                alerts = stateful_alerts_event_time(
                    stream, [r for r in DEFAULT_RULES if r.type != "threshold"],
                    key_field="user_id", time_col="ts", order_cols=("event_id",),
                )
            t0 = time.perf_counter()
            _run_to_memory(
                spark, alerts, name, f"{root}/ckpt_{name}", cap,
                drain_rows=n_events if ttl_ms else None,
            )
            wall = time.perf_counter() - t0
            # listener delivery is async
            deadline = time.time() + 15
            while time.time() < deadline and len(cap.progress) < _N_BATCHES:
                time.sleep(0.25)
        finally:
            spark.streams.removeListener(cap)
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in cap.progress if p.get("stateOperators")
        ]
        batch_ms = sorted(p["batchDuration"] for p in cap.progress if "batchDuration" in p)
        # throughput over the DATA batches only: the TTL run's wall
        # includes the drain-poll wait
        data_ms = sum(p["batchDuration"] for p in cap.progress if p.get("numInputRows"))
        rec = {
            "wall_sec": round(wall, 2),
            "events_per_sec": round(n_events / (data_ms / 1000.0), 1) if data_ms else None,
            "n_batches": len(cap.progress),
            "batch_ms_p50": batch_ms[len(batch_ms) // 2] if batch_ms else None,
            "batch_ms_max": batch_ms[-1] if batch_ms else None,
            "state_rows_final": state_rows[-1] if state_rows else None,
            "state_rows_max": max(state_rows) if state_rows else None,
        }
        alerts = sorted(
            (r["rule_name"], r["key"], str(r["alert_ts"]), r["details"])
            for r in spark.table(name).collect() if r["key"] != "sentinel_user"
        )
        return rec, alerts

    with _conf(spark, {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
        "spark.sql.shuffle.partitions": "8",
    }):
        out["no_ttl"], no_ttl = run("stress_nottl")
        out["with_ttl"], with_ttl = run("stress_ttl", ttl_ms=1)
        spark.range(1).select(
            F.lit("sentinel").alias("event_id"),
            F.lit("sentinel_user").alias("user_id"),
            F.lit(0.0).alias("value"),  # fires nothing
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000 + (n_events + 10_000) * 1_000_000)
            ).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)
        out["event_time"], evt = run("evt_stress", watermark="5 seconds")
    out["alert_parity"] = no_ttl == with_ttl
    out["n_alerts"] = len(no_ttl)
    out["n_event_time_alerts"] = len(evt)

    assert out["alert_parity"], "TTL must not change the alert stream"
    assert out["n_alerts"] > 0, "hot keys must actually fire"
    # state rows = BUCKETS, not keys
    assert out["no_ttl"]["state_rows_final"] <= N_STATE_BUCKETS < total_keys, (
        f"state rows {out['no_ttl']['state_rows_final']} exceed the bucket count"
    )
    assert out["with_ttl"]["state_rows_final"] < 0.35 * out["no_ttl"]["state_rows_final"], (
        f"TTL state {out['with_ttl']['state_rows_final']} not bounded vs "
        f"{out['no_ttl']['state_rows_final']}"
    )
    assert out["n_event_time_alerts"] > 0, "hot keys must actually fire"
    # bounded by the bucket count (+1 operator row slack), not by the
    # keys with pending rows
    assert out["event_time"]["state_rows_max"] <= N_STATE_BUCKETS + 1


def _session_windows(spark, scale, out, root):
    """x93 streaming session windows (1 h gap, 5 s watermark) over the
    events table replicated 10x (1M events at scale 1) in 10+
    micro-batches: append-mode emission must equal the batch
    session_window plan exactly."""
    src = f"{root}/ev_src"
    # gap (1 h) + delay (5 s) + margin; the second sentinel carries the
    # first's watermark into effect
    ev, big = _replicated_events(spark, scale, src, (3_700_000, 3_710_000))
    out["x93_events"] = big.count()
    out["x93_keys"] = big.select("user_id").distinct().count()
    stream = (
        read_file_stream(
            spark, src, ev.schema, time_col="ts", watermark=None,
            max_files_per_trigger=1,
        )
        .withColumn("ts_ms", F.timestamp_millis(F.unix_millis("ts")))
        .withWatermark("ts_ms", "5 seconds")
    )
    key = F.coalesce(F.col("user_id").cast("string"), F.lit("__unknown__"))
    t0 = time.time()
    (
        session_windows(stream, key, "ts_ms", "1 hour").writeStream
        .format("parquet").option("path", f"{root}/sessions")
        .option("checkpointLocation", f"{root}/sess_ckpt")
        .outputMode("append").trigger(availableNow=True).start()
        .awaitTermination()
    )
    wall = time.time() - t0
    streamed = spark.read.parquet(f"{root}/sessions").localCheckpoint(eager=True)
    expected = session_windows(
        big.withColumn("ts_ms", F.timestamp_millis(F.unix_millis("ts"))),
        key, "ts_ms", "1 hour",
    ).localCheckpoint(eager=True)
    out["x93_sec"] = round(wall, 2)
    out["x93_eps"] = int(out["x93_events"] / wall)
    out["x93_sessions"] = streamed.count()
    out["x93_batch_sessions"] = expected.count()
    out["x93_parity"] = _same_rows(streamed, expected)
    assert out["x93_parity"]
    assert out["x93_sessions"] == out["x93_batch_sessions"]


def streaming(spark, scale: float) -> dict:
    return _sections(spark, scale, _state_and_alerts, _session_windows)


# ---- upsert ----------------------------------------------------------------


def _key_changes(spark, n, upd, e):
    """Epoch 0 inserts every key at seq 0; epoch e > 0 updates ``upd``
    keys ``(id * 7 + e) % n`` at seq e."""
    if e == 0:
        return spark.range(n).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("seq"),
            F.lit("U").alias("op"),
            F.concat(F.lit("e0:"), F.col("id").cast("string")).alias("val"),
        )
    return spark.range(upd).select(
        ((F.col("id") * 7 + e) % n).alias("k"),
        F.lit(e).cast("long").alias("seq"), F.lit("U").alias("op"),
        F.concat(F.lit(f"e{e}:"), F.col("id").cast("string")).alias("val"),
    )


def _merge_on_read(spark, scale, out, root):
    """1M-key insert epoch, then 8 epochs of 125k changes (the SAME hot
    12.5% of keys every epoch: maximal superseded-version pileup, plus a
    delete/re-insert stripe) through make_upsert_batch_fn with a commit
    log. After each epoch the snapshot must equal cdc.merge_latest over
    the history so far; append cost stays O(batch) while snapshot reads
    drift with accumulated log rows + files, and compact_upsert_log
    resets the log to the live rows with the snapshot unchanged."""
    n_keys, epochs, table = _n(1_000_000, scale, 1_000), 8, "upstress"

    def changes(ep):
        base = spark.range(n_keys)
        if ep == 0:
            return base.select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("seq"),
                F.lit("U").alias("op"),
                (F.col("id") % 1000).cast("double").alias("val"),
            )
        hot = base.filter(F.col("id") % 8 == 1).select(
            F.col("id").alias("k"), F.lit(ep).cast("long").alias("seq"),
            F.lit("U").alias("op"),
            (F.col("id") % 1000 + ep).cast("double").alias("val"),
        )
        dels = base.filter(
            (F.col("id") % 8 == 2) & (F.col("id") % epochs == ep % epochs)
        ).select(
            F.col("id").alias("k"), F.lit(ep).cast("long").alias("seq"),
            F.lit("D").alias("op"), F.lit(None).cast("double").alias("val"),
        )
        reins = base.filter(
            (F.col("id") % 8 == 2) & (F.col("id") % epochs == (ep - 1) % epochs)
        ).select(
            F.col("id").alias("k"), F.lit(ep).cast("long").alias("seq"),
            F.lit("U").alias("op"), F.lit(float(ep)).alias("val"),
        )
        return hot.unionByName(dels).unionByName(reins)

    fn = make_upsert_batch_fn(
        table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        num_buckets=32, commit_log_dir=f"{root}/commits",
    )

    def snapshot():
        return read_upsert_snapshot(
            spark, table, ["k"], ["seq"], op_col="op"
        ).localCheckpoint(eager=True)

    out["per_epoch"] = []
    history = None
    for ep in range(epochs + 1):
        ch = changes(ep).localCheckpoint(eager=True)
        history = ch if history is None else history.unionByName(ch)
        t0 = time.time()
        fn(ch, ep)
        entry = {"epoch": ep, "changes": ch.count(), "append_sec": _since(t0)}
        t0 = time.time()
        snap = snapshot()
        entry["live_keys"] = snap.count()
        entry["snapshot_sec"] = _since(t0)
        log_tbl = spark.table(f"{table}_log")
        entry["log_rows"] = log_tbl.count()
        entry["log_files"] = len(log_tbl.inputFiles())
        got = snap.select("k", "seq", "op", "val")
        want = merge_latest(history, ["k"], ["seq"], op_col="op").select(
            "k", "seq", "op", "val"
        )
        entry["snapshot_equals_batch_twin"] = _same_rows(got, want)
        out["per_epoch"].append(entry)
    before = snapshot()
    t0 = time.time()
    out["compact_files"] = compact_upsert_log(spark, table, ["k"], ["seq"], op_col="op")
    out["compact_sec"] = _since(t0)
    t0 = time.time()
    after = snapshot()
    out["snapshot_sec_after_compact"] = _since(t0)
    out["log_rows_after_compact"] = spark.table(f"{table}_log").count()
    out["compact_preserves_snapshot"] = _same_rows(before, after)
    assert all(e["snapshot_equals_batch_twin"] for e in out["per_epoch"])
    assert out["compact_preserves_snapshot"]
    # the log never loses committed rows; compaction resets rows to live
    assert out["log_rows_after_compact"] == out["per_epoch"][-1]["live_keys"]
    if scale >= 1:
        # the 8 update epochs write the same-size batches: their append
        # walls must not trend with the accumulated log
        appends = [e["append_sec"] for e in out["per_epoch"][1:]]
        assert max(appends) / max(min(appends), 0.01) < 3.0, appends


def _schema_evolution(spark, scale, out, root):
    """1M v1 change rows, then a WIDENED epoch (+status) of 100k
    superseding updates through the same batch fn (evolve_schema=True):
    pre-evolution rows read the new column as NULL, the snapshot equals
    the batch twin over both generations, and the widened append is
    O(batch), not O(log)."""
    n, upd = _n(1_000_000, scale, 1_000), _n(100_000, scale, 100)
    e0 = spark.range(n).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
    )
    e1 = spark.range(upd).select(
        (F.col("id") * 10).alias("k"), F.lit(2).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("val"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("status"),
    )
    fn = make_upsert_batch_fn(
        table="r08_evo", key_cols=["k"], seq_cols=["seq"], op_col="op",
        evolve_schema=True,
    )
    t0 = time.time()
    fn(e0, 0)
    out["evo_build_1m_sec"] = _since(t0)
    t0 = time.time()
    fn(e1, 1)
    out["evo_widened_append_100k_sec"] = _since(t0)
    snap = read_upsert_snapshot(spark, "r08_evo", ["k"], ["seq"], op_col="op")
    twin = merge_latest(
        e0.withColumn("status", F.lit(None).cast("string")).unionByName(e1),
        ["k"], ["seq"], op_col="op",
    )
    s = snap.select("k", "seq", "val", "status")
    t = twin.select("k", "seq", "val", "status")
    out["evo_snapshot_equals_twin"] = _same_rows(s, t)
    out["evo_null_backfilled_rows"] = snap.filter(F.col("status").isNull()).count()
    assert out["evo_snapshot_equals_twin"]
    assert out["evo_null_backfilled_rows"] == n - upd
    if scale >= 1:
        assert out["evo_widened_append_100k_sec"] < out["evo_build_1m_sec"]


def _retention_horizon(spark, scale, out, root):
    """1M keys, 9 epochs of 100k updates (seq = epoch), then
    compact_upsert_log(keep_since=5): the snapshot is unchanged, as-of
    reads at 5 and 7 equal latest-per-key over the raw changes with
    seq <= point, and the log keeps exactly live keys + post-horizon
    versions."""
    n, upd, epochs, table = _n(1_000_000, scale, 1_000), _n(100_000, scale, 100), 9, "r08_ret"
    fn = make_upsert_batch_fn(table=table, key_cols=["k"], seq_cols=["seq"], op_col="op")
    for e in range(epochs):
        fn(_key_changes(spark, n, upd, e), e)
    all_changes = reduce(
        lambda a, b: a.unionByName(b),
        [_key_changes(spark, n, upd, e) for e in range(epochs)],
    ).localCheckpoint(eager=True)

    def snapshot():
        return read_upsert_snapshot(
            spark, table, ["k"], ["seq"], op_col="op"
        ).select("k", "seq", "val")

    before = snapshot().localCheckpoint(eager=True)
    t0 = time.time()
    compact_upsert_log(spark, table, ["k"], ["seq"], op_col="op", keep_since=5)
    out["ret_horizon_compact_sec"] = _since(t0)
    after = snapshot()
    out["ret_snapshot_preserved"] = _same_rows(before, after)
    parity = {}
    for point in (5, 7):
        engine = read_upsert_history(
            spark, table, ["k"], "seq", ["op", "val"]
        ).filter(
            f"valid_from <= {point} AND (valid_to IS NULL OR valid_to > "
            f"{point}) AND op <> 'D'"
        ).select("k", F.col("valid_from").alias("seq"), "val")
        twin = merge_latest(
            all_changes.filter(F.col("seq") <= point), ["k"], ["seq"], op_col="op",
        ).select("k", "seq", "val")
        parity[point] = _same_rows(engine, twin)
    out["ret_asof5_parity"] = parity[5]
    out["ret_asof7_parity"] = parity[7]
    n_log = spark.table(f"{table}_log").count()
    expect = n + all_changes.filter("seq >= 5").count()
    out["ret_log_rows"] = n_log
    out["ret_log_rows_expected"] = expect
    assert out["ret_snapshot_preserved"] and parity[5] and parity[7]
    assert n_log == expect


def _change_feed(spark, scale, out, root):
    """1M keys + 4 epochs of 100k through the batch fn with a commit
    log: read_upsert_changes(since_epoch=2) returns EXACTLY epochs 3-4,
    and an uncommitted epoch-5 append (files landed, no commit marker:
    the crash window) never surfaces in the feed while the catalog read
    sees it. Slice and full-feed walls recorded."""
    n, upd, table = _n(1_000_000, scale, 1_000), _n(100_000, scale, 100), "r09_feed"
    commits = f"{root}/commits"
    fn = make_upsert_batch_fn(
        table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        commit_log_dir=commits,
    )
    t0 = time.time()
    for e in range(5):
        fn(_key_changes(spark, n, upd, e), e)
    out["feed_build_1m_plus_4x100k_sec"] = _since(t0)
    t0 = time.time()
    feed = read_upsert_changes(spark, table, 2, commit_log_dir=commits).localCheckpoint(eager=True)
    out["feed_read_200k_slice_sec"] = _since(t0)
    out["feed_rows_since_2"] = feed.count()
    want = _key_changes(spark, n, upd, 3).withColumn("_epoch", F.lit(3)).unionByName(
        _key_changes(spark, n, upd, 4).withColumn("_epoch", F.lit(4))
    )
    got = feed.select("k", "seq", "op", "val", "_epoch")
    out["feed_equals_planted_changes"] = _same_rows(got, want)
    t0 = time.time()
    out["feed_rows_full"] = read_upsert_changes(spark, table, -1, commit_log_dir=commits).count()
    out["feed_read_full_1p4m_sec"] = _since(t0)
    write_bucketed(
        _key_changes(spark, n, upd, 5).withColumn("_epoch", F.lit(5)),
        f"{table}_log", ["k"], table_num_buckets(spark, f"{table}_log"),
        mode="append", align=True,
    )
    spark.catalog.refreshTable(f"{table}_log")
    out["feed_rows_after_uncommitted_append"] = read_upsert_changes(
        spark, table, 2, commit_log_dir=commits
    ).count()
    out["catalog_rows_after_uncommitted_append"] = (
        spark.table(f"{table}_log").filter("_epoch > 2").count()
    )
    assert out["feed_equals_planted_changes"]
    assert out["feed_rows_since_2"] == 2 * upd
    assert out["feed_rows_after_uncommitted_append"] == 2 * upd
    assert out["catalog_rows_after_uncommitted_append"] == 3 * upd


def _consumer_and_view(spark, scale, out, root):
    """One 1M-key log + 8 epochs of 100k changes (every 10th a delete)
    with a commit log, then:

    - follow_upsert_changes drains it in 2-epoch pages: the page plan is
      exact, the union of pages equals the full feed, the offset lands
      at 8, and a consumer that dies on its first page re-delivers the
      identical page;
    - maintain_agg_view keeps a per-group SUM view (1 000 groups) equal
      to GROUP BY over the current snapshot, as of epoch 8; the
      incremental wall is recorded next to the full recompute."""
    n, upd, epochs = _n(1_000_000, scale, 1_000), _n(100_000, scale, 100), 9
    table, commits = "r09b_feed", f"{root}/commits"

    def epoch(e):
        if e == 0:
            return spark.range(n).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("seq"),
                F.lit("U").alias("op"), (F.col("id") % 1000).alias("grp"),
                (F.col("id") % 997).cast("long").alias("v"),
            )
        # every 10th row a delete; the rest move the key to a rotated group
        return spark.range(upd).select(
            ((F.col("id") * 7 + e) % n).alias("k"),
            F.lit(e).cast("long").alias("seq"),
            F.when(F.col("id") % 10 == 0, "D").otherwise("U").alias("op"),
            ((F.col("id") + e) % 1000).alias("grp"),
            ((F.col("id") * 3 + e) % 997).cast("long").alias("v"),
        )

    fn = make_upsert_batch_fn(
        table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        commit_log_dir=commits,
    )
    t0 = time.time()
    for e in range(epochs):
        fn(epoch(e), e)
    out["log_build_1m_plus_8x100k_sec"] = _since(t0)

    page_walls = []

    def sink(page, since, until):
        t0 = time.time()
        page.write.mode("overwrite").parquet(f"{root}/pages/u{until}")
        page_walls.append(_since(t0))

    t0 = time.time()
    pages = follow_upsert_changes(
        spark, table, commit_log_dir=commits, consumer_dir=f"{root}/consumer",
        process=sink, max_epochs_per_page=2,
    )
    out["consumer_drain_sec"] = _since(t0)
    out["consumer_pages"] = pages
    out["consumer_page_sink_walls_sec"] = page_walls
    assert pages == [(-1, 1), (1, 3), (3, 5), (5, 7), (7, 8)], pages
    assert read_consumer_offset(spark, f"{root}/consumer") == 8
    union = spark.read.parquet(f"{root}/pages/u*")
    feed = read_upsert_changes(spark, table, -1, commit_log_dir=commits)
    assert union.exceptAll(feed).count() == 0
    assert feed.exceptAll(union).count() == 0
    out["consumer_rows_total"] = union.count()
    assert out["consumer_rows_total"] == n + (epochs - 1) * upd

    seen = {}

    def dying(page, since, until):
        seen["first"] = page.count()
        raise RuntimeError("die")

    try:
        follow_upsert_changes(
            spark, table, commit_log_dir=commits, consumer_dir=f"{root}/crash",
            process=dying, max_epochs_per_page=2,
        )
        raise AssertionError("consumer crash did not propagate")
    except RuntimeError:
        pass
    assert read_consumer_offset(spark, f"{root}/crash") == -1
    redelivered = {}
    follow_upsert_changes(
        spark, table, commit_log_dir=commits, consumer_dir=f"{root}/crash",
        process=lambda p, s, u: redelivered.setdefault("first", p.count()),
        max_epochs_per_page=2,
    )
    assert redelivered["first"] == seen["first"] == n + upd
    out["consumer_crash_redelivery_rows"] = redelivered["first"]

    t0 = time.time()
    pages = maintain_agg_view(
        spark, table, "r09b_view",
        key_cols=["k"], seq_cols=["seq"], group_col="grp", value_col="v",
        op_col="op", commit_log_dir=commits, consumer_dir=f"{root}/view",
        max_epochs_per_page=2,
    )
    out["view_maintain_5_pages_sec"] = _since(t0)
    assert len(pages) == 5, pages
    got = read_agg_view(spark, "r09b_view").filter(F.col("n_keys") > 0).select(
        "grp", "total", "n_keys"
    )
    t0 = time.time()
    want = (
        read_upsert_snapshot(spark, table, ["k"], ["seq"], op_col="op")
        .groupBy("grp")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_keys"))
    ).localCheckpoint(eager=True)
    out["view_full_recompute_sec"] = _since(t0)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    out["view_groups"] = got.count()
    asof = read_agg_view(spark, "r09b_view").select(F.max("_asof_epoch")).head()[0]
    assert asof == 8, asof


def upsert(spark, scale: float) -> dict:
    return _sections(
        spark, scale, _merge_on_read, _schema_evolution, _retention_horizon,
        _change_feed, _consumer_and_view,
    )


# ---- ops -------------------------------------------------------------------


def _packing(spark, scale, out, root):
    """pack_sequences over 2M synthetic (doc_id, n_tok) pairs (sizes
    1..900, context 1024, 256 shards): tokens conserved, no window over
    capacity, window ids contiguous per shard, the fill report sums to
    the same totals."""
    n, cap = _n(2_000_000, scale, 10_000), 1024
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), ((F.col("id") * 13) % 900 + 1).alias("n_tok"),
    )
    t0 = time.time()
    packed = pack_sequences(
        docs, "doc_id", "n_tok", context_len=cap, n_shards=256
    ).localCheckpoint(eager=True)
    out["pack_2m_docs_sec"] = _since(t0)
    out["pack_docs_per_sec"] = int(n / max(out["pack_2m_docs_sec"], 1e-9))
    tot = packed.agg(
        F.sum("n_tok_packed").alias("s"),
        F.max(F.col("win_offset") + F.col("n_tok_packed")).alias("mx"),
        F.count(F.lit(1)).alias("cnt"),
    ).head()
    want_total = docs.agg(F.sum(F.least(F.col("n_tok"), F.lit(cap)))).head()[0]
    out["pack_tokens_conserved"] = int(tot.s) == int(want_total)
    out["pack_max_window_use"] = int(tot.mx)
    out["pack_rows"] = int(tot.cnt)
    out["pack_windows_contiguous"] = (
        packed.groupBy("shard")
        .agg(F.max("window_id").alias("mx"), F.countDistinct("window_id").alias("nd"))
        .filter(F.col("mx") + 1 != F.col("nd"))
        .count()
    ) == 0
    st = pack_fill_stats(packed, cap).agg(
        F.sum("n_tokens").alias("s"), F.count(F.lit(1)).alias("wins"),
        F.avg("fill_rate").alias("fill"),
    ).head()
    out["pack_windows"] = int(st.wins)
    out["pack_mean_fill_rate"] = round(float(st.fill), 4)
    out["pack_stats_tokens_match"] = int(st.s) == int(tot.s)
    assert out["pack_tokens_conserved"]
    assert out["pack_max_window_use"] <= cap
    assert out["pack_windows_contiguous"]
    assert out["pack_stats_tokens_match"]
    assert out["pack_rows"] == n


def _zone_maps(spark, scale, out, root):
    """20M rows range-clustered into 64 files, indexed in one pass; a
    ~1% range read through the index opens <= 3 files and returns the
    plain filter's count, and refresh after an append stats exactly the
    one new file."""
    n, files, extra = _n(20_000_000, scale, 200_000) // 100 * 100, 64, _n(100_000, scale)
    sch = "id long, v long, s long"
    path = f"{root}/data"
    t0 = time.time()
    spark.range(n).select(
        F.col("id"), (F.col("id") * 5).alias("v"), (F.col("id") % 33_331).alias("s"),
    ).repartitionByRange(files, "id").write.parquet(path)
    out["zm_layout_write_20m_sec"] = _since(t0)
    full = spark.read.schema(sch).parquet(path)
    t0 = time.time()
    zm = file_zone_maps(full, ["v"]).localCheckpoint(eager=True)
    out["zm_index_build_sec"] = _since(t0)
    out["zm_index_files"] = zm.count()
    lo, hi = 2 * n, 2 * n + n // 20  # n/100 + 1 rows, ~1% of the v domain
    t0 = time.time()
    pruned = read_pruned(spark, zm, {"v": (lo, hi)}, sch)
    n_pruned = pruned.count()
    out["zm_pruned_read_sec"] = _since(t0)
    out["zm_files_opened"] = len(pruned.inputFiles())
    t0 = time.time()
    n_full = full.filter((F.col("v") >= lo) & (F.col("v") <= hi)).count()
    out["zm_full_filter_sec"] = _since(t0)
    assert n_pruned == n_full == n // 100 + 1, (n_pruned, n_full)
    assert out["zm_files_opened"] <= 3, out["zm_files_opened"]
    spark.range(extra).select(
        (F.col("id") + n).alias("id"), (F.lit(10**12) + F.col("id")).alias("v"),
        F.lit(0).cast("long").alias("s"),
    ).coalesce(1).write.mode("append").parquet(path)
    t0 = time.time()
    zm2 = refresh_zone_maps(
        zm, spark.read.schema(sch).parquet(path), ["v"]
    ).localCheckpoint(eager=True)
    out["zm_refresh_sec"] = _since(t0)
    assert zm2.count() == out["zm_index_files"] + 1
    tail = read_pruned(spark, zm2, {"v": (10**12, None)}, sch)
    assert tail.count() == extra
    assert len(tail.inputFiles()) == 1


def _bloom_maps(spark, scale, out, root):
    """20M rows range-clustered on ``id`` into 64 files, with a
    high-cardinality ``key`` scattered by a Weyl permutation (the axis
    the layout does NOT serve). Zone maps on ``key`` keep >= half the
    files for a single-key probe; the persisted bloom index answers a
    20-key lookup opening <= 30 files with rows equal to the plain
    filter, and refresh after an append stats exactly the new files."""
    n_rows, n_files, weyl = _n(20_000_000, scale, 200_000), 64, 2654435761
    extra, schema = _n(100_000, scale), "id long, key long, v double"
    path = f"{root}/clustered_by_id"
    t0 = time.perf_counter()
    spark.range(n_rows).select(
        F.col("id"), ((F.col("id") * weyl) % n_rows).alias("key"),
        (F.col("id") % 997).cast("double").alias("v"),
    ).repartitionByRange(n_files, "id").write.parquet(path)
    out["bloom_layout_write_20m_sec"] = round(time.perf_counter() - t0, 2)
    full = spark.read.schema(schema).parquet(path)
    # the index persisted as parquet and read back, the deployment shape:
    # a localCheckpoint would re-deserialize all map rows on every probe
    ipath = f"{root}/bloom_idx"
    t0 = time.perf_counter()
    file_bloom_maps(full, "key").write.parquet(ipath)
    out["bloom_index_build_persist_sec"] = round(time.perf_counter() - t0, 2)
    bm = spark.read.parquet(ipath)
    out["bloom_index_files"] = bm.count()
    assert out["bloom_index_files"] == len(full.inputFiles())

    probe_ids = [i % n_rows for i in (7, 123_456, 9_876_543, 19_999_999)] + list(
        range(1000, 1016)
    )
    probe_keys = [(i * weyl) % n_rows for i in probe_ids]
    out["bloom_zm_survivors_one_key"] = prune_files(
        file_zone_maps(full, ["key"]), {"key": (probe_keys[0], probe_keys[0])}
    ).count()
    assert out["bloom_zm_survivors_one_key"] >= n_files // 2

    t0 = time.perf_counter()
    got = read_pruned_bloom(spark, bm, "key", probe_keys, schema)
    got_rows = got.localCheckpoint(eager=True)
    out["bloom_pruned_read_sec"] = round(time.perf_counter() - t0, 2)
    out["bloom_files_opened"] = len(got.inputFiles())
    # 20 keys live in <= 20 files; at fp ~0.13% the expected surplus is
    # ~2 files, anything near 64 means the filter saturated
    assert out["bloom_files_opened"] <= 30, out["bloom_files_opened"]
    t0 = time.perf_counter()
    prune_files_bloom(bm, "key", probe_keys).select("_file").collect()
    out["bloom_prune_repeat_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    want = full.filter(F.col("key").isin(probe_keys)).localCheckpoint(eager=True)
    out["bloom_full_filter_sec"] = round(time.perf_counter() - t0, 2)
    assert got_rows.exceptAll(want).count() == 0
    assert want.exceptAll(got_rows).count() == 0
    out["bloom_probe_rows"] = got_rows.count()
    assert out["bloom_probe_rows"] == len(probe_ids)

    spark.range(n_rows, n_rows + extra).select(
        F.col("id"), ((F.col("id") * weyl) % n_rows).alias("key"),
        F.lit(0.0).alias("v"),
    ).repartition(2).write.mode("append").parquet(path)
    grown = spark.read.schema(schema).parquet(path)
    t0 = time.perf_counter()
    bm2 = refresh_bloom_maps(bm, grown, "key").localCheckpoint(eager=True)
    out["bloom_refresh_sec"] = round(time.perf_counter() - t0, 2)
    out["bloom_refresh_new_files"] = bm2.count() - out["bloom_index_files"]
    assert out["bloom_refresh_new_files"] == 2
    got2 = read_pruned_bloom(spark, bm2, "key", probe_keys, schema)
    want2 = grown.filter(F.col("key").isin(probe_keys))
    assert got2.exceptAll(want2).count() == 0
    assert want2.exceptAll(got2).count() == 0


def _bm25(spark, scale, out, root):
    """BM25 top-k on the sf0.1 documents and on a x16 replica (distinct
    ids, same texts): exactly k rows, scores non-increasing, and equal
    documents score identically within the replica run (rank stability
    under growth is NOT asserted: idf shifts with N)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out["bm25_sf01_docs"] = docs.count()
    terms = ["dup", "join", "spark"]
    t0 = time.perf_counter()
    base = bm25_topk(docs, terms, "doc_id", "text", k=20).collect()
    out["bm25_sf01_sec"] = round(time.perf_counter() - t0, 2)
    assert len(base) == 20
    scores = [r["score"] for r in base]
    assert scores == sorted(scores, reverse=True)

    reps = _n(16, scale, 2)
    big = docs.crossJoin(
        F.broadcast(spark.range(reps).select(F.col("id").alias("rep")))
    ).select(
        (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    out["bm25_x16_docs"] = big.count()
    t0 = time.perf_counter()
    top_big = bm25_topk(big, terms, "doc_id", "text", k=64).collect()
    out["bm25_x16_sec"] = round(time.perf_counter() - t0, 2)
    assert len(top_big) == 64
    by_base: dict[int, set] = {}
    for r in top_big:
        by_base.setdefault(r["doc_id"] // reps, set()).add((r["n_terms"], r["score"]))
    full_groups = [b for b, s in by_base.items() if len(s) > 1]
    assert not full_groups, f"replicas diverged for base docs {full_groups}"


def _curation(spark, scale, out, root):
    """On 150k skewed docs with a 3 000-doc near-identical hot cluster:

    - x94 nb_quality_classifier (two hash-agg passes + a vocabulary
      broadcast) labels every doc with a non-degenerate split. ttr 1/1
      instead of the corpus entry's 21/50: ~50 tokens drawn from an
      8 000-word vocab clear 0.42 almost always, while at 1.0 the
      birthday-collision docs (~14%) label low.
    - x95 excise_duplicated_spans (k=5) in the hot-key regime by
      construction: every window of the cluster text occurs ~3 000x.
      Tokens are conserved (kept + removed = input) and the hot cluster
      is substantially excised."""
    # floor: the hot windows must occur more than 256 times
    c = _corpus(spark, scale, 150_000, 3_000, 7_500, hot_floor=400)
    n_tokens = c.docs.select(F.sum(F.size(F.split("text", " ")))).head()[0]
    out["n_docs"], out["n_tokens"] = c.n_docs, n_tokens

    t0 = time.time()
    cls = nb_quality_classifier(
        c.docs, "doc_id", "text", ttr_num=1, ttr_den=1
    ).localCheckpoint(eager=True)
    out["x94_rows_150k"] = cls.count()
    out["x94_sec_150k"] = _since(t0)
    agg = cls.agg(
        F.sum(F.col("label_hi").cast("int")).alias("hi"),
        F.sum(F.col("pred_hi").cast("int")).alias("pred"),
        F.sum((F.col("label_hi") != F.col("pred_hi")).cast("int")).alias("flips"),
    ).head()
    out["x94_label_hi"], out["x94_pred_hi"], out["x94_disagreements"] = agg

    t0 = time.time()
    ex = excise_duplicated_spans(c.docs, "doc_id", "text", k=5).localCheckpoint(eager=True)
    out["x95_rows_150k"] = ex.count()
    out["x95_sec_150k"] = _since(t0)
    stats = ex.agg(
        F.sum("n_kept").alias("kept"),
        F.sum("n_removed").alias("removed"),
        F.sum((F.col("n_kept") == 0).cast("int")).alias("emptied"),
    ).head()
    out["x95_tokens_kept"], out["x95_tokens_removed"], out["x95_docs_fully_excised"] = stats
    # hot-regime proof: the max per-window occurrence count
    d = c.docs.select(word_tokens("text").alias("_toks"))
    n = F.size("_toks")
    win = d.select(
        F.explode(
            F.when(
                n >= 5,
                F.transform(
                    F.sequence(F.lit(1), n - 4),
                    lambda i: F.md5(F.concat_ws("\x1f", F.slice("_toks", i, 5))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("wh")
    )
    out["x95_max_window_occurrences"] = (
        win.groupBy("wh").agg(F.count(F.lit(1)).alias("c")).agg(F.max("c")).head()[0]
    )
    assert out["x94_rows_150k"] == c.n_docs
    assert 0 < out["x94_label_hi"] < c.n_docs, "degenerate label split"
    assert out["x95_rows_150k"] == c.n_docs
    assert out["x95_tokens_kept"] + out["x95_tokens_removed"] == n_tokens
    assert out["x95_max_window_occurrences"] > 256, "hot regime not engaged"
    # exact-copy docs (swap collisions) are recorded, not asserted
    assert out["x95_tokens_removed"] > 0.01 * n_tokens


def ops(spark, scale: float) -> dict:
    return _sections(
        spark, scale, _packing, _zone_maps, _bloom_maps, _bm25, _curation,
    )


# ---- sf1 -------------------------------------------------------------------


def _sf1_slice(spark, scale, out, root):
    """One notch above the other records: 150k documents, 150k
    embeddings and 1M events (10x the sf0.1 tables), hunting
    super-linear cliffs.

    - x19 at 50k and 150k in one process; the 150k hot cluster grows
      sub-proportionally (3 000, not 6 000): 3x the docs with a bounded
      pair-space ratio (x2.25), so a candidate/salting cliff shows as
      the time ratio blowing past the pair ratio.
    - x08 at 150k: 3 000-row hot buckets are ~12x the salting cutoff.
    - x70 at 150k: blocking absorbs the hot cluster.
    - x20 IVF at 150k x 500 queries: recall@5 >= 0.9 at nprobe 8/64.
    - the ingest loop at sf1 shape: a 21k base + 5 epochs x 21k with
      compact_every=2 (compactions land in epochs 2 and 4; 3 and 5 are
      the clean appends the flatness claim is about), loop ≡ rebuild,
      and a reset-bounded index file count.
    - streaming detection over the replicated events, arrival order and
      event time, each equal to the batch compile_rules plan."""
    c50 = _corpus(spark, scale, 50_000, 2_000, 2_500)
    # floor: the hot buckets must exceed the 256-row salting cutoff
    c150 = _corpus(spark, scale, 150_000, 3_000, 7_500, hot_floor=500)
    x19 = out["x19"] = {}
    for tag, c in (("50k", c50), ("150k", c150)):
        hot, planted = c.hot_ids[1], c.planted.count()
        truth = hot * (hot - 1) // 2 + planted
        t0 = time.time()
        v = minhash_verified_pairs(c.docs, "doc_id", "text", threshold=0.8)
        found = v.count()
        dt = time.time() - t0
        hit = v.join(c.planted, ["a_id", "b_id"]).count()
        x19[tag] = {
            "n_docs": c.n_docs, "true_pairs": truth, "pairs": found,
            "sec": round(dt, 2), "recall": round(found / truth, 6),
            "planted_recall": round(hit / planted, 6),
        }
    out["x19_pair_ratio"] = round(x19["150k"]["true_pairs"] / x19["50k"]["true_pairs"], 3)
    out["x19_time_ratio"] = round(x19["150k"]["sec"] / x19["50k"]["sec"], 2)

    sig = minhash_signatures(c150.docs, "doc_id", "text")
    out["x08_max_band_bucket_rows_150k"] = (
        _banded_keys(sig, 64, 16).groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
    )
    t0 = time.time()
    out["x08_candidates_150k"] = minhash_lsh_candidates(c150.docs, "doc_id", "text").count()
    out["x08_sec_150k"] = _since(t0)

    hot150 = c150.hot_ids[1]
    t0 = time.time()
    cp = containment_pairs(
        c150.docs, "doc_id", "text", n=3, threshold=0.9, rare_frac=0.2, min_size=5,
    ).localCheckpoint(eager=True)
    out["x70_pairs_150k"] = cp.count()
    out["x70_sec_150k"] = _since(t0)
    out["x70_hot_pairs_150k"] = cp.filter(
        (F.col("a_id") < hot150) & (F.col("b_id") < hot150)
    ).count()
    out["x70_planted_hit_150k"] = cp.join(c150.planted, ["a_id", "b_id"]).count()

    e = _embeddings(spark, scale, 150_000, 15_000, 1_000, 500, dim=64)
    t0 = time.time()
    exact = brute_force_topk(e.vectors, e.queries, "vec_id", "embedding", k=5).localCheckpoint(eager=True)
    out["x20_exact_sec_150k"] = _since(t0)
    t0 = time.time()
    centroids = ivf_train(e.vectors, "vec_id", "embedding", n_cells=64, iters=3)
    out["x20_train_sec_150k"] = _since(t0)
    t0 = time.time()
    approx = ivf_topk(
        e.vectors, e.queries, "vec_id", "embedding",
        k=5, n_cells=64, nprobe=8, centroids=centroids,
    ).localCheckpoint(eager=True)
    out["x20_query_sec_150k"] = _since(t0)
    out["x20_hot_cell_rows_150k"] = max(
        r["n"] for r in ivf_assign(e.vectors, centroids, "vec_id", "embedding")
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    out["x20_recall_at_5_150k"] = round(
        approx.select("q_id", "n_id").join(
            exact.select("q_id", "n_id"), ["q_id", "n_id"]
        ).count() / exact.count(), 6,
    )

    m = F.col("doc_id") % 7
    loop, accepted = _dedup_ingest_loop(
        spark, root, table="sf1_ing", kind="minhash", id_col="doc_id",
        content_col="text", threshold=0.8, base=c150.docs.filter(m == 0),
        epochs=[c150.docs.filter(m == ep) for ep in range(1, 6)],
        probe=c150.docs.filter(m == 6),
        build=lambda df, t: build_minhash_index(df, t, num_hashes=32, bands=8),
        match_cols=MINHASH_COLS, matches_path=f"{root}/ing_match",
        commit_log_dir=f"{root}/ing_commits", compact_every=2,
    )
    out.update({f"ingest_{k}": v for k, v in loop.items()})
    durs = out["ingest_epoch_ms"]
    # epochs (1-indexed): 1 carries source/JIT init; 2 and 4 carry the
    # in-loop compaction; 3 and 5 are the clean steady-state appends
    out["ingest_flatness_clean_epochs"] = round(
        max(durs[2], durs[4]) / max(min(durs[2], durs[4]), 1), 2
    )
    out["ingest_flatness_excl_first"] = round(max(durs[1:]) / max(min(durs[1:]), 1), 2)
    out["ingest_accepted"] = accepted.count()
    out["ingest_index_files"] = len(spark.table("sf1_ing_bands").inputFiles())

    src = f"{root}/ev_src"
    ev, big = _replicated_events(spark, scale, src, (10_000, 20_000))
    out["stream_events"] = big.count()
    batch_alerts = compile_rules(
        big, DEFAULT_RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    ).select(
        "rule_name", "key", F.unix_millis("alert_ts").alias("ts_ms"),
        "details", "rule_index",
    ).localCheckpoint(eager=True)
    out["batch_alerts"] = batch_alerts.count()
    for mode, backend, wm in (
        ("arrival_bucketed", "arrival", None),
        ("event_time_bucketed", "event_time", DEFAULT_WATERMARK),
    ):
        stream = read_file_stream(
            spark, src, ev.schema, time_col="ts", watermark=wm,
            max_files_per_trigger=1,
        )
        alerts = compile_rules_streaming(
            stream, DEFAULT_RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",), backend=backend,
        )
        t0 = time.time()
        (
            alerts.writeStream.format("parquet")
            .option("path", f"{root}/alerts_{mode}")
            .option("checkpointLocation", f"{root}/ckpt_{mode}")
            .outputMode("append").trigger(availableNow=True).start()
            .awaitTermination()
        )
        wall = time.time() - t0
        got = spark.read.parquet(f"{root}/alerts_{mode}").filter(
            F.col("key") != str(SENTINEL_KEY)
        ).select(
            "rule_name", "key", F.unix_millis("alert_ts").alias("ts_ms"),
            "details", "rule_index",
        )
        out[f"{mode}_sec"] = round(wall, 2)
        out[f"{mode}_eps"] = int(out["stream_events"] / wall)
        out[f"{mode}_alerts"] = got.count()
        out[f"{mode}_parity"] = _same_rows(got, batch_alerts)

    assert x19["150k"]["recall"] >= 0.999 and x19["150k"]["planted_recall"] >= 0.99
    assert out["x08_max_band_bucket_rows_150k"] > 256, "salted regime not engaged"
    assert out["x70_hot_pairs_150k"] <= c150.n_docs // 250
    assert out["x70_planted_hit_150k"] >= 0.9 * c150.planted.count()
    assert out["x20_recall_at_5_150k"] >= 0.9
    assert out["ingest_loop_equals_rebuild"]
    # compaction ran twice (epochs 2 and 4): 32 files from the epoch-4
    # compaction + <= 32 from the ALIGNED epoch-5 append (an unaligned
    # append measured 1056 = 32 + 32 tasks x 32 buckets)
    assert out["ingest_index_files"] <= 96, out["ingest_index_files"]
    assert out["arrival_bucketed_parity"] and out["event_time_bucketed_parity"]
    assert out["batch_alerts"] > 0
    if scale >= 1:
        # 3x docs / 2.25x pair space must not blow past 3x the pair
        # ratio (salting keeps the hot buckets task-bounded)
        assert out["x19_time_ratio"] < 3 * out["x19_pair_ratio"], out["x19_time_ratio"]
        assert out["ingest_flatness_clean_epochs"] < 2.5


def sf1(spark, scale: float) -> dict:
    return _sections(spark, scale, _sf1_slice)


FAMILIES = {
    "dedup": dedup,
    "ann": ann,
    "index": index,
    "streaming": streaming,
    "upsert": upsert,
    "ops": ops,
    "sf1": sf1,
}
