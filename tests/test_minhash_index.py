"""Persisted MinHash document index (build once / match per batch) —
the text twin of tests/test_embedding_index.py.

build_minhash_index stores band keys (bucketed by the candidate join
key), shingle codes for the exact-Jaccard verify, per-bucket counts for
the salting probe, and signature params; match_minhash_index must
(1) reproduce incremental_neardups bit-for-bit and (2) plan the
per-batch candidate join so the corpus side is a bucketed FileScan with
no Exchange and no Arrow kernel recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_sentinel_spark.operators.dedup import (
    build_minhash_index,
    incremental_neardups,
    match_minhash_index,
)
from stream_sentinel_spark.sources.batch import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def frames(spark):
    docs = load_table(spark, SF_DIR, "documents")
    # same split + params as the x61 corpus entry
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return old, new


@pytest.fixture(scope="module")
def index(spark, frames):
    old, _ = frames
    build_minhash_index(old, "doc_idx", num_hashes=32, bands=8)
    yield "doc_idx"
    for suffix in ("bands", "verify", "bandstats", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS doc_idx_{suffix}")


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _rows(df):
    return sorted(
        (r.new_id, r.n_matches, r.best_jaccard, r.first_match)
        for r in df.collect()
    )


def test_match_equals_one_shot_incremental(spark, frames, index):
    old, new = frames
    got = _rows(match_minhash_index(spark, new, index, threshold=0.8))
    want = _rows(
        incremental_neardups(
            old, new, "doc_id", "text", num_hashes=32, bands=8, threshold=0.8
        )
    )
    assert len(want) > 0, "fixture split produced no matches — test is vacuous"
    assert got == want  # bit-equal: same kernel for new side, stored codes


def test_per_batch_candidates_read_the_bucketed_index(
    spark, frames, index, no_broadcast
):
    from stream_sentinel_spark.operators.dedup import (
        _banded_keys,
        _hot_salted_pair_join,
        _kernel_frame,
    )
    from stream_sentinel_spark.operators.similarity import _read_bandstats
    from stream_sentinel_spark.sources.bucketing import bucketed

    _, new = frames
    meta = spark.table("doc_idx_meta").head()
    new_kernel = _kernel_frame(new, "doc_id", "text", meta.n, meta.num_hashes)
    cands = _hot_salted_pair_join(
        bucketed(spark, "doc_idx_bands").withColumnRenamed("old_id", "id"),
        _banded_keys(new_kernel.select("id", "sig"), meta.num_hashes, meta.bands),
        ["band", "bucket"],
        na=_read_bandstats(spark, "doc_idx_bandstats", ["band", "bucket"]),
    )
    plan = plan_of(cands)
    # corpus side: bucketed FileScan, no Exchange above it; the only
    # (band, bucket) shuffle belongs to the (small) new side
    assert "Bucketed: true" in plan, plan
    assert plan.count("hashpartitioning(band") == 1, plan
    # no corpus-side kernel recompute: the new side's signatures are
    # checkpointed, the old side's come from parquet — the candidate
    # plan itself carries no Arrow python node
    assert "ArrowEvalPython" not in plan, plan


def test_meta_makes_index_self_describing(spark, frames, index):
    meta = spark.table("doc_idx_meta").head()
    assert (meta.n, meta.num_hashes, meta.bands) == (3, 32, 8)


# ---------------------------------------------------------------------------
# APPEND — text twin of the embedding-index append tests (round 6).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def appended_index(spark, frames):
    from stream_sentinel_spark.operators.dedup import append_minhash_index

    old, _ = frames
    build_minhash_index(
        old.filter(F.col("doc_id") % 6 == 0), "doc_app", num_hashes=32, bands=8
    )
    append_minhash_index(old.filter(F.col("doc_id") % 6 == 2), "doc_app")
    append_minhash_index(old.filter(F.col("doc_id") % 6 == 4), "doc_app")
    yield "doc_app"
    for suffix in ("bands", "verify", "bandstats", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS doc_app_{suffix}")


def test_appends_equal_rebuild_bit_for_bit(spark, frames, index, appended_index):
    _, new = frames
    got = _rows(match_minhash_index(spark, new, appended_index, threshold=0.8))
    want = _rows(match_minhash_index(spark, new, index, threshold=0.8))
    assert len(want) > 0, "fixture split produced no matches — test is vacuous"
    assert got == want


def test_appended_tables_are_row_identical(spark, index, appended_index):
    bands = lambda t: sorted(
        (r.old_id, r.band, r.bucket)
        for r in spark.table(f"{t}_bands").collect()
    )
    from stream_sentinel_spark.operators.similarity import _read_bandstats

    # the stats table is an append LOG (base + per-append deltas);
    # the contract is the aggregated per-key counts
    stats = lambda t: sorted(
        (r.band, r.bucket, r._na)
        for r in _read_bandstats(
            spark, f"{t}_bandstats", ["band", "bucket"]
        ).collect()
    )
    assert bands(appended_index) == bands(index)
    assert stats(appended_index) == stats(index)


def test_match_plan_exchange_free_after_appends(
    spark, frames, appended_index, no_broadcast
):
    from stream_sentinel_spark.operators.dedup import (
        _banded_keys,
        _hot_salted_pair_join,
        _kernel_frame,
    )
    from stream_sentinel_spark.operators.similarity import _read_bandstats
    from stream_sentinel_spark.sources.bucketing import bucketed

    _, new = frames
    meta = spark.table("doc_app_meta").head()
    new_kernel = _kernel_frame(new, "doc_id", "text", meta.n, meta.num_hashes)
    cands = _hot_salted_pair_join(
        bucketed(spark, "doc_app_bands").withColumnRenamed("old_id", "id"),
        _banded_keys(new_kernel.select("id", "sig"), meta.num_hashes, meta.bands),
        ["band", "bucket"],
        na=_read_bandstats(spark, "doc_app_bandstats", ["band", "bucket"]),
    )
    plan = plan_of(cands)
    assert "Bucketed: true" in plan, plan
    assert plan.count("hashpartitioning(band") == 1, plan


@pytest.mark.parametrize("vocab_max", [None, 0], ids=["bitmask", "exact"])
def test_match_plan_reads_verify_once_without_union(
    spark, frames, appended_index, monkeypatch, vocab_max
):
    """The verify joins read ``{table}_verify`` for the a side and the
    batch kernel for the b side — one scan of the stored table and no
    Union of it with the batch (which would make both joins read the
    whole corpus), in both verify regimes."""
    from stream_sentinel_spark.operators import dedup

    if vocab_max is not None:
        monkeypatch.setattr(dedup, "_BITMASK_VOCAB_MAX", vocab_max)
    _, new = frames
    matched = match_minhash_index(spark, new, appended_index, threshold=0.8)
    plan = matched._sc._jvm.PythonSQLUtils.explainString(
        matched._jdf.queryExecution(), "simple"
    )
    assert plan.count(f"default.{appended_index}_verify") == 1, plan
    assert "Union" not in plan, plan


def test_compaction_resets_files_and_preserves_matches(spark, frames):
    """compact_minhash_index rewrites the append-grown tables into ≤1
    file per bucket (the file count is the proof the rewrite was
    bucket-aligned and Exchange-free: a shuffled or mis-partitioned
    rewrite writes a file per bucket per task) with match results
    bit-identical and the per-batch candidate plan still bucketed."""
    from stream_sentinel_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
    )

    old, new = frames
    try:
        build_minhash_index(
            old.filter(F.col("doc_id") % 6 == 0), "doc_cmp",
            num_hashes=32, bands=8,
        )
        append_minhash_index(old.filter(F.col("doc_id") % 6 == 2), "doc_cmp")
        append_minhash_index(old.filter(F.col("doc_id") % 6 == 4), "doc_cmp")
        meta = spark.table("doc_cmp_meta").head()
        pre_files = len(spark.table("doc_cmp_bands").inputFiles())
        pre = _rows(match_minhash_index(spark, new, "doc_cmp", threshold=0.8))
        assert len(pre) > 0

        counts = compact_minhash_index(spark, "doc_cmp")

        assert counts["doc_cmp_bands"] <= meta.num_buckets < pre_files
        assert counts["doc_cmp_verify"] <= meta.num_buckets
        post = _rows(match_minhash_index(spark, new, "doc_cmp", threshold=0.8))
        assert post == pre
        # the bucket spec survived the swap: candidate join still reads
        # a bucketed scan (same pin as the append test)
        from stream_sentinel_spark.operators.dedup import (
            _banded_keys,
            _hot_salted_pair_join,
            _kernel_frame,
        )
        from stream_sentinel_spark.sources.bucketing import bucketed

        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            nk = _kernel_frame(new, "doc_id", "text", meta.n, meta.num_hashes)
            cands = _hot_salted_pair_join(
                bucketed(spark, "doc_cmp_bands").withColumnRenamed("old_id", "id"),
                _banded_keys(nk.select("id", "sig"), meta.num_hashes, meta.bands),
                ["band", "bucket"],
                na=spark.table("doc_cmp_bandstats"),
            )
            plan = plan_of(cands)
            assert "Bucketed: true" in plan, plan
            assert plan.count("hashpartitioning(band") == 1, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    finally:
        for suffix in ("bands", "verify", "bandstats", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS doc_cmp_{suffix}")
        spark.sql("DROP TABLE IF EXISTS doc_cmp_bands__compacting")
        spark.sql("DROP TABLE IF EXISTS doc_cmp_verify__compacting")
