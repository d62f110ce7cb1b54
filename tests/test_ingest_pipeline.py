"""Streaming dedup ingest pipeline (round 6): stream → match against
the persisted index → accept novel rows → append them to the index.

The pin is SEQUENTIAL-LOOP EQUIVALENCE: driving the same batches, in
the same order, through the streaming `foreachBatch` pipeline and
through a plain driver loop over the batch operators must produce
(1) the same per-epoch accepted/duplicate sets, (2) row-identical
final index tables, and (3) bit-equal matches for a later probe batch.
That, plus the append tests (N appends ≡ rebuild), closes the loop:
the stream really is just the incremental operators run forever.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_sentinel_spark.operators.dedup import (
    append_minhash_index,
    build_minhash_index,
    match_minhash_index,
)
from stream_sentinel_spark.sources.batch import load_table
from stream_sentinel_spark.streaming.ingest import (
    make_dedup_ingest_batch_fn,
    run_dedup_ingest,
)
from stream_sentinel_spark.streaming.sources import read_file_stream

SF_DIR = "/root/testdata/sf0.001"
THRESH = 0.5
N_BATCHES = 3


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").localCheckpoint(eager=True)


def _batch(docs, m):
    return docs.filter(F.col("doc_id") % 5 == m)


def _match_rows(df):
    return sorted(
        (r.new_id, r.n_matches, r.best_jaccard, r.first_match)
        for r in df.collect()
    )


def _table_rows(spark, name, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in spark.table(name).collect()
    )


def _drop(spark, name):
    for suffix in ("bands", "verify", "bandstats", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")


@pytest.fixture(scope="module")
def sequential(spark, docs):
    """The oracle: a plain driver loop over the batch operators."""
    _drop(spark, "ing_seq")
    build_minhash_index(_batch(docs, 0), "ing_seq", num_hashes=32, bands=8)
    per_epoch = []
    for m in range(1, 1 + N_BATCHES):
        b = _batch(docs, m)
        matches = match_minhash_index(
            spark, b, "ing_seq", threshold=THRESH
        ).localCheckpoint(eager=True)
        accepted = b.join(
            matches.select(F.col("new_id").alias("doc_id")), ["doc_id"],
            "left_anti",
        ).localCheckpoint(eager=True)
        append_minhash_index(accepted, "ing_seq")
        per_epoch.append(
            (
                _match_rows(matches),
                sorted(r.doc_id for r in accepted.collect()),
            )
        )
    yield per_epoch
    _drop(spark, "ing_seq")


@pytest.fixture(scope="module")
def streamed(spark, docs, tmp_path_factory):
    """The same batches through the streaming pipeline: one file per
    micro-batch (maxFilesPerTrigger=1, write order = arrival order)."""
    root = tmp_path_factory.mktemp("ingest")
    src = str(root / "src")
    for m in range(1, 1 + N_BATCHES):
        _batch(docs, m).coalesce(1).write.mode("append").parquet(src)
    _drop(spark, "ing_str")
    build_minhash_index(_batch(docs, 0), "ing_str", num_hashes=32, bands=8)
    stream = read_file_stream(
        spark, src, docs.schema, time_col=None, watermark=None,
        max_files_per_trigger=1,
    )
    paths = {
        "accepted_path": str(root / "accepted"),
        "matches_path": str(root / "matches"),
        "commit_log_dir": str(root / "commits"),
    }
    q = run_dedup_ingest(
        stream,
        checkpoint_location=str(root / "ckpt"),
        available_now=True,
        table="ing_str",
        kind="minhash",
        id_col="doc_id",
        content_col="text",
        threshold=THRESH,
        **paths,
    )
    q.awaitTermination(300)
    yield paths
    _drop(spark, "ing_str")


def test_streamed_epochs_equal_sequential_loop(spark, sequential, streamed):
    matches = spark.read.parquet(streamed["matches_path"])
    accepted = spark.read.parquet(streamed["accepted_path"])
    epochs = sorted(
        r.epoch for r in matches.select("epoch").distinct().collect()
    )
    assert len(epochs) == N_BATCHES, f"expected one epoch per file: {epochs}"
    for i, epoch in enumerate(epochs):
        want_matches, want_accepted = sequential[i]
        got_matches = _match_rows(
            matches.filter(F.col("epoch") == epoch).drop("epoch")
        )
        got_accepted = sorted(
            r.doc_id for r in accepted.filter(F.col("epoch") == epoch).collect()
        )
        assert got_matches == want_matches, f"epoch {epoch} matches diverge"
        assert got_accepted == want_accepted, f"epoch {epoch} accepts diverge"
        assert len(want_matches) > 0, "fixture batch matched nothing — vacuous"


def test_final_index_tables_row_identical(spark, sequential, streamed):
    assert _table_rows(spark, "ing_str_bands", ["old_id", "band", "bucket"]) \
        == _table_rows(spark, "ing_seq_bands", ["old_id", "band", "bucket"])
    assert _table_rows(spark, "ing_str_bandstats", ["band", "bucket", "_na"]) \
        == _table_rows(spark, "ing_seq_bandstats", ["band", "bucket", "_na"])
    assert _table_rows(spark, "ing_str_verify", ["old_id", "sz"]) \
        == _table_rows(spark, "ing_seq_verify", ["old_id", "sz"])


def test_probe_batch_matches_bit_equal(spark, docs, sequential, streamed):
    """A held-out probe batch must see the two grown indexes as the
    same corpus — the end-to-end bit-equality pin."""
    probe = _batch(docs, 4)
    got = _match_rows(match_minhash_index(spark, probe, "ing_str", threshold=THRESH))
    want = _match_rows(match_minhash_index(spark, probe, "ing_seq", threshold=THRESH))
    assert got == want and len(want) > 0


def test_committed_epoch_replay_is_noop(spark, docs, streamed):
    """Replaying an already-committed epoch (the foreachBatch crash-
    recovery path) must not double-append: the commit log short-circuits
    before any write."""
    before = len(_table_rows(spark, "ing_str_bands", ["old_id", "band"]))
    fn = make_dedup_ingest_batch_fn(
        table="ing_str", kind="minhash", id_col="doc_id", content_col="text",
        threshold=THRESH, commit_log_dir=streamed["commit_log_dir"],
    )
    fn(_batch(docs, 1), 0)  # epoch 0 already committed by the stream run
    after = len(_table_rows(spark, "ing_str_bands", ["old_id", "band"]))
    assert after == before


def test_lsh_kind_single_epoch(spark, tmp_path_factory):
    """The embedding-index flavor of the batch fn: one epoch through
    kind="lsh" equals the manual match+anti-join+append sequence."""
    from stream_sentinel_spark.operators.similarity import (
        build_lsh_index,
        match_lsh_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus, b1, probe = (emb.filter(F.col("vec_id") % 5 == m) for m in (0, 1, 2))
    for name in ("ing_emb", "ing_emb_ref"):
        for suffix in ("bands", "vecs", "bandstats", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")
    build_lsh_index(corpus, "ing_emb")
    build_lsh_index(corpus, "ing_emb_ref")
    root = tmp_path_factory.mktemp("ingest_lsh")
    fn = make_dedup_ingest_batch_fn(
        table="ing_emb", kind="lsh", id_col="vec_id", content_col="embedding",
        threshold=0.40, accepted_path=str(root / "acc"),
    )
    fn(b1, 0)
    # manual sequence on the reference index
    from stream_sentinel_spark.operators.similarity import append_lsh_index

    matches = match_lsh_index(
        spark, b1, "ing_emb_ref", threshold=0.40
    ).localCheckpoint(eager=True)
    # checkpoint BEFORE the append: a lazy anti-join re-evaluated after
    # the index grew would match the batch against itself
    accepted = b1.join(
        matches.select(F.col("new_id").alias("vec_id")), ["vec_id"], "left_anti"
    ).localCheckpoint(eager=True)
    append_lsh_index(accepted, "ing_emb_ref")

    rows = lambda t: sorted(
        (r.new_id, r.n_matches, r.best_cos, r.first_match)
        for r in match_lsh_index(spark, probe, t, threshold=0.40).collect()
    )
    assert rows("ing_emb") == rows("ing_emb_ref")
    assert len(rows("ing_emb")) > 0
    got_accepted = sorted(
        r.vec_id for r in spark.read.parquet(str(root / "acc")).collect()
    )
    assert got_accepted == sorted(r.vec_id for r in accepted.collect())


def test_compact_every_preserves_results_and_caps_files(
    spark, docs, sequential, tmp_path_factory
):
    """The ingest loop with periodic compaction (compact_every=2) must
    produce the SAME per-epoch matches/accepts and the same final
    matches as the sequential oracle, while the index file count stays
    capped (each compaction rewrites to ≤1 file per bucket) — the
    maintenance knob that keeps per-batch cost flat over thousands of
    epochs."""
    root = tmp_path_factory.mktemp("ingest_cmp")
    src = str(root / "src")
    for m in range(1, 1 + N_BATCHES):
        _batch(docs, m).coalesce(1).write.mode("append").parquet(src)
    _drop(spark, "ing_cmp")
    build_minhash_index(_batch(docs, 0), "ing_cmp", num_hashes=32, bands=8)
    try:
        stream = read_file_stream(
            spark, src, docs.schema, time_col=None, watermark=None,
            max_files_per_trigger=1,
        )
        q = run_dedup_ingest(
            stream,
            checkpoint_location=str(root / "ckpt"),
            available_now=True,
            table="ing_cmp",
            kind="minhash",
            id_col="doc_id",
            content_col="text",
            threshold=THRESH,
            matches_path=str(root / "matches"),
            accepted_path=str(root / "accepted"),
            compact_every=2,
        )
        q.awaitTermination(300)

        matches = spark.read.parquet(str(root / "matches"))
        accepted = spark.read.parquet(str(root / "accepted"))
        for epoch, (want_matches, want_accepted) in enumerate(sequential):
            got_m = _match_rows(matches.filter(F.col("epoch") == epoch))
            got_a = sorted(
                r.doc_id
                for r in accepted.filter(F.col("epoch") == epoch).collect()
            )
            assert got_m == want_matches
            assert got_a == want_accepted
        # 3 appends with compact_every=2 -> one compaction after the
        # 2nd append. Every write adds up to a file per bucket PER TASK,
        # so the meaningful pin is against the same batches WITHOUT
        # compaction (the sequential oracle's table): the compacted
        # index must carry strictly fewer files — build + appends 1-2
        # collapsed to <=1/bucket, only append 3's files on top.
        n_files = len(spark.table("ing_cmp_bands").inputFiles())
        n_files_nocompact = len(spark.table("ing_seq_bands").inputFiles())
        assert n_files < n_files_nocompact, (n_files, n_files_nocompact)
        # final index answers a probe identically to the sequential one
        probe = _batch(docs, 4)
        got = _match_rows(
            match_minhash_index(spark, probe, "ing_cmp", threshold=THRESH)
        )
        want = _match_rows(
            match_minhash_index(spark, probe, "ing_seq", threshold=THRESH)
        )
        assert got == want and len(got) > 0
    finally:
        _drop(spark, "ing_cmp")
        spark.sql("DROP TABLE IF EXISTS ing_cmp_bands__compacting")
        spark.sql("DROP TABLE IF EXISTS ing_cmp_verify__compacting")


# ---------------------------------------------------------------------------
# Jobs per epoch, and the loop state that skips the match's probes.
# ---------------------------------------------------------------------------


def _loop_epochs(spark, docs, table, root, batches, **kw):
    """Drive ``batches`` through a fresh batch fn over a fresh index
    built from residue 0; per epoch: (match rows, accepted ids)."""
    _drop(spark, table)
    build_minhash_index(_batch(docs, 0), table, num_hashes=32, bands=8)
    fn = make_dedup_ingest_batch_fn(
        table=table, kind="minhash", id_col="doc_id", content_col="text",
        threshold=THRESH, matches_path=f"{root}/matches",
        accepted_path=f"{root}/accepted", **kw,
    )
    for epoch, b in enumerate(batches):
        fn(b, epoch)
    matches = spark.read.parquet(f"{root}/matches")
    accepted = spark.read.parquet(f"{root}/accepted")
    out = [
        (
            _match_rows(matches.filter(F.col("epoch") == e).drop("epoch")),
            sorted(
                r.doc_id for r in accepted.filter(F.col("epoch") == e).collect()
            ),
        )
        for e in range(len(batches))
    ]
    _drop(spark, table)
    return out


#: measured jobs of the second epoch of a loop (4 cores, 8 shuffle
#: partitions); the probes of the match run in the first epoch only
_STEADY_EPOCH_JOBS = {"minhash": 23, "minhash-exact": 19, "lsh": 19}


@pytest.mark.parametrize("case", sorted(_STEADY_EPOCH_JOBS))
def test_steady_epoch_job_budget(spark, docs, tmp_path, monkeypatch, case):
    """A steady ingest epoch runs no corpus-wide probe (the hot-bucket
    probe is ruled out by the loop's bucket-count bound, the verify
    regime is kept once exact) and reads the pinned accepted rows in
    every sink and append instead of re-deriving the anti-join — the
    epoch's job count stays within the measured budget. The default
    sf0.001 documents verify by bitmask, whose vocabulary is collected
    every epoch; ``minhash-exact`` pins the array-intersect regime."""
    from tests.conftest import count_jobs

    if case == "lsh":
        from stream_sentinel_spark.operators.similarity import build_lsh_index

        emb = load_table(spark, SF_DIR, "embeddings")
        table = "ing_jobs_lsh"
        for suffix in ("bands", "vecs", "bandstats", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {table}_{suffix}")
        build_lsh_index(emb.filter(F.col("vec_id") % 5 == 0), table)
        batches = [emb.filter(F.col("vec_id") % 5 == m) for m in (1, 2)]
        kw = {"kind": "lsh", "id_col": "vec_id", "content_col": "embedding",
              "threshold": 0.40}
    else:
        if case == "minhash-exact":
            from stream_sentinel_spark.operators import dedup

            monkeypatch.setattr(dedup, "_BITMASK_VOCAB_MAX", 0)
        table = "ing_jobs_mh"
        _drop(spark, table)
        build_minhash_index(_batch(docs, 0), table, num_hashes=32, bands=8)
        batches = [_batch(docs, m) for m in (1, 2)]
        kw = {"threshold": THRESH}
    fn = make_dedup_ingest_batch_fn(
        table=table, accepted_path=str(tmp_path / "acc"),
        commit_log_dir=str(tmp_path / "commits"), **kw,
    )
    jobs = [count_jobs(spark, fn, b, e) for e, b in enumerate(batches)]
    for suffix in ("bands", "vecs", "verify", "bandstats", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {table}_{suffix}")
    assert jobs[1] <= _STEADY_EPOCH_JOBS[case], jobs


def test_hot_bucket_fallback_equals_default_cutoff(
    spark, docs, sequential, tmp_path, monkeypatch
):
    """With a cutoff so small that the loop's bound cannot rule salting
    out, every epoch runs the exact probe and takes the salted plan —
    and accepts and matches exactly what the default-cutoff run does."""
    from stream_sentinel_spark.operators import dedup

    salted = []
    real = dedup._hot_salted_pair_join

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        salted.append("_chunk" in out._jdf.queryExecution().logical().toString())
        return out

    monkeypatch.setattr(dedup, "_hot_salted_pair_join", spy)
    got = _loop_epochs(
        spark, docs, "ing_cut", tmp_path,
        [_batch(docs, m) for m in range(1, 1 + N_BATCHES)], cutoff=1,
    )
    assert salted == [True] * N_BATCHES
    assert got == sequential


def test_verify_regimes_give_identical_matches(spark, docs, tmp_path, monkeypatch):
    """The loop keeps the array-intersect regime once it is picked. The
    same epochs run in the bitmask regime (the degenerate sf0.001
    vocabulary), in the exact regime (vocabulary cap 0), and with a
    doc cap that only the first epoch's index + batch exceeds — so a
    fresh probe at the second epoch would flip back to bitmask, and
    the loop stays exact — give identical matches and accepts."""
    from stream_sentinel_spark.operators import dedup

    batches = [
        _batch(docs, 1),
        docs.filter(F.col("doc_id") % 10 == 2),
        docs.filter(F.col("doc_id") % 10 == 3),
    ]
    exact = []
    real = dedup._exact_verify

    def spy(*args, **kwargs):
        exact.append(True)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "_exact_verify", spy)
    bitmask = _loop_epochs(spark, docs, "ing_rgm", tmp_path / "b", batches)
    assert not exact and any(m for m, _ in bitmask)

    with monkeypatch.context() as m:
        m.setattr(dedup, "_BITMASK_VOCAB_MAX", 0)
        assert _loop_epochs(
            spark, docs, "ing_rgm", tmp_path / "x", batches
        ) == bitmask
    assert len(exact) == len(batches)

    exact.clear()
    n_index = _batch(docs, 0).count()
    cap = n_index + batches[0].count() - 1
    n_accepted_0 = len(bitmask[0][1])
    # a fresh probe at epoch 1 sees the index (grown by epoch 0's
    # accepts) plus the batch: under the cap, so it would pick bitmask
    assert n_index + n_accepted_0 + batches[1].count() <= cap
    monkeypatch.setattr(dedup, "_ALLPAIRS_MAX_DOCS", cap)
    assert _loop_epochs(spark, docs, "ing_rgm", tmp_path / "f", batches) == bitmask
    assert len(exact) == len(batches)
