"""Streaming dedup ingest — the engine's two halves composed.

The reference's streaming pipeline is source → keyed detection → sink
(StreamSentinelJob.java:102-140); the curation twin of that loop is
source → near-dup match → accept/reject → the INDEX ITSELF as the sink:
a stream of incoming documents (or embedding vectors) is matched
against a persisted MinHash/LSH index, the novel rows are accepted —
appended to the index AND written to the accepted-data sink — and the
near-duplicates are reported. The index grows as the stream runs, so
later batches dedupe against earlier accepted batches automatically.

Scale shape (the reason this loop is viable at 100 TB corpus size):

- the corpus side of every per-batch match is a bucketed FileScan of
  the stored index — no Exchange, no signature recompute
  (``match_minhash_index`` / ``match_lsh_index``);
- each accept is a bucket-aligned file append + an O(stats) delta
  merge (``append_minhash_index`` / ``append_lsh_index``) — per-batch
  cost depends on BATCH size, not index size
  (``tools/stress.py index`` records the growth curves);
- appends accumulate files (one per bucket per append), which is what
  actually drifts the per-batch match cost upward over many epochs —
  ``compact_every`` triggers the Exchange-free one-file-per-bucket
  rewrite (``compact_*_index``) that resets it;
- the fixed per-epoch work is batch-sized: one pin of the epoch's rows
  (payload + signatures), counted; the match; one pin of the accepted
  rows, counted — the emptiness guard — whose projections feed the
  accepted sink and all three appends; plus (with the commit log) one
  directory listing per grown location and one small JSON rename.
  Called alone, a match first runs probes that read the corpus side:
  the hot-bucket probe aggregates the stored bucket counts, and the
  MinHash verify-regime probes count and collect the whole verify
  table. The loop skips them with loop-scoped state: an upper bound
  on the largest stored bucket count (read once per loop, raised by
  each append's accepted rows — a doc adds at most one row per
  bucket), which rules salting out while bound × batch rows ≤
  cutoff², and the verify regime once it is array-intersect (doc
  count and vocabulary only grow). Both assume the loop is the
  index's single writer, as the commit protocol does; neither changes
  a value, only which of two equal plans runs.

Semantics: the micro-batch is the atomicity unit, exactly like a
sequential driver loop over the same batches (pinned bit-for-bit by
tests/test_ingest_pipeline.py). By default, duplicates WITHIN one batch
are all novel w.r.t. the index and are all accepted — same behavior as
the one-shot incremental operators (old × new, never new × new).
``dedup_within_batch=True`` adds the intra-batch stage: each batch is
first run through the SAME near-dup operator family with the index's
own parameters, rows that match a SMALLER-id row in the same batch are
diverted to ``matches_path`` (marked ``within_batch=true``) and never
reach the index match or the index. Semantics note: the default intra
stage is PAIRWISE (a row is a dup iff it matches any smaller-id batch
row), which equals a sequential one-doc-per-batch feed whenever
duplicate groups are stars/cliques around their smallest member — the
overwhelmingly common shape; a strict CHAIN A–B–C (C similar to B but
not to A) diverges: sequential-greedy re-accepts C because B was never
indexed, pairwise diverts it. ``dedup_within_batch="transitive"``
closes that gap: connected components over the batch's pair graph,
then the greedy pass (ids ascending, divert iff an ACCEPTED smaller
partner exists) per component — batch feeds ≡ sequential feeds for
chains too (pinned by a planted-chain test). Both modes share the
residual caveat that the intra stage runs BEFORE the index match: a
sequential feed where an intra-accepted row would itself have been
diverted by the INDEX can differ — intra decisions are made on batch
evidence only, in either mode.

Restart safety — the epoch-manifest commit protocol
(:mod:`stream_sentinel_spark.streaming.manifest`): ``foreachBatch``
re-runs a failed epoch, which would double-append, and a crash midway
through the epoch's three index appends (+ two sinks) would leave
partial rows. With ``commit_log_dir`` set, every epoch ends with ONE
atomic rename that both marks the epoch committed and records the
exact per-location data-file inventory; fully committed epochs are
replay-no-ops (checked first), and :func:`recover_dedup_ingest` — run
automatically by :func:`run_dedup_ingest` before the query starts —
deletes any file no manifest claims, rebuilds the overwrite-maintained
``_bandstats`` from the recovered bands when its inventory disagrees,
and finishes a crash-interrupted compaction from its intent marker. A
replayed epoch therefore always runs against a byte-clean index: a
crash after ANY mutation of the epoch is recovered to ≡ a clean run
(tests/test_ingest_recovery.py enumerates them). This closes the
round-6 documented gap without a transactional table format, using
the same rename primitive the exactly-once alert sink trusts
(reference anchor: the EXACTLY_ONCE checkpoint contract,
StreamSentinelJob.java:154-165, extended to the index sink).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from stream_sentinel_spark.streaming.exactly_once import start_foreach_batch
from stream_sentinel_spark.streaming.sources import INGEST_COL

_KINDS = ("minhash", "lsh")

#: per kind: (append-table suffixes, stats keys); the grown tables are
#: the append tables plus the ``_bandstats`` count log
_KIND_SPEC = {
    "minhash": (("_bands", "_verify"), ["band", "bucket"]),
    "lsh": (("_bands", "_vecs"), ["band", "val"]),
}


def _family(kind: str):
    """(match, append, compact, prepare_epoch) for an index kind.

    ``prepare_epoch(batch_df, payload, id_col, content_col, meta)``
    returns ``(combined, key, split)``: ONE lazily pinned frame of
    payload columns + signatures/verify inputs (the loop's row count
    materializes it in a single job), its id column, and ``split``,
    which projects it or any row subset of it to (batch, kernel) — the
    intra and match stages slice ``combined``, the sink and appends
    slice the pinned accepted subset. Round 9 cut the per-stage
    signature recomputes (guide §1.2: don't compute things twice);
    round 10 fused the batch and kernel pins (guide §2.6: the loop's
    wall is dominated by jobs-per-epoch, not bytes)."""
    if kind == "minhash":
        from stream_sentinel_spark.operators.dedup import (
            _epoch_frames,
            append_minhash_index,
            compact_minhash_index,
            match_minhash_index,
        )

        def prepare(batch_df, payload, id_col, content_col, meta):
            return _epoch_frames(
                batch_df, payload, id_col, content_col,
                meta.n, meta.num_hashes,
            )

        return (
            match_minhash_index, append_minhash_index,
            compact_minhash_index, prepare,
        )
    if kind == "lsh":
        from stream_sentinel_spark.operators.similarity import (
            _lsh_epoch_frames,
            append_lsh_index,
            compact_lsh_index,
            match_lsh_index,
        )

        def prepare(batch_df, payload, id_col, content_col, meta):
            return _lsh_epoch_frames(
                batch_df, payload, id_col, content_col,
                meta.bits, meta.dim, meta.seed,
            )

        return match_lsh_index, append_lsh_index, compact_lsh_index, prepare
    raise ValueError(f"unknown index kind: {kind!r} (expected one of {_KINDS})")


def _intra_batch_matches(
    kind: str, threshold: float, mode: str, meta, kernel: DataFrame
) -> DataFrame:
    """(new_id, n_matches, best_*, first_match) over pairs WITHIN the
    batch — the same output contract as the index match, computed by
    the same operator family with the index's own stored parameters
    (``meta``) so intra- and cross-batch duplicates are judged
    identically. Candidates and verify inputs derive from the epoch
    kernel's pinned blocks — the same expressions over the same rows as
    the one-shot operators, so pair sets and scores are bit-identical.

    ``mode="pairwise"``: a row is a dup iff it pairs with ANY smaller-id
    batch row (pairs come a_id < b_id; the b-side is the diverted one).
    ``mode="transitive"``: greedy-by-id within each connected component
    of the pair graph — a row is a dup iff it pairs with a smaller-id
    row that was itself ACCEPTED, which is exactly the sequential
    one-doc-per-batch feed's decision on chains (A~B~C, A≁C: sequential
    diverts B but re-accepts C, because diverted B never entered the
    index). Match stats count accepted partners only, mirroring what
    the index match would have reported mid-feed."""
    if kind == "minhash":
        from stream_sentinel_spark.operators.dedup import (
            _adaptive_verify,
            _band_raw_pairs,
        )

        cands = _band_raw_pairs(
            kernel.select("id", "sig"), meta.num_hashes, meta.bands
        ).distinct()
        pairs = _adaptive_verify(cands, kernel, threshold)
        score_col, best_name, first_long = "jaccard", "best_jaccard", False
    else:
        pairs = _cosine_pairs_from_kernel(kernel, threshold, meta)
        score_col, best_name, first_long = "cos", "best_cos", True
    if mode == "transitive":
        return _greedy_component_matches(
            pairs.select("a_id", "b_id", F.col(score_col).alias("_score")),
            best_name,
            first_long,
        )
    first = F.min("a_id")
    return pairs.groupBy(F.col("b_id").alias("new_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max(score_col).alias(best_name),
        (first.cast("long") if first_long else first).alias("first_match"),
    )


def _cosine_pairs_from_kernel(kernel: DataFrame, threshold: float, meta) -> DataFrame:
    """:func:`~stream_sentinel_spark.operators.similarity.cosine_pairs_lsh`
    over a materialized (id, vec, nrm, sig) kernel frame: the band keys,
    the salting probe and the verify inputs all re-derive from the
    kernel's pinned blocks instead of recomputing signatures and norms
    from the raw batch. Same expressions, same rows — the emitted
    (a_id, b_id, cos) set is bit-identical to the one-shot operator."""
    from stream_sentinel_spark.operators.dedup import _hot_salted_self_join
    from stream_sentinel_spark.operators.similarity import (
        _cos_seq_udf,
        _kernel_band_keys,
    )
    from stream_sentinel_spark.operators.partitioning import spread_pairs

    chunks = _kernel_band_keys(kernel, meta.bits, meta.bands, "id")
    cands = spread_pairs(
        _hot_salted_self_join(chunks, ["band", "val"])
        .select("a_id", "b_id")
        .distinct()
    )
    cos_seq = _cos_seq_udf()
    a = kernel.select(
        F.col("id").alias("a_id"), F.col("vec").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b = kernel.select(
        F.col("id").alias("b_id"), F.col("vec").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("cos", cos_seq("a_vec", "b_vec", "a_nrm", "b_nrm"))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def _greedy_component_matches(
    pairs: DataFrame, best_name: str, first_long: bool
) -> DataFrame:
    """The transitive intra-batch stage: connected components over the
    batch's pair graph, then — per component, in one Arrow-batched
    applyInPandas task — the sequential greedy: ids ascending, divert a
    row iff it pairs with an already-accepted smaller id. Emits one row
    per DIVERTED id with stats over its accepted partners.

    Scale shape: the pair set is batch-sized (never corpus-sized), the
    component id is the shuffle key, and each task holds one component's
    EDGES — linear in chain length for the chains this mode exists for,
    quadratic only for cliques (where pairwise mode already equals the
    sequential feed and is the right choice). The verified pair set is
    pinned ONCE up front: three consumers read it (the component
    edges, the label iteration's first materialization, the final
    component join), and each unpinned read would re-run the whole
    LSH-candidate + exact-verify computation — measured 350 s → 87 s
    on the 15 k-doc / 5 k-chain stress (STRESS_r08_ops.json).

    ADAPTIVE REGIME (round 10; the connected_components probe hoisted
    one level): a pair set that fits the driver cap runs the SAME
    greedy on the driver over ONE truncated collect — greedy decisions
    are component-local (a row's accepted-partner test only ever sees
    ids of its own component), so one global ascending-id pass is
    decision-identical to the per-component passes (pinned in
    tests/test_ingest_pipeline.py). This replaces the component
    labeling, the node-component join and the per-component
    applyInPandas shuffle with a single collect — the transitive intra
    stage was 21 jobs/epoch at gate scale (round-9 jobprof; x104's
    round-9 regression). Oversized or null-id pair sets take the
    distributed path unchanged (probe=False: the collect above already
    was the probe)."""
    from pyspark.sql import types as T

    from stream_sentinel_spark.operators.dedup import (
        _DRIVER_CC_MAX_PAIRS,
        connected_components,
    )

    # lazy pin: the bounded probe's evaluation feeds the distributed
    # branch's three consumers instead of being recomputed
    pairs = pairs.localCheckpoint(eager=False)

    id_type = pairs.schema["b_id"].dataType
    first_type = T.LongType() if first_long else pairs.schema["a_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("new_id", id_type),
            T.StructField("n_matches", T.LongType()),
            T.StructField(best_name, T.DoubleType()),
            T.StructField("first_match", first_type),
        ]
    )

    def greedy_rows(edges) -> list[tuple]:
        # ids ascending, divert a row iff it pairs with an already
        # ACCEPTED smaller id; one row per diverted id
        smaller: dict = {}  # id -> [(smaller partner, score)]
        nodes: set = set()
        for a, b, s in edges:
            nodes.update((a, b))
            smaller.setdefault(b, []).append((a, s))
        accepted: set = set()
        rows = []
        for i in sorted(nodes):
            hits = [(a, s) for a, s in smaller.get(i, ()) if a in accepted]
            if hits:
                rows.append((
                    i, len(hits), float(max(s for _, s in hits)),
                    min(a for a, _ in hits),
                ))
            else:
                accepted.add(i)
        return rows

    head = pairs.limit(_DRIVER_CC_MAX_PAIRS + 1).collect()
    if len(head) <= _DRIVER_CC_MAX_PAIRS and not any(
        r["a_id"] is None or r["b_id"] is None for r in head
    ):
        return pairs.sparkSession.createDataFrame(
            greedy_rows((r["a_id"], r["b_id"], r["_score"]) for r in head),
            out_schema,
        )

    def greedy(pdf):
        import pandas as pd

        return pd.DataFrame(
            greedy_rows(zip(pdf["a_id"], pdf["b_id"], pdf["_score"])),
            columns=["new_id", "n_matches", best_name, "first_match"],
        )

    # require_convergence: a split chain would let a boundary doc be
    # diverted in one group while accepted in another — silently
    # breaking the sequential-feed equivalence this mode contracts.
    # With pointer doubling, the default 20 rounds cover diameter
    # < 2^19, so the raise is a backstop, not an expected path.
    comp = connected_components(
        pairs, "a_id", "b_id", require_convergence=True, probe=False
    ).withColumnRenamed("id", "a_id")
    return (
        pairs.join(comp, "a_id")
        .groupBy("component")
        .applyInPandas(greedy, out_schema)
    )


def make_dedup_ingest_batch_fn(
    *,
    table: str,
    kind: str = "minhash",
    id_col: str = "doc_id",
    content_col: str = "text",
    threshold: float = 0.8,
    cutoff: int | None = None,
    accepted_path: str | None = None,
    matches_path: str | None = None,
    commit_log_dir: str | None = None,
    refresh_session=None,
    compact_every: int | None = None,
    dedup_within_batch: bool | str = False,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` body: match the batch against the
    stored ``{table}`` index, write duplicates to ``matches_path`` and
    novel rows to ``accepted_path`` (both parquet, stamped with the
    epoch id), then append the novel rows to the index. Exposed
    separately so tests (and batch backfills) can drive individual
    epochs without a streaming query.

    ``refresh_session``: ``foreachBatch`` bodies run on a MICRO-BATCH
    CLONE of the session, and a datasource table's file listing is
    cached per-session — so an append made by the clone is invisible to
    the PARENT session's cached relation (measured: the parent kept
    reading the pre-append index until ``refreshTable``). Pass the
    parent session (``run_dedup_ingest`` does this automatically) and
    the batch fn invalidates its cache for the index tables after every
    append; other concurrent sessions reading the same metastore must
    refresh on their own schedule.

    ``compact_every``: every Nth APPEND (not epoch — empty batches
    don't count), rewrite the grown index tables to one file per
    bucket (``compact_minhash_index`` / ``compact_lsh_index``). Each
    append adds a file per bucket, and the per-batch match cost drifts
    up with accumulated FILE COUNT, not index size
    (STRESS_r06_append.json) — periodic compaction is what keeps the
    loop's per-batch cost genuinely flat over thousands of epochs. The
    cadence counter is in-process; a restart resets it (maintenance
    cadence, not semantics — match results are bit-identical across a
    compaction, pinned in tests). With a commit log, the compaction
    runs AFTER the epoch's commit under a ``compact-pending`` intent
    marker, so a crash anywhere inside it is recovered (module doc).

    ``dedup_within_batch``: opt-in intra-batch stage — dedup of the
    batch against ITSELF with the index's stored parameters, diverted
    rows land in ``matches_path`` marked ``within_batch=true`` and
    never reach the index. ``True`` (or ``"pairwise"``) is
    smaller-id-wins over the raw pair set; ``"transitive"`` runs the
    per-component greedy that also matches sequential feeds on chains
    (module doc has the exact semantics of both). The marker column
    exists in the matches output only when this is on, so a loop's
    matches parquet keeps one schema.

    ``commit_log_dir``: enables BOTH the committed-epoch replay guard
    and the atomic-append manifest protocol (module doc). Run
    :func:`recover_dedup_ingest` at loop start (automatic via
    :func:`run_dedup_ingest`) to restore a crashed run's state.

    Between epochs the batch fn keeps an upper bound on the index's
    largest bucket count and, for MinHash, the verify regime, so the
    match skips its probes (module doc). Both assume this loop is the
    index's only writer — the commit protocol's assumption too: no
    other process may append to ``table`` while the loop runs."""
    from stream_sentinel_spark.operators.dedup import VerifyRegime
    from stream_sentinel_spark.operators.similarity import _read_bandstats
    from stream_sentinel_spark.streaming.manifest import EpochProtocol

    match_fn, append_fn, compact_fn, prepare_epoch = _family(kind)
    grown = (*_KIND_SPEC[kind][0], "_bandstats")
    if dedup_within_batch not in (False, True, "pairwise", "transitive"):
        raise ValueError(
            f"dedup_within_batch={dedup_within_batch!r} — expected False, "
            "True, 'pairwise' or 'transitive'"
        )
    intra_mode = (
        "transitive" if dedup_within_batch == "transitive" else "pairwise"
    )
    protocol = EpochProtocol(
        commit_log_dir,
        tables=[table + s for s in grown],
        paths=(accepted_path, matches_path),
        compact_every=compact_every,
        maintain=lambda spark: compact_fn(spark, table),
        refresh_session=refresh_session,
        job_prefix="ingest",
    )
    # the meta row is immutable for the life of an index (appends and
    # compaction preserve it) — read it once per loop, not once per
    # stage per epoch (three catalog reads + head() jobs per batch)
    meta_box: list = []
    # loop-scoped facts that let the match skip its probes (module doc;
    # valid because the loop is the index's single writer): an upper
    # bound on the largest stored bucket count, read once and raised by
    # every append, and the MinHash verify regime once it is exact
    na_box: list = []
    match_state = {"regime": VerifyRegime()} if kind == "minhash" else {}

    def _meta(spark: SparkSession):
        if not meta_box:
            meta_box.append(spark.table(f"{table}_meta").head())
        return meta_box[0]

    def _na_bound(spark: SparkSession) -> int:
        if not na_box:
            stats = _read_bandstats(
                spark, f"{table}_bandstats", _KIND_SPEC[kind][1]
            )
            na_box.append(stats.agg(F.max("_na")).first()[0] or 0)
        return na_box[0]

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession

        def work(label) -> bool:
            # the ingestion stamp is transport plumbing, not document
            # payload — it must reach neither the index nor the sinks
            payload = [c for c in batch_df.columns if c != INGEST_COL]
            # ONE pin per epoch (payload + signatures + verify inputs);
            # the row count is the job that materializes it, and every
            # stage below consumes projections/slices of the pinned
            # blocks, so no consumer re-reads the source files and the
            # append's lineage never reaches into the index tables it
            # is writing
            label("epoch checkpoint")
            meta = _meta(spark)
            combined, key, split = prepare_epoch(
                batch_df, payload, id_col, content_col, meta
            )
            n_rows = combined.count()
            if not n_rows:
                return False
            batch, kernel = split(combined)
            survivors = batch
            surv_kernel = kernel
            intra = None
            if dedup_within_batch:
                label("intra-batch dedup")
                intra = _intra_batch_matches(
                    kind, threshold, intra_mode, meta, kernel
                ).localCheckpoint(eager=True)
                # lazy anti-joins of pinned frames: only the match
                # reads them
                survivors = batch.join(
                    intra.select(F.col("new_id").alias(id_col)), [id_col],
                    "left_anti",
                )
                surv_kernel = kernel.join(
                    intra.select(F.col("new_id").alias("id")), ["id"],
                    "left_anti",
                )
            label("index match")
            matches = match_fn(
                spark, survivors, table, id_col, content_col,
                threshold=threshold, cutoff=cutoff,
                meta=meta, kernel=surv_kernel,
                # a doc adds at most one row per bucket, so no bucket's
                # batch count exceeds the epoch's row count
                prod_bound=_na_bound(spark) * n_rows,
                **match_state,
            )
            if matches_path is not None:
                # two consumers (this sink and the accepted pin below):
                # pin the match once instead of running it twice
                matches = matches.localCheckpoint(eager=True)
                out = matches
                if intra is not None:
                    out = matches.withColumn(
                        "within_batch", F.lit(False)
                    ).unionByName(intra.withColumn("within_batch", F.lit(True)))
                out.withColumn("epoch", F.lit(epoch_id)).write.mode(
                    "append"
                ).parquet(matches_path)
            # ONE pin of the accepted rows: the epoch frame minus the
            # broadcast set of matched and intra-diverted ids. Its row
            # count is the job that materializes it (and, unless the
            # matches sink pinned it above, runs the match — hence
            # still under the match label); the count is the emptiness
            # guard and raises the bucket-count bound. The sink and all
            # three index appends read projections of the pinned
            # blocks, so none of them re-derives the anti-join or the
            # match
            dropped = matches.select(F.col("new_id").alias(key))
            if intra is not None:
                dropped = dropped.union(intra.select(F.col("new_id").alias(key)))
            kept = combined.join(
                F.broadcast(dropped), [key], "left_anti"
            ).localCheckpoint(eager=False)
            n_accepted = kept.count()
            label("accepted")
            accepted, acc_kernel = split(kept)
            if accepted_path is not None:
                accepted.withColumn("epoch", F.lit(epoch_id)).write.mode(
                    "append"
                ).parquet(accepted_path)
            if not n_accepted:
                return False
            label("index append")
            # raised BEFORE the writes: a crash inside them leaves the
            # bound above the stored counts, never below
            na_box[0] += n_accepted
            append_fn(
                accepted, table, id_col, content_col,
                meta=meta, kernel=acc_kernel,
            )
            return True

        protocol(spark, epoch_id, work)

    return run


def recover_dedup_ingest(
    spark: SparkSession,
    *,
    table: str,
    kind: str = "minhash",
    commit_log_dir: str,
    accepted_path: str | None = None,
    matches_path: str | None = None,
    refresh_session=None,
) -> dict:
    """Restore a possibly-crashed ingest loop's storage to exactly its
    last committed epoch (module doc; the mechanics live in
    :mod:`stream_sentinel_spark.streaming.manifest`). Idempotent and
    cheap on a clean state (one listing per location); run it before
    (re)starting the loop — :func:`run_dedup_ingest` does so
    automatically. Returns the recovery action report."""
    from stream_sentinel_spark.operators.similarity import _overwrite_bandstats
    from stream_sentinel_spark.streaming.manifest import recover_ingest_state

    append_suffixes, stats_keys = _KIND_SPEC[kind]
    stats_table = f"{table}_bandstats"

    def rebuild_stats() -> None:
        # the stats table is derivable state: an Exchange-free groupBy
        # of the (already-recovered) bucketed bands table
        spark.catalog.refreshTable(f"{table}_bands")
        bands = spark.table(f"{table}_bands")
        _overwrite_bandstats(
            stats_table, stats_keys,
            bands.groupBy(*stats_keys).agg(F.count(F.lit(1)).alias("_na")),
        )

    return recover_ingest_state(
        spark,
        commit_log_dir,
        append_tables=[table + s for s in append_suffixes],
        stats_table=stats_table,
        rebuild_stats=rebuild_stats,
        paths=[p for p in (accepted_path, matches_path) if p is not None],
        refresh_session=refresh_session,
    )


def run_dedup_ingest(
    stream_df: DataFrame,
    *,
    checkpoint_location: str,
    query_name: str = "sentinel-dedup-ingest",
    available_now: bool = False,
    **batch_kwargs,
) -> StreamingQuery:
    """Start the streaming dedup ingest loop over ``stream_df`` (any
    streaming frame carrying ``id_col`` + ``content_col`` — e.g.
    :func:`~stream_sentinel_spark.streaming.sources.read_file_stream`
    over landing files, or the Kafka source). ``batch_kwargs`` go to
    :func:`make_dedup_ingest_batch_fn`. Structured Streaming's offset
    checkpoint makes batch boundaries replay-stable, so a restarted
    query re-presents the SAME rows per epoch — which is what makes the
    ``commit_log_dir`` idempotence above sound. When a commit log is
    configured, :func:`recover_dedup_ingest` runs before the query
    starts, so a crashed previous run's partial epoch is rolled back
    before its replay."""
    batch_kwargs.setdefault("refresh_session", stream_df.sparkSession)
    if batch_kwargs.get("commit_log_dir") is not None:
        recover_dedup_ingest(
            stream_df.sparkSession,
            table=batch_kwargs["table"],
            kind=batch_kwargs.get("kind", "minhash"),
            commit_log_dir=batch_kwargs["commit_log_dir"],
            accepted_path=batch_kwargs.get("accepted_path"),
            matches_path=batch_kwargs.get("matches_path"),
        )
    return start_foreach_batch(
        stream_df, make_dedup_ingest_batch_fn(**batch_kwargs),
        checkpoint_location=checkpoint_location, query_name=query_name,
        available_now=available_now,
    )
