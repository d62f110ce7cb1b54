"""Streaming UPSERT materialization — maintain a current-state table
from a keyed change stream (the CDC-apply loop).

The batch half of this contract already exists: ``cdc.merge_latest``
collapses a change set to its latest-wins snapshot (delete tombstones
honored). This module is its streaming twin — the production shape
"keep a dimension current from a change feed" — built on the same
storage discipline as the dedup ingest loop:

- **Merge-on-read, not rewrite-per-batch.** Each micro-batch APPENDS its
  change rows to a single bucketed log table ``{table}_log`` (bucketed
  by the key, ``align=True`` → ≤1 file per bucket per batch). The
  current snapshot is a VIEW: ``read_upsert_snapshot`` runs
  ``merge_latest`` over the log — and because the log is bucketed on
  the key, the latest-wins window needs NO Exchange (the bucketed scan
  already satisfies the window's partitioning; only the per-bucket sort
  remains). Per-batch write cost is O(batch); nothing rewrites the
  table on the hot path. This is the Hudi/Iceberg merge-on-read pattern
  re-expressed with plain parquet + a metastore bucket spec.
- **Compaction = merge-rewrite.** ``compact_upsert_log`` rewrites the
  log to exactly the live snapshot rows (superseded versions and
  tombstones dropped — nothing older remains that they could mask),
  with the same tmp-table + DROP + RENAME swap and crash recovery
  (``recover_compaction``) as the index compaction. The swap changes
  the log's CONTENT but preserves the merged VIEW — the invariant tests
  pin. Wired into the loop via ``compact_every`` (runs AFTER the
  epoch's commit, under the same compact-pending WAL as the dedup
  loop).
- **Atomic epochs.** With ``commit_log_dir`` set, each epoch ends with
  the ONE-rename manifest commit (streaming/manifest.py): committed
  epochs are replay no-ops, and ``recover_upsert_ingest`` (run
  automatically at loop start) deletes any log file no manifest claims
  — a crash between the append and the commit marker rolls back to the
  previous epoch and Structured Streaming replays it. One table, no
  derived stats: the simplest instantiation of the protocol.

Semantics: latest row per key by ``seq_cols`` (ties broken by the later
``seq_cols`` entries — supply a total order, e.g. (seq, change_id));
if ``op_col`` is given, a key whose latest row carries ``delete_op`` is
absent from the snapshot. Changes WITHIN one batch are ordered by the
same columns — a batch carrying three versions of a key lands all
three in the log and the view picks the latest, identical to a
sequential one-change-per-batch feed (pinned in
tests/test_streaming_upsert.py).

Scale shape at 100 TB: the log grows by exactly the change volume;
the snapshot read is one Exchange-free window over the bucketed log;
compaction bounds the read amplification (log size → live-key size)
and is itself one bucketed scan + one bucketed write. Reference
anchor: the keyed latest-value state of streaming/state.py made
DURABLE — the reference's in-memory per-key state (SURVEY §2.3 G2)
with the index-sink discipline of the dedup loop.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stream_sentinel_spark.streaming.exactly_once import (
    log_entries,
    start_foreach_batch,
)
from stream_sentinel_spark.streaming.sources import INGEST_COL


def _log_table(table: str) -> str:
    return f"{table}_log"


def read_upsert_snapshot(
    spark: SparkSession,
    table: str,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "D",
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The current snapshot: latest-wins merge over the bucketed log.
    The window's partitioning is satisfied by the bucketed scan — no
    Exchange (plan-asserted in tests); only the per-bucket sort runs.

    ``as_of_epoch=E`` is EPOCH TIME TRAVEL: the snapshot exactly as it
    stood after epoch E committed (only change rows stamped ≤ E enter
    the merge) — the epoch-axis sibling of the SCD2 view's
    sequence-axis as-of. The filter rides the same bucketed scan, so
    the plan shape is unchanged; retention is the compaction horizon,
    as for every historical read."""
    from stream_sentinel_spark.operators.cdc import merge_latest

    log_df = spark.table(_log_table(table))
    if as_of_epoch is not None:
        log_df = log_df.filter(F.col("_epoch") <= int(as_of_epoch))
    return merge_latest(
        log_df.drop("_epoch"),
        list(key_cols), list(seq_cols), op_col=op_col, delete_op=delete_op,
    )


def read_upsert_history(
    spark: SparkSession,
    table: str,
    key_cols: Sequence[str],
    seq_col: str,
    attr_cols: Sequence[str],
    tiebreak_cols: Sequence[str] | None = None,
) -> DataFrame:
    """The SCD2 HISTORY view over the same log: because the log IS the
    change history, type-2 validity intervals fall out as a second read
    of the identical storage (``cdc.scd2`` over the bucketed log — the
    key window again plans without an Exchange). One loop, two views:
    ``read_upsert_snapshot`` answers "what is current", this answers
    "what was true as of seq S" (filter
    ``valid_from <= S AND (valid_to IS NULL OR valid_to > S)``).

    History horizon = compaction cadence: ``compact_upsert_log``
    rewrites the log to live rows only, truncating history before the
    compaction point — exactly the Hudi/Iceberg expire-snapshots
    trade (retention is the compaction schedule, documented, not an
    accident). Run history reads before compacting, or compact on the
    retention boundary."""
    from stream_sentinel_spark.operators.cdc import scd2

    return scd2(
        spark.table(_log_table(table)).drop("_epoch"),
        list(key_cols), seq_col, list(attr_cols),
        tiebreak_cols=list(tiebreak_cols) if tiebreak_cols else None,
    )


def _committed_log_df(
    spark: SparkSession, table: str, commit_log_dir: str | None
) -> DataFrame:
    """The log restricted to the data files the latest COMMITTED
    manifest claims — the read surface under which an uncommitted
    (crashed) epoch's files cannot exist. Files are read under the
    CURRENT table schema (pre-evolution files surface widened columns
    as NULL). Without a commit log, the whole log table. Shared by the
    change feed and the aggregate-delta read."""
    from stream_sentinel_spark.streaming.manifest import latest_manifest

    log = _log_table(table)
    if commit_log_dir is None:
        return spark.table(log)
    manifest = latest_manifest(spark, commit_log_dir)
    entry = (manifest or {}).get("tables", {}).get(log)
    if entry is None:
        if not spark.catalog.tableExists(log):
            raise ValueError(
                f"upsert table {table!r}: no committed epochs and no "
                "log table — nothing to read changes from"
            )
        return spark.table(log).limit(0)
    loc = entry["location"].rstrip("/")
    files = [f"{loc}/{name}" for name in entry["files"]]
    schema = spark.table(log).schema
    return (
        spark.read.schema(schema).parquet(*files)
        if files
        else spark.table(log).limit(0)
    )


def upsert_agg_delta(
    spark: SparkSession,
    table: str,
    since_epoch: int,
    *,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    group_col: str,
    value_col: str,
    op_col: str | None = None,
    delete_op: str = "D",
    commit_log_dir: str | None = None,
    until_epoch: int | None = None,
) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the change feed:
    the per-group delta of ``SUM(value_col)`` (plus changed-key
    presence counts) between the snapshot as of epoch ``since_epoch``
    and the current snapshot — computed from the CHANGED KEYS only,
    never by re-aggregating either snapshot. A downstream aggregate
    materialized at epoch E plus this delta equals the aggregate over
    the current snapshot (pinned in tests/test_streaming_upsert.py):
    ``agg_current(g) = agg_at_E(g) + delta_sum(g)``.

    Semantics per changed key (a key with any committed change row
    after E): its as-of-E state contributes ``−value`` to its OLD
    group, its current state ``+value`` to its NEW group — so updates,
    group moves, deletes (no current state), and inserts (no old
    state) all fall out of the same two-sided aggregation. Groups whose
    net delta is zero still appear when a changed key touches them
    (deterministic output, oracle-reproducible). Sum ``value_col`` in
    DECIMAL for exact, order-insensitive deltas (the corpus money
    convention).

    Output: ``(group_col, delta_sum, n_keys_new, n_keys_old)`` where
    the counts are changed keys present in the current / as-of-E state
    of that group.

    With ``commit_log_dir`` both sides read the SAME committed file
    inventory (:func:`_committed_log_df`), so a concurrently appending
    loop cannot tear the read (feed and snapshot agree on the manifest
    the call observed). Retention: the as-of-E side needs pre-E
    versions to still exist — run the delta on the compaction cadence,
    exactly like the feed (:func:`read_upsert_changes` documents the
    warning).

    ``until_epoch=U`` bounds the delta to the half-open epoch window
    ``(since, until]`` — the "new" side is the snapshot AS OF epoch U
    and only keys changed within the window count as changed. This is
    what makes the delta PAGEABLE: a consumer applying the feed in
    epoch-aligned pages (:func:`follow_upsert_changes`) computes each
    page's delta against the same boundaries it committed, and the
    page deltas telescope — delta(E0,E1) + delta(E1,E2) = delta(E0,E2)
    exactly (DECIMAL sums), which is the invariant
    :func:`maintain_agg_view` rides.

    Scale shape at 100 TB: one scan of the bucketed log; the
    changed-key set is O(feed) and semi-joins the log on its bucket
    key (the log side never shuffles); both latest-wins merges run
    over only the touched keys' rows; the final aggregation is over
    O(changed keys) rows grouped by ``group_col``. Nothing re-reads
    the unchanged part of the view — the whole point of maintaining
    incrementally instead of recomputing.
    """
    from stream_sentinel_spark.operators.cdc import merge_latest

    log_df = _committed_log_df(spark, table, commit_log_dir)
    if until_epoch is not None:
        log_df = log_df.filter(F.col("_epoch") <= int(until_epoch))
    changed = (
        log_df.filter(F.col("_epoch") > int(since_epoch))
        .select(*key_cols)
        .distinct()
    )
    touched = log_df.join(changed, list(key_cols), "left_semi")
    old = merge_latest(
        touched.filter(F.col("_epoch") <= int(since_epoch)).drop("_epoch"),
        list(key_cols), list(seq_cols), op_col=op_col, delete_op=delete_op,
    )
    new = merge_latest(
        touched.drop("_epoch"),
        list(key_cols), list(seq_cols), op_col=op_col, delete_op=delete_op,
    )
    v = F.col(value_col)
    signed = new.select(
        F.col(group_col), v.alias("_v"), F.lit(1).alias("_new"),
        F.lit(0).alias("_old"),
    ).unionByName(
        old.select(
            F.col(group_col), (-v).alias("_v"), F.lit(0).alias("_new"),
            F.lit(1).alias("_old"),
        )
    )
    return signed.groupBy(group_col).agg(
        F.sum("_v").alias("delta_sum"),
        F.sum("_new").cast("bigint").alias("n_keys_new"),
        F.sum("_old").cast("bigint").alias("n_keys_old"),
    )


def read_upsert_changes(
    spark: SparkSession,
    table: str,
    since_epoch: int,
    *,
    until_epoch: int | None = None,
    commit_log_dir: str | None = None,
    seq_cols: Sequence[str] | None = None,
) -> DataFrame:
    """The INCREMENTAL (change-feed) read — the third leg of the
    Hudi/Iceberg CDC triangle next to :func:`read_upsert_snapshot`
    (current state) and :func:`read_upsert_history` (SCD2): exactly the
    change rows of COMMITTED epochs strictly greater than
    ``since_epoch`` (and, with ``until_epoch``, at most it — the
    half-open window ``(since, until]`` a consumer uses to page the
    feed in epoch-aligned, re-readable batches), with their ``_epoch``
    stamp, ordered by ``(_epoch, *seq_cols)`` when ``seq_cols`` is
    given. A downstream
    consumer that holds the snapshot as of epoch E and merges this feed
    on top reaches the current snapshot exactly (pinned in
    tests/test_streaming_upsert.py).

    With ``commit_log_dir`` the read is MANIFEST-DRIVEN: the latest
    committed manifest inventories the log's data files, so the scan
    lists only those — an epoch whose append succeeded but whose commit
    marker never landed (a crash) can never surface in the feed, even
    before loop-start recovery deletes its files. No log-table scan is
    filtered down: the file list IS the committed set, and the
    ``_epoch > E`` predicate prunes within it (each epoch's rows carry
    the stamp the loop wrote at append time). Files are read under the
    CURRENT table schema, so pre-evolution files surface the widened
    columns as NULL — the same merge-on-read backfill every other view
    applies. Without ``commit_log_dir`` the feed reads the catalog
    table directly (callers driving epochs as plain batch functions
    have no uncommitted-file window to exclude).

    Retention: compaction (:func:`compact_upsert_log`) rewrites the log
    to the horizon's baseline + post-horizon rows, so change rows of
    epochs at-or-before the last compaction may be collapsed — the same
    retention trade the history view documents. When the commit log
    shows a post-``since_epoch`` rewrite snapshot (a compaction or
    recovery ``snap-*`` entry), a ``UserWarning`` flags that the feed
    may be incomplete for that range; read the feed on the compaction
    cadence (or set ``compact_horizon``) to avoid it.

    Scale shape: the feed slice is O(change volume since E) — the epoch
    stamp is a plain column, so at 100 TB the predicate prunes with
    parquet row-group stats (epochs are append-ordered within files);
    nothing rewrites, nothing shuffles except the optional final sort
    of the (incremental-sized) slice.
    """
    import warnings

    df = _committed_log_df(spark, table, commit_log_dir)
    if commit_log_dir is not None:
        rewrites = [
            e
            for (e, k) in log_entries(spark, commit_log_dir)
            if k >= 1 and e > since_epoch
        ]
        if rewrites:
            warnings.warn(
                f"upsert table {table!r}: the commit log records a log "
                f"rewrite (compaction/recovery snapshot) at epoch"
                f"{'s' if len(rewrites) > 1 else ''} "
                f"{sorted(set(rewrites))} after since_epoch="
                f"{since_epoch} — change rows at or before the rewrite "
                "horizon may be collapsed to their latest versions. "
                "Read the change feed on the compaction cadence for a "
                "complete feed.",
                UserWarning,
                stacklevel=2,
            )
    out = df.filter(F.col("_epoch") > int(since_epoch))
    if until_epoch is not None:
        # bounded window (since, until]: lets a consumer page the feed
        # in epoch-aligned batches and re-read any batch byte-identically
        out = out.filter(F.col("_epoch") <= int(until_epoch))
    if seq_cols:
        out = out.orderBy("_epoch", *seq_cols)
    return out


# ---------------------------------------------------------------------------
# downstream consumers of the change feed
# ---------------------------------------------------------------------------

_OFFSET_PREFIX = "consumer-offset-"


def _offset_markers(spark: SparkSession, consumer_dir: str) -> list[int]:
    from stream_sentinel_spark.streaming.exactly_once import _hadoop_fs

    fs, d = _hadoop_fs(spark, consumer_dir)
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith(_OFFSET_PREFIX):
            try:
                out.append(int(name[len(_OFFSET_PREFIX):]))
            except ValueError:
                continue
    return out


def read_consumer_offset(spark: SparkSession, consumer_dir: str) -> int:
    """The consumer's durable position: the highest epoch it has fully
    processed (``INIT_EPOCH`` = −1 before the first page — every
    committed epoch is > −1, so a fresh consumer reads the feed from
    the beginning). Stored as monotonically-named marker files
    (``consumer-offset-{epoch}``, highest wins) rather than one file
    rewritten in place: each advance is a pure atomic-rename CREATE —
    there is never a moment with no offset on disk, and a crash between
    the new marker and the old one's cleanup just leaves a stale lower
    marker that max() ignores."""
    from stream_sentinel_spark.streaming.manifest import INIT_EPOCH

    markers = _offset_markers(spark, consumer_dir)
    return max(markers) if markers else INIT_EPOCH


def commit_consumer_offset(
    spark: SparkSession, consumer_dir: str, epoch: int
) -> None:
    """Atomically advance the consumer offset (write-temp + rename of a
    NEW marker — the same primitive as the producer's commit log), then
    best-effort prune the superseded markers."""
    from stream_sentinel_spark.streaming.exactly_once import (
        delete_entry,
        write_atomic,
    )

    epoch = int(epoch)
    write_atomic(
        spark, consumer_dir, f"{_OFFSET_PREFIX}{epoch}", {"epoch": epoch}
    )
    for old in _offset_markers(spark, consumer_dir):
        if old < epoch:
            delete_entry(spark, consumer_dir, f"{_OFFSET_PREFIX}{old}")


def consumer_lag(
    spark: SparkSession, commit_log_dir: str, consumer_dir: str
) -> dict:
    """Monitoring surface for a feed consumer: the producer's latest
    committed epoch, this consumer's offset, and the lag between them
    (in epochs — the unit both sides commit in). Two directory
    listings, no data read; the number an operator alerts on, exactly
    like Kafka consumer-group lag."""
    from stream_sentinel_spark.streaming.manifest import INIT_EPOCH

    committed = [
        e for (e, k) in log_entries(spark, commit_log_dir) if k == 0 and e >= 0
    ]
    latest = max(committed, default=INIT_EPOCH)
    offset = read_consumer_offset(spark, consumer_dir)
    return {
        "latest_epoch": latest,
        "offset": offset,
        "lag_epochs": max(0, latest - offset),
    }


def follow_upsert_changes(
    spark: SparkSession,
    table: str,
    *,
    commit_log_dir: str,
    consumer_dir: str,
    process: Callable[[DataFrame, int, int], None],
    max_epochs_per_page: int | None = None,
    seq_cols: Sequence[str] | None = None,
) -> list[tuple[int, int]]:
    """FOLLOW the change feed as a durable downstream consumer: page
    the committed feed from the consumer's offset to the producer's
    latest committed epoch, calling ``process(page_df, since, until)``
    per half-open page ``(since, until]`` and atomically advancing the
    offset AFTER each page's processing returns. Call it on any
    cadence (each call drains to the latest commit and returns the
    ``(since, until]`` pages it processed); the producer keeps
    appending concurrently — a page never includes epochs beyond the
    manifest observed at ITS read, so the consumer can never see a
    torn or uncommitted epoch.

    Delivery contract: **at-least-once, exactly-once for idempotent
    consumers.** The offset advances only after ``process`` returns,
    so a crash re-delivers the same page on the next call — and the
    page is epoch-aligned and manifest-driven
    (:func:`read_upsert_changes` with ``until_epoch``), so the re-read
    is IDENTICAL row-for-row. A consumer that writes to a destination
    keyed by the page bounds (overwrite-by-page, or the replay guard
    :func:`maintain_agg_view` uses) therefore achieves exactly-once
    without any coordination with the producer.

    ``max_epochs_per_page`` caps each page's epoch span (default: one
    page to the latest commit) — bounding per-page memory/latency the
    way a Kafka consumer bounds ``max.poll.records``. Page boundaries
    are epoch NUMBERS, so a page may carry fewer epochs than the cap
    when some epochs were empty (no append → no rows, the boundary is
    still exact).

    Retention contract is the feed's: consume on the compaction
    cadence, or set ``compact_horizon`` so pre-horizon history
    survives until every consumer has passed it — the feed read warns
    when a post-offset rewrite is on record.

    Scale shape: each page is one O(page change volume) feed read plus
    the consumer's own work; the offset commit is one small rename.
    Nothing scans the full log, nothing blocks the producer."""
    if max_epochs_per_page is not None and max_epochs_per_page < 1:
        raise ValueError(
            f"max_epochs_per_page must be >= 1, got {max_epochs_per_page}"
        )
    committed = [e for (e, k) in log_entries(spark, commit_log_dir) if k == 0]
    latest = max((e for e in committed if e >= 0), default=None)
    offset = read_consumer_offset(spark, consumer_dir)
    pages: list[tuple[int, int]] = []
    if latest is None:
        return pages
    while offset < latest:
        until = (
            min(latest, offset + max_epochs_per_page)
            if max_epochs_per_page is not None
            else latest
        )
        page = read_upsert_changes(
            spark, table, offset,
            until_epoch=until, commit_log_dir=commit_log_dir,
            seq_cols=seq_cols,
        )
        process(page, offset, until)
        commit_consumer_offset(spark, consumer_dir, until)
        pages.append((offset, until))
        offset = until
    return pages


def read_agg_view(spark: SparkSession, view: str) -> DataFrame:
    """The maintained aggregate view (see :func:`maintain_agg_view`),
    healed first if a maintenance swap crashed mid-rename. Groups whose
    last live key left keep a row with ``n_keys = 0`` (filter
    ``n_keys > 0`` for the live view) — retaining them keeps the view
    deterministic and every page apply a pure upsert."""
    from stream_sentinel_spark.sources.bucketing import recover_compaction

    recover_compaction(spark, view)
    return spark.table(view)


def _view_asof(spark: SparkSession, view: str) -> int:
    from stream_sentinel_spark.streaming.manifest import INIT_EPOCH

    if not spark.catalog.tableExists(view):
        return INIT_EPOCH
    row = spark.table(view).select(F.max("_asof_epoch")).head()
    return INIT_EPOCH if row is None or row[0] is None else int(row[0])


def maintain_agg_view(
    spark: SparkSession,
    table: str,
    view: str,
    *,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    group_col: str,
    value_col: str,
    op_col: str | None = None,
    delete_op: str = "D",
    commit_log_dir: str,
    consumer_dir: str,
    max_epochs_per_page: int | None = None,
) -> list[tuple[int, int]]:
    """EXACTLY-ONCE incremental materialized-view maintenance: keep a
    downstream per-group ``SUM(value_col)`` aggregate table ``view``
    current from the upsert log's change feed, applying
    :func:`upsert_agg_delta` page deltas through
    :func:`follow_upsert_changes` — never re-aggregating the snapshot.
    The view holds ``(group_col, total, n_keys, _asof_epoch)`` where
    ``n_keys`` is the group's live key count and ``_asof_epoch`` the
    epoch the view reflects; after any number of calls interleaved
    with producer epochs, ``view ≡ GROUP BY over the current
    snapshot`` (pinned in tests/test_streaming_upsert.py). A fresh
    consumer bootstraps for free: the first page's delta is against
    the empty epoch −1 snapshot, i.e. the full aggregate.

    Exactly-once across ANY crash point, with no producer
    coordination, from three idempotent pieces:

    1. the page delta is a pure function of the immutable committed
       window ``(since, until]`` (re-reads are identical);
    2. the view swap is atomic (write ``{view}__compacting`` fully,
       DROP + RENAME — :func:`~stream_sentinel_spark.sources.bucketing.recover_compaction`
       heals a mid-swap crash at the next read or apply);
    3. the ``_asof_epoch`` stamp in the view is the REPLAY GUARD: a
       re-delivered page (crash after the swap, before the offset
       commit) finds ``view._asof_epoch >= until`` and skips the
       apply, committing only the offset — the one crash window the
       offset file alone cannot close.

    Zero-key groups stay as ``(group, 0, 0, asof)`` rows rather than
    being deleted — the view write stays a deterministic pure function
    of (previous view, page delta), and DECIMAL totals make the zeros
    exact. Single maintainer per view (the offset file serializes
    consumers of one ``consumer_dir``; two dirs on one view would
    double-apply).

    Scale shape: page delta cost is the delta's (O(changed keys), log
    never shuffles); the view rewrite is O(|groups|) — a maintained
    aggregate is small by construction, or it wouldn't be worth
    materializing. Returns the pages applied."""

    def apply_page(page_df: DataFrame, since: int, until: int) -> None:
        if _view_asof(spark, view) >= until:
            return  # replay of an already-applied page: offset-only
        delta = upsert_agg_delta(
            spark, table, since,
            key_cols=key_cols, seq_cols=seq_cols, group_col=group_col,
            value_col=value_col, op_col=op_col, delete_op=delete_op,
            commit_log_dir=commit_log_dir, until_epoch=until,
        ).select(
            F.col(group_col),
            F.col("delta_sum").alias("_d_total"),
            (F.col("n_keys_new") - F.col("n_keys_old")).alias("_d_keys"),
        )
        # pin the total's type to the delta aggregate's (SUM over the
        # value column): decimal addition widens precision per apply,
        # and a view whose schema drifts page-over-page would not be a
        # pure function of its inputs
        total_type = delta.schema["_d_total"].dataType
        if spark.catalog.tableExists(view):
            cur = spark.table(view).select(group_col, "total", "n_keys")
            merged = cur.join(delta, [group_col], "full_outer").select(
                F.col(group_col),
                (
                    F.coalesce(F.col("total"), F.lit(0))
                    + F.coalesce(F.col("_d_total"), F.lit(0))
                ).cast(total_type).alias("total"),
                (
                    F.coalesce(F.col("n_keys"), F.lit(0))
                    + F.coalesce(F.col("_d_keys"), F.lit(0))
                ).cast("bigint").alias("n_keys"),
            )
        else:
            merged = delta.select(
                F.col(group_col),
                F.col("_d_total").alias("total"),
                F.col("_d_keys").cast("bigint").alias("n_keys"),
            )
        merged = merged.withColumn(
            "_asof_epoch", F.lit(int(until)).cast("bigint")
        )
        from stream_sentinel_spark.sources.bucketing import (
            recover_compaction,
            swap_table,
            write_plain,
        )

        recover_compaction(spark, view)
        # the tmp build reads the live view — materialize it fully
        # before the swap so the DROP can't pull files out from under
        # a lazy plan. coalesce(1): the view is O(|groups|) small by
        # construction, and the shuffle-partition-count of the merge
        # join otherwise fans it into dozens of near-empty files that
        # every subsequent page's read and swap re-lists
        pinned = merged.coalesce(1).localCheckpoint(eager=True)
        swap_table(spark, view, lambda tmp: write_plain(pinned, tmp))

    # heal a swap that crashed mid-rename BEFORE reading the offset:
    # the replay guard consults the view's stamp
    from stream_sentinel_spark.sources.bucketing import recover_compaction

    recover_compaction(spark, view)
    return follow_upsert_changes(
        spark, table,
        commit_log_dir=commit_log_dir, consumer_dir=consumer_dir,
        process=apply_page, max_epochs_per_page=max_epochs_per_page,
    )


def compact_upsert_log(
    spark: SparkSession,
    table: str,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "D",
    keep_since=None,
    num_buckets: int | None = None,
) -> int:
    """Merge-rewrite the log. With ``keep_since=None`` (the default)
    the rewrite keeps exactly the live snapshot rows (latest version per
    key; superseded versions AND delete tombstones dropped — after the
    rewrite nothing older remains for a tombstone to mask).

    With ``keep_since=S`` (compared against ``seq_cols[0]``) the rewrite
    is a RETENTION-HORIZON compaction: every version with seq >= S
    survives verbatim, plus — per key — the latest version with
    seq < S (the key's state as of the horizon; dropped if it is a
    tombstone, which masks nothing once everything older is gone). The
    merged snapshot is identical either way, and ``read_upsert_history``
    as-of reads at any point >= S are preserved — only history strictly
    before the horizon is truncated. This is Hudi/Iceberg
    expire-snapshots with a configured retention point rather than
    all-or-nothing.

    ``num_buckets`` RE-BUCKETS during the rewrite — layout evolution
    for a log that outgrew its original bucket count (per-bucket file size is the compaction
    read/write unit, so at 100 TB bucket count tracks table size the
    way Iceberg evolves partition specs). The rewrite is the one moment
    re-bucketing is free: the data is being rewritten anyway, and every
    downstream plan property (Exchange-free snapshot/history/feed
    merges) holds under the NEW count because the bucket spec, not the
    number, is what the plans ride. An explicit count is persisted as
    the log's bucket policy. ``None`` (the default) follows the policy
    the log was created with: an auto-sized log (the loop's
    ``num_buckets=None``) is re-sized to its SURVIVING rows —
    superseded versions and expired history are not counted — and an
    explicitly sized one keeps its count.

    Same swap-and-recover discipline as ``compact_bucketed``; no
    lineage pinning is needed — ``write_bucketed`` fully materializes
    the tmp table before the DROP, so the rewrite's source files outlive
    every read of it. Returns the post-compaction data-file count
    (≤ num_buckets)."""
    from stream_sentinel_spark.operators.cdc import merge_latest
    from stream_sentinel_spark.sources.bucketing import (
        auto_num_buckets,
        recover_compaction,
        swap_table,
        table_num_buckets,
        write_bucketed,
    )

    log = _log_table(table)
    recover_compaction(spark, log)
    policy = "explicit" if num_buckets is not None else _bucket_policy(spark, log)
    if num_buckets is None:
        num_buckets = table_num_buckets(spark, log)
    if keep_since is None:
        kept = merge_latest(
            spark.table(log), list(key_cols), list(seq_cols),
            op_col=op_col, delete_op=delete_op,
        )
    else:
        log_df = spark.table(log)
        horizon = F.col(seq_cols[0]) >= F.lit(keep_since)
        # baseline: per-key state as of the horizon (filter on a bucketed
        # scan preserves its partitioning — the merge window stays
        # Exchange-free, same plan shape as the snapshot read)
        baseline = merge_latest(
            log_df.filter(~horizon), list(key_cols), list(seq_cols),
            op_col=op_col, delete_op=delete_op,
        )
        kept = baseline.unionByName(log_df.filter(horizon))
    if policy == "auto":
        num_buckets = auto_num_buckets(kept.count())

    def rewrite(tmp: str) -> None:
        write_bucketed(kept, tmp, list(key_cols), num_buckets, align=True)
        _set_bucket_policy(spark, tmp, policy)

    swap_table(spark, log, rewrite)
    return len(spark.table(log).inputFiles())


_BUCKET_POLICY = "sentinel.num_buckets"


def _bucket_policy(spark: SparkSession, log: str) -> str:
    """``"auto"`` for a log created with ``num_buckets=None``; else
    ``"explicit"`` (also for logs older than the property)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {log}").collect()
    auto = any(r.key == _BUCKET_POLICY and r.value == "auto" for r in rows)
    return "auto" if auto else "explicit"


def _set_bucket_policy(spark: SparkSession, log: str, policy: str) -> None:
    spark.sql(
        f"ALTER TABLE {log} SET TBLPROPERTIES ('{_BUCKET_POLICY}' = '{policy}')"
    )


def _align_log_schema(
    spark: SparkSession, log: str, batch: DataFrame
) -> DataFrame:
    """Schema evolution at the append site: columns the batch carries
    that the log lacks are ADDED to the log table (``ALTER TABLE ADD
    COLUMNS`` — a metadata-only operation; parquet files written before
    the widening simply lack the column and read as NULL, which is the
    merge-on-read null backfill), and columns the log carries that the
    batch lacks are backfilled as typed NULLs so the append matches the
    (possibly widened) table schema column-for-column. Key and sequence
    columns always exist on both sides — they are the loop's contract.
    Existing columns must keep their type: a changed type raises (type
    evolution would corrupt latest-wins comparisons, not just widen)."""
    # Case-insensitive name matching: the metastore resolves column
    # names case-insensitively (spark.sql.caseSensitive=false default),
    # so a batch column differing only in case from a log column is the
    # SAME column — treating it as new would hand ALTER TABLE a
    # duplicate and fail with an opaque AnalysisException instead of
    # this module's contract errors.
    log_fields = {f.name.lower(): f for f in spark.table(log).schema.fields}
    new_fields = [
        f for f in batch.schema.fields if f.name.lower() not in log_fields
    ]
    for f in batch.schema.fields:
        have = log_fields.get(f.name.lower())
        if have is not None and have.dataType != f.dataType:
            raise ValueError(
                f"upsert log {log!r}: column {f.name!r} arrived as "
                f"{f.dataType.simpleString()} but the log stores "
                f"{have.dataType.simpleString()} — schema evolution "
                "adds columns, it never retypes them"
            )
    if new_fields:
        # Backtick-quote the names: a column like `order count` or a
        # reserved word is legal in a DataFrame schema and must survive
        # the round-trip through DDL text (embedded backticks escape by
        # doubling, the standard Spark identifier rule).
        def _q(name: str) -> str:
            return "`" + name.replace("`", "``") + "`"

        ddl = ", ".join(
            f"{_q(f.name)} {f.dataType.simpleString()}" for f in new_fields
        )
        spark.sql(f"ALTER TABLE {log} ADD COLUMNS ({ddl})")
        spark.catalog.refreshTable(log)
    widened = spark.table(log).schema
    out = batch
    # Same case-insensitive resolution on the backfill: a batch column
    # differing only in case is renamed to the log's canonical casing
    # (a case-sensitive `withColumn` here would silently NULL it out).
    have = {c.lower(): c for c in out.columns}
    for f in widened.fields:
        cur = have.get(f.name.lower())
        if cur is None:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        elif cur != f.name:
            out = out.withColumnRenamed(cur, f.name)
    return out.select(*[f.name for f in widened.fields])


def make_upsert_batch_fn(
    *,
    table: str,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "D",
    num_buckets: int | None = None,
    commit_log_dir: str | None = None,
    refresh_session: SparkSession | None = None,
    compact_every: int | None = None,
    evolve_schema: bool = False,
    compact_horizon: Callable[[DataFrame], object] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body: append the batch's change rows to the
    bucketed ``{table}_log`` (creating it on the first non-empty batch),
    commit the epoch manifest, optionally merge-compact every Nth
    append. Exposed separately so tests and batch backfills can drive
    epochs without a streaming query — same convention as
    ``make_dedup_ingest_batch_fn``.

    ``evolve_schema=True`` accepts batches that ADD columns (the
    production CDC reality — a source table gains a column and the
    change stream widens; in Structured Streaming this arrives via a
    query RESTART with the wider schema, since one running query's
    schema is fixed): the log table is widened in place
    (:func:`_align_log_schema` — ALTER TABLE ADD COLUMNS, a metadata
    operation), pre-evolution files read the new column as NULL
    (merge-on-read null backfill), and narrower late batches are
    backfilled with typed NULLs at write. Off by default: an unexpected
    schema change should fail loudly unless evolution is opted into.

    ``compact_horizon``: retention policy for the IN-LOOP compactions —
    a callable receiving the current LOG frame and returning the
    ``keep_since`` sequence point for :func:`compact_upsert_log` (e.g.
    ``lambda log: log.agg(F.max("seq")).head()[0] - 100`` for "keep the
    last 100 sequence units of history"; the policy is domain-defined
    because ``seq_cols[0]`` is). Returning None compacts to live rows
    only (the default, history-truncating behavior). The callable runs
    only at compaction points, never on the append hot path."""
    from stream_sentinel_spark.sources.bucketing import (
        auto_num_buckets,
        recover_compaction,
        table_num_buckets,
        write_bucketed,
    )
    from stream_sentinel_spark.streaming.manifest import EpochProtocol

    log = _log_table(table)

    def compact(spark: SparkSession) -> None:
        keep_since = None
        if compact_horizon is not None:
            keep_since = compact_horizon(spark.table(log))
        compact_upsert_log(
            spark, table, key_cols, seq_cols, op_col=op_col,
            delete_op=delete_op, keep_since=keep_since,
        )

    protocol = EpochProtocol(
        commit_log_dir,
        tables=[log],
        compact_every=compact_every,
        maintain=compact,
        refresh_session=refresh_session,
        job_prefix="upsert",
    )

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession

        def work(_label) -> bool:
            # Heal a compaction that crashed between DROP and RENAME
            # before ANY tableExists check: without this, the unbound-log
            # window would make the append below recreate the log with
            # mode='overwrite', silently discarding all pre-crash state —
            # and compact_every WITHOUT commit_log_dir has no other
            # recovery path (with commit_log_dir, loop-start recovery
            # also heals it, but a same-process mid-loop compaction
            # failure would not restart the loop). Idempotent, two
            # catalog lookups.
            recover_compaction(spark, log)
            payload = [c for c in batch_df.columns if c != INGEST_COL]
            if any(c.lower() == "_epoch" for c in payload):
                # the loop OWNS the provenance stamp; silently
                # overwriting a user column of the same name would
                # corrupt their data and the feed's epoch filter at once
                raise ValueError(
                    "upsert change stream carries a column named '_epoch' "
                    "— that name is reserved for the loop's provenance "
                    "stamp (the change feed and aggregate delta filter on "
                    "it); rename the source column"
                )
            batch = (
                batch_df.select(*payload)
                .withColumn("_epoch", F.lit(int(epoch_id)))
                .localCheckpoint(eager=True)
            )
            if not batch.take(1):
                return False
            exists = spark.catalog.tableExists(log)
            if exists and evolve_schema:
                batch = _align_log_schema(spark, log, batch)
            # appends follow the TABLE's current bucket spec, not the
            # configured one: a re-bucketing compaction (layout
            # evolution) or a loop restarted with a different setting
            # must keep appending into the live layout. At creation,
            # num_buckets=None sizes the count to the first batch
            # (auto_num_buckets): a fixed 32 over gate-sized epochs
            # wrote 32 near-empty files per append, and once the log
            # crossed the ~32-path parallel-listing threshold every
            # page read of the change feed paid a distributed
            # file-listing JOB. The choice is persisted with the log
            # (compact_upsert_log re-sizes auto-sized logs only).
            nb = (
                table_num_buckets(spark, log)
                if exists
                else (
                    num_buckets
                    if num_buckets is not None
                    else auto_num_buckets(batch.count())
                )
            )
            write_bucketed(
                batch, log, list(key_cols), nb,
                mode="append" if exists else "overwrite", align=True,
            )
            if not exists:
                _set_bucket_policy(
                    spark, log, "explicit" if num_buckets is not None else "auto"
                )
            return True

        protocol(spark, epoch_id, work)

    return run


def recover_upsert_ingest(
    spark: SparkSession,
    *,
    table: str,
    commit_log_dir: str,
    refresh_session: SparkSession | None = None,
) -> dict:
    """Restore a possibly-crashed upsert loop's log to exactly its last
    committed epoch (orphan-file deletion + crash-interrupted compaction
    finish — streaming/manifest.py). Idempotent; run before (re)starting
    the loop — :func:`run_upsert_ingest` does so automatically.

    Unlike the dedup loop's index (built BEFORE the loop), the log is
    created by the first non-empty batch, which adds one crash state the
    generic recovery can't see: a crash after the first append but
    before the first commit leaves a log table NO manifest mentions.
    The init snapshot written at loop start pins the disambiguation — a
    pre-existing log is recorded there (the adoption path for resuming
    into an existing log), so a log that exists while the latest
    manifest lacks it can ONLY be the uncommitted first epoch; recovery
    drops it whole and the offset checkpoint replays the epoch."""
    from stream_sentinel_spark.streaming.manifest import (
        latest_manifest,
        recover_ingest_state,
    )

    from stream_sentinel_spark.sources.bucketing import recover_compaction

    log = _log_table(table)
    recover_compaction(spark, log)
    if spark.catalog.tableExists(log):
        manifest = latest_manifest(spark, commit_log_dir)
        if manifest is not None and log not in manifest.get("tables", {}):
            spark.sql(f"DROP TABLE {log}")
            spark.sql(f"DROP TABLE IF EXISTS {log}__compacting")
    # listed even when absent: snapshots skip a log not created yet
    return recover_ingest_state(
        spark,
        commit_log_dir,
        append_tables=[log],
        refresh_session=refresh_session,
    )


def run_upsert_ingest(
    stream_df: DataFrame,
    *,
    checkpoint_location: str,
    query_name: str = "sentinel-upsert-ingest",
    available_now: bool = False,
    **batch_kwargs,
) -> StreamingQuery:
    """Start the streaming upsert loop over ``stream_df`` (a change
    stream carrying the key, sequence and payload columns).
    ``batch_kwargs`` go to :func:`make_upsert_batch_fn`. With a
    ``commit_log_dir``, recovery runs before the query starts — same
    contract as :func:`run_dedup_ingest`."""
    batch_kwargs.setdefault("refresh_session", stream_df.sparkSession)
    if batch_kwargs.get("commit_log_dir") is not None:
        recover_upsert_ingest(
            stream_df.sparkSession,
            table=batch_kwargs["table"],
            commit_log_dir=batch_kwargs["commit_log_dir"],
        )
    return start_foreach_batch(
        stream_df, make_upsert_batch_fn(**batch_kwargs),
        checkpoint_location=checkpoint_location, query_name=query_name,
        available_now=available_now,
    )
