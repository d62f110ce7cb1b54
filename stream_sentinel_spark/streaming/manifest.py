"""Epoch-manifest commit protocol — atomic multi-table appends for the
dedup ingest loop (index tables ``_bands`` / ``_verify``-or-``_vecs`` /
``_bandstats`` plus the accepted and match sinks) and the upsert loop
(its ``_log`` table).

Parquet has no cross-table transaction, so a crash mid-epoch would
leave partial rows behind. This module closes that without a
transactional table format, with the primitive the exactly-once alert
sink already trusts (``exactly_once.commit_epoch``: write-temp + atomic
rename, the one Structured Streaming's own commit log is built on;
reference anchor: the EXACTLY_ONCE checkpoint contract, flink-job
StreamSentinelJob.java:154-165, extended from the alert sink to the
index and log sinks):

1. **Commit = snapshot.** After an epoch's writes succeed, ``epoch-{id}``
   is written with a JSON payload listing, per table and sink path,
   exactly the data files that should exist. One rename makes the epoch
   committed AND records its inventory — a separate marker + manifest
   pair would reopen the replay/double-append race between two writes.
2. **Recovery = delete what no manifest claims.** At loop start,
   :func:`recover_ingest_state` deletes every data file absent from the
   latest snapshot — appends only ADD files with collision-free UUID
   names, so an unclaimed file is an uncommitted epoch's leftover.
   Structured Streaming then replays that epoch against clean storage.
3. **Derivable stats are rebuilt, never trusted after a crash.** The
   ``_bandstats`` count log is overwritten in place by compaction and
   by the rebuild itself; a crash inside that write loses files rather
   than leaving extras, which deletion can't undo. The table is an
   Exchange-free groupBy of the recovered ``_bands``, so recovery
   rebuilds it on any inventory mismatch and, on the
   ``compact-pending`` branch, always.
4. **One protocol for both loops.** :class:`EpochProtocol` runs: replay
   guard → the loop's work → ``epoch-{id}`` commit → every Nth append,
   the ``compact-pending`` marker (old table locations) → the loop's
   maintenance → a ``snap-{id}.{k}`` snapshot → marker cleared.
   Maintenance swaps whole tables, which snapshot-diffing would misread
   as one giant orphan set; the marker routes recovery instead to
   finishing the swap (``recover_compaction``), deleting an abandoned
   old external location, rebuilding the stats and re-snapshotting.
   It only runs after the commit, so the replay guard already holds
   and content is correct in every crash state. Without a commit log
   the same sequence runs with every log step a no-op.
   tests/test_ingest_recovery.py crashes after each of its mutations.

Scale shape: per epoch, one directory listing per grown location (the
listing every match's FileScan already performs) and one small JSON
rename — O(index file count), reset by the same compaction that resets
the match cost; no data is read or moved.

Ordering: ``epoch-{id}`` sorts by ``(id, 0)``, ``snap-{id}.{k}``
(k ≥ 1) by ``(id, k)``; the init snapshot written before the first
epoch is ``epoch--1``. The latest snapshot is the max key. Entries are
written and pruned by the alert commit log's own writer and pruner.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession

from stream_sentinel_spark.streaming.exactly_once import (
    _hadoop_fs,
    commit_epoch,
    delete_entry,
    entry_name,
    is_epoch_committed,
    log_entries,
    write_atomic,
)

#: epoch id of the init snapshot written before the first real epoch
INIT_EPOCH = -1

_PENDING = "compact-pending"


# ---------------------------------------------------------------------------
# filesystem inventory
# ---------------------------------------------------------------------------


def table_location(spark: SparkSession, table: str) -> str:
    """Current storage location of a catalog table — re-derived at
    every snapshot/recovery so a compaction's relocation is always
    observed, never assumed."""
    from stream_sentinel_spark.sources.bucketing import table_meta

    return table_meta(spark, table)[1]


def list_data_files(spark: SparkSession, location: str) -> set[str]:
    """Names of the data files (``part-*``) directly under ``location``.
    Names, not URIs: the location is recorded separately, and names are
    stable across ``file:/`` normalization variants. Spark part-file
    names embed a per-write UUID, so two epochs can never collide on a
    name — which is what makes set-difference a sound orphan detector."""
    fs, p = _hadoop_fs(spark, location)
    if not fs.exists(p):
        return set()
    out = set()
    for st in fs.listStatus(p):
        if st.isFile() and st.getPath().getName().startswith("part-"):
            out.add(st.getPath().getName())
    return out


def _delete_names(spark: SparkSession, location: str, names: set[str]) -> None:
    fs, _ = _hadoop_fs(spark, location)
    jvm = spark.sparkContext._jvm
    for name in sorted(names):
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{location.rstrip('/')}/{name}"), False)


def _delete_staging(spark: SparkSession, location: str) -> int:
    """Remove write-committer leftovers (``_temporary``,
    ``.spark-staging*``) under ``location`` — debris of a crash DURING a
    write job, invisible to readers but unbounded disk if never swept."""
    fs, p = _hadoop_fs(spark, location)
    if not fs.exists(p):
        return 0
    removed = 0
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name == "_temporary" or name.startswith(".spark-staging"):
            fs.delete(st.getPath(), True)
            removed += 1
    return removed


def snapshot_state(
    spark: SparkSession,
    epoch_id: int,
    tables: Sequence[str],
    paths: Sequence[str],
) -> dict:
    """The manifest payload: per existing table (location + data-file
    names) and per sink path (data-file names), as of now. A table not
    created yet (the upsert log before its first append) is absent."""
    locations = {
        t: table_location(spark, t)
        for t in tables
        if spark.catalog.tableExists(t)
    }
    return {
        "epoch": int(epoch_id),
        "tables": {
            t: {"location": loc, "files": sorted(list_data_files(spark, loc))}
            for t, loc in locations.items()
        },
        "paths": {
            p: {"files": sorted(list_data_files(spark, p))} for p in paths
        },
    }


# ---------------------------------------------------------------------------
# the commit log
# ---------------------------------------------------------------------------


def _read_json(spark: SparkSession, log_dir: str, name: str) -> dict | None:
    fs, p = _hadoop_fs(spark, f"{log_dir.rstrip('/')}/{name}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    try:
        parsed = json.loads(data.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    return parsed if isinstance(parsed, dict) else None


def write_snapshot(
    spark: SparkSession,
    log_dir: str,
    epoch_id: int,
    tables: Sequence[str],
    paths: Sequence[str],
    commit: bool = False,
) -> None:
    """Record the current inventory. ``commit=True``: as the epoch's own
    ``epoch-{id}`` entry — ONE rename commits the epoch (the name
    :func:`~stream_sentinel_spark.streaming.exactly_once.is_epoch_committed`
    checks) and records its files. Otherwise as the next
    ``snap-{id}.{k}``, ordered after the epoch's manifest (post-
    compaction / post-recovery snapshots)."""
    snap = snapshot_state(spark, epoch_id, tables, paths)
    if commit:
        commit_epoch(spark, log_dir, epoch_id, snap)
        return
    ks = [k for (e, k) in log_entries(spark, log_dir) if e == int(epoch_id)]
    write_atomic(
        spark, log_dir, entry_name((int(epoch_id), max(ks, default=0) + 1)), snap
    )


def latest_manifest(spark: SparkSession, log_dir: str) -> dict | None:
    """The most recent snapshot payload ((epoch, k)-max), skipping any
    entry whose content isn't a manifest (e.g. a plain alert-sink epoch
    marker sharing the directory)."""
    for key in sorted(log_entries(spark, log_dir), reverse=True):
        payload = _read_json(spark, log_dir, entry_name(key))
        if payload is not None and "tables" in payload:
            return payload
    return None


def write_compact_pending(
    spark: SparkSession, log_dir: str, epoch_id: int, tables: Sequence[str]
) -> None:
    """Intent marker written BEFORE maintenance: its pre-compaction
    table locations let recovery (a) finish the swap and (b) delete a
    relocated table's abandoned old directory."""
    write_atomic(
        spark, log_dir, _PENDING, snapshot_state(spark, epoch_id, tables, ())
    )


# ---------------------------------------------------------------------------
# the epoch protocol
# ---------------------------------------------------------------------------


class EpochProtocol:
    """The epoch sequence (module doc, rule 4), written once for both
    loops. Call it as ``protocol(spark, epoch_id, work)``: ``work(label)``
    runs the epoch's writes and returns whether it appended.

    ``tables`` / ``paths``: what every snapshot inventories.
    ``maintain(spark)``: the compaction body, run after every
    ``compact_every``-th append (an in-process count — a restart moves
    maintenance, never content). ``refresh_session``: a session whose
    cached relations of ``tables`` are invalidated after each append
    and maintenance. ``job_prefix``: job labels ``"{prefix} e{id}:
    {stage}"`` for the protocol's steps and the ``label`` handed to
    ``work``."""

    def __init__(
        self,
        log_dir: str | None,
        *,
        tables: Sequence[str],
        paths: Sequence[str | None] = (),
        compact_every: int | None,
        maintain: Callable[[SparkSession], object],
        job_prefix: str,
        refresh_session: SparkSession | None = None,
    ) -> None:
        self.log_dir = log_dir
        self.tables = list(tables)
        self.paths = [p for p in paths if p is not None]
        self.compact_every = compact_every
        self.maintain = maintain
        self.refresh_session = refresh_session
        self.job_prefix = job_prefix
        self.n_appends = 0

    def _log(self, step: Callable, spark: SparkSession, *args, **kw) -> None:
        if self.log_dir is not None:
            step(spark, self.log_dir, *args, **kw)

    def _refresh(self) -> None:
        if self.refresh_session is not None:
            for t in self.tables:
                self.refresh_session.catalog.refreshTable(t)

    def __call__(
        self,
        spark: SparkSession,
        epoch_id: int,
        work: Callable[[Callable[[str], None]], bool],
    ) -> None:
        def label(stage: str) -> None:
            # per-stage job labels — the loop's many small jobs are
            # otherwise indistinguishable in the UI / event log
            spark.sparkContext.setJobDescription(
                f"{self.job_prefix} e{epoch_id}: {stage}"
            )

        if self.log_dir is not None and is_epoch_committed(
            spark, self.log_dir, epoch_id
        ):
            return
        try:
            appended = bool(work(label))
            if appended:
                self.n_appends += 1
                self._refresh()
            label("manifest commit")
            self._log(
                write_snapshot, spark, epoch_id, self.tables, self.paths,
                commit=True,
            )
            # maintenance AFTER the commit: the epoch's content is
            # already durable and replay-guarded, so a crash anywhere
            # inside it can never double-append
            if not (
                appended
                and self.compact_every
                and self.n_appends % self.compact_every == 0
            ):
                return
            label("compaction")
            self._log(write_compact_pending, spark, epoch_id, self.tables)
            self.maintain(spark)
            self._log(write_snapshot, spark, epoch_id, self.tables, self.paths)
            self._log(delete_entry, spark, _PENDING)
            self._refresh()
        finally:
            spark.sparkContext.setJobDescription(None)


# ---------------------------------------------------------------------------
# recovery
# ---------------------------------------------------------------------------


def recover_ingest_state(
    spark: SparkSession,
    log_dir: str,
    *,
    append_tables: Sequence[str],
    stats_table: str | None = None,
    rebuild_stats=None,
    paths: Sequence[str] = (),
    refresh_session: SparkSession | None = None,
) -> dict:
    """Run at loop start (and after any crash): restore every grown
    location to exactly the latest committed snapshot, then let
    Structured Streaming's offset checkpoint replay the crashed epoch
    against the clean state.

    ``append_tables``: grow-by-append bucketed tables — orphan files
    (present on disk, absent from the snapshot) are deleted; a MISSING
    expected file is unrecoverable data loss and raises.
    ``stats_table``/``rebuild_stats``: the in-place-overwrite stats
    table — ``rebuild_stats()`` (an Exchange-free re-aggregation of the
    recovered bands table) runs on any inventory mismatch, and always
    after an interrupted compaction.
    ``paths``: plain parquet sink dirs (accepted/matches) — orphan
    deletion only, same rule as the append tables.

    Crash-interrupted compactions are finished first (module doc, rule
    4); that path re-snapshots and returns without orphan-diffing,
    because compaction only runs after the epoch's commit — the table
    content is already exactly the committed content, in new files.

    If NO manifest exists yet, writes the ``epoch--1`` init snapshot of
    the current (clean, just-built) state so the very first epoch's
    crash is recoverable, and returns.

    Returns an action report (counts per location) for tests/telemetry.
    """
    report: dict = {"orphans_deleted": {}, "stats_rebuilt": False,
                    "compaction_recovered": False, "init_snapshot": False,
                    "staging_cleaned": 0}
    all_tables = list(append_tables) + ([stats_table] if stats_table else [])

    pending = _read_json(spark, log_dir, _PENDING)
    if pending is not None:
        from stream_sentinel_spark.sources.bucketing import (
            _delete_dir,
            recover_compaction,
        )

        for t, info in pending.get("tables", {}).items():
            recover_compaction(spark, t)
            old_loc = info.get("location", "")
            now_loc = table_location(spark, t)
            if old_loc and now_loc and old_loc != now_loc:
                # swap completed into a NEW (external) location before the
                # crash; the abandoned old directory is pure leak
                _delete_dir(spark, old_loc)
            _refresh(spark, refresh_session, t)
        if rebuild_stats is not None:
            # the compaction rewrites the stats table in place; a crash
            # inside that write leaves torn counts no inventory can see
            rebuild_stats()
            report["stats_rebuilt"] = True
        write_snapshot(
            spark, log_dir, int(pending.get("epoch", INIT_EPOCH)), all_tables,
            paths,
        )
        delete_entry(spark, log_dir, _PENDING)
        report["compaction_recovered"] = True
        return report

    manifest = latest_manifest(spark, log_dir)
    if manifest is None:
        write_snapshot(spark, log_dir, INIT_EPOCH, all_tables, paths, commit=True)
        report["init_snapshot"] = True
        return report

    for t in append_tables:
        rec = manifest["tables"].get(t)
        if rec is None:
            continue  # table added to the loop config after the snapshot
        loc = table_location(spark, t)
        if rec["location"] and loc != rec["location"]:
            raise RuntimeError(
                f"{t}: location changed ({rec['location']!r} -> {loc!r}) "
                "with no compact-pending marker — refusing to reconcile "
                "(orphan deletion against a relocated table would destroy "
                "data)"
            )
        expected = set(rec["files"])
        actual = list_data_files(spark, loc)
        missing = expected - actual
        if missing:
            raise RuntimeError(
                f"{t}: {len(missing)} committed data files are gone "
                f"(e.g. {sorted(missing)[:3]}) — appends never remove "
                "files, so this is external interference or storage loss; "
                "rebuild the index"
            )
        orphans = actual - expected
        if orphans:
            _delete_names(spark, loc, orphans)
            report["orphans_deleted"][t] = len(orphans)
        report["staging_cleaned"] += _delete_staging(spark, loc)
        _refresh(spark, refresh_session, t)

    if stats_table is not None:
        rec = manifest["tables"].get(stats_table)
        if rec is not None:
            loc = table_location(spark, stats_table)
            if list_data_files(spark, loc) != set(rec["files"]):
                if rebuild_stats is None:
                    raise RuntimeError(
                        f"{stats_table}: inventory differs from the "
                        "snapshot and no rebuild_stats callback was given"
                    )
                rebuild_stats()
                report["stats_rebuilt"] = True
            report["staging_cleaned"] += _delete_staging(spark, loc)
            _refresh(spark, refresh_session, stats_table)

    for p in paths:
        rec = manifest["paths"].get(p)
        if rec is None:
            continue
        actual = list_data_files(spark, p)
        orphans = actual - set(rec["files"])
        if orphans:
            _delete_names(spark, p, orphans)
            report["orphans_deleted"][p] = len(orphans)
        report["staging_cleaned"] += _delete_staging(spark, p)

    if report["stats_rebuilt"]:
        # the rebuild rewrote the stats files: record the recovered
        # inventory, or every later recovery would rebuild again
        write_snapshot(
            spark, log_dir, int(manifest["epoch"]), all_tables, paths
        )
    return report


def _refresh(spark, refresh_session, table: str) -> None:
    spark.catalog.refreshTable(table)
    if refresh_session is not None and refresh_session is not spark:
        refresh_session.catalog.refreshTable(table)
