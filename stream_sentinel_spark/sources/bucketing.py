"""Bucketed-table utilities — co-located joins without a shuffle.

At 100 TB the dominant cost of a fact-fact join (orders x lineitem,
events x events) is the Exchange: both sides shuffle their full volume
on the join key every time the join runs. Bucketing moves that shuffle
to WRITE time, once: `bucketBy(n, key)` hash-partitions files on disk
exactly the way the join would, so Catalyst plans the join with NO
Exchange on either bucketed side (and no Sort either, when `sortBy`
matches the join key). Every subsequent join/aggregation on the bucket
key is map-side.

Rules that make it actually work (each violation silently re-adds the
Exchange — the plan-shape test in tests/test_bucketing.py is the
guard):

- both sides bucketed by the SAME columns into the SAME bucket count
  (or a divisor — Spark can coalesce adjacent buckets when
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled`` is on);
- the join keys must be exactly the bucket columns (a cast on the key
  defeats it);
- bucketed tables are metastore tables (`saveAsTable`), not bare
  parquet paths — the bucket spec lives in the catalog.

The reference engine has no storage layer at all (Kafka in, Kafka out
— SURVEY §2.1); bucketing is part of this engine's batch-surface scale
design, same family as `operators/skew.py` and the broadcast hints in
`plans/corpus.py`.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
    align: bool = False,
) -> None:
    """Persist ``df`` as a parquet metastore table bucketed (and
    optionally sorted) by ``bucket_cols``. Sorting by the bucket key
    additionally removes the Sort from sort-merge joins. ``path`` makes
    it an external table (the warehouse dir is a static config, so
    per-run locations must come through here).

    ``align=True`` repartitions ``df`` to ``num_buckets`` partitions ON
    THE BUCKET COLUMNS before writing. A bucketed write emits one file
    per (task × bucket-with-data), so an arbitrarily-partitioned frame
    writes up to tasks×buckets files; DataFrame hash-repartitioning
    uses the SAME Murmur3-pmod function as the bucket-id assignment
    (probed: a 16-task frame wrote 512 files unaligned, exactly 32
    aligned — one per bucket), so alignment collapses that to ≤1 file
    per bucket at the cost of one shuffle of ``df``. Right for APPENDS
    (the frame is batch-sized and per-append file count is the ingest
    loop's measured drift term — STRESS_r06_append.json); deliberately
    not the default for corpus-sized builds, where the extra full-data
    shuffle is a real cost and compaction resets the file count anyway.
    Row→bucket assignment is per-row in the writer, so alignment can
    never change CONTENT — only file layout (match bit-equality across
    the change is pinned by the existing N-appends ≡ rebuild tests)."""
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    if align:
        df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    writer = df.write.format("parquet").mode(mode).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def auto_num_buckets(
    n_rows: int, target_rows: int = 25_000, lo: int = 4, hi: int = 1024
) -> int:
    """Bucket count sized to the DATA, not a constant: the smallest
    power of two (≥ ``lo``, ≤ ``hi``) holding at most ``target_rows``
    base rows per bucket. A fixed count is wrong at both ends — 32
    buckets over a 1 k-doc index is 32 near-empty files whose open +
    listing + per-task cost every match and append then pays (measured:
    the gate's ingest loops spend most of their wall in 32-task stages
    over a few thousand rows), while 32 buckets over a 10^9-row corpus
    is 30 M rows per bucket file. Callers that know their production
    volume pass an explicit count; ``None`` in the index builders
    routes here."""
    b = lo
    while b < hi and n_rows > b * target_rows:
        b *= 2
    return b


def write_plain(
    df: DataFrame, table: str, path: str | None = None, mode: str = "overwrite"
) -> None:
    """Unbucketed parquet metastore table with the same external-path
    convention as :func:`write_bucketed` — the small side tables
    (stats, params) of the persisted dedup/similarity indexes."""
    w = df.write.format("parquet").mode(mode)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket spec intact (plain
    ``spark.read.parquet(path)`` would drop it)."""
    return spark.table(table)


def compact_bucketed(
    spark: SparkSession,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> int:
    """Rewrite a bucketed table into one file per bucket and swap it in
    under the same catalog name — the maintenance half of a
    grow-by-append table. Every ``mode("append")`` bucketed write adds
    one file per bucket per writing task, so a long-running ingest loop
    accumulates small files and every subsequent scan pays the
    open/footer cost per file (measured: the per-batch index match
    drifting up with APPEND COUNT, not index size —
    STRESS_r06_append.json). Compaction resets that.

    Scale shape — this is deliberately EXCHANGE-FREE: with
    ``autoBucketedScan`` pinned off for the rewrite, reading the table
    yields one input partition per bucket (probed: the planner
    otherwise disables the bucketed scan for a plain read-write and
    each task then writes a file per bucket it happens to touch), and
    a bucketed write requires no distribution, so each task rewrites
    exactly its own bucket into exactly one file. No shuffle of the
    index at any size; the whole rewrite streams through the executors
    (no driver materialization, no localCheckpoint pinning).

    The swap is write-to-new-table + DROP + ALTER RENAME (an in-place
    ``saveAsTable("overwrite")`` would read the files it is deleting).
    A crash between DROP and RENAME leaves ``{table}__compacting``
    complete on disk — :func:`recover_compaction` re-issues the rename,
    and BOTH this function (on entry) and the ingest loop's
    manifest recovery run it automatically, so a crashed compaction
    never leaves ``{table}`` unbound past the next start. Dropping an
    EXTERNAL source table leaves its old files behind at the old
    location (the caller owns that cleanup — ``compact_minhash_index``
    / ``compact_lsh_index`` rotate external locations and delete the
    old one); pass ``path`` to give the compacted table an explicit new
    external location, else it becomes a managed table in the
    warehouse.

    Returns the number of data files after compaction (≤ num_buckets)."""
    recover_compaction(spark, table)

    def rewrite(tmp: str) -> None:
        auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        old_auto = spark.conf.get(auto_key)
        spark.conf.set(auto_key, "false")
        try:
            write_bucketed(
                spark.table(table), tmp, bucket_cols, num_buckets,
                sort_cols=sort_cols, path=path,
            )
        finally:
            spark.conf.set(auto_key, old_auto)

    swap_table(spark, table, rewrite)
    return len(spark.table(table).inputFiles())


def swap_table(
    spark: SparkSession, table: str, write: Callable[[str], None]
) -> None:
    """Replace ``table`` with the table ``write(tmp)`` creates under
    ``tmp = {table}__compacting``: the replacement is written completely
    first, then swapped in by DROP + RENAME (an in-place overwrite would
    read the files it is deleting). A crash between the two leaves a
    complete tmp table that :func:`recover_compaction` renames in."""
    tmp = f"{table}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    write(tmp)
    if spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.catalog.refreshTable(table)


def table_info(spark: SparkSession, table: str) -> dict[str, str]:
    """DESCRIBE FORMATTED as a first-wins dict (``Type``, ``Location``,
    ``Num Buckets``, …). Bounded collect (a handful of metadata rows)."""
    info: dict[str, str] = {}
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        key = (r.col_name or "").strip()
        if key and key not in info:
            info[key] = (r.data_type or "").strip()
    return info


def table_num_buckets(spark: SparkSession, table: str) -> int:
    """The table's bucket count, with a clear error when the bucket spec
    is absent (un-bucketed table, or a Spark-version DESCRIBE format
    drift) instead of an opaque AttributeError on a missing row."""
    nb = table_info(spark, table).get("Num Buckets", "")
    if not nb.strip().isdigit():
        raise ValueError(
            f"table {table!r} has no bucket spec (DESCRIBE FORMATTED lacks "
            "'Num Buckets') — expected a table written by write_bucketed"
        )
    return int(nb)


def table_meta(spark: SparkSession, table: str) -> tuple[str, str]:
    """(type, location) of a catalog table via DESCRIBE FORMATTED —
    type is ``MANAGED`` or ``EXTERNAL``."""
    info = table_info(spark, table)
    return info.get("Type", ""), info.get("Location", "")


_ROTATION_RE = re.compile(r"^(.*?)__c(\d+)$")


def _rotated_location(location: str) -> str:
    """Next versioned sibling of an external location: ``…/bands`` →
    ``…/bands__c1`` → ``…/bands__c2`` → …  A crashed attempt that never
    swapped re-derives the SAME target (location unchanged) and the
    overwrite-mode rewrite clears its leftovers."""
    loc = location.rstrip("/")
    m = _ROTATION_RE.match(loc)
    if m:
        return f"{m.group(1)}__c{int(m.group(2)) + 1}"
    return f"{loc}__c1"


def _delete_dir(spark: SparkSession, location: str) -> None:
    from stream_sentinel_spark.streaming.exactly_once import _hadoop_fs

    fs, p = _hadoop_fs(spark, location)
    if fs.exists(p):
        fs.delete(p, True)


def compact_bucketed_rotating(
    spark: SparkSession,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> int:
    """:func:`compact_bucketed` with external-table location handling —
    the variant the index-level compaction APIs call. A MANAGED table
    compacts in place (DROP deletes its old files, nothing leaks). An
    EXTERNAL table gets a NEW location — ``path`` if given, else the
    rotated sibling ``…__c{n+1}`` of its current one — and the old
    directory is deleted after the swap, so an unattended
    ``compact_every`` ingest loop neither silently converts a
    deliberately-placed external index into a managed warehouse table
    nor leaks the superseded files (the round-6 advisory). A crash
    after the swap but before the old-dir delete leaks the old
    directory once; the ingest loop's compact-pending recovery
    (streaming/manifest.py) detects the relocation and completes the
    delete on restart."""
    recover_compaction(spark, table)  # DESCRIBE below needs the binding
    ttype, old_loc = table_meta(spark, table)
    if ttype.upper() != "EXTERNAL" or not old_loc:
        return compact_bucketed(spark, table, bucket_cols, num_buckets, sort_cols)
    new_loc = path if path is not None else _rotated_location(old_loc)
    if new_loc.rstrip("/") == old_loc.rstrip("/"):
        raise ValueError(
            f"compaction target equals the current location ({old_loc!r}) — "
            "the rewrite would read the files it is replacing"
        )
    # clear debris of a previous attempt that crashed before its swap:
    # stale part files at the target would otherwise survive the
    # overwrite-create and be read by the swapped-in table
    _delete_dir(spark, new_loc)
    n = compact_bucketed(
        spark, table, bucket_cols, num_buckets, sort_cols, path=new_loc
    )
    if old_loc.rstrip("/") != new_loc.rstrip("/"):
        _delete_dir(spark, old_loc)
    return n


def recover_compaction(spark: SparkSession, table: str) -> bool:
    """Heal a compaction that crashed between DROP and RENAME: if
    ``{table}`` is unbound but ``{table}__compacting`` exists, the tmp
    table is COMPLETE (``saveAsTable`` only registers it after a
    successful write), so re-issuing the rename restores the binding
    with the compacted content. Returns True when a rename was issued.
    Idempotent and cheap (two catalog lookups) — called on every
    :func:`compact_bucketed` entry and by the ingest loop's manifest
    recovery, so the streaming query's restart can never fail on a
    'table not found' left by a mid-swap crash."""
    tmp = f"{table}__compacting"
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(tmp):
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        spark.catalog.refreshTable(table)
        return True
    return False
