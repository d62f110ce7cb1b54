"""Streaming upsert materialization (streaming/upsert.py): the CDC-apply
loop — append-only keyed log, Exchange-free merge-on-read snapshot,
merge-rewrite compaction, manifest-committed epochs with crash recovery.
Checked throughout against the batch twin (cdc.merge_latest over the
same change set)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from stream_sentinel_spark.operators.cdc import merge_latest
from stream_sentinel_spark.streaming import read_file_stream
from stream_sentinel_spark.streaming.upsert import (
    compact_upsert_log,
    make_upsert_batch_fn,
    read_upsert_snapshot,
    recover_upsert_ingest,
    run_upsert_ingest,
)

SCHEMA = "k long, seq long, op string, val string"


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _table():
    return f"ups_{uuid.uuid4().hex[:8]}"


def _snap_rows(spark, table):
    return sorted(
        (r.k, r.seq, r.val)
        for r in read_upsert_snapshot(
            spark, table, ["k"], ["seq"], op_col="op"
        ).collect()
    )


def _batch_twin(spark, all_rows):
    return sorted(
        (r.k, r.seq, r.val)
        for r in merge_latest(
            _changes(spark, all_rows), ["k"], ["seq"], op_col="op"
        ).collect()
    )


# the three epochs every loop test drives: inserts; updates + a delete;
# a re-insert after delete plus a fresh key
E0 = [(1, 10, "U", "a0"), (2, 10, "U", "b0"), (3, 10, "U", "c0")]
E1 = [(1, 20, "U", "a1"), (3, 20, "D", None), (4, 20, "U", "d0")]
E2 = [(3, 30, "U", "c1"), (5, 30, "U", "e0"), (2, 5, "U", "stale")]


def _drop(spark, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}_log")
    spark.sql(f"DROP TABLE IF EXISTS {table}_log__compacting")


def test_upsert_loop_end_to_end(spark, tmp_path):
    table = _table()
    src = str(tmp_path / "src")
    for i, ep in enumerate((E0, E1, E2)):
        _changes(spark, ep).coalesce(1).write.mode("append").parquet(src)
    files = sorted(
        (f for f in os.listdir(src) if f.startswith("part-")),
        key=lambda f: os.stat(os.path.join(src, f)).st_mtime,
    )
    import time as _t

    base = _t.time()
    for i, f in enumerate(files):
        os.utime(os.path.join(src, f), (base, base + 2.0 * i))
    try:
        stream = read_file_stream(
            spark, src, _changes(spark, E0).schema, time_col=None,
            watermark=None, max_files_per_trigger=1,
        )
        q = run_upsert_ingest(
            stream,
            checkpoint_location=str(tmp_path / "ckpt"),
            available_now=True,
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=str(tmp_path / "commits"),
        )
        q.awaitTermination()
        got = _snap_rows(spark, table)
        assert got == _batch_twin(spark, E0 + E1 + E2)
        # key 3 was deleted in E1 and re-inserted in E2; key 2's E2 row
        # is STALE (seq 5 < 10) and must lose
        as_map = {k: (s, v) for k, s, v in [(r[0], r[1], r[2]) for r in got]}
        assert as_map[3] == (30, "c1")
        assert as_map[2] == (10, "b0")
        # stale row is IN the log (append-only), loses only in the view
        log = spark.table(f"{table}_log")
        assert log.filter("k = 2 AND seq = 5").count() == 1
        # epoch column stamps provenance
        assert log.select("_epoch").distinct().count() == 3
    finally:
        _drop(spark, table)


def test_snapshot_plan_has_no_exchange(spark, tmp_path):
    table = _table()
    try:
        fn = make_upsert_batch_fn(table=table, key_cols=["k"], seq_cols=["seq"])
        fn(_changes(spark, E0), 0)
        fn(_changes(spark, E1), 1)
        plan = (
            read_upsert_snapshot(spark, table, ["k"], ["seq"], op_col="op")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
    finally:
        _drop(spark, table)


def test_intra_batch_versions_equal_sequential_feed(spark, tmp_path):
    # three versions of key 7 inside ONE batch: the view must pick the
    # latest, exactly as if they had arrived one per batch
    rows = [(7, 1, "U", "v1"), (7, 3, "U", "v3"), (7, 2, "U", "v2"),
            (8, 1, "U", "w1")]
    t_one, t_seq = _table(), _table()
    try:
        make_upsert_batch_fn(table=t_one, key_cols=["k"], seq_cols=["seq"])(
            _changes(spark, rows), 0
        )
        fn = make_upsert_batch_fn(table=t_seq, key_cols=["k"], seq_cols=["seq"])
        for i, r in enumerate(rows):
            fn(_changes(spark, [r]), i)
        assert _snap_rows(spark, t_one) == _snap_rows(spark, t_seq)
        assert dict(
            (k, v) for k, _s, v in _snap_rows(spark, t_one)
        )[7] == "v3"
    finally:
        _drop(spark, t_one)
        _drop(spark, t_seq)


def test_compaction_preserves_view_drops_tombstones(spark, tmp_path):
    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op"
        )
        for i, ep in enumerate((E0, E1, E2)):
            fn(_changes(spark, ep), i)
        before = _snap_rows(spark, table)
        n_files = compact_upsert_log(
            spark, table, ["k"], ["seq"], op_col="op"
        )
        assert _snap_rows(spark, table) == before
        log = spark.table(f"{table}_log")
        # exactly one row per live key; superseded versions and the E1
        # tombstone for key 3 are gone
        assert log.count() == len(before)
        assert log.filter("op = 'D'").count() == 0
        assert n_files <= 32
        # the loop keeps working after a compaction: another epoch
        fn(_changes(spark, [(6, 40, "U", "f0"), (1, 40, "D", None)]), 3)
        assert _snap_rows(spark, table) == _batch_twin(
            spark, E0 + E1 + E2 + [(6, 40, "U", "f0"), (1, 40, "D", None)]
        )
    finally:
        _drop(spark, table)


def test_committed_epoch_replay_is_noop(spark, tmp_path):
    table = _table()
    commits = str(tmp_path / "commits")
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_changes(spark, E0), 0)
        n = spark.table(f"{table}_log").count()
        fn(_changes(spark, E0), 0)  # replay of a committed epoch
        assert spark.table(f"{table}_log").count() == n
    finally:
        _drop(spark, table)


def test_crash_before_first_commit_rolls_back_whole_log(spark, tmp_path):
    table = _table()
    commits = str(tmp_path / "commits")
    try:
        # loop start: init snapshot records "no log yet"
        recover_upsert_ingest(spark, table=table, commit_log_dir=commits)
        # crash DURING epoch 0: the append happened, the commit didn't —
        # simulated by writing the log directly, bypassing the commit
        from stream_sentinel_spark.sources.bucketing import write_bucketed

        write_bucketed(
            _changes(spark, E0).withColumn("_epoch", F.lit(0)),
            f"{table}_log", ["k"], 32, align=True,
        )
        rep = recover_upsert_ingest(spark, table=table, commit_log_dir=commits)
        assert not spark.catalog.tableExists(f"{table}_log"), rep
        # the replayed epoch then runs clean
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_changes(spark, E0), 0)
        assert _snap_rows(spark, table) == _batch_twin(spark, E0)
    finally:
        _drop(spark, table)


def test_crash_mid_epoch_recovers_to_last_commit(spark, tmp_path):
    table = _table()
    commits = str(tmp_path / "commits")
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_changes(spark, E0), 0)
        committed = _snap_rows(spark, table)
        # crash mid-epoch-1: files appended, no commit marker (follow
        # the table's bucket spec — creation auto-sizes it now)
        from stream_sentinel_spark.sources.bucketing import (
            table_num_buckets,
            write_bucketed,
        )

        write_bucketed(
            _changes(spark, E1).withColumn("_epoch", F.lit(1)),
            f"{table}_log", ["k"],
            table_num_buckets(spark, f"{table}_log"),
            mode="append", align=True,
        )
        rep = recover_upsert_ingest(spark, table=table, commit_log_dir=commits)
        assert rep["orphans_deleted"], rep
        spark.catalog.refreshTable(f"{table}_log")
        assert _snap_rows(spark, table) == committed
        # replay epoch 1, then epoch 2 — final state == a clean run
        fn(_changes(spark, E1), 1)
        fn(_changes(spark, E2), 2)
        assert _snap_rows(spark, table) == _batch_twin(spark, E0 + E1 + E2)
    finally:
        _drop(spark, table)


def test_compaction_mid_swap_crash_recovers(spark, tmp_path):
    table = _table()
    log = f"{table}_log"
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op"
        )
        for i, ep in enumerate((E0, E1)):
            fn(_changes(spark, ep), i)
        before = _snap_rows(spark, table)
        # simulate the DROP→RENAME crash window: the compacted tmp table
        # is complete on disk, the original name is unbound
        from stream_sentinel_spark.sources.bucketing import write_bucketed

        live = merge_latest(
            spark.table(log), ["k"], ["seq"], op_col="op"
        ).localCheckpoint(eager=True)
        write_bucketed(live, f"{log}__compacting", ["k"], 32, align=True)
        spark.sql(f"DROP TABLE {log}")
        # next compaction entry heals the binding first
        compact_upsert_log(spark, table, ["k"], ["seq"], op_col="op")
        assert _snap_rows(spark, table) == before
    finally:
        _drop(spark, table)


def test_history_view_scd2_over_log(spark, tmp_path):
    from stream_sentinel_spark.operators.cdc import scd2
    from stream_sentinel_spark.streaming.upsert import read_upsert_history

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op"
        )
        for i, ep in enumerate((E0, E1, E2)):
            fn(_changes(spark, ep), i)
        hist = read_upsert_history(
            spark, table, ["k"], "seq", ["op", "val"]
        )
        # the log IS the change history: the view equals scd2 over the
        # full change set directly
        want = scd2(
            _changes(spark, E0 + E1 + E2), ["k"], "seq", ["op", "val"]
        )
        assert hist.exceptAll(want).count() == 0
        assert want.exceptAll(hist).count() == 0
        # as-of seq 25 (after E1, before E2): key 3 is a tombstone, key
        # 1 carries its E1 update, key 2 its E0 insert
        asof = {
            r.k: (r.op, r.val)
            for r in hist.filter(
                "valid_from <= 25 AND (valid_to IS NULL OR valid_to > 25)"
            ).collect()
        }
        assert asof[3] == ("D", None)
        assert asof[1] == ("U", "a1")
        assert asof[2] == ("U", "b0")
        # the key window over the bucketed log plans without an Exchange
        plan = hist._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # compaction truncates history to the live rows — the documented
        # retention trade
        compact_upsert_log(spark, table, ["k"], ["seq"], op_col="op")
        n_hist = read_upsert_history(
            spark, table, ["k"], "seq", ["op", "val"]
        ).count()
        assert n_hist == len(_snap_rows(spark, table))
    finally:
        _drop(spark, table)


def test_compaction_retention_horizon(spark, tmp_path):
    """keep_since=S: versions with seq >= S survive verbatim, each key
    keeps its as-of-S baseline row, the snapshot is unchanged, and
    as-of history reads AT OR AFTER the horizon are identical to the
    uncompacted log — only history strictly before S is truncated."""
    from stream_sentinel_spark.streaming.upsert import read_upsert_history

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op"
        )
        for i, ep in enumerate((E0, E1, E2)):
            fn(_changes(spark, ep), i)
        before_snap = _snap_rows(spark, table)

        def asof(s):
            return {
                r.k: (r.op, r.val)
                for r in read_upsert_history(
                    spark, table, ["k"], "seq", ["op", "val"]
                )
                .filter(
                    f"valid_from <= {s} AND (valid_to IS NULL OR valid_to > {s})"
                )
                .collect()
            }

        want_25, want_35 = asof(25), asof(35)
        compact_upsert_log(
            spark, table, ["k"], ["seq"], op_col="op", keep_since=20
        )
        # snapshot preserved
        assert _snap_rows(spark, table) == before_snap
        log = {
            (r.k, r.seq, r.op, r.val)
            for r in spark.table(f"{table}_log").collect()
        }
        # every version at/after the horizon survives verbatim —
        # including the E1 tombstone for key 3 (it still masks the
        # baseline row kept below the horizon)
        for row in [(1, 20, "U", "a1"), (3, 20, "D", None),
                    (4, 20, "U", "d0"), (3, 30, "U", "c1"),
                    (5, 30, "U", "e0")]:
            assert row in log
        # below the horizon: one baseline row per key, superseded
        # versions gone (key 2's seq-5 'stale' row is dropped)
        assert (2, 10, "U", "b0") in log
        assert (2, 5, "U", "stale") not in log
        assert len(log) == 8
        # as-of reads at/after the horizon are bit-identical
        assert asof(25) == want_25
        assert asof(35) == want_35
        # the loop keeps working after a horizon compaction
        fn(_changes(spark, [(2, 40, "D", None)]), 3)
        assert _snap_rows(spark, table) == _batch_twin(
            spark, E0 + E1 + E2 + [(2, 40, "D", None)]
        )
    finally:
        _drop(spark, table)


def test_compact_num_buckets_missing_is_clear_error(spark):
    """A log that somehow lost its bucket spec fails with a clear
    ValueError, not an AttributeError on a missing DESCRIBE row."""
    table = _table()
    try:
        _changes(spark, E0).write.saveAsTable(f"{table}_log")  # un-bucketed
        with pytest.raises(ValueError, match="Num Buckets"):
            compact_upsert_log(spark, table, ["k"], ["seq"], op_col="op")
    finally:
        _drop(spark, table)


def test_mid_swap_crash_heals_in_batch_fn_without_commit_log(spark):
    """The round-7 advisory: compact_every WITHOUT commit_log_dir, crash
    between DROP and RENAME — the next batch must heal the unbound log
    (re-issue the rename) and APPEND, not recreate-with-overwrite."""
    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op"
        )
        fn(_changes(spark, E0), 0)
        fn(_changes(spark, E1), 1)
        # simulate the mid-swap crash state: compacted tmp exists, log
        # binding dropped
        from stream_sentinel_spark.operators.cdc import merge_latest
        from stream_sentinel_spark.sources.bucketing import write_bucketed

        live = merge_latest(
            spark.table(f"{table}_log"), ["k"], ["seq"], op_col="op"
        ).localCheckpoint(eager=True)
        write_bucketed(live, f"{table}_log__compacting", ["k"], 32, align=True)
        spark.sql(f"DROP TABLE {table}_log")
        # next epoch arrives: batch fn heals, then appends
        fn(_changes(spark, E2), 2)
        assert _snap_rows(spark, table) == _batch_twin(spark, E0 + E1 + E2)
    finally:
        _drop(spark, table)


def test_schema_evolution_widens_log(spark):
    """evolve_schema=True: a batch that ADDS a column widens the log in
    place (ALTER TABLE ADD COLUMNS); pre-evolution rows read the new
    column as NULL; a narrower late batch is backfilled with typed
    NULLs; latest-wins semantics span both schema generations; and a
    RETYPED column is rejected loudly."""
    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            evolve_schema=True,
        )
        fn(_changes(spark, E0), 0)
        # generation 2: +extra column; key 1 superseded, key 9 fresh
        wide = spark.createDataFrame(
            [(1, 20, "U", "a1", "x1"), (9, 20, "U", "i0", "x9")],
            SCHEMA + ", extra string",
        )
        fn(wide, 1)
        snap = {
            r.k: (r.seq, r.val, r.extra)
            for r in read_upsert_snapshot(
                spark, table, ["k"], ["seq"], op_col="op"
            ).collect()
        }
        assert snap[1] == (20, "a1", "x1")
        assert snap[9] == (20, "i0", "x9")
        # pre-evolution rows: merge-on-read null backfill
        assert snap[2] == (10, "b0", None)
        assert snap[3] == (10, "c0", None)
        # generation 1-shaped batch AFTER the widening: typed-NULL backfill
        fn(_changes(spark, [(2, 30, "U", "b1")]), 2)
        snap2 = {
            r.k: (r.seq, r.val, r.extra)
            for r in read_upsert_snapshot(
                spark, table, ["k"], ["seq"], op_col="op"
            ).collect()
        }
        assert snap2[2] == (30, "b1", None)
        # a retyped column is corruption, not evolution
        bad = spark.createDataFrame(
            [(1, 40, "U", 5, "y")], "k long, seq long, op string, "
            "val int, extra string",
        )
        with pytest.raises(ValueError, match="never retypes"):
            fn(bad, 3)
        # the widening is metadata-only: the bucket spec is untouched,
        # so the merge-on-read window still plans WITHOUT an Exchange
        plan = (
            read_upsert_snapshot(spark, table, ["k"], ["seq"], op_col="op")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        # compaction and the history view still work over the widened log
        compact_upsert_log(spark, table, ["k"], ["seq"], op_col="op")
        snap3 = {
            r.k: (r.seq, r.val, r.extra)
            for r in read_upsert_snapshot(
                spark, table, ["k"], ["seq"], op_col="op"
            ).collect()
        }
        assert snap3 == snap2
    finally:
        _drop(spark, table)


def test_schema_evolution_quoting_and_case(spark):
    """ADVICE r08: evolution DDL must survive column names that need
    backticks (spaces), and name matching must be case-INsensitive —
    the metastore resolves names case-insensitively, so a batch column
    differing only in case is the SAME column (widening it would fail
    in ALTER TABLE; backfilling it would NULL the data out)."""
    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            evolve_schema=True,
        )
        fn(_changes(spark, E0), 0)
        # a new column whose name needs quoting in DDL
        spaced = spark.createDataFrame(
            [(1, 20, "U", "a1", "sp1")],
            "k long, seq long, op string, val string, `order count` string",
        )
        fn(spaced, 1)
        # a batch whose existing column arrives in a different CASE:
        # same column, not a widening — the value must land in `val`
        cased = spark.createDataFrame(
            [(9, 20, "U", "i0")], "k long, seq long, op string, VAL string"
        )
        fn(cased, 2)
        snap = {
            r.k: (r.val, r["order count"])
            for r in read_upsert_snapshot(
                spark, table, ["k"], ["seq"], op_col="op"
            ).collect()
        }
        assert snap[1] == ("a1", "sp1")
        assert snap[9] == ("i0", None)
        assert snap[2] == ("b0", None)
        # a case-variant RETYPE is still a retype
        bad = spark.createDataFrame(
            [(1, 30, "U", 5)], "k long, seq long, op string, VAL int"
        )
        with pytest.raises(ValueError, match="never retypes"):
            fn(bad, 3)
    finally:
        _drop(spark, table)


def test_in_loop_compaction_with_retention_policy(spark):
    """compact_horizon wires the retention horizon into the loop's own
    compaction cadence: the policy callable maps the current log to a
    keep_since point, so in-loop compactions preserve history up to the
    configured horizon instead of truncating it all."""
    from pyspark.sql import functions as F2

    from stream_sentinel_spark.streaming.upsert import read_upsert_history

    table = _table()
    try:
        # keep the last 15 sequence units of history
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            compact_every=3,
            compact_horizon=lambda log: log.agg(F2.max("seq")).head()[0] - 15,
        )
        for i, ep in enumerate((E0, E1, E2)):  # compaction fires after E2
            fn(_changes(spark, ep), i)
        # horizon = 30 - 15 = 15: key 1's seq-10/seq-20 history straddles
        # it — the seq-20 version must survive the in-loop compaction,
        # the seq-10 baseline stays as the as-of-horizon row, and key
        # 2's stale seq-5 row is gone
        log = {
            (r.k, r.seq) for r in spark.table(f"{table}_log").collect()
        }
        assert (1, 20) in log and (1, 10) in log
        assert (2, 5) not in log
        # as-of 20 reads work after the in-loop compaction
        asof = {
            r.k: (r.op, r.val)
            for r in read_upsert_history(
                spark, table, ["k"], "seq", ["op", "val"]
            )
            .filter("valid_from <= 20 AND (valid_to IS NULL OR valid_to > 20)")
            .collect()
        }
        assert asof[1] == ("U", "a1")
        assert asof[3] == ("D", None)
        assert _snap_rows(spark, table) == _batch_twin(spark, E0 + E1 + E2)
    finally:
        _drop(spark, table)


def test_change_feed_since_epoch(spark, tmp_path):
    """read_upsert_changes: exactly the committed change rows of epochs
    > E, epoch-stamped; snapshot-as-of-E merged with the feed equals
    the current snapshot (the downstream-consumer contract)."""
    from stream_sentinel_spark.streaming.upsert import read_upsert_changes

    table = _table()
    commits = str(tmp_path / "commits")
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_changes(spark, E0), 0)
        snap_at_0 = read_upsert_snapshot(
            spark, table, ["k"], ["seq"], op_col="op"
        ).localCheckpoint(eager=True)
        fn(_changes(spark, E1), 1)
        fn(_changes(spark, E2), 2)
        feed = read_upsert_changes(
            spark, table, 0, commit_log_dir=commits, seq_cols=["seq"]
        )
        got = [(r.k, r.seq, r.op, r.val, r._epoch) for r in feed.collect()]
        want = sorted(
            [(k, s, op, v, 1) for (k, s, op, v) in E1]
            + [(k, s, op, v, 2) for (k, s, op, v) in E2],
            key=lambda t: (t[4], t[1], t[0]),
        )
        assert sorted(got, key=lambda t: (t[4], t[1], t[0])) == want
        # consumer contract: snapshot@0 + feed == current snapshot
        merged = merge_latest(
            snap_at_0.withColumn("op", F.lit("U")).unionByName(
                feed.drop("_epoch")
            ),
            ["k"], ["seq"], op_col="op",
        )
        assert sorted((r.k, r.seq, r.val) for r in merged.collect()) == (
            _batch_twin(spark, E0 + E1 + E2)
        )
        # since the last epoch: empty feed
        assert read_upsert_changes(
            spark, table, 2, commit_log_dir=commits
        ).count() == 0
        # bounded window (since, until]: epoch-aligned paging — pages
        # partition the unbounded feed
        page1 = read_upsert_changes(
            spark, table, 0, until_epoch=1, commit_log_dir=commits
        )
        page2 = read_upsert_changes(
            spark, table, 1, until_epoch=2, commit_log_dir=commits
        )
        assert {r._epoch for r in page1.collect()} == {1}
        assert {r._epoch for r in page2.collect()} == {2}
        assert page1.count() + page2.count() == feed.count()
    finally:
        _drop(spark, table)


def test_change_feed_excludes_uncommitted_epoch(spark, tmp_path):
    """An epoch whose append landed but whose commit marker never did
    (a crash) must NOT surface in the manifest-driven feed — even
    BEFORE loop-start recovery deletes its files. The catalog-table
    read (no commit_log_dir) sees them; the manifest-driven read never
    does."""
    from stream_sentinel_spark.sources.bucketing import (
        table_num_buckets,
        write_bucketed,
    )
    from stream_sentinel_spark.streaming.upsert import read_upsert_changes

    table = _table()
    commits = str(tmp_path / "commits")
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_changes(spark, E0), 0)
        fn(_changes(spark, E1), 1)
        # crash mid-epoch-2: files appended, no commit marker (follow
        # the table's auto-sized bucket spec)
        write_bucketed(
            _changes(spark, E2).withColumn("_epoch", F.lit(2)),
            f"{table}_log", ["k"],
            table_num_buckets(spark, f"{table}_log"),
            mode="append", align=True,
        )
        feed = read_upsert_changes(spark, table, 0, commit_log_dir=commits)
        assert {r._epoch for r in feed.collect()} == {1}
        assert feed.count() == len(E1)
        # replaying epoch 2 properly makes it appear
        rep = recover_upsert_ingest(spark, table=table, commit_log_dir=commits)
        assert rep["orphans_deleted"], rep
        spark.catalog.refreshTable(f"{table}_log")
        fn(_changes(spark, E2), 2)
        feed2 = read_upsert_changes(spark, table, 0, commit_log_dir=commits)
        assert {r._epoch for r in feed2.collect()} == {1, 2}
    finally:
        _drop(spark, table)


def test_change_feed_warns_after_compaction_rewrite(spark, tmp_path):
    """A compaction records an aux snapshot in the commit log; a feed
    read spanning it warns that pre-horizon change rows may be
    collapsed (the retention trade), while a read from the rewrite
    point onward stays silent."""
    import warnings

    from stream_sentinel_spark.streaming import manifest as mf
    from stream_sentinel_spark.streaming.upsert import read_upsert_changes

    table = _table()
    commits = str(tmp_path / "commits")
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits, compact_every=2,
        )
        fn(_changes(spark, E0), 0)
        fn(_changes(spark, E1), 1)  # triggers in-loop compaction
        with pytest.warns(UserWarning, match="rewrite"):
            read_upsert_changes(spark, table, 0, commit_log_dir=commits)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            read_upsert_changes(spark, table, 1, commit_log_dir=commits)
    finally:
        _drop(spark, table)


def test_agg_delta_maintains_materialized_view(spark, tmp_path):
    """upsert_agg_delta: agg@E + delta == agg(current) — across updates
    in place, a GROUP MOVE, a delete (pure retraction), an insert, and
    a stale no-op (net zero, key still counted on both sides)."""
    from stream_sentinel_spark.streaming.upsert import upsert_agg_delta

    table = _table()
    commits = str(tmp_path / "commits")
    sch = "k long, seq long, op string, grp string, v long"

    def rows(r):
        return spark.createDataFrame(r, sch)

    e0 = [(1, 1, "U", "a", 10), (2, 1, "U", "a", 20), (3, 1, "U", "b", 30),
          (4, 1, "U", "b", 40), (5, 1, "U", "c", 50)]
    e1 = [(1, 2, "U", "a", 15),          # in-place update: a +5
          (2, 2, "U", "b", 20),          # group move: a -20, b +20
          (3, 2, "D", None, None),       # delete: b -30
          (6, 2, "U", "c", 6),           # insert: c +6
          (5, 0, "U", "zzz", 999)]       # stale: net zero in c
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(rows(e0), 0)
        fn(rows(e1), 1)
        delta = {
            r.grp: (r.delta_sum, r.n_keys_new, r.n_keys_old)
            for r in upsert_agg_delta(
                spark, table, 0,
                key_cols=["k"], seq_cols=["seq"], group_col="grp",
                value_col="v", op_col="op", commit_log_dir=commits,
            ).collect()
        }
        assert delta == {
            # key1 +5 in place; key2 leaves a (-20): unchanged key 4
            # never appears anywhere
            "a": (-15, 1, 2),
            # key2 enters b (+20); key3 deleted from b (-30)
            "b": (-10, 1, 1),
            # key6 inserted (+6); key5's stale row nets zero but the
            # key counts on both sides
            "c": (6, 2, 1),
        }
        # the maintained-view invariant: agg@0 + delta == agg(current)
        agg0 = {
            r.grp: r.s
            for r in merge_latest(rows(e0), ["k"], ["seq"], op_col="op")
            .groupBy("grp").agg(F.sum("v").alias("s")).collect()
        }
        cur = {
            r.grp: r.s
            for r in read_upsert_snapshot(
                spark, table, ["k"], ["seq"], op_col="op"
            ).groupBy("grp").agg(F.sum("v").alias("s")).collect()
        }
        for g in set(agg0) | set(cur) | set(delta):
            assert agg0.get(g, 0) + delta.get(g, (0,))[0] == cur.get(g, 0), g
    finally:
        _drop(spark, table)


def test_agg_delta_plan_shape(spark):
    """The delta's scale claims, plan-asserted: the bucketed log NEVER
    shuffles (the changed-key set broadcasts into both semi joins, the
    latest-wins windows ride the bucketed scan with rank-1
    WindowGroupLimit pushdown); the ONLY hash Exchange is the final
    group-by on the aggregation key."""
    import re

    from stream_sentinel_spark.streaming.upsert import upsert_agg_delta

    table = _table()
    sch = "k long, seq long, op string, grp string, v long"
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        )
        fn(spark.createDataFrame([(1, 1, "U", "a", 10)], sch), 0)
        fn(spark.createDataFrame([(1, 2, "U", "a", 15)], sch), 1)
        plan = (
            upsert_agg_delta(
                spark, table, 0, key_cols=["k"], seq_cols=["seq"],
                group_col="grp", value_col="v", op_col="op",
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        hash_ex = re.findall(r"Exchange hashpartitioning\(([a-zA-Z_]+)", plan)
        assert hash_ex == ["grp"], hash_ex
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
        assert "WindowGroupLimit" in plan, plan
    finally:
        _drop(spark, table)


def test_reserved_epoch_column_rejected(spark):
    """A change stream carrying its own `_epoch` column must fail
    loudly — the loop owns the provenance stamp the feed and delta
    filter on; silently overwriting user data is corruption."""
    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        )
        bad = spark.createDataFrame(
            [(1, 1, "U", "a", 7)],
            "k long, seq long, op string, val string, _epoch long",
        )
        with pytest.raises(ValueError, match="_epoch.*reserved"):
            fn(bad, 0)
    finally:
        _drop(spark, table)


def test_epoch_time_travel_snapshot(spark):
    """as_of_epoch=E: the snapshot exactly as it stood after epoch E
    committed, with the plan still Exchange-free (the epoch filter
    rides the bucketed scan)."""
    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        )
        for i, ep in enumerate((E0, E1, E2)):
            fn(_changes(spark, ep), i)
        for e, upto in ((0, E0), (1, E0 + E1), (2, E0 + E1 + E2)):
            got = sorted(
                (r.k, r.seq, r.val)
                for r in read_upsert_snapshot(
                    spark, table, ["k"], ["seq"], op_col="op", as_of_epoch=e
                ).collect()
            )
            assert got == _batch_twin(spark, upto), e
        plan = (
            read_upsert_snapshot(
                spark, table, ["k"], ["seq"], op_col="op", as_of_epoch=1
            )._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
    finally:
        _drop(spark, table)


def test_compaction_rebuckets_layout(spark):
    """num_buckets on compaction: layout evolution — the rewrite lands
    in the new bucket count, the snapshot is preserved, its plan stays
    Exchange-free under the new spec, and the loop keeps appending."""
    from stream_sentinel_spark.sources.bucketing import table_num_buckets

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        )
        for i, ep in enumerate((E0, E1)):
            fn(_changes(spark, ep), i)
        before = _snap_rows(spark, table)
        compact_upsert_log(
            spark, table, ["k"], ["seq"], op_col="op", num_buckets=8
        )
        assert table_num_buckets(spark, f"{table}_log") == 8
        assert _snap_rows(spark, table) == before
        plan = (
            read_upsert_snapshot(spark, table, ["k"], ["seq"], op_col="op")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        fn(_changes(spark, E2), 2)
        assert _snap_rows(spark, table) == _batch_twin(spark, E0 + E1 + E2)
    finally:
        _drop(spark, table)


# ---------------------------------------------------------------------------
# downstream consumers: follow_upsert_changes / maintain_agg_view
# ---------------------------------------------------------------------------


def _feed_rows(df):
    return sorted(
        (r.k, r.seq, r.op, r.val, r._epoch)
        for r in df.select("k", "seq", "op", "val", "_epoch").collect()
    )


def test_follow_changes_pages_and_offset(spark, tmp_path):
    """The durable consumer: pages are epoch-aligned (since, until]
    windows capped by max_epochs_per_page, the offset advances after
    each page, a drained consumer processes nothing, and new producer
    epochs are picked up from the stored offset on the next call."""
    from stream_sentinel_spark.streaming.upsert import (
        follow_upsert_changes,
        read_consumer_offset,
    )

    table = _table()
    commits = str(tmp_path / "commits")
    consumer = str(tmp_path / "consumer")
    seen: list[tuple[int, int, list]] = []

    def process(df, since, until):
        seen.append((since, until, _feed_rows(df)))

    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        for i, ep in enumerate((E0, E1, E2)):
            fn(_changes(spark, ep), i)
        pages = follow_upsert_changes(
            spark, table, commit_log_dir=commits, consumer_dir=consumer,
            process=process, max_epochs_per_page=2,
        )
        assert pages == [(-1, 1), (1, 2)]
        assert read_consumer_offset(spark, consumer) == 2
        def _expect(*eps):
            rows = []
            for i, ep in eps:
                rows += [(k, s, op, v, i) for (k, s, op, v) in ep]
            return sorted(rows)
        assert seen[0][2] == _expect((0, E0), (1, E1))
        assert seen[1][2] == _expect((2, E2))
        # drained: nothing re-delivered
        seen.clear()
        assert follow_upsert_changes(
            spark, table, commit_log_dir=commits, consumer_dir=consumer,
            process=process,
        ) == []
        assert seen == []
        # the producer moves on; the consumer resumes from its offset
        e3 = [(9, 40, "U", "i0")]
        fn(_changes(spark, e3), 3)
        assert follow_upsert_changes(
            spark, table, commit_log_dir=commits, consumer_dir=consumer,
            process=process,
        ) == [(2, 3)]
        assert seen[0][2] == _expect((3, e3))
        assert read_consumer_offset(spark, consumer) == 3
    finally:
        _drop(spark, table)


def test_follow_crash_redelivers_identical_page(spark, tmp_path):
    """At-least-once: a consumer crash mid-page leaves the offset
    behind, and the next call re-delivers the SAME page row-for-row —
    the epoch-aligned window over committed files is immutable, which
    is what lets an idempotent consumer reach exactly-once."""
    from stream_sentinel_spark.streaming.upsert import (
        follow_upsert_changes,
        read_consumer_offset,
    )

    table = _table()
    commits = str(tmp_path / "commits")
    consumer = str(tmp_path / "consumer")
    first: list = []

    def crashing(df, since, until):
        first.append((since, until, _feed_rows(df)))
        raise RuntimeError("consumer died mid-page")

    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        for i, ep in enumerate((E0, E1)):
            fn(_changes(spark, ep), i)
        with pytest.raises(RuntimeError, match="mid-page"):
            follow_upsert_changes(
                spark, table, commit_log_dir=commits, consumer_dir=consumer,
                process=crashing,
            )
        assert read_consumer_offset(spark, consumer) == -1
        redelivered: list = []
        follow_upsert_changes(
            spark, table, commit_log_dir=commits, consumer_dir=consumer,
            process=lambda df, s, u: redelivered.append((s, u, _feed_rows(df))),
        )
        assert redelivered == first
        assert read_consumer_offset(spark, consumer) == 1
    finally:
        _drop(spark, table)


AGG_SCHEMA = "k long, seq long, op string, grp string, v decimal(12,2)"


def _agg_rows(spark, r):
    return spark.createDataFrame(
        [(k, s, op, g, None if v is None else str(v)) for (k, s, op, g, v) in r],
        "k long, seq long, op string, grp string, v string",
    ).withColumn("v", F.col("v").cast("decimal(12,2)"))


# updates in place, a group move, a delete, an insert, a stale no-op,
# and (A2) the complete emptying of group c
A0 = [(1, 1, "U", "a", 10), (2, 1, "U", "a", 20), (3, 1, "U", "b", 30),
      (5, 1, "U", "c", 50)]
A1 = [(1, 2, "U", "a", 15), (2, 2, "U", "b", 20), (3, 2, "D", None, None),
      (6, 2, "U", "c", 6), (5, 0, "U", "zzz", 999)]
A2 = [(5, 3, "D", None, None), (6, 3, "D", None, None),
      (7, 3, "U", "a", 7)]


def _view_map(spark, view):
    from stream_sentinel_spark.streaming.upsert import read_agg_view

    return {
        r.grp: (float(r.total), r.n_keys, r._asof_epoch)
        for r in read_agg_view(spark, view).collect()
    }


def _snapshot_agg(spark, table):
    return {
        r.grp: (float(r.s), r.n)
        for r in read_upsert_snapshot(spark, table, ["k"], ["seq"], op_col="op")
        .groupBy("grp")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .collect()
    }


def _drop_view(spark, view):
    spark.sql(f"DROP TABLE IF EXISTS {view}")
    spark.sql(f"DROP TABLE IF EXISTS {view}__compacting")


def test_maintain_agg_view_tracks_snapshot(spark, tmp_path):
    """The maintained view equals GROUP BY over the current snapshot
    after every maintenance call, across interleaved producer epochs —
    including a group whose last live key leaves (kept as a 0/0 row).
    The total's type stays pinned page-over-page (decimal sums would
    otherwise widen per apply)."""
    from stream_sentinel_spark.streaming.upsert import maintain_agg_view

    table, view = _table(), f"v_{uuid.uuid4().hex[:8]}"
    commits = str(tmp_path / "commits")
    consumer = str(tmp_path / "consumer")
    kwargs = dict(
        key_cols=["k"], seq_cols=["seq"], group_col="grp", value_col="v",
        op_col="op", commit_log_dir=commits, consumer_dir=consumer,
    )
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_agg_rows(spark, A0), 0)
        assert maintain_agg_view(
            spark, table, view, **kwargs
        ) == [(-1, 0)]
        t0 = spark.table(view).schema["total"].dataType
        live = {g: v for g, v in _view_map(spark, view).items() if v[1] > 0}
        assert live == {
            g: (s, n, 0) for g, (s, n) in _snapshot_agg(spark, table).items()
        }
        # two more producer epochs, one maintenance call, page cap 1
        fn(_agg_rows(spark, A1), 1)
        fn(_agg_rows(spark, A2), 2)
        assert maintain_agg_view(
            spark, table, view, max_epochs_per_page=1, **kwargs
        ) == [(0, 1), (1, 2)]
        got = _view_map(spark, view)
        snap = _snapshot_agg(spark, table)
        assert {g: v for g, v in got.items() if v[1] > 0} == {
            g: (s, n, 2) for g, (s, n) in snap.items()
        }
        # group c emptied in A2: retained as an exact-zero row
        assert got["c"] == (0.0, 0, 2)
        assert "c" not in snap
        assert spark.table(view).schema["total"].dataType == t0
    finally:
        _drop(spark, table)
        _drop_view(spark, view)


def _lose_offset(spark, consumer_dir):
    """Simulate a crash that lost the offset write: remove every offset
    marker, as if the consumer died before its first post-page rename."""
    from stream_sentinel_spark.streaming.exactly_once import delete_entry
    from stream_sentinel_spark.streaming.upsert import (
        _OFFSET_PREFIX,
        _offset_markers,
    )

    for e in _offset_markers(spark, consumer_dir):
        delete_entry(spark, consumer_dir, f"{_OFFSET_PREFIX}{e}")


def test_maintain_agg_view_replay_guard(spark, tmp_path):
    """The one crash window the offset alone cannot close: view swap
    committed, offset commit lost. The re-delivered page must find the
    view's _asof_epoch stamp and skip the apply — totals not doubled."""
    from stream_sentinel_spark.streaming.upsert import (
        maintain_agg_view,
        read_consumer_offset,
    )

    table, view = _table(), f"v_{uuid.uuid4().hex[:8]}"
    commits = str(tmp_path / "commits")
    consumer = str(tmp_path / "consumer")
    kwargs = dict(
        key_cols=["k"], seq_cols=["seq"], group_col="grp", value_col="v",
        op_col="op", commit_log_dir=commits, consumer_dir=consumer,
    )
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_agg_rows(spark, A0), 0)
        fn(_agg_rows(spark, A1), 1)
        maintain_agg_view(spark, table, view, **kwargs)
        before = _view_map(spark, view)
        # simulate the crash: the swap survived, the offset write didn't
        _lose_offset(spark, consumer)
        assert maintain_agg_view(spark, table, view, **kwargs) == [(-1, 1)]
        assert _view_map(spark, view) == before
        assert read_consumer_offset(spark, consumer) == 1
    finally:
        _drop(spark, table)
        _drop_view(spark, view)


def test_maintain_agg_view_mid_swap_crash_heals(spark, tmp_path):
    """A crash between the view's DROP and RENAME leaves only the tmp
    table; the next maintenance call heals the binding first, then the
    replay guard prevents a double apply."""
    from stream_sentinel_spark.streaming.upsert import maintain_agg_view

    table, view = _table(), f"v_{uuid.uuid4().hex[:8]}"
    commits = str(tmp_path / "commits")
    consumer = str(tmp_path / "consumer")
    kwargs = dict(
        key_cols=["k"], seq_cols=["seq"], group_col="grp", value_col="v",
        op_col="op", commit_log_dir=commits, consumer_dir=consumer,
    )
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        fn(_agg_rows(spark, A0), 0)
        fn(_agg_rows(spark, A1), 1)
        maintain_agg_view(spark, table, view, **kwargs)
        before = _view_map(spark, view)
        # simulate: swap wrote tmp + dropped the view, crashed pre-RENAME
        spark.sql(f"ALTER TABLE {view} RENAME TO {view}__compacting")
        _lose_offset(spark, consumer)
        maintain_agg_view(spark, table, view, **kwargs)
        assert _view_map(spark, view) == before
    finally:
        _drop(spark, table)
        _drop_view(spark, view)


def test_agg_delta_until_epoch_pages_telescope(spark, tmp_path):
    """delta(E0,E1) + delta(E1,E2) == delta(E0,E2) per group — the
    invariant that makes the delta pageable; and until_epoch bounds the
    'new' side to the as-of-U snapshot, not the current one."""
    from stream_sentinel_spark.streaming.upsert import upsert_agg_delta

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
        )
        for i, ep in enumerate((A0, A1, A2)):
            fn(_agg_rows(spark, ep), i)

        def delta(since, until=None):
            return {
                r.grp: float(r.delta_sum)
                for r in upsert_agg_delta(
                    spark, table, since,
                    key_cols=["k"], seq_cols=["seq"], group_col="grp",
                    value_col="v", op_col="op", until_epoch=until,
                ).collect()
            }

        d01, d12, d02 = delta(0, 1), delta(1, 2), delta(0, 2)
        for g in set(d01) | set(d12):
            assert d01.get(g, 0.0) + d12.get(g, 0.0) == d02.get(g, 0.0), g
        # bounded 'new' side: delta(0,1) must NOT see epoch 2's deletes
        assert d01["c"] == 6.0   # insert of key 6 only
        assert d02["c"] == -50.0  # epoch 2 empties the group
    finally:
        _drop(spark, table)


def test_consumer_lag(spark, tmp_path):
    """Two directory listings: latest committed epoch vs the consumer's
    offset — the number an operator alerts on."""
    from stream_sentinel_spark.streaming.upsert import (
        consumer_lag,
        follow_upsert_changes,
    )

    table = _table()
    commits = str(tmp_path / "commits")
    consumer = str(tmp_path / "consumer")
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits,
        )
        for i, ep in enumerate((E0, E1, E2)):
            fn(_changes(spark, ep), i)
        lag = consumer_lag(spark, commits, consumer)
        assert lag == {"latest_epoch": 2, "offset": -1, "lag_epochs": 3}
        follow_upsert_changes(
            spark, table, commit_log_dir=commits, consumer_dir=consumer,
            process=lambda df, s, u: df.count(), max_epochs_per_page=2,
        )
        lag = consumer_lag(spark, commits, consumer)
        assert lag == {"latest_epoch": 2, "offset": 2, "lag_epochs": 0}
    finally:
        _drop(spark, table)


def test_log_bucket_count_auto_sizes_to_first_batch(spark):
    """num_buckets=None (default) sizes the log's bucket count to the
    FIRST batch via auto_num_buckets — a gate-sized epoch gets the
    4-bucket floor instead of 32 near-empty files per append (whose
    accumulated paths cross the parallel-listing threshold and put a
    distributed listing job on every change-feed page read) — while an
    explicit count always wins and appends keep following the table's
    live spec either way."""
    from stream_sentinel_spark.sources.bucketing import (
        auto_num_buckets,
        table_num_buckets,
    )

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op"
        )
        fn(_changes(spark, E0), 0)
        assert (
            table_num_buckets(spark, f"{table}_log")
            == auto_num_buckets(len(E0))
            == 4
        )
        fn(_changes(spark, E1), 1)  # append follows the table's spec
        assert table_num_buckets(spark, f"{table}_log") == 4
        assert _snap_rows(spark, table) == _batch_twin(spark, E0 + E1)
    finally:
        _drop(spark, table)
    explicit = _table()
    try:
        fn = make_upsert_batch_fn(
            table=explicit, key_cols=["k"], seq_cols=["seq"], op_col="op",
            num_buckets=16,
        )
        fn(_changes(spark, E0), 0)
        assert table_num_buckets(spark, f"{explicit}_log") == 16
    finally:
        _drop(spark, explicit)


def test_compaction_rebuckets_auto_sized_log_to_current_volume(spark):
    """ADVICE r09 (medium): an auto-sized log created from a SMALL first
    trigger (the typical stream ramp-up) must not stay pinned at the
    4-bucket floor forever — the in-loop compaction re-derives the
    count from the log's current volume (the rewrite is the one moment
    re-bucketing is free). Explicit counts are never second-guessed
    (covered by test_log_bucket_count_auto_sizes_to_first_batch)."""
    from pyspark.sql import functions as F

    from stream_sentinel_spark.sources.bucketing import (
        auto_num_buckets,
        table_num_buckets,
    )

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            compact_every=2,
        )
        fn(_changes(spark, E0), 0)  # tiny ramp-up batch → 4-bucket floor
        assert table_num_buckets(spark, f"{table}_log") == 4
        big = spark.range(10, 120_010).select(
            F.col("id").alias("k"),
            F.lit(50).cast("long").alias("seq"),
            F.lit("U").alias("op"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        fn(big, 1)  # 2nd append → compaction fires → re-bucket
        n_rows = spark.table(f"{table}_log").count()
        want = auto_num_buckets(n_rows)  # every row survives compaction
        assert want > 4, "fixture must outgrow the floor"
        assert table_num_buckets(spark, f"{table}_log") == auto_num_buckets(
            len(E0) + 120_000
        )
        # content unchanged by the layout evolution
        snap = read_upsert_snapshot(
            spark, table, ["k"], ["seq"], op_col="op"
        )
        assert snap.count() == 3 + 120_000
        assert sorted(
            (r.k, r.seq, r.val) for r in snap.filter("k <= 3").collect()
        ) == [(1, 10, "a0"), (2, 10, "b0"), (3, 10, "c0")]
    finally:
        _drop(spark, table)


def test_auto_rebucket_sizes_from_surviving_rows(spark):
    """An auto-sized log re-buckets to the rows its compaction KEEPS:
    superseded versions are dropped by the rewrite, so counting them
    would size the log for volume it no longer has."""
    from stream_sentinel_spark.sources.bucketing import (
        auto_num_buckets,
        table_num_buckets,
    )

    table = _table()
    try:
        fn = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            compact_every=2,
        )
        fn(_changes(spark, E0), 0)
        # two versions of each of 55,000 keys: 110,003 rows before the
        # compaction, 55,003 live rows after it
        versions = spark.range(110_000).select(
            (F.col("id") % 55_000 + 10).alias("k"),
            (F.col("id") / 55_000 + 50).cast("long").alias("seq"),
            F.lit("U").alias("op"),
            F.col("id").cast("string").alias("val"),
        )
        fn(versions, 1)
        assert auto_num_buckets(110_003) > auto_num_buckets(55_003)
        assert spark.table(f"{table}_log").count() == 55_003
        assert table_num_buckets(spark, f"{table}_log") == auto_num_buckets(
            55_003
        )
    finally:
        _drop(spark, table)


def test_explicit_bucket_count_survives_restart_without_it(spark):
    """The explicit-vs-auto choice is persisted with the log: a loop
    restarted with num_buckets=None must not re-size a log that was
    created with an explicit count."""
    from stream_sentinel_spark.sources.bucketing import table_num_buckets

    table = _table()
    try:
        make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            num_buckets=16,
        )(_changes(spark, E0), 0)
        restarted = make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            compact_every=1,
        )
        restarted(_changes(spark, E1), 1)  # compaction fires
        assert table_num_buckets(spark, f"{table}_log") == 16
        assert _snap_rows(spark, table) == _batch_twin(spark, E0 + E1)
    finally:
        _drop(spark, table)


@pytest.mark.slow
@pytest.mark.parametrize("creating", [False, True], ids=["append", "create"])
def test_upsert_loop_recovers_from_every_crash_point(
    spark, monkeypatch, tmp_path, creating
):
    """The upsert twin of the ingest loop's enumerated crash matrix
    (tests/crash_points.py): an epoch with compaction due is crashed
    after each of its storage mutations in turn — an append epoch, and
    the first epoch, which creates the log and records its bucket
    policy; recovery plus replay must reproduce the uncrashed run's
    snapshot, and a second recovery must find nothing to do."""
    from tests.crash_points import (
        InjectedCrash,
        MutationLog,
        expected_recovery,
        recording,
    )

    table = _table()
    epoch_id, rows = (0, E0) if creating else (1, E1)

    def new_fn(commits):
        return make_upsert_batch_fn(
            table=table, key_cols=["k"], seq_cols=["seq"], op_col="op",
            commit_log_dir=commits, compact_every=1,
        )

    def start(commits):
        _drop(spark, table)
        assert recover_upsert_ingest(
            spark, table=table, commit_log_dir=commits
        )["init_snapshot"]
        if not creating:
            new_fn(commits)(_changes(spark, E0), 0)
        return new_fn(commits)

    try:
        fn = start(str(tmp_path / "ref"))
        with recording(monkeypatch, MutationLog()) as ref_log:
            fn(_changes(spark, rows), epoch_id)
        want = _snap_rows(spark, table)
        assert want == _batch_twin(spark, E0 if creating else E0 + E1)
        n, kinds = len(ref_log.events), ref_log.kinds
        assert {"saveAsTable", "rename", "sql", "delete"} <= set(kinds), kinds
        for k in range(1, n + 1):
            case = f"upsert crash after mutation {k}/{n} ({kinds[k - 1]})"
            commits = str(tmp_path / f"c{k}")
            fn = start(commits)
            with recording(monkeypatch, MutationLog(k)) as log:
                with pytest.raises(InjectedCrash):
                    fn(_changes(spark, rows), epoch_id)
            assert log.kinds == kinds[:k], case
            report = recover_upsert_ingest(
                spark, table=table, commit_log_dir=commits
            )
            want_report = expected_recovery(
                log.events, epoch_id, has_stats=False
            )
            if creating and want_report["orphans"]:
                # an uncommitted first epoch: the log no manifest knows
                # is dropped whole, not diffed
                assert not spark.catalog.tableExists(f"{table}_log"), case
                want_report["orphans"] = set()
            assert set(report["orphans_deleted"]) == want_report["orphans"], (
                case, report,
            )
            assert (
                report["compaction_recovered"]
                == want_report["compaction_recovered"]
            ), (case, report)
            new_fn(commits)(_changes(spark, rows), epoch_id)  # replay
            assert _snap_rows(spark, table) == want, case
            again = recover_upsert_ingest(
                spark, table=table, commit_log_dir=commits
            )
            assert not (
                again["orphans_deleted"] or again["compaction_recovered"]
            ), (case, again)
        print(f"upsert loop ({'create' if creating else 'append'}): "
              f"{n} mutation points")
    finally:
        _drop(spark, table)
