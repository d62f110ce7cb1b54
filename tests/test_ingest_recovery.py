"""Crash matrix for the ingest loop's epoch-manifest commit protocol: a
crash after ANY storage mutation of an epoch with compaction due — the
sink writes, the index appends, the commit, every step of the
compaction — must recover, on restart, to an index and sinks identical
to a run that never crashed. The crash points are enumerated, not
hand-picked (tests/crash_points.py counts the epoch's mutations and
crashes after each — the compaction WAL's mid-swap window, with the
table unbound, among them). Also pins external-location rotation, the
working-column guards of the epoch frames, and the opt-in intra-batch
dedup stage's sequential-feed equivalence.

Reference anchor: the EXACTLY_ONCE checkpoint contract
(flink-job StreamSentinelJob.java:154-165), extended from the alert
sink to the index sink — VERDICT r06 next-round item 1.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_sentinel_spark.operators.dedup import (
    build_minhash_index,
    match_minhash_index,
)
from stream_sentinel_spark.sources.batch import load_table
from stream_sentinel_spark.streaming.ingest import (
    make_dedup_ingest_batch_fn,
    recover_dedup_ingest,
)

SF_DIR = "/root/testdata/sf0.001"
THRESH = 0.5


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").localCheckpoint(eager=True)


def _batch(docs, m):
    return docs.filter(F.col("doc_id") % 5 == m)


def _drop(spark, name):
    for suffix in ("bands", "verify", "vecs", "bandstats", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}__compacting")


def _table_rows(spark, name, cols):
    spark.catalog.refreshTable(name)
    return sorted(
        tuple(r[c] for c in cols) for r in spark.table(name).collect()
    )


def _stats_rows(spark, name):
    # the stats table is an append LOG (base + per-append deltas); its
    # contract — what recovery must restore — is the aggregated per-key
    # counts, not the physical row layout (a recovery REBUILD collapses
    # the log to one row per key; a clean run keeps base + deltas)
    from stream_sentinel_spark.operators.similarity import _read_bandstats

    spark.catalog.refreshTable(f"{name}_bandstats")
    return sorted(
        (r.band, r.bucket, r._na)
        for r in _read_bandstats(
            spark, f"{name}_bandstats", ["band", "bucket"]
        ).collect()
    )


def _index_state(spark, name):
    return (
        _table_rows(spark, f"{name}_bands", ["old_id", "band", "bucket"]),
        _table_rows(spark, f"{name}_verify", ["old_id", "sz"]),
        _stats_rows(spark, name),
    )


def _probe_rows(spark, table, probe):
    return sorted(
        (r.new_id, r.n_matches, r.best_jaccard, r.first_match)
        for r in match_minhash_index(spark, probe, table, threshold=THRESH).collect()
    )


# ---------------------------------------------------------------------------
# enumerated crash matrix: one epoch with compaction due, crashed after
# each of its N storage mutations in turn (tests/crash_points.py)
# ---------------------------------------------------------------------------

_KINDS = {
    # kind: (source table, id col, content col, threshold, stats key,
    #        index tables (table suffix, columns), probe score column)
    "minhash": ("documents", "doc_id", "text", THRESH, "bucket",
                (("bands", ["old_id", "band", "bucket"]),
                 ("verify", ["old_id", "sz"])), "best_jaccard"),
    "lsh": ("embeddings", "vec_id", "embedding", 0.4, "val",
            (("bands", ["old_id", "band", "val"]),
             ("vecs", ["old_id", "old_nrm"])), "best_cos"),
}


@pytest.fixture
def small_shuffle(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _matrix_frames(spark, kind):
    """A few dozen rows: the index seed, the crashed epoch (novel rows
    plus exact copies of seed rows, so both sinks get data) and a probe
    (novel rows plus copies of epoch rows, so it matches the append)."""
    source, id_col = _KINDS[kind][:2]
    rows = load_table(spark, SF_DIR, source).orderBy(id_col)

    def part(m, n):
        return rows.filter(F.col(id_col) % 5 == m).limit(n)

    def copies(df, n, shift):
        return df.limit(n).withColumn(id_col, F.col(id_col) + F.lit(shift))

    seed = part(0, 24).localCheckpoint(eager=True)
    epoch = part(1, 20).unionByName(copies(seed, 4, 10_000_000))
    epoch = epoch.localCheckpoint(eager=True)
    probe = part(4, 12).unionByName(copies(part(1, 20), 4, 20_000_000))
    return seed, epoch, probe.localCheckpoint(eager=True)


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _parquet_rows(location: str, cols: list[str]) -> list[tuple]:
    """Sorted rows of the data files under ``location``, read straight
    from the files (a crash case compares several locations; a Spark
    read costs jobs per location)."""
    import glob

    import pyarrow.parquet as pq

    rows = []
    for f in glob.glob(f"{_local(location)}/part-*"):
        t = pq.read_table(f, columns=cols)
        rows += zip(*(t.column(c).to_pylist() for c in cols))
    return sorted(rows)


def _freeze(spark, table, tables, root, base=None):
    """Capture the freshly built index (catalog spec + data files) and
    the init commit log; the returned ``restore()`` puts both back with
    a few catalog calls and file copies instead of a rebuild. ``base``:
    the directory of an external index's locations (rotated ones too),
    cleared before the tables are re-created at their original ones."""
    import os
    import shutil

    from stream_sentinel_spark.sources.bucketing import table_info
    from stream_sentinel_spark.streaming.manifest import table_location

    frozen = []
    for t in tables:
        info = table_info(spark, t)
        create = f"CREATE TABLE {t} ({spark.table(t)._jdf.schema().toDDL()}) "
        create += "USING parquet"
        if "Num Buckets" in info:
            create += (
                f" CLUSTERED BY ({info['Bucket Columns'].strip('[]')})"
                f" INTO {info['Num Buckets']} BUCKETS"
            )
        if info.get("Type", "").upper() == "EXTERNAL":
            create += f" LOCATION '{info['Location']}'"
        copy = f"{root}-frozen/{t}"
        shutil.copytree(_local(table_location(spark, t)), copy)
        frozen.append((t, create, copy))
    shutil.copytree(f"{root}/commits", f"{root}-frozen/commits")

    def restore():
        _drop(spark, table)
        if base is not None:
            shutil.rmtree(base)
        for t, create, copy in frozen:
            spark.sql(create)
            loc = _local(table_location(spark, t))
            os.makedirs(loc, exist_ok=True)
            for name in os.listdir(copy):
                shutil.copy(os.path.join(copy, name), loc)
            spark.catalog.refreshTable(t)
        shutil.rmtree(root)
        shutil.copytree(f"{root}-frozen/commits", f"{root}/commits")

    return restore


def _storage_state(spark, kind, table, root):
    """Index rows, aggregated stats and both sinks, as stored."""
    from stream_sentinel_spark.streaming.manifest import table_location

    _, id_col, _, _, key, tables, _ = _KINDS[kind]
    index = tuple(
        _parquet_rows(table_location(spark, f"{table}_{suffix}"), cols)
        for suffix, cols in tables
    )
    stats: dict = {}
    for band, k, na in _parquet_rows(
        table_location(spark, f"{table}_bandstats"), ["band", key, "_na"]
    ):
        stats[(band, k)] = stats.get((band, k), 0) + na
    sinks = (
        _parquet_rows(f"{root}/acc", [id_col, "epoch"]),
        _parquet_rows(f"{root}/match", ["new_id", "epoch"]),
    )
    return index, sorted(stats.items()), sinks


def _matrix_probe(spark, kind, table, probe, meta, kernel):
    """A probe batch's matches, read through the catalog tables."""
    from stream_sentinel_spark.operators.dedup import match_minhash_index
    from stream_sentinel_spark.operators.similarity import match_lsh_index

    _, id_col, content_col, threshold, _, _, best = _KINDS[kind]
    for suffix in ("bands", "bandstats"):
        spark.catalog.refreshTable(f"{table}_{suffix}")
    match = match_minhash_index if kind == "minhash" else match_lsh_index
    return sorted(
        (r.new_id, r.n_matches, r[best], r.first_match)
        for r in match(
            spark, probe, table, id_col, content_col, threshold=threshold,
            meta=meta, kernel=kernel,
        ).collect()
    )


def _run_crash_matrix(
    spark, monkeypatch, tmp_path_factory, kind, external=False
):
    import os

    from stream_sentinel_spark.operators.dedup import (
        _kernel_frame,
        build_minhash_index,
    )
    from stream_sentinel_spark.operators.similarity import (
        _lsh_kernel_frame,
        build_lsh_index,
    )
    from stream_sentinel_spark.streaming.manifest import table_location
    from tests.crash_points import (
        InjectedCrash,
        MutationLog,
        expected_recovery,
        recording,
    )

    _, id_col, content_col, threshold, _, tables = _KINDS[kind][:6]
    seed, epoch, probe = _matrix_frames(spark, kind)
    table = f"ing_mx_{kind}" + ("_ext" if external else "")
    tmp = str(tmp_path_factory.mktemp(f"mx_{kind}"))
    root = f"{tmp}/run"
    base = f"{tmp}/idx" if external else None

    def new_fn():
        # a restart is a new process: a fresh batch fn, cadence reset
        return make_dedup_ingest_batch_fn(
            table=table, kind=kind, id_col=id_col, content_col=content_col,
            threshold=threshold, accepted_path=f"{root}/acc",
            matches_path=f"{root}/match", commit_log_dir=f"{root}/commits",
            compact_every=1,
        )

    def recover():
        return recover_dedup_ingest(
            spark, table=table, kind=kind, commit_log_dir=f"{root}/commits",
            accepted_path=f"{root}/acc", matches_path=f"{root}/match",
        )

    _drop(spark, table)
    if kind == "minhash":
        build_minhash_index(
            seed, table, num_hashes=32, bands=8, num_buckets=2,
            base_path=base,
        )
    else:
        build_lsh_index(
            seed, table, num_buckets=2, hot_bucket_warn=None, base_path=base
        )
    assert recover()["init_snapshot"]
    index_tables = [f"{table}_{t}" for t, _ in tables]
    built_at = {t: table_location(spark, t) for t in index_tables}
    restore = _freeze(
        spark, table, [f"{table}_meta", f"{table}_bandstats", *index_tables],
        root, base,
    )
    # the probe's signature pass runs once; only the index side varies
    meta = spark.table(f"{table}_meta").head()
    probe_kernel = (
        _kernel_frame(probe, id_col, content_col, meta.n, meta.num_hashes)
        if kind == "minhash"
        else _lsh_kernel_frame(
            probe, id_col, content_col, meta.bits, meta.dim, meta.seed
        )
    )

    def state():
        return _storage_state(spark, kind, table, root)

    def probed():
        return _matrix_probe(spark, kind, table, probe, meta, probe_kernel)

    def crash(k, on_crash=None):
        with recording(monkeypatch, MutationLog(k, on_crash)) as log:
            with pytest.raises(InjectedCrash):
                new_fn()(epoch, 0)
        case = f"{kind} crash after mutation {k}/{n} ({kinds[k - 1]})" + (
            " with torn stats" if on_crash else ""
        )
        assert log.kinds == kinds[:k], case
        report = recover()
        want_report = expected_recovery(log.events, 0)
        got_report = {
            "orphans": set(report["orphans_deleted"]),
            "stats_rebuilt": report["stats_rebuilt"],
            "compaction_recovered": report["compaction_recovered"],
        }
        assert got_report == want_report, (case, report)
        return case

    def assert_settled(case):
        # a second recovery on the now-clean state is a strict no-op
        again = recover()
        assert not (
            again["orphans_deleted"] or again["stats_rebuilt"]
            or again["compaction_recovered"]
        ), (case, again)
        # an external index swapped into a rotated location leaves no
        # copy at the location it was built at
        for t, loc in built_at.items():
            if table_location(spark, t) != loc:
                assert not os.path.exists(_local(loc)), (case, t)

    before = state()
    with recording(monkeypatch, MutationLog()) as ref_log:
        new_fn()(epoch, 0)
    want = state(), probed()
    n = len(ref_log.events)
    kinds = ref_log.kinds
    # the enumeration covers the whole sequence: data writes, the
    # commit rename, the compaction marker, the swap DDL and the stats
    # overwrite, and the marker clear
    assert {"parquet", "saveAsTable", "insertInto", "rename", "sql",
            "delete"} <= set(kinds), kinds
    if external:
        # the rotation's deletes of the superseded locations are counted
        deleted = {_local(m.target) for m in ref_log.events if m.kind == "delete"}
        assert {_local(loc) for loc in built_at.values()} <= deleted, deleted
    committed_at = next(
        i + 1 for i, m in enumerate(ref_log.events)
        if m.kind == "rename" and m.target.endswith("/epoch-0")
    )
    torn_at = next(
        i + 1 for i, m in enumerate(ref_log.events)
        if m.kind == "insertInto" and m.overwrite
    )

    def tear_stats(_m):
        # the stats overwrite's crash window: its data file is gone
        from stream_sentinel_spark.streaming.manifest import (
            _delete_names,
            list_data_files,
            table_location,
        )

        loc = table_location(spark, f"{table}_bandstats")
        _delete_names(spark, loc, list_data_files(spark, loc))

    # Crashes before the commit roll back to the pre-epoch state, so
    # the replay after crash k is itself crashed at k + 1 (a crash
    # during replay): each recovery must restore exactly that state,
    # and the chain's last replay runs past the commit.
    restore()
    for k in range(1, committed_at):
        case = crash(k)
        assert state() == before, case
        assert_settled(case)
    # From the commit on, a replay is a no-op: every case starts fresh
    # and ends in the uncrashed run's storage and probe answers.
    for k, on_crash in [
        *((k, None) for k in range(committed_at, n + 1)),
        (torn_at, tear_stats),
    ]:
        if k != committed_at or on_crash is not None:
            restore()
        case = crash(k, on_crash)
        new_fn()(epoch, 0)  # Structured Streaming's replay
        assert (state(), probed()) == want, case
        assert_settled(case)
    _drop(spark, table)
    where = "external" if external else "managed"
    print(f"{kind} ingest loop ({where} index): {n} mutation points")
    return n


def test_minhash_loop_recovers_from_every_crash_point(
    spark, small_shuffle, monkeypatch, tmp_path_factory
):
    """Every mutation of a MinHash ingest epoch with compaction due —
    sink writes, index appends, the commit rename, the compact-pending
    marker, the swap DDL, the stats overwrite (also with its data file
    torn away), the post-compaction snapshot and the marker clear — is
    crashed after in turn; recovery plus replay must reproduce the
    uncrashed run's index, aggregated stats, both sinks and probe
    matches, and a second recovery must find nothing to do."""
    assert _run_crash_matrix(spark, monkeypatch, tmp_path_factory, "minhash")


@pytest.mark.slow
def test_lsh_loop_recovers_from_every_crash_point(
    spark, small_shuffle, monkeypatch, tmp_path_factory
):
    assert _run_crash_matrix(spark, monkeypatch, tmp_path_factory, "lsh")


@pytest.mark.slow
def test_external_minhash_loop_recovers_from_every_crash_point(
    spark, small_shuffle, monkeypatch, tmp_path_factory
):
    """The MinHash matrix over an index built with ``base_path``:
    compaction rotates each external table to a new location and
    deletes the old one, so the rotation's deletes are crash points
    too, and recovery must finish a relocation it interrupted."""
    assert _run_crash_matrix(
        spark, monkeypatch, tmp_path_factory, "minhash", external=True
    )


# ---------------------------------------------------------------------------
# named crash sites over two epochs of real data: the matrix above runs
# one small epoch; these crash the SECOND of two committed-in-sequence
# epochs, so recovery must roll back to a non-init snapshot
# ---------------------------------------------------------------------------


def _mk_fn(table, root, **kw):
    return make_dedup_ingest_batch_fn(
        table=table, kind="minhash", id_col="doc_id", content_col="text",
        threshold=THRESH, accepted_path=f"{root}/acc",
        matches_path=f"{root}/match", commit_log_dir=f"{root}/commits", **kw,
    )


def _sink_rows(spark, path):
    df = spark.read.parquet(path)
    id_col = "doc_id" if "doc_id" in df.columns else "new_id"
    return sorted(
        (r[id_col], r.epoch) for r in df.select(id_col, "epoch").collect()
    )


@pytest.fixture(scope="module")
def clean_run(spark, docs, tmp_path_factory):
    """The no-crash reference: build + epochs 0,1 through the SAME batch
    fn (commit log on), with the recovery hook run at 'loop start'."""
    root = str(tmp_path_factory.mktemp("ing_clean"))
    _drop(spark, "ing_rcref")
    build_minhash_index(_batch(docs, 0), "ing_rcref", num_hashes=32, bands=8)
    recover_dedup_ingest(
        spark, table="ing_rcref", commit_log_dir=f"{root}/commits",
        accepted_path=f"{root}/acc", matches_path=f"{root}/match",
    )
    fn = _mk_fn("ing_rcref", root)
    fn(_batch(docs, 1), 0)
    fn(_batch(docs, 2), 1)
    yield root
    _drop(spark, "ing_rcref")


# one crash site per append in the epoch's write sequence, plus the
# window after all writes but before the commit rename
CRASH_POINTS = ["after_bands_append", "after_stats_merge", "before_commit"]


def _install_crash(monkeypatch, point):
    boom = RuntimeError(f"injected crash: {point}")
    if point == "after_bands_append":
        # _merge_bandstats is imported inside append_minhash_index at
        # call time: raising at its entry crashes after the first of the
        # three index appends (the _bands file append) has completed
        import stream_sentinel_spark.operators.similarity as sim

        def die(*a, **k):
            raise boom

        monkeypatch.setattr(sim, "_merge_bandstats", die)
    elif point == "after_stats_merge":
        import stream_sentinel_spark.operators.similarity as sim

        real = sim._merge_bandstats

        def through_then_die(*a, **k):
            real(*a, **k)
            raise boom

        monkeypatch.setattr(sim, "_merge_bandstats", through_then_die)
    elif point == "before_commit":
        # the epoch-{id} rename is the commit: every write is done
        import stream_sentinel_spark.streaming.manifest as mf

        def die(*a, **k):
            raise boom

        monkeypatch.setattr(mf, "commit_epoch", die)
    else:  # pragma: no cover
        raise AssertionError(point)


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_crash_mid_epoch_recovers_to_clean_run(
    spark, docs, clean_run, tmp_path_factory, monkeypatch, point
):
    table = f"ing_rc_{CRASH_POINTS.index(point)}"
    root = str(tmp_path_factory.mktemp(f"ing_{point}"))
    _drop(spark, table)
    build_minhash_index(_batch(docs, 0), table, num_hashes=32, bands=8)
    recover = lambda: recover_dedup_ingest(
        spark, table=table, commit_log_dir=f"{root}/commits",
        accepted_path=f"{root}/acc", matches_path=f"{root}/match",
    )
    init_report = recover()  # loop start: writes the init snapshot
    assert init_report["init_snapshot"]
    fn = _mk_fn(table, root)
    fn(_batch(docs, 1), 0)

    pre_crash = _index_state(spark, table)
    with monkeypatch.context() as m:
        _install_crash(m, point)
        with pytest.raises(RuntimeError, match="injected crash"):
            fn(_batch(docs, 2), 1)

    # the crash must have left PARTIAL state behind (otherwise the test
    # is vacuous) ...
    assert _index_state(spark, table) != pre_crash or point == "before_commit"
    # ... which 'restart' recovery rolls back to the last committed epoch
    report = recover()
    assert not report["init_snapshot"]
    assert report["orphans_deleted"], report
    if point == "after_stats_merge":
        # the stats append completed before the crash: its inventory
        # disagrees with the snapshot, so it is rebuilt from the
        # recovered bands
        assert report["stats_rebuilt"], report
    assert _index_state(spark, table) == pre_crash

    # Structured Streaming replays the uncommitted epoch; the replay
    # runs against the byte-clean state and commits
    fn(_batch(docs, 2), 1)

    assert _index_state(spark, table) == _index_state(spark, "ing_rcref")
    assert _sink_rows(spark, f"{root}/acc") == _sink_rows(spark, f"{clean_run}/acc")
    assert _sink_rows(spark, f"{root}/match") == _sink_rows(
        spark, f"{clean_run}/match"
    )
    probe = _batch(docs, 4)
    assert _probe_rows(spark, table, probe) == _probe_rows(
        spark, "ing_rcref", probe
    )
    # a second recovery on the now-clean state is a strict no-op
    report = recover()
    assert not report["orphans_deleted"] and not report["stats_rebuilt"]
    _drop(spark, table)


def test_compaction_mid_swap_crash_recovers(spark, docs, tmp_path_factory):
    """Compaction WAL: the DROP→RENAME crash window (table unbound,
    __compacting complete) with the compact-pending marker on disk;
    recovery must restore the binding, re-snapshot, and clear the
    marker — and the loop must keep answering identically."""
    import stream_sentinel_spark.streaming.manifest as mf

    root = str(tmp_path_factory.mktemp("ing_cwal"))
    table = "ing_cwal"
    _drop(spark, table)
    build_minhash_index(_batch(docs, 0), table, num_hashes=32, bands=8)
    recover = lambda: recover_dedup_ingest(
        spark, table=table, commit_log_dir=f"{root}/commits",
        accepted_path=f"{root}/acc", matches_path=f"{root}/match",
    )
    recover()
    fn = _mk_fn(table, root)
    fn(_batch(docs, 1), 0)
    probe = _batch(docs, 4)
    want = _probe_rows(spark, table, probe)

    # crash state: pending marker written, bands table mid-swap
    mf.write_compact_pending(
        spark, f"{root}/commits", 0, [f"{table}_bands", f"{table}_verify"]
    )
    spark.sql(f"ALTER TABLE {table}_bands RENAME TO {table}_bands__compacting")

    report = recover()
    assert report["compaction_recovered"], report
    assert mf._read_json(spark, f"{root}/commits", mf._PENDING) is None
    assert spark.catalog.tableExists(f"{table}_bands")
    assert _probe_rows(spark, table, probe) == want
    # the post-recovery snapshot is now the latest manifest, so a
    # subsequent plain recovery diffs cleanly against it
    report = recover()
    assert not report["compaction_recovered"]
    assert not report["orphans_deleted"], report
    assert not report["stats_rebuilt"], report
    _drop(spark, table)


def test_external_compaction_rotates_location_and_cleans(
    spark, docs, tmp_path_factory
):
    """ADVICE r06 (medium): compacting an index built with base_path
    must keep the tables EXTERNAL — rotated to a versioned sibling
    location with the superseded directory deleted — instead of
    silently relocating them into the managed warehouse and orphaning
    the original files."""
    import os

    from stream_sentinel_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
    )
    from stream_sentinel_spark.sources.bucketing import table_meta

    base = str(tmp_path_factory.mktemp("ing_ext")) + "/idx"
    table = "ing_ext"
    _drop(spark, table)
    build_minhash_index(
        _batch(docs, 0), table, num_hashes=32, bands=8, base_path=base
    )
    append_minhash_index(_batch(docs, 1), table)
    probe = _batch(docs, 4)
    want = _probe_rows(spark, table, probe)

    compact_minhash_index(spark, table)
    for sub, leaf in (("bands", "bands"), ("verify", "verify")):
        ttype, loc = table_meta(spark, f"{table}_{sub}")
        assert ttype.upper() == "EXTERNAL", (sub, ttype)
        assert loc.rstrip("/").endswith(f"{leaf}__c1"), (sub, loc)
        assert not os.path.exists(f"{base}/{leaf}"), "old location leaked"
    assert _probe_rows(spark, table, probe) == want

    # second rotation: __c1 -> __c2, __c1 cleaned
    compact_minhash_index(spark, table)
    _, loc = table_meta(spark, f"{table}_bands")
    assert loc.rstrip("/").endswith("bands__c2")
    assert not os.path.exists(f"{base}/bands__c1")
    assert _probe_rows(spark, table, probe) == want
    _drop(spark, table)


def test_dedup_within_batch_diverts_and_equals_sequential_feed(
    spark, docs, tmp_path_factory
):
    """Opt-in intra-batch stage (VERDICT r06 item 3): planted exact
    copies inside ONE batch are diverted to the matches sink with
    within_batch=true and never reach the index; the final index equals
    a sequential one-document-per-batch feed of the same rows (the
    fixture's duplicate groups are stars around their smallest id —
    the regime where the pairwise contract and the greedy feed agree;
    the chain caveat is documented in streaming/ingest.py).

    Threshold 0.95: the sf0.001 synthetic documents are mutually similar
    enough that trigram Jaccard 0.5 pairs many ORIGINALS with each other
    (probed — the first run diverted originals too, legitimately per the
    pairwise contract but not star-shaped); at 0.95 only the planted
    exact copies (Jaccard 1.0) pair, which is the controlled star
    fixture this equivalence pin needs."""
    wb_thresh = 0.95
    root = str(tmp_path_factory.mktemp("ing_wb"))
    for t in ("ing_wb", "ing_wbref"):
        _drop(spark, t)
        build_minhash_index(_batch(docs, 0), t, num_hashes=32, bands=8)

    originals = _batch(docs, 1).orderBy("doc_id").limit(8).localCheckpoint(
        eager=True
    )
    copies = originals.withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    ).localCheckpoint(eager=True)
    planted = originals.unionByName(copies).localCheckpoint(eager=True)
    copy_ids = sorted(r.doc_id for r in copies.select("doc_id").collect())

    fn = make_dedup_ingest_batch_fn(
        table="ing_wb", kind="minhash", id_col="doc_id", content_col="text",
        threshold=wb_thresh, accepted_path=f"{root}/acc",
        matches_path=f"{root}/match", dedup_within_batch=True,
    )
    fn(planted, 0)

    matches = spark.read.parquet(f"{root}/match")
    diverted = sorted(
        r.new_id for r in matches.filter(F.col("within_batch")).collect()
    )
    assert diverted == copy_ids
    # every within-batch row points at its original (smallest group id)
    firsts = {
        r.new_id: r.first_match
        for r in matches.filter(F.col("within_batch")).collect()
    }
    assert all(firsts[c] == c - 10_000_000 for c in copy_ids)
    # exact copies: jaccard 1.0
    assert all(
        r.best_jaccard == 1.0
        for r in matches.filter(F.col("within_batch")).collect()
    )

    # sequential one-doc-per-batch reference over the same rows
    ref_fn = make_dedup_ingest_batch_fn(
        table="ing_wbref", kind="minhash", id_col="doc_id",
        content_col="text", threshold=wb_thresh, accepted_path=f"{root}/refacc",
    )
    rows = planted.orderBy("doc_id").collect()
    for i, row in enumerate(rows):
        ref_fn(spark.createDataFrame([row], planted.schema), i)

    assert _index_state(spark, "ing_wb") == _index_state(spark, "ing_wbref")
    got_acc = sorted(
        r.doc_id for r in spark.read.parquet(f"{root}/acc").collect()
    )
    want_acc = sorted(
        r.doc_id for r in spark.read.parquet(f"{root}/refacc").collect()
    )
    assert got_acc == want_acc
    assert not any(c in got_acc for c in copy_ids)
    # non-diverted rows still carry the index-match contract
    assert matches.filter(~F.col("within_batch")).columns == [
        "new_id", "n_matches", "best_jaccard", "first_match",
        "within_batch", "epoch",
    ]
    for t in ("ing_wb", "ing_wbref"):
        _drop(spark, t)


def test_transitive_within_batch_equals_sequential_on_chains(
    spark, tmp_path_factory
):
    """dedup_within_batch="transitive" (VERDICT r07 item 5): a planted
    similarity CHAIN A~B~C with A≁C must reproduce the sequential
    one-doc-per-batch feed — B diverted, C RE-ACCEPTED (B never entered
    the index, so nothing C resembles is indexed) — where the pairwise
    mode diverts C too. Chain built from disjoint 300-char segments so
    trigram Jaccard is segment arithmetic: A=S1..S4, B=S2..S5, C=S3..S6
    gives A~B = B~C = 3/5 = 0.6 >= 0.5 and A~C = 2/6 = 0.33 < 0.5."""
    import random

    rng = random.Random(7)
    segs = [
        "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(300))
        for _ in range(7)
    ]
    chain = [
        (100, "".join(segs[1:5])),   # A
        (200, "".join(segs[2:6])),   # B
        (300, "".join(segs[3:7])),   # C
    ]
    batch = spark.createDataFrame(chain, "doc_id long, text string")
    seed_doc = spark.createDataFrame([(1, segs[0] * 4)], "doc_id long, text string")
    root = str(tmp_path_factory.mktemp("ing_chain"))

    results = {}
    for mode, tag in ((True, "pairwise"), ("transitive", "transitive")):
        table = f"ing_ch_{tag}"
        _drop(spark, table)
        # width-2 bands: candidate recall at J=0.6 is ~1 - 0.64^32 ≈ 1,
        # so the exact-Jaccard verify decides every pair
        build_minhash_index(seed_doc, table, num_hashes=64, bands=32)
        fn = make_dedup_ingest_batch_fn(
            table=table, kind="minhash", id_col="doc_id",
            content_col="text", threshold=0.5,
            accepted_path=f"{root}/acc_{tag}",
            matches_path=f"{root}/match_{tag}",
            dedup_within_batch=mode,
        )
        fn(batch, 0)
        acc = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{root}/acc_{tag}").collect()
        )
        div = {
            r.new_id: (r.n_matches, r.first_match)
            for r in spark.read.parquet(f"{root}/match_{tag}")
            .filter(F.col("within_batch"))
            .collect()
        }
        results[tag] = (acc, div)

    # sequential one-doc-per-batch reference
    _drop(spark, "ing_ch_seq")
    build_minhash_index(seed_doc, "ing_ch_seq", num_hashes=64, bands=32)
    ref_fn = make_dedup_ingest_batch_fn(
        table="ing_ch_seq", kind="minhash", id_col="doc_id",
        content_col="text", threshold=0.5,
        accepted_path=f"{root}/acc_seq",
    )
    for i, row in enumerate(chain):
        ref_fn(spark.createDataFrame([row], batch.schema), i)
    seq_acc = sorted(
        r.doc_id for r in spark.read.parquet(f"{root}/acc_seq").collect()
    )

    # the sequential feed accepts A and C, diverting only B
    assert seq_acc == [100, 300]
    # transitive mode reproduces it; stats count ACCEPTED partners only
    acc_t, div_t = results["transitive"]
    assert acc_t == seq_acc
    assert set(div_t) == {200}
    assert div_t[200] == (1, 100)
    assert _index_state(spark, "ing_ch_transitive") == _index_state(
        spark, "ing_ch_seq"
    )
    # pairwise mode — the documented chain divergence — diverts C too
    acc_p, div_p = results["pairwise"]
    assert acc_p == [100]
    assert set(div_p) == {200, 300}
    for t in ("ing_ch_pairwise", "ing_ch_transitive", "ing_ch_seq"):
        _drop(spark, t)


def test_within_batch_mode_validated():
    with pytest.raises(ValueError, match="dedup_within_batch"):
        make_dedup_ingest_batch_fn(
            table="t", kind="minhash", dedup_within_batch="bogus"
        )


def test_minhash_epoch_rejects_working_column_collision(spark):
    """A payload column named like the epoch frame's ``_sc`` working
    column would be overwritten by the signature struct and then dropped
    with it — lost from the sinks and the index. It is rejected."""
    from stream_sentinel_spark.operators.dedup import _epoch_frames

    batch = spark.createDataFrame(
        [(1, "some text", "keep me")], "doc_id long, text string, _SC string"
    )
    with pytest.raises(ValueError, match="'_SC'"):
        _epoch_frames(batch, batch.columns, "doc_id", "text", 3, 32)


@pytest.mark.parametrize("column", ["_nrm", "sig", "id"])
def test_lsh_epoch_rejects_working_column_collision(spark, column):
    """``_nrm`` would be overwritten by the norm, ``sig`` and (with an
    id column named otherwise) ``id`` would be shadowed by the kernel's
    own columns. Each is rejected by name."""
    from stream_sentinel_spark.operators.similarity import _lsh_epoch_frames

    batch = spark.createDataFrame(
        [(1, [0.5] * 64, 7)],
        f"vec_id long, embedding array<float>, {column} long",
    )
    with pytest.raises(ValueError, match=f"'{column}'"):
        _lsh_epoch_frames(batch, batch.columns, "vec_id", "embedding", 16, 64, 42)
