"""Crash-point enumeration for the epoch-commit protocol
(streaming/manifest.py): record every storage mutation one epoch makes,
then re-run the epoch crashing right after the k-th one, for every k.

Mutations counted:

- ``create`` / ``rename`` / ``delete`` on the Hadoop file systems
  ``exactly_once._hadoop_fs`` hands out (the commit log's, and the
  location deletes of an external index's compaction);
- every ``DataFrameWriter`` ``insertInto`` / ``saveAsTable`` /
  ``parquet`` / ``save``;
- every ``DROP`` / ``ALTER`` statement issued through ``spark.sql``.

A crash lets the mutation complete, then raises :class:`InjectedCrash`
(a created log file is closed empty first — its content write is the
part that never happens).
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass, field

_DDL = re.compile(r"^\s*(DROP|ALTER)\b", re.IGNORECASE)


class InjectedCrash(RuntimeError):
    pass


@dataclass
class Mutation:
    kind: str  # create | rename | delete | insertInto | saveAsTable | parquet | save | sql
    target: str  # path, table name or statement
    overwrite: bool | None = None


@dataclass
class MutationLog:
    """Records mutations; raises right after mutation number
    ``crash_at`` (1-based), calling ``on_crash(mutation)`` first."""

    crash_at: int | None = None
    on_crash: object = None
    events: list = field(default_factory=list)
    _crashed: bool = False

    def __call__(self, kind: str, target, overwrite=None) -> None:
        if self._crashed:  # mutations of the on_crash hook itself
            return
        m = Mutation(kind, str(target), overwrite)
        self.events.append(m)
        if self.crash_at == len(self.events):
            self._crashed = True
            if self.on_crash is not None:
                self.on_crash(m)
            raise InjectedCrash(
                f"crash after mutation {self.crash_at}: {kind} {target}"
            )

    @property
    def kinds(self) -> list[str]:
        return [m.kind for m in self.events]


class _CountingFs:
    def __init__(self, fs, log: MutationLog):
        self._fs = fs
        self._log = log

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def create(self, path, overwrite):
        out = self._fs.create(path, overwrite)
        try:
            self._log("create", path.toString())
        except InjectedCrash:
            out.close()
            raise
        return out

    def rename(self, src, dst):
        ok = self._fs.rename(src, dst)
        self._log("rename", dst.toString())
        return ok

    def delete(self, path, recursive):
        ok = self._fs.delete(path, recursive)
        self._log("delete", path.toString())
        return ok


@contextmanager
def recording(monkeypatch, log: MutationLog):
    """Route every counted mutation through ``log`` for the duration."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameWriter

    import stream_sentinel_spark.streaming.exactly_once as eo
    import stream_sentinel_spark.streaming.manifest as mf

    real_fs = eo._hadoop_fs

    def hadoop_fs(spark, path):
        fs, p = real_fs(spark, path)
        return _CountingFs(fs, log), p

    def writer(name):
        real = getattr(DataFrameWriter, name)

        def wrapped(self, *args, **kwargs):
            out = real(self, *args, **kwargs)
            overwrite = kwargs.get("overwrite", args[1] if len(args) > 1 else None)
            log(name, args[0] if args else kwargs.get("path", ""),
                overwrite if name == "insertInto" else None)
            return out

        return wrapped

    real_sql = SparkSession.sql

    def sql(self, sqlQuery, *args, **kwargs):
        out = real_sql(self, sqlQuery, *args, **kwargs)
        if _DDL.match(sqlQuery):
            log("sql", sqlQuery.strip())
        return out

    with monkeypatch.context() as m:
        m.setattr(eo, "_hadoop_fs", hadoop_fs)
        m.setattr(mf, "_hadoop_fs", hadoop_fs)
        for name in ("insertInto", "saveAsTable", "parquet", "save"):
            m.setattr(DataFrameWriter, name, writer(name))
        m.setattr(SparkSession, "sql", sql)
        yield log


def expected_recovery(
    prefix: list[Mutation], epoch_id: int, has_stats: bool = True
) -> dict:
    """What recovery must report after a crash that left exactly the
    mutations ``prefix`` done: before the ``epoch-{id}`` rename, every
    written location holds orphans (and a stats-delta append forces a
    rebuild); inside an open ``compact-pending`` window, the swap is
    finished and the stats rebuilt; otherwise nothing is left to do."""
    committed = any(
        m.kind == "rename" and m.target.endswith(f"/epoch-{epoch_id}")
        for m in prefix
    )
    pending = False
    for m in prefix:
        if m.target.endswith("/compact-pending"):
            pending = m.kind == "rename"
    if not committed:
        writes = [
            m for m in prefix
            if m.kind in ("parquet", "saveAsTable", "insertInto", "save")
        ]
        return {
            "orphans": {
                m.target for m in writes if not m.target.endswith("_bandstats")
            },
            "stats_rebuilt": any(m.target.endswith("_bandstats") for m in writes),
            "compaction_recovered": False,
        }
    return {
        "orphans": set(),
        "stats_rebuilt": pending and has_stats,
        "compaction_recovered": pending,
    }
