"""Per-layer numbers, gathered from outside the program.

Sources: the queries' progress (delivered to a ``StreamingQueryListener``
in the traced run), Spark's event log (uncompressed, UI off), ``/proc``
CPU and memory of the driver, the JVM and the Python worker processes,
and wall time the benchmark takes around the library's public calls.
Nothing inside ``stream_sentinel_spark`` is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")

# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return s[s.rindex(")") + 2 :].split()  # fields from 3 (state) on


def python_workers(jvm: int) -> list[int]:
    """Python processes below the JVM: the pyspark daemons and the
    workers they fork. Other children are left out, chiefly the JVM's
    own process launches, which share its address space until they exec
    and would count the whole JVM a second time."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [jvm]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            todo.append(c)
            try:
                with open(f"/proc/{c}/comm") as f:
                    if f.read().startswith("python"):
                        out.append(c)
            except OSError:
                pass
    return out


def pss_bytes(pid: int) -> int:
    """Proportional resident memory: a page shared by n processes counts
    1/n in each, so forked Python workers do not count their parent's
    pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended
        pass
    return 0


def cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime (+ reaped children's, which is where exited Python
    workers' CPU ends up) in seconds."""
    st = _stat(pid)
    if not st:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def peak_rss_bytes(jvm_pid: int) -> int:
    """Peak resident memory of the JVM plus its Python workers: the JVM's
    kernel-kept high-water mark (``VmHWM``) plus the workers' summed PSS
    now. Workers are long-lived (reused across tasks) and their size is
    set by their imports, so the call is made once, after the drain;
    sampling on a timer would take CPU and the interpreter lock from the
    driver while it runs the stream."""
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm = next(int(line.split()[1]) * 1024 for line in f if line.startswith("VmHWM:"))
    return jvm + sum(pss_bytes(p) for p in python_workers(jvm_pid))


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``host_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_snapshot(jvm_pid: int) -> dict:
    """CPU seconds of the driver, the JVM and the Python workers. Worker
    CPU = the workers' own plus what their parents reaped, so a worker
    that exits between two snapshots is still counted."""
    worker = sum(cpu_s(p, children=True) for p in python_workers(jvm_pid))
    return {
        "driver": cpu_s(os.getpid()),
        "jvm": cpu_s(jvm_pid),
        "workers": worker,
    }


# --------------------------------------------------------- progress


def progress_listener():
    """A StreamingQueryListener that keeps every progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def batch_windows(progress: list[dict]) -> list[tuple[float, float, float]]:
    """(trigger start, addBatch end, trigger end) in epoch ms per batch.
    Phases run latestOffset, walCommit, getBatch, queryPlanning,
    addBatch, commitOffsets, in that order."""
    out = []
    for p in progress:
        d = p["durationMs"]
        t0 = _ms(p["timestamp"])
        pre = sum(d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning"))
        out.append((t0, t0 + pre + d.get("addBatch", 0), t0 + d["triggerExecution"]))
    return out


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def progress_metrics(progress: list[dict]) -> dict:
    dur = lambda k: _med(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    cm = lambda k: [o.get("customMetrics", {}).get(k, 0) for o in ops]  # noqa: E731
    last = ops[-1] if ops else {}
    return {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "trigger.query_planning_ms": dur("queryPlanning"),
        "trigger.wal_commit_ms": dur("walCommit"),
        "trigger.commit_offsets_ms": dur("commitOffsets"),
        "trigger.add_batch_ms": dur("addBatch"),
        "trigger.overhead_ms": _med(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
            for p in progress
        ),
        "state.groups_per_batch": _med(o["numRowsUpdated"] for o in ops),
        "state.rows_total": float(last.get("numRowsTotal", 0)),
        "state.memory_bytes": float(last.get("memoryUsedBytes", 0)),
        "state.update_ms": _med(o["allUpdatesTimeMs"] for o in ops),
        "state.commit_ms": _med(o["commitTimeMs"] for o in ops),
        "state.rocksdb_put_count": _med(cm("rocksdbPutCount")),
        "state.rocksdb_flush_ms": _med(cm("rocksdbCommitFlushLatency")),
        "state.rocksdb_sst_bytes": float(
            last.get("customMetrics", {}).get("rocksdbSstFileSize", 0)
        ),
    }


# -------------------------------------------------------- event log

_PY_METRICS = {
    "time to run Python workers": "run",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "boot",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
}
_INGEST_LABEL = re.compile(r"^ingest e(\d+): (.+)$")
INGEST_STAGES = (
    "epoch checkpoint", "index match", "accepted", "index append",
    "manifest commit", "compaction",
)


def read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def event_log_metrics(events: list[dict], progress: list[dict]) -> dict:
    """Engine, driver-gap, Python-worker and ingest-stage numbers of the
    jobs that ran inside the timed drain's micro-batches."""
    wins = batch_windows(progress)
    lo, hi = wins[0][0], wins[-1][2]

    def batch_of(t: float) -> int | None:
        for i, (a, _, c) in enumerate(wins):
            if a <= t <= c:
                return i
        return None

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and lo <= e["Submission Time"] <= hi:
            b = batch_of(e["Submission Time"])
            if b is None:
                continue
            jobs[e["Job ID"]] = {
                "batch": b,
                "start": e["Submission Time"],
                "end": None,
                "desc": (e.get("Properties") or {}).get("spark.job.description") or "",
                "stages": len(e["Stage IDs"]),
                "exec": (e.get("Properties") or {}).get("spark.sql.execution.id"),
            }
            for s in e["Stage IDs"]:
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]

    cand_accs = _candidate_join_accs(events, jobs)
    cand = 0.0
    tasks = cpu_ns = run_ms = gc = shuffle = spill = 0
    py = {"run": 0.0, "boot": 0.0, "sent": 0.0, "returned": 0.0}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
            continue
        tasks += 1
        m = e.get("Task Metrics") or {}
        cpu_ns += m.get("Executor CPU Time", 0)
        run_ms += m.get("Executor Run Time", 0)
        gc += m.get("JVM GC Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            k = _PY_METRICS.get(acc.get("Name"))
            if k:
                py[k] += float(acc.get("Update") or 0)
            elif acc.get("ID") in cand_accs:
                cand += float(acc.get("Update") or 0)

    nb = len(wins)
    done = [j for j in jobs.values() if j["end"] is not None]
    gaps = []
    for i, (a, _, c) in enumerate(wins):
        spans = [(j["start"], j["end"]) for j in done if j["batch"] == i]
        gaps.append((c - a) - _union_ms(spans))
    out = {
        "engine.jobs_per_batch": len(jobs) / nb,
        "engine.stages_per_batch": sum(j["stages"] for j in jobs.values()) / nb,
        "engine.tasks_per_batch": tasks / nb,
        "engine.task_cpu_ratio": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "engine.gc_ms": gc / nb,
        "engine.shuffle_write_bytes": shuffle / nb,
        "engine.spill_bytes": float(spill),
        "driver.gap_ms": _med(gaps),
        # task-time sums per batch
        "state.python_run_ms": py["run"] / nb,
        "state.python_boot_ms": py["boot"] / nb,
        "state.python_bytes_sent": py["sent"] / nb,
        "state.python_bytes_returned": py["returned"] / nb,
        "dedup.candidate_rows": cand,
    }
    out.update(_ingest_stages(done, wins))
    return out


def _candidate_join_accs(events: list[dict], jobs: dict) -> set:
    """Accumulator ids of 'number of output rows' of the join that reads
    the stored ``_bands`` table in the ingest loop's index-match
    executions: its rows are the (new doc, indexed doc) band matches."""
    ex_ids = set()
    for j in jobs.values():
        m = _INGEST_LABEL.match(j["desc"])
        if m and m.group(2) == "index match" and j["exec"] is not None:
            ex_ids.add(int(j["exec"]))
    accs: set = set()

    def walk(node) -> bool:  # True iff the subtree scans a _bands table
        below = [walk(c) for c in node.get("children", [])]
        scans = node["nodeName"].startswith("Scan") and node["nodeName"].endswith("_bands")
        if "Join" in node["nodeName"] and any(below):
            accs.update(
                m["accumulatorId"] for m in node.get("metrics", [])
                if m["name"] == "number of output rows"
            )
            return False  # count the innermost such join only
        return scans or any(below)

    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")) and (
            e.get("executionId") in ex_ids
        ):
            walk(e["sparkPlanInfo"])
    return accs


def _ingest_stages(jobs: list[dict], wins) -> dict:
    """Median per-epoch span of each ``ingest e<N>: <stage>`` label. A
    data stage runs from its first job's submission to the next stage's;
    the last data stage ends with its last job. The manifest commit runs
    no Spark job (it is file-system work on the driver): it spans from
    there to the compaction's first job, or to the end of addBatch."""
    per: dict[str, list[float]] = {s: [] for s in INGEST_STAGES}
    n_labelled = 0
    epochs: dict[int, list[dict]] = {}
    for j in jobs:
        m = _INGEST_LABEL.match(j["desc"])
        if m and m.group(2) in per:
            n_labelled += 1
            epochs.setdefault(j["batch"], []).append({**j, "stage": m.group(2)})
    for b, js in epochs.items():
        first: dict[str, float] = {}
        last: dict[str, float] = {}
        for j in js:
            s = j["stage"]
            first[s] = min(first.get(s, j["start"]), j["start"])
            last[s] = max(last.get(s, j["end"]), j["end"])
        data = [s for s in INGEST_STAGES[:4] if s in first]
        if not data:
            continue
        for s, nxt in zip(data, data[1:]):
            per[s].append(first[nxt] - first[s])
        tail = data[-1]
        per[tail].append(last[tail] - first[tail])
        end = wins[b][1]
        if "compaction" in first:
            per["compaction"].append(end - first["compaction"])
            end = first["compaction"]
        per["manifest commit"].append(max(0.0, end - last[tail]))
    med = lambda s: _med(per[s])  # noqa: E731
    return {
        "ingest.checkpoint_ms": med("epoch checkpoint"),
        "ingest.match_ms": med("index match"),
        "ingest.accepted_ms": med("accepted"),
        "ingest.append_ms": med("index append"),
        "ingest.jobs_per_epoch": n_labelled / len(wins),
        "manifest.commit_ms": med("manifest commit"),
        "manifest.compact_ms": med("compaction"),
    }
