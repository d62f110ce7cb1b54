#!/usr/bin/env python3
"""Streaming benchmark of stream_sentinel_spark.

    python3 perfbench/run.py --workload detect-hot --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, drives the library's public streaming entry points on a
host-sized ``local[nproc]`` session, checks the outputs against a
reference computation and prints the metrics: a readable table, a
``context`` line (host facts, recorded and never used to adjust a
metric), and as the last line one JSON object.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` prints its per-layer metrics, gathered in a separate
traced drain, and also writes them to ``perfbench-results/``.
Everything the run writes goes under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
RESULTS = os.path.join(ROOT, "perfbench-results")

#: Set-ups per run; setup_s is their median. The first also starts the
#: JVM and the SparkContext, the others a new session on that context.
SETUPS = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail(durations: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    batches beyond it. Below 20 batches that percentile would not reach
    the median, so the slowest batch is taken. The batch count is fixed
    by the workload and ``--seconds``, so the choice is too."""
    xs = sorted(durations)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def calibration(spark) -> float:
    """A fixed CPU-bound job, best of two: host speed during this run."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 3 + 1)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


class Runner:
    def __init__(self, name: str, seed: int, seconds: float):
        import workloads as wl
        from session import host_cores, prepare_env

        self.wl = wl
        self.name = name
        self.spec = wl.WORKLOADS[name]
        self.seed = seed
        self.spark = None
        self.index = ""
        self.context = {"nproc": host_cores(), "loadavg_before": os.getloadavg()[0]}
        prepare_env(ROOT, WORK)
        t0 = time.perf_counter()
        self.inputs = wl.make_inputs(self.spec, seed, seconds, f"{WORK}/inputs")
        log(f"inputs: {self.inputs.n_records} records in {self.inputs.n_batches} "
            f"files, {time.perf_counter() - t0:.1f}s (untimed)")

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def set_up(self, tag: str, *, fresh: bool = True, **kw) -> float:
        """Session start + warm-up stream (+ the index build); seconds.
        ``fresh``: a new SparkContext (the first one starts the JVM);
        otherwise a new SparkSession on the running context."""
        from session import build_session

        t0 = time.perf_counter()
        if not fresh:
            self.spark = self.spark.newSession()
        else:
            if self.spark is not None:
                self.spark.stop()
            self.spark = build_session(WORK, **kw)
        # earlier set-ups' index tables stay on disk (and, after a
        # restart, leave the catalog), so each set-up names its own
        self.index = f"idx_{tag}"
        self.wl.setup(self.spark, self.spec, self.inputs, f"{WORK}/{tag}", self.index)
        return time.perf_counter() - t0

    def drain(self, tag: str, src: str | None = None):
        d = self.wl.run_stream(
            self.spark, self.spec, src or self.inputs.src, f"{WORK}/{tag}", self.index
        )
        if d.error:
            log(f"drain failed: {d.error}")
        return d

    def verdict(self, d) -> tuple[bool, int, int]:
        """(correct, attempted, failed) micro-batches. A wrong final
        output marks every batch of the drain wrong."""
        attempted = self.inputs.n_batches
        ok = self.wl.check(self.spark, self.spec, self.inputs, d)
        return ok, attempted, 0 if ok else attempted

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ------------------------------------------------------------ modes

    def end_to_end(self) -> dict:
        from layers import host_cpu_ticks, peak_rss_bytes, steal_share

        setups = [self.set_up(f"setup{i}", fresh=i == 0) for i in range(SETUPS)]
        log(f"setups: {[round(s, 2) for s in setups]}")
        self.context["calibration_s"] = calibration(self.spark)
        ticks = host_cpu_ticks()
        d = self.drain("run")
        peak_rss = peak_rss_bytes(self.jvm_pid())
        self.context["steal_share"] = steal_share(ticks, host_cpu_ticks())
        ok, attempted, failed = self.verdict(d)
        # a failed drain may report no batch: its wall time stands in
        durs = [p["durationMs"]["triggerExecution"] for p in d.progress] or [d.wall_s * 1e3]
        t, pct = tail(durs)
        self.context.update(tail_percentile=pct, tail_samples=len(durs),
                            setups_s=setups, batch_ms=durs)
        values = {
            "setup_s": statistics.median(setups),
            "records_per_s": self.inputs.n_records / d.wall_s,
            "batch_p50_ms": float(statistics.median(durs)),
            "batch_tail_ms": float(t),
            "peak_rss_mb": peak_rss / 2**20,
        }
        units = metric_units("end_to_end")
        metrics = {k: (values[k], units[k]) for k in units}
        # printed, not gated: the result carries it as attempted/failed
        self.print_table({**metrics, "error_rate": (failed / attempted, "ratio")})
        return self.result(ok, attempted, failed, metrics)

    def traced(self) -> dict:
        import layers as tr

        log_dir = f"{WORK}/eventlog"
        self.set_up("setup0", event_log=log_dir)
        self.context["calibration_s"] = calibration(self.spark)
        listener = tr.progress_listener()
        self.spark.streams.addListener(listener)
        jvm = self.jvm_pid()
        cpu0, ticks = tr.cpu_snapshot(jvm), tr.host_cpu_ticks()
        d = self.drain("traced")
        cpu1 = tr.cpu_snapshot(jvm)
        self.context["steal_share"] = tr.steal_share(ticks, tr.host_cpu_ticks())
        deadline = time.time() + 30
        while len(listener.progress) < len(d.progress) and time.time() < deadline:
            time.sleep(0.1)  # listener delivery is asynchronous
        self.spark.streams.removeListener(listener)
        progress = [p for p in listener.progress if p["numInputRows"] > 0]
        ok, attempted, failed = self.verdict(d)
        accepted = 0
        if self.spec.kind == "ingest" and not d.error:
            accepted = self.spark.read.parquet(d.out).count()
        self.spark.stop()  # finishes the event log
        self.spark = None
        per = {}
        per.update(tr.progress_metrics(progress))
        per.update(tr.event_log_metrics(tr.read_event_log(log_dir), progress))
        n = self.inputs.n_records
        traced = n / d.wall_s
        detect = self.spec.kind == "detect"
        # the untraced twin runs second, on a JVM the first drain warmed,
        # so the overhead below is not understated
        self.set_up("setup1")
        untraced = n / self.drain("untraced").wall_s
        per.update({
            "state.worker_cpu_us_per_record": (cpu1["workers"] - cpu0["workers"]) / n * 1e6,
            "engine.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
            "driver.cpu_s": cpu1["driver"] - cpu0["driver"],
            "job.compile_ms": d.start_call_ms if detect else 0.0,
            "ingest.start_ms": 0.0 if detect else d.start_call_ms,
            "ingest.accept_ratio": 0.0 if detect else accepted / n,
            "dedup.candidate_pairs_per_doc": per.pop("dedup.candidate_rows") / n,
            "trace.records_per_s": traced,
            "trace.untraced_records_per_s": untraced,
            "trace.overhead_records_per_s": traced - untraced,
        })
        local1 = 0.0
        if self.spec.local1_baseline:
            # single-threaded reference: the first third of the backlog
            src = f"{WORK}/inputs/local1"
            os.makedirs(src)
            k = max(2, self.inputs.n_batches // 3)
            for f in sorted(os.listdir(self.inputs.src))[:k]:
                shutil.copy2(os.path.join(self.inputs.src, f), src)
            self.set_up("setup2", cores=1)
            d1 = self.drain("local1", src)
            local1 = sum(t.num_rows for t in self.inputs.tables[:k]) / d1.wall_s
        per["baseline.local1_records_per_s"] = local1
        units = metric_units("per_layer")
        metrics = {k: (float(per[k]), units[k]) for k in units}
        os.makedirs(RESULTS, exist_ok=True)
        with open(f"{RESULTS}/trace-{self.name}-seed{self.seed}.json", "w") as f:
            json.dump({"workload": self.name, "seed": self.seed, "correct": ok,
                       "context": self.context,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                      f, indent=1)
        self.print_table(metrics)
        return self.result(ok, attempted, failed, metrics)

    # ----------------------------------------------------------- output

    def print_table(self, metrics: dict[str, tuple[float, str]]) -> None:
        for k, (val, unit) in metrics.items():
            print(f"{self.name:14s} {k:34s} {val:14.4f} {unit}")

    def result(self, ok: bool, attempted: int, failed: int, metrics: dict) -> dict:
        self.context["loadavg_after"] = os.getloadavg()[0]
        print("context " + json.dumps(self.context))
        return {
            "correct": bool(ok),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of one metric list of BENCHMARK.json, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "stream_sentinel_spark")):
        log(f"stream_sentinel_spark not found under {ROOT}: run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    runner = None
    try:
        runner = Runner(args.workload, args.seed, args.seconds)
        result = runner.traced() if args.trace else runner.end_to_end()
    finally:
        if runner is not None:
            runner.close()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
