"""Benchmark of the crawl engine and its URL-seen dedup, one workload a run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Starts one Spark session at local[k],
runs the workload's set-up, then repeats the workload's operation, a closed
loop with one client, until the operations have taken ``--seconds`` seconds
(at least one operation).  Outputs are checked after the timed window.
Progress and a diagnostics line go to stderr; the last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

End-to-end metrics (``--trace 0``):
  setup_s         session start + one-time set-up + median of the repeated
                  set-up step (engine construction / seen-set open)
  urls_per_s      URLs fetched (bulk_crawl) or deduped (seen_dedup) per
                  second of an operation's wall time, median over operations
  cpu_us_per_url  CPU time of the driver, JVM and Python workers per URL,
                  median over operations
  driver_rss_mb   peak RSS of the Python driver process, where collected
                  results and the Bloom filter's bitmaps live

``--trace 1`` runs the same workload with the Spark event log on, times
every layer's public function on persisted inputs, and reports the
per-layer metrics instead (see trace.py); it writes its spans and the
per-layer table under ``.bench_work/traces/``.  ``trace.overhead_share`` is
the traced run's ``urls_per_s`` against the last untraced run's in the same
checkout (0 when there is none).

Workloads (see BENCHMARK.json for why each exists):
  bulk_crawl    crawl.py, a whole crawl; the politeness budget never binds
  seen_dedup    dedup.py, batches deduped against a compacted seen set

The diagnostics line carries a host-contention reading (busy cores outside
this run's process tree, nproc and k), for reading noisy runs only.

Scope: the repository's ``bench.py`` keeps the 32-core headline and the
pinned 2->8 core scaling pair.  This benchmark does not measure wall-clock
scaling: on a small shared host local[1] vs local[4] measures the host's
scheduler, and ``cpu_us_per_url`` stands in for it.  ``streaming/stateful``
is not covered, nor are the politeness-bound crawl with resume and the
``queries`` corpus suite.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_crawl", "seen_dedup")
SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "urls_per_s": "1/s", "cpu_us_per_url": "us", "driver_rss_mb": "MB"}


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


class Bench:
    """State of one benchmark run, handed to the workload's ``run``."""

    def __init__(self, args, work: str):
        from .probe import Contention, TreeSampler
        from .trace import Tracer

        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work = work
        # one usable core is left to the driver, the JVM's compiler and GC
        # threads and the host: runs on a shared 4-core host were steadier
        self.k = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
        self.setup_reps = SETUP_REPS
        self.sampler = TreeSampler()
        self.contention = Contention(self.sampler)
        self.spans = Tracer()
        self.spark = None
        self._measured = 0.0

    def scratch(self, name: str) -> str:
        path = os.path.join(self.work, "data", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- the measured window: the sum of the operations' wall times -----------
    def window_start(self) -> None:
        self._measured = 0.0
        self.sampler.reset_peak_rss()
        self.contention.start(time.monotonic())

    def window_left(self) -> float:
        return self.seconds - self._measured

    def window_stop(self) -> dict:
        return {
            "peak_rss_mb": self.sampler.peak_rss_mb(),
            "contention": self.contention.stop(time.monotonic(), self.k),
        }

    @contextlib.contextmanager
    def op(self, name: str):
        """One timed operation; fills ``wall_s`` and ``cpu_s`` of the record."""
        rec: dict = {"wall_t0": time.time()}
        cpu0 = self.sampler.cpu_s()
        with self.spans.span(name) as span:
            yield rec
        rec["wall_t1"] = time.time()
        rec["wall_s"] = span.end - span.start
        rec["cpu_s"] = self.sampler.cpu_s() - cpu0
        self._measured += rec["wall_s"]

    # -- Spark -----------------------------------------------------------------
    def start_spark(self) -> float:
        t0 = time.monotonic()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        # every file Spark, the JVM and the Python workers write stays in
        # the run's work directory
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_DRIVER_MEMORY"] = "2g"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        from searchgov_spider_spark.session import build_session

        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.k}]",
            shuffle_partitions=2 * self.k,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.monotonic() - t0

    def stop_spark(self) -> None:
        """Stop Spark, the gateway JVM and its Python workers, and wait until
        every process this run started has ended."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while self.sampler.tree_pids() - {os.getpid()} and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in self.sampler.tree_pids() - {os.getpid()}:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import searchgov_spider_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2

    from . import crawl, dedup

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    bench = Bench(args, work)
    try:
        with bench.sampler:
            session_s = bench.start_spark()
            bench.spans.spark = bench.spark
            try:
                res = (dedup if args.workload == "seen_dedup" else crawl).run(bench)
            finally:
                bench.stop_spark()
    finally:
        for sub in ("data", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    setup_s = session_s + res["once_s"] + statistics.median(res["prep_s"])
    diag = {
        "workload": args.workload, "seed": args.seed, "k": bench.k,
        "session_s": round(session_s, 3), "once_s": round(res["once_s"], 3),
        "prep_s": [round(x, 3) for x in res["prep_s"]],
        **res["diag"],
        "peak_rss_mb": {k: round(v, 1) for k, v in res["window"]["peak_rss_mb"].items()},
        "contention": res["window"]["contention"],
        "errors": res["errors"],
    }
    log("diagnostics", json.dumps(diag))
    traces = os.path.join(ROOT, ".bench_work", "traces")
    if args.trace:
        from . import trace

        metrics = trace.finish(bench, res, traces)
    else:
        values = {"setup_s": setup_s, **res["e2e"]}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in E2E_UNITS.items()}
        # the base a later traced run measures its tracing overhead against
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"untraced_{args.workload}.json"), "w") as f:
            json.dump(values, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
