"""Spans, the Spark event log, and the per-layer table of a traced run.

A traced crawl first runs exactly like an untraced one.  Then, for each
committed round, it reads the round's inputs back from the checkpoint and
calls every layer's public function again on them, each on a persisted
input and under its own span and Spark job group, so each span times one
layer.  The engine fuses fetch, extraction and admission into one job, so
the replayed layer times need not add up to the round's wall time; the
difference is reported as ``engine.unattributed_s``.

Task CPU, shuffle, spill and GC per layer come from the run's Spark event
log, split by job group.  Spans and counts are kept in memory and written
once, with the per-layer table, to ``.bench_work/traces/``.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import sys
import time
from dataclasses import asdict, dataclass, field

# layers whose Spark work is split out of the event log
LAYERS = ("politeness", "fetch", "extract", "admission", "dedup", "bloom", "seq", "storage")
ENGINE_SPANS = (
    "admission_plan", "frontier_parquet", "write_join_wait", "frontier_write",
    "seen_bloom", "seen_rebuild", "commit", "interround",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None


@dataclass
class Tracer:
    """In-memory spans and counts.  A span with a ``group`` runs its Spark
    jobs under that job group, so the event log can be split by span."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    spark: object = None
    _ids: itertools.count = field(default_factory=itertools.count)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, time.monotonic(), group=group)
        self._stack.append(s)
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            s.end = time.monotonic()
            self._stack.pop()
            self.spans.append(s)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out


# -- Spark event log ------------------------------------------------------------


def read_event_log(event_dir: str) -> dict:
    """Task metrics summed per job-group layer, plus job/stage/task start
    times for counting the work of an untraced span by its time window."""
    paths = glob.glob(os.path.join(event_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one Spark event log in {event_dir}, found {len(paths)}")
    stage_layer: dict[int, str] = {}
    per_layer = {
        layer: {"task_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
        for layer in LAYERS
    }
    jobs, stages, tasks = [], [], []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"])
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                layer = group.split(":", 1)[0]
                if layer in per_layer:
                    for sid in ev["Stage IDs"]:
                        stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerStageSubmitted":
                stages.append(ev["Stage Info"].get("Submission Time", 0))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev["Task Info"]["Launch Time"])
                layer = stage_layer.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if layer is None or tm is None:
                    continue
                agg = per_layer[layer]
                agg["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                agg["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                agg["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                agg["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {"layers": per_layer, "jobs": jobs, "stages": stages, "tasks": tasks}


def _in_window(times_ms: list, windows: list[tuple[float, float]]) -> int:
    return sum(1 for t in times_ms for a, b in windows if a * 1e3 <= t <= b * 1e3)


# -- crawl replay ---------------------------------------------------------------


def replay_crawl(bench, op: dict) -> dict:
    """Call each layer's public function on every committed round's inputs."""
    from pyspark.sql import functions as F

    from searchgov_spider_spark.crawl import politeness
    from searchgov_spider_spark.crawl.engine import FRONTIER_COLS
    from searchgov_spider_spark.crawl.frontier import (
        apply_admission_filters, apply_robots_filter, dedup_against_seen, dedup_first_in_batch,
    )
    from searchgov_spider_spark.crawl.seqno import (
        SMALL_BATCH_THRESHOLD, assign_seq_bucketed, assign_seq_small, monotone_bucket,
    )
    from searchgov_spider_spark.functions import udfs
    from searchgov_spider_spark.kernels import htmlx, textproc
    from searchgov_spider_spark.storage.tables import CheckpointStore

    spark, tr, engine = bench.spark, bench.spans, op["engine"]
    store = engine.store
    replay = CheckpointStore(bench.scratch("replay"))
    cores = spark.sparkContext.defaultParallelism
    mismatches: list[str] = []
    kernel_s = 0.0

    for m in op["metrics"]:
        rnd = m["round"]
        if m["selected"] == 0:
            continue
        # round inputs as the engine saw them, persisted outside every span
        if rnd == 0:
            frontier = spark.read.parquet(store.seed_seen_dir()).select(
                "url_canon", "url_hash", F.expr("parse_url(url_canon, 'HOST')").alias("host"),
                "depth", "seq", F.lit("").alias("source_url"),
            )
            seen = spark.read.parquet(store.seed_seen_dir())
        else:
            frontier = store.read_table(spark, rnd - 1, "frontier")
            seen = store.read_seen(spark, rnd - 1)
        frontier, seen = frontier.persist(), seen.persist()
        n_front = frontier.count()
        seen.count()
        next_seq = m["next_seq"] - m["admitted"]

        with tr.span("round", group=f"round:r{rnd}"):
            selected = frontier
            if n_front > engine.min_budget:
                with tr.span("politeness", group=f"politeness:r{rnd}"):
                    salt = 8 if n_front > engine.hot_host_threshold else 1
                    selected = politeness.select_per_host_static(
                        frontier, engine.budgets, engine.default_budget, salt_buckets=salt
                    ).persist()
                    n_sel = selected.count()
                tr.count("politeness.selected", n_sel)
                tr.count("politeness.deferred", n_front - n_sel)
            with tr.span("fetch", group=f"fetch:r{rnd}"):
                parts = min(engine.fetch_partitions, max(cores, n_front // 2000 + 1))
                fetched = engine.fetcher.fetch(selected.repartition(parts, F.col("url_hash"))).persist()
                tr.count("fetch.pages", fetched.count())
            found = fetched.filter(F.col("html").isNotNull()).persist()
            n_found = found.count()
            tr.count("fetch.hits", n_found)
            with tr.span("extract", group=f"extract:r{rnd}"):
                extracted = found.withColumn(
                    "doc", udfs.extract_doc_links(F.col("html"), F.col("url_canon"), F.col("lang"))
                ).select("url_canon", "url_hash", "host", "depth", "seq", "source_url", "doc",
                         F.col("doc.links").alias("links")).persist()
                tr.count("extract.pages", extracted.count())
            tr.count("admission.links_in", extracted.select(F.sum(F.size("links"))).first()[0] or 0)
            with tr.span("admission", group=f"admission:r{rnd}"):
                discovered = extracted.select(
                    F.col("url_canon").alias("source_url"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("seq").alias("parent_seq"),
                    F.posexplode_outer(F.col("links")).alias("pos", "url"),
                ).filter(F.col("url").isNotNull())
                cands = apply_admission_filters(discovered, engine.policy)
                cands = apply_robots_filter(cands, engine.robots)
                cands = dedup_first_in_batch(cands, ["parent_seq", "pos"]).persist()
                tr.count("admission.candidates_out", cands.count())
            with tr.span("dedup", group=f"dedup:r{rnd}"):
                new = dedup_against_seen(spark, cands, seen, None).persist()
                n_new = new.count()
                tr.count("dedup.new", n_new)
            with tr.span("seq", group=f"seq:r{rnd}"):
                cache = None
                if n_front * 8 < SMALL_BATCH_THRESHOLD:
                    seqd = assign_seq_small(new, ["parent_seq", "pos"], start=next_seq)
                else:
                    tr.count("seq.bucketed_batches", 1)
                    pid = monotone_bucket(F.col("parent_seq"), lo=next_seq - n_front, span=n_front,
                                          n_buckets=max(4 * cores, 8))
                    seqd, _, cache = assign_seq_bucketed(
                        new.withColumn("_pid", pid), ["parent_seq", "pos"], start=next_seq
                    )
                seqd = seqd.select(*FRONTIER_COLS).persist()
                tr.count("seq.rows", seqd.count())
            with tr.span("storage.write", group=f"storage:r{rnd}"):
                replay.write_table(seqd, rnd, "frontier")
                if selected is not frontier:
                    replay.write_seen_delta(seqd.select(*CheckpointStore.SEEN_COLS), rnd)
            with tr.span("storage.commit"):
                replay.commit_round(rnd, {"next_seq": next_seq + n_new})

        # extraction kernel in-process, on the same pages
        rows = found.select("html", "url_canon", "lang").collect()
        t = time.perf_counter()
        for r in rows:
            htmlx.extract_html_doc(textproc.decode_bytes(bytes(r["html"])), r["url_canon"] or "", r["lang"] or "")
        kernel_s += time.perf_counter() - t

        if n_new != m["admitted"] or n_found != m["fetched"]:
            mismatches.append(
                f"round {rnd}: replay fetched {n_found}/admitted {n_new}, "
                f"engine {m['fetched']}/{m['admitted']}"
            )
        for df in (frontier, seen, fetched, found, extracted, cands, new, seqd, cache):
            if df is not None:
                df.unpersist()
        if selected is not frontier:
            selected.unpersist()

    last = store.last_committed()
    with tr.span("storage.verify"):
        store.verify_round(last)
    with tr.span("storage.read_seen", group="storage:read"):
        store.read_seen(spark, last).count()
    with tr.span("storage.compact", group="storage:compact"):
        store.compact_seen(spark, last)
    lineage = [store.read_manifest(r)["lineage"] for r in store.committed_rounds()]
    written = [e for lin in lineage for e in lin.values()]
    return {
        "kernel_s": kernel_s,
        "mismatches": mismatches,
        "bytes_written": sum(e["bytes"] for e in written),
        "files_written": sum(len(e["files"]) for e in written),
    }


# -- per-layer metrics ------------------------------------------------------------


def _zero_layers() -> dict[str, float]:
    names = [
        "engine.rounds", "engine.round_wall_p50_s", "engine.round_wall_max_s", "engine.bootstrap_s",
        *(f"engine.{s}_s" for s in ENGINE_SPANS),
        "engine.unattributed_s", "engine.unattributed_share",
        "spark.jobs", "spark.stages", "spark.tasks",
        "politeness.select_s", "politeness.selected", "politeness.deferred",
        "fetch.busy_s", "fetch.pages", "fetch.hit_ratio",
        "extract.busy_s", "extract.udf_us_per_page", "extract.kernel_us_per_page", "extract.overhead_share",
        "admission.busy_s", "admission.links_in", "admission.candidates_out", "admission.pass_ratio",
        "dedup.busy_s", "dedup.candidates", "dedup.new", "dedup.new_ratio",
        "bloom.build_s", "bloom.probe_s", "bloom.fold_s", "bloom.maybe_seen_ratio",
        "bloom.false_positive_ratio", "bloom.bytes",
        "seq.assign_s", "seq.rows", "seq.bucketed_batches",
        "storage.write_s", "storage.bytes_written", "storage.files_written", "storage.commit_s",
        "storage.verify_s", "storage.read_seen_s", "storage.compact_s",
        *(f"{layer}.{k}" for layer in LAYERS for k in ("task_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s")),
        "trace.replay_s", "trace.urls_per_s", "trace.overhead_share",
    ]
    return dict.fromkeys(names, 0.0)


PER_LAYER = tuple(_zero_layers())


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def crawl_layers(bench, op: dict) -> dict:
    t0 = time.monotonic()
    rep = replay_crawl(bench, op)
    out = _zero_layers()
    st, c = bench.spans.self_times(), bench.spans.counts
    walls = [m["round_wall_s"] for m in op["metrics"]]
    out["engine.rounds"] = len(walls)
    out["engine.round_wall_p50_s"] = statistics.median(walls)
    out["engine.round_wall_max_s"] = max(walls)
    for s in ENGINE_SPANS:
        out[f"engine.{s}_s"] = sum(m["timings"].get(s, 0.0) for m in op["metrics"])
    # the crawl's wall outside its rounds and their commits: seed admission
    out["engine.bootstrap_s"] = (
        op["wall_s"] - sum(walls) - out["engine.commit_s"] - out["engine.interround_s"]
    )
    layer_spans = ("politeness", "fetch", "extract", "admission", "dedup", "seq", "storage.write", "storage.commit")
    attributed = sum(st.get(s, 0.0) for s in layer_spans)
    out["engine.unattributed_s"] = sum(walls) - attributed
    out["engine.unattributed_share"] = out["engine.unattributed_s"] / sum(walls)
    out["politeness.select_s"] = st.get("politeness", 0.0)
    out["politeness.selected"] = c.get("politeness.selected", 0)
    out["politeness.deferred"] = c.get("politeness.deferred", 0)
    out["fetch.busy_s"] = st.get("fetch", 0.0)
    out["fetch.pages"] = c.get("fetch.pages", 0)
    out["fetch.hit_ratio"] = _ratio(c.get("fetch.hits", 0), c.get("fetch.pages", 0))
    out["extract.busy_s"] = st.get("extract", 0.0)
    pages = c.get("extract.pages", 0)
    out["extract.kernel_us_per_page"] = _ratio(1e6 * rep["kernel_s"], pages)
    out["admission.busy_s"] = st.get("admission", 0.0)
    out["admission.links_in"] = c.get("admission.links_in", 0)
    out["admission.candidates_out"] = c.get("admission.candidates_out", 0)
    out["admission.pass_ratio"] = _ratio(out["admission.candidates_out"], out["admission.links_in"])
    out["dedup.busy_s"] = st.get("dedup", 0.0)
    out["dedup.candidates"] = out["admission.candidates_out"]
    out["dedup.new"] = c.get("dedup.new", 0)
    out["dedup.new_ratio"] = _ratio(out["dedup.new"], out["dedup.candidates"])
    out["seq.assign_s"] = st.get("seq", 0.0)
    out["seq.rows"] = c.get("seq.rows", 0)
    out["seq.bucketed_batches"] = c.get("seq.bucketed_batches", 0)
    out["storage.write_s"] = st.get("storage.write", 0.0)
    out["storage.commit_s"] = st.get("storage.commit", 0.0)
    out["storage.verify_s"] = st.get("storage.verify", 0.0)
    out["storage.read_seen_s"] = st.get("storage.read_seen", 0.0)
    out["storage.compact_s"] = st.get("storage.compact", 0.0)
    out["storage.bytes_written"] = rep["bytes_written"]
    out["storage.files_written"] = rep["files_written"]
    out["trace.replay_s"] = time.monotonic() - t0
    return {
        "values": out,
        "pages": pages,
        "units": len(walls),
        "windows": [(op["wall_t0"], op["wall_t1"])],
        "wall_s": sum(walls),
        "layer_spans": layer_spans,
        "mismatches": rep["mismatches"],
    }


def dedup_layers(bench, seen, ops: list[dict], build: dict) -> dict:
    from .dedup import BATCH

    out = _zero_layers()
    st, c = bench.spans.self_times(), bench.spans.counts
    n = BATCH * len(ops)
    out["bloom.build_s"] = build["bloom_build_s"]
    out["bloom.probe_s"] = st.get("bloom.probe", 0.0)
    out["bloom.fold_s"] = st.get("bloom.fold", 0.0)
    out["bloom.maybe_seen_ratio"] = _ratio(c.get("bloom.maybe_seen", 0), n)
    new = c.get("dedup.new", 0)
    # every candidate that is not new is a true member: the rest of the
    # maybe-seen slice are Bloom false positives
    out["bloom.false_positive_ratio"] = _ratio(c.get("bloom.maybe_seen", 0) - (n - new), new)
    out["bloom.bytes"] = seen.bloom.nbytes()
    out["dedup.busy_s"] = st.get("dedup.anti_join", 0.0)
    out["dedup.candidates"] = n
    out["dedup.new"] = new
    out["dedup.new_ratio"] = _ratio(new, n)
    out["storage.write_s"] = st.get("storage.write", 0.0)
    out["storage.read_seen_s"] = st.get("storage.read_seen", 0.0)
    out["storage.compact_s"] = build["compact_s"]
    deltas = [seen.store.seen_delta_dir(b) for b in range(1, len(ops) + 1)]
    files = [os.path.join(d, f) for d in deltas if os.path.isdir(d) for f in os.listdir(d) if f.endswith(".parquet")]
    out["storage.files_written"] = len(files)
    out["storage.bytes_written"] = sum(os.path.getsize(f) for f in files)
    walls = [op["wall_s"] for op in ops]
    layer_spans = ("bloom.probe", "dedup.anti_join", "bloom.fold", "storage.write", "storage.read_seen")
    out["engine.unattributed_s"] = sum(walls) - sum(st.get(s, 0.0) for s in layer_spans)
    out["engine.unattributed_share"] = out["engine.unattributed_s"] / sum(walls)
    return {
        "values": out,
        "pages": 0,
        "units": len(ops),
        "windows": [(op["wall_t0"], op["wall_t1"]) for op in ops],
        "wall_s": sum(walls),
        "layer_spans": layer_spans,
        "mismatches": [],
    }


def finish(bench, res: dict, traces_dir: str) -> dict:
    """Per-layer metrics from the spans and the (now closed) event log;
    writes spans and the layer table, and returns the metrics to print."""
    layers = res["layers"]
    out = layers["values"]
    log = read_event_log(bench.event_dir)
    for layer, agg in log["layers"].items():
        for k in ("task_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s"):
            out[f"{layer}.{k}"] = agg[k]
    if layers["pages"]:
        run_us = 1e6 * log["layers"]["extract"]["task_run_s"] / layers["pages"]
        out["extract.udf_us_per_page"] = run_us
        out["extract.overhead_share"] = 1 - out["extract.kernel_us_per_page"] / run_us
    units = layers["units"]
    out["spark.jobs"] = _in_window(log["jobs"], layers["windows"]) / units
    out["spark.stages"] = _in_window(log["stages"], layers["windows"]) / units
    out["spark.tasks"] = _in_window(log["tasks"], layers["windows"]) / units
    out["trace.urls_per_s"] = res["e2e"]["urls_per_s"]
    untraced = os.path.join(traces_dir, f"untraced_{bench.workload}.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["urls_per_s"]
        out["trace.overhead_share"] = 1 - out["trace.urls_per_s"] / base

    self_times = bench.spans.self_times()
    table = [
        {"layer": name, "self_s": round(self_times.get(name, 0.0), 4),
         "share_of_wall": round(self_times.get(name, 0.0) / layers["wall_s"], 4)}
        for name in layers["layer_spans"]
    ]
    table.append({"layer": "unattributed", "self_s": round(out["engine.unattributed_s"], 4),
                  "share_of_wall": round(out["engine.unattributed_share"], 4)})
    # storage calls timed once after the measured window, outside any round
    table += [
        {"layer": name, "self_s": round(t, 4), "share_of_wall": None}
        for name, t in self_times.items()
        if name.startswith("storage.") and name not in layers["layer_spans"]
    ]
    os.makedirs(traces_dir, exist_ok=True)
    path = os.path.join(traces_dir, f"{bench.workload}-seed{bench.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": bench.workload, "seed": bench.seed,
            "measured_wall_s": layers["wall_s"],
            "layer_table": table,
            "replay_mismatches": layers["mismatches"],
            "counts": bench.spans.counts,
            "spans": [asdict(s) for s in bench.spans.spans],
        }, f)
    for m in layers["mismatches"]:
        print(f"[perfbench] replay differs from the measured crawl: {m}", file=sys.stderr)
    width = max(len(r["layer"]) for r in table)
    print(f"[perfbench] per-layer self time vs measured wall {layers['wall_s']:.3f} s ({path})",
          file=sys.stderr)
    for r in table:
        share = "  (after)" if r["share_of_wall"] is None else f"{100 * r['share_of_wall']:6.1f} %"
        print(f"[perfbench]   {r['layer']:<{width}}  {r['self_s']:9.3f} s  {share}", file=sys.stderr)
    return {name: {"value": out[name], "unit": unit_of(name)} for name in PER_LAYER}


def unit_of(name: str) -> str:
    if name == "trace.urls_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us_per_page"):
        return "us"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    if name.endswith("_bytes") or name == "bloom.bytes" or name.endswith("bytes_written"):
        return "bytes"
    return "count"
