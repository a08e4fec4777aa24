"""The crawl engine: BFS micro-batch round loop with checkpoint/resume.

Spark rebuild of the reference's Scrapy engine loop (SURVEY.md §3.1):
each round is one micro-batch over the frontier —

  frontier -> politeness budget selection (P1) -> ONE Arrow pass per
  partition (``round_pass``): fetch (S4/J4) + extraction (X1-X18) +
  document metadata + per-link admission kernels and robots verdict (F1,
  F2, F6) -> JVM admission filters + dedup (F2-F7) -> global FIFO seq
  assignment (O1) -> frontier/deferred checkpoint (T1) -> metrics (A7).

The pass is the round's only Python node: every Python node costs each of
its tasks a Python runner start (~250 ms of worker CPU, mostly
``importlib.invalidate_caches`` re-reading pyspark.zip), more than the
kernels' whole per-round work on a partition of a small round.  A
batch-client fetcher runs inside the pass; a join-shaped one (the pages
table, J4) joins first.  The documents write and the frontier job both
read the persisted pass; neither has a Python node of its own.

Round state lives in parquet round-directories committed by manifest
(storage.tables.CheckpointStore) so a killed run resumes from the last
committed round with an identical visited-URL set (north_rule).  Every
round writes its new admits, and only those, as its ``frontier`` dir: that
dir is the round's seen delta.  A round whose politeness budget binds also
writes the frontier rows it did not select as ``deferred``.  The committed
checkpoint is a round's only input: round N reads round N-1's frontier
and deferred dirs (``read_frontier``; round -1's frontier is the seed dir
the bootstrap wrote) and the seen set through round N-1 (``read_seen``),
so starting, resuming and continuing a crawl run the same loop body.  A
fresh run refuses a directory that already holds a committed round.

The bootstrap is no round: the seed list is a driver argument, so
``_bootstrap`` admits it there, and the seed-dir write is one JVM job.

Politeness: per-host budget = floor(round_seconds / crawl_delay), the exact
token-bucket steady state when the bucket capacity equals the round length
(see politeness.static_budgets).

Scale notes (10^10 frontier design point):
  * no driver-side URL collections — only counts, offsets and the
    host -> robots.txt map (collected once at init, then broadcast; its
    size is hosts x rules bytes) cross the driver;
  * the pages side of the fetch join is repartitioned once on url_canon and
    persisted, so each round shuffles only the (politeness-bounded) fetch
    batch;
  * per-host selection is salt-parallel on hot hosts
    (politeness.select_per_host_static);
  * per-round lineage is cut by the parquet checkpoint: the frontier and
    the seen set (a flat multi-path scan of the per-round seen deltas) are
    read at round start without a job (schema from a parquet footer) and
    never cached — the round's anti-join is the seen set's one reader.
    That exact anti-join is the round's only dedup: a Bloom prefilter
    measured slower than it at every seen-set size and new-URL share
    tried (docs/DESIGN.md, "Dedup crossover");
  * a small round (estimated admits under ``SMALL_BATCH_THRESHOLD``) sends
    its admitted links to one partition once: in-batch dedup, the
    broadcast anti-join against the seen set and the FIFO numbering window
    all run there with no further exchange.  A DataFrame is persisted only
    when two actions read it (the pass).

Every job of round N — on the round thread and on the documents-write
thread, an ``InheritableThread`` — runs in Spark job group ``crawl-rN``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import udfs
from ..storage.tables import CheckpointStore
from . import politeness
from .frontier import dedup_against_seen, dedup_first_in_batch, pass_candidates
from .reference_bfs import CrawlPolicy
from .seqno import (
    SMALL_BATCH_THRESHOLD,
    assign_seq_bucketed,
    assign_seq_small,
    monotone_bucket,
)

FRONTIER_ARROW = pa.schema([
    ("url_canon", pa.string()), ("url_hash", pa.int64()), ("host", pa.string()),
    ("depth", pa.int32()), ("seq", pa.int64()), ("source_url", pa.string()),
])
FRONTIER_COLS = FRONTIER_ARROW.names

# Auto-compaction (T2): once this many seen-delta directories have
# accumulated since the last compaction, the engine compacts them into the
# bucketed seed table between rounds (the maintenance window).  Bounds
# small-file growth over unbounded crawls — at one delta dir per round a
# month-long crawl would otherwise union thousands of parquet paths into
# every dedup anti-join.
AUTO_COMPACT_DELTAS = 64


@dataclass
class CrawlRun:
    checkpoint: CheckpointStore
    rounds: int = 0
    metrics: list[dict] = field(default_factory=list)

    def documents(self, spark: SparkSession) -> DataFrame | None:
        return self.checkpoint.read_documents(spark)

    def seen(self, spark: SparkSession) -> DataFrame | None:
        last = self.checkpoint.last_committed()
        return None if last is None else self.checkpoint.read_seen(spark, last)

    def total_fetched(self) -> int:
        return sum(m.get("fetched", 0) for m in self.metrics)


class CrawlEngine:
    # a budget-binding round over a frontier larger than this salts each
    # host's selection over 8 buckets (politeness.select_per_host_static)
    hot_host_threshold = 200_000

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        robots: DataFrame | None,
        policy: CrawlPolicy,
        checkpoint_dir: str,
        fetcher=None,
        round_seconds: float = 3600.0,
        bloom_shards: int = 16,
        bloom_bits: int = 1 << 20,
        bloom_min_seen: int = 500_000,
    ):
        """``bloom_shards``, ``bloom_bits`` and ``bloom_min_seen`` do
        nothing: every round dedups by the exact anti-join against the seen
        set.  They stay accepted for callers written against the engine
        that sized and switched on a Bloom prefilter."""
        self.spark = spark
        self.policy = policy
        self.store = CheckpointStore(checkpoint_dir)
        self.round_seconds = round_seconds
        self.default_budget = max(1, int(round_seconds / politeness.DEFAULT_CRAWL_DELAY))
        # the compacted seen set's bucketed scan, None before any compaction
        # (set per run() from the checkpoint layout)
        self._seen_bucketed = None
        self.compactions: list[dict] = []
        self.fetch_partitions = max(32, spark.sparkContext.defaultParallelism)
        # robots/budgets are host-table-sized dimensions, but typically
        # arrive as a createDataFrame spread over defaultParallelism
        # partitions.  Coalesce once at init so each later read (the
        # budgets join, the robots map below) is a single task.
        self.robots = robots.coalesce(1).persist() if robots is not None else None
        # The round's Arrow pass judges robots per link from a host ->
        # robots.txt map collected here once and shipped as a broadcast
        # variable (each partition's pass parses a host's rules once).
        # Memory ceiling: the whole robots table is collected once, as a
        # broadcast join of it would collect it.
        self._robots_rules = self._broadcast_robots()
        self.budgets = politeness.static_budgets(self.robots, round_seconds, policy.agent)
        self.min_budget = self.default_budget
        if self.budgets is not None:
            self.budgets = self.budgets.coalesce(1).persist()
            rows = self.budgets.agg(F.min("budget").alias("m")).collect()
            if rows and rows[0]["m"] is not None:
                self.min_budget = min(self.min_budget, int(rows[0]["m"]))
        # pluggable fetch stage (S4/J4) — table join by default, batch-client
        # (GeneratorFetcher / HTTP) when supplied
        if fetcher is not None:
            self.fetcher = fetcher
        else:
            from .fetch import TableFetcher

            self.fetcher = TableFetcher(pages, self.fetch_partitions)

    def _broadcast_robots(self):
        """Host -> rules_text of ``self.robots`` as a broadcast variable
        (None without a robots table).  Rows with a null host match no URL
        and are left out.  More than one row for a host is rejected: the
        reference fetches one robots.txt per host, and a map would keep
        one of the rows silently."""
        if self.robots is None:
            return None
        rows = self.robots.select("host", "rules_text").collect()
        rules: dict[str, str | None] = {}
        dups = set()
        for r in rows:
            if r["host"] is None:
                continue
            if r["host"] in rules:
                dups.add(r["host"])
            rules[r["host"]] = r["rules_text"]
        if dups:
            self.robots.unpersist()
            raise ValueError(f"robots table has more than one row for host(s): {sorted(dups)}")
        return self.spark.sparkContext.broadcast(rules)

    # -- bootstrap -------------------------------------------------------------
    def _bootstrap(self, start_urls: list[str]) -> pa.Table:
        """The admitted seed URLs as round 0's frontier: depth 0, ``seq``
        numbered densely in first-listing order.

        Seeds bypass the offsite, query-string and deny-path filters and
        the jsessionid rewrite (reference: start requests carry
        dont_filter=True and skip get_processed_request,
        middlewares.py:114-115); only the depth and robots checks apply,
        and a later alias of an admitted seed is dropped.  The row kernels
        are the ones a round's pass runs per link.
        """
        robots_ok = udfs._robots_checker(
            self._robots_rules.value if self._robots_rules is not None else None, self.policy.agent
        )
        rows: dict[str, dict] = {}
        if self.policy.depth_limit >= 0:
            for url in start_urls:
                canon, host, url_hash, ok = udfs._link_row(url, robots_ok, strip=False)
                if ok and canon not in rows:
                    rows[canon] = {"url_canon": canon, "url_hash": url_hash, "host": host,
                                   "depth": 0, "seq": len(rows), "source_url": ""}
        return pa.Table.from_pylist(list(rows.values()), schema=FRONTIER_ARROW)

    # -- the round's Python pass ---------------------------------------------------
    def round_pass(self, batch: DataFrame) -> DataFrame:
        """Fetch + extraction + document metadata + link parts + robots of a
        frontier batch as ONE Arrow map node (``udfs.crawl_pass``), so each
        partition starts one Python task per round.

        A batch-client fetcher (``fetch_partition``: GeneratorFetcher,
        HttpFetcher) runs inside the pass, which drives its per-partition
        iterator once — an HTTP client keeps one transport and one thread
        pool across the partition's Arrow batches.  A join-shaped fetcher
        (TableFetcher) joins first and the pass runs on the joined rows.
        """
        fetch_partition = getattr(self.fetcher, "fetch_partition", None)
        fetch = fetch_partition() if fetch_partition is not None else None
        rules, agent = self._robots_rules, self.policy.agent

        def _pass(batches):
            fetched = batches if fetch is None else fetch(batches)
            return udfs.crawl_pass(fetched, rules.value if rules is not None else None, agent)

        src = batch if fetch is not None else self.fetcher.fetch(batch)
        return src.mapInArrow(_pass, udfs.CRAWL_PASS_SCHEMA)

    # -- one round ---------------------------------------------------------------
    def _run_round(self, rnd: int, next_seq: int, frontier_hint: int) -> dict:
        """Round ``rnd`` over the committed checkpoint: its frontier is the
        one round ``rnd - 1`` left (``read_frontier``; round 0: the seed
        dir) and its seen deltas are ``read_seen`` through round
        ``rnd - 1``, beside the compacted bucketed scan once there is one.
        Returns the round's metrics."""
        t0 = time.monotonic()
        timings: dict[str, float] = {}
        _last = [t0]

        def mark(name: str) -> None:
            now = time.monotonic()
            timings[name] = round(now - _last[0], 3)
            _last[0] = now

        spark = self.spark
        frontier = self.store.read_frontier(spark, rnd - 1)
        seen = self.store.read_seen(spark, rnd - 1, exclude_compacted=self._seen_bucketed is not None)

        # politeness-capped FIFO selection (static budgets; see module doc).
        # Fast path: when the whole frontier is within every host's budget the
        # cap cannot bind — selection is the identity and the per-host window
        # shuffle (and the frontier anti-join below) are skipped entirely.
        budget_binds = frontier_hint > self.min_budget
        if budget_binds:
            salt = 8 if frontier_hint > self.hot_host_threshold else 1
            selected = politeness.select_per_host_static(
                frontier, self.budgets, self.default_budget, salt_buckets=salt
            ).persist()
        else:
            selected = frontier

        # fetch (S4/J4) + extraction (X1-X18).  The batch is explicitly
        # repartitioned on url_hash first (north_rule: salt the frontier by
        # host/url hash) — the rows are tiny pre-fetch, and without this the
        # narrow fetch+extract chain would inherit the frontier parquet's
        # coalesced (often single) partition and serialize the hot path.
        # Partition count adapts to the batch (~2k pages/task): small rounds
        # avoid per-task Arrow-worker overhead, big rounds use every core.
        cores = self.spark.sparkContext.defaultParallelism
        parts = min(self.fetch_partitions, max(cores, (frontier_hint // 2000) + 1))
        # NO observe on `selected`: it sits UPSTREAM of the persisted
        # `passed`, so both the documents query and the frontier query
        # would carry the same observation node — under concurrent execution
        # whichever query serves from cache reports an empty observation row
        # (toPyRow assertion).  n_selected is derived instead: the frontier
        # hint less the rows the round defers.
        batch = selected.repartition(parts, F.col("url_hash"))
        # the round's only Python node; the documents and frontier jobs
        # both read it from cache
        passed = self.round_pass(batch).persist()
        documents = documents_from_pass(passed)

        # documents write runs CONCURRENTLY with the admission/frontier job
        # (separate driver thread; Spark schedules both jobs at once).  Both
        # consume the persisted `passed`; the block manager's per-block
        # locking makes concurrent materialization safe.  This hides one of
        # the round's two action latencies — the dominant share of the
        # small-round fixed cost.  An InheritableThread carries the round's
        # job group into the thread's jobs.
        obs_docs = Observation()
        docs_df = documents.observe(obs_docs, F.count(F.lit(1)).alias("n"))
        docs_err: list[BaseException] = []

        def _write_docs() -> None:
            try:
                self.store.write_table(docs_df, rnd, "documents")
            except BaseException as exc:  # re-raised on the round thread
                docs_err.append(exc)

        docs_thread = InheritableThread(target=_write_docs, name=f"docs-write-{rnd}", daemon=True)
        docs_thread.start()

        # discovery (F1) -> admission (F2-F6) -> dedup (F7) -> FIFO seq (O1).
        # Small batches (estimated from fan-out; n_selected <= frontier_hint,
        # so hint * fan-out bounds the batch) go to ONE partition once: the
        # in-batch dedup's aggregate, the broadcast anti-join against the
        # seen set and the numbering window all run there with no further
        # exchange, and no pre-count pass runs (the exact count comes from
        # the write Observation).  Big batches keep the partitioned dedup and
        # take the SAMPLING-FREE bucketed scheme: the frontier's seqs are
        # exactly [next_seq - |frontier|, next_seq) in the fast path, so a
        # monotone bucket id is pure arithmetic on parent_seq — no
        # range-partitioner sampling job, no pre-count job, no second
        # shuffled cache.  (Out-of-range parents on the budget-binding path
        # clamp to the end buckets; monotonicity — correctness — holds for
        # any bounds, per seqno.monotone_bucket.)
        small = frontier_hint * 8 < SMALL_BATCH_THRESHOLD
        links = pass_candidates(passed, self.policy)
        candidates = dedup_first_in_batch(links.repartition(1) if small else links, ["parent_seq", "pos"])
        new_admits = dedup_against_seen(spark, candidates, seen, None, seen_bucketed=self._seen_bucketed)
        admits_cache = None
        if small:
            new_admits = assign_seq_small(new_admits, ["parent_seq", "pos"], start=next_seq)
        else:
            n_buckets = max(4 * self.spark.sparkContext.defaultParallelism, 8)
            pid = monotone_bucket(
                F.col("parent_seq"), lo=next_seq - frontier_hint, span=frontier_hint,
                n_buckets=n_buckets,
            )
            new_admits, _, admits_cache = assign_seq_bucketed(
                new_admits.withColumn("_pid", pid), ["parent_seq", "pos"], start=next_seq
            )
        mark("admission_plan")

        # state transition + checkpoint.  The frontier dir holds the new
        # admits and only those: it is the round's seen delta.  A binding
        # budget also writes the frontier rows it did not select as
        # `deferred`; the next round reads both (read_frontier).
        obs_adm = Observation()
        admits = new_admits.observe(obs_adm, F.count(F.lit(1)).alias("n")).select(*FRONTIER_COLS)
        n_deferred = 0
        t_fw = time.monotonic()
        try:
            self.store.write_table(admits, rnd, "frontier")
            timings["frontier_parquet"] = round(time.monotonic() - t_fw, 3)
            if budget_binds:
                obs_def = Observation()
                deferred = frontier.join(selected.select("seq"), "seq", "left_anti").select(*FRONTIER_COLS)
                self.store.write_table(deferred.observe(obs_def, F.count(F.lit(1)).alias("n")), rnd, "deferred")
                n_deferred = int(obs_def.get["n"])
        finally:
            # ALWAYS re-join the concurrent documents write — if the
            # frontier write raised, its own failure must not be dropped
            # silently (and its cached input must not be unpersisted under
            # it).
            t_join = time.monotonic()
            docs_thread.join()
            # residual wait on the overlapped documents write beyond the
            # frontier write's own job (fixed-cost accounting)
            timings["write_join_wait"] = round(time.monotonic() - t_join, 3)
        if docs_err:
            raise docs_err[0]
        n_admitted = int(obs_adm.get["n"])
        n_docs = int(obs_docs.get["n"])
        n_selected = frontier_hint - n_deferred
        remaining = n_admitted + n_deferred
        mark("frontier_write")

        if budget_binds:
            selected.unpersist()
        passed.unpersist()
        if admits_cache is not None:
            admits_cache.unpersist()

        return {
            "selected": n_selected,
            "fetched": n_docs,
            "missed": n_selected - n_docs,
            "admitted": n_admitted,
            "remaining": remaining,
            "next_seq": next_seq + n_admitted,
            "round_wall_s": round(time.monotonic() - t0, 3),
            "timings": timings,
            "stop": remaining == 0,
        }

    # -- public API ---------------------------------------------------------------
    def run(self, start_urls: list[str], max_rounds: int = 1000, resume: bool = False) -> CrawlRun:
        """Crawl from ``start_urls`` for up to ``max_rounds`` rounds.

        A fresh run needs a checkpoint directory without a committed round
        (it raises ``ValueError`` rather than read another crawl's rounds
        or delete them); ``resume=True`` continues from the last committed
        round, or bootstraps when none is committed yet."""
        spark = self.spark
        run = CrawlRun(checkpoint=self.store)

        last = self.store.last_committed()
        if last is not None and not resume:
            raise ValueError(
                f"checkpoint directory {self.store.root!r} already holds committed round {last}: "
                "resume it (resume=True) or crawl into an empty directory"
            )
        if last is not None:
            # refuse to resume from a checkpoint whose data files diverge
            # from their committed lineage (truncated/overwritten parquet
            # in any round the seen set reads would silently corrupt the
            # visited set)
            self.store.verify_resume(last)
            manifest = self.store.read_manifest(last)
            if manifest.get("stop"):
                run.rounds = last + 1
                return run
        start_round = 0 if last is None else last + 1
        # a crashed round's leftover dirs must not join the seen set of
        # the round that reuses their names
        self.store.drop_uncommitted(start_round)
        if last is None:
            # the seed dir is round 0's frontier and, through read_seen, the
            # seeds' seen delta: seeds enter the seen set at admission (T1/F7)
            seeds = self._bootstrap(start_urls)
            self.store.write_seeds(spark.createDataFrame(seeds))
            next_seq = frontier_hint = seeds.num_rows
        else:
            next_seq = manifest["next_seq"]
            frontier_hint = manifest.get("remaining", 0)
        self._seen_bucketed = self.store.read_seen_bucketed(spark)

        for rnd in range(start_round, start_round + max_rounds):
            with job_group(spark.sparkContext, f"crawl-r{rnd}", f"crawl round {rnd}"):
                metrics = self._run_round(rnd, next_seq, frontier_hint)
                next_seq = metrics["next_seq"]
                frontier_hint = metrics["remaining"]
                t_commit = time.monotonic()
                self.store.commit_round(rnd, metrics)
                # loop-level (core-count-independent) driver costs, visible in
                # run.metrics for the bench's fixed-cost accounting
                metrics["timings"]["commit"] = round(time.monotonic() - t_commit, 3)
                run.metrics.append({"round": rnd, **metrics})
                run.rounds = rnd + 1
                if metrics["stop"]:
                    break
                t_inter = time.monotonic()
                self._maybe_auto_compact(rnd)
                metrics["timings"]["interround"] = round(time.monotonic() - t_inter, 3)
        return run

    def _maybe_auto_compact(self, rnd: int) -> None:
        """Maintenance window between rounds: compact accumulated seen
        deltas into the bucketed seed table once ``AUTO_COMPACT_DELTAS``
        directories are pending, and re-read the bucketed scan the next
        rounds' dedup uses.

        Runs strictly AFTER ``commit_round`` — compaction only merges
        committed deltas, and a crash mid-compaction leaves a readable seen
        set that resume tolerates (``compact_seen``'s atomic-swap
        ordering).
        """
        pending = len(self.store._seen_paths(rnd, include_seed=False))
        if pending < AUTO_COMPACT_DELTAS:
            return
        t0 = time.monotonic()
        merged = self.store.compact_seen(self.spark, rnd)
        self._seen_bucketed = self.store.read_seen_bucketed(self.spark)
        self.compactions.append(
            {"round": rnd, "deltas_merged": merged, "wall_s": round(time.monotonic() - t0, 3)}
        )


@contextmanager
def job_group(sc, group: str, description: str):
    """Run the block's Spark jobs in job group ``group``, and the jobs of
    every ``InheritableThread`` it starts, then restore the caller's group
    (pinned-thread mode keeps local properties per Python thread)."""
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [(k, sc.getLocalProperty(k)) for k in keys]
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for k, v in saved:
            sc.setLocalProperty(k, v)


def documents_from_pass(passed: DataFrame) -> DataFrame:
    """The round's documents from its fused pass, in the full reference
    document schema (indexing/transform.py:20-101): created_at/updated_at
    use null instead of the reference's wall-clock fallback (X18
    nondeterminism exclusion); download_milliseconds and creator are
    runtime placeholders upstream too; 'updated' reuses created_at."""
    return passed.select(
        F.col("doc.id").alias("id"),
        F.col("url_canon").alias("url"),
        F.col("url_canon").alias("path"),
        F.col("source_url"),
        F.col("doc.domain_name").alias("domain_name"),
        F.col("doc.basename").alias("basename"),
        F.nullif(F.col("doc.extension"), F.lit("")).alias("extension"),
        F.col("doc.url_path").alias("url_path"),
        F.col("depth").alias("crawl_depth"),
        F.col("seq"),
        F.col("doc.title").alias("title"),
        F.col("doc.description").alias("description"),
        F.col("doc.keywords").alias("keywords"),
        F.col("doc.keywords").alias("tags"),
        F.col("doc.language").alias("language"),
        F.col("doc.content").alias("content"),
        F.nullif(F.col("doc.audience"), F.lit("")).alias("audience"),
        F.nullif(F.col("doc.thumbnail_url"), F.lit("")).alias("thumbnail_url"),
        F.col("doc.created_at").alias("created_at"),
        F.col("doc.changed").alias("changed"),
        F.col("doc.created_at").alias("updated"),
        F.lit("text/html").alias("mime_type"),
        F.lit("article").alias("content_type"),
        F.lit(None).cast("long").alias("dap_domain_visits_count"),
        F.struct(
            F.col("depth").alias("crawl_depth"),
            F.lit(None).cast("string").alias("creator"),
            F.col("download_bytes").alias("download_bytes"),
            F.lit(None).cast("long").alias("download_milliseconds"),
            F.col("source_url").alias("source_url"),
        ).alias("metadata"),
    )
