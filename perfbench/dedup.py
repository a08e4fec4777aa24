"""``seen_dedup``: URL-seen dedup against a large compacted seen set.

Set-up builds a seen set of ``SEEN_URLS`` URLs and compacts it into the
bucketed layout (``CheckpointStore.compact_seen``) once, then opens it
``setup_reps`` times as a restarted engine would: a bucketed scan plus a
complete ``PartitionedBloom`` over it (``merge_bitmaps_into``).  One operation is
one batch of ``BATCH`` candidate URLs, a closed loop with one client, and
the metrics are medians over the run's batches:

  dedup_against_seen(bloom, seen_bucketed) -> fold the new URLs into the
  Bloom filter -> write them as a seen delta -> re-read the deltas

which are the calls ``CrawlEngine`` makes once its seen set is above both
``bloom_min_seen`` and ``bucketed_min_seen``.  Half of every batch is
already seen; the other half is new, with URLs salted by the seed.
"""

from __future__ import annotations

import random
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from searchgov_spider_spark.crawl.bloom import PartitionedBloom, merge_bitmaps_into, with_bloom_probe
from searchgov_spider_spark.crawl.frontier import dedup_against_seen
from searchgov_spider_spark.functions import udfs
from searchgov_spider_spark.kernels.urlnorm import url_seen_hash
from searchgov_spider_spark.storage.tables import CheckpointStore

# above the engine's bloom_min_seen (500k), and above the ~524k rows where
# merge_bitmaps_into switches to the shuffle-by-shard build it uses at scale
SEEN_URLS = 600_000
BATCH = 100_000
NEW_SHARE = 0.5
HOSTS = 1_000
BLOOM_SHARDS, BLOOM_BITS = 16, 1 << 20
SEEN_COLS = CheckpointStore.SEEN_COLS


def seen_url(i) -> str:
    return f"https://host{i % HOSTS}.example.gov/s{i}"


class SeenSet:
    """A checkpoint store holding a compacted, bucketed seen set, and the
    Bloom filter over it."""

    def __init__(self, spark, root: str, n: int):
        self.n = n
        self.store = CheckpointStore(root)
        ids = spark.range(n, numPartitions=spark.sparkContext.defaultParallelism)
        url = F.concat(
            F.lit("https://host"), (F.col("id") % HOSTS).cast("string"),
            F.lit(".example.gov/s"), F.col("id").cast("string"),
        )
        seen = ids.select(
            udfs.url_seen_hash(url).alias("url_hash"), url.alias("url_canon"),
            F.lit(3).alias("depth"), F.col("id").alias("seq"),
        )
        self.store.write_seen_delta(seen, 0)
        t = time.monotonic()
        self.store.compact_seen(spark, 0)
        self.compact_s = time.monotonic() - t
        self.deltas = None  # seen deltas written by the batches so far

    def open(self, spark) -> float:
        """What a restarted engine does at this size: register the bucketed
        scan and build the complete Bloom filter.  Returns the Bloom build
        time."""
        self.bucketed = self.store.read_seen_bucketed(spark)
        t = time.monotonic()
        self.bloom = PartitionedBloom(BLOOM_SHARDS, BLOOM_BITS)
        merge_bitmaps_into(self.bloom, self.bucketed, "url_hash", rows_hint=self.n)
        return time.monotonic() - t


def make_batch(spark, seed: int, b: int, seen_n: int):
    """Candidates of batch ``b`` (persisted) and the URLs that are new."""
    rng = random.Random(f"{seed}:{b}")
    n_new = int(BATCH * NEW_SHARE)
    new = [f"https://host{rng.randrange(HOSTS)}.example.gov/n{seed}-{b}-{j}" for j in range(n_new)]
    old = [seen_url(i) for i in rng.sample(range(seen_n), BATCH - n_new)]
    urls = new + old
    rng.shuffle(urls)
    pdf = pd.DataFrame(
        {
            "url_canon": urls,
            "url_hash": [url_seen_hash(u) for u in urls],
            "depth": 4,
            "seq": range(seen_n + b * BATCH, seen_n + (b + 1) * BATCH),
        }
    )
    cands = spark.createDataFrame(pdf).repartition(spark.sparkContext.defaultParallelism).persist()
    cands.count()
    return cands, set(new)


def dedup_batch(spark, seen: SeenSet, cands, b: int, spans=None):
    """One operation; returns the persisted new URLs, written as the seen
    delta of round ``b``.  With ``spans`` each layer call runs on a
    persisted input under its own span."""
    store = seen.store
    if spans is None:
        new = dedup_against_seen(spark, cands, seen.deltas, seen.bloom, seen_bucketed=seen.bucketed)
        new = new.select(*SEEN_COLS).persist()
        new.count()
        merge_bitmaps_into(seen.bloom, new, "url_hash")
        store.write_seen_delta(new, b)
    else:
        with spans.span("bloom.probe", group=f"bloom:b{b}"):
            probed = with_bloom_probe(spark, cands, seen.bloom, "url_hash").persist()
            maybe = probed.filter("maybe_seen").drop("maybe_seen").persist()
            spans.count("bloom.maybe_seen", maybe.count())
        with spans.span("dedup.anti_join", group=f"dedup:b{b}"):
            survivors = dedup_against_seen(spark, maybe, seen.deltas, None, seen_bucketed=seen.bucketed)
            survivors = survivors.persist()
            spans.count("dedup.maybe_new", survivors.count())
        new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(survivors)
        new = new.select(*SEEN_COLS).persist()
        spans.count("dedup.new", new.count())
        with spans.span("bloom.fold", group=f"bloom:b{b}"):
            merge_bitmaps_into(seen.bloom, new, "url_hash")
        with spans.span("storage.write", group=f"storage:b{b}"):
            store.write_seen_delta(new, b)
        for df in (probed, maybe, survivors):
            df.unpersist()
    if seen.deltas is not None:
        seen.deltas.unpersist()
    if spans is None:
        seen.deltas = store.read_seen(spark, b, exclude_compacted=True).persist()
    else:
        with spans.span("storage.read_seen", group=f"storage:b{b}"):
            seen.deltas = store.read_seen(spark, b, exclude_compacted=True).persist()
    return new


def run(bench) -> dict:
    """Run the workload for ``bench.seconds``; see ``run.Bench``."""
    spark = bench.spark
    t = time.monotonic()
    seen = SeenSet(spark, bench.scratch("seen"), SEEN_URLS)
    build_s = time.monotonic() - t
    prep_s, bloom_s = [], []
    for _ in range(bench.setup_reps):
        t = time.monotonic()
        bloom_s.append(seen.open(spark))
        prep_s.append(time.monotonic() - t)

    ops, errors = [], []
    spans = bench.spans if bench.trace else None
    bench.window_start()
    while not ops or bench.window_left() > 0:
        b = len(ops) + 1
        cands, expected = make_batch(spark, bench.seed, b, seen.n)
        with bench.op("batch") as op:
            new = dedup_batch(spark, seen, cands, b, spans)
        new.unpersist()
        cands.unpersist()
        op["expected"] = expected
        ops.append(op)
    window = bench.window_stop()

    # the check reads back the seen deltas the batches committed
    failed = 0
    for b, op in enumerate(ops, 1):
        got = pq.read_table(seen.store.seen_delta_dir(b), columns=["url_canon"]).column("url_canon")
        got = set(got.to_pylist())
        if got != op["expected"]:
            failed += 1
            errors.append(
                f"batch {b}: admitted {len(got)} URLs, expected the {len(op['expected'])} new ones "
                f"({len(got - op['expected'])} extra, {len(op['expected'] - got)} missing)"
            )

    result = {
        "attempted": len(ops),
        "failed": failed,
        "errors": errors,
        "once_s": build_s,
        "prep_s": prep_s,
        "window": window,
        "e2e": {
            "urls_per_s": statistics.median(BATCH / op["wall_s"] for op in ops),
            "cpu_us_per_url": statistics.median(1e6 * op["cpu_s"] / BATCH for op in ops),
            "driver_rss_mb": window["peak_rss_mb"]["driver"],
        },
        "diag": {
            "batches": len(ops),
            "batch_wall_s": [round(op["wall_s"], 3) for op in ops],
            "build_s": round(build_s, 3),
            "compact_s": round(seen.compact_s, 3),
            "bloom_build_s": [round(x, 3) for x in bloom_s],
        },
    }
    if bench.trace:
        from . import trace

        build = {"bloom_build_s": statistics.median(bloom_s), "compact_s": seen.compact_s}
        result["layers"] = trace.dedup_layers(bench, seen, ops, build)
    return result
