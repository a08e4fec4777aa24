"""``bulk_crawl``: ``CrawlEngine.run`` over the synthetic web.

One operation is one complete crawl with a fresh engine and checkpoint, a
closed loop with one client: the next crawl starts when the previous one
has ended.  Every host root is seeded, in an order the seed permutes, and
``round_seconds`` is so high that the politeness budget never binds.  Every
crawl is checked against the pure-Python reference BFS on the same web,
seed list and policy, outside the timed window.
"""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass

from searchgov_spider_spark.crawl import CrawlEngine, CrawlPolicy, reference_crawl
from searchgov_spider_spark.crawl.fetch import GeneratorFetcher
from searchgov_spider_spark.kernels.htmlx import extract_text
from searchgov_spider_spark.kernels.urlnorm import canonicalize_url
from searchgov_spider_spark.synth import webgen

POLICY = CrawlPolicy(allowed_domains=["example.gov"], depth_limit=50)


@dataclass(frozen=True)
class CrawlSpec:
    pages: int
    hosts: int
    branch: int
    round_seconds: float


SPEC = CrawlSpec(pages=6_000, hosts=30, branch=8, round_seconds=1e9)


class Web:
    """Inputs of one crawl workload for one seed, and their oracle."""

    def __init__(self, spec: CrawlSpec, seed: int):
        self.spec = spec
        self.start_urls = [webgen.page_url(h, 0) for h in range(spec.hosts)]
        random.Random(seed).shuffle(self.start_urls)

    def oracle(self):
        spec = self.spec
        pages = {
            canonicalize_url(webgen.page_url(h, k)): webgen.build_page(
                h, k, size, spec.hosts, spec.branch, with_text=False
            )["html"]
            for h, k, size in webgen.page_index(spec.pages, spec.hosts)
        }
        robots = {webgen.host_name(h): webgen.robots_text(h, spec.hosts) for h in range(spec.hosts)}
        return pages, reference_crawl(pages, robots, self.start_urls, POLICY)

    def engine(self, spark, ckpt: str) -> CrawlEngine:
        spec = self.spec
        robots = spark.createDataFrame(webgen.robots_pandas(spec.hosts))
        return CrawlEngine(
            spark, None, robots, POLICY, ckpt,
            fetcher=GeneratorFetcher(spec.pages, spec.hosts, branch=spec.branch),
            round_seconds=spec.round_seconds,
        )


def crawl_once(bench, engine: CrawlEngine, start_urls: list[str]) -> dict:
    """Run one crawl, built beforehand, as one timed operation."""
    with bench.op("crawl") as op:
        run = engine.run(start_urls)
    op["fetched"] = run.total_fetched()
    op["metrics"] = run.metrics
    op["engine"] = engine
    return op


def check(spark, op: dict, oracle) -> list[str]:
    """Output checks of one crawl; returns the failures found."""
    pages, ref = oracle
    store = op["engine"].store
    errors = []
    if not op["metrics"][-1]["stop"]:
        errors.append("crawl did not reach an empty frontier")
    last = store.last_committed()
    seen = store.read_seen(spark, last).select("url_canon", "depth", "seq").toPandas()
    if sorted(zip(seen.url_canon, seen.depth)) != sorted(ref.depth.items()):
        errors.append(f"visited set/depth differ from the reference BFS ({len(seen)} vs {len(ref.depth)})")
    docs = store.read_documents(spark).select("url", "content").toPandas()
    if set(docs.url) != ref.fetched:
        errors.append(f"fetched set differs ({len(docs)} vs {len(ref.fetched)})")
    order = list(seen.sort_values("seq").url_canon)
    if order != ref.order:
        errors.append("FIFO seq order differs from the reference BFS order")
    bad = sum(1 for u, c in zip(docs.url, docs.content) if u in pages and c != extract_text(pages[u], u))
    if bad:
        errors.append(f"{bad} documents' content differs from kernels.htmlx.extract_text")
    return errors


def run(bench) -> dict:
    """Run the workload for ``bench.seconds``; see ``run.Bench``."""
    spark, web = bench.spark, Web(SPEC, bench.seed)

    # set-up repetitions: input generation and engine construction.  There
    # is no warm-up crawl: a crawl is one spark-submit, so its users pay the
    # session's first-job costs on every crawl, and the measured one does too.
    prep_s, engines = [], []
    for i in range(bench.setup_reps):
        t = time.monotonic()
        engines.append(web.engine(spark, bench.scratch(f"crawl{i}")))
        prep_s.append(time.monotonic() - t)

    ops = []
    bench.window_start()
    while not ops or bench.window_left() > 0:
        engine = engines.pop() if engines else web.engine(spark, bench.scratch(f"crawl-more{len(ops)}"))
        ops.append(crawl_once(bench, engine, web.start_urls))
    window = bench.window_stop()

    oracle = web.oracle()
    attempted = failed = 0
    errors: list[str] = []
    for op in ops:
        errs = check(spark, op, oracle)
        attempted += len(op["metrics"])
        failed += len(op["metrics"]) if errs else 0
        errors += errs

    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "once_s": 0.0,
        "prep_s": prep_s,
        "window": window,
        "e2e": {
            "urls_per_s": statistics.median(op["fetched"] / op["wall_s"] for op in ops),
            "cpu_us_per_url": statistics.median(1e6 * op["cpu_s"] / op["fetched"] for op in ops),
            "driver_rss_mb": window["peak_rss_mb"]["driver"],
        },
        "diag": {
            "crawls": len(ops),
            "rounds": [len(op["metrics"]) for op in ops],
            "fetched": [op["fetched"] for op in ops],
            "crawl_wall_s": [round(op["wall_s"], 3) for op in ops],
        },
    }
    if bench.trace:
        from . import trace

        result["layers"] = trace.crawl_layers(bench, ops[-1])
    return result
