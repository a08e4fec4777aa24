"""End-to-end crawl tests: Spark engine vs the pure-Python reference BFS.

The analog of the reference's golden full-crawl tests
(test_domain_spider_full_crawl.py:57-123): identical visited-URL sets,
per-URL depths, FIFO discovery order, and byte-identical extracted text.
"""

import os
import re
import shutil

import pytest

from searchgov_spider_spark.crawl import CrawlEngine, CrawlPolicy, reference_crawl
from searchgov_spider_spark.kernels.urlnorm import canonicalize_url
from searchgov_spider_spark.synth import webgen
from searchgov_spider_spark.synth.spark_gen import PAGES_SCHEMA

N_PAGES, N_HOSTS = 400, 5


def _pages_dict():
    return {
        canonicalize_url(r["url"]): r["html"]
        for r in (
            webgen.build_page(h, k, p, N_HOSTS) for h, k, p in webgen.page_index(N_PAGES, N_HOSTS)
        )
    }


def _robots_dict():
    return {webgen.host_name(h): webgen.robots_text(h, N_HOSTS) for h in range(N_HOSTS)}


@pytest.fixture(scope="module")
def web(spark):
    pages_pdf = webgen.pages_pandas(N_PAGES, N_HOSTS)
    pages_df = spark.createDataFrame(pages_pdf, schema=PAGES_SCHEMA).persist()
    robots_df = spark.createDataFrame(webgen.robots_pandas(N_HOSTS))
    return pages_df, robots_df


POLICIES = {
    "full-depth20": CrawlPolicy(allowed_domains=[webgen.host_name(0)], depth_limit=20),
    "deny-tag": CrawlPolicy(allowed_domains=[webgen.host_name(0)], depth_limit=20, deny_paths=["/tag/"]),
    "two-hosts-qs": CrawlPolicy(
        allowed_domains=[webgen.host_name(0), webgen.host_name(1)],
        depth_limit=3,
        allow_query_string=True,
    ),
    "depth2": CrawlPolicy(allowed_domains=[webgen.host_name(0)], depth_limit=2),
}


def run_both(spark, web, policy, tmp_path, **engine_kw):
    pages_df, robots_df = web
    start = [webgen.page_url(0, 0)]
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)
    ckpt = str(tmp_path / "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    engine = CrawlEngine(
        spark, pages_df, robots_df, policy, ckpt,
        bloom_shards=4, bloom_bits=1 << 14, **engine_kw,
    )
    run = engine.run(start, max_rounds=64)
    return oracle, run, engine


@pytest.mark.parametrize("name", list(POLICIES))
def test_visited_set_and_depth_match_oracle(spark, web, tmp_path, name):
    policy = POLICIES[name]
    oracle, run, _ = run_both(spark, web, policy, tmp_path / name)
    seen = run.seen(spark)
    got = {(r["url_canon"], r["depth"]) for r in seen.collect()}
    expected = {(u, d) for u, d in oracle.depth.items()}
    assert got == expected, f"{name}: visited set mismatch ({len(got)} vs {len(expected)})"

    docs = run.documents(spark)
    fetched = {r["url"] for r in docs.select("url").collect()}
    assert fetched == oracle.fetched


def test_fifo_order_matches_oracle(spark, web, tmp_path):
    # ample budget => rounds == depth levels => admission order must equal
    # the reference FIFO order exactly (SURVEY.md §2.5 O1)
    policy = POLICIES["full-depth20"]
    oracle, run, _ = run_both(spark, web, policy, tmp_path / "fifo")
    seen = run.seen(spark)
    ordered = [r["url_canon"] for r in seen.orderBy("seq").collect()]
    assert ordered == oracle.order
    seqs = [r["seq"] for r in seen.orderBy("seq").collect()]
    assert seqs == list(range(len(ordered)))  # dense FIFO sequence


def test_extracted_text_byte_identical(spark, web, tmp_path):
    # input_hint invariant: byte-identical extracted text per URL between the
    # distributed pandas-UDF path and the single-node kernel reference
    policy = POLICIES["full-depth20"]
    pages_df, _ = web
    _, run, _ = run_both(spark, web, policy, tmp_path / "parity")
    docs = run.documents(spark).select("url", "content")
    joined = docs.join(pages_df.selectExpr("url", "text as expected_text"), "url", "inner")
    assert joined.count() == docs.count()
    mismatches = joined.filter("content != expected_text").count()
    assert mismatches == 0


def test_politeness_caps_fetches_per_round(spark, web, tmp_path):
    # crawl_delay=1s and 8-second rounds => at most 8 fetches per host-round
    policy = POLICIES["depth2"]
    pages_df, robots_df = web
    start = [webgen.page_url(0, 0)]
    ckpt = str(tmp_path / "polite")
    engine = CrawlEngine(
        spark, pages_df, robots_df, policy, ckpt,
        round_seconds=8.0, bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run(start, max_rounds=64)
    # single allowed host => per-round fetch count must be <= 8
    for m in run.metrics:
        assert m["selected"] <= 8, m
    # crawl still completes (tokens refill every round)
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)
    seen = run.seen(spark)
    assert {r["url_canon"] for r in seen.collect()} == set(oracle.depth)


def test_resume_reproduces_visited_set(spark, web, tmp_path):
    policy = POLICIES["full-depth20"]
    pages_df, robots_df = web
    start = [webgen.page_url(0, 0)]
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)

    ckpt = str(tmp_path / "resume")
    engine = CrawlEngine(spark, pages_df, robots_df, policy, ckpt, bloom_shards=4, bloom_bits=1 << 14)
    partial = engine.run(start, max_rounds=2)  # "killed" after 2 rounds
    assert partial.rounds == 2
    resumed = engine.run(start, max_rounds=64, resume=True)

    seen = resumed.seen(spark)
    ordered = [r["url_canon"] for r in seen.orderBy("seq").collect()]
    assert ordered == oracle.order
    docs = resumed.documents(spark)
    assert {r["url"] for r in docs.select("url").collect()} == oracle.fetched


@pytest.mark.parametrize(
    "round_seconds,crashed",
    [(3600.0, 2), (8.0, 5), (3600.0, 0)],
    ids=["fast", "politeness-bound", "round-0"],
)
def test_resume_after_uncommitted_round(spark, web, tmp_path, round_seconds, crashed):
    """A crash after a round wrote its tables but before its manifest
    commit: the seen set through the last committed round reads none of the
    crashed round's directories, and resume redoes the round to the
    reference BFS.  The fast crawl's crashed round left a frontier dir that
    doubles as its seen delta; the politeness-bound one (8 fetches per host
    per round) left a separate seen delta.  With round 0 uncommitted
    nothing is committed, and resume bootstraps again."""
    policy = POLICIES["full-depth20"]
    pages_df, robots_df = web
    start = [webgen.page_url(0, 0)]
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)
    engine = CrawlEngine(
        spark, pages_df, robots_df, policy, str(tmp_path / "crash"),
        round_seconds=round_seconds, bloom_shards=4, bloom_bits=1 << 14,
    )
    engine.run(start, max_rounds=crashed + 1)
    store = engine.store
    assert os.path.isdir(store.seen_delta_dir(crashed)) == (round_seconds == 8.0)
    os.remove(store.manifest_path(crashed))

    files = store.read_seen(spark, crashed - 1).inputFiles()
    assert files
    for d in (store.round_dir(crashed), store.seen_delta_dir(crashed)):
        assert not any(os.path.abspath(d) + "/" in f for f in files), d

    resumed = engine.run(start, max_rounds=64, resume=True)
    assert resumed.metrics[0]["round"] == crashed
    seen = resumed.seen(spark)
    assert {(r["url_canon"], r["depth"]) for r in seen.collect()} == set(oracle.depth.items())
    assert [r["url_canon"] for r in seen.orderBy("seq").collect()] == oracle.order
    assert {r["url"] for r in resumed.documents(spark).select("url").collect()} == oracle.fetched


def test_fresh_run_refuses_a_used_checkpoint_dir(spark, web, tmp_path):
    """A fresh run (``resume=False``) into a directory holding another
    crawl's committed rounds raises naming the directory, and leaves that
    crawl's rounds and documents as they were."""
    pages_df, robots_df = web
    ckpt = str(tmp_path / "used")
    start = [webgen.page_url(0, 0)]
    first = CrawlEngine(
        spark, pages_df, robots_df, POLICIES["full-depth20"], ckpt, bloom_shards=4, bloom_bits=1 << 14
    )
    first.run(start, max_rounds=3)
    n_docs = first.store.read_documents(spark).count()
    second = CrawlEngine(
        spark, pages_df, robots_df, POLICIES["depth2"], ckpt, bloom_shards=4, bloom_bits=1 << 14
    )
    with pytest.raises(ValueError, match=re.escape(ckpt)):
        second.run(start, max_rounds=4)
    assert second.store.committed_rounds() == [0, 1, 2]
    assert second.store.read_documents(spark).count() == n_docs


def _assert_matches_oracle(spark, oracle, run):
    """FIFO order, visited set with depths and fetched set equal the
    reference BFS."""
    seen = run.seen(spark)
    assert [r["url_canon"] for r in seen.orderBy("seq").collect()] == oracle.order
    assert {(r["url_canon"], r["depth"]) for r in seen.collect()} == set(oracle.depth.items())
    assert {r["url"] for r in run.documents(spark).select("url").collect()} == oracle.fetched


@pytest.mark.parametrize("round_seconds", [3600.0, 8.0], ids=["fast", "politeness-bound"])
def test_bloom_params_are_inert(spark, web, tmp_path, round_seconds):
    """``bloom_min_seen=0`` (with the Bloom sizing parameters) leaves the
    crawl the exact anti-join crawl: it matches the reference BFS, and
    only the politeness-bound crawl (8 fetches per host per round) writes
    separate seen deltas."""
    oracle, run, engine = run_both(
        spark, web, POLICIES["full-depth20"], tmp_path / "bloom",
        bloom_min_seen=0, round_seconds=round_seconds,
    )
    deltas = [r for r in range(run.rounds) if os.path.isdir(engine.store.seen_delta_dir(r))]
    assert bool(deltas) == (round_seconds == 8.0)
    _assert_matches_oracle(spark, oracle, run)


def test_bucketed_seq_path_matches_oracle(spark, web, tmp_path, monkeypatch):
    """With the small-batch threshold at 0 every round numbers its admits
    with ``assign_seq_bucketed`` over the partitioned dedup."""
    from searchgov_spider_spark.crawl import engine as engine_mod

    calls = []
    assign_seq_bucketed = engine_mod.assign_seq_bucketed

    def spy(*args, **kwargs):
        calls.append(1)
        return assign_seq_bucketed(*args, **kwargs)

    monkeypatch.setattr(engine_mod, "SMALL_BATCH_THRESHOLD", 0)
    monkeypatch.setattr(engine_mod, "assign_seq_bucketed", spy)
    pages_df, _ = web
    oracle, run, _ = run_both(spark, web, POLICIES["full-depth20"], tmp_path / "bucketed")
    assert len(calls) == run.rounds > 1
    _assert_matches_oracle(spark, oracle, run)
    docs = run.documents(spark).select("url", "content")
    joined = docs.join(pages_df.selectExpr("url", "text as expected_text"), "url", "inner")
    assert joined.count() == docs.count()
    assert joined.filter("content != expected_text").count() == 0


@pytest.mark.parametrize(
    "seeds,host",
    [([], 0), ([webgen.page_url(N_HOSTS - 1, 0)], N_HOSTS - 1)],
    ids=["no-seeds", "robots-denied-seed"],
)
def test_empty_seed_set_runs_one_stopping_round(spark, web, tmp_path, seeds, host):
    """No admissible seed: one ordinary round over the empty frontier
    commits an empty frontier, seen set and documents table, and stops."""
    pages_df, robots_df = web
    policy = CrawlPolicy(allowed_domains=[webgen.host_name(host)], depth_limit=20)
    assert not reference_crawl(_pages_dict(), _robots_dict(), seeds, policy).depth
    engine = CrawlEngine(
        spark, pages_df, robots_df, policy, str(tmp_path / "empty"), bloom_shards=4, bloom_bits=1 << 14
    )
    run = engine.run(seeds, max_rounds=64)
    assert run.rounds == 1
    [m] = run.metrics
    assert (m["stop"], m["remaining"], m["fetched"]) == (True, 0, 0), m
    assert run.seen(spark).count() == 0
    assert run.documents(spark).count() == 0


def test_multi_seed_bootstrap_matches_oracle(spark, web, tmp_path):
    """Seed admission over a whole list: hosts in non-sorted order, an exact
    duplicate, an alias canonicalizing to an earlier seed and a
    robots-denied seed.  The round-0 frontier is numbered densely in
    first-listing order, and the crawl from it equals the reference BFS."""
    pages_df, robots_df = web
    start = [
        webgen.page_url(3, 0),
        webgen.page_url(1, 0),
        webgen.page_url(N_HOSTS - 1, 0),  # robots: Disallow: /
        webgen.page_url(2, 0),
        webgen.page_url(1, 0),  # exact duplicate
        "https://HOST2.example.gov/#top",  # alias of host2's root
        webgen.page_url(0, 0),
    ]
    policy = CrawlPolicy(allowed_domains=[webgen.host_name(h) for h in range(4)], depth_limit=2)
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)
    engine = CrawlEngine(
        spark, pages_df, robots_df, policy, str(tmp_path / "seeds"),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run(start, max_rounds=64)

    expected_seeds = [webgen.page_url(h, 0) for h in (3, 1, 2, 0)]
    assert oracle.order[:4] == expected_seeds
    seeds = spark.read.parquet(engine.store.seed_seen_dir()).orderBy("seq").collect()
    assert [(r["url_canon"], r["seq"], r["depth"]) for r in seeds] == [
        (u, i, 0) for i, u in enumerate(expected_seeds)
    ]

    seen = run.seen(spark)
    assert {(r["url_canon"], r["depth"]) for r in seen.collect()} == set(oracle.depth.items())
    ordered = seen.orderBy("seq").collect()
    assert [r["url_canon"] for r in ordered] == oracle.order
    assert [r["seq"] for r in ordered] == list(range(len(oracle.order)))


def test_generator_fetcher_matches_table_fetcher(spark, web, tmp_path):
    # the live-fetch-shaped GeneratorFetcher must produce the identical crawl
    # (visited set, order, extracted text) as the table-join fetcher
    from searchgov_spider_spark.crawl.fetch import GeneratorFetcher

    policy = POLICIES["full-depth20"]
    pages_df, robots_df = web
    start = [webgen.page_url(0, 0)]
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)
    ckpt = str(tmp_path / "genfetch")
    engine = CrawlEngine(
        spark, None, robots_df, policy, ckpt,
        fetcher=GeneratorFetcher(N_PAGES, N_HOSTS, branch=3),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run(start, max_rounds=64)
    seen = run.seen(spark)
    assert [r["url_canon"] for r in seen.orderBy("seq").collect()] == oracle.order
    docs = run.documents(spark)
    joined = docs.select("url", "content").join(
        pages_df.selectExpr("url", "text as expected_text"), "url"
    )
    assert joined.filter("content != expected_text").count() == 0


def test_http_fetcher_matches_table_fetcher(spark, web, tmp_path):
    """The async HTTP client stage (S4, settings/common.py:22-27) with a
    fake transport must produce the identical crawl as the table join."""
    from searchgov_spider_spark.crawl.fetch import HttpFetcher

    # closure (not module-level) so cloudpickle ships it by VALUE — test
    # modules are not importable on executors
    def _webgen_transport_factory():
        from searchgov_spider_spark.synth import webgen as wg

        sizes = wg.host_sizes(N_PAGES, N_HOSTS)

        async def transport(url, policy):
            hk = wg.url_to_hk(url)
            if hk is None or hk[0] >= N_HOSTS or hk[1] >= sizes[hk[0]]:
                return 404, {}, b""
            h, k = hk
            row = wg.build_page(h, k, sizes[h], N_HOSTS, 3, with_text=False)
            return 200, {"Content-Language": row["lang"]}, row["html"]

        return transport

    policy = POLICIES["full-depth20"]
    pages_df, robots_df = web
    start = [webgen.page_url(0, 0)]
    oracle = reference_crawl(_pages_dict(), _robots_dict(), start, policy)
    engine = CrawlEngine(
        spark, None, robots_df, policy, str(tmp_path / "httpfetch"),
        fetcher=HttpFetcher(transport_factory=_webgen_transport_factory),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run(start, max_rounds=64)
    seen = run.seen(spark)
    assert [r["url_canon"] for r in seen.orderBy("seq").collect()] == oracle.order
    docs = run.documents(spark)
    joined = docs.select("url", "content").join(
        pages_df.selectExpr("url", "text as expected_text"), "url"
    )
    assert joined.filter("content != expected_text").count() == 0


def test_http_fetcher_downloader_semantics(spark, tmp_path):
    """Reference downloader bounds (settings/common.py:22-27): 15 s timeout
    analog, byte cap, non-200 -> miss, and RETRY_ENABLED=False (exactly one
    transport call per URL, misses stay misses)."""
    import os

    from searchgov_spider_spark.crawl.fetch import FetchPolicy, HttpFetcher

    markers = tmp_path / "markers"
    markers.mkdir()
    marker_dir = str(markers)

    def _flaky_transport_factory():
        import asyncio
        import time

        async def transport(url, policy):
            name = url.rsplit("/", 1)[-1]
            open(os.path.join(marker_dir, f"{name}.{time.time_ns()}"), "w").close()
            if name == "timeout":
                await asyncio.sleep(5)
                return 200, {}, b"late"
            if name == "big":
                return 200, {}, b"x" * 200
            if name == "err500":
                return 500, {}, b"oops"
            return 200, {"content-language": "en, fr"}, b"<p>ok</p>"

        return transport

    urls = [f"https://t.gov/{n}" for n in ("ok", "timeout", "big", "err500")]
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string")
    fetcher = HttpFetcher(
        transport_factory=_flaky_transport_factory,
        policy=FetchPolicy(timeout_s=0.5, max_bytes=100),
    )
    got = {r["url_canon"]: (r["html"], r["lang"]) for r in fetcher.fetch(df).collect()}
    assert got["https://t.gov/ok"] == (bytearray(b"<p>ok</p>"), "en")
    for n in ("timeout", "big", "err500"):
        assert got[f"https://t.gov/{n}"] == (None, None), n
    # no retry: exactly one transport call per URL
    calls = sorted(f.split(".")[0] for f in os.listdir(markers))
    assert calls == ["big", "err500", "ok", "timeout"]


def test_http_fetcher_session_survives_arrow_batches(spark, tmp_path):
    """Regression (ADVICE r3 medium): a transport that lazily binds a
    connection pool to the event loop of its FIRST call (the aiohttp
    ClientSession shape) must keep working across Arrow batches of the same
    partition — the old per-batch asyncio.run left the session on a closed
    loop, silently nulling every fetch after batch 1 — and its aclose()
    must run before the loop shuts down."""
    import os

    from searchgov_spider_spark.crawl.fetch import HttpFetcher

    closed_dir = tmp_path / "closed"
    closed_dir.mkdir()
    closed_marker = str(closed_dir)

    def _loop_bound_transport_factory():
        import asyncio

        class T:
            def __init__(self):
                self.loop = None  # "session" bound to the first caller's loop

            async def __call__(self, url, policy):
                running = asyncio.get_running_loop()
                if self.loop is None:
                    self.loop = running
                if self.loop is not running or self.loop.is_closed():
                    raise RuntimeError("Event loop is closed")  # aiohttp's symptom
                return 200, {}, url.encode()

            async def aclose(self):
                # must be awaited on the SAME still-live loop
                assert self.loop is asyncio.get_running_loop() and not self.loop.is_closed()
                open(os.path.join(closed_marker, "closed"), "w").close()

        return T()

    urls = [(f"https://loop.gov/p{i}",) for i in range(10)]
    df = spark.createDataFrame(urls, "url_canon string").coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")  # 4 batches
    try:
        fetcher = HttpFetcher(transport_factory=_loop_bound_transport_factory)
        got = {r["url_canon"]: r["html"] for r in fetcher.fetch(df).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got) == 10
    for u, html in got.items():
        assert html is not None and bytes(html) == u.encode(), u
    assert os.listdir(closed_marker) == ["closed"]


def test_oracle_sanity():
    # structural sanity of the synthetic graph + oracle itself
    policy = POLICIES["full-depth20"]
    res = reference_crawl(_pages_dict(), _robots_dict(), [webgen.page_url(0, 0)], policy)
    assert len(res.order) > 20
    assert res.depth[canonicalize_url(webgen.page_url(0, 0))] == 0
    # robots: /blocked/ pages never visited
    assert not any("/blocked/" in u for u in res.order)
    # qs filter: no query URLs admitted under allow_query_string=False
    assert not any("?" in u for u in res.order)
    # deny-tag strictly smaller
    res_deny = reference_crawl(
        _pages_dict(), _robots_dict(), [webgen.page_url(0, 0)], POLICIES["deny-tag"]
    )
    assert set(res_deny.order) < set(res.order)
    assert not any("/tag/" in u for u in res_deny.order)


def _custom_web_df(spark, pages: dict[str, str]):
    rows = [(u, None, bytearray(h.encode()), "", "en") for u, h in pages.items()]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def test_sibling_rediscovery_not_refetched(spark, tmp_path):
    """Regression (ADVICE r2 high): non-tree web {root->x, root->y, x->y}.

    A URL admitted in round r and re-discovered by a page fetched in round
    r+1 must NOT be re-admitted — the politeness fast path previously read
    the seen set one round stale (frontier-as-delta not yet committed) and
    fetched /y twice with two seqs."""
    pages = {
        "https://diamond.gov/": '<a href="/x">x</a><a href="/y">y</a>',
        "https://diamond.gov/x": '<a href="/y">y</a>',
        "https://diamond.gov/y": "<p>leaf</p>",
    }
    policy = CrawlPolicy(allowed_domains=["diamond.gov"], depth_limit=5)
    oracle = reference_crawl(
        {u: h.encode() for u, h in pages.items()}, {}, ["https://diamond.gov/"], policy
    )
    engine = CrawlEngine(
        spark, _custom_web_df(spark, pages), None, policy, str(tmp_path / "diamond"),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run(["https://diamond.gov/"], max_rounds=16)
    docs = run.documents(spark).select("url").collect()
    fetched = [r["url"] for r in docs]
    assert sorted(fetched) == sorted(set(fetched)), "a URL was fetched more than once"
    assert set(fetched) == oracle.fetched
    seen = run.seen(spark)
    ordered = [r["url_canon"] for r in seen.orderBy("seq").collect()]
    assert ordered == oracle.order
    assert [r["seq"] for r in seen.orderBy("seq").collect()] == list(range(len(ordered)))


def test_seed_with_query_string_is_crawled(spark, tmp_path):
    """Regression (ADVICE r2 medium): seeds bypass the query-string filter
    and jsessionid rewrite (reference start requests are dont_filter=True,
    middlewares.py:114-115) — a seed with a query string must be fetched,
    while discovered query-string links are still dropped."""
    seed = "https://qseed.gov/start?session=1"
    pages = {
        "https://qseed.gov/start?session=1": '<a href="/a">a</a><a href="/b?x=1">b</a>',
        "https://qseed.gov/a": "<p>leaf</p>",
        "https://qseed.gov/b?x=1": "<p>should not be fetched</p>",
    }
    policy = CrawlPolicy(allowed_domains=["qseed.gov"], depth_limit=5)
    oracle = reference_crawl({u: h.encode() for u, h in pages.items()}, {}, [seed], policy)
    assert canonicalize_url(seed) in oracle.fetched  # oracle itself honors dont_filter
    engine = CrawlEngine(
        spark, _custom_web_df(spark, pages), None, policy, str(tmp_path / "qseed"),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run([seed], max_rounds=8)
    fetched = {r["url"] for r in run.documents(spark).select("url").collect()}
    assert fetched == oracle.fetched
    assert canonicalize_url(seed) in fetched
    assert not any(u.endswith("/b?x=1") for u in fetched)


def test_offsite_seed_is_crawled(spark, tmp_path):
    """Regression (ADVICE r3 low): seeds bypass the OFFSITE filter too —
    Scrapy's downloader OffsiteMiddleware exempts dont_filter requests
    (process_request: ``if request.dont_filter or self.should_follow``), so
    a seed outside allowed_domains IS fetched upstream, while its offsite
    outlinks are still dropped."""
    seed = "https://elsewhere.org/landing"
    pages = {
        "https://elsewhere.org/landing": '<a href="https://inside.gov/a">in</a><a href="/other">off</a>',
        "https://elsewhere.org/other": "<p>offsite link - never fetched</p>",
        "https://inside.gov/a": "<p>onsite leaf</p>",
    }
    policy = CrawlPolicy(allowed_domains=["inside.gov"], depth_limit=5)
    oracle = reference_crawl({u: h.encode() for u, h in pages.items()}, {}, [seed], policy)
    assert canonicalize_url(seed) in oracle.fetched
    engine = CrawlEngine(
        spark, _custom_web_df(spark, pages), None, policy, str(tmp_path / "offseed"),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run([seed], max_rounds=8)
    fetched = {r["url"] for r in run.documents(spark).select("url").collect()}
    assert fetched == oracle.fetched
    assert canonicalize_url(seed) in fetched
    assert "https://inside.gov/a" in fetched
    assert not any(u.endswith("/other") for u in fetched)


def test_document_schema_fields(spark, tmp_path):
    """Full reference document schema (indexing/transform.py:20-101): url
    parts, tags, meta-tag dates, metadata struct."""
    html = (
        '<html lang="en"><head><title>Schema Page</title>'
        '<meta name="description" content="A page.">'
        '<meta name="keywords" content="alpha, beta">'
        '<meta name="audience" content="everyone">'
        '<meta name="date" content="2024-03-04">'
        '<meta name="revised" content="March 6, 2024 10:00">'
        '<meta property="og:image" content="https://schema.gov/thumb.png">'
        '</head><body><p>Body text here for the schema test page.</p></body></html>'
    )
    pages = {"https://schema.gov/reports/Annual2024.html": html}
    policy = CrawlPolicy(allowed_domains=["schema.gov"], depth_limit=2)
    engine = CrawlEngine(
        spark, _custom_web_df(spark, pages), None, policy, str(tmp_path / "schema"),
        bloom_shards=4, bloom_bits=1 << 14,
    )
    run = engine.run(["https://schema.gov/reports/Annual2024.html"], max_rounds=4)
    [doc] = run.documents(spark).collect()
    assert doc["path"] == doc["url"] == "https://schema.gov/reports/Annual2024.html"
    assert doc["basename"] == "Annual2024" and doc["extension"] == "html"
    assert doc["url_path"] == "/reports/Annual2024.html"
    assert doc["domain_name"] == "schema.gov"
    assert doc["tags"] == "alpha, beta"
    assert doc["audience"] == "everyone"
    assert doc["thumbnail_url"] == "https://schema.gov/thumb.png"
    assert doc["created_at"] == "2024-03-04T00:00:00"   # meta date (X7)
    assert doc["changed"] == "2024-03-06T10:00:00"      # meta revised
    assert doc["updated"] == "2024-03-04T00:00:00"
    assert doc["mime_type"] == "text/html" and doc["content_type"] == "article"
    assert doc["dap_domain_visits_count"] is None
    meta = doc["metadata"]
    assert meta["crawl_depth"] == 0 and meta["source_url"] == ""
    assert meta["download_bytes"] == len(html.encode())
    assert meta["creator"] is None and meta["download_milliseconds"] is None
