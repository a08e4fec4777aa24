"""The crawl round's fused Arrow pass against the unfused UDF chain.

``CrawlEngine.round_pass`` runs fetch, extraction, document metadata, link
admission parts and robots verdicts as one Python map node per partition.
The single-purpose public functions it replaced in the round —
``fetcher.fetch``, ``udfs.extract_doc_links``, ``udfs.doc_meta``,
``apply_admission_filters`` and ``apply_robots_filter`` — are its oracle:
on one batch holding every edge case, the documents and the candidate rows
must be identical, for a join-shaped and a batch-client fetcher.
"""

import dataclasses

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.crawl import CrawlEngine, CrawlPolicy, reference_crawl
from searchgov_spider_spark.crawl.engine import documents_from_pass
from searchgov_spider_spark.crawl.fetch import HttpFetcher
from searchgov_spider_spark.crawl.frontier import (
    apply_admission_filters,
    apply_robots_filter,
    dedup_first_in_batch,
    pass_candidates,
)
from searchgov_spider_spark.crawl.politeness import static_budgets
from searchgov_spider_spark.functions import udfs
from searchgov_spider_spark.kernels.urlnorm import canonicalize_url, url_host, url_seen_hash
from searchgov_spider_spark.synth.spark_gen import PAGES_SCHEMA

LINKS_PAGE = (
    '<html lang="en"><head><title>Links</title>'
    '<meta name="date" content="2024-03-04"><meta name="revised" content="not a date">'
    '</head><body><p>Every kind of link.</p>'
    '<a href="/next">plain</a>'
    '<a href="/sess;jsessionid=0A1B2C">jsessionid</a>'
    '<a href="/search?q=x">query string</a>'
    '<a href="https://elsewhere.org/page">offsite</a>'
    '<a href="/private/secret">robots-denied</a>'
    '<a href="/tag/news">deny path</a>'
    '<a href="">empty href</a><a>no href</a><a href="  ">blank href</a>'
    '<a href="mailto:x@a.gov">mail</a>'
    '<a href="https://b.gov/private/p">host with null robots</a>'
    '<a href="https://c.gov/private/q">host with empty robots</a>'
    '<a href="/h1">also linked from the hostile page</a>'
    '<a href="https://A.GOV:443/Case#frag">alias</a>'
    '<a href="https://sub.a.gov/x">subdomain</a>'
    "</body></html>"
)
HOSTILE_PAGE = (
    b"<html><head><title>Hostile <b>title</title>"
    b"<script>var s = \"<a href='/in-script'>\";</script><style>a{}</style></head>"
    b"<body><p>unclosed <div><a href=\"/h1\">one<a href='/h2'>two"
    b'<!-- <a href="/commented">c</a> --><![CDATA[ <a href="/cdata"> ]]>'
    b'<a href="/h3" href="/dup-attr">3</a><a HREF=/h4>4</a><a href="/h5\x00">5</a>'
    b"&amp;&#0;&#xD800;&bogus; \xff\xfe <a href=\"javascript:alert(1)\">js</a>"
    b'<a href="/%zz">bad escape</a><a href="//c.gov/proto-rel">protocol-relative</a>'
)
PAGES = {
    "https://a.gov/": LINKS_PAGE.encode(),
    "https://a.gov/empty": b"<html><head><title>No links</title></head><body><p>Leaf.</p></body></html>",
    "https://a.gov/hostile": HOSTILE_PAGE,
    "https://b.gov/": b'<p>b root</p><a href="/private/b2">b2</a>',
    "https://c.gov/docs/Report.PDF.html": b'<title>c</title><a href="/private/c2?x=1">c2</a>',
}
MISSES = ["https://a.gov/missing", "https://b.gov/gone"]
ROBOTS = [("a.gov", "User-agent: *\nDisallow: /private/\n"), ("b.gov", None), ("c.gov", "")]
POLICY = CrawlPolicy(allowed_domains=["a.gov", "b.gov", "c.gov"], depth_limit=3, deny_paths=["/tag/"])
CANDIDATE_COLS = ["url_canon", "host", "url_hash", "parent_seq", "pos", "depth"]


def _robots_df(spark, rows=ROBOTS):
    return spark.createDataFrame(rows, "host string, rules_text string")


def _batch(spark):
    rows = [
        (canonicalize_url(u), url_seen_hash(canonicalize_url(u)), url_host(u), 1, 10 + i, "https://a.gov/seed")
        for i, u in enumerate([*PAGES, *MISSES])
    ]
    df = spark.createDataFrame(rows, "url_canon string, url_hash long, host string, depth int, seq long, source_url string")
    return df.repartition(3, "url_hash")


def _http_factory(pages):
    # closure so cloudpickle ships the page dict by value to the workers
    def factory():
        def transport(url, policy):
            body = pages.get(url)
            return (404, {}, b"") if body is None else (200, {"Content-Language": "en"}, body)

        return transport

    return factory


def _engine(spark, tmp_path, kind, robots=None, policy=POLICY):
    robots = _robots_df(spark) if robots is None else robots
    if kind == "table":
        pages = spark.createDataFrame(
            [(u, None, bytearray(b), "", "en") for u, b in PAGES.items()], schema=PAGES_SCHEMA
        )
        return CrawlEngine(spark, pages, robots, policy, str(tmp_path / "ckpt"))
    fetcher = HttpFetcher(transport_factory=_http_factory(dict(PAGES)))
    return CrawlEngine(spark, None, robots, policy, str(tmp_path / "ckpt"), fetcher=fetcher)


def _unfused(engine, batch):
    """The round's former node chain, from the public single-purpose functions."""
    found = engine.fetcher.fetch(batch).filter(F.col("html").isNotNull())
    extracted = found.withColumn(
        "doc", udfs.extract_doc_links(F.col("html"), F.col("url_canon"), F.col("lang"))
    ).withColumn("_m", udfs.doc_meta(F.col("url_canon"), F.col("doc.created_raw"), F.col("doc.changed_raw")))
    passed_shape = extracted.select(
        "url_canon", "url_hash", "host", "depth", "seq", "source_url",
        F.length(F.col("html")).alias("download_bytes"),
        F.struct(
            *[F.col(f"doc.{f.name}").alias(f.name) for f in udfs.DOC_STRUCT.fields],
            *[F.col(f"_m.{f.name}").alias(f.name) for f in udfs.DOC_META_STRUCT.fields],
        ).alias("doc"),
    )
    discovered = extracted.select(
        F.col("url_canon").alias("source_url"),
        (F.col("depth") + 1).alias("depth"),
        F.col("seq").alias("parent_seq"),
        F.posexplode_outer(F.col("doc.links")).alias("pos", "url"),
    ).filter(F.col("url").isNotNull())
    candidates = apply_robots_filter(
        apply_admission_filters(discovered, engine.policy), engine.robots, engine.policy.agent
    )
    return documents_from_pass(passed_shape), candidates


def _rows(df, cols=None):
    return sorted(tuple(r) for r in (df.select(*cols) if cols else df).collect())


@pytest.mark.parametrize("kind", ["table", "http"])
def test_fused_pass_matches_unfused_chain(spark, tmp_path, kind):
    engine = _engine(spark, tmp_path, kind)
    batch = _batch(spark)
    passed = engine.round_pass(batch).persist()
    docs_ref, cands_ref = _unfused(engine, batch)

    docs = _rows(documents_from_pass(passed))
    assert docs == _rows(docs_ref)
    assert len(docs) == len(PAGES)  # fetch misses are dropped

    cands = pass_candidates(passed, engine.policy)
    got, want = _rows(cands, CANDIDATE_COLS), _rows(cands_ref, CANDIDATE_COLS)
    assert got == want
    order = ["parent_seq", "pos"]
    assert _rows(dedup_first_in_batch(cands, order), CANDIDATE_COLS) == _rows(
        dedup_first_in_batch(cands_ref, order), CANDIDATE_COLS
    )

    # the batch exercises every admission branch
    urls = [r[0] for r in want]
    assert "https://a.gov/sess" in urls  # jsessionid stripped
    assert "https://a.gov/Case" in urls  # alias canonicalized
    assert "https://b.gov/private/p" in urls and "https://c.gov/private/q" in urls  # null / empty robots allow
    assert not any("?" in u or "/private/secret" in u or "/tag/" in u or "elsewhere" in u for u in urls)
    assert urls.count("https://a.gov/h1") == 2  # duplicates survive until dedup_first_in_batch
    empty_seq = next(r["seq"] for r in batch.collect() if r["url_canon"] == "https://a.gov/empty")
    assert not any(r[3] == empty_seq for r in want)  # a page without links adds no candidate
    passed.unpersist()


def test_unfused_chain_judges_robots_for_the_crawl_agent(spark, tmp_path):
    """Under a crawl agent other than the default, the unfused chain's
    robots filter reads the rule group for that agent, as the pass does:
    c.gov's ``otherbot`` group denies every link to c.gov in both."""
    policy = dataclasses.replace(POLICY, agent="otherbot")
    robots = _robots_df(spark, [*ROBOTS[:2], ("c.gov", "User-agent: otherbot\nDisallow: /\n")])
    engine = _engine(spark, tmp_path, "table", robots=robots, policy=policy)
    batch = _batch(spark)
    passed = engine.round_pass(batch).persist()
    _, cands_ref = _unfused(engine, batch)
    got = _rows(pass_candidates(passed, engine.policy), CANDIDATE_COLS)
    assert got == _rows(cands_ref, CANDIDATE_COLS)
    urls = [r[0] for r in got]
    assert "https://a.gov/next" in urls and "https://b.gov/private/p" in urls
    assert not any(url_host(u) == "c.gov" for u in urls)
    passed.unpersist()


def test_round_pass_keeps_one_transport_across_arrow_batches(spark, tmp_path):
    """The pass drives a batch-client fetcher's per-partition iterator once,
    so the partition builds one HTTP transport and that transport serves
    all of the partition's Arrow batches."""
    import os

    made = tmp_path / "made"
    made.mkdir()
    made_dir = str(made)

    def _tagged_factory():
        import uuid

        tag = uuid.uuid4().hex
        open(os.path.join(made_dir, tag), "w").close()

        def transport(url, policy):
            return 200, {}, f'<p>{tag}</p><a href="/next">n</a>'.encode()

        return transport

    engine = CrawlEngine(
        spark, None, None, POLICY, str(tmp_path / "ckpt"),
        fetcher=HttpFetcher(transport_factory=_tagged_factory),
    )
    urls = [f"https://a.gov/p{i}" for i in range(10)]
    batch = spark.createDataFrame(
        [(u, url_seen_hash(u), "a.gov", 1, i, "") for i, u in enumerate(urls)],
        "url_canon string, url_hash long, host string, depth int, seq long, source_url string",
    ).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")  # 4 batches
    try:
        got = engine.round_pass(batch).select("url_canon", "doc.content", "links").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted(r["url_canon"] for r in got) == sorted(urls)
    assert all([link["url_canon"] for link in r["links"]] == ["https://a.gov/next"] for r in got)
    tags = os.listdir(made)
    assert len(tags) == 1 and all(tags[0] in r["content"] for r in got)


def test_duplicate_robots_hosts_rejected(spark, tmp_path):
    """One robots.txt per host: a robots table with two rows for a host is
    refused at engine init, naming the host (a host -> rules map would
    otherwise keep one of them silently)."""
    robots = _robots_df(spark, [*ROBOTS, ("a.gov", "User-agent: *\nDisallow:\n")])
    with pytest.raises(ValueError, match=r"\['a\.gov'\]"):
        _engine(spark, tmp_path, "http", robots=robots)


def test_null_and_empty_robots_rules_allow_everything(spark, tmp_path):
    """A host whose robots row has a null or empty rules_text is crawled as
    if it had no robots.txt at all."""
    pages = {
        "https://b.gov/": b'<a href="/private/b1">1</a><a href="https://c.gov/private/c1">2</a>',
        "https://b.gov/private/b1": b"<p>b leaf</p>",
        "https://c.gov/private/c1": b"<p>c leaf</p>",
    }
    robots = _robots_df(spark, [("b.gov", None), ("c.gov", "")])
    engine = CrawlEngine(
        spark, None, robots, POLICY, str(tmp_path / "ckpt"),
        fetcher=HttpFetcher(transport_factory=_http_factory(pages)),
    )
    run = engine.run(["https://b.gov/"], max_rounds=8)
    oracle = reference_crawl(pages, {}, ["https://b.gov/"], POLICY)
    assert oracle.fetched == set(pages)
    assert {r["url"] for r in run.documents(spark).select("url").collect()} == oracle.fetched
    assert [r["url_canon"] for r in run.seen(spark).orderBy("seq").collect()] == oracle.order


def test_robots_rules_for_the_crawl_agent(spark, tmp_path):
    """The engine judges robots.txt by the rule group for the crawl's own
    user agent (``CrawlPolicy.agent``), as ``reference_crawl`` does: a
    group for another agent binds nothing, and the crawl agent's group
    binds even when the default agent's would not."""
    pages = {
        "https://b.gov/": b'<a href="/b1">1</a><a href="https://c.gov/c1">2</a>',
        "https://b.gov/b1": b'<p>b leaf</p><a href="https://c.gov/c2">3</a>',
        "https://c.gov/c1": b"<p>c leaf</p>",
        "https://c.gov/c2": b"<p>c leaf 2</p>",
    }
    robots = [
        ("b.gov", "User-agent: usasearch\nDisallow: /b1\n"),
        ("c.gov", "User-agent: otherbot\nDisallow: /\n"),
    ]
    policy = CrawlPolicy(allowed_domains=["b.gov", "c.gov"], depth_limit=3, agent="otherbot")
    engine = CrawlEngine(
        spark, None, _robots_df(spark, robots), policy, str(tmp_path / "ckpt"),
        fetcher=HttpFetcher(transport_factory=_http_factory(pages)),
    )
    run = engine.run(["https://b.gov/"], max_rounds=8)
    oracle = reference_crawl(pages, dict(robots), ["https://b.gov/"], policy)
    assert oracle.order == ["https://b.gov/", "https://b.gov/b1"]
    seen = run.seen(spark).orderBy("seq").collect()
    assert [r["url_canon"] for r in seen] == oracle.order
    assert {r["url_canon"]: r["depth"] for r in seen} == oracle.depth
    assert {r["url"] for r in run.documents(spark).select("url").collect()} == oracle.fetched


def test_crawl_delay_budgets_for_the_crawl_agent(spark, tmp_path):
    """Per-host budgets read the Crawl-delay of the crawl agent's group;
    ``static_budgets`` without an agent keeps the default agent's."""
    robots = _robots_df(spark, [("a.gov", "User-agent: otherbot\nCrawl-delay: 4\n\nUser-agent: *\nDisallow:\n")])
    policy = CrawlPolicy(allowed_domains=["a.gov"], agent="otherbot")
    engine = CrawlEngine(spark, None, robots, policy, str(tmp_path / "ckpt"), fetcher=HttpFetcher(), round_seconds=8)
    assert {r["host"]: r["budget"] for r in engine.budgets.collect()} == {"a.gov": 2}
    assert engine.min_budget == 2
    assert {r["host"]: r["budget"] for r in static_budgets(robots, 8).collect()} == {"a.gov": 8}
