"""Frontier admission pipeline (DataFrame-native).

Implements the reference's request-side middleware chain as declarative
DataFrame transformations over the batch of links discovered in a round
(SURVEY.md §3.1 step 5 / §2.2):

  jsessionid strip (middlewares.py:58-65) -> canonicalize (dupefilter
  fingerprint semantics) -> offsite host/path filter (middlewares.py:205-264)
  -> query-string filter (middlewares.py:45-56) -> depth cap
  (DEPTH_LIMIT) -> robots allow (ROBOTSTXT_OBEY) -> within-batch FIFO-first
  dedup -> exact anti-join against the seen table
  (job_state/dupefilter.py:8-25).

Everything except canonicalization and robots evaluation stays JVM-side
(regex/string filters compiled by Catalyst, ``filter_admission_parts``).
The crawl engine computes those two kernels inside its round's single
Arrow pass (``pass_candidates``); ``apply_admission_filters`` and
``apply_robots_filter`` compute them as Arrow-batched pandas UDFs, the
unfused form that is the pass's oracle.  Policy regexes are precomputed
once from the seed config, exactly as the reference builds its
LinkExtractor deny lists up front (spiders/domain_spider.py:79-92).
Seeds skip these filters (dont_filter=True, middlewares.py:114-115): the
engine admits them on the driver (``CrawlEngine._bootstrap``).  The engine
dedups by the exact anti-join; ``dedup_against_seen`` keeps its Bloom
branch only because the ``seen_dedup`` benchmark calls it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import udfs
from ..kernels.robotstxt import DEFAULT_AGENT
from .bloom import PartitionedBloom, with_bloom_probe
from .reference_bfs import CrawlPolicy


def host_regex(policy: CrawlPolicy) -> str:
    hosts = [e.split("/", 1)[0].lower() for e in policy.allowed_domains]
    alts = "|".join(re.escape(h) for h in sorted(set(hosts)))
    return f"(^|\\.)({alts})$"


def _offsite_condition(policy: CrawlPolicy):
    """host+path allow condition (reference should_follow, middlewares.py:205-264)."""
    cond = F.col("host").rlike(host_regex(policy))
    restricted = [e for e in policy.allowed_domains if "/" in e and e.split("/", 1)[1]]
    if restricted:
        per_host: dict[str, list[str]] = {}
        unrestricted_hosts = set()
        for e in policy.allowed_domains:
            parts = e.split("/", 1)
            h = parts[0].lower()
            if len(parts) == 1 or not parts[1]:
                unrestricted_hosts.add(h)
            else:
                per_host.setdefault(h, []).append("/" + parts[1].rstrip("/"))
        path_cond = F.lit(False)
        for h, prefixes in per_host.items():
            host_match = (F.col("host") == h) | F.col("host").endswith("." + h)
            prefix_match = F.lit(False)
            for p in prefixes:
                prefix_match = prefix_match | F.col("path").startswith(p)
            path_cond = path_cond | (host_match & prefix_match)
        for h in unrestricted_hosts:
            path_cond = path_cond | (F.col("host") == h) | F.col("host").endswith("." + h)
        cond = cond & path_cond
    return cond


def apply_admission_filters(links: DataFrame, policy: CrawlPolicy) -> DataFrame:
    """Filters every discovered link; input needs a raw ``url`` column and a
    ``depth`` column.  Output adds url_canon/host/path/url_hash columns."""
    df = links.withColumn("_ap", udfs.admission_parts(F.col("url"))).select(
        *links.columns,
        F.col("_ap.url_canon").alias("url_canon"),
        F.col("_ap.host").alias("host"),
        F.col("_ap.url_hash").alias("url_hash"),
    )
    return filter_admission_parts(df, policy)


def filter_admission_parts(df: DataFrame, policy: CrawlPolicy) -> DataFrame:
    """The JVM-side admission filters over precomputed kernel parts: input
    needs ``url_canon``/``host`` (the ``admission_parts`` fields) and
    ``depth``; output adds ``path``.  Offsite, query-string, deny-path and
    depth checks."""
    df = df.withColumn("path", F.coalesce(F.expr("parse_url(url_canon, 'PATH')"), F.lit("")))
    df = df.filter(_offsite_condition(policy))
    if not policy.allow_query_string:
        df = df.filter(F.expr("parse_url(url_canon, 'QUERY')").isNull())
    for dp in policy.deny_paths:
        df = df.filter(~F.col("path").contains(dp))
    return df.filter(F.col("depth") <= F.lit(policy.depth_limit))


def apply_robots_filter(df: DataFrame, robots: DataFrame | None, agent: str = DEFAULT_AGENT) -> DataFrame:
    """Drop rows denied by their host's robots.txt for ``agent`` (missing
    host = allow)."""
    if robots is None:
        return df
    joined = df.join(F.broadcast(robots.select("host", "rules_text")), "host", "left")
    allowed = udfs.robots_allowed(F.col("rules_text"), F.col("url_canon"), F.lit(agent))
    return joined.filter(allowed).drop("rules_text")


def pass_candidates(passed: DataFrame, policy: CrawlPolicy) -> DataFrame:
    """Admitted links of a round's fused pass (``udfs.crawl_pass``): one row
    per link of each fetched page, ``pos`` its index in the page's link
    list, kept when the JVM filters and the pass's robots verdict allow it.
    Equals ``apply_robots_filter(apply_admission_filters(links))`` over the
    posexploded raw links."""
    links = passed.select(
        F.col("url_canon").alias("source_url"),
        (F.col("depth") + 1).alias("depth"),
        F.col("seq").alias("parent_seq"),
        F.posexplode("links").alias("pos", "link"),
    )
    parts = links.select("source_url", "depth", "parent_seq", "pos", "link.*")
    return filter_admission_parts(parts, policy).filter(F.col("robots_ok")).drop("robots_ok")


def dedup_first_in_batch(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Keep the FIFO-first occurrence of each url_canon within the batch.

    Aggregation-based (partial-agg friendly; no skewed window): min over a
    struct ordered by the FIFO columns.
    """
    carry = [c for c in df.columns if c != "url_canon"]
    ordered_struct = F.struct(*[F.col(c) for c in order_cols], *[F.col(c) for c in carry if c not in order_cols])
    agg = df.groupBy("url_canon").agg(F.min(ordered_struct).alias("_s"))
    cols = order_cols + [c for c in carry if c not in order_cols]
    return agg.select("url_canon", *[F.col(f"_s.{c}").alias(c) for c in cols])


def dedup_against_seen(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: PartitionedBloom | None,
    seen_bucketed: DataFrame | None = None,
) -> DataFrame:
    """Bloom-prefiltered authoritative dedup (SURVEY.md §2.2 F7 / §2.3 J5).

    'Definitely new' rows (Bloom miss — no false negatives) bypass the
    anti-join entirely; only the maybe-seen slice shuffles against the seen
    table.  Join is on (url_hash, url_canon): the hash drives the hash join,
    the string guards against 64-bit collisions at 10^10 scale.

    ``seen_bucketed`` is the compacted seen set as a BUCKETED table scan
    (CheckpointStore.read_seen_bucketed): its HashPartitioning(url_hash)
    satisfies the anti-join's clustering requirement, so the big side comes
    off disk with NO Exchange (and no sort — buckets are sorted); only the
    candidate slice shuffles to the bucket layout.  ``seen`` then carries
    just the post-compaction deltas.  At 10^10 URLs this turns the engine's
    dominant recurring shuffle into a per-round candidate-sized one.
    """
    if seen is None and seen_bucketed is None:
        return candidates

    def anti(df: DataFrame) -> DataFrame:
        out = df
        # bucketed (big, exchange-free) first; residual deltas (small) second
        if seen_bucketed is not None:
            out = out.join(
                seen_bucketed.select("url_hash", "url_canon"), ["url_hash", "url_canon"], "left_anti"
            )
        if seen is not None:
            out = out.join(seen.select("url_hash", "url_canon"), ["url_hash", "url_canon"], "left_anti")
        return out

    if bloom is not None:
        probed = with_bloom_probe(spark, candidates, bloom, "url_hash")
        definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        return definitely_new.unionByName(anti(maybe))
    return anti(candidates)
