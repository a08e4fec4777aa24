"""URL template mining + crawl-trap detection over a frontier/URL corpus.

The reference's offsite/query-string middlewares
(``search_gov_spiders/middlewares.py``) filter individual URLs; at
web scale the complementary problem is *structural*: a host whose URL
space is generated (calendars, session ids, faceted search) produces
unbounded frontiers that per-URL filters never stop.  Template mining
collapses each URL to its generator pattern — digit runs become ``{n}``
— and aggregates per (host, template), so a crawler can cap or deny
templates whose instance count explodes.

Scale shape: the templating is a per-row JVM ``regexp_replace`` (one
whole-stage-codegen pass, no UDF); the rollup is ONE partial-agg'd
groupBy on (host, template) — template cardinality is tiny relative to
URL count by construction, so the shuffle carries only the combined
per-template partials.  The per-host total rides the same aggregate via
a second tiny groupBy + broadcast-size join on host.  Holds at 10^10
URLs / 10^6 hosts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# digit runs are the generator variables (ids, dates, pages, sessions)
TEMPLATE_PATTERN = "[0-9]+"
TEMPLATE_TOKEN = "{n}"


def url_templates(
    urls: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    trap_threshold: int = 30,
) -> DataFrame:
    """Per (host, template): instance count, share of the host's URLs,
    lexicographically-first sample URL, and a trap flag when the instance
    count reaches ``trap_threshold``."""
    templated = urls.select(
        F.col(host_col).alias("host"),
        F.regexp_replace(F.col(path_col), TEMPLATE_PATTERN, TEMPLATE_TOKEN).alias("template"),
        F.concat(F.col(host_col), F.col(path_col)).alias("_url"),
    )
    per_template = templated.groupBy("host", "template").agg(
        F.count("*").alias("n_urls"),
        F.min("_url").alias("sample_url"),
    )
    per_host = per_template.groupBy("host").agg(F.sum("n_urls").alias("_host_total"))
    return (
        per_template.join(F.broadcast(per_host), "host")
        .select(
            "host",
            "template",
            "n_urls",
            F.round(F.col("n_urls") / F.col("_host_total"), 6).alias("host_share"),
            "sample_url",
            (F.col("n_urls") >= trap_threshold).alias("trap"),
        )
    )


def allocate_budget(
    hosts: DataFrame,
    host_col: str = "host",
    score_col: str = "score",
    budget: int = 1000,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global crawl budget
    across hosts proportional to score — the downloader-fairness planning
    step ahead of the per-host politeness caps (crawl/politeness.py
    enforces the per-host serial+delay at fetch time; this decides how many
    fetch slots each host gets per cycle).  Exact: allocations are integers
    and sum to ``budget``.

    quota = budget * score / total; every host gets floor(quota); the
    leftover slots go to the largest fractional remainders (ties broken by
    host name).  The window runs over the HOST table — bounded by host
    count, orders of magnitude smaller than the URL corpus — so the
    single-partition rank is the correct tool, not a scale concern.
    """
    from pyspark.sql import Window

    total = hosts.agg(F.sum(score_col).alias("_total"))
    quotas = hosts.join(F.broadcast(total)).select(
        F.col(host_col).alias("host"),
        F.col(score_col).alias("score"),
        (F.lit(budget) * F.col(score_col) / F.col("_total")).alias("_q"),
    )
    with_base = quotas.select(
        "host",
        "score",
        F.round("_q", 6).alias("quota"),
        F.floor("_q").alias("_base"),
        F.round(F.col("_q") - F.floor("_q"), 6).alias("_frac"),
    )
    w_rank = Window.orderBy(F.desc("_frac"), F.asc("host"))
    w_all = Window.partitionBy()
    return with_base.select(
        "host",
        "score",
        "quota",
        (
            F.col("_base")
            + F.when(
                F.row_number().over(w_rank) <= F.lit(budget) - F.sum("_base").over(w_all), 1
            ).otherwise(0)
        ).alias("alloc"),
    )


def surt_col(url_col: str):
    """SURT key (Sort-friendly URI Reordering Transform) — the canonical
    key of Common Crawl / Wayback CDX indexes: host labels lowercased and
    reversed comma-joined, then ``)`` + path, so one host's (and one
    registered domain's) URLs are CONTIGUOUS under a plain byte sort:
    ``https://news.example.com/a?b=1`` -> ``com,example,news)/a?b=1``.
    Pure codegen'd JVM string ops (split/reverse/join), no UDF."""
    host = f"lower(regexp_extract({url_col}, '^[a-z]+://([^/]+)', 1))"
    rest = f"regexp_replace({url_col}, '^[a-z]+://[^/]*', '')"
    return F.expr(
        f"concat(array_join(reverse(split({host}, '\\\\.')), ','), ')', "
        f"CASE WHEN {rest} = '' THEN '/' ELSE {rest} END)"
    )


def cdx_index(pages: DataFrame, url_col: str = "url", ts_col: str = "warc_date", extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """CDX-style capture index over a parsed page table: one row per
    capture keyed by (surt, ts) — the lookup artifact a 100-TB archive
    ships next to its WARC segments so consumers can random-access a URL
    without scanning.  Output is range-partition-sorted by the SURT key
    (`sortWithinPartitions` after a range `repartitionByRange`), the
    distributed analogue of the CDX file's global sort: k-way
    concatenation of the output files IS the sorted index.

    Scale: one range shuffle (Spark samples split points) + per-partition
    sort; no aggregation, no skew risk beyond a hot HOST, which the
    (surt, ts) composite key still spreads across captures.
    """
    out = pages.select(
        surt_col(url_col).alias("surt"),
        F.col(ts_col).alias("ts"),
        F.col(url_col).alias("url"),
        *[F.col(c) for c in extra_cols],
    )
    return out.repartitionByRange(F.col("surt"), F.col("ts")).sortWithinPartitions(
        "surt", "ts"
    )


def shard_plan(
    pages: DataFrame,
    n_shards: int = 16,
    url_col: str = "url",
    num_partitions: int | None = None,
) -> DataFrame:
    """Balanced SURT-range shard boundaries — the planning artifact computed
    BEFORE bucketing/range-writing a 10^10-row CDX or seen-set: ``n_shards``
    contiguous SURT-host ranges of (approximately) equal URL mass, so a
    range-partitioned write spreads bytes evenly even when host sizes are
    Zipfian.  One row per non-empty shard: (shard_id, lo_host, hi_host,
    n_hosts, n_urls).  A mega-host wider than one quantile width keeps its
    whole mass in one shard (hosts are never split — host contiguity is the
    point of SURT), which surfaces as n_urls >> total/n_shards and SKIPPED
    shard ids after it: the plan makes residual skew visible instead of
    hiding it.

    Scale shape: URLs collapse to a host-weight table first (hosts << URLs;
    one uniform-key groupBy with map-side partial agg), and the exclusive
    prefix sum over SURT-ordered hosts runs as a two-pass range-partitioned
    scheme — range repartition + per-partition sums (a P-row offset
    table, never host rows) + partition-local running-sum window — NOT a
    single-partition global window.  Shard assignment is pure BIGINT arithmetic
    (``cum_before * n_shards div total``), so the plan is bit-identical at
    any parallelism.  The tiny result is localCheckpointed so the range
    boundaries can be released immediately.
    """
    from pyspark.sql import Window

    spark = pages.sparkSession
    host = f"lower(regexp_extract({url_col}, '^[a-z]+://([^/]+)', 1))"
    hosts = (
        pages.groupBy(
            F.expr(f"array_join(reverse(split({host}, '\\\\.')), ',')").alias("surt_host")
        )
        .agg(F.count("*").alias("n_urls"))
    )
    if num_partitions is None:
        num_partitions = max(1, spark.sparkContext.defaultParallelism)
    ranged = (
        hosts.repartitionByRange(num_partitions, "surt_host")
        .sortWithinPartitions("surt_host")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    psums = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum("n_urls").alias("s")).collect()
    }
    total = int(sum(psums.values()))
    if total == 0:
        ranged.unpersist()
        return spark.createDataFrame(
            [], "shard_id int, lo_host string, hi_host string, n_hosts bigint, n_urls bigint"
        )
    offsets, running = [], 0
    for pid in sorted(psums):
        offsets.append((int(pid), running))
        running += int(psums[pid])
    offsets_df = F.broadcast(
        spark.createDataFrame(offsets, "_pid int, _offset long")
    )
    w = Window.partitionBy("_pid").orderBy("surt_host")
    out = (
        ranged.join(offsets_df, "_pid")
        .withColumn(
            "_cum",
            (F.sum("n_urls").over(w) - F.col("n_urls") + F.col("_offset")).cast("long"),
        )
        .withColumn(
            "shard_id",
            F.expr(f"CAST(_cum * {int(n_shards)} div {int(total)} AS INT)"),
        )
        .groupBy("shard_id")
        .agg(
            F.min("surt_host").alias("lo_host"),
            F.max("surt_host").alias("hi_host"),
            F.count("*").alias("n_hosts"),
            F.sum("n_urls").alias("n_urls"),
        )
        .localCheckpoint()
    )
    ranged.unpersist()
    return out


# ---------------------------------------------------------------------------
# Registrable-domain (eTLD+1) grouping
# ---------------------------------------------------------------------------

# Embedded two-level public-suffix subset (the full Mozilla PSL is a data
# file a deployment ships alongside the job and broadcasts; this literal
# subset keeps the operator dependency-free and DETERMINISTIC — the grouping
# rule, not the list contents, is what the operator owns).  Suffixes whose
# registrable domain is LABEL.suffix2 rather than LABEL.tld:
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk",
    "com.au", "net.au", "org.au", "gov.au", "edu.au",
    "co.jp", "ne.jp", "or.jp", "go.jp", "ac.jp",
    "com.br", "gov.br", "org.br", "co.in", "gov.in",
    "co.nz", "govt.nz", "com.mx", "gob.mx", "co.za",
)


def registrable_domain_expr(host_col: str = "host") -> str:
    """SQL expression for the registrable domain (eTLD+1) of a lowercase
    hostname — the grouping key behind per-site politeness, leakage-safe
    corpus splits, and host-level dedup (grouping by bare host splits
    ``www.x.gov`` from ``x.gov``; grouping by eTLD+1 does not).

    Longest-match against the embedded two-level suffix set, else the
    final two labels; single-label hosts (``localhost``, intranet names)
    are their own registrable domain.  Pure codegen string/array algebra —
    ``try_element_at`` (negative = from the end) never throws on short
    hosts — so the classifier runs map-side at scan speed."""
    two_level = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)
    labels = f"split({host_col}, '\\\\.')"
    l1 = f"try_element_at({labels}, -1)"
    l2 = f"try_element_at({labels}, -2)"
    l3 = f"try_element_at({labels}, -3)"
    suffix2 = f"concat({l2}, '.', {l1})"
    return (
        f"CASE WHEN {l2} IS NULL THEN {host_col} "
        f"WHEN {suffix2} IN ({two_level}) THEN "
        f"(CASE WHEN {l3} IS NULL THEN {host_col} "
        f"ELSE concat({l3}, '.', {suffix2}) END) "
        f"ELSE {suffix2} END"
    )


def registrable_domains(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-eTLD+1 rollup of a URL corpus: (domain, n_urls, n_hosts,
    max_sub_depth) where max_sub_depth is the deepest subdomain nesting
    observed under the domain (0 = the registrable domain itself served
    pages).

    Scale shape: host extraction + eTLD+1 classification are one codegen
    map pass; the rollup is a single partial-agg'd groupBy on the domain
    (count + count-distinct host via the standard two-level expand; host
    cardinality per domain is tiny, so the shuffle carries per-domain
    partials, never URLs).  Holds at 10^10 URLs."""
    hosts = pages.select(
        F.lower(F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/:?#]+)", 1)).alias("host")
    ).withColumn("domain", F.expr(registrable_domain_expr("host")))
    per_host = hosts.groupBy("domain", "host").agg(F.count("*").alias("n_urls"))
    return (
        per_host.withColumn(
            "sub_depth",
            F.expr("size(split(host, '\\\\.')) - size(split(domain, '\\\\.'))"),
        )
        .groupBy("domain")
        .agg(
            F.sum("n_urls").alias("n_urls"),
            F.count("*").alias("n_hosts"),
            F.max("sub_depth").alias("max_sub_depth"),
        )
    )


# ---------------------------------------------------------------------------
# rel=canonical duplicate clustering
# ---------------------------------------------------------------------------

# attribute order varies in the wild; match either and coalesce
CANONICAL_RE_REL_FIRST = '<link rel="canonical" href="([^"]*)"'
CANONICAL_RE_HREF_FIRST = '<link href="([^"]*)" rel="canonical"'


def canonical_clusters(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Cluster crawled pages by their ``<link rel="canonical">`` target —
    the publisher-declared duplicate grouping (print views, tracking-param
    variants, mobile mirrors all point at one canonical URL), the cheapest
    dedup signal a crawl has because it needs NO content comparison.

    Per cluster: (canonical_url, n_pages, rep_url = lexicographically
    first member, has_canonical_page = the canonical target itself was
    crawled).  Pages without the tag are self-canonical singletons unless
    other pages point at them.  Relative hrefs resolve against the page's
    scheme+host; the extraction is JVM ``regexp_extract`` over both
    attribute orders — zero UDFs, so the map side runs at scan speed and
    the only shuffle is the partial-agg'd groupBy on canonical_url."""
    href = (
        f"coalesce(nullif(regexp_extract({html_col}, '{CANONICAL_RE_REL_FIRST}', 1), ''), "
        f"nullif(regexp_extract({html_col}, '{CANONICAL_RE_HREF_FIRST}', 1), ''))"
    )
    resolved = (
        f"CASE WHEN _href IS NULL THEN {url_col} "
        f"WHEN _href LIKE 'http%' THEN _href "
        f"ELSE concat(regexp_extract({url_col}, '^([a-z]+://[^/]+)', 1), _href) END"
    )
    return (
        pages.withColumn("_href", F.expr(href))
        .withColumn("canonical_url", F.expr(resolved))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_pages"),
            F.min(url_col).alias("rep_url"),
            F.max((F.col(url_col) == F.col("canonical_url")).cast("int"))
            .cast("boolean")
            .alias("has_canonical_page"),
        )
    )
