"""Pluggable fetch stage (SURVEY.md §2.1 S4 / §2.3 J4).

The reference downloads over HTTP (Scrapy downloader, 15s/15MB bounds).  In
Spark the fetch stage is a DataFrame -> DataFrame operator appending
``html:binary`` and ``lang:string`` to the politeness-selected batch
(null html == fetch miss / 404):

  * ``TableFetcher`` — resolves URLs against a pages table via a join whose
    big side is partitioned once on the key.  Right shape for re-processing
    a stored corpus (WARC/CommonCrawl re-crawls), but costs a corpus scan
    per round.
  * ``GeneratorFetcher`` / ``HttpFetcher`` — the live-crawl shape: a batch
    client whose cost is proportional to the BATCH, not the corpus.
    ``HttpFetcher`` downloads each partition's URLs on one thread pool of
    ``max_concurrency`` threads (15s timeout counted from each request's
    own start, 15MB cap, no retry per settings/common.py:22-27);
    ``GeneratorFetcher`` "fetches" from the deterministic synthetic web by
    reconstructing pages from the URL (webgen.build_page is a pure function
    of the URL), which models network fetch cost-behavior exactly.

A batch client exposes its per-partition function (``fetch_partition``:
an iterator of Arrow frontier batches in, the same rows plus html/lang
out).  ``fetch(df)`` is ``mapInArrow`` of that function; the crawl
engine's round pass (``CrawlEngine.round_pass``) calls the same function
inside its single Arrow map node, so a round starts one Python task per
partition and the client still sees all of a partition's batches through
one iterator.  ``TableFetcher`` has no such function: the engine joins
first and runs its pass on the joined rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import udfs


# a batch client's per-partition function: frontier batches in, the same
# rows with ``html``/``lang`` appended out
PartitionFetch = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]


def _with_fetched(batch: pa.RecordBatch, html: list, lang: list) -> pa.RecordBatch:
    """``batch`` with its fetch results appended (``fetched_schema``)."""
    batch = batch.append_column("html", pa.array(html, pa.binary()))
    return batch.append_column("lang", pa.array(lang, pa.string()))


def fetched_schema(selected: DataFrame) -> T.StructType:
    return T.StructType(
        list(selected.schema.fields)
        + [T.StructField("html", T.BinaryType()), T.StructField("lang", T.StringType())]
    )


class _BatchClient:
    """A fetcher with a per-partition function; ``fetch`` maps it."""

    def fetch(self, selected: DataFrame) -> DataFrame:
        return selected.mapInArrow(self.fetch_partition(), schema=fetched_schema(selected))


@dataclass(frozen=True)
class FetchPolicy:
    """Downloader bounds mirroring the reference's Scrapy settings
    (settings/common.py:16,22-27): 15 s timeout, 15 MB cap, identified
    user-agent, bounded concurrency, NO retry."""

    timeout_s: float = 15.0  # DOWNLOAD_TIMEOUT
    max_bytes: int = 15_728_640  # DOWNLOAD_MAXSIZE
    user_agent: str = "usasearch"  # USER_AGENT
    max_concurrency: int = 20  # REACTOR_THREADPOOL_MAXSIZE analog: a partition's fetch threads


class _UrllibTransport:
    """stdlib HTTP transport (``urllib.request``), the default.  Stops
    reading once ``timeout_s`` has passed since its own start and enforces
    the byte cap DURING the read (an oversize body comes back as None);
    non-2xx raises HTTPError, which the fetch turns into a miss."""

    def __call__(self, url: str, policy: FetchPolicy):
        import time
        import urllib.request

        deadline = time.monotonic() + policy.timeout_s
        req = urllib.request.Request(url, headers={"User-Agent": policy.user_agent})
        with urllib.request.urlopen(req, timeout=policy.timeout_s) as resp:
            body = bytearray()
            while chunk := resp.read1(1 << 16):
                body.extend(chunk)
                if len(body) > policy.max_bytes:
                    return resp.status, dict(resp.headers), None
                if time.monotonic() > deadline:
                    raise TimeoutError(url)
            return resp.status, dict(resp.headers), bytes(body)


class HttpFetcher(_BatchClient):
    """Batch HTTP client (S4) — the production live-fetch stage.

    Per partition of the politeness-selected batch (``fetch_partition``,
    which ``fetch`` maps with ``mapInArrow`` and the crawl engine runs
    inside its round pass), the client builds ONE transport
    (``transport_factory()``) and one thread pool of
    ``policy.max_concurrency`` threads; every Arrow batch of the partition
    is fetched on that pool in row order, and the pool is joined before the
    partition's iterator ends.  The reference's downloader semantics apply
    (FetchPolicy): a request that completes later than ``timeout_s`` after
    its OWN start (time queued for a thread does not count), a transport
    error, a non-200 and an oversize body each yield ``html = NULL`` with
    NO retry, exactly like a Scrapy downloader miss with
    RETRY_ENABLED=False (settings/common.py:22-27).

    The transport is a thread-safe ``callable(url, policy) -> (status_code,
    headers_dict, body_bytes)``; the factory must be picklable (it ships to
    executors), the transport it builds need not be.
    """

    def __init__(
        self,
        transport_factory: Callable[[], Callable] | None = None,
        policy: FetchPolicy = FetchPolicy(),
    ):
        self.transport_factory = transport_factory or _UrllibTransport
        self.policy = policy

    def fetch_partition(self) -> PartitionFetch:
        factory, policy = self.transport_factory, self.policy

        def _fetch_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            import time
            from concurrent.futures import ThreadPoolExecutor

            transport = factory()  # one client per partition

            def one(url: str) -> tuple[bytes | None, str | None]:
                start = time.monotonic()
                try:
                    status, headers, body = transport(url, policy)
                except Exception:  # timeout / transport error: no retry
                    return None, None
                late = time.monotonic() - start > policy.timeout_s
                if late or status != 200 or body is None or len(body) > policy.max_bytes:
                    return None, None
                lang = None
                for k, v in (headers or {}).items():
                    if str(k).lower() == "content-language":
                        lang = str(v).split(",")[0].strip() or None
                        break
                return bytes(body), lang

            with ThreadPoolExecutor(max_workers=policy.max_concurrency) as pool:
                for batch in batches:
                    results = list(pool.map(one, batch.column("url_canon").to_pylist()))
                    yield _with_fetched(batch, [r[0] for r in results], [r[1] for r in results])

        return _fetch_batch


class TableFetcher:
    """Fetch = left join against a canonical-keyed pages table."""

    def __init__(self, pages: DataFrame, partitions: int):
        self.pages = (
            pages.withColumn("url_canon", udfs.canonicalize_url(F.col("url")))
            .select("url_canon", "html", "lang")
            .repartition(partitions, "url_canon")
            .persist()
        )
        self.pages.count()  # materialize once

    def fetch(self, selected: DataFrame) -> DataFrame:
        return selected.join(self.pages, "url_canon", "left")


class GeneratorFetcher(_BatchClient):
    """Live-fetch shape: per-partition batch client over the synthetic web."""

    def __init__(self, n_pages: int, n_hosts: int, branch: int = 3):
        from ..synth import webgen

        self.sizes = webgen.host_sizes(n_pages, n_hosts)
        self.n_hosts = n_hosts
        self.branch = branch

    def fetch_partition(self) -> PartitionFetch:
        from ..synth import webgen

        sizes, n_hosts, branch = self.sizes, self.n_hosts, self.branch

        def _fetch_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                htmls: list[bytes | None] = []
                langs: list[str | None] = []
                for url in batch.column("url_canon").to_pylist():
                    hk = webgen.url_to_hk(url)
                    if hk is None or hk[0] >= n_hosts or hk[1] >= sizes[hk[0]]:
                        htmls.append(None)
                        langs.append(None)
                        continue
                    h, k = hk
                    row = webgen.build_page(h, k, sizes[h], n_hosts, branch, with_text=False)
                    htmls.append(row["html"])
                    langs.append(row["lang"])
                yield _with_fetched(batch, htmls, langs)

        return _fetch_batch
