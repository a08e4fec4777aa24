"""Arrow-batched pandas UDFs and the crawl round's Arrow pass, wrapping the pure-Python kernels.

This is the only place kernel code crosses into Spark: every UDF is a
vectorized (Arrow batch) wrapper — no per-row Python UDFs anywhere in the
engine (BASELINE.json input_hint requirement).  Because the UDF bodies call
the exact kernel functions, distributed output is byte-identical to the
single-node reference implementations per row.

The crawl engine's round runs one Arrow map pass per partition instead of a
chain of UDF nodes (``crawl_pass``): every Python node in a plan starts its
own Python runner per task, and each runner start costs a fixed ~250 ms of
worker CPU (``worker_util.setup_spark_files`` -> ``importlib.invalidate_caches``
re-reads pyspark.zip through every zipimporter), far more than the kernels'
per-page cost at round sizes.  The single-purpose UDFs below
(``extract_doc_links``, ``doc_meta``, ``admission_parts``, ``robots_allowed``)
call the same row kernels as the pass and are its differential oracle.  The
engine admits its seed list on the driver with the pass's per-link row
kernel (``_link_row``), so the bootstrap has no Python node.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernels import htmlx, robotstxt, textproc, urlnorm

# --- URL functions -----------------------------------------------------------


@pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlnorm.canonicalize_url(u) if u else u)


@pandas_udf(T.StringType())
def strip_jsessionid(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlnorm.strip_jsessionid(u) if u else u)


@pandas_udf(T.StringType())
def url_host(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlnorm.url_host(u) if u else "")


@pandas_udf(T.StringType())
def url_extension(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlnorm.url_extension(u) if u else "")


@pandas_udf(T.LongType())
def url_seen_hash(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlnorm.url_seen_hash(u) if u else 0).astype("int64")


@pandas_udf(T.StringType())
def domain_name(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlnorm.domain_name(u) if u else "")


@pandas_udf(T.StringType())
def url_join(base: pd.Series, rel: pd.Series) -> pd.Series:
    """RFC-3986 resolution of a (possibly relative) href against a base URL,
    absolute hrefs passed through (sitemap_finder.py:77-80 _join_base)."""
    from ..kernels import sitemapxml

    return pd.Series([sitemapxml.join_base(b or "", r or "") for b, r in zip(base, rel)])


ADMISSION_STRUCT = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("url_hash", T.LongType()),
    ]
)


def _admission_row(u: str | None, strip: bool) -> tuple[str, str, int]:
    # only a null URL short-cuts: "" canonicalizes to "http:///", as the
    # reference's admission does
    if u is None:
        return "", "", 0
    canon = urlnorm.canonicalize_url(urlnorm.strip_jsessionid(u) if strip else u)
    return canon, urlnorm.url_host(canon), urlnorm.url_seen_hash(canon)


@pandas_udf(ADMISSION_STRUCT)
def admission_parts(urls: pd.Series) -> pd.DataFrame:
    """Fused admission kernel chain (jsessionid strip -> canonicalize ->
    host -> seen-hash) in ONE Arrow round trip — the dependent chain would
    otherwise compile to 3-4 serial ArrowEvalPython nodes per round."""
    return pd.DataFrame(
        [_admission_row(u, strip=True) for u in urls], columns=["url_canon", "host", "url_hash"]
    )


# The kernels are pure functions, but Catalyst re-substitutes deterministic
# UDFs into filters pushed below their projection — evaluating the whole
# admission kernel TWICE per link (plan-test-pinned).  Marking it
# nondeterministic forbids that duplication; task-retry re-execution still
# yields identical values.
admission_parts = admission_parts.asNondeterministic()


DOC_META_STRUCT = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("basename", T.StringType()),
        T.StructField("extension", T.StringType()),
        T.StructField("url_path", T.StringType()),
        T.StructField("domain_name", T.StringType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("changed", T.StringType()),
    ]
)

# (netloc, path) of an absolute http(s) URL in one match — group 1/2 equal
# urlsplit(url).netloc / .path exactly for this shape (see urlnorm notes)
_HTTP_NETLOC_PATH_RE = __import__("re").compile(r"^https?://([^/?#]*)([^?#]*)")


@pandas_udf(DOC_META_STRUCT)
def doc_meta(urls: pd.Series, created_raw: pd.Series, changed_raw: pd.Series) -> pd.DataFrame:
    """Per-document metadata in ONE Arrow round trip: the doc id, the
    document-schema URL fields (indexing/helpers.py get_base_extension /
    get_url_path / get_domain_name; extension '' -> None happens at the
    caller per transform.py:96) and both dates parsed by
    ``dates.parse_dates_safely``.  The round pass calls the same row
    function per page."""
    return pd.DataFrame(
        [_doc_meta_row(u, cr, ch) for u, cr, ch in zip(urls, created_raw, changed_raw)],
        columns=DOC_META_STRUCT.fieldNames(),
    )


def _doc_meta_row(u: str | None, cr: str | None, ch: str | None) -> tuple:
    from ..kernels import dates

    if not u:
        return "", "", "", "", "", None, None
    m = _HTTP_NETLOC_PATH_RE.match(u)
    if m is not None:
        netloc, path = m.group(1), m.group(2)
        name = path[path.rfind("/") + 1 :]
        if name.endswith("."):
            name = name[:-1]
        if "." in name:
            stem, _, suffix = name.rpartition(".")
        else:
            stem, suffix = name, ""
    else:  # non-http shapes: the kernels' ensure_http_prefix + urlsplit
        stem, suffix, _name = urlnorm.url_base_extension(u)
        path = urlnorm.url_path(u)
        netloc = urlnorm.domain_name(u)
    return (
        urlnorm.doc_id(u),
        stem,
        suffix,
        path,
        netloc,
        dates.parse_dates_safely(cr) if cr else None,
        dates.parse_dates_safely(ch) if ch else None,
    )


# --- extraction --------------------------------------------------------------

DOC_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("keywords", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("audience", T.StringType()),
        T.StructField("created_raw", T.StringType()),
        T.StructField("changed_raw", T.StringType()),
        T.StructField("thumbnail_url", T.StringType()),
    ]
)

_DOC_FIELDS = ("title", "description", "keywords", "language", "content",
               "audience", "created_raw", "changed_raw", "thumbnail_url")

# doc + links in one parse (the engine's hot path: avoids parsing the HTML twice)
DOC_LINKS_STRUCT = T.StructType(
    list(DOC_STRUCT.fields) + [T.StructField("links", T.ArrayType(T.StringType()))]
)


def _extract_doc(body, url: str | None, lang_hint: str | None) -> htmlx.ExtractedDoc:
    return htmlx.extract_html_doc(textproc.decode_bytes(bytes(body)), url or "", lang_hint or "")


@pandas_udf(DOC_LINKS_STRUCT)
def extract_doc_links(html: pd.Series, url: pd.Series, lang_hint: pd.Series) -> pd.DataFrame:
    rows = []
    for body, u, lh in zip(html, url, lang_hint):
        if body is None:
            rows.append(("",) * len(_DOC_FIELDS) + ([],))
            continue
        doc = _extract_doc(body, u, lh)
        rows.append(tuple(getattr(doc, f) for f in _DOC_FIELDS) + (doc.links,))
    return pd.DataFrame(rows, columns=[*_DOC_FIELDS, "links"])




# --- PDF (X4/X15; minimal-subset kernel, see kernels/pdfx.py) -----------------

_PDF_FIELDS = ("title", "description", "content", "links", "created_at", "changed", "updated")

PDF_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("created_at", T.StringType()),
        T.StructField("changed", T.StringType()),
        T.StructField("updated", T.StringType()),
    ]
)


@pandas_udf(PDF_STRUCT)
def extract_pdf_doc(body: pd.Series, url: pd.Series) -> pd.DataFrame:
    """PDF -> document fields via the single-node kernel
    (kernels.pdfx.convert_pdf; reference transform.py:120-195): title from
    /Info metadata or filename, title+filename content/description prepend
    (X15), annots ∪ text-url links (U4), exif-parsed dates (X7)."""
    from ..kernels import pdfx

    rows = []
    for b, u in zip(body, url):
        if b is None:
            rows.append(("", "", "", [], None, None, None))
            continue
        doc = pdfx.convert_pdf(bytes(b), u or "")
        rows.append(tuple(doc[f] for f in _PDF_FIELDS))
    return pd.DataFrame(rows, columns=list(_PDF_FIELDS))


# --- sitemaps ----------------------------------------------------------------

SITEMAP_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("page_urls", T.ArrayType(T.StringType())),
        T.StructField("child_sitemaps", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(SITEMAP_STRUCT)
def parse_sitemap(body: pd.Series) -> pd.DataFrame:
    from ..kernels import sitemapxml

    rows = []
    for b in body:
        if b is None:
            rows.append(("invalid", [], []))
            continue
        p = sitemapxml.parse_sitemap_xml(b)
        rows.append((p.kind, p.page_urls, p.child_sitemaps))
    return pd.DataFrame(rows, columns=["kind", "page_urls", "child_sitemaps"])


# --- robots ------------------------------------------------------------------


@pandas_udf(T.BooleanType())
def robots_allowed(rules_text: pd.Series, url: pd.Series, agent: pd.Series) -> pd.Series:
    """Whether the group ``agent`` selects in each robots body allows ``url``."""
    # parse each distinct (robots body, agent) once per batch
    cache: dict[tuple[str, str], robotstxt.RobotsRules] = {}
    out = []
    for rt, u, ag in zip(rules_text, url, agent):
        if rt is None or not rt:
            out.append(True)
            continue
        rules = cache.get((rt, ag))
        if rules is None:
            rules = cache[rt, ag] = robotstxt.parse_robots(rt, ag)
        out.append(rules.allowed(u))
    return pd.Series(out)


@pandas_udf(T.DoubleType())
def robots_crawl_delay(rules_text: pd.Series, agent: pd.Series) -> pd.Series:
    """Crawl-delay of the group ``agent`` selects in each robots body."""
    cache: dict[tuple[str, str], float | None] = {}
    out = []
    for rt, ag in zip(rules_text, agent):
        if rt is None or not rt:
            out.append(None)
            continue
        if (rt, ag) not in cache:
            cache[rt, ag] = robotstxt.robots_crawl_delay(rt, ag)
        out.append(cache[rt, ag])
    return pd.Series(out, dtype="float64")


# --- the crawl round's fused pass ---------------------------------------------

LINK_STRUCT = T.StructType(
    list(ADMISSION_STRUCT.fields) + [T.StructField("robots_ok", T.BooleanType())]
)

CRAWL_PASS_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("source_url", T.StringType()),
        T.StructField("download_bytes", T.IntegerType()),
        # extraction fields + the document metadata computed from them
        T.StructField("doc", T.StructType(DOC_STRUCT.fields + DOC_META_STRUCT.fields)),
        T.StructField("links", T.ArrayType(LINK_STRUCT)),
    ]
)
_CRAWL_PASS_ARROW = to_arrow_schema(CRAWL_PASS_SCHEMA)
_PASS_CARRY = ("url_canon", "url_hash", "host", "depth", "seq", "source_url")


def _robots_checker(robots: dict | None, agent: str):
    """``robots_allowed`` as a function of (host, url) under ``robots``
    (host -> robots.txt body), judged by the rule group for ``agent``: a
    missing or empty body allows everything, and each host's body is parsed
    once, on first use, for the life of the returned function (one
    partition's pass)."""
    robots = robots or {}
    parsed: dict[str, robotstxt.RobotsRules] = {}

    def allowed(host: str | None, url: str | None) -> bool:
        rules_text = robots.get(host)
        if not rules_text:
            return True
        rules = parsed.get(host)
        if rules is None:
            rules = parsed[host] = robotstxt.parse_robots(rules_text, agent)
        return rules.allowed(url)

    return allowed


def _link_row(href: str | None, robots_ok, strip: bool = True) -> tuple:
    """``admission_parts`` + ``robots_allowed`` of one href; ``robots_ok``
    from ``_robots_checker``.  ``strip=False`` skips the jsessionid rewrite,
    as a seed's admission does (``CrawlEngine._bootstrap``)."""
    canon, host, url_hash = _admission_row(href, strip)
    return canon, host, url_hash, robots_ok(host, canon)


def crawl_pass(
    fetched: Iterator[pa.RecordBatch], robots: dict | None, agent: str
) -> Iterator[pa.RecordBatch]:
    """The crawl round's Python work over one partition, in one pass.

    ``fetched`` yields Arrow batches of fetched frontier rows (the frontier
    columns plus ``html``/``lang``; null html is a fetch miss).  Per fetched
    page: ``extract_doc_links``, ``doc_meta`` and, per raw link in list
    order, ``admission_parts`` (jsessionid strip) with the robots verdict of
    the link's host under ``robots`` (host -> robots.txt body) for the
    crawl's user ``agent``.  Misses are
    dropped, as the unfused chain's ``html IS NOT NULL`` filter drops them.
    Yields ``CRAWL_PASS_SCHEMA`` batches.
    """
    robots_ok = _robots_checker(robots, agent)
    for batch in fetched:
        cols = batch.to_pydict()
        out: dict[str, list] = {f: [] for f in CRAWL_PASS_SCHEMA.fieldNames()}
        carry = [(out[c], cols[c]) for c in _PASS_CARRY]
        for i, (body, url, lang) in enumerate(zip(cols["html"], cols["url_canon"], cols["lang"])):
            if body is None:
                continue
            for dst, src in carry:
                dst.append(src[i])
            doc = _extract_doc(body, url, lang)
            out["download_bytes"].append(len(body))
            out["doc"].append(
                tuple(getattr(doc, f) for f in _DOC_FIELDS)
                + _doc_meta_row(url, doc.created_raw, doc.changed_raw)
            )
            out["links"].append([_link_row(h, robots_ok) for h in doc.links])
        yield pa.RecordBatch.from_pydict(out, schema=_CRAWL_PASS_ARROW)


# --- text analysis -----------------------------------------------------------


@pandas_udf(T.StringType())
def detect_language(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textproc.detect_language(t) if t else "en")


@pandas_udf(T.DoubleType())
def quality_score(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textproc.quality_score(t) if t else 0.0).astype("float64")


@pandas_udf(T.IntegerType())
def token_count(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textproc.token_count(t) if t else 0).astype("int32")


@pandas_udf(T.LongType())
def document_fingerprint(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textproc.document_fingerprint(t) if t else 0).astype("int64")
