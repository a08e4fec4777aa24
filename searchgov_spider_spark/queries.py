"""Driver-contract query surface: Spark queries + DuckDB oracle SQL.

Each entry in QUERIES is a (spark, sf_dir) -> DataFrame callable exercising
one operator family from SURVEY.md §2; ORACLES holds the equivalent ANSI SQL
for DuckDB over the same parquet tables (views: region nation customer
supplier part orders lineitem events documents embeddings).  Column names and
rounding are aligned on both sides (the driver hash-compares values after
sorting columns by name).

EVERY query has an oracle: relational flows as literal ANSI SQL here, and
non-SQL-expressible operators (crawl BFS, simhash, LSH, multimodal, PDF,
IVF) via dynamically-built VALUES oracles in oracles.py — single-node
re-derivations (pure-Python BFS, brute-force all-pairs SQL, independent
numpy/struct reimplementations) rendered to SQL the driver runs in DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import udfs
from .operators import curation, dedup, similarity, textstats
from .operators.dedup import TOKEN_PATTERN


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _fan_out(df: DataFrame, key: str) -> DataFrame:
    """Scan-width adapter for expensive per-row stages (guide §2.5 input
    skew: "one huge unsplittable file ... repartition immediately after the
    read").  A small input written as ONE parquet row group scans as a
    single split, so every downstream codegen/UDF map serializes onto one
    core of the cluster; when the scan has fewer splits than the session's
    parallelism, hash-repartition on the row key (deterministic row ->
    partition map, no round-robin pre-sort).  At the 100-TB design point a
    table scans as >= cores splits and this is a structural no-op — the
    condition, not a constant, is what adapts."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism, F.col(key))


def _cleanup_at_exit(path: str) -> None:
    """Defer removal of a temp dir whose parquet output is still being read
    lazily by the caller (the crawl checkpoint itself is deleted eagerly)."""
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)


def _tune_session(spark: SparkSession) -> None:
    """The driver may hand us a session with default confs (200 shuffle
    partitions, AQE off) — set the runtime-settable knobs the crawl round
    loop is sized for."""
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")


# ---------------------------------------------------------------------------
# Relational operator surface (scans/filters/joins/aggs/sorts/sets —
# SURVEY.md §2.1-2.6 re-expressed over the driver's TPC-H-ish tables)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """Hash aggregation with partial/final combine (A1 family): TPC-H Q1 shape."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q02_revenue_by_nation(spark, sf_dir):
    """Broadcast-hash joins of small dims (J1 analog: lookup enrichment)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
    )


def q03_customers_without_orders(spark, sf_dir):
    """Anti-join (J5/F7 family: the dedup 'not seen' probe)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q04_top_customers(spark, sf_dir):
    """Global top-k (O5/O6 family) — TakeOrderedAndProject, no full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .limit(10)
    )


def q05_priority_with_big_items(spark, sf_dir):
    """Semi-join (EXISTS) + count per group."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li.filter(F.col("l_quantity") > 45), o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q06_revenue_forecast(spark, sf_dir):
    """Predicate-pushdown scan + single agg (F2-F5 filter family): TPC-H Q6 shape."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.02, 0.06))
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


def q07_top_orders_per_customer(spark, sf_dir):
    """Windowed per-key top-k (O1/P1 family: the politeness row_number cap)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def q08_nations_union(spark, sf_dir):
    """UNION + distinct (U2 family: sitemap-source union)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


def q09_customer_only_nations(spark, sf_dir):
    """EXCEPT (U1 family: sitemap delta)."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return c.exceptAll(s).select("nationkey")


def q10_events_daily(spark, sf_dir):
    """Event-time daily rollup (A1/T3 family: DAP group-sum by (domain,date))."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def q11_avg_daily_value(spark, sf_dir):
    """Trailing-window average (A2: get_avg_daily_visits_by_domain semantics —
    sum over window / days_back, reference dap/datastore.py:38-77)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts") >= F.lit("2024-01-01"))
        .groupBy("event_type")
        .agg(F.round(F.sum("value") / F.lit(28.0), 4).alias("avg_daily_value"))
    )


# ---------------------------------------------------------------------------
# Crawl scalar surface (F-C, F4, X10, X11) — constructed-URL oracles
# ---------------------------------------------------------------------------


def q12_canonicalize(spark, sf_dir):
    """URL canonicalization (F-C): messy aliases -> canonical form."""
    d = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTPS://Example.GOV:443/docs/"), F.col("doc_id").cast("string"), F.lit("?b=2&a=1#frag")
    )
    return d.select(F.col("doc_id"), udfs.canonicalize_url(messy).alias("url_canon"))


def q13_strip_jsessionid(spark, sf_dir):
    """jsessionid strip (F4, middlewares.py:58-65)."""
    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://example.gov/p/"), F.col("doc_id").cast("string"),
        F.lit(";jsessionid=A1B2C3?q=1"),
    )
    return d.select(F.col("doc_id"), udfs.strip_jsessionid(raw).alias("url_clean"))


def q14_url_parts(spark, sf_dir):
    """URL part extraction (X10: host/domain/basename/extension)."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www.agency"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".gov/files/report"), F.col("doc_id").cast("string"), F.lit(".pdf?x=1"),
    )
    return d.select(
        F.col("doc_id"),
        udfs.url_host(url).alias("host"),
        udfs.domain_name(url).alias("domain"),
        udfs.url_extension(url).alias("ext"),
    )


def q15_doc_ids(spark, sf_dir):
    """Document id = sha256(url) (X11, indexing/helpers.py:176-179)."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://example.gov/docs/"), F.col("doc_id").cast("string"))
    return d.select(F.col("doc_id"), F.sha2(url, 256).alias("id"))


# ---------------------------------------------------------------------------
# Training-data operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------


def _docs_with_dups(spark, sf_dir, fan: bool = True):
    """documents ∪ exact copies (doc_id+100000) — deterministic dup injection
    shared with the SQL oracle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
    )
    out = d.unionByName(copies)
    # fan out AFTER the union: the single-row-group scan would otherwise
    # serialize every downstream shingle/md5/UDF map onto one core (see
    # _fan_out).  Callers whose first op is itself a shuffle (q16's digest
    # groupBy) skip it — the extra exchange buys them nothing.
    return _fan_out(out, "doc_id") if fan else out


def q16_exact_dedup(spark, sf_dir):
    """Exact dedup via content digest (hash-groupBy; one shuffle)."""
    return dedup.exact_duplicates(_docs_with_dups(spark, sf_dir, fan=False))


def q17_token_stats(spark, sf_dir):
    """JVM-side token/char statistics (quality-signal primitives)."""
    return textstats.token_stats(_t(spark, sf_dir, "documents"))


def q18_minhash_signature(spark, sf_dir):
    """MinHash signatures (k=4, md5 permutations) — near-dup primitive."""
    return dedup.minhash_signature(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"), k=4)


def q19_minhash_dedup(spark, sf_dir):
    """Signature-level near-dup clustering on the dup-injected corpus."""
    return dedup.minhash_dedup(_docs_with_dups(spark, sf_dir), k=4)


def q20_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard for an explicit pair set (adjacent doc ids)."""
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    pairs = d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return dedup.ngram_jaccard_pairs(d, pairs)


def q21_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against the vec_id=0 embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    top = similarity.cosine_topk(emb, qvec, k=10)
    from pyspark.sql.window import Window

    return top.withColumn("rank", F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))).select(
        "vec_id", "rank"
    )


# --- rows-only (non-SQL-expressible) ----------------------------------------


def q22_text_analysis(spark, sf_dir):
    """Language-ID + quality + fingerprint (heuristic kernels; pytest-gated)."""
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id",
        udfs.detect_language(F.col("text")).alias("detected_lang"),
        udfs.quality_score(F.col("text")).alias("quality"),
        udfs.document_fingerprint(F.col("text")).alias("fingerprint"),
    )


def q23_simhash(spark, sf_dir):
    """SimHash near-dup pairs at hamming <= 3 (vectorized numpy UDF hash +
    pigeonhole-banded candidate join + bit_count verify).  Oracle: brute-force
    all-pairs bit_count in DuckDB over kernel-computed hash values."""
    return dedup.simhash_near_dup_pairs(_docs_with_dups(spark, sf_dir), max_hamming=3)


def q24_crawl_bfs(spark, sf_dir):
    """The flagship crawl loop on the deterministic synthetic web
    (pytest-gated against the pure-Python reference BFS)."""
    from .crawl import CrawlEngine, CrawlPolicy
    from .synth import webgen
    from .synth.spark_gen import PAGES_SCHEMA

    import shutil
    import tempfile

    _tune_session(spark)
    n_pages, n_hosts = 800, 8
    pdf = webgen.pages_pandas(n_pages, n_hosts)
    pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    robots = spark.createDataFrame(webgen.robots_pandas(n_hosts))
    policy = CrawlPolicy(allowed_domains=[webgen.host_name(0), webgen.host_name(1)], depth_limit=10)
    root = tempfile.mkdtemp(prefix="crawl_q24_")
    ckpt, out_dir = os.path.join(root, "ckpt"), os.path.join(root, "out")
    try:
        engine = CrawlEngine(spark, pages, robots, policy, ckpt)
        run = engine.run([webgen.page_url(0, 0)], max_rounds=32)
        docs = run.documents(spark)
        # result persists to its own parquet dir (never through the driver —
        # a toPandas round-trip here would OOM the driver at scale); only the
        # crawl checkpoint is deleted eagerly, the result dir at exit
        docs.select("url", "crawl_depth", "seq", "title", "language").write.mode(
            "overwrite"
        ).parquet(out_dir)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        _cleanup_at_exit(root)
    return spark.read.parquet(out_dir)


def q25_lsh_near_dup_pairs(spark, sf_dir):
    """Banded MinHash-LSH near-dup pairs with exact-Jaccard verification."""
    return dedup.minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), k=16, bands=8, threshold=0.8)


def q26_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours (scale path of q21)."""
    # NOT fanned out: the embeddings table is vector-light (µs/row matmuls,
    # ~2k rows at sf0.1) — measured A/B, 32-way fan-out paid more per-task
    # fixed cost (Arrow round-trips, broadcast deser) than the map it
    # parallelized; the heavy TEXT kernels over documents keep theirs
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.ann_topk_lsh(emb, qvec, k=10, bits=8).select("vec_id", F.round("cosine", 4).alias("cosine"))


def q27_multimodal_features(spark, sf_dir):
    """Binary-media plumbing via mapInPandas: REAL PNG/JPEG header decode
    for width/height, REAL gray/RGB/palette PNG pixel decode (IDAT inflate
    + row-unfilter + PLTE lookup) for pix_mean/pix_std, REAL PCM-16 WAV
    decode (RIFF walk) for sample_rate/n_samples/rms, deterministic stub
    for the pixel-feature vector (the oracle re-derives every stat from
    the fixtures' generation formulas, so a broken decoder cannot
    self-verify)."""
    from .operators import multimodal

    media = multimodal.synthetic_media(spark, n=96)
    feats = multimodal.extract_features(media)
    # cast float32 -> double BEFORE rounding so the value is the clean
    # 5-decimal double the oracle emits (round on raw float32 would keep
    # float32 representation error)
    return feats.select(
        "media_id", "media_type", "n_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 5).alias("f0"),
        "width", "height",
        F.round("pix_mean", 5).alias("pix_mean"),
        F.round("pix_std", 5).alias("pix_std"),
        "sample_rate", "n_samples",
        F.round("rms", 5).alias("rms"),
    )


def q28_robots_eval(spark, sf_dir):
    """robots.txt allow/deny evaluation (P2) over constructed URLs."""
    from .kernels.robotstxt import DEFAULT_AGENT
    from .synth import webgen

    n_hosts = 8
    robots = spark.createDataFrame(webgen.robots_pandas(n_hosts))
    d = _t(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://host"), (F.col("doc_id") % n_hosts).cast("string"),
            F.lit(".example.gov"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/blocked/x")).otherwise(F.lit("/ok/x")),
        ).alias("url"),
    ).withColumn("host", udfs.url_host(F.col("url")))
    return urls.join(F.broadcast(robots), "host", "left").select(
        "doc_id", "url", udfs.robots_allowed(F.col("rules_text"), F.col("url"), F.lit(DEFAULT_AGENT)).alias("allowed")
    )


def q29_sitemap_delta(spark, sf_dir):
    """Sitemap snapshot delta (U1: EXCEPT over consecutive snapshots)."""
    from . import flows
    from .synth import webgen

    snaps = spark.createDataFrame(webgen.sitemap_snapshots_pandas(8))
    # render the ts as UTC text so the DuckDB comparison is tz-independent
    return flows.sitemap_delta(snaps).withColumn(
        "appeared_ts",
        F.date_format(F.to_utc_timestamp("appeared_ts", spark.conf.get("spark.sql.session.timeZone")), "yyyy-MM-dd HH:mm:ss"),
    )


def q30_dap_pipeline(spark, sf_dir):
    """DAP pipeline: normalize+validate (F13/X16) -> group-sum (A1) ->
    trailing average (A2) -> broadcast enrichment join (J1)."""
    from . import flows
    from .synth import webgen

    raw = spark.createDataFrame(webgen.dap_visits_pandas(8))
    dap = flows.dap_transform(raw)
    avg = flows.dap_avg_daily_visits(dap, anchor_date=20240128, days_back=28)
    docs = spark.createDataFrame(
        [(f"doc{h}", webgen.host_name(h)) for h in range(10)], "id string, domain_name string"
    )
    return flows.enrich_documents_with_dap(docs, avg)


def q31_freshness(spark, sf_dir):
    """Freshness HEAD-check routing (F14/S15) against the live pages table."""
    from . import flows
    from .synth import webgen
    from .synth.spark_gen import PAGES_SCHEMA

    pages = spark.createDataFrame(webgen.pages_pandas(400, 5), schema=PAGES_SCHEMA)
    from pyspark.sql import functions as FF

    docs = pages.select(FF.sha2("url", 256).alias("id"), FF.col("url")).limit(200).unionByName(
        spark.createDataFrame([(f"gone{i}", f"https://host0.example.gov/deleted{i}") for i in range(50)], "id string, url string")
    )
    # flat columns only (the exception struct path is pytest-gated; structs
    # don't survive the driver's column-sorted hash compare)
    return flows.freshness_check(docs, pages).select(
        "id", "url", "status_code", "disposition", "marked_for_deletion", "result"
    )


def q32_seeds_validation(spark, sf_dir):
    """Crawl-config validation as DataFrame checks (S2/F10)."""
    from . import flows
    from .synth.spark_gen import generate_support_tables

    seeds = generate_support_tables(spark, 8)["seeds"]
    bad = spark.createDataFrame(
        [("dup", "h.gov", "https://h.gov/", False, False, "csv", 3, None, None, None, None)] * 2
        + [("bad", "h.gov", "x", False, False, "nope", 999, None, None, None, None)],
        seeds.schema,
    )
    return flows.validate_seeds(seeds.unionByName(bad))


def q33_sitemap_expand(spark, sf_dir):
    """Recursive sitemap-XML expansion (S7): index -> children -> page urls."""
    from . import flows
    from .synth import webgen

    rows = []
    for h in range(4):
        host = webgen.host_name(h)
        rows.append(
            (f"https://{host}/sitemap.xml",
             f"<sitemapindex><sitemap><loc>https://{host}/sitemap-0.xml</loc></sitemap>"
             f"<sitemap><loc>https://{host}/sitemap-1.xml</loc></sitemap></sitemapindex>")
        )
        for part in range(2):
            locs = "".join(
                f"<url><loc>{webgen.page_url(h, k)}</loc></url>" for k in range(part * 5, part * 5 + 5)
            )
            rows.append((f"https://{host}/sitemap-{part}.xml", f"<urlset>{locs}</urlset>"))
    bodies = spark.createDataFrame(rows, "sitemap_url string, body string")
    roots = [f"https://{webgen.host_name(h)}/sitemap.xml" for h in range(4)]
    return flows.expand_sitemaps(spark, bodies, roots)


def _embeddings_with_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("embedding")
    )
    # NOT fanned out (fan-out tried, REVERTED like q16): per-vector work
    # here is µs-scale matmuls/dots over ~2.2k rows — the 32-way fan-out's
    # per-task fixed costs regressed q34 1.5 -> 3.4 s and q48 2.4 -> 3.6 s
    # (interleaved A/B vs the round-start tree; stage evidence: 32-task
    # stages at 0.3-0.7 s CPU/task on ~70 rows/task vs 2-task 0.3 s total)
    return emb.unionByName(copies)


def q34_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via SRP-LSH bucketing + exact verify.

    Oracle-able: injected exact-duplicate vectors always share every LSH
    bucket (recall 1.0 for cosine==1 pairs), and random 64-d vectors never
    reach the 0.95 threshold — so LSH output == brute-force output.
    """
    from .operators import similarity

    emb = _embeddings_with_dups(spark, sf_dir)
    # bits/bands derived from corpus size (scale-safe defaults)
    return similarity.embedding_near_dup_pairs(emb, dim=64, threshold=0.95).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


_PDF_FILTER_ROTATION: list[list[str]] = [
    ["FlateDecode"],
    [],  # plain stream
    ["LZWDecode"],
    ["ASCIIHexDecode"],
    ["ASCII85Decode", "FlateDecode"],  # filter chain
]


def _pdf_fixture(i: int) -> tuple[str, bytes]:
    """Deterministic PDF fixture i: the stream filter rotates through every
    supported codec branch (flate / plain / LZW / asciihex / a85+flate
    chain), every 3rd page adds a TJ kerning array, every 4th carries an
    /Info dict (Title + exif dates); rows whose final filter is Flate/LZW
    rotate /DecodeParms PNG predictors (12=Up, 15=optimum per-row, 11=Sub),
    and every i%4==2 row uses the PDF 1.5 cross-reference-STREAM layout
    (trailer entries in the /Type /XRef stream dict, itself Predictor-12
    Flate) with the annot + /Info objects compressed into a /Type /ObjStm
    container (type-2 xref entries) — extraction output must be identical
    to the classic layout, which the checked-in golden rows pin.  Shared
    with the q36 oracle builder."""
    from .kernels import pdfx

    url = f"https://host0.example.gov/docs/AnnualReport{i}.pdf"
    info = None
    if i % 4 == 0:
        info = {
            "Title": f"FY{2000 + i} Annual Report",
            "CreationDate": f"D:2024011{i % 10}120000Z00'00'",
            "ModDate": f"D:2024021{i % 10}080000-04'00'",
        }
    elif i % 8 == 6:
        # xref-stream rows with /Info: the Info ref lives in the XRef
        # stream dict, not a classic trailer
        info = {
            "Title": f"Xref Stream Report {i}",
            "CreationDate": f"D:2024030{i % 10}090000Z00'00'",
        }
    tj = [["Sec", -30.0, "tion", -250.0, f"{i}"]] if i % 3 == 0 else None
    # every 6th row (i%6==1) shows an extra line as composite-font HEX
    # strings through a generated /ToUnicode CMap (bfchar + bfrange,
    # private-use codes — decoding REQUIRES the CMap)
    hex_lines = [f"Unicode appendix {i}."] if i % 6 == 1 else None
    # every 6th row (i%6==4) adds a line through a simple subset font whose
    # /Encoding /Differences table remaps sequential codes from 0x21 —
    # correct text REQUIRES the per-font Differences decode (round-5 X4
    # expansion; naive latin-1 reads punctuation garbage)
    diff_lines = [f"Résumé — année {i} déposée."] if i % 6 == 4 else None
    filters = _PDF_FILTER_ROTATION[i % 5]
    predictor = None
    if filters and filters[-1] in ("FlateDecode", "LZWDecode") and i % 7 in (1, 3, 5):
        predictor = {1: 12, 3: 15, 5: 11}[i % 7]
    pdf = pdfx.make_simple_pdf(
        [f"Annual report number {i}.", f"See https://host0.example.gov/ref{i} for data."],
        annot_uris=[f"https://host0.example.gov/annot{i}"],
        info=info,
        filters=filters,
        tj_arrays=tj,
        predictor=predictor,
        xref_stream=(i % 4 == 2),
        obj_stream=(i % 4 == 2),
        hex_text_lines=hex_lines,
        diff_text_lines=diff_lines,
    )
    if i % 8 == 7:
        # every 8th (classic-layout) row ships ENCRYPTED via the standard
        # security handler (owner-encrypted, empty user password — the
        # common real-corpus shape), rotating RC4-40 / RC4-128 / AES-128 /
        # AES-256 (/V 5 /R 6).  Encryption is transport-level: the golden
        # EXPECTED fields are unchanged, so the oracle pins that decryption
        # is transparent.
        from .kernels import pdfcrypt

        variant = ("rc4-40", "rc4-128", "aes-128", "aes-256")[(i // 8) % 4]
        pdf = pdfcrypt.encrypt_pdf(pdf, variant=variant, file_id=bytes([i]) * 16)
    return url, pdf


def q36_pdf_extraction(spark, sf_dir):
    """PDF extraction (X4/X15/U4/X7): text, links, /Info metadata title and
    exif dates over deterministic fixture PDFs."""
    rows = [(u, bytearray(p)) for u, p in (_pdf_fixture(i) for i in range(64))]
    df = spark.createDataFrame(rows, "url string, body binary")
    out = df.withColumn("doc", udfs.extract_pdf_doc(F.col("body"), F.col("url")))
    return out.select(
        "url",
        F.col("doc.title").alias("title"),
        F.col("doc.content").alias("content"),
        F.size("doc.links").alias("n_links"),
        F.col("doc.created_at").alias("created_at"),
        F.col("doc.changed").alias("changed"),
    )


def q39_bpe_token_stats(spark, sf_dir):
    """Whitespace + BPE-ish-regex token counting (training-data budgeting),
    pure JVM regex — SQL-oracle-portable."""
    return textstats.bpe_token_stats(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


def q38_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN top-k (coarse k-means quantizer + nprobe cell pruning) —
    the partition-pruned scale path complementing q26's LSH."""
    # NOT fanned out: see _embeddings_with_dups (vector-light table)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    top = similarity.ann_topk_ivf(emb, qvec, k=10, n_cells=16, nprobe=4)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q37_sitemap_discovery(spark, sf_dir):
    """4-method sitemap discovery (S8): common locations, robots directives,
    HTML link tags, root .xml listing — body-driven over a fetched-resources
    table.  Oracle: pure-Python kernels.sitemapxml.find_sitemaps."""
    from . import flows
    from .synth import webgen

    bases, res = webgen.sitemap_discovery_fixture(8)
    bases_df = spark.createDataFrame([(b,) for b in bases], "base_url string")
    res_df = spark.createDataFrame(
        [(u, s, c, b) for u, (s, c, b) in sorted(res.items())],
        "url string, status_code int, content_type string, body string",
    )
    return flows.discover_sitemaps(spark, bases_df, res_df)


def q35_training_pipeline(spark, sf_dir):
    """End-to-end training-data curation pipeline (composition):
    exact dedup (keep representatives) -> JVM quality gates (token count,
    uniqueness ratio, alpha ratio) -> per-language corpus stats."""
    d = _docs_with_dups(spark, sf_dir)
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    dd = dedup.exact_duplicates(d)
    kept = dd.filter(F.col("doc_id") == F.col("representative")).select("doc_id")
    stats = textstats.token_stats(d.join(kept, "doc_id"))
    gated = stats.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("alpha_ratio") >= 0.5)
        & (F.col("n_unique_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)) >= 0.2)
    )
    return (
        gated.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


def q40_decontamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap): docs with
    doc_id % 37 == 0 play the held-out eval set; every other doc is flagged
    when it shares any distinct 8-token-gram with the eval side.  Eval
    n-grams broadcast; the training side never shuffles.  Verbatim copies
    of the eval docs (doc_id+200000) are unioned into the training side to
    simulate real benchmark leakage — every one must flag."""
    d = _t(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 37 == 0)
    leaked = eval_docs.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    train = _fan_out(
        d.filter(F.col("doc_id") % 37 != 0).select("doc_id", "text").unionByName(leaked),
        "doc_id",
    )
    return curation.decontaminate(train, eval_docs, n=8)


def q41_stratified_sample(spark, sf_dir):
    """Deterministic hash-stratified corpus sampling: per-language hex
    cutoffs on md5(doc_id) — en ~50%, zh/es ~25%, default (de/fr) ~12.5%.
    Map-side only (broadcast rates dim, codegen predicate, zero shuffles);
    the sample is identical at any partitioning."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return curation.stratified_sample(
        d, {"en": "8000", "zh": "4000", "es": "4000"}, default_cutoff="2000"
    )


def q42_repetition_stats(spark, sf_dir):
    """Gopher-style intra-doc repetition filters (occurrence-mass variant):
    top-2-gram and duplicated-5-gram character fractions + the removal flag.
    Two uniform (doc, gram) shuffles, both partial-aggregated."""
    return textstats.repetition_stats(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


def q43_pii_redaction(spark, sf_dir):
    """PII scrubbing (emails / SSNs / phones -> typed placeholders), counts
    per doc.  PII is injected deterministically (no real PII in the corpus):
    doc_id%3 gains an email, %5 an SSN, %7 a phone.  Pure JVM regex."""
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    pad4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact agent"), F.col("doc_id").cast("string"), F.lit("@agency.gov now")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" ssn 123-45-"), pad4)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(" call 202-555-"), pad4)).otherwise(F.lit("")),
        ),
    )
    return curation.pii_redact(injected)


_LINES_EXPR = (
    "CASE WHEN size({t}) = 0 THEN array() ELSE "
    "transform(sequence(0, int(ceil(size({t}) / 10.0)) - 1), "
    "i -> concat_ws(' ', slice({t}, i * 10 + 1, 10))) END"
)


def q44_line_dedup(spark, sf_dir):
    """CCNet-style cross-corpus line dedup: docs chunked into 10-token
    lines; a line surviving only at its first (doc_id, pos) occurrence
    corpus-wide; docs reassembled in order with kept/removed counts."""
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)"
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.expr(_LINES_EXPR.format(t=toks)).alias("lines")
    )
    return curation.line_dedup(d)


def q46_corpus_curation(spark, sf_dir):
    """The full curation pipeline composed from the proven operators:
    exact dedup (keep representatives) -> Gopher repetition gate ->
    token-count gate (>= 20) -> benchmark DECONTAMINATION (drop docs
    sharing any 8-token-gram with the doc_id%37 eval set — which removes
    the eval docs themselves from the corpus, exactly as a real build
    excludes benchmark text) -> language join -> deterministic stratified
    sample.  Every stage is individually oracle-backed (q16/q42/q17/q40/
    q41); this verifies their COMPOSITION end to end — the shape a real
    corpus build runs.  All JVM-side; the only UDFs in the pipeline are
    none; the eval n-gram side broadcasts (the corpus never shuffles for
    the decontamination join)."""
    d = _docs_with_dups(spark, sf_dir)
    langs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("orig_id"), "lang")
    dd = dedup.exact_duplicates(d)
    kept = d.join(
        dd.filter(F.col("doc_id") == F.col("representative")).select("doc_id"), "doc_id"
    )
    not_repetitive = (
        textstats.repetition_stats(kept).filter(~F.col("repetitive")).select("doc_id")
    )
    tok = textstats.token_stats(kept).select("doc_id", "n_tokens").filter(F.col("n_tokens") >= 20)
    eval_docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 37 == 0)
    clean = (
        curation.decontaminate(kept, eval_docs, n=8)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    gated = (
        kept.join(not_repetitive, "doc_id")
        .join(tok, "doc_id")
        .join(clean, "doc_id")
        .withColumn("orig_id", F.col("doc_id") % 100000)
        .join(langs, "orig_id")
        .select("doc_id", "lang", "n_tokens")
    )
    return curation.stratified_sample(
        gated, {"en": "8000", "zh": "4000", "es": "4000"}, default_cutoff="2000"
    )


def q47_unigram_surprisal(spark, sf_dir):
    """CCNet-style LM-quality surrogate: per-doc mean unigram surprisal
    under the corpus's own token distribution.  Vocabulary built and joined
    fully distributed — no collect, no broadcast of the vocab itself."""
    return textstats.unigram_surprisal(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


def q45_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs): LSH-verified pairs (q25's exact
    pipeline) -> min-label-propagation connected components -> per-doc
    cluster representative + cluster size.  The cluster step a dedup
    pipeline needs to pick survivors; iterations ~ component diameter."""
    d = _docs_with_dups(spark, sf_dir)
    # materialize the verified pair set ONCE (lazy: connected_components'
    # first iteration runs it; its explode-based flip evaluates the LSH
    # pipeline a single time) — q45 must cost ≈ q25 + label propagation
    pairs = (
        dedup.minhash_lsh_pairs(d, k=16, bands=8, threshold=0.8)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cc = dedup.connected_components(pairs, d.select("doc_id"), id_col="doc_id")
    sizes = cc.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_rep"), "cluster_size"
    )


def q48_embedding_dup_clusters(spark, sf_dir):
    """Embedding near-dup CLUSTERS: SRP-LSH verified pairs (q34's exact
    pipeline, materialized once) -> min-label-propagation connected
    components -> per-vector cluster representative + size.  The
    survivor-selection step over the EMBEDDING modality, same composition
    as q45's text-shingle version — the pair pipeline's ids-only candidate
    join + the O(diameter) localCheckpoint'd propagation both hold at
    corpus scale."""
    from .operators import similarity

    emb = _embeddings_with_dups(spark, sf_dir)
    pairs = (
        similarity.embedding_near_dup_pairs(emb, dim=64, threshold=0.95)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cc = dedup.connected_components(pairs, emb.select("vec_id"), id_col="vec_id")
    sizes = cc.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "label").select(
        "vec_id", F.col("label").alias("cluster_rep"), "cluster_size"
    )


_Q49_ROBOTS: list[tuple[str, str]] = [
    # agent-specific group beats the wildcard's delay
    ("h-specific.example.gov",
     "User-agent: usasearch\nCrawl-delay: 2\n\nUser-agent: *\nCrawl-delay: 9\n"),
    # wildcard-only delay applies
    ("h-wildcard.example.gov", "User-agent: *\nCrawl-delay: 4\n"),
    # no delay directive -> the default 1.0 s budget
    ("h-nodelay.example.gov", "User-agent: *\nDisallow: /x/\n"),
    ("h-slow.example.gov", "User-agent: *\nCrawl-delay: 10\n"),
    # fractional delays (the kernel parses floats; stdlib robotparser
    # ignores non-integer values, so these rows are hand-derived in the
    # oracle and the integer rows are robotparser-cross-checked)
    ("h-fast.example.gov", "User-agent: *\nCrawl-delay: 0.25\n"),
    ("h-frac.example.gov", "User-agent: usasearch\nCrawl-delay: 1.5\n"),
]
Q49_ROUND_SECONDS = 60.0


def q49_politeness_budgets(spark, sf_dir):
    """P1 politeness: per-host round budgets from robots Crawl-delay
    (politeness.static_budgets — the algebraic collapse of the token
    bucket at capacity == round length).  Literal robots texts exercise
    agent-specific-beats-wildcard, wildcard-only, missing (default 1.0 s),
    and fractional delays; budget = floor(round_seconds / delay)."""
    from .crawl import politeness

    robots = spark.createDataFrame(_Q49_ROBOTS, "host string, rules_text string")
    return politeness.static_budgets(robots, Q49_ROUND_SECONDS).select("host", "budget")


class _VirtualClock:
    """Deterministic injected clock for the sitemap monitor: time advances
    only through sleep()."""

    def __init__(self) -> None:
        self.t = 0.0

    def clock(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += max(0.0, s)


Q50_CADENCES_H = (1.0, 2.0, 5.0)
Q50_MAX_CHECKS = 12


def _q50_records():
    from .sitemap_schedule import SitemapRecord

    return [
        SitemapRecord(
            f"https://sm{k}.example.gov/sitemap.xml",
            check_sitemap_hours=Q50_CADENCES_H[k],
            batch_size=2,
        )
        for k in range(len(Q50_CADENCES_H))
    ]


def _q50_fetch_factory():
    """Deterministic evolving sitemap: at its c-th check, sitemap k holds
    (k + 2) * c URLs (so every check discovers k + 2 new ones) — a pure
    function of the per-sitemap CHECK COUNT, which both the monitor and
    the oracle's independent simulation derive from the schedule itself."""
    counts: dict[str, int] = {}

    def fetch(url: str) -> set[str]:
        k = int(url.split("sm")[1].split(".")[0])
        c = counts.get(url, 0) + 1
        counts[url] = c
        return {f"{url}#u{j}" for j in range((k + 2) * c)}

    return fetch


def q50_sitemap_schedule(spark, sf_dir):
    """O5 sitemap monitor cadence (reference sitemap_monitor.py:297-371):
    the min-heap re-check loop run to Q50_MAX_CHECKS pops over three
    sitemaps with different cadences on an injected virtual clock — event
    order, arrival timestamps (incl. 3 s inter-batch sleeps feeding back
    into the schedule), new-URL diffs and batch counts.  The oracle
    re-simulates the scheduling contract independently (scan-min instead
    of a heap, its own diff bookkeeping)."""
    from .sitemap_schedule import SitemapMonitor

    vc = _VirtualClock()
    monitor = SitemapMonitor(
        _q50_records(),
        fetch_urls=_q50_fetch_factory(),
        crawl=lambda _url, _batch, _depth: None,
        clock=vc.clock,
        sleep=vc.sleep,
    )
    events = monitor.run(max_checks=Q50_MAX_CHECKS)
    rows = [
        (idx, e.sitemap_url, float(e.ts), e.n_new, e.n_total, len(e.batches))
        for idx, e in enumerate(events)
    ]
    return spark.createDataFrame(
        rows,
        "check_idx int, sitemap_url string, ts double, n_new int, n_total int, n_batches int",
    )


def q51_bigram_surprisal(spark, sf_dir):
    """Conditional bigram surprisal (one LM order above q47's unigram) —
    the corpus's own max-likelihood P(w2|w1) scored per doc, the shape a
    KenLM-style CCNet quality stage takes in Spark: one groupBy builds the
    LM, joins consume it distributed, no collect."""
    return textstats.bigram_surprisal(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


def q52_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier: md5 hashing-trick
    token buckets -> deterministic Knuth-multiplicative weights -> sigmoid
    of the mean token weight.  Pure map, zero shuffle — the score a
    trained model swap-in would compute with identical plumbing."""
    return curation.hashed_classifier_score(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


def q53_corpus_mixture(spark, sf_dir):
    """Data-mixture report: per (lang, source) stratum doc counts, token
    totals (whitespace tokens = budgeting unit), corpus share, and a
    deterministic size rank — the table a training-data build publishes to
    decide sampling weights.  Big side aggregates once (map-side partial
    agg), the window runs over the tiny strata table only."""
    from pyspark.sql import Window

    docs = _fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "lang", "source", F.expr("size(regexp_extract_all(text, '\\\\S+', 0))").alias("nt")
    )
    agg = base.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("total_tokens")
    )
    total = agg.agg(F.sum("total_tokens").alias("corpus_tokens"))
    w = Window.orderBy(F.desc("total_tokens"), "lang", "source")
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("corpus_tokens"), 6).alias("token_share"),
        )
        .withColumn("size_rank", F.row_number().over(w))
    )


# deterministic synthetic link graph over doc ids: three arithmetic
# out-edges per node, self-loops removed — the same formula the oracle
# derives independently in SQL (the OPERATOR under test is the PageRank
# power iteration, not the graph synthesis)
_Q54_EDGE_MULTS = ((7, 1), (13, 5), (31, 11))
Q54_ITERATIONS = 5
Q54_DAMPING = 0.85


def q54_pagerank(spark, sf_dir):
    """Link-graph PageRank (fixed 5-iteration power method, lost-mass
    dangling contract) — the frontier-prioritization / corpus-weighting
    signal a web-scale crawler layers over BFS (Common Crawl publishes
    exactly this ranking).  Each iteration is one co-partitioned join +
    one map-side-combined groupBy; lineage localCheckpoint-cut per
    iteration (operators/graph.py)."""
    from .operators import graph

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("id"))
    n = docs.count()
    dsts = ", ".join(f"(id * {a} + {b}) % {n}L" for a, b in _Q54_EDGE_MULTS)
    edges = (
        docs.select(F.col("id").alias("src"), F.explode(F.expr(f"array({dsts})")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ranks = graph.pagerank(
        edges, docs, id_col="id", n_iter=Q54_ITERATIONS, damping=Q54_DAMPING
    )
    return ranks.select(F.col("id").alias("doc_id"), "pagerank")


def q55_c4_filters(spark, sf_dir):
    """C4-style line + document filters (Raffel et al. 2020) over docs given
    deterministic line structure: 10-token lines with arithmetic punctuation
    / 'javascript' / short-line injections plus per-doc 'lorem ipsum' and
    '{' tells, so every rule branch fires.  The OPERATOR under test is
    curation.c4_line_filters (pure map, zero shuffle); the synthesis is
    re-derived verbatim by the SQL oracle, the q54/q43 pattern."""
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)"
    deco = (
        f"transform({_LINES_EXPR.format(t=toks)}, (l, i) -> "
        "CASE WHEN (doc_id + i) % 13 = 0 THEN 'too short.' "
        "WHEN (doc_id * 7 + i) % 11 = 0 THEN concat(l, ' javascript.') "
        "ELSE concat(l, CASE (doc_id + i) % 4 "
        "WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?' ELSE '' END) END)"
    )
    lined = (
        f"array_join(concat({deco}, "
        "CASE WHEN doc_id % 17 = 0 THEN array('lorem ipsum is standard.') ELSE array() END, "
        "CASE WHEN doc_id % 19 = 0 THEN array('see config { x } here.') ELSE array() END), "
        "'\\n')"
    )
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), F.expr(lined).alias("text")
    )
    return curation.c4_line_filters(d)


def q56_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep vocabulary table: top-20 corpus tokens with count,
    rank, share, cumulative coverage.  groupBy(token) with partial agg ->
    TakeOrderedAndProject(20); the rank/cumsum window runs over the 20-row
    result only, corpus total joined as a 1-row broadcast."""
    return textstats.vocab_coverage(_t(spark, sf_dir, "documents"))


Q57_QUERY = "spark window merge"
Q58_CHUNK_SIZE, Q58_STRIDE = 64, 48
Q60_TARGET_PRED = "lang = 'en'"
Q61_SPAN_K = 10


def q57_bm25_topk(spark, sf_dir):
    """Offline BM25 top-10 for a fixed query — the ranking the reference
    delegates to OpenSearch's BM25Similarity (pipelines.py i14y push),
    run corpus-side: query-term filter BEFORE the shuffle, N/avgdl/df as
    broadcast stats, TakeOrderedAndProject for the top-k."""
    from .operators import retrieval

    return retrieval.bm25_topk(_t(spark, sf_dir, "documents"), Q57_QUERY, k=10)


def q58_doc_chunks(spark, sf_dir):
    """RAG-style fixed-stride token chunking (64-token windows, stride 48)
    over a doc_id%7==0 slice: pure map + explode, zero shuffles; chunk_hash
    is the downstream chunk-dedup key.  The slice keeps oracle rows ~5k."""
    from .operators import retrieval

    docs = _t(spark, sf_dir, "documents").filter(F.expr("doc_id % 7 = 0"))
    return retrieval.chunk_documents(docs, Q58_CHUNK_SIZE, Q58_STRIDE)


def q59_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) of the events log:
    one shuffle on user_id, window lag + running-sum boundary flags, the
    per-session rollup reuses the same partitioning.  Microsecond-exact
    integer timestamps on both engines."""
    from .operators import sessions

    return sessions.sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)


def q60_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (hashed-unigram 256-bucket LMs,
    target = lang='en'): bucket LMs built with one partial-agg groupBy
    each and burned into the scoring expression as literals, so corpus
    scoring is a zero-shuffle pure map (operators/curation.py)."""
    return curation.dsir_log_weights(
        _t(spark, sf_dir, "documents"), Q60_TARGET_PRED
    )


def q61_dup_spans(spark, sf_dir):
    """Exact duplicated-substring spans at 10-gram granularity (Lee et al.
    ExactSubstr surrogate) over docs ∪ a shifted 1-in-5 copy so real
    cross-doc duplication exists: one corpus-wide gram groupBy, span merge
    inside per-doc windows."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.expr("doc_id % 5 = 0")).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return dedup.duplicated_spans(_fan_out(docs.unionByName(dup), "doc_id"), k=Q61_SPAN_K)


def q62_corpus_profile(spark, sf_dir):
    """Per-language corpus profile: doc/token totals, EXACT distinct-token
    cardinality (two-level agg), and interpolated doc-length quantiles
    (Spark percentile == DuckDB quantile_cont); approx_percentile is the
    documented 100-TB switch in the operator."""
    return textstats.corpus_profile(_t(spark, sf_dir, "documents"))


Q63_K, Q63_W = 5, 4
Q65_BLOCK_SPAN = 100


def q63_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) document fingerprints: k=5-gram 60-bit hashes,
    window w=4 leftmost-min selection — gram hashing, window minima, and
    the per-doc distinct all inside the token array, so the operator is a
    pure map + explode with ZERO shuffles (operators/dedup.py)."""
    return dedup.winnow_fingerprints(
        _fan_out(_t(spark, sf_dir, "documents"), "doc_id"), k=Q63_K, w=Q63_W
    )


def q64_asof_join(spark, sf_dir):
    """Distributed backward as-of join (union + ignore-nulls running-last,
    ONE shuffle on the key): odd-event "trades" pick up each user's latest
    even-event "quote" at-or-before their timestamp, with staleness.
    Matches DuckDB's native ASOF LEFT JOIN row for row."""
    from .operators import temporal

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    trades = e.filter(F.expr("event_id % 2 = 1"))
    quotes = e.filter(F.expr("event_id % 2 = 0"))
    joined = temporal.asof_join(
        trades, quotes, on="user_id", left_ts="us", right_ts="us",
        right_cols=["value", "event_id"],
    )
    # nullable numerics surfaced as double on BOTH engines (NULL-bearing
    # int64 converts to pandas inconsistently; double+NULL is the proven
    # q60 shape)
    return joined.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("us").alias("trade_us"),
        F.col("value").alias("trade_value"),
        F.col("us_right").cast("double").alias("quote_us"),
        F.col("value_right").alias("quote_value"),
        F.col("event_id_right").cast("double").alias("quote_event_id"),
        (F.col("us") - F.col("us_right")).cast("double").alias("staleness_us"),
    )


def q65_inverted_index(spark, sf_dir):
    """Offline inverted-index shard build (the corpus side of the
    reference's OpenSearch push): per (term, doc-id block) rows with df,
    total_tf, and the sorted "doc:tf" posting list; block_span bounds the
    hottest term's reducer (operators/retrieval.py)."""
    from .operators import retrieval

    return retrieval.inverted_index(
        _t(spark, sf_dir, "documents"), block_span=Q65_BLOCK_SPAN
    )


def q66_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-5 tf-idf keywords (corpus-relative analog of the
    reference's nltk top-10 keyword extraction): tf/df from two-level
    aggs, term-to-term join (AQE skew territory, NOT broadcast — a 100-TB
    vocabulary outgrows an executor), per-doc window top-k with a total
    (tfidf desc, term asc) order for cross-engine reproducibility."""
    from .operators import retrieval

    return retrieval.tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=5)


Q67_LIST_K, Q67_RRF_K, Q67_TOP_N = 50, 60, 20
Q68_BIN_US = 3_600_000_000  # 1-hour bins ≈ 1-2 bins/session at 43 s median


def q67_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the offline BM25
    ranking (q57's query) with the dense cosine ranking (q21's probe
    vector) — the OpenSearch hybrid-query mode the reference's serving
    side exposes, run corpus-side.  Each ranker does its one corpus-scale
    pass; the fusion itself joins two top-50 lists (broadcast-sized by
    construction).  Nullable ranks surface as double on both engines."""
    from pyspark.sql.window import Window

    from .operators import retrieval

    bm = retrieval.bm25_topk(
        _t(spark, sf_dir, "documents"), Q57_QUERY, k=Q67_LIST_K
    ).withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    dn = (
        similarity.cosine_topk(emb, qvec, k=Q67_LIST_K)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        )
        .withColumnRenamed("vec_id", "doc_id")
    )
    fused = retrieval.rrf_fuse(
        {"bm25": bm, "dense": dn}, k=Q67_RRF_K, top_n=Q67_TOP_N
    )
    return fused.select(
        "doc_id",
        F.col("bm25_rank").cast("double").alias("bm25_rank"),
        F.col("dense_rank").cast("double").alias("dense_rank"),
        "rrf",
    )


def _q68_sessions(spark, sf_dir):
    from .operators import sessions

    return sessions.sessionize(_t(spark, sf_dir, "events"), gap_minutes=30).select(
        F.col("user_id").alias("s_user"), "session_idx", "start_us", "end_us"
    )


def q68_active_sessions(spark, sf_dir):
    """Point-in-interval join, bin-partitioned: for every event instant,
    how many sessions (across ALL users) were open — the naive
    `BETWEEN` theta-join is a BroadcastNestedLoopJoin non-starter at
    100 TB; here both sides equi-join on 1-hour time bins with an exact
    containment filter after (operators/intervals.py).  Left semantics
    recovered by joining pair counts back onto the points."""
    from .operators import intervals

    pts = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ev_us")
    )
    pairs = intervals.point_in_interval_join(
        pts, _q68_sessions(spark, sf_dir),
        point_ts="ev_us", start_col="start_us", end_col="end_us",
        bin_width=Q68_BIN_US,
    )
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("_n"))
    return pts.join(counts, "event_id", "left").select(
        "event_id",
        "ev_us",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_active"),
    )


def q69_session_concurrency(spark, sf_dir):
    """Sweep-line concurrency timeline over the session intervals:
    (ts_us, open-session count) at every change point.  The global
    running sum uses the two-pass range-partitioned prefix-sum (P-row
    offset table, partition-local windows — crawl/seqno.py's pattern),
    NEVER a single-partition window (operators/intervals.py)."""
    from .operators import intervals

    return intervals.concurrency_timeline(_q68_sessions(spark, sf_dir))


Q72_EXCERPT_CHARS = 200


def q72_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram containment (Broder 1997) over (excerpt,
    original) pairs: every doc_id%9==0 document gets a 200-char excerpt
    doc (id +200000); the excerpt's shingles are ~fully contained in the
    original while Jaccard stays tiny — the quote/subset-detection case
    Jaccard misses (operators/dedup.py)."""
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    excerpts = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.substring(F.col("text"), 1, Q72_EXCERPT_CHARS).alias("text"),
    )
    corpus = d.unionAll(excerpts)
    pairs = excerpts.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") - 200000).alias("id_b")
    )
    return dedup.ngram_containment_pairs(corpus, pairs)


def q73_session_window_builtin(spark, sf_dir):
    """Gap sessionization via Spark's BUILT-IN session_window (the same
    operator Structured Streaming uses for watermark-merged live
    sessions) — the declarative counterpart of q59's window/lag
    formulation, pinning that the built-in and the composed plan agree
    with the single-node oracle.  Spark's rule: an event at exactly
    start+gap since the previous event MERGES (windows [s, last+gap)
    overlap on the boundary); end_us = last event + gap."""
    gap_us = 30 * 60 * 1_000_000
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window(F.col("ts").cast("timestamp"), "30 minutes").alias("w"),
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
            "total_value",
        )
    )


def q70_source_reputation(spark, sf_dir):
    """Source-level curation rollup (RefinedWeb/Dolma domain filtering):
    per-source exact-dup mass, short-doc share, composite score and keep
    flag — ONE partial-agg'd groupBy on the source key, output sized by
    domain count, keep flag broadcast-joinable back to the corpus
    (operators/curation.py)."""
    return curation.source_reputation(_t(spark, sf_dir, "documents"))


def q71_crawl_delta(spark, sf_dir):
    """Snapshot diff between two crawls (the content-level generalization
    of the reference's sitemap delta + freshness re-index): new snapshot
    synthesized deterministically from documents (drop %7 ids, append a
    suffix to %5 texts, add %11 ids shifted +100000), then one full-outer
    join on 128-bit digests — the wide text never rides the shuffle
    (operators/snapshots.py)."""
    from .operators import snapshots

    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    surviving = d.filter(~(F.col("doc_id") % 7 == 0)).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [updated]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("new: "), F.col("text")).alias("text"),
    )
    return snapshots.snapshot_delta(d, surviving.unionAll(added))


def q78_anchor_terms(spark, sf_dir):
    """Per-target anchor-text term aggregation: the arithmetic link graph
    (q54's formula) with each link carrying the source doc's first 4
    tokens as anchor text; top-3 terms per target
    (operators/graph.anchor_topk_terms)."""
    from .operators import graph

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"), "text"
    )
    n = d.count()
    dsts = ", ".join(f"(id * {a} + {b}) % {n}L" for a, b in _Q54_EDGE_MULTS)
    edges = (
        d.select(F.col("id").alias("src"), F.explode(F.expr(f"array({dsts})")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    anchors = d.select(
        F.col("id").alias("src"),
        F.expr(
            f"concat_ws(' ', slice(regexp_extract_all(lower(text), '{dedup.TOKEN_PATTERN}', 0), 1, 4))"
        ).alias("anchor"),
    )
    return (
        graph.anchor_topk_terms(edges.join(anchors, "src"), k=3)
        .withColumnRenamed("dst", "doc_id")
    )


def q77_bpe_pair_counts(spark, sf_dir):
    """First-iteration BPE merge candidates: occurrence-weighted adjacent
    char-pair counts over the corpus vocabulary, top-100
    (operators/textstats.bpe_pair_counts)."""
    from .operators import textstats

    return textstats.bpe_pair_counts(_t(spark, sf_dir, "documents"), top_n=100)


def q76_incremental_novelty(spark, sf_dir):
    """Incremental cross-corpus near-dedup (the daily-ingest run): a
    synthetic 'today's batch' — exact copies (%3==0), suffix-modified
    near-copies (%3==1), genuinely novel docs (%3==2), ids shifted
    +500000 — LSH-deduped AGAINST the existing corpus, never against
    itself (operators/dedup.lsh_novelty)."""
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    batch = d.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(" appended update note")))
        .otherwise(F.concat(F.lit("novel document "), F.md5("text")))
        .alias("text"),
    )
    return dedup.lsh_novelty(batch, d, k=16, bands=8, threshold=0.8)


_Q75_EDGE_MULTS = ((5, 3), (17, 7), (23, 2))
Q75_ITERATIONS = 5


def q75_hits(spark, sf_dir):
    """HITS hub/authority scores (fixed 5-iteration L1-normalized power
    method) over a deterministic arithmetic link graph — the crawl
    seed-selection companion to q54's PageRank (operators/graph.py)."""
    from .operators import graph

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("id"))
    n = docs.count()
    dsts = ", ".join(f"(id * {a} + {b}) % {n}L" for a, b in _Q75_EDGE_MULTS)
    edges = (
        docs.select(F.col("id").alias("src"), F.explode(F.expr(f"array({dsts})")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    scores = graph.hits(edges, docs, n_iter=Q75_ITERATIONS)
    return scores.select(F.col("id").alias("doc_id"), "authority", "hub")


def q74_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the dup-injected embedding corpus:
    k-means cells via the IVF coarse quantizer, within-cell pairwise cosine,
    drop iff a lower-id cell-mate scores >= 0.95.  Injected exact copies
    land in their original's cell at cosine 1.0 (recall 1.0 by
    construction); random 64-d pairs never reach the threshold
    (operators/similarity.py)."""
    from .operators import similarity

    emb = _embeddings_with_dups(spark, sf_dir)
    return similarity.semantic_dedup(emb, dim=64, n_cells=16, threshold=0.95)


def q79_revisit_schedule(spark, sf_dir):
    """Cho & Garcia-Molina change-rate revisit scheduling (the incremental
    crawler's freshness policy, generalizing the reference's freshness
    router): events replayed as a fetch history (user_id = url, value > 50
    = content changed), ONE partial-agg'd groupBy per URL
    (operators/temporal.revisit_schedule)."""
    from .operators import temporal

    fetches = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        (F.col("value") > 50.0).alias("changed"),
    )
    return temporal.revisit_schedule(fetches)


def q80_url_templates(spark, sf_dir):
    """URL template mining + crawl-trap detection: deterministic URL corpus
    synthesized from documents (host from source, path from lang/id/page,
    session param on %3==0), digit runs collapsed to {n}, per-(host,
    template) rollup with host share and trap flag
    (operators/urlmine.url_templates)."""
    from .operators import urlmine

    d = _t(spark, sf_dir, "documents")
    urls = d.select(
        F.concat(F.col("source"), F.lit(".example.gov")).alias("host"),
        F.concat(
            F.lit("/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("/item-"),
            (F.col("doc_id") % 13).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("?sid="), (F.col("doc_id") * 7).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("path"),
    )
    return urlmine.url_templates(urls, trap_threshold=30)


def q81_pmi_pairs(spark, sf_dir):
    """Top term-pair PMI by document co-occurrence, vocab-bounded so the
    per-doc self-join never exceeds vocab_size^2 pairs
    (operators/textstats.pmi_pairs)."""
    return textstats.pmi_pairs(
        _t(spark, sf_dir, "documents"), vocab_size=100, min_support=5, top_n=50
    )


def q82_sequence_packing(spark, sf_dir):
    """Concatenate-and-chunk context-window packing with a DISTRIBUTED
    prefix sum (range partition -> per-slice totals -> broadcast offsets),
    never the single-task global window (operators/packing.pack_documents)."""
    from .operators import packing

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.expr(f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)")).cast("long").alias("n_tokens")
    )
    return packing.pack_documents(d, ctx=2048)


def q83_token_quartiles(spark, sf_dir):
    """Exact quartile bucketing by per-doc token count via the distributed
    histogram (CCNet's head/middle/tail split, exact at any scale —
    percentile_approx would change the answer, percentile() would buffer
    the corpus) (operators/textstats.token_quartiles)."""
    d = textstats.token_quartiles(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quartile")


def q84_corpus_overlap(spark, sf_dir):
    """Corpus-level resemblance sketch between two crawl snapshots: k=64
    seeded min-hash components per corpus (map-side combine only) plus the
    exact distinct-digest Jaccard for reference
    (operators/dedup.corpus_overlap_sketch)."""
    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    surviving = d.filter(~(F.col("doc_id") % 7 == 0)).select(
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [updated]")))
        .otherwise(F.col("text"))
        .alias("text")
    )
    added = d.filter(F.col("doc_id") % 11 == 0).select(
        F.concat(F.lit("new: "), F.col("text")).alias("text")
    )
    return dedup.corpus_overlap_sketch(
        d.select("text"), surviving.unionAll(added), k=64
    )


_Q86_BANNER_TAIL = " official portal navigation menu privacy policy contact search help"


def q85_redirect_resolution(spark, sf_dir):
    """Redirect-chain resolution by pointer jumping (O(log L) shuffles):
    deterministic functional graph from documents — 3-hop chains for
    doc_id%10<3, a 2-cycle pair at doc_id%50==37 — resolved to terminal
    URL + hop count, loops flagged (operators/graph.resolve_redirects)."""
    from .operators import graph

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("id"))
    chain = d.filter(F.col("id") % 10 < 3).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    cyc_fwd = d.filter(F.col("id") % 50 == 37).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    cyc_back = d.filter(F.col("id") % 50 == 37).select(
        (F.col("id") + 1).alias("src"), F.col("id").alias("dst")
    )
    return graph.resolve_redirects(chain.unionAll(cyc_fwd).unionAll(cyc_back))


def q86_host_boilerplate(spark, sf_dir):
    """Host-level boilerplate line discovery (RefinedWeb/CCNet line-wise
    filter): a 10-token banner injected on half of each source's docs must
    surface as boilerplate (share >= 0.3, host_docs >= 10)
    (operators/curation.host_boilerplate)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("source"), F.lit(_Q86_BANNER_TAIL + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)"
    with_lines = d.select(
        "doc_id", "host", F.expr(_LINES_EXPR.format(t=toks)).alias("lines")
    )
    return curation.host_boilerplate(with_lines, min_docs=10, min_share=0.3)


def q87_crawl_budget(spark, sf_dir):
    """Largest-remainder apportionment of a 1000-slot crawl budget across
    hosts proportional to document count — integer allocations summing
    exactly to the budget (operators/urlmine.allocate_budget)."""
    from .operators import urlmine

    hosts = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("host"))
        .agg(F.count("*").alias("score"))
    )
    return urlmine.allocate_budget(hosts, budget=1000)


def q88_zipf_fit(spark, sf_dir):
    """One-row Zipf's-law OLS fit (slope/intercept of ln freq vs ln rank,
    top-1000 terms) — the corpus-health diagnostic
    (operators/textstats.zipf_fit)."""
    return textstats.zipf_fit(_t(spark, sf_dir, "documents"), top_n=1000)


def q89_length_outliers(spark, sf_dir):
    """Per-language token-length z-scores + |z| >= 3 outlier flag — the
    truncation/concatenation artifact detector
    (operators/textstats.length_outliers)."""
    return textstats.length_outliers(_t(spark, sf_dir, "documents"))


def q90_recrawl_plan(spark, sf_dir):
    """Composed recrawl planning: the q79 revisit schedule (URLs due within
    30 days, mapped to hosts by url_id % 20) reconciled against the q87
    politeness budget allocation — per host, due count, allocated slots,
    coverage ratio and deficit.  The composition is a broadcast-sized
    host-level join; both inputs are the proven q79/q87 operators."""
    from .operators import temporal, urlmine

    fetches = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        (F.col("value") > 50.0).alias("changed"),
    )
    due = (
        temporal.revisit_schedule(fetches)
        .filter(F.col("next_fetch_days") <= 30.0)
        .select(F.concat(F.lit("src"), (F.col("url_id") % 20).cast("string")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_due"))
    )
    hosts = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("host"))
        .agg(F.count("*").alias("score"))
    )
    alloc = urlmine.allocate_budget(hosts, budget=1000)
    return alloc.join(due, "host", "left").select(
        "host",
        "alloc",
        F.coalesce(F.col("n_due"), F.lit(0)).cast("long").alias("n_due"),
        F.when(F.coalesce(F.col("n_due"), F.lit(0)) == 0, F.lit(1.0))
        .otherwise(F.round(F.least(F.lit(1.0), F.col("alloc") / F.col("n_due")), 6))
        .alias("coverage"),
        F.greatest(F.coalesce(F.col("n_due"), F.lit(0)) - F.col("alloc"), F.lit(0))
        .cast("long")
        .alias("deficit"),
    )


def q91_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-URL cardinality per group (operators/
    sketches.hll_distinct) — the mergeable per-host distinct counter that
    replaces the reference's Redis URL sets at 100-TB scale.  Deterministic
    URL corpus: each doc explodes into 40 draws 'u' || (doc_id*40+i) % K;
    the per-lang grouping (K=3000, ~2.4k distinct) exercises the raw
    harmonic-mean branch, the per-source grouping (K=150, <=150 distinct)
    the linear-counting small-range correction.  Registers combine
    map-side; exact distinct rides along for the error column (eval only —
    the sketch exists so production never pays it)."""
    from .operators import sketches

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.explode(F.expr("sequence(0, 39)")).alias("i")
    )
    by_lang = d.select(
        F.col("lang").alias("grp"),
        F.concat(F.lit("u"), ((F.col("doc_id") * 40 + F.col("i")) % 3000).cast("string")).alias(
            "url"
        ),
    )
    by_source = d.select(
        F.col("source").alias("grp"),
        F.concat(F.lit("u"), ((F.col("doc_id") * 40 + F.col("i")) % 150).cast("string")).alias(
            "url"
        ),
    )
    lang_est = sketches.hll_distinct(by_lang, "url", ["grp"], include_exact=True)
    src_est = sketches.hll_distinct(by_source, "url", ["grp"], include_exact=True)
    return lang_est.select(F.lit("lang").alias("grp_type"), "*").unionAll(
        src_est.select(F.lit("source").alias("grp_type"), "*")
    )


def q92_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES, operators/curation.weighted_sample): top-25 documents by
    ln(u)/weight with hash-uniform u, weight = n_chars — the reproducible
    quality-weighted subset draw of a corpus build.  Key is map-side
    codegen, the global top-k compiles to TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("n_chars").alias("weight"))
    return curation.weighted_sample(d, k=25, id_col="doc_id", weight_col="weight")


def q93_temperature_mixture(spark, sf_dir):
    """Temperature-resampled language mixture (XLM-R sampling rule,
    alpha=0.3) with an EXACT integer budget split via Hamilton largest
    remainder (operators/curation.temperature_allocation composing
    urlmine.allocate_budget): low-resource languages up-weighted toward
    uniform, allocations summing exactly to the 100k-doc budget."""
    langs = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    return curation.temperature_allocation(langs, budget=100_000, alpha=0.3)


def q94_count_min_freq(spark, sf_dir):
    """Count-Min frequency sketch over the corpus token stream
    (operators/sketches.cm_sketch, d=4 x w=1024 counters): the mergeable
    point-frequency counter that replaces the reference's Redis tallies
    when the vocabulary has billions of keys — the shuffle carries at most
    d*w rows per partition at any corpus size, and the 4096-row sketch
    BROADCASTS for probing so the probe side never shuffles.  Probes: the
    exact top-15 tokens (the heavy hitters CM is accurate for) plus the 5
    rarest (where collision overcount concentrates); the exact vocabulary
    count is eval-only — production pays only the sketch."""
    from .operators import sketches

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.expr(f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)")).alias("token"))
    )
    sketch = sketches.cm_sketch(toks, "token")
    vocab = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    probes = vocab.orderBy(F.desc("exact_count"), F.asc("token")).limit(15).unionAll(
        vocab.orderBy(F.asc("exact_count"), F.asc("token")).limit(5)
    )
    est = sketches.cm_estimate(sketch, probes.select("token"), "token")
    return probes.join(est, "token").select(
        "token",
        "exact_count",
        "cm_est",
        (F.col("cm_est") - F.col("exact_count")).alias("overcount"),
    )


def q95_hdr_length_quantiles(spark, sf_dir):
    """Per-language document-length quantiles (p50/p90/p99) from an HDR
    log-linear histogram (operators/sketches.hdr_quantiles): bucket index
    is PURE INTEGER (bin()-length octave + shift sub-bucket, no ln/pow per
    row, no cross-engine ulp risk), histograms merge by count-sum, and
    quantile extraction runs over the tiny histogram table — the corpus is
    never sorted.  Rank rule is integer type-1 ceil(q*n) via
    (num*n+den-1) DIV den; exact quantiles ride along eval-only with the
    <= 1/16 relative-error bound checked as rel_err."""
    from .operators import sketches

    d = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    return sketches.hdr_quantiles(d, "n_chars", ["lang"], include_exact=True)


def q96_kmeans_clusters(spark, sf_dir):
    """Full-corpus distributed Lloyd k-means over the embedding column
    (operators/clustering.kmeans, k=8, 2 update rounds + final assign):
    the cluster structure SemDeDup-style pruning and cluster-balanced
    selection build on.  Assignment passes are pure maps against LITERAL
    centroids (zero shuffle, codegen); each update shuffles <= k*d rows per
    partition (posexplode + partial agg over k*d keys); the driver holds
    only the k*d centroid table per iteration — O(1) in corpus size.
    Determinism: centroids and distances rounded 6 dp, ties to the lower
    cluster id, so the unrolled-CTE DuckDB oracle reproduces the exact
    assignment."""
    from .operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    return clustering.kmeans(emb, "embedding", "vec_id", k=8, n_updates=2)


def q97_embedding_covariance(spark, sf_dir):
    """Embedding mean + covariance upper triangle (1 <= i <= j <= 64) —
    the whitening/PCA statistics computed 100% JVM-side
    (operators/clustering.embedding_covariance): the d*(d+1)/2 cross
    moments explode MAP-SIDE and partial-agg to <= 2,080 shuffle rows per
    partition at any corpus size; the d-row means table broadcasts for the
    enrichment join.  Output rounded 6 dp."""
    from .operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    return clustering.embedding_covariance(emb, "embedding", dim=64)


def q98_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced corpus selection — the composed selection loop a
    training-data build runs over embeddings: q96's full-corpus k-means
    gives the strata, q87's Hamilton apportionment splits a 200-doc budget
    EXACTLY proportional to cluster size, and a per-stratum A-ES draw
    (curation.stratified_weighted_sample, weight = 1/(1+dist) so central/
    typical points win) picks WHICH documents fill each quota.  Every
    stage is a proven oracle-backed operator; the scalable two-phase
    per-group top-k means no stratum is ever sorted in one task."""
    from .operators import clustering, curation, urlmine

    emb = _t(spark, sf_dir, "embeddings")
    assigned = clustering.kmeans(emb, "embedding", "vec_id", k=8, n_updates=2)
    assigned = assigned.localCheckpoint(eager=True)  # pay the Lloyd passes once
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("score"))
    alloc = urlmine.allocate_budget(sizes, host_col="cluster", budget=200).select(
        F.col("host").alias("cluster"), "alloc"
    )
    weighted = assigned.select(
        "cluster", "vec_id", (F.lit(1.0) / (F.lit(1.0) + F.col("dist"))).alias("weight")
    )
    picked = curation.stratified_weighted_sample(
        weighted, alloc, strata_col="cluster", id_col="vec_id", weight_col="weight"
    )
    return picked.select(
        "cluster", "vec_id", F.round("weight", 6).alias("weight"), "sample_key", "sample_rank"
    )


def q99_leakage_safe_split(spark, sf_dir):
    """Host-grouped train/val/test assignment (curation.group_split,
    60/20/20 on md5(source) — wider eval fractions than the 80/10/10
    default so all three branches fire over the fixture's 20 hosts): every
    document from one host lands in the same split, so host-level near-dups
    and boilerplate can never straddle the train/eval boundary.  Pure map —
    zero shuffle, zero joins, stable under any rerun or scale-up."""
    from .operators import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return curation.group_split(
        docs, "source", splits=[("train", 0.6), ("val", 0.2), ("test", 0.2)]
    )


def q100_ngram_diversity(spark, sf_dir):
    """Per-source distinct-n-gram diversity (n = 1..3) — the corpus-level
    boilerplate/template detector complementing q42's per-doc repetition
    (textstats.ngram_diversity): two-level agg, both shuffles partial-agg'd
    uniform (source, n, gram) keys, nothing corpus-sized collected."""
    return textstats.ngram_diversity(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


def q101_heaps_fit(spark, sf_dir):
    """One-row Heap's-law fit V(N) ~ k*N^beta (vocabulary growth vs corpus
    size, q88's companion diagnostic): growth curve sampled at 16 integer
    id thresholds, first-occurrence table from one vocabulary-sized
    groupBy, OLS in log space (textstats.heaps_fit).  Fitted over TRIGRAM
    vocabulary — the fixture's unigram vocabulary is a closed 31-word pool
    that saturates in the first documents (beta would be a degenerate 0);
    trigram vocabulary grows through the whole corpus, exercising the fit."""
    return textstats.heaps_fit(_t(spark, sf_dir, "documents"), gram_n=3)


def q102_source_kl_drift(spark, sf_dir):
    """Per-source KL(P_source || P_corpus) over unigrams — the domain-shift
    detector a mixture build watches (textstats.source_kl_drift): corpus
    collapses once to (source, token) counts; every later stage is
    vocabulary-sized; no smoothing needed so the SQL oracle is exact."""
    return textstats.source_kl_drift(_t(spark, sf_dir, "documents"))


def q103_cluster_survivors(spark, sf_dir):
    """Survivor selection over near-dup clusters — the q45 composition
    carried to the step a dedup pipeline actually ships: LSH-verified pairs
    -> connected components -> keep the BEST member per cluster
    (dedup.survivor_selection: max char-length, ties to min doc_id).
    Plan: q45's pair pipeline + one partial-agg'd groupBy(label) + one
    label join — no windows, so million-member boilerplate clusters never
    serialize through one task."""
    d = _docs_with_dups(spark, sf_dir)
    pairs = (
        dedup.minhash_lsh_pairs(d, k=16, bands=8, threshold=0.8)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cc = dedup.connected_components(pairs, d.select("doc_id"), id_col="doc_id")
    return dedup.survivor_selection(cc, d, id_col="doc_id")


Q104_THRESHOLD = 0.9


def q104_semantic_decontamination(spark, sf_dir):
    """Embedding-space decontamination (similarity.semantic_decontaminate):
    flag corpus vectors within cosine 0.9 of ANY eval vector — the
    paraphrase-robust companion to q40's n-gram decontamination.  Eval set
    = the 8 original vectors vec_id in {0,10,..,70}; the dup-injected
    corpus carries exact copies of them at +100000 (must flag, cosine 1.0)
    plus copies of non-eval vectors (must stay clean).  The eval side is
    compiled into literal codegen'd cosine expressions, so the corpus-side
    plan is a pure map — zero joins, zero shuffles, zero UDFs."""
    from .operators import similarity

    base = _t(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 80)
    evals = [
        list(r["embedding"])
        for r in base.filter(is_eval).orderBy("vec_id").select("embedding").collect()
    ]
    corpus = _embeddings_with_dups(spark, sf_dir).filter(~is_eval)
    return similarity.semantic_decontaminate(corpus, evals, threshold=Q104_THRESHOLD)


def q105_host_cap(spark, sf_dir):
    """Hot-host downsampling (curation.host_cap): keep at most 10 docs per
    source by deterministic md5 order.  Exercises the skew-safe two-phase
    shape — per-host counts broadcast back, map-side md5-prefix prefilter
    (~cap*safety rows/host survive regardless of host size), exact window
    over the slice only, counts-anchored guard for under-delivering
    hosts."""
    return curation.host_cap(
        _t(spark, sf_dir, "documents"), cap=10, group_col="source", id_col="doc_id"
    )


def q106_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality buckets (curation.perplexity_buckets):
    per-language terciles of the q47 unigram-surprisal LM score, cutoffs
    from the q95 HDR integer sketch (q=1/3, 2/3) — CCNet's precomputed
    per-language threshold shape, so no per-language ntile sort ever runs;
    the cutoff table (langs x 2) broadcasts back over a pure map."""
    return curation.perplexity_buckets(_t(spark, sf_dir, "documents"))


def q107_strip_boilerplate(spark, sf_dir):
    """Host-boilerplate STRIPPING (curation.strip_host_boilerplate): q86's
    banner-injected corpus cleaned — every flagged (host, line) removed
    from every document, text re-assembled in original line order; docs
    whose lines all strip keep their row with clean_text = ''.  The strip
    join is (host, line)-keyed (AQE skew case), re-assembly one
    partial-agg'd groupBy(doc)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("source"), F.lit(_Q86_BANNER_TAIL + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)"
    with_lines = d.select(
        "doc_id", "host", F.expr(_LINES_EXPR.format(t=toks)).alias("lines")
    )
    return curation.strip_host_boilerplate(with_lines, min_docs=10, min_share=0.3)


Q108_LR, Q108_ITERS = 0.5, 5


def q108_logreg_train(spark, sf_dir):
    """Distributed logistic-regression TRAINING over the corpus
    (operators/training.logistic_regression): full-batch gradient descent,
    5 iterations, on three token-statistic features (bias, n_tokens/64,
    type-token ratio, avg-token-length/8) against the separable label
    ttr >= 0.45 — the self-trained half of the q52 quality-classifier
    story.  Per-row gradients are IEEE doubles TRUNCATED to 2^20
    fixed-point bigints and summed EXACTLY, so the learned weights are
    bit-identical at any parallelism and the DuckDB oracle carries a
    pure-Python re-derivation as literal rows.  Per iteration: one agg job
    whose shuffle is d+1 bigint rows per partition (map-side partial agg);
    the feature frame is persisted once so iterations never rescan the
    raw text.  Output: (iter, name, value) — weights after every
    iteration, then train_accuracy and n_docs."""
    from .operators import training

    feats = training.logreg_token_features(_t(spark, sf_dir, "documents"))
    history, acc, n = training.logistic_regression(
        feats, ["x0", "x1", "x2", "x3"], "y", lr=Q108_LR, n_iters=Q108_ITERS
    )
    rows = [
        (it + 1, f"w{j}", w)
        for it, ws in enumerate(history)
        for j, w in enumerate(ws)
    ]
    rows.append((Q108_ITERS, "train_accuracy", acc))
    rows.append((0, "n_docs", float(n)))
    return spark.createDataFrame(rows, "iter INT, name STRING, value DOUBLE").orderBy(
        "iter", "name"
    )


def q109_bpe_train(spark, sf_dir):
    """Iterative BPE tokenizer training — the full Sennrich merge loop
    whose first iteration is q77 (textstats.bpe_train, 8 merges): corpus
    collapses once to its vocabulary, every merge runs vocabulary-sized
    with exact integer pair counts and lexicographic tie-breaks, and the
    learned merge table (merge_rank, pair, merged, n) comes back in merge
    order.  The oracle is an independent pure-Python BPE trainer over the
    same parquet emitting literal rows."""
    return textstats.bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)


def q110_bpe_encode(spark, sf_dir):
    """Apply the q109-learned merge table to every document
    (operators/textstats.bpe_encode): train the 8-merge tokenizer on the
    corpus vocabulary, then encode the corpus with the merge table FOLDED
    INTO THE PLAN as literals — a zero-shuffle, zero-UDF, whole-stage-
    codegen map producing the per-doc subword counts that packing/budgeting
    stages consume.  (bpe_encode also ships an Arrow-batched pandas engine
    for production 30k-merge vocabularies; a unit test pins both engines
    equal.)  The oracle re-trains AND re-encodes in pure Python, emitting
    one literal row per document."""
    docs = _fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    merge_df = textstats.bpe_train(docs, n_merges=8)
    merges = [
        tuple(r["pair"].split(" "))
        for r in merge_df.orderBy("merge_rank").collect()
    ]
    return textstats.bpe_encode(docs, merges).orderBy("doc_id")


def q111_pq_ann(spark, sf_dir):
    """Product-quantization ANN with exact re-rank (operators/pq): train
    m=4 x k=8 codebooks with EXACT fixed-point distributed Lloyd
    (bit-identical at any parallelism — integer sums, like q108), encode
    the corpus to 4 one-byte codes per vector (32x compression at d=64),
    select vec_id=0's top-50 candidates by ADC lookup-table scoring (a
    zero-join pure map over the compressed codes), then exact-re-rank ONLY
    those 50 via a broadcast candidate join — the production two-stage PQ
    shape where the 100-TB side never shuffles.  The oracle re-derives
    codebooks, codes, ADC and exact distances in pure Python (identical
    left-associated IEEE folds) and emits the top-10 as literal rows."""
    from .operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    books = pq.pq_train(emb, dim=64, m=4, k=8, n_iters=3)
    top = pq.rerank_topk_pq(emb, books, qvec, k=10, r=50)
    return top.select("vec_id", F.round("sq_dist", 6).alias("sq_dist"))


_SOFT404_BODY = "404 - page not found. The requested URL does not exist on this server."


def q112_soft404(spark, sf_dir):
    """Soft-404 detection (crawlqc.soft404_flags): pages whose SERVER said
    200 but whose BODY is an error page — error-phrase regex hits AND a
    short body.  Fixture injects a true soft-404 (doc_id%23==0, body
    replaced) and a long article that merely MENTIONS 404 (doc_id%23==1,
    phrase appended) — the second must NOT flag.  Pure codegen scan, zero
    shuffles."""
    from .operators import crawlqc

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 0, F.lit(_SOFT404_BODY))
        .when(F.col("doc_id") % 23 == 1, F.concat(F.col("text"), F.lit(" ... error 404: page not found")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return crawlqc.soft404_flags(d)


def q113_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (crawlqc.mirror_host_pairs): host pairs serving
    byte-identical content, via distinct (content-hash, host) self-join on
    the hash — group size = duplication factor, never all-pairs-of-hosts —
    plus a broadcast per-host-totals join for containment.  Fixture mirrors
    every third document of each source onto a '<source>-m' host."""
    from .operators import crawlqc

    base = _t(spark, sf_dir, "documents").select(F.col("source").alias("host"), "text", "doc_id")
    mirrored = base.filter(F.col("doc_id") % 3 == 0).withColumn(
        "host", F.concat(F.col("host"), F.lit("-m"))
    )
    return crawlqc.mirror_host_pairs(base.unionByName(mirrored).drop("doc_id"))


def q114_crawl_traps(spark, sf_dir):
    """Crawl-trap scoring (crawlqc.crawl_trap_scores): hosts whose URL count
    explodes while serving duplicate content (calendar/session-id traps) —
    1 - distinct_content/pages per host, one partial-agg'd groupBy.
    Fixture triples the page count of every 4th source with byte-identical
    copies (URL variants of the same page); those score 0.75 and flag,
    clean hosts score 0.0."""
    from .operators import crawlqc

    base = _t(spark, sf_dir, "documents").select(F.col("source").alias("host"), "text")
    trap = base.filter(F.substring(F.col("host"), 4, 10).cast("int") % 4 == 0)
    corpus = base.unionByName(trap).unionByName(trap).unionByName(trap)
    return crawlqc.crawl_trap_scores(corpus)


def q115_adaptive_politeness(spark, sf_dir):
    """AIMD per-host politeness retuning (crawlqc.adaptive_politeness):
    multiplicative backoff on errors, additive recovery on success, as a
    CLOSED FORM over two plain windows (trailing error count drives the
    doubling, success run since last error the decrease) — the sequential
    control law made declarative, one shuffle on host, integer arithmetic
    (shiftleft) so the evolution is exactly reproducible.  The events log
    stands in for the fetch log (user_id%20 -> host, event_type='error' ->
    failed fetch)."""
    from .operators import crawlqc

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        "ts",
        "event_id",
        (F.col("event_type") == "error").alias("is_error"),
    )
    return crawlqc.adaptive_politeness(ev)


def q116_script_profile(spark, sf_dir):
    """Per-language character-script profile (crawlqc.script_profile):
    Latin/Cyrillic/digit fractions via length-difference after
    regexp_replace (pure JVM regex, no tokenization) and a
    Cyrillic-dominant document count — the lang-tag-vs-script mislabel
    signal.  Fixture prepends a Cyrillic phrase to every 7th document so
    the non-Latin path is exercised on the ASCII test corpus."""
    from .operators import crawlqc

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("привет мир как дела "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return crawlqc.script_profile(d)


def q117_quality_ensemble(spark, sf_dir):
    """Composite quality ranking (crawlqc.quality_ensemble): z-score three
    independent per-doc signals (log token count, type-token ratio,
    stopword fraction), average, and decile-bucket the corpus.  Corpus
    mean/std is ONE tiny aggregate broadcast back over the scored docs (the
    100-TB side is scanned once, never re-shuffled for the stats); the
    global ntile sorts on the ROUNDED composite + id so both engines order
    identically."""
    from .operators import crawlqc

    return crawlqc.quality_ensemble(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# registry + oracle SQL
# ---------------------------------------------------------------------------

QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_nation": q02_revenue_by_nation,
    "q03_customers_without_orders": q03_customers_without_orders,
    "q04_top_customers": q04_top_customers,
    "q05_priority_with_big_items": q05_priority_with_big_items,
    "q06_revenue_forecast": q06_revenue_forecast,
    "q07_top_orders_per_customer": q07_top_orders_per_customer,
    "q08_nations_union": q08_nations_union,
    "q09_customer_only_nations": q09_customer_only_nations,
    "q10_events_daily": q10_events_daily,
    "q11_avg_daily_value": q11_avg_daily_value,
    "q12_canonicalize": q12_canonicalize,
    "q13_strip_jsessionid": q13_strip_jsessionid,
    "q14_url_parts": q14_url_parts,
    "q15_doc_ids": q15_doc_ids,
    "q16_exact_dedup": q16_exact_dedup,
    "q17_token_stats": q17_token_stats,
    "q18_minhash_signature": q18_minhash_signature,
    "q19_minhash_dedup": q19_minhash_dedup,
    "q20_jaccard_pairs": q20_jaccard_pairs,
    "q21_cosine_topk": q21_cosine_topk,
    "q22_text_analysis": q22_text_analysis,
    "q23_simhash": q23_simhash,
    "q24_crawl_bfs": q24_crawl_bfs,
    "q25_lsh_near_dup_pairs": q25_lsh_near_dup_pairs,
    "q26_ann_lsh": q26_ann_lsh,
    "q27_multimodal_features": q27_multimodal_features,
    "q28_robots_eval": q28_robots_eval,
    "q29_sitemap_delta": q29_sitemap_delta,
    "q30_dap_pipeline": q30_dap_pipeline,
    "q31_freshness": q31_freshness,
    "q32_seeds_validation": q32_seeds_validation,
    "q33_sitemap_expand": q33_sitemap_expand,
    "q34_embedding_near_dup": q34_embedding_near_dup,
    "q35_training_pipeline": q35_training_pipeline,
    "q36_pdf_extraction": q36_pdf_extraction,
    "q37_sitemap_discovery": q37_sitemap_discovery,
    "q38_ann_ivf": q38_ann_ivf,
    "q39_bpe_token_stats": q39_bpe_token_stats,
    "q40_decontamination": q40_decontamination,
    "q41_stratified_sample": q41_stratified_sample,
    "q42_repetition_stats": q42_repetition_stats,
    "q43_pii_redaction": q43_pii_redaction,
    "q44_line_dedup": q44_line_dedup,
    "q45_dedup_clusters": q45_dedup_clusters,
    "q46_corpus_curation": q46_corpus_curation,
    "q47_unigram_surprisal": q47_unigram_surprisal,
    "q48_embedding_dup_clusters": q48_embedding_dup_clusters,
    "q49_politeness_budgets": q49_politeness_budgets,
    "q50_sitemap_schedule": q50_sitemap_schedule,
    "q51_bigram_surprisal": q51_bigram_surprisal,
    "q52_quality_classifier": q52_quality_classifier,
    "q53_corpus_mixture": q53_corpus_mixture,
    "q54_pagerank": q54_pagerank,
    "q55_c4_filters": q55_c4_filters,
    "q56_vocab_coverage": q56_vocab_coverage,
    "q57_bm25_topk": q57_bm25_topk,
    "q58_doc_chunks": q58_doc_chunks,
    "q59_event_sessions": q59_event_sessions,
    "q60_dsir_weights": q60_dsir_weights,
    "q61_dup_spans": q61_dup_spans,
    "q62_corpus_profile": q62_corpus_profile,
    "q63_winnow_fingerprints": q63_winnow_fingerprints,
    "q64_asof_join": q64_asof_join,
    "q65_inverted_index": q65_inverted_index,
    "q66_tfidf_top_terms": q66_tfidf_top_terms,
    "q67_hybrid_rrf": q67_hybrid_rrf,
    "q68_active_sessions": q68_active_sessions,
    "q69_session_concurrency": q69_session_concurrency,
    "q70_source_reputation": q70_source_reputation,
    "q71_crawl_delta": q71_crawl_delta,
    "q72_containment_pairs": q72_containment_pairs,
    "q73_session_window_builtin": q73_session_window_builtin,
    "q74_semantic_dedup": q74_semantic_dedup,
    "q75_hits": q75_hits,
    "q76_incremental_novelty": q76_incremental_novelty,
    "q77_bpe_pair_counts": q77_bpe_pair_counts,
    "q78_anchor_terms": q78_anchor_terms,
    "q79_revisit_schedule": q79_revisit_schedule,
    "q80_url_templates": q80_url_templates,
    "q81_pmi_pairs": q81_pmi_pairs,
    "q82_sequence_packing": q82_sequence_packing,
    "q83_token_quartiles": q83_token_quartiles,
    "q84_corpus_overlap": q84_corpus_overlap,
    "q85_redirect_resolution": q85_redirect_resolution,
    "q86_host_boilerplate": q86_host_boilerplate,
    "q87_crawl_budget": q87_crawl_budget,
    "q88_zipf_fit": q88_zipf_fit,
    "q89_length_outliers": q89_length_outliers,
    "q90_recrawl_plan": q90_recrawl_plan,
    "q91_hll_distinct": q91_hll_distinct,
    "q92_weighted_sample": q92_weighted_sample,
    "q93_temperature_mixture": q93_temperature_mixture,
    "q94_count_min_freq": q94_count_min_freq,
    "q95_hdr_length_quantiles": q95_hdr_length_quantiles,
    "q96_kmeans_clusters": q96_kmeans_clusters,
    "q97_embedding_covariance": q97_embedding_covariance,
    "q98_cluster_balanced_sample": q98_cluster_balanced_sample,
    "q99_leakage_safe_split": q99_leakage_safe_split,
    "q100_ngram_diversity": q100_ngram_diversity,
    "q101_heaps_fit": q101_heaps_fit,
    "q102_source_kl_drift": q102_source_kl_drift,
    "q103_cluster_survivors": q103_cluster_survivors,
    "q104_semantic_decontamination": q104_semantic_decontamination,
    "q105_host_cap": q105_host_cap,
    "q106_perplexity_buckets": q106_perplexity_buckets,
    "q107_strip_boilerplate": q107_strip_boilerplate,
    "q108_logreg_train": q108_logreg_train,
    "q109_bpe_train": q109_bpe_train,
    "q110_bpe_encode": q110_bpe_encode,
    "q111_pq_ann": q111_pq_ann,
    "q112_soft404": q112_soft404,
    "q113_mirror_hosts": q113_mirror_hosts,
    "q114_crawl_traps": q114_crawl_traps,
    "q115_adaptive_politeness": q115_adaptive_politeness,
    "q116_script_profile": q116_script_profile,
    "q117_quality_ensemble": q117_quality_ensemble,
}

_DUP_DOCS_SQL = (
    "(SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)"
)

_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
_SHINGLES = (
    f"CASE WHEN len({_TOKS}) >= 3 THEN "
    f"list_transform(range(1, len({_TOKS}) - 1), i -> "
    f"{_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]) "
    f"ELSE [array_to_string({_TOKS}, ' ')] END"
)


def _shingles_sql(k: int) -> str:
    """DuckDB token-k-gram expression, the general-``k`` counterpart of
    ``_SHINGLES`` (same whole-doc-gram convention below k tokens)."""
    concat = " || ' ' || ".join(f"{_TOKS}[i+{j}]" for j in range(k))
    return (
        f"CASE WHEN len({_TOKS}) >= {k} THEN "
        f"list_transform(range(1, len({_TOKS}) - {k - 2}), i -> {concat}) "
        f"ELSE [array_to_string({_TOKS}, ' ')] END"
    )


def _minhash_sql(src: str, k: int = 4) -> str:
    sig_cols = ", ".join(
        f"list_aggregate(list_transform(shingles, s -> md5('{i}:' || s)), 'min') AS minhash_{i}"
        for i in range(k)
    )
    return f"SELECT doc_id, {sig_cols} FROM (SELECT doc_id, {_SHINGLES} AS shingles FROM {src})"


ORACLES = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_revenue_by_nation": """
        SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q03_customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
    "q04_top_customers": """
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_custkey
        ORDER BY revenue DESC, o_custkey ASC LIMIT 10
    """,
    "q05_priority_with_big_items": """
        SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
    """,
    "q06_revenue_forecast": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
    """,
    "q07_top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, rk FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders) WHERE rk <= 3
    """,
    "q08_nations_union": """
        SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey AS nationkey FROM supplier
    """,
    "q09_customer_only_nations": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
        EXCEPT SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
    """,
    "q10_events_daily": """
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "q11_avg_daily_value": """
        SELECT event_type, round(sum(value) / 28.0, 4) AS avg_daily_value
        FROM events WHERE ts >= '2024-01-01' GROUP BY event_type
    """,
    "q12_canonicalize": """
        SELECT doc_id, 'https://example.gov/docs/' || doc_id || '?a=1&b=2' AS url_canon
        FROM documents
    """,
    "q13_strip_jsessionid": """
        SELECT doc_id, 'https://example.gov/p/' || doc_id || '?q=1' AS url_clean
        FROM documents
    """,
    "q14_url_parts": """
        SELECT doc_id,
               'www.agency' || (doc_id % 10) || '.gov' AS host,
               'www.agency' || (doc_id % 10) || '.gov' AS domain,
               'pdf' AS ext
        FROM documents
    """,
    "q15_doc_ids": """
        SELECT doc_id, sha256('https://example.gov/docs/' || doc_id) AS id FROM documents
    """,
    "q16_exact_dedup": f"""
        WITH d AS (SELECT doc_id, md5(text) AS content_hash FROM {_DUP_DOCS_SQL}),
        g AS (SELECT content_hash, count(*) AS dup_count, min(doc_id) AS representative
              FROM d GROUP BY content_hash)
        SELECT d.doc_id, d.content_hash, g.dup_count, g.representative
        FROM d JOIN g USING (content_hash)
    """,
    "q17_token_stats": f"""
        SELECT doc_id,
               len({_TOKS}) AS n_tokens,
               len(list_distinct({_TOKS})) AS n_unique_tokens,
               length(text) AS n_chars,
               round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                     / greatest(length(text), 1), 6) AS alpha_ratio
        FROM documents
    """,
    "q18_minhash_signature": _minhash_sql("documents"),
    "q19_minhash_dedup": f"""
        WITH sig AS (
            SELECT doc_id,
                   concat_ws('|', minhash_0, minhash_1, minhash_2, minhash_3) AS signature
            FROM ({_minhash_sql(_DUP_DOCS_SQL)})
        ), g AS (
            SELECT signature, count(*) AS cluster_size, min(doc_id) AS representative
            FROM sig GROUP BY signature
        )
        SELECT sig.doc_id, sig.signature, g.cluster_size, g.representative
        FROM sig JOIN g USING (signature)
    """,
    "q20_jaccard_pairs": f"""
        WITH sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM documents),
        pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                  WHERE doc_id % 2 = 0 AND doc_id < 100)
        SELECT id_a, id_b,
               round(len(list_distinct(list_intersect(a.s, b.s))) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        FROM pairs JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
    """,
    "q21_cosine_topk": """
        SELECT vec_id, rank FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY list_cosine_similarity(embedding,
                    (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id ASC) AS rank
            FROM embeddings)
        WHERE rank <= 10
    """,
    "q39_bpe_token_stats": r"""
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
               len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+')) AS n_bpe_tokens,
               round(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+')) * 1.0
                     / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS bpe_per_ws
        FROM documents
    """,
    "q40_decontamination": f"""
        WITH train AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 37 = 0
        ),
        eg AS (SELECT DISTINCT unnest(grams) AS gram FROM
               (SELECT {_shingles_sql(8)} AS grams FROM documents WHERE doc_id % 37 = 0)),
        tg AS (SELECT DISTINCT doc_id, unnest(grams) AS gram FROM
               (SELECT doc_id, {_shingles_sql(8)} AS grams FROM train)),
        hits AS (SELECT tg.doc_id, count(*) AS n FROM tg JOIN eg USING (gram) GROUP BY tg.doc_id)
        SELECT train.doc_id, coalesce(hits.n, 0) AS n_hit_ngrams,
               coalesce(hits.n, 0) > 0 AS contaminated
        FROM train LEFT JOIN hits USING (doc_id)
    """,
    "q41_stratified_sample": """
        SELECT doc_id, lang, source, substring(md5(doc_id::VARCHAR), 1, 4) AS bucket
        FROM documents
        WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
              CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4000'
                        WHEN 'es' THEN '4000' ELSE '2000' END
    """,
    "q47_unigram_surprisal": f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        total AS (SELECT sum(cnt) AS total FROM vocab)
        SELECT doc_id,
               round(avg(-log2(cnt * 1.0 / total)), 6) AS avg_surprisal,
               count(*) AS n_scored_tokens
        FROM toks JOIN vocab USING (tok) CROSS JOIN total
        GROUP BY doc_id
    """,
    "q46_corpus_curation": f"""
        WITH d AS (SELECT doc_id, text FROM {_DUP_DOCS_SQL}),
        reps AS (SELECT min(doc_id) AS doc_id
                 FROM (SELECT doc_id, md5(text) AS h FROM d) GROUP BY h),
        kept AS (SELECT d.doc_id, d.text FROM d JOIN reps USING (doc_id)),
        c2 AS (SELECT doc_id, chars, gram, count(*) AS cnt FROM (
                SELECT doc_id, length(text) AS chars, unnest({_shingles_sql(2)}) AS gram
                FROM kept) GROUP BY doc_id, chars, gram),
        top AS (SELECT doc_id, round(max(cnt * length(gram)) * 1.0 / greatest(chars, 1), 6) AS f2
                FROM c2 GROUP BY doc_id, chars),
        c5 AS (SELECT doc_id, chars, gram, count(*) AS cnt FROM (
                SELECT doc_id, length(text) AS chars, unnest({_shingles_sql(5)}) AS gram
                FROM kept) GROUP BY doc_id, chars, gram),
        dup AS (SELECT doc_id, round(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) * 1.0
                                     / greatest(chars, 1), 6) AS f5
                FROM c5 GROUP BY doc_id, chars),
        repf AS (SELECT top.doc_id FROM top JOIN dup USING (doc_id)
                 WHERE NOT (f2 > 0.20 OR f5 > 0.15)),
        tok AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM kept WHERE len({_TOKS}) >= 20),
        eval_grams AS (SELECT DISTINCT unnest({_shingles_sql(8)}) AS gram
                       FROM documents WHERE doc_id % 37 = 0),
        doc_grams AS (SELECT DISTINCT doc_id, unnest({_shingles_sql(8)}) AS gram
                      FROM (SELECT doc_id, text FROM kept)),
        contaminated AS (SELECT DISTINCT doc_id FROM doc_grams JOIN eval_grams USING (gram)),
        g AS (SELECT kept.doc_id, documents.lang, tok.n_tokens
              FROM kept JOIN repf USING (doc_id) JOIN tok USING (doc_id)
              JOIN documents ON documents.doc_id = kept.doc_id % 100000
              WHERE kept.doc_id NOT IN (SELECT doc_id FROM contaminated))
        SELECT doc_id, lang, n_tokens, substring(md5(doc_id::VARCHAR), 1, 4) AS bucket
        FROM g
        WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
              CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4000'
                        WHEN 'es' THEN '4000' ELSE '2000' END
    """,
    "q42_repetition_stats": f"""
        WITH c2 AS (
            SELECT doc_id, chars, gram, count(*) AS cnt FROM (
                SELECT doc_id, length(text) AS chars, unnest({_shingles_sql(2)}) AS gram
                FROM documents) GROUP BY doc_id, chars, gram
        ), top AS (
            SELECT doc_id, round(max(cnt * length(gram)) * 1.0 / greatest(chars, 1), 6)
                   AS top2gram_char_frac
            FROM c2 GROUP BY doc_id, chars
        ), c5 AS (
            SELECT doc_id, chars, gram, count(*) AS cnt FROM (
                SELECT doc_id, length(text) AS chars, unnest({_shingles_sql(5)}) AS gram
                FROM documents) GROUP BY doc_id, chars, gram
        ), dup AS (
            SELECT doc_id, round(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) * 1.0
                                 / greatest(chars, 1), 6) AS dup5gram_char_frac
            FROM c5 GROUP BY doc_id, chars
        )
        SELECT top.doc_id, top2gram_char_frac, dup5gram_char_frac,
               top2gram_char_frac > 0.20 OR dup5gram_char_frac > 0.15 AS repetitive
        FROM top JOIN dup USING (doc_id)
    """,
    "q43_pii_redaction": """
        WITH injected AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 3 = 0
                 THEN ' contact agent' || doc_id::VARCHAR || '@agency.gov now' ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                 THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
              || CASE WHEN doc_id % 7 = 0
                 THEN ' call 202-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
              AS text
            FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS n_ssns,
               len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b')) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
                   '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS redacted_text
        FROM injected
    """,
    "q44_line_dedup": f"""
        WITH dl AS (
            SELECT doc_id, CASE WHEN len(toks) = 0 THEN [] ELSE
                   list_transform(range(0, cast(ceil(len(toks) / 10.0) AS INT)),
                                  i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) END AS lines
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        ), pl AS (
            SELECT doc_id, unnest(lines) AS line, unnest(range(len(lines))) AS pos FROM dl
        ), r AS (
            SELECT doc_id, pos, line,
                   row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
            FROM pl
        )
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY pos), '') AS clean_text,
               count(*) FILTER (WHERE rn = 1) AS n_kept,
               count(*) FILTER (WHERE rn > 1) AS n_removed
        FROM r GROUP BY doc_id
    """,
    "q34_embedding_near_dup": """
        WITH e AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
    """,
    "q48_embedding_dup_clusters": """
        WITH RECURSIVE e AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
        ),
        edges AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
        ),
        und AS (SELECT id_a AS a, id_b AS b FROM edges
                UNION ALL SELECT id_b AS a, id_a AS b FROM edges),
        reach(src, dst) AS (
            SELECT vec_id, vec_id FROM e
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        ),
        lab AS (SELECT src AS vec_id, min(dst) AS cluster_rep FROM reach GROUP BY src)
        SELECT vec_id, cluster_rep,
               count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
        FROM lab
    """,
    "q35_training_pipeline": f"""
        WITH d AS (SELECT doc_id, text FROM {_DUP_DOCS_SQL}),
        hashed AS (SELECT doc_id, md5(text) AS h FROM d),
        reps AS (SELECT min(doc_id) AS doc_id FROM hashed GROUP BY h),
        stats AS (
            SELECT d.doc_id,
                   len({_TOKS}) AS n_tokens,
                   len(list_distinct({_TOKS})) AS n_unique_tokens,
                   round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                       / greatest(length(text), 1), 6) AS alpha_ratio
            FROM d JOIN reps USING (doc_id)
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(n_tokens), 4) AS avg_tokens
        FROM stats JOIN documents USING (doc_id)
        WHERE n_tokens >= 20 AND alpha_ratio >= 0.5
          AND n_unique_tokens * 1.0 / greatest(n_tokens, 1) >= 0.2
        GROUP BY lang
    """,
    "q51_bigram_surprisal": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
               FROM d, UNNEST(range(1, len(t))) AS u(i)),
        lm AS (SELECT bg, count(*) AS bg_cnt FROM bg GROUP BY bg),
        prefix AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS w1_cnt
                   FROM bg GROUP BY 1)
        SELECT doc_id,
               round(avg(-log2(bg_cnt * 1.0 / w1_cnt)), 6) AS avg_bigram_surprisal,
               count(*) AS n_scored_bigrams
        FROM bg JOIN lm USING (bg)
        JOIN prefix ON split_part(bg.bg, ' ', 1) = prefix.w1
        GROUP BY doc_id
    """,
    # weights are dyadic rationals ((n - 32768) / 65536), so the per-doc sum
    # is EXACT in doubles on both engines — no summation-order drift; the
    # sigmoid is the ALGEBRAIC x/(1+|x|) form (only IEEE correctly-rounded
    # ops) because JVM Math.exp and C libm exp differ by 1 ulp and flip
    # round(., 6) boundaries
    "q52_quality_classifier": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        tw AS (SELECT doc_id,
                      -- CAST matters: a bare 65536.0 is a DECIMAL literal in
                      -- DuckDB and silently moves the whole chain into
                      -- decimal arithmetic, off Spark's double path
                      ((('0x' || substring(md5(tok), 1, 6))::BIGINT % 4096)
                       * 2654435761 % 65536) / CAST(65536 AS DOUBLE)
                      - CAST(0.5 AS DOUBLE) AS w
               FROM (SELECT doc_id, unnest(t) AS tok FROM d)),
        m AS (SELECT doc_id, sum(w) / count(*) AS mean_w FROM tw GROUP BY doc_id),
        s AS (SELECT doc_id,
                     0.5 * (1.0 + (8.0 * coalesce(mean_w, 0.0))
                            / (1.0 + abs(8.0 * coalesce(mean_w, 0.0)))) AS score
              FROM d LEFT JOIN m USING (doc_id))
        SELECT d.doc_id,
               len(t) AS n_tokens,
               round(score, 6) AS quality_score,
               score >= 0.5 AS keep
        FROM d JOIN s USING (doc_id)
    """,
    "q53_corpus_mixture": """
        WITH agg AS (
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens
            FROM documents GROUP BY lang, source),
        total AS (SELECT sum(total_tokens) AS corpus_tokens FROM agg)
        SELECT lang, source, n_docs, total_tokens,
               round(total_tokens * 1.0 / corpus_tokens, 6) AS token_share,
               CAST(row_number() OVER (ORDER BY total_tokens DESC, lang, source) AS INT)
                   AS size_rank
        FROM agg CROSS JOIN total
    """,
}


def _q54_oracle_sql() -> str:
    """Independent 5-iteration power-method PageRank as chained SQL CTEs —
    no recursion, no kernel import: each r{{i}} is derived from r{{i-1}} by
    the textbook contribution join, over the same arithmetic edge formula
    the Spark query states."""
    dsts = ", ".join(f"(doc_id * {a} + {b}) % nn.n" for a, b in _Q54_EDGE_MULTS)
    d = Q54_DAMPING
    iters = []
    for i in range(1, Q54_ITERATIONS + 1):
        iters.append(f"""
        r{i} AS (
            SELECT nodes.id,
                   (CAST(1.0 AS DOUBLE) - {d}) / nn.n
                     + {d} * coalesce(c.mass, CAST(0.0 AS DOUBLE)) AS rank
            FROM nodes CROSS JOIN nn
            LEFT JOIN (
                SELECT e.dst AS id, sum(r{i - 1}.rank / deg.out_deg) AS mass
                FROM edges e
                JOIN r{i - 1} ON r{i - 1}.id = e.src
                JOIN deg ON deg.src = e.src
                GROUP BY e.dst) c ON c.id = nodes.id)""")
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        lst AS (
            SELECT CAST(doc_id AS BIGINT) AS src, [{dsts}] AS dsts
            FROM documents CROSS JOIN nn),
        raw_edges AS (
            -- positional lateral unnest: a select-list unnest alias that is
            -- filtered in a later CTE trips a DuckDB binder assertion
            SELECT src, CAST(dsts[i] AS BIGINT) AS dst
            FROM lst, UNNEST(range(1, 1 + len(dsts))) AS u(i)),
        edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE dst <> src),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
        {",".join(iters)}
        SELECT id AS doc_id, round(rank, 6) AS pagerank FROM r{Q54_ITERATIONS}
    """


ORACLES["q54_pagerank"] = _q54_oracle_sql()


def _q75_oracle_sql() -> str:
    """Independent 5-iteration HITS as chained SQL CTEs — hub₀ = 1, each
    iteration one contribution join + an L1 normalization via a 1-row sum
    CTE, over the same arithmetic edge formula the Spark query states."""
    dsts = ", ".join(f"(doc_id * {a} + {b}) % nn.n" for a, b in _Q75_EDGE_MULTS)
    iters = []
    for i in range(1, Q75_ITERATIONS + 1):
        prev_h = f"h{i - 1}"
        iters.append(f"""
        a{i}r AS MATERIALIZED (
            SELECT e.dst AS id, sum({prev_h}.hub) AS raw
            FROM edges e JOIN {prev_h} ON {prev_h}.id = e.src GROUP BY e.dst),
        a{i}s AS MATERIALIZED (SELECT sum(raw) AS s FROM a{i}r),
        a{i} AS MATERIALIZED (
            SELECT nodes.id,
                   coalesce(r.raw, CAST(0.0 AS DOUBLE)) / a{i}s.s AS auth
            FROM nodes CROSS JOIN a{i}s LEFT JOIN a{i}r r ON r.id = nodes.id),
        h{i}r AS MATERIALIZED (
            SELECT e.src AS id, sum(a{i}.auth) AS raw
            FROM edges e JOIN a{i} ON a{i}.id = e.dst GROUP BY e.src),
        h{i}s AS MATERIALIZED (SELECT sum(raw) AS s FROM h{i}r),
        h{i} AS MATERIALIZED (
            SELECT nodes.id,
                   coalesce(r.raw, CAST(0.0 AS DOUBLE)) / h{i}s.s AS hub
            FROM nodes CROSS JOIN h{i}s LEFT JOIN h{i}r r ON r.id = nodes.id)""")
    k = Q75_ITERATIONS
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        lst AS (
            SELECT CAST(doc_id AS BIGINT) AS src, [{dsts}] AS dsts
            FROM documents CROSS JOIN nn),
        raw_edges AS (
            SELECT src, CAST(dsts[i] AS BIGINT) AS dst
            FROM lst, UNNEST(range(1, 1 + len(dsts))) AS u(i)),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw_edges WHERE dst <> src),
        h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
        {",".join(iters)}
        SELECT a{k}.id AS doc_id, round(a{k}.auth, 6) AS authority,
               round(h{k}.hub, 6) AS hub
        FROM a{k} JOIN h{k} ON h{k}.id = a{k}.id
    """


ORACLES["q75_hits"] = _q75_oracle_sql()


def _q76_oracle_sql(k: int = 16, bands: int = 8, threshold: float = 0.8) -> str:
    """Independent DuckDB replication of the incremental novelty check:
    the synthetic batch re-derived in SQL, MinHash + banding for BOTH
    sides, cross-side candidate join, exact-Jaccard verify, lowest-id
    match via arg_min."""
    rows = k // bands

    def _bands(sig_cte: str, out_id: str) -> str:
        selects = []
        for b in range(bands):
            parts = " || '|' || ".join(f"minhash_{i}" for i in range(b * rows, (b + 1) * rows))
            selects.append(f"SELECT doc_id AS {out_id}, {b} AS band, md5({parts}) AS bh FROM {sig_cte}")
        return " UNION ALL ".join(selects)

    return f"""
        WITH newdocs AS MATERIALIZED (
            SELECT doc_id + 500000 AS doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text
                        WHEN doc_id % 3 = 1 THEN text || ' appended update note'
                        ELSE 'novel document ' || md5(text) END AS text
            FROM documents),
        nsig AS MATERIALIZED ({_minhash_sql("newdocs", k)}),
        csig AS MATERIALIZED ({_minhash_sql("documents", k)}),
        nband AS ({_bands("nsig", "new_id")}),
        cband AS ({_bands("csig", "corpus_id")}),
        cand AS (
            SELECT DISTINCT new_id, corpus_id
            FROM nband JOIN cband USING (band, bh)),
        shn AS (SELECT doc_id AS new_id, {_SHINGLES} AS s FROM newdocs),
        shc AS (SELECT doc_id AS corpus_id, {_SHINGLES} AS s FROM documents),
        ver AS (
            SELECT new_id, corpus_id,
                   len(list_distinct(list_intersect(a.s, b.s))) * 1.0
                       / len(list_distinct(list_concat(a.s, b.s))) AS j
            FROM cand JOIN shn a USING (new_id) JOIN shc b USING (corpus_id)),
        m AS (
            SELECT new_id, min(corpus_id) AS matched_id, arg_min(j, corpus_id) AS j
            FROM ver WHERE j >= {threshold} GROUP BY new_id)
        SELECT n.doc_id, m.matched_id IS NULL AS is_novel, m.matched_id,
               round(m.j, 6) AS jaccard
        FROM newdocs n LEFT JOIN m ON m.new_id = n.doc_id
    """


ORACLES["q76_incremental_novelty"] = _q76_oracle_sql()

def _q78_oracle_sql() -> str:
    """Edges, anchor slices, term counts and the per-target rank window
    re-derived independently in DuckDB."""
    dsts = ", ".join(f"(doc_id * {a} + {b}) % nn.n" for a, b in _Q54_EDGE_MULTS)
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        lst AS (
            SELECT CAST(doc_id AS BIGINT) AS src, [{dsts}] AS dsts
            FROM documents CROSS JOIN nn),
        raw_edges AS (
            SELECT src, CAST(dsts[i] AS BIGINT) AS dst
            FROM lst, UNNEST(range(1, 1 + len(dsts))) AS u(i)),
        edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE dst <> src),
        anchors AS (
            SELECT CAST(doc_id AS BIGINT) AS src, {_TOKS}[1:4] AS terms
            FROM documents),
        counts AS (
            SELECT dst, term, count(*) AS n
            FROM (SELECT e.dst, unnest(a.terms) AS term
                  FROM edges e JOIN anchors a ON a.src = e.src)
            GROUP BY dst, term),
        ranked AS (
            SELECT dst, term, n,
                   CAST(row_number() OVER (PARTITION BY dst ORDER BY n DESC, term ASC)
                        AS INTEGER) AS rank
            FROM counts)
        SELECT dst AS doc_id, term, n, rank FROM ranked WHERE rank <= 3
    """


ORACLES["q78_anchor_terms"] = _q78_oracle_sql()

# q77: vocabulary collapse + char-pair explode re-derived with DuckDB list
# lambdas; same (n desc, pair asc) tie-break and top-100 cut
ORACLES["q77_bpe_pair_counts"] = f"""
    WITH words AS (
        SELECT word, count(*) AS wc
        FROM (SELECT unnest({_TOKS}) AS word FROM documents)
        GROUP BY word),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(word)),
                      i -> word[i] || ' ' || word[i + 1])) AS pair, wc
        FROM words WHERE len(word) >= 2)
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 100
"""

# q55: the line synthesis re-derived verbatim (10-token chunking, arithmetic
# punct/javascript/short-line injections, lorem/'{' doc tells), then the C4
# rules applied independently with DuckDB list lambdas
ORACLES["q55_c4_filters"] = """
    WITH t AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents),
    base AS (
        SELECT doc_id,
               CASE WHEN len(tk) = 0 THEN []
                    ELSE list_transform(range(CAST(ceil(len(tk) / 10.0) AS BIGINT)),
                         i -> array_to_string(list_slice(tk, i * 10 + 1, i * 10 + 10), ' '))
               END AS bl
        FROM t),
    deco AS (
        SELECT doc_id,
               list_transform(range(len(bl)), i ->
                   CASE WHEN (doc_id + i) % 13 = 0 THEN 'too short.'
                        WHEN (doc_id * 7 + i) % 11 = 0 THEN bl[i + 1] || ' javascript.'
                        ELSE bl[i + 1] || CASE (doc_id + i) % 4
                             WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?' ELSE '' END
                   END)
               || CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum is standard.'] ELSE [] END
               || CASE WHEN doc_id % 19 = 0 THEN ['see config { x } here.'] ELSE [] END
               AS ls
        FROM base),
    txt AS (SELECT doc_id, ls, array_to_string(ls, chr(10)) AS text FROM deco),
    k AS (
        SELECT doc_id,
               list_filter(ls, l -> regexp_matches(rtrim(l), '[.!?"]$')
                   AND len(regexp_extract_all(l, '\\S+')) >= 3
                   AND NOT contains(lower(l), 'javascript')) AS kept
        FROM txt)
    SELECT txt.doc_id,
           len(ls) AS n_lines,
           len(kept) AS n_kept_lines,
           (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
            AND len(kept) >= 3) AS doc_keep,
           -- array_to_string([]) is NULL in DuckDB; Spark array_join gives ''
           coalesce(array_to_string(kept, chr(10)), '') AS kept_text
    FROM txt JOIN k USING (doc_id)
"""

ORACLES["q56_vocab_coverage"] = """
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents),
    counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
    total AS (SELECT sum(n) AS corpus_tokens FROM counts),
    top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20)
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank,
           round(n * 1.0 / corpus_tokens, 6) AS share,
           round(sum(n) OVER (ORDER BY n DESC, token
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1.0 / corpus_tokens, 6) AS cum_coverage
    FROM top CROSS JOIN total
"""


# q57: BM25 re-derived with the same Lucene idf form; every fractional
# literal is CAST AS DOUBLE so DuckDB never routes through DECIMAL (q52 note)
_Q57_TERMS = ", ".join(f"'{t}'" for t in sorted(set(Q57_QUERY.lower().split())))
ORACLES["q57_bm25_topk"] = f"""
    WITH dl AS (SELECT doc_id, len({_TOKS}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok AS term, count(*) AS tf
           FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
           WHERE tok IN ({_Q57_TERMS}) GROUP BY doc_id, tok),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
               round(sum(
                   ln(CAST(1.0 AS DOUBLE)
                      + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
                   * tf * CAST({1.2 + 1.0!r} AS DOUBLE)
                   / (tf + CAST(1.2 AS DOUBLE)
                      * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * dl) / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dl USING (doc_id) JOIN dft USING (term) CROSS JOIN stats
        GROUP BY tf.doc_id)
    SELECT doc_id, n_terms_hit, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""

# q58: chunk arithmetic re-derived with DuckDB list_slice (inclusive stop,
# clamped — same clamp semantics as Spark slice(arr, pos, length))
ORACLES["q58_doc_chunks"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id % 7 = 0),
    nc AS (SELECT doc_id, tk,
                  CASE WHEN len(tk) = 0 THEN 0
                       WHEN len(tk) <= {Q58_CHUNK_SIZE} THEN 1
                       ELSE CAST(ceil((len(tk) - {Q58_CHUNK_SIZE})
                                      / CAST({Q58_STRIDE} AS DOUBLE)) AS INT) + 1 END AS n
           FROM t),
    c AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                 list_slice(tk, i * {Q58_STRIDE} + 1, i * {Q58_STRIDE} + {Q58_CHUNK_SIZE}) AS ck
          FROM nc, UNNEST(range(n)) AS u(i))
    SELECT doc_id, chunk_idx,
           CAST(chunk_idx * {Q58_STRIDE} AS INT) AS start_token,
           CAST(len(ck) AS INT) AS n_chunk_tokens,
           array_to_string(ck, ' ') AS chunk_text,
           md5(array_to_string(ck, ' ')) AS chunk_hash
    FROM c
"""

# q59: boundary decisions on exact integer microseconds (epoch_us ==
# unix_micros under the UTC session q10 already relies on)
ORACLES["q59_event_sessions"] = """
    WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, event_id, value, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, value, us,
                 CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          FROM m)
    SELECT user_id, session_idx,
           count(*) AS n_events,
           min(us) AS start_us, max(us) AS end_us,
           max(us) - min(us) AS duration_us,
           round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, session_idx
"""

# q60: both bucket LMs and the add-one log-ratio re-derived in SQL; every
# token's bucket is observed (cr >= 1 by construction) so the join covers
ORACLES["q60_dsir_weights"] = f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    tok AS (SELECT doc_id, lang = 'en' AS is_t,
                   ('0x' || substring(md5(tok), 1, 6))::BIGINT % 256 AS b
            FROM (SELECT doc_id, lang, unnest(t) AS tok FROM d)),
    lm AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct, count(*) AS cr
           FROM tok GROUP BY b),
    tot AS (SELECT CAST(sum(ct) + 256 AS BIGINT) AS tt,
                   CAST(sum(cr) + 256 AS BIGINT) AS rt FROM lm),
    w AS (SELECT b, log2(((ct + 1) * rt) / ((cr + 1) * tt)) AS lw
          FROM lm CROSS JOIN tot),
    ds AS (SELECT doc_id, sum(lw) AS s, count(*) AS n
           FROM tok JOIN w USING (b) GROUP BY doc_id)
    SELECT d.doc_id, len(t) AS n_tokens,
           round(ds.s / ds.n, 6) AS dsir_log_weight
    FROM d LEFT JOIN ds USING (doc_id)
"""

# q61: positions/span merge re-derived with window functions over the same
# doc ∪ shifted-copy input
ORACLES["q61_dup_spans"] = f"""
    WITH d AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
    t AS (SELECT doc_id, {_TOKS} AS tk FROM d),
    g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                 array_to_string(list_slice(tk, i, i + {Q61_SPAN_K - 1}), ' ') AS gram
          FROM t, UNNEST(range(1, len(tk) - {Q61_SPAN_K - 2})) AS u(i)),
    gc AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
    dp AS (SELECT doc_id, pos FROM g JOIN gc USING (gram) WHERE c > 1),
    m AS (SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                           OR pos - lag(pos) OVER w > {Q61_SPAN_K} THEN 1 ELSE 0 END AS nw
          FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    s AS (SELECT doc_id, pos,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS span_id
          FROM m),
    sp AS (SELECT doc_id, span_id, max(pos) - min(pos) + {Q61_SPAN_K} AS st
           FROM s GROUP BY doc_id, span_id),
    agg AS (SELECT doc_id, count(*) AS n_dup_spans, CAST(sum(st) AS BIGINT) AS dup_tokens
            FROM sp GROUP BY doc_id)
    SELECT t.doc_id, len(tk) AS n_tokens,
           coalesce(n_dup_spans, 0) AS n_dup_spans,
           coalesce(dup_tokens, 0) AS dup_tokens,
           round(coalesce(dup_tokens, 0) / greatest(len(tk), 1), 6) AS dup_token_frac
    FROM t LEFT JOIN agg USING (doc_id)
"""

# q62: quantile_cont is DuckDB's linear-interpolation quantile — the same
# definition as Spark's exact percentile()
ORACLES["q62_corpus_profile"] = f"""
    WITH base AS (SELECT lang, len(regexp_extract_all(text, '\\S+')) AS nt,
                         {_TOKS} AS tk
                  FROM documents),
    pg AS (SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
                  quantile_cont(nt, 0.5) AS q50, quantile_cont(nt, 0.9) AS q90,
                  quantile_cont(nt, 0.99) AS q99
           FROM base GROUP BY lang),
    dt AS (SELECT lang, count(*) AS distinct_tokens
           FROM (SELECT DISTINCT lang, unnest(tk) AS tok FROM base) GROUP BY lang)
    SELECT lang, n_docs, total_tokens, distinct_tokens,
           round(q50, 4) AS p50_tokens, round(q90, 4) AS p90_tokens,
           round(q99, 4) AS p99_tokens
    FROM pg JOIN dt USING (lang)
"""


# q63: grams, 60-bit hashes, window minima, and the leftmost-min tie rule
# re-derived with DuckDB list lambdas (list_slice is inclusive, so the
# w-window at start i is list_slice(h, i, i + w - 1))
ORACLES["q63_winnow_fingerprints"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    h AS (SELECT doc_id,
                 CASE WHEN len(tk) >= {Q63_K} THEN
                     list_transform(range(1, len(tk) - {Q63_K - 2}),
                         i -> ('0x' || substring(md5(array_to_string(list_slice(tk, i, i + {Q63_K - 1}), ' ')), 1, 15))::BIGINT)
                 ELSE [] END AS hs
          FROM t),
    sel AS (SELECT doc_id,
                   CASE WHEN len(hs) >= {Q63_W} THEN
                       list_transform(range(1, len(hs) - {Q63_W - 2}),
                           i -> {{'pos': CAST(i - 2 + list_position(list_slice(hs, i, i + {Q63_W - 1}), list_min(list_slice(hs, i, i + {Q63_W - 1}))) AS INT),
                                  'fingerprint': list_min(list_slice(hs, i, i + {Q63_W - 1}))}})
                   WHEN len(hs) > 0 THEN
                       [{{'pos': CAST(list_position(hs, list_min(hs)) - 1 AS INT),
                          'fingerprint': list_min(hs)}}]
                   ELSE [] END AS fps
            FROM h)
    SELECT DISTINCT doc_id, f.pos AS pos, f.fingerprint AS fingerprint
    FROM (SELECT doc_id, unnest(fps) AS f FROM sel)
"""

# q64: DuckDB's NATIVE ASOF LEFT JOIN is the oracle — a genuinely
# independent implementation of the operator's semantics; the per-(user,ts)
# quote dedup mirrors the operator's max-payload-struct rule
ORACLES["q64_asof_join"] = """
    WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events),
    trades AS (SELECT * FROM e WHERE event_id % 2 = 1),
    quotes AS (SELECT user_id, us, value, event_id FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, us
                                     ORDER BY value DESC, event_id DESC) AS rn
        FROM e WHERE event_id % 2 = 0) WHERE rn = 1)
    SELECT t.event_id, t.user_id,
           t.us AS trade_us, t.value AS trade_value,
           CAST(q.us AS DOUBLE) AS quote_us, q.value AS quote_value,
           CAST(q.event_id AS DOUBLE) AS quote_event_id,
           CAST(t.us - q.us AS DOUBLE) AS staleness_us
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.us >= q.us
"""

# q65: tf, blocking, and the sorted "doc:tf" posting serialization
# re-derived relationally (string_agg ORDER BY == sort_array of structs on
# unique doc ids)
ORACLES["q65_inverted_index"] = f"""
    WITH tf AS (SELECT doc_id, tok AS term, count(*) AS tf
                FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
                GROUP BY doc_id, tok)
    SELECT term, CAST(doc_id // {Q65_BLOCK_SPAN} AS BIGINT) AS block,
           count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY term, block
"""

# q66: both engines rank on the ROUNDED score with term as the final
# tie-break — a total order, so the top-5 cut is engine-stable
ORACLES["q66_tfidf_top_terms"] = f"""
    WITH tf AS (SELECT doc_id, tok AS term, count(*) AS tf
                FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
                GROUP BY doc_id, tok),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT doc_id, term, tf, df,
                      round(tf * ln((n_docs + CAST(1.0 AS DOUBLE))
                                    / (df + CAST(1.0 AS DOUBLE))), 6) AS tfidf
               FROM tf JOIN dft USING (term) CROSS JOIN n),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, term) AS INT) AS rank
          FROM scored)
    SELECT doc_id, term, tf, df, tfidf, rank FROM r WHERE rank <= 5
"""

# q67: both rankers re-derived independently (q57's BM25 CTEs, q21's
# native list_cosine_similarity), fused with the RRF formula in SQL; both
# engines rank on ROUNDED bm25 and fuse on the exact 1/(60+rank) doubles
ORACLES["q67_hybrid_rrf"] = f"""
    WITH dl AS (SELECT doc_id, len({_TOKS}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok AS term, count(*) AS tf
           FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
           WHERE tok IN ({_Q57_TERMS}) GROUP BY doc_id, tok),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln(CAST(1.0 AS DOUBLE)
                      + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
                   * tf * CAST({1.2 + 1.0!r} AS DOUBLE)
                   / (tf + CAST(1.2 AS DOUBLE)
                      * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * dl) / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dl USING (doc_id) JOIN dft USING (term) CROSS JOIN stats
        GROUP BY tf.doc_id),
    bm AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
           FROM scored ORDER BY bm25 DESC, doc_id LIMIT {Q67_LIST_K}),
    dn AS (SELECT vec_id AS doc_id, rank AS dense_rank FROM (
               SELECT vec_id, row_number() OVER (
                   ORDER BY list_cosine_similarity(embedding,
                       (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
                   vec_id ASC) AS rank
               FROM embeddings)
           WHERE rank <= {Q67_LIST_K}),
    fused AS (SELECT coalesce(bm.doc_id, dn.doc_id) AS doc_id,
                     CAST(bm25_rank AS DOUBLE) AS bm25_rank,
                     CAST(dense_rank AS DOUBLE) AS dense_rank,
                     round(coalesce(CAST(1.0 AS DOUBLE) / ({Q67_RRF_K} + bm25_rank), 0)
                           + coalesce(CAST(1.0 AS DOUBLE) / ({Q67_RRF_K} + dense_rank), 0),
                           6) AS rrf
              FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id)
    SELECT doc_id, bm25_rank, dense_rank, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {Q67_TOP_N}
"""

_Q68_SESS_CTE = """
    e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, event_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, us,
                 CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          FROM m),
    sess AS (SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us
             FROM s GROUP BY user_id, session_idx)
"""

# q68: DuckDB's native inequality (IE) join is the oracle for the binned
# containment join — a genuinely independent physical strategy
ORACLES["q68_active_sessions"] = f"""
    WITH {_Q68_SESS_CTE},
    pts AS (SELECT event_id, epoch_us(ts) AS ev_us FROM events)
    SELECT p.event_id, p.ev_us, CAST(count(x.user_id) AS BIGINT) AS n_active
    FROM pts p LEFT JOIN sess x
        ON x.start_us <= p.ev_us AND p.ev_us <= x.end_us
    GROUP BY p.event_id, p.ev_us
"""

# q69: the oracle's running sum is DuckDB's single-node window — the
# Spark side must produce the identical timeline from the distributed
# two-pass prefix sum
ORACLES["q69_session_concurrency"] = f"""
    WITH {_Q68_SESS_CTE},
    d AS (SELECT start_us AS ts_us, 1 AS dl FROM sess
          UNION ALL SELECT end_us + 1, -1 FROM sess),
    g AS (SELECT ts_us, sum(dl) AS dl FROM d GROUP BY ts_us)
    SELECT ts_us, CAST(sum(dl) OVER (ORDER BY ts_us ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS active
    FROM g
"""

# q70: both engines compute score from the ROUNDED rates, so the keep
# cut cannot flip on last-ulp noise
ORACLES["q70_source_reputation"] = f"""
    WITH per AS (SELECT source, md5(text) AS h, len({_TOKS}) AS nt FROM documents),
    agg AS (SELECT source, count(*) AS n_docs,
                   round(avg(nt), 6) AS avg_tokens,
                   round(CAST(1.0 AS DOUBLE)
                         - count(DISTINCT h) * CAST(1.0 AS DOUBLE) / count(*), 6)
                       AS dup_rate,
                   round(avg(CASE WHEN nt < 50 THEN CAST(1.0 AS DOUBLE)
                                  ELSE CAST(0.0 AS DOUBLE) END), 6) AS short_rate
            FROM per GROUP BY source)
    SELECT source, n_docs, avg_tokens, dup_rate, short_rate,
           round((CAST(1.0 AS DOUBLE) - dup_rate)
                 * (CAST(1.0 AS DOUBLE) - short_rate), 6) AS score,
           (round((CAST(1.0 AS DOUBLE) - dup_rate)
                  * (CAST(1.0 AS DOUBLE) - short_rate), 6) >= CAST(0.5 AS DOUBLE)
            AND n_docs >= 3) AS keep
    FROM agg
"""

# q71: the synthetic new snapshot (drop %7, suffix %5, add %11 shifted)
# is re-derived in SQL; DuckDB diffs with its own full-outer join
ORACLES["q71_crawl_delta"] = """
    WITH oldd AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
    newd AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [updated]'
                        ELSE text END) AS new_hash
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000, md5('new: ' || text)
        FROM documents WHERE doc_id % 11 = 0),
    j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash,
                 CASE WHEN old_hash IS NULL THEN 'added'
                      WHEN new_hash IS NULL THEN 'removed'
                      WHEN old_hash <> new_hash THEN 'changed' END AS status
          FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
    SELECT doc_id, status, old_hash, new_hash FROM j WHERE status IS NOT NULL
"""

# q72: shingle sets, the synthetic excerpt corpus, and both containment
# directions re-derived with DuckDB list lambdas
ORACLES["q72_containment_pairs"] = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, substr(text, 1, {Q72_EXCERPT_CHARS})
        FROM documents WHERE doc_id % 9 = 0),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM corpus),
    pairs AS (SELECT doc_id + 200000 AS id_a, doc_id AS id_b
              FROM documents WHERE doc_id % 9 = 0)
    SELECT id_a, id_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6)
               AS containment_a_in_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 / len(b.s), 6)
               AS containment_b_in_a,
           round(len(list_intersect(a.s, b.s)) * 1.0
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM pairs JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
"""

# q73: Spark's built-in session_window vs the window/lag single-node
# derivation; merge-at-exact-gap (>=) is Spark's documented rule, and
# end = last event + gap
ORACLES["q73_session_window_builtin"] = """
    WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, event_id, value, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, value, us,
                 CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          FROM m)
    SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, session_idx
"""


# q79: Cho & Garcia-Molina estimator re-derived in SQL over the same
# replayed fetch history; sums cast to BIGINT to match Spark's long
ORACLES["q79_revisit_schedule"] = """
    WITH f AS (SELECT user_id AS url_id, epoch_us(ts) AS us,
                      (value > 50.0) AS changed FROM events),
    a AS (SELECT url_id, count(*) AS n_visits,
                 CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                 max(us) - min(us) AS span_us
          FROM f GROUP BY url_id),
    e AS (SELECT url_id, n_visits, n_changes,
                 span_us / 86400000000.0 / (n_visits - 1) AS iv,
                 -ln((n_visits - n_changes + 0.5) / (n_visits + 0.5)) AS r_hat
          FROM a WHERE n_visits >= 2 AND span_us > 0)
    SELECT url_id, n_visits, n_changes,
           round(iv, 6) AS interval_days,
           round(r_hat / iv, 6) AS lambda_per_day,
           round(CASE WHEN r_hat > 0
                      THEN least(greatest(1.0 / (r_hat / iv), 1.0), 365.0)
                      ELSE 365.0 END, 6) AS next_fetch_days
    FROM e
"""

# q80: same deterministic URL synthesis + digit-run templating; DuckDB's
# regexp_replace needs the explicit 'g' flag to match Spark's replace-all
ORACLES["q80_url_templates"] = """
    WITH u AS (
        SELECT source || '.example.gov' AS host,
               '/' || lang || '/' || CAST(doc_id AS VARCHAR) || '/item-'
                   || CAST(doc_id % 13 AS VARCHAR)
                   || CASE WHEN doc_id % 3 = 0
                           THEN '?sid=' || CAST(doc_id * 7 AS VARCHAR)
                           ELSE '' END AS path
        FROM documents),
    t AS (SELECT host, regexp_replace(path, '[0-9]+', '{n}', 'g') AS template,
                 host || path AS url FROM u),
    per AS (SELECT host, template, count(*) AS n_urls, min(url) AS sample_url
            FROM t GROUP BY host, template),
    ph AS (SELECT host, CAST(sum(n_urls) AS BIGINT) AS host_total
           FROM per GROUP BY host)
    SELECT per.host, template, n_urls,
           round(n_urls * 1.0 / host_total, 6) AS host_share,
           sample_url, (n_urls >= 30) AS trap
    FROM per JOIN ph ON per.host = ph.host
"""


# q81: vocab cut (df desc, term) and the rounded-pmi top-50 re-derived in
# DuckDB; same TOKEN_PATTERN, document-distinct terms
ORACLES["q81_pmi_pairs"] = f"""
    WITH terms AS (
        SELECT doc_id AS _doc,
               unnest(list_distinct({_TOKS})) AS term
        FROM documents),
    dfc AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
    vocab AS (SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 100),
    iv AS (SELECT _doc, t.term, v.df FROM terms t JOIN vocab v USING (term)),
    n AS (SELECT count(*) AS n_docs FROM documents),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b,
               a.df AS df_a, b.df AS df_b, count(*) AS n_co
        FROM iv a JOIN iv b ON a._doc = b._doc AND a.term < b.term
        GROUP BY 1, 2, 3, 4
        HAVING count(*) >= 5)
    SELECT term_a, term_b, n_co,
           round(ln(n_co * n_docs * 1.0 / (df_a * df_b)), 6) AS pmi
    FROM pairs, n
    ORDER BY pmi DESC, term_a, term_b LIMIT 50
"""

# q82: the single-node window cumsum IS the spec the distributed prefix
# sum must reproduce; integer division both sides
ORACLES["q82_sequence_packing"] = f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
          FROM t)
    SELECT doc_id, n_tokens,
           end_off - n_tokens AS start_off, end_off,
           (end_off - n_tokens) // 2048 AS bin_first,
           greatest(end_off - 1, end_off - n_tokens) // 2048 AS bin_last,
           ((end_off - n_tokens) // 2048)
               <> (greatest(end_off - 1, end_off - n_tokens) // 2048)
               AS spans_boundary
    FROM c
"""

# q83: quantile_disc cut = smallest value whose cumulative count reaches
# ceil(q*n), re-derived over the same histogram
ORACLES["q83_token_quartiles"] = f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    h AS (SELECT n_tokens, count(*) AS c FROM t GROUP BY n_tokens),
    cum AS (SELECT n_tokens,
                   sum(c) OVER (ORDER BY n_tokens ROWS UNBOUNDED PRECEDING) AS cumc,
                   sum(c) OVER () AS n
            FROM h),
    b AS (SELECT min(CASE WHEN cumc >= ceil(n * 0.25) THEN n_tokens END) AS b25,
                 min(CASE WHEN cumc >= ceil(n * 0.50) THEN n_tokens END) AS b50,
                 min(CASE WHEN cumc >= ceil(n * 0.75) THEN n_tokens END) AS b75
          FROM cum)
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens <= b25 THEN 1
                WHEN n_tokens <= b50 THEN 2
                WHEN n_tokens <= b75 THEN 3
                ELSE 4 END AS quartile
    FROM t, b
"""

# q84: all 64 seeded corpus min-hashes + the exact distinct-digest Jaccard
# re-derived; the new snapshot reuses q71's derivation
_Q84_K = 64
_Q84_B_SRC = """
        SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' [updated]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT 'new: ' || text FROM documents WHERE doc_id % 11 = 0
"""
_q84_mins_a = ", ".join(f"min(md5(text || '#{i}')) AS a{i}" for i in range(_Q84_K))
_q84_mins_b = ", ".join(f"min(md5(text || '#{i}')) AS b{i}" for i in range(_Q84_K))
_q84_matches = " + ".join(
    f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(_Q84_K)
)
ORACLES["q84_corpus_overlap"] = f"""
    WITH b_src AS ({_Q84_B_SRC}),
    sa AS (SELECT {_q84_mins_a} FROM documents),
    sb AS (SELECT {_q84_mins_b} FROM b_src),
    ha AS (SELECT DISTINCT md5(text) AS h FROM documents),
    hb AS (SELECT DISTINCT md5(text) AS h FROM b_src),
    ex AS (SELECT (SELECT count(*) FROM ha) AS n_a,
                  (SELECT count(*) FROM hb) AS n_b,
                  (SELECT count(*) FROM ha JOIN hb USING (h)) AS n_inter,
                  (SELECT count(*) FROM
                      (SELECT h FROM ha UNION SELECT h FROM hb)) AS n_union),
    m AS (SELECT CAST({_q84_matches} AS BIGINT) AS matches FROM sa, sb)
    SELECT {_Q84_K} AS k, matches,
           round(matches * 1.0 / {_Q84_K}, 6) AS est_jaccard,
           n_a, n_b, n_inter, n_union,
           round(n_inter * 1.0 / n_union, 6) AS exact_jaccard
    FROM m, ex
"""


# q85: the hop-by-hop recursive walk IS the spec pointer jumping must
# reproduce; terminal row = first cur that is not itself a source
ORACLES["q85_redirect_resolution"] = """
    WITH RECURSIVE e AS (
        SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 10 < 3
        UNION ALL
        SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 50 = 37
        UNION ALL
        SELECT doc_id + 1 AS src, doc_id AS dst FROM documents WHERE doc_id % 50 = 37
    ),
    walk AS (
        SELECT src AS origin, dst AS cur, 1 AS hops FROM e
        UNION ALL
        SELECT w.origin, e2.dst, w.hops + 1
        FROM walk w JOIN e e2 ON w.cur = e2.src
        WHERE w.hops < 64
    ),
    term AS (SELECT origin, cur AS final_url, hops FROM walk
             WHERE cur NOT IN (SELECT src FROM e))
    SELECT e.src, t.final_url, CAST(t.hops AS INT) AS hops,
           CASE WHEN t.origin IS NULL THEN 'cycle' ELSE 'resolved' END AS status
    FROM e LEFT JOIN term t ON e.src = t.origin
"""

# q86: same banner injection, 10-token line chunking (q44's convention)
# and threshold rule re-derived in DuckDB
ORACLES["q86_host_boilerplate"] = f"""
    WITH injected AS (
        SELECT doc_id, source AS host,
               CASE WHEN doc_id % 2 = 0
                    THEN source || '{_Q86_BANNER_TAIL} ' || text
                    ELSE text END AS text
        FROM documents),
    dl AS (
        SELECT doc_id, host, CASE WHEN len(toks) = 0 THEN [] ELSE
               list_transform(range(0, cast(ceil(len(toks) / 10.0) AS INT)),
                              i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) END AS lines
        FROM (SELECT doc_id, host,
                     regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
              FROM injected)),
    pl AS (SELECT DISTINCT host, doc_id, unnest(list_distinct(lines)) AS line FROM dl),
    lc AS (SELECT host, line, count(*) AS n_docs_with_line FROM pl GROUP BY host, line),
    ht AS (SELECT host, count(DISTINCT doc_id) AS host_docs FROM injected GROUP BY host)
    SELECT lc.host, line, n_docs_with_line, host_docs,
           round(n_docs_with_line * 1.0 / host_docs, 6) AS share,
           (n_docs_with_line >= host_docs * 0.3 AND host_docs >= 10) AS boilerplate
    FROM lc JOIN ht ON lc.host = ht.host
    WHERE n_docs_with_line >= 2
"""

# q87: Hamilton apportionment re-derived — floor quotas, leftovers by
# largest (6dp-rounded) fractional remainder, host tie-break
ORACLES["q87_crawl_budget"] = """
    WITH h AS (SELECT source AS host, count(*) AS score FROM documents GROUP BY source),
    t AS (SELECT sum(score) AS total FROM h),
    q AS (SELECT host, score, 1000 * score * 1.0 / total AS qd FROM h, t),
    b AS (SELECT host, score, round(qd, 6) AS quota,
                 CAST(floor(qd) AS BIGINT) AS base,
                 round(qd - floor(qd), 6) AS frac FROM q),
    r AS (SELECT host, score, quota, base,
                 row_number() OVER (ORDER BY frac DESC, host) AS rn,
                 CAST(sum(base) OVER () AS BIGINT) AS base_sum FROM b)
    SELECT host, score, quota,
           base + CASE WHEN rn <= 1000 - base_sum THEN 1 ELSE 0 END AS alloc
    FROM r
"""


# q88: OLS moments over the same (freq desc, term) top-1000 cut
ORACLES["q88_zipf_fit"] = f"""
    WITH tf AS (
        SELECT term, count(*) AS freq
        FROM (SELECT unnest({_TOKS}) AS term FROM documents)
        GROUP BY term ORDER BY freq DESC, term LIMIT 1000),
    rk AS (SELECT row_number() OVER (ORDER BY freq DESC, term) AS rank, freq FROM tf),
    xy AS (SELECT ln(rank * 1.0) AS x, ln(freq * 1.0) AS y FROM rk),
    m AS (SELECT count(*) AS n_terms, avg(x) AS mx, avg(y) AS my,
                 avg(x * y) AS mxy, avg(x * x) AS mxx FROM xy)
    SELECT n_terms,
           round((mxy - mx * my) / (mxx - mx * mx), 6) AS zipf_slope,
           round(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6) AS zipf_intercept
    FROM m
"""

# q89: per-language population moments + z re-derived; stddev_pop both sides
ORACLES["q89_length_outliers"] = f"""
    WITH t AS (SELECT doc_id, lang,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
    s AS (SELECT lang, avg(n_tokens) AS m, stddev_pop(n_tokens) AS sd
          FROM t GROUP BY lang)
    SELECT doc_id, t.lang, n_tokens,
           round(CASE WHEN sd > 0 THEN (n_tokens - m) / sd ELSE 0.0 END, 6) AS z,
           (abs(CASE WHEN sd > 0 THEN (n_tokens - m) / sd ELSE 0.0 END) >= 3.0)
               AS outlier
    FROM t JOIN s ON t.lang = s.lang
"""

# q90: q79's schedule (due <= 30 days, host = 'src' || url_id % 20)
# reconciled against q87's apportionment, both re-derived
ORACLES["q90_recrawl_plan"] = """
    WITH f AS (SELECT user_id AS url_id, epoch_us(ts) AS us,
                      (value > 50.0) AS changed FROM events),
    a AS (SELECT url_id, count(*) AS n_visits,
                 CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                 max(us) - min(us) AS span_us
          FROM f GROUP BY url_id),
    e AS (SELECT url_id,
                 span_us / 86400000000.0 / (n_visits - 1) AS iv,
                 -ln((n_visits - n_changes + 0.5) / (n_visits + 0.5)) AS r_hat
          FROM a WHERE n_visits >= 2 AND span_us > 0),
    nf AS (SELECT url_id,
                  round(CASE WHEN r_hat > 0
                             THEN least(greatest(1.0 / (r_hat / iv), 1.0), 365.0)
                             ELSE 365.0 END, 6) AS next_fetch_days
           FROM e),
    due AS (SELECT 'src' || CAST(url_id % 20 AS VARCHAR) AS host,
                   count(*) AS n_due
            FROM nf WHERE next_fetch_days <= 30.0 GROUP BY 1),
    h AS (SELECT source AS host, count(*) AS score FROM documents GROUP BY source),
    t AS (SELECT sum(score) AS total FROM h),
    q AS (SELECT host, score, 1000 * score * 1.0 / total AS qd FROM h, t),
    b AS (SELECT host, CAST(floor(qd) AS BIGINT) AS base,
                 round(qd - floor(qd), 6) AS frac FROM q),
    r AS (SELECT host, base,
                 row_number() OVER (ORDER BY frac DESC, host) AS rn,
                 CAST(sum(base) OVER () AS BIGINT) AS base_sum FROM b),
    al AS (SELECT host,
                  base + CASE WHEN rn <= 1000 - base_sum THEN 1 ELSE 0 END AS alloc
           FROM r)
    SELECT al.host, alloc,
           CAST(coalesce(n_due, 0) AS BIGINT) AS n_due,
           CASE WHEN coalesce(n_due, 0) = 0 THEN 1.0
                ELSE round(least(1.0, alloc * 1.0 / n_due), 6) END AS coverage,
           CAST(greatest(coalesce(n_due, 0) - alloc, 0) AS BIGINT) AS deficit
    FROM al LEFT JOIN due ON al.host = due.host
"""


def _q91_oracle_sql() -> str:
    """Independent HLL re-derivation: hex registers decoded with strpos
    (no conv in DuckDB), same rho CASE / integer harmonic sum / correction
    constants, over the same deterministic exploded URL corpus."""
    from .operators.sketches import hll_oracle_sql

    lang_src = (
        "SELECT lang AS grp, 'u' || CAST((doc_id * 40 + i) % 3000 AS VARCHAR) AS url "
        "FROM documents, range(40) t(i)"
    )
    src_src = (
        "SELECT source AS grp, 'u' || CAST((doc_id * 40 + i) % 150 AS VARCHAR) AS url "
        "FROM documents, range(40) t(i)"
    )
    lang_q = hll_oracle_sql(lang_src, "url", ["grp"], include_exact=True)
    src_q = hll_oracle_sql(src_src, "url", ["grp"], include_exact=True)
    return f"""
        SELECT 'lang' AS grp_type, * FROM ({lang_q})
        UNION ALL
        SELECT 'source' AS grp_type, * FROM ({src_q})
    """


ORACLES["q91_hll_distinct"] = _q91_oracle_sql()


def _q92_oracle_sql() -> str:
    """A-ES re-derived: same hash-uniform (8 hex digits decoded with
    strpos), same ln(u)/w key rounded 6dp before ranking, same tie-break."""
    from .operators.curation import weighted_sample_u_sql

    u = weighted_sample_u_sql("doc_id", salt="ws")
    return f"""
        WITH s AS (
            SELECT doc_id AS id, n_chars AS weight,
                   round(ln({u}) / n_chars, 6) AS sample_key
            FROM documents),
        r AS (SELECT id, weight, sample_key,
                     CAST(row_number() OVER (ORDER BY sample_key DESC, id) AS INT) AS rank
              FROM s)
        SELECT id, weight, sample_key, rank FROM r WHERE rank <= 25
    """


ORACLES["q92_weighted_sample"] = _q92_oracle_sql()

ORACLES["q93_temperature_mixture"] = """
    WITH h AS (SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS total FROM h),
    w AS (SELECT stratum, n_docs,
                 round(n_docs * 1.0 / total, 6) AS share,
                 CAST(round(power(n_docs * 1.0 / total, 0.3) * 1000000) AS BIGINT)
                     AS temp_weight_ppm
          FROM h, t),
    tw AS (SELECT sum(temp_weight_ppm) AS wtotal FROM w),
    q AS (SELECT stratum, n_docs, share, temp_weight_ppm,
                 100000 * temp_weight_ppm * 1.0 / wtotal AS qd FROM w, tw),
    b AS (SELECT stratum, n_docs, share, temp_weight_ppm,
                 round(qd, 6) AS quota,
                 CAST(floor(qd) AS BIGINT) AS base,
                 round(qd - floor(qd), 6) AS frac FROM q),
    r AS (SELECT stratum, n_docs, share, temp_weight_ppm, quota, base,
                 row_number() OVER (ORDER BY frac DESC, stratum) AS rn,
                 CAST(sum(base) OVER () AS BIGINT) AS base_sum FROM b)
    SELECT stratum, n_docs, share, temp_weight_ppm, quota,
           base + CASE WHEN rn <= 100000 - base_sum THEN 1 ELSE 0 END AS alloc
    FROM r
"""


def _q94_oracle_sql() -> str:
    """Independent Count-Min re-derivation: strpos hex decode, same
    '#cm<i>' salts, same top-15/rare-5 probe rule."""
    from .operators.sketches import cm_oracle_sql

    source = f"SELECT unnest({_TOKS}) AS token FROM documents"
    probe = f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
        vocab AS (SELECT token, count(*) AS exact_count FROM toks GROUP BY token)
        (SELECT token, exact_count FROM vocab ORDER BY exact_count DESC, token LIMIT 15)
        UNION ALL
        (SELECT token, exact_count FROM vocab ORDER BY exact_count ASC, token LIMIT 5)
    """
    return cm_oracle_sql(source, "token", probe)


ORACLES["q94_count_min_freq"] = _q94_oracle_sql()


def _q95_oracle_sql() -> str:
    """Independent HDR re-derivation: same bin()-length octave, integer
    shift sub-bucket, integer rank rule, exact power-of-two midpoints."""
    from .operators.sketches import hdr_oracle_sql

    return hdr_oracle_sql(
        "SELECT lang, n_chars FROM documents", "n_chars", ["lang"], include_exact=True
    )


ORACLES["q95_hdr_length_quantiles"] = _q95_oracle_sql()


def _kmeans_ctes(k: int = 8, n_updates: int = 2) -> str:
    """Shared unrolled-CTE Lloyd block (the q54 pattern): same
    smallest-vec_id init, 6-dp centroid/distance rounding, (dist, cid)
    tie-break; empty clusters drop out of the centroid CTE exactly as they
    drop out of the Spark groupBy.  Final assignment lives in
    a{n_updates+1}(vec_id, cluster, dist)."""
    steps = []
    for i in range(1, n_updates + 2):  # n_updates+1 assignment passes
        steps.append(f"""
        a{i} AS (
            SELECT vec_id, cid AS cluster, dist FROM (
                SELECT v.vec_id, c.cid,
                       round(sum((v.val - c.cval) * (v.val - c.cval)), 6) AS dist
                FROM vals v JOIN c{i - 1} c USING (pos)
                GROUP BY v.vec_id, c.cid)
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""")
        if i <= n_updates:
            steps.append(f"""
        c{i} AS (
            SELECT a.cluster AS cid, v.pos, round(avg(v.val), 6) AS cval
            FROM a{i} a JOIN vals v USING (vec_id)
            GROUP BY a.cluster, v.pos)""")
    return f"""
        WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        vals AS (
            SELECT vec_id, CAST(i AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS val
            FROM emb, UNNEST(range(1, 1 + len(embedding))) AS u(i)),
        seeds AS (
            SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
            FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {k})),
        c0 AS (
            SELECT s.cid, v.pos, round(v.val, 6) AS cval
            FROM seeds s JOIN vals v USING (vec_id)),
        {",".join(steps)}"""


ORACLES["q96_kmeans_clusters"] = (
    _kmeans_ctes() + "\n        SELECT vec_id, cluster, dist FROM a3\n    "
)


ORACLES["q97_embedding_covariance"] = """
    WITH vals AS (
        SELECT vec_id, CAST(i AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(range(1, 1 + len(embedding))) AS u(i)),
    -- moments pre-rounded to 8 dp so the cov subtraction runs on doubles
    -- bit-identical to the Spark side (see clustering.embedding_covariance)
    m AS (SELECT pos, round(avg(val), 8) AS mu FROM vals GROUP BY pos),
    xy AS (
        SELECT a.pos AS i, b.pos AS j, round(avg(a.val * b.val), 8) AS exy
        FROM vals a JOIN vals b USING (vec_id)
        WHERE b.pos >= a.pos
        GROUP BY a.pos, b.pos)
    -- "+ 0" folds IEEE -0.0 to +0.0, matching the Spark side
    SELECT i, j,
           round(mi.mu, 6) + 0 AS mean_i,
           round(mj.mu, 6) + 0 AS mean_j,
           round(exy - mi.mu * mj.mu, 6) + 0 AS cov
    FROM xy JOIN m mi ON mi.pos = xy.i JOIN m mj ON mj.pos = xy.j
"""


def _q98_oracle_sql() -> str:
    """Composes the stage oracles: q96's unrolled Lloyd CTEs -> q87's
    Hamilton apportionment over cluster sizes -> the A-ES per-stratum draw
    (same md5 hash-uniform, same round-6 key, same tie-breaks)."""
    from .operators.curation import weighted_sample_u_sql

    u = weighted_sample_u_sql("vec_id", salt="sws")
    return (
        _kmeans_ctes()
        + f""",
        sizes AS (SELECT cluster, count(*) AS score FROM a3 GROUP BY cluster),
        t AS (SELECT sum(score) AS total FROM sizes),
        qd AS (SELECT cluster, 200 * score * 1.0 / total AS qd FROM sizes, t),
        b AS (SELECT cluster, CAST(floor(qd) AS BIGINT) AS base,
                     round(qd - floor(qd), 6) AS frac FROM qd),
        r AS (SELECT cluster, base,
                     row_number() OVER (ORDER BY frac DESC, cluster) AS rn,
                     CAST(sum(base) OVER () AS BIGINT) AS base_sum FROM b),
        alloc AS (SELECT cluster,
                         base + CASE WHEN rn <= 200 - base_sum THEN 1 ELSE 0 END AS alloc
                  FROM r),
        keyed AS (
            SELECT cluster, vec_id, 1.0 / (1.0 + dist) AS w,
                   round(ln({u}) / (1.0 / (1.0 + dist)), 6) AS sample_key
            FROM a3),
        ranked AS (
            SELECT cluster, vec_id, w, sample_key,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY sample_key DESC, vec_id) AS sample_rank
            FROM keyed)
        SELECT rk.cluster, rk.vec_id, round(rk.w, 6) AS weight,
               rk.sample_key, rk.sample_rank
        FROM ranked rk JOIN alloc a ON a.cluster = rk.cluster
        WHERE rk.sample_rank <= a.alloc
    """
    )


ORACLES["q98_cluster_balanced_sample"] = _q98_oracle_sql()


def _q99_oracle_sql() -> str:
    """Same md5 hash-uniform over the GROUP key (strpos hex decode), same
    cumulative cutoffs — group coherence is inherent to the formula."""
    from .operators.curation import weighted_sample_u_sql

    u = weighted_sample_u_sql("source", salt="split")
    return f"""
        SELECT doc_id, source, lang,
               CASE WHEN {u} < 0.6 THEN 'train'
                    WHEN {u} < 0.8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """


ORACLES["q99_leakage_safe_split"] = _q99_oracle_sql()


def _q100_oracle_sql() -> str:
    """Same gram conventions as the dedup oracles: _TOKS for n=1,
    _shingles_sql(n) (whole-doc-gram fallback) for n >= 2."""
    parts = []
    for n in (1, 2, 3):
        grams = _TOKS if n == 1 else _shingles_sql(n)
        parts.append(
            f"SELECT source, {n} AS n, unnest({grams}) AS gram FROM documents"
        )
    return f"""
        WITH longtab AS ({" UNION ALL ".join(parts)}),
        counted AS (SELECT source, n, gram, count(*) AS c
                    FROM longtab GROUP BY source, n, gram)
        SELECT source, n,
               CAST(sum(c) AS BIGINT) AS total_ngrams,
               count(*) AS distinct_ngrams,
               round(count(*) * 1.0 / sum(c), 6) AS diversity
        FROM counted GROUP BY source, n
    """


ORACLES["q100_ngram_diversity"] = _q100_oracle_sql()


ORACLES["q101_heaps_fit"] = f"""
    WITH mx AS (SELECT max(CAST(doc_id AS BIGINT)) AS m FROM documents),
    ts AS (SELECT DISTINCT (k * m) // 16 AS t
           FROM mx, UNNEST(range(1, 17)) AS u(k)),
    per_doc AS (SELECT CAST(doc_id AS BIGINT) AS id,
                       CAST(len({_TOKS}) AS BIGINT) AS n_toks FROM documents),
    n_at AS (SELECT t, sum(n_toks) AS n_tokens
             FROM per_doc JOIN ts ON per_doc.id <= ts.t GROUP BY t),
    fo AS (SELECT term, min(id) AS first_id
           FROM (SELECT CAST(doc_id AS BIGINT) AS id, unnest({_shingles_sql(3)}) AS term
                 FROM documents)
           GROUP BY term),
    v_at AS (SELECT t, count(*) AS vocab
             FROM fo JOIN ts ON fo.first_id <= ts.t GROUP BY t),
    xy AS (SELECT ln(n_tokens * 1.0) AS x, ln(vocab * 1.0) AS y
           FROM n_at JOIN v_at USING (t)),
    m AS (SELECT count(*) AS n_points, avg(x) AS mx, avg(y) AS my,
                 avg(x * y) AS mxy, avg(x * x) AS mxx FROM xy)
    SELECT n_points,
           round((mxy - mx * my) / (mxx - mx * mx), 6) + 0 AS heaps_beta,
           round(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6) + 0 AS heaps_lnk
    FROM m
"""


ORACLES["q102_source_kl_drift"] = f"""
    WITH st AS (
        SELECT source, token, count(*) AS c_st
        FROM (SELECT source, unnest({_TOKS}) AS token FROM documents)
        GROUP BY source, token),
    corpus AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY token),
    totals AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
    grand AS (SELECT sum(c_t) AS n_all FROM corpus)
    SELECT st.source,
           CAST(max(t.n_s) AS BIGINT) AS n_tokens,
           round(sum((st.c_st * 1.0 / t.n_s)
                     * ln((st.c_st * 1.0 / t.n_s) / (c.c_t * 1.0 / g.n_all))), 6) AS kl
    FROM st
    JOIN corpus c ON c.token = st.token
    JOIN totals t ON t.source = st.source
    CROSS JOIN grand g
    GROUP BY st.source
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl the deterministic synthetic web, enrich the extracted
    documents with training-data signals, and dedup them against the existing
    sf0.001 corpus (anti-join on content digest)."""
    import shutil
    import tempfile

    from .crawl import CrawlEngine, CrawlPolicy
    from .synth import webgen
    from .synth.spark_gen import PAGES_SCHEMA

    _tune_session(spark)
    sf_dir = "/root/testdata/sf0.001"
    n_pages, n_hosts = 600, 6
    pages = spark.createDataFrame(webgen.pages_pandas(n_pages, n_hosts), schema=PAGES_SCHEMA)
    robots = spark.createDataFrame(webgen.robots_pandas(n_hosts))
    policy = CrawlPolicy(
        allowed_domains=[webgen.host_name(0), webgen.host_name(1)], depth_limit=8
    )
    root = tempfile.mkdtemp(prefix="crawl_entry_")
    ckpt, out_dir = os.path.join(root, "ckpt"), os.path.join(root, "out")
    try:
        engine = CrawlEngine(spark, pages, robots, policy, ckpt)
        run = engine.run([webgen.page_url(0, 0)], max_rounds=16)
        docs = run.documents(spark)
        enriched = docs.select(
            "id", "url", "crawl_depth", "seq", "title", "language", "content",
            udfs.quality_score(F.col("content")).alias("quality"),
            udfs.token_count(F.col("content")).alias("n_tokens"),
            udfs.document_fingerprint(F.col("content")).alias("fingerprint"),
            F.md5(F.col("content")).alias("content_hash"),
        )
        corpus = _t(spark, sf_dir, "documents").select(F.md5(F.col("text")).alias("content_hash"))
        result = enriched.join(corpus, "content_hash", "left_anti").drop("content")
        # distributed parquet write, never a driver toPandas round-trip: the
        # flagship result must survive a 100x corpus
        result.write.mode("overwrite").parquet(out_dir)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        _cleanup_at_exit(root)
    return spark.read.parquet(out_dir)

# q105: the oracle is the naive exact form — one window over everything —
# which the operator's prefilter+guard decomposition must reproduce exactly.
ORACLES["q105_host_cap"] = """
    SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT d.*,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents d
    ) WHERE rk <= 10
"""


def _q106_oracle_sql() -> str:
    """q47's surprisal CTE + the q95 HDR re-derivation at terciles + the
    bucket CASE — the whole CCNet pipeline independently in DuckDB."""
    from .operators.sketches import hdr_oracle_sql

    sl = f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        total AS (SELECT sum(cnt) AS total FROM vocab),
        s AS (SELECT doc_id, round(avg(-log2(cnt * 1.0 / total)), 6) AS avg_surprisal
              FROM toks JOIN vocab USING (tok) CROSS JOIN total GROUP BY doc_id)
        SELECT s.doc_id, d.lang, avg_surprisal,
               CAST(floor(avg_surprisal * 1000) AS BIGINT) AS sbits
        FROM s JOIN documents d USING (doc_id)
    """
    cuts = hdr_oracle_sql(
        f"SELECT lang, sbits FROM ({sl})",
        "sbits",
        ["lang"],
        quantiles=(("q33", 1, 3), ("q67", 2, 3)),
    )
    return f"""
        WITH sl AS ({sl}),
        cuts_raw AS ({cuts}),
        cuts AS (SELECT lang,
                        max(CASE WHEN qlabel = 'q33' THEN est_value END) AS cut_head,
                        max(CASE WHEN qlabel = 'q67' THEN est_value END) AS cut_mid
                 FROM cuts_raw GROUP BY lang)
        SELECT sl.doc_id, sl.lang, sl.avg_surprisal, sl.sbits,
               CASE WHEN sbits <= cut_head THEN 'head'
                    WHEN sbits <= cut_mid THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM sl JOIN cuts USING (lang)
    """


ORACLES["q106_perplexity_buckets"] = _q106_oracle_sql()

# q107: q86's discovery SQL extended by the strip itself — per-host
# boilerplate LIST joined back, list_filter keeps original line order
ORACLES["q107_strip_boilerplate"] = f"""
    WITH injected AS (
        SELECT doc_id, source AS host,
               CASE WHEN doc_id % 2 = 0
                    THEN source || '{_Q86_BANNER_TAIL} ' || text
                    ELSE text END AS text
        FROM documents),
    dl AS (
        SELECT doc_id, host, CASE WHEN len(toks) = 0 THEN [] ELSE
               list_transform(range(0, cast(ceil(len(toks) / 10.0) AS INT)),
                              i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) END AS lines
        FROM (SELECT doc_id, host,
                     regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
              FROM injected)),
    pl AS (SELECT DISTINCT host, doc_id, unnest(list_distinct(lines)) AS line FROM dl),
    lc AS (SELECT host, line, count(*) AS n FROM pl GROUP BY host, line),
    ht AS (SELECT host, count(DISTINCT doc_id) AS host_docs FROM injected GROUP BY host),
    bp AS (SELECT lc.host, line FROM lc JOIN ht USING (host)
           WHERE n >= 2 AND n >= host_docs * 0.3 AND host_docs >= 10
             AND trim(line) <> ''),
    bpl AS (SELECT host, list(line) AS bls FROM bp GROUP BY host),
    flt AS (SELECT doc_id, dl.host, lines,
                   list_filter(lines, l -> NOT list_contains(coalesce(bls, [])::VARCHAR[], l)) AS keptl
            FROM dl LEFT JOIN bpl ON dl.host = bpl.host)
    SELECT doc_id, host, array_to_string(keptl, chr(10)) AS clean_text,
           len(keptl) AS n_lines_kept, len(lines) - len(keptl) AS n_lines_removed
    FROM flt
"""


# q112: soft-404 = error-phrase hit AND short body; the long doc that merely
# mentions 404 (doc_id%23==1) gets hits but fails the length gate
_SOFT404_RE = (
    "(page not found|not found on this server|404|does not exist|"
    "no longer available|an error occurred)"
)
ORACLES["q112_soft404"] = f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 23 = 0 THEN '{_SOFT404_BODY}'
                    WHEN doc_id % 23 = 1 THEN text || ' ... error 404: page not found'
                    ELSE text END AS text
        FROM documents),
    sig AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
               len(regexp_extract_all(lower(text), '{_SOFT404_RE}')) AS n_hits
        FROM injected)
    SELECT doc_id, n_tokens, n_hits,
           (n_hits > 0 AND n_tokens <= 40) AS is_soft404
    FROM sig
"""

# q113: distinct (content-hash, host) self-join on the hash; containment
# against the smaller host
ORACLES["q113_mirror_hosts"] = """
    WITH corpus AS (
        SELECT source AS host, text FROM documents
        UNION ALL
        SELECT source || '-m' AS host, text FROM documents WHERE doc_id % 3 = 0),
    hashed AS (SELECT DISTINCT md5(text) AS chash, host FROM corpus),
    totals AS (SELECT host, count(*) AS n FROM hashed GROUP BY host),
    pairs AS (
        SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared_docs
        FROM hashed a JOIN hashed b USING (chash)
        WHERE a.host < b.host GROUP BY 1, 2)
    SELECT host_a, host_b, shared_docs,
           round(shared_docs / least(ta.n, tb.n), 6) AS containment
    FROM pairs
    JOIN totals ta ON ta.host = host_a
    JOIN totals tb ON tb.host = host_b
    WHERE shared_docs >= 3 AND shared_docs / least(ta.n, tb.n) >= 0.5
"""

# q114: every 4th source tripled with identical copies -> 100 pages / 25
# distinct -> 0.75; clean hosts 0.0
ORACLES["q114_crawl_traps"] = """
    WITH base AS (SELECT source AS host, text FROM documents),
    trap AS (SELECT * FROM base WHERE cast(substr(host, 4) AS INT) % 4 = 0),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM trap
               UNION ALL SELECT * FROM trap UNION ALL SELECT * FROM trap)
    SELECT host, count(*) AS n_pages,
           count(DISTINCT md5(text)) AS n_distinct,
           round(1.0 - count(DISTINCT md5(text)) / count(*), 6) AS trap_score,
           (count(*) >= 20
            AND 1.0 - count(DISTINCT md5(text)) / count(*) >= 0.5) AS is_trap
    FROM corpus GROUP BY host
"""

# q115: the AIMD closed form — trailing-20 error count drives the doubling
# (capped at 3), success run since the last error the additive decrease
ORACLES["q115_adaptive_politeness"] = """
    WITH ev AS (
        SELECT 'h' || cast(user_id % 20 AS VARCHAR) AS host, ts, event_id,
               event_type = 'error' AS is_error
        FROM events),
    st1 AS (
        SELECT host, is_error,
               row_number() OVER (PARTITION BY host ORDER BY ts, event_id) AS rn
        FROM ev),
    st2 AS (
        SELECT host, is_error, rn,
               count(CASE WHEN is_error THEN 1 END) OVER w20 AS err_w,
               max(CASE WHEN is_error THEN rn END) OVER wall AS last_err
        FROM st1
        WINDOW w20 AS (PARTITION BY host ORDER BY rn
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
               wall AS (PARTITION BY host ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    st3 AS (
        SELECT host, is_error, rn,
               greatest(100, least(8000,
                   (1000 << cast(least(err_w, 3) AS INT))
                   - 100 * (rn - coalesce(last_err, 0)))) AS delay
        FROM st2)
    SELECT host, count(*) AS n_events,
           count(CASE WHEN is_error THEN 1 END) AS n_errors,
           max_by(delay, rn) AS recommended_delay_ms
    FROM st3 GROUP BY host
"""

# q116: character-class counting via length-difference (global regexp_replace)
ORACLES["q116_script_profile"] = """
    WITH injected AS (
        SELECT lang,
               CASE WHEN doc_id % 7 = 0
                    THEN 'привет мир как дела ' || text ELSE text END AS text
        FROM documents),
    per_doc AS (
        SELECT lang,
               cast(length(text) AS DOUBLE) AS n,
               length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin,
               length(text) - length(regexp_replace(text, '[а-яёА-ЯЁ]', '', 'g')) AS cyr,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit
        FROM injected)
    SELECT lang, count(*) AS n_docs,
           round(avg(latin / nullif(n, 0)), 6) AS latin_frac,
           round(avg(cyr / nullif(n, 0)), 6) AS cyrillic_frac,
           round(avg(digit / nullif(n, 0)), 6) AS digit_frac,
           count(CASE WHEN cyr > latin THEN 1 END) AS cyrillic_dominant_docs
    FROM per_doc GROUP BY lang
"""

# q117: z-average of (log tokens, type-token ratio, stopword fraction);
# ntile on the ROUNDED composite so both engines order identically
ORACLES["q117_quality_ensemble"] = f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
        FROM documents),
    sig AS (
        SELECT doc_id,
               ln(1 + len(t)) AS s_len,
               len(list_distinct(t)) * 1.0 / nullif(len(t), 0) AS s_ttr,
               len(list_filter(t, x -> list_contains(
                   ['the','of','and','to','in','a','is','that','for','it'], x)))
                   * 1.0 / nullif(len(t), 0) AS s_stop
        FROM toks),
    st AS (
        SELECT avg(s_len) AS mu1, stddev_samp(s_len) AS sd1,
               avg(s_ttr) AS mu2, stddev_samp(s_ttr) AS sd2,
               avg(s_stop) AS mu3, stddev_samp(s_stop) AS sd3
        FROM sig),
    z AS (
        SELECT doc_id,
               round(((s_len - mu1) / nullif(sd1, 0)
                      + (s_ttr - mu2) / nullif(sd2, 0)
                      + (s_stop - mu3) / nullif(sd3, 0)) / 3.0, 6) AS quality_z
        FROM sig, st)
    SELECT doc_id, quality_z,
           ntile(10) OVER (ORDER BY quality_z DESC, doc_id ASC) AS decile
    FROM z
"""


def q118_kmv_overlap(spark, sf_dir):
    """KMV distinct sketch with SET OPERATIONS (sketches.kmv_set_ops):
    distinct / union / intersection / Jaccard estimates between the
    even-source and odd-source corpora from k=256 minimum md5 values of
    their token 3-grams.  The HLL complement: KMV supports intersection.
    One scan builds both sketches (distinct + approx-count prefilter +
    exact window over ~8k survivors per corpus with an exactness guard);
    every set operation runs on the <= 2k sketch rows."""
    from .operators import sketches
    from .operators.dedup import shingles_col

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn(
            "corpus",
            F.when(F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit("even"))
            .otherwise(F.lit("odd")),
        )
        .select("corpus", F.explode(shingles_col("text", 3)).alias("gram"))
    )
    return sketches.kmv_set_ops(d, "corpus", "gram", "even", "odd")


QUERIES["q118_kmv_overlap"] = q118_kmv_overlap

from .operators.sketches import kmv_oracle_sql as _kmv_oracle_sql  # noqa: E402

ORACLES["q118_kmv_overlap"] = _kmv_oracle_sql(
    source_sql=f"""
        SELECT CASE WHEN cast(substr(source, 4) AS INT) % 2 = 0
                    THEN 'even' ELSE 'odd' END AS corpus,
               unnest({_SHINGLES}) AS gram
        FROM documents
    """,
    corpus_expr="corpus",
    key_expr="gram",
    corpus_a="even",
    corpus_b="odd",
)


def q119_warc_scan(spark, sf_dir):
    """WARC segment scan (operators/warc.warc_pages over kernels/warcx):
    Common-Crawl-style archives parsed into the input_hint page table.  The
    fixture serializes each source's documents as ONE deterministic WARC
    segment (warcinfo + request + response records; even-numbered sources
    as per-record-gzip members, the CC layout; odd ones plain), then the
    Arrow-batched mapInPandas source inflates + parses them back — one task
    per segment, zero shuffles past the synthesis groupBy.  The oracle
    re-derives every expected row from the construction FORMULA (url/date/
    status templates, utf-8 byte length, body md5) without touching the
    writer or parser, so a round-trip defect cannot self-verify."""
    import pandas as pd

    from .kernels import warcx
    from .operators import warc as warcop

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        src = pdf["source"].iloc[0]
        seg_id = int(src[3:])
        pages = [
            {
                "url": f"https://{src}.example.com/doc/{int(r.doc_id)}",
                "date": f"2024-01-{int(r.doc_id) % 28 + 1:02d}T00:00:00Z",
                "status": 404 if int(r.doc_id) % 31 == 0 else 200,
                "mime": "text/html",
                "body": r.text.encode("utf-8"),
            }
            for r in pdf.itertuples()
        ]
        data = warcx.build_warc_segment(
            pages, segment_name=src, gzip_per_record=(seg_id % 2 == 0)
        )
        return pd.DataFrame([(seg_id, data)], columns=["segment_id", "data"])

    segments = docs.groupBy("source").applyInPandas(build, "segment_id long, data binary")
    pages = warcop.warc_pages(segments)
    return pages.select(
        "segment_id", "url", "warc_date", "status", "mime", "n_bytes",
        F.md5(F.col("body")).alias("body_md5"),
    )


QUERIES["q119_warc_scan"] = q119_warc_scan


def q120_cdx_index(spark, sf_dir):
    """CDX capture index with SURT keys (urlmine.cdx_index): the lookup
    artifact shipped next to WARC segments — SURT (host labels reversed
    comma-joined + ')' + path, pure codegen string ops) keys sorted by
    (surt, ts) via repartitionByRange + sortWithinPartitions, the
    distributed form of the CDX global sort (concatenating output files
    yields the sorted index).  URLs/timestamps from the q119 formula, with
    a query-string variant every 4th doc."""
    from .operators import urlmine

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("?page="), (F.col("doc_id") % 3).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
        F.concat(
            F.lit("2024-01-"),
            F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
            F.lit("T00:00:00Z"),
        ).alias("warc_date"),
    )
    return urlmine.cdx_index(pages, extra_cols=("doc_id",))


QUERIES["q120_cdx_index"] = q120_cdx_index

_Q120_REST = "regexp_replace(url, '^[a-z]+://[^/]*', '')"
ORACLES["q120_cdx_index"] = f"""
    WITH pages AS (
        SELECT doc_id,
               'https://' || source || '.example.com/doc/' || doc_id ||
                   CASE WHEN doc_id % 4 = 0 THEN '?page=' || (doc_id % 3)
                        ELSE '' END AS url,
               '2024-01-' || lpad(cast(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                   || 'T00:00:00Z' AS ts
        FROM documents)
    SELECT array_to_string(list_reverse(string_split(
               lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)), '.')), ',')
               || ')' ||
               CASE WHEN {_Q120_REST} = '' THEN '/' ELSE {_Q120_REST} END AS surt,
           ts, url, doc_id
    FROM pages
"""


def q121_kn_surprisal(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (textstats.kneser_ney_surprisal)
    — the actual KenLM smoothing behind CCNet's quality stage (discount
    0.75, continuation-probability backoff), completing the q47 unigram ->
    q51 ML-bigram -> KN ladder.  LM stats all derive from one checkpointed
    vocabulary-sized table; the corpus pays a single scoring join."""
    return textstats.kneser_ney_surprisal(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


QUERIES["q121_kn_surprisal"] = q121_kn_surprisal

# expression structure mirrors the Spark side op-for-op (left-assoc
# products, same division placement, greatest(x-D, 0)) so both engines walk
# the same IEEE-double sequence before round(., 6)
ORACLES["q121_kn_surprisal"] = f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
           FROM d, UNNEST(range(1, len(t))) AS u(i)),
    db AS (SELECT doc_id, bg, count(*) AS n_db FROM bg GROUP BY doc_id, bg),
    lm AS (SELECT bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
                  CAST(sum(n_db) AS DOUBLE) AS bg_cnt
           FROM db GROUP BY 1, 2, 3),
    pre AS (SELECT w1, sum(bg_cnt) AS w1_cnt,
                   CAST(count(*) AS DOUBLE) AS n_follow
            FROM lm GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n_precede
             FROM lm GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM lm),
    sc AS (SELECT bg,
                  -log2(greatest(bg_cnt - 0.75, 0.0) / w1_cnt
                        + (0.75 * n_follow / w1_cnt) * (n_precede / n_types))
                      AS kn
           FROM lm JOIN pre USING (w1) JOIN cont USING (w2) CROSS JOIN tot)
    SELECT doc_id,
           round(sum(n_db * kn) / sum(n_db), 6) AS avg_kn_surprisal,
           CAST(sum(n_db) AS BIGINT) AS n_scored_bigrams
    FROM db JOIN sc USING (bg)
    GROUP BY doc_id
"""


def q122_shard_plan(spark, sf_dir):
    """Balanced SURT-range shard planning (urlmine.shard_plan): 8 contiguous
    host ranges of ~equal URL mass over the q120 synthetic capture URLs —
    the artifact a 10^10-row CDX range-write reads for its boundaries.
    Host weights aggregate first (hosts << URLs), the exclusive prefix sum
    runs two-pass range-partitioned (seqno's scheme, no global window), and
    shard ids are pure BIGINT math — bit-identical at any parallelism."""
    from .operators import urlmine

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("?page="), (F.col("doc_id") % 3).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    return urlmine.shard_plan(pages, n_shards=8)


QUERIES["q122_shard_plan"] = q122_shard_plan

ORACLES["q122_shard_plan"] = """
    WITH pages AS (
        SELECT doc_id,
               'https://' || source || '.example.com/doc/' || doc_id ||
                   CASE WHEN doc_id % 4 = 0 THEN '?page=' || (doc_id % 3)
                        ELSE '' END AS url
        FROM documents),
    hosts AS (
        SELECT array_to_string(list_reverse(string_split(
                   lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)), '.')), ',')
                   AS surt_host,
               count(*) AS n_urls
        FROM pages GROUP BY 1),
    tot AS (SELECT sum(n_urls) AS total FROM hosts),
    cum AS (
        SELECT surt_host, n_urls,
               coalesce(SUM(n_urls) OVER (ORDER BY surt_host
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM hosts)
    SELECT CAST(cum_before * 8 // total AS INT) AS shard_id,
           min(surt_host) AS lo_host,
           max(surt_host) AS hi_host,
           count(*) AS n_hosts,
           CAST(sum(n_urls) AS BIGINT) AS n_urls
    FROM cum CROSS JOIN tot
    GROUP BY 1
"""


_Q123_EDGE_MULTS = ((3, 1), (5, 2), (11, 7))
Q123_ITERATIONS = 5


def q123_opic(spark, sf_dir):
    """OPIC crawl-ordering importance (graph.opic): the synchronous
    deterministic variant of Abiteboul/Preda/Cobena's On-line Page
    Importance Computation — cash/history accounting with uniform
    dangling-cash redistribution, 5 steps, over an arithmetic link graph
    where every doc_id % 7 == 0 node is a DANGLER (exercising the
    virtual-root path PageRank's lost-mass contract never isolates).
    Per step: one contribution join + one partial-agg'd groupBy + a 1-row
    dangling-mass broadcast; localCheckpoint keeps plan depth O(1)."""
    from .operators import graph

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("id"))
    n = docs.count()
    dsts = ", ".join(f"(id * {a} + {b}) % {n}L" for a, b in _Q123_EDGE_MULTS)
    edges = (
        docs.filter(F.col("id") % 7 != 0)
        .select(F.col("id").alias("src"), F.explode(F.expr(f"array({dsts})")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return graph.opic(edges, docs, n_iter=Q123_ITERATIONS).select(
        F.col("id").alias("doc_id"), "opic"
    )


QUERIES["q123_opic"] = q123_opic


def _q123_oracle_sql() -> str:
    """Independent synchronous OPIC as chained SQL CTEs (q54's pattern):
    per step a dangling-mass scalar (anti-join on out-degree keys), the
    contribution join, and the cash/history update — same arithmetic edge
    formula and dangler rule the Spark query states, no kernel import."""
    dsts = ", ".join(f"(doc_id * {a} + {b}) % nn.n" for a, b in _Q123_EDGE_MULTS)
    k = Q123_ITERATIONS
    iters = []
    for i in range(1, k + 1):
        iters.append(f"""
        d{i} AS (
            SELECT coalesce(sum(s.cash), CAST(0.0 AS DOUBLE)) AS dm
            FROM s{i - 1} s LEFT JOIN deg ON deg.src = s.id
            WHERE deg.src IS NULL),
        s{i} AS (
            SELECT nodes.id,
                   coalesce(c.mass, CAST(0.0 AS DOUBLE)) + d{i}.dm / nn.n AS cash,
                   sp.hist + sp.cash AS hist
            FROM nodes CROSS JOIN nn CROSS JOIN d{i}
            JOIN s{i - 1} sp ON sp.id = nodes.id
            LEFT JOIN (
                SELECT e.dst AS id, sum(sp2.cash / deg.out_deg) AS mass
                FROM edges e
                JOIN s{i - 1} sp2 ON sp2.id = e.src
                JOIN deg ON deg.src = e.src
                GROUP BY e.dst) c ON c.id = nodes.id)""")
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        lst AS (SELECT CAST(doc_id AS BIGINT) AS src, [{dsts}] AS dsts
                FROM documents CROSS JOIN nn WHERE doc_id % 7 <> 0),
        raw_edges AS (
            -- positional lateral unnest (same DuckDB binder workaround as q54)
            SELECT src, CAST(dsts[i] AS BIGINT) AS dst
            FROM lst, UNNEST(range(1, 1 + len(dsts))) AS u(i)),
        edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE dst <> src),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        s0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS cash, CAST(0.0 AS DOUBLE) AS hist
               FROM nodes CROSS JOIN nn),
        {",".join(iters)}
        SELECT id AS doc_id, round((hist + cash) / {float(k + 1)}, 6) AS opic FROM s{k}
    """


ORACLES["q123_opic"] = _q123_oracle_sql()


def q124_span_corruption(spark, sf_dir):
    """T5-style span corruption (packing.span_corruption): deterministic
    block-variant masking — 15% of tokens in 3-token spans, span offsets
    from md5(doc_id:block) — emitting the (input_text, target_text)
    sentinel pair a T5/UL2 batch builder consumes.  A pure map: zero
    shuffles/joins/UDFs, codegen'd array algebra at scan speed."""
    from .operators import packing

    return packing.span_corruption(_fan_out(_t(spark, sf_dir, "documents"), "doc_id"))


QUERIES["q124_span_corruption"] = q124_span_corruption

ORACLES["q124_span_corruption"] = f"""
    WITH d0 AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    d AS (SELECT doc_id, t, len(t) AS n FROM d0 WHERE len(t) > 0),
    db AS (SELECT *, ((n - 1) // 20) + 1 AS nb FROM d),
    dh AS (SELECT *, list_transform(range(0, nb), b ->
               ('0x' || substring(md5(doc_id || ':' || b), 1, 6))::BIGINT % 18)
               AS hs FROM db),
    ds AS (SELECT *, list_filter(list_transform(range(0, nb),
               b -> b * 20 + hs[b + 1]), s -> s < n) AS starts FROM dh),
    dr AS (SELECT *, list_transform(range(0, n), p -> CASE
               WHEN (p % 20) >= hs[(p // 20) + 1]
                AND (p % 20) < hs[(p // 20) + 1] + 3
               THEN (CASE WHEN (p % 20) = hs[(p // 20) + 1]
                     THEN '<extra_id_' || (list_position(starts, p) - 1) || '>'
                     ELSE '' END)
               ELSE t[p + 1] END) AS resid FROM ds)
    SELECT doc_id,
           CAST(n AS INT) AS n_tokens,
           CAST(len(starts) AS INT) AS n_spans,
           CAST(coalesce(list_sum(list_transform(starts,
               s -> least(3, n - s))), 0) AS INT) AS n_masked,
           array_to_string(list_filter(resid, x -> x <> ''), ' ') AS input_text,
           coalesce(array_to_string(flatten(list_transform(starts, s ->
               list_concat(['<extra_id_' || (list_position(starts, s) - 1) || '>'],
                           t[s + 1 : s + least(3, n - s)]))), ' '), '') AS target_text
    FROM dr
"""


# ---------------------------------------------------------------------------
# q125-q128 — round-5 additions: eTLD+1 grouping, canonical-link dedup,
# deterministic epoch shuffle, content-defined chunking
# ---------------------------------------------------------------------------

_Q125_HOST = """CASE CAST(doc_id % 7 AS INT)
    WHEN 0 THEN concat(source, '.gov.uk')
    WHEN 1 THEN concat('www.', source, '.gov.uk')
    WHEN 2 THEN concat('a.b.', source, '.co.uk')
    WHEN 3 THEN concat(source, '.example.com')
    WHEN 4 THEN concat('www.', source, '.gov')
    WHEN 5 THEN concat('intranet-', CAST(doc_id % 3 AS STRING))
    ELSE concat(source, '.ac.uk') END"""


def q125_registrable_domains(spark, sf_dir):
    """eTLD+1 (registrable-domain) corpus rollup (urlmine.registrable_domains):
    the grouping key behind per-site politeness budgets, leakage-safe
    splits (q99 groups by bare host; this is the stronger key), and
    host-level dedup.  Hosts synthesized to cover every classifier branch:
    two-level public suffixes at 0/1/2 subdomain depths, a plain gTLD, a
    collapsing shared base domain, and single-label intranet names.  The
    oracle re-derives each variant's EXPECTED domain/depth from the
    construction formula — it never restates the suffix-match code, so a
    classifier defect cannot self-verify."""
    from .operators import urlmine

    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://"), F.expr(_Q125_HOST), F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return urlmine.registrable_domains(pages)


QUERIES["q125_registrable_domains"] = q125_registrable_domains

ORACLES["q125_registrable_domains"] = """
    WITH v AS (
        SELECT doc_id, source, CAST(doc_id % 7 AS INT) AS k FROM documents),
    hosts AS (
        SELECT CASE k
                 WHEN 0 THEN source || '.gov.uk'
                 WHEN 1 THEN 'www.' || source || '.gov.uk'
                 WHEN 2 THEN 'a.b.' || source || '.co.uk'
                 WHEN 3 THEN source || '.example.com'
                 WHEN 4 THEN 'www.' || source || '.gov'
                 WHEN 5 THEN 'intranet-' || (doc_id % 3)
                 ELSE source || '.ac.uk' END AS host,
               CASE k
                 WHEN 0 THEN source || '.gov.uk'
                 WHEN 1 THEN source || '.gov.uk'
                 WHEN 2 THEN source || '.co.uk'
                 WHEN 3 THEN 'example.com'
                 WHEN 4 THEN source || '.gov'
                 WHEN 5 THEN 'intranet-' || (doc_id % 3)
                 ELSE source || '.ac.uk' END AS domain,
               CASE k WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 1
                      WHEN 4 THEN 1 ELSE 0 END AS depth
        FROM v)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(max(depth) AS INT) AS max_sub_depth
    FROM hosts GROUP BY domain
"""


def q126_canonical_clusters(spark, sf_dir):
    """rel=canonical duplicate clustering (urlmine.canonical_clusters):
    pages carry real HTML with the canonical <link> in both attribute
    orders, absolute and relative hrefs, and tag-free self-canonical
    pages; clusters form across query-string variants pointing at a
    shared master page.  The Spark side extracts from the HTML bytes with
    JVM regexes; the oracle re-derives every expected cluster from the
    construction formula WITHOUT touching HTML, so an extraction defect
    cannot self-verify."""
    from .operators import urlmine

    d = _t(spark, sf_dir, "documents")
    # 4-page clusters share one host (print/tracking variants of one page);
    # the k=0 member IS the master, so its cluster has has_canonical_page
    base = (
        "concat('https://h', CAST((doc_id - doc_id % 4) % 40 AS STRING), "
        "'.example.gov/p/')"
    )
    # every 5th cluster's canonical target is a page the crawl never saw
    # (CMS points at a moved page) -> has_canonical_page = false there
    master = (
        "CAST(doc_id - doc_id % 4 + "
        "CASE WHEN (doc_id - doc_id % 4) % 20 = 0 THEN 1000000 ELSE 0 END AS STRING)"
    )
    url = (
        f"concat({base}, CAST(doc_id AS STRING), "
        f"CASE WHEN doc_id % 4 >= 2 THEN concat('?ref=', CAST(doc_id % 5 AS STRING)) "
        f"ELSE '' END)"
    )
    html = f"""CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN concat('<html><head><link rel="canonical" href="', {base}, {master},
                           '"></head><body>', text, '</body></html>')
        WHEN 1 THEN concat('<html><head><link href="/p/', {master},
                           '" rel="canonical"></head><body>', text, '</body></html>')
        WHEN 2 THEN concat('<html><body>', text, '</body></html>')
        ELSE concat('<html><head><link rel="canonical" href="/p/', {master},
                    '"></head><body>', text, '</body></html>') END"""
    pages = d.select(F.expr(url).alias("url"), F.expr(html).alias("html"))
    return urlmine.canonical_clusters(pages)


QUERIES["q126_canonical_clusters"] = q126_canonical_clusters

ORACLES["q126_canonical_clusters"] = """
    WITH v AS (
        SELECT doc_id,
               'https://h' || ((doc_id - doc_id % 4) % 40) || '.example.gov/p/'
                   AS base,
               doc_id - doc_id % 4 +
                   CASE WHEN (doc_id - doc_id % 4) % 20 = 0 THEN 1000000
                        ELSE 0 END AS master,
               CAST(doc_id % 4 AS INT) AS k
        FROM documents),
    pages AS (
        SELECT base || doc_id ||
                   CASE WHEN doc_id % 4 >= 2 THEN '?ref=' || (doc_id % 5)
                        ELSE '' END AS url,
               CASE WHEN k = 2
                    THEN base || doc_id || '?ref=' || (doc_id % 5)
                    ELSE base || master END AS canonical_url
        FROM v)
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_pages,
           min(url) AS rep_url,
           CAST(max(CASE WHEN url = canonical_url THEN 1 ELSE 0 END) AS BOOLEAN)
               AS has_canonical_page
    FROM pages GROUP BY canonical_url
"""


Q127_SHARDS = 16
Q127_SEED = "epoch1"


def q127_epoch_shards(spark, sf_dir):
    """Deterministic global training-order shuffle (training.epoch_shards):
    md5(seed:doc_id) ranks give a reproducible corpus permutation; hash
    high bits pick one of 16 uniform shards and row_number inside the
    shard is the batch position — the data-order contract pretraining
    resume needs, bit-identical at any parallelism (the partition-
    invariance test pins local[2] == local[32])."""
    from .operators import training

    return training.epoch_shards(
        _t(spark, sf_dir, "documents").select("doc_id"),
        n_shards=Q127_SHARDS,
        seed=Q127_SEED,
    )


QUERIES["q127_epoch_shards"] = q127_epoch_shards

ORACLES["q127_epoch_shards"] = f"""
    WITH r AS (
        SELECT doc_id,
               md5('{Q127_SEED}:' || doc_id) AS rank,
        FROM documents),
    s AS (
        SELECT doc_id, rank,
               CAST(('0x' || substring(rank, 1, 6))::BIGINT % {Q127_SHARDS} AS INT)
                   AS shard_id
        FROM r)
    SELECT doc_id, shard_id,
           CAST(row_number() OVER (PARTITION BY shard_id ORDER BY rank, doc_id)
               AS INT) AS pos
    FROM s
"""


Q128_K, Q128_DIV = 3, 8


def q128_cdc_delta(spark, sf_dir):
    """Content-defined chunking recrawl delta (snapshots.cdc_chunks +
    cdc_delta): v2 prepends an edit token to every third document — the
    shift that breaks ALL of a fixed-stride chunker's hashes but only the
    pre-first-boundary chunks of a content-defined one.  Per doc: chunk
    counts both versions, distinct shared hashes, and the reuse ratio a
    delta store would achieve.  Oracle restates the boundary rule on
    DuckDB lists (the q124 pattern) — same md5 gram hashes, same slicing
    — then the same distinct-intersection arithmetic."""
    from .operators import snapshots

    d = _fan_out(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    v2 = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN concat('update', CAST(doc_id % 7 AS STRING), ' ', text) "
            "ELSE text END"
        ).alias("text"),
    )
    old_c = snapshots.cdc_chunks(d, k=Q128_K, divisor=Q128_DIV)
    new_c = snapshots.cdc_chunks(v2, k=Q128_K, divisor=Q128_DIV)
    return snapshots.cdc_delta(old_c, new_c)


QUERIES["q128_cdc_delta"] = q128_cdc_delta

_Q128_CHUNKS = f"""
        SELECT doc_id, t, len(t) AS n,
               list_filter(list_transform(range({Q128_K}, len(t) + 1),
                   p -> CASE WHEN ('0x' || substring(md5(array_to_string(
                            t[p - {Q128_K} + 1 : p], ' ')), 1, 6))::BIGINT
                            % {Q128_DIV} = 0 THEN p END),
                   x -> x IS NOT NULL) AS bnds
        FROM {{src}} WHERE len(t) > 0"""

ORACLES["q128_cdc_delta"] = f"""
    WITH d1 AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    d2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
                   THEN 'update' || (doc_id % 7) || ' ' || text
                   ELSE text END AS text FROM documents),
    t2 AS (SELECT doc_id, {_TOKS} AS t FROM d2),
    b1 AS ({_Q128_CHUNKS.format(src="d1")}),
    b2 AS ({_Q128_CHUNKS.format(src="t2")}),
    c1 AS (
        SELECT doc_id,
               md5(array_to_string(t[list_concat([0], bnds)[i] + 1 :
                   list_concat(bnds, [n])[i]], ' ')) AS chunk_hash
        FROM b1, UNNEST(range(1, len(bnds) + 2)) AS u(i)
        WHERE list_concat(bnds, [n])[i] > list_concat([0], bnds)[i]),
    c2 AS (
        SELECT doc_id,
               md5(array_to_string(t[list_concat([0], bnds)[i] + 1 :
                   list_concat(bnds, [n])[i]], ' ')) AS chunk_hash
        FROM b2, UNNEST(range(1, len(bnds) + 2)) AS u(i)
        WHERE list_concat(bnds, [n])[i] > list_concat([0], bnds)[i]),
    co AS (SELECT doc_id, count(*) AS n_chunks_old FROM c1 GROUP BY doc_id),
    cn AS (SELECT doc_id, count(*) AS n_chunks_new,
                  count(DISTINCT chunk_hash) AS nd_new
           FROM c2 GROUP BY doc_id),
    sh AS (
        SELECT o.doc_id, count(*) AS n_shared
        FROM (SELECT DISTINCT doc_id, chunk_hash FROM c1) o
        JOIN (SELECT DISTINCT doc_id, chunk_hash FROM c2) nn
          ON o.doc_id = nn.doc_id AND o.chunk_hash = nn.chunk_hash
        GROUP BY o.doc_id)
    SELECT cn.doc_id,
           CAST(coalesce(co.n_chunks_old, 0) AS BIGINT) AS n_chunks_old,
           CAST(coalesce(cn.n_chunks_new, 0) AS BIGINT) AS n_chunks_new,
           CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
           round(coalesce(sh.n_shared, 0) / greatest(coalesce(cn.nd_new, 0), 1), 6)
               AS reuse_ratio
    FROM cn LEFT JOIN co ON co.doc_id = cn.doc_id
            LEFT JOIN sh ON sh.doc_id = cn.doc_id
"""

# ---------------------------------------------------------------------------
# q129-q130 — round-5 additions: TrustRank spam demotion, hard-negative
# triplet mining
# ---------------------------------------------------------------------------

_Q129_EDGE_MULTS = ((5, 3), (11, 7), (29, 13))
Q129_ITERATIONS = 5
Q129_DAMPING = 0.85
Q129_SEED_MOD = 17


def q129_trustrank(spark, sf_dir):
    """TrustRank spam demotion (graph.trustrank, Gyongyi et al. VLDB 2004):
    biased PageRank whose teleport lands only on a trusted seed whitelist
    (doc_id % 17 == 0 here), so trust decays with link distance and pages
    unreachable from any seed within 5 hops score exactly 0 — the spam
    demotion set.  Same arithmetic link graph family as q54 but with
    DIFFERENT edge constants, so the two oracles cannot mask a shared
    defect.  Each iteration is one co-partitioned join + one map-side-
    combined groupBy; lineage localCheckpoint-cut per iteration."""
    from .operators import graph

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    n = docs.count()
    dsts = ", ".join(f"(id * {a} + {b}) % {n}L" for a, b in _Q129_EDGE_MULTS)
    edges = (
        docs.select(
            F.col("id").alias("src"), F.explode(F.expr(f"array({dsts})")).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = docs.filter(F.col("id") % Q129_SEED_MOD == 0)
    ranks = graph.trustrank(
        edges, seeds, docs, id_col="id", n_iter=Q129_ITERATIONS, damping=Q129_DAMPING
    )
    return ranks.select(F.col("id").alias("doc_id"), "trust")


QUERIES["q129_trustrank"] = q129_trustrank


def _q129_oracle_sql() -> str:
    """Independent 5-iteration TrustRank as chained SQL CTEs (the q54
    pattern): t0 = seed distribution; each r{i} applies the textbook
    seed-biased teleport + damped contribution join over the same
    arithmetic edge formula the Spark query states."""
    dsts = ", ".join(f"(doc_id * {a} + {b}) % nn.n" for a, b in _Q129_EDGE_MULTS)
    d = Q129_DAMPING
    iters = []
    for i in range(1, Q129_ITERATIONS + 1):
        iters.append(f"""
        r{i} AS (
            SELECT nodes.id,
                   (CAST(1.0 AS DOUBLE) - {d}) * nodes.is_seed / ns.s
                     + {d} * coalesce(c.mass, CAST(0.0 AS DOUBLE)) AS trust
            FROM nodes CROSS JOIN ns
            LEFT JOIN (
                SELECT e.dst AS id, sum(r{i - 1}.trust / deg.out_deg) AS mass
                FROM edges e
                JOIN r{i - 1} ON r{i - 1}.id = e.src
                JOIN deg ON deg.src = e.src
                GROUP BY e.dst) c ON c.id = nodes.id)""")
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (
            SELECT CAST(doc_id AS BIGINT) AS id,
                   CASE WHEN doc_id % {Q129_SEED_MOD} = 0
                        THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                       AS is_seed
            FROM documents),
        ns AS (SELECT sum(is_seed) AS s FROM nodes),
        lst AS (
            SELECT CAST(doc_id AS BIGINT) AS src, [{dsts}] AS dsts
            FROM documents CROSS JOIN nn),
        raw_edges AS (
            SELECT src, CAST(dsts[i] AS BIGINT) AS dst
            FROM lst, UNNEST(range(1, 1 + len(dsts))) AS u(i)),
        edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE dst <> src),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        r0 AS (SELECT id, is_seed / ns.s AS trust FROM nodes CROSS JOIN ns),
        {",".join(iters)}
        SELECT id AS doc_id, round(trust, 6) AS trust FROM r{Q129_ITERATIONS}
    """


ORACLES["q129_trustrank"] = _q129_oracle_sql()


Q130_ANCHOR_MOD = 25


def q130_triplet_mining(spark, sf_dir):
    """Hard-negative triplet mining (training.mine_triplets): for every
    anchor (vec_id % 25 == 0) the nearest same-label positive and the
    nearest DIFFERENT-label hard negative by exact cosine, plus the
    triplet margin.  Anchors broadcast (BroadcastNestedLoopJoin — the
    corpus never shuffles for the join); one groupBy(anchor) whose
    map-side combine moves <= 2|anchors| rows per partition."""
    from .operators import training

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % Q130_ANCHOR_MOD == 0)
    return training.mine_triplets(anchors, emb)


QUERIES["q130_triplet_mining"] = q130_triplet_mining

ORACLES["q130_triplet_mining"] = f"""
    WITH a AS (
        SELECT vec_id AS anchor_id,
               CAST(embedding AS DOUBLE[]) AS avec, label AS albl
        FROM embeddings WHERE vec_id % {Q130_ANCHOR_MOD} = 0),
    s AS (
        SELECT a.anchor_id, c.vec_id AS cand_id, (c.label = a.albl) AS same,
               list_cosine_similarity(a.avec, CAST(c.embedding AS DOUBLE[]))
                   AS cosine
        FROM a JOIN embeddings c ON c.vec_id <> a.anchor_id),
    p AS (
        SELECT anchor_id, cand_id, cosine,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cosine DESC, cand_id ASC) AS r
        FROM s WHERE same),
    n AS (
        SELECT anchor_id, cand_id, cosine,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cosine DESC, cand_id ASC) AS r
        FROM s WHERE NOT same)
    SELECT p.anchor_id, p.cand_id AS pos_id, n.cand_id AS neg_id,
           round(p.cosine, 4) AS pos_cos, round(n.cosine, 4) AS neg_cos,
           round(p.cosine - n.cosine, 4) AS margin
    FROM p JOIN n ON p.anchor_id = n.anchor_id
    WHERE p.r = 1 AND n.r = 1
"""


Q131_N, Q131_MAX_HAMMING = 60, 8


def _q131_media(spark):
    """PNG corpus with planted perceptual duplicates: groups of 3 share one
    pixel formula — (base gray PNG, the SAME pixels Adam7-INTERLACED — a
    transport re-encode, byte-level dedup blind), and a mildly retouched
    variant (first seed byte perturbed).  All real containers; pixels are
    derivable from the tiling formula, so the oracle never runs the
    decoder."""
    import hashlib

    from .operators import multimodal

    rows = []
    for i in range(Q131_N):
        g = i // 3
        w, h = 24 + (g % 5) * 8, 16 + (g % 4) * 8
        blob = hashlib.blake2b(f"phash:{g}".encode(), digest_size=64).digest()
        k = i % 3
        if k == 2:
            blob = bytes([blob[0] ^ 0x18]) + blob[1:]
        payload = multimodal.make_png(w, h, blob, color_type=0, interlace=(k == 1))
        rows.append((i, bytearray(payload)))
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q131_image_near_dups(spark, sf_dir):
    """Perceptual-hash image near-dup pairs (multimodal.image_near_dup_pairs):
    REAL PNG pixel decode -> integer-exact 9x8 dHash -> pigeonhole-banded
    bucket pair expansion -> bit_count verify.  Catches the transport-variant
    duplicates (interlace flips, re-encodes) and retouched copies that
    byte-level dedup misses; banding keeps the candidate shuffle on the
    band keys — never all-pairs.  The oracle re-derives pixels
    from the tiling FORMULA and brute-forces all pairs with an independent
    pure-Python dhash, so neither the decoder nor the banding can
    self-verify."""
    from .operators import multimodal

    return multimodal.image_near_dup_pairs(
        _q131_media(spark), max_hamming=Q131_MAX_HAMMING
    )


QUERIES["q131_image_near_dups"] = q131_image_near_dups
