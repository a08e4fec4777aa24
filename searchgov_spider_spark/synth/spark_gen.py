"""Distributed synthetic-web generation with a parquet cache.

Pages are a pure function of (host, page_index), so generation fans out with
``mapInPandas`` over an index DataFrame — no driver-side HTML construction at
bench scale.  Results are cached as parquet under ``.cache/`` keyed by
(n_pages, n_hosts); repeated bench/test runs hit the cache.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import webgen

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

_CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".cache")


def _gen_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            webgen.build_page(int(r.h), int(r.k), int(r.host_pages), int(r.n_hosts), int(r.branch))
            for r in pdf.itertuples(index=False)
        ]
        yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    n_hosts: int,
    cache: bool = True,
    partitions: int | None = None,
    branch: int = 3,
) -> DataFrame:
    """Pages table, distributed-generated and parquet-cached."""
    cache_dir = os.path.join(_CACHE_ROOT, f"pages_{n_pages}_{n_hosts}" + (f"_b{branch}" if branch != 3 else ""))
    if cache and os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        return spark.read.parquet(cache_dir)
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)
    sizes = webgen.host_sizes(n_pages, n_hosts)
    # index rows are tiny; build host offsets driver-side, explode page ids in Spark
    hosts_df = spark.createDataFrame(
        [(h, sizes[h], n_hosts, branch) for h in range(n_hosts)],
        "h int, host_pages int, n_hosts int, branch int",
    )
    index = (
        hosts_df.withColumn("k", F.explode(F.sequence(F.lit(0), F.col("host_pages") - 1)))
        .repartition(partitions, F.xxhash64("h", "k"))
    )
    pages = index.mapInPandas(_gen_pages, schema=PAGES_SCHEMA)
    if cache:
        pages.write.mode("overwrite").parquet(cache_dir)
        return spark.read.parquet(cache_dir)
    return pages


def generate_support_tables(spark: SparkSession, n_hosts: int) -> dict[str, DataFrame]:
    """Small dimension tables (seeds / robots / dap / sitemap snapshots)."""
    seeds_schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("allowed_domains", T.StringType()),
            T.StructField("starting_urls", T.StringType()),
            T.StructField("allow_query_string", T.BooleanType()),
            T.StructField("handle_javascript", T.BooleanType()),
            T.StructField("output_target", T.StringType()),
            T.StructField("depth_limit", T.IntegerType()),
            T.StructField("deny_paths", T.ArrayType(T.StringType())),
            T.StructField("schedule", T.StringType()),
            T.StructField("sitemap_urls", T.ArrayType(T.StringType())),
            T.StructField("check_sitemap_hours", T.IntegerType()),
        ]
    )
    return {
        "seeds": spark.createDataFrame(webgen.seeds_pandas(n_hosts), schema=seeds_schema),
        "robots": spark.createDataFrame(webgen.robots_pandas(n_hosts)),
        "dap_visits": spark.createDataFrame(webgen.dap_visits_pandas(n_hosts)),
        "sitemap_snapshot": spark.createDataFrame(webgen.sitemap_snapshots_pandas(n_hosts)),
    }

