"""Spark tables of the synthetic web: the pages-table schema and the small
dimension tables (seeds, robots, DAP visits, sitemap snapshots)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

