"""Structured-Streaming surfaces (SURVEY.md §2.7).

The crawl loop itself is a driver-driven micro-batch (rounds = depth levels,
processing-time only, no event-time/watermarks — matching the reference,
T6).  Two genuinely streaming-shaped flows are exposed here:

  * ``stream_seed_ingestion`` — continuous frontier feeding: new seed-URL
    files appended to a directory are canonicalized, validated and admitted
    into a frontier staging table via ``readStream``/``foreachBatch``
    (the streaming analog of the reference's cron-scheduled crawl starts,
    scrapy_scheduler.py).
  * ``stream_fetch_metrics`` — event-time windowed fetch metrics with a
    watermark for late events (the spidermon metrics analog, monitors.py:
    21-48, upgraded to event-time since a real cluster emits metrics with
    lag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import udfs

SEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("output_target", T.StringType()),
    ]
)

METRIC_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("host", T.StringType()),
        T.StructField("status", T.StringType()),  # fetched | missed | denied
    ]
)


def stream_seed_ingestion(
    spark: SparkSession,
    seeds_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
):
    """readStream over a seed-drop directory -> canonicalized staging table.

    Each micro-batch canonicalizes, hashes (the seen-set hash,
    ``urlnorm.url_seen_hash``) and dedups (within batch) the new seed URLs
    and appends them to the staging parquet.  Nothing in ``crawl/`` reads
    the staging dir: a caller passes its URLs as the next crawl's seeds.
    Returns the streaming query (caller awaits/stops it).
    """

    def admit_batch(batch: DataFrame, batch_id: int) -> None:
        out = (
            batch.filter(F.col("url").isNotNull())
            .withColumn("url_canon", udfs.canonicalize_url(udfs.strip_jsessionid(F.col("url"))))
            .withColumn("host", udfs.url_host(F.col("url_canon")))
            .withColumn("url_hash", udfs.url_seen_hash(F.col("url_canon")))
            .dropDuplicates(["url_canon"])
            .withColumn("batch_id", F.lit(batch_id))
        )
        out.write.mode("append").parquet(staging_dir)

    stream = spark.readStream.schema(SEED_SCHEMA).json(seeds_dir)
    return (
        stream.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_fetch_metrics(events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed fetch metrics with late-data watermark.

    Works on both a streaming and a batch DataFrame of METRIC_SCHEMA rows
    (the transformation is identical; tests exercise it through a stream).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("status"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "status", "n")
    )


def stream_fetch_metrics(
    spark: SparkSession,
    metrics_dir: str,
    checkpoint_dir: str,
    query_name: str = "fetch_metrics",
):
    """readStream over engine metric drops -> windowed counts (memory sink)."""
    stream = spark.readStream.schema(METRIC_SCHEMA).json(metrics_dir)
    agg = windowed_fetch_metrics(stream)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


URL_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("url", T.StringType()),
    ]
)


def stream_url_dedup(
    spark: SparkSession,
    urls_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ttl_minutes: int = 60,
):
    """Streaming URL-seen dedup — the ``readStream`` analog of F7 at
    ingestion time: canonicalize + hash each incoming URL event and emit
    only its FIRST occurrence, with dedup state BOUNDED by
    ``dropDuplicatesWithinWatermark`` (keys expire once the event-time
    watermark passes ``ttl_minutes`` behind them).

    Division of labour at the 10^10 design point: the exact, unbounded seen
    set lives in the batch engine's checkpointed anti-join (crawl/frontier);
    this streaming layer pre-dedups a live URL feed (discovered links, seed
    drops, recrawl triggers) with state proportional to the TTL horizon
    only — the standard Kafka-ingest pattern.  State is checkpointed, so a
    restarted query still drops duplicates of URLs seen before the restart
    (within the watermark horizon); output is append-mode parquet whose
    ``url_hash`` is the seen-set hash (``urlnorm.url_seen_hash``), so its
    rows key the seen anti-join on (url_hash, url_canon) as the engine's do.
    """
    deduped = (
        spark.readStream.schema(URL_EVENT_SCHEMA)
        .json(urls_dir)
        .filter(F.col("url").isNotNull() & F.col("ts").isNotNull())
        .withColumn("url_canon", udfs.canonicalize_url(udfs.strip_jsessionid(F.col("url"))))
        .withColumn("url_hash", udfs.url_seen_hash(F.col("url_canon")))
        .withWatermark("ts", f"{ttl_minutes} minutes")
        # key on the canonical URL itself, not its 64-bit hash: at the 10^10
        # design point the hash alone has millions of expected colliding
        # pairs, each silently dropping a distinct URL
        .dropDuplicatesWithinWatermark(["url_canon"])
        .select("ts", "url_canon", "url_hash")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


HEALTH_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("host", T.StringType()),
        T.StructField("status", T.StringType()),  # fetched | missed | denied
        T.StructField("latency_ms", T.LongType()),
    ]
)


def host_health(
    events: DataFrame,
    window: str = "2 minutes",
    slide: str = "1 minute",
    watermark: str = "2 minutes",
    err_threshold: float = 0.5,
    min_events: int = 5,
) -> DataFrame:
    """Sliding-window per-host crawl health: error rate + latency profile
    with an ALERT flag — the live feedback loop that retunes politeness
    (crawlqc.adaptive_politeness is the batch form) and pauses a failing
    host before a whole budget burns on it.  The reference's spidermon
    monitors compute the same signals per finished JOB (monitors.py:21-48);
    a 10^10 crawl needs them DURING the run.

    Works on batch and streaming inputs alike; streaming state is bounded
    by the watermark (late events beyond it are dropped) and the window
    count (each host holds window/slide live panes).  A host alerts when
    its windowed error rate reaches ``err_threshold`` over at least
    ``min_events`` fetches.
    """
    is_err = F.col("status") != "fetched"
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("host"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(is_err, 1)).alias("n_errors"),
            F.avg("latency_ms").alias("_avg_lat"),
            F.max("latency_ms").alias("max_latency_ms"),
        )
    )
    err_rate = F.round(F.col("n_errors") / F.col("n_events"), 6)
    return agg.select(
        F.col("w.start").alias("window_start"),
        "host",
        "n_events",
        "n_errors",
        err_rate.alias("err_rate"),
        F.round(F.col("_avg_lat"), 3).alias("avg_latency_ms"),
        "max_latency_ms",
        ((F.col("n_events") >= min_events) & (err_rate >= err_threshold)).alias("alert"),
    )


def stream_host_health(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "host_health",
    **kwargs,
):
    """readStream over fetch-event drops -> sliding-window host health
    (memory sink, update mode: each pane re-emits as its counts grow)."""
    stream = spark.readStream.schema(HEALTH_SCHEMA).json(events_dir)
    return (
        host_health(stream, **kwargs)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
