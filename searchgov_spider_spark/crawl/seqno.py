"""FIFO sequence assignment for the crawl frontier.

The frontier needs a dense global discovery sequence (the FIFO contract of
the reference's Redis queue, job_state/queue.py:4-15).  Two assigners give
the same numbers ``start..start+n-1`` in the order of ``order_cols``:

  * :func:`assign_seq_small` — one ``row_number()`` window over a single
    partition, with no action of its own.  For batches known to be small:
    the seed list (already held in memory) and rounds whose estimated
    admits stay under ``SMALL_BATCH_THRESHOLD``.
  * :func:`assign_seq_bucketed` — a per-bucket window over a precomputed
    MONOTONE bucket column plus a broadcast table of per-bucket offsets.  It
    stays fully distributed at any batch size; its one action collects
    O(buckets) counts.  :func:`monotone_bucket` derives that column from the
    parent-seq range with arithmetic alone, so no range-sampling pass runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


SMALL_BATCH_THRESHOLD = 65_536


def assign_seq_small(df: DataFrame, order_cols: list[str], seq_col: str = "seq", start: int = 0) -> DataFrame:
    """Single-partition window sequence — no pre-count action, for batches
    already known (hinted) to be small.  The caller reads the exact batch
    size afterwards from an Observation on the write."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(seq_col, (F.row_number().over(w) + F.lit(start) - 1).cast("long"))


def assign_seq_bucketed(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
    start: int = 0,
    bucket_col: str = "_pid",
) -> tuple[DataFrame, int, DataFrame]:
    """Dense global sequence over a precomputed MONOTONE bucket column.

    ``df[bucket_col]`` must be a non-decreasing integer function of the
    global ``order_cols`` order (the crawl engine derives it arithmetically
    from the frontier's dense parent-seq range, so no range-sampling pass
    is needed).  The single action here — the per-bucket count collect —
    doubles as the materialization of ``df``'s cache; the per-bucket window
    and the broadcast offset join stay lazy for the caller's write to
    execute.  The collect is O(buckets) rows at any input size.

    Returns ``(df_with_seq, total_rows, cache_handle)``; the caller
    unpersists the handle after materializing the result.
    """
    # r06: cache the POST-window rows and read the per-bucket counts as
    # max(row_number) — the bucket exchange + sort then runs inside THIS
    # job (which the engine overlaps with the concurrent documents write)
    # instead of re-running serially inside the frontier write; the write
    # job is left with cache-read -> tiny broadcast offset join -> write.
    #
    # The bucket exchange is an EXPLICIT repartition sized to the session's
    # shuffle parallelism: left to Window.partitionBy, AQE's size-based
    # coalescing (advisory 16m) folds a ~45 MB round batch into 1-3
    # post-shuffle partitions and the per-bucket SORT serializes onto that
    # many cores — measured 3.6 s/round of single-task sort at local[8]
    # (2M-page scaling phase) vs <0.5 s spread across the full width.
    # Partition count follows the session config, not a constant.
    spark_ = df.sparkSession
    try:
        n_parts = int(spark_.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover - non-numeric session override
        n_parts = max(1, spark_.sparkContext.defaultParallelism)
    w = Window.partitionBy(bucket_col).orderBy(*[F.col(c) for c in order_cols])
    cached = (
        df.repartition(n_parts, F.col(bucket_col))
        .withColumn("_rn", F.row_number().over(w))
        .persist()
    )
    rows = cached.groupBy(bucket_col).agg(F.max("_rn").alias("cnt")).collect()
    counts = {r[bucket_col]: r["cnt"] for r in rows}
    total = sum(counts.values())
    if total == 0:
        return cached.drop("_rn").withColumn(seq_col, F.lit(start).cast("long")), 0, cached
    offsets: dict[int, int] = {}
    running = start
    for b in sorted(counts):
        offsets[b] = running
        running += counts[b]
    spark = df.sparkSession
    offsets_df = F.broadcast(
        spark.createDataFrame(
            [(int(b), int(o)) for b, o in offsets.items()], f"{bucket_col} int, _offset long"
        )
    )
    out = (
        cached.join(offsets_df, bucket_col)
        .withColumn(seq_col, (F.col("_offset") + F.col("_rn") - F.lit(1)).cast("long"))
        .drop("_rn", "_offset", bucket_col)
    )
    return out, total, cached


def monotone_bucket(
    col, lo: int, span: int, n_buckets: int
):
    """Arithmetic bucket id: ``floor((col - lo) * n_buckets / span)`` clamped
    to ``[0, n_buckets)``.  Monotone non-decreasing in ``col`` for ANY
    ``(lo, span)`` — clamping keeps out-of-range values at the end buckets —
    so :func:`assign_seq_bucketed` is CORRECT with estimated bounds; exact
    bounds only improve balance."""
    raw = F.floor(((col - F.lit(lo)) * F.lit(int(n_buckets))) / F.lit(int(max(span, 1))))
    return F.least(F.lit(int(n_buckets - 1)), F.greatest(F.lit(0), raw)).cast("int")

