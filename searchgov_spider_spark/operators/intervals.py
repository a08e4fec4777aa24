"""Interval analytics: binned point-in-interval joins and a distributed
sweep-line concurrency timeline.

Reference tie-in: the reference reasons about time intervals in two
places — the freshness router compares a document's last-crawl time
against report windows (``search_gov_crawler/elasticsearch/``'s
freshness pull), and the DAP analytics series are per-day visit windows
(``helpers/analytics.py``).  The general kernels behind "which windows
was X inside" and "how many windows are open at time T" are the
point-in-interval join and interval concurrency counting — both standard
web-telemetry operators a training-data pipeline runs over session logs,
and both missing from Spark's built-in operator set.

Scale shape (the point of each design):

- :func:`point_in_interval_join` NEVER builds the (points × intervals)
  cross product a naive ``p BETWEEN s AND e`` theta-join degenerates to
  in Spark (BroadcastNestedLoopJoin — a non-starter when neither side is
  broadcastable at 100 TB).  Instead both sides key on coarse time bins:
  each interval explodes to the bins it covers (bounded by
  span/bin_width + 1), each point maps to exactly one bin, and an
  ordinary hash equi-join on the bin plus an exact containment filter
  recovers the semantics.  Shuffle volume is O(points + intervals ×
  bins_per_interval); pick ``bin_width`` near the median interval span
  so the explosion factor stays ~2.  Hot bins (a flash-crowd hour) are
  plain skewed hash-join keys — AQE's skew-join splitting applies.
- :func:`concurrency_timeline` is the sweep line: every interval emits
  (+1 at start, −1 past end), simultaneous deltas merge in one groupBy,
  and the running sum over time order is the open-interval count.  The
  global running sum does NOT use a single-partition window (the same
  non-starter ``row_number().over(Window.orderBy(...))`` is for the
  frontier): :func:`running_sum_global` reuses the crawl engine's
  two-pass range-partitioned scheme (crawl/seqno.py:36) — range
  partition + sort, per-partition totals to a P-row driver table,
  broadcast cumulative offsets, partition-local window.  P is the
  partition count, never the data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """Inner join of every point row to every interval row with
    ``start_col <= point_ts <= end_col`` (inclusive both ends), via
    equi-join on time bins of ``bin_width`` (same units as the
    timestamps — the engine convention is integer microseconds).

    Column names must be disjoint between the two sides apart from the
    timestamp/bound columns named here; all columns of both sides are
    carried through.  Callers wanting left semantics compose: aggregate
    the pairs, then left-join the counts back onto the points.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(f"ambiguous columns on both sides: {sorted(overlap)}")
    bw = F.lit(int(bin_width))
    p = points.withColumn("_bin", (F.col(point_ts) / bw).cast("long"))
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                (F.col(start_col) / bw).cast("long"),
                (F.col(end_col) / bw).cast("long"),
            )
        ),
    )
    return (
        p.join(iv, "_bin")
        .filter(
            (F.col(start_col) <= F.col(point_ts))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bin")
    )


def running_sum_global(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` over the GLOBAL ``order_cols`` order,
    without a single-partition window: range-repartition on the order,
    per-partition sum totals collected as a P-row offset table, then
    a partition-local running-sum window plus the broadcast offset.
    ``order_cols`` must be a total order (add a tie-break column if the
    sort keys can repeat); the result keeps all input columns plus
    ``out_col``.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = max(1, spark.sparkContext.defaultParallelism)
    ranged = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # P-row driver table (P = partition count, bounded by configuration,
    # never by data size); the persist pins the sampled range boundaries
    totals = {
        r["_pid"]: r["t"]
        for r in ranged.groupBy("_pid").agg(F.sum(value_col).alias("t")).collect()
    }
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid] or 0
    offsets_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = (
        ranged.withColumn("_part_run", F.sum(value_col).over(w))
        .join(offsets_df, "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_part_run")).cast("long"))
        .drop("_pid", "_part_run", "_offset")
    )
    return out


def concurrency_timeline(
    intervals: DataFrame,
    start_col: str = "start_us",
    end_col: str = "end_us",
    num_partitions: int | None = None,
) -> DataFrame:
    """Open-interval count over time: (ts_us, active) change points,
    where ``active`` is the number of intervals with
    ``start <= t <= end`` for all t in [ts_us, next change point).

    Sweep line: +1 at each start, −1 just past each end (end + 1 — the
    bounds are inclusive integers), simultaneous deltas merged by one
    groupBy, then a distributed global running sum (see
    :func:`running_sum_global`).  Output size is at most 2× the interval
    count, regardless of the time span.
    """
    deltas = intervals.select(
        F.col(start_col).alias("ts_us"), F.lit(1).alias("_d")
    ).unionAll(
        intervals.select(
            (F.col(end_col) + F.lit(1)).alias("ts_us"), F.lit(-1).alias("_d")
        )
    )
    merged = deltas.groupBy("ts_us").agg(F.sum("_d").alias("_d"))
    return running_sum_global(
        merged, ["ts_us"], "_d", out_col="active", num_partitions=num_partitions
    ).select("ts_us", "active")
