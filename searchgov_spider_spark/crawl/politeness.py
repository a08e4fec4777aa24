"""Per-host politeness: static token-bucket budgets + skew-safe per-host top-k.

Reference budget: 1 concurrent request/domain with a 1-second delay
(settings/domain_spider.py:16-18) == a token bucket refilling at
1/crawl_delay tokens/sec per host, capacity = round length.  Each crawl
round selects at most ``floor(round_seconds / crawl_delay)`` frontier URLs
per host in FIFO (depth, seq) order — the Spark form of Scrapy's
downloader-aware fair scheduling (settings/domain_spider.py:21).

Skew: a hot host may hold millions of frontier rows while its budget is
tiny.  A single ``row_number().over(partitionBy(host))`` would funnel the
hot host through one task, so selection is two-phase:

  phase 1: within each (host, salt) slice — salt = seq % S — keep the local
           top ``budget`` rows (partition-local window after an explicit
           repartition on (host, salt): S-way parallel even for one host);
  phase 2: global per-host ``row_number`` over the surviving ≤ S*budget rows.

Phase 2 input is bounded by S * budget per host regardless of frontier skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels.robotstxt import DEFAULT_AGENT

DEFAULT_CRAWL_DELAY = 1.0


def static_budgets(
    robots: DataFrame | None, round_seconds: float, agent: str = DEFAULT_AGENT
) -> DataFrame | None:
    """Per-host budget when bucket capacity == round length.

    Algebraic collapse of the token bucket: with capacity C = round_seconds /
    crawl_delay, leftover tokens L >= 0 and refill elapsed == round_seconds,
    refill yields min(C, L + C) = C every round.  The per-round budget is
    therefore the constant floor(round_seconds / crawl_delay) per host, and
    no per-host bucket state needs to be carried between rounds.  (Burst
    capacities != round length are served by the streaming path,
    streaming.stateful.rate_limited_frontier.)

    Returns (host, budget) for hosts with robots Crawl-delay overrides (the
    Crawl-delay of the rule group ``agent`` selects); hosts absent from the
    result use the default budget.
    """
    if robots is None:
        return None
    from ..functions import udfs

    delay = udfs.robots_crawl_delay(F.col("rules_text"), F.lit(agent))
    return robots.select(
        F.col("host"),
        F.floor(F.lit(round_seconds) / F.coalesce(delay, F.lit(DEFAULT_CRAWL_DELAY)))
        .cast("int")
        .alias("budget"),
    )


def select_per_host_static(
    frontier: DataFrame,
    budgets: DataFrame | None,
    default_budget: int,
    order_cols: list[str] | None = None,
    salt_buckets: int = 1,
) -> DataFrame:
    """Politeness-capped FIFO selection with static per-host budgets."""
    order_cols = order_cols or ["depth", "seq"]
    if budgets is not None:
        fr = frontier.join(F.broadcast(budgets), "host", "left").fillna({"budget": default_budget})
    else:
        fr = frontier.withColumn("budget", F.lit(default_budget))
    fr = fr.filter(F.col("budget") > 0)

    if salt_buckets > 1:
        fr = fr.withColumn("_salt", F.pmod(F.col("seq"), F.lit(salt_buckets)).cast("int"))
        fr = fr.repartition(F.col("host"), F.col("_salt"))
        w1 = Window.partitionBy("host", "_salt").orderBy(*[F.col(c) for c in order_cols])
        fr = fr.withColumn("_rn1", F.row_number().over(w1)).filter(F.col("_rn1") <= F.col("budget"))

    w2 = Window.partitionBy("host").orderBy(*[F.col(c) for c in order_cols])
    return (
        fr.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= F.col("budget"))
        .drop("_salt", "_rn1", "_rn2", "budget")
    )

