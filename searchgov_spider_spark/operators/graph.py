"""Link-graph operators: PageRank over a crawl's (src, dst) edge list.

A web-scale crawler needs a link-importance signal to prioritize its
frontier and to weight pages for corpus inclusion (Common Crawl publishes
exactly this as its harmonic-centrality / PageRank rankings; OPIC — the
"adaptive on-line page importance" Scrapy's priority queues approximate —
is the online variant).  The reference crawler orders purely BFS
(searchgov: docs in SURVEY §2 O1), so this operator extends the engine the
way its own roadmap would: rank what you crawled to decide what to keep
and what to fetch next.

Scale shape (the 100-TB / 10^10-edge design point):
- Each iteration is ONE shuffle: contributions = ranks ⋈ out-degree edges
  (both pre-partitioned on ``src``; the join is co-partitioned after the
  first iteration's exchange, and AQE handles hub-node skew) followed by a
  groupBy on ``dst`` with map-side partial aggregation.
- Ranks stay (node, double) — never materialize adjacency on the driver;
  no collect anywhere.  Iterations are bounded (``n_iter``), and each
  iteration's result is localCheckpoint'd so the plan stays O(1) deep —
  the same lineage-cut discipline as operators/dedup.connected_components.
- Dangling nodes (no out-edges): their mass is NOT redistributed — the
  contract is rank = (1-d)/N + d * sum(in-neighbor contributions), the
  "lost mass" formulation, chosen because it is exactly reproducible by a
  pure-SQL oracle (a redistribution term needs a per-iteration global sum,
  which the oracle can also do, but the simpler contract keeps every rank
  a finite weighted path sum — and for frontier prioritization only the
  ORDER of ranks matters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration power-method PageRank.

    ``edges``: distinct (src, dst) pairs, self-loops allowed (they feed
    their own rank back).  ``nodes``: one row per node id (defines N and
    keeps isolated nodes in the output at the teleport floor).
    Returns (id_col, pagerank) with pagerank rounded to 6 dp.
    """
    spark = edges.sparkSession
    n_total = nodes.count()  # scalar N: one job, O(1) driver memory
    teleport = (1.0 - damping) / n_total

    deg = edges.groupBy(src_col).agg(F.count("*").alias("out_deg"))
    # (src, dst, out_deg) — static across iterations; materialize once so
    # each iteration pays only the rank join, not a recomputed groupBy
    adj = edges.join(deg, src_col).localCheckpoint(eager=False)

    ranks = nodes.select(
        F.col(id_col).alias(src_col), F.lit(1.0 / n_total).alias("rank")
    ).localCheckpoint(eager=False)

    for _ in range(n_iter):
        contribs = (
            adj.join(ranks, src_col)
            .select(
                F.col(dst_col).alias(id_col),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy(id_col)
            .agg(F.sum("contrib").alias("in_mass"))
        )
        ranks = (
            nodes.select(id_col)
            .join(contribs, id_col, "left")
            .select(
                F.col(id_col).alias(src_col),
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)  # cut lineage: plan depth stays O(1)
        )

    return ranks.select(
        F.col(src_col).alias(id_col), F.round("rank", 6).alias("pagerank")
    )


def hits(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999): mutually-reinforcing hub and
    authority scores over the crawl link graph — the classic companion
    signal to PageRank for seed selection (good HUBS are the pages a
    crawler should re-visit for fresh links; good AUTHORITIES are the
    pages worth indexing/keeping).

    Contract (chosen for exact single-node SQL reproducibility):
    hub₀ = 1 for every node; each iteration computes
    auth(v) = Σ_{u→v} hub(u) then L1-normalizes over all nodes, then
    hub(u) = Σ_{u→v} auth(v) then L1-normalizes — the standard power
    iteration with sum-normalization instead of L2 (no sqrt, so every
    score stays a rational function of edge counts; ordering is
    unaffected).  Nodes without in-edges get authority 0, without
    out-edges hub 0.  Returns (id, authority, hub) rounded to 6 dp.

    Scale shape: like :func:`pagerank`, each iteration is one
    co-partitioned join (scores ⋈ edges) + one map-side-combined groupBy
    per direction; the L1 norm is a 1-row global agg joined back by
    broadcast (never a driver collect); per-iteration localCheckpoint
    keeps the plan O(1) deep.  Hub-node skew (a page linked by millions)
    is one hot groupBy key — partial aggregation absorbs it map-side.
    """
    adj = edges.select(src_col, dst_col).localCheckpoint(eager=False)
    hubs = nodes.select(
        F.col(id_col).alias(src_col), F.lit(1.0).alias("hub")
    ).localCheckpoint(eager=False)
    auths = None

    for _ in range(n_iter):
        araw = (
            adj.join(hubs, src_col)
            .groupBy(dst_col)
            .agg(F.sum("hub").alias("a_raw"))
        )
        asum = araw.agg(F.sum("a_raw").alias("a_sum"))
        auths = (
            nodes.select(F.col(id_col).alias(dst_col))
            .join(araw, dst_col, "left")
            .crossJoin(F.broadcast(asum))
            .select(
                dst_col,
                (F.coalesce("a_raw", F.lit(0.0)) / F.col("a_sum")).alias("auth"),
            )
            .localCheckpoint(eager=False)
        )
        hraw = (
            adj.join(auths, dst_col)
            .groupBy(src_col)
            .agg(F.sum("auth").alias("h_raw"))
        )
        hsum = hraw.agg(F.sum("h_raw").alias("h_sum"))
        hubs = (
            nodes.select(F.col(id_col).alias(src_col))
            .join(hraw, src_col, "left")
            .crossJoin(F.broadcast(hsum))
            .select(
                src_col,
                (F.coalesce("h_raw", F.lit(0.0)) / F.col("h_sum")).alias("hub"),
            )
            .localCheckpoint(eager=False)
        )

    return (
        auths.select(F.col(dst_col).alias(id_col), "auth")
        .join(hubs.select(F.col(src_col).alias(id_col), "hub"), id_col)
        .select(
            id_col,
            F.round("auth", 6).alias("authority"),
            F.round("hub", 6).alias("hub"),
        )
    )


def anchor_topk_terms(
    edges: DataFrame,
    k: int = 3,
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text term aggregation: the classic external
    relevance signal a web index attaches to each PAGE from the text of
    the links POINTING AT it (how search.gov-class engines rank a page
    for words that never appear on it).  The reference extracts links and
    indexes documents (SURVEY §2 F1/S11); this is the join of the two —
    link-source text aggregated per link target.

    Input: (dst, anchor) rows — one per extracted link.  Output: the top
    ``k`` terms per target by (count desc, term asc) as
    (dst, term, n, rank).

    Scale shape: tokenize + explode map-side, ONE groupBy on (dst, term)
    with partial agg (the 10^10-edge shuffle; uniform unless one page is
    linked by everything — AQE skew applies), then the per-target top-k
    as a rank window PARTITIONED BY dst — distributed across targets, no
    global sort, no single-partition window.
    """
    from pyspark.sql import Window

    from .dedup import tokens_col

    counts = (
        edges.select(F.col(dst_col), F.explode(tokens_col(anchor_col)).alias("term"))
        .groupBy(dst_col, "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy(dst_col).orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(dst_col, "term", "n", "rank")
    )


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_doublings: int = 6,
) -> DataFrame:
    """Redirect-chain resolution by POINTER JUMPING (path doubling) over a
    functional graph — every crawl stores one (url -> redirect target) hop;
    indexing needs the terminal URL of each chain (the reference follows
    redirects inline per-request via Scrapy's RedirectMiddleware; batch
    resolution over a stored frontier is the at-scale equivalent).

    Each src has exactly ONE out-edge.  k doubling rounds resolve chains up
    to 2^k hops: successor(x) <- successor(successor(x)), hops additive.
    That is O(log L) shuffles instead of the O(L) of a step-by-step walk —
    the difference between 6 rounds and 64 at the tail of real redirect
    chains.  Chains still unresolved after 2^k hops are loops: flagged
    ``cycle`` with NULL target (a crawler drops them).

    Output: src, final_url (NULL on cycle), hops (NULL on cycle), status.
    """
    cur = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.lit(1).alias("_h"),
    ).localCheckpoint(eager=False)
    for _ in range(max_doublings):
        nxt = cur.select(
            F.col("_s").alias("_s2"), F.col("_d").alias("_d2"), F.col("_h").alias("_h2")
        )
        cur = (
            cur.join(nxt, F.col("_d") == F.col("_s2"), "left")
            .select(
                "_s",
                F.coalesce(F.col("_d2"), F.col("_d")).alias("_d"),
                (F.col("_h") + F.coalesce(F.col("_h2"), F.lit(0))).alias("_h"),
            )
            # keep the iterated plan O(1) like connected_components does
            .localCheckpoint(eager=False)
        )
    sources = edges.select(F.col(src_col).alias("_d")).distinct()
    resolved = cur.join(sources, "_d", "left_anti").select(
        F.col("_s"), F.col("_d"), F.col("_h"), F.lit("resolved").alias("status")
    )
    cycles = cur.join(sources, "_d", "left_semi").select(
        F.col("_s"),
        F.lit(None).cast(cur.schema["_d"].dataType).alias("_d"),
        F.lit(None).cast("int").alias("_h"),
        F.lit("cycle").alias("status"),
    )
    return resolved.unionByName(cycles).select(
        F.col("_s").alias("src"),
        F.col("_d").alias("final_url"),
        F.col("_h").alias("hops"),
        "status",
    )


def opic(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """On-line Page Importance Computation (Abiteboul, Preda & Cobena,
    WWW 2003) — the crawl-ordering signal DESIGNED for frontiers: unlike
    PageRank it needs no converged global ranking before it is useful;
    cash accumulates importance as the crawl proceeds.  This is the
    deterministic SYNCHRONOUS variant: every node starts with cash 1/N and
    history 0; each step every node banks its cash into history and
    distributes it equally over its out-links, with DANGLING nodes' cash
    redistributed uniformly (the paper's virtual-root contract):

        hist_i(v) = hist_{i-1}(v) + cash_{i-1}(v)
        cash_i(v) = sum_{u->v} cash_{i-1}(u)/outdeg(u) + dangling_{i-1}/N

    Importance after k steps = (hist_k + cash_k) / (k + 1) — total cash is
    1 every step, so k+1 normalizes the banked+pending mass to a
    distribution.  Returns (id_col, opic) rounded to 6 dp.

    Scale shape (mirrors :func:`pagerank`): adjacency+outdeg materialized
    ONCE; each iteration is one co-partitioned contribution join + one
    map-side-combined groupBy + a 1-row dangling-mass broadcast
    (anti-join on the out-degree keys, no collect), with a per-iteration
    ``localCheckpoint`` keeping plan depth O(1).
    """
    n_total = nodes.count()  # scalar N: one job, O(1) driver memory
    deg = edges.groupBy(src_col).agg(F.count("*").alias("out_deg"))
    adj = edges.join(deg, src_col).localCheckpoint(eager=False)
    deg_ids = deg.select(F.col(src_col).alias(id_col)).localCheckpoint(eager=False)

    state = nodes.select(
        F.col(id_col),
        F.lit(1.0 / n_total).alias("cash"),
        F.lit(0.0).alias("hist"),
    ).localCheckpoint(eager=False)

    for _ in range(n_iter):
        dmass = F.broadcast(
            state.join(deg_ids, id_col, "left_anti").agg(
                F.coalesce(F.sum("cash"), F.lit(0.0)).alias("dm")
            )
        )
        contribs = (
            adj.join(state.select(F.col(id_col).alias(src_col), "cash"), src_col)
            .select(
                F.col(dst_col).alias(id_col),
                (F.col("cash") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy(id_col)
            .agg(F.sum("contrib").alias("in_mass"))
        )
        state = (
            state.select(
                id_col, F.col("cash").alias("_prev_cash"), F.col("hist").alias("_prev_hist")
            )
            .join(contribs, id_col, "left")
            .crossJoin(dmass)
            .select(
                F.col(id_col),
                (
                    F.coalesce("in_mass", F.lit(0.0))
                    + F.col("dm") / F.lit(float(n_total))
                ).alias("cash"),
                (F.col("_prev_hist") + F.col("_prev_cash")).alias("hist"),
            )
            .localCheckpoint(eager=False)  # cut lineage: plan depth stays O(1)
        )

    return state.select(
        F.col(id_col),
        F.round(
            (F.col("hist") + F.col("cash")) / F.lit(float(n_iter + 1)), 6
        ).alias("opic"),
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004): biased
    PageRank whose teleport mass lands ONLY on a hand-vetted trusted seed
    set, so trust attenuates with link distance from the seeds and spam
    farms — reachable mainly from other spam — score near zero.  The
    standard web-corpus spam-demotion signal a crawler layers over
    :func:`pagerank` (which spam farms can inflate; trust they cannot,
    because no seed links into them).

        t_i(v) = (1-d) * seed(v)/|S| + d * sum_{u->v} t_{i-1}(u)/outdeg(u)

    with t_0 = the seed distribution itself.  Like :func:`pagerank` this
    is the lost-mass dangling contract (no redistribution), keeping every
    score a finite weighted path sum a pure-SQL oracle reproduces exactly.
    ``seeds``: the trusted node ids (a curated list — bounded, but joined
    not collected, so a million-seed whitelist is fine).  S is the set of
    distinct seed ids that are also nodes: a repeated id counts once and
    an id that is no node is ignored; with S empty every node scores 0.0.
    Returns (id_col, trust) rounded to 6 dp, one row per node; non-seed
    pages unreachable from any seed get exactly 0.0 — the demotion set.

    Scale shape (mirrors :func:`pagerank`): adjacency+outdeg materialized
    once; each iteration is ONE co-partitioned contribution join + one
    map-side-combined groupBy; the seed indicator rides the rank rows
    (no per-iteration seed join); per-iteration ``localCheckpoint`` keeps
    plan depth O(1); no collect anywhere.
    """
    seed_ids = seeds.select(id_col).distinct().join(nodes.select(id_col), id_col, "left_semi")
    # scalar |S|: one job, O(1) driver memory; with S empty every is_seed
    # below is 0, so dividing by 1 scores every node 0.0
    n_seeds = max(seed_ids.count(), 1)
    teleport = (1.0 - damping) / n_seeds

    deg = edges.groupBy(src_col).agg(F.count("*").alias("out_deg"))
    adj = edges.join(deg, src_col).localCheckpoint(eager=False)

    # seed indicator pinned onto every node row once; teleport = is_seed *
    # (1-d)/|S| thereafter, so iterations touch only (id, rank, is_seed)
    base = (
        nodes.select(F.col(id_col))
        .join(seed_ids.select(F.col(id_col), F.lit(1.0).alias("is_seed")), id_col, "left")
        .select(id_col, F.coalesce("is_seed", F.lit(0.0)).alias("is_seed"))
        .localCheckpoint(eager=False)
    )

    ranks = base.select(
        F.col(id_col).alias(src_col),
        (F.col("is_seed") / n_seeds).alias("trust"),
    ).localCheckpoint(eager=False)

    for _ in range(n_iter):
        contribs = (
            adj.join(ranks, src_col)
            .select(
                F.col(dst_col).alias(id_col),
                (F.col("trust") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy(id_col)
            .agg(F.sum("contrib").alias("in_mass"))
        )
        ranks = (
            base.join(contribs, id_col, "left")
            .select(
                F.col(id_col).alias(src_col),
                (
                    F.lit(teleport) * F.col("is_seed")
                    + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
                ).alias("trust"),
            )
            .localCheckpoint(eager=False)  # cut lineage: plan depth stays O(1)
        )

    return ranks.select(
        F.col(src_col).alias(id_col), F.round("trust", 6).alias("trust")
    )
