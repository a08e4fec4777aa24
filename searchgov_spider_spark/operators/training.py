"""Distributed model training over the corpus: logistic regression with
EXACT fixed-point gradient aggregation.

A curation pipeline eventually trains its own quality classifier on the
corpus it is building (the fastText step behind GPT-3/LLaMA "looks-like-
Wikipedia" filtering, whose frozen-weight *scoring* half is
curation.hashed_classifier_score).  The trainer here closes that loop
distributed, with the repo-wide determinism contract:

- **Float sums are order-dependent; integer sums are not.**  Per-row
  gradients are computed in IEEE-754 doubles (each row's value is exactly
  reproducible — only +, *, /, abs, all correctly rounded), then scaled by
  2**20 and truncated to BIGINT.  Spark sums the bigints — exact and
  associative, so the result is bit-identical at local[2], local[32], or
  1000 executors, and a pure-Python oracle can re-derive every weight
  bit-for-bit.  (This is the integer-accumulator trick HPC reductions and
  deterministic-ML systems use for reproducible SGD.)
- **The sigmoid is the ALGEBRAIC form** sig(z) = 0.5*(1 + z/(1+|z|)) —
  same S-shape/range as the logistic but free of exp(), whose libm
  implementations differ by 1 ulp across platforms (the same rule as
  curation.hashed_classifier_score).
- **Per-iteration cost**: ONE aggregation job emitting d+1 bigints per
  partition (map-side partial agg; the shuffle is d+1 rows total).  The
  driver holds only the weight vector — O(d), never O(rows).  The feature
  frame is persisted once, so iterations rescan the (narrow, numeric)
  cached columns, not the raw 100-TB text.

Reference parity note: the reference (GSA-TTS/searchgov-spider) has no
model training; this is a §"beyond the reference" training-data-pipeline
operator (brief: quality scoring / classifier curation at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

GRAD_SCALE = 1 << 20  # fixed-point scale for gradient truncation


def _dot_expr(weights: list[float], feature_cols: list[str]) -> str:
    """Left-associated literal dot product — Python evaluates `a + b + c`
    left-to-right and so does Spark SQL's parser; Catalyst folds constants
    but does not reassociate float adds across non-constant terms, so both
    engines round identically at every step."""
    return " + ".join(
        f"cast({w!r} as double) * {c}" for w, c in zip(weights, feature_cols)
    )


def _sigmoid_expr(z: str) -> str:
    return f"0.5 * (cast(1.0 as double) + ({z}) / (cast(1.0 as double) + abs({z})))"


def logistic_regression(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.5,
    n_iters: int = 5,
) -> tuple[list[list[float]], float, int]:
    """Full-batch gradient descent; returns (weights-after-each-iteration,
    final train accuracy, n_rows).

    ``features`` must expose DOUBLE columns ``feature_cols`` (include a
    literal 1.0 column for the bias) and a 0/1 ``label_col``.  Weights
    start at 0.0.  Each iteration computes, per row,
    ``g_j = (sig(w.x) - y) * x_j``, truncates ``g_j * 2**20`` to bigint,
    and takes the exact distributed sum; the driver applies
    ``w_j -= lr * ((S_j / 2**20) / n)``.
    """
    d = len(feature_cols)
    cached = features.persist()
    try:
        n = cached.count()
        w = [0.0] * d
        history: list[list[float]] = []
        for _ in range(n_iters):
            z = _dot_expr(w, feature_cols)
            err = f"(({_sigmoid_expr(z)}) - cast({label_col} as double))"
            sums = cached.agg(
                *[
                    F.sum(
                        F.expr(f"cast(({err}) * {c} * cast({GRAD_SCALE} as double) as bigint)")
                    ).alias(f"g{j}")
                    for j, c in enumerate(feature_cols)
                ]
            ).collect()[0]
            w = [
                w[j] - lr * ((int(sums[f"g{j}"]) / float(GRAD_SCALE)) / n)
                for j in range(d)
            ]
            history.append(list(w))
        z = _dot_expr(w, feature_cols)
        pred = f"(({_sigmoid_expr(z)}) >= cast(0.5 as double))"
        correct = cached.agg(
            F.sum(
                F.expr(f"cast({pred} = (cast({label_col} as double) >= cast(0.5 as double)) as bigint)")
            ).alias("c")
        ).collect()[0]["c"]
        return history, int(correct) / n, n
    finally:
        cached.unpersist()


def logreg_token_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The q108 feature frame — three token statistics whose raw counts are
    integers, so every feature double is one or two correctly-rounded
    divisions away from exact values (reproducible in any IEEE engine):

    - x0 = 1.0 (bias)
    - x1 = n_tokens / 64
    - x2 = type-token ratio  = n_distinct_tokens / n_tokens
    - x3 = (sum token length / n_tokens) / 8

    Label: y = 1 iff type-token ratio >= 0.45 — linearly separable on x2,
    so the trainer's convergence is observable in the output weights.
    """
    from .dedup import TOKEN_PATTERN

    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    nt = f"greatest(size({toks}), 1)"
    ttr = f"cast(size(array_distinct({toks})) as double) / cast({nt} as double)"
    sumlen = f"aggregate(transform({toks}, t -> length(t)), 0L, (a, x) -> a + x)"
    return docs.select(
        F.col(id_col),
        F.expr("cast(1.0 as double)").alias("x0"),
        F.expr(f"cast({nt} as double) / cast(64.0 as double)").alias("x1"),
        F.expr(ttr).alias("x2"),
        F.expr(f"(cast({sumlen} as double) / cast({nt} as double)) / cast(8.0 as double)").alias("x3"),
        F.expr(f"cast(({ttr}) >= cast(0.45 as double) as int)").alias("y"),
    )


def epoch_shards(
    docs: DataFrame,
    n_shards: int = 32,
    seed: str = "epoch0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment:
    (id, shard_id, pos) where shard_id/pos are reproducible at ANY
    parallelism and any cluster size — the data-order-reproducibility
    contract LLM pretraining needs (re-running epoch 3 after a crash must
    feed batches in the identical order).

    rank = md5(seed:id) is the shuffle key (vary ``seed`` per epoch for a
    fresh permutation); shard_id = high-24-bits(rank) % n_shards gives
    uniform shards by construction; pos = rank order within the shard.

    Scale shape: ONE shuffle (the window's hash partition on shard_id) and
    a per-shard sort.  Shards are hash-uniform so there is no skew, and
    ``n_shards`` is the memory knob: at 10^10 docs and n_shards = 65536
    each shard sorts ~150k rows.  No RNG, no collect, no UDF — md5 and
    row_number are codegen'd."""
    from pyspark.sql import Window

    rank = (
        f"md5(concat('{seed}', ':', CAST({id_col} AS STRING)))"
    )
    shard = (
        f"CAST(CAST(conv(substring(_rank, 1, 6), 16, 10) AS BIGINT) "
        f"% {int(n_shards)} AS INT)"
    )
    w = Window.partitionBy("shard_id").orderBy("_rank", id_col)
    return (
        docs.select(F.col(id_col), F.expr(rank).alias("_rank"))
        .withColumn("shard_id", F.expr(shard))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard_id", "pos")
    )


def mine_triplets(
    anchors: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative triplet mining for contrastive / embedding-model
    training (the FaceNet / SBERT batch-mining recipe, run corpus-side):
    for every ANCHOR pick

      * positive  = the most-cosine-similar OTHER corpus row with the
        SAME label (the hardest positive is the least similar, but the
        standard retrieval-training pair is nearest same-class), and
      * hard negative = the most-cosine-similar corpus row with a
        DIFFERENT label — the negative the model currently confuses most,

    and report the margin pos_cos - neg_cos (negative margin = the anchor
    violates the triplet constraint and is a high-value training row).

    ``anchors`` is the mining batch — bounded by construction (a training
    batch, not the corpus), so it is BROADCAST; the corpus streams past it
    in ONE narrow scan.  Determinism: ties on cosine break to the smaller
    candidate id (struct max on (cosine, -id)).

    Scale shape: BroadcastNestedLoopJoin (corpus x broadcast anchors, the
    intended plan for a bounded anchor set — no corpus shuffle for the
    join), cosine via codegen'd higher-order functions (zero UDFs), then
    ONE groupBy(anchor) whose map-side partial aggregation reduces every
    partition to <= |anchors| rows before the only shuffle.  At 10^10
    corpus rows x 256 anchors the shuffle moves ~256 rows per partition.
    """
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("_avec"),
            F.col(label_col).alias("_albl"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cvec"),
        F.col(label_col).alias("_clbl"),
    )
    dot = (
        "aggregate(zip_with(_avec, _cvec, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    nrm = (
        "sqrt(aggregate({v}, cast(0.0 as double), "
        "(acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    # a zero-norm vector has no cosine: try_divide gives null instead of
    # the ANSI divide-by-zero error, and the pair drops out of both picks
    scored = (
        c.join(a, F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "cand_id",
            (F.col("_clbl") == F.col("_albl")).alias("same"),
            F.try_divide(
                F.expr(dot), F.expr(nrm.format(v="_avec")) * F.expr(nrm.format(v="_cvec"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    # struct max = (max cosine, then min id); map-side combine shrinks each
    # partition to at most 2*|anchors| partial rows before the shuffle
    best = F.max(
        F.when(
            F.col("same"),
            F.struct(F.col("cosine"), (-F.col("cand_id")).alias("nid")),
        )
    ).alias("_pos")
    worst = F.max(
        F.when(
            ~F.col("same"),
            F.struct(F.col("cosine"), (-F.col("cand_id")).alias("nid")),
        )
    ).alias("_neg")
    return (
        scored.groupBy("anchor_id")
        .agg(best, worst)
        # no same-label or no other-label candidate -> no triplet to form
        .filter(F.col("_pos").isNotNull() & F.col("_neg").isNotNull())
        .select(
            "anchor_id",
            (-F.col("_pos.nid")).alias("pos_id"),
            (-F.col("_neg.nid")).alias("neg_id"),
            F.round("_pos.cosine", 4).alias("pos_cos"),
            F.round("_neg.cosine", 4).alias("neg_cos"),
            F.round(F.col("_pos.cosine") - F.col("_neg.cosine"), 4).alias("margin"),
        )
    )
