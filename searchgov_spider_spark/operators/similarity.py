"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Brute force is the correctness baseline (exact, one pass, no shuffle beyond
the final top-k); the random-hyperplane LSH variant is the 100-TB scale path
(bucket join prunes candidates by ~2^bits before exact scoring).

Vector math stays JVM-side where the built-ins allow
(aggregate/zip_with dot products); the hyperplane projection is a vectorized
numpy pandas UDF (one matmul per Arrow batch).
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import bucket_pairs

logger = logging.getLogger(__name__)


def derive_srp_params(
    threshold: float,
    n_rows: int,
    target_recall: float = 0.99,
    candidates_per_row: float = 8.0,
    min_bits: int = 8,
    max_bits: int = 32,
    max_bands: int = 128,
) -> tuple[int, int]:
    """Corpus-scale (bits, bands) for OR-amplified SRP-LSH.

    Per-band collision probability for a pair at angle θ is
    p(θ) = (1 - θ/π)^bits; OR-amplified recall over ``bands`` tables is
    1 - (1 - p)^bands.  A RANDOM pair (θ ≈ π/2) collides in some band with
    probability ≈ bands · 2^-bits, so the expected number of random
    candidate pairs is ≈ n² /2 · bands · 2^-bits — QUADRATIC in n unless
    bits grows with log2(n).  This picks the smallest bits whose recall-
    driven band count keeps expected random candidates ≤
    ``candidates_per_row`` · n (linear in n), i.e.
    bands · 2^-bits · n ≤ 2 · candidates_per_row.
    """
    theta = math.acos(min(max(threshold, -1.0), 1.0))
    p1 = 1.0 - theta / math.pi
    n = max(int(n_rows), 1)
    for bits in range(min_bits, max_bits + 1):
        p_band = p1**bits
        if p_band >= 1.0:
            bands = 1
        elif p_band <= 0.0:
            continue
        else:
            bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
        if bands > max_bands:
            continue
        rand_ratio = bands * 2.0**-bits
        if rand_ratio * n <= 2.0 * candidates_per_row:
            return bits, bands
    # budget unreachable: densest table available (max selectivity; recall
    # lands just under target when max_bands binds)
    best = (max_bits, max_bands)
    logger.warning(
        "derive_srp_params: candidate budget not met within bits<=%d/bands<=%d "
        "for n=%d — using bits=%d bands=%d (expected random candidate pairs ~%.2g)",
        max_bits, max_bands, n, best[0], best[1], best[1] * 2.0 ** -best[0] * n * n / 2,
    )
    return best


def _dot_expr(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"


def _norm_expr(a: str) -> str:
    return f"sqrt(aggregate({a}, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    Plan shape: one narrow pass computing the score (codegen'd lambda
    functions, no UDF), then a global top-k (``orderBy ... limit`` compiles
    to TakeOrderedAndProject — per-partition heaps + driver merge, no full
    sort shuffle).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = float(np.sqrt(np.dot(query_vec, query_vec)))
    scored = embeddings.withColumn("_q", q).select(
        F.col(id_col),
        (
            F.expr(_dot_expr(vec_col, "_q"))
            / (F.expr(_norm_expr(vec_col)) * F.lit(qnorm))
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).astype(np.float64)


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    bits: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane (SRP) LSH bucket id per row — one matmul per batch."""
    planes = hyperplanes(dim, bits, seed)
    bc = embeddings.sparkSession.sparkContext.broadcast(planes)

    @F.pandas_udf(T.IntegerType())
    def bucket(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (n, dim)
        signs = mat @ bc.value.T > 0  # (n, bits)
        weights = (1 << np.arange(signs.shape[1])).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return embeddings.withColumn(out_col, bucket(F.col(vec_col)))


def with_lsh_bands(
    embeddings: DataFrame,
    dim: int,
    bits: int,
    bands: int,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "bands",
) -> DataFrame:
    """``bands`` independent SRP bucket ids per row (``bits`` hyperplanes
    each) — one (n, bands*bits) matmul per Arrow batch."""
    planes = hyperplanes(dim, bands * bits, seed)
    bc = embeddings.sparkSession.sparkContext.broadcast(planes)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (n, dim)
        signs = (mat @ bc.value.T > 0).reshape(len(mat), bands, bits)
        weights = (1 << np.arange(bits)).astype(np.int64)
        ids = (signs @ weights).astype(np.int32)  # (n, bands)
        return pd.Series(list(ids))

    return embeddings.withColumn(out_col, buckets(F.col(vec_col)))


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    target_recall: float = 0.99,
    candidates_per_row: float = 8.0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-amplified SRP-LSH.

    ``bands`` independent tables of ``bits`` hyperplanes each (mirroring
    minhash_lsh_pairs): a pair is a candidate when it shares ANY band's
    bucket, then exact cosine keeps precision.  Recall for a pair at angle
    θ is 1 - (1 - (1-θ/π)^bits)^bands.

    Parameters are CORPUS-SCALE by default: when bits/bands are not given
    they are derived by :func:`derive_srp_params` from the corpus size
    (``n_rows``, counted if absent) so that recall ≥ ``target_recall`` at
    ``threshold`` while expected RANDOM-pair candidates stay ≤
    ``candidates_per_row`` per row — a fixed small bits (e.g. 8) makes a
    random pair collide in some band with probability bands/2^bits, which
    is quadratic blow-up at 10⁹ rows; bits must grow ~log2(n).

    Scale shape: only (id, band, bucket) rows go through the bucket pair
    expansion (:func:`dedup.bucket_pairs`; vectors are NOT exploded per
    band); vectors are joined back for exact verification of the distinct
    candidate set.  The candidate shuffle is on the band keys, never a
    full cross join.
    """
    if bits is None or bands is None:
        if n_rows is None:
            n_rows = embeddings.count()
        d_bits, d_bands = derive_srp_params(
            threshold, n_rows, target_recall=target_recall, candidates_per_row=candidates_per_row
        )
        bits = bits if bits is not None else d_bits
        if bands is None:
            # recall-driven band count for the CHOSEN bits
            theta = math.acos(min(max(threshold, -1.0), 1.0))
            p_band = (1.0 - theta / math.pi) ** bits
            bands = (
                1
                if p_band >= 1.0
                else max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
            )
    exp_ratio = bands * 2.0**-bits
    logger.info(
        "embedding_near_dup_pairs: bits=%d bands=%d — random-pair candidate ratio ~%.3g%s",
        bits, bands, exp_ratio,
        f" (~{exp_ratio * n_rows:.1f} expected random candidates/row at n={n_rows})" if n_rows else "",
    )
    banded = with_lsh_bands(embeddings, dim, bits, bands, seed, vec_col).select(
        F.col(id_col), F.posexplode("bands").alias("band", "bucket")
    )
    cand = (
        bucket_pairs(banded, ["band", "bucket"], id_col)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    # The raw vector column joins the candidates directly: the inner joins
    # on candidate ids drop non-candidates, and cand's only consumer is the
    # pair join.  No id prune runs first: at the parameters
    # derive_srp_params picks, each row expects about ten random candidate
    # pairs, so a semi-join to candidate ids keeps nearly every row, and its
    # checkpoint and distinct jobs cost more than they save (q48 at sf0.1:
    # 3.4-3.6 s with the prune, 2.3-2.5 s without).
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    pairs = (
        cand.join(vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.expr(_dot_expr("_va", "_vb"))
                / (F.expr(_norm_expr("_va")) * F.expr(_norm_expr("_vb")))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
    return pairs


def kmeans_centroids(sample: np.ndarray, k: int, iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd k-means for the IVF coarse quantizer: init = first
    k sample rows, fixed iteration count, empty cells keep their previous
    centroid.  Pure float64 numpy — bit-replicable by the single-node oracle."""
    k = min(k, len(sample))
    centroids = sample[:k].astype(np.float64).copy()
    data = sample.astype(np.float64)
    for _ in range(iters):
        d2 = ((data[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = data[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def derive_sample_mod(n_rows: int, target_sample: int = 4096) -> int:
    """Modulus that bounds the ``id % mod == 0`` quantizer sample to
    ~``target_sample`` rows regardless of corpus size."""
    return max(1, math.ceil(max(int(n_rows), 1) / max(int(target_sample), 1)))


def ivf_build(
    embeddings: DataFrame,
    dim: int,
    n_cells: int = 16,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_sample: int = 4096,
) -> np.ndarray:
    """IVF coarse quantizer from a bounded deterministic sample
    (``id % sample_mod == 0`` — replicable without Spark).

    ``sample_mod`` defaults to ceil(n / target_sample) from a cheap
    count(), so the driver collect is FIXED-SIZE (~target_sample rows of
    dim floats) by construction at any corpus scale — a constant modulus
    would make the collect O(n)."""
    if sample_mod is None:
        sample_mod = derive_sample_mod(embeddings.count(), target_sample)
    rows = (
        embeddings.filter(F.col(id_col) % sample_mod == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    sample = np.array([[float(x) for x in r[vec_col]] for r in rows], dtype=np.float64)
    return kmeans_centroids(sample, n_cells)


def with_ivf_cell(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid cell id per row — one matmul per Arrow batch."""
    bc = embeddings.sparkSession.sparkContext.broadcast(centroids)

    @F.pandas_udf(T.IntegerType())
    def cell(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        c = bc.value
        d2 = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ c.T) + (c * c).sum(axis=1)[None, :]
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return embeddings.withColumn(out_col, cell(F.col(vec_col)))


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-Flat ANN: coarse-quantize rows into ``n_cells`` k-means cells,
    probe the ``nprobe`` cells nearest the query, exact-score only those.

    The complement of the SRP-LSH path (ann_topk_lsh): candidates ≈
    n * nprobe / n_cells; in a persisted deployment rows are written
    partitioned by cell so a probe is a partition-pruned scan, not a filter.
    """
    dim = len(query_vec)
    if centroids is None:
        centroids = ivf_build(embeddings, dim, n_cells, sample_mod, id_col, vec_col)
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
    celled = with_ivf_cell(embeddings, centroids, vec_col)
    candidates = celled.filter(F.col("cell").isin(probes))
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket plus all buckets within
    ``probe_hamming`` bit flips (multi-probe), exact-score the candidates.

    Candidate count ≈ n * (1 + bits) / 2^bits — the scale path when brute
    force over every row is too expensive.
    """
    dim = len(query_vec)
    planes = hyperplanes(dim, bits, seed)
    signs = (planes @ np.asarray(query_vec)) > 0
    weights = (1 << np.arange(bits)).astype(np.int64)
    base = int(signs @ weights)
    probes = {base}
    if probe_hamming >= 1:
        for i in range(bits):
            probes.add(base ^ (1 << i))
    bucketed = with_lsh_bucket(embeddings, dim, bits, seed, vec_col)
    candidates = bucketed.filter(F.col("bucket").isin([int(p) for p in probes]))
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def ivf_cell_expr(centroids: np.ndarray, vec_col: str) -> F.Column:
    """Nearest-centroid cell id as a PURE-JVM expression (no Python stage):
    per-centroid squared distance via the expansion formula
    ``x·x − 2·x·c + c·c`` with left-fold accumulation (bit-replicable by a
    single-node left-fold oracle), then first-argmin via
    ``array_position(d2s, array_min(d2s))``.

    The pandas-UDF variant (:func:`with_ivf_cell`) is one matmul per Arrow
    batch — better when ``n_cells`` is large; this expression variant wins
    when the column feeds joins (Catalyst duplicates Python-UDF evaluation
    under inferred join-key not-null filters, and Arrow transfer is paid
    per reference), and keeps the whole consumer plan inside whole-stage
    codegen."""
    xx = F.expr(
        f"aggregate({vec_col}, cast(0.0 as double),"
        " (acc, v) -> acc + cast(v as double) * cast(v as double))"
    )
    d2s = []
    for c in np.asarray(centroids, dtype=np.float64):
        carr = "array(" + ", ".join(f"cast({float(v)!r} as double)" for v in c) + ")"
        dot = F.expr(_dot_expr(vec_col, carr))
        cc = 0.0
        for v in c:  # driver-side left fold, same order as the oracle's
            cc += float(v) * float(v)
        d2s.append(xx - F.lit(2.0) * dot + F.lit(cc))
    arr = F.array(*d2s)
    return (F.array_position(arr, F.array_min(arr)) - F.lit(1)).cast("int")


def semantic_dedup(
    embeddings: DataFrame,
    dim: int,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster cosine pruning.
    A document is dropped iff a LOWER-id member of its own cell scores
    cosine >= ``threshold`` against it — the deterministic stand-in for the
    paper's keep-one-per-duplicate-set rule.  Returns every input row as
    (id_col, cell, keep).

    Reference tie-in: the reference dedups crawled URLs and exact item
    bodies (SURVEY §2 F7/F8); this is the embedding-space generalization a
    training-corpus build layers on top — near-identical *meaning*, not
    near-identical bytes (MinHash/SimHash catch those upstream).

    Scale shape — the published SemDeDup recipe, re-expressed for Spark:
      - The coarse quantizer reuses :func:`ivf_build`: a size-derived
        ``id % sample_mod == 0`` sample (~4096 rows collected at ANY corpus
        size) + deterministic Lloyd on the driver; centroids broadcast.
      - Cell assignment is a pure-JVM codegen'd expression
        (:func:`ivf_cell_expr`) — map-side, no shuffle, and NO Python stage
        anywhere in the operator (the pandas-UDF assignment would be
        re-evaluated per join side under Catalyst's inferred not-null
        join-key filters and pay Arrow transfer twice).
      - The pairwise stage self-joins ON THE CELL KEY only: one shuffle
        co-partitioned by cell, cost Σ|cell|² instead of n² — the paper's
        own trick for making pairwise cosine tractable at corpus scale
        (their k grows with n so E[|cell|] stays bounded; pass ``n_cells``
        accordingly).  A hot cell is one skewed join key — AQE skew-split
        applies; the dot product stays a codegen'd JVM aggregate fold, no
        Python in the pairwise hot path.
      - Verdict join back is an equi-join of ids-only pairs (48 bytes/row),
        never vectors.
    """
    if centroids is None:
        centroids = ivf_build(embeddings, dim, n_cells, sample_mod, id_col, vec_col)
    celled = embeddings.select(
        id_col, ivf_cell_expr(centroids, vec_col).alias("cell"), vec_col
    )
    a = celled.select(
        F.col(id_col).alias("id_a"), "cell", F.col(vec_col).alias("_va")
    )
    b = celled.select(
        F.col(id_col).alias("id_b"), "cell", F.col(vec_col).alias("_vb")
    )
    cos = F.expr(_dot_expr("_va", "_vb")) / (
        F.expr(_norm_expr("_va")) * F.expr(_norm_expr("_vb"))
    )
    dup_ids = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        celled.select(id_col, "cell")
        .join(dup_ids.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_vectors: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literal: int = 256,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus vector
    whose cosine to ANY eval-set vector reaches ``threshold`` — the
    semantic companion to the n-gram ``curation.decontaminate`` (verbatim
    leaks get paraphrased; n-gram overlap misses them, embedding cosine
    does not).

    ``eval_vectors`` is the benchmark's embedding list — small by
    construction (eval suites are thousands of items, not corpus-scale)
    and capped at ``max_literal`` here because every vector is compiled
    into the plan as a literal: per eval vector one codegen'd
    aggregate/zip_with cosine expression, combined with ``greatest``.

    Scale shape: a pure MAP over the corpus — zero joins, zero shuffles,
    zero UDFs; the 100-TB side streams through whole-stage codegen once.
    (The alternative broadcast-crossJoin + groupBy(id) re-shuffles the
    full corpus for the max; with the eval side literal, nothing moves.)
    For eval sets past ``max_literal``, chunk the calls and OR the flags.

    Returns (``id_col``, max_eval_cosine, contaminated).
    """
    if not eval_vectors:
        raise ValueError("eval_vectors must be non-empty")
    if len(eval_vectors) > max_literal:
        raise ValueError(
            f"{len(eval_vectors)} eval vectors exceed max_literal={max_literal}; "
            "chunk the eval set and OR the contaminated flags"
        )
    norm = F.expr(_norm_expr(vec_col))
    df = corpus
    cos_cols = []
    for i, vec in enumerate(eval_vectors):
        cname = f"_c{i}"
        qn = float(np.sqrt(np.dot(vec, vec)))
        arr = "array(" + ", ".join(f"cast({float(x)!r} as double)" for x in vec) + ")"
        df = df.withColumn(cname, F.expr(_dot_expr(vec_col, arr)) / (norm * F.lit(qn)))
        cos_cols.append(cname)
    mx = F.col(cos_cols[0]) if len(cos_cols) == 1 else F.greatest(*[F.col(c) for c in cos_cols])
    return df.select(
        F.col(id_col),
        F.round(mx, 6).alias("max_eval_cosine"),
        (mx >= F.lit(float(threshold))).alias("contaminated"),
    )
