"""Large-scale text deduplication operators (training-data pipeline).

All hot-path hashing stays JVM-side (md5/xxhash64/regexp built-ins compiled
by whole-stage codegen); Python appears only in the simhash kernel, which is
an Arrow-batched numpy UDF.  Designed so each operator is a pure
DataFrame -> DataFrame function usable over a 100-TB documents table:

  * exact_duplicates       hash-groupBy (one shuffle on the digest)
  * minhash_signature      per-row, shuffle-free, codegen'd
  * minhash_dedup          groupBy signature (one shuffle)
  * minhash_lsh_pairs      band -> bucket pair expansion -> exact-jaccard verify
  * simhash_64             vectorized numpy UDF, per-row
  * hamming_pairs          pigeonhole bands -> bucket pair expansion -> bit_count
  * ngram_jaccard_pairs    exact verify for a candidate pair set
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_PATTERN = "[a-z0-9]+"


def tokens_col(text_col: str):
    """JVM-side tokenizer shared by all dedup ops (matches the DuckDB oracle
    expression regexp_extract_all(lower(text), '[a-z0-9]+'))."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)")


def shingles_col(text_col: str, k: int = 3):
    """Token k-gram shingle strings (space-joined); whole-document shingle
    for texts shorter than k tokens."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    return F.expr(
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"transform(sequence(0, size({toks}) - {k}), i -> "
        f"concat_ws(' ', slice({toks}, i + 1, {k}))) "
        f"ELSE array(concat_ws(' ', {toks})) END"
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: every doc annotated with its content
    hash, group size, and the canonical representative (min id)."""
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.count("*").alias("dup_count"), F.min(id_col).alias("representative")
    )
    return hashed.join(groups, "content_hash").select(
        id_col, "content_hash", "dup_count", "representative"
    )


def minhash_signature(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8) -> DataFrame:
    """k-permutation MinHash, md5-based: sig_i = min over shingles of
    md5(i || ':' || shingle).  Fully JVM-side (portable to the DuckDB oracle);
    a production variant swaps md5 for xxhash64 with identical structure."""
    df = docs.select(F.col(id_col), shingles_col(text_col).alias("shingles"))
    sig_cols = [
        F.array_min(F.expr(f"transform(shingles, s -> md5(concat('{i}:', s)))")).alias(f"minhash_{i}")
        for i in range(k)
    ]
    return df.select(id_col, *sig_cols)


def minhash_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8) -> DataFrame:
    """Near-dup clustering at signature granularity: docs sharing the full
    k-hash signature are grouped (equivalent to Jaccard ≈ 1 cluster)."""
    sig = minhash_signature(docs, id_col, text_col, k)
    sig = sig.withColumn("signature", F.concat_ws("|", *[F.col(f"minhash_{i}") for i in range(k)]))
    groups = sig.groupBy("signature").agg(
        F.count("*").alias("cluster_size"), F.min(id_col).alias("representative")
    )
    return sig.join(groups, "signature").select(id_col, "signature", "cluster_size", "representative")


def bucket_pairs(banded: DataFrame, bucket_cols: list[str], member) -> DataFrame:
    """Within-bucket pairs of a banded frame: columns ``a`` and ``b``, one
    row for every two members of a bucket, ``a < b``.

    ``banded`` holds one row per (item, band); ``bucket_cols`` are the band
    key columns and ``member`` (a column or column name: an id, or an
    ``(id, hash)`` struct) is what a pair carries.  One shuffle, on the band
    keys, collects each bucket's sorted members; a nested transform emits
    every later member after each one.  The same pair can come from several
    bands, so callers dedup after their verify.

    Hot buckets: a bucket of m members expands m(m-1)/2 pairs inside one
    task, where AQE skew-splitting cannot reach (ROADMAP item 7).
    """
    pair_expr = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), y -> named_struct('a', x, 'b', y))))"
    )
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(member)).alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.a", "p.b")
    )


def minhash_bands(docs: DataFrame, id_col: str, text_col: str, k: int, bands: int) -> DataFrame:
    """(id_col, band, bh): one row per document and band, ``bh`` the md5 of
    the band's ``k // bands`` MinHash values."""
    rows = k // bands
    sig = minhash_signature(docs, id_col, text_col, k)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"minhash_{i}") for i in range(b * rows, (b + 1) * rows)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bh")))
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Banded-LSH candidate generation + exact-Jaccard verification.

    Pipeline: signature -> band keys (:func:`minhash_bands`) -> bucket
    pair expansion (:func:`bucket_pairs`, one shuffle on the band keys) ->
    distinct candidate pairs -> exact shingle Jaccard filter >= threshold.
    """
    banded = minhash_bands(docs, id_col, text_col, k, bands)
    # checkpointed (EAGER): cand feeds the id-prune and the verify join —
    # a lazy checkpoint here lets two downstream stages race to compute it
    cand = (
        bucket_pairs(banded, ["band", "bh"], id_col)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # verify against CANDIDATE docs only (r06): the old shape computed the
    # full corpus shingle table twice (once per join side); at scale the
    # verify-side shingle cost must track the candidate count, not the
    # corpus — prune docs with a broadcast semi-join on the candidate ids,
    # compute shingles once for the survivors, and share them (lazy
    # checkpoint) across both sides of the pair join.
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # EAGER for the same reason as cand: both sides of the pair join read it
    sh = (
        docs.join(F.broadcast(ids), id_col, "left_semi")
        .select(F.col(id_col), shingles_col(text_col).alias("sh"))
        .localCheckpoint(eager=True)
    )
    verified = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by min-label propagation — the cluster-assembly
    step after near-dup pair generation (LSH gives PAIRS; a dedup pipeline
    needs per-doc cluster representatives to pick survivors).

    Each iteration: every node proposes its label to its neighbours; a node
    keeps the min of (own label, proposals); converged when no label
    decreases.  Iterations ~ graph diameter — near-dup graphs are shallow
    star-ish clusters, so 2-4 rounds in practice (GraphFrames/Hash-to-Min
    do the same label-propagation shape at trillion-edge scale).

    Scale notes: the undirected edge list is persisted once and re-joined
    each round (one shuffle join + one min-agg per iteration, both keyed by
    node id — uniform); labels are ``localCheckpoint``-ed per iteration so
    the plan stays O(1) instead of growing with the iteration count; the
    convergence test is a count(), never a collect.

    Returns (``id_col``, ``label``) where label = min node id of the
    component (singletons label themselves).
    """
    # flip via explode, not union: a union's two branches each re-evaluate
    # the (often expensive) upstream pair pipeline inside the persist job —
    # the explode emits both directions from ONE evaluation (r06: halves the
    # first-iteration materialization cost for LSH-derived edge lists)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("a"), F.col(dst_col).alias("b")),
                    F.struct(F.col(dst_col).alias("a"), F.col(src_col).alias("b")),
                )
            ).alias("_e")
        )
        .select(F.col("_e.a").alias("a"), F.col("_e.b").alias("b"))
        .persist()
    )
    # lazy checkpoint: materialized inside iteration 1's job instead of
    # paying a separate job's scheduling latency up front
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label")).localCheckpoint(
        eager=False
    )
    converged = False
    try:
        for _ in range(max_iter):
            proposals = (
                und.join(labels, und["a"] == labels["id"])
                .select(F.col("b").alias("id"), "label")
                .groupBy("id")
                .agg(F.min("label").alias("nl"))
            )
            # ONE job per iteration: the convergence count rides the
            # checkpoint materialization as an Observation instead of a
            # second count() job (the join/compare re-derivation would pay
            # full job latency again each round)
            obs = Observation()
            step = (
                labels.join(proposals, "id", "left")
                .select(
                    "id",
                    F.least("label", F.coalesce("nl", "label")).alias("new_label"),
                    F.col("label").alias("old_label"),
                )
                .observe(obs, F.sum((F.col("new_label") < F.col("old_label")).cast("long")).alias("changed"))
                .localCheckpoint(eager=True)
            )
            labels = step.select("id", F.col("new_label").alias("label"))
            if int(obs.get["changed"] or 0) == 0:
                converged = True
                break
    finally:
        und.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: label propagation did not converge within "
            f"max_iter={max_iter} iterations; labels are NOT final component "
            f"representatives (graph diameter exceeds max_iter)",
            stacklevel=2,
        )
    return labels.withColumnRenamed("id", id_col) if id_col != "id" else labels


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact n-gram Jaccard for an explicit candidate pair set (id_a, id_b)."""
    sh = docs.select(F.col(id_col), shingles_col(text_col).alias("sh"))
    return (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")), 6
            ).alias("jaccard"),
        )
    )


# --- SimHash (vectorized numpy UDF; no SQL analog) ---------------------------


def _simhash_batch(texts: pd.Series) -> pd.Series:
    import re

    token_re = re.compile(TOKEN_PATTERN)
    out = np.zeros(len(texts), dtype=np.int64)
    for row, text in enumerate(texts):
        if not text:
            continue
        toks = token_re.findall(text.lower())
        if not toks:
            continue
        uniq, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
        # FNV-1a per token, vectorized bit unpack
        hashes = np.array(
            [np.uint64(int.from_bytes(__import__("hashlib").blake2b(t.encode(), digest_size=8).digest(), "big")) for t in uniq],
            dtype=np.uint64,
        )
        bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        votes = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
        sim = np.uint64(0)
        for i in np.nonzero(votes > 0)[0]:
            sim |= np.uint64(1) << np.uint64(i)
        out[row] = np.int64(sim.astype(np.int64))
    return pd.Series(out)


simhash_64 = F.pandas_udf(_simhash_batch, T.LongType())


def simhash_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash per doc + clustering at distance 0 (identical hash) — the
    cheap exact-collision pass; for real hamming-ball near-dups use
    simhash_near_dup_pairs."""
    hashed = docs.select(F.col(id_col), simhash_64(F.col(text_col)).alias("simhash"))
    groups = hashed.groupBy("simhash").agg(F.count("*").alias("cluster_size"), F.min(id_col).alias("representative"))
    return hashed.join(groups, "simhash").select(id_col, "simhash", "cluster_size", "representative")


def simhash_bands(simhash_col: str, n_bands: int) -> list:
    """Disjoint bit-slice band values of a 64-bit simhash (JVM-side bit ops).

    Band i covers bits [i*w, (i+1)*w); the last band absorbs the remainder.
    Any pair within hamming distance d < n_bands must agree EXACTLY on at
    least one band (pigeonhole over the partition of the 64 bits), so
    banding is a zero-false-negative candidate generator for d <= n_bands-1.
    """
    w = 64 // n_bands
    cols = []
    for i in range(n_bands):
        width = w if i < n_bands - 1 else 64 - i * w
        mask = (1 << width) - 1
        cols.append(F.expr(f"shiftrightunsigned({simhash_col}, {i * w}) & {mask}").alias(f"band_{i}"))
    return cols


def hamming_pairs(hashed: DataFrame, id_col: str, hash_col: str, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming): every pair of ``hashed`` rows whose 64-bit
    ``hash_col`` values differ in at most ``max_hamming`` bits, id_a < id_b.

    Pigeonhole banding: ``max_hamming + 1`` disjoint bit slices
    (:func:`simhash_bands`), so a qualifying pair shares at least one band
    value and candidate generation has no false negatives; the bit_count
    verify keeps precision.  The output is exactly the brute-force
    all-pairs result, and the only shuffle before the pair distinct is the
    bucket pair expansion's (:func:`bucket_pairs`) — never a join.
    """
    bands = F.array(*simhash_bands(hash_col, max_hamming + 1))
    banded = hashed.select(F.col(id_col), F.col(hash_col), F.posexplode(bands).alias("band", "bval"))
    # sorting each bucket's (id, hash) structs orders pairs by id
    member = F.struct(F.col(id_col).alias("i"), F.col(hash_col).alias("h"))
    return (
        bucket_pairs(banded, ["band", "bval"], member)
        .select(
            F.col("a.i").alias("id_a"),
            F.col("b.i").alias("id_b"),
            F.expr("bit_count(a.h ^ b.h)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """EXACT hamming <= max_hamming simhash pairs (:func:`hamming_pairs`
    over each document's :data:`simhash_64`): the output is exactly the
    brute-force all-pairs result, and the hash UDF runs once."""
    hashed = docs.select(F.col(id_col), simhash_64(F.col(text_col)).alias("simhash"))
    return hamming_pairs(hashed, id_col, "simhash", max_hamming)


def duplicated_spans(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans at token-``k``-gram granularity —
    the fixed-width surrogate of Lee et al. 2022's suffix-array ExactSubstr
    dedup ("Deduplicating Training Data Makes Language Models Better"): a
    token position is *duplicated* when the k-gram starting there occurs
    more than once in the whole corpus (another doc or another position of
    the same doc); runs of duplicated positions whose starts are <= k
    apart cover contiguous text and merge into one maximal span.

    Returns one row per doc: (id_col, n_tokens, n_dup_spans,
    dup_tokens, dup_token_frac) where dup_tokens counts the tokens covered
    by the merged spans.  Docs shorter than k tokens have no k-grams and
    report zero spans.

    Scale shape: the corpus-wide work is ONE groupBy over (gram) —
    uniform-ish keys, map-side partial agg; boilerplate hot grams are
    AQE-skew-join territory on the join back.  The span merge itself runs
    inside per-doc window partitions (lag + running sum), bounded by a
    single doc's gram count — no global sort, no driver state.  A true
    suffix-array pass (arbitrary-length matches) needs the offline
    multi-stage build Lee et al. describe; at fixed k this plan gets the
    same spans with plain relational ops.
    """
    from pyspark.sql import Window

    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    grams = (
        f"CASE WHEN size({toks}) >= {k} THEN transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {k}))) ELSE array() END"
    )
    pos_grams = docs.select(
        F.col(id_col), F.posexplode(F.expr(grams)).alias("pos", "gram")
    )
    gcnt = pos_grams.groupBy("gram").agg(F.count("*").alias("cnt"))
    dup_pos = (
        pos_grams.join(gcnt.filter(F.col("cnt") > 1), "gram")
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    spans = (
        dup_pos.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k), 1).otherwise(0),
        )
        .withColumn("span_id", F.sum("_new").over(run))
        .groupBy(id_col, "span_id")
        .agg((F.max("pos") - F.min("pos") + k).alias("span_tokens"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum("span_tokens").alias("dup_tokens"),
        )
    )
    lengths = docs.select(F.col(id_col), F.expr(f"size({toks})").alias("n_tokens"))
    return (
        lengths.join(spans, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.greatest("n_tokens", F.lit(1)), 6
            ).alias("dup_token_frac"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every token ``k``-gram, slide a window of ``w``
    consecutive hashes over the document, and select each window's minimum
    (LEFTMOST minimum on ties — any fixed tie rule preserves the winnowing
    guarantee; leftmost keeps the expression engine-portable).  The selected
    (position, hash) set is the fingerprint: any shared substring of length
    >= k + w - 1 tokens between two documents is guaranteed to share at
    least one selected fingerprint, with density ~2/(w+1).

    Returns one row per selected fingerprint: (id_col, pos, fingerprint)
    where pos is the 0-based token position of the k-gram and fingerprint a
    60-bit integer (first 15 hex chars of md5 — exact in a signed 64-bit
    lane on every engine).  Docs shorter than k tokens yield no rows.

    Scale shape: gram hashing, window minima, and the per-doc dedup of
    repeated selections all happen INSIDE the token array (transform /
    slice / array_min / array_distinct), so the whole operator is a pure
    map + explode — ZERO shuffles, whole-stage codegen, no Python.  A
    downstream near-dup candidate join (groupBy fingerprint, like the
    MinHash band join) is the one place a shuffle appears, and it shuffles
    fingerprints (a ~2/(w+1) sample of grams), not documents.
    """
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    grams = (
        f"CASE WHEN size({toks}) >= {k} THEN transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {k}))) ELSE array() END"
    )
    # 60-bit k-gram hashes (15 hex chars -> conv stays exact, no uint64 wrap)
    hashes = f"transform({grams}, g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))"
    # one struct per window start: the leftmost minimum of hashes[i .. i+w-1]
    # (array_position is 1-based, over the w-length slice)
    sel = (
        f"CASE WHEN size(_h) >= {w} THEN array_distinct(transform("
        f"sequence(1, size(_h) - {w - 1}), "
        f"i -> named_struct("
        f"'pos', i - 2 + cast(array_position(slice(_h, i, {w}), array_min(slice(_h, i, {w}))) as int), "
        f"'fingerprint', array_min(slice(_h, i, {w})))))"
        # shorter than one window (but >= k tokens): fingerprint = global min
        f" WHEN size(_h) > 0 THEN array(named_struct("
        f"'pos', cast(array_position(_h, array_min(_h)) as int) - 1, "
        f"'fingerprint', array_min(_h))) "
        f"ELSE array() END"
    )
    return (
        docs.select(F.col(id_col), F.expr(hashes).alias("_h"))
        .select(F.col(id_col), F.explode(F.expr(sel)).alias("_fp"))
        .select(
            F.col(id_col),
            F.col("_fp.pos").alias("pos"),
            F.col("_fp.fingerprint").alias("fingerprint"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric n-gram containment for an explicit candidate pair set:
    containment(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|.

    Jaccard under-scores size-mismatched overlaps — a 50-token quote
    inside a 5,000-token page has Jaccard ≈ 0.01 but containment ≈ 1.0 —
    so quote/excerpt/subset detection (the Broder 1997 "containment"
    companion to resemblance) keys on this, not on Jaccard.  Returns both
    directions plus Jaccard for calibration.

    Scale shape: identical to :func:`ngram_jaccard_pairs` — shingle sets
    are computed map-side inside the token array, and only the explicit
    candidate pairs (from LSH/bucketing upstream) ever join; never
    all-pairs.
    """
    sh = docs.select(F.col(id_col), F.array_distinct(shingles_col(text_col)).alias("sh"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.size("sh_a"), 6).alias("containment_a_in_b"),
            F.round(inter / F.size("sh_b"), 6).alias("containment_b_in_a"),
            F.round(inter / F.size(F.array_union("sh_a", "sh_b")), 6).alias("jaccard"),
        )
    )


def lsh_novelty(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental cross-corpus near-dedup: flag each NEW document as
    novel iff no document of the EXISTING corpus is a banded-LSH candidate
    with exact shingle Jaccard >= ``threshold``.  The daily-ingest shape of
    minhash_lsh_pairs — a continuously-crawling pipeline dedups today's
    batch against the accumulated corpus, not against itself (CCNet/Dolma
    run exactly this between crawl dumps; the reference's URL-seen frontier
    is the URL-level analogue, SURVEY §2 F7).

    Returns one row per new document: (id_col, is_novel, matched_id,
    jaccard) — matched_id/jaccard from the LOWEST-id verified corpus match
    (deterministic), NULL when novel.

    Scale shape: band keys for both sides map-side; ONE shuffle joins new
    bands against corpus bands on (band, bh) — the new batch is tiny next
    to the corpus, so the candidate join broadcasts the batch side under
    AQE and the corpus NEVER self-joins (candidate count scales with batch
    size, not corpus size).  In a persisted deployment the corpus band
    table is precomputed once and bucketed by (band, bh), making the daily
    join exchange-free on the big side — same discipline as the bucketed
    URL-seen set (storage/tables.py).
    """
    new_bands = minhash_bands(new_docs, id_col, text_col, k, bands).withColumnRenamed(id_col, "new_id")
    corpus_bands = minhash_bands(corpus, id_col, text_col, k, bands).withColumnRenamed(id_col, "corpus_id")
    cand = (
        new_bands.join(corpus_bands, ["band", "bh"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sh_new = new_docs.select(F.col(id_col).alias("new_id"), shingles_col(text_col).alias("sh_n"))
    sh_corp = corpus.select(F.col(id_col).alias("corpus_id"), shingles_col(text_col).alias("sh_c"))
    matched = (
        cand.join(sh_new, "new_id")
        .join(sh_corp, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_c"))
            / F.size(F.array_union("sh_n", "sh_c")),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("new_id")
        .agg(F.min(F.struct("corpus_id", "jaccard")).alias("m"))
        .select("new_id", F.col("m.corpus_id").alias("matched_id"), F.col("m.jaccard").alias("_j"))
    )
    return (
        new_docs.select(F.col(id_col))
        .join(matched.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            id_col,
            F.col("matched_id").isNull().alias("is_novel"),
            "matched_id",
            F.round("_j", 6).alias("jaccard"),
        )
    )


def corpus_overlap_sketch(
    a: DataFrame, b: DataFrame, text_col: str = "text", k: int = 64
) -> DataFrame:
    """Corpus-level resemblance between two snapshots from k-per-seed
    min-hash signatures (Broder's sketch lifted from documents to whole
    corpora) — "how much of yesterday's crawl is today's crawl?" answered
    WITHOUT shipping either corpus anywhere.

    Per corpus, one aggregation computes k seeded min-hashes (min over
    md5(text || '#' || seed)); the estimated Jaccard is the fraction of
    matching components.  All k mins combine map-side, so the shuffle per
    corpus is k values per partition regardless of corpus size — the sketch
    path is what survives at 100 TB.  The exact |A∩B| / |A∪B| (for the
    estimate's error) is a distinct-hash union-count: one groupBy on the
    16-byte digest, never on the text.

    Output: ONE row — k, matches, est_jaccard, n_a, n_b, n_inter, n_union,
    exact_jaccard (rounded 6dp).
    """
    from functools import reduce
    from operator import add

    def signature(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            *[
                F.min(F.md5(F.concat(F.col(text_col), F.lit(f"#{i}")))).alias(f"{prefix}{i}")
                for i in range(k)
            ]
        )

    sig = signature(a, "a").crossJoin(signature(b, "b"))
    matches = reduce(
        add, [F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)]
    )
    sketch = sig.select(
        F.lit(k).alias("k"),
        matches.cast("long").alias("matches"),
        F.round(matches / F.lit(float(k)), 6).alias("est_jaccard"),
    )

    ha = a.select(F.md5(F.col(text_col)).alias("h")).distinct().withColumn("_a", F.lit(1))
    hb = b.select(F.md5(F.col(text_col)).alias("h")).distinct().withColumn("_b", F.lit(1))
    merged = ha.join(hb, "h", "full_outer")
    exact = merged.agg(
        F.sum(F.coalesce(F.col("_a"), F.lit(0))).alias("n_a"),
        F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_b"),
        F.sum(
            F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1).otherwise(0)
        ).alias("n_inter"),
        F.count("*").alias("n_union"),
    ).select(
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        F.round(F.col("n_inter") / F.col("n_union"), 6).alias("exact_jaccard"),
    )
    return sketch.crossJoin(F.broadcast(exact))


def survivor_selection(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Per-cluster survivor selection — the step AFTER connected components
    that a dedup pipeline actually ships: keep the best member of every
    near-dup cluster, not an arbitrary one (reference analog: the Scrapy
    dupefilter keeps first-seen, search_gov_crawler/search_gov_spiders/
    job_state/dupefilter.py:8-25; a curation pipeline upgrades "first" to
    "highest quality").

    ``labels`` is ``connected_components`` output (``id_col``, label);
    ``docs`` supplies the quality signal — ``quality_col`` if given, else
    character length of ``text``.  Survivor = max quality, ties broken by
    min id (deterministic at any partitioning).

    Plan shape: one groupBy(label) with ``max(struct(quality, -id))`` —
    partial-aggregated, so each cluster collapses map-side before the
    shuffle — then one join back on label.  No windows: a window would
    sort every cluster's rows inside one task, and while near-dup clusters
    are star-shaped and small, boilerplate corpora produce million-member
    clusters where the agg's partial combine wins.  Both shuffles are keyed
    by label (uniform: cluster count ~ doc count).

    Returns (``id_col``, label, survivor_id, keep).
    """
    qual = F.col(quality_col) if quality_col else F.length(F.col("text"))
    scored = labels.join(docs, id_col).select(
        id_col, "label", qual.cast("double").alias("_q")
    )
    best = scored.groupBy("label").agg(
        F.max(F.struct(F.col("_q"), (-F.col(id_col)).alias("_nid"))).alias("_b")
    )
    return (
        scored.join(best, "label")
        .select(
            F.col(id_col),
            "label",
            (-F.col("_b._nid")).cast(scored.schema[id_col].dataType).alias("survivor_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("survivor_id"))
    )
