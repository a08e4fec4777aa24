"""Text-analysis operators over a documents table (training-data pipeline).

Cheap stats (token counts, char classes) stay JVM-side; the heuristic
kernels (fingerprint, BPE encoding) run as Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import udfs
from .dedup import TOKEN_PATTERN, shingles_col, tokens_col


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """JVM-side token/char statistics (portable to the SQL oracle)."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    return docs.select(
        F.col(id_col),
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(f"size(array_distinct({toks}))").alias("n_unique_tokens"),
        F.length(text_col).alias("n_chars"),
        F.round(
            F.expr(f"length(regexp_replace({text_col}, '[^a-zA-Z]', ''))") / F.greatest(F.length(text_col), F.lit(1)),
            6,
        ).alias("alpha_ratio"),
    )


# BPE-ish pre-tokenizer shape (GPT-2-style word/number/punct runs with an
# optional leading space), restricted to constructs both Java regex and
# DuckDB's RE2 support identically (no lookarounds): a training-data token
# counter that tracks subword-tokenizer input segmentation far better than
# a plain \\w+ split.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+"


def bpe_token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts, fully JVM-side (codegen regex).

    n_ws_tokens = \\S+ runs (the whitespace tokenizer); n_bpe_tokens = GPT-2
    style pre-token segments; bpe_per_ws approximates the subword blow-up
    factor used for corpus token budgeting.
    """
    ws = f"size(regexp_extract_all({text_col}, '\\\\S+', 0))"
    bpe = f"size(regexp_extract_all({text_col}, '{BPE_ISH_PATTERN}', 0))"
    return docs.select(
        F.col(id_col),
        F.expr(ws).alias("n_ws_tokens"),
        F.expr(bpe).alias("n_bpe_tokens"),
        F.round(F.expr(bpe) / F.greatest(F.expr(ws), F.lit(1)), 6).alias("bpe_per_ws"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), udfs.document_fingerprint(F.col(text_col)).alias("fingerprint"))


def unigram_surprisal(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-unigram surprisal score — the join-based surrogate of
    CCNet-style LM-perplexity quality filtering (docs whose tokens are
    improbable under the corpus's own unigram distribution score high;
    gibberish and boilerplate-free rare text surfaces at both extremes).

    avg_surprisal = mean over tokens of -log2(count(token) / total_tokens).

    Scale shape: the vocabulary is BUILT and CONSUMED distributed — one
    groupBy on token (map-side partial agg absorbs 'the'-scale hot keys),
    the corpus total as a 1-row broadcast cross join (no driver action, no
    collect), then the token->count join (build side is 1 row per vocab key,
    so AQE skew-join splits the stopword hot keys) and a per-doc avg.
    A KenLM swap-in would replace the vocab join with a scoring UDF; the
    pipeline shape stays.
    """
    toks = docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.round(F.avg(-F.log2(F.col("cnt") / F.col("total"))), 6).alias("avg_surprisal"),
            F.count("*").alias("n_scored_tokens"),
        )
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
    top_frac_max: float = 0.20,
    dup_frac_max: float = 0.15,
) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al. 2021,
    table A1), occurrence-mass variant:

    - ``top{top_n}gram_char_frac``: max over grams of (occurrences x gram
      chars), over total text chars — an upper bound of Gopher's
      "chars covered by the most frequent n-gram" that is tie-free and
      order-independent (ties on count resolve to the longest gram).
      (Gopher removes docs where the top-2-gram covers > 20%.)
    - ``dup{dup_n}gram_char_frac``: characters covered by all occurrences of
      ``dup_n``-grams that occur more than once, over total text chars.
      Occurrences are counted independently (overlaps not deduplicated) —
      a documented simplification that keeps the metric exactly computable
      in one groupBy on both the Spark and the SQL-oracle side.
    - ``repetitive``: either fraction above its threshold.

    Shape at scale: explode token n-grams -> groupBy (id, gram) -> per-doc
    max/sum.  Keys are (doc, gram) pairs — uniform, unskewed; two shuffles
    total, both partial-aggregated map-side.  Ties on the top-gram count
    don't matter: only the count enters the formula, never the gram itself.
    """
    grams_top = shingles_col(text_col, top_n)
    grams_dup = shingles_col(text_col, dup_n)
    base = docs.select(
        F.col(id_col), F.length(text_col).alias("_chars"), grams_top.alias("_gt"), grams_dup.alias("_gd")
    )

    def _gram_counts(col: str):
        return (
            base.select(id_col, "_chars", F.explode(col).alias("gram"))
            .groupBy(id_col, "_chars", "gram")
            .agg(F.count("*").alias("cnt"))
        )

    top = (
        _gram_counts("_gt")
        .groupBy(id_col, "_chars")
        .agg(F.max(F.col("cnt") * F.length("gram")).alias("top_mass"))
        .select(
            id_col,
            F.round(F.col("top_mass") / F.greatest("_chars", F.lit(1)), 6).alias(
                f"top{top_n}gram_char_frac"
            ),
        )
    )
    dup = (
        _gram_counts("_gd")
        .groupBy(id_col, "_chars")
        .agg(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(0)).alias(
                "dup_mass"
            )
        )
        .select(
            id_col,
            F.round(F.col("dup_mass") / F.greatest("_chars", F.lit(1)), 6).alias(
                f"dup{dup_n}gram_char_frac"
            ),
        )
    )
    tcol, dcol = f"top{top_n}gram_char_frac", f"dup{dup_n}gram_char_frac"
    return top.join(dup, id_col).select(
        id_col,
        tcol,
        dcol,
        ((F.col(tcol) > top_frac_max) | (F.col(dcol) > dup_frac_max)).alias("repetitive"),
    )


def bigram_surprisal(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Conditional bigram surprisal — one LM order up from
    :func:`unigram_surprisal`, the next step toward the KenLM 5-gram that
    CCNet (Wenzek et al. 2020) scores with:

    avg_bigram_surprisal = mean over adjacent token pairs (w1, w2) of
    -log2( count(w1 w2) / count(w1 as a bigram prefix) )

    i.e. the corpus's own maximum-likelihood P(w2 | w1); every scored
    bigram is observed by construction, so no smoothing term is needed and
    the score is exactly reproducible by the SQL oracle.

    Scale shape: bigrams are formed JVM-side inside codegen (a transform
    over token positions), the corpus is tokenized ONCE and collapsed to
    weighted (doc, bigram) rows (one map-side-combined shuffle), then
    materialized (localCheckpoint) so the LM build, the prefix counts, and
    the probe all reuse it instead of re-scanning the corpus.  The LM
    derives from those collapsed rows and the prefix counts derive from
    the LM itself (vocabulary-sized input, not the corpus).  The scoring
    join probes one row per (doc, DISTINCT bigram) with an occurrence
    weight — 'of the' hits a document once, not once per occurrence — so
    stopword skew multiplies nothing; residual hot keys are AQE skew-join
    fodder.  The weighted mean equals the per-occurrence mean exactly.
    Docs with < 2 tokens yield no bigrams and drop out (contract: they
    cannot be LM-scored).
    """
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    bigrams = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) "
        f"ELSE array() END"
    )
    db = (
        docs.select(F.col(id_col), F.explode(F.expr(bigrams)).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("n_db"))
        .localCheckpoint()
    )
    lm = db.groupBy("bg").agg(F.sum("n_db").alias("bg_cnt"))
    prefix = (
        lm.select(F.expr("split(bg, ' ')[0]").alias("w1"), "bg_cnt")
        .groupBy("w1")
        .agg(F.sum("bg_cnt").alias("w1_cnt"))
    )
    # fold the prefix counts into the LM first: lm JOIN prefix is a
    # VOCABULARY-sized join, so the corpus-sized (doc, bigram) table pays
    # exactly ONE join instead of two (bg, then w1) per scoring pass
    lm_scored = (
        lm.withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .join(prefix, "w1")
        .select("bg", (-F.log2(F.col("bg_cnt") / F.col("w1_cnt"))).alias("surprisal"))
    )
    return (
        db.join(lm_scored, "bg")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("n_db") * F.col("surprisal")) / F.sum("n_db"), 6
            ).alias("avg_bigram_surprisal"),
            F.sum("n_db").alias("n_scored_bigrams"),
        )
    )


def kneser_ney_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal — the ACTUAL smoothing the
    KenLM models behind CCNet's quality stage use (Wenzek et al. 2020;
    Heafield 2011), one rung up from :func:`bigram_surprisal`'s raw
    maximum-likelihood P(w2|w1):

        P_KN(w2|w1) = max(c(w1 w2) - D, 0) / c(w1 .)
                      + (D * N1+(w1,.) / c(w1 .)) * (N1+(.,w2) / N1+(. .))

    with fixed discount D = 0.75, where N1+(w1,.) counts distinct
    continuations of w1, N1+(.,w2) counts distinct histories of w2 (the
    continuation probability that makes 'Francisco' cheap after 'San' but
    expensive elsewhere), and N1+(. .) is the number of distinct bigram
    types.  avg_kn_surprisal = occurrence-weighted mean of -log2 P_KN over
    a document's adjacent token pairs.  Unlike the ML score, frequent-but-
    promiscuous histories are discounted and rare continuations are
    penalized by their type statistics, not just their raw counts.

    Scale shape (mirrors :func:`bigram_surprisal`): the corpus is
    tokenized ONCE into weighted (doc, bigram) rows and materialized
    (localCheckpoint); every LM statistic — bigram counts, prefix totals
    c(w1 .), continuation-type counts N1+(w1,.) / N1+(.,w2), and the
    1-row type total — derives from that vocabulary-sized table, never
    from a corpus rescan.  The three stat joins compose on the LM side
    (vocab x vocab, uniform keys), the type total rides a 1-row broadcast
    cross join (no driver action), and the corpus-sized table pays exactly
    ONE scoring join on bg before the per-doc partial-agg'd mean.  Docs
    with < 2 tokens yield no bigrams and drop out (contract: not
    LM-scorable), matching q51.
    """
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    bigrams = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) "
        f"ELSE array() END"
    )
    db = (
        docs.select(F.col(id_col), F.explode(F.expr(bigrams)).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("n_db"))
        .localCheckpoint()
    )
    lm = (
        db.groupBy("bg")
        .agg(F.sum("n_db").cast("double").alias("bg_cnt"))
        .select(
            "bg",
            "bg_cnt",
            F.expr("split(bg, ' ')[0]").alias("w1"),
            F.expr("split(bg, ' ')[1]").alias("w2"),
        )
        .localCheckpoint()
    )
    pre = lm.groupBy("w1").agg(
        F.sum("bg_cnt").alias("w1_cnt"),
        F.count("*").cast("double").alias("n_follow"),
    )
    cont = lm.groupBy("w2").agg(F.count("*").cast("double").alias("n_precede"))
    tot = lm.agg(F.count("*").cast("double").alias("n_types"))
    d = F.lit(float(discount))
    # expression structure kept IDENTICAL to the SQL oracle (left-assoc
    # products, same division placement) so both engines walk the same
    # IEEE-double op sequence
    p_kn = (
        F.greatest(F.col("bg_cnt") - d, F.lit(0.0)) / F.col("w1_cnt")
        + (d * F.col("n_follow") / F.col("w1_cnt"))
        * (F.col("n_precede") / F.col("n_types"))
    )
    lm_scored = (
        lm.join(pre, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select("bg", (-F.log2(p_kn)).alias("kn"))
    )
    return (
        db.join(lm_scored, "bg")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(F.col("n_db") * F.col("kn")) / F.sum("n_db"), 6).alias(
                "avg_kn_surprisal"
            ),
            F.sum("n_db").alias("n_scored_bigrams"),
        )
    )


def vocab_coverage(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """Tokenizer-prep vocabulary table: the corpus's ``top_k`` most frequent
    tokens with count, frequency rank, corpus share, and cumulative
    coverage — the table a BPE/unigram tokenizer build reads to fix its
    base vocabulary and to report how much of the corpus a vocab prefix
    explains (coverage@k).

    Ties break lexicographically (count DESC, token ASC) so the table is
    fully deterministic.

    Scale shape: one groupBy on token (uniform keys, map-side partial agg)
    -> TakeOrderedAndProject(top_k) — the full vocabulary is never
    globally sorted and never collected; the window that assigns rank and
    cumulative share runs over the ``top_k``-row result only (bounded by
    construction), with the corpus total joined in as a 1-row broadcast.
    """
    from pyspark.sql import Window

    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
    counts = (
        docs.select(F.explode(F.expr(toks)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("corpus_tokens"))
    top = counts.orderBy(F.desc("n"), "token").limit(top_k)
    w = Window.orderBy(F.desc("n"), "token")
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "token",
            "n",
            F.row_number().over(w).alias("rank"),
            F.round(F.col("n") / F.col("corpus_tokens"), 6).alias("share"),
            F.round(
                F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("corpus_tokens"),
                6,
            ).alias("cum_coverage"),
        )
    )


def corpus_profile(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus profile: doc count, whitespace-token totals,
    exact distinct-token cardinality, and doc-length quantiles — the
    summary table a corpus build publishes per language/source before
    fixing sampling weights (the measurement side of q53's mixture).

    Returns (group_col, n_docs, total_tokens, distinct_tokens,
    p50_tokens, p90_tokens, p99_tokens).  Quantiles use linear
    interpolation (Spark ``percentile`` == DuckDB ``quantile_cont``).

    Scale shape: distinct cardinality is the two-level agg
    groupBy(group, token) -> groupBy(group) — vocabulary-sized shuffle
    with partial agg, never a collect.  With ``exact=True`` the quantiles
    are Spark's exact ``percentile`` (per-group sorted buffer — right for
    oracle-checked tests and groups up to ~10^8 docs); at 100-TB scale
    pass ``exact=False`` for ``approx_percentile`` (t-digest-style GK
    sketch, error 1e-4, mergeable map-side) — same schema, same plan
    shape, bounded state.
    """
    ws = f"size(regexp_extract_all({text_col}, '\\\\S+', 0))"
    base = docs.select(
        F.col(group_col),
        F.expr(ws).alias("nt"),
        F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)").alias("_tk"),
    )
    pfun = "percentile" if exact else "approx_percentile"
    per_group = base.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.expr(f"{pfun}(nt, array(0.5, 0.9, 0.99))").alias("_q"),
    )
    distinct = (
        base.select(group_col, F.explode("_tk").alias("token"))
        .groupBy(group_col, "token")
        .agg(F.lit(1).alias("_one"))
        .groupBy(group_col)
        .agg(F.count("*").alias("distinct_tokens"))
    )
    return per_group.join(distinct, group_col).select(
        group_col,
        "n_docs",
        "total_tokens",
        "distinct_tokens",
        F.round(F.expr("double(_q[0])"), 4).alias("p50_tokens"),
        F.round(F.expr("double(_q[1])"), 4).alias("p90_tokens"),
        F.round(F.expr("double(_q[2])"), 4).alias("p99_tokens"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    top_n: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-iteration BPE merge statistics (Sennrich et al. 2016): the
    corpus-wide frequency of every adjacent character pair inside words —
    the candidate table the first tokenizer merge is chosen from.
    Training a corpus-specific tokenizer starts exactly here, and the
    full BPE loop is this operator re-run on the re-segmented vocabulary.

    Returns the ``top_n`` pairs as (pair, n) — pair is the two symbols
    space-joined, n the occurrence-weighted count (a word contributes
    count(word) × occurrences-within-word) — ordered by n desc, pair asc.

    Scale shape (the published word-level BPE trick): the corpus first
    collapses to its VOCABULARY via one token-explode + groupBy (uniform
    keys, partial agg), so the char-pair explode runs over distinct words
    — vocabulary-sized (millions), not corpus-sized (trillions of tokens).
    Second groupBy on pair keys is tiny (|alphabet|²-bounded).  The final
    top-n compiles to TakeOrderedAndProject — no global sort shuffle.
    """
    words = (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> concat(substring(word, i, 1), ' ', substring(word, i + 1, 1)))"
            )
        ).alias("pair"),
        F.col("wc"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )


def pmi_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 100,
    min_support: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top term-pair PMI (pointwise mutual information) by document
    co-occurrence — the collocation/topic signal a corpus analyst runs
    before choosing tokenizer merges or stop lists.

    pmi(a, b) = ln(c_ab * N / (c_a * c_b)) over document-distinct terms,
    restricted to the top ``vocab_size`` terms by document frequency
    (ties broken by term) so the per-document pair space is bounded at
    vocab_size^2 REGARDLESS of corpus size — that bound, plus broadcasting
    the tiny vocab to both the filter and the count lookups, is what makes
    the self-join safe at 100 TB: the only full shuffle is the
    (term_a, term_b) count groupBy, whose key space is <= vocab_size^2.

    Deterministic: counts are exact, pmi is rounded to 6dp BEFORE the
    top-n cut, and the ordering tie-breaks on (term_a, term_b).
    """
    terms = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("term"),
    )
    df_counts = terms.groupBy("term").agg(F.count("*").alias("df"))
    vocab = df_counts.orderBy(F.desc("df"), F.asc("term")).limit(vocab_size)
    in_vocab = terms.join(F.broadcast(vocab), "term")

    a = in_vocab.select("_doc", F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    b = in_vocab.select("_doc", F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "_doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= min_support)
    )
    n_docs = docs.select(F.count("*").alias("_n"))
    scored = pairs.join(F.broadcast(n_docs)).select(
        "term_a",
        "term_b",
        "n_co",
        F.round(
            F.log(F.col("n_co") * F.col("_n") / (F.col("df_a") * F.col("df_b"))), 6
        ).alias("pmi"),
    )
    return scored.orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b")).limit(top_n)


def token_quartiles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact quartile bucketing of per-document token counts via a
    distributed HISTOGRAM — the scalable form of exact quantiles over a
    discrete domain (CCNet buckets corpora into head/middle/tail by
    per-document perplexity exactly this way).

    Scale shape: percentile() over 10^10 rows buffers values per group and
    percentile_approx changes the answer; instead ONE partial-agg'd groupBy
    collapses the corpus to its token-count histogram (cardinality = number
    of DISTINCT counts, tiny), the cumulative walk + quantile_disc cut
    (smallest value whose cumulative count reaches ceil(q*n)) runs as a
    window over that tiny histogram, and the three boundaries broadcast
    back for a map-side bucket assignment.  Exact at any scale, no
    driver-side collect.
    """
    from pyspark.sql import Window

    with_n = docs.select(
        F.col(id_col), F.size(tokens_col(text_col)).alias("n_tokens")
    )
    hist = with_n.groupBy("n_tokens").agg(F.count("*").alias("_c"))
    # the histogram is tiny; a single-partition window over it is the point
    w = Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "n_tokens", F.sum("_c").over(w).alias("_cum"), F.sum("_c").over(Window.partitionBy()).alias("_n")
    )
    boundaries = cum.agg(
        F.min(F.when(F.col("_cum") >= F.ceil(F.col("_n") * 0.25), F.col("n_tokens"))).alias("_b25"),
        F.min(F.when(F.col("_cum") >= F.ceil(F.col("_n") * 0.50), F.col("n_tokens"))).alias("_b50"),
        F.min(F.when(F.col("_cum") >= F.ceil(F.col("_n") * 0.75), F.col("n_tokens"))).alias("_b75"),
    )
    return with_n.join(F.broadcast(boundaries)).select(
        id_col,
        "n_tokens",
        F.when(F.col("n_tokens") <= F.col("_b25"), 1)
        .when(F.col("n_tokens") <= F.col("_b50"), 2)
        .when(F.col("n_tokens") <= F.col("_b75"), 3)
        .otherwise(4)
        .alias("quartile"),
    )


def zipf_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency distribution — the
    one-row corpus-health diagnostic (natural text tracks slope ≈ −1;
    machine-generated or boilerplate-heavy corpora bend away from it).

    OLS of ln(freq) on ln(rank) over the top ``top_n`` terms:
    slope = (E[xy] − E[x]E[y]) / (E[x²] − E[x]²), intercept = E[y] − m·E[x].

    Scale shape: ONE partial-agg'd groupBy collapses the corpus to its
    vocabulary; the top-n cut compiles to TakeOrderedAndProject (no global
    sort); ranking and the four OLS moments run over the top_n-row table.
    Rank ties broken by term so the regression input is a total order.
    """
    from pyspark.sql import Window

    tf = (
        docs.select(F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(top_n)
    )
    # top_n rows: the single-partition rank window is over the cut, not the corpus
    ranked = tf.select(
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("term"))).alias("rank"),
        "freq",
    ).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count("*").alias("n_terms"),
        F.avg("x").alias("_mx"),
        F.avg("y").alias("_my"),
        F.avg(F.col("x") * F.col("y")).alias("_mxy"),
        F.avg(F.col("x") * F.col("x")).alias("_mxx"),
    )
    slope = (F.col("_mxy") - F.col("_mx") * F.col("_my")) / (
        F.col("_mxx") - F.col("_mx") * F.col("_mx")
    )
    return m.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.col("_my") - slope * F.col("_mx"), 6).alias("zipf_intercept"),
    )


def length_outliers(
    docs: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    z_cut: float = 3.0,
) -> DataFrame:
    """Per-language token-length z-scores + outlier flag — the cheap
    first-pass truncation/concatenation detector a curation pipeline runs
    before expensive quality models (a 50k-token 'document' is a crawler
    artifact, not prose).

    Scale shape: ONE partial-agg'd groupBy per language (count/avg/
    stddev_pop all combine map-side; language cardinality is tiny) and the
    per-language moments broadcast back for a map-side z-score — two
    passes over the corpus, zero wide shuffles.
    """
    with_n = docs.select(
        F.col(id_col), F.col(lang_col).alias("lang"), F.size(tokens_col(text_col)).alias("n_tokens")
    )
    stats = with_n.groupBy("lang").agg(
        F.avg("n_tokens").alias("_mean"),
        F.stddev_pop("n_tokens").alias("_std"),
    )
    # a language whose docs are all the same length (or a single doc) has
    # stddev 0: z is 0 by definition, never a division
    z = F.when(
        F.col("_std") > 0, (F.col("n_tokens") - F.col("_mean")) / F.col("_std")
    ).otherwise(F.lit(0.0))
    return with_n.join(F.broadcast(stats), "lang").select(
        id_col,
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(z, 6).alias("z"),
        (F.abs(z) >= z_cut).alias("outlier"),
    )


def ngram_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_n: int = 3,
) -> DataFrame:
    """Per-group distinct-n-gram diversity (distinct-n / total-n for
    n = 1..max_n) — the corpus-health ratio that exposes boilerplate-heavy
    or template-generated sources (their repeated n-grams crater the ratio
    long before intra-doc filters fire; the corpus-level complement of the
    Gopher per-doc repetition stats).

    Scale shape: grams are formed JVM-side (the shared shingle transform),
    the distinct count is a two-level agg — groupBy (group, n, gram) then
    groupBy (group, n) — so both shuffles carry partial-agg'd uniform keys
    and nothing corpus-sized is ever collected or sorted.

    Output: group_col, n, total_ngrams, distinct_ngrams, diversity (6 dp).
    """
    per_n = []
    for n in range(1, max_n + 1):
        grams = shingles_col(text_col, n) if n > 1 else tokens_col(text_col)
        per_n.append(
            docs.select(F.col(group_col), F.explode(grams).alias("gram")).select(
                group_col, F.lit(n).alias("n"), "gram"
            )
        )
    longtab = per_n[0]
    for d in per_n[1:]:
        longtab = longtab.unionByName(d)
    counted = longtab.groupBy(group_col, "n", "gram").agg(F.count("*").alias("c"))
    return (
        counted.groupBy(group_col, "n")
        .agg(
            F.sum("c").alias("total_ngrams"),
            F.count("*").alias("distinct_ngrams"),
        )
        .select(
            group_col,
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.round(F.col("distinct_ngrams") / F.col("total_ngrams"), 6).alias("diversity"),
        )
    )


def heaps_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    points: int = 16,
    gram_n: int = 1,
) -> DataFrame:
    """Heap's-law fit V(N) ~ k * N^beta (vocabulary growth vs corpus size)
    — natural text lands around beta 0.4-0.6; a flattening curve means the
    crawl is re-reading the same material (vocabulary exhaustion), a
    steepening one means noise/OCR junk is inflating the vocabulary.
    ``gram_n`` > 1 fits n-gram-vocabulary growth instead — the right order
    when the unigram vocabulary saturates early (closed-vocabulary or
    heavily templated corpora).

    The growth curve is sampled at ``points`` numeric id thresholds
    t_k = (k * max_id) div points (integer division — portable): N(t) =
    tokens in docs with id <= t (per-doc token counts crossed with the tiny
    threshold table, partial-agg'd to <= points keys), V(t) = terms whose
    FIRST occurrence (min doc id, one vocabulary-sized groupBy) is <= t.
    OLS of ln V on ln N over the sampled points (the q88 zipf_fit moment
    formula).

    Output: one row — n_points, heaps_beta (6 dp), heaps_lnk (6 dp).
    """
    # integer division for the thresholds: Spark CAST(double AS BIGINT)
    # truncates while DuckDB rounds, so the float form would diverge
    mx = docs.agg(F.max(F.col(id_col).cast("long")).alias("m"))
    ts = mx.select(
        F.explode(
            F.expr(f"transform(sequence(1, {points}), k -> (k * m) div {points})")
        ).alias("t")
    ).distinct()
    per_doc = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.size(tokens_col(text_col)).cast("long").alias("n_toks"),
    )
    n_at = (
        per_doc.join(F.broadcast(ts), per_doc.id <= ts.t)
        .groupBy("t")
        .agg(F.sum("n_toks").alias("n_tokens"))
    )
    grams = tokens_col(text_col) if gram_n == 1 else shingles_col(text_col, gram_n)
    first = (
        docs.select(F.col(id_col).cast("long").alias("id"), F.explode(grams).alias("term"))
        .groupBy("term")
        .agg(F.min("id").alias("first_id"))
    )
    v_at = (
        first.join(F.broadcast(ts), first.first_id <= ts.t)
        .groupBy("t")
        .agg(F.count("*").alias("vocab"))
    )
    xy = n_at.join(v_at, "t").select(
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    m = xy.agg(
        F.count("*").alias("n_points"),
        F.avg("x").alias("_mx"),
        F.avg("y").alias("_my"),
        F.avg(F.col("x") * F.col("y")).alias("_mxy"),
        F.avg(F.col("x") * F.col("x")).alias("_mxx"),
    )
    slope = (F.col("_mxy") - F.col("_mx") * F.col("_my")) / (
        F.col("_mxx") - F.col("_mx") * F.col("_mx")
    )
    # "+ 0.0" folds a degenerate fit's IEEE -0.0 slope to +0.0
    return m.select(
        "n_points",
        (F.round(slope, 6) + F.lit(0.0)).alias("heaps_beta"),
        (F.round(F.col("_my") - slope * F.col("_mx"), 6) + F.lit(0.0)).alias("heaps_lnk"),
    )


def source_kl_drift(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution from
    the whole-corpus distribution — the domain-shift detector a mixture
    build watches (a source drifting away from the corpus is template spam,
    a language mix-up, or genuinely novel material; either way it needs a
    human look before its weight changes).

    KL(P_s || P) = sum_w p_s(w) * ln(p_s(w) / p(w)); every term in a source
    exists in the corpus, so no smoothing is needed and the score is exactly
    re-derivable in SQL.

    Scale shape: one (source, token) groupBy collapses the corpus; the
    corpus totals derive from that VOCABULARY-sized table, join back on
    token (vocab-sized both sides), and the final per-source sum
    partial-aggregates.  Totals ride along via broadcast.

    Output: group_col, n_tokens, kl (6 dp) — kl >= 0.
    """
    st = (
        docs.select(F.col(group_col), F.explode(tokens_col(text_col)).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count("*").alias("c_st"))
    )
    corpus = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    totals = st.groupBy(group_col).agg(F.sum("c_st").alias("n_s"))
    grand = corpus.agg(F.sum("c_t").alias("n_all"))
    term = (
        st.join(corpus, "token")
        .join(F.broadcast(totals), group_col)
        .join(F.broadcast(grand))
        .select(
            group_col,
            "n_s",
            (
                (F.col("c_st") / F.col("n_s"))
                * F.log(
                    (F.col("c_st") / F.col("n_s")) / (F.col("c_t") / F.col("n_all"))
                )
            ).alias("kl_term"),
        )
    )
    return term.groupBy(group_col).agg(
        F.max("n_s").alias("n_tokens"),
        F.round(F.sum("kl_term"), 6).alias("kl"),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full iterative BPE tokenizer TRAINING (Sennrich et al. 2016) — the
    loop whose first iteration is ``bpe_pair_counts``: repeatedly find the
    most frequent adjacent symbol pair across the corpus and merge it,
    ``n_merges`` times.  Returns the learned merge table
    (merge_rank, pair, merged, n) in merge order — the artifact a corpus-
    specific tokenizer ships.

    Determinism: pair counts are exact integer sums; ties break on the
    lexicographically smaller pair; training stops early if the best pair
    occurs fewer than 2 times (then emits fewer than ``n_merges`` rows).
    Bit-identical at any parallelism.

    Scale shape (the published word-level trick): the corpus collapses ONCE
    to its vocabulary — (word, count) via token explode + groupBy (uniform
    keys, partial agg) — and every merge iteration runs over DISTINCT words
    (vocabulary-sized: millions), never corpus tokens (trillions).  Per
    iteration: one pair explode + groupBy (keys bounded by running-vocab²,
    partial agg), one 1-row TakeOrdered collect for the argmax, one pure-map
    re-segmentation, and a localCheckpoint so the plan stays O(1) in
    iteration count.  Driver state: the merge list — O(n_merges).

    The left-to-right non-overlapping merge uses Java regex replaceAll on
    the space-joined symbol string: pattern ``' \\Qa\\E \\Qb\\E(?= )'``
    against ``' ' || seg || ' '`` — the lookahead leaves the trailing space
    to serve as the next match's leading space, which reproduces exactly
    the greedy scan reference BPE implementations use ("a a a a" with merge
    (a,a) -> "aa aa", not "aa a a").
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .filter(F.length("word") >= 2)
    )
    # LAZY checkpoints throughout the merge loop (r06): each iteration's
    # argmax TakeOrdered materializes the pending re-segmentation as part of
    # its own job, halving the loop's job count (2 jobs/merge -> 1) while
    # keeping the plan O(1) — the blocks persist exactly as before.
    vocab = words.select(
        "wc",
        F.expr("trim(regexp_replace(word, '(.)', '$1 '))").alias("seg"),
    ).localCheckpoint(eager=False)

    adj = (
        "case when size(split(seg, ' ')) >= 2 then "
        "transform(sequence(1, size(split(seg, ' ')) - 1), "
        "i -> concat(element_at(split(seg, ' '), i), ' ', element_at(split(seg, ' '), i + 1))) "
        "else array() end"
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            vocab.select(F.explode(F.expr(adj)).alias("pair"), "wc")
            .groupBy("pair")
            .agg(F.sum("wc").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best or int(best[0]["n"]) < 2:
            break
        pair, n = best[0]["pair"], int(best[0]["n"])
        a, b = pair.split(" ")
        merges.append((rank, pair, a + b, n))
        vocab = vocab.select(
            "wc",
            F.expr(
                "trim(regexp_replace(concat(' ', seg, ' '), "
                f"' \\\\Q{a}\\\\E \\\\Q{b}\\\\E(?= )', ' {a}{b}'))"
            ).alias("seg"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "merge_rank INT, pair STRING, merged STRING, n BIGINT"
    ).orderBy("merge_rank")


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "sql",
) -> DataFrame:
    """Apply a learned BPE merge table (``bpe_train`` output order) to every
    document — the ENCODE half of the tokenizer loop, producing the per-doc
    subword counts a packing/budgeting stage (q82/q83) consumes.

    Per doc: ``n_words`` (pre-tokenizer tokens), ``n_bpe_tokens`` (subword
    symbols after applying every merge in rank order, greedy left-to-right
    within each word — identical semantics to ``bpe_train``'s
    re-segmentation), ``chars_per_token`` (token-chars / subwords; NULL on
    empty docs).

    Two engines, equal by construction (pinned by a unit test):

    - ``impl='sql'`` — the merge table folds into the PLAN as literals: a
      chain of ``n_merges`` nested regexp_replace calls inside a
      ``transform`` lambda, 100% whole-stage codegen, zero shuffles, zero
      Python.  The right engine for the small/medium merge tables these
      queries learn (8-a few hundred merges).
    - ``impl='pandas'`` — the same greedy loop over Arrow batches with the
      merge list captured in the UDF closure (Spark broadcasts it with the
      task binary).  The scale path for production vocabularies (30k+
      merges), where a 30k-deep codegen expression is not viable; still a
      pure map — zero shuffles at any corpus size.
    """
    if impl == "sql":
        seg = f"trim(regexp_replace(w, '(.)', '$1 '))"
        for a, b in merges:
            seg = (
                f"trim(regexp_replace(concat(' ', {seg}, ' '), "
                f"' \\\\Q{a}\\\\E \\\\Q{b}\\\\E(?= )', ' {a}{b}'))"
            )
        toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)"
        per_word = f"transform({toks}, w -> size(split({seg}, ' ')))"
        n_bpe = f"aggregate({per_word}, 0L, (acc, x) -> acc + cast(x as bigint))"
        n_chars = f"aggregate(transform({toks}, w -> length(w)), 0L, (acc, x) -> acc + cast(x as bigint))"
        return docs.select(
            F.col(id_col),
            F.expr(f"cast(size({toks}) as bigint)").alias("n_words"),
            F.expr(n_bpe).alias("n_bpe_tokens"),
            F.expr(
                f"case when ({n_bpe}) > 0 then cast(({n_chars}) as double) / cast(({n_bpe}) as double) end"
            ).alias("chars_per_token"),
        )
    if impl != "pandas":
        raise ValueError(f"impl must be 'sql' or 'pandas', got {impl!r}")

    import re as _re

    from pyspark.sql.functions import pandas_udf

    merge_list = list(merges)
    token_re = TOKEN_PATTERN

    @pandas_udf("struct<n_words: bigint, n_bpe_tokens: bigint, chars_per_token: double>")
    def _encode(texts: pd.Series) -> pd.DataFrame:
        pat = _re.compile(token_re)
        out = {"n_words": [], "n_bpe_tokens": [], "chars_per_token": []}
        for text in texts:
            words = pat.findall((text or "").lower())
            n_bpe = 0
            n_chars = 0
            for w in words:
                syms = list(w)
                n_chars += len(w)
                for a, b in merge_list:
                    merged: list[str] = []
                    i = 0
                    while i < len(syms):
                        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                            merged.append(a + b)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    syms = merged
                n_bpe += len(syms)
            out["n_words"].append(len(words))
            out["n_bpe_tokens"].append(n_bpe)
            out["chars_per_token"].append(n_chars / n_bpe if n_bpe else None)
        return pd.DataFrame(out)

    enc = _encode(F.col(text_col)).alias("e")
    return docs.select(F.col(id_col), enc).select(
        id_col, "e.n_words", "e.n_bpe_tokens", "e.chars_per_token"
    )
