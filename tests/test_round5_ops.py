"""Round-5 additions: eTLD+1 grouping, canonical clustering, deterministic
epoch shuffle, content-defined chunking — properties the oracle sweep can't
see (partition invariance, shift robustness, edge-case classification)."""

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.operators import snapshots, training, urlmine


# ---------------------------------------------------------------------------
# registrable_domains (eTLD+1)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "host,expected",
    [
        ("www.example.gov.uk", "example.gov.uk"),   # two-level suffix + sub
        ("example.gov.uk", "example.gov.uk"),        # two-level suffix bare
        ("gov.uk", "gov.uk"),                        # the suffix itself
        ("a.b.c.example.co.uk", "example.co.uk"),    # deep nesting
        ("www.example.gov", "example.gov"),          # plain gTLD
        ("example.com", "example.com"),              # bare eTLD+1
        ("localhost", "localhost"),                  # single label
        ("deep.sub.example.com", "example.com"),
    ],
)
def test_registrable_domain_rule(spark, host, expected):
    got = (
        spark.createDataFrame([(host,)], "host string")
        .selectExpr(f"{urlmine.registrable_domain_expr('host')} AS d")
        .head()[0]
    )
    assert got == expected, host


def test_registrable_domains_rollup(spark):
    urls = [
        ("https://www.x.gov.uk/a",),
        ("https://x.gov.uk/b",),
        ("https://deep.sub.x.gov.uk/c",),
        ("https://y.example.com/d",),
        ("https://z.example.com:8443/e",),   # port stripped from host
    ]
    out = {
        r["domain"]: r
        for r in urlmine.registrable_domains(
            spark.createDataFrame(urls, "url string")
        ).collect()
    }
    assert out["x.gov.uk"]["n_urls"] == 3
    assert out["x.gov.uk"]["n_hosts"] == 3
    assert out["x.gov.uk"]["max_sub_depth"] == 2
    assert out["example.com"]["n_urls"] == 2
    assert out["example.com"]["n_hosts"] == 2
    assert out["example.com"]["max_sub_depth"] == 1


# ---------------------------------------------------------------------------
# canonical_clusters
# ---------------------------------------------------------------------------

def test_canonical_clusters_attribute_orders_and_relative(spark):
    pages = [
        # absolute, rel-first
        ("https://a.gov/p/1?x=1",
         '<link rel="canonical" href="https://a.gov/p/1">'),
        # relative, href-first
        ("https://a.gov/p/1?x=2",
         '<link href="/p/1" rel="canonical">'),
        # the canonical page itself, no tag -> self-canonical
        ("https://a.gov/p/1", "<html><body>hi</body></html>"),
        # unrelated self-canonical singleton
        ("https://b.gov/q", "<p>no link</p>"),
    ]
    out = {
        r["canonical_url"]: r
        for r in urlmine.canonical_clusters(
            spark.createDataFrame(pages, "url string, html string")
        ).collect()
    }
    assert len(out) == 2
    c = out["https://a.gov/p/1"]
    assert c["n_pages"] == 3
    assert c["rep_url"] == "https://a.gov/p/1"
    assert c["has_canonical_page"] is True
    s = out["https://b.gov/q"]
    assert s["n_pages"] == 1 and s["has_canonical_page"] is True


def test_canonical_clusters_uncrawled_target(spark):
    pages = [("https://a.gov/old", '<link rel="canonical" href="https://a.gov/new">')]
    row = urlmine.canonical_clusters(
        spark.createDataFrame(pages, "url string, html string")
    ).head()
    assert row["canonical_url"] == "https://a.gov/new"
    assert row["has_canonical_page"] is False


# ---------------------------------------------------------------------------
# epoch_shards
# ---------------------------------------------------------------------------

def test_epoch_shards_partition_invariance(spark):
    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = training.epoch_shards(docs.repartition(1), n_shards=8, seed="e0")
    b = training.epoch_shards(docs.repartition(13), n_shards=8, seed="e0")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_epoch_shards_contract(spark):
    docs = spark.range(400).withColumnRenamed("id", "doc_id")
    rows = training.epoch_shards(docs, n_shards=8, seed="e1").collect()
    assert len(rows) == 400
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    # every shard's positions are exactly 1..len (a permutation), shards 0..7
    assert set(by_shard) <= set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed is a different permutation
    rows2 = training.epoch_shards(docs, n_shards=8, seed="e2").collect()
    assert {(r["doc_id"], r["shard_id"], r["pos"]) for r in rows} != {
        (r["doc_id"], r["shard_id"], r["pos"]) for r in rows2
    }


# ---------------------------------------------------------------------------
# cdc_chunks / cdc_delta
# ---------------------------------------------------------------------------

TEXT = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the mouse runs through the tall grass field"
)


def test_cdc_chunks_cover_and_partition_invariance(spark):
    docs = spark.createDataFrame([(1, TEXT), (2, "one two"), (3, "")],
                                 "doc_id long, text string")
    rows = snapshots.cdc_chunks(docs).collect()
    # doc 3 has no tokens -> absent; chunk token counts cover each doc exactly
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens"]
    assert per_doc == {1: len(TEXT.split()), 2: 2}
    rows2 = snapshots.cdc_chunks(docs.repartition(7)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_cdc_shift_robustness_beats_fixed_stride(spark):
    """Prepending one token must leave the tail chunks' hashes intact —
    the property fixed-stride chunking cannot have."""
    v1 = spark.createDataFrame([(1, TEXT)], "doc_id long, text string")
    v2 = spark.createDataFrame([(1, "prefix " + TEXT)], "doc_id long, text string")
    c1 = snapshots.cdc_chunks(v1)
    c2 = snapshots.cdc_chunks(v2)
    d = snapshots.cdc_delta(c1, c2).head()
    assert d["n_shared"] > 0, "CDC must preserve post-boundary chunks"
    assert d["reuse_ratio"] > 0.5
    # identical content -> full reuse
    ident = snapshots.cdc_delta(c1, snapshots.cdc_chunks(v1)).head()
    assert ident["reuse_ratio"] == 1.0 and ident["n_shared"] == ident["n_chunks_new"]


def test_cdc_delta_zero_shuffle_chunking_plan(spark):
    """cdc_chunks itself must be a pure map: no Exchange in its plan."""
    docs = spark.createDataFrame([(1, TEXT)], "doc_id long, text string")
    plan = snapshots.cdc_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# trustrank (graph.trustrank)
# ---------------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_trustrank_hand_computed_two_cycle(spark):
    """Seed 0, edges 0<->1, 2 iterations, d=0.85 — every value derivable by
    hand: t0=(1,0); t1=(0.15, 0.85); t2=(0.15+0.85^2, 0.85*0.15)."""
    from searchgov_spider_spark.operators import graph

    got = {
        r.id: r.trust
        for r in graph.trustrank(
            _edges(spark, [(0, 1), (1, 0)]),
            _nodes(spark, [0]),
            _nodes(spark, [0, 1]),
            n_iter=2,
        ).collect()
    }
    assert got == {0: 0.8725, 1: 0.1275}


def test_trustrank_unreachable_is_exactly_zero(spark):
    """Pages with no path from any seed — the spam-demotion set — score
    exactly 0.0: isolated node 3 and the mutually-linking pair 4<->5."""
    from searchgov_spider_spark.operators import graph

    got = {
        r.id: r.trust
        for r in graph.trustrank(
            _edges(spark, [(0, 1), (1, 2), (4, 5), (5, 4)]),
            _nodes(spark, [0]),
            _nodes(spark, list(range(6))),
            n_iter=5,
        ).collect()
    }
    assert got[0] > 0 and got[1] > 0 and got[2] > 0
    assert got[3] == 0.0 and got[4] == 0.0 and got[5] == 0.0


def test_trustrank_demotes_spam_farm_pagerank_inflates(spark):
    """The operator's point: a spam farm (10..19 all link 9; 9 links back)
    inflates its target's PAGERANK above the trusted cluster's pages, but
    its TRUST stays exactly 0 because no seed reaches it."""
    from searchgov_spider_spark.operators import graph

    farm = [(i, 9) for i in range(10, 20)] + [(9, i) for i in range(10, 20)]
    trusted = [(0, 1), (1, 2), (2, 0)]
    edges = _edges(spark, trusted + farm)
    nodes = _nodes(spark, list(range(20)))
    pr = {r.id: r.pagerank for r in graph.pagerank(edges, nodes, n_iter=5).collect()}
    tr = {
        r.id: r.trust
        for r in graph.trustrank(edges, _nodes(spark, [0]), nodes, n_iter=5).collect()
    }
    assert pr[9] > pr[1]  # spam target outranks a trusted page on PageRank
    assert tr[9] == 0.0 and tr[1] > 0  # ...but TrustRank demotes it to zero


def _trust(spark, seeds):
    from searchgov_spider_spark.operators import graph

    rows = graph.trustrank(
        _edges(spark, [(0, 1), (1, 2), (2, 0)]), _nodes(spark, seeds), _nodes(spark, [0, 1, 2]), n_iter=3
    ).collect()
    return sorted((r.id, r.trust) for r in rows)


def test_trustrank_duplicate_seed_counts_once(spark):
    """A seed id listed twice is one seed: one row per node, scores as
    with the id listed once."""
    got = _trust(spark, [0, 0])
    assert [i for i, _ in got] == [0, 1, 2]
    assert got == _trust(spark, [0])


def test_trustrank_seed_outside_nodes_is_ignored(spark):
    """A seed id that is no node takes no share of the teleport mass: the
    scores equal those of the node seeds alone."""
    assert _trust(spark, [0, 99]) == _trust(spark, [0])
    assert sum(t for _, t in _trust(spark, [0])) > 0.5


def test_trustrank_without_seeds_scores_zero(spark):
    """No seed that is a node: every node scores 0.0, no division by zero."""
    assert _trust(spark, []) == [(0, 0.0), (1, 0.0), (2, 0.0)]
    assert _trust(spark, [99]) == [(0, 0.0), (1, 0.0), (2, 0.0)]


def test_trustrank_partition_invariance(spark):
    """Bit-identical rounded trust at different input partitionings (the
    repo-wide determinism contract)."""
    from searchgov_spider_spark.operators import graph

    pairs = [(i, (i * 5 + 3) % 40) for i in range(40)] + [
        (i, (i * 11 + 7) % 40) for i in range(40)
    ]
    pairs = [p for p in pairs if p[0] != p[1]]
    nodes = _nodes(spark, list(range(40)))
    seeds = _nodes(spark, [0, 17, 34])
    a = graph.trustrank(_edges(spark, pairs).repartition(1), seeds, nodes, n_iter=4)
    b = graph.trustrank(_edges(spark, pairs).repartition(16), seeds, nodes, n_iter=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# mine_triplets (training.mine_triplets)
# ---------------------------------------------------------------------------

def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_mine_triplets_hand_built_geometry(spark):
    """2-d unit vectors at known angles: anchor 0 (label 1) must pick the
    15-degree same-label row 1 as positive and the 30-degree OTHER-label
    row 2 as hard negative over the 90-degree row 3."""
    import math

    from searchgov_spider_spark.operators import training

    def v(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    corpus = _emb(
        spark,
        [
            (0, v(0), 1),
            (1, v(15), 1),   # nearest same-label -> positive
            (5, v(45), 1),   # farther same-label
            (2, v(30), 2),   # nearest different-label -> hard negative
            (3, v(90), 2),
        ],
    )
    anchors = corpus.filter(F.col("vec_id") == 0)
    row = training.mine_triplets(anchors, corpus).collect()[0]
    assert (row.anchor_id, row.pos_id, row.neg_id) == (0, 1, 2)
    import pytest as _pytest

    assert row.pos_cos == _pytest.approx(math.cos(math.radians(15)), abs=1e-4)
    assert row.neg_cos == _pytest.approx(math.cos(math.radians(30)), abs=1e-4)
    assert row.margin == _pytest.approx(row.pos_cos - row.neg_cos, abs=2e-4)


def test_mine_triplets_tie_breaks_to_smaller_id(spark):
    """Two candidates with IDENTICAL vectors (cosine tie) -> the smaller
    cand_id wins, deterministically."""
    from searchgov_spider_spark.operators import training

    corpus = _emb(
        spark,
        [
            (0, [1.0, 0.0], 1),
            (7, [1.0, 1.0], 1),
            (3, [1.0, 1.0], 1),   # same cosine as 7 -> min id wins
            (9, [0.0, 1.0], 2),
            (4, [0.0, 1.0], 2),   # same cosine as 9 -> min id wins
        ],
    )
    anchors = corpus.filter(F.col("vec_id") == 0)
    row = training.mine_triplets(anchors, corpus).collect()[0]
    assert (row.pos_id, row.neg_id) == (3, 4)


def test_mine_triplets_violation_margin_is_negative(spark):
    """An anchor whose nearest neighbor is a DIFFERENT-label row gets a
    negative margin — the high-value training row the miner exists to
    surface."""
    from searchgov_spider_spark.operators import training

    corpus = _emb(
        spark,
        [
            (0, [1.0, 0.0], 1),
            (1, [0.99, 0.14], 2),  # impostor right next to the anchor
            (2, [0.0, 1.0], 1),    # true positive far away
        ],
    )
    anchors = corpus.filter(F.col("vec_id") == 0)
    row = training.mine_triplets(anchors, corpus).collect()[0]
    assert row.margin < 0


def test_mine_triplets_zero_vector_has_no_cosine(spark):
    """An all-zero embedding has no cosine to any row: as a corpus row it is
    neither positive nor negative, and as an anchor it forms no triplet —
    where the division by its zero norm used to fail the whole job under
    ANSI mode."""
    from searchgov_spider_spark.operators import training

    corpus = _emb(
        spark,
        [
            (0, [1.0, 0.0], 1),
            (1, [0.0, 0.0], 1),   # zero vector, same label as anchor 0
            (2, [0.0, 0.0], 2),   # zero vector, other label
            (3, [0.6, 0.8], 1),
            (4, [0.0, 1.0], 2),
        ],
    )
    rows = training.mine_triplets(corpus.filter(F.col("vec_id").isin(0, 1)), corpus).collect()
    assert [(r.anchor_id, r.pos_id, r.neg_id) for r in rows] == [(0, 3, 4)]
    assert rows[0].pos_cos == 0.6 and rows[0].neg_cos == 0.0


def test_mine_triplets_broadcast_plan(spark):
    """The corpus must never shuffle for the join: anchors ride a
    BroadcastNestedLoopJoin; the ONLY Exchange is the final
    groupBy(anchor_id) over map-side-combined partials."""
    from searchgov_spider_spark.operators import training

    corpus = _emb(
        spark, [(i, [float(i % 7), float(i % 5)], i % 3) for i in range(50)]
    )
    anchors = corpus.filter(F.col("vec_id") % 10 == 0)
    plan = training.mine_triplets(anchors, corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


# ---------------------------------------------------------------------------
# image perceptual-hash near-dup (multimodal.dhash64 / image_near_dup_pairs)
# ---------------------------------------------------------------------------

def test_dhash_gradient_extremes():
    """Monotone gradients pin the bit convention: strictly increasing
    columns -> every left<right -> all bits 0; strictly decreasing -> all
    64 bits set."""
    import numpy as np

    from searchgov_spider_spark.operators import multimodal

    inc = np.tile(np.arange(0, 90, 10, dtype=np.uint8), (8, 1))   # 8x9 ramp up
    dec = inc[:, ::-1].copy()
    assert multimodal.dhash64(inc) == 0
    assert multimodal.dhash64(dec) == (1 << 64) - 1


def test_dhash_rejects_sub_grid_images():
    import numpy as np
    import pytest as _pytest

    from searchgov_spider_spark.operators import multimodal

    with _pytest.raises(ValueError):
        multimodal.dhash64(np.zeros((7, 9), dtype=np.uint8))


def test_dhash_transport_invariance_interlace_and_palette():
    """The operator's reason to exist: the SAME pixels through different
    PNG transports (sequential vs Adam7, gray vs palette identity-mapping)
    hash identically, though the files differ byte-wise."""
    import hashlib

    from searchgov_spider_spark.operators import multimodal

    blob = hashlib.blake2b(b"transport", digest_size=64).digest()
    plain = multimodal.make_png(40, 24, blob, color_type=0, interlace=False)
    inter = multimodal.make_png(40, 24, blob, color_type=0, interlace=True)
    assert plain != inter
    h1 = multimodal.dhash64(multimodal.png_decode(plain))
    h2 = multimodal.dhash64(multimodal.png_decode(inter))
    assert h1 == h2


def test_image_near_dup_pairs_match_brute_force(spark):
    """Pigeonhole banding must equal brute-force all-pairs at the same
    threshold (zero false negatives for hamming <= n_bands - 1)."""
    from searchgov_spider_spark.queries import _q131_media, Q131_MAX_HAMMING
    from searchgov_spider_spark.operators import multimodal

    media = _q131_media(spark)
    hashes = {
        r.media_id: r.dhash & ((1 << 64) - 1)
        for r in multimodal.image_dhash(media).collect()
    }
    expected = set()
    ids = sorted(hashes)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= Q131_MAX_HAMMING:
                expected.add((a, b, d))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.image_near_dup_pairs(
            media, max_hamming=Q131_MAX_HAMMING
        ).collect()
    }
    assert got == expected and expected


def test_image_dhash_drops_non_png(spark):
    """JPEG and junk payloads are dropped (the documented pillow-absent
    boundary), never nulled or crashed."""
    from searchgov_spider_spark.operators import multimodal

    rows = [
        (0, bytearray(multimodal.make_png(24, 16, b"x" * 64))),
        (1, bytearray(multimodal.make_jpeg(24, 16, b"x" * 64))),
        (2, bytearray(b"not an image")),
        (3, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = multimodal.image_dhash(media).collect()
    assert [r.media_id for r in got] == [0]
