"""Checkpoint maintenance: seen-set compaction and old-round GC, including
resume-after-compaction equivalence."""

import os

import pytest

from searchgov_spider_spark.crawl import CrawlEngine, CrawlPolicy, reference_crawl
from searchgov_spider_spark.crawl import engine as engine_mod
from searchgov_spider_spark.storage.tables import CheckpointStore
from searchgov_spider_spark.synth import webgen
from searchgov_spider_spark.synth.spark_gen import PAGES_SCHEMA

N_PAGES, N_HOSTS = 400, 5


def _run_partial(spark, tmp_path, max_rounds, **engine_kw):
    pages = spark.createDataFrame(webgen.pages_pandas(N_PAGES, N_HOSTS), schema=PAGES_SCHEMA)
    robots = spark.createDataFrame(webgen.robots_pandas(N_HOSTS))
    policy = CrawlPolicy(allowed_domains=[webgen.host_name(0)], depth_limit=20)
    ckpt = str(tmp_path / "ckpt")
    engine = CrawlEngine(spark, pages, robots, policy, ckpt, bloom_shards=4, bloom_bits=1 << 14, **engine_kw)
    run = engine.run([webgen.page_url(0, 0)], max_rounds=max_rounds)
    return engine, run, policy


def _oracle(policy):
    from searchgov_spider_spark.kernels.urlnorm import canonicalize_url

    pages_dict = {
        canonicalize_url(webgen.page_url(h, k)): webgen.build_page(h, k, p, N_HOSTS)["html"]
        for h, k, p in webgen.page_index(N_PAGES, N_HOSTS)
    }
    robots_dict = {webgen.host_name(h): webgen.robots_text(h, N_HOSTS) for h in range(N_HOSTS)}
    return reference_crawl(pages_dict, robots_dict, [webgen.page_url(0, 0)], policy)


def test_compact_then_resume_matches_oracle(spark, tmp_path):
    engine, partial, policy = _run_partial(spark, tmp_path, max_rounds=3)
    store = engine.store
    last = store.last_committed()
    before = {(r["url_canon"], r["depth"]) for r in store.read_seen(spark, last).collect()}

    removed = store.compact_seen(spark, last)
    assert removed > 0
    after = {(r["url_canon"], r["depth"]) for r in store.read_seen(spark, last).collect()}
    assert after == before  # compaction preserves the seen set exactly

    resumed = engine.run([webgen.page_url(0, 0)], max_rounds=64, resume=True)
    # a compacted seen set is always consumed as the bucketed scan
    assert engine._seen_bucketed is not None
    oracle = _oracle(policy)
    seen = resumed.seen(spark)
    assert {r["url_canon"] for r in seen.collect()} == set(oracle.depth)
    assert [r["url_canon"] for r in seen.orderBy("seq").collect()] == oracle.order


def test_compacted_seen_bucketed_anti_join_no_seen_exchange(spark, tmp_path):
    """DESIGN.md seen-table gap (VERDICT r3 item 4): after compaction the
    seen side of the dedup anti-join must come off disk PRE-PARTITIONED —
    a bucketed scan with NO Exchange above it; only the candidate side
    shuffles.  Also pins row-level equivalence of the bucketed path against
    the plain multi-path read."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from searchgov_spider_spark.crawl.frontier import dedup_against_seen

    engine, partial, policy = _run_partial(spark, tmp_path, max_rounds=3)
    store = engine.store
    last = store.last_committed()
    store.compact_seen(spark, last, buckets=8)

    bucketed = store.read_seen_bucketed(spark)
    assert bucketed is not None
    # the marker + bucket-encoded file names survive the atomic swap
    assert os.path.exists(os.path.join(store.seed_seen_dir(), store.BUCKET_MARKER))

    plain = store.read_seen(spark, last)  # non-bucketed readers see the same rows
    plain_urls = {r["url_canon"] for r in plain.collect()}
    assert {r["url_canon"] for r in bucketed.collect()} == plain_urls

    from searchgov_spider_spark.kernels.urlnorm import url_seen_hash

    seen_urls = sorted(plain_urls)[:5]
    new_urls = [f"https://{webgen.host_name(0)}/brand-new-{i}" for i in range(5)]
    cands = spark.createDataFrame(
        [(u, url_seen_hash(u)) for u in seen_urls + new_urls],
        "url_canon string, url_hash long",
    )

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # pin a shuffle-join shape
    try:
        out = dedup_against_seen(spark, cands, None, None, seen_bucketed=bucketed)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # the seen-side scan is bucketed and needs no exchange: exactly ONE
        # Exchange node in the whole anti-join plan (the candidate side) —
        # formatted explain prints each node twice (tree + detail), so count
        # the detail headers
        assert "Bucketed: true" in plan, plan
        assert "SelectedBucketsCount" in plan, plan
        assert plan.count(") Exchange") == 1, plan
        got = {r["url_canon"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert got == {f"https://{webgen.host_name(0)}/brand-new-{i}" for i in range(5)}

    # re-compaction over the bucketed layout still round-trips
    store.write_seen_delta(plain.limit(3), last + 7)
    store.compact_seen(spark, last + 7, buckets=4)
    again = store.read_seen_bucketed(spark)
    assert {r["url_canon"] for r in again.collect()} == plain_urls


def test_auto_compaction_fires_mid_crawl_and_preserves_visited_set(spark, tmp_path, monkeypatch):
    """T2 auto-compaction policy: with the delta threshold lowered, the
    engine compacts accumulated seen deltas in the maintenance window
    BETWEEN rounds of one long crawl, and the final visited set and BFS
    order still match the pure-Python reference exactly."""
    pages = spark.createDataFrame(webgen.pages_pandas(N_PAGES, N_HOSTS), schema=PAGES_SCHEMA)
    robots = spark.createDataFrame(webgen.robots_pandas(N_HOSTS))
    policy = CrawlPolicy(allowed_domains=[webgen.host_name(0)], depth_limit=20)
    monkeypatch.setattr(engine_mod, "AUTO_COMPACT_DELTAS", 3)
    engine = CrawlEngine(
        spark, pages, robots, policy, str(tmp_path / "ckpt"), bloom_shards=4, bloom_bits=1 << 14
    )
    run = engine.run([webgen.page_url(0, 0)], max_rounds=64)
    assert engine.compactions, "threshold 3 must trigger at least one compaction"
    assert engine.compactions[0]["round"] < run.rounds - 1, "must fire MID-crawl, not at the end"
    assert all(c["deltas_merged"] > 0 for c in engine.compactions)
    assert engine._seen_bucketed is not None

    oracle = _oracle(policy)
    seen = run.seen(spark)
    assert {r["url_canon"] for r in seen.collect()} == set(oracle.depth)
    assert [r["url_canon"] for r in seen.orderBy("seq").collect()] == oracle.order
    docs = run.documents(spark).select("url", "content")
    assert {r["url"] for r in docs.collect()} == oracle.fetched
    texts = pages.selectExpr("url", "text as expected_text")
    assert docs.join(texts, "url").filter("content != expected_text").count() == 0


def test_expire_rounds_keeps_resume_state(spark, tmp_path):
    engine, run, _ = _run_partial(spark, tmp_path, max_rounds=64)
    store = engine.store
    last = store.last_committed()
    # compact first so no frontier dir is still serving as a seen delta
    store.compact_seen(spark, last)
    removed = store.expire_rounds(keep_last=1)
    assert removed > 0
    # last round's frontier remains; older ones are gone
    assert os.path.isdir(os.path.join(store.round_dir(last), "frontier"))
    assert not os.path.isdir(os.path.join(store.round_dir(0), "frontier"))
    # documents and the audit trail survive
    docs = store.read_documents(spark)
    assert docs.count() > 0
    assert store.committed_rounds()  # manifests intact


def test_expire_rounds_before_compaction_keeps_seen_set(spark, tmp_path):
    """Before any compaction every round's frontier dir is its seen delta.
    On a politeness-bound crawl, which mixes rounds with and without a
    deferred backlog, ``expire_rounds`` drops only the deferred dirs of the
    rounds before the last, and the seen set reads back unchanged."""
    engine, run, _ = _run_partial(spark, tmp_path, max_rounds=64, round_seconds=8.0)
    store = engine.store
    rounds = store.committed_rounds()
    last = rounds[-1]
    deferred = {r for r in rounds if os.path.isdir(os.path.join(store.round_dir(r), "deferred"))}
    assert deferred - {last} and set(rounds[:-1]) - deferred, "crawl must mix both round kinds"
    before = sorted(r["url_canon"] for r in store.read_seen(spark, last).collect())

    assert store.expire_rounds(keep_last=1) == len(deferred - {last})
    for r in rounds:
        assert os.path.isdir(os.path.join(store.round_dir(r), "frontier")), r
        kept = os.path.isdir(os.path.join(store.round_dir(r), "deferred"))
        assert kept == (r == last and r in deferred), r
    assert sorted(r["url_canon"] for r in store.read_seen(spark, last).collect()) == before


def test_manifest_records_per_partition_lineage(spark, tmp_path):
    """Every committed round's manifest carries per-file lineage (name,
    bytes, footer row count) whose totals match the tables on disk — the
    Iceberg-manifest analog the north_rule's checkpoint contract names.
    On a fast and on a politeness-bound crawl, the frontier rows plus the
    deferred rows are the metrics' remaining count."""
    bound_rounds = 0
    for name, kw in (("fast", {"max_rounds": 2}), ("politeness-bound", {"max_rounds": 4, "round_seconds": 8.0})):
        engine, run, _ = _run_partial(spark, tmp_path / name, **kw)
        store = engine.store
        for rnd in store.committed_rounds():
            manifest = store.read_manifest(rnd)
            lineage = manifest["lineage"]
            assert "frontier" in lineage and "documents" in lineage
            for table, entry in lineage.items():
                assert entry["rows"] == sum(f["rows"] for f in entry["files"])
                assert entry["bytes"] == sum(f["bytes"] for f in entry["files"])
                base = os.path.join(store.round_dir(rnd), table)
                on_disk = sorted(f for f in os.listdir(base) if f.endswith(".parquet"))
                assert on_disk == [f["file"] for f in entry["files"]]
            # row counts agree with what Spark reads back
            docs = spark.read.parquet(os.path.join(store.round_dir(rnd), "documents"))
            assert docs.count() == lineage["documents"]["rows"]
            # frontier (new admits) + deferred rows == the metrics' remaining count
            deferred = lineage.get("deferred", {"rows": 0})["rows"]
            assert lineage["frontier"]["rows"] + deferred == manifest["remaining"]
            bound_rounds += "deferred" in lineage
    assert bound_rounds, "the politeness-bound crawl must defer in some round"


def test_resume_refuses_corrupted_checkpoint(spark, tmp_path):
    """Truncating a committed data file must fail the resume loudly
    (CheckpointCorrupt), never silently recrawl from damaged state."""
    import pytest

    from searchgov_spider_spark.storage.tables import CheckpointCorrupt

    engine, run, _ = _run_partial(spark, tmp_path, max_rounds=2)
    store = engine.store
    last = store.last_committed()
    frontier_dir = os.path.join(store.round_dir(last), "frontier")
    victim = next(
        os.path.join(frontier_dir, f)
        for f in sorted(os.listdir(frontier_dir))
        if f.endswith(".parquet")
    )
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) // 2)
    with pytest.raises(CheckpointCorrupt, match="bytes"):
        engine.run([webgen.page_url(0, 0)], max_rounds=1, resume=True)


def test_resume_refuses_a_missing_file_in_an_earlier_round(spark, tmp_path):
    """The seen set reads the frontier dir of every round after the
    compaction watermark, so resume verifies each of them, not only the
    last: a data file deleted from round 0's frontier of a 3-round crawl
    fails the resume instead of dropping its URLs from the seen set."""
    import pytest

    from searchgov_spider_spark.storage.tables import CheckpointCorrupt

    engine, run, _ = _run_partial(spark, tmp_path, max_rounds=3)
    store = engine.store
    assert store.last_committed() == 2
    frontier_dir = os.path.join(store.round_dir(0), "frontier")
    victim = next(f for f in sorted(os.listdir(frontier_dir)) if f.endswith(".parquet"))
    os.remove(os.path.join(frontier_dir, victim))
    with pytest.raises(CheckpointCorrupt, match="round 0: missing data file"):
        engine.run([webgen.page_url(0, 0)], max_rounds=1, resume=True)


@pytest.mark.parametrize("compacted", [False, True], ids=["bootstrap-seeds", "compacted-set"])
def test_resume_refuses_a_missing_file_in_the_seed_dir(spark, tmp_path, compacted):
    """The seed dir is round 0's frontier and part of every seen set (after
    a compaction it holds the compacted set), so resume checks the lineage
    it records: a data file deleted from it fails the resume instead of
    dropping its URLs from the seen set."""
    from searchgov_spider_spark.storage.tables import CheckpointCorrupt

    engine, run, _ = _run_partial(spark, tmp_path, max_rounds=2)
    store = engine.store
    if compacted:
        assert store.compact_seen(spark, store.last_committed()) > 0
    seed_dir = store.seed_seen_dir()
    victim = next(f for f in sorted(os.listdir(seed_dir)) if f.endswith(".parquet"))
    os.remove(os.path.join(seed_dir, victim))
    with pytest.raises(CheckpointCorrupt, match="seed dir: missing data file"):
        engine.run([webgen.page_url(0, 0)], max_rounds=1, resume=True)


def test_read_seen_keeps_int64_depth_of_its_deltas(spark, tmp_path):
    """Seen deltas written with int64 ``depth`` (the engine writes int32)
    read back as written: the schema comes from the deltas' own footer."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    schema = "url_hash long, url_canon string, depth long, seq long"
    for rnd in range(2):
        rows = [(rnd * 10 + i, f"https://h.example.gov/{rnd}/{i}", 4, rnd * 10 + i) for i in range(3)]
        store.write_seen_delta(spark.createDataFrame(rows, schema), rnd)
    seen = store.read_seen(spark, 1)
    assert dict(seen.dtypes)["depth"] == "bigint"
    assert sorted(r["seq"] for r in seen.collect()) == [0, 1, 2, 10, 11, 12]
