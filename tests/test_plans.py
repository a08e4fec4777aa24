"""Physical-plan audits: the plan we want, not just the first one that passed.

Asserts Catalyst actually gives us predicate pushdown, column pruning,
broadcast joins, TakeOrderedAndProject top-k, partial aggregation, and
JVM-only execution where no UDF should appear (SURVEY.md §4)."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark import queries as Q

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestScanEfficiency:
    def test_q06_predicate_pushdown_and_pruning(self, spark):
        plan = plan_of(Q.q06_revenue_forecast(spark, SF_DIR))
        assert "PushedFilters" in plan
        # shipdate/discount/quantity predicates reach the parquet scan
        assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:500]
        # column pruning: the scan must not read uninvolved columns
        read_schema = plan.split("ReadSchema", 1)[1][:400]
        assert "l_partkey" not in read_schema and "l_returnflag" not in read_schema

    def test_q17_token_stats_is_pure_jvm(self, spark):
        plan = plan_of(Q.q17_token_stats(spark, SF_DIR), "simple")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "*(" in plan  # whole-stage-codegen'd stages

    def test_q16_dedup_single_shuffle_for_agg(self, spark):
        plan = plan_of(Q.q16_exact_dedup(spark, SF_DIR), "simple")
        # one hash-partitioning exchange for the groupBy; the self-join reuses it
        assert plan.count("Exchange hashpartitioning") <= 3


class TestJoinStrategies:
    def test_q02_broadcast_joins(self, spark):
        plan = plan_of(Q.q02_revenue_by_nation(spark, SF_DIR), "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_q03_anti_join_broadcast(self, spark):
        plan = plan_of(Q.q03_customers_without_orders(spark, SF_DIR), "simple")
        assert "LeftAnti" in plan

    def test_dap_enrichment_broadcasts(self, spark):
        from searchgov_spider_spark import flows

        dap = spark.createDataFrame([("example.gov", 5)], "domain string, avg_daily_visits long")
        docs = spark.createDataFrame([("d", "example.gov")], "id string, domain_name string")
        plan = plan_of(flows.enrich_documents_with_dap(docs, dap), "simple")
        assert "BroadcastHashJoin" in plan


class TestAggsAndTopK:
    def test_q01_partial_aggregation(self, spark):
        plan = plan_of(Q.q01_pricing_summary(spark, SF_DIR), "simple")
        assert "partial_sum" in plan or "partial" in plan.lower()

    def test_q04_take_ordered(self, spark):
        plan = plan_of(Q.q04_top_customers(spark, SF_DIR), "simple")
        assert "TakeOrderedAndProject" in plan

    def test_q21_cosine_take_ordered_no_udf(self, spark):
        df = Q.q21_cosine_topk(spark, SF_DIR)
        plan = plan_of(df, "simple")
        # scoring is codegen'd lambda functions — no Python in the hot path
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("op", ["simhash", "image"])
def test_hamming_pairs_expand_buckets_without_a_join(spark, op):
    """SimHash and image dHash near-dup pairs share one pigeonhole path:
    the plan holds no join node, and its only shuffles are one on the band
    keys (the bucket pair expansion) ahead of one for the pair distinct."""
    import re

    from searchgov_spider_spark.operators import dedup, multimodal

    if op == "simhash":
        docs = spark.createDataFrame(
            [(0, "the quick brown fox"), (1, "the quick brown fox jumps"), (2, "other text")],
            "doc_id long, text string",
        )
        df = dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    else:
        df = multimodal.image_near_dup_pairs(Q._q131_media(spark), max_hamming=Q.Q131_MAX_HAMMING)
    plan = plan_of(df, "simple")
    assert "Join" not in plan and "CartesianProduct" not in plan
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert [kind for kind, _ in exchanges] == ["hashpartitioning"] * 2, exchanges
    distinct_keys, band_keys = (re.findall(r"([a-z_]+)#", keys) for _, keys in exchanges)
    assert distinct_keys == ["id_a", "id_b", "hamming"]
    assert band_keys == ["band", "bval"]


class TestCrawlPlans:
    def test_admission_filters_stay_jvm_except_kernels(self, spark):
        """The admission chain may contain exactly the kernel UDFs
        (canonicalize/hash/robots) — everything else must be JVM-side."""
        from searchgov_spider_spark.crawl.frontier import apply_admission_filters
        from searchgov_spider_spark.crawl.reference_bfs import CrawlPolicy

        links = spark.createDataFrame(
            [("https://host0.example.gov/p1", 1, 0, 0)], "url string, depth int, parent_seq long, pos int"
        )
        policy = CrawlPolicy(allowed_domains=["example.gov"], depth_limit=5)
        df = apply_admission_filters(links, policy)
        plan = plan_of(df, "simple")
        # offsite/query/deny/depth filters are plain Filter nodes (JVM)
        assert "Filter" in plan
        # the fused admission kernel is exactly ONE Arrow round trip — the
        # old strip->canonicalize->host->hash chain compiled to 3-4 serial
        # ArrowEvalPython nodes (regression guard)
        assert plan.count("ArrowEvalPython") == 1

    def test_round_has_one_python_pass(self, spark, tmp_path):
        """A crawl round's Python work is ONE persisted Arrow map node
        (fetch + extraction + doc meta + link parts + robots): the
        documents-write and frontier-write plans hold no ArrowEvalPython
        node and exactly one Python map node, under the cache both read.
        The seed-dir write holds no Python node: the bootstrap admits the
        seed list on the driver."""
        import re

        from searchgov_spider_spark.crawl import CrawlEngine
        from searchgov_spider_spark.crawl.fetch import GeneratorFetcher
        from searchgov_spider_spark.crawl.reference_bfs import CrawlPolicy
        from searchgov_spider_spark.synth import webgen

        def python_maps(plan: str) -> set[tuple[str, str]]:
            # distinct (function, expression id): a materialized cached plan
            # prints its initial and final forms, one node twice
            return set(re.findall(r"MapIn(?:Arrow|Pandas) (\w+)\(.*?\)#(\d+)", plan))

        robots = spark.createDataFrame(webgen.robots_pandas(3))
        engine = CrawlEngine(
            spark, None, robots, CrawlPolicy(allowed_domains=["example.gov"], depth_limit=3),
            str(tmp_path / "ckpt"), fetcher=GeneratorFetcher(60, 3, branch=3),
        )
        seeds = [webgen.page_url(h, 0) for h in range(3)]
        plans: dict[tuple[int, str], str] = {}
        write_table, write_seeds = engine.store.write_table, engine.store.write_seeds

        def capture(df, rnd, name):
            plans[(rnd, name)] = plan_of(df, "simple")
            return write_table(df, rnd, name)

        def capture_seeds(df):
            plans[(-1, "seeds")] = plan_of(df, "simple")
            return write_seeds(df)

        engine.store.write_table = capture
        engine.store.write_seeds = capture_seeds
        engine.run(seeds, max_rounds=2)
        boot = plans[(-1, "seeds")]
        for node in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in boot, boot
        # round 1 reads its frontier from parquet: its plans hold only its own pass
        for name in ("documents", "frontier"):
            plan = plans[(1, name)]
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
            assert [fn for fn, _ in python_maps(plan)] == ["_pass"], name
            assert plan.index("InMemoryRelation") < plan.index("MapInArrow _pass"), name

    def test_small_round_one_exchange_above_the_pass(self, spark, tmp_path):
        """A small round sends its admitted links to one partition once:
        the frontier-write plan holds exactly one shuffle Exchange above the
        pass cache, to SinglePartition — the in-batch dedup, the broadcast
        anti-join against the seen set and the numbering window reuse it —
        and its only cache is the pass."""
        from searchgov_spider_spark.crawl import CrawlEngine
        from searchgov_spider_spark.crawl.fetch import GeneratorFetcher
        from searchgov_spider_spark.crawl.reference_bfs import CrawlPolicy
        from searchgov_spider_spark.synth import webgen

        robots = spark.createDataFrame(webgen.robots_pandas(3))
        engine = CrawlEngine(
            spark, None, robots, CrawlPolicy(allowed_domains=["example.gov"], depth_limit=3),
            str(tmp_path / "ckpt"), fetcher=GeneratorFetcher(60, 3, branch=3),
        )
        plans: dict[int, str] = {}
        write_table = engine.store.write_table

        def capture(df, rnd, name):
            if name == "frontier":
                plans[rnd] = plan_of(df, "simple")
            return write_table(df, rnd, name)

        engine.store.write_table = capture
        engine.run([webgen.page_url(h, 0) for h in range(3)], max_rounds=2)
        plan = plans[1]
        assert plan.count("InMemoryRelation") == 1
        above = plan[: plan.index("InMemoryRelation")].splitlines()
        shuffles = [line for line in above if "Exchange " in line and "BroadcastExchange" not in line]
        assert len(shuffles) == 1 and "Exchange SinglePartition" in shuffles[0], shuffles
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_politeness_selection_no_global_sort(self, spark):
        from searchgov_spider_spark.crawl import politeness

        fr = spark.createDataFrame(
            [(f"u{i}", f"h{i%3}.gov", 1, i) for i in range(100)],
            "url_canon string, host string, depth int, seq long",
        )
        plan = plan_of(politeness.select_per_host_static(fr, None, default_budget=5), "simple")
        # per-host window, never a global (empty-partition) window sort
        assert "Window" in plan
        assert "SinglePartition" not in plan


def test_fetch_join_reuses_pages_partitioning(spark):
    """TableFetcher: the pages side is repartitioned+persisted once; the
    per-round join must not introduce a fresh exchange on the pages side."""
    from searchgov_spider_spark.crawl.fetch import TableFetcher
    from searchgov_spider_spark.synth import webgen
    from searchgov_spider_spark.synth.spark_gen import PAGES_SCHEMA

    pages = spark.createDataFrame(webgen.pages_pandas(200, 3), schema=PAGES_SCHEMA)
    fetcher = TableFetcher(pages, partitions=8)
    batch = spark.createDataFrame([(webgen.page_url(0, 0), 7)], "url_canon string, seq long")
    plan = plan_of(fetcher.fetch(batch), "simple")
    assert "InMemoryTableScan" in plan  # cached pages side
    fetcher.pages.unpersist()
