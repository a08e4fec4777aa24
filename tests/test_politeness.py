"""Unit tests for static per-host politeness budgets and their selection."""

import pytest

from searchgov_spider_spark.crawl import politeness


@pytest.fixture()
def frontier(spark):
    rows = []
    seq = 0
    for host, n in (("a.gov", 10), ("b.gov", 3), ("hot.gov", 50)):
        for i in range(n):
            rows.append((f"https://{host}/p{i}", host, 1, seq))
            seq += 1
    return spark.createDataFrame(rows, "url_canon string, host string, depth int, seq long")


class TestStaticEquivalence:
    def test_static_budgets_use_robots_crawl_delay(self, spark, frontier):
        """Budget = floor(round_seconds / crawl_delay) from the robots
        Crawl-delay (1 s when the rules name none); a host with no robots
        row falls back to ``default_budget``."""
        robots = spark.createDataFrame(
            [("a.gov", "User-agent: *\nCrawl-delay: 4\nDisallow: /x\n"), ("b.gov", "User-agent: *\nDisallow:\n")],
            "host string, rules_text string",
        )
        round_s = 8.0
        budgets = politeness.static_budgets(robots, round_s)
        assert {r["host"]: r["budget"] for r in budgets.collect()} == {"a.gov": 2, "b.gov": 8}
        got = politeness.select_per_host_static(frontier, budgets, default_budget=5, salt_buckets=4).collect()
        by_host = {}
        for r in got:
            by_host.setdefault(r["host"], []).append(r["seq"])
        # FIFO: lowest seqs first, capped per host
        assert sorted(by_host["a.gov"]) == [0, 1]
        assert sorted(by_host["b.gov"]) == [10, 11, 12]  # budget 8 > its 3 rows
        assert sorted(by_host["hot.gov"]) == [13, 14, 15, 16, 17]  # no robots row: default 5

    def test_salted_equals_unsalted(self, spark, frontier):
        budgets = None
        a = politeness.select_per_host_static(frontier, budgets, default_budget=5, salt_buckets=1)
        b = politeness.select_per_host_static(frontier, budgets, default_budget=5, salt_buckets=8)
        assert sorted(r["seq"] for r in a.collect()) == sorted(r["seq"] for r in b.collect())


class TestPropertyCanonicalize:
    def test_hypothesis_idempotent_and_stable(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from searchgov_spider_spark.kernels.urlnorm import canonicalize_url, url_seen_hash

        host_st = st.from_regex(r"[a-z][a-z0-9-]{0,10}(\.[a-z]{2,5}){1,2}", fullmatch=True)
        path_st = st.from_regex(r"(/[A-Za-z0-9._~-]{0,8}){0,4}", fullmatch=True)
        query_st = st.lists(
            st.tuples(st.from_regex(r"[a-z]{1,5}", fullmatch=True), st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)),
            max_size=4,
        )

        @settings(max_examples=200, deadline=None)
        @given(host=host_st, path=path_st, query=query_st, frag=st.sampled_from(["", "#x", "#sec-2"]),
               scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS"]), upper=st.booleans())
        def check(host, path, query, frag, scheme, upper):
            qs = "&".join(f"{k}={v}" for k, v in query)
            h = host.upper() if upper else host
            url = f"{scheme}://{h}{path}" + (f"?{qs}" if qs else "") + frag
            c1 = canonicalize_url(url)
            # idempotent
            assert canonicalize_url(c1) == c1
            # fragment-free, lowercase scheme+host
            assert "#" not in c1
            assert c1.startswith(("http://", "https://"))
            # alias with shuffled-case host collapses to same hash
            assert url_seen_hash(canonicalize_url(url.replace(h, h.upper()))) == url_seen_hash(c1)

        check()
