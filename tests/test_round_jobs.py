"""Spark jobs of a crawl round, counted by job group.

The engine runs each round's jobs in job group ``crawl-r{rnd}``, on the
round thread and on the documents-write and Bloom-fold threads it starts.
These tests count those jobs with the status tracker: every job carries
its round, a warm fast-path round stays within its job and task budget at
the benchmark's width, and reading a round's checkpoint starts no job.
"""

import json
import os
import subprocess
import sys

import pytest

from searchgov_spider_spark.crawl import CrawlEngine, CrawlPolicy
from searchgov_spider_spark.crawl.engine import job_group
from searchgov_spider_spark.crawl.fetch import GeneratorFetcher
from searchgov_spider_spark.synth import webgen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES, N_HOSTS = 300, 3


@pytest.fixture(scope="module")
def grouped_crawl(spark, tmp_path_factory):
    """A Bloom-on crawl run under the caller's own job group; returns the
    engine, the run, the ungrouped job ids it added and the group the
    caller saw afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    robots = spark.createDataFrame(webgen.robots_pandas(N_HOSTS))
    engine = CrawlEngine(
        spark, None, robots, CrawlPolicy(allowed_domains=["example.gov"], depth_limit=4),
        str(tmp_path_factory.mktemp("grouped") / "ckpt"),
        fetcher=GeneratorFetcher(N_PAGES, N_HOSTS, branch=3),
        bloom_shards=4, bloom_bits=1 << 14, bloom_min_seen=0,
    )
    with job_group(sc, "round-jobs-caller", "test caller"):
        before = set(tracker.getJobIdsForGroup(None))
        run = engine.run([webgen.page_url(h, 0) for h in range(N_HOSTS)], max_rounds=3)
        ungrouped = set(tracker.getJobIdsForGroup(None)) - before
        caller_after = sc.getLocalProperty("spark.jobGroup.id")
    return engine, run, ungrouped, caller_after


def test_every_round_job_carries_a_group(spark, grouped_crawl):
    """The documents-write and Bloom-fold threads inherit the round's job
    group, so no job of the crawl runs without one, and the caller's group
    is back in place when ``run`` returns."""
    engine, run, ungrouped, caller_after = grouped_crawl
    assert engine._bloom_built
    assert run.rounds == 3
    assert ungrouped == set()
    assert caller_after == "round-jobs-caller"
    tracker = spark.sparkContext.statusTracker()
    for rnd in range(run.rounds):
        assert tracker.getJobIdsForGroup(f"crawl-r{rnd}"), rnd


def test_checkpoint_reads_start_no_job(spark, grouped_crawl):
    """The frontier and seen-set reads take their schema from a parquet
    footer on the driver: building them (and asking their schema) starts
    no Spark job."""
    engine, run, _, _ = grouped_crawl
    sc = spark.sparkContext
    last = run.rounds - 1
    with job_group(sc, "round-jobs-reads", "checkpoint reads"):
        frontier = engine.store.read_table(spark, last, "frontier")
        seen = engine.store.read_seen(spark, last)
        assert "seq" in frontier.schema.fieldNames()
        assert seen.schema.fieldNames() == engine.store.SEEN_COLS
    assert sc.statusTracker().getJobIdsForGroup("round-jobs-reads") == []


_BENCH_WIDTH_CRAWL = """
import json, tempfile
from perfbench.crawl import SPEC, Web
from searchgov_spider_spark.session import build_session

spark = build_session(
    app_name="round-jobs", master="local[3]", shuffle_partitions=6,
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)
spark.sparkContext.setLogLevel("ERROR")
web = Web(SPEC, 401)
engine = web.engine(spark, tempfile.mkdtemp())
run = engine.run(web.start_urls, max_rounds=3)
tracker = spark.sparkContext.statusTracker()
out = []
for m in run.metrics:
    jobs = tracker.getJobIdsForGroup(f"crawl-r{m['round']}")
    tasks = 0
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            tasks += info.numCompletedTasks if info is not None else 0
    out.append({"round": m["round"], "selected": m["selected"], "jobs": len(jobs), "tasks": tasks})
spark.stop()
print(json.dumps(out))
"""


def test_warm_fast_path_round_jobs_and_tasks_at_bench_width(tmp_path):
    """A warm fast-path round of the ``bulk_crawl`` web (round 2, ~1.7k
    URLs) at the benchmark's width — local[3], 6 shuffle partitions, in a
    session of its own — runs at most 7 Spark jobs and 16 tasks: the
    frontier read's shuffle, the pass cache and the documents write, the
    seen set's broadcast, the one exchange to a single partition and the
    frontier write."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g", TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _BENCH_WIDTH_CRAWL],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rounds = json.loads(proc.stdout.strip().splitlines()[-1])
    warm = rounds[2]
    assert warm["selected"] > 1000, rounds
    assert 0 < warm["jobs"] <= 7 and warm["tasks"] <= 16, rounds
