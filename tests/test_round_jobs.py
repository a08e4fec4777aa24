"""Spark jobs of a crawl round, counted by job group.

The engine runs each round's jobs in job group ``crawl-r{rnd}``, on the
round thread and on the documents-write thread it starts.  These tests
count those jobs with the status tracker: every job carries its round, the
Bloom parameters add no job, a round whose politeness budget binds stays
within its job budget, a warm fast-path round stays within its job and
task budget at the benchmark's width, and reading a round's checkpoint
starts no job.
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
N_PAGES, N_HOSTS, ROUNDS = 300, 3, 3


def _crawl(spark, ckpt, rounds=ROUNDS, **engine_kw):
    """A crawl of ``rounds`` rounds of the small generated web; returns the
    engine, the run and, per round, how many jobs its ``crawl-r{rnd}``
    group gained (group names repeat across the session's crawls)."""
    tracker = spark.sparkContext.statusTracker()
    robots = spark.createDataFrame(webgen.robots_pandas(N_HOSTS))
    engine = CrawlEngine(
        spark, None, robots, CrawlPolicy(allowed_domains=["example.gov"], depth_limit=4), ckpt,
        fetcher=GeneratorFetcher(N_PAGES, N_HOSTS, branch=3), **engine_kw,
    )
    before = [set(tracker.getJobIdsForGroup(f"crawl-r{r}")) for r in range(rounds)]
    run = engine.run([webgen.page_url(h, 0) for h in range(N_HOSTS)], max_rounds=rounds)
    jobs = [len(set(tracker.getJobIdsForGroup(f"crawl-r{r}")) - before[r]) for r in range(rounds)]
    return engine, run, jobs


@pytest.fixture(scope="module")
def grouped_crawl(spark, tmp_path_factory):
    """A crawl run under the caller's own job group; returns the engine,
    the run, the ungrouped job ids it added and the group the caller saw
    afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    with job_group(sc, "round-jobs-caller", "test caller"):
        before = set(tracker.getJobIdsForGroup(None))
        engine, run, _ = _crawl(spark, str(tmp_path_factory.mktemp("grouped") / "ckpt"))
        ungrouped = set(tracker.getJobIdsForGroup(None)) - before
        caller_after = sc.getLocalProperty("spark.jobGroup.id")
    return engine, run, ungrouped, caller_after


def test_every_round_job_carries_a_group(spark, grouped_crawl):
    """The documents-write thread inherits the round's job group, so no
    job of the crawl runs without one, and the caller's group is back in
    place when ``run`` returns."""
    engine, run, ungrouped, caller_after = grouped_crawl
    assert run.rounds == ROUNDS
    assert ungrouped == set()
    assert caller_after == "round-jobs-caller"
    tracker = spark.sparkContext.statusTracker()
    for rnd in range(run.rounds):
        assert tracker.getJobIdsForGroup(f"crawl-r{rnd}"), rnd


def test_bloom_params_add_no_job(spark, tmp_path):
    """A crawl with ``bloom_min_seen=0`` runs, round by round, as many
    Spark jobs as the same crawl with the default parameters: no Bloom
    build or fold job.  Adaptive execution is off for the count: it plans
    a query stage as a job of its own, and the documents write and the
    frontier write, which run at once, share the pass's stages in
    timing-dependent ways (6 or 7 jobs a round)."""
    conf = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, bloom_run, bloom_jobs = _crawl(
            spark, str(tmp_path / "bloom"), bloom_shards=4, bloom_bits=1 << 14, bloom_min_seen=0,
        )
        _, run, jobs = _crawl(spark, str(tmp_path / "default"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", conf)
    assert run.rounds == bloom_run.rounds == ROUNDS
    assert all(jobs), jobs
    assert bloom_jobs == jobs


def test_budget_bound_round_jobs(spark, tmp_path):
    """A politeness-bound crawl (8-second rounds: 8 fetches per host per
    round), with adaptive execution off as in
    ``test_bloom_params_add_no_job``: each round whose budget binds runs at
    most 6 Spark jobs, and the rounds before them, whose frontier fits
    every budget, run as many as the same rounds of the fast-path crawl."""
    conf = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, _, fast_jobs = _crawl(spark, str(tmp_path / "fast"))
        engine, run, jobs = _crawl(spark, str(tmp_path / "polite"), rounds=4, round_seconds=8.0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", conf)
    store = engine.store
    # round 0's frontier is the admitted seeds, a later round's what the
    # round before it left
    hints = [store._dir_lineage(store.seed_seen_dir())["rows"]] + [m["remaining"] for m in run.metrics[:-1]]
    assert [h > engine.min_budget for h in hints] == [False, False, True, True], (hints, engine.min_budget)
    assert run.metrics[3]["selected"] < hints[3]  # round 3 defers part of its frontier
    assert all(0 < j <= 6 for j in jobs[2:]), jobs
    assert jobs[:2] == fast_jobs[:2], (jobs, fast_jobs)


def test_checkpoint_reads_start_no_job(spark, grouped_crawl):
    """The frontier, seen-set and documents reads take their schema from
    a parquet footer on the driver: building them (and asking their
    schema) starts no Spark job."""
    engine, run, _, _ = grouped_crawl
    sc = spark.sparkContext
    last = run.rounds - 1
    with job_group(sc, "round-jobs-reads", "checkpoint reads"):
        frontier = engine.store.read_frontier(spark, last)
        seen = engine.store.read_seen(spark, last)
        documents = engine.store.read_documents(spark)
        assert "seq" in frontier.schema.fieldNames()
        assert seen.schema.fieldNames() == engine.store.SEEN_COLS
        assert "content" in documents.schema.fieldNames()
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
    frontier write.  With adaptive execution on, identical rounds run 6 or
    7 jobs, depending on how the documents write on its side thread and
    the frontier write share the pass's query stages; ``<= 7`` is the top
    of that timing-dependent range.  Writing the documents on the round
    thread first would fix the count, but a scratch prototype of that
    measured ``bulk_crawl`` urls_per_s at 0.857x [0.781, 0.911], better
    in 0 of 8 pairs, so the side thread stays."""
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
