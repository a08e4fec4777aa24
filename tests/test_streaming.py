"""Structured-Streaming tests: seed ingestion and windowed metrics."""

import json
import os

from searchgov_spider_spark.streaming import ingest


def test_stream_seed_ingestion(spark, tmp_path):
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    with open(seeds_dir / "batch1.json", "w") as f:
        for u in ["HTTPS://Host0.Example.GOV:443/#frag", "https://host1.example.gov/p1;jsessionid=ABC", "https://host0.example.gov/"]:
            f.write(json.dumps({"url": u, "output_target": "csv"}) + "\n")
    staging = str(tmp_path / "staging")
    q = ingest.stream_seed_ingestion(spark, str(seeds_dir), staging, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = spark.read.parquet(staging)
    rows = {r["url_canon"] for r in out.collect()}
    # alias collapses with the messy seed -> 2 distinct canonical urls
    assert rows == {"https://host0.example.gov/", "https://host1.example.gov/p1"}
    assert out.filter("url_hash is null").count() == 0

    # second drop: only genuinely new files are processed (stream checkpoint)
    with open(seeds_dir / "batch2.json", "w") as f:
        f.write(json.dumps({"url": "https://host2.example.gov/x", "output_target": "csv"}) + "\n")
    q2 = ingest.stream_seed_ingestion(spark, str(seeds_dir), staging, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    out2 = spark.read.parquet(staging)
    assert out2.count() == 3


def test_windowed_metrics_stream(spark, tmp_path):
    mdir = tmp_path / "metrics"
    mdir.mkdir()
    rows = [
        {"ts": "2024-01-01T00:00:10.000Z", "host": "a.gov", "status": "fetched"},
        {"ts": "2024-01-01T00:00:40.000Z", "host": "a.gov", "status": "fetched"},
        {"ts": "2024-01-01T00:01:10.000Z", "host": "b.gov", "status": "missed"},
    ]
    with open(mdir / "m1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    q = ingest.stream_fetch_metrics(spark, str(mdir), str(tmp_path / "ckpt2"), query_name="fm_test")
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["status"]): r["n"]
        for r in spark.sql("select * from fm_test").collect()
    }
    assert got[("2024-01-01 00:00:00", "fetched")] == 2
    assert got[("2024-01-01 00:01:00", "missed")] == 1


def test_stateful_rate_limited_frontier(spark, tmp_path):
    """applyInPandasWithState token bucket: per-host FIFO admission with
    deferral across micro-batches (capacity 2, refill 2)."""
    from pyspark.sql import types as T

    from searchgov_spider_spark.streaming.stateful import rate_limited_frontier

    src = tmp_path / "urls"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("url_canon", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    # batch 1: burst of 5 against host a, 1 against host b
    with open(src / "b1.json", "w") as f:
        for i in range(5):
            f.write(json.dumps({"host": "a", "url_canon": f"https://a/p{i}", "seq": i}) + "\n")
        f.write(json.dumps({"host": "b", "url_canon": "https://b/p0", "seq": 100}) + "\n")
    # batch 2: one more for host a (also triggers the deferred queue)
    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"host": "a", "url_canon": "https://a/p9", "seq": 9}) + "\n")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    admitted = rate_limited_frontier(stream, capacity=2.0, refill_per_batch=2.0, flush_timeout_ms=1)

    batches = []
    q = (
        admitted.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: batches.append((bid, sorted((r["host"], r["seq"]) for r in df.collect()))))
        .trigger(availableNow=True)
        .start()
    )
    # a ProcessingTimeTimeout stateful query keeps scheduling no-data
    # micro-batches, so availableNow never self-terminates — poll until the
    # guaranteed admissions landed (a: 2 per data batch, b: its single row),
    # let a few timeout batches drain more, then stop explicitly.
    import time

    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and q.isActive:
        flat = [r for _, rows in batches for r in rows]
        if len([s for h, s in flat if h == "a"]) >= 4 and ("b", 100) in flat:
            break
        time.sleep(0.2)
    time.sleep(1.0)  # allow a few timeout flush batches through
    q.stop()

    all_rows = [r for _, rows in batches for r in rows]
    # FIFO per host: a admits seqs 0,1 in its first batch, 2,3 next...
    a_seqs = [s for h, s in all_rows if h == "a"]
    assert a_seqs[:4] == [0, 1, 2, 3]
    assert ("b", 100) in all_rows
    # budget binds: no batch ever admits more than capacity per host
    for _, rows in batches:
        per_host = {}
        for h, s in rows:
            per_host[h] = per_host.get(h, 0) + 1
        assert all(n <= 2 for n in per_host.values())
    # FIFO order always holds; how much of the tail drained in run 1 depends
    # on how many timeout batches availableNow squeezed in before stopping
    assert a_seqs == sorted(a_seqs) and len(a_seqs) == len(set(a_seqs))

    # Restart on the same checkpoint with a new file for an unrelated host:
    # host a's processing-time timeout has expired, so its group is
    # re-invoked with no new rows and flushes any stranded backlog — with
    # the old NoTimeout behavior seqs 4/9 would be stuck in state forever.
    import time

    time.sleep(0.05)
    with open(src / "b3.json", "w") as f:
        f.write(json.dumps({"host": "c", "url_canon": "https://c/p0", "seq": 200}) + "\n")
    batches2 = []
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    admitted2 = rate_limited_frontier(stream2, capacity=2.0, refill_per_batch=2.0, flush_timeout_ms=1)
    q2 = (
        admitted2.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: batches2.append((bid, sorted((r["host"], r["seq"]) for r in df.collect()))))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and q2.isActive:
        flat2 = [r for _, rows in batches2 for r in rows]
        a_all = a_seqs + [s for h, s in flat2 if h == "a"]
        if a_all == [0, 1, 2, 3, 4, 9] and ("c", 200) in flat2:
            break
        time.sleep(0.2)
    q2.stop()
    all_rows2 = [r for _, rows in batches2 for r in rows]
    a_seqs2 = [s for h, s in all_rows2 if h == "a"]
    combined = a_seqs + a_seqs2
    assert combined == [0, 1, 2, 3, 4, 9], f"backlog must fully drain, got {combined}"
    assert ("c", 200) in all_rows2


def test_stream_url_dedup(spark, tmp_path):
    """Streaming F7: first occurrence kept, dups dropped within the
    watermark TTL — including across a query restart (state checkpointed)."""
    import json as _json

    from searchgov_spider_spark.streaming.ingest import stream_url_dedup

    urls_dir = tmp_path / "urls"
    urls_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, events):
        (urls_dir / name).write_text(
            "\n".join(_json.dumps({"ts": ts, "url": u}) for ts, u in events)
        )

    base = "2024-01-01T00:{m:02d}:00.000Z"
    drop(
        "b1.json",
        [
            (base.format(m=0), "https://A.gov/x#frag"),  # canonicalizes same as below
            (base.format(m=1), "https://a.gov/x"),  # dup after canonicalization
            (base.format(m=2), "https://a.gov/y"),
            (base.format(m=2), "https://a.gov/y"),  # in-batch dup
        ],
    )
    q = stream_url_dedup(spark, str(urls_dir), out_dir, ckpt, ttl_minutes=60)
    q.awaitTermination(120)

    got = {r["url_canon"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"https://a.gov/x", "https://a.gov/y"}

    # restart with a new file: dup of a pre-restart URL still drops (state
    # checkpointed), a new URL passes
    drop("b2.json", [(base.format(m=3), "https://a.gov/x"), (base.format(m=4), "https://a.gov/z")])
    q2 = stream_url_dedup(spark, str(urls_dir), out_dir, ckpt, ttl_minutes=60)
    q2.awaitTermination(120)
    got2 = sorted(r["url_canon"] for r in spark.read.parquet(out_dir).collect())
    assert got2 == ["https://a.gov/x", "https://a.gov/y", "https://a.gov/z"]


def test_stream_url_dedup_emits_the_seen_set_hash(spark, tmp_path):
    """Each output row's url_hash is the seen-set hash of its url_canon,
    so the feed's rows key the seen anti-join as the engine's rows do."""
    import json as _json

    from searchgov_spider_spark.kernels.urlnorm import url_seen_hash
    from searchgov_spider_spark.streaming.ingest import stream_url_dedup

    urls_dir = tmp_path / "urls"
    urls_dir.mkdir()
    urls = ["https://a.gov/x", "https://A.gov/y;jsessionid=0A1B", "https://b.gov/z?q=1"]
    (urls_dir / "b1.json").write_text(
        "\n".join(_json.dumps({"ts": "2024-01-01T00:00:00.000Z", "url": u}) for u in urls)
    )
    out_dir = str(tmp_path / "out")
    stream_url_dedup(spark, str(urls_dir), out_dir, str(tmp_path / "ckpt")).awaitTermination(120)
    got = spark.read.parquet(out_dir).select("url_canon", "url_hash").collect()
    assert len(got) == len(urls)
    assert all(r["url_hash"] == url_seen_hash(r["url_canon"]) for r in got)


def test_host_health_batch_semantics(spark):
    # batch-mode check of the exact windowed numbers: host h0 fails 3/4 in
    # the 10:00 pane -> alert; h1 is healthy; panes slide (2 min window,
    # 1 min hop) so each event lands in two panes
    rows = [
        ("2024-01-01 10:00:05", "h0", "missed", 900),
        ("2024-01-01 10:00:20", "h0", "denied", 0),
        ("2024-01-01 10:00:40", "h0", "missed", 1200),
        ("2024-01-01 10:00:50", "h0", "fetched", 80),
        ("2024-01-01 10:00:10", "h1", "fetched", 50),
        ("2024-01-01 10:00:30", "h1", "fetched", 70),
    ]
    df = spark.createDataFrame(rows, ["ts", "host", "status", "latency_ms"]).selectExpr(
        "cast(ts as timestamp) ts", "host", "status", "latency_ms"
    )
    got = {
        (str(r["window_start"]), r["host"]): r
        for r in ingest.host_health(df, min_events=4).collect()
    }
    r = got[("2024-01-01 10:00:00", "h0")]
    assert (r["n_events"], r["n_errors"], r["err_rate"], r["alert"]) == (4, 3, 0.75, True)
    assert r["max_latency_ms"] == 1200 and r["avg_latency_ms"] == 545.0
    r1 = got[("2024-01-01 10:00:00", "h1")]
    assert (r1["err_rate"], r1["alert"]) == (0.0, False)
    # sliding panes: the same events also appear in the 09:59 pane
    assert ("2024-01-01 09:59:00", "h0") in got


def test_stream_host_health(spark, tmp_path):
    edir = tmp_path / "events"
    edir.mkdir()
    with open(edir / "drop1.json", "w") as f:
        for i in range(6):
            f.write(
                json.dumps(
                    {
                        "ts": f"2024-01-01T10:00:{10 + i:02d}",
                        "host": "h0",
                        "status": "missed" if i < 4 else "fetched",
                        "latency_ms": 100 + i,
                    }
                )
                + "\n"
            )
    q = ingest.stream_host_health(
        spark, str(edir), str(tmp_path / "ckpt"), query_name="hh_test", min_events=5
    )
    q.awaitTermination(120)
    out = spark.sql("select * from hh_test").collect()
    assert out, "stream produced no panes"
    alerts = [r for r in out if r["alert"]]
    assert alerts and all(r["host"] == "h0" for r in alerts)
    top = {str(r["window_start"]): r for r in out}["2024-01-01 10:00:00"]
    assert top["n_events"] == 6 and top["n_errors"] == 4
