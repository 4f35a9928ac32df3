"""Structured Streaming flavor: file-source micro-batches drive the same
incremental CC update; final state equals the batch answer."""

from __future__ import annotations

import os

from igpm_pem_spark.sources.fixtures import fixture_graph
from igpm_pem_spark.streaming.stream import components_stream

from .oracles import components_oracle


def test_components_stream_matches_batch(spark, tmp_path):
    _, edges, _ = fixture_graph(spark, "dynamic_test1")
    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir, exist_ok=True)
    # one parquet file per arrival bucket
    for ts in (0, 1, 2):
        bucket = edges.where(f"ts = {ts}")
        bucket.coalesce(1).write.mode("append").parquet(src_dir)

    spark.catalog.clearCache()
    query, state = components_stream(
        spark,
        src_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    query.awaitTermination(120)
    query.stop()

    assert state.batches == 3
    # the carried adjacency parts are checkpoints: nothing stays cached
    # after the stream drains
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    pairs = [(r.src, r.dst) for r in edges.collect()]
    got = {r.id: r.component for r in state.components.collect()}
    assert got == components_oracle(pairs)


def test_dedup_stream_keeps_one_doc_per_content(spark, tmp_path):
    from igpm_pem_spark.streaming.stream import dedup_stream

    src = str(tmp_path / "docs_src")
    sink = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    os.makedirs(src, exist_ok=True)
    batch1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id BIGINT, text STRING"
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    q = dedup_stream(spark, src, sink, ckpt)
    q.awaitTermination(120)
    q.stop()
    # duplicates across RESTARTS are also dropped (state in the checkpoint)
    batch2 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], "doc_id BIGINT, text STRING"
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    q = dedup_stream(spark, src, sink, ckpt)
    q.awaitTermination(120)
    q.stop()
    out = spark.read.parquet(sink).collect()
    texts = sorted(r.text for r in out)
    assert texts == ["alpha", "beta", "gamma"]


def test_windowed_event_counts_drops_late_rows(spark, tmp_path):
    """Watermark semantics across restarts: a row a full watermark behind
    the max seen event time is dropped, finalized windows append once."""
    from igpm_pem_spark.streaming.stream import windowed_event_counts

    src = str(tmp_path / "ev_src")
    sink = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(src, exist_ok=True)

    def run_round(rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, value DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(src)
        s = spark.readStream.schema("ts TIMESTAMP, value DOUBLE").parquet(src)
        q = (
            windowed_event_counts(s)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    import datetime as dt

    d = lambda day, h=0: dt.datetime(2024, 1, 1 + day, h)  # noqa: E731
    run_round([(d(0), 1.0), (d(0, 6), 2.0), (d(1), 3.0), (d(3), 4.0)])
    # round 2: d(0) row arrives 4 days late (watermark is at d(2)) → DROPPED
    run_round([(d(0, 12), 100.0), (d(5), 5.0)])
    out = {r.day_start.day: (r.n_events, r.total_value) for r in spark.read.parquet(sink).collect()}
    assert out[1] == (2, 3.0)  # day0 window: late +100 row NOT included
    assert out[2] == (1, 3.0)
    assert out[4] == (1, 4.0)  # day3 window finalized by round-2 watermark
    assert 6 not in out  # day5 window still open (not appended)


def test_pattern_match_stream_equals_batch(spark, tmp_path):
    """Streaming IGPM: micro-batched edge arrival + delta-only match
    enumeration must end at the batch match set (path edge included)."""
    from igpm_pem_spark.plans.pattern import match_pattern, parse_query_args
    from igpm_pem_spark.streaming.stream import pattern_match_stream

    verts, edges, _ = fixture_graph(spark, "dynamic_test1")
    src_dir = str(tmp_path / "pm_src")
    os.makedirs(src_dir, exist_ok=True)
    for ts in (0, 1, 2):
        edges.where(f"ts = {ts}").coalesce(1).write.mode("append").parquet(src_dir)

    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c z:c:a --vertexlabel a:cyan b:cyan c:cyan"
    )
    query, state = pattern_match_stream(
        spark, verts, src_dir, q, checkpoint_dir=str(tmp_path / "pm_ckpt")
    )
    query.awaitTermination(120)
    query.stop()

    def sigs(df):
        return {tuple((p["u"], p["v"]) for p in r["sig"]) for r in df.collect()}

    # one micro-batch per bucket file, so the delta-match path runs
    assert state.batches == 3
    batch = match_pattern(spark, verts, edges, q)
    assert sigs(state.matches) == sigs(batch)
    assert len(sigs(state.matches)) == 2


def test_sssp_stream_matches_batch(spark, tmp_path):
    import random

    from igpm_pem_spark.operators.sssp import sssp
    from igpm_pem_spark.streaming.stream import sssp_stream

    rng = random.Random(13)
    rows = [
        (rng.randrange(30), rng.randrange(30), float(rng.randrange(1, 9)),
         rng.randrange(3))
        for _ in range(100)
    ]
    rows = [(s, d, w, t) for s, d, w, t in rows if s != d]
    edges = spark.createDataFrame(
        rows, "src BIGINT, dst BIGINT, w DOUBLE, ts INT"
    )
    src_vertex = min(r[0] for r in rows)
    src_dir = str(tmp_path / "sssp_src")
    os.makedirs(src_dir, exist_ok=True)
    for ts in (0, 1, 2):
        edges.where(f"ts = {ts}").coalesce(1).write.mode("append").parquet(src_dir)

    query, state = sssp_stream(
        spark, src_dir, src_vertex, checkpoint_dir=str(tmp_path / "sssp_ckpt")
    )
    query.awaitTermination(180)
    query.stop()

    assert state.batches >= 1
    got = {r.id: r.dist for r in state.components.collect()}
    batch = sssp(spark, edges, src_vertex, weight_col="w")
    want = {r.id: r.dist for r in batch.distances.collect()}
    assert got == want


def test_pagerank_stream_matches_batch(spark, tmp_path):
    """Streaming warm-started PageRank lands on the batch answer for the
    union of all buckets (within convergence tolerance)."""
    from igpm_pem_spark.operators.pagerank import pagerank
    from igpm_pem_spark.streaming.stream import pagerank_stream

    _, edges, _ = fixture_graph(spark, "dynamic_test1")
    src_dir = str(tmp_path / "pr_src")
    os.makedirs(src_dir, exist_ok=True)
    for ts in (0, 1, 2):
        edges.where(f"ts = {ts}").coalesce(1).write.mode("append").parquet(src_dir)

    query, state = pagerank_stream(
        spark, src_dir, checkpoint_dir=str(tmp_path / "pr_ckpt")
    )
    query.awaitTermination(180)
    query.stop()

    assert state.batches == 3
    got = {r.id: r.rank for r in state.components.collect()}
    want_res = pagerank(spark, edges.select("src", "dst"), tol=1e-6)
    want = {r.id: r.rank for r in want_res.ranks.collect()}
    assert got.keys() == want.keys()
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-5, v


def test_labelprop_stream_stable_and_matches_batch(spark, tmp_path):
    """Streamed LPA warm-start: final labels are a stable labeling of the
    cumulative graph and equal batch LPA on unambiguous communities (two
    cliques, bridge arriving in the second bucket)."""
    from pyspark.sql import functions as F

    from igpm_pem_spark.operators.graph import partitioned_adjacency
    from igpm_pem_spark.operators.labelprop import _lpa_step, label_propagation
    from igpm_pem_spark.streaming.stream import labelprop_stream

    cl1 = [(a, b, "e", 0) for a in range(5) for b in range(5) if a < b]
    cl2 = [(a, b, "e", 0) for a in range(10, 15) for b in range(10, 15) if a < b]
    bridge = [(4, 10, "e", 1)]
    schema = "src BIGINT, dst BIGINT, label STRING, ts INT"
    edges = spark.createDataFrame(cl1 + cl2 + bridge, schema)
    src_dir = str(tmp_path / "lpa_src")
    os.makedirs(src_dir, exist_ok=True)
    for ts in (0, 1):
        edges.where(f"ts = {ts}").coalesce(1).write.mode("append").parquet(src_dir)

    query, state = labelprop_stream(
        spark, src_dir, checkpoint_dir=str(tmp_path / "lpa_ckpt")
    )
    query.awaitTermination(120)
    query.stop()

    assert state.batches == 2
    got = {r.id: r.label for r in state.components.collect()}
    assert got[0] == got[4] and got[10] == got[14] and got[0] != got[10]
    # stability: one more FULL sweep over the cumulative graph is a no-op
    adj = partitioned_adjacency(edges.select("src", "dst"), 4).persist()
    st = state.components.withColumn("changed", F.lit(True))
    swept = {r.id: r.label for r in _lpa_step(st, adj, 4).collect()}
    adj.unpersist()
    assert swept == got
    # batch equality on this unambiguous graph
    batch = label_propagation(spark, edges.select("src", "dst"), max_iter=10)
    assert {r.id: r.label for r in batch.labels.collect()} == got


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == batch session_window on the
    same replayed event buckets; open sessions are flushed by the
    event-time timeout when sentinel rows advance the watermark."""
    from pyspark.sql import functions as F

    from igpm_pem_spark.streaming.stream import sessionize_stream

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    src = str(tmp_path / "ev_src")
    os.makedirs(src, exist_ok=True)
    # ordered arrival buckets: 5-day slices of a 30-day feed
    for lo in range(1, 31, 5):
        bucket = ev.where(
            (F.dayofmonth("ts") >= lo) & (F.dayofmonth("ts") < lo + 5)
        )
        bucket.coalesce(1).write.mode("append").parquet(src)
    # two far-future sentinel buckets: the first advances the watermark past
    # every open session's timeout (watermark is set from the PREVIOUS
    # batch's max event time), the second flushes the first's own session
    for day in ("2024-06-01", "2024-06-02"):
        spark.createDataFrame(
            [(10**6, day + " 00:00:00", -1, "flush", 0.0)],
            "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    sink = str(tmp_path / "ev_out")
    q = sessionize_stream(spark, src, sink, str(tmp_path / "ev_ckpt"))
    q.awaitTermination(300)
    q.stop()

    got = {
        (r.user_id, r.session_start, r.n_events): r.total_value
        for r in spark.read.parquet(sink).where("user_id >= 0").collect()
    }
    expected = {
        (r.user_id, r.session_start, r.n_events): r.total_value
        for r in (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .select(
                "user_id",
                F.unix_timestamp(F.col("w.start")).alias("session_start"),
                "n_events",
                "total_value",
            )
            .collect()
        )
    }
    assert got.keys() == expected.keys()
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-6, k


def test_interval_join_stream_matches_batch_pairs(spark, tmp_path):
    """Stream-stream interval join emits exactly the batch pair set:
    same-key events within tol, across micro-batch boundaries."""
    import datetime as dt

    from igpm_pem_spark.streaming.stream import interval_join_stream

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    clicks = [  # (click_id, user_id, ts)
        (1, 7, s(0)), (2, 7, s(400)), (3, 8, s(100)), (4, 9, s(50)),
    ]
    buys = [  # (buy_id, user_id, ts)
        (10, 7, s(250)), (11, 8, s(500)), (12, 9, s(40)), (13, 9, s(1000)),
    ]
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for i in range(2):  # two micro-batch files per side
        spark.createDataFrame(
            clicks[i * 2 : i * 2 + 2], "click_id BIGINT, user_id BIGINT, ts TIMESTAMP"
        ).coalesce(1).write.mode("append").parquet(lsrc)
        spark.createDataFrame(
            buys[i * 2 : i * 2 + 2], "buy_id BIGINT, user_id BIGINT, ts TIMESTAMP"
        ).coalesce(1).write.mode("append").parquet(rsrc)
    ls = spark.readStream.schema("click_id BIGINT, user_id BIGINT, ts TIMESTAMP").parquet(lsrc)
    rs = spark.readStream.schema("buy_id BIGINT, user_id BIGINT, ts TIMESTAMP").parquet(rsrc)
    q = (
        interval_join_stream(ls, rs, tol_seconds=300)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {
        (r.click_id, r.r_buy_id, r.delta_s)
        for r in spark.read.parquet(sink).collect()
    }
    # batch truth: |delta| <= 300 same-key pairs
    want = {
        (c[0], b[0], int((b[2] - c[2]).total_seconds()))
        for c in clicks
        for b in buys
        if c[1] == b[1] and abs((b[2] - c[2]).total_seconds()) <= 300
    }
    assert got == want and (1, 10, 250) in got and (2, 10, -150) in got


def test_cms_counters_stream_matches_batch(spark, tmp_path):
    """The streaming CMS counter table equals the batch sketch counters
    over the same corpus — including across a restart (checkpointed
    aggregation state + the second file)."""
    import os

    from igpm_pem_spark.functions.text import token_id, tokens
    from igpm_pem_spark.operators.sketch import cms_bucket_exprs
    from igpm_pem_spark.streaming.stream import cms_counters_stream
    from pyspark.sql import functions as F

    src = str(tmp_path / "cms_src")
    ckpt = str(tmp_path / "cms_ckpt")
    os.makedirs(src, exist_ok=True)
    b1 = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry")],
        "doc_id BIGINT, text STRING",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    q = cms_counters_stream(spark, src, ckpt, queryName="cms_t1")
    q.awaitTermination(120)
    q.stop()
    b2 = spark.createDataFrame(
        [(3, "cherry date apple")], "doc_id BIGINT, text STRING"
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    q = cms_counters_stream(spark, src, ckpt, queryName="cms_t1")
    q.awaitTermination(120)
    q.stop()
    got = {
        (r.d, r.bucket): r.c for r in spark.table("cms_t1").collect()
    }
    batch = spark.read.parquet(src)
    toks = tokens(batch).select(token_id("token").alias("tid"))
    expected = {
        (r.d, r.bucket): r.c
        for r in toks.select(
            F.posexplode(F.array(*cms_bucket_exprs(F.col("tid")))).alias(
                "d", "bucket"
            )
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == expected and sum(got.values()) == 4 * 8  # 8 tokens × depth 4


def test_new_returning_stream_matches_batch_with_late_days(spark, tmp_path):
    """Out-of-order arrival: the LATER half of the days streams first, so
    users' recorded first-seen days are beaten by the second bucket and
    the correction path must reclassify — final counts still equal the
    batch query bit-for-bit."""
    import os

    from pyspark.sql import functions as F

    from igpm_pem_spark.queries.metricsq13 import _q_new_returning
    from igpm_pem_spark.streaming.stream import new_returning_stream

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    days = sorted(r.d for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    mid = days[len(days) // 2]

    src_dir = str(tmp_path / "ev_stream")
    os.makedirs(src_dir, exist_ok=True)
    # bucket 1 = LATE half of the calendar first, bucket 2 = early half
    ev.where(F.to_date("ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    # the file source discovers files in modification-time order; pin
    # bucket 1 strictly OLDER so FS timestamp granularity can never flip
    # the delivery order the corrections assertion below depends on
    import time as _time

    past = _time.time() - 120
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            os.utime(os.path.join(root, f), (past, past))
    ev.where(F.to_date("ts") < F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)

    query, state = new_returning_stream(
        spark, src_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    query.awaitTermination(180)
    query.stop()

    assert state.batches == 2
    # the reversed delivery MUST have exercised the correction path
    assert state.corrections > 0
    got = {
        str(r.day): (r.n_new, r.n_returning) for r in state.counts.collect()
    }
    want = {
        r.day: (r.n_new, r.n_returning)
        for r in _q_new_returning(spark, sf).collect()
    }
    assert got == want
