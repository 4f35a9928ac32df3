"""Incremental replay: ts-bucketed arrival, warm-started partial
recomputation; final state must equal the batch (from-scratch) answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from igpm_pem_spark.operators.incremental import (
    incremental_components,
    incremental_pagerank,
    step_list,
)
from igpm_pem_spark.sources.fixtures import ba_graph, fixture_graph

from .oracles import components_oracle, pagerank_oracle


def _dynamic_ba(spark, n_buckets=4):
    """BA-100 edges stamped with deterministic arrival steps."""
    _, edges, _ = ba_graph(spark, 100, 4, seed=0)
    return edges.withColumn(
        "ts", (F.xxhash64("src", "dst") % n_buckets + n_buckets) % n_buckets
    )


def test_step_list(spark):
    _, edges, _ = fixture_graph(spark, "dynamic_test1")
    assert step_list(edges) == [0, 1, 2]


def test_incremental_components_matches_batch(spark):
    edges = _dynamic_ba(spark)
    res = incremental_components(spark, edges, base_steps=1)
    got = {r.id: r.component for r in res.state.collect()}
    pairs = [(r.src, r.dst) for r in edges.collect()]
    assert got == components_oracle(pairs)
    assert len(res.steps) == 4
    # incremental steps after the base run exist and record work
    assert all(s.supersteps >= 1 for s in res.steps)


def test_incremental_components_shuffle_proportional_to_bucket(spark):
    """The scale property the replay design claims: after the base step,
    each arrival re-shuffles ONE bucket-sized adjacency delta — never the
    cumulative edge set. Pinned via the recorded per-step
    adj_shuffled_rows (a big base bucket followed by tiny deltas)."""
    from pyspark.sql import Window, functions as F

    _, edges, _ = ba_graph(spark, 200, 4, seed=1)
    # bucket 0 = everything except 12 edges; buckets 1..3 = ~4 edges each
    ranked = edges.withColumn(
        "_r", F.row_number().over(Window.orderBy("src", "dst"))
    )
    n_total = ranked.count()
    ts = (
        F.when(F.col("_r") <= n_total - 12, F.lit(0))
        .otherwise(((F.col("_r") - (n_total - 12) - 1) % 3 + 1).cast("int"))
    )
    dyn = ranked.select("src", "dst", ts.alias("ts"))
    res = incremental_components(spark, dyn, base_steps=1)
    got = {r.id: r.component for r in res.state.collect()}
    pairs = [(r.src, r.dst) for r in dyn.collect()]
    assert got == components_oracle(pairs)
    walls = res.steps
    assert len(walls) == 4
    # base step shuffles the (symmetrized, deduped) base graph ...
    assert walls[0].adj_shuffled_rows >= n_total - 12
    # ... and every later arrival re-shuffles at most 2x its bucket
    # (symmetrized), NOT the cumulative adjacency
    for s in walls[1:]:
        assert s.adj_shuffled_rows <= 2 * s.n_new_edges
        assert s.adj_shuffled_rows < walls[0].adj_shuffled_rows // 4


def test_incremental_components_small_fixture(spark):
    _, edges, _ = fixture_graph(spark, "dynamic_test1")
    pairs = [(r.src, r.dst) for r in edges.collect()]
    for base_steps in (1, 2):
        res = incremental_components(spark, edges, base_steps=base_steps)
        got = {r.id: r.component for r in res.state.collect()}
        assert got == components_oracle(pairs)
        assert len(res.steps) == 4 - base_steps
        # the base step reports the whole base slice as new
        assert res.steps[0].n_new_edges == res.steps[0].n_total_edges


def test_incremental_pagerank_converges_to_full_graph_answer(spark):
    edges = _dynamic_ba(spark)
    res = incremental_pagerank(spark, edges, base_steps=1, tol=1e-8)
    got = {r.id: r["rank"] for r in res.state.collect()}
    pairs = [(r.src, r.dst) for r in edges.collect()]
    want = pagerank_oracle(pairs)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    assert len(res.steps) == 4
    assert all(s.edges_per_sec > 0 for s in res.steps)


def test_incremental_pagerank_directed_dangling(spark):
    """Directed replay where later buckets leave sink (dangling) vertices:
    the warm-started refresh must respread dangling mass exactly like the
    batch kernel, or ranks drift from the oracle."""
    # bucket 0: a 3-cycle; bucket 1 adds edges INTO new sinks 3 and 4
    pairs = [(0, 1, 0), (1, 2, 0), (2, 0, 0), (0, 3, 1), (2, 4, 1), (1, 4, 1)]
    edges = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT, ts INT")
    res = incremental_pagerank(
        spark, edges, base_steps=1, tol=1e-9, directed=True
    )
    got = {r.id: r["rank"] for r in res.state.collect()}
    want = pagerank_oracle([(a, b) for a, b, _ in pairs], directed=True)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_incremental_pattern_match_equals_batch(spark):
    """IGPM headline: per-bucket delta enumeration (matches using ≥1 new
    edge) unioned into the match table must land on the batch answer."""
    from igpm_pem_spark.operators.incremental import incremental_pattern_match
    from igpm_pem_spark.plans.pattern import match_pattern, parse_query_args

    verts, edges, _ = fixture_graph(spark, "dynamic_test1")
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c z:c:a "
        "--vertexlabel a:cyan b:cyan c:cyan"
    )
    res = incremental_pattern_match(spark, verts, edges, q, base_steps=1)
    batch = match_pattern(spark, verts, edges, q)

    def sigs(df):
        return {
            tuple((p["u"], p["v"]) for p in r["sig"]) for r in df.collect()
        }

    assert sigs(res.state) == sigs(batch)
    assert len(sigs(res.state)) == 2  # test1 has 2 triangles
    assert len(res.steps) == 3
    assert sum(s.n_new_matches for s in res.steps) >= 2


def test_incremental_pattern_match_ba_buckets(spark):
    from igpm_pem_spark.operators.incremental import incremental_pattern_match
    from igpm_pem_spark.plans.pattern import match_pattern, parse_query_args
    from pyspark.sql import functions as F

    verts, edges, _ = ba_graph(spark, 40, 3, seed=1)
    dyn = edges.withColumn(
        "ts", (F.xxhash64("src", "dst") % 3 + 3) % 3
    )
    q = parse_query_args("--vertex a b c --edge x:a:b y:b:c z:c:a")
    res = incremental_pattern_match(spark, verts, dyn, q, base_steps=1)
    batch = match_pattern(spark, verts, dyn, q)
    got = {tuple((p["u"], p["v"]) for p in r["sig"]) for r in res.state.collect()}
    want = {tuple((p["u"], p["v"]) for p in r["sig"]) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_incremental_pagerank_with_pattern_counts(spark):
    _, edges, _ = fixture_graph(spark, "dynamic_test1")
    spark.catalog.clearCache()
    res = incremental_pagerank(
        spark, edges, base_steps=1, tol=1e-7, with_pattern_counts=True
    )
    # the carried canonical edge set is a checkpoint, not a leaked cache
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # reference prints exact triangle/star ground truth per step
    # (gray_incremental.py:193-202); final graph = test1 → 2 triangles
    assert res.steps[-1].n_triangles == 2
    assert res.steps[-1].n_stars is not None


def test_warm_start_refresh_beats_cold_exact(spark):
    """A bucket of 3 edges among existing vertices: exact iteration
    warm-started from the previous fixpoint needs fewer supersteps than a
    cold start on the same graph, lands on the same ranks, and keeps the
    rank mass at 1 without renormalizing."""
    from igpm_pem_spark.operators.pagerank import pagerank

    _, edges, _ = ba_graph(spark, 300, 3, seed=2)
    bucket = spark.createDataFrame(
        [(5, 290), (17, 250), (100, 200)], "src BIGINT, dst BIGINT"
    )
    cum = edges.select("src", "dst").unionByName(bucket)
    base = pagerank(spark, edges, tol=1e-9)
    warm = pagerank(spark, cum, tol=1e-9, init_ranks=base.ranks)
    cold = pagerank(spark, cum, tol=1e-9)
    assert warm.converged and cold.converged
    assert warm.supersteps < cold.supersteps, (warm.supersteps, cold.supersteps)
    got = {r.id: r["rank"] for r in warm.ranks.collect()}
    want = {r.id: r["rank"] for r in cold.ranks.collect()}
    assert got.keys() == want.keys() and len(got) == 300
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_incremental_pattern_counts_equal_full_recompute(spark):
    """Per-step triangle/star ground truth now rides the delta-only plans;
    every step's value must equal a full recompute on that prefix."""
    from igpm_pem_spark.operators.triangles import star_count, triangle_count
    from pyspark.sql import functions as F

    _, edges, _ = ba_graph(spark, 60, 3, seed=4)
    dyn = edges.withColumn("ts", ((F.col("src") + F.col("dst")) % 3).cast("int"))
    res = incremental_pagerank(
        spark, dyn, base_steps=1, tol=1e-6, with_pattern_counts=True
    )
    for s in res.steps:
        prefix = dyn.where(F.col("ts") <= s.step)
        assert s.n_triangles == triangle_count(prefix), s.step
        assert s.n_stars == star_count(prefix, 4), s.step


def test_incremental_path_pattern_equals_batch(spark):
    """--path query edges now replay incrementally: per-bucket closure
    deltas + bound-seeded expansions must reach the batch match set."""
    from igpm_pem_spark.operators.incremental import incremental_pattern_match
    from igpm_pem_spark.plans.pattern import match_pattern, parse_query_args
    from pyspark.sql import functions as F

    verts, edges, _ = ba_graph(spark, 30, 2, seed=5)
    dyn = edges.withColumn(
        "ts", ((F.xxhash64("src", "dst") % 3 + 3) % 3).cast("int")
    ).withColumn("label", F.lit("yes"))
    q = parse_query_args("--vertex a b c --edge x:a:b --path z:b:c")
    res = incremental_pattern_match(spark, verts, dyn, q, base_steps=1)
    batch = match_pattern(spark, verts, dyn, q)
    got = {tuple(sorted((p["u"], p["v"]) for p in r["sig"])) for r in res.state.collect()}
    want = {tuple(sorted((p["u"], p["v"]) for p in r["sig"])) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_incremental_labelprop_stable_and_matches_batch_on_clear_communities(spark):
    """Warm-started LPA replay must land on a STABLE labeling of the
    final graph; on a graph whose communities are unambiguous (two dense
    cliques joined late by one bridge edge) it equals batch."""
    from igpm_pem_spark.operators.incremental import incremental_labelprop
    from igpm_pem_spark.operators.labelprop import _lpa_step, label_propagation
    from igpm_pem_spark.operators.graph import partitioned_adjacency

    cl1 = [(a, b, 0) for a in range(5) for b in range(5) if a < b]
    cl2 = [(a, b, 0) for a in range(10, 15) for b in range(10, 15) if a < b]
    bridge = [(4, 10, 1)]
    edges = spark.createDataFrame(
        cl1 + cl2 + bridge, "src BIGINT, dst BIGINT, ts INT"
    )
    res = incremental_labelprop(spark, edges, base_steps=1)
    got = {r.id: r.label for r in res.state.collect()}
    # two communities survive the single bridge
    assert got[0] == got[4] and got[10] == got[14] and got[0] != got[10]
    # stability: one more FULL sweep changes nothing
    adj = partitioned_adjacency(edges, 4).persist()
    state = res.state.withColumn("changed", F.lit(True))
    swept = {r.id: r.label for r in _lpa_step(state, adj, 4).collect()}
    adj.unpersist()
    assert swept == got
    # batch equality on this unambiguous graph
    batch = label_propagation(spark, edges, max_iter=10)
    assert {r.id: r.label for r in batch.labels.collect()} == got


def test_pem_controller_policy_is_deterministic():
    from igpm_pem_spark.operators.pem import PemController

    pem = PemController(target_step_sec=1.0, eps=1e-10)
    # over budget → coarsen ×4; way under → refine ÷2; in band → hold
    assert pem.observe(2.0) == 4e-10
    assert pem.observe(0.1) == 2e-10
    assert pem.observe(1.0) == 2e-10
    assert [h["eps_after"] for h in pem.history] == [4e-10, 2e-10, 2e-10]
    # clamps
    pem2 = PemController(target_step_sec=1.0, eps=1e-4, eps_max=1e-4)
    assert pem2.observe(10.0) == 1e-4


def test_incremental_pagerank_with_pem_adapts_scope(spark):
    """A hopeless per-step budget must coarsen the recompute scope (eps
    climbs toward eps_max) while ranks stay a sane distribution; the
    controller's audit trail records every decision. A controller pinned
    at a coarse eps must cut bucket supersteps (deterministic counts)
    below the same replay without PEM: the knob does work."""
    from igpm_pem_spark.operators.pem import PemController

    edges = _dynamic_ba(spark)
    pem = PemController(target_step_sec=0.001, eps=1e-9, eps_max=1e-5)
    res = incremental_pagerank(spark, edges, base_steps=1, tol=1e-6, pem=pem)
    assert len(pem.history) == len(res.steps) == 4
    assert pem.eps > 1e-9  # scope coarsened under the impossible budget
    total = sum(r["rank"] for r in res.state.collect())
    assert abs(total - 1.0) < 1e-6

    halves = _dynamic_ba(spark, n_buckets=2)
    coarse = PemController(
        target_step_sec=1e9, eps=1e-4, eps_min=1e-4, eps_max=1e-4
    )
    pinned = incremental_pagerank(spark, halves, base_steps=1, tol=1e-3, pem=coarse)
    plain = incremental_pagerank(spark, halves, base_steps=1, tol=1e-3)
    assert coarse.eps == 1e-4
    got = [s.supersteps for s in pinned.steps]
    want = [s.supersteps for s in plain.steps]
    assert all(a <= b for a, b in zip(got, want)), (got, want)
    assert sum(got) < sum(want), (got, want)
