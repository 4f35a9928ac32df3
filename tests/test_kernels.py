"""Kernel correctness vs oracles on the reference-mirror fixture graphs
(FIXTURES.md §3-4): PageRank allclose 1e-6, components/labels/triangles
exact — the north-rule correctness gate."""

from __future__ import annotations

import tempfile

import networkx as nx
import pytest
from pyspark.sql import functions as F

from igpm_pem_spark.operators.bowtie import bowtie_decomposition
from igpm_pem_spark.operators.centrality import hitting_time_truncated
from igpm_pem_spark.operators.components import (
    connected_components,
    median_component_size,
)
from igpm_pem_spark.operators.eigencentrality import eigenvector_centrality
from igpm_pem_spark.operators.graph import canonical_undirected, degrees
from igpm_pem_spark.operators.incremental import incremental_components
from igpm_pem_spark.operators.kcore import onion_layers
from igpm_pem_spark.operators.ktruss import k_truss
from igpm_pem_spark.operators.labelprop import label_propagation
from igpm_pem_spark.operators.msf import minimum_spanning_forest
from igpm_pem_spark.operators.pagerank import pagerank
from igpm_pem_spark.operators.scc import strongly_connected_components
from igpm_pem_spark.operators.triangles import (
    _tc_degree_oriented_canon,
    _triangle_list_canon,
    star_count,
    triangle_count,
    triangles_per_vertex,
)
from igpm_pem_spark.sources.fixtures import ba_graph, fixture_graph

from .conftest import edges_df
from .oracles import (
    components_oracle,
    lpa_oracle,
    nx_graph,
    pagerank_oracle,
    triangles_oracle,
)


def _pairs(name_or_pairs, spark):
    if isinstance(name_or_pairs, str):
        if name_or_pairs == "ba100":
            _, edges, directed = ba_graph(spark, 100, 4, seed=0)
        else:
            _, edges, directed = fixture_graph(spark, name_or_pairs)
        pairs = [(r.src, r.dst) for r in edges.collect()]
        return edges, pairs, directed
    df = edges_df(spark, name_or_pairs)
    return df, name_or_pairs, False


@pytest.mark.parametrize("graph", ["test1", "test1d", "line", "ba100"])
def test_pagerank_exact_matches_networkx(spark, graph):
    edges, pairs, directed = _pairs(graph, spark)
    res = pagerank(spark, edges, directed=directed, tol=1e-8, max_iter=300)
    assert res.converged
    got = {r.id: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(pairs, directed)
    assert set(got) == set(want)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    # every superstep recorded lineage stats
    assert len(res.stats) == res.supersteps
    assert all(s.partition_stats for s in res.stats)


@pytest.mark.parametrize("graph", ["test1", "line", "ba100"])
def test_personalized_pagerank_matches_oracle(spark, graph):
    """Seeded RWR (reference rwr.py:149-180, restart 0.7 ⇔ alpha 0.3):
    restart mass lands on the seed set; the kernel must hit the
    NetworkX-personalization fixpoint."""
    edges, pairs, directed = _pairs(graph, spark)
    seeds = sorted({a for a, _ in pairs})[:2]
    pers = {seeds[0]: 2.0, seeds[1]: 1.0}
    res = pagerank(
        spark, edges, directed=directed, alpha=0.3, tol=1e-9, max_iter=300,
        personalization=pers,
    )
    assert res.converged
    got = {r.id: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(pairs, directed, alpha=0.3, personalization=pers)
    assert set(got) == set(want)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6


def test_personalized_pagerank_directed_dangling(spark):
    # dangling vertex 3: its mass must restart ∝ p, not uniformly
    pairs = [(0, 1), (1, 2), (2, 0), (0, 3), (2, 3)]
    edges = edges_df(spark, pairs)
    pers = {1: 1.0}
    res = pagerank(
        spark, edges, directed=True, alpha=0.85, tol=1e-10, max_iter=500,
        personalization=pers,
    )
    got = {r.id: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(pairs, directed=True, personalization=pers)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_directed_dangling(spark):
    # dangling vertex 3 (no out-edges): mass must be redistributed uniformly
    pairs = [(0, 1), (1, 2), (2, 0), (0, 3), (2, 3)]
    edges = edges_df(spark, pairs)
    res = pagerank(spark, edges, directed=True, tol=1e-9, max_iter=300)
    got = {r.id: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(pairs, directed=True)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _boom(*args, **kwargs):
    raise RuntimeError("injected step failure")


def _boom_on_refresh(cc_step):
    """CC step that runs the base computation (one adjacency) and raises
    in the first bucket refresh (a list of adjacency parts)."""
    def step(state, adj, *rest):
        if isinstance(adj, list):
            _boom()
        return cc_step(state, adj, *rest)
    return step


def _two_buckets(spark, edges):
    return incremental_components(
        spark, edges.withColumn("ts", (F.col("dst") == 3).cast("int"))
    )


def _durable_onion(spark, edges):
    with tempfile.TemporaryDirectory() as ckpt:
        return onion_layers(spark, edges, checkpoint_dir=ckpt)


def _raising_support(edge_support):
    """Edge support whose rows raise when a job reads them: the k-truss
    round's drop-count job fails after the round persisted ``sup``."""
    boom = F.raise_error(F.lit("injected support failure")).cast("long")
    return lambda e: edge_support(e).withColumn("sup", F.coalesce(boom, "sup"))


def _ktruss(spark, edges):
    from pyspark.errors import PySparkException

    try:
        return k_truss(spark, edges, 3)
    except PySparkException as err:
        raise RuntimeError(str(err)) from err


@pytest.mark.parametrize(
    "module, step, patch, kernel",
    [
        ("pagerank", "_group_sum", lambda f: _boom,
         lambda s, e: pagerank(s, e, directed=True)),
        ("components", "_cc_step", lambda f: _boom, connected_components),
        ("labelprop", "_lpa_step", lambda f: _boom, label_propagation),
        ("components", "_cc_step", _boom_on_refresh, _two_buckets),
        ("scc", "_trim", lambda f: _boom, strongly_connected_components),
        ("bowtie", "strongly_connected_components", lambda f: _boom,
         bowtie_decomposition),
        ("eigencentrality", "_eigen_step", lambda f: _boom,
         eigenvector_centrality),
        ("centrality", "_hitting_step", lambda f: _boom,
         hitting_time_truncated),
        ("kcore", "LineageLog", lambda cls: type("L", (cls,), {"commit": _boom}),
         _durable_onion),
        ("components", "connected_components", lambda f: _boom,
         lambda s, e: minimum_spanning_forest(s, e.withColumn("w", F.lit(1)))),
        ("ktruss", "_edge_support", _raising_support, _ktruss),
    ],
    ids=["pagerank", "components", "labelprop", "incremental_components",
         "scc", "bowtie", "eigencentrality", "hitting_time", "onion", "msf",
         "ktruss"],
)
def test_releases_caches_when_a_step_raises(
    spark, monkeypatch, module, step, patch, kernel
):
    """A superstep that raises must not leak the kernel's persisted
    adjacency and vertex set (nor, for directed PageRank, its dangling
    set; nor, for incremental CC, its carried adjacency parts; nor, for
    SCC and the bow-tie, their persisted edge, vertex, SCC and core
    relations; nor, for eigenvector centrality and hitting time, their
    message relation or edges and degrees; nor the onion peel's and the
    spanning forest's per-round degrees and chosen edges, when the
    commit or the forest's component merge raises)."""
    import importlib

    spark.catalog.clearCache()
    mod = importlib.import_module(f"igpm_pem_spark.operators.{module}")
    monkeypatch.setattr(mod, step, patch(getattr(mod, step)))
    edges = edges_df(spark, [(0, 1), (1, 2), (2, 0), (0, 3)])
    with pytest.raises(RuntimeError, match="injected"):
        kernel(spark, edges)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_releases_the_commit_cache_when_its_stats_job_raises(spark):
    """A step whose output raises only when the commit's stats job reads
    it must not leak the state the commit persisted for that job."""
    from pyspark.errors import PySparkException

    from igpm_pem_spark.operators._superstep import run

    spark.catalog.clearCache()
    boom = F.raise_error(F.lit("injected commit failure")).cast("boolean")
    with pytest.raises(PySparkException, match="injected"):
        run(
            spark,
            lambda: spark.range(4).selectExpr("id", "true AS changed"),
            lambda s: s.select("id", F.coalesce(boom, "changed").alias("changed")),
            max_iter=1,
            num_partitions=2,
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_loop_confs_restores_session_values_when_threads_interleave(spark):
    """Two threads' loop scopes interleave A-enter, B-enter, A-exit,
    B-exit: the loop confs stay off until the last scope closes, then the
    session's own values come back. No Spark job runs."""
    import threading

    from igpm_pem_spark.operators._superstep import loop_confs

    keys = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    saved = {k: spark.conf.get(k) for k in keys}
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def a():
        with loop_confs(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def b():
        a_in.wait(30)
        with loop_confs(spark):
            b_in.set()
            a_out.wait(30)
            seen["after_a_exit"] = {k: spark.conf.get(k) for k in keys}

    try:
        for k in keys:
            spark.conf.set(k, "true")
        threads = [threading.Thread(target=f) for f in (a, b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert seen["after_a_exit"] == {k: "false" for k in keys}
        assert {k: spark.conf.get(k) for k in keys} == {k: "true" for k in keys}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("graph", ["two_comp", "ba100", "line"])
def test_connected_components_exact(spark, graph):
    edges, pairs, _ = _pairs(graph, spark)
    res = connected_components(spark, edges)
    assert res.converged
    got = {r.id: r.component for r in res.components.collect()}
    want = components_oracle(pairs)
    assert got == want
    # estimate hygiene: the committed state's size estimate is the cache's
    # real bytes, not a join product that doubles its digits per commit
    size = res.components._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) < 20


def test_median_component_size(spark):
    edges, pairs, _ = _pairs("two_comp", spark)
    res = connected_components(spark, edges)
    # components: {0,1,2} {3,4,5} {7,8} → sizes 3,3,2 → median 3
    assert median_component_size(res.components) == 3.0


@pytest.mark.parametrize("graph", ["test1", "two_comp", "ba100"])
def test_label_propagation_matches_pinned_oracle(spark, graph):
    edges, pairs, _ = _pairs(graph, spark)
    res = label_propagation(spark, edges, max_iter=10)
    got = {r.id: r.label for r in res.labels.collect()}
    want = lpa_oracle(pairs, max_iter=10)
    assert got == want


@pytest.mark.parametrize("graph", ["test1", "test4", "ba100", "line"])
def test_triangles_exact(spark, graph):
    edges, pairs, _ = _pairs(graph, spark)
    per_vertex_want, total_want = triangles_oracle(pairs)
    assert triangle_count(edges) == total_want
    got = {r.id: r.triangles for r in triangles_per_vertex(edges).collect()}
    assert got == per_vertex_want


@pytest.mark.parametrize("graph", ["test1", "ba100", "two_comp"])
def test_degree_oriented_triangles_equal_plain(spark, graph):
    edges, pairs, _ = _pairs(graph, spark)
    _, total_want = triangles_oracle(pairs)
    assert _tc_degree_oriented_canon(canonical_undirected(edges)) == total_want


@pytest.mark.parametrize("graph,k", [("test1", 2), ("ba100", 3), ("ba100", 5), ("two_comp", 2)])
def test_kcore_matches_networkx(spark, graph, k):
    from igpm_pem_spark.operators.kcore import k_core

    edges, pairs, _ = _pairs(graph, spark)
    res = k_core(spark, edges, k)
    assert res.converged
    got = {r.id for r in res.vertices.collect()}
    g = nx_graph(pairs)
    g.remove_edges_from(nx.selfloop_edges(g))
    want = set(nx.k_core(g, k).nodes())
    assert got == want
    # peeling strictly shrinks until stable
    assert res.peeled_per_round[-1] == 0
    assert all(p >= 0 for p in res.peeled_per_round)


def test_star_count_matches_reference_rule(spark):
    # reference counts vertices with degree >= 4 as 5-node stars
    # (gray_incremental.py:194,202)
    edges, pairs, _ = _pairs("ba100", spark)
    g = nx_graph(pairs)
    want = sum(1 for _, d in g.degree() if d >= 4)
    assert star_count(edges, 4) == want


def test_degrees_match_networkx(spark):
    edges, pairs, _ = _pairs("test4", spark)  # parallel edges collapse
    g = nx_graph(pairs)
    got = {r.id: r.degree for r in degrees(edges).collect()}
    assert got == dict(g.degree())


@pytest.mark.parametrize("graph", ["test1", "ba100", "two_comp"])
def test_triangle_plans_all_agree(spark, graph):
    edges, pairs, _ = _pairs(graph, spark)
    _, total_want = triangles_oracle(pairs)
    e = canonical_undirected(edges)
    assert triangle_count(edges) == total_want
    assert _triangle_list_canon(e).count() == total_want
    assert _tc_degree_oriented_canon(e) == total_want


def test_adaptive_triangle_probe_handles_hub(spark):
    # star graph: hub degree n-1 ≫ sqrt(E) → adaptive must take the
    # degree-oriented path and still count 0 triangles; add one closing
    # edge → 1 triangle
    from tests.conftest import edges_df

    star = [(0, i) for i in range(1, 200)]
    assert triangle_count(edges_df(spark, star)) == 0
    assert triangle_count(edges_df(spark, star + [(1, 2)])) == 1


def _weighted_pr_oracle(wpairs, directed, alpha=0.85, tol=1e-13, iters=3000):
    """Pure-python weighted power iteration (nx.pagerank(weight=...) with
    MultiGraph weight summing)."""
    w = {}
    verts = set()
    for a, b, wt in wpairs:
        if a == b:
            continue
        verts |= {a, b}
        w[(a, b)] = w.get((a, b), 0.0) + wt
        if not directed:
            w[(b, a)] = w.get((b, a), 0.0) + wt
    outw = {}
    succ = {}
    for (a, b), wt in w.items():
        outw[a] = outw.get(a, 0.0) + wt
        succ.setdefault(a, []).append((b, wt))
    n = len(verts)
    x = {v: 1.0 / n for v in verts}
    for _ in range(iters):
        nxt = dict.fromkeys(verts, 0.0)
        dangle = sum(x[v] for v in verts if v not in outw)
        for v, lst in succ.items():
            for u, wt in lst:
                nxt[u] += x[v] * wt / outw[v]
        nxt = {
            v: (1 - alpha) / n + alpha * (nxt[v] + dangle / n) for v in verts
        }
        err = sum(abs(nxt[v] - x[v]) for v in verts)
        x = nxt
        if err < tol:
            return x
    raise RuntimeError("weighted oracle did not converge")


@pytest.mark.parametrize("directed", [False, True])
def test_weighted_pagerank_matches_oracle(spark, directed):
    # parallel edge (0,1) appears twice -> weights must SUM; vertex 4 is a
    # sink in the directed view (dangling)
    wpairs = [
        (0, 1, 1.0), (0, 1, 2.0), (1, 2, 5.0), (2, 0, 1.0),
        (2, 3, 0.5), (3, 0, 2.0), (1, 4, 4.0),
    ]
    edges = spark.createDataFrame(
        wpairs, "src BIGINT, dst BIGINT, wt DOUBLE"
    )
    res = pagerank(
        spark, edges, directed=directed, tol=1e-10,
        weight_col="wt", steps_per_commit=3,
    )
    got = {r.id: r["rank"] for r in res.ranks.collect()}
    want = _weighted_pr_oracle(wpairs, directed)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-7
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_spam_mass_composition_matches_python_oracle(spark):
    """TrustRank spam mass (queries/graphq.py::_q_spam_mass semantics):
    (pr - tr)/pr from two exact 8-round runs must match the pure-python
    recurrence, seeds must carry negative (trusted) mass and the vertex
    farthest from the seeds the largest."""
    edges, pairs, _ = _pairs("ba100", spark)
    seeds = sorted({s for s, _ in pairs} | {d for _, d in pairs})[:5]
    pr = pagerank(spark, edges, tol=0.0, max_iter=8)
    tr = pagerank(
        spark, edges, tol=0.0, max_iter=8,
        personalization={s: 1.0 for s in seeds},
    )
    got_pr = {r.id: r["rank"] for r in pr.ranks.collect()}
    got_tr = {r.id: r["rank"] for r in tr.ranks.collect()}
    want_pr = pagerank_oracle(pairs, False, tol=0.0, max_iter=8)
    want_tr = pagerank_oracle(
        pairs, False, tol=0.0, max_iter=8,
        personalization={s: 1.0 for s in seeds},
    )
    # a fixed-iteration run commits its last block without a stats job
    assert pr.stats[-1].delta_norm == -1.0 and not pr.stats[-1].partition_stats
    mass_got = {v: (got_pr[v] - got_tr[v]) / got_pr[v] for v in got_pr}
    mass_want = {v: (want_pr[v] - want_tr[v]) / want_pr[v] for v in want_pr}
    assert set(mass_got) == set(mass_want)
    assert max(abs(mass_got[v] - mass_want[v]) for v in mass_want) < 1e-6
    # trusted seeds absorb restart mass: strictly negative spam mass
    assert all(mass_got[s] < 0 for s in seeds)


@pytest.mark.parametrize("graph", ["test1", "ba100"])
def test_coreness_hindex_matches_networkx(spark, graph):
    """Full core decomposition by h-index iteration must equal
    networkx.core_number exactly, for every vertex."""
    from igpm_pem_spark.operators.kcore import coreness_hindex

    edges, pairs, _ = _pairs(graph, spark)
    res = coreness_hindex(spark, edges)
    assert res.converged
    got = {r.id: r.coreness for r in res.coreness.collect()}
    want = nx.core_number(nx_graph(pairs, False))
    assert got == {k: v for k, v in want.items()}


@pytest.mark.parametrize("graph", ["test1", "ba100"])
def test_k4_count_matches_networkx(spark, graph):
    from igpm_pem_spark.operators.triangles import k4_count

    edges, pairs, _ = _pairs(graph, spark)
    got = k4_count(edges)
    g = nx_graph(pairs, False)
    want = sum(1 for q in nx.enumerate_all_cliques(g) if len(q) == 4)
    assert got == want


def test_weighted_lpa_prefers_heavy_edge(spark):
    """Two communities joined by one light bridge: weighted votes must
    follow the heavy edges, and a heavy bridge flips the assignment."""
    from igpm_pem_spark.operators.labelprop import label_propagation_weighted

    rows = [(1, 2, 5.0), (1, 3, 5.0), (2, 3, 5.0), (3, 4, 1.0),
            (4, 5, 5.0), (4, 6, 5.0), (5, 6, 5.0)]
    e = spark.createDataFrame(rows, "src BIGINT, dst BIGINT, w DOUBLE")
    labels = {
        r.id: r.label
        for r in label_propagation_weighted(spark, e, max_iter=3).collect()
    }
    # the two triangles stay separate communities despite the bridge
    assert labels[1] == labels[2] == labels[3]
    assert labels[4] == labels[5] == labels[6]
    assert labels[1] != labels[4]


def test_forward_push_matches_python_replay_and_stays_local(spark):
    """Synchronous forward push: exact python replay parity, mass
    conservation, and frontier locality (single seed on a BA graph must
    not touch the whole vertex set at tight eps)."""
    from igpm_pem_spark.operators.push import forward_push_ppr

    edges, pairs, _ = _pairs("ba100", spark)
    alpha, eps, rounds, seeds = 0.15, 1e-2, 4, [0]
    out = {r.id: (r.p6, r.r6) for r in forward_push_ppr(
        spark, edges, seeds, alpha=alpha, eps=eps, rounds=rounds
    ).collect()}

    # python replay of the same recurrence
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b); adj[b].add(a)
    p = defaultdict(float)
    r = defaultdict(float, {s: 1.0 / len(seeds) for s in seeds})
    for _ in range(rounds):
        active = [v for v in adj if r[v] > eps * len(adj[v])]
        nr = defaultdict(float)
        for v in adj:
            if v not in set(active):
                nr[v] = r[v]
        for v in active:
            p[v] += alpha * r[v]
            share = (1.0 - alpha) * r[v] / len(adj[v])
            for u in adj[v]:
                nr[u] += share
        r = nr
    want = {
        v: (round(p[v], 6), round(r[v], 6))
        for v in adj
        if round(p[v], 6) != 0.0 or round(r[v], 6) != 0.0
    }
    assert out.keys() == want.keys()
    for v in want:
        assert abs(out[v][0] - want[v][0]) < 2e-6
        assert abs(out[v][1] - want[v][1]) < 2e-6
    # locality + conservation
    assert len(out) < len(adj)
    mass = sum(a + b for a, b in out.values())
    assert abs(mass - 1.0) < 1e-4
