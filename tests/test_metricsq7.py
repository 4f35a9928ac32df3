"""Session-8 batch 5: landmark-bound admissibility, percolation-curve
reference parity, decayed-counter hand-trace."""

from __future__ import annotations

import datetime

import networkx as nx
import pytest

from igpm_pem_spark.queries.metricsq7 import (
    _q_decayed_counts,
    _q_landmark_bounds,
    _q_percolation_curve,
)


def _write_lineitem(spark, tmp_path, pairs):
    # sparse graph keeps l_orderkey % 50 == 0: one order per edge
    rows = [(50 * (i + 1), a, b) for i, (a, b) in enumerate(pairs)]
    li = [(o, a, 1) for o, a, b in rows] + [(o, b, 2) for o, a, b in rows]
    spark.createDataFrame(
        li, "l_orderkey LONG, l_partkey LONG, l_linenumber LONG"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))


def test_landmark_bounds_admissible_upper_bounds(spark, tmp_path):
    # star around 100 plus a path: landmarks include the hub, so bounds
    # through the hub must be >= true distance and == when the shortest
    # path runs through a landmark
    pairs = [(100, v) for v in (1, 2, 3, 4, 200, 201)] + [(201, 202)]
    _write_lineitem(spark, tmp_path, pairs)
    got = {(r.s, r.t): r.bound for r in _q_landmark_bounds(spark, str(tmp_path)).collect()}
    G = nx.Graph()
    G.add_edges_from(pairs)
    assert len(got) == 25
    for (s, t), b in got.items():
        if b == -1:
            continue
        true = nx.shortest_path_length(G, s, t) if nx.has_path(G, s, t) else None
        assert true is not None and b >= true
    # hub 100 is the top-degree landmark; 1 -> 202 goes 1-100-201-202, so
    # bound = d(100,1) + d(100,202) = 1 + 2 = 3 == the true distance
    # (shortest path runs through the landmark -> the bound is tight)
    assert got[(1, 202)] == 3


def test_percolation_curve_matches_python(spark, tmp_path):
    import hashlib

    from igpm_pem_spark.operators.sampling import SPLIT_BUCKETS

    pairs = [(a, b) for a in range(12) for b in range(a + 1, 12) if (a * 7 + b) % 3]
    _write_lineitem(spark, tmp_path, pairs)

    def bucket(v):
        return int(hashlib.md5(f"fail:{v}".encode()).hexdigest()[:15], 16) % SPLIT_BUCKETS

    got = {
        r.removed_pct: (r.n_vertices, r.n_components, r.giant_size)
        for r in _q_percolation_curve(spark, str(tmp_path)).collect()
    }
    for pct in (10, 30, 50):
        cut = int(pct / 100 * SPLIT_BUCKETS)
        surv = [(a, b) for a, b in pairs if bucket(a) >= cut and bucket(b) >= cut]
        G = nx.Graph()
        G.add_edges_from(surv)
        comps = list(nx.connected_components(G)) if len(G) else []
        ref = (
            (len(G), len(comps), max((len(c) for c in comps), default=None))
            if len(G)
            else (None, 0, None)
        )
        assert got[pct] == ref, (pct, got[pct], ref)


def test_percolation_curve_releases_edge_cache_when_cc_raises(spark, tmp_path, monkeypatch):
    from igpm_pem_spark.operators import components

    cache = spark._jsparkSession.sharedState().cacheManager()

    def boom(*args, **kwargs):
        assert not cache.isEmpty()  # the failure lands while the cache is held
        raise RuntimeError("injected CC failure")

    _write_lineitem(spark, tmp_path, [(1, 2), (2, 3), (4, 5)])
    spark.catalog.clearCache()
    monkeypatch.setattr(components, "connected_components", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _q_percolation_curve(spark, str(tmp_path))
    assert cache.isEmpty()


def test_decayed_counts_hand_trace(spark, tmp_path):
    t = datetime.datetime
    rows = [
        # max day = 2024-01-29; ages 0d, 7d (1 wk), 21d (3 wk)
        (0, t(2024, 1, 29, 12), 1, "view", 1.0, "{}"),
        (1, t(2024, 1, 22, 9), 2, "view", 1.0, "{}"),
        (2, t(2024, 1, 8, 9), 3, "view", 1.0, "{}"),
        (3, t(2024, 1, 29, 1), 4, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: (r.n_events, r.decayed6) for r in
           _q_decayed_counts(spark, str(tmp_path)).collect()}
    assert got == {"view": (3, 1.0 + 0.5 + 0.125), "click": (1, 1.0)}
