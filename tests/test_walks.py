"""Deterministic random walks: validity (every hop is an edge),
determinism across partitionings, pure-python parity, pair counts."""

from __future__ import annotations

import pytest

from igpm_pem_spark.operators.walks import (
    WALK_A1, WALK_A2, WALK_A3, WALK_M, random_walks, walk_pairs,
)

from .conftest import edges_df

PAIRS = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (1, 5), (5, 6)]


def _python_walks(pairs, walk_len, wpv, seed):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    adj = {v: sorted(ns) for v, ns in adj.items()}
    out = {}
    for v in adj:
        for w in range(wpv):
            wid = v * wpv + w
            cur = v
            seq = [cur]
            for s in range(1, walk_len + 1):
                deg = len(adj[cur])
                h = (WALK_A1 * wid + WALK_A2 * s + WALK_A3 * cur + seed) % WALK_M
                cur = adj[cur][h % deg]
                seq.append(cur)
            out[wid] = seq
    return out


def test_walks_match_python_oracle(spark):
    res = random_walks(spark, edges_df(spark, PAIRS), walk_len=5,
                       walks_per_vertex=3, seed=7)
    got = {}
    for r in res.collect():
        got.setdefault(r.walk_id, {})[r.step] = r.vertex
    got = {k: [v[i] for i in range(len(v))] for k, v in got.items()}
    want = _python_walks(PAIRS, 5, 3, 7)
    assert got == want


def test_walks_every_hop_is_an_edge(spark):
    res = random_walks(spark, edges_df(spark, PAIRS), walk_len=4)
    es = {tuple(sorted(p)) for p in PAIRS}
    seqs = {}
    for r in res.collect():
        seqs.setdefault(r.walk_id, {})[r.step] = r.vertex
    for seq in seqs.values():
        for s in range(1, len(seq)):
            assert tuple(sorted((seq[s - 1], seq[s]))) in es


def test_walks_deterministic_across_partitionings(spark):
    e1 = edges_df(spark, PAIRS).repartition(7)
    e2 = edges_df(spark, PAIRS).repartition(2)
    a = sorted(map(tuple, random_walks(spark, e1, walk_len=3).collect()))
    b = sorted(map(tuple, random_walks(spark, e2, walk_len=3).collect()))
    assert a == b


def test_walk_pairs_counts(spark):
    w = random_walks(spark, edges_df(spark, PAIRS), walk_len=3,
                     walks_per_vertex=1, seed=1)
    got = {(r.a, r.b): r.cnt for r in walk_pairs(w, window=2).collect()}
    seqs = _python_walks(PAIRS, 3, 1, 1)
    want = {}
    for seq in seqs.values():
        for i in range(len(seq)):
            for j in range(i + 1, min(i + 3, len(seq))):
                if seq[i] != seq[j]:
                    k = (min(seq[i], seq[j]), max(seq[i], seq[j]))
                    want[k] = want.get(k, 0) + 1
    assert got == want


def _python_n2v(pairs, walk_len, wpv, p, q, seed):
    """Independent pure-python re-implementation of node2vec_walks'
    integer-weight draw (weights q / p·q / p, cumulative-sum inversion
    over dst-ordered candidates, LCG mod total-weight)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    sadj = {v: sorted(ns) for v, ns in adj.items()}
    out = {}
    for v in sadj:
        for w in range(wpv):
            wid = v * wpv + w
            seq = [v]
            deg = len(sadj[v])
            h = (WALK_A1 * wid + WALK_A2 * 1 + WALK_A3 * v + seed) % WALK_M
            cur, prev = sadj[v][h % deg], v
            seq.append(cur)
            for s in range(2, walk_len + 1):
                cands = sadj[cur]
                wts = [
                    q if x == prev else (p * q if x in adj[prev] else p)
                    for x in cands
                ]
                tot = sum(wts)
                r = (WALK_A1 * wid + WALK_A2 * s + WALK_A3 * cur + seed) % WALK_M % tot
                cum = 0
                for x, wt in zip(cands, wts):
                    cum += wt
                    if r < cum:
                        prev, cur = cur, x
                        break
                seq.append(cur)
            out[wid] = seq
    return out


def test_node2vec_matches_python_oracle(spark):
    from igpm_pem_spark.operators.walks import node2vec_walks

    res = node2vec_walks(spark, edges_df(spark, PAIRS), walk_len=5,
                         walks_per_vertex=2, p=2, q=3, seed=11)
    got = {}
    for r in res.collect():
        got.setdefault(r.walk_id, {})[r.step] = r.vertex
    got = {k: [v[i] for i in range(len(v))] for k, v in got.items()}
    assert got == _python_n2v(PAIRS, 5, 2, 2, 3, 11)


def test_node2vec_every_hop_is_an_edge_and_deterministic(spark):
    from igpm_pem_spark.operators.walks import node2vec_walks

    es = {tuple(sorted(pr)) for pr in PAIRS}
    a = sorted(map(tuple, node2vec_walks(
        spark, edges_df(spark, PAIRS).repartition(7), walk_len=4, p=1, q=4
    ).collect()))
    b = sorted(map(tuple, node2vec_walks(
        spark, edges_df(spark, PAIRS).repartition(2), walk_len=4, p=1, q=4
    ).collect()))
    assert a == b
    seqs = {}
    for wid, step, v in a:
        seqs.setdefault(wid, {})[step] = v
    for seq in seqs.values():
        for s in range(1, len(seq)):
            assert tuple(sorted((seq[s - 1], seq[s]))) in es


def test_node2vec_rejects_fractional_pq(spark):
    import pytest as _pytest

    from igpm_pem_spark.operators.walks import node2vec_walks

    with _pytest.raises(ValueError):
        node2vec_walks(spark, edges_df(spark, PAIRS), p=0, q=1)
    with _pytest.raises(ValueError):
        node2vec_walks(spark, edges_df(spark, PAIRS), p=1, q=0.5)


def test_node2vec_zero_length_releases_its_cache(spark):
    """walk_len=0 returns the start rows early and still unpersists the
    neighbor index it built."""
    from igpm_pem_spark.operators.walks import node2vec_walks

    spark.catalog.clearCache()
    res = node2vec_walks(spark, edges_df(spark, PAIRS), walk_len=0)
    assert sorted(r.vertex for r in res.collect()) == [1, 2, 3, 4, 5, 6]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ppmi_pairs_matches_python(spark):
    """PPMI over a hand-built pair-count corpus vs a direct Python
    recomputation (marginals, total, max(0, ln ratio))."""
    import math

    from igpm_pem_spark.operators.walks import ppmi_pairs

    counts = [(1, 2, 4), (1, 3, 1), (2, 3, 2), (3, 4, 1)]
    pairs = spark.createDataFrame(counts, "a BIGINT, b BIGINT, cnt BIGINT")
    got = {(r.a, r.b): (r.cnt, r.ppmi) for r in ppmi_pairs(pairs).collect()}

    n = sum(c for _, _, c in counts)
    marg: dict[int, int] = {}
    for a, b, c in counts:
        marg[a] = marg.get(a, 0) + c
        marg[b] = marg.get(b, 0) + c
    assert set(got) == {(a, b) for a, b, _ in counts}
    for a, b, c in counts:
        want = max(0.0, math.log(c * n / (marg[a] * marg[b])))
        assert got[(a, b)][0] == c
        assert got[(a, b)][1] == pytest.approx(want, abs=1e-12)


def test_ppmi_min_count_filters(spark):
    from igpm_pem_spark.operators.walks import ppmi_pairs

    pairs = spark.createDataFrame(
        [(1, 2, 4), (1, 3, 1)], "a BIGINT, b BIGINT, cnt BIGINT"
    )
    rows = ppmi_pairs(pairs, min_count=2).collect()
    assert [(r.a, r.b) for r in rows] == [(1, 2)]
