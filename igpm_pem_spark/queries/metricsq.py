"""Structural-metric and link-analysis queries (HITS, clustering
coefficient, assortativity, neighborhood aggregates, link prediction,
weighted SSSP) with exact DuckDB oracles — the second ring of link-graph
analytics around the SURVEY §2 kernel core."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import G_SPARSE_SQL, edges, graph_nparts
from .graphq import _CC_CTE, CC_ORACLE_ITERS, _with_g

# weighted sparse co-occurrence graph: w = shared-order multiplicity
# (integral, so distance sums are exact in DOUBLE on both engines)
_G_WSPARSE_SQL = """
SELECT a.l_partkey AS src, b.l_partkey AS dst,
       CAST(count(*) AS DOUBLE) AS w
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
WHERE a.l_orderkey % 20 = 0
GROUP BY a.l_partkey, b.l_partkey
"""

# direction-mixed sparse graph: the canonical a<b co-occurrence edges
# are a DAG by construction (every SCC trivial), so half the edges are
# flipped by parity to create real cycles for the SCC kernel
_G_DIRMIX_SQL = f"""
SELECT CASE WHEN (src + dst) % 2 = 0 THEN src ELSE dst END AS src,
       CASE WHEN (src + dst) % 2 = 0 THEN dst ELSE src END AS dst
FROM ({G_SPARSE_SQL})
"""

# SCC oracle: transitive closure with UNION-fixpoint semantics (no iter
# counter needed), mutual-reachability pairs, scc id = min partner
_SCC_SQL = f"""
WITH RECURSIVE g AS ({_G_DIRMIX_SQL})
, verts AS (SELECT DISTINCT id FROM
            (SELECT src AS id FROM g UNION ALL SELECT dst FROM g))
, tc(src, dst) AS (
    SELECT src, dst FROM g
    UNION
    SELECT t.src, g.dst FROM tc t JOIN g ON g.src = t.dst
)
, mutual AS (
    SELECT a.src AS u, a.dst AS v
    FROM tc a JOIN tc b ON b.src = a.dst AND b.dst = a.src
)
SELECT vt.id, least(vt.id, coalesce(min(m.v), vt.id)) AS scc
FROM verts vt LEFT JOIN mutual m ON m.u = vt.id
GROUP BY vt.id
"""


# random-walk oracle: unrolled steps with the SAME portable LCG choice
# arithmetic (operators/walks.choice_sql) and per-vertex neighbor index
def _walks_sql(
    walk_len: int, walks_per_vertex: int, window: int, seed: int,
    tail: str | None = None,
) -> str:
    from ..operators.walks import choice_sql

    wvals = ", ".join(f"({i})" for i in range(walks_per_vertex))
    parts = [
        f"""
, nbr AS (SELECT src, dst,
          row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
          FROM sym)
, deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src)
, s0 AS (SELECT d.src * {walks_per_vertex} + w.w AS walk_id,
                d.src AS vertex, d.deg
         FROM deg d, (VALUES {wvals}) w(w))
"""
    ]
    for s in range(1, walk_len + 1):
        p = s - 1
        choice = choice_sql("c.walk_id", str(s), "c.vertex", "c.deg", seed)
        parts.append(
            f""", s{s}_raw AS (
  SELECT c.walk_id, n.dst AS vertex FROM s{p} c
  JOIN nbr n ON n.src = c.vertex AND n.idx = {choice}
), s{s} AS (
  SELECT r.walk_id, r.vertex, deg.deg FROM s{s}_raw r
  JOIN deg ON deg.src = r.vertex
)"""
        )
    steps_union = "\nUNION ALL ".join(
        f"SELECT walk_id, {s} AS step, vertex FROM s{s}" for s in range(walk_len + 1)
    )
    parts.append(
        f""", walks AS ({steps_union})
, pr AS (
  SELECT least(x.vertex, y.vertex) AS a, greatest(x.vertex, y.vertex) AS b
  FROM walks x JOIN walks y
    ON x.walk_id = y.walk_id AND y.step > x.step
   AND y.step - x.step <= {window} AND x.vertex <> y.vertex
)
{tail or "SELECT a, b, count(*) AS cnt FROM pr GROUP BY a, b"}
"""
    )
    return "".join(parts)


# PPMI tail over the walk-pair counts: integer counts throughout, one ln
# at the end — mirrors operators/walks.ppmi_pairs exactly
_PPMI_TAIL = """
, pcnt AS MATERIALIZED (SELECT a, b, count(*) AS cnt FROM pr GROUP BY a, b)
, tot AS (SELECT sum(cnt) AS n_total FROM pcnt)
, marg AS (
  SELECT v, sum(cnt) AS m FROM (
    SELECT a AS v, cnt FROM pcnt
    UNION ALL SELECT b AS v, cnt FROM pcnt
  ) GROUP BY v
)
SELECT p.a, p.b, p.cnt,
       round(greatest(0.0, ln(p.cnt * t.n_total * 1.0 / (ma.m * mb.m))), 6)
         AS ppmi6
FROM pcnt p
CROSS JOIN tot t
JOIN marg ma ON ma.v = p.a
JOIN marg mb ON mb.v = p.b
"""


def _n2v_sql(
    walk_len: int, walks_per_vertex: int, p: int, q: int, window: int, seed: int
) -> str:
    """Unrolled DuckDB mirror of walks.node2vec_walks + walk_pairs: step 1
    is the uniform index draw, every later step the integer-weight
    (q, p·q, p) cumulative-sum inversion over dst-ordered candidates."""
    from ..operators.walks import choice_sql

    w_ret, w_nbr, w_far = q, p * q, p
    wvals = ", ".join(f"({i})" for i in range(walks_per_vertex))
    c1 = choice_sql("c.walk_id", "1", "c.vertex", "c.deg", seed)
    parts = [
        f"""
, nbr AS MATERIALIZED (SELECT src, dst,
          row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
          FROM sym)
, deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY src)
, s0 AS MATERIALIZED (SELECT d.src * {walks_per_vertex} + w.w AS walk_id,
                d.src AS vertex, d.deg
         FROM deg d, (VALUES {wvals}) w(w))
, s1 AS MATERIALIZED (
  SELECT c.walk_id, c.vertex AS prev, n.dst AS vertex FROM s0 c
  JOIN nbr n ON n.src = c.vertex AND n.idx = {c1}
)"""
    ]
    for s in range(2, walk_len + 1):
        r = choice_sql("walk_id", str(s), "vertex", "tot", seed)
        parts.append(
            f""", c{s} AS MATERIALIZED (
  SELECT c.walk_id, c.prev, c.vertex, n.dst AS cand,
         CASE WHEN n.dst = c.prev THEN {w_ret}
              WHEN ex.src IS NOT NULL THEN {w_nbr}
              ELSE {w_far} END AS wt
  FROM s{s - 1} c JOIN nbr n ON n.src = c.vertex
  LEFT JOIN sym ex ON ex.src = c.prev AND ex.dst = n.dst
), w{s} AS MATERIALIZED (
  SELECT *, sum(wt) OVER (PARTITION BY walk_id ORDER BY cand
                          ROWS UNBOUNDED PRECEDING) AS cum,
            sum(wt) OVER (PARTITION BY walk_id) AS tot
  FROM c{s}
), s{s} AS MATERIALIZED (
  SELECT walk_id, vertex AS prev, cand AS vertex
  FROM w{s}
  WHERE cum - wt <= {r} AND {r} < cum
)"""
        )
    steps = [f"SELECT walk_id, 0 AS step, vertex FROM s0"] + [
        f"SELECT walk_id, {s} AS step, vertex FROM s{s}"
        for s in range(1, walk_len + 1)
    ]
    steps_union = "\nUNION ALL ".join(steps)
    parts.append(
        f""", walks AS MATERIALIZED ({steps_union})
, pr AS (
  SELECT least(x.vertex, y.vertex) AS a, greatest(x.vertex, y.vertex) AS b
  FROM walks x JOIN walks y
    ON x.walk_id = y.walk_id AND y.step > x.step
   AND y.step - x.step <= {window} AND x.vertex <> y.vertex
)
SELECT a, b, count(*) AS cnt FROM pr GROUP BY a, b
"""
    )
    return "".join(parts)


def _q_node2vec_pairs(spark, sf_dir):
    """Skip-gram pairs from node2vec-biased walks (p=1, q=4: BFS-flavored
    local exploration; 1 walk of length 3 per vertex, window 2) — the
    second-order biased variant of graph_walk_pairs."""
    from ..operators.walks import node2vec_walks, walk_pairs

    w = node2vec_walks(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        walk_len=3, walks_per_vertex=1, p=1, q=4, seed=1,
    )
    return walk_pairs(w, window=2)


def _q_walk_ppmi(spark, sf_dir):
    """PPMI association scores over the deterministic walk-pair corpus —
    the count-based matrix an embedding pipeline factorizes (same walks
    as graph_walk_pairs, so the oracle reuses that unrolled chain with a
    PPMI tail)."""
    from ..operators.walks import ppmi_pairs, random_walks, walk_pairs

    w = random_walks(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        walk_len=4, walks_per_vertex=2, seed=1,
    )
    return ppmi_pairs(walk_pairs(w, window=2)).select(
        "a", "b", "cnt", F.round("ppmi", 6).alias("ppmi6")
    )


def _q_link_predict_aa(spark, sf_dir):
    """Adamic-Adar + resource-allocation link prediction — the
    degree-weighted siblings of link_predict_jaccard."""
    from ..operators.metrics import link_prediction_adamic_adar

    return link_prediction_adamic_adar(
        edges(spark, sf_dir, G_SPARSE_SQL), min_common=2
    ).select(
        "a", "b", "cn",
        F.round("aa", 6).alias("aa6"), F.round("ra", 6).alias("ra6"),
    )


def _q_walk_pairs(spark, sf_dir):
    """Skip-gram training pairs from deterministic random walks (2 walks
    of length 4 per vertex, window 2) — the embedding-corpus generator a
    DeepWalk-style pipeline feeds to its trainer."""
    from ..operators.walks import random_walks, walk_pairs

    w = random_walks(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        walk_len=4, walks_per_vertex=2, seed=1,
    )
    return walk_pairs(w, window=2)


# k-truss oracle: unrolled peel chain (support filter per round), like
# the k-core oracle; the kernel asserts it converged in fewer rounds.
KTRUSS_ORACLE_ROUNDS = 15


def _ktruss_sql(k: int, rounds: int = KTRUSS_ORACLE_ROUNDS) -> str:
    parts = [", e0 AS MATERIALIZED (SELECT src, dst FROM g)"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", t{r} AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e{p} e1 JOIN e{p} e2 ON e1.dst = e2.src
  JOIN e{p} e3 ON e3.src = e1.src AND e3.dst = e2.dst
), s{r} AS MATERIALIZED (
  SELECT src, dst, count(*) AS sup FROM (
    SELECT a AS src, b AS dst FROM t{r}
    UNION ALL SELECT b, c FROM t{r}
    UNION ALL SELECT a, c FROM t{r}
  ) GROUP BY src, dst
), e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{p} e
  LEFT JOIN s{r} s ON s.src = e.src AND s.dst = e.dst
  WHERE coalesce(s.sup, 0) >= {k - 2}
)"""
        )
    parts.append(f" SELECT src, dst FROM e{rounds}")
    return "".join(parts)


def _q_ktruss4(spark, sf_dir):
    """4-truss edge set on the sparse graph — every surviving edge sits in
    ≥ 2 triangles of the surviving subgraph."""
    from ..operators.ktruss import k_truss

    res = k_truss(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), k=4,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds < KTRUSS_ORACLE_ROUNDS):
        raise RuntimeError(
            f"k-truss peeling took {res.rounds} rounds (converged="
            f"{res.converged}); the {KTRUSS_ORACLE_ROUNDS}-round unrolled "
            "oracle would silently diverge — raise KTRUSS_ORACLE_ROUNDS"
        )
    return res.edges.select("src", "dst")


def _q_scc(spark, sf_dir):
    """SCC on the direction-mixed sparse graph — min-label coloring
    phases (operators/scc.py), oracled by a UNION-fixpoint transitive
    closure + mutual-reachability min."""
    from ..operators.scc import strongly_connected_components

    res = strongly_connected_components(
        spark, edges(spark, sf_dir, _G_DIRMIX_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.components.select("id", "scc")


# SSSP oracle: Bellman-Ford as a recursive CTE. The weight-0 self-loop on
# every vertex carries the running min through each round (the CC oracle's
# keep-alive trick), so the recursive term references sp exactly once.
SSSP_ORACLE_ITERS = 50

_SSSP_SQL = f"""
WITH RECURSIVE g AS ({_G_WSPARSE_SQL})
, sym AS (SELECT src, dst, w FROM g
          UNION ALL SELECT dst AS src, src AS dst, w FROM g)
, verts AS (SELECT DISTINCT src AS id FROM sym)
, src0 AS (SELECT min(id) AS s FROM verts)
, ep AS (SELECT src, dst, w FROM sym
         UNION ALL SELECT id, id, 0.0 FROM verts)
, sp(iter, id, dist) AS (
    SELECT 0, (SELECT s FROM src0), 0.0
    UNION ALL
    SELECT t.iter + 1, e.dst, min(t.dist + e.w)
    FROM sp t JOIN ep e ON e.src = t.id
    WHERE t.iter < {SSSP_ORACLE_ITERS}
    GROUP BY t.iter, e.dst
)
SELECT id, dist FROM sp WHERE iter = {SSSP_ORACLE_ITERS}
"""

# HITS oracle: Jacobi hub/auth power iteration over the bipartite message
# graph bm (hub side of src feeds auth side of dst and vice versa); the
# weight-0 (id, side) self-messages keep zero-score rows alive. Final L1
# normalization only — per-step normalization is a pure rescale (see
# operators/hits.py docstring).
_HITS_SQL = f"""
WITH RECURSIVE g AS ({G_SPARSE_SQL})
, verts AS (SELECT DISTINCT id FROM
            (SELECT src AS id FROM g UNION ALL SELECT dst FROM g))
, sides(side) AS (VALUES ('h'), ('a'))
, bm AS (
    SELECT src AS fid, 'h' AS fs, dst AS tid, 'a' AS ts,
           CAST(1.0 AS DOUBLE) AS w FROM g
    UNION ALL
    SELECT dst, 'a', src, 'h', CAST(1.0 AS DOUBLE) FROM g
    UNION ALL
    SELECT id, side, id, side, CAST(0.0 AS DOUBLE) FROM verts, sides
)
, st(iter, id, side, val) AS (
    SELECT 0, id, side, CAST(1.0 AS DOUBLE) FROM verts, sides
    UNION ALL
    SELECT t.iter + 1, b.tid, b.ts, sum(t.val * b.w)
    FROM st t JOIN bm b ON b.fid = t.id AND b.fs = t.side
    WHERE t.iter < 8
    GROUP BY t.iter, b.tid, b.ts
)
, fin AS (SELECT id, side, val FROM st WHERE iter = 8)
, tot AS (SELECT side, sum(val) AS s FROM fin GROUP BY side)
SELECT f.id,
       round(max(CASE WHEN f.side = 'h' THEN f.val / t.s END), 7) AS hub7,
       round(max(CASE WHEN f.side = 'a' THEN f.val / t.s END), 7) AS auth7
FROM fin f JOIN tot t ON t.side = f.side
GROUP BY f.id
"""


# SALSA oracle: the HITS recursion with degree-normalized message weights
# (fwd 1/outdeg(src), bwd 1/indeg(dst)) — see operators/hits.py::salsa.
_SALSA_SQL = f"""
WITH RECURSIVE g AS ({G_SPARSE_SQL})
, verts AS (SELECT DISTINCT id FROM
            (SELECT src AS id FROM g UNION ALL SELECT dst FROM g))
, sides(side) AS (VALUES ('h'), ('a'))
, odeg AS (SELECT src, count(*) AS od FROM g GROUP BY src)
, ideg AS (SELECT dst, count(*) AS idg FROM g GROUP BY dst)
, bm AS (
    SELECT g.src AS fid, 'h' AS fs, g.dst AS tid, 'a' AS ts,
           CAST(1.0 AS DOUBLE) / o.od AS w
    FROM g JOIN odeg o ON o.src = g.src
    UNION ALL
    SELECT g.dst, 'a', g.src, 'h', CAST(1.0 AS DOUBLE) / i.idg
    FROM g JOIN ideg i ON i.dst = g.dst
    UNION ALL
    SELECT id, side, id, side, CAST(0.0 AS DOUBLE) FROM verts, sides
)
, st(iter, id, side, val) AS (
    SELECT 0, id, side, CAST(1.0 AS DOUBLE) FROM verts, sides
    UNION ALL
    SELECT t.iter + 1, b.tid, b.ts, sum(t.val * b.w)
    FROM st t JOIN bm b ON b.fid = t.id AND b.fs = t.side
    WHERE t.iter < 8
    GROUP BY t.iter, b.tid, b.ts
)
, fin AS (SELECT id, side, val FROM st WHERE iter = 8)
, tot AS (SELECT side, sum(val) AS s FROM fin GROUP BY side)
SELECT f.id,
       round(max(CASE WHEN f.side = 'h' THEN f.val / t.s END), 7) AS hub7,
       round(max(CASE WHEN f.side = 'a' THEN f.val / t.s END), 7) AS auth7
FROM fin f JOIN tot t ON t.side = f.side
GROUP BY f.id
"""


def _q_salsa(spark, sf_dir):
    from ..operators.hits import salsa

    res = salsa(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), max_iter=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.scores.select(
        "id",
        F.round("hub", 7).alias("hub7"),
        F.round("auth", 7).alias("auth7"),
    )


def _q_hits(spark, sf_dir):
    from ..operators.hits import hits

    res = hits(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), max_iter=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.scores.select(
        "id",
        F.round("hub", 7).alias("hub7"),
        F.round("auth", 7).alias("auth7"),
    )


def _q_clustering(spark, sf_dir):
    from ..operators.metrics import clustering_coefficient

    return clustering_coefficient(
        edges(spark, sf_dir, G_SPARSE_SQL)
    ).select("id", F.round("lcc", 6).alias("lcc6"))


def _q_assortativity(spark, sf_dir):
    from ..operators.metrics import degree_pairs

    r = (
        degree_pairs(edges(spark, sf_dir, G_SPARSE_SQL))
        .agg(F.round(F.corr("du", "dv"), 6).alias("assort6"))
    )
    return r


def _q_avg_nbr_deg(spark, sf_dir):
    from ..operators.metrics import avg_neighbor_degree

    return avg_neighbor_degree(edges(spark, sf_dir, G_SPARSE_SQL)).select(
        "id", F.round("avg_nbr_deg", 6).alias("and6")
    )


def _q_link_predict(spark, sf_dir):
    from ..operators.metrics import link_prediction_jaccard

    return link_prediction_jaccard(
        edges(spark, sf_dir, G_SPARSE_SQL), min_common=2
    ).select("a", "b", "cn", F.round("jaccard", 6).alias("jaccard6"))


def _q_sssp(spark, sf_dir):
    from ..operators.graph import vertex_ids
    from ..operators.sssp import sssp

    e = edges(spark, sf_dir, _G_WSPARSE_SQL)
    source = int(vertex_ids(e).agg(F.min("id")).first()[0])
    res = sssp(
        spark, e, source, weight_col="w", directed=False,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.supersteps < SSSP_ORACLE_ITERS):
        raise RuntimeError(
            f"sssp took {res.supersteps} supersteps (converged="
            f"{res.converged}); the {SSSP_ORACLE_ITERS}-round oracle would "
            "silently diverge — raise SSSP_ORACLE_ITERS"
        )
    return res.distances.select("id", "dist")


_EIGEN_SQL = f"""
WITH RECURSIVE g AS ({G_SPARSE_SQL})
, sym AS (SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g)
, verts AS (SELECT DISTINCT src AS id FROM sym)
, me AS (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM sym
         UNION ALL SELECT id, id, CAST(0.0 AS DOUBLE) FROM verts)
, st(iter, id, val) AS (
    SELECT 0, id, CAST(1.0 AS DOUBLE) FROM verts
    UNION ALL
    SELECT t.iter + 1, e.dst, sum(t.val * e.w)
    FROM st t JOIN me e ON e.src = t.id
    WHERE t.iter < 8
    GROUP BY t.iter, e.dst
)
, fin AS (SELECT id, val FROM st WHERE iter = 8)
, tot AS (SELECT sum(val) AS s FROM fin)
SELECT id, round(val / (SELECT s FROM tot), 7) AS score7 FROM fin
"""


def _q_eigen(spark, sf_dir):
    from ..operators.eigencentrality import eigenvector_centrality

    res = eigenvector_centrality(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), max_iter=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.scores.select("id", F.round("score", 7).alias("score7"))


def _q_graph_summary(spark, sf_dir):
    """One-row dashboard of the sparse graph: sizes, degrees, triangles,
    component count — the composition a monitoring job materializes."""
    from ..operators.components import connected_components
    from ..operators.graph import canonical_undirected, degrees
    from ..operators.triangles import triangle_count

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    canon = canonical_undirected(e).persist()
    deg = degrees(canon).persist()
    row = deg.agg(
        F.count("*").alias("nv"),
        F.max("degree").alias("mx"),
        F.round(F.avg("degree"), 6).alias("avgd"),
    ).first()
    ne = canon.count()
    nt = triangle_count(canon)
    nc = (
        connected_components(
            spark, canon, num_partitions=graph_nparts(spark, sf_dir)
        )
        .components.select("component").distinct().count()
    )
    deg.unpersist()
    canon.unpersist()
    return spark.createDataFrame(
        [(row["nv"], ne, row["mx"], float(row["avgd"]), nt, nc)],
        "n_vertices BIGINT, n_edges BIGINT, max_degree BIGINT, "
        "avg_degree6 DOUBLE, n_triangles BIGINT, n_components BIGINT",
    )


def _q_bipartite_weighted(spark, sf_dir):
    """The engine's edge-table derivation as a first-class operator:
    weighted co-membership projection of (order, part) — exactly the
    graph every weighted kernel query consumes."""
    from ..operators.graph import bipartite_projection
    from ._common import register

    register(spark, sf_dir)
    li = spark.table("lineitem").where("l_orderkey % 20 = 0")
    return bipartite_projection(
        li, "l_orderkey", "l_partkey", weighted=True
    ).select("src", "dst", "w")


def _q_sssp_incremental(spark, sf_dir):
    """Incremental weighted SSSP over 3 synthetic arrival buckets
    (ts = src % 3): min-plus is monotone under edge appends, so each
    bucket relaxes only its own edges against the carried fixpoint and
    sweeps frontier-restricted — the batch oracle checks the incremental
    engine end-to-end (same pattern as incremental_cc_replay)."""
    from ..operators.graph import vertex_ids
    from ..operators.incremental import incremental_sssp

    e = edges(spark, sf_dir, _G_WSPARSE_SQL).withColumn(
        "ts", (F.col("src") % 3).cast("int")
    )
    source = int(vertex_ids(e).agg(F.min("id")).first()[0])
    res = incremental_sssp(
        spark, e, source, base_steps=1,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.state.select("id", "dist")


def _q_harmonic_seeds(spark, sf_dir):
    """Harmonic centrality contribution from the 5 lowest-id seeds within
    3 hops: Σ_seeds 1/hops — the seeded-proximity composition over the
    J4 bounded closure (one frontier expansion, work ∝ seed
    neighborhoods)."""
    from ..operators.graph import vertex_ids
    from ..operators.paths import path_closure_from

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    seeds = vertex_ids(e).orderBy("id").limit(5)
    cl = path_closure_from(e, seeds, max_hops=3, directed=False)
    return (
        cl.groupBy(F.col("dst").alias("id"))
        .agg(F.round(F.sum(1.0 / F.col("hops")), 6).alias("harm6"))
    )


def _q_square_count(spark, sf_dir):
    from ..operators.metrics import square_count

    n = square_count(edges(spark, sf_dir, G_SPARSE_SQL))
    return spark.createDataFrame([(n,)], "n_squares BIGINT")


QUERIES = {
    "hits_fixed8": (_q_hits, _HITS_SQL),
    "salsa_fixed8": (_q_salsa, _SALSA_SQL),
    # identical oracle to sssp_weighted: the incremental replay must land
    # on the batch fixpoint
    "sssp_incremental": (_q_sssp_incremental, _SSSP_SQL),
    "harmonic_centrality_seeds": (
        _q_harmonic_seeds,
        _with_g(
            """
            , verts AS (SELECT DISTINCT src AS id FROM sym)
            , seeds AS (SELECT id FROM verts ORDER BY id LIMIT 5)
            , h1 AS (SELECT s.id AS sid, e.dst, 1 AS hops
                     FROM seeds s JOIN sym e ON e.src = s.id)
            , h2 AS (SELECT h.sid, e.dst, 2 AS hops
                     FROM (SELECT DISTINCT sid, dst FROM h1) h
                     JOIN sym e ON e.src = h.dst WHERE e.dst <> h.sid)
            , h3 AS (SELECT h.sid, e.dst, 3 AS hops
                     FROM (SELECT DISTINCT sid, dst FROM h2) h
                     JOIN sym e ON e.src = h.dst WHERE e.dst <> h.sid)
            , hh AS (
                SELECT sid, dst, min(hops) AS hops FROM (
                    SELECT * FROM h1 UNION ALL
                    SELECT * FROM h2 UNION ALL
                    SELECT * FROM h3
                ) GROUP BY sid, dst
            )
            SELECT dst AS id, round(sum(1.0 / hops), 6) AS harm6
            FROM hh GROUP BY dst
            """,
            G_SPARSE_SQL,
        ),
    ),
    "square_count": (
        _q_square_count,
        _with_g(
            """
            , cn AS (
                SELECT w1.src AS a, w2.src AS b, count(*) AS cn
                FROM sym w1 JOIN sym w2
                  ON w1.dst = w2.dst AND w1.src < w2.src
                GROUP BY w1.src, w2.src
            )
            SELECT CAST(sum(cn * (cn - 1) // 2) // 2 AS BIGINT) AS n_squares
            FROM cn
            """,
            G_SPARSE_SQL,
        ),
    ),
    "clustering_coeff": (
        _q_clustering,
        _with_g(
            """
            , tri AS (
                SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                FROM g e1 JOIN g e2 ON e1.dst = e2.src
                JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst
            )
            , corners AS (
                SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
            , nt AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY id)
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            SELECT deg.id,
                   round(CASE WHEN d >= 2
                         THEN 2.0 * coalesce(n_tri, 0) / (d * (d - 1.0))
                         ELSE 0.0 END, 6) AS lcc6
            FROM deg LEFT JOIN nt ON nt.id = deg.id
            """,
            G_SPARSE_SQL,
        ),
    ),
    "assortativity": (
        _q_assortativity,
        _with_g(
            """
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            SELECT round(corr(du.d, dv.d), 6) AS assort6
            FROM sym e JOIN deg du ON du.id = e.src
                       JOIN deg dv ON dv.id = e.dst
            """,
            G_SPARSE_SQL,
        ),
    ),
    "avg_neighbor_degree": (
        _q_avg_nbr_deg,
        _with_g(
            """
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            SELECT e.src AS id, round(avg(dv.d), 6) AS and6
            FROM sym e JOIN deg dv ON dv.id = e.dst
            GROUP BY e.src
            """,
            G_SPARSE_SQL,
        ),
    ),
    "link_predict_jaccard": (
        _q_link_predict,
        _with_g(
            """
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            , cn AS (
                SELECT w1.src AS a, w2.src AS b, count(*) AS cn
                FROM sym w1 JOIN sym w2
                  ON w1.dst = w2.dst AND w1.src < w2.src
                GROUP BY w1.src, w2.src
                HAVING count(*) >= 2
            )
            SELECT c.a, c.b, c.cn,
                   round(c.cn / (da.d + db.d - c.cn * 1.0), 6) AS jaccard6
            FROM cn c
            JOIN deg da ON da.id = c.a
            JOIN deg db ON db.id = c.b
            WHERE NOT EXISTS (
                SELECT 1 FROM sym s WHERE s.src = c.a AND s.dst = c.b
            )
            """,
            G_SPARSE_SQL,
        ),
    ),
    "sssp_weighted": (_q_sssp, _SSSP_SQL),
    "strongly_connected": (_q_scc, _SCC_SQL),
    "ktruss4_edges": (_q_ktruss4, _with_g(_ktruss_sql(4), G_SPARSE_SQL)),
    "graph_walk_pairs": (
        _q_walk_pairs,
        _with_g(_walks_sql(4, 2, 2, 1), G_SPARSE_SQL),
    ),
    "graph_walk_ppmi": (
        _q_walk_ppmi,
        _with_g(_walks_sql(4, 2, 2, 1, tail=_PPMI_TAIL), G_SPARSE_SQL),
    ),
    "link_predict_adamic": (
        _q_link_predict_aa,
        _with_g(
            """
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            , cn AS (
                SELECT w1.src AS a, w2.src AS b, count(*) AS cn,
                       sum(1.0 / ln(dn.d)) AS aa, sum(1.0 / dn.d) AS ra
                FROM sym w1 JOIN sym w2
                  ON w1.dst = w2.dst AND w1.src < w2.src
                JOIN deg dn ON dn.id = w1.dst
                GROUP BY w1.src, w2.src
                HAVING count(*) >= 2
            )
            SELECT c.a, c.b, c.cn,
                   round(c.aa, 6) AS aa6, round(c.ra, 6) AS ra6
            FROM cn c
            WHERE NOT EXISTS (
                SELECT 1 FROM sym s WHERE s.src = c.a AND s.dst = c.b
            )
            """,
            G_SPARSE_SQL,
        ),
    ),
    "graph_node2vec_pairs": (
        _q_node2vec_pairs,
        _with_g(_n2v_sql(3, 1, 1, 4, 2, 1), G_SPARSE_SQL),
    ),
    "graph_bipartite_weighted": (_q_bipartite_weighted, _G_WSPARSE_SQL),
    "eigencentrality_fixed8": (_q_eigen, _EIGEN_SQL),
    "graph_summary": (
        _q_graph_summary,
        _with_g(
            _CC_CTE
            + f"""
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            , tri AS (
                SELECT count(*) AS t
                FROM g e1 JOIN g e2 ON e1.dst = e2.src
                JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst
            )
            , comp AS (SELECT count(DISTINCT comp) AS c FROM cc
                       WHERE iter = {CC_ORACLE_ITERS})
            SELECT (SELECT count(*) FROM deg) AS n_vertices,
                   (SELECT count(*) FROM g) AS n_edges,
                   (SELECT max(d) FROM deg) AS max_degree,
                   round((SELECT avg(d * 1.0) FROM deg), 6) AS avg_degree6,
                   (SELECT t FROM tri) AS n_triangles,
                   (SELECT c FROM comp) AS n_components
            """,
            G_SPARSE_SQL,
            recursive=True,
        ),
    ),
}


# ---- truncated Katz centrality --------------------------------------
# integer walk counts per level; ONE left-associative float expression at
# the end, with the α^j constants embedded as repr() round-trip literals
# so both engines parse the identical doubles → bit-identical result
_KATZ_K, _KATZ_ALPHA = 4, 0.05


def _q_katz(spark, sf_dir):
    from ..operators.centrality import katz_truncated

    return katz_truncated(
        edges(spark, sf_dir, G_SPARSE_SQL), k=_KATZ_K, alpha=_KATZ_ALPHA
    ).select("id", F.round("katz", 8).alias("katz8"))


def _katz_sql(k: int, alpha: float) -> str:
    parts = [
        ", verts AS (SELECT DISTINCT src AS id FROM sym)",
        ", w1 AS (SELECT dst AS id, count(*) AS w FROM sym GROUP BY dst)",
    ]
    for j in range(2, k + 1):
        parts.append(
            f", w{j} AS (SELECT e.dst AS id, CAST(sum(p.w) AS BIGINT) AS w"
            f" FROM sym e JOIN w{j-1} p ON p.id = e.src GROUP BY e.dst)"
        )
    expr = " + ".join(
        f"{alpha ** j!r} * CAST(coalesce(w{j}.w, 0) AS DOUBLE)"
        for j in range(1, k + 1)
    )
    joins = " ".join(f"LEFT JOIN w{j} ON w{j}.id = v.id" for j in range(1, k + 1))
    parts.append(f"SELECT v.id, round({expr}, 8) AS katz8 FROM verts v {joins}")
    return "".join(parts)


# ---- seeded bounded-distance betweenness (truncated Brandes) --------
def _q_betweenness(spark, sf_dir):
    from ..operators.centrality import betweenness_seeded

    return betweenness_seeded(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), n_seeds=5, max_hops=3
    ).select("id", F.round("bc", 6).alias("bc6"))


# shared truncated-Brandes CTE chain (5 seeds, 3 hops): forward levels
# l0..l3 with exact integer sigma, backward vertex deltas d2/d1 — the
# prefix both the vertex query below and metricsq8's edge-betweenness
# oracle build on.
_BRANDES_CTES = """
, verts AS (SELECT DISTINCT src AS id FROM sym)
, seeds AS (SELECT id FROM verts ORDER BY id LIMIT 5)
, l0 AS (SELECT id AS sid, id AS v, CAST(1 AS BIGINT) AS sigma FROM seeds)
, l1 AS (
  SELECT l0.sid, e.dst AS v, CAST(sum(l0.sigma) AS BIGINT) AS sigma
  FROM l0 JOIN sym e ON e.src = l0.v
  WHERE e.dst <> l0.sid
  GROUP BY l0.sid, e.dst)
, l2 AS (
  SELECT l1.sid, e.dst AS v, CAST(sum(l1.sigma) AS BIGINT) AS sigma
  FROM l1 JOIN sym e ON e.src = l1.v
  WHERE e.dst <> l1.sid
    AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.sid = l1.sid AND x.v = e.dst)
  GROUP BY l1.sid, e.dst)
, l3 AS (
  SELECT l2.sid, e.dst AS v, CAST(sum(l2.sigma) AS BIGINT) AS sigma
  FROM l2 JOIN sym e ON e.src = l2.v
  WHERE e.dst <> l2.sid
    AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.sid = l2.sid AND x.v = e.dst)
    AND NOT EXISTS (SELECT 1 FROM l2 y WHERE y.sid = l2.sid AND y.v = e.dst)
  GROUP BY l2.sid, e.dst)
, d2 AS (
  SELECT l2.sid, l2.v,
         sum((CAST(l2.sigma AS DOUBLE) / CAST(l3.sigma AS DOUBLE)) * 1.0) AS delta
  FROM l2 JOIN sym e ON e.src = l2.v
  JOIN l3 ON l3.sid = l2.sid AND l3.v = e.dst
  GROUP BY l2.sid, l2.v)
, d1 AS (
  SELECT l1.sid, l1.v,
         sum((CAST(l1.sigma AS DOUBLE) / CAST(l2s.sigma AS DOUBLE))
             * (1.0 + coalesce(d2.delta, 0.0))) AS delta
  FROM l1 JOIN sym e ON e.src = l1.v
  JOIN l2 l2s ON l2s.sid = l1.sid AND l2s.v = e.dst
  LEFT JOIN d2 ON d2.sid = l2s.sid AND d2.v = l2s.v
  GROUP BY l1.sid, l1.v)
, allv AS (
  SELECT sid, v FROM l1 UNION SELECT sid, v FROM l2 UNION SELECT sid, v FROM l3)
, dd AS (
  SELECT sid, v, delta FROM d1 UNION ALL SELECT sid, v, delta FROM d2)
"""

_BETWEENNESS_SQL = _BRANDES_CTES + """
SELECT a.v AS id, round(sum(coalesce(dd.delta, 0.0)), 6) AS bc6
FROM allv a LEFT JOIN dd ON dd.sid = a.sid AND dd.v = a.v
GROUP BY a.v
"""

QUERIES["graph_katz4"] = (_q_katz, _with_g(_katz_sql(_KATZ_K, _KATZ_ALPHA), G_SPARSE_SQL))
QUERIES["graph_betweenness_seeds"] = (
    _q_betweenness,
    _with_g(_BETWEENNESS_SQL, G_SPARSE_SQL),
)


# ---- bow-tie decomposition (Broder web-graph structure) -------------
def _q_bowtie(spark, sf_dir):
    """Per-vertex bow-tie class over the mixed-direction co-occurrence
    digraph — the canonical link-graph structure report."""
    from ..operators.bowtie import bowtie_decomposition

    return bowtie_decomposition(
        spark, edges(spark, sf_dir, _G_DIRMIX_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    ).classes


# same recursive closure as _SCC_SQL, then classify against the largest
# SCC with the identical CASE order the Spark when-chain uses
_BOWTIE_SQL = f"""
WITH RECURSIVE g AS ({_G_DIRMIX_SQL})
, verts AS (SELECT DISTINCT id FROM
            (SELECT src AS id FROM g UNION ALL SELECT dst FROM g))
, tc(src, dst) AS (
    SELECT src, dst FROM g
    UNION
    SELECT t.src, g.dst FROM tc t JOIN g ON g.src = t.dst
)
, mutual AS (
    SELECT a.src AS u, a.dst AS v
    FROM tc a JOIN tc b ON b.src = a.dst AND b.dst = a.src
)
, scc AS (
    SELECT vt.id, least(vt.id, coalesce(min(m.v), vt.id)) AS scc
    FROM verts vt LEFT JOIN mutual m ON m.u = vt.id
    GROUP BY vt.id
)
, core_id AS (
    SELECT scc FROM (SELECT scc, count(*) AS n FROM scc GROUP BY scc)
    ORDER BY n DESC, scc ASC LIMIT 1
)
, core AS (SELECT id FROM scc WHERE scc = (SELECT scc FROM core_id))
, outs AS (
    SELECT DISTINCT t.dst AS id FROM tc t JOIN core c ON c.id = t.src
    WHERE t.dst NOT IN (SELECT id FROM core)
)
, ins AS (
    SELECT DISTINCT t.src AS id FROM tc t JOIN core c ON c.id = t.dst
    WHERE t.src NOT IN (SELECT id FROM core)
)
, fin AS (
    SELECT id FROM ins
    UNION
    SELECT DISTINCT t.dst AS id FROM tc t JOIN ins i ON i.id = t.src
)
, bout AS (
    SELECT id FROM outs
    UNION
    SELECT DISTINCT t.src AS id FROM tc t JOIN outs o ON o.id = t.dst
)
SELECT vt.id,
       CASE WHEN vt.id IN (SELECT id FROM core) THEN 'core'
            WHEN vt.id IN (SELECT id FROM ins) THEN 'in'
            WHEN vt.id IN (SELECT id FROM outs) THEN 'out'
            WHEN vt.id IN (SELECT id FROM fin)
                 AND vt.id IN (SELECT id FROM bout) THEN 'tube'
            WHEN vt.id IN (SELECT id FROM fin)
                 OR vt.id IN (SELECT id FROM bout) THEN 'tendril'
            ELSE 'disconnected' END AS cls
FROM verts vt
"""

QUERIES["graph_bowtie"] = (_q_bowtie, _BOWTIE_SQL)


# ---- RWR link recommendation (who-to-link) --------------------------
def _q_link_recommend(spark, sf_dir):
    """Top-20 link recommendations for the lowest-id vertex: rank
    NON-neighbors by seeded-RWR proximity (8 fixed rounds, restart 0.7 —
    the reference's G-Ray proximity primitive turned into the classic
    who-to-link application). Deterministic: ranked on the round-7 score
    with id tie-break, so the top-20 set is engine-exact."""
    from ..operators.graph import symmetrize, vertex_ids
    from ..operators.pagerank import pagerank

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    seed = int(vertex_ids(e).agg(F.min("id")).first()[0])
    res = pagerank(
        spark, e, alpha=0.3, tol=0.0, max_iter=8,
        personalization={seed: 1.0},
        num_partitions=graph_nparts(spark, sf_dir),
    )
    nbrs = (
        symmetrize(e).where(F.col("src") == seed)
        .select(F.col("dst").alias("id"))
    )
    return (
        res.ranks.where(F.col("id") != seed)
        .join(nbrs, "id", "left_anti")
        .select("id", F.round("rank", 7).alias("rwr7"))
        .orderBy(F.desc("rwr7"), F.asc("id"))
        .limit(20)
    )


_LINK_RECOMMEND_SQL = """
, verts AS (SELECT DISTINCT src AS id FROM sym)
, deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src)
, nn AS (SELECT count(*) AS c FROM verts)
, seed AS (SELECT min(id) AS id FROM verts)
, pv AS (SELECT v.id,
                CASE WHEN v.id = (SELECT id FROM seed) THEN 1.0 ELSE 0.0 END AS p
         FROM verts v)
, pr(iter, id, r) AS (
    SELECT 0, id, 1.0 / (SELECT c FROM nn) FROM verts
    UNION ALL
    SELECT p.iter + 1, e.dst,
           0.7 * min(pv.p) + 0.3 * sum(p.r / d.d)
    FROM pr p JOIN sym e ON e.src = p.id
              JOIN deg d ON d.src = p.id
              JOIN pv ON pv.id = e.dst
    WHERE p.iter < 8
    GROUP BY p.iter, e.dst
)
SELECT id, round(r, 7) AS rwr7 FROM pr
WHERE iter = 8
  AND id <> (SELECT id FROM seed)
  AND id NOT IN (SELECT dst FROM sym WHERE src = (SELECT id FROM seed))
ORDER BY rwr7 DESC, id ASC
LIMIT 20
"""

QUERIES["link_recommend_rwr"] = (
    _q_link_recommend,
    _with_g(_LINK_RECOMMEND_SQL, G_SPARSE_SQL, recursive=True),
)


def _q_condensation_levels(spark, sf_dir):
    """Longest-path layering of the SCC condensation — the build-order
    schedule of the directed link graph (level L depends only on < L;
    cycles collapse to one unit first)."""
    from ..operators.scc import condensation_levels

    return condensation_levels(
        spark, edges(spark, sf_dir, _G_DIRMIX_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )


# quotient DAG over the SCC oracle's map, then level = max path depth
# from the condensation sources (recursive path enumeration, UNION-dedup
# states so it terminates at DAG depth)
_CONDENSATION_SQL = f"""
WITH RECURSIVE g AS ({_G_DIRMIX_SQL})
, verts AS (SELECT DISTINCT id FROM
            (SELECT src AS id FROM g UNION ALL SELECT dst FROM g))
, tc(src, dst) AS (
    SELECT src, dst FROM g
    UNION
    SELECT t.src, g.dst FROM tc t JOIN g ON g.src = t.dst
)
, mutual AS (
    SELECT a.src AS u, a.dst AS v
    FROM tc a JOIN tc b ON b.src = a.dst AND b.dst = a.src
)
, map AS (
    SELECT vt.id, least(vt.id, coalesce(min(m.v), vt.id)) AS scc
    FROM verts vt LEFT JOIN mutual m ON m.u = vt.id
    GROUP BY vt.id
)
, qe AS (
    SELECT DISTINCT ms.scc AS a, md.scc AS b
    FROM g JOIN map ms ON ms.id = g.src JOIN map md ON md.id = g.dst
    WHERE ms.scc <> md.scc
)
, nodes AS (SELECT DISTINCT scc FROM map)
, paths(n, d) AS (
    SELECT scc, 0 FROM nodes WHERE scc NOT IN (SELECT b FROM qe)
    UNION
    SELECT qe.b, p.d + 1 FROM paths p JOIN qe ON qe.a = p.n
)
SELECT n AS scc, CAST(max(d) AS INT) AS level FROM paths GROUP BY n
"""

QUERIES["graph_condensation_levels"] = (_q_condensation_levels, _CONDENSATION_SQL)


WIDEST_ORACLE_ITERS = 50


def _q_widest(spark, sf_dir):
    """Bottleneck widest-path widths from the smallest vertex id over the
    multiplicity-weighted sparse graph (operators/sssp.py::widest_path);
    (max, min) sibling of the min-plus kernel — widths are edge weights
    verbatim, engine-exact with any weights."""
    from ..operators.graph import vertex_ids
    from ..operators.sssp import widest_path

    e = edges(spark, sf_dir, _G_WSPARSE_SQL)
    source = int(vertex_ids(e).agg(F.min("id")).first()[0])
    res = widest_path(
        spark, e, source, weight_col="w", directed=False,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.supersteps < WIDEST_ORACLE_ITERS):
        raise RuntimeError(
            f"widest_path took {res.supersteps} supersteps (converged="
            f"{res.converged}); raise WIDEST_ORACLE_ITERS"
        )
    return res.distances.select("id", "width")


_WIDEST_SQL = f"""
WITH RECURSIVE g AS ({_G_WSPARSE_SQL})
, symw AS (SELECT src, dst, max(w) AS w FROM (
    SELECT src, dst, w FROM g
    UNION ALL SELECT dst AS src, src AS dst, w FROM g) GROUP BY src, dst)
, verts AS (SELECT DISTINCT src AS id FROM symw)
, src0 AS (SELECT min(id) AS s FROM verts)
, ep AS (SELECT src, dst, w FROM symw
         UNION ALL SELECT id, id, CAST('infinity' AS DOUBLE) FROM verts)
, wp(iter, id, width) AS (
    SELECT 0, (SELECT s FROM src0), CAST('infinity' AS DOUBLE)
    UNION ALL
    SELECT t.iter + 1, e.dst, max(least(t.width, e.w))
    FROM wp t JOIN ep e ON e.src = t.id
    WHERE t.iter < {WIDEST_ORACLE_ITERS}
    GROUP BY t.iter, e.dst
)
SELECT id, width FROM wp WHERE iter = {WIDEST_ORACLE_ITERS}
"""


QUERIES["widest_path"] = (_q_widest, _WIDEST_SQL)
