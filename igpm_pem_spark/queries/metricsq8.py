"""Ninth metrics ring (round-5 session 9): edge betweenness from seeds
(the Girvan-Newman splitting score), time-decayed PageRank over the
month-stamped co-occurrence digraph, a mutual-kNN Jaccard backbone with
its component structure, and the greedy dominating-set trajectory — each
oracle-paired with dtype-exact DuckDB SQL.

Design notes, scale-first:

* Edge betweenness reuses the truncated-Brandes level machinery
  (operators/centrality.py) — work ∝ the seeds' ≤3-hop neighborhoods,
  one (seed, vertex)-keyed join per level in each direction.
* Decayed PageRank keeps every float EXACT-DYADIC: edge weight
  w = Σ 2^(−age_months), age capped at 20, so weights and weighted
  degrees are sums of powers of two representable without rounding —
  byte-identical across engines before the (already oracle-proven)
  weighted-PR recursion touches them.
* The backbone keeps, per vertex, its top-3 neighbors by structural
  Jaccard (integer support / integer union, ranked by one IEEE divide),
  then intersects with mutuality — local adaptive sparsification
  (cf. Satuluri et al.), the complement of the global-threshold
  graph_sparsify_jaccard. Components of the kept skeleton come from
  the hash-min CC kernel, bounded-iteration-checked like every other
  CC oracle here.
* Greedy dominating set is exact-integer control flow (gain counts,
  argmax ties to lower id) — the trajectory, not just the set, is the
  oracle contract, mirroring voterank/mis8.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ._common import G_SPARSE_SQL, edges, graph_nparts
from .graphq import _with_g
from .metricsq import _BRANDES_CTES

QUERIES: dict = {}

# ---- seeded edge betweenness (Girvan-Newman splitting score) ---------


def _q_edge_betweenness(spark, sf_dir):
    from ..operators.centrality import edge_betweenness_seeded

    return edge_betweenness_seeded(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), n_seeds=5, max_hops=3
    ).select("u", "v", F.round("ebc", 6).alias("ebc6"))


# per-DAG-edge dependency terms between consecutive Brandes levels,
# including the seeds' own l0→l1 edges (σ(seed) = 1); canonicalized
# (least, greatest) before the sum over seeds — exactly the kernel's
# accumulation order-insensitive contract.
_EDGE_BETWEENNESS_SQL = _BRANDES_CTES + """
, ed3 AS (
  SELECT l2.sid, l2.v AS a, l3.v AS b,
         (CAST(l2.sigma AS DOUBLE) / CAST(l3.sigma AS DOUBLE)) * 1.0 AS d
  FROM l2 JOIN sym e ON e.src = l2.v
  JOIN l3 ON l3.sid = l2.sid AND l3.v = e.dst)
, ed2 AS (
  SELECT l1.sid, l1.v AS a, l2s.v AS b,
         (CAST(l1.sigma AS DOUBLE) / CAST(l2s.sigma AS DOUBLE))
         * (1.0 + coalesce(d2.delta, 0.0)) AS d
  FROM l1 JOIN sym e ON e.src = l1.v
  JOIN l2 l2s ON l2s.sid = l1.sid AND l2s.v = e.dst
  LEFT JOIN d2 ON d2.sid = l2s.sid AND d2.v = l2s.v)
, ed1 AS (
  SELECT l0.sid, l0.v AS a, l1.v AS b,
         (1.0 / CAST(l1.sigma AS DOUBLE))
         * (1.0 + coalesce(d1.delta, 0.0)) AS d
  FROM l0 JOIN sym e ON e.src = l0.v
  JOIN l1 ON l1.sid = l0.sid AND l1.v = e.dst
  LEFT JOIN d1 ON d1.sid = l1.sid AND d1.v = l1.v)
, alled AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v, d FROM ed1
  UNION ALL SELECT least(a, b), greatest(a, b), d FROM ed2
  UNION ALL SELECT least(a, b), greatest(a, b), d FROM ed3)
SELECT u, v, round(sum(d), 6) AS ebc6 FROM alled GROUP BY u, v
"""

QUERIES["graph_edge_betweenness_seeds"] = (
    _q_edge_betweenness,
    _with_g(_EDGE_BETWEENNESS_SQL, G_SPARSE_SQL),
)


# ---- time-decayed PageRank ------------------------------------------
# month-stamped co-occurrence instances (the temporal digraph family of
# graphq2._G_TEMPORAL_SQL, on the %10 order slice) collapsed to one
# weight per undirected pair: w = Σ_instances 2^(−age_months), age
# capped at 20 so every weight is a multiple of 2^-20 — sums of dyadic
# rationals well inside double precision are EXACT and order-free, so
# both engines feed bit-identical weights into the weighted-PR
# recursion (whose round-7 contract pagerank_weighted_fixed8 proved).
_G_DECAY_SQL = """
WITH inst AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT) AS m
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN orders o ON o.o_orderkey = a.l_orderkey
  WHERE a.l_orderkey % 10 = 0
), mx AS (SELECT max(m) AS mm FROM inst)
SELECT src, dst,
       CAST(sum(power(2.0, -CAST(least(mx.mm - m, 20) AS DOUBLE))) AS DOUBLE) AS w
FROM inst, mx GROUP BY src, dst
"""


def _q_pagerank_decay(spark, sf_dir):
    """Recency-weighted PageRank, 8 fixed rounds: each co-occurrence
    instance contributes 2^-age_months (half-life = 1 month, age capped
    at 20) — the freshness-biased authority ranking a link graph over
    living repositories needs (stale imports fade, current ones
    dominate). Weights are exact dyadic sums; the kernel is the same
    weighted message-passing join as pagerank_weighted_fixed8."""
    from ..operators.pagerank import pagerank

    e = edges(spark, sf_dir, _G_DECAY_SQL)
    res = pagerank(
        spark, e, tol=0.0, max_iter=8, weight_col="w",
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.ranks.select("id", F.round("rank", 7).alias("rank7"))


_PR_DECAY_SQL = f"""
WITH RECURSIVE g AS ({_G_DECAY_SQL})
, sym AS (SELECT src, dst, w FROM g
          UNION ALL SELECT dst AS src, src AS dst, w FROM g)
, verts AS (SELECT DISTINCT src AS id FROM sym)
, wdeg AS (SELECT src, sum(w) AS d FROM sym GROUP BY src)
, nn AS (SELECT count(*) AS c FROM verts)
, pr(iter, id, r) AS (
    SELECT 0, id, 1.0 / (SELECT c FROM nn) FROM verts
    UNION ALL
    SELECT p.iter + 1, e.dst,
           0.15 / (SELECT c FROM nn) + 0.85 * sum(p.r * e.w / d.d)
    FROM pr p JOIN sym e ON e.src = p.id JOIN wdeg d ON d.src = p.id
    WHERE p.iter < 8
    GROUP BY p.iter, e.dst
)
SELECT id, round(r, 7) AS rank7 FROM pr WHERE iter = 8
"""

QUERIES["pagerank_decay_fixed8"] = (_q_pagerank_decay, _PR_DECAY_SQL)


# ---- mutual-kNN Jaccard backbone + components ------------------------
_BB_TOPK = 3
_BB_CC_ITERS = 30


def _q_knn_backbone_cc(spark, sf_dir):
    """Mutual top-3 structural-Jaccard backbone of the sparse graph,
    labeled by connected component: every vertex ranks its neighbors by
    edge Jaccard (integer support / integer union, tie → lower id),
    keeps its top 3, and an edge survives only if BOTH endpoints keep
    it — local adaptive sparsification (the per-vertex complement of
    graph_sparsify_jaccard's global threshold), the standard backbone
    for hairball graphs before clustering. Output: (id, comp) for every
    original vertex, singletons canonical to themselves — the same
    contract shape as doc_dedup_clusters.

    Scale shape: support/degree joins are the triangle-support pattern
    (O(wedges)); the rank is one window per direction over edge-count
    rows; mutuality is a self-semi-join of a ≤3·V-row relation; CC runs
    on the thinned skeleton only."""
    from ..operators.components import connected_components
    from ..operators.metrics import jaccard_sparsify

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    sc = jaccard_sparsify(e, num=1, den=1).select(
        "src", "dst",
        (
            F.col("jac_num").cast("double")
            / F.greatest(F.col("jac_den"), F.lit(1)).cast("double")
        ).alias("score"),
    )
    both = sc.select(
        F.col("src").alias("id"), F.col("dst").alias("nb"), "score"
    ).unionByName(
        sc.select(F.col("dst").alias("id"), F.col("src").alias("nb"), "score")
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("nb"))
    kept = (
        both.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _BB_TOPK)
        .select("id", "nb")
    )
    mutual = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.id") == F.col("b.nb")) & (F.col("a.nb") == F.col("b.id")),
            "left_semi",
        )
        .where(F.col("a.id") < F.col("a.nb"))
        .select(F.col("a.id").alias("src"), F.col("a.nb").alias("dst"))
    )
    verts0 = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if mutual.isEmpty():
        return verts0.select("id", F.col("id").alias("comp"))
    res = connected_components(
        spark, mutual, num_partitions=graph_nparts(spark, sf_dir)
    )
    if not (res.converged and res.supersteps < _BB_CC_ITERS):
        raise RuntimeError(
            f"knn_backbone_cc: CC took {res.supersteps} supersteps "
            f"(converged={res.converged}); raise _BB_CC_ITERS to keep the "
            "unrolled oracle exact"
        )
    return (
        verts0.join(
            res.components.withColumnRenamed("component", "comp"), "id", "left"
        )
        .select("id", F.coalesce("comp", "id").alias("comp"))
    )


_BACKBONE_SQL = f"""
, tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM g e1 JOIN g e2 ON e2.src = e1.dst
  JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst)
, sup AS MATERIALIZED (
  SELECT e.src, e.dst, coalesce(t.s, 0) AS sup
  FROM g e LEFT JOIN (
    SELECT src, dst, count(*) AS s FROM (
      SELECT a AS src, b AS dst FROM tri
      UNION ALL SELECT b, c FROM tri
      UNION ALL SELECT a, c FROM tri) GROUP BY src, dst) t
  ON t.src = e.src AND t.dst = e.dst)
, deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, sc AS (
  SELECT s.src, s.dst,
         CAST(s.sup AS DOUBLE)
         / CAST(greatest(d1.d + d2.d - 2 - s.sup, 1) AS DOUBLE) AS score
  FROM sup s JOIN deg d1 ON d1.id = s.src JOIN deg d2 ON d2.id = s.dst)
, both_dir AS (
  SELECT src AS id, dst AS nb, score FROM sc
  UNION ALL SELECT dst, src, score FROM sc)
, kept AS (
  SELECT id, nb FROM both_dir
  QUALIFY row_number() OVER (
      PARTITION BY id ORDER BY score DESC, nb ASC) <= {_BB_TOPK})
, mutual AS (
  SELECT a.id AS src, a.nb AS dst FROM kept a
  WHERE a.id < a.nb
    AND EXISTS (SELECT 1 FROM kept b WHERE b.id = a.nb AND b.nb = a.id))
, msym AS (SELECT src, dst FROM mutual
           UNION ALL SELECT dst, src FROM mutual)
, mverts AS (SELECT DISTINCT src AS id FROM msym)
, ep AS (SELECT src, dst FROM msym UNION ALL SELECT id, id FROM mverts)
, cc(iter, id, comp) AS (
    SELECT 0, id, id FROM mverts
    UNION ALL
    SELECT c.iter + 1, e.dst, min(c.comp)
    FROM cc c JOIN ep e ON e.src = c.id
    WHERE c.iter < {_BB_CC_ITERS}
    GROUP BY c.iter, e.dst
)
, canon AS (SELECT id, comp FROM cc WHERE iter = {_BB_CC_ITERS})
SELECT v.id, coalesce(c.comp, v.id) AS comp
FROM (SELECT src AS id FROM g UNION SELECT dst FROM g) v
LEFT JOIN canon c ON c.id = v.id
"""

QUERIES["graph_knn_backbone_cc"] = (
    _q_knn_backbone_cc,
    _with_g(_BACKBONE_SQL, G_SPARSE_SQL, recursive=True),
)


# ---- greedy dominating set ------------------------------------------
_DOM_K = 5


def _q_dominating_greedy(spark, sf_dir):
    from ..operators.centrality import dominating_set_greedy

    return dominating_set_greedy(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), k=_DOM_K
    )


def _dominating_sql(k: int) -> str:
    """Unrolled k-round greedy: u_i = uncovered set, g_i = closed-
    neighborhood coverage gains, p_i = the (gain desc, id asc) argmax,
    cov_i = covered-so-far. Rounds past full coverage yield empty
    p_i rows — identical early-stop semantics to the kernel loop."""
    parts = [
        ", verts AS (SELECT DISTINCT src AS id FROM sym)",
        """, nbr AS MATERIALIZED (
  SELECT src AS id, dst AS nb FROM sym
  UNION SELECT id, id FROM verts)""",
        ", cov0 AS (SELECT id FROM verts WHERE 1 = 0)",
    ]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(f"""
, u{i} AS (SELECT id AS nb FROM verts
           WHERE id NOT IN (SELECT id FROM cov{p}))
, g{i} AS (SELECT n.id, CAST(count(*) AS BIGINT) AS gain
           FROM nbr n JOIN u{i} u ON u.nb = n.nb GROUP BY n.id)
, p{i} AS (SELECT id, gain FROM g{i} ORDER BY gain DESC, id ASC LIMIT 1)
, cov{i} AS (SELECT id FROM cov{p}
             UNION SELECT n.nb AS id FROM nbr n JOIN p{i} USING (id))""")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, id, gain FROM p{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\nSELECT rank, id, gain FROM ({union}) ORDER BY rank")
    return "".join(parts)


QUERIES["graph_dominating_greedy"] = (
    _q_dominating_greedy,
    _with_g(_dominating_sql(_DOM_K), G_SPARSE_SQL),
)
