"""Fourth metrics ring: kmeans silhouette quality gate, per-seed BFS
expansion profiles, the event-type transition matrix, and an exact-
integer CUSUM changepoint scan — each oracle-paired with dtype-exact
DuckDB SQL.

Silhouette is the post-training gate an IVF/ANN pipeline runs before
trusting its coarse quantizer; the expansion profile is the exact
per-seed neighborhood function (the number ANF sketches approximate
globally); transitions are the first-order Markov summary of user
event streams (the sessionize/funnel dual); CUSUM is the standard
mean-shift changepoint statistic, formulated here in scaled integers
(n·cumsum − i·total) so the whole scan is associative BIGINT
arithmetic — no float drift between engines, no epsilon in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ._common import G_SPARSE_SQL, edges, register
from .graphq import _with_g
from .pipeline2 import _km_dist, _km_round


def _q_silhouette(spark, sf_dir):
    from ..operators.clustering import silhouette_by_cluster
    from ._common import emb

    return silhouette_by_cluster(spark, emb(spark, sf_dir), k=8, iters=2)


# same 2-round Lloyd chain as _KMEANS_SQL (pipeline2), then per vector:
# a² = own-centroid distance (row_number tie rule = the engine's
# lexicographic (d2, j) argmin), b² = min distance over the other
# centroids, s = (b-a)/max(a,b), averaged per cluster.
_SILHOUETTE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
, c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
    FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
)
{_km_round(1)}
{_km_round(2)}
, dfin AS MATERIALIZED ({_km_dist('e', 'c2')})
, afin AS (SELECT vec_id, cid AS cluster, d2 FROM dfin
           QUALIFY row_number() OVER (
               PARTITION BY vec_id ORDER BY d2, cid) = 1)
, bfin AS (SELECT d.vec_id, min(d.d2) AS b2
           FROM dfin d JOIN afin a
             ON d.vec_id = a.vec_id AND d.cid <> a.cluster
           GROUP BY d.vec_id)
, s AS (SELECT a.cluster,
               CASE WHEN greatest(sqrt(a.d2), sqrt(b.b2)) = 0 THEN 0.0
                    ELSE (sqrt(b.b2) - sqrt(a.d2))
                         / greatest(sqrt(a.d2), sqrt(b.b2)) END AS s
        FROM afin a JOIN bfin b USING (vec_id))
SELECT CAST(cluster AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(s), 6) AS silhouette6
FROM s GROUP BY cluster
"""


def _q_seed_expansion(spark, sf_dir):
    """Exact neighborhood function of the 5 lowest-id seeds: how many
    NEW vertices each BFS frontier reaches at hop 1, 2, 3 — the per-seed
    exact profile that graph_anf3 sketches for the whole graph, and the
    expansion-rate input to the 2-sweep diameter bound. Same seeded
    closure as closeness_centrality_seeds (work ∝ seed neighborhoods),
    grouped by (seed, hop) instead of collapsed per seed."""
    from ..operators.graph import vertex_ids
    from ..operators.paths import path_closure_from

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    seeds = vertex_ids(e).orderBy("id").limit(5)
    cl = path_closure_from(e, seeds, max_hops=3, directed=False)
    return cl.groupBy(
        F.col("src").alias("id"), F.col("hops").cast("long").alias("hops")
    ).agg(F.count("*").cast("long").alias("n_new"))


_EXPANSION_SQL = _with_g(
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
    SELECT sid AS id, CAST(hops AS BIGINT) AS hops,
           CAST(count(*) AS BIGINT) AS n_new
    FROM hh GROUP BY sid, hops
    """,
    G_SPARSE_SQL,
)


def _q_transitions(spark, sf_dir):
    """First-order Markov transition matrix of the event stream: per
    user, events ordered by (ts, event_id); each consecutive pair is one
    (from_type → to_type) transition; p6 = row-normalized probability.
    One lag window partitioned by user (the sessionize shuffle key — at
    100 TB the stream is already bucketed by user, so the window sorts
    within partitions without a global exchange) and one small-keyspace
    aggregate: |event_type|² output rows."""
    register(spark, sf_dir)
    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.withColumn("from_type", F.lag("event_type").over(w)).where(
        F.col("from_type").isNotNull()
    )
    pairs = t.groupBy("from_type", F.col("event_type").alias("to_type")).agg(
        F.count("*").cast("long").alias("n")
    )
    wf = Window.partitionBy("from_type")
    return pairs.withColumn(
        "p6", F.round(F.col("n") / F.sum("n").over(wf), 6)
    )


_TRANSITIONS_SQL = """
WITH t AS (
    SELECT event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
    FROM events
)
, pairs AS (
    SELECT from_type, event_type AS to_type, count(*) AS n
    FROM t WHERE from_type IS NOT NULL
    GROUP BY from_type, event_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p6
FROM pairs
"""


def _q_cusum(spark, sf_dir):
    """Mean-shift changepoint scan over daily order revenue: the CUSUM
    statistic S_i = cumsum_i − i·mean, scaled by n to stay in exact
    integers (dev_scaled = n·cumsum_i − i·total, in cents) — the
    argmax |S_i| day is the maximum-likelihood single changepoint under
    a mean-shift model. Revenue is per-row rounded to integer cents
    before summing (associative, engine-order-independent, same
    construct as rel_rfm); the top-3 days by |dev| are returned. The
    running sum is a window over the DAILY relation (≤ a few thousand
    rows at any corpus size — days, not orders), so the unpartitioned
    window is a non-issue at scale."""
    register(spark, sf_dir)
    o = spark.table("orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x")
    )
    w = Window.orderBy("day")
    t = daily.select(
        "day",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("x").over(w).cast("long").alias("cum"),
    )
    g = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("tot"),
    )
    j = t.crossJoin(F.broadcast(g)).withColumn(
        "dev_scaled",
        (F.col("n_days") * F.col("cum") - F.col("i") * F.col("tot")).cast(
            "long"
        ),
    )
    return (
        j.orderBy(F.abs(F.col("dev_scaled")).desc(), F.col("day"))
        .limit(3)
        .select("day", F.col("cum").alias("cum_cents"), "dev_scaled")
    )


_CUSUM_SQL = """
WITH daily AS (
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
           sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
    FROM orders GROUP BY 1
)
, t AS (
    SELECT day,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
           CAST(sum(x) OVER (ORDER BY day) AS BIGINT) AS cum
    FROM daily
)
, g AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS tot FROM daily)
SELECT day, CAST(cum AS BIGINT) AS cum_cents,
       CAST(g.n_days * t.cum - t.i * g.tot AS BIGINT) AS dev_scaled
FROM t, g
ORDER BY abs(g.n_days * t.cum - t.i * g.tot) DESC, day ASC
LIMIT 3
"""


def _q_voterank(spark, sf_dir):
    """Top-3 VoteRank spreaders on the sparse co-occurrence graph —
    influence-maximization seed selection as k exact-integer
    message-passing rounds (see operators/centrality.voterank)."""
    from ..operators.centrality import voterank

    return voterank(spark, edges(spark, sf_dir, G_SPARSE_SQL), k=3)


# the same 3 unrolled election rounds: scaled abilities start at
# S = 2|E| (count of the symmetrized relation), the decrement is V, and
# every score is an exact integer sum, so argmax + lower-id tie-break is
# engine-exact with no epsilon anywhere.
_VOTERANK_SQL = _with_g(
    """
    , par AS (SELECT count(DISTINCT src) AS nv, count(*) AS s2 FROM sym)
    , va0 AS (SELECT DISTINCT src AS id, (SELECT s2 FROM par) AS va FROM sym)
    , sc1 AS (SELECT e.src AS id, sum(v.va) AS score
              FROM sym e JOIN va0 v ON v.id = e.dst GROUP BY e.src)
    , w1 AS (SELECT id, score FROM sc1 ORDER BY score DESC, id LIMIT 1)
    , va1 AS (SELECT v.id,
                CASE WHEN v.id = (SELECT id FROM w1) THEN 0
                     WHEN EXISTS (SELECT 1 FROM sym e
                                  WHERE e.src = (SELECT id FROM w1)
                                    AND e.dst = v.id)
                       THEN greatest(v.va - (SELECT nv FROM par), 0)
                     ELSE v.va END AS va
              FROM va0 v)
    , sc2 AS (SELECT e.src AS id, sum(v.va) AS score
              FROM sym e JOIN va1 v ON v.id = e.dst
              WHERE e.src <> (SELECT id FROM w1) GROUP BY e.src)
    , w2 AS (SELECT id, score FROM sc2 ORDER BY score DESC, id LIMIT 1)
    , va2 AS (SELECT v.id,
                CASE WHEN v.id = (SELECT id FROM w2) THEN 0
                     WHEN EXISTS (SELECT 1 FROM sym e
                                  WHERE e.src = (SELECT id FROM w2)
                                    AND e.dst = v.id)
                       THEN greatest(v.va - (SELECT nv FROM par), 0)
                     ELSE v.va END AS va
              FROM va1 v)
    , sc3 AS (SELECT e.src AS id, sum(v.va) AS score
              FROM sym e JOIN va2 v ON v.id = e.dst
              WHERE e.src <> (SELECT id FROM w1)
                AND e.src <> (SELECT id FROM w2) GROUP BY e.src)
    , w3 AS (SELECT id, score FROM sc3 ORDER BY score DESC, id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rank, id,
           CAST(score AS BIGINT) AS score_scaled FROM w1
    UNION ALL SELECT CAST(2 AS BIGINT), id, CAST(score AS BIGINT) FROM w2
    UNION ALL SELECT CAST(3 AS BIGINT), id, CAST(score AS BIGINT) FROM w3
    """,
    G_SPARSE_SQL,
)


def _q_cc_by_degree(spark, sf_dir):
    """The c(k) curve: mean local clustering coefficient per power-of-two
    degree bucket — the canonical hierarchical-structure diagnostic (a
    falling c(k) marks hub-bridged modularity). Reuses the per-vertex
    triangle/lcc kernel; the stratified rollup is |buckets| rows."""
    from ..operators.graph import canonical_undirected, symmetrize
    from ..operators.metrics import clustering_coefficient

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    lcc = clustering_coefficient(e)
    deg = (
        symmetrize(canonical_undirected(e))
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("d"))
    )
    return (
        lcc.join(deg, "id")
        .groupBy(F.length(F.bin(F.col("d"))).cast("long").alias("deg_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.round(F.avg("lcc"), 6).alias("cc6"),
        )
    )


_CC_BY_DEGREE_SQL = _with_g(
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
    , lcc AS (
        SELECT deg.id, deg.d,
               CASE WHEN d >= 2
                    THEN 2.0 * coalesce(n_tri, 0) / (d * (d - 1.0))
                    ELSE 0.0 END AS lcc
        FROM deg LEFT JOIN nt ON nt.id = deg.id
    )
    SELECT CAST(length(bin(d)) AS BIGINT) AS deg_bucket,
           CAST(count(*) AS BIGINT) AS n_vertices,
           round(avg(lcc), 6) AS cc6
    FROM lcc GROUP BY 1
    """,
    G_SPARSE_SQL,
)


def _q_graph_end_to_end(spark, sf_dir):
    """Graph-side capstone composition: PageRank (8 exact rounds) +
    hash-min connected components + degree over the SAME derived edge
    relation, joined into the top-10 ranked vertices with their
    component and degree — the cross-kernel chain a link-graph run
    actually executes, pinned as one driver-oracled query so plan
    regressions that only appear across kernel boundaries (cache
    lifetimes, exchange reuse, join strategy flips) are caught the same
    way pipeline_end_to_end catches them on the document side."""
    from ..operators.components import connected_components
    from ..operators.graph import degrees
    from ..operators.pagerank import pagerank
    from ._common import graph_nparts

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    np_ = graph_nparts(spark, sf_dir)
    pr = pagerank(
        spark, e, tol=0.0, max_iter=8, num_partitions=np_
    ).ranks
    cc = connected_components(spark, e, num_partitions=np_).components
    dg = degrees(e)
    return (
        pr.join(cc, "id")
        .join(dg, "id")
        .select(
            "id",
            F.round("rank", 7).alias("rank7"),
            "component",
            F.col("degree").cast("long").alias("degree"),
        )
        .orderBy(F.col("rank7").desc(), "id")
        .limit(10)
    )


_END_TO_END_SQL = _with_g(
    """
    , verts AS (SELECT DISTINCT src AS id FROM sym)
    , deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src)
    , nn AS (SELECT count(*) AS c FROM verts)
    , pr(iter, id, r) AS (
        SELECT 0, id, 1.0 / (SELECT c FROM nn) FROM verts
        UNION ALL
        SELECT p.iter + 1, e.dst,
               0.15 / (SELECT c FROM nn) + 0.85 * sum(p.r / d.d)
        FROM pr p JOIN sym e ON e.src = p.id JOIN deg d ON d.src = p.id
        WHERE p.iter < 8
        GROUP BY p.iter, e.dst
    )
    , ep AS (SELECT src, dst FROM sym UNION ALL SELECT id, id FROM verts)
    , cc(iter, id, comp) AS (
        SELECT 0, id, id FROM verts
        UNION ALL
        SELECT c.iter + 1, e.dst, min(c.comp)
        FROM cc c JOIN ep e ON e.src = c.id
        WHERE c.iter < 50
        GROUP BY c.iter, e.dst
    )
    SELECT p.id, round(p.r, 7) AS rank7, c.comp AS component,
           CAST(d.d AS BIGINT) AS degree
    FROM pr p JOIN cc c ON c.id = p.id AND c.iter = 50
              JOIN deg d ON d.src = p.id
    WHERE p.iter = 8
    ORDER BY rank7 DESC, p.id LIMIT 10
    """,
    G_SPARSE_SQL,
    recursive=True,
)


QUERIES = {
    "emb_silhouette": (_q_silhouette, _SILHOUETTE_SQL),
    "graph_seed_expansion": (_q_seed_expansion, _EXPANSION_SQL),
    "rel_event_transitions": (_q_transitions, _TRANSITIONS_SQL),
    "rel_cusum_top3": (_q_cusum, _CUSUM_SQL),
    "graph_voterank3": (_q_voterank, _VOTERANK_SQL),
    "graph_cc_by_degree": (_q_cc_by_degree, _CC_BY_DEGREE_SQL),
    "graph_end_to_end": (_q_graph_end_to_end, _END_TO_END_SQL),
}
