"""Fifth metrics ring: densest-subgraph greedy peel, 1-WL color
refinement, bidirectional s-t distance, bootstrap-percolation cascade,
and TextRank keywords — each oracle-paired with dtype-exact DuckDB SQL.

Densest-subgraph peel is the MapReduce-native 2(1+eps) approximation
(Bahmani et al., VLDB'12) with the eps=1/2 predicate kept in exact
integers; 1-WL refinement is the graph-fingerprint / isomorphism-screen
primitive, hashed portably so both engines refine identically;
bidirectional BFS is THE point-to-point distance strategy at scale (two
d/2-balls instead of one d-ball — frontier cost 2·b^(d/2) vs b^d);
bootstrap percolation is the deterministic influence-cascade
evaluation VoteRank seeds feed into, implemented so each edge fires
exactly once across the whole cascade; TextRank reuses the weighted
J2 PageRank kernel over a token co-occurrence graph, the text→graph
composition the original TextRank paper (Mihalcea & Tarau, 2004) runs.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.hashing import token_id_sql
from ._common import G_PARTS_SQL, G_SPARSE_SQL, edges, graph_nparts
from .graphq import _with_g
from .pipeline import _TOK_CTE


# ---- densest subgraph (greedy peel, eps = 1/2) -------------------------
DENSEST_ORACLE_ROUNDS = 10


def _q_densest(spark, sf_dir):
    """Per-round census of the greedy densest-subgraph peel on the
    sparse graph + the integer-argmax best round. density6 is the only
    float, formed by ONE division of exact BIGINTs then round(,6)."""
    from ..operators.densest import densest_subgraph_peel

    res = densest_subgraph_peel(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds <= DENSEST_ORACLE_ROUNDS):
        raise RuntimeError(
            f"densest peel took {res.rounds} rounds (converged="
            f"{res.converged}); raise DENSEST_ORACLE_ROUNDS past "
            f"{DENSEST_ORACLE_ROUNDS} to keep the unrolled oracle valid"
        )
    return res.stats.select(
        "round", "n_vertices", "n_edges",
        F.round(F.col("n_edges") / F.col("n_vertices"), 6).alias("density6"),
        (F.col("round") == F.lit(res.best_round)).alias("is_best"),
    )


def _densest_round(r: int) -> str:
    p = r - 1
    return f"""
, d{r} AS MATERIALIZED (
    SELECT v.id, CAST(count(s.src) AS BIGINT) AS deg
    FROM v{p} v LEFT JOIN s{p} s ON s.src = v.id GROUP BY v.id)
, v{r} AS MATERIALIZED (
    SELECT id FROM d{r}
    WHERE deg * (SELECT count(*) FROM v{p}) > 3 * (SELECT count(*) FROM c{p}))
, c{r} AS MATERIALIZED (
    SELECT c.src, c.dst FROM c{p} c
    JOIN v{r} a ON a.id = c.src JOIN v{r} b ON b.id = c.dst)
, s{r} AS (SELECT src, dst FROM c{r}
           UNION ALL SELECT dst AS src, src AS dst FROM c{r})
"""


_DENSEST_SQL = _with_g(
    ", v0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)"
    ", c0 AS MATERIALIZED (SELECT src, dst FROM g)"
    ", s0 AS (SELECT src, dst FROM sym)"
    + "".join(_densest_round(r) for r in range(1, DENSEST_ORACLE_ROUNDS + 1))
    + """
, stats AS (
    SELECT round, n_vertices, n_edges FROM ("""
    + " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM v{r}) AS n_vertices,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM c{r}) AS n_edges"
        for r in range(0, DENSEST_ORACLE_ROUNDS + 1)
    )
    + """
    ) WHERE n_vertices > 0
)
, best AS (
    SELECT r.round FROM stats r
    WHERE NOT EXISTS (
        SELECT 1 FROM stats s
        WHERE s.n_edges * r.n_vertices > r.n_edges * s.n_vertices)
    ORDER BY r.round LIMIT 1
)
SELECT round, n_vertices, n_edges,
       round(n_edges * 1.0 / n_vertices, 6) AS density6,
       (round = (SELECT round FROM best)) AS is_best
FROM stats
""",
    G_SPARSE_SQL,
)


# ---- 1-WL color refinement --------------------------------------------
WL_ROUNDS = 3


def _q_wl_colors(spark, sf_dir):
    """1-WL color-class census of the sparse graph after 3 refinement
    rounds — the graph-fingerprint histogram (operators/wl.py)."""
    from ..operators.wl import wl_histogram

    return wl_histogram(
        edges(spark, sf_dir, G_SPARSE_SQL), rounds=WL_ROUNDS
    )


def _wl_round(r: int) -> str:
    p = r - 1
    # ORDER BY the full 'color x count' run string — the exact key Spark's
    # sort_array(collect_list(run)) sorts, so variable-length round-0
    # colors (degree strings) cannot reorder between engines
    return f"""
, n{r} AS (SELECT e.src AS id, w.color AS nc
           FROM sym e JOIN w{p} w ON w.id = e.dst)
, c{r} AS (SELECT id, nc, CAST(count(*) AS VARCHAR) AS cnt
           FROM n{r} GROUP BY id, nc)
, s{r} AS (SELECT id, string_agg(nc || 'x' || cnt, ';' ORDER BY nc || 'x' || cnt) AS sig
           FROM c{r} GROUP BY id)
, w{r} AS MATERIALIZED (
    SELECT w.id, substr(md5(w.color || '|' || s.sig), 1, 16) AS color
    FROM w{p} w JOIN s{r} s ON s.id = w.id)
"""


_WL_SQL = _with_g(
    ", w0 AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS VARCHAR) AS color"
    "  FROM sym GROUP BY src)"
    + "".join(_wl_round(r) for r in range(1, WL_ROUNDS + 1))
    + f"SELECT color, CAST(count(*) AS BIGINT) AS n_vertices"
      f" FROM w{WL_ROUNDS} GROUP BY color",
    G_SPARSE_SQL,
)


# ---- bidirectional s-t distance ----------------------------------------
def _q_st_distance(spark, sf_dir):
    """Point-to-point distance between the min-id and max-id vertices of
    the sparse graph by BIDIRECTIONAL BFS: two <=3-hop balls (one from
    each endpoint) meet in the middle, dist = min over meeting vertices
    of ds+dt (horizon 6). n_witnesses = number of vertices achieving the
    min — the value-sensitive part of the check. (-1, 0) when the balls
    don't meet. At scale two b^(d/2) frontiers beat one b^d frontier —
    this is the standard point-query strategy over the same seeded
    closure kernel (J4)."""
    from ..operators.paths import path_closure_from

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    verts = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    )
    lo, hi = verts.agg(F.min("id"), F.max("id")).first()
    out_schema = "src_id BIGINT, dst_id BIGINT, dist BIGINT, n_witnesses BIGINT"

    def ball(seed):
        seeds = spark.createDataFrame([(seed,)], "id BIGINT")
        cl = path_closure_from(e, seeds, max_hops=3, directed=False)
        return cl.select(
            F.col("dst").cast("long").alias("v"),
            F.col("hops").cast("long").alias("d"),
        ).union(spark.createDataFrame([(seed, 0)], "v BIGINT, d BIGINT"))

    meet = (
        ball(lo).alias("a")
        .join(ball(hi).alias("b"), "v")
        .select((F.col("a.d") + F.col("b.d")).alias("dist"))
    )
    res = (
        meet.groupBy("dist")
        .agg(F.count("*").cast("long").alias("n_witnesses"))
        .orderBy("dist")
        .limit(1)
        .select(
            F.lit(lo).cast("long").alias("src_id"),
            F.lit(hi).cast("long").alias("dst_id"),
            F.col("dist").cast("long"),
            "n_witnesses",
        )
    )
    if res.count() == 0:
        res = spark.createDataFrame([(lo, hi, -1, 0)], out_schema)
    return res


def _st_ball(tag: str, seed_cte: str) -> str:
    return f"""
, {tag}0 AS (SELECT (SELECT id FROM {seed_cte}) AS v, CAST(0 AS BIGINT) AS d)
, {tag}1 AS (SELECT e.dst AS v, CAST(1 AS BIGINT) AS d
             FROM sym e WHERE e.src = (SELECT id FROM {seed_cte}))
, {tag}2 AS (SELECT e.dst AS v, CAST(2 AS BIGINT) AS d
             FROM (SELECT DISTINCT v FROM {tag}1) h JOIN sym e ON e.src = h.v)
, {tag}3 AS (SELECT e.dst AS v, CAST(3 AS BIGINT) AS d
             FROM (SELECT DISTINCT v FROM {tag}2) h JOIN sym e ON e.src = h.v)
, {tag} AS (SELECT v, min(d) AS d FROM (
      SELECT * FROM {tag}0 UNION ALL SELECT * FROM {tag}1
      UNION ALL SELECT * FROM {tag}2 UNION ALL SELECT * FROM {tag}3
  ) GROUP BY v)
"""


_ST_SQL = _with_g(
    """
, verts AS (SELECT DISTINCT src AS id FROM sym)
, slo AS (SELECT min(id) AS id FROM verts)
, shi AS (SELECT max(id) AS id FROM verts)
"""
    + _st_ball("ba", "slo")
    + _st_ball("bb", "shi")
    + """
, meet AS (SELECT a.d + b.d AS dist FROM ba a JOIN bb b ON a.v = b.v)
, found AS (
    SELECT dist, CAST(count(*) AS BIGINT) AS n_witnesses
    FROM meet GROUP BY dist ORDER BY dist LIMIT 1)
SELECT CAST((SELECT id FROM slo) AS BIGINT) AS src_id,
       CAST((SELECT id FROM shi) AS BIGINT) AS dst_id,
       CAST(dist AS BIGINT) AS dist, n_witnesses
FROM found
UNION ALL
SELECT CAST((SELECT id FROM slo) AS BIGINT),
       CAST((SELECT id FROM shi) AS BIGINT),
       CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
WHERE NOT EXISTS (SELECT 1 FROM found)
""",
    G_SPARSE_SQL,
)


# ---- bootstrap percolation cascade -------------------------------------
CASCADE_ORACLE_ROUNDS = 6


def _q_cascade(spark, sf_dir):
    """Threshold-2 bootstrap percolation from the top-3 degree hubs of
    the dense co-occurrence graph: (id, activation round) for every
    vertex the cascade reaches (operators/cascade.py — each edge fires
    exactly once across the whole run)."""
    from ..operators.cascade import bootstrap_percolation
    from ..operators.graph import degrees

    e = edges(spark, sf_dir, G_PARTS_SQL)
    seeds = (
        degrees(e)
        .orderBy(F.desc("degree"), F.asc("id"))
        .limit(3)
        .select("id")
    )
    res = bootstrap_percolation(
        spark, e, seeds, threshold=2,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds <= CASCADE_ORACLE_ROUNDS):
        raise RuntimeError(
            f"cascade ran {res.rounds} rounds (converged={res.converged});"
            f" raise CASCADE_ORACLE_ROUNDS past {CASCADE_ORACLE_ROUNDS}"
        )
    return res.activated.select("id", "round")


def _cascade_round(r: int) -> str:
    p = r - 1
    return f"""
, n{r} AS (SELECT e.src AS id, count(*) AS c
           FROM sym e JOIN a{p} a ON a.id = e.dst
           WHERE e.src NOT IN (SELECT id FROM a{p})
           GROUP BY e.src)
, a{r} AS MATERIALIZED (
    SELECT id, round FROM a{p}
    UNION ALL
    SELECT id, CAST({r} AS BIGINT) AS round FROM n{r} WHERE c >= 2)
"""


_CASCADE_SQL = _with_g(
    """
, deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, seeds AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT 3)
, a0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS round FROM seeds)
"""
    + "".join(_cascade_round(r) for r in range(1, CASCADE_ORACLE_ROUNDS + 1))
    + f"SELECT id, round FROM a{CASCADE_ORACLE_ROUNDS}",
    G_PARTS_SQL,
)


# ---- TextRank keywords ---------------------------------------------------
def _q_textrank(spark, sf_dir):
    """TextRank keywords (Mihalcea & Tarau 2004): undirected token
    co-occurrence graph (adjacent whitespace tokens, both in the top-100
    vocabulary), edge weight = adjacency count, then the engine's
    weighted J2 PageRank kernel for 8 fixed rounds; top-20 tokens by
    rounded rank. Token vertices use the portable md5-prefix tid
    (vocabulary-free, join-free) so both engines hash identically; the
    distributed work is the pair-count aggregation — the PageRank runs
    on a vocabulary-bounded graph."""
    from ..functions.text import token_id, tokens
    from ..operators.pagerank import pagerank
    from ._common import docs

    tok = tokens(docs(spark, sf_dir))
    vocab = (
        tok.groupBy("token").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
        .select("token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.withColumn("nxt", F.lead("token").over(w))
        .where(F.col("nxt").isNotNull() & (F.col("token") != F.col("nxt")))
        .join(F.broadcast(vocab), "token", "left_semi")
        .join(
            F.broadcast(vocab.withColumnRenamed("token", "nxt")), "nxt", "left_semi"
        )
        .select(
            F.least("token", "nxt").alias("a"),
            F.greatest("token", "nxt").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("w"))
    )
    e = pairs.select(
        token_id("a").alias("src"), token_id("b").alias("dst"), "w"
    )
    res = pagerank(spark, e, tol=0.0, max_iter=8, weight_col="w")
    tid_map = vocab.select("token", token_id("token").alias("id")).distinct()
    return (
        res.ranks.join(F.broadcast(tid_map), "id")
        .select("token", F.round("rank", 7).alias("rank7"))
        .orderBy(F.desc("rank7"), F.asc("token"))
        .limit(20)
    )


_TEXTRANK_SQL = (
    _TOK_CTE
    + f"""
, vocab AS (SELECT token FROM (
      SELECT token, count(*) AS cnt FROM tok GROUP BY token)
      ORDER BY cnt DESC, token LIMIT 100)
, adj AS (
    SELECT doc_id, token, lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM tok)
, pw AS (
    SELECT least(token, nxt) AS a, greatest(token, nxt) AS b,
           CAST(count(*) AS DOUBLE) AS w
    FROM adj
    WHERE nxt IS NOT NULL AND token <> nxt
      AND token IN (SELECT token FROM vocab)
      AND nxt IN (SELECT token FROM vocab)
    GROUP BY least(token, nxt), greatest(token, nxt))
, te AS (SELECT {token_id_sql('a')} AS src, {token_id_sql('b')} AS dst, w FROM pw)
, tsym AS (SELECT src, dst, w FROM te
           UNION ALL SELECT dst AS src, src AS dst, w FROM te)
, tverts AS (SELECT DISTINCT src AS id FROM tsym)
, twdeg AS (SELECT src, sum(w) AS d FROM tsym GROUP BY src)
, tnn AS (SELECT count(*) AS c FROM tverts)
, tpr AS (
    WITH RECURSIVE pr(iter, id, r) AS (
        SELECT 0, id, 1.0 / (SELECT c FROM tnn) FROM tverts
        UNION ALL
        SELECT p.iter + 1, e.dst,
               0.15 / (SELECT c FROM tnn) + 0.85 * sum(p.r * e.w / d.d)
        FROM pr p JOIN tsym e ON e.src = p.id JOIN twdeg d ON d.src = p.id
        WHERE p.iter < 8
        GROUP BY p.iter, e.dst
    ) SELECT id, r FROM pr WHERE iter = 8)
, tmap AS (SELECT DISTINCT token, {token_id_sql('token')} AS id
           FROM vocab)
SELECT m.token, round(p.r, 7) AS rank7
FROM tpr p JOIN tmap m ON m.id = p.id
ORDER BY rank7 DESC, m.token LIMIT 20
"""
)


QUERIES = {
    "graph_densest_peel": (_q_densest, _DENSEST_SQL),
    "graph_wl_colors": (_q_wl_colors, _WL_SQL),
    "graph_st_distance": (_q_st_distance, _ST_SQL),
    "graph_cascade2": (_q_cascade, _CASCADE_SQL),
    "doc_textrank_top": (_q_textrank, _TEXTRANK_SQL),
}
