"""Pattern-engine queries wired into the driver correctness gate: the
match_pattern join compiler runs against graphs derived from the driver's
parquet, and the DuckDB oracle recomputes the same subgraph counts with
plain joins — an independent check that query-graph compilation,
injectivity, and canonical dedup are right."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import G_SPARSE_SQL, SYM_SQL, edges


def _graph(spark, sf_dir, with_props: bool = False):
    e = edges(spark, sf_dir, G_SPARSE_SQL)
    ids = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if with_props:
        # attach the part's retailprice as a string prop — the reference's
        # property-graph shape (props are strings, coerced at condition
        # eval, ConditionParser.py:77-80)
        part = spark.table("part")
        verts = ids.join(
            part.select(F.col("p_partkey").alias("id"), "p_retailprice"), "id"
        ).select(
            "id",
            F.lit("cyan").alias("label"),
            F.create_map(
                F.lit("retailprice"), F.col("p_retailprice").cast("string")
            ).alias("props"),
        )
    else:
        verts = ids.select(
            "id",
            F.lit("cyan").alias("label"),
            F.create_map().cast("map<string,string>").alias("props"),
        )
    return verts, e.select("src", "dst", F.lit("yes").alias("label"))


def _q_pattern_triangle(spark, sf_dir):
    from ..plans.pattern import match_pattern, parse_query_args

    verts, e = _graph(spark, sf_dir)
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c z:c:a "
        "--vertexlabel a:cyan b:cyan c:cyan --edgelabel x:yes y:yes z:yes"
    )
    n = match_pattern(spark, verts, e, q).count()
    return spark.createDataFrame([(n,)], "n_matches BIGINT")


def _q_pattern_wedge(spark, sf_dir):
    from ..plans.pattern import match_pattern, parse_query_args

    verts, e = _graph(spark, sf_dir)
    q = parse_query_args("--vertex a b c --edge x:a:b y:b:c")
    n = match_pattern(spark, verts, e, q).count()
    return spark.createDataFrame([(n,)], "n_matches BIGINT")


def _q_pattern_wedge_condition(spark, sf_dir):
    """P6 over vertex props inside the match pipeline: wedges where the
    'a' endpoint's retailprice clears a threshold. Dedup keeps a match if
    ANY symbol assignment satisfies the condition (a/c interchangeable on
    the undirected wedge), which the oracle mirrors with an OR."""
    from ..plans.pattern import match_pattern, parse_query_args

    verts, e = _graph(spark, sf_dir, with_props=True)
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c --condition a.retailprice > 1500"
    )
    n = match_pattern(spark, verts, e, q).count()
    return spark.createDataFrame([(n,)], "n_matches BIGINT")


def _q_pattern_triangle_incremental(spark, sf_dir):
    """IGPM headline in the correctness gate: ts-bucket replay with
    delta-only enumeration must land on the same triangle count as the
    batch 3-join oracle."""
    from ..operators.incremental import incremental_pattern_match
    from ..plans.pattern import parse_query_args

    verts, e = _graph(spark, sf_dir)
    dyn = e.withColumn("ts", (F.col("src") % 3).cast("int"))
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c z:c:a "
        "--vertexlabel a:cyan b:cyan c:cyan --edgelabel x:yes y:yes z:yes"
    )
    res = incremental_pattern_match(spark, verts, dyn, q, base_steps=1)
    n = res.state.count()
    return spark.createDataFrame([(n,)], "n_matches BIGINT")


def _q_pattern_best_match_rwr(spark, sf_dir):
    """G-Ray ranking parity in the correctness gate: per anchor vertex,
    keep the ONE wedge whose non-anchor vertices have the highest summed
    seeded-RWR proximity (the reference's argmax selection,
    ``gray_multiple.py:430-443``), scores from an 8-round RWR restarting
    at the 5 smallest vertex ids (alpha 0.3 ⇔ restart 0.7). rank_eps=None
    (exact-score ordering): the quantized ε-argmax is engine API; the
    oracle mirrors exact ordering on the proven-identical round-7 scores."""
    from ..operators.graph import vertex_ids
    from ..operators.pagerank import pagerank
    from ..plans.pattern import match_pattern, parse_query_args

    verts, e = _graph(spark, sf_dir)
    seeds = [int(r.id) for r in vertex_ids(e).orderBy("id").limit(5).collect()]
    from ._common import graph_nparts

    res = pagerank(
        spark, e, alpha=0.3, tol=0.0, max_iter=8,
        personalization={s: 1.0 for s in seeds},
        num_partitions=graph_nparts(spark, sf_dir),
    )
    scores = res.ranks.select("id", F.round("rank", 7).alias("score"))
    q = parse_query_args("--vertex a b c --edge x:a:b y:b:c")
    m = match_pattern(
        spark, verts, e, q, max_matches_per_anchor=1,
        rank_scores=scores, rank_eps=None,
    )
    return m.select("a", "b", "c", F.round("rank_score", 7).alias("score"))


def _q_pattern_agg_max(spark, sf_dir):
    """A1 over matches: MAX of the kept representative's a.retailprice
    across deduped wedges — exercises aggregation downstream of the
    match pipeline (reference Aggregator, ``gray/aggregator.py:30-52``)."""
    from ..plans.pattern import match_pattern, parse_query_args
    from ..plans.postprocess import apply_aggregate

    verts, e = _graph(spark, sf_dir, with_props=True)
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c --aggregate MAX:a.retailprice"
    )
    m = match_pattern(spark, verts, e, q)
    return apply_aggregate(m, q.aggregates[0])


def _q_pattern_groupby(spark, sf_dir):
    """A2 over matches: per-a.retailprice match counts of the deduped
    wedge table (reference Grouping, ``query/Grouping.py:26-41``)."""
    from ..plans.pattern import match_pattern, parse_query_args
    from ..plans.postprocess import apply_groupby

    verts, e = _graph(spark, sf_dir, with_props=True)
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c --groupby a.retailprice"
    )
    m = match_pattern(spark, verts, e, q)
    return apply_groupby(m, q.groupby)


def _q_pattern_topk_ordered(spark, sf_dir):
    """A3 over matches: top-10 wedges by (a.retailprice, a, b, c) desc —
    deterministic ordering so LIMIT is oracle-stable (reference Ordering,
    ``query/Ordering.py:22-26``)."""
    from ..plans.pattern import match_pattern, parse_query_args
    from ..plans.postprocess import apply_orderby

    verts, e = _graph(spark, sf_dir, with_props=True)
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c "
        "--orderby a.retailprice a b c --descending"
    )
    m = match_pattern(spark, verts, e, q)
    top = apply_orderby(m, q.orderby, q.descending).limit(10)
    return top.select("a", "b", "c", F.col("a_retailprice").alias("rp"))


def _q_pattern_near_miss(spark, sf_dir):
    """Approximate-match bookkeeping (``gray_incremental.py:301-330``
    ``append_approx``): wedges failing the condition are RETAINED flagged
    approx=true; a signature counts as exact when ANY symbol assignment
    passes. Returns (approx, n)."""
    from ..plans.pattern import match_pattern, parse_query_args

    verts, e = _graph(spark, sf_dir, with_props=True)
    q = parse_query_args(
        "--vertex a b c --edge x:a:b y:b:c --condition a.retailprice > 1500"
    )
    m = match_pattern(spark, verts, e, q, keep_near_miss=True)
    return m.groupBy("approx").agg(F.count("*").alias("n"))


def _q_path_hops_histogram(spark, sf_dir):
    """J4 in the correctness gate: ≤3-hop minimal-hop closure, counted by
    hop distance (walk semantics collapse under the min-groupBy)."""
    from ..operators.paths import path_closure

    pc = path_closure(edges(spark, sf_dir, G_SPARSE_SQL), max_hops=3)
    return pc.groupBy("hops").agg(F.count("*").alias("n_pairs"))


# shared oracle fragment: prop-carrying wedges, canonical-signature dedup
# with the engine's lexicographic representative rule (ORDER BY a, b, c)
_WEDGE_DEDUP_SQL = f"""
WITH g AS ({G_SPARSE_SQL}), sym AS ({SYM_SQL})
, pr AS (SELECT p_partkey AS id, p_retailprice AS rp FROM part)
, w AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c, pa.rp AS rp_a
    FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
    JOIN pr pa ON pa.id = e1.src
    JOIN pr pb ON pb.id = e1.dst
    JOIN pr pc ON pc.id = e2.dst
    WHERE e1.src <> e2.dst
)
, keyed AS (
    SELECT *, least(a, b) AS p1u, greatest(a, b) AS p1v,
              least(b, c) AS p2u, greatest(b, c) AS p2v
    FROM w
)
, sigd AS (
    SELECT *, CASE WHEN (p1u < p2u) OR (p1u = p2u AND p1v <= p2v)
         THEN p1u || ',' || p1v || '|' || p2u || ',' || p2v
         ELSE p2u || ',' || p2v || '|' || p1u || ',' || p1v END AS sig
    FROM keyed
)
, dedup AS (
    SELECT a, b, c, rp_a FROM sigd QUALIFY row_number() OVER (
        PARTITION BY sig ORDER BY a, b, c) = 1
)
"""


def _q_pattern_config_run(spark, sf_dir):
    """S8 end-to-end as a DRIVER query: the sparse co-occurrence graph is
    written out as node-link JSON (S5 sink), an INI file in the
    reference's format (``gray.ini``) points at it, and
    ``run_query_config`` executes the triangle pattern through the full
    config → load → match path — oracled by the same plain-join count as
    ``pattern_triangle_match``."""
    import os
    import tempfile

    from ..sources.config_source import run_query_config
    from ..sources.node_link import save_node_link

    verts, e = _graph(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="igpm_cfg_")
    gpath = os.path.join(d, "g.json")
    save_node_link(verts, e, gpath, directed=False)
    ini = os.path.join(d, "q.ini")
    with open(ini, "w") as f:
        f.write(
            "[Log]\nprofile = False\nlevel = warning\n\n"
            "[G-Ray]\n"
            f"input_json = {gpath}\n"
            "base_steps = 1\nsteps = 1\n"
            "query = --vertex a b c --edge x:a:b y:b:c z:c:a "
            "--vertexlabel a:cyan b:cyan c:cyan "
            "--edgelabel x:yes y:yes z:yes\n"
            "time_limit = 0.0\n"
        )
    n = run_query_config(spark, ini).count()
    return spark.createDataFrame([(n,)], "n_matches BIGINT")


QUERIES = {
    "pattern_config_run": (
        _q_pattern_config_run,
        f"""
        WITH g AS ({G_SPARSE_SQL})
        SELECT count(*) AS n_matches
        FROM g e1 JOIN g e2 ON e1.dst = e2.src JOIN g e3
          ON e3.src = e1.src AND e3.dst = e2.dst
        """,
    ),
    # distinct triangles found by the pattern engine == plain 3-join count
    "pattern_triangle_match": (
        _q_pattern_triangle,
        f"""
        WITH g AS ({G_SPARSE_SQL})
        SELECT count(*) AS n_matches
        FROM g e1 JOIN g e2 ON e1.dst = e2.src JOIN g e3
          ON e3.src = e1.src AND e3.dst = e2.dst
        """,
    ),
    # distinct 2-edge paths (wedges, unordered endpoints, injective)
    "pattern_wedge_match": (
        _q_pattern_wedge,
        f"""
        WITH g AS ({G_SPARSE_SQL}), sym AS ({SYM_SQL})
        SELECT count(*) AS n_matches
        FROM sym e1 JOIN sym e2 ON e1.dst = e2.src AND e1.src < e2.dst
        """,
    ),
    # wedges where either endpoint's retailprice clears the threshold
    # (condition references symbol a; a/c interchange under dedup)
    "pattern_wedge_condition": (
        _q_pattern_wedge_condition,
        f"""
        WITH g AS ({G_SPARSE_SQL}), sym AS ({SYM_SQL}),
        pr AS (SELECT p_partkey AS id, p_retailprice AS rp FROM part)
        SELECT count(*) AS n_matches
        FROM sym e1 JOIN sym e2 ON e1.dst = e2.src AND e1.src < e2.dst
        JOIN pr pa ON pa.id = e1.src JOIN pr pc ON pc.id = e2.dst
        WHERE pa.rp > 1500 OR pc.rp > 1500
        """,
    ),
    # incremental replay reaches the batch fixpoint — same oracle as batch
    "pattern_triangle_incremental": (
        _q_pattern_triangle_incremental,
        f"""
        WITH g AS ({G_SPARSE_SQL})
        SELECT count(*) AS n_matches
        FROM g e1 JOIN g e2 ON e1.dst = e2.src JOIN g e3
          ON e3.src = e1.src AND e3.dst = e2.dst
        """,
    ),
    # A1 over matches: MAX of the deduped representative's a.retailprice
    "pattern_agg_max": (
        _q_pattern_agg_max,
        _WEDGE_DEDUP_SQL + "SELECT max(rp_a) AS max_a_retailprice FROM dedup",
    ),
    # A2 over matches: per-a.retailprice match counts
    "pattern_groupby": (
        _q_pattern_groupby,
        _WEDGE_DEDUP_SQL
        + """
        SELECT rp_a AS a_retailprice, count(*) AS n_matches
        FROM dedup GROUP BY rp_a
        """,
    ),
    # A3 over matches: deterministic top-10 by (rp, a, b, c) desc
    "pattern_topk_ordered": (
        _q_pattern_topk_ordered,
        _WEDGE_DEDUP_SQL
        + """
        SELECT a, b, c, rp_a AS rp FROM dedup
        ORDER BY rp_a DESC, a DESC, b DESC, c DESC LIMIT 10
        """,
    ),
    # append_approx semantics: signatures with NO passing assignment stay
    # as approx=true rows; representative prefers a passing assignment
    "pattern_near_miss": (
        _q_pattern_near_miss,
        _WEDGE_DEDUP_SQL.replace(
            "PARTITION BY sig ORDER BY a, b, c",
            "PARTITION BY sig ORDER BY CASE WHEN rp_a > 1500 THEN 0 ELSE 1 END, a, b, c",
        )
        + """
        SELECT (NOT rp_a > 1500) AS approx, count(*) AS n
        FROM dedup GROUP BY 1
        """,
    ),
    # RWR-guided best wedge per anchor: seeded-RWR CTE + the same
    # dedup/cap windows (score DESC, then symbol order)
    "pattern_best_match_rwr": (
        _q_pattern_best_match_rwr,
        f"""
        WITH RECURSIVE g AS ({G_SPARSE_SQL}), sym AS ({SYM_SQL})
        , verts AS (SELECT DISTINCT src AS id FROM sym)
        , deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src)
        , nn AS (SELECT count(*) AS c FROM verts)
        , seeds AS (SELECT id FROM verts ORDER BY id LIMIT 5)
        , pv AS (SELECT v.id,
                        CASE WHEN s.id IS NULL THEN 0.0 ELSE 0.2 END AS p
                 FROM verts v LEFT JOIN seeds s ON s.id = v.id)
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
        , sc AS (SELECT id, round(r, 7) AS s FROM pr WHERE iter = 8)
        , w AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
            WHERE e1.src <> e2.dst
        )
        , scored AS (
            SELECT a, b, c, 0.0 + sb.s + sc2.s AS score,
                   least(a, b) AS p1u, greatest(a, b) AS p1v,
                   least(b, c) AS p2u, greatest(b, c) AS p2v
            FROM w JOIN sc sb ON sb.id = b JOIN sc sc2 ON sc2.id = c
        )
        , sigd AS (
            SELECT *, CASE WHEN (p1u < p2u) OR (p1u = p2u AND p1v <= p2v)
                 THEN p1u || ',' || p1v || '|' || p2u || ',' || p2v
                 ELSE p2u || ',' || p2v || '|' || p1u || ',' || p1v END AS sig
            FROM scored
        )
        , dedup AS (
            SELECT * FROM sigd QUALIFY row_number() OVER (
                PARTITION BY sig ORDER BY score DESC, a, b, c) = 1
        )
        , best AS (
            SELECT * FROM dedup QUALIFY row_number() OVER (
                PARTITION BY a ORDER BY score DESC, a, b, c) = 1
        )
        SELECT a, b, c, round(score, 7) AS score FROM best
        """,
    ),
    # minimal-hop pair counts at 1..3 hops over the symmetrized graph
    "path_hops_histogram": (
        _q_path_hops_histogram,
        f"""
        WITH g AS ({G_SPARSE_SQL}), sym AS ({SYM_SQL}),
        h1 AS (SELECT DISTINCT src, dst FROM sym WHERE src <> dst),
        h2 AS (SELECT a.src, b.dst FROM h1 a JOIN h1 b
               ON a.dst = b.src AND a.src <> b.dst),
        h3 AS (SELECT a.src, b.dst FROM h2 a JOIN h1 b
               ON a.dst = b.src AND a.src <> b.dst),
        unioned AS (
          SELECT src, dst, 1 AS hops FROM h1
          UNION ALL SELECT src, dst, 2 FROM h2
          UNION ALL SELECT src, dst, 3 FROM h3
        ),
        mins AS (SELECT src, dst, min(hops) AS hops FROM unioned GROUP BY src, dst)
        SELECT hops, count(*) AS n_pairs FROM mins GROUP BY hops
        """,
    ),
}
