"""Graph-kernel queries (SURVEY.md §2.3 J2/J5, §2.4 A4/A5/A7/A8) over the
part co-occurrence graphs, with DuckDB oracles: recursive-CTE hash-min CC,
fixed-8-round recursive PageRank, 3-round unrolled LPA — all verified
value-exact at sf0.01."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import G_PARTS_SQL, G_SPARSE_SQL, SYM_SQL, edges, graph_nparts


def _with_g(body: str, g_sql: str = G_PARTS_SQL, recursive: bool = False) -> str:
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"{kw} g AS ({g_sql}), sym AS ({SYM_SQL}) {body}"


def _q_degree(spark, sf_dir):
    from ..operators.graph import degrees

    return degrees(edges(spark, sf_dir)).select("id", "degree")


def _q_degree_distribution(spark, sf_dir):
    from ..operators.graph import degrees

    return (
        degrees(edges(spark, sf_dir))
        .groupBy("degree")
        .agg(F.count("*").alias("n_vertices"))
    )


def _q_triangle_count(spark, sf_dir):
    # engine default = adaptive (degree probe picks id-ordered when no hub,
    # degree-oriented otherwise); the id-ordered a<b plan stays the
    # DuckDB-mirrorable spec and tests pin all plans equal
    from ..operators.triangles import triangle_count

    n = triangle_count(edges(spark, sf_dir, G_SPARSE_SQL))
    return spark.createDataFrame([(n,)], "n_triangles BIGINT")


def _q_star_count(spark, sf_dir):
    from ..operators.triangles import star_count

    n = star_count(edges(spark, sf_dir, G_SPARSE_SQL), 4)
    return spark.createDataFrame([(n,)], "n_stars BIGINT")


def _q_connected_components(spark, sf_dir):
    from ..operators.components import connected_components

    res = connected_components(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.components.select("id", "component")


def _q_component_sizes(spark, sf_dir):
    from ..operators.components import component_sizes, connected_components

    res = connected_components(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return component_sizes(res.components).select("component", "size")


def _q_pagerank_fixed8(spark, sf_dir):
    from ..operators.pagerank import pagerank

    res = pagerank(
        spark, edges(spark, sf_dir), tol=0.0, max_iter=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.ranks.select("id", F.round("rank", 7).alias("rank7"))


_G_WPARTS_SQL = """
SELECT a.l_partkey AS src, b.l_partkey AS dst,
       CAST(count(*) AS DOUBLE) AS w
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
WHERE a.l_orderkey % 10 = 0
GROUP BY a.l_partkey, b.l_partkey
"""


def _q_pagerank_weighted_fixed8(spark, sf_dir):
    """Weighted PageRank, 8 fixed rounds: edge weight = co-occurrence
    multiplicity (shared-order count), contribution ∝ w/Σw — the
    import-multiplicity ranking a link-graph engine needs beyond the
    unweighted kernel. Mirrored by a weighted recursive-CTE oracle."""
    from ..operators.pagerank import pagerank

    e = edges(spark, sf_dir, _G_WPARTS_SQL)
    res = pagerank(
        spark, e, tol=0.0, max_iter=8, weight_col="w",
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.ranks.select("id", F.round("rank", 7).alias("rank7"))


def _q_kcore3(spark, sf_dir):
    """3-core membership on the sparse graph — iterative peeling must
    match the unrolled filter-chain oracle exactly."""
    from ..operators.kcore import k_core

    res = k_core(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), k=3,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds < KCORE_ORACLE_ROUNDS):
        # RuntimeError, not assert: the guard protects ORACLE validity (the
        # unrolled peel chain is exact only past the peeling depth) and must
        # survive python -O
        raise RuntimeError(
            f"k-core peeling took {res.rounds} rounds (converged="
            f"{res.converged}); the {KCORE_ORACLE_ROUNDS}-round unrolled "
            "oracle would silently diverge — raise KCORE_ORACLE_ROUNDS"
        )
    return res.vertices.select("id")


def _q_rwr_seeded_fixed8(spark, sf_dir):
    """Seeded RWR, 8 fixed rounds — the reference's proximity primitive
    (rwr.py:149-180; restart 0.7 ⇔ alpha 0.3) with the restart vector on
    the 5 smallest vertex ids, mirrored by a recursive-CTE oracle."""
    from ..operators.graph import vertex_ids
    from ..operators.pagerank import pagerank

    e = edges(spark, sf_dir)
    seeds = [int(r.id) for r in vertex_ids(e).orderBy("id").limit(5).collect()]
    res = pagerank(
        spark, e, alpha=0.3, tol=0.0, max_iter=8,
        personalization={s: 1.0 for s in seeds},
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.ranks.select("id", F.round("rank", 7).alias("rank7"))


def _q_label_propagation3(spark, sf_dir):
    from ..operators.labelprop import label_propagation

    res = label_propagation(
        spark, edges(spark, sf_dir), max_iter=3,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.labels.select("id", "label")


def _q_modularity(spark, sf_dir):
    """Newman modularity of the 3-round LPA partition on the dense
    co-occurrence graph — the community-quality scalar over A8's output,
    oracled by the unrolled-LPA CTE + the same Q arithmetic."""
    from ..operators.labelprop import label_propagation
    from ..operators.metrics import modularity

    e = edges(spark, sf_dir)
    labels = label_propagation(
        spark, e, max_iter=3, num_partitions=graph_nparts(spark, sf_dir)
    ).labels
    q = modularity(e, labels)
    return spark.createDataFrame([(round(q, 6),)], "q6 DOUBLE")


def _q_louvain_move(spark, sf_dir):
    """A8 Louvain parity: one synchronous modularity-gain local-move round
    on the 3-round LPA partition (the reference's community.best_partition
    scoping, pinned deterministic — labelprop.modularity_local_move)."""
    from ..operators.labelprop import label_propagation, modularity_local_move

    e = edges(spark, sf_dir)
    np_ = graph_nparts(spark, sf_dir)
    labels = label_propagation(spark, e, max_iter=3, num_partitions=np_).labels
    return modularity_local_move(
        spark, e, labels, rounds=1, num_partitions=np_
    ).select("id", "label")


def _q_q_improvement(spark, sf_dir):
    """One row (q_lpa6, q_move6, improved): Newman modularity before and
    after the local-move round — the driver-checked evidence that the
    move pass does not degrade the LPA partition."""
    from ..operators.labelprop import label_propagation, modularity_local_move
    from ..operators.metrics import modularity

    e = edges(spark, sf_dir)
    np_ = graph_nparts(spark, sf_dir)
    labels = label_propagation(spark, e, max_iter=3, num_partitions=np_).labels
    moved = modularity_local_move(spark, e, labels, rounds=1, num_partitions=np_)
    q3, q4 = round(modularity(e, labels), 6), round(modularity(e, moved), 6)
    return spark.createDataFrame(
        [(q3, q4, q4 >= q3)], "q_lpa6 DOUBLE, q_move6 DOUBLE, improved BOOLEAN"
    )


def _q_incremental_cc(spark, sf_dir):
    """Incremental hash-min replay over 3 synthetic arrival buckets
    (ts = src % 3): per-bucket frontier-seeded recomputation must land on
    the same fixpoint as the batch kernel, so the batch recursive-CTE
    oracle checks the incremental engine end-to-end."""
    from ..operators.incremental import incremental_components

    e = edges(spark, sf_dir, G_SPARSE_SQL).withColumn(
        "ts", (F.col("src") % 3).cast("int")
    )
    res = incremental_components(
        spark, e, base_steps=1, num_partitions=graph_nparts(spark, sf_dir)
    )
    return res.state.select("id", "component")


def _q_pagerank_converged(spark, sf_dir):
    """PageRank run to convergence — the flagship loop. Oracled
    by a deep fixed-N recursive CTE: with tol=1e-9 the kernel's distance
    from the true fixpoint and the oracle's at N=160 (0.85^160 ≈ 5e-12 L1)
    are both orders of magnitude below the round-6 comparison grid, so the
    rounded vectors agree exactly."""
    from ..operators.pagerank import pagerank

    res = pagerank(
        spark, edges(spark, sf_dir), tol=1e-9, max_iter=300,
        steps_per_commit=10, num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.ranks.select("id", F.round("rank", 6).alias("rank6"))


# k-core oracle: an unrolled peel chain (each round = degree filter +
# edge restriction). The kernel asserts it converged in fewer rounds, so
# the fixed unroll is exact, not an approximation.
KCORE_ORACLE_ROUNDS = 20


def _kcore_sql(k: int, rounds: int = KCORE_ORACLE_ROUNDS) -> str:
    # each e{r} is referenced twice by round r+1 — MATERIALIZED stops
    # DuckDB from inlining the chain into 2^rounds scans
    parts = [", e0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for r in range(1, rounds + 1):
        parts.append(
            f""", a{r} AS MATERIALIZED (
  SELECT src AS id FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}
), e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN a{r} x ON x.id = e.src JOIN a{r} y ON y.id = e.dst
)"""
        )
    parts.append(f" SELECT DISTINCT src AS id FROM e{rounds}")
    return "".join(parts)


# Hash-min CTE bound: must exceed the min-label propagation diameter of
# any test graph, else the ORACLE (not the kernel) is wrong on long-path
# components. The kernels run to fixpoint (max_iter=100); 50 is far above
# the co-occurrence graphs' diameter, and tests assert kernel supersteps
# stay below this bound.
CC_ORACLE_ITERS = 50

_CC_CTE = f"""
, verts AS (SELECT DISTINCT src AS id FROM sym)
, ep AS (SELECT src, dst FROM sym UNION ALL SELECT id, id FROM verts)
, cc(iter, id, comp) AS (
    SELECT 0, id, id FROM verts
    UNION ALL
    SELECT c.iter + 1, e.dst, min(c.comp)
    FROM cc c JOIN ep e ON e.src = c.id
    WHERE c.iter < {CC_ORACLE_ITERS}
    GROUP BY c.iter, e.dst
)
"""

_LPA_ROUND = """
, l{k} AS MATERIALIZED (
    SELECT e.dst AS id, l.label
    FROM sym e JOIN l{p} l ON l.id = e.src
    GROUP BY e.dst, l.label
    QUALIFY row_number() OVER (
        PARTITION BY e.dst ORDER BY count(*) DESC, l.label ASC) = 1
)
"""

# one synchronous Louvain local-move round over the partition in table
# l{p} → l{k}: every vertex takes the best strictly-positive modularity
# gain among its NEIGHBOR communities (ties → smallest label), applied
# simultaneously — then the round is hill-climb GUARDED exactly as
# labelprop.modularity_local_move is: the integer modularity score
# S = Σ_c (4·m·m_c − D_c²) of the moved partition must not drop below
# the input's, else the round is rejected wholesale. Integer arithmetic
# throughout the guard, so both engines take the same branch.
_MOVE_ROUND = """
, mm AS MATERIALIZED (SELECT count(*) AS m FROM g)
, deg{k} AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, tot{k} AS MATERIALIZED (
    SELECT l.label, sum(d.d) AS dtot
    FROM deg{k} d JOIN l{p} l ON l.id = d.id GROUP BY l.label
)
, kvc{k} AS MATERIALIZED (
    SELECT e.src AS id, l.label AS c, count(*) AS kvc
    FROM sym e JOIN l{p} l ON l.id = e.dst GROUP BY e.src, l.label
)
, base{k} AS MATERIALIZED (
    SELECT k.id, k.c, k.kvc, l.label AS a, d.d, tc.dtot AS dc, ta.dtot AS da
    FROM kvc{k} k JOIN l{p} l ON l.id = k.id
                  JOIN deg{k} d ON d.id = k.id
                  JOIN tot{k} tc ON tc.label = k.c
                  JOIN tot{k} ta ON ta.label = l.label
)
, kva{k} AS (SELECT id, kvc AS kva FROM base{k} WHERE c = a)
, cand{k} AS (
    SELECT b.id, b.c,
           (b.kvc - coalesce(v.kva, 0)) / (1.0 * (SELECT m FROM mm))
           - b.d * (b.dc - b.da + b.d)
             / (2.0 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS gain
    FROM base{k} b LEFT JOIN kva{k} v ON v.id = b.id
    WHERE b.c <> b.a
)
, mv{k} AS (
    SELECT id, c AS new_label FROM cand{k} WHERE gain > 0.0
    QUALIFY row_number() OVER (PARTITION BY id ORDER BY gain DESC, c ASC) = 1
)
, lm{k} AS MATERIALIZED (
    SELECT l.id, coalesce(mv{k}.new_label, l.label) AS label
    FROM l{p} l LEFT JOIN mv{k} ON mv{k}.id = l.id
)
, smold{k} AS MATERIALIZED (
    SELECT la.label, count(*) AS mc
    FROM g e JOIN l{p} la ON la.id = e.src
             JOIN l{p} lb ON lb.id = e.dst
    WHERE la.label = lb.label GROUP BY la.label
)
, sold{k} AS MATERIALIZED (
    SELECT sum(4 * (SELECT m FROM mm) * coalesce(mc.mc, 0)
               - dc.dtot * dc.dtot) AS s
    FROM tot{k} dc LEFT JOIN smold{k} mc ON mc.label = dc.label
)
, smnew{k} AS MATERIALIZED (
    SELECT la.label, count(*) AS mc
    FROM g e JOIN lm{k} la ON la.id = e.src
             JOIN lm{k} lb ON lb.id = e.dst
    WHERE la.label = lb.label GROUP BY la.label
)
, sdnew{k} AS MATERIALIZED (
    SELECT l.label, sum(d.d) AS dc
    FROM deg{k} d JOIN lm{k} l ON l.id = d.id GROUP BY l.label
)
, snew{k} AS MATERIALIZED (
    SELECT sum(4 * (SELECT m FROM mm) * coalesce(mc.mc, 0)
               - dc.dc * dc.dc) AS s
    FROM sdnew{k} dc LEFT JOIN smnew{k} mc ON mc.label = dc.label
)
, l{k} AS (
    SELECT lm.id,
           CASE WHEN (SELECT s FROM snew{k}) >= (SELECT s FROM sold{k})
                THEN lm.label ELSE lp.label END AS label
    FROM lm{k} lm JOIN l{p} lp ON lp.id = lm.id
)
"""

# Newman modularity of the partition in table l{t}, as a scalar named {q}
_Q_OF = """
, qm{t} AS (SELECT count(*) AS m FROM g)
, qmc{t} AS (
    SELECT la.label, count(*) AS mc
    FROM g e JOIN l{t} la ON la.id = e.src
             JOIN l{t} lb ON lb.id = e.dst
    WHERE la.label = lb.label
    GROUP BY la.label
)
, qdeg{t} AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, qdc{t} AS (
    SELECT l.label, sum(d.d) AS dc
    FROM qdeg{t} d JOIN l{t} l ON l.id = d.id GROUP BY l.label
)
, {q} AS (
    SELECT round(sum(
        coalesce(mc.mc, 0) * 1.0 / (SELECT m FROM qm{t})
        - (dc.dc * 1.0 / (2.0 * (SELECT m FROM qm{t})))
          * (dc.dc * 1.0 / (2.0 * (SELECT m FROM qm{t})))
    ), 6) AS q
    FROM qdc{t} dc LEFT JOIN qmc{t} mc ON mc.label = dc.label
)
"""

_LPA3 = (
    ", l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"
    + "".join(_LPA_ROUND.format(k=k, p=k - 1) for k in (1, 2, 3))
)

QUERIES = {
    "degree": (
        _q_degree,
        _with_g("SELECT src AS id, count(*) AS degree FROM sym GROUP BY src"),
    ),
    "degree_distribution": (
        _q_degree_distribution,
        _with_g(
            """
            SELECT degree, count(*) AS n_vertices
            FROM (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src)
            GROUP BY degree
            """
        ),
    ),
    "triangle_count": (
        _q_triangle_count,
        _with_g(
            """
            SELECT count(*) AS n_triangles
            FROM g e1 JOIN g e2 ON e1.dst = e2.src JOIN g e3
              ON e3.src = e1.src AND e3.dst = e2.dst
            """,
            G_SPARSE_SQL,
        ),
    ),
    "star_count": (
        _q_star_count,
        _with_g(
            """
            SELECT count(*) AS n_stars
            FROM (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src)
            WHERE degree >= 4
            """,
            G_SPARSE_SQL,
        ),
    ),
    "connected_components": (
        _q_connected_components,
        _with_g(
            _CC_CTE + f"SELECT id, comp AS component FROM cc WHERE iter = {CC_ORACLE_ITERS}",
            G_SPARSE_SQL,
            recursive=True,
        ),
    ),
    "component_sizes": (
        _q_component_sizes,
        _with_g(
            _CC_CTE
            + f"SELECT comp AS component, count(*) AS size FROM cc WHERE iter = {CC_ORACLE_ITERS} GROUP BY comp",
            G_SPARSE_SQL,
            recursive=True,
        ),
    ),
    "pagerank_fixed8": (
        _q_pagerank_fixed8,
        _with_g(
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
            SELECT id, round(r, 7) AS rank7 FROM pr WHERE iter = 8
            """,
            G_PARTS_SQL,
            recursive=True,
        ),
    ),
    "kcore3_vertices": (
        _q_kcore3,
        _with_g(_kcore_sql(3), G_SPARSE_SQL),
    ),
    "pagerank_weighted_fixed8": (
        _q_pagerank_weighted_fixed8,
        f"""
        WITH RECURSIVE g AS ({_G_WPARTS_SQL})
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
        """,
    ),
    "rwr_seeded_fixed8": (
        _q_rwr_seeded_fixed8,
        _with_g(
            """
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
            SELECT id, round(r, 7) AS rank7 FROM pr WHERE iter = 8
            """,
            G_PARTS_SQL,
            recursive=True,
        ),
    ),
    "label_propagation3": (
        _q_label_propagation3,
        _with_g(
            ", l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"
            + _LPA_ROUND.format(k=1, p=0)
            + _LPA_ROUND.format(k=2, p=1)
            + _LPA_ROUND.format(k=3, p=2)
            + "SELECT id, label FROM l3"
        ),
    ),
    "community_modularity": (
        _q_modularity,
        _with_g(
            ", l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"
            + _LPA_ROUND.format(k=1, p=0)
            + _LPA_ROUND.format(k=2, p=1)
            + _LPA_ROUND.format(k=3, p=2)
            + """
            , m AS (SELECT count(*) AS m FROM g)
            , mc AS (
                SELECT la.label, count(*) AS mc
                FROM g e JOIN l3 la ON la.id = e.src
                         JOIN l3 lb ON lb.id = e.dst
                WHERE la.label = lb.label
                GROUP BY la.label
            )
            , deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
            , dc AS (
                SELECT l.label, sum(d.d) AS dc
                FROM deg d JOIN l3 l ON l.id = d.id
                GROUP BY l.label
            )
            SELECT round(sum(
                coalesce(mc.mc, 0) * 1.0 / (SELECT m FROM m)
                - (dc.dc * 1.0 / (2.0 * (SELECT m FROM m)))
                  * (dc.dc * 1.0 / (2.0 * (SELECT m FROM m)))
            ), 6) AS q6
            FROM dc LEFT JOIN mc ON mc.label = dc.label
            """
        ),
    ),
    "community_louvain_move": (
        _q_louvain_move,
        _with_g(
            _LPA3 + _MOVE_ROUND.format(k=4, p=3) + "SELECT id, label FROM l4"
        ),
    ),
    "community_q_improvement": (
        _q_q_improvement,
        _with_g(
            _LPA3
            + _MOVE_ROUND.format(k=4, p=3)
            + _Q_OF.format(t=3, q="q_lpa")
            + _Q_OF.format(t=4, q="q_move")
            + """
            SELECT (SELECT q FROM q_lpa) AS q_lpa6,
                   (SELECT q FROM q_move) AS q_move6,
                   (SELECT q FROM q_move) >= (SELECT q FROM q_lpa) AS improved
            """
        ),
    ),
    "incremental_cc_replay": (
        _q_incremental_cc,
        _with_g(
            _CC_CTE + f"SELECT id, comp AS component FROM cc WHERE iter = {CC_ORACLE_ITERS}",
            G_SPARSE_SQL,
            recursive=True,
        ),
    ),
    "pagerank_converged": (
        _q_pagerank_converged,
        _with_g(
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
                WHERE p.iter < 160
                GROUP BY p.iter, e.dst
            )
            SELECT id, round(r, 6) AS rank6 FROM pr WHERE iter = 160
            """,
            G_PARTS_SQL,
            recursive=True,
        ),
    ),
}


def _q_matching8(spark, sf_dir):
    """8 handshake rounds of deterministic maximal matching over the
    sparse co-occurrence graph — the METIS-coarsening primitive
    (reference ``subgraph/divide.py:8-30``) as a driver-checked kernel."""
    from ..operators.matching import handshake_matching

    res = handshake_matching(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), rounds=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.matched.select("src", "dst", "rnd")


def _matching8_sql():
    from ..operators.matching import matching_oracle_sql

    return matching_oracle_sql(G_SPARSE_SQL, rounds=8)


QUERIES["graph_matching8"] = (_q_matching8, _matching8_sql())


def _q_mis8(spark, sf_dir):
    """8 Luby rounds of maximal-independent-set — the symmetry-breaking
    dual of graph_matching8 (coloring/scheduling/coarsening seeds)."""
    from ..operators.matching import luby_mis

    res = luby_mis(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), rounds=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.matched.select("id", "rnd")


def _q_coarsen1(spark, sf_dir):
    """One multilevel-coarsening level: contract the handshake matching
    and return the coarse canonical edge list (METIS's coarsening move,
    reference ``subgraph/divide.py:8-30``)."""
    from ..operators.matching import coarsen_once

    return coarsen_once(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), rounds=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )


def _mis8_sql():
    from ..operators.matching import mis_oracle_sql

    return mis_oracle_sql(G_SPARSE_SQL, rounds=8)


def _coarsen1_sql():
    from ..operators.matching import coarsen_oracle_sql

    return coarsen_oracle_sql(G_SPARSE_SQL, rounds=8)


QUERIES["graph_mis8"] = (_q_mis8, _mis8_sql())
QUERIES["graph_coarsen1"] = (_q_coarsen1, _coarsen1_sql())


def _q_partition_lpa(spark, sf_dir):
    """Edge-cut-aware partition assignment (north rule): LPA communities
    packed size-desc round-robin into 4 parts — METIS's role
    (reference ``subgraph/divide.py:8-30``) via the engine's own kernels."""
    from ..operators.partition import lpa_partitions

    return lpa_partitions(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), k=4,
        num_partitions=graph_nparts(spark, sf_dir),
    )


def _q_edge_cut(spark, sf_dir):
    """Measured edge-cut: LPA-packed parts vs portable-hash parts on the
    same graph — the per-superstep shuffled-message count a deployment
    weighs against the partition-map join."""
    from ..operators.partition import edge_cut_summary, lpa_partitions

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    return edge_cut_summary(e, lpa_partitions(
        spark, e, k=4, num_partitions=graph_nparts(spark, sf_dir),
    ), k=4)


def _partition_sql():
    from ..operators.partition import partition_oracle_tail

    return _with_g(
        _LPA3 + partition_oracle_tail(4) + "SELECT id, part FROM assign",
        G_SPARSE_SQL,
    )


def _edge_cut_sql():
    from ..operators.partition import edge_cut_oracle_tail, partition_oracle_tail

    return _with_g(
        _LPA3 + partition_oracle_tail(4) + edge_cut_oracle_tail(4),
        G_SPARSE_SQL,
    )


QUERIES["graph_partition_lpa"] = (_q_partition_lpa, _partition_sql())
QUERIES["graph_edge_cut"] = (_q_edge_cut, _edge_cut_sql())


def _q_coloring_jp8(spark, sf_dir):
    """8 Jones-Plassmann rounds of greedy coloring over the sparse
    co-occurrence graph — the conflict-free-scheduling primitive
    (color classes = independent sets updatable concurrently)."""
    from ..operators.coloring import jp_coloring

    res = jp_coloring(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), rounds=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    return res.colored.select("id", "color", "rnd")


def _coloring_sql():
    from ..operators.coloring import jp_coloring_oracle_sql

    return jp_coloring_oracle_sql(G_SPARSE_SQL, rounds=8)


def _q_anf3(spark, sf_dir):
    """Neighborhood function within 3 hops per vertex, KMV-sketched —
    the ANF web-graph connectivity profile (effective-diameter / reach
    curves) at sketch cost instead of quadratic reach sets."""
    from ..operators.sketch import anf_kmv

    return anf_kmv(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), hops=3, k=32,
        num_partitions=graph_nparts(spark, sf_dir),
    )


def _anf3_sql():
    from ..operators.sketch import anf_oracle_sql

    return anf_oracle_sql(G_SPARSE_SQL, hops=3, k=32)


QUERIES["graph_coloring_jp8"] = (_q_coloring_jp8, _coloring_sql())
QUERIES["graph_anf3"] = (_q_anf3, _anf3_sql())


def _q_spam_mass(spark, sf_dir):
    """TrustRank spam mass (Gyongyi et al., VLDB'04): global PageRank vs
    trust-seeded personalized PageRank (both 8 exact rounds), relative
    spam mass = (pr - tr) / pr.  The anti-spam staple of a web link-graph
    engine: pages whose rank is NOT reachable from the trusted seed set
    carry high spam mass.  Composition of the existing exact kernel
    (operators/pagerank.py — the reference's proximity primitive,
    patternmatching/gray/rwr.py:149-180) run twice; the oracle mirrors
    both recursions side by side."""
    from ..operators.graph import vertex_ids
    from ..operators.pagerank import pagerank

    e = edges(spark, sf_dir)
    np_ = graph_nparts(spark, sf_dir)
    seeds = [int(r.id) for r in vertex_ids(e).orderBy("id").limit(5).collect()]
    pr = pagerank(
        spark, e, tol=0.0, max_iter=8, num_partitions=np_
    ).ranks
    tr = pagerank(
        spark, e, tol=0.0, max_iter=8,
        personalization={s: 1.0 for s in seeds}, num_partitions=np_,
    ).ranks
    return (
        pr.select("id", F.col("rank").alias("_pr"))
        .join(tr.select("id", F.col("rank").alias("_tr")), "id")
        .select(
            "id",
            F.round("_pr", 7).alias("rank7"),
            F.round("_tr", 7).alias("trust7"),
            F.round((F.col("_pr") - F.col("_tr")) / F.col("_pr"), 6).alias(
                "spam_mass6"
            ),
        )
    )


QUERIES["graph_spam_mass"] = (
    _q_spam_mass,
    _with_g(
        """
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
                   0.15 / (SELECT c FROM nn) + 0.85 * sum(p.r / d.d)
            FROM pr p JOIN sym e ON e.src = p.id JOIN deg d ON d.src = p.id
            WHERE p.iter < 8
            GROUP BY p.iter, e.dst
        )
        , tr(iter, id, r) AS (
            SELECT 0, id, 1.0 / (SELECT c FROM nn) FROM verts
            UNION ALL
            SELECT t.iter + 1, e.dst,
                   0.15 * min(pv.p) + 0.85 * sum(t.r / d.d)
            FROM tr t JOIN sym e ON e.src = t.id
                      JOIN deg d ON d.src = t.id
                      JOIN pv ON pv.id = e.dst
            WHERE t.iter < 8
            GROUP BY t.iter, e.dst
        )
        SELECT p.id, round(p.r, 7) AS rank7, round(t.r, 7) AS trust7,
               round((p.r - t.r) / p.r, 6) AS spam_mass6
        FROM pr p JOIN tr t ON t.id = p.id AND t.iter = 8
        WHERE p.iter = 8
        """,
        G_PARTS_SQL,
        recursive=True,
    ),
)


def _q_eff_diameter(spark, sf_dir):
    """ANF reach curve + 90% effective diameter (Palmer et al. KDD'02,
    THE web-graph distance measurement): per hop h, total KMV-estimated
    reach Σ_v |ball(v,h)|; the effective diameter is the smallest h whose
    total reach covers ≥ 90% of the h=6 saturation level. KMV sketches
    only grow, so per-vertex estimates — and the curve — are monotone;
    sketch cost O(V·k) per hop instead of quadratic reach sets."""
    from ..operators.sketch import anf_kmv

    a = anf_kmv(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), hops=6, k=32,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    curve = a.groupBy("h").agg(F.sum("n_reach_est").alias("reach_total"))
    sat = curve.where(F.col("h") == 6).select(
        F.col("reach_total").alias("_sat")
    )
    return curve.crossJoin(F.broadcast(sat)).select(
        "h",
        "reach_total",
        F.round(
            F.col("reach_total").cast("double") / F.col("_sat").cast("double"),
            6,
        ).alias("frac6"),
        (
            F.col("reach_total").cast("double") * F.lit(10.0)
            >= F.col("_sat").cast("double") * F.lit(9.0)
        ).alias("reaches90"),
    )


def _eff_diameter_sql():
    from ..operators.sketch import anf_oracle_sql

    inner = anf_oracle_sql(G_SPARSE_SQL, hops=6, k=32)
    return f"""
WITH curve AS (
  SELECT h, CAST(sum(n_reach_est) AS BIGINT) AS reach_total FROM ({inner}) anf GROUP BY h
)
, sat AS (SELECT reach_total AS s FROM curve WHERE h = 6)
SELECT h, reach_total,
       round(CAST(reach_total AS DOUBLE) / CAST((SELECT s FROM sat) AS DOUBLE), 6) AS frac6,
       CAST(reach_total AS DOUBLE) * 10.0 >= CAST((SELECT s FROM sat) AS DOUBLE) * 9.0 AS reaches90
FROM curve
"""


QUERIES["graph_eff_diameter"] = (_q_eff_diameter, _eff_diameter_sql())


# h-index iteration is idempotent at its fixpoint (coreness), so the
# oracle may unroll MORE rounds than the engine needed; the query guards
# engine convergence within this depth (kcore-oracle pattern).
CORENESS_ORACLE_ROUNDS = 12


def _q_coreness(spark, sf_dir):
    """Full core decomposition (coreness per vertex) by bulk-synchronous
    h-index iteration — the whole k-core hierarchy in one run instead of
    one fixed k (operators/kcore.py::coreness_hindex)."""
    from ..operators.kcore import coreness_hindex

    res = coreness_hindex(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds <= CORENESS_ORACLE_ROUNDS):
        raise RuntimeError(
            f"coreness h-index iteration took {res.rounds} rounds "
            f"(converged={res.converged}); raise CORENESS_ORACLE_ROUNDS "
            f"past {CORENESS_ORACLE_ROUNDS} to keep the unrolled oracle valid"
        )
    return res.coreness.select("id", "coreness")


def _coreness_round(k: int) -> str:
    # MATERIALIZED on every round CTE: without it DuckDB inlines the
    # 12-deep chain and planning never returns (kcore-oracle pattern)
    p = k - 1
    return f"""
, nv{k} AS MATERIALIZED (SELECT s.src AS v, c{p}.c AS c FROM sym s JOIN c{p} ON c{p}.id = s.dst)
, cnt{k} AS MATERIALIZED (SELECT v, c, count(*) AS n FROM nv{k} GROUP BY v, c)
, cum{k} AS MATERIALIZED (SELECT v, c, sum(n) OVER (PARTITION BY v ORDER BY c DESC) AS cum FROM cnt{k})
, c{k} AS MATERIALIZED (SELECT v AS id, CAST(max(least(c, CAST(cum AS BIGINT))) AS BIGINT) AS c FROM cum{k} GROUP BY v)
"""


QUERIES["graph_coreness"] = (
    _q_coreness,
    _with_g(
        ", c0 AS MATERIALIZED (SELECT src AS id, count(*) AS c FROM sym GROUP BY src)"
        + "".join(_coreness_round(k) for k in range(1, CORENESS_ORACLE_ROUNDS + 1))
        + f"SELECT id, c AS coreness FROM c{CORENESS_ORACLE_ROUNDS}",
        G_SPARSE_SQL,
    ),
)


TRUSSNESS_ORACLE_ROUNDS = 10


def _q_trussness(spark, sf_dir):
    """Full truss decomposition (trussness per edge) by bulk-synchronous
    local h-index iteration — the whole truss hierarchy in one run
    instead of one fixed k (operators/ktruss.py::trussness_hindex)."""
    from ..operators.ktruss import trussness_hindex

    res = trussness_hindex(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds <= TRUSSNESS_ORACLE_ROUNDS):
        raise RuntimeError(
            f"trussness h-index iteration took {res.rounds} rounds "
            f"(converged={res.converged}); raise TRUSSNESS_ORACLE_ROUNDS "
            f"past {TRUSSNESS_ORACLE_ROUNDS} to keep the unrolled oracle valid"
        )
    return res.trussness.select("src", "dst", "trussness")


def _trussness_round(k: int) -> str:
    # s{p} is referenced four times per round — MATERIALIZED is load-bearing
    # (inlined, DuckDB's planner re-expands the chain combinatorially)
    p = k - 1
    return f"""
, tv{k} AS MATERIALIZED (
  SELECT t.a, t.b, t.c, sab.s AS s_ab, sbc.s AS s_bc, sac.s AS s_ac
  FROM tri t
  JOIN s{p} sab ON sab.src = t.a AND sab.dst = t.b
  JOIN s{p} sbc ON sbc.src = t.b AND sbc.dst = t.c
  JOIN s{p} sac ON sac.src = t.a AND sac.dst = t.c)
, rho{k} AS MATERIALIZED (
  SELECT a AS src, b AS dst, least(s_bc, s_ac) AS rho FROM tv{k}
  UNION ALL SELECT b, c, least(s_ab, s_ac) FROM tv{k}
  UNION ALL SELECT a, c, least(s_ab, s_bc) FROM tv{k})
, cnt{k} AS MATERIALIZED (
  SELECT src, dst, rho, count(*) AS n FROM rho{k} GROUP BY src, dst, rho)
, cum{k} AS MATERIALIZED (
  SELECT src, dst, rho, sum(n) OVER (PARTITION BY src, dst ORDER BY rho DESC) AS cum
  FROM cnt{k})
, h{k} AS MATERIALIZED (
  SELECT src, dst, max(least(rho, CAST(cum AS BIGINT))) AS h
  FROM cum{k} GROUP BY src, dst)
, s{k} AS MATERIALIZED (
  SELECT s.src, s.dst, least(s.s, coalesce(h.h, 0)) AS s
  FROM s{p} s LEFT JOIN h{k} h ON h.src = s.src AND h.dst = s.dst)
"""


QUERIES["graph_trussness"] = (
    _q_trussness,
    _with_g(
        """
, tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM g e1
  JOIN g e2 ON e2.src = e1.dst
  JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst)
, s0 AS MATERIALIZED (
  SELECT e.src, e.dst, coalesce(t.s, 0) AS s
  FROM g e LEFT JOIN (
    SELECT src, dst, count(*) AS s FROM (
      SELECT a AS src, b AS dst FROM tri
      UNION ALL SELECT b, c FROM tri
      UNION ALL SELECT a, c FROM tri)
    GROUP BY src, dst) t ON t.src = e.src AND t.dst = e.dst)
"""
        + "".join(_trussness_round(k) for k in range(1, TRUSSNESS_ORACLE_ROUNDS + 1))
        + f"SELECT src, dst, CAST(s + 2 AS BIGINT) AS trussness FROM s{TRUSSNESS_ORACLE_ROUNDS}",
        G_SPARSE_SQL,
    ),
)


def _q_rich_club(spark, sf_dir):
    """Rich-club coefficient at fixed degree thresholds — do the sparse
    graph's hubs preferentially interlink (operators/metrics.py::rich_club)."""
    from ..operators.metrics import rich_club

    return rich_club(edges(spark, sf_dir, G_SPARSE_SQL))


_RICH_CLUB_TAIL = """
, deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, dp AS MATERIALIZED (
  SELECT g.src, g.dst, d1.d AS du, d2.d AS dv
  FROM g JOIN deg d1 ON d1.id = g.src JOIN deg d2 ON d2.id = g.dst)
, ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k)
, ec AS (
  SELECT ks.k, sum(CASE WHEN dp.du > ks.k AND dp.dv > ks.k THEN 1 ELSE 0 END) AS e
  FROM ks CROSS JOIN dp GROUP BY ks.k)
, nc AS (
  SELECT ks.k, sum(CASE WHEN deg.d > ks.k THEN 1 ELSE 0 END) AS n
  FROM ks CROSS JOIN deg GROUP BY ks.k)
SELECT ks.k,
       CAST(coalesce(nc.n, 0) AS BIGINT) AS n_nodes,
       CAST(coalesce(ec.e, 0) AS BIGINT) AS n_edges,
       CASE WHEN coalesce(nc.n, 0) >= 2
            THEN round(2.0 * coalesce(ec.e, 0) / (nc.n * (nc.n - 1)), 6)
       END AS phi6
FROM ks JOIN nc ON nc.k = ks.k JOIN ec ON ec.k = ks.k
"""


QUERIES["graph_rich_club"] = (_q_rich_club, _with_g(_RICH_CLUB_TAIL, G_SPARSE_SQL))


def _q_harmonic_anf(spark, sf_dir):
    """Approximate per-vertex harmonic centrality from the KMV-ANF reach
    curve (the HyperBall idea, Boldi-Vigna: harm(v) = Σ_h Δreach(v,h)/h)
    — whole-graph centrality at sketch cost, where the exact BFS variant
    (harmonic_centrality_seeds) only affords a seed set."""
    from ..operators.sketch import anf_kmv

    est = anf_kmv(
        spark, edges(spark, sf_dir, G_SPARSE_SQL), hops=3, k=32,
        num_partitions=graph_nparts(spark, sf_dir),
    )
    r = est.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h") == h, F.col("n_reach_est"))
            ).alias(f"r{h}")
            for h in (1, 2, 3)
        ]
    )
    return r.select(
        "id",
        F.round(
            (F.col("r1") - 1) / F.lit(1.0)
            + (F.col("r2") - F.col("r1")) / F.lit(2.0)
            + (F.col("r3") - F.col("r2")) / F.lit(3.0),
            6,
        ).alias("harm6"),
    )


def _harmonic_anf_sql():
    from ..operators.sketch import anf_oracle_sql

    return f"""
SELECT id,
       round((r1 - 1) / 1.0 + (r2 - r1) / 2.0 + (r3 - r2) / 3.0, 6) AS harm6
FROM (
  SELECT id,
         sum(CASE WHEN h = 1 THEN n_reach_est END) AS r1,
         sum(CASE WHEN h = 2 THEN n_reach_est END) AS r2,
         sum(CASE WHEN h = 3 THEN n_reach_est END) AS r3
  FROM ({anf_oracle_sql(G_SPARSE_SQL, hops=3, k=32)}) est
  GROUP BY id
) t
"""


QUERIES["graph_harmonic_anf"] = (_q_harmonic_anf, _harmonic_anf_sql())


def _q_k4_count(spark, sf_dir):
    """Global 4-clique count on the sparse graph — the motif one up from
    triangles (operators/triangles.py::k4_count)."""
    from ..operators.triangles import k4_count

    n = k4_count(edges(spark, sf_dir, G_SPARSE_SQL))
    return spark.createDataFrame([(n,)], "n_k4 BIGINT")


_K4_TAIL = """
SELECT CAST(count(*) AS BIGINT) AS n_k4
FROM g e1
JOIN g e2 ON e2.src = e1.dst
JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst
JOIN g e4 ON e4.src = e2.dst
JOIN g e5 ON e5.src = e1.src AND e5.dst = e4.dst
JOIN g e6 ON e6.src = e1.dst AND e6.dst = e4.dst
"""


QUERIES["graph_k4_count"] = (_q_k4_count, _with_g(_K4_TAIL, G_SPARSE_SQL))


def _q_lpa3_weighted(spark, sf_dir):
    """3-round weighted LPA on the multiplicity-weighted co-occurrence
    graph — neighbor votes carry shared-order counts
    (operators/labelprop.py::label_propagation_weighted)."""
    from ..operators.labelprop import label_propagation_weighted

    e = edges(spark, sf_dir, _G_WPARTS_SQL)
    return label_propagation_weighted(
        spark, e, max_iter=3, num_partitions=graph_nparts(spark, sf_dir)
    ).select("id", "label")


_WLPA_ROUND = """
, l{k} AS MATERIALIZED (
    SELECT e.dst AS id, l.label
    FROM symw e JOIN l{p} l ON l.id = e.src
    GROUP BY e.dst, l.label
    QUALIFY row_number() OVER (
        PARTITION BY e.dst ORDER BY sum(e.w) DESC, l.label ASC) = 1
)
"""


_WLPA_SQL = (
    f"WITH g AS ({_G_WPARTS_SQL})"
    + ", symw AS (SELECT src, dst, w FROM g"
    + " UNION ALL SELECT dst AS src, src AS dst, w FROM g)"
    + ", l0 AS (SELECT DISTINCT src AS id, src AS label FROM symw)"
    + "".join(_WLPA_ROUND.format(k=k, p=k - 1) for k in (1, 2, 3))
    + "SELECT id, label FROM l3"
)


QUERIES["label_propagation3_weighted"] = (_q_lpa3_weighted, _WLPA_SQL)


def _q_ppr_push(spark, sf_dir):
    """Approximate personalized PageRank by synchronous forward push from
    the 3 smallest vertex ids — frontier-local work, the engine-native
    form of the reference's affected-region partial execution
    (operators/push.py::forward_push_ppr)."""
    from ..operators.graph import vertex_ids
    from ..operators.push import forward_push_ppr

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    seeds = [int(r.id) for r in vertex_ids(e).orderBy("id").limit(3).collect()]
    return forward_push_ppr(
        spark, e, seeds, alpha=0.15, eps=1e-4, rounds=8,
        num_partitions=graph_nparts(spark, sf_dir),
    )




def _ppr_push_sql():
    from ..operators.push import forward_push_oracle_sql

    return forward_push_oracle_sql(
        G_SPARSE_SQL, n_seeds=3, alpha=0.15, eps=1e-4, rounds=8
    )


QUERIES["graph_ppr_push"] = (_q_ppr_push, _ppr_push_sql())


def _q_sparsify(spark, sf_dir):
    """Structural Jaccard sparsifier on the sparse graph at threshold
    1/10 — integer cross-multiplied decision, engine-exact
    (operators/metrics.py::jaccard_sparsify)."""
    from ..operators.metrics import jaccard_sparsify

    return jaccard_sparsify(edges(spark, sf_dir, G_SPARSE_SQL), num=1, den=10)


_SPARSIFY_TAIL = """
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
SELECT s.src, s.dst, s.sup,
       CAST(10 * s.sup AS BIGINT) AS jac_num,
       CAST(1 * (d1.d + d2.d - 2 - s.sup) AS BIGINT) AS jac_den,
       10 * s.sup >= 1 * (d1.d + d2.d - 2 - s.sup) AS kept
FROM sup s JOIN deg d1 ON d1.id = s.src JOIN deg d2 ON d2.id = s.dst
"""


QUERIES["graph_sparsify_jaccard"] = (_q_sparsify, _with_g(_SPARSIFY_TAIL, G_SPARSE_SQL))


def _q_local_bridges(spark, sf_dir):
    """Local bridges (Granovetter): edges whose endpoints share NO common
    neighbor (triangle support 0) — the weak ties whose removal lengthens
    the shortest path between their endpoints; pure filter over the same
    edge-support relation the sparsifier uses."""
    from ..operators.ktruss import _edge_support
    from ..operators.graph import canonical_undirected

    e = canonical_undirected(edges(spark, sf_dir, G_SPARSE_SQL))
    return _edge_support(e).where(F.col("sup") == 0).select("src", "dst")


_LOCAL_BRIDGES_TAIL = """
, tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM g e1 JOIN g e2 ON e2.src = e1.dst
  JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst)
, supx AS MATERIALIZED (
  SELECT src, dst, count(*) AS s FROM (
    SELECT a AS src, b AS dst FROM tri
    UNION ALL SELECT b, c FROM tri
    UNION ALL SELECT a, c FROM tri) GROUP BY src, dst)
SELECT e.src, e.dst
FROM g e LEFT JOIN supx t ON t.src = e.src AND t.dst = e.dst
WHERE coalesce(t.s, 0) = 0
"""


QUERIES["graph_local_bridges"] = (
    _q_local_bridges,
    _with_g(_LOCAL_BRIDGES_TAIL, G_SPARSE_SQL),
)


def _q_halo_2hop(spark, sf_dir):
    """d-hop halo partitions (reference overlap.py:8-46 realized as d
    build-time joins) driving a fully partition-local ≤2-hop neighborhood
    count: after the ONE halo build there is no exchange — each partition
    answers for its owned vertices from its replicated induced subgraph.
    The oracle computes the same statistic globally, so the equality
    check IS the proof that the replication is complete."""
    from ..operators.halo import halo_partitions, halo_two_hop_counts

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    halo = halo_partitions(e, num_partitions=graph_nparts(spark, sf_dir), depth=2)
    return halo_two_hop_counts(halo)


_HALO_2HOP_TAIL = """
, two AS (
  SELECT src AS id, dst AS w FROM sym
  UNION
  SELECT a.src AS id, b.dst AS w FROM sym a JOIN sym b ON b.src = a.dst
)
SELECT id, CAST(count(*) AS BIGINT) AS n2
FROM (SELECT DISTINCT id, w FROM two WHERE w <> id) d
GROUP BY id
"""

QUERIES["graph_halo_2hop"] = (
    _q_halo_2hop,
    _with_g(_HALO_2HOP_TAIL, G_SPARSE_SQL),
)


# ---- onion decomposition (peel-layer index) ---------------------------
ONION_ORACLE_ROUNDS = 36  # sf0.1 peels in 28 rounds; margin for larger SFs


def _q_onion(spark, sf_dir):
    """Onion decomposition of the sparse graph: peel-layer index plus
    the core threshold at peel time (== coreness, cross-checked in
    tests). Bulk-synchronous peeling — operators/kcore.py::onion_layers."""
    from ..operators.kcore import onion_layers

    res = onion_layers(
        spark, edges(spark, sf_dir, G_SPARSE_SQL),
        num_partitions=graph_nparts(spark, sf_dir),
    )
    if not (res.converged and res.rounds <= ONION_ORACLE_ROUNDS):
        raise RuntimeError(
            f"onion peeling took {res.rounds} rounds (converged="
            f"{res.converged}); raise ONION_ORACLE_ROUNDS past "
            f"{ONION_ORACLE_ROUNDS} to keep the unrolled oracle valid"
        )
    return res.layers


def _onion_round(r: int) -> str:
    # MATERIALIZED per round: the alive/edge CTEs are each referenced
    # multiple times per round (coreness-oracle pattern)
    p = r - 1
    return f"""
, d{r} AS MATERIALIZED (
    SELECT a.id, CAST(count(s.src) AS BIGINT) AS deg
    FROM a{p} a LEFT JOIN s{p} s ON s.src = a.id GROUP BY a.id)
, k{r} AS MATERIALIZED (
    SELECT greatest((SELECT k FROM k{p}),
                    coalesce((SELECT min(deg) FROM d{r}), CAST(0 AS BIGINT))) AS k)
, p{r} AS MATERIALIZED (
    SELECT id, CAST({r} AS BIGINT) AS layer,
           (SELECT k FROM k{r}) AS onion_core
    FROM d{r} WHERE deg <= (SELECT k FROM k{r}))
, a{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE deg > (SELECT k FROM k{r}))
, s{r} AS MATERIALIZED (
    SELECT s.src, s.dst FROM s{p} s
    JOIN a{r} x ON x.id = s.src JOIN a{r} y ON y.id = s.dst)
"""


QUERIES["graph_onion"] = (
    _q_onion,
    _with_g(
        ", a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)"
        ", s0 AS MATERIALIZED (SELECT src, dst FROM sym)"
        ", k0 AS (SELECT CAST(0 AS BIGINT) AS k)"
        + "".join(_onion_round(r) for r in range(1, ONION_ORACLE_ROUNDS + 1))
        + "SELECT id, layer, onion_core FROM ("
        + " UNION ALL ".join(
            f"SELECT * FROM p{r}" for r in range(1, ONION_ORACLE_ROUNDS + 1)
        )
        + ")",
        G_SPARSE_SQL,
    ),
)


# ---- two-sweep diameter lower bound -----------------------------------
_SWEEP_ORACLE_ITERS = 32


def _q_diameter_2sweep(spark, sf_dir):
    """Double-BFS diameter lower bound (the 2-sweep of iFUB, Crescenzi
    et al. TCS'13): BFS from the max-degree vertex, then BFS from the
    farthest vertex found; that second eccentricity lower-bounds the
    true diameter and is exact on many real topologies. Two runs of the
    unweighted SSSP kernel + two scalar argmax probes — the whole-graph
    analogue the ANF effective-diameter estimate is sanity-checked by."""
    from ..operators.sssp import sssp

    e = edges(spark, sf_dir, G_SPARSE_SQL).withColumn("w", F.lit(1.0))
    seed_row = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .groupBy("id").agg(F.count("*").alias("d"))
        .orderBy(F.desc("d"), F.asc("id")).limit(1).collect()[0]
    )
    seed = int(seed_row["id"])
    b1 = sssp(spark, e, seed, directed=False,
              num_partitions=graph_nparts(spark, sf_dir))
    assert b1.converged and b1.supersteps <= _SWEEP_ORACLE_ITERS
    far_row = (
        b1.distances.orderBy(F.desc("dist"), F.asc("id")).limit(1).collect()[0]
    )
    far, ecc_seed = int(far_row["id"]), int(far_row["dist"])
    n_reach = b1.distances.count()
    b2 = sssp(spark, e, far, directed=False,
              num_partitions=graph_nparts(spark, sf_dir))
    assert b2.converged and b2.supersteps <= _SWEEP_ORACLE_ITERS
    return b2.distances.agg(
        F.lit(seed).cast("bigint").alias("seed"),
        F.lit(ecc_seed).cast("bigint").alias("ecc_seed"),
        F.lit(far).cast("bigint").alias("far"),
        F.max(F.col("dist").cast("bigint")).alias("diameter_lb"),
        F.lit(n_reach).cast("bigint").alias("n_reach"),
    )


def _bfs_cte(name: str, src_sql: str, iters: int) -> str:
    """Bounded min-merge BFS levels from a scalar-subquery source —
    the graph_earliest_arrival dominance pattern on the static graph."""
    return f"""
, {name}(iter, id, d) AS (
    SELECT 0, ({src_sql}), CAST(0 AS BIGINT)
    UNION ALL
    SELECT s.iter + 1, e.dst, min(s.d + 1)
    FROM {name} s JOIN sym e ON e.src = s.id
    WHERE s.iter < {iters}
    GROUP BY s.iter, e.dst
)
, {name}_d AS (SELECT id, min(d) AS d FROM {name} GROUP BY id)
"""


QUERIES["graph_diameter_2sweep"] = (
    _q_diameter_2sweep,
    _with_g(
        ", deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)"
        ", seed AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT 1)"
        + _bfs_cte("b1", "SELECT id FROM seed", _SWEEP_ORACLE_ITERS)
        + ", far AS (SELECT id, d FROM b1_d ORDER BY d DESC, id LIMIT 1)"
        + _bfs_cte("b2", "SELECT id FROM far", _SWEEP_ORACLE_ITERS)
        + """
SELECT (SELECT id FROM seed) AS seed,
       (SELECT d FROM far) AS ecc_seed,
       (SELECT id FROM far) AS far,
       (SELECT max(d) FROM b2_d) AS diameter_lb,
       (SELECT CAST(count(*) AS BIGINT) FROM b1_d) AS n_reach
""",
        G_SPARSE_SQL,
        recursive=True,
    ),
)


# ---- per-community conductance over the LPA partition ------------------
_COND_TOP = 10


def _q_conductance_lpa(spark, sf_dir):
    """Conductance of the 10 largest 3-round-LPA communities on the dense
    co-occurrence graph: phi(C) = cut(C) / min(vol(C), 2m - vol(C)) —
    the community-quality metric modularity doesn't see (a community can
    score well on Q yet leak badly at its boundary). Exact integer
    cut/volume counts, one guarded division, rounded for cross-engine
    rank; boundary accounting is one labeled-edge pass (each crossing
    edge charges both sides)."""
    from ..operators.graph import symmetrize
    from ..operators.labelprop import label_propagation

    e = edges(spark, sf_dir)
    m = e.count()
    lab = label_propagation(
        spark, e, max_iter=3, num_partitions=graph_nparts(spark, sf_dir)
    ).labels
    el = (
        e.join(lab.select(F.col("id").alias("src"), F.col("label").alias("la")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("lb")), "dst")
    )
    cut = (
        el.where(F.col("la") != F.col("lb"))
        .select(F.explode(F.array("la", "lb")).alias("label"))
        .groupBy("label")
        .agg(F.count("*").cast("bigint").alias("cut"))
    )
    deg = symmetrize(e).groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    vol = (
        deg.join(lab, "id")
        .groupBy("label")
        .agg(F.sum("d").cast("bigint").alias("vol"))
    )
    size = lab.groupBy("label").agg(F.count("*").cast("bigint").alias("size"))
    den = F.least(F.col("vol"), F.lit(2 * m) - F.col("vol"))
    phi6 = F.when(den <= 0, F.lit(0.0)).otherwise(
        F.round(F.col("cut").cast("double") / den, 6)
    )
    return (
        size.join(vol, "label")
        .join(cut, "label", "left")
        .select(
            "label", "size", "vol",
            F.coalesce("cut", F.lit(0)).cast("bigint").alias("cut"),
            phi6.alias("phi6"),
        )
        .orderBy(F.desc("size"), F.asc("label"))
        .limit(_COND_TOP)
    )


QUERIES["graph_conductance_lpa"] = (
    _q_conductance_lpa,
    _with_g(
        ", l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"
        + _LPA_ROUND.format(k=1, p=0)
        + _LPA_ROUND.format(k=2, p=1)
        + _LPA_ROUND.format(k=3, p=2)
        + f"""
, m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM g)
, el AS (
    SELECT la.label AS la, lb.label AS lb
    FROM g e JOIN l3 la ON la.id = e.src JOIN l3 lb ON lb.id = e.dst
)
, cut AS (
    SELECT label, CAST(count(*) AS BIGINT) AS cut
    FROM (SELECT unnest([la, lb]) AS label FROM el WHERE la <> lb)
    GROUP BY label
)
, deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, vol AS (
    SELECT l.label, CAST(sum(d.d) AS BIGINT) AS vol
    FROM deg d JOIN l3 l ON l.id = d.id GROUP BY l.label
)
, sz AS (SELECT label, CAST(count(*) AS BIGINT) AS size FROM l3 GROUP BY label)
SELECT sz.label, sz.size, vol.vol,
       CAST(coalesce(cut.cut, 0) AS BIGINT) AS cut,
       CASE WHEN least(vol.vol, 2 * (SELECT m FROM m) - vol.vol) <= 0 THEN 0.0
            ELSE round(CAST(coalesce(cut.cut, 0) AS DOUBLE)
                       / least(vol.vol, 2 * (SELECT m FROM m) - vol.vol), 6)
       END AS phi6
FROM sz JOIN vol ON vol.label = sz.label
LEFT JOIN cut ON cut.label = sz.label
ORDER BY sz.size DESC, sz.label LIMIT {_COND_TOP}
"""
    ),
)
