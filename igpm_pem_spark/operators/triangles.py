"""Triangle counting — canonical-edge join plan (J5 in SURVEY.md §2.3).

The reference uses ``nx.triangles`` as its per-step ground-truth pattern
metric (``patternmatching/gray/incremental/gray_incremental.py:193,201``)
and a triangle query graph as its flagship pattern (``gray.ini:9``). The
distributed plan is the classic two-join wedge enumeration over canonical
``a < b`` edges:

    wedges(a, c | a<b<c) = e(a,b) ⋈ e(b,c)
    triangles = wedges ⋈ e(a,c)              (existence join)

Ordering ``a < b < c`` ensures each triangle is enumerated exactly once.
At scale the ordered edge orientation halves the join input and bounds the
wedge explosion to low-degree endpoints (orienting edges from the
lower-degree vertex is a further classic refinement; the a<b orientation
is what the SQL oracle can mirror exactly, so that's the spec'd semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graph import canonical_undirected


def _triangle_list_canon(e: DataFrame) -> DataFrame:
    """Id-ordered enumeration over an already-canonical (a<b) edge list."""
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c")
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return wedges.join(e3, ["a", "c"]).select("a", "b", "c")


def triangle_list(edges: DataFrame) -> DataFrame:
    """All triangles as (a, b, c) with a < b < c, each exactly once."""
    return _triangle_list_canon(canonical_undirected(edges))


def triangle_count(edges: DataFrame) -> int:
    """Global triangle count — equals ``sum(nx.triangles(g).values()) / 3``
    (the reference's oracle expression, ``gray_incremental.py:193``).

    One cheap degree probe picks the plan: the id-ordered join (the a<b
    spec plan the SQL oracle mirrors) when the max degree is benign (fewer
    joins, ~8× faster on sparse graphs), the degree-oriented one when a hub
    would make id-ordered wedge fan-out explode. Cutover at max_deg² > 4·E:
    id-ordered wedge volume is bounded by E·max_deg but concentrates
    ~max_deg² wedges on each hub's partition, so once one hub's wedge count
    rivals the whole edge list the oriented plan's O(E^1.5) guarantee wins.
    Both plans produce the same count (pinned by tests)."""
    e = canonical_undirected(edges).persist()
    try:
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        row = (
            sym.groupBy("src")
            .agg(F.count("*").alias("d"))
            .agg(F.max("d").alias("mx"), F.sum("d").alias("s2"))
            .first()
        )
        if row is None or row["mx"] is None:
            return 0
        max_deg, m = int(row["mx"]), int(row["s2"]) // 2
        if max_deg * max_deg <= max(4 * m, 4096):
            return _triangle_list_canon(e).count()
        return _tc_degree_oriented_canon(e)
    finally:
        e.unpersist()


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, triangles) per vertex, matching ``nx.triangles(g)`` — every
    vertex of each (a,b,c) triangle is credited once. Vertices in no
    triangle get 0 via the left join against the vertex set."""
    tris = triangle_list(edges)
    # explode, not a 3-way self-union: a union would reference (and
    # re-evaluate) the whole wedge-join enumeration three times in the
    # physical plan — one Generate keeps the expensive subplan single
    credited = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    e = canonical_undirected(edges)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return verts.join(credited, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )


def _tc_degree_oriented_canon(e: DataFrame) -> int:
    """Triangle count over a canonical (a<b) edge list with degree-based
    edge orientation — the scale path for power-law graphs.

    Each undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one; every triangle then has exactly one "apex" ordering,
    and the wedge join only fans out from the LOWER-degree endpoint: the
    per-vertex wedge work is bounded by out-degree² where max out-degree is
    O(√E) after orientation — versus unbounded hub fan-out in the naive
    id-ordered plan (a 1e7-degree hub contributes 1e14 id-ordered wedges
    but only ~E^1.5 oriented ones)."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    # attach degree to both endpoints, orient low→high with id tie-break
    d1 = deg.select(F.col("id").alias("src"), F.col("deg").alias("dsrc"))
    d2 = deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddst"))
    ed = e.join(d1, "src").join(d2, "dst")
    fwd = F.struct(F.col("dsrc").alias("d"), F.col("src").alias("v")) < F.struct(
        F.col("ddst").alias("d"), F.col("dst").alias("v")
    )
    oriented = ed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    # close the wedge with the edge between b and c (either orientation;
    # b < c in the wedge, so compare against the id-canonical form)
    closing = oriented.select(
        F.least("u", "v").alias("b"), F.greatest("u", "v").alias("c")
    )
    closed = wedges.join(closing, ["b", "c"], "left_semi")
    return closed.count()


def star_count(edges: DataFrame, min_degree: int = 4) -> int:
    """Vertices with degree ≥ min_degree — the reference's "5-node star"
    ground-truth count (``gray_incremental.py:194,202``: degree ≥ 4)."""
    e = canonical_undirected(edges)
    deg = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.where(F.col("degree") >= min_degree).count()


def k4_count(edges: DataFrame) -> int:
    """Global 4-clique (K4) count — the next motif up from triangles; a
    standard cohesion statistic for link-spam and community-core
    analysis. Equals the number of vertex quadruples with all 6 edges.

    Plan: extend each id-ordered triangle (a<b<c) by a fourth vertex d>c
    adjacent to all three — ONE equi-join of the triangle list against
    the canonical edge list per remaining adjacency ((c,d) drives the
    candidate generation, then (a,d) and (b,d) are verified with two
    more equi-joins). Work is O(T · avg-completion-degree) beyond the
    triangle enumeration; every join is a hash equi-join on ids — no
    cartesian stage, and the id-ordering means each clique is produced
    exactly once. At hub-skewed scale the same degree-orientation
    trick as triangle_count applies upstream (orient by degree before
    enumerating), which this composition inherits via its input."""
    e = canonical_undirected(edges).persist()
    try:
        tris = _triangle_list_canon(e)
        cand = tris.join(
            e.select(F.col("src").alias("c"), F.col("dst").alias("d")), "c"
        )
        chk1 = cand.join(
            e.select(F.col("src").alias("a"), F.col("dst").alias("d")),
            ["a", "d"],
        )
        k4 = chk1.join(
            e.select(F.col("src").alias("b"), F.col("dst").alias("d")),
            ["b", "d"],
        )
        return k4.count()
    finally:
        e.unpersist()


def directed_triad_census(edges: DataFrame) -> DataFrame:
    """(motif, n): closed-triad census of a digraph — ``cyclic`` (the
    3-cycle a→b→c→a), ``transitive`` (the feed-forward a→b→c with the
    a→c shortcut), and ``mutual`` (any triangle containing at least one
    reciprocated pair) — the directed refinement of triangle counting
    that distinguishes feedback loops from hierarchy in a link graph
    (the reference's triangle pattern ``gray.ini:9`` is orientation-
    blind; this is the classic Holland-Leinhardt closed-triad split).

    Plan: one pass folds each directed edge to its unordered pair with
    an orientation flag (``fwd`` = low→high) and a direction count
    (2 = reciprocated), then the standard two-join id-ordered wedge
    enumeration runs over the PAIR relation with the flags carried
    inline — so the census costs exactly the canonical triangle plan
    (no extra joins to re-fetch orientations), and the same upstream
    degree-orientation refinement applies at hub-skewed scale. Self
    loops are dropped; duplicate directed edges are deduped first."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    pair = (
        e.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            (F.col("src") < F.col("dst")).alias("fwd"),
        )
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("ndir"), F.max("fwd").alias("fwd"))
    )
    p1 = pair.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"),
        F.col("ndir").alias("n_ab"), F.col("fwd").alias("d_ab"),
    )
    p2 = pair.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"),
        F.col("ndir").alias("n_ac"), F.col("fwd").alias("d_ac"),
    )
    p3 = pair.select(
        F.col("lo").alias("b"), F.col("hi").alias("c"),
        F.col("ndir").alias("n_bc"), F.col("fwd").alias("d_bc"),
    )
    tri = (
        p1.join(p2, "a")
        .where(F.col("c") > F.col("b"))
        .join(p3, ["b", "c"])
    )
    cyc = (
        F.col("d_ab") & F.col("d_bc") & ~F.col("d_ac")
    ) | (~F.col("d_ab") & ~F.col("d_bc") & F.col("d_ac"))
    motif = (
        F.when(
            (F.col("n_ab") > 1) | (F.col("n_ac") > 1) | (F.col("n_bc") > 1),
            F.lit("mutual"),
        )
        .when(cyc, F.lit("cyclic"))
        .otherwise(F.lit("transitive"))
    )
    return (
        tri.select(motif.alias("motif"))
        .groupBy("motif")
        .agg(F.count("*").alias("n"))
    )
