"""Per-vertex / whole-graph structural metrics beyond counts.

The reference's statistic surface is degrees, triangle counts, community
sizes (``gray_incremental.py:92-96,193-202``); these are the standard
next ring of link-graph metrics — local clustering coefficient, degree
assortativity, neighborhood aggregates, and common-neighbor link
prediction — each a short composition of the same canonical-edge joins
the triangle kernel uses, all SQL-mirrorable exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._superstep import released
from .graph import canonical_undirected, symmetrize
from .triangles import triangles_per_vertex


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, lcc): local clustering coefficient 2·tri(v) / (d(v)·(d(v)−1))
    on the undirected simple graph; vertices with degree < 2 score 0.0
    (``nx.clustering`` convention — the reference's NetworkX world)."""
    # persist the canonical relation: the degree aggregate and the
    # triangle enumeration both consume it (and the enumeration reads it
    # three times as e1/e2/e3) — one materialization instead of re-deriving
    # the upstream edge plan per reference
    e = canonical_undirected(edges).persist()
    with released(e):
        deg = (
            symmetrize(e)
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("d"))
        )
        tri = triangles_per_vertex(e)
        out = deg.join(tri, "id", "left").select(
            "id",
            F.when(
                F.col("d") >= 2,
                2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
        out = out.localCheckpoint(eager=True)
    return out


def degree_assortativity(edges: DataFrame) -> float:
    """Pearson correlation of (deg(u), deg(v)) over the symmetrized edge
    list — the standard degree-assortativity coefficient (Newman 2002).
    One degree aggregate + two broadcast-size joins + corr; a single-pass
    whole-graph scalar at any scale."""
    df = degree_pairs(edges)
    row = df.agg(F.corr("du", "dv").alias("r")).first()
    return float(row["r"]) if row["r"] is not None else float("nan")


def degree_pairs(edges: DataFrame) -> DataFrame:
    """(src, dst, du, dv): each symmetrized edge with its endpoint degrees
    — the assortativity input relation (exposed for the SQL oracle)."""
    sym = symmetrize(canonical_undirected(edges))
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    return (
        sym.join(deg.select(F.col("id").alias("src"), F.col("d").alias("du")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dv")), "dst")
        .select("src", "dst", "du", "dv")
    )


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """(id, avg_nbr_deg): mean degree over each vertex's neighbors — the
    canonical 1-hop neighborhood aggregate (``nx.average_neighbor_degree``).
    Same relation as assortativity, grouped the other way."""
    return (
        degree_pairs(edges)
        .groupBy(F.col("src").alias("id"))
        .agg(F.avg("dv").alias("avg_nbr_deg"))
    )


def link_prediction_jaccard(
    edges: DataFrame, min_common: int = 2
) -> DataFrame:
    """(a, b, cn, jaccard): common-neighbor counts and Jaccard scores for
    NON-adjacent vertex pairs sharing ≥ ``min_common`` neighbors — the
    classic link-prediction candidate generator.

    Plan shape: wedge self-join on the shared neighbor (same skeleton as
    triangle counting, bounded by Σ d(v)² like any wedge enumeration),
    aggregate to (pair → cn), anti-join existing edges, then one
    degree-join pair for the union size. ``min_common`` prunes the
    enormous cn=1 tail BEFORE the anti-join and degree joins — at scale
    that filter is what keeps the candidate set near-linear."""
    sym = symmetrize(canonical_undirected(edges)).persist()
    with released(sym):
        deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
        w1 = sym.select(F.col("dst").alias("n"), F.col("src").alias("a"))
        w2 = sym.select(F.col("dst").alias("n"), F.col("src").alias("b"))
        cn = (
            w1.join(w2, "n")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("cn"))
            .where(F.col("cn") >= min_common)
        )
        cand = cn.join(
            sym.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"],
            "left_anti",
        )
        out = (
            cand.join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
            .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
            .select(
                "a", "b", "cn",
                (
                    F.col("cn")
                    / (F.col("da") + F.col("db") - F.col("cn")).cast("double")
                ).alias("jaccard"),
            )
        )
        out = out.localCheckpoint(eager=True)
    return out


def link_prediction_adamic_adar(
    edges: DataFrame, min_common: int = 2
) -> DataFrame:
    """(a, b, cn, aa, ra): Adamic-Adar (Σ 1/ln d(n)) and resource-
    allocation (Σ 1/d(n)) scores over the common neighbors of
    NON-adjacent vertex pairs sharing ≥ ``min_common`` neighbors — the
    degree-weighted refinements of ``link_prediction_jaccard`` (a hub
    shared by everyone is weak evidence; a rare shared neighbor is
    strong).

    Same wedge-join skeleton as the Jaccard variant, but the shared
    neighbor's degree is joined BEFORE the pair aggregation, so both
    sums come out of the one groupBy — no extra pass over the candidate
    set. A wedge center has degree ≥ 2, so ln d(n) ≥ ln 2 > 0 and the
    reciprocal is always finite. ``min_common`` prunes the cn=1 tail
    before the anti-join, as in the Jaccard plan."""
    sym = symmetrize(canonical_undirected(edges)).persist()
    with released(sym):
        deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
        w1 = sym.select(F.col("dst").alias("n"), F.col("src").alias("a"))
        w2 = sym.select(F.col("dst").alias("n"), F.col("src").alias("b"))
        cn = (
            w1.join(w2, "n")
            .where(F.col("a") < F.col("b"))
            .join(deg.select(F.col("id").alias("n"), F.col("d").alias("dn")), "n")
            .groupBy("a", "b")
            .agg(
                F.count("*").alias("cn"),
                F.sum(F.lit(1.0) / F.log(F.col("dn"))).alias("aa"),
                F.sum(F.lit(1.0) / F.col("dn")).alias("ra"),
            )
            .where(F.col("cn") >= min_common)
        )
        out = cn.join(
            sym.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"],
            "left_anti",
        ).localCheckpoint(eager=True)
    return out


def square_count(edges: DataFrame) -> int:
    """Global 4-cycle count via the diagonal-pair identity: each square
    u-v-w-x-u is determined by its two diagonals, so
    squares = Σ_{u<w} C(cn(u,w), 2) / 2 over common-neighbor counts —
    ONE wedge self-join + one aggregate, the same shuffle shape as
    triangle counting (bounded by Σ d(v)²), never a 4-way join."""
    sym = symmetrize(canonical_undirected(edges))
    w1 = sym.select(F.col("dst").alias("n"), F.col("src").alias("a"))
    w2 = sym.select(F.col("dst").alias("n"), F.col("src").alias("b"))
    cn = (
        w1.join(w2, "n")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    row = cn.agg(
        (F.sum(F.expr("cn * (cn - 1) DIV 2")) / 2).cast("long").alias("sq")
    ).first()
    return int(row["sq"]) if row["sq"] is not None else 0


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Newman modularity Q = Σ_c [ m_c/m − (D_c/2m)² ] of a community
    assignment ``labels`` (id, label) over the undirected simple graph —
    the standard quality score for the LPA partition (A8's output).
    One intra-edge aggregate + one degree aggregate; the per-community
    terms are a tiny relation reduced on the driver."""
    e = canonical_undirected(edges).persist()
    with released(e):
        m = e.count()
        if m == 0:
            return float("nan")
        lab = labels.select("id", "label")
        la = lab.select(F.col("id").alias("src"), F.col("label").alias("_la"))
        lb = lab.select(F.col("id").alias("dst"), F.col("label").alias("_lb"))
        mc = (
            e.join(la, "src")
            .join(lb, "dst")
            .where(F.col("_la") == F.col("_lb"))
            .groupBy(F.col("_la").alias("label"))
            .agg(F.count("*").alias("mc"))
        )
        deg = (
            symmetrize(e)
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("d"))
        )
        dc = (
            deg.join(lab, "id")
            .groupBy("label")
            .agg(F.sum("d").alias("dc"))
        )
        row = (
            dc.join(mc, "label", "left")
            .select(
                (
                    F.coalesce(F.col("mc"), F.lit(0)) / F.lit(float(m))
                    - (F.col("dc") / F.lit(2.0 * m)) * (F.col("dc") / F.lit(2.0 * m))
                ).alias("term")
            )
            .agg(F.sum("term").alias("q"))
            .first()
        )
    return float(row["q"])


def rich_club(
    edges: DataFrame,
    thresholds: list[int] = (1, 2, 4, 8, 16, 32),
) -> DataFrame:
    """(k, n_nodes, n_edges, phi6): rich-club coefficient φ(k) =
    2·E_k / (N_k·(N_k−1)) over the undirected simple graph, where N_k are
    vertices with degree > k and E_k the edges among them (Zhou-Mondragón;
    ``nx.rich_club_coefficient(normalized=False)`` at the same k).

    One degree aggregate + two joins to tag each canonical edge with its
    endpoint degrees, then ONE conditional-aggregation pass producing all
    thresholds at once (no per-k jobs, no explode — the k-loop lives in
    the aggregate expression list, so the edge relation is scanned once
    regardless of |thresholds|); same single-pass over the degree
    relation for the N_k counts."""
    ks = sorted(set(int(k) for k in thresholds))
    if not ks or ks[0] < 0:
        raise ValueError("rich_club: thresholds must be non-negative ints")
    dp = degree_pairs(edges).where(F.col("src") < F.col("dst"))  # canonical
    erow = dp.agg(
        *[
            F.sum(
                ((F.col("du") > k) & (F.col("dv") > k)).cast("long")
            ).alias(f"e{k}")
            for k in ks
        ]
    ).collect()[0]
    deg = (
        symmetrize(canonical_undirected(edges))
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("d"))
    )
    nrow = deg.agg(
        *[F.sum((F.col("d") > k).cast("long")).alias(f"n{k}") for k in ks]
    ).collect()[0]
    spark = edges.sparkSession
    rows = []
    for k in ks:
        n, e = int(nrow[f"n{k}"] or 0), int(erow[f"e{k}"] or 0)
        phi = round(2.0 * e / (n * (n - 1)), 6) if n >= 2 else None
        rows.append((k, n, e, phi))
    return spark.createDataFrame(
        rows, "k INT, n_nodes BIGINT, n_edges BIGINT, phi6 DOUBLE"
    )


def jaccard_sparsify(
    edges: DataFrame,
    *,
    num: int = 1,
    den: int = 10,
) -> DataFrame:
    """(src, dst, sup, jac_num, jac_den, kept): structural sparsifier —
    keep edge (u,v) when its common-neighbor Jaccard
    |N(u)∩N(v)| / |N(u)∪N(v)∖{u,v}| ≥ num/den (Satuluri et al. local
    sparsification; the preprocessing that thins hairball graphs before
    community detection while preserving intra-cluster edges).

    The threshold compare is INTEGER cross-multiplication
    (den·sup ≥ num·(du+dv−2−sup)) so the decision is engine-exact — no
    float ratio anywhere. Common-neighbor counts reuse the triangle
    edge-support join (one wedge join + one groupBy); degrees are one
    aggregate + two map-side joins."""
    from .ktruss import _edge_support

    if num < 0 or den <= 0:
        raise ValueError("jaccard_sparsify: need num >= 0 and den > 0")
    e = canonical_undirected(edges).persist()
    try:
        sup = _edge_support(e)  # (src, dst, sup) canonical
        deg = (
            symmetrize(e)
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("d"))
        )
        out = (
            sup.join(deg.select(F.col("id").alias("src"), F.col("d").alias("du")), "src")
            .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dv")), "dst")
            .select(
                "src", "dst", "sup",
                (F.lit(den) * F.col("sup")).alias("jac_num"),
                (F.lit(num) * (F.col("du") + F.col("dv") - 2 - F.col("sup"))).alias(
                    "jac_den"
                ),
            )
            .select(
                "src", "dst", "sup", "jac_num", "jac_den",
                (F.col("jac_num") >= F.col("jac_den")).alias("kept"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def reciprocity(edges: DataFrame) -> DataFrame:
    """One row (n_edges, n_recip, reciprocity): the fraction of directed
    edges whose reverse edge also exists — the standard digraph
    reciprocity statistic (mutual-link density, a first-order spam /
    citation-ring signal on a link graph).

    Plan: dedupe, left-join the edge relation against its own transpose
    on (src, dst), and fold both counts out of ONE aggregate — a single
    self-equi-join + global agg, no window, no second pass. The ratio is
    one integer division performed once, so the double is bit-identical
    cross-engine. Self loops are excluded (a loop is trivially its own
    reverse)."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("_r", F.lit(1))
    return (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count("_r").alias("n_recip"),
        )
        .select(
            "n_edges",
            "n_recip",
            (F.col("n_recip").cast("double") / F.col("n_edges")).alias(
                "reciprocity"
            ),
        )
    )


def cocitation_coupling(edges: DataFrame, min_count: int = 2) -> DataFrame:
    """(a, b, cocitation, coupling): co-citation (shared IN-neighbors —
    Small 1973) and bibliographic coupling (shared OUT-neighbors —
    Kessler 1963) counts for vertex pairs of a digraph, keeping pairs
    where either count reaches ``min_count`` — the directed
    common-neighbor statistics next to the undirected
    ``link_prediction_*`` family (on a link graph: pages cited together
    vs pages citing the same things).

    Plan: one wedge self-join per direction (grouped through the shared
    endpoint, a < b canonical order), then a full outer join of the two
    O(pairs) count tables — the same Σd² shuffle bound as triangle
    counting, never a 3-way join. Counts are exact integers, so the
    oracle replay is bit-identical. The reference computes neighbor
    overlap only undirected (NetworkX views in ``gray_incremental.py``);
    directionality comes free in the relational form."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )

    def _pairs(shared: str, end: str, name: str) -> DataFrame:
        w1 = e.select(F.col(shared).alias("n"), F.col(end).alias("a"))
        w2 = e.select(F.col(shared).alias("n"), F.col(end).alias("b"))
        return (
            w1.join(w2, "n")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias(name))
        )

    cocit = _pairs("src", "dst", "cocitation")
    coup = _pairs("dst", "src", "coupling")
    return (
        cocit.join(coup, ["a", "b"], "full_outer")
        .select(
            "a",
            "b",
            F.coalesce(F.col("cocitation"), F.lit(0)).cast("long").alias("cocitation"),
            F.coalesce(F.col("coupling"), F.lit(0)).cast("long").alias("coupling"),
        )
        .where(
            (F.col("cocitation") >= min_count) | (F.col("coupling") >= min_count)
        )
    )


def degree_gini(edges: DataFrame) -> DataFrame:
    """Single-row (n_vertices, deg_total, gini6): Gini coefficient of the
    undirected degree distribution — the one-number skew summary that
    decides whether an iterative kernel's shuffle needs hub salting
    (``skew_salt_plan``) before the first superstep is launched.

    Scale shape: the naive formula ranks every vertex with a global
    row_number window (a single-reducer sort over V rows — exactly the
    bottleneck this engine avoids). Instead the rank-sum is computed from
    the degree HISTOGRAM (one row per distinct degree value, ≪ V on any
    power-law graph): for a tied block of c vertices of degree d preceded
    by p lower-degree vertices,

        Σ_block i·d = d · (c·p + c(c+1)/2)

    so Σ_i i·d_i over the ascending rank i needs only a running sum over
    the tiny histogram (the lone unpartitioned window here, bounded by
    max-degree distinct values, not V). All terms stay exact BIGINTs;
    gini = (2S − (n+1)T) / (nT) is the only floating step, mirrored
    operation-for-operation in the SQL oracle."""
    from pyspark.sql import Window

    sym = symmetrize(canonical_undirected(edges))
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("c"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    blocks = hist.withColumn("p", F.coalesce(F.sum("c").over(w), F.lit(0)))
    return blocks.agg(
        F.sum("c").cast("long").alias("n_vertices"),
        F.sum(F.col("d") * F.col("c")).cast("long").alias("deg_total"),
        F.round(
            (
                F.lit(2.0)
                * F.sum(
                    F.col("d")
                    * (F.col("c") * F.col("p") + F.expr("c * (c + 1) DIV 2"))
                )
                - (F.sum("c") + F.lit(1.0)) * F.sum(F.col("d") * F.col("c"))
            )
            / (
                (F.sum("c") * F.lit(1.0))
                * F.sum(F.col("d") * F.col("c"))
            ),
            6,
        ).alias("gini6"),
    )
