"""Path-based centrality kernels beyond the spectral family:
truncated Katz centrality and seeded bounded-distance (truncated-Brandes)
betweenness.

Both are defined with an explicit horizon so the semantics are exactly
reproducible in any engine (the untruncated variants are limits the user
can approach by raising k/max_hops):

* ``katz_truncated``: x(v) = Σ_{k=1..K} α^k · walks_k(v), where
  walks_k(v) counts length-k walks ending at v from anywhere. Walk
  counts are exact integers (one adjacency join + groupBy-sum per
  level); the only float op is the final Σ α^k·w_k, so the DuckDB
  oracle matches to the last round-8 digit.

* ``betweenness_seeded``: Brandes' dependency accumulation from a seed
  set, truncated to shortest paths of length ≤ max_hops (Borgatti's
  bounded-distance betweenness). Forward pass: level-synchronous BFS
  carrying (seed, vertex, sigma) with sigma the exact integer
  shortest-path count; backward pass: delta(v) = Σ_{w ∈ succ(v)}
  sigma(v)/sigma(w) · (1 + delta(w)), accumulated level by level from
  the horizon inward. Output is Σ over seeds of delta — directed-pair
  convention (no halving), endpoints excluded, exactly as Brandes
  defines per-source dependencies.

Scale shape: every step is an equi-join keyed on (seed, vertex) plus a
groupBy-sum — the J4 bounded-closure pattern (operators/paths.py). Work
is proportional to the seeds' ≤max_hops neighborhoods, never the full
graph; levels are persisted once and reused by the backward pass.
Reference tie-in: generalizes the seeded-proximity ranking the
reference's G-Ray uses for match scoring (patternmatching/gray/rwr.py)
from random-walk proximity to exact shortest-path dependency.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import symmetrize, vertex_ids
from ._superstep import loop_confs, released, run


def _sym(edges: DataFrame, directed: bool) -> DataFrame:
    e = edges.select("src", "dst")
    return e if directed else symmetrize(e)


def katz_truncated(
    edges: DataFrame,
    k: int = 4,
    alpha: float = 0.05,
    directed: bool = False,
) -> DataFrame:
    """(id, katz): truncated Katz centrality Σ_{j=1..k} α^j · walks_j(id).

    Each level is one join against the (symmetrized) edge relation and
    one sum — walk counts stay exact integers until the final weighted
    sum. Vertices no walk reaches within k steps still appear (walks_0
    = 1 for everyone, but the j=0 term is excluded per Katz convention,
    so their score is the sum of levels that do reach them, possibly 0)."""
    if k < 1:
        raise ValueError("katz_truncated: k must be >= 1")
    if not 0.0 < alpha < 1.0:
        raise ValueError("katz_truncated: alpha must be in (0, 1)")
    sym = _sym(edges, directed)
    verts = vertex_ids(sym)
    # w_j(v) = number of length-j walks ending at v = Σ_{(u,v)∈E} w_{j-1}(u)
    # — exact integers; kept as one flat column per level so the final
    # weighted sum is a single left-associative float expression (bit-
    # identical in any engine, unlike a union+sum whose addition order
    # is partitioning-dependent)
    w = verts.select("id", F.lit(1).cast("long").alias("w"))
    out = verts
    for j in range(1, k + 1):
        w = (
            sym.join(w.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("w"))
        )
        out = out.join(w.withColumnRenamed("w", f"w{j}"), "id", "left")
    expr = None
    for j in range(1, k + 1):
        term = F.lit(alpha ** j) * F.coalesce(
            F.col(f"w{j}"), F.lit(0)
        ).cast("double")
        expr = term if expr is None else expr + term
    return out.select("id", expr.alias("katz"))


@contextmanager
def _bfs_levels(
    spark: SparkSession,
    edges: DataFrame,
    n_seeds: int,
    max_hops: int,
):
    """Brandes' forward pass over the undirected ``edges`` from the
    ``n_seeds`` lowest-id vertices:
    yields (sym, levels), levels[ℓ] = (sid, v, sigma) for the vertices at
    distance exactly ℓ ≤ ``max_hops`` from sid, sigma = exact integer
    shortest-path count. The persisted edges are released on exit,
    exceptions included; the levels are local checkpoints."""
    sym = symmetrize(edges).persist()
    with released(sym):
        seeds = vertex_ids(sym).orderBy("id").limit(n_seeds)
        levels = [
            seeds.select(
                F.col("id").alias("sid"), F.col("id").alias("v"),
                F.lit(1).cast("long").alias("sigma"),
            ).localCheckpoint(eager=True)
        ]
        visited = levels[0].select("sid", "v")
        # AQE + codegen off for the loop (see _superstep.loop_confs)
        with loop_confs(spark):
            for _ in range(max_hops):
                nxt = (
                    levels[-1].join(sym.withColumnRenamed("src", "v"), "v")
                    .select("sid", F.col("dst").alias("v"), "sigma")
                    .join(visited, ["sid", "v"], "left_anti")
                    .groupBy("sid", "v")
                    .agg(F.sum("sigma").alias("sigma"))
                    # each level reads the one before and the union of all
                    # before it, so an uncut lineage doubles the plan (and
                    # its planning and broadcast jobs) per level: cut it,
                    # lazily — the count below materializes the checkpoint
                    .localCheckpoint(eager=False)
                )
                if nxt.count() == 0:
                    break
                levels.append(nxt)
                visited = visited.unionByName(nxt.select("sid", "v"))
        yield sym, levels


def _brandes_walk(
    sym: DataFrame, levels: list[DataFrame]
) -> tuple[list[DataFrame], list[DataFrame]]:
    """Brandes' backward pass, horizon inward. δ at the horizon is 0;
    each inner level accumulates the per-DAG-edge dependency
    c(v→w) = σ(v)/σ(w)·(1 + δ(w)) over its successors. Returns the
    (v, delta) rows of every level ≥ 1 and the (v, w, d) edge terms of
    every level ≥ 0 (the seeds' own level-0→1 edges included). Lazy but
    for one eager checkpoint of each level ≥ 2's (sid, v, w_sigma,
    delta), which the next level down reads; level 1's is a lazy one."""
    deltas, edge_terms = [], []
    succ = None  # (sid, v, w_sigma, delta) of the level just outside
    for ell in range(len(levels) - 1, -1, -1):
        lev = levels[ell]
        if succ is None:
            cur = lev.select("sid", "v", F.lit(0.0).alias("delta"))
        else:
            per_edge = (
                lev.join(
                    sym.select(F.col("src").alias("v"), F.col("dst").alias("w")),
                    "v",
                )
                .join(succ.withColumnRenamed("v", "w"), ["sid", "w"])
                .select(
                    "sid", "v", "w",
                    (
                        F.col("sigma").cast("double")
                        / F.col("w_sigma").cast("double")
                        * (F.lit(1.0) + F.col("delta"))
                    ).alias("d"),
                )
            )
            edge_terms.append(per_edge.select("v", "w", "d"))
            contrib = per_edge.groupBy("sid", "v").agg(F.sum("d").alias("delta"))
            cur = (
                lev.select("sid", "v")
                .join(contrib, ["sid", "v"], "left")
                .select("sid", "v", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            )
        if ell == 0:
            break
        deltas.append(cur.select("v", "delta"))
        # level 1's rows feed only the seeds' own edge terms (level 0),
        # which the vertex kernel never reads: cut that one lazily
        succ = (
            lev.select("sid", "v", F.col("sigma").alias("w_sigma"))
            .join(cur.select("sid", "v", "delta"), ["sid", "v"])
            .localCheckpoint(eager=ell > 1)
        )
    return deltas, edge_terms


def betweenness_seeded(
    spark: SparkSession,
    edges: DataFrame,
    n_seeds: int = 5,
    max_hops: int = 3,
) -> DataFrame:
    """(id, bc): bounded-distance Brandes betweenness from the
    ``n_seeds`` lowest-id vertices — Σ over seeds s of the dependency
    δ_s(id) over shortest paths of length ≤ ``max_hops``.

    Forward: levels[ℓ] = (sid, v, sigma) for vertices at distance
    exactly ℓ from sid, sigma = exact shortest-path count (integer).
    Backward: δ at the horizon is 0; each inner level accumulates
    σ(v)/σ(w)·(1+δ(w)) over its successors. Endpoint exclusion is
    per-source (δ_s(s) never accumulates — BFS levels ≥ 1 exclude their
    own seed by construction); a seed vertex still scores dependency
    from OTHER seeds' paths, exactly as Brandes defines it."""
    if max_hops < 1:
        raise ValueError("betweenness_seeded: max_hops must be >= 1")
    with _bfs_levels(spark, edges, n_seeds, max_hops) as (sym, levels):
        deltas, _ = _brandes_walk(sym, levels)
        if not deltas:
            return spark.createDataFrame([], "id BIGINT, bc DOUBLE")
        return (
            reduce(DataFrame.unionByName, deltas)
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("delta").alias("bc"))
            .localCheckpoint(eager=True)
        )


def voterank(spark: SparkSession, edges: DataFrame, k: int = 3) -> DataFrame:
    """VoteRank influence-maximization seeds (Zhang et al. 2016,
    "Identifying a set of influential spreaders in complex networks"),
    in an exact-integer reformulation: every vertex starts with voting
    ability 1, each round elects the vertex with the largest neighbor-
    vote sum, then zeroes the winner's ability and decrements each of
    its neighbors' ability by 1/⟨deg⟩. Scaling all abilities by
    S = Σ deg = 2|E| makes the decrement the INTEGER V (since
    1/⟨deg⟩ = V/S), so scores are exact BIGINT sums and the iterative
    argmax — the control flow of the algorithm — never touches a float;
    ties break to the lower vertex id, engine-exact by construction.

    Returns (rank, id, score_scaled): the k elected spreaders in
    election order with their winning scaled scores (divide by S for
    the textbook value). Each round is one message-passing join keyed
    on dst plus a broadcast-sized neighbor update — k supersteps over
    the same shuffle key as PageRank. Scores are bounded by S·V, so at
    extreme scale (S·V near 2^63) rescale abilities to units of V
    before summing."""
    if k < 1:
        raise ValueError("voterank: k must be >= 1")
    from .graph import canonical_undirected

    sym = symmetrize(canonical_undirected(edges)).select("src", "dst").persist()
    winners: list[tuple[int, int, int]] = []
    with released(sym):
        s2 = sym.count()
        if s2 == 0:
            raise ValueError("voterank: empty graph")
        n_v = sym.select("src").distinct().count()
        va = (
            sym.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("va", F.lit(int(s2)).cast("long"))
        )
        excluded: list[int] = []
        for r in range(1, k + 1):
            sc = (
                sym.join(va.select(F.col("id").alias("dst"), "va"), "dst")
                .groupBy("src")
                .agg(F.sum("va").alias("score"))
            )
            if excluded:
                sc = sc.where(~F.col("src").isin(excluded))
            w = sc.orderBy(F.col("score").desc(), F.col("src")).first()
            if w is None:
                break
            wid = int(w.src)
            winners.append((r, wid, int(w.score)))
            excluded.append(wid)
            nbrs = (
                sym.where(F.col("src") == wid)
                .select(F.col("dst").alias("id"))
                .distinct()
                .withColumn("_hit", F.lit(1))
            )
            va = (
                va.join(nbrs, "id", "left")
                .select(
                    "id",
                    F.when(F.col("id") == wid, F.lit(0))
                    .when(
                        F.col("_hit") == 1,
                        F.greatest(F.col("va") - F.lit(int(n_v)), F.lit(0)),
                    )
                    .otherwise(F.col("va"))
                    .cast("long")
                    .alias("va"),
                )
                .localCheckpoint(eager=True)
            )
    return spark.createDataFrame(
        winners, "rank long, id long, score_scaled long"
    )


def edge_betweenness_seeded(
    spark: SparkSession,
    edges: DataFrame,
    n_seeds: int = 5,
    max_hops: int = 3,
) -> DataFrame:
    """(u, v, ebc): bounded-distance Brandes EDGE betweenness from the
    ``n_seeds`` lowest-id vertices — the Girvan-Newman splitting score,
    truncated to shortest paths of length ≤ ``max_hops``.

    The forward pass and backward walk of ``betweenness_seeded``
    (levels of (sid, v, sigma) with exact integer path counts); it reads
    the PER-DAG-EDGE dependency
    c(v→w) = σ(v)/σ(w) · (1 + δ(w)) for every BFS-DAG edge between
    consecutive levels — including the seed's own level-0→1 edges,
    which the vertex variant never materializes (δ at a seed is
    undefined, but its incident edges still carry flow). Edges are
    canonicalized to (least, greatest) before the final sum
    over seeds, so a pair traversed in opposite directions from two
    different seeds accumulates into one row.

    Scale shape: identical to the vertex kernel — every step an
    equi-join on (seed, vertex) + groupBy-sum over the seeds'
    ≤max_hops neighborhoods; the edge terms are the pre-aggregation
    rows the vertex kernel already forms, grouped by (v, w) instead of
    v. Reference tie-in: the edge-removal ordering of Girvan-Newman
    community splitting, the classic complement to the reference's LPA
    communities (patternmatching/gray/extract.py proximity scoring)."""
    if max_hops < 1:
        raise ValueError("edge_betweenness_seeded: max_hops must be >= 1")
    with _bfs_levels(spark, edges, n_seeds, max_hops) as (sym, levels):
        _, edge_terms = _brandes_walk(sym, levels)
        if not edge_terms:
            return spark.createDataFrame([], "u BIGINT, v BIGINT, ebc DOUBLE")
        alle = reduce(DataFrame.unionByName, edge_terms).select(
            F.least("v", "w").alias("v"),
            F.greatest("v", "w").alias("w"),
            "d",
        )
        return (
            alle.groupBy(F.col("v").alias("u"), F.col("w").alias("v"))
            .agg(F.sum("d").alias("ebc"))
            .localCheckpoint(eager=True)
        )


def dominating_set_greedy(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 5,
) -> DataFrame:
    """(rank, id, gain): the first ``k`` picks of the classic greedy
    dominating-set heuristic (ln-n–approximate) over the undirected
    ``edges``: each round elect the vertex whose CLOSED neighborhood
    covers the most still-uncovered vertices (tie → lower id), then mark
    that neighborhood covered.
    Rounds end early once everything is covered (later ranks are simply
    absent, identically in the SQL oracle).

    Control flow is exact-integer throughout (gains are counts, the
    argmax is (gain desc, id asc)) so the trajectory is engine-exact.
    Each round is one join of the closed-neighborhood relation against
    the uncovered set + a groupBy-count + a 1-row argmax probe — work
    ∝ |uncovered frontier|, the same shrinking-active-set shape as the
    k-core peel. Reference tie-in: the coverage flavor of the
    reference's seed selection for partitioned matching
    (patternmatching/subgraph/divide.py greedy assignment)."""
    if k < 1:
        raise ValueError("dominating_set_greedy: k must be >= 1")
    sym = symmetrize(edges)
    verts = vertex_ids(sym)
    # closed neighborhood: every (id, covers) edge plus the self-loop
    nbr = (
        sym.select(F.col("src").alias("id"), F.col("dst").alias("nb"))
        .unionByName(verts.select("id", F.col("id").alias("nb")))
        .distinct()
        .persist()
    )
    picks: list[tuple[int, int, int]] = []
    with released(nbr):
        uncovered = verts.select(F.col("id").alias("nb")).localCheckpoint(eager=True)
        for rnd in range(1, k + 1):
            gain = (
                nbr.join(uncovered, "nb")
                .groupBy("id")
                .agg(F.count("*").alias("gain"))
            )
            w = gain.orderBy(F.col("gain").desc(), F.col("id")).first()
            if w is None:
                break
            picks.append((rnd, int(w.id), int(w.gain)))
            covered = nbr.where(F.col("id") == int(w.id)).select("nb")
            uncovered = uncovered.join(covered, "nb", "left_anti").localCheckpoint(
                eager=True
            )
    return spark.createDataFrame(picks, "rank LONG, id LONG, gain LONG")


def _hitting_step(
    h: DataFrame, sym: DataFrame, deg: DataFrame, hubs: list[int]
) -> DataFrame:
    s = (
        sym.join(h.select(F.col("id").alias("dst"), F.col("h").alias("nh")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("nh").alias("s"))
    )
    return deg.join(s, "id").select(
        "id",
        F.when(F.col("id").isin(hubs), F.lit(0.0))
        .otherwise(F.lit(1.0) + F.col("s") / F.col("d"))
        .alias("h"),
    )


def hitting_time_truncated(
    spark: SparkSession,
    edges: DataFrame,
    n_hubs: int = 5,
    iters: int = 8,
) -> DataFrame:
    """(id, h): ``iters``-step truncated expected hitting time of the
    simple random walk on the undirected ``edges`` to the absorbing hub
    set (the ``n_hubs`` top-degree vertices, ties → lower id) — the absorbing-walk
    complement of the RWR proximity family: low h = structurally close
    to the core, h saturating at the horizon = peripheral. Value
    iteration from h₀ ≡ 0:

        h_{t+1}(v) = 0                       for hubs
                   = 1 + (Σ_{u∈N(v)} h_t(u)) / deg(v)   otherwise

    which converges monotonically from below to the true expected
    hitting time (∞ for vertices in hubless components — those keep
    climbing ≈ t, exactly like the matrix geometric series truncated at
    t terms). Each round is ONE message-passing join keyed on the same
    shuffle key as PageRank; the hub probe is a 5-row argmax."""
    if n_hubs < 1 or iters < 1:
        raise ValueError("hitting_time_truncated: n_hubs and iters must be >= 1")
    sym = symmetrize(edges).persist()
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("d")
    ).persist()
    with released(sym, deg):
        hubs = [
            int(r.id)
            for r in deg.orderBy(F.col("d").desc(), "id").limit(n_hubs).collect()
        ]
        # one block of ``iters`` steps: lazy cuts between them, one commit
        return run(
            spark,
            lambda: deg.select("id", F.lit(0.0).alias("h")),
            lambda h: _hitting_step(h, sym, deg, hubs),
            until=None,
            max_iter=iters,
            steps_per_commit=iters,
            num_partitions=None,
        ).state
