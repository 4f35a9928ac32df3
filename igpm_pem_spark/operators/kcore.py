"""k-core decomposition — iterative peeling as a shrinking superstep loop.

Not in the reference (its community notion is Louvain-for-scoping,
``incremental/gray_incremental.py:92``), but a standard link-graph engine
operator: the k-core is the maximal subgraph where every vertex has
degree ≥ k (web-graph spam filtering, community pre-pruning). The loop is
the engine's partial-execution shape in its purest form — each round
recomputes degrees ONLY over the surviving subgraph, so work shrinks
monotonically, and the edge table is re-materialized per round via
localCheckpoint (same lineage-truncation discipline as the kernels).

Scale notes: each round is one degree aggregation (O(E_alive) shuffle,
repartition-then-aggregate like pagerank's ``_group_sum``) plus two
semi-joins to drop peeled endpoints; rounds ≤ the peeling depth (tiny on
real graphs). No collect beyond the per-round dropped-count scalar.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..lineage import LineageLog
from .graph import kernel_nparts, simple_edges
from ._superstep import loop_confs, released


@dataclass
class KCoreResult:
    vertices: DataFrame  # (id) — members of the k-core
    edges: DataFrame  # surviving symmetrized edges
    rounds: int
    converged: bool
    peeled_per_round: list[int] = field(default_factory=list)


# Peel rounds of ``k_core`` / ``s_core``; an unfinished peel returns
# ``converged=False``.
_MAX_ROUNDS = 100


def _peel(
    spark: SparkSession,
    sym: DataFrame,
    threshold: int,
    degree: Column,
    num_partitions: int,
) -> KCoreResult:
    """Peel the vertices whose ``degree`` aggregate over their incident
    rows of the symmetrized ``sym`` is below ``threshold`` until stable;
    the surviving rows keep ``sym``'s columns."""
    cols = sym.columns
    peeled: list[int] = []
    converged = False
    rounds = 0
    # AQE + codegen off for the loop (see _superstep.loop_confs)
    with loop_confs(spark):
        while rounds < _MAX_ROUNDS:
            rounds += 1
            # persist: deg feeds both the drop-count action and the two keep
            # semi-joins; without the cache the degree aggregation runs twice
            # per peel round over the surviving edges
            deg = (
                sym.repartition(num_partitions, "src")
                .groupBy("src")
                .agg(degree.alias("deg"))
                .persist()
            )
            with released(deg):
                keep = deg.where(F.col("deg") >= threshold).select(
                    F.col("src").alias("id")
                )
                drop_cnt = deg.where(F.col("deg") < threshold).count()
                peeled.append(int(drop_cnt))
                if drop_cnt == 0:
                    converged = True
                    break
                # sym is materialized before the round's cache goes
                sym = (
                    sym.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
                    .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
                    .select(*cols)
                    .localCheckpoint(eager=True)
                )
    verts = sym.select(F.col("src").alias("id")).distinct()
    return KCoreResult(verts, sym, rounds, converged, peeled)


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    num_partitions: int | None = None,
) -> KCoreResult:
    """Peel vertices with degree < k until stable; equals
    ``networkx.k_core(g, k)`` (tests pin it)."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = (
        simple_edges(edges, directed=False)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    return _peel(spark, e, k, F.count("*"), num_partitions)


@dataclass
class CorenessResult:
    coreness: DataFrame  # (id BIGINT, coreness BIGINT)
    rounds: int
    converged: bool
    resumed_from: int | None = None
    stats: list = field(default_factory=list)


def coreness_hindex(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> CorenessResult:
    """Full core decomposition — coreness(v) for every vertex at once —
    by h-index iteration (Lu, Zhou et al., Nature Comm. 7:10168, 2016):

        c_0(v)     = degree(v)
        c_{t+1}(v) = H-index of the multiset {c_t(u) : u in N(v)}

    The sequence is monotone non-increasing and its fixpoint is exactly
    the core number, so the loop self-terminates (rounds bounded by the
    degeneracy ordering depth, small on real graphs). Unlike peeling,
    every round is bulk-synchronous over ALL vertices — no sequential
    min-degree bottleneck — which is the right shape for 10^9 vertices.

    The per-vertex H-index is computed WITHOUT materializing sorted
    neighbor lists: neighbor values aggregate to (v, value, count), a
    per-v descending cumulative window gives cum(c) = #neighbors with
    value >= c, and H = max over values of least(c, cum) — shuffle at
    (v, distinct-neighbor-value) granularity, hub state bounded by the
    value range, never by degree. Idempotent at the fixpoint, so an
    oracle may unroll MORE rounds than the engine needed.

    With ``checkpoint_dir`` each round commits the (id, c, changed)
    state + per-partition lineage rows through the shared LineageLog
    (the kernels' resumability discipline): a killed run resumes from
    the newest committed round instead of re-peeling from degrees."""
    from pyspark.sql import Window

    from ._superstep import edge_partition_counts, run

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    # simple_edges(directed=False) already emits both directions
    sym = (
        simple_edges(edges, directed=False)
        .select(F.col("src").alias("v"), F.col("dst").alias("nbr"))
        .repartition(num_partitions, "nbr")
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("v").orderBy(F.col("c").desc())

    def step(state: DataFrame) -> DataFrame:
        nbrvals = sym.join(
            state.select(F.col("id").alias("nbr"), "c"), "nbr"
        ).select("v", "c")
        cum = (
            nbrvals.groupBy("v", "c")
            .agg(F.count("*").alias("n"))
            .select("v", "c", F.sum("n").over(w).alias("cum"))
        )
        return (
            cum.groupBy(F.col("v").alias("id"))
            .agg(F.max(F.least(F.col("c"), F.col("cum"))).alias("c_new"))
            .join(state.select("id", F.col("c").alias("c_old")), "id")
            .select(
                "id",
                F.col("c_new").alias("c"),
                (F.col("c_new") != F.col("c_old")).alias("changed"),
            )
        )

    res = run(
        spark,
        lambda: sym.groupBy(F.col("v").alias("id"))
        .agg(F.count("*").alias("c"))
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True),
        step,
        max_iter=max_rounds,
        edge_parts=edge_partition_counts(sym),
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
    )
    return CorenessResult(
        res.state.select("id", F.col("c").alias("coreness")), res.supersteps,
        res.converged, res.resumed_from, res.stats,
    )


@dataclass
class OnionResult:
    layers: DataFrame  # (id, layer, onion_core) — layer >= 1, core at peel time
    rounds: int
    converged: bool
    peeled_per_round: list[int] = field(default_factory=list)
    resumed_from: int | None = None


def onion_layers(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 500,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> OnionResult:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard, Sci. Rep.
    6:31708, 2016): the layer index of the k-core peeling process, a
    strict refinement of coreness that separates a core's periphery from
    its center.

    Bulk-synchronous peel: each round computes degrees over the
    surviving subgraph, raises the running core threshold k to the
    current minimum degree, and peels ALL vertices with degree <= k
    simultaneously as one layer (the simultaneous rule NetworkX's
    ``onion_layers`` also uses — tests pin parity). ``onion_core`` is
    the threshold at peel time, i.e. exactly the vertex's core number,
    so the result cross-checks against ``coreness_hindex`` for free.

    Scale: identical round shape to ``k_core`` — one O(E_alive) degree
    aggregation + semi-join shrink — plus one scalar min per round; the
    alive set is tracked explicitly so vertices whose last neighbor was
    peeled (degree 0) still receive a layer. Rounds = number of layers
    (tens on real graphs; the sequential depth is the peeling process
    itself, not an artifact).

    With ``checkpoint_dir`` each peel round commits the full
    (id, layer, onion_core, changed) table — peeled vertices carry
    their layer, still-alive vertices a NULL — plus per-partition
    lineage rows (S6 discipline): a killed run resumes at the next
    unpeeled layer; the running threshold k and the layer counter are
    both recovered from the committed state itself."""
    from ._superstep import edge_partition_counts

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e0 = (
        simple_edges(edges, directed=False)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    edge_parts = edge_partition_counts(e0)
    log = LineageLog(spark, checkpoint_dir)

    state: DataFrame | None = None
    resumed_from, rounds, k = None, 0, 0
    if checkpoint_dir:
        last = log.last_committed()
        if last is not None:
            state = log.load_state(last)
            resumed_from = last
            rounds = last + 1
            row = state.agg(
                F.max("layer").alias("r"), F.max("onion_core").alias("k")
            ).collect()[0]
            rounds = int(row["r"] or 0)
            k = int(row["k"] or 0)
    if state is None:
        state = (
            e0.select(F.col("src").alias("id")).distinct()
            .select(
                "id",
                F.lit(None).cast("bigint").alias("layer"),
                F.lit(None).cast("bigint").alias("onion_core"),
                F.lit(False).alias("changed"),
            )
            .repartition(num_partitions, "id")
            .localCheckpoint(eager=True)
        )
    # surviving subgraph rebuilt from the pristine edges once, then
    # carried shrunk across rounds (same discipline as k_core)
    alive0 = state.where(F.col("layer").isNull()).select("id")
    e = (
        e0.join(alive0.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(alive0.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    peeled: list[int] = []
    converged = False
    # AQE + codegen off for the loop (see _superstep.loop_confs)
    with loop_confs(spark):
        while rounds < max_rounds:
            t0 = time.time()
            alive = state.where(F.col("layer").isNull()).select("id")
            deg = (
                alive.join(
                    e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg")),
                    "id",
                    "left",
                )
                .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
                .persist()
            )
            with released(deg):
                row = deg.agg(F.min("deg").alias("m"), F.count("*").alias("n")).collect()[0]
                if row["n"] == 0:
                    converged = True
                    break
                rounds += 1
                k = max(k, int(row["m"]))
                layer_rows = deg.where(F.col("deg") <= k).select(
                    "id",
                    F.lit(rounds).cast("bigint").alias("layer"),
                    F.lit(k).cast("bigint").alias("onion_core"),
                    F.lit(True).alias("changed"),
                )
                new_state = (
                    state.where(F.col("layer").isNotNull())
                    .select("id", "layer", "onion_core", F.lit(False).alias("changed"))
                    .unionByName(layer_rows)
                    .unionByName(
                        deg.where(F.col("deg") > k).select(
                            "id",
                            F.lit(None).cast("bigint").alias("layer"),
                            F.lit(None).cast("bigint").alias("onion_core"),
                            F.lit(False).alias("changed"),
                        )
                    )
                )
                if log.base_dir:
                    state = log.commit(
                        rounds - 1, new_state, t0,
                        num_partitions=num_partitions,
                        delta=F.col("changed").cast("double"),
                        active=F.col("changed"),
                        edge_parts=edge_parts,
                    )
                    peeled.append(int(log.stats[-1].delta_norm))
                else:
                    # in-memory: skip the full-state stats job AND the per-round
                    # peeled count (both measured against the peel loop); the
                    # per-round counts are recovered post-loop from the final
                    # state's layer column in one aggregate.
                    # coalesce BOUNDS the checkpointed partition count: new_state
                    # unions three state-derived branches, so if a session-level
                    # plan change (e.g. a cached edge subtree flipping the deg
                    # join to broadcast) makes those branches inherit state's
                    # partitioning instead of ending at a fresh shuffle, the
                    # un-coalesced union grows 3^round partitions — a measured
                    # 3.6M-task stage storm by round 13. Narrow coalesce (no
                    # shuffle) pins it at num_partitions every round.
                    state = new_state.coalesce(num_partitions).localCheckpoint(eager=False)
            alive_next = state.where(F.col("layer").isNull()).select("id")
            e = (
                e.join(alive_next.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(alive_next.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
    out = state.where(F.col("layer").isNotNull()).select("id", "layer", "onion_core")
    if not log.base_dir and rounds:
        counts = {
            int(r["layer"]): r["n"]
            for r in out.groupBy("layer").agg(F.count("*").alias("n")).collect()
        }
        peeled = [counts.get(i, 0) for i in range(1, rounds + 1)]
    res = OnionResult(out, rounds, converged, peeled)
    res.resumed_from = resumed_from
    return res


def s_core(
    spark: SparkSession,
    edges: DataFrame,
    s: int,
    *,
    num_partitions: int | None = None,
) -> KCoreResult:
    """Weighted (s-core / strength-core) peel: repeatedly remove
    vertices whose total incident edge WEIGHT is < ``s`` until stable —
    Eidsaa-Almaas s-core decomposition, the multiplicity-aware core the
    unweighted k-core cannot see (a vertex with 3 heavy co-occurrence
    edges survives where one with 30 singletons falls out). Weights
    must be integers (co-occurrence counts here) so every peel decision
    is an exact-integer compare — no float threshold can diverge
    between engines or partitionings.

    The ``k_core`` peel with ``sum(w)`` in place of ``count(*)``: per
    round one weighted-degree aggregation + two semi-joins on the
    survivors; work ∝ the surviving edge set, which only shrinks.

    INPUT CONTRACT: ``edges`` must be a canonical undirected weighted
    edge list — one row per unordered pair (src < dst convention), no
    self-loops, parallel edges pre-aggregated into ``w``. The
    kernel symmetrizes internally; feeding both (a,b) and (b,a) rows or
    loops double-counts strength (unlike ``k_core``, which runs
    ``simple_edges`` first — weights make that canonicalization the
    caller's job, since the right parallel-edge fold is use-specific)."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = (
        edges.select("src", "dst", F.col("w").cast("long").alias("w"))
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    # symmetrize with weights (simple_edges drops weight columns)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)
    return _peel(spark, sym, s, F.sum("w"), num_partitions)
