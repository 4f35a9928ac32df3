"""k-truss decomposition — edge peeling by triangle support.

The cohesion notion one level up from k-core: the k-truss is the maximal
subgraph where every EDGE participates in ≥ k−2 triangles (so every edge
sits in a dense neighborhood, not just every vertex). Standard web/social
graph primitive for community cores and spam pruning; pairs with
``kcore.k_core`` as the engine's peeling family.

Loop shape (the same shrinking partial-execution discipline as k-core):
each round computes per-edge support with ONE wedge join over the
surviving canonical edges — triangle (a<b<c) credits all three of its
edges via an explode, never a 4-way join — then drops edges below
support k−2 and re-materializes. Work is O(Σ d(v)²) of the SURVIVING
subgraph per round and shrinks monotonically; rounds ≤ peeling depth.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import canonical_undirected, kernel_nparts
from .triangles import _triangle_list_canon
from ._superstep import loop_confs, released


def _triangle_support(tris: DataFrame) -> DataFrame:
    """(src, dst, sup) per canonical edge of at least one (a<b<c) triangle
    in ``tris``: each triangle explodes into its three edges."""
    return (
        tris.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
                    F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
                )
            ).alias("ed")
        )
        .select("ed.src", "ed.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("sup"))
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """(src, dst, sup) per canonical edge: number of triangles through it."""
    sup = _triangle_support(_triangle_list_canon(e))
    return e.join(sup, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce(F.col("sup"), F.lit(0)).alias("sup")
    )


@dataclass
class KTrussResult:
    edges: DataFrame  # (src, dst) canonical surviving edges
    rounds: int
    converged: bool
    dropped_per_round: list[int] = field(default_factory=list)


# Peel rounds of ``k_truss``; an unfinished peel returns ``converged=False``.
_MAX_ROUNDS = 100


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    num_partitions: int | None = None,
) -> KTrussResult:
    """Peel edges with triangle support < k−2 until stable; equals the
    edge set of ``networkx.k_truss(g, k)`` (tests pin it)."""
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = (
        canonical_undirected(edges)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    dropped: list[int] = []
    converged, rounds = False, 0
    # AQE + codegen off for the loop (see _superstep.loop_confs)
    with loop_confs(spark):
        while rounds < _MAX_ROUNDS:
            rounds += 1
            sup = _edge_support(e).persist()
            with released(sup):
                n_drop = sup.where(F.col("sup") < k - 2).count()
                dropped.append(int(n_drop))
                if n_drop == 0:
                    converged = True
                    break
                # e is materialized before the round's cache goes
                e = (
                    sup.where(F.col("sup") >= k - 2)
                    .select("src", "dst")
                    .repartition(num_partitions, "src")
                    .localCheckpoint(eager=True)
                )
    return KTrussResult(e, rounds, converged, dropped)


@dataclass
class TrussnessResult:
    trussness: DataFrame  # (src BIGINT, dst BIGINT, trussness BIGINT)
    rounds: int
    converged: bool
    resumed_from: int | None = None
    stats: list = field(default_factory=list)


def trussness_hindex(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> TrussnessResult:
    """Full truss decomposition — trussness(e) for every edge at once —
    by local h-index iteration (Sariyüce, Seshadhri, Pinar, WWW'18 local
    nucleus decomposition; the edge-level sibling of
    ``kcore.coreness_hindex``):

        s_0(e)     = support(e)   (triangles through e)
        s_{t+1}(e) = min(s_t(e), H-index of {min(s_t(f), s_t(g))
                                  per triangle (e, f, g)})

    The sequence is monotone non-increasing with fixpoint trussness(e)−2,
    so the loop self-terminates and every round is bulk-synchronous over
    ALL edges — no sequential min-support peeling bottleneck. The
    triangle relation is enumerated ONCE (the graph never shrinks in a
    full decomposition) and checkpointed; each round is three equi-joins
    of the static triangle list against the edge state plus the same
    windowed H-index used by coreness — shuffle at (edge, distinct-ρ)
    granularity, never proportional to a hub's triangle count.

    With ``checkpoint_dir`` each round commits the (src, dst, s, changed)
    state + per-partition lineage rows through the shared LineageLog —
    the kernels' resumability discipline (the static triangle relation is
    re-derived on resume; only the iteration state is durable).
    """
    from pyspark.sql import Window

    from ._superstep import edge_partition_counts, run

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = (
        canonical_undirected(edges)
        .repartition(num_partitions, "src", "dst")
        .localCheckpoint(eager=True)
    )
    # triangles a<b<c, enumerated once over canonical edges
    tris = (
        _triangle_list_canon(e)
        .repartition(num_partitions, "a", "b")
        .localCheckpoint(eager=True)
    )
    sup = _triangle_support(tris)
    w = Window.partitionBy("src", "dst").orderBy(F.col("rho").desc())

    def step(state: DataFrame) -> DataFrame:
        sab = state.select(
            F.col("src").alias("a"), F.col("dst").alias("b"), F.col("s").alias("s_ab")
        )
        sbc = state.select(
            F.col("src").alias("b"), F.col("dst").alias("c"), F.col("s").alias("s_bc")
        )
        sac = state.select(
            F.col("src").alias("a"), F.col("dst").alias("c"), F.col("s").alias("s_ac")
        )
        tv = tris.join(sab, ["a", "b"]).join(sbc, ["b", "c"]).join(sac, ["a", "c"])
        rho = tv.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("src"), F.col("b").alias("dst"),
                        F.least("s_bc", "s_ac").alias("rho"),
                    ),
                    F.struct(
                        F.col("b").alias("src"), F.col("c").alias("dst"),
                        F.least("s_ab", "s_ac").alias("rho"),
                    ),
                    F.struct(
                        F.col("a").alias("src"), F.col("c").alias("dst"),
                        F.least("s_ab", "s_bc").alias("rho"),
                    ),
                )
            ).alias("x")
        ).select("x.src", "x.dst", "x.rho")
        cum = (
            rho.groupBy("src", "dst", "rho")
            .agg(F.count("*").alias("n"))
            .select("src", "dst", "rho", F.sum("n").over(w).alias("cum"))
        )
        h = cum.groupBy("src", "dst").agg(
            F.max(F.least(F.col("rho"), F.col("cum"))).alias("h")
        )
        s_new = F.least(F.col("s_old"), F.coalesce(F.col("h"), F.lit(0)))
        return state.select("src", "dst", F.col("s").alias("s_old")).join(
            h, ["src", "dst"], "left"
        ).select("src", "dst", s_new.alias("s"), (s_new != F.col("s_old")).alias("changed"))

    res = run(
        spark,
        lambda: e.join(sup, ["src", "dst"], "left")
        .select("src", "dst", F.coalesce(F.col("sup"), F.lit(0)).alias("s"))
        .repartition(num_partitions, "src", "dst")
        .localCheckpoint(eager=True),
        step,
        max_iter=max_rounds,
        edge_parts=edge_partition_counts(tris),
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
    )
    return TrussnessResult(
        res.state.select(
            "src", "dst", (F.col("s") + F.lit(2)).cast("long").alias("trussness")
        ),
        res.supersteps,
        res.converged,
        res.resumed_from,
        res.stats,
    )
