"""Densest-subgraph extraction by greedy peeling (Charikar 2000;
MapReduce formulation: Bahmani, Kumar & Vassilvitskii, VLDB 2012).

Each round removes EVERY vertex whose degree is at most ``(1+eps)``
times the current average degree, so the alive set shrinks by a
``(1+eps)`` factor per round and the whole process takes
``O(log_{1+eps} V)`` bulk-synchronous rounds — the scan-and-filter
shape that made this THE densest-subgraph algorithm for MapReduce/Spark
(a sequential min-degree peel would be O(V) rounds). The densest of the
round snapshots is a ``2(1+eps)``-approximation of the maximum-density
subgraph.

With the default ``eps = 1/2`` the peel predicate is exact integer
arithmetic: avg degree = 2E/V, so

    deg(v) <= (1+eps) * 2E/V   <=>   deg(v) * V <= 3 * E

— no float threshold, no epsilon in the oracle, and the best-round
argmax compares densities by the same cross-multiplication
(``E_r * V_b > E_b * V_r``), so the chosen round is bit-identical in
any engine. The reference has no densest-subgraph operator; this is a
beyond-reference ring in the same bulk-synchronous family as k-core
peeling (`operators/kcore.py`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import loop_confs
from .graph import canonical_undirected, kernel_nparts


@dataclass
class DensestResult:
    stats: DataFrame          # (round, n_vertices, n_edges) — one row per round
    best_vertices: DataFrame  # (id) alive set of the densest round
    best_round: int
    rounds: int
    converged: bool


# Peel rounds; a peel still alive after them returns ``converged=False``.
_MAX_ROUNDS = 64


def densest_subgraph_peel(
    spark: SparkSession,
    edges: DataFrame,
    *,
    num_partitions: int | None = None,
) -> DensestResult:
    """Greedy (3/1 = 2(1+eps), eps=1/2) densest-subgraph peel.

    ``edges``: (src, dst, ...) undirected input; loops dropped, parallel
    edges collapsed. Returns the per-round (V, E) census, the vertex set
    of the densest snapshot, and the integer-argmax best round.

    Scale: per round one O(E_alive) degree aggregate + two semi-joins,
    on a geometrically shrinking subgraph — total work O(E log V). The
    per-round V/E counts are scalar driver probes (two actions on
    shrinking data), and the only retained state is ONE localCheckpointed
    snapshot of the current best alive set.
    """
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    # one row per undirected edge (for E counts / density)
    ecur = (
        canonical_undirected(edges)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    alive = (
        ecur.select(F.col("src").alias("id"))
        .union(ecur.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    stats_rows: list[tuple[int, int, int]] = []
    best_round, best_v, best_e = 0, 1, -1  # density -1/1: anything beats it
    best_alive = alive
    converged = False
    rounds = 0
    # loop_confs: per-round fresh plans repeat driver-serial
    # Janino/AQE work every round (see _superstep.loop_confs)
    with loop_confs(spark):
        for r in range(_MAX_ROUNDS):
            n_v = alive.count()
            if n_v == 0:
                converged = True
                break
            n_e = ecur.count()
            stats_rows.append((r, n_v, n_e))
            rounds = r + 1
            # integer density argmax: E_r/V_r > E_b/V_b  <=>  E_r*V_b > E_b*V_r
            if n_e * best_v > best_e * n_v:
                best_round, best_v, best_e = r, n_v, n_e
                best_alive = alive
            # peel: deg(v) * V <= 3 * E  (eps = 1/2, exact integers)
            sym = ecur.union(ecur.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
            alive = (
                alive.join(deg, "id", "left")
                .where(F.coalesce(F.col("deg"), F.lit(0)) * F.lit(n_v) > F.lit(3) * F.lit(n_e))
                .select("id")
                .localCheckpoint(eager=True)
            )
            ecur = (
                ecur.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )

    stats = spark.createDataFrame(
        [(int(r), int(v), int(e)) for r, v, e in stats_rows],
        "round BIGINT, n_vertices BIGINT, n_edges BIGINT",
    )
    return DensestResult(
        stats=stats,
        best_vertices=best_alive.select("id"),
        best_round=best_round,
        rounds=rounds,
        converged=converged,
    )
