"""Bootstrap percolation / linear-threshold cascade: seeds are active at
round 0; an inactive vertex activates the first round it has at least
``threshold`` active neighbors. The deterministic core of
influence-maximization simulation (the evaluation loop VoteRank seeds
feed into), k-neighbor bootstrap percolation in network science, and
complex-contagion modeling.

Scale: the naive formulation recounts every inactive vertex's active
neighbors each round (O(E) per round). This implementation is
INCREMENTAL — only the newly activated frontier sends messages, and
per-vertex counts accumulate in a carried state table:

    increments r = frontier(r-1) x edges        (work ∝ frontier edges)
    counts     r = counts(r-1) (+) increments   (one keyed merge)
    frontier   r = inactive with counts >= threshold

so every edge is processed exactly ONCE over the whole cascade —
the same work-∝-perturbation discipline as the engine's incremental
PEM kernels (`operators/incremental.py`). The fixpoint equals the
non-incremental definition (pinned by tests against a python oracle).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import loop_confs
from .graph import kernel_nparts, simple_edges


@dataclass
class CascadeResult:
    activated: DataFrame  # (id, round) — seeds at round 0
    rounds: int           # rounds that activated at least one vertex
    converged: bool


# Cascade rounds; a cascade still spreading after them returns
# ``converged=False``.
_MAX_ROUNDS = 100


def bootstrap_percolation(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    threshold: int = 2,
    num_partitions: int | None = None,
) -> CascadeResult:
    """Run the threshold cascade from ``seeds`` (a DataFrame with an
    ``id`` column) over the undirected simple graph of ``edges``."""
    if threshold < 1:
        raise ValueError(f"bootstrap_percolation: threshold must be >= 1, got {threshold}")
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sym = (
        simple_edges(edges, directed=False)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    active = seeds.select("id").distinct().withColumn("round", F.lit(0).cast("long"))
    active = active.localCheckpoint(eager=True)
    frontier = active.select("id")
    # carried per-vertex count of active neighbors seen so far (inactive
    # only); seeded empty WITH the input's id type so unions never coerce
    counts = (
        sym.select(F.col("src").alias("id")).limit(0)
        .withColumn("c", F.lit(0).cast("long"))
    )
    rounds = 0
    converged = False
    # loop_confs: per-round fresh plans repeat driver-serial
    # Janino/AQE work every round (see _superstep.loop_confs)
    with loop_confs(spark):
        for r in range(1, _MAX_ROUNDS + 1):
            # messages from the new frontier only: each edge fires once, ever
            inc = (
                sym.join(frontier.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count("*").alias("c"))
            )
            counts = (
                counts.unionByName(inc)
                .groupBy("id")
                .agg(F.sum("c").alias("c"))
                .join(active.select("id"), "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            frontier = counts.where(F.col("c") >= threshold).select("id")
            n_new = frontier.count()
            if n_new == 0:
                converged = True
                break
            rounds = r
            # coalesce bounds the union's partition accumulation across
            # rounds (see LineageLog._checkpoint) — narrow, no shuffle
            active = (
                active.unionByName(frontier.withColumn("round", F.lit(r).cast("long")))
                .coalesce(num_partitions)
                .localCheckpoint(eager=True)
            )
            counts = counts.where(F.col("c") < threshold).localCheckpoint(eager=True)
    return CascadeResult(activated=active, rounds=rounds, converged=converged)
