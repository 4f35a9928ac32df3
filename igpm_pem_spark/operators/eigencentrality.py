"""Eigenvector centrality — fixed-iteration power method.

Rounds out the centrality family (PageRank = damped+normalized, HITS =
two-sided, harmonic = distance-based): x_{t}(v) = Σ over edges (u,v) of
x_{t-1}(u), run a fixed number of supersteps from x_0 = 1, normalized
ONCE at the end (per-step normalization only rescales the direction —
same argument as the HITS kernel, keeps the recursive-CTE oracle a
single aggregate per round). Undirected input is symmetrized, so this is
the adjacency-matrix power iteration NetworkX's eigenvector_centrality
converges to (direction parity pinned in tests at high iteration count).

Plan per superstep: the one join + repartition-then-sum every kernel
here uses, with a weight-0 self-loop row per vertex keeping isolated or
in-degree-0 vertices alive through the aggregate (score 0, not a
dropped row) — the CC oracle's keep-alive trick on the engine side too,
so the Spark loop and the SQL oracle are the same recursion.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import released, run
from .graph import kernel_nparts, simple_edges, vertex_ids


def _eigen_step(state: DataFrame, me: DataFrame, n_parts: int) -> DataFrame:
    msgs = me.join(
        state.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
    ).select("dst", (F.col("val") * F.col("w")).alias("m"))
    return (
        msgs.repartition(n_parts, "dst")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("m").alias("val"))
    )


@dataclass
class EigenResult:
    scores: DataFrame  # (id BIGINT, score DOUBLE) — L1-normalized
    supersteps: int


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 8,
    directed: bool = False,
    num_partitions: int | None = None,
) -> EigenResult:
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = simple_edges(edges, directed=directed)
    ids = vertex_ids(e)
    # message relation with keep-alive: real edges weight 1, self weight 0
    me = e.select("src", "dst", F.lit(1.0).alias("w")).unionByName(
        ids.select(
            F.col("id").alias("src"), F.col("id").alias("dst"),
            F.lit(0.0).alias("w"),
        )
    ).repartition(num_partitions, "src").persist()
    with released(me):
        state = run(
            spark,
            lambda: ids.withColumn("val", F.lit(1.0)).localCheckpoint(eager=True),
            lambda s: _eigen_step(s, me, num_partitions),
            until=None,
            max_iter=max_iter,
            num_partitions=num_partitions,
        ).state
    total = state.agg(F.sum("val")).first()[0]
    score = F.col("val") / F.lit(float(total)) if total else F.lit(0.0)
    return EigenResult(state.select("id", score.alias("score")), max_iter)
