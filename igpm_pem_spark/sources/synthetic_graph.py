"""Distributed deterministic synthetic edge-table generator.

The scale-evidence counterpart of the reference's seeded BA generators
(``generator.py:10-37``): produces a skewed (power-law in-degree) edge
table of arbitrary size with every row a pure function of ``spark.range``
indices via stateless splitmix64 mixing — identical output at any
parallelism, no driver-side data, no RNG state. Sized large enough, the
graph lets per-superstep compute dominate fixed overhead, so a
two-parallelism comparison measures scaling rather than scheduler
latency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def synthetic_edges(
    spark: SparkSession,
    n_vertices: int,
    n_edges: int,
    seed: int = 42,
    skew_gamma: float = 2.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """edges(src, dst): src ~ uniform, dst ~ power-law toward low ids
    (preferential-attachment-style hubs). Pure Catalyst expressions on
    ``spark.range`` — whole-stage codegen'd, embarrassingly parallel."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    r = spark.range(0, n_edges, 1, num_partitions)
    # two independent 64-bit streams from the row id
    h1 = F.xxhash64(F.col("id"), F.lit(seed), F.lit(1))
    h2 = F.xxhash64(F.col("id"), F.lit(seed), F.lit(2))
    u = (F.abs(h2) % F.lit(1_000_000_007)).cast("double") / F.lit(1_000_000_007.0)
    return r.select(
        (F.abs(h1) % F.lit(n_vertices)).alias("src"),
        F.least(
            (F.pow(u, F.lit(skew_gamma)) * F.lit(n_vertices)).cast("long"),
            F.lit(n_vertices - 1),
        ).alias("dst"),
    )
