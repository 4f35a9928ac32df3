"""Approximate personalized PageRank by synchronous forward push.

Andersen-Chung-Lang (FOCS'06) local clustering, in its bulk-synchronous
batched form: state is (reserve p, residual r) per vertex; each round
EVERY vertex whose residual exceeds the frontier threshold eps·deg(v)
pushes at once —

    p'(v) = p(v) + α·r(v)                      (v active)
    r'(v) = [v inactive]·r(v) + Σ_{u active, u~v} (1−α)·r(u)/deg(u)

This is the engine-native realization of the reference's
partial-execution idea (`patternmatching/gray/rwr.py:149-180` restricts
RWR work to an affected region): work per round is proportional to the
ACTIVE frontier and its out-edges, not the graph — on a 10^9-vertex
graph a single-seed push touches only the seed's neighborhood, and the
frontier relation stays a sub-linear fraction of V throughout. Each
round is one join of the active frontier against the once-shuffled
adjacency + one keyed sum — the same superstep shape as the global
kernels, with the state side filtered before the join so Catalyst
prunes the shuffle to the frontier.

The round count is FIXED (deterministic replay — an independent SQL
engine unrolls the identical recurrence); the invariant Σp + Σr = 1
holds exactly up to float noise and is asserted by tests. Outputs round
to 6 decimals for cross-engine comparison (push is a contraction, so
sum-order float noise damps rather than compounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import kernel_nparts, simple_edges
from ._superstep import run


def _push_step(
    state: DataFrame, sym: DataFrame, alpha: float, eps: float, n_parts: int
) -> DataFrame:
    is_active = F.col("r") > F.lit(eps) * F.col("deg")
    msgs = (
        state.where(is_active)
        .select(F.col("id").alias("v"), (F.col("r") / F.col("deg")).alias("share"))
        .join(sym, "v")
        .select(
            F.col("nbr").alias("id"),
            (F.lit(1.0 - alpha) * F.col("share")).alias("m"),
        )
        .groupBy("id")
        .agg(F.sum("m").alias("inflow"))
    )
    return (
        state.join(msgs, "id", "left")
        .select(
            "id", "deg",
            F.when(is_active, F.col("p") + F.lit(alpha) * F.col("r"))
            .otherwise(F.col("p"))
            .alias("p"),
            (
                F.when(is_active, F.lit(0.0)).otherwise(F.col("r"))
                + F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("r"),
        )
        .repartition(n_parts, "id")
    )


def forward_push_ppr(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    *,
    alpha: float = 0.15,
    eps: float = 1e-4,
    rounds: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, p6, r6): reserve (the PPR estimate) and leftover residual
    after ``rounds`` synchronous push rounds from a uniform seed mass."""
    if not seeds:
        raise ValueError("forward_push_ppr: seeds must be non-empty")
    if not (0.0 < alpha < 1.0):
        raise ValueError("forward_push_ppr: alpha must be in (0, 1)")
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sym = (
        simple_edges(edges, directed=False)
        .select(F.col("src").alias("v"), F.col("dst").alias("nbr"))
        .repartition(num_partitions, "v")
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy(F.col("v").alias("id")).agg(F.count("*").alias("deg"))
    seed_mass = 1.0 / len(seeds)
    seed_df = spark.createDataFrame([(int(s),) for s in seeds], "id BIGINT")
    state = run(
        spark,
        lambda: deg.join(seed_df.withColumn("r0", F.lit(seed_mass)), "id", "left")
        .select(
            "id", "deg",
            F.lit(0.0).alias("p"),
            F.coalesce(F.col("r0"), F.lit(0.0)).alias("r"),
        )
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True),
        lambda s: _push_step(s, sym, alpha, eps, num_partitions),
        until=None,
        max_iter=rounds,
        num_partitions=num_partitions,
    ).state
    return state.select(
        "id", F.round("p", 6).alias("p6"), F.round("r", 6).alias("r6")
    ).where((F.col("p6") != 0.0) | (F.col("r6") != 0.0))


def forward_push_oracle_sql(
    g_sql: str,
    *,
    n_seeds: int = 3,
    alpha: float = 0.15,
    eps: float = 1e-4,
    rounds: int = 8,
) -> str:
    """DuckDB SQL replaying the identical synchronous push recurrence;
    seeds = the ``n_seeds`` smallest vertex ids, derived in-SQL so the
    oracle is self-contained and always matches the engine's choice."""
    seed_mass = 1.0 / n_seeds
    parts = [
        f"""WITH ge AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
  FROM ({g_sql}) q WHERE src <> dst
)
, sym AS MATERIALIZED (
  SELECT src AS v, dst AS nbr FROM ge UNION ALL SELECT dst, src FROM ge
)
, deg AS MATERIALIZED (SELECT v AS id, count(*) AS deg FROM sym GROUP BY v)
, seeds AS MATERIALIZED (SELECT id FROM deg ORDER BY id LIMIT {n_seeds})
, s0 AS MATERIALIZED (
  SELECT d.id, d.deg, 0.0 AS p,
         CASE WHEN s.id IS NOT NULL THEN {seed_mass!r} ELSE 0.0 END AS r
  FROM deg d LEFT JOIN seeds s ON s.id = d.id
)"""
    ]
    for t in range(1, rounds + 1):
        q = t - 1
        parts.append(
            f"""
, act{t} AS MATERIALIZED (SELECT * FROM s{q} WHERE r > {eps!r} * deg)
, msg{t} AS MATERIALIZED (
  SELECT e.nbr AS id, sum({1.0 - alpha!r} * a.r / a.deg) AS inflow
  FROM act{t} a JOIN sym e ON e.v = a.id GROUP BY e.nbr
)
, s{t} AS MATERIALIZED (
  SELECT s.id, s.deg,
         CASE WHEN s.r > {eps!r} * s.deg THEN s.p + {alpha!r} * s.r ELSE s.p END AS p,
         (CASE WHEN s.r > {eps!r} * s.deg THEN 0.0 ELSE s.r END
          + coalesce(m.inflow, 0.0)) AS r
  FROM s{q} s LEFT JOIN msg{t} m ON m.id = s.id
)"""
        )
    parts.append(
        f"""
SELECT id, round(p, 6) AS p6, round(r, 6) AS r6 FROM s{rounds}
WHERE round(p, 6) <> 0.0 OR round(r, 6) <> 0.0"""
    )
    return "".join(parts)
