"""Weighted single-source shortest paths — frontier-restricted Bellman-Ford.

The reference's EXTRACT is Dijkstra over RWR goodness capped at 3 hops
(``patternmatching/gray/extract.py:30-79``); ``paths.shortest_paths``
covers that hop-bounded form. This kernel is the unbounded weighted
closure a link-graph engine also needs (e.g. "cheapest dependency chain
from this repo"): classic distributed Bellman-Ford where each superstep
relaxes only edges out of vertices whose tentative distance improved last
round, so the join work decays to the active frontier exactly like the CC
kernel (O2 partial execution in SURVEY.md §4).

Determinism: distances are sums of the input weight column; with integral
weights (edge multiplicities — the co-occurrence use) every sum is exact
in DOUBLE, so the fixpoint is engine-independent and mirrorable by a
recursive-CTE oracle that carries the running min through a weight-0
self-loop on every vertex (the same keep-alive trick as the CC oracle's
``ep`` relation).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import kernel_nparts

from ..lineage import SuperstepStats
from ._superstep import edge_partition_counts, released, run


@dataclass
class SsspResult:
    distances: DataFrame  # (id BIGINT, dist DOUBLE) — reached vertices only
    supersteps: int
    converged: bool
    resumed_from: int | None = None
    stats: list[SuperstepStats] = field(default_factory=list)


def _prep(
    edges: DataFrame, weight_col: str, directed: bool, fold=F.min
) -> DataFrame:
    e = edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    ).where(F.col("src") != F.col("dst"))
    if not directed:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    # parallel edges: ``fold`` picks the representative weight (the
    # cheapest for shortest paths)
    return e.groupBy("src", "dst").agg(fold("w").alias("w"))


def _sssp_step(state: DataFrame, adj: DataFrame, num_partitions: int) -> DataFrame:
    """One Bellman-Ford relaxation: frontier vertices push dist+w to their
    out-neighbors; full-outer merge keeps newly-reached vertices."""
    frontier = state.where("changed").select(
        F.col("id").alias("src"), F.col("dist").alias("d0")
    )
    raw = adj.join(frontier.hint("shuffle_hash"), "src").select(
        "dst", (F.col("d0") + F.col("w")).alias("cand")
    )
    msgs = (
        raw.repartition(num_partitions, "dst")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("cand").alias("cand"))
    )
    return state.join(msgs, "id", "full").select(
        "id",
        F.least(
            F.coalesce(F.col("dist"), F.col("cand")),
            F.coalesce(F.col("cand"), F.col("dist")),
        ).alias("dist"),
        (
            F.col("dist").isNull()
            | (F.coalesce(F.col("cand"), F.col("dist")) < F.col("dist"))
        ).alias("changed"),
    )


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    *,
    weight_col: str = "w",
    directed: bool = False,
    max_iter: int = 100,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    steps_per_commit: int = 4,
) -> SsspResult:
    """Min-plus fixpoint: dist(v) = min over edges (u,v) of dist(u)+w.

    ``steps_per_commit`` defaults to 4 (r6): the min-plus fixpoint is
    exact — commit blocking only changes how often the driver pays a
    commit + stats job (the ~50 ms/job floor dominated small-scale runs
    at per-superstep commits); the converged distances are identical and
    the ``supersteps`` counter can overshoot the crossing by at most
    block-1 no-op supersteps.

    Non-negative weights assumed (enforced); unreachable vertices are
    absent from the result rather than carrying +inf rows. With a
    ``checkpoint_dir``, a killed run resumes from the last committed
    superstep (monotone state — carried distances stay valid upper
    bounds, S6 kill/resume parity with the other kernels).
    """
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    adj = _prep(edges, weight_col, directed).repartition(
        num_partitions, "src"
    ).persist()
    with released(adj):
        if adj.where(F.col("w") < 0).limit(1).count() > 0:
            raise ValueError("sssp requires non-negative weights")
        res = run(
            spark,
            lambda: spark.createDataFrame(
                [(int(source), 0.0, True)], "id BIGINT, dist DOUBLE, changed BOOLEAN"
            ).repartition(num_partitions, "id").localCheckpoint(eager=True),
            lambda s: _sssp_step(s, adj, num_partitions),
            max_iter=max_iter,
            edge_parts=edge_partition_counts(adj),
            num_partitions=num_partitions,
            steps_per_commit=steps_per_commit,
            checkpoint_dir=checkpoint_dir,
        )
    return SsspResult(
        res.state.select("id", "dist"), res.supersteps, res.converged,
        res.resumed_from, res.stats,
    )


def _widest_step(state: DataFrame, adj: DataFrame, num_partitions: int) -> DataFrame:
    """``_sssp_step`` with (min, +) swapped for (max, min): frontier
    vertices push min(width, w) to their out-neighbors, each vertex keeps
    the widest candidate."""
    frontier = state.where("changed").select(
        F.col("id").alias("src"), F.col("width").alias("w0")
    )
    raw = adj.join(frontier.hint("shuffle_hash"), "src").select(
        "dst", F.least(F.col("w0"), F.col("w")).alias("cand")
    )
    msgs = (
        raw.repartition(num_partitions, "dst")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.max("cand").alias("cand"))
    )
    return state.join(msgs, "id", "full").select(
        "id",
        F.greatest(
            F.coalesce(F.col("width"), F.col("cand")),
            F.coalesce(F.col("cand"), F.col("width")),
        ).alias("width"),
        (
            F.col("width").isNull()
            | (F.coalesce(F.col("cand"), F.col("width")) > F.col("width"))
        ).alias("changed"),
    )


# Supersteps of a ``widest_path`` run; an unfinished one returns
# ``converged=False``.
_WIDEST_MAX_ITER = 100


def widest_path(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    *,
    weight_col: str = "w",
    directed: bool = False,
    num_partitions: int | None = None,
) -> SsspResult:
    """Bottleneck (widest-path) single source: the max-min fixpoint
    width(v) = max over edges (u,v) of min(width(u), w) — "what is the
    fattest pipe from here to everywhere" (capacity routing, dependency
    bandwidth). Same frontier-restricted superstep as the min-plus
    kernel with (min, +) swapped for (max, min), run by the same driver
    at four steps per commit; widths are input weights verbatim (never
    sums), so the fixpoint is engine-exact with ANY weights, not just
    integral ones. The source carries +inf (every path's bottleneck is
    its narrowest edge). Monotone non-decreasing, bounded by max weight
    ⇒ converges; unreached vertices are absent."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    # parallel edges: keep the WIDEST (max-weight) representative
    adj = (
        _prep(edges, weight_col, directed, F.max)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    res = run(
        spark,
        lambda: spark.createDataFrame(
            [(int(source), float("inf"), True)],
            "id BIGINT, width DOUBLE, changed BOOLEAN",
        ).repartition(num_partitions, "id"),
        lambda s: _widest_step(s, adj, num_partitions),
        max_iter=_WIDEST_MAX_ITER,
        num_partitions=num_partitions,
        steps_per_commit=4,
    )
    return SsspResult(res.state.select("id", "width"), res.supersteps, res.converged)
