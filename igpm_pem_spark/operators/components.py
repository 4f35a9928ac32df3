"""Connected components via hash-min message passing.

The reference computes weakly-connected components as the blocking
structure for all RWR work (``patternmatching/gray/rwr.py:26,56-61``;
work-splitting ``parallel/gray_mp.py:172-178``) with a NetworkX library
call. Our distributed kernel: every vertex starts labeled with its own id
and repeatedly adopts ``min(own, neighbors')`` until a fixpoint — each
superstep is one join + one min-aggregate over the once-shuffled adjacency.

Frontier-restricted and exact: only vertices whose component label changed
in the previous superstep send messages (an unchanged vertex cannot improve
a neighbor), so work decays as components settle — the reference's
partial-execution idea (O2 in SURVEY.md §4) realized exactly, not
approximately. Kill/resume carries the (component, changed) state so
settled vertices are never recomputed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lineage import SuperstepStats
from ._superstep import edge_partition_counts, released, run
from .graph import kernel_nparts, partitioned_adjacency, vertex_ids


def _cc_step(
    state: DataFrame,
    adj: DataFrame | list[DataFrame],
    n_parts: int | None = None,
) -> DataFrame:
    # only vertices that improved last round can improve a neighbor
    frontier = state.where("changed").select(
        F.col("id").alias("src"), F.col("component").alias("cand")
    )
    # ``adj`` may be a LIST of independently persisted adjacency parts
    # (the incremental replay's base + per-bucket deltas): each part keeps
    # its own src hash-partitioning, the frontier joins every part without
    # ever re-shuffling old edges, and only the message union (frontier-
    # cone-sized, not E-sized) flows into the dst aggregation below.
    parts = adj if isinstance(adj, list) else [adj]
    raws = [
        p.join(frontier.hint("shuffle_hash"), "src").select("dst", "cand")
        for p in parts
    ]
    raw = raws[0]
    for r in raws[1:]:
        raw = raw.unionByName(r)
    # repartition-then-min: avoids V×P map-side combine output (see
    # pagerank._group_sum); layout pinned to the adjacency's partition
    # count, not the session shuffle default (pagerank.py does the same)
    msgs = (
        (raw.repartition(n_parts, "dst") if n_parts else raw.repartition("dst"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("cand").alias("cand"))
    )
    return state.join(msgs, "id", "left").select(
        "id",
        F.least(
            F.col("component"), F.coalesce(F.col("cand"), F.col("component"))
        ).alias("component"),
        (F.coalesce(F.col("cand"), F.col("component")) < F.col("component")).alias(
            "changed"
        ),
    )


def _cc_shortcut(state: DataFrame) -> DataFrame:
    """Pointer jumping: component ← component(component).

    Hash-min's carried label is always the id of SOME member of the
    vertex's component (inductive from own-id init + min over member
    ids), so the label-of-label lookup stays in-component and is monotone
    non-increasing — the fixpoint (min member id) is unchanged, but label
    chains halve per application, turning O(diameter) edge rounds into
    O(log diameter) combined rounds (the classic Shiloach-Vishkin /
    two-phase-CC shortcut). On a 40-superstep sparse sf0.1 graph this
    cut the batch kernel to 8 supersteps.

    ``changed`` ORs the incoming flag: a vertex improved by EITHER the
    edge step or the jump must rebroadcast, and commit-time convergence
    (delta == 0) then certifies that neither operator can make progress
    — the frontier-restriction correctness argument is preserved.

    Skew note: the join key on the probe side is the component label —
    a giant component is one hot key. The build side is keyed by unique
    vertex id, so AQE skew-join (or the state's small width: 3 columns)
    absorbs it; at 100 TB enable AQE for the CC loop or swap in a
    distinct-label map + broadcast once labels collapse."""
    parent = state.select(
        F.col("id").alias("component"), F.col("component").alias("pcomp")
    )
    return state.join(parent, "component", "left").select(
        "id",
        F.least(
            F.col("component"), F.coalesce(F.col("pcomp"), F.col("component"))
        ).alias("component"),
        (
            F.col("changed")
            | (F.coalesce(F.col("pcomp"), F.col("component")) < F.col("component"))
        ).alias("changed"),
    )


@dataclass
class ComponentsResult:
    components: DataFrame  # (id BIGINT, component BIGINT) — component = min member id
    supersteps: int
    converged: bool
    resumed_from: int | None
    stats: list[SuperstepStats] = field(default_factory=list)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 100,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    steps_per_commit: int = 4,
) -> ComponentsResult:
    """Hash-min WCC. Edge direction is ignored (weak connectivity,
    matching the reference's ``to_directed`` + WCC).

    ``steps_per_commit`` defaults to 4 (r6): the component fixpoint is
    exact integer hash-min, so commit blocking cannot change the result
    — only how often the driver pays a commit + stats job. With the
    pointer-jumping shortcut most graphs converge in ≤ 12 supersteps,
    and per-superstep commits made the driver-side job floor (~50 ms/job
    on the bench host) half the kernel's wall at small scale. Callers
    with durable-checkpoint cadence needs pass it explicitly."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    adj = partitioned_adjacency(edges, num_partitions, directed=False).persist()
    verts = vertex_ids(adj).repartition(num_partitions, "id").persist()
    with released(adj, verts):
        res = run(
            spark,
            lambda: verts.select(
                "id", F.col("id").alias("component"), F.lit(True).alias("changed")
            ).localCheckpoint(eager=True),
            lambda s: _cc_shortcut(_cc_step(s, adj, num_partitions)),
            max_iter=max_iter,
            edge_parts=edge_partition_counts(adj),
            num_partitions=num_partitions,
            steps_per_commit=steps_per_commit,
            eager_steps=True,
            checkpoint_dir=checkpoint_dir,
        )
    return ComponentsResult(
        res.state.select("id", "component"), res.supersteps, res.converged,
        res.resumed_from, res.stats,
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, size) — the reference's community-size statistic input
    (``gray_incremental.py:92-96``)."""
    return components.groupBy("component").agg(F.count("*").alias("size"))


def median_component_size(components: DataFrame) -> float:
    """Median size over components of ≥ 2 members — mirrors
    ``statistics.median([len(c) for c in wccs if len(c) > 1])``
    (``gray_incremental.py:92-96``) via ``percentile_approx`` at scale."""
    row = (
        component_sizes(components)
        .where(F.col("size") >= 2)
        .agg(F.percentile_approx("size", 0.5, 10000).alias("m"))
        .first()
    )
    return float(row["m"]) if row["m"] is not None else float("nan")
