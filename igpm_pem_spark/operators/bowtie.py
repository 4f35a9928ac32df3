"""Bow-tie decomposition of a directed graph — the canonical web-scale
link-graph structure analysis (Broder et al., "Graph structure in the
web"): every vertex is classified relative to the largest strongly
connected component as

* ``core``          — member of the largest SCC
* ``in``            — reaches the core, not in it
* ``out``           — reached from the core, not in it
* ``tube``          — on an IN→OUT path that bypasses the core
* ``tendril``       — hangs off IN (forward) or off OUT (backward)
* ``disconnected``  — none of the above

Computation: one SCC run (operators/scc.py) plus four frontier-BFS
reachability fixpoints (forward/backward from the core, forward from
IN, backward from OUT). Each BFS level is one equi-join + anti-join +
distinct — the same superstep shape as the A5 hash-min kernel, so work
per level is O(frontier-adjacent edges), never the full graph, and the
whole decomposition is message-passing joins end to end.

Classification is a single when-chain evaluated in the fixed order
core → in → out → tube → tendril → disconnected, which is also the
order the DuckDB oracle's CASE uses — the two engines agree exactly on
every vertex.
"""

from __future__ import annotations

import sys
from contextlib import ExitStack
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import released, run
from .graph import kernel_nparts, vertex_ids

from .scc import strongly_connected_components


# BFS levels unrolled per commit (the driver's ``steps_per_commit``): one
# checkpoint + one stats job per batch instead of per level, which is what
# dominates wall time on deep, small frontiers.
_BATCH = 3


def _reach_step(state: DataFrame, edges: DataFrame, num_partitions: int) -> DataFrame:
    """One BFS level over (id, changed): the out-neighbors of the
    frontier (``changed``) not yet visited join as the new frontier."""
    new = (
        edges.join(state.where("changed").select(F.col("id").alias("src")), "src")
        .select(F.col("dst").alias("id"))
        .distinct()
        .join(state, "id", "left_anti")
    )
    return (
        state.select("id", F.lit(False).alias("changed"))
        .unionByName(new.select("id", F.lit(True).alias("changed")))
        .repartition(num_partitions, "id")
    )


def _reach(edges: DataFrame, seeds: DataFrame, num_partitions: int) -> DataFrame:
    """(id): vertices reachable from ``seeds`` (seeds included) over the
    directed edge relation — frontier BFS to fixpoint, ``_BATCH`` levels
    per commit."""
    return run(
        edges.sparkSession,
        lambda: seeds.select("id")
        .distinct()
        .withColumn("changed", F.lit(True))
        .localCheckpoint(eager=True),
        lambda s: _reach_step(s, edges, num_partitions),
        # a BFS ends by itself: no frontier is left after at most |V| levels
        max_iter=sys.maxsize,
        num_partitions=num_partitions,
        steps_per_commit=_BATCH,
    ).state.select("id")


@dataclass
class BowtieResult:
    classes: DataFrame  # (id, cls)
    core_scc: int       # label (min member id) of the core SCC


def bowtie_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: int | None = None,
) -> BowtieResult:
    """(id, cls) per vertex of the directed simple graph; core = largest
    SCC, ties broken toward the smaller SCC label (min member id) —
    deterministic in any engine."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    with ExitStack() as held:

        def persist(df: DataFrame) -> DataFrame:
            held.enter_context(released(df))
            return df.persist()

        e = persist(
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .repartition(num_partitions, "src")
        )
        rev = persist(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .repartition(num_partitions, "src")
        )
        verts = persist(vertex_ids(e))

        scc = persist(
            strongly_connected_components(
                spark, e, num_partitions=num_partitions
            ).components
        )
        top = (
            scc.groupBy("scc")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("scc"))
            .first()
        )
        core_label = int(top["scc"])
        core = persist(scc.where(F.col("scc") == core_label).select("id"))

        fwd = _reach(e, core, num_partitions)          # reached from core
        bwd = _reach(rev, core, num_partitions)        # reaching core
        outs = persist(fwd.join(core, "id", "left_anti"))
        ins = persist(bwd.join(core, "id", "left_anti"))
        fin = _reach(e, ins, num_partitions)           # forward from IN
        bout = _reach(rev, outs, num_partitions)       # backward from OUT

        def flag(df: DataFrame, name: str) -> DataFrame:
            return df.select("id", F.lit(True).alias(name))

        j = (
            verts.join(flag(core, "is_core"), "id", "left")
            .join(flag(ins, "is_in"), "id", "left")
            .join(flag(outs, "is_out"), "id", "left")
            .join(flag(fin, "is_fin"), "id", "left")
            .join(flag(bout, "is_bout"), "id", "left")
        )
        cls = (
            F.when(F.col("is_core"), "core")
            .when(F.col("is_in"), "in")
            .when(F.col("is_out"), "out")
            .when(F.col("is_fin") & F.col("is_bout"), "tube")
            .when(F.col("is_fin") | F.col("is_bout"), "tendril")
            .otherwise("disconnected")
        )
        out = j.select("id", cls.alias("cls")).localCheckpoint(eager=True)
    return BowtieResult(out, core_label)
