"""Minimum spanning forest — Borůvka rounds as DataFrame supersteps.

The classic O(log V)-round distributed MST algorithm, and the one whose
shape actually fits a BSP engine: every round each component picks its
cheapest outgoing edge simultaneously (one keyed min-aggregate over the
labeled edge list), the chosen edges merge components (connected
components on the COMPONENT graph, which shrinks geometrically — it is
a different, much smaller graph each round), and at least half the
components disappear per round, so rounds <= log2(V).

Determinism: edges are compared by the total order (w, a, b) with
(a, b) the canonical (min, max) endpoint pair, so the chosen forest is
unique even under weight ties, and two components choosing the same
edge dedupe to one forest edge.  Per-component aggregate weight is
tie-independent anyway (all minimum spanning forests share the same
weight multiset — the fact the oracle's percolation identity relies
on).

Scale notes: the outer loop's work is one O(E_alive) join + aggregate
per round against a component table that relabels monotonically; the
inner merge runs the existing hash-min CC kernel on a graph with ONE
edge per surviving component.  No collects beyond the per-round
chosen-edge count.

Reference parity: the reference has no MST; this extends the engine's
link-graph decomposition ring (CC/SCC/core/truss) with the canonical
weighted-forest operator.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import kernel_nparts
from ._superstep import loop_confs, released


@dataclass
class MsfResult:
    forest: DataFrame  # (a, b, w) — chosen edges, a < b
    components: DataFrame  # (id, comp) — final labels (min vertex id)
    rounds: int
    converged: bool
    chosen_per_round: list[int] = field(default_factory=list)
    resumed_from: int | None = None


def minimum_spanning_forest(
    spark: SparkSession,
    edges: DataFrame,
    *,
    weight_col: str = "w",
    max_rounds: int = 32,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> MsfResult:
    """Borůvka minimum spanning forest over an undirected weighted edge
    list (``src``, ``dst``, ``weight_col``); parallel edges collapse to
    their minimum weight, self-loops drop.

    With ``checkpoint_dir`` each Borůvka round commits BOTH state tables
    under the same root — the accumulated forest parquet first, then the
    component labels through the lineage log whose commit marker is
    written last, so a crash between the two leaves a cleanly resumable
    prefix (the S6 torn-superstep rule). A killed run resumes with the
    merged components and the forest chosen so far."""
    import time as _time

    from ..lineage import LineageLog
    from ._superstep import edge_partition_counts
    from .components import connected_components

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    canon = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).cast("bigint").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    # both orientations so every component sees all its outgoing edges
    sym = (
        canon.select(F.col("a").alias("u"), F.col("b").alias("v"), "w", "a", "b")
        .unionByName(
            canon.select(F.col("b").alias("u"), F.col("a").alias("v"), "w", "a", "b")
        )
        .repartition(num_partitions, "u")
        .localCheckpoint(eager=True)
    )
    edge_parts = edge_partition_counts(sym)
    comp_log = LineageLog(spark, checkpoint_dir and f"{checkpoint_dir}/components")
    forest_log = LineageLog(spark, checkpoint_dir and f"{checkpoint_dir}/forest")

    comp: DataFrame | None = None
    forest: DataFrame | None = None
    resumed_from, rounds = None, 0
    if checkpoint_dir:
        last = comp_log.last_committed()
        if last is not None:
            comp = comp_log.load_state(last).select("id", "comp")
            f = forest_log.load_state(last)
            forest = f if f.limit(1).count() > 0 else None
            resumed_from, rounds = last, last + 1
    if comp is None:
        comp = (
            sym.select(F.col("u").alias("id")).distinct()
            .select("id", F.col("id").alias("comp"))
            .repartition(num_partitions, "id")
            .localCheckpoint(eager=True)
        )
    chosen_counts: list[int] = []
    converged = False
    # AQE + codegen off for the loop (see _superstep.loop_confs)
    with loop_confs(spark):
        while rounds < max_rounds:
            t0 = _time.time()
            labeled = (
                sym.join(comp.withColumnRenamed("id", "u").withColumnRenamed("comp", "cu"), "u")
                .join(comp.withColumnRenamed("id", "v").withColumnRenamed("comp", "cv"), "v")
                .where(F.col("cu") != F.col("cv"))
            )
            # cheapest outgoing edge per component under the (w, a, b) total
            # order; struct min gives the whole edge atomically
            sel = (
                labeled.groupBy("cu")
                .agg(F.min(F.struct("w", "a", "b", "cv")).alias("e"))
                .select(
                    F.col("e.w").alias("w"), F.col("e.a").alias("a"),
                    F.col("e.b").alias("b"),
                    F.col("cu"), F.col("e.cv").alias("cv"),
                )
                .persist()
            )
            with released(sel):
                if sel.count() == 0:
                    converged = True
                    break
                rounds += 1
                new_edges = sel.select("a", "b", "w").distinct()
                chosen_counts.append(new_edges.count())
                forest = new_edges if forest is None else forest.unionByName(new_edges)
                # coalesce bounds the union's partition accumulation across
                # Boruvka rounds (see LineageLog._checkpoint) — narrow, no
                # shuffle
                forest = forest.coalesce(num_partitions).localCheckpoint(eager=False)
                # merge on the component graph — one edge per choosing component
                merge = connected_components(
                    spark,
                    sel.select(F.col("cu").alias("src"), F.col("cv").alias("dst")),
                    num_partitions=num_partitions,
                ).components.withColumnRenamed("id", "comp").withColumnRenamed(
                    "component", "new_comp"
                )
                new_comp = (
                    comp.join(merge, "comp", "left")
                    .select(
                        "id",
                        F.coalesce("new_comp", "comp").alias("comp"),
                        F.col("new_comp").isNotNull().alias("changed"),
                    )
                )
                if checkpoint_dir:
                    # forest parquet FIRST, components marker LAST (torn-round rule)
                    forest = forest_log.commit(rounds - 1, forest, t0)
                comp = comp_log.commit(
                    rounds - 1, new_comp, t0,
                    num_partitions=num_partitions,
                    delta=F.col("changed").cast("double"),
                    active=F.col("changed"),
                    edge_parts=edge_parts,
                ).select("id", "comp")
    if forest is None:
        forest = spark.createDataFrame([], "a BIGINT, b BIGINT, w BIGINT")
    return MsfResult(forest, comp, rounds, converged, chosen_counts, resumed_from)
