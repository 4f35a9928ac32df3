"""Strongly connected components — min-label coloring (FW-BW-MIN).

WCC (``components.py``) ignores direction; directed link graphs (imports,
citations, follows) also need SCC. The classic distributed algorithm
(Orzan's coloring / FW-BW-MIN — the standard choice when you only have
message passing, e.g. Pregel-style systems) runs in phases over the
ALIVE subgraph:

1. **Color**: propagate ``color(v) = min(color(v), colors of in-neighbors)``
   along edge direction to fixpoint — each vertex ends with the smallest
   alive id that can reach it forward.
2. **Mark**: the pivot of color c is vertex c itself. Propagate a mark
   from each pivot BACKWARD, restricted to same-colored vertices, to
   fixpoint. Marked vertices of color c are mutually reachable with the
   pivot (forward via coloring, backward via marking) — exactly SCC(c).
3. Emit marked vertices (scc id = their color), remove them, repeat.

Every phase is the same frontier-restricted join+min-aggregate superstep
the WCC kernel runs (one shuffle per sweep, layout pinned to the
adjacency); phases shrink the alive set monotonically. Worst case (a long
path DAG) is O(V) phases — like every pivot-based SCC scheme — but each
phase then costs O(alive) only; cycle-rich graphs finish in a few
phases. ``_MAX_PHASES`` guards the pathological case loudly.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import loop_confs, released, run
from .components import _cc_step
from .graph import kernel_nparts


@dataclass
class SccResult:
    components: DataFrame  # (id BIGINT, scc BIGINT) — scc = min member id
    phases: int
    supersteps: int
    converged: bool
    stats: list = field(default_factory=list)


# Sweeps per changed-count job. Measured at sf0.01: 4 vs 2 is a wash (the
# trimmed phases' fixpoints are shallow, so wider blocks just add no-op
# sweeps).
_UNROLL = 2
# Bounds: phases per SCC call, sweeps per min-prop fixpoint, trim sweeps
# per phase (trimming need not finish: leftovers go through coloring) and
# condensation levels.
_MAX_PHASES = 50
_MAX_SWEEPS = 200
_TRIM_SWEEPS = 25
_MAX_LEVELS = 200


def _min_prop_fix(
    state: DataFrame,
    adj: DataFrame,
    num_partitions: int,
) -> tuple[DataFrame, int]:
    """Run component(v) ← min(component(v), min over edges (u,v) of
    component(u)) to fixpoint, frontier-restricted: the CC sweep
    (``components._cc_step``) over directed edges. state: (id,
    component, changed).

    ``_UNROLL`` sweeps share ONE job (the changed-count action is what
    materializes the lazy per-sweep checkpoints): on deep fixpoints the
    wall is dominated by per-job scheduling, not data, so cutting the
    job count nearly proportionally cuts the wall. Each sweep references
    state 3× (frontier, join left, compare), so every sweep truncates
    the logical plan with a lazy localCheckpoint — analysis stays linear
    in the unroll and the checkpointed partitions are computed once
    inside the job.
    Convergence detection is unaffected: a sweep over an unchanged state
    changes nothing, so "last sweep of the batch changed nothing" is
    still exactly the fixpoint test (at most _UNROLL-1 no-op sweeps run)."""
    steps = 0
    while steps < _MAX_SWEEPS:
        for _ in range(min(_UNROLL, _MAX_SWEEPS - steps)):
            state = _cc_step(state, adj, num_partitions).localCheckpoint(eager=False)
            steps += 1
        if state.where("changed").count() == 0:
            return state, steps
    raise RuntimeError(
        f"min-propagation did not converge in {_MAX_SWEEPS} sweeps "
        "(scc._MAX_SWEEPS)"
    )


def _trim(
    alive: DataFrame,
    fwd: DataFrame,
) -> tuple[DataFrame, DataFrame | None, int]:
    """Parallel trim (the T of FW-BW-Trim, Slota/Rajamanickam/Madduri
    IPDPS'14): a vertex with zero in-degree or zero out-degree in the
    alive subgraph cannot lie on a cycle, so it is its own singleton SCC.
    Peel ALL such vertices each sweep; their removal exposes the next
    layer (chains/DAG periphery peel in depth-of-chain sweeps). Link
    graphs are mostly periphery — trimming empties the bulk of the vertex
    set for pennies before a single coloring fixpoint runs.

    Returns (alive', singletons(id, scc) or None, sweeps). Stops early at
    a fixpoint; ``_TRIM_SWEEPS`` only bounds the work (correctness never
    depends on trimming to completion — leftovers go through coloring)."""
    singles: DataFrame | None = None
    sweeps = 0
    # restrict the edge set to the alive subgraph ONCE, then shrink it
    # incrementally: each peel re-restricts the survivor edges, never the
    # full graph — per-sweep cost is O(remaining subgraph), not O(E)
    fa = (
        fwd.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .localCheckpoint(eager=False)
    )
    while sweeps < _TRIM_SWEEPS:
        # both degree flags in ONE shuffle: union the endpoint roles and
        # max-aggregate, instead of two distincts + a semi-join
        keep = (
            fa.select(F.col("src").alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i"))
            .unionByName(
                fa.select(F.col("dst").alias("id"), F.lit(0).alias("o"), F.lit(1).alias("i"))
            )
            .groupBy("id")
            .agg(F.max("o").alias("has_out"), F.max("i").alias("has_in"))
            .where((F.col("has_out") == 1) & (F.col("has_in") == 1))
            .select("id")
            .localCheckpoint(eager=False)
        )
        trimmed = alive.join(keep, "id", "left_anti").select(
            "id", F.col("id").alias("scc")
        )
        sweeps += 1
        # one job per peel: counting the trimmed layer materializes keep's
        # (and the shrunken edge set's) lazy checkpoints underneath it
        if trimmed.count() == 0:
            break
        # singles accumulate lazily — every input is checkpointed, so the
        # union plan stays shallow; one checkpoint after the loop
        singles = trimmed if singles is None else singles.unionByName(trimmed)
        alive = keep
        fa = (
            fa.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    if singles is not None:
        singles = singles.localCheckpoint(eager=True)
    return alive, singles, sweeps


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    num_partitions: int | None = None,
) -> SccResult:
    """(id, scc) over the directed simple graph; scc = min member id
    (matching ``nx.strongly_connected_components`` up to labeling)."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    fwd = e.repartition(num_partitions, "src").persist()
    alive = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True)
    )

    done: DataFrame | None = None
    phases = supersteps = 0
    converged = False
    t0 = time.time()
    # AQE + codegen off for the whole FW-BW-Trim iteration (fresh
    # plans per sweep/phase — see _superstep.loop_confs)
    with released(fwd), loop_confs(spark):
        while phases < _MAX_PHASES:
            # trim first, every phase: the initial periphery, then whatever
            # each extracted SCC's removal exposes
            alive, singles, s0 = _trim(alive, fwd)
            supersteps += s0
            if singles is not None:
                done = singles if done is None else done.unionByName(singles)
                done = done.localCheckpoint(eager=True)
            if alive.limit(1).count() == 0:
                converged = True
                break
            phases += 1
            # restrict both edge directions to the alive subgraph
            fa = (
                fwd.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
            ba = fa.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            # 1. forward min-coloring
            color0 = alive.select(
                "id", F.col("id").alias("component"), F.lit(True).alias("changed")
            ).localCheckpoint(eager=True)
            colored, s1 = _min_prop_fix(color0, fa, num_partitions)
            supersteps += s1
            # 2. backward pivot marking within same color: encode "marked with
            # color c" as color value c, unmarked as null, and reuse min-prop
            # on the color-respecting backward edges
            same_color = (
                ba.join(
                    colored.select(
                        F.col("id").alias("src"), F.col("component").alias("_cs")
                    ),
                    "src",
                )
                .join(
                    colored.select(
                        F.col("id").alias("dst"), F.col("component").alias("_cd")
                    ),
                    "dst",
                )
                .where(F.col("_cs") == F.col("_cd"))
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            mark0 = colored.select(
                "id",
                F.when(F.col("id") == F.col("component"), F.col("component")).alias("m"),
                (F.col("id") == F.col("component")).alias("changed"),
            ).select(
                "id", F.coalesce(F.col("m"), F.lit(2**62)).alias("component"), "changed"
            ).localCheckpoint(eager=True)
            marked, s2 = _min_prop_fix(mark0, same_color, num_partitions)
            supersteps += s2
            # marked < sentinel ⇒ pivot's color reached v backward within its
            # color class ⇒ v ∈ SCC(pivot). (min over marks is safe: within a
            # color class the only possible mark is the class's pivot color.)
            scc_now = marked.where(F.col("component") < F.lit(2**62)).select(
                "id", F.col("component").alias("scc")
            )
            done = scc_now if done is None else done.unionByName(scc_now)
            done = done.localCheckpoint(eager=True)
            alive = (
                alive.join(scc_now.select("id"), "id", "left_anti")
                .localCheckpoint(eager=True)
            )
    if not converged and alive.limit(1).count() > 0:
        raise RuntimeError(
            f"SCC did not finish in {_MAX_PHASES} phases — pathological "
            "pivot chain; raise scc._MAX_PHASES"
        )
    result = SccResult(done, phases, supersteps, True)
    result.stats.append({"wall_sec": round(time.time() - t0, 3)})
    return result


def _level_step(state: DataFrame, q: DataFrame) -> DataFrame:
    """One max-propagation sweep over the quotient edges q(a, b):
    level(c) ← max(level(c), 1 + max level of c's predecessors)."""
    msgs = (
        q.join(state.select(F.col("c").alias("a"), "level"), "a")
        .groupBy(F.col("b").alias("c"))
        .agg((F.max("level") + 1).alias("cand"))
    )
    return state.join(msgs, "c", "left").select(
        "c",
        F.greatest(F.col("level"), F.coalesce(F.col("cand"), F.col("level")))
        .cast("int")
        .alias("level"),
        (F.coalesce(F.col("cand"), F.lit(0)) > F.col("level")).alias("changed"),
    )


def condensation_levels(
    spark: SparkSession,
    edges: DataFrame,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """(scc, level): longest-path layering of the SCC condensation DAG —
    the build/evaluation schedule of a directed link graph (an import
    graph's "compile level": everything at level L depends only on
    levels < L; cycles are collapsed to one schedulable unit first).

    level(c) = 0 for condensation sources, else 1 + max over predecessor
    components — computed by bulk max-propagation sweeps over the
    quotient edge set, which is ≤ the SCC count squared but in practice
    tiny next to the input graph (the expensive part, the SCC map, is
    the already-scale-shaped kernel above). Sweep count = DAG depth; the
    sweeps run through the superstep driver, four per commit."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    comp = strongly_connected_components(
        spark, edges, num_partitions=num_partitions
    ).components
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    q = (
        e.join(comp.select(F.col("id").alias("src"), F.col("scc").alias("a")), "src")
        .join(comp.select(F.col("id").alias("dst"), F.col("scc").alias("b")), "dst")
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
        .repartition(num_partitions, "a")
        .localCheckpoint(eager=True)
    )
    res = run(
        spark,
        lambda: comp.select(F.col("scc").alias("c"))
        .distinct()
        .select("c", F.lit(0).cast("int").alias("level"), F.lit(True).alias("changed"))
        .localCheckpoint(eager=True),
        lambda s: _level_step(s, q),
        max_iter=_MAX_LEVELS,
        num_partitions=num_partitions,
        steps_per_commit=4,
    )
    if not res.converged:
        raise RuntimeError(
            f"condensation deeper than {_MAX_LEVELS} levels — raise "
            "scc._MAX_LEVELS"
        )
    return res.state.select(F.col("c").alias("scc"), "level")
