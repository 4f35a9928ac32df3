"""Deterministic synchronous label propagation (community detection).

Plays the role of the reference's recursive Louvain community scoping
(``patternmatching/gray/incremental/query_call.py:130-165``, duplicated at
``incremental/rl_model.py:13-69``): the reference picks "affected regions"
as the union of communities touched by new edges. Louvain is inherently
order-dependent (asynchronous greedy); per SURVEY.md §7 risk (4) we pin a
*synchronous, deterministic* LPA as the spec'd semantics so results are
reproducible across partitionings and cluster sizes:

    label'(v) = the neighbor label with the highest count;
                ties broken by the smallest label;
                vertices with no neighbors keep their label.

Each superstep = one join over the once-shuffled adjacency + a count
aggregate + a window argmax (A9's tie pattern, ``gray_multiple.py:436-441``,
here with exact deterministic ordering). The iteration count bounds
community diameter — the knob that replaces the reference's RL-tuned
community-size threshold (SURVEY.md §3.3) with deterministic control.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..lineage import SuperstepStats
from ._superstep import edge_partition_counts, fixpoint, released, run
from .graph import kernel_nparts, partitioned_adjacency, vertex_ids


def _lpa_step(
    state: DataFrame, adj: DataFrame, n_parts: int, vote: Column | None = None
) -> DataFrame:
    """One synchronous LPA round; each (vertex, neighbor label) scores
    ``vote`` over the neighbor's edges — ``count(*)`` by default,
    ``sum(w)`` for the weighted kernel."""
    raw = adj.join(
        state.select(F.col("id").alias("src"), "label").hint("shuffle_hash"), "src"
    ).drop("src")
    # repartition-then-count: (dst,label) keys have near-edge cardinality,
    # so map-side combine buys nothing and costs V×P (pagerank._group_sum);
    # layout pinned to the adjacency's partition count (pagerank.py ditto)
    hist = (
        raw.repartition(n_parts, "dst")
        .groupBy(F.col("dst").alias("id"), "label")
        .agg((F.count("*") if vote is None else vote).alias("cnt"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
    best = (
        hist.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("id", F.col("label").alias("new_label"))
    )
    return state.join(best, "id", "left").select(
        "id",
        F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        (F.coalesce(F.col("new_label"), F.col("label")) != F.col("label")).alias(
            "changed"
        ),
    )


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id BIGINT, label BIGINT)
    supersteps: int
    converged: bool
    resumed_from: int | None
    stats: list[SuperstepStats] = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 10,
    stop_on_stable: bool = True,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    steps_per_commit: int = 4,
) -> LabelPropResult:
    # steps_per_commit defaults to 4 (r6): `changed` is a per-sub-step
    # flag, so stability is still detected from the LAST sub-step only
    # (no false stop on an intra-block cycle) and a mid-block fixpoint
    # just no-ops the remaining sub-steps — labels are identical, the
    # driver pays 4× fewer commit+stats jobs (~50 ms/job floor).
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    adj = partitioned_adjacency(edges, num_partitions, directed=False).persist()
    verts = vertex_ids(adj).repartition(num_partitions, "id").persist()
    with released(adj, verts):
        res = run(
            spark,
            lambda: verts.select(
                "id", F.col("id").alias("label"), F.lit(True).alias("changed")
            ).localCheckpoint(eager=True),
            lambda s: _lpa_step(s, adj, num_partitions),
            until=fixpoint if stop_on_stable else None,
            max_iter=max_iter,
            edge_parts=edge_partition_counts(adj),
            num_partitions=num_partitions,
            steps_per_commit=steps_per_commit,
            checkpoint_dir=checkpoint_dir,
        )
    return LabelPropResult(
        res.state.select("id", "label"), res.supersteps, res.converged,
        res.resumed_from, res.stats,
    )


def modularity_local_move(
    spark: SparkSession,
    edges: DataFrame,
    labels: DataFrame,
    *,
    rounds: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """One or more SYNCHRONOUS Louvain-style local-move rounds on top of an
    existing community assignment (id, label) → (id, label).

    Closes the semantic daylight between deterministic LPA (A8's pinned
    spec) and the reference's recursive Louvain community scoping
    (``patternmatching/gray/incremental/query_call.py:130-165``,
    ``community.best_partition``): each round every vertex evaluates the
    standard Louvain modularity gain of moving to each NEIGHBOR community
    against the CURRENT partition,

        ΔQ(v: a→c) = (k_vc − k_va)/m − d_v·(D_c − D_a + d_v)/(2m²),

    moves to the best strictly-positive-gain community (ties → smallest
    community label), and all moves apply simultaneously. Synchronous +
    deterministic tie-breaks ⇒ reproducible across partitionings and
    engines (the asynchronous sweep order that makes classic Louvain
    irreproducible is exactly what this variant pins down).

    Simultaneous application of individually-positive moves can still
    degrade Q in aggregate (two tightly-linked vertices swapping INTO
    each other's old community — the classic parallel-Louvain
    oscillation), so each round is hill-climb GUARDED: the moved
    partition's integer modularity score S = Σ_c (4·m·m_c − D_c²)
    (Q = S / 4m², so the ordering is identical) is compared against the
    current one and the round is rejected — and the pass stops, since
    re-deriving the same move from the same labels would repeat the
    rejection — whenever S would drop. The score is exact integer
    arithmetic (decimal(38,0), overflow-safe past 1e9 edges), so Spark
    and the DuckDB oracle take the same branch bit-for-bit, and
    Q(move-pass) ≥ Q(input) holds by construction (gated by
    community_louvain_move / community_q_improvement).
    """
    from .graph import canonical_undirected, symmetrize

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = canonical_undirected(edges).repartition(num_partitions, "src").persist()
    with released(e):
        m = e.count()
        if m == 0:
            return labels.select("id", "label")
        sym = symmetrize(e)
        deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
        lab = labels.select("id", "label")

        def _score(lab_df: DataFrame) -> int:
            # integer modularity score S = Σ_c (4·m·m_c − D_c²); one
            # intra-edge aggregate + one degree aggregate, reduced to a
            # single driver-side scalar — the same two passes metrics.
            # modularity makes, kept integral so accept/reject is portable
            la = lab_df.select(F.col("id").alias("src"), F.col("label").alias("_la"))
            lb = lab_df.select(F.col("id").alias("dst"), F.col("label").alias("_lb"))
            mc = (
                e.join(la.hint("shuffle_hash"), "src")
                .join(lb.hint("shuffle_hash"), "dst")
                .where(F.col("_la") == F.col("_lb"))
                .groupBy(F.col("_la").alias("label"))
                .agg(F.count("*").alias("mc"))
            )
            dc = deg.join(lab_df, "id").groupBy("label").agg(F.sum("d").alias("dc"))
            row = (
                dc.join(mc, "label", "left")
                .select(
                    (
                        F.lit(4 * m).cast("decimal(38,0)")
                        * F.coalesce(F.col("mc"), F.lit(0)).cast("decimal(38,0)")
                        - F.col("dc").cast("decimal(38,0)")
                        * F.col("dc").cast("decimal(38,0)")
                    ).alias("term")
                )
                .agg(F.sum("term").alias("s"))
                .first()
            )
            return int(row["s"]) if row["s"] is not None else 0

        s_cur = _score(lab)
        for _ in range(rounds):
            lab_c = lab.select(F.col("id").alias("dst"), F.col("label").alias("c"))
            # k_vc: edges from v into each neighbor community c
            kvc = (
                sym.join(lab_c.hint("shuffle_hash"), "dst")
                .groupBy(F.col("src").alias("id"), "c")
                .agg(F.count("*").alias("kvc"))
            )
            tot = (
                deg.join(lab, "id")
                .groupBy("label")
                .agg(F.sum("d").alias("dtot"))
            )
            base = (
                kvc.join(lab, "id")  # current community a = label
                .join(deg, "id")
                .join(
                    tot.select(F.col("label").alias("c"), F.col("dtot").alias("dc")), "c"
                )
                .join(tot.select(F.col("label"), F.col("dtot").alias("da")), "label")
            )
            kva = (
                base.where(F.col("c") == F.col("label"))
                .select("id", F.col("kvc").alias("kva"))
            )
            cand = (
                base.where(F.col("c") != F.col("label"))
                .join(kva.hint("shuffle_hash"), "id", "left")
                .na.fill(0, ["kva"])
                .withColumn(
                    "gain",
                    (F.col("kvc") - F.col("kva")) / F.lit(float(m))
                    - F.col("d")
                    * (F.col("dc") - F.col("da") + F.col("d"))
                    / F.lit(2.0 * m * m),
                )
                .where(F.col("gain") > 0.0)
            )
            w = Window.partitionBy("id").orderBy(F.desc("gain"), F.asc("c"))
            move = (
                cand.withColumn("rn", F.row_number().over(w))
                .where("rn = 1")
                .select("id", F.col("c").alias("new_label"))
            )
            moved = (
                lab.join(move.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            s_new = _score(moved)
            if s_new < s_cur:
                # synchronous oscillation made the aggregate worse: reject,
                # and stop — the same labels would re-derive the same move
                break
            lab, s_cur = moved, s_new
    return lab


def label_propagation_weighted(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, label): synchronous LPA where each neighbor vote carries the
    edge weight ``w`` — label'(v) = argmax_label Σ w(v,u) over neighbors u with
    that label, ties to the smallest label. The multiplicity-aware
    community pass for weighted co-occurrence / import graphs: the
    unweighted kernel's step with ``sum(w)`` votes over the symmetrized
    edges (parallel edges and self-loops kept), run for ``max_iter``
    supersteps with one commit each.

    Determinism note: with integer-valued weights (co-occurrence counts)
    the vote sums are exact in float64, so the argmax is engine-portable
    — the fixture graphs keep weights integral for exactly this reason."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    w_ = F.col("w").cast("double")
    sym = (
        edges.select("src", "dst", w_.alias("w"))
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), w_.alias("w")
            )
        )
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    return run(
        spark,
        lambda: sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True),
        lambda s: _lpa_step(s, sym, num_partitions, F.sum("w")),
        until=None,
        max_iter=max_iter,
        num_partitions=num_partitions,
    ).state.select("id", "label")
