"""PageRank as DataFrame message-passing — the engine's flagship kernel.

Generalizes the reference's RWR power iteration
(``patternmatching/gray/rwr.py:142-180``: per-WCC sparse matrix-vector
product with L1 convergence) to whole-graph per-vertex rank vectors. The
reference materializes an all-pairs proximity dict (``rwr.py:108-129``) —
exactly the thing that cannot scale; we keep one rank per vertex and let
the join do the propagation.

One iteration scheme: classic synchronous power iteration, matching
``networkx.pagerank`` semantics to allclose 1e-6 (the north-rule
correctness gate): uniform start, dangling mass spread uniformly (or ∝ the
restart vector for seeded RWR), L1 convergence. IGPM-PEM's partial-execution
idea (recompute only the affected subgraph:
``incremental/gray_incremental.py:473-478``) lives in the warm-started
refresh (``init_ranks``, ``operators/incremental.py``), not in a second
scheme: a residual-push frontier lost every measured configuration.

Scale design (100 TB / 1e9+ edges):
* the edge table is shuffled ONCE (``partitioned_adjacency``) and every
  superstep joins against that cached partitioning; only the (small)
  rank vector moves per superstep;
* out-degree is attached via a partition-local window (no extra shuffle);
* the contribution aggregation repartitions raw messages by dst before
  aggregating (O(E) shuffle) instead of map-side combining (O(V·P)
  partial-agg output — see ``_group_sum``); AQE skew-join splitting
  covers the join side on a real cluster;
* the loop, its commits (a block of ``steps_per_commit`` supersteps
  each) and kill/resume are the shared superstep driver's
  (``_superstep.run``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..lineage import SuperstepStats
from ._superstep import edge_partition_counts, released, run
from .graph import kernel_nparts, partitioned_adjacency, vertex_ids


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id BIGINT, rank DOUBLE)
    supersteps: int
    converged: bool
    resumed_from: int | None
    stats: list[SuperstepStats] = field(default_factory=list)
    n_vertices: int = 0  # |V| of the ranked graph


def _adjacency_with_degree(
    edges: DataFrame, directed: bool, num_partitions: int,
    weight_col: str | None = None,
) -> DataFrame:
    """(src, dst, deg[, w]) hash-partitioned by src. Unweighted: deg =
    simple out-degree. Weighted: parallel edges' weights are SUMMED
    (nx.MultiGraph semantics) and deg = total out-weight, so a vertex's
    contribution share is w/Σw.

    Degree via partition-local window: adj is already hash-partitioned by
    src, so this sorts within partitions instead of joining (no shuffle);
    the weighted groupBy(src, dst) also runs exchange-free because hash
    partitioning on src already satisfies its clustering. Every step
    function receives num_partitions EXPLICITLY so the message aggregation
    shuffles to the SAME partition count as this adjacency — not whatever
    spark.sql.shuffle.partitions happens to be (at 1e9+ edges a mismatched
    session default re-buckets V rows every superstep)."""
    if weight_col is None:
        adj = partitioned_adjacency(edges, num_partitions, directed=directed)
        return adj.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    e = edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    ).where(F.col("src") != F.col("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    adj = (
        e.repartition(num_partitions, "src")
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    return adj.withColumn("deg", F.sum("w").over(Window.partitionBy("src")))


def _personalization_df(spark: SparkSession, personalization) -> DataFrame:
    """Normalize a seed spec (dict id->weight, or iterable of ids with
    uniform weights) into a tiny (id, p) DataFrame with sum(p)=1 — the
    reference's restart vector p_0 (``rwr.py:181-189`` seeds the source
    set; restart prob 0.7 at ``gray_multiple.py:73`` maps to alpha=0.3)."""
    if isinstance(personalization, dict):
        items = [(int(k), float(v)) for k, v in personalization.items()]
    else:
        ids = [int(k) for k in personalization]
        items = [(k, 1.0) for k in ids]
    total = sum(v for _, v in items)
    if total <= 0:
        raise ValueError("personalization weights must sum to a positive value")
    return spark.createDataFrame(
        [(k, v / total) for k, v in items], "id BIGINT, p DOUBLE"
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    directed: bool = False,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    steps_per_commit: int = 1,
    personalization: dict | list | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank to L1 convergence ``sum(|Δ|) < tol``.

    ``edges``: (src, dst, ...). Undirected inputs are symmetrized (NetworkX
    semantics). Returns ranks summing to 1.

    ``weight_col`` — weighted PageRank: each edge contributes its source's
    rank ∝ weight/Σ(out-weights), matching ``networkx.pagerank(weight=…)``;
    parallel edges' weights sum (MultiGraph). Weights must be positive.

    ``personalization`` — seed set (dict id->weight or iterable of ids):
    restart mass lands on the seeds instead of uniformly, i.e. random walk
    with restart. Matches ``networkx.pagerank(personalization=...)``
    (dangling mass also redistributed ∝ p). This is the reference's core
    proximity primitive (``patternmatching/gray/rwr.py:149-180``:
    p_{t+1} = (1-restart)·W p_t + restart·p_0 with restart=0.7 ⇔
    ``alpha=0.3`` here), computed as one rank vector per run instead of
    the reference's all-pairs proximity dict (``rwr.py:108-129``).

    ``init_ranks`` — warm start: an (id, rank) table such as the ranks of
    an earlier slice of the same graph. Carried vertices start at their
    rank and unseen ones at 0, so a start vector summing to 1 still does,
    and the power iteration keeps it there: no renormalization.
    Near a fixpoint the iteration only has to correct what changed. A
    resumable checkpoint takes precedence.
    """
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    adj = _adjacency_with_degree(
        edges, directed, num_partitions, weight_col
    ).persist()
    verts = vertex_ids(adj).repartition(num_partitions, "id").persist()
    # symmetrized graphs cannot have dangling vertices: every vertex in the
    # edge list has an out-edge — no setup jobs, no per-block mass subplan
    dangling = None
    if directed:
        dangling = verts.join(
            adj.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        ).persist()
    with released(*[df for df in (adj, verts, dangling) if df is not None]):
        n = verts.count()
        if n == 0:
            empty = spark.createDataFrame([], "id BIGINT, rank DOUBLE")
            return PageRankResult(empty, 0, True, None)
        edge_parts = edge_partition_counts(adj)
        n_dangling = dangling.count() if directed else 0
        pvec = None
        if personalization is not None:
            # seeded RWR: restart mass ∝ p instead of uniform. State carries
            # the per-vertex restart weight as a column so each superstep is
            # self-contained (no per-step join against the seed table).
            pvec = _personalization_df(spark, personalization)

        def start() -> DataFrame:
            s, rank = verts, F.lit(1.0 / n)
            if init_ranks is not None:
                # shuffle_hash: never broadcast a rank vector (see _contribs)
                s = s.join(
                    init_ranks.select("id", "rank").hint("shuffle_hash"), "id", "left"
                )
                rank = F.coalesce(F.col("rank"), F.lit(0.0))
            cols = [rank.alias("rank")]
            if pvec is not None:
                s = s.join(F.broadcast(pvec), "id", "left")
                cols.append(F.coalesce(F.col("p"), F.lit(0.0)).alias("p"))
            return s.select("id", *cols).localCheckpoint(eager=True)

        runner, close_block = _exact_step, None
        if not directed and pvec is None:
            # every vertex of a symmetrized graph has in-edges and none
            # dangle, so a step is computable from contributions alone: it
            # references state ONCE and the unrolled plan stays linear (the
            # generic step references it twice); per-vertex deltas move to
            # the commit boundary
            runner, close_block = _value_step, _rank_change
        res = run(
            spark,
            start,
            lambda s: runner(s, adj, dangling, n_dangling, n, alpha, num_partitions),
            delta=F.abs(F.col("delta")),
            # a change below tol/n counts as settled in the commit stats
            active=F.abs(F.col("delta")) > tol / n,
            until=(lambda d: d < tol) if tol > 0.0 else None,
            max_iter=max_iter,
            edge_parts=edge_parts,
            num_partitions=num_partitions,
            steps_per_commit=steps_per_commit,
            checkpoint_dir=checkpoint_dir,
            close_block=close_block,
        )
        return PageRankResult(
            res.state.select("id", "rank"), res.supersteps, res.converged,
            res.resumed_from, res.stats, n,
        )


def _value_step(state, adj, dangling, n_dangling, n, alpha, n_parts) -> DataFrame:
    """Value-only power iteration for symmetrized graphs: (id, rank) in,
    (id, rank) out; the delta comes from ``_rank_change`` per commit."""
    return _contribs(state, adj, n_parts).select(
        F.col("dst").alias("id"),
        (F.lit((1.0 - alpha) / n) + F.lit(alpha) * F.col("c")).alias("rank"),
    )


def _contribs(state: DataFrame, adj: DataFrame, n_parts: int) -> DataFrame:
    """(dst, c): the rank each vertex receives over its in-edges — rank/deg
    per edge unweighted, rank·w/Σw when the adjacency carries weights."""
    # shuffle_hash on the (small) state side: the cached adjacency's hash
    # partitioning is reused (zero exchange on the big side) and the hash
    # build parallelizes per partition — broadcasting a 1e9-row rank vector
    # is the plan that cannot scale, and its single-threaded build is also
    # what flattens local-mode core scaling
    j = adj.join(
        state.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"), "src"
    )
    if "w" in j.columns:
        share = F.col("rank") * F.col("w") / F.col("deg")
    else:
        share = F.col("rank") / F.col("deg")
    return _group_sum(j.select("dst", share.alias("c")), "c", n_parts)


def _rank_change(last: DataFrame, first: DataFrame) -> DataFrame:
    """Attach delta = |rank − rank at block start|: one V-sized join per
    commit, so the stop rule is L1(r_k − r_{k−block}) < tol — strictly
    more conservative than the per-superstep rule. shuffle_hash, not
    broadcast: a committed state's real (small) size would otherwise make
    the planner broadcast it, one extra job per commit."""
    prev = F.coalesce(F.col("_prev"), F.lit(0.0))
    return last.join(
        first.select("id", F.col("rank").alias("_prev")).hint("shuffle_hash"),
        "id", "left",
    ).select("id", "rank", F.abs(F.col("rank") - prev).alias("delta"))


def _dangling_mass(state: DataFrame, dangling: DataFrame) -> DataFrame:
    """1-row (_dm) DataFrame — kept lazy (broadcast cross join) so unrolled
    superstep blocks never touch the driver."""
    return (
        state.join(dangling, "id", "left_semi")
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
    )


def _group_sum(msgs: DataFrame, val: str, n_parts: int | None = None) -> DataFrame:
    """sum(val) by dst via explicit repartition-then-aggregate.

    A bare groupBy would map-side combine BEFORE the exchange; with ~V
    distinct dst keys per partition (random/power-law graphs) that emits
    ~V rows per map task — shuffle volume and hash-map churn scale as
    V × P, which is why adding workers made the job SLOWER. Repartitioning
    the raw messages first shuffles E rows once and aggregates inside the
    post-exchange stage (partial+final fuse there), so cost is O(E), not
    O(V·P). For community-clustered graphs where per-partition dst
    cardinality ≪ V, the map-side-combine plan would win instead — a
    data-layout property, not a kernel property.
    """
    rep = (
        msgs.repartition(n_parts, "dst") if n_parts else msgs.repartition("dst")
    )
    return rep.groupBy("dst").agg(F.sum(val).alias(val))


def _exact_step(state, adj, dangling, n_dangling, n, alpha, n_parts) -> DataFrame:
    """One power-iteration step. A state carrying the restart weight ``p``
    is seeded RWR: restart AND dangling mass land ∝ p (NetworkX
    personalized semantics, reference ``rwr.py:176-180``); otherwise both
    spread uniformly over the n vertices."""
    contribs = _contribs(state, adj, n_parts).withColumnRenamed("dst", "id")
    joined = state.join(contribs, "id", "left")
    if n_dangling:
        dm = F.col("_dm")
        joined = joined.crossJoin(F.broadcast(_dangling_mass(state, dangling)))
    else:
        dm = F.lit(0.0)
    c = F.coalesce(F.col("c"), F.lit(0.0))
    seeded = "p" in state.columns
    if seeded:
        new_rank = F.lit(1.0 - alpha) * F.col("p") + F.lit(alpha) * (c + dm * F.col("p"))
    else:
        new_rank = F.lit((1.0 - alpha) / n) + F.lit(alpha) * (c + dm / F.lit(float(n)))
    return joined.select(
        "id",
        new_rank.alias("rank"),
        F.abs(new_rank - F.col("rank")).alias("delta"),
        *(["p"] if seeded else []),
    )
