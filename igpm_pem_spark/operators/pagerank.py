"""PageRank as DataFrame message-passing — the engine's flagship kernel.

Generalizes the reference's RWR power iteration
(``patternmatching/gray/rwr.py:142-180``: per-WCC sparse matrix-vector
product with L1 convergence) to whole-graph per-vertex rank vectors. The
reference materializes an all-pairs proximity dict (``rwr.py:108-129``) —
exactly the thing that cannot scale; we keep one rank per vertex and let
the join do the propagation.

Two execution modes:

* ``exact`` — classic synchronous power iteration, matches
  ``networkx.pagerank`` semantics to allclose 1e-6 (the north-rule
  correctness gate): uniform start, dangling mass spread uniformly,
  L1 convergence.
* ``delta`` — residual propagation: only vertices whose residual exceeds
  ``frontier_eps`` send messages. This is the Spark-idiomatic realization
  of IGPM-PEM's partial-execution idea (recompute only the affected
  subgraph: ``incremental/gray_incremental.py:473-478``): the frontier
  shrinks every superstep, so late supersteps touch a tiny fraction of
  the graph. Fixpoint identical to ``exact`` up to
  ``alpha/(1-alpha) * frontier_eps * n`` total L1 error.

Scale design (100 TB / 1e9+ edges):
* the edge table is shuffled ONCE (``partitioned_adjacency``) and every
  superstep joins against that cached partitioning; only the (small)
  rank vector moves per superstep;
* out-degree is attached via a partition-local window (no extra shuffle);
* the contribution aggregation repartitions raw messages by dst before
  aggregating (O(E) shuffle) instead of map-side combining (O(V·P)
  partial-agg output — see ``_group_sum``); AQE skew-join splitting
  covers the join side on a real cluster;
* each commit (a block of ``steps_per_commit`` supersteps) runs two
  jobs of its own: materialize new state (parquet write or
  localCheckpoint — the lineage-truncation barrier) + one per-partition
  stats aggregation (delta norm, active count, lineage rows in a single
  pass); the lineage file and commit marker are driver-side writes.
  Per-call setup (vertex count, partition counts, start state) and
  broadcast sides add jobs on top, so a call runs more than two jobs
  per commit (perfbench's traced ``pagerank.jobs``);
* kill/resume re-reads the newest committed superstep (see lineage.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..lineage import LineageLog, SuperstepStats
from ._superstep import commit_and_stats, edge_partition_counts, loop_confs
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


def _share(joined: DataFrame, val: str):
    """Per-edge contribution share of ``val``: rank/deg unweighted,
    rank·w/Σw when the adjacency carries weights."""
    if "w" in joined.columns:
        return F.col(val) * F.col("w") / F.col("deg")
    return F.col(val) / F.col("deg")


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
    resume: bool = True,
    mode: str = "exact",
    frontier_eps: float | None = None,
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

    ``init_ranks`` — warm start (exact mode only): an (id, rank) table such
    as the ranks of an earlier slice of the same graph. Carried vertices
    start at their rank and unseen ones at 0, so a start vector summing to
    1 still does, and exact iteration keeps it there: no renormalization.
    Near a fixpoint the iteration only has to correct what changed. A
    resumable checkpoint takes precedence.
    """
    if init_ranks is not None and mode != "exact":
        raise ValueError("init_ranks requires mode='exact'")
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    adj = _adjacency_with_degree(
        edges, directed, num_partitions, weight_col
    ).persist()
    verts = vertex_ids(adj).repartition(num_partitions, "id").persist()
    # every persisted relation is released on every exit path, a raising
    # superstep included
    caches = [adj, verts]
    try:
        n = verts.count()
        if n == 0:
            empty = spark.createDataFrame([], "id BIGINT, rank DOUBLE, delta DOUBLE")
            return PageRankResult(empty.select("id", "rank"), 0, True, None)
        edge_parts = edge_partition_counts(adj)
        if directed:
            dangling = verts.join(
                adj.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
            ).persist()
            caches.append(dangling)
            n_dangling = dangling.count()
        else:
            # symmetrized graphs cannot have dangling vertices: every vertex in
            # the edge list has an out-edge — skip the setup jobs and the
            # per-block mass subplan entirely
            dangling, n_dangling = None, 0

        log = LineageLog(spark, checkpoint_dir)
        start_step, resumed_from = 0, None
        state: DataFrame | None = None
        if resume and checkpoint_dir:
            last = log.last_committed()
            if last is not None:
                state = log.load_state(last)
                start_step, resumed_from = last + 1, last
        if state is None and init_ranks is not None:
            state = (
                verts.join(init_ranks.select("id", "rank"), "id", "left")
                .select("id", F.coalesce(F.col("rank"), F.lit(0.0)).alias("rank"))
                .localCheckpoint(eager=True)
            )

        if personalization is not None:
            # seeded RWR: restart mass ∝ p instead of uniform. State carries the
            # per-vertex restart weight as a column so each superstep is
            # self-contained (no per-step join against the seed table).
            pvec = _personalization_df(spark, personalization)
            if state is not None and "p" not in state.columns:
                state = state.join(F.broadcast(pvec), "id", "left").na.fill(
                    0.0, ["p"]
                )
                if "delta" not in state.columns:
                    state = state.withColumn("delta", F.lit(1.0))
            if mode == "delta":
                if frontier_eps is None:
                    frontier_eps = tol / (10.0 * n)
                if state is None:
                    seeded = F.lit(1.0 - alpha) * F.coalesce(F.col("p"), F.lit(0.0))
                    state = (
                        verts.join(F.broadcast(pvec), "id", "left")
                        .select(
                            "id",
                            seeded.alias("rank"),
                            seeded.alias("delta"),
                            F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
                        )
                        .localCheckpoint(eager=True)
                    )
                runner = _personalized_delta_step
            elif mode == "exact":
                if frontier_eps is None:
                    frontier_eps = tol / n
                if state is None:
                    state = (
                        verts.join(F.broadcast(pvec), "id", "left")
                        .select(
                            "id",
                            F.lit(1.0 / n).alias("rank"),
                            F.lit(1.0).alias("delta"),
                            F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
                        )
                        .localCheckpoint(eager=True)
                    )
                runner = _personalized_exact_step
            else:
                raise ValueError(f"unknown mode {mode!r}")
        elif mode == "exact" and not directed:
            # fast path: in the symmetrized graph every vertex has in-edges and
            # none dangle, so a superstep is computable from contributions
            # alone — the state is referenced ONCE per sub-step, the unrolled
            # logical plan stays LINEAR (the generic step references state
            # twice, doubling the plan per level and capping the unroll), and
            # per-vertex deltas move to the commit boundary.
            if frontier_eps is None:
                frontier_eps = tol / n
            if state is None:
                state = verts.select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint(
                    eager=True
                )
            else:
                state = state.select("id", "rank")
            result = _run_exact_undirected(
                spark, adj, verts, state, n, alpha, tol, max_iter, start_step,
                steps_per_commit, edge_parts, log, frontier_eps, num_partitions,
            )
            result.resumed_from = resumed_from
            result.stats = log.stats
            result.n_vertices = n
            return result

        if personalization is not None:
            pass  # runner/state already prepared above
        elif mode == "exact":
            if frontier_eps is None:
                frontier_eps = tol / n  # convergence-reporting threshold only
            if state is None:
                state = verts.select(
                    "id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
                ).localCheckpoint(eager=True)
            elif "delta" not in state.columns:
                state = state.withColumn("delta", F.lit(1.0))
            runner = _exact_step
        elif mode == "delta":
            if frontier_eps is None:
                frontier_eps = tol / (10.0 * n)
            if state is None:
                base = (1.0 - alpha) / n
                state = verts.select(
                    "id", F.lit(base).alias("rank"), F.lit(base).alias("delta")
                ).localCheckpoint(eager=True)
            runner = _delta_step
        else:
            raise ValueError(f"unknown mode {mode!r}")

        converged, step = False, max(start_step - 1, 0)
        step = start_step
        # loop_confs (AQE + whole-stage codegen off for the loop's duration):
        # every superstep is a fresh plan, so per-query driver-serial work
        # (Janino units, per-stage AQE re-planning) repeats per commit and
        # dominates — measured 32.1 → 21.7 s on the sf0.1 flagship (r6),
        # ranks bit-identical. Same policy the CC loop has carried since r5.
        with loop_confs(spark):
            while step < max_iter:
                t0 = time.time()
                # unroll up to steps_per_commit supersteps into one lazy plan —
                # one materialization + one stats job per block instead of per
                # superstep (driver-side convergence is then checked per block)
                block = min(steps_per_commit, max_iter - step)
                new_state, intermediates = state, []
                for b in range(block):
                    new_state = runner(
                        new_state, adj, dangling, n_dangling, n, alpha,
                        frontier_eps, num_partitions,
                    )
                    if b < block - 1:
                        # lazy LOCAL CHECKPOINT, not lazy persist: a persisted
                        # plan is only deduplicated physically — the analyzer
                        # still walks the full unrolled tree, and _delta_step
                        # references state ~3× per sub-step, so analysis cost
                        # grew ~3^block per commit (measured: block=10 hung the
                        # driver outright). checkpoint(eager=False) truncates
                        # the LOGICAL plan to a LogicalRDD leaf immediately while
                        # still materializing lazily in the commit's single job.
                        new_state = new_state.localCheckpoint(eager=False)
                        intermediates.append(new_state)
                step += block
                if tol <= 0.0 and not checkpoint_dir and step < max_iter:
                    # fixed-iteration benchmark mode: no convergence decision and
                    # no durable lineage needed mid-run — the localCheckpoint
                    # barrier alone materializes the state; skip the stats job
                    state = log.commit_state(
                        step - 1, new_state, SuperstepStats(step - 1, -1.0, -1, 0.0)
                    )
                    log.stats[-1].wall_time_sec = time.time() - t0
                else:
                    state, delta, _active = commit_and_stats(
                        log, step - 1, new_state, F.abs(F.col("delta")),
                        F.abs(F.col("delta")) > frontier_eps, edge_parts, t0,
                        num_partitions=num_partitions,
                    )
                    if delta < tol:
                        converged = True
                    for df in intermediates:
                        df.unpersist()
                    if converged:
                        break
                    continue
                for df in intermediates:
                    df.unpersist()

        if mode == "delta":
            # residual form converges to the unnormalized series sum; normalize
            total = float(state.agg(F.sum("rank")).first()[0])
            ranks = state.select("id", (F.col("rank") / F.lit(total)).alias("rank"))
        else:
            ranks = state.select("id", "rank")
        return PageRankResult(ranks, step, converged, resumed_from, log.stats, n)
    finally:
        for df in caches:
            df.unpersist()


def _run_exact_undirected(
    spark, adj, verts, state, n, alpha, tol, max_iter, start_step,
    steps_per_commit, edge_parts, log: LineageLog, frontier_eps, num_partitions,
) -> PageRankResult:
    """Value-only power iteration for symmetrized graphs: state is
    (id, rank); per-vertex delta is computed once per commit by joining
    the new committed state against the previous one (the convergence
    rule becomes L1(r_k - r_{k-block}) < tol — a strictly more
    conservative stop than the per-superstep rule)."""
    base = (1.0 - alpha) / n

    def value_step(s: DataFrame) -> DataFrame:
        j = adj.join(
            s.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"), "src"
        )
        contribs = _group_sum(
            j.select("dst", _share(j, "rank").alias("c")), "c", num_partitions
        )
        return contribs.select(
            F.col("dst").alias("id"),
            (F.lit(base) + F.lit(alpha) * F.col("c")).alias("rank"),
        )

    converged = False
    step = start_step
    prev = state
    # AQE + codegen off for the loop (see the delta-mode loop's note)
    with loop_confs(spark):
        while step < max_iter:
            t0 = time.time()
            block = min(steps_per_commit, max_iter - step)
            new_state = prev
            for _ in range(block):
                new_state = value_step(new_state)
            step += block
            committed = log.commit_state(
                step - 1, new_state, SuperstepStats(step - 1, -1.0, -1, 0.0)
            )
            if tol <= 0.0 and step < max_iter:
                # fixed-iteration mode: no convergence decision needed mid-run
                log.stats[-1].wall_time_sec = time.time() - t0
                prev = committed
                continue
            # commit-boundary delta: one V-sized join per block, not per step
            rows = (
                committed.join(
                    prev.select("id", F.col("rank").alias("_prev")), "id", "left"
                )
                .groupBy(F.spark_partition_id().alias("pid"))
                .agg(
                    F.sum(F.abs(F.col("rank") - F.coalesce(F.col("_prev"), F.lit(0.0)))).alias("d"),
                    F.sum(
                        (
                            F.abs(F.col("rank") - F.coalesce(F.col("_prev"), F.lit(0.0)))
                            > frontier_eps
                        ).cast("long")
                    ).alias("a"),
                )
                .collect()
            )
            delta = sum(float(r["d"] or 0.0) for r in rows)
            active = sum(int(r["a"] or 0) for r in rows)
            st = log.stats[-1]
            st.delta_norm, st.active_vertices = delta, active
            st.partition_stats = [
                {
                    "partition_id": int(r["pid"]),
                    "edge_count": edge_parts.get(int(r["pid"]), 0),
                    "delta_norm": float(r["d"] or 0.0),
                }
                for r in rows
            ]
            st.wall_time_sec = time.time() - t0
            log.finalize(step - 1, st)
            prev = committed
            if delta < tol:
                converged = True
                break
    return PageRankResult(prev.select("id", "rank"), step, converged, None)


def _dangling_mass_col(state: DataFrame, dangling: DataFrame, col: str) -> DataFrame:
    """1-row (_dm) DataFrame — kept lazy (broadcast cross join) so unrolled
    superstep blocks never touch the driver."""
    return (
        state.join(dangling, "id", "left_semi")
        .agg(F.coalesce(F.sum(col), F.lit(0.0)).alias("_dm"))
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
    cardinality ≪ V, the map-side-combine plan wins instead — that is a
    data-layout property, not a kernel property; IGPM_AGG_MODE=partial
    selects it.
    """
    import os

    if os.environ.get("IGPM_AGG_MODE", "repartition") == "partial":
        return msgs.groupBy("dst").agg(F.sum(val).alias(val))
    rep = (
        msgs.repartition(n_parts, "dst") if n_parts else msgs.repartition("dst")
    )
    return rep.groupBy("dst").agg(F.sum(val).alias(val))


def _exact_step(state, adj, dangling, n_dangling, n, alpha, frontier_eps, n_parts) -> DataFrame:
    # shuffle_hash on the (small) state side: the cached adjacency's hash
    # partitioning is reused (zero exchange on the big side) and the hash
    # build parallelizes per partition — broadcasting a 1e9-row rank vector
    # is the plan that cannot scale, and its single-threaded build is also
    # what flattens local-mode core scaling
    j = adj.join(
        state.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"), "src"
    )
    contribs = _group_sum(j.select("dst", _share(j, "rank").alias("c")), "c", n_parts)
    joined = state.join(contribs.withColumnRenamed("dst", "id"), "id", "left")
    if n_dangling:
        dm = F.col("_dm")
        joined = joined.crossJoin(
            F.broadcast(_dangling_mass_col(state, dangling, "rank"))
        )
    else:
        dm = F.lit(0.0)
    new_rank = (
        F.lit((1.0 - alpha) / n)
        + F.lit(alpha) * (F.coalesce(F.col("c"), F.lit(0.0)) + dm / F.lit(float(n)))
    )
    return joined.select(
        "id",
        new_rank.alias("rank"),
        F.abs(new_rank - F.col("rank")).alias("delta"),
    )


def _personalized_exact_step(
    state, adj, dangling, n_dangling, n, alpha, frontier_eps, n_parts
) -> DataFrame:
    """Exact RWR power iteration: state carries the restart weight ``p``;
    restart AND dangling mass land ∝ p (NetworkX personalized semantics,
    reference ``rwr.py:176-180``)."""
    j = adj.join(
        state.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"), "src"
    )
    contribs = _group_sum(j.select("dst", _share(j, "rank").alias("c")), "c", n_parts)
    joined = state.join(contribs.withColumnRenamed("dst", "id"), "id", "left")
    if n_dangling:
        dm = F.col("_dm")
        joined = joined.crossJoin(
            F.broadcast(_dangling_mass_col(state, dangling, "rank"))
        )
    else:
        dm = F.lit(0.0)
    new_rank = F.lit(1.0 - alpha) * F.col("p") + F.lit(alpha) * (
        F.coalesce(F.col("c"), F.lit(0.0)) + dm * F.col("p")
    )
    return joined.select(
        "id",
        new_rank.alias("rank"),
        F.abs(new_rank - F.col("rank")).alias("delta"),
        "p",
    )


def _personalized_delta_step(
    state, adj, dangling, n_dangling, n, alpha, frontier_eps, n_parts
) -> DataFrame:
    """Residual push for seeded RWR — linearity makes the delta kernel
    identical to the uniform one except restart/dangling mass scale by p."""
    active = state.where(F.abs(F.col("delta")) > frontier_eps)
    j = adj.join(
        active.select(F.col("id").alias("src"), "delta").hint("shuffle_hash"), "src"
    )
    msgs = _group_sum(j.select("dst", _share(j, "delta").alias("m")), "m", n_parts)
    joined = state.join(msgs.withColumnRenamed("dst", "id"), "id", "left")
    if n_dangling:
        dm = F.col("_dm")
        joined = joined.crossJoin(
            F.broadcast(_dangling_mass_col(active, dangling, "delta"))
        )
    else:
        dm = F.lit(0.0)
    new_delta = F.lit(alpha) * (
        F.coalesce(F.col("m"), F.lit(0.0)) + dm * F.col("p")
    )
    return joined.select(
        "id",
        (F.col("rank") + new_delta).alias("rank"),
        new_delta.alias("delta"),
        "p",
    )


def _delta_step(state, adj, dangling, n_dangling, n, alpha, frontier_eps, n_parts) -> DataFrame:
    active = state.where(F.abs(F.col("delta")) > frontier_eps)
    j = adj.join(
        active.select(F.col("id").alias("src"), "delta").hint("shuffle_hash"), "src"
    )
    msgs = _group_sum(j.select("dst", _share(j, "delta").alias("m")), "m", n_parts)
    joined = state.join(msgs.withColumnRenamed("dst", "id"), "id", "left")
    if n_dangling:
        dm = F.col("_dm")
        joined = joined.crossJoin(
            F.broadcast(_dangling_mass_col(active, dangling, "delta"))
        )
    else:
        dm = F.lit(0.0)
    new_delta = F.lit(alpha) * (
        F.coalesce(F.col("m"), F.lit(0.0)) + dm / F.lit(float(n))
    )
    return joined.select(
        "id",
        (F.col("rank") + new_delta).alias("rank"),
        new_delta.alias("delta"),
    )
