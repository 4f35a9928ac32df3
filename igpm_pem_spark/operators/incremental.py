"""Incremental superstep replay — the IGPM/PEM core idea, Spark-first.

The reference's dynamic-graph loop (entry point 2, SURVEY.md §3.2) buckets
edges by their ``add`` step, replays the first ``base_steps`` as the base
graph, then per step unions one bucket and *partially recomputes*: RWR rows
/ EXTRACT trees / G-Ray seeds only for "affected nodes" chosen by Louvain
communities around the new edges (``incremental/query_call.py:180-258``,
``gray_incremental.py:230-271``, ``compute_part_RWR`` ``:473-478``).

Our realization (O2/O3 in SURVEY.md §4) replaces the heuristic community
scope with the exact/delta frontier the kernels already have:

* PageRank — ranks carry over: each bucket runs the batch kernel's exact
  power iteration warm-started from the previous fixpoint
  (``pagerank(init_ranks=...)``). A small bucket leaves the carried vector
  close to the new fixpoint, so the refresh needs fewer supersteps than a
  cold start, with no per-bucket seeding jobs and the batch kernel's
  exactness.
* Connected components — the previous fixpoint stays valid except where
  new edges merge components: seed ``changed`` at new-edge endpoints only
  and rerun to fixpoint. Exact.
* Per-step metrics mirror the reference's printed throughput
  (``incremental/query_call.py:250``: patterns/s; ours: supersteps, wall,
  edges/sec) and optional exact triangle/star ground truth
  (``gray_incremental.py:193-202``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import kernel_nparts, partitioned_adjacency, vertex_ids
from .pagerank import PageRankResult, pagerank


@dataclass
class StepMetrics:
    step: int
    n_new_edges: int
    n_total_edges: int
    supersteps: int
    wall_sec: float
    edges_per_sec: float
    n_triangles: int | None = None
    n_stars: int | None = None
    n_new_matches: int | None = None
    # rows re-shuffled into the carried adjacency this arrival: the base
    # graph once on step 0, then ONE bucket-sized delta per step — the
    # scale property (per-step shuffle ∝ bucket, never cumulative) pinned
    # by test_incremental, not just prose
    adj_shuffled_rows: int | None = None


@dataclass
class IncrementalResult:
    state: DataFrame
    steps: list[StepMetrics] = field(default_factory=list)


def step_list(edges: DataFrame, ts_col: str = "ts") -> list[int]:
    """Sorted distinct arrival steps (W3, ``gray/query_call.py:135``)."""
    return [
        int(r[0])
        for r in edges.select(ts_col).distinct().orderBy(ts_col).collect()
    ]


def _bucket_sizes(edges: DataFrame, ts_col: str) -> dict[int, int]:
    """One histogram job replaces the per-step count actions the replay
    loops would otherwise run (2-3 full scans per bucket): bucket sizes
    and cumulative totals are derived driver-side from this dict."""
    return {
        int(r[0]): int(r[1])
        for r in edges.groupBy(ts_col).agg(F.count("*")).collect()
    }


def incremental_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    ts_col: str = "ts",
    base_steps: int = 1,
    alpha: float = 0.85,
    tol: float = 1e-6,
    directed: bool = False,
    num_partitions: int | None = None,
    with_pattern_counts: bool = False,
    pem=None,
) -> IncrementalResult:
    """Replay ts buckets: the base slice converges with exact PageRank from
    a uniform start; every later bucket re-converges with the same exact
    iteration, warm-started from the previous step's ranks.

    ``pem`` — an ``operators.pem.PemController``: each bucket after the
    base stops at tolerance ``max(tol, pem.eps · n)``, with n the previous
    step's vertex count, and reports its wall time back, so the recompute
    effort adapts to the per-step latency budget — the deterministic
    replacement for the reference's DQN (entry point 3, ``pem_egqp.py``;
    SURVEY §3.3 stance)."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sizes = _bucket_sizes(edges, ts_col)
    steps = sorted(sizes)
    base_cut = steps[min(base_steps, len(steps)) - 1] if steps else 0
    cum_m = 0

    result = IncrementalResult(state=None)
    prev: PageRankResult | None = None
    counts = _DeltaPatternCounts(num_partitions) if with_pattern_counts else None
    for si, cut in enumerate(steps):
        cum_m += sizes[cut]
        if si < base_steps - 1:
            continue
        cum = edges.where(F.col(ts_col) <= cut)
        new_cnt = sizes[cut] if cut > base_cut else cum_m
        step_tol = tol
        if pem is not None and prev is not None:
            step_tol = max(tol, pem.eps * prev.n_vertices)
        t0 = time.time()
        res = pagerank(
            spark, cum, directed=directed, alpha=alpha, tol=step_tol,
            num_partitions=num_partitions,
            init_ranks=prev.ranks if prev is not None else None,
        )
        wall = time.time() - t0
        if pem is not None:
            pem.observe(
                wall,
                res.stats[-1].active_vertices if res.stats else None,
            )
        metrics = StepMetrics(
            step=cut,
            n_new_edges=new_cnt,
            n_total_edges=cum_m,
            supersteps=res.supersteps,
            wall_sec=round(wall, 3),
            edges_per_sec=round(res.supersteps * 2 * cum_m / wall, 1),
        )
        if counts is not None:
            bucket_df = (
                None if counts.known is None
                else edges.where(F.col(ts_col) == cut)
            )
            metrics.n_triangles, metrics.n_stars = counts.update(cum, bucket_df)
        result.steps.append(metrics)
        prev = res
    result.state = prev.ranks if prev is not None else None
    return result


class _DeltaPatternCounts:
    """Per-step triangle/star ground truth maintained incrementally.

    The reference recomputes ``nx.triangles``/star counts over the whole
    cumulative graph per step (``gray_incremental.py:193-202``); here only
    triangles CONTAINING a new canonical edge are enumerated (append-only
    graphs never lose triangles), each pinned plan starting from the tiny
    new-edge set and closing with a semi-join — work ∝ bucket × degree,
    not O(E^1.5) per step. Star counts ride a carried degree vector
    updated from the new edges' endpoints."""

    def __init__(self, num_partitions: int, star_min_degree: int = 4):
        self.np = num_partitions
        self.k = star_min_degree
        self.known: DataFrame | None = None  # canonical a<b edges, persisted
        self.deg: DataFrame | None = None  # (id, d)
        self.tri = 0

    def update(self, cum: DataFrame, bucket: DataFrame | None) -> tuple[int, int]:
        from .graph import canonical_undirected
        from .triangles import triangle_count

        if self.known is None:
            known = (
                canonical_undirected(cum)
                .repartition(self.np, "src", "dst")
                .persist()
            )
            known.count()
            self.known = known
            self.tri = triangle_count(known)
            self.deg = (
                known.select(F.col("src").alias("id"))
                .unionByName(known.select(F.col("dst").alias("id")))
                .groupBy("id")
                .agg(F.count("*").alias("d"))
                .localCheckpoint(eager=True)
            )
        else:
            cb = canonical_undirected(bucket)
            # truly-new canonical edges; known is hash-partitioned on the
            # join key so only the (tiny) bucket side shuffles
            new_e = cb.join(
                self.known, ["src", "dst"], "left_anti"
            ).localCheckpoint(eager=True)
            self.tri += self._tri_delta(new_e)
            upd = (
                new_e.select(F.col("src").alias("id"))
                .unionByName(new_e.select(F.col("dst").alias("id")))
                .groupBy("id")
                .agg(F.count("*").alias("du"))
            )
            self.deg = (
                self.deg.join(upd, "id", "outer")
                .select(
                    "id",
                    (
                        F.coalesce(F.col("d"), F.lit(0))
                        + F.coalesce(F.col("du"), F.lit(0))
                    ).alias("d"),
                )
                .localCheckpoint(eager=True)
            )
            old = self.known
            self.known = (
                old.unionByName(new_e)
                .repartition(self.np, "src", "dst")
                .persist()
            )
            self.known.count()
            old.unpersist()
        stars = self.deg.where(F.col("d") >= self.k).count()
        return self.tri, int(stars)

    def _tri_delta(self, new_e: DataFrame) -> int:
        """Triangles (a<b<c) using ≥1 edge of ``new_e`` — three pinned
        plans, each seeded at the new edges and closed by a semi-join."""
        full = self.known.unionByName(new_e)
        ab = full.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        bc = full.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        ac = full.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        n_ab = new_e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        n_bc = new_e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        n_ac = new_e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        p1 = n_ab.join(bc, "b").join(ac, ["a", "c"], "left_semi")
        p2 = n_bc.join(ab, "b").join(ac, ["a", "c"], "left_semi")
        p3 = n_ac.join(ab, "a").join(bc, ["b", "c"], "left_semi")
        return (
            p1.select("a", "b", "c")
            .unionByName(p2.select("a", "b", "c"))
            .unionByName(p3.select("a", "b", "c"))
            .dropDuplicates(["a", "b", "c"])
            .count()
        )


def incremental_pattern_match(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    q,
    *,
    ts_col: str = "ts",
    base_steps: int = 1,
) -> IncrementalResult:
    """Incremental graph pattern matching — the IGPM headline, relational:
    per arriving bucket, enumerate ONLY matches that use ≥1 new edge
    (append-only graphs never lose matches) and union them into the match
    table. Per-step work scales with the perturbation, not the graph —
    the exact counterpart of the reference's affected-seed recomputation
    (``incremental/gray_incremental.py:230-271``), without its
    community-scope heuristic. Final state equals the batch match (tests
    pin it). State rows: one per distinct match signature."""
    from ..plans.pattern import match_pattern

    sizes = _bucket_sizes(edges, ts_col)
    steps = sorted(sizes)
    cum_m = 0
    result = IncrementalResult(state=None)
    matches: DataFrame | None = None
    for si, cut in enumerate(steps):
        cum_m += sizes[cut]
        if si < base_steps - 1:
            continue
        cum = edges.where(F.col(ts_col) <= cut)
        t0 = time.time()
        if matches is None:
            new_m = match_pattern(spark, vertices, cum, q)
        else:
            bucket = edges.where(F.col(ts_col) == cut)
            old = edges.where(F.col(ts_col) < cut)
            new_m = match_pattern(
                spark, vertices, cum, q, delta_edges=bucket, old_edges=old
            )
        if matches is None:
            matches = new_m.localCheckpoint(eager=True)
            n_new = matches.count()
        else:
            before = matches.count()
            matches = (
                matches.unionByName(new_m)
                .dropDuplicates(["sig"])
                .localCheckpoint(eager=True)
            )
            n_new = matches.count() - before
        wall = time.time() - t0
        result.steps.append(
            StepMetrics(
                step=cut,
                n_new_edges=sizes[cut],
                n_total_edges=cum_m,
                supersteps=1,
                wall_sec=round(wall, 3),
                edges_per_sec=round(cum_m / max(wall, 1e-9), 1),
                n_triangles=None,
                n_stars=None,
                n_new_matches=int(n_new),
            )
        )
    result.state = matches
    return result


def incremental_labelprop(
    spark: SparkSession,
    edges: DataFrame,
    *,
    ts_col: str = "ts",
    base_steps: int = 1,
    max_iter_per_step: int = 10,
    num_partitions: int | None = None,
) -> IncrementalResult:
    """Incremental deterministic LPA: per arriving bucket, labels carry
    over and only RECEIVERS adjacent to a changed vertex recompute their
    argmax (a vertex whose neighborhood's labels didn't change cannot
    change). The per-superstep message shuffle is proportional to the
    frontier's neighborhoods, not E.

    Semantics note (deliberate, documented): LPA is initialization-
    dependent, so the warm-started fixpoint is A stable labeling of the
    updated graph — not necessarily the one batch-from-scratch finds
    (the reference's community rescoping is equally heuristic,
    ``incremental/query_call.py:130-165``). Tests pin stability (one
    more full sweep changes nothing) and batch equality on graphs with
    unambiguous communities."""
    from ._superstep import edge_partition_counts, released, run
    from .labelprop import label_propagation

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sizes = _bucket_sizes(edges, ts_col)
    steps = sorted(sizes)
    cum_m = 0
    result = IncrementalResult(state=None)
    labels: DataFrame | None = None
    for si, cut in enumerate(steps):
        cum_m += sizes[cut]
        if si < base_steps - 1:
            continue
        cum = edges.where(F.col(ts_col) <= cut)
        t0 = time.time()
        if labels is None:
            res = label_propagation(
                spark, cum, max_iter=max_iter_per_step,
                num_partitions=num_partitions, steps_per_commit=2,
            )
            labels = res.labels.localCheckpoint(eager=True)
            supersteps = res.supersteps
        else:
            new_edges = edges.where(F.col(ts_col) == cut)
            touched = (
                new_edges.select(F.col("src").alias("id"))
                .unionByName(new_edges.select(F.col("dst").alias("id")))
                .distinct()
            )
            adj = partitioned_adjacency(cum, num_partitions).persist()
            with released(adj):
                res = run(
                    spark,
                    lambda: vertex_ids(adj)
                    .join(labels, "id", "left")
                    .join(touched.withColumn("t", F.lit(True)), "id", "left")
                    .select(
                        "id",
                        F.coalesce(F.col("label"), F.col("id")).alias("label"),
                        F.coalesce(F.col("t"), F.lit(False)).alias("changed"),
                    )
                    .localCheckpoint(eager=True),
                    lambda s: _lpa_step_frontier(s, adj, num_partitions),
                    max_iter=max_iter_per_step,
                    edge_parts=edge_partition_counts(adj),
                    num_partitions=num_partitions,
                )
                labels = res.state.select("id", "label").localCheckpoint(eager=True)
            supersteps = res.supersteps
        wall = time.time() - t0
        result.steps.append(
            StepMetrics(
                step=cut,
                n_new_edges=sizes[cut],
                n_total_edges=cum_m,
                supersteps=supersteps,
                wall_sec=round(wall, 3),
                edges_per_sec=round(supersteps * 2 * cum_m / max(wall, 1e-9), 1),
            )
        )
    result.state = labels
    return result


def _lpa_step_frontier(state: DataFrame, adj: DataFrame, n_parts: int) -> DataFrame:
    """One receiver-restricted LPA sweep: only vertices adjacent to a
    changed vertex recompute their neighbor-label argmax (their argmax
    still reads ALL their neighbors' labels — correctness — but the
    message shuffle carries only affected receivers' edges)."""
    from pyspark.sql import Window

    receivers = (
        adj.join(
            state.where("changed").select(F.col("id").alias("src")),
            "src",
            "left_semi",
        )
        .select("dst")
        .distinct()
    )
    raw = (
        adj.join(receivers, "dst", "left_semi")
        .join(
            state.select(F.col("id").alias("src"), "label").hint("shuffle_hash"),
            "src",
        )
        .select("dst", "label")
    )
    hist = (
        raw.repartition(n_parts, "dst")
        .groupBy(F.col("dst").alias("id"), "label")
        .agg(F.count("*").alias("cnt"))
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


def incremental_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    ts_col: str = "ts",
    base_steps: int = 1,
    num_partitions: int | None = None,
) -> IncrementalResult:
    """Exact incremental hash-min: per arriving bucket, seed the frontier
    at the new edges' endpoints (everything else is already a fixpoint).

    Incremental in I/O too: the cumulative adjacency is CARRIED as a list
    of persisted parts — the base graph shuffled once, plus one
    bucket-sized delta per arrival — instead of re-running
    ``partitioned_adjacency(cum)`` (an O(E) shuffle) every bucket.
    ``_cc_step`` joins the frontier against each part in place, so
    per-step shuffle volume is ∝ the bucket + the frontier's message
    cone, never the full edge set (hash-min is insensitive to the
    duplicate rows a delta can re-introduce). Vertices likewise: the
    carried fixpoint already names every prior vertex, so the state is
    rebuilt from ``comp`` + the bucket's endpoints — no O(E)
    ``vertex_ids`` distinct per bucket. Delta parts are compacted
    (union → one repartition of DELTA data only) past ``_MAX_ADJ_PARTS``
    so a long replay doesn't accumulate per-superstep join fan-out."""
    from ._superstep import edge_partition_counts, run
    from .components import _cc_shortcut, _cc_step, connected_components

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sizes = _bucket_sizes(edges, ts_col)
    steps = sorted(sizes)
    cum_m = 0
    result = IncrementalResult(state=None)
    comp: DataFrame | None = None
    adj_parts: list[DataFrame] = []
    edge_parts: dict[int, int] = {}
    _MAX_ADJ_PARTS = 8
    try:
        for si, cut in enumerate(steps):
            cum_m += sizes[cut]
            if si < base_steps - 1:
                continue
            t0 = time.time()
            if comp is None:
                cum = edges.where(F.col(ts_col) <= cut)
                res = connected_components(
                    spark, cum, num_partitions=num_partitions, steps_per_commit=4
                )
                comp = res.components.localCheckpoint(eager=True)
                supersteps = res.supersteps
                base_adj = partitioned_adjacency(cum, num_partitions).persist()
                adj_parts = [base_adj]
                edge_parts = edge_partition_counts(base_adj)
                adj_shuffled = sum(edge_parts.values())
            else:
                new_edges = edges.where(F.col(ts_col) == cut)
                touched = (
                    new_edges.select(F.col("src").alias("id"))
                    .unionByName(new_edges.select(F.col("dst").alias("id")))
                    .distinct()
                )
                delta_adj = partitioned_adjacency(new_edges, num_partitions).persist()
                adj_parts.append(delta_adj)
                if len(adj_parts) > _MAX_ADJ_PARTS:
                    # compact the deltas (never the base): re-shuffles only
                    # delta-sized data, keeps the per-superstep join fan-out
                    # bounded on long replays
                    tail = adj_parts[1:]
                    merged = tail[0]
                    for p in tail[1:]:
                        merged = merged.unionByName(p)
                    merged = merged.repartition(num_partitions, "src").persist()
                    merged.count()
                    for p in tail:
                        p.unpersist()
                    adj_parts = [adj_parts[0], merged]
                delta_counts = edge_partition_counts(delta_adj)
                adj_shuffled = sum(delta_counts.values())
                for pid, c in delta_counts.items():
                    edge_parts[pid] = edge_parts.get(pid, 0) + c
                # the carried fixpoint names every prior vertex; only the
                # bucket's endpoints can be new, and only they start changed
                new_vs = touched.join(comp, "id", "left_anti").select(
                    "id", F.col("id").alias("component")
                )
                res = run(
                    spark,
                    lambda: comp.unionByName(new_vs)
                    .join(touched.withColumn("t", F.lit(True)), "id", "left")
                    .select(
                        "id",
                        "component",
                        F.coalesce(F.col("t"), F.lit(False)).alias("changed"),
                    )
                    .localCheckpoint(eager=True),
                    lambda s: _cc_shortcut(_cc_step(s, adj_parts, num_partitions)),
                    max_iter=100,
                    edge_parts=edge_parts,
                    num_partitions=num_partitions,
                    steps_per_commit=2,
                    eager_steps=True,
                )
                supersteps = res.supersteps
                comp = res.state.select("id", "component").localCheckpoint(eager=True)
            wall = time.time() - t0
            result.steps.append(
                StepMetrics(
                    step=cut,
                    n_new_edges=sizes[cut],
                    n_total_edges=cum_m,
                    supersteps=supersteps,
                    wall_sec=round(wall, 3),
                    edges_per_sec=round(supersteps * 2 * cum_m / max(wall, 1e-9), 1),
                    adj_shuffled_rows=int(adj_shuffled),
                )
            )
    finally:
        # the carried adjacency parts are freed on every exit path
        for p in adj_parts:
            p.unpersist()
    result.state = comp
    return result


def incremental_sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    *,
    weight_col: str = "w",
    ts_col: str = "ts",
    base_steps: int = 1,
    num_partitions: int | None = None,
) -> IncrementalResult:
    """Exact incremental weighted SSSP over arrival buckets.

    Append-only edges are MONOTONE for min-plus: a new edge can only
    create shorter paths, never invalidate the carried distances, so the
    previous fixpoint is a valid upper bound. Per bucket the frontier is
    seeded ONLY where a new edge actually improves something — each new
    edge (u,v,w) is relaxed once against the carried state (one join of
    the BUCKET, not the graph, against the distance table) — and the
    Bellman-Ford sweeps then run frontier-restricted on the cumulative
    adjacency. Work per step ∝ the perturbation's downstream cone, the
    PEM partial-execution idea exactly (SURVEY.md §4 O2), with no
    heuristic scope: the result equals batch ``sssp`` on the full graph.
    """
    from ._superstep import edge_partition_counts, released, run
    from .sssp import _prep, _sssp_step, sssp

    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sizes = _bucket_sizes(edges, ts_col)
    steps = sorted(sizes)
    cum_m = 0
    result = IncrementalResult(state=None)
    dist: DataFrame | None = None
    for si, cut in enumerate(steps):
        cum_m += sizes[cut]
        if si < base_steps - 1:
            continue
        cum = edges.where(F.col(ts_col) <= cut)
        t0 = time.time()
        if dist is None:
            res = sssp(
                spark, cum, source, weight_col=weight_col,
                num_partitions=num_partitions, steps_per_commit=4,
            )
            dist = res.distances.localCheckpoint(eager=True)
            supersteps = res.supersteps
        else:
            adj = _prep(
                edges.where(F.col(ts_col) == cut), weight_col, directed=False
            )
            # relax ONLY the new edges against the carried fixpoint: a
            # bucket-sized join, not a graph-sized pass
            cand = (
                adj.join(
                    dist.select(F.col("id").alias("src"), F.col("dist").alias("d0")),
                    "src",
                )
                .select("dst", (F.col("d0") + F.col("w")).alias("cand"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("cand").alias("cand"))
            )
            state = (
                dist.join(cand, "id", "full")
                .select(
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
                .localCheckpoint(eager=True)
            )
            full_adj = _prep(cum, weight_col, directed=False).repartition(
                num_partitions, "src"
            ).persist()
            with released(full_adj):
                res = run(
                    spark,
                    lambda: state,
                    lambda s: _sssp_step(s, full_adj, num_partitions),
                    max_iter=100,
                    edge_parts=edge_partition_counts(full_adj),
                    num_partitions=num_partitions,
                    steps_per_commit=2,
                )
                dist = res.state.select("id", "dist").localCheckpoint(eager=True)
            supersteps = res.supersteps
        wall = time.time() - t0
        result.steps.append(
            StepMetrics(
                step=cut,
                n_new_edges=sizes[cut],
                n_total_edges=cum_m,
                supersteps=supersteps,
                wall_sec=round(wall, 3),
                edges_per_sec=round(supersteps * 2 * cum_m / max(wall, 1e-9), 1),
            )
        )
    result.state = dist
    return result
