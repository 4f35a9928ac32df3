"""Incremental superstep replay — the IGPM/PEM core idea, Spark-first.

The reference's dynamic-graph loop (entry point 2, SURVEY.md §3.2) buckets
edges by their ``add`` step, replays the first ``base_steps`` as the base
graph, then per step unions one bucket and *partially recomputes*: RWR rows
/ EXTRACT trees / G-Ray seeds only for "affected nodes" chosen by Louvain
communities around the new edges (``incremental/query_call.py:180-258``,
``gray_incremental.py:230-271``, ``compute_part_RWR`` ``:473-478``).

Our realization (O2/O3 in SURVEY.md §4) replaces the heuristic community
scope with the exact frontier the kernels already have. Each kernel is one
refresh object with two methods:

* ``base(cum)`` — run the batch kernel on the first cumulative edge set;
* ``refresh(old, bucket, cum)`` — apply one arriving ``bucket`` to the
  carried state (``old`` are the edges before it, ``cum = old ∪ bucket``).

Both return the step's counts (``supersteps`` plus optional
``StepMetrics`` fields), and the current result is the object's ``state``.
Two thin drivers feed them: ``_replay`` below (timestamp buckets of one
edge table) and ``streaming.stream._stream`` (one parquet file per
micro-batch), so a replay and a stream run the same update. A refresh
holds no cached relation between arrivals — carried relations are eager
``localCheckpoint``s — because a stream never learns which batch is its
last.

* PageRank — ranks carry over: each bucket runs the batch kernel's exact
  power iteration warm-started from the previous fixpoint
  (``pagerank(init_ranks=...)``). A small bucket leaves the carried vector
  close to the new fixpoint, so the refresh needs fewer supersteps than a
  cold start, with no per-bucket seeding jobs and the batch kernel's
  exactness.
* Connected components / SSSP / LPA — the previous fixpoint stays valid
  except around the new edges: seed ``changed`` at new-edge endpoints only
  and rerun to fixpoint. Exact (LPA: a stable labeling).
* Pattern matching — only matches using ≥1 new edge are enumerated.
* Per-step metrics mirror the reference's printed throughput
  (``incremental/query_call.py:250``: patterns/s; ours: supersteps, wall,
  edges/sec) and optional exact triangle/star ground truth
  (``gray_incremental.py:193-202``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import kernel_nparts, partitioned_adjacency, vertex_ids
from .pagerank import pagerank


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


def step_list(edges: DataFrame) -> list[int]:
    """Sorted distinct arrival steps ``ts`` (W3, ``gray/query_call.py:135``)."""
    return [int(r[0]) for r in edges.select("ts").distinct().orderBy("ts").collect()]


def _bucket_sizes(edges: DataFrame) -> dict[int, int]:
    """One histogram job replaces the per-step count actions the replay
    loops would otherwise run (2-3 full scans per bucket): bucket sizes
    and cumulative totals are derived driver-side from this dict."""
    return {
        int(r[0]): int(r[1])
        for r in edges.groupBy("ts").agg(F.count("*")).collect()
    }


def _step_metrics(
    step: int, n_new: int, n_total: int, wall: float, counts: dict
) -> StepMetrics:
    """One arrival's record from a refresh's ``counts``: edges/sec counts
    both directions of the cumulative graph once per superstep."""
    return StepMetrics(
        step=step,
        n_new_edges=n_new,
        n_total_edges=n_total,
        wall_sec=round(wall, 3),
        edges_per_sec=round(counts["supersteps"] * 2 * n_total / max(wall, 1e-9), 1),
        **counts,
    )


def _replay(kernel, edges: DataFrame, base_steps: int) -> IncrementalResult:
    """The one timestamp-bucket loop: the first ``base_steps`` buckets are
    the base graph (``kernel.base``), every later bucket is one
    ``kernel.refresh``. ``cum`` / ``old`` / ``bucket`` are lazy ``ts``
    filters of ``edges``, so a partitioned store prunes its reads. The
    base step's ``n_new_edges`` is the whole base slice."""
    sizes = _bucket_sizes(edges)
    ts = F.col("ts")
    result = IncrementalResult(state=None)
    cum_m = 0
    for si, cut in enumerate(sorted(sizes)):
        cum_m += sizes[cut]
        if si < base_steps - 1:
            continue
        cum = edges.where(ts <= cut)
        t0 = time.time()
        if not result.steps:
            n_new, counts = cum_m, kernel.base(cum)
        else:
            n_new = sizes[cut]
            counts = kernel.refresh(edges.where(ts < cut), edges.where(ts == cut), cum)
        result.steps.append(_step_metrics(cut, n_new, cum_m, time.time() - t0, counts))
    result.state = kernel.state
    return result


class _PageRankRefresh:
    """Exact PageRank: the base converges from a uniform start, every
    arrival re-converges warm-started from the carried ranks. With a
    ``pem`` controller each refresh stops at ``max(tol, pem.eps · n)``, n
    the previous vertex count, and every call's wall is reported back.
    ``counts`` (a ``_DeltaPatternCounts``) adds per-step triangle/star
    ground truth."""

    def __init__(
        self, spark: SparkSession, *, tol: float, directed: bool,
        num_partitions: int, pem=None, counts=None,
    ):
        self.spark, self.tol, self.directed = spark, tol, directed
        self.np, self.pem, self.counts = num_partitions, pem, counts
        self.state: DataFrame | None = None  # (id, rank)
        self.n = 0

    def base(self, cum: DataFrame) -> dict:
        out = self._converge(cum, self.tol)
        if self.counts is not None:
            out.update(self.counts.base(cum))
        return out

    def refresh(self, old: DataFrame, bucket: DataFrame, cum: DataFrame) -> dict:
        tol = self.tol if self.pem is None else max(self.tol, self.pem.eps * self.n)
        out = self._converge(cum, tol)
        if self.counts is not None:
            out.update(self.counts.refresh(old, bucket, cum))
        return out

    def _converge(self, cum: DataFrame, tol: float) -> dict:
        t0 = time.time()
        res = pagerank(
            self.spark, cum, directed=self.directed, tol=tol,
            num_partitions=self.np, init_ranks=self.state,
        )
        if self.pem is not None:
            self.pem.observe(
                time.time() - t0,
                res.stats[-1].active_vertices if res.stats else None,
            )
        self.state, self.n = res.ranks, res.n_vertices
        return {"supersteps": res.supersteps}


def incremental_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    base_steps: int = 1,
    tol: float = 1e-6,
    directed: bool = False,
    num_partitions: int | None = None,
    with_pattern_counts: bool = False,
    pem=None,
) -> IncrementalResult:
    """Replay ``ts`` buckets: the base slice converges with exact PageRank from
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
    counts = _DeltaPatternCounts(num_partitions) if with_pattern_counts else None
    kernel = _PageRankRefresh(
        spark, tol=tol, directed=directed,
        num_partitions=num_partitions, pem=pem, counts=counts,
    )
    return _replay(kernel, edges, base_steps)


# Degree from which a vertex counts as a star centre.
_STAR_MIN_DEGREE = 4


class _DeltaPatternCounts:
    """Per-step triangle/star ground truth maintained incrementally.

    The reference recomputes ``nx.triangles``/star counts over the whole
    cumulative graph per step (``gray_incremental.py:193-202``); here only
    triangles CONTAINING a new canonical edge are enumerated (append-only
    graphs never lose triangles), each pinned plan starting from the tiny
    new-edge set and closing with a semi-join — work ∝ bucket × degree,
    not O(E^1.5) per step. Star counts ride a carried degree vector
    updated from the new edges' endpoints."""

    def __init__(self, num_partitions: int):
        self.np = num_partitions
        self.known: DataFrame | None = None  # canonical a<b edges
        self.deg: DataFrame | None = None  # (id, d)
        self.tri = 0

    def base(self, cum: DataFrame) -> dict:
        from .graph import canonical_undirected
        from .triangles import triangle_count

        self.known = self._keyed(canonical_undirected(cum))
        self.tri = triangle_count(self.known)
        self.deg = (
            self.known.select(F.col("src").alias("id"))
            .unionByName(self.known.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("d"))
            .localCheckpoint(eager=True)
        )
        return self._counts()

    def refresh(self, old: DataFrame, bucket: DataFrame, cum: DataFrame) -> dict:
        from .graph import canonical_undirected

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
        self.known = self._keyed(self.known.unionByName(new_e))
        return self._counts()

    def _keyed(self, canon: DataFrame) -> DataFrame:
        # an eager checkpoint keeps the (src, dst) hash partitioning the
        # anti-join relies on and leaves nothing cached to release
        return canon.repartition(self.np, "src", "dst").localCheckpoint(eager=True)

    def _counts(self) -> dict:
        stars = self.deg.where(F.col("d") >= _STAR_MIN_DEGREE).count()
        return {"n_triangles": self.tri, "n_stars": int(stars)}

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


class _PatternRefresh:
    """Incremental matching: the base enumerates every match; an arrival
    enumerates ONLY matches using ≥1 bucket edge (append-only graphs never
    lose matches) and unions them into the carried match table."""

    def __init__(self, spark: SparkSession, vertices: DataFrame, q):
        self.spark, self.vertices, self.q = spark, vertices, q
        self.state: DataFrame | None = None  # one row per match signature
        self.n = 0

    def base(self, cum: DataFrame) -> dict:
        from ..plans.pattern import match_pattern

        return self._carry(match_pattern(self.spark, self.vertices, cum, self.q))

    def refresh(self, old: DataFrame, bucket: DataFrame, cum: DataFrame) -> dict:
        from ..plans.pattern import match_pattern

        new_m = match_pattern(
            self.spark, self.vertices, cum, self.q,
            delta_edges=bucket, old_edges=old,
        )
        return self._carry(self.state.unionByName(new_m).dropDuplicates(["sig"]))

    def _carry(self, matches: DataFrame) -> dict:
        self.state = matches.localCheckpoint(eager=True)
        n, self.n = self.n, self.state.count()
        return {"supersteps": 1, "n_new_matches": self.n - n}


def incremental_pattern_match(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    q,
    *,
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
    return _replay(_PatternRefresh(spark, vertices, q), edges, base_steps)


def _changed_at(state: DataFrame, touched: DataFrame) -> DataFrame:
    """``state`` with a ``changed`` flag set exactly on ``touched`` ids."""
    return state.join(touched.withColumn("t", F.lit(True)), "id", "left").select(
        *state.columns, F.coalesce(F.col("t"), F.lit(False)).alias("changed")
    )


class _LabelPropRefresh:
    """Deterministic LPA: the base runs batch LPA; an arrival carries the
    labels over and marks the bucket's endpoints changed, and only
    RECEIVERS adjacent to a changed vertex recompute their argmax."""

    def __init__(self, spark: SparkSession, max_iter: int, num_partitions: int):
        self.spark, self.max_iter, self.np = spark, max_iter, num_partitions
        self.state: DataFrame | None = None  # (id, label)

    def base(self, cum: DataFrame) -> dict:
        from .labelprop import label_propagation

        res = label_propagation(
            self.spark, cum, max_iter=self.max_iter,
            num_partitions=self.np, steps_per_commit=2,
        )
        self.state = res.labels.localCheckpoint(eager=True)
        return {"supersteps": res.supersteps}

    def refresh(self, old: DataFrame, bucket: DataFrame, cum: DataFrame) -> dict:
        from ._superstep import edge_partition_counts, released, run

        labels, touched = self.state, vertex_ids(bucket)
        adj = partitioned_adjacency(cum, self.np).persist()
        with released(adj):
            res = run(
                self.spark,
                lambda: _changed_at(
                    vertex_ids(adj).join(labels, "id", "left").select(
                        "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
                    ),
                    touched,
                ).localCheckpoint(eager=True),
                lambda s: _lpa_step_frontier(s, adj, self.np),
                max_iter=self.max_iter,
                edge_parts=edge_partition_counts(adj),
                num_partitions=self.np,
            )
            self.state = res.state.select("id", "label").localCheckpoint(eager=True)
        return {"supersteps": res.supersteps}


# LPA supersteps per replayed bucket.
_LPA_MAX_ITER_PER_STEP = 10


def incremental_labelprop(
    spark: SparkSession,
    edges: DataFrame,
    *,
    base_steps: int = 1,
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
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    kernel = _LabelPropRefresh(spark, _LPA_MAX_ITER_PER_STEP, num_partitions)
    return _replay(kernel, edges, base_steps)


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


class _ComponentsRefresh:
    """Exact incremental hash-min: an arrival seeds the frontier at the
    bucket's endpoints (everything else is already a fixpoint).

    Incremental in I/O too: the cumulative adjacency is CARRIED as a list
    of parts — the base graph shuffled once, plus one bucket-sized delta
    per arrival — instead of re-running ``partitioned_adjacency(cum)`` (an
    O(E) shuffle) every bucket. ``_cc_step`` joins the frontier against
    each part in place, so per-step shuffle volume is ∝ the bucket + the
    frontier's message cone, never the full edge set (hash-min is
    insensitive to the duplicate rows a delta can re-introduce). Vertices
    likewise: the carried fixpoint already names every prior vertex, so
    the state is rebuilt from it + the bucket's endpoints — no O(E)
    ``vertex_ids`` distinct per bucket. Parts are eager
    ``localCheckpoint``s: they keep their src hash partitioning and leave
    nothing cached. Delta parts are compacted (union → one repartition of
    DELTA data only) past ``MAX_PARTS`` so a long replay doesn't
    accumulate per-superstep join fan-out."""

    MAX_PARTS = 8

    def __init__(self, spark: SparkSession, num_partitions: int):
        self.spark, self.np = spark, num_partitions
        self.state: DataFrame | None = None  # (id, component)
        self.parts: list[DataFrame] = []
        self.edge_parts: dict[int, int] = {}

    def base(self, cum: DataFrame) -> dict:
        from .components import connected_components

        res = connected_components(
            self.spark, cum, num_partitions=self.np, steps_per_commit=4
        )
        self.state = res.components.localCheckpoint(eager=True)
        return {"supersteps": res.supersteps, "adj_shuffled_rows": self._carry(cum)}

    def refresh(self, old: DataFrame, bucket: DataFrame, cum: DataFrame) -> dict:
        from ._superstep import run
        from .components import _cc_shortcut, _cc_step

        shuffled = self._carry(bucket)
        comp, touched = self.state, vertex_ids(bucket)
        # the carried fixpoint names every prior vertex; only the
        # bucket's endpoints can be new, and only they start changed
        new_vs = touched.join(comp, "id", "left_anti").select(
            "id", F.col("id").alias("component")
        )
        parts = self.parts
        res = run(
            self.spark,
            lambda: _changed_at(comp.unionByName(new_vs), touched).localCheckpoint(
                eager=True
            ),
            lambda s: _cc_shortcut(_cc_step(s, parts, self.np)),
            max_iter=100,
            edge_parts=self.edge_parts,
            num_partitions=self.np,
            steps_per_commit=2,
            eager_steps=True,
        )
        self.state = res.state.select("id", "component").localCheckpoint(eager=True)
        return {"supersteps": res.supersteps, "adj_shuffled_rows": shuffled}

    def _carry(self, edges: DataFrame) -> int:
        """Append ``edges``' adjacency as one more carried part; returns
        the rows it shuffled."""
        from ._superstep import edge_partition_counts

        part = partitioned_adjacency(edges, self.np).localCheckpoint(eager=True)
        counts = edge_partition_counts(part)
        for pid, c in counts.items():
            self.edge_parts[pid] = self.edge_parts.get(pid, 0) + c
        self.parts.append(part)
        if len(self.parts) > self.MAX_PARTS:
            # compact the deltas (never the base): re-shuffles only
            # delta-sized data, keeps the per-superstep join fan-out
            # bounded on long replays
            merged = reduce(DataFrame.unionByName, self.parts[1:])
            self.parts = [
                self.parts[0],
                merged.repartition(self.np, "src").localCheckpoint(eager=True),
            ]
        return sum(counts.values())


def incremental_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    base_steps: int = 1,
    num_partitions: int | None = None,
) -> IncrementalResult:
    """Exact incremental hash-min over arrival buckets: per bucket the
    frontier is seeded at the new edges' endpoints and the carried
    adjacency grows by one bucket-sized part (see ``_ComponentsRefresh``).
    The result equals batch ``connected_components`` on the full graph."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    return _replay(_ComponentsRefresh(spark, num_partitions), edges, base_steps)


class _SSSPRefresh:
    """Exact weighted SSSP: append-only edges are MONOTONE for min-plus, so
    the carried distances stay a valid upper bound. An arrival relaxes ONLY
    its own edges against them (a bucket-sized join), seeds the frontier
    where that improves something, and sweeps frontier-restricted on the
    cumulative adjacency."""

    def __init__(self, spark: SparkSession, source: int, num_partitions: int):
        self.spark, self.source, self.np = spark, source, num_partitions
        self.state: DataFrame | None = None  # (id, dist)

    def base(self, cum: DataFrame) -> dict:
        from .sssp import sssp

        res = sssp(
            self.spark, cum, self.source,
            num_partitions=self.np, steps_per_commit=4,
        )
        self.state = res.distances.localCheckpoint(eager=True)
        return {"supersteps": res.supersteps}

    def refresh(self, old: DataFrame, bucket: DataFrame, cum: DataFrame) -> dict:
        from ._superstep import edge_partition_counts, released, run
        from .sssp import _prep, _sssp_step

        dist = self.state
        # relax ONLY the new edges against the carried fixpoint: a
        # bucket-sized join, not a graph-sized pass
        cand = (
            _prep(bucket, "w", directed=False)
            .join(
                dist.select(F.col("id").alias("src"), F.col("dist").alias("d0")),
                "src",
            )
            .select("dst", (F.col("d0") + F.col("w")).alias("cand"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cand").alias("cand"))
        )
        start = (
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
        adj = _prep(cum, "w", directed=False).repartition(self.np, "src").persist()
        with released(adj):
            res = run(
                self.spark,
                lambda: start,
                lambda s: _sssp_step(s, adj, self.np),
                max_iter=100,
                edge_parts=edge_partition_counts(adj),
                num_partitions=self.np,
                steps_per_commit=2,
            )
            self.state = res.state.select("id", "dist").localCheckpoint(eager=True)
        return {"supersteps": res.supersteps}


def incremental_sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    *,
    base_steps: int = 1,
    num_partitions: int | None = None,
) -> IncrementalResult:
    """Exact incremental weighted SSSP over the ``ts`` arrival buckets of
    ``edges(src, dst, w, ts)``: the previous
    fixpoint is a valid upper bound, each bucket's edges are relaxed once
    against it and the Bellman-Ford sweeps then run frontier-restricted
    (see ``_SSSPRefresh``). Work per step ∝ the perturbation's downstream
    cone, the PEM partial-execution idea exactly (SURVEY.md §4 O2), with
    no heuristic scope: the result equals batch ``sssp`` on the full
    graph."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    kernel = _SSSPRefresh(spark, source, num_partitions)
    return _replay(kernel, edges, base_steps)
