"""Core graph-shape helpers shared by all kernels.

The engine's graph is two DataFrames (SURVEY.md §1.1):
    vertices(id BIGINT, ...)    edges(src BIGINT, dst BIGINT, ...)

The reference stores an ``nx.MultiGraph`` adjacency dict
(``patternmatching/gray/query_call.py:96-99``); our equivalent is a
row-oriented edge list that we *explicitly hash-partition by src* once and
reuse across every superstep join — the Spark realization of the reference's
METIS partitioning + ghost overlap (``patternmatching/subgraph/divide.py:8-30``):
the shuffle exchange is the overlap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


# Fewest partitions ``kernel_nparts`` sizes a kernel to.
_NPARTS_FLOOR = 4


def kernel_nparts(df: DataFrame) -> int:
    """Input-proportional shuffle width for iterative kernels — the
    library-API face of the registry's ``queries._common.graph_nparts``
    sizing rule, derived from the DataFrame's own source files instead of
    a directory argument.

    Sizing a superstep's shuffle to the input is the same rule in both
    directions: big inputs want enough partitions that every stage runs
    ≥4-8 task waves on the largest cluster (a 1-2-wave layout cannot
    absorb power-law skew — measured +43% throughput at 8 cores moving
    16 → 64 partitions on the 40M-edge scaling graph), while a tiny
    input wants FEWER partitions than the session default because a
    32-task shuffle over a 100k-edge graph is pure per-task scheduling
    overhead repeated every superstep.

    The proxy is ``df.inputFiles()`` footprint (file metadata — what a
    table catalog provides for free at any scale): ~0.5 MiB of source
    parquet ≈ one healthy iterative-shuffle partition at these record
    widths (r6 recalibration of the 1 MiB rule: the 11 MiB-source
    1.2M-edge bench graph sized to 10 partitions leaves 2/3 of a
    32-core box idle per superstep — interleaved A/B measured 34.7 s vs
    25.3/27.4 s at 16/32 partitions; the sweet spot starts around
    2 parts/MiB and the cap still bounds it by cluster width). When the
    input resolves to a CACHED relation instead of files (the bench
    persists its derived graphs, and ``inputFiles`` on a
    cache-substituted plan is empty), the same rule runs off the
    InMemoryRelation's actual byte size via a fresh plan resolution at
    ~1 MiB cached columnar ≈ 0.5 MiB zstd parquet ≈ one partition, so
    both paths size alike (the bench graph: 18 MiB cached → 18 parts,
    22 via its source file; the 24k-edge sparse graph: 0.36 MiB cached
    → the 4-part floor, where a 32-task superstep is pure dispatch
    overhead — measured 9.2 → 4.1 s for the 12-superstep CC). Falls
    back to ``defaultParallelism`` when neither resolves (in-memory
    test frames, unmaterialized caches — their stats are the child
    plan's estimate, which for join-derived graphs is huge and clamps
    to the cap, i.e. the previous default). Callers that know better
    (the scaling bench, registry queries) keep passing
    ``num_partitions`` explicitly."""
    sess = df.sparkSession
    cap = max(_NPARTS_FLOOR, sess.sparkContext.defaultParallelism)
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — sizing hint only, never fail the kernel
        return cap
    if not files:
        try:
            lvl = df.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                return cap
            # .alias() forces a fresh resolution so the cache manager
            # substitutes the InMemoryRelation and its REAL stats (the
            # df's own queryExecution predates the persist)
            st = int(
                str(
                    df.alias("_kn_sz")
                    ._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:  # noqa: BLE001 — sizing hint only
            return cap
        if st <= 0:
            return cap
        return max(_NPARTS_FLOOR, min(cap, st >> 20))
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.exists(p):
            return cap
        total += os.path.getsize(p)
    if total <= 0:
        return cap
    return max(_NPARTS_FLOOR, min(cap, total >> 19))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: emit both directions of every edge.

    Mirrors the reference's default-undirected ``nx.MultiGraph``
    (``gray/query_call.py:281-287``); NetworkX treats each undirected edge
    as bidirectional in pagerank/degree, so kernels over undirected input
    run on this doubled edge list.
    """
    e = edges.select("src", "dst")
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def simple_edges(edges: DataFrame, directed: bool = False) -> DataFrame:
    """Deduplicated simple-graph edge list (drops parallel edges + loops).

    Parallel edges are plain duplicate rows in our model (multigraph,
    ``sample/static/test4.json``); simple-graph kernels (pagerank vs
    ``nx.Graph``, triangles) collapse them first.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if not directed:
        e = symmetrize(e)
    return e.dropDuplicates(["src", "dst"])


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Canonical (least, greatest) undirected form, deduplicated.

    The canonical-signature trick replaces the reference's O(n²)
    ``equal_graphs`` duplicate scan (``gray_multiple.py:16-37``) with a
    single dropDuplicates.
    """
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def vertex_ids(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing in the edge list → vertices(id)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex undirected degree (A4, ``gray_multiple.py:63-68``) over
    the symmetrized simple edge list. Returns (id, degree)."""
    e = simple_edges(edges, directed=False)
    return e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))


def salted_count(
    df: DataFrame, key: str, n_salts: int = 16, out: str = "cnt"
) -> DataFrame:
    """O9 — explicit two-phase skew-salted aggregation: count rows per
    ``key`` when a handful of keys are pathologically hot (power-law hubs).
    Phase 1 aggregates per (key, salt) — hot keys split across ``n_salts``
    reducers; phase 2 sums the ≤n_salts partials per key. Equivalent to a
    plain groupBy-count (tests pin it), useful where AQE skew handling
    isn't available (e.g. inside structured-streaming batches) or the
    skew is in the aggregation rather than a join.
    """
    # Salt from row CONTENT, never from monotonically_increasing_id(): a
    # fetch-failure retry recomputes partials, and an id-derived salt can
    # assign the same row to a different salt on the rerun → double-count
    # or drop. Hashing every column is stable under recomputation; rows
    # that are full duplicates share a salt, which only matters if one
    # key's rows are ALL identical (then salting degenerates to 1 reducer
    # for that key — same as unsalted, still correct). Map columns are
    # excluded: Spark's hash functions reject MapType (map equality is
    # undefined), and a props map adds no salt entropy beyond the rest of
    # the row anyway.
    hashable = [
        f.name for f in df.schema.fields if not f.dataType.typeName().startswith("map")
    ] or [key]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias(out))


def bin_pack_components(component_sizes: DataFrame, n_workers: int) -> DataFrame:
    """W5 — the reference's WCC-size-descending greedy packing onto
    workers (``parallel/gray_mp.py:172-178``): order components by size
    desc and deal them round-robin; returns (component, size, worker).
    Round-robin over the sorted stream approximates greedy min-load within
    1 item's size — and is a single window, not a driver loop.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("size"), F.asc("component"))
    return component_sizes.withColumn(
        "worker", (F.row_number().over(w) - 1) % n_workers
    )


def partitioned_adjacency(
    edges: DataFrame, num_partitions: int, directed: bool = False
) -> DataFrame:
    """The reusable adjacency: simple edges hash-partitioned by src.

    Persisted by callers; every superstep join against per-vertex state
    reuses this partitioning so the big (edge) side is shuffled once per
    run, not once per superstep — at 100 TB the edge shuffle is the cost
    that must not repeat.
    """
    return simple_edges(edges, directed=directed).repartition(num_partitions, "src")


def bipartite_projection(
    df: DataFrame,
    group_col: str,
    item_col: str,
    weighted: bool = False,
    min_weight: int = 1,
) -> DataFrame:
    """(src, dst[, w]): co-membership projection of a bipartite relation —
    items sharing a group become an edge (src < dst canonical), optionally
    weighted by the number of shared groups. This is THE edge-table
    derivation of the engine's driver graphs (parts sharing an order,
    files sharing an import) packaged as an operator.

    Plan: self-join on the group key then aggregate. The join fan-out is
    Σ |group|² — at scale, cap pathological groups upstream (a group with
    10⁶ members contributes 10¹² pairs; filter or sample such hubs before
    projecting, same hub-cap discipline as the LSH band join).
    """
    a = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("src")
    )
    b = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("dst")
    )
    pairs = a.join(b, "g").where(F.col("src") < F.col("dst"))
    if not weighted:
        if min_weight > 1:
            # honor the threshold even without emitting the weight column
            return (
                pairs.groupBy("src", "dst")
                .agg(F.count("*").alias("_w"))
                .where(F.col("_w") >= min_weight)
                .select("src", "dst")
            )
        return pairs.select("src", "dst").distinct()
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
        .where(F.col("w") >= min_weight)
    )
