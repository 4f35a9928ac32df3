"""Embedding clustering — deterministic Lloyd k-means assignment.

The scale path for organizing an embedding corpus (IVF-style coarse
quantization for ANN, near-dup bucketing, topic balancing): a fixed
number of Lloyd iterations from deterministic seeds. Centroids are k·dim
doubles — driver-resident and broadcast into Catalyst expressions as
literals, so each iteration is ONE full scan computing an argmin over k
inline squared-L2 expressions plus one (cluster, pos) aggregate for the
means. No UDFs, no cross join, no per-row Python; the only driver data
is the k×dim centroid matrix (bytes, not rows).

Determinism / oracle-mirrorability: seeds are the k lowest-``vec_id``
embeddings; assignment ties break toward the lower cluster id; distances
and means are double arithmetic identical in shape to the DuckDB oracle
(queries/pipeline.py) — integer cluster labels make ulp-level summation
differences harmless away from exact ties.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import loop_confs


@dataclass
class KMeansResult:
    assignments: DataFrame  # (vec_id BIGINT, cluster INT)
    centroids: list[list[float]]  # k × dim, final means
    iterations: int


def _assign_expr(centroids: list[list[float]]):
    """argmin_j ||v - c_j||² as a pure Catalyst expression: build an array
    of (d2, j) structs and take array_min (lexicographic → min distance,
    ties to lower j)."""
    structs = []
    for j, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(
                F.col("v"), lit, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d2.alias("d2"), F.lit(j).alias("j")))
    return F.array_min(F.array(*structs))["j"]


def _assign_bcast(e: DataFrame, cent: DataFrame):
    """(vec_id, v, cluster) via a broadcast nested-loop join against the
    centroid relation — the large-k path. Map-side only (no shuffle of
    the corpus): each partition streams its rows against the broadcast
    k×dim table, then one groupBy(vec_id) takes min(d2, cluster), which
    is the same lexicographic tie rule as the literal argmin."""
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "v",
        F.struct(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            F.col("cluster").alias("j"),
        ).alias("dj"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.first("v").alias("v"), F.min("dj").alias("dj"))
        .select("vec_id", "v", F.col("dj.j").alias("cluster"))
    )


def kmeans_assign(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "literal",
) -> KMeansResult:
    """Run ``iters`` Lloyd rounds from the k lowest-id seed vectors and
    return final assignments. An empty cluster keeps its previous
    centroid (standard Lloyd convention).

    ``strategy``: ``"literal"`` (default) inlines the k×dim centroids as
    Catalyst literals — one scan, zero joins, ideal for the small-k IVF
    coarse-quantizer case. ``"broadcast"`` carries the centroids as a
    broadcast relation and assigns via a map-side nested-loop join —
    the same distances and the same lower-cluster tie rule, but the plan
    size stays constant as k grows, so it is the path for k in the
    thousands (the literal expression tree grows O(k·dim) and would
    stall Catalyst analysis long before the executors feel it)."""
    if strategy not in ("literal", "broadcast"):
        raise ValueError(f"kmeans_assign: unknown strategy {strategy!r}")
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).persist()
    seed_rows = e.orderBy("vec_id").limit(k).collect()
    if not seed_rows:
        e.unpersist()
        raise ValueError("kmeans_assign: input is empty — no rows to seed centroids from")
    if len(seed_rows) < k:
        # fewer rows than clusters: run with effective k = |rows| (each
        # row its own seed) rather than fabricating centroids
        k = len(seed_rows)
    centroids = [list(r.v) for r in seed_rows]
    dim = len(centroids[0])

    def _cent_df(c: list[list[float]]) -> DataFrame:
        return spark.createDataFrame(
            [(j, list(map(float, v))) for j, v in enumerate(c)],
            "cluster INT, cv ARRAY<DOUBLE>",
        )

    def _assigned(c: list[list[float]]) -> DataFrame:
        if strategy == "broadcast":
            return _assign_bcast(e, _cent_df(c))
        return e.select("vec_id", "v", _assign_expr(c).alias("cluster"))

    assigned = None
    # AQE + codegen off for the loop (see _superstep.loop_confs)
    with loop_confs(spark):
        for _ in range(iters):
            assigned = _assigned(centroids)
            means = (
                assigned.select(
                    "cluster", F.posexplode("v").alias("pos", "val")
                )
                .groupBy("cluster", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new_c = [list(c) for c in centroids]
            by_cluster: dict[int, list[float]] = {}
            for r in means:
                by_cluster.setdefault(int(r.cluster), [0.0] * dim)[int(r.pos)] = float(
                    r.m
                )
            for j, vec in by_cluster.items():
                new_c[j] = vec
            centroids = new_c

    final = _assigned(centroids).select("vec_id", "cluster")
    final = final.localCheckpoint(eager=True)
    e.unpersist()
    return KMeansResult(final, centroids, iters)


def silhouette_by_cluster(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster simplified (centroid-based) silhouette after ``iters``
    Lloyd rounds: for each vector, a = distance to its own final
    centroid, b = distance to the nearest OTHER final centroid,
    s = (b - a) / max(a, b); returned as (cluster, n, silhouette6) with
    the mean s per cluster rounded to 6 decimals.

    The centroid-based form (vs pairwise-point silhouette, which is
    O(n²) and dead at corpus scale) is the standard cluster-quality
    gate a 100 TB embedding pipeline runs after IVF training: one full
    scan against the broadcast k×dim centroid matrix — the same
    literal-argmin expression shape as ``kmeans_assign`` — then one
    k-row aggregate. Zero joins, zero Python on the data path.
    Assignment and the a-distance reuse the argmin's lexicographic
    (d2, j) tie rule, so labels equal ``kmeans_assign``'s exactly."""
    if k < 2:
        raise ValueError(
            "silhouette_by_cluster: k must be >= 2 — the b-distance needs "
            "at least one other cluster"
        )
    res = kmeans_assign(
        spark, embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
    )
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    structs = []
    for j, c in enumerate(res.centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(F.col("v"), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d2.alias("d2"), F.lit(j).alias("j")))
    scored = (
        e.select("vec_id", F.array(*structs).alias("dj"))
        .select("vec_id", "dj", F.array_min("dj").alias("own"))
        .select(
            F.col("own.j").alias("cluster"),
            F.sqrt(F.col("own.d2")).alias("a"),
            F.sqrt(
                F.array_min(
                    F.filter("dj", lambda x: x["j"] != F.col("own.j"))
                )["d2"]
            ).alias("b"),
        )
    )
    s = F.when(F.greatest("a", "b") == 0.0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        scored.withColumn("s", s)
        .groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("s"), 6).alias("silhouette6"),
        )
    )


def kcenter_greedy_int8(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(rank, vec_id, d2sel): Gonzalez greedy k-center (farthest-point
    traversal, the classic 2-approximation and the deterministic
    seeding a production k-means++/IVF build uses when reproducibility
    is contractual) — run over the INT8-QUANTIZED grid so the entire
    trajectory is exact-integer: distances are Σ(qa−qb)² BIGINT sums
    (order-free), the argmax ties to the lower vec_id, and no float
    comparison can diverge between engines or between runs. d2sel is
    the point's min-distance-to-centers at the moment it was chosen
    (0 for the first center, the min-id vector) — the covering-radius²
    curve, monotone non-increasing, the stopping signal a caller uses
    to pick k.

    Scale shape: each round is ONE scan computing/folding the running
    min distance against the newly added center (broadcast as a
    literal) — O(k·N·dim) with no shuffle at all; the argmax is a
    1-row probe. The int8 grid is what the corpus already stores at
    100 TB (quantize_int8), so this reads the compressed form, not the
    raw floats."""
    from .similarity import quantize_int8

    if k < 1:
        raise ValueError("kcenter_greedy_int8: k must be >= 1")
    q = (
        quantize_int8(emb, id_col=id_col, vec_col=vec_col)
        .select("vec_id", F.transform("qv", lambda x: x.cast("long")).alias("qv"))
        .persist()
    )
    first = q.orderBy("vec_id").first()
    if first is None:
        q.unpersist()
        raise ValueError("kcenter_greedy_int8: input is empty")

    def _d2(center_vals: list[int]):
        c = F.array(*[F.lit(int(x)).cast("long") for x in center_vals])
        return F.aggregate(
            F.zip_with("qv", c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    picks: list[tuple[int, int, int]] = [(1, int(first.vec_id), 0)]
    dmin = q.select("vec_id", "qv", _d2(list(first.qv)).alias("dmin"))
    for rnd in range(2, k + 1):
        dmin = dmin.localCheckpoint(eager=True)
        w = dmin.orderBy(F.col("dmin").desc(), "vec_id").first()
        if w is None or int(w.dmin) == 0:
            break  # all points coincide with a center — k-center is done
        picks.append((rnd, int(w.vec_id), int(w.dmin)))
        dmin = dmin.select(
            "vec_id", "qv",
            F.least(F.col("dmin"), _d2(list(w.qv))).alias("dmin"),
        )
    q.unpersist()
    return spark.createDataFrame(picks, "rank LONG, vec_id LONG, d2sel LONG")
