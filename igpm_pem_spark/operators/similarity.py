"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force exact top-k: query subset × corpus cross
  join with the dot product as a Catalyst ``aggregate``/``zip_with``
  expression (JVM-side, codegen'd — no UDF). The exactness baseline.
* ``ann_lsh_topk`` / ``near_dup_pairs_ann`` — the scale path: multi-table
  random-hyperplane LSH bucketing; candidates share a signature bucket in
  at least one table, ranked/filtered by exact cosine. Plane weights are
  portable integer arithmetic (functions/hashing.ann_weight_sql), so the
  whole ANN result is value-checkable against the DuckDB oracle, and
  recall@k vs the exact baseline is gated in tests.

At 1e12 rows the brute-force path is a deliberate non-starter (quadratic);
the LSH plan is bucket-join shaped exactly like dedup's band join, with
the same bounded-bucket skew property.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F

_LOG = logging.getLogger(__name__)


def _capped_signatures(
    signed: DataFrame, max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Window-count bucket guard over the (id, tbl, sig) relation — the
    ANN port of dedup.lsh_candidate_pairs' max_bucket cap (dedup.py band
    join). One shuffle on (tbl, sig) — the same key the candidate
    self-join needs — sizes every bucket; rows in buckets wider than
    ``max_bucket`` are dropped BEFORE the self-join, so a
    duplicate-heavy corpus (many vectors collapsing into one signature)
    can't go quadratic. The aggregate below doubles as the cache-fill job
    (see callers) and counts the dropped rows — no silent caps.

    Returns (kept, cache_handle): the filtered relation plus the
    PERSISTED post-window relation it reads from (callers unpersist the
    handle once their pair set is materialized). Caching after the
    window instead of before it means the (tbl, sig) shuffle+sort runs
    ONCE — the cached relation keeps that hash partitioning, so both
    sides of the candidate self-join read it exchange-free — where the
    previous pre-window cache re-ran the window per consumer (one extra
    1.9M-row exchange at the bench shape)."""
    w = Window.partitionBy("tbl", "sig")
    sized = signed.withColumn("_bsz", F.count("*").over(w)).persist()
    try:
        stats = sized.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_bsz") > max_bucket, 1).otherwise(0)).alias("n_drop"),
        ).collect()[0]
    except BaseException:
        sized.unpersist()
        raise
    if stats.n_drop:
        _LOG.warning(
            "ANN bucket cap: dropped %d/%d signature rows in buckets wider "
            "than %d (degenerate-bucket guard)",
            stats.n_drop, stats.n, max_bucket,
        )
    return sized.where(F.col("_bsz") <= max_bucket).drop("_bsz"), sized


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def with_cosine(pairs: DataFrame, a: str = "emb_a", b: str = "emb_b") -> DataFrame:
    """Add ``cos`` — dot(a,b)/(|a||b|) as pure Catalyst expressions."""
    dot = F.aggregate(
        F.zip_with(_as_double(F.col(a)), _as_double(F.col(b)), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(_as_double(F.col(c)), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return pairs.withColumn("cos", dot / (norm(a) * norm(b)))


def _vec_side(emb: DataFrame, id_col: str, vec_col: str, id_alias: str, suffix: str) -> DataFrame:
    """(id_alias, emb_<suffix>, norm_<suffix>): vector cast to double and
    its L2 norm, both computed ONCE PER VECTOR before the pair join — the
    per-pair cosine then multiplies pre-cast arrays and pre-computed
    norms instead of re-casting and re-norming each array once per
    candidate pair (4 array passes per pair → 1)."""
    v = _as_double(F.col(vec_col))
    return emb.select(
        F.col(id_col).alias(id_alias),
        v.alias(f"emb_{suffix}"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias(f"norm_{suffix}"),
    )


def _pair_cos4(a: str = "a", b: str = "b", dim: int | None = None):
    """round(cos, 4) over pre-cast arrays + pre-computed norms (the
    _vec_side layout). Same expression tree as with_cosine element-wise,
    so values are bit-identical.

    When ``dim`` is known the dot product is UNROLLED into a chain of
    ordinal ``getItem`` multiplies — a plain codegen-able expression
    instead of a zip_with/aggregate higher-order function, which Catalyst
    evaluates interpreted with per-element boxing. ``getItem`` (0-based
    ``GetArrayItem``), NOT 1-based ``element_at``: ``ElementAt``'s
    generated code is bulky enough that ~32 occurrences in one projection
    blow past the codegen method-size limits and drop the whole stage to
    interpreted eval — measured 28.2 s vs 2.1 s for the same 19 M pairs ×
    32 dims (r6); both return NULL out of bounds under non-ANSI SQL, so
    values are identical. The fold order is preserved exactly —
    ``(((0.0 + x₁) + x₂) + …)`` — so rounded cosines are bit-identical
    to the HOF form and the DuckDB oracle."""
    if dim is not None:
        dot = F.lit(0.0)
        for i in range(1, dim + 1):
            dot = dot + (
                F.col(f"emb_{a}").getItem(i - 1)
                * F.col(f"emb_{b}").getItem(i - 1)
            )
    else:
        dot = F.aggregate(
            F.zip_with(F.col(f"emb_{a}"), F.col(f"emb_{b}"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return F.round(dot / (F.col(f"norm_{a}") * F.col(f"norm_{b}")), 4)


def _probe_dim(emb: DataFrame, vec_col: str) -> int | None:
    """Vector width from a 1-row probe (documented stats job — the same
    trade as hyperplane_buckets' count); None on an empty corpus, which
    keeps callers on the HOF fallback and their empty-input paths."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    return int(row[0].d) if row else None


def cosine_topk(
    emb: DataFrame,
    k: int = 3,
    query_mod: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos4): exact top-k cosine neighbors for the
    deterministic query subset ``vec_id % query_mod == 0``; ranking by
    (rounded cosine desc, neighbor id asc) so ties are engine-portable."""
    q = emb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("emb_a")
    ).where(F.col("query_id") % query_mod == 0)
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("emb_b"))
    pairs = q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    scored = with_cosine(pairs).select(
        "query_id", "neighbor_id", F.round("cos", 4).alias("cos4")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos4"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos4")
    )


def _plane_weight_value(table: int, plane: int, d: int) -> float:
    """w(table, plane, d) ∈ [-0.5, 0.5) in pure integer arithmetic —
    byte-identical to ``hashing.ann_weight_sql`` in DuckDB (no xxhash64,
    so the ANN result is fully oracle-checkable). Computed driver-side as
    exact Python ints (max intermediate ≈ 5e14 < 2^63, so there is no
    64-bit wraparound to mimic) and embedded as a double literal — the
    executors multiply, they don't re-derive the hash per element."""
    from ..functions.hashing import ANN_KNUTH, ANN_W_MOD, plane_coeffs_ann

    a, b = plane_coeffs_ann(table, plane)
    h = (ANN_KNUTH * (a * (d + 1) + b)) % ANN_W_MOD
    return h / ANN_W_MOD - 0.5


def hyperplane_buckets(
    emb: DataFrame,
    n_tables: int | None = None,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(id, emb, tbl, sig): one row per (vector, hash table) — sig packs
    ``n_planes`` hyperplane sign bits. Multiple independent tables are the
    standard recall lever (a true neighbor only needs to collide in ONE
    table); plane weights are deterministic arithmetic, so buckets are
    reproducible across runs, partitionings, and engines."""
    from ..functions.hashing import (
        ANN_BUCKET_TARGET, ANN_MAX_PLANES, ANN_PLANES, ANN_TABLES,
    )

    n_tables = ANN_TABLES if n_tables is None else n_tables
    if n_planes is None:
        # scale the signature length with the corpus so buckets hold
        # ~ANN_BUCKET_TARGET vectors: one count job (table stats at real
        # scale) instead of letting a fixed 2^4-bucket layout degenerate
        # to a near-quadratic candidate join on large corpora. Callers
        # composing pipelines can pass corpus_count to avoid the scan.
        import math

        n = emb.count() if corpus_count is None else corpus_count
        n_planes = min(
            ANN_MAX_PLANES,
            max(ANN_PLANES, math.ceil(math.log2(max(n, 1) / ANN_BUCKET_TARGET + 1))),
        )
    if dim is None:
        # one 1-row probe for the vector width (documented stats job, same
        # rationale as the count above); callers composing pipelines pass
        # dim to avoid it. Fixed-width embeddings are the operator's input
        # contract — a shorter row under a wider probe nulls its dots.
        row = emb.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        if not row:
            return emb.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("emb"),
                F.lit(0).alias("tbl"),
                F.lit(0).cast("long").alias("sig"),
            ).where(F.lit(False))
        dim = int(row[0].d)

    # All L signatures in ONE pass over the vectors, fanned out to L
    # (tbl, sig) rows by a JVM posexplode — a union of per-table selects
    # would rescan the embedding table L times (fatal at 100 TB).
    #
    # The L·planes dot products per vector are a (rows × dim) @
    # (dim × L·planes) matrix product. As Catalyst expressions this is
    # either L·planes interpreted zip_with/aggregate HOFs per row (~5 s
    # of per-element boxing at the 119.6k × 16×10×32 bench shape, plus
    # ~8 s of driver-serial py4j Column construction) or an unrolled
    # 5,120-term projection whose generated methods blow past HotSpot's
    # JIT limit and run as interpreted bytecode (measured 34 s — worse).
    # So the dim-known path hands whole Arrow batches to numpy instead
    # (guide §4.2: let Spark do distribution, vectorized native code do
    # bulk math): only (id, vector) crosses the boundary, weights are
    # built once per task, and the accumulation loops over dimensions in
    # index order — acc += x_d·w_d on float64 — which is IEEE-identical
    # to the HOF fold ((0.0 + x₀w₀) + x₁w₁) + …, so signatures are
    # bit-for-bit the ones the previous all-JVM plan and the DuckDB
    # oracle produce (pinned by test_similarity's fold-equivalence A/B;
    # the empty-corpus case returned above, so dim is always known here).
    return _hyperplane_buckets_arrow(
        emb, n_tables, n_planes, id_col, vec_col, dim
    )


def _hyperplane_buckets_arrow(
    emb: DataFrame, n_tables: int, n_planes: int, id_col: str, vec_col: str,
    dim: int,
) -> DataFrame:
    """(id, emb, tbl, sig) via one Arrow/numpy pass — see the caller's
    plan note. The vector column rides through the Python worker
    unchanged (callers that only need signatures project it away and the
    scan then ships just id+vector); per-dimension accumulation order
    matches the Catalyst HOF fold exactly, so values are bit-identical
    to the dim=None path."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    tp = n_tables * n_planes
    wflat = [
        _plane_weight_value(t, p, d)
        for d in range(dim)
        for t in range(n_tables)
        for p in range(n_planes)
    ]
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))
    spark_schema = StructType(
        [
            StructField("id", base.schema["id"].dataType),
            StructField("emb", base.schema["emb"].dataType),
            StructField("sigs", ArrayType(LongType())),
        ]
    )
    out_schema = pa.schema(
        [
            pa.field("id", to_arrow_type(base.schema["id"].dataType)),
            pa.field("emb", to_arrow_type(base.schema["emb"].dataType)),
            pa.field("sigs", pa.list_(pa.int64())),
        ]
    )

    def sig_batches(batches):
        W = np.asarray(wflat, dtype=np.float64).reshape(dim, tp)
        for batch in batches:
            ids = batch.column(0)
            vecs = batch.column(1)
            n = len(ids)
            if n == 0:
                continue
            flat = np.asarray(vecs.flatten(), dtype=np.float64)
            if flat.size != n * dim:
                raise ValueError(
                    f"hyperplane_buckets: expected fixed width {dim}, got "
                    f"{flat.size} elements for {n} rows (nulls or ragged "
                    "vectors are outside the operator's input contract)"
                )
            x = flat.reshape(n, dim)
            acc = np.zeros((n, tp), dtype=np.float64)
            for d in range(dim):
                # index-order accumulation == the HOF fold, bit-for-bit
                acc += x[:, d : d + 1] * W[d]
            bits = (acc > 0.0).reshape(n, n_tables, n_planes)
            sigs = np.zeros((n, n_tables), dtype=np.int64)
            for p in range(n_planes):
                sigs |= bits[:, :, p].astype(np.int64) << p
            yield pa.record_batch(
                [
                    ids,
                    vecs,
                    pa.array(sigs.tolist(), type=pa.list_(pa.int64())),
                ],
                schema=out_schema,
            )

    wide = base.mapInArrow(sig_batches, spark_schema)
    return wide.select(
        "id", "emb", F.posexplode("sigs").alias("tbl", "sig")
    )


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 3,
    n_tables: int | None = None,
    n_planes: int | None = None,
    query_mod: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cos4): approximate top-k — candidates are
    corpus vectors sharing ANY table's bucket with the query, ranked by
    exact cosine. The join is bucket-shaped (skew-bounded like dedup's
    band join — buckets wider than ``max_bucket``, default
    hashing.ANN_MAX_BUCKET, are dropped with a logged count); recall@k vs
    the exact baseline is gated in tests."""
    # LATE MATERIALIZATION: the bucket self-join and collision dedup run
    # on signature-only rows (id, tbl, sig — 16 B), so the embedding
    # arrays are never multiplied by the table count or the collision
    # count in a shuffle; vectors are fetched once per DEDUPED pair by two
    # id joins (broadcast/shuffle-hash as AQE sees fit). Measured at
    # 119.6k vectors / local[32]: 568 s with the fixed 16-bucket planes,
    # 74 s adaptive planes + score-before-dedup, 39 s this plan.
    if dim is None:
        dim = _probe_dim(emb, vec_col)
    signed = hyperplane_buckets(
        emb, n_tables, n_planes, id_col, vec_col,
        corpus_count=corpus_count, dim=dim,
    ).select("id", "tbl", "sig")
    # the bucket-cap aggregate doubles as the cache-fill job (the cache
    # now sits AFTER the sizing window — see _capped_signatures: the
    # (tbl, sig) exchange runs once and both self-join sides read it
    # exchange-free): with a cold cache, both join sides would race the
    # InMemoryRelation build and the signature projection would run twice
    # in one action (measured: 2x the whole signature cost)
    if max_bucket is None:
        from ..functions.hashing import ANN_MAX_BUCKET

        max_bucket = ANN_MAX_BUCKET
    kept, sig_cache = _capped_signatures(signed, max_bucket)
    q = kept.where(F.col("id") % query_mod == 0).select(
        F.col("id").alias("query_id"), "tbl", "sig"
    )
    c = kept.select(F.col("id").alias("neighbor_id"), "tbl", "sig")
    # localCheckpoint materializes the deduped pair set (id pairs only —
    # bucket-capped, far smaller than the corpus) and truncates lineage,
    # so the signature cache can be RELEASED here instead of living until
    # session end (the round-3 in-bench memory-pressure gap). One eager
    # job inside the builder, documented trade: cache hygiene beats plan
    # purity for a relation this hot.
    try:
        pairs = (
            q.join(c, ["tbl", "sig"])
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        sig_cache.unpersist()
    ea = _vec_side(emb, id_col, vec_col, "query_id", "a")
    eb = _vec_side(emb, id_col, vec_col, "neighbor_id", "b")
    scored = (
        pairs.join(ea, "query_id")
        .join(eb, "neighbor_id")
        .select("query_id", "neighbor_id", _pair_cos4(dim=dim).alias("cos4"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos4"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos4")
    )
    return out


def near_dup_pairs_ann(
    emb: DataFrame,
    threshold: float = 0.9,
    n_tables: int | None = None,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos4): the PRODUCTION near-dup path — candidate pairs
    come from shared LSH buckets (any table), then exact cosine filters at
    ``threshold``. No quadratic stage anywhere: the bucket self-join is
    the only pairing step (buckets wider than ``max_bucket``, default
    hashing.ANN_MAX_BUCKET, dropped with a logged count), so the plan
    scales like dedup's band join."""
    # late materialization, as in ann_lsh_topk: bucket join + dedup over
    # signature-only rows, arrays fetched once per deduped pair
    if dim is None:
        dim = _probe_dim(emb, vec_col)
    signed = hyperplane_buckets(
        emb, n_tables, n_planes, id_col, vec_col,
        corpus_count=corpus_count, dim=dim,
    ).select("id", "tbl", "sig")
    # bucket cap doubles as the cache-fill job (see ann_lsh_topk)
    if max_bucket is None:
        from ..functions.hashing import ANN_MAX_BUCKET

        max_bucket = ANN_MAX_BUCKET
    kept, sig_cache = _capped_signatures(signed, max_bucket)
    a = kept.select(F.col("id").alias("id_a"), "tbl", "sig")
    b = kept.select(F.col("id").alias("id_b"), "tbl", "sig")
    # eager pair materialization + cache release — see ann_lsh_topk
    try:
        pairs = (
            a.join(b, ["tbl", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        sig_cache.unpersist()
    ea = _vec_side(emb, id_col, vec_col, "id_a", "a")
    eb = _vec_side(emb, id_col, vec_col, "id_b", "b")
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", _pair_cos4(dim=dim).alias("cos4"))
        .where(F.col("cos4") >= threshold)
    )


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subset_mod: int = 4,
) -> DataFrame:
    """(id_a, id_b, cos4): embedding-cosine near-duplicate pairs above
    ``threshold`` within the deterministic subset id % subset_mod == 0
    (quadratic guard for the checked variant; the production path feeds
    ann_lsh buckets instead of a subset)."""
    s = emb.where(F.col(id_col) % subset_mod == 0)
    a = s.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("emb_a"))
    b = s.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("emb_b"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        with_cosine(pairs)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos4"))
        .where(F.col("cos4") >= threshold)
    )


def ann_ivf_topk(
    spark,
    emb: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    query_mod: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos4): IVF-style approximate top-k — the
    second standard ANN shape next to hyperplane LSH (``ann_lsh_topk``).

    A deterministic Lloyd k-means pass (``clustering.kmeans_assign``)
    coarse-quantizes the corpus into ``n_clusters`` inverted lists; each
    query probes its ``nprobe`` nearest centroids (squared-L2, ties to
    the lower cluster id — the same argmin tie rule as assignment) and
    ranks only those lists' vectors by exact cosine. Probe selection is a
    pure Catalyst projection (centroids are k·dim driver-resident
    literals — bytes, not rows), the candidate join is cluster-bucketed
    (each query touches ~nprobe/k of the corpus, never all of it), and
    the cosine reuses the pre-cast/pre-normed single-fetch layout of the
    LSH path. At 1e12 vectors the same plan holds with a larger k and a
    broadcast centroid table instead of literals.
    """
    from .clustering import kmeans_assign

    km = kmeans_assign(
        spark, emb, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col
    )
    structs = []
    for j, c in enumerate(km.centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(_as_double(F.col("v")), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d2.alias("d2"), F.lit(j).alias("j")))
    probes = F.slice(F.array_sort(F.array(*structs)), 1, nprobe)
    qp = (
        emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v"))
        .where(F.col("query_id") % query_mod == 0)
        .select("query_id", F.explode(probes).alias("p"))
        .select("query_id", F.col("p.j").alias("cluster"))
    )
    cand = km.assignments.select(
        F.col("vec_id").alias("neighbor_id"), "cluster"
    )
    pairs = (
        qp.join(cand, "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    ea = _vec_side(emb, id_col, vec_col, "query_id", "a")
    eb = _vec_side(emb, id_col, vec_col, "neighbor_id", "b")
    scored = (
        pairs.join(ea, "query_id")
        .join(eb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _pair_cos4(dim=len(km.centroids[0])).alias("cos4"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos4"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos4")
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, scale, qv): per-vector abs-max int8 quantization — the
    4× storage shrink a 100 TB embedding corpus takes before indexing
    (dequantize ≈ qv[i] / scale). scale = 127 / max|x|; elements map via
    floor(x·scale + 0.5) (explicit half-up, identical in Spark and
    DuckDB, unlike the engines' differing round() conventions). An
    all-zero vector keeps scale 0 and an all-zero qv rather than
    dividing by zero. Pure Catalyst transform/aggregate — stateless,
    partition-anything, no shuffle."""
    v = F.col(vec_col).cast("array<double>")
    absmax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.when(absmax > 0.0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.round(scale, 6).alias("scale"),
        F.transform(
            v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int")
        ).alias("qv"),
    )


def semantic_dedup_clusters(
    spark,
    emb: DataFrame,
    threshold: float = 0.3,
    n_tables: int | None = None,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_partitions: int | None = None,
) -> DataFrame:
    """(vec_id, canonical, keep): END-TO-END semantic dedup — the
    embedding-space sibling of ``dedup.dedup_clusters``. Candidate pairs
    come from the production ANN path (``near_dup_pairs_ann``: LSH bucket
    join + exact-cosine filter, no quadratic stage), then hash-min
    connected components over the near-dup pair graph collapse
    transitive chains (A≈B≈C with no shared A/C bucket still lands in
    one cluster), and every vector maps to its cluster's min id with
    ``keep`` marking the one survivor.

    Scale shape: identical to the lexical pipeline — the pair graph is
    orders of magnitude smaller than the corpus, so the CC supersteps
    cost nothing next to the LSH scan, and canonical assignment is one
    join back to the corpus keyed by vec_id."""
    from .components import connected_components

    pairs = near_dup_pairs_ann(
        emb, threshold=threshold, n_tables=n_tables, n_planes=n_planes,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(
        spark, pairs, num_partitions=num_partitions
    ).components
    return (
        emb.select(F.col(id_col).alias("vec_id"))
        .join(comp.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("canonical"),
            (
                F.coalesce(F.col("component"), F.col("vec_id"))
                == F.col("vec_id")
            ).alias("keep"),
        )
    )


def knn_label_accuracy(
    emb: DataFrame,
    k: int = 5,
    query_mod: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(label, n_queries, n_correct): leave-self-out kNN label-vote
    accuracy per true label — the standard intrinsic quality check run
    on an embedding table before it is trusted for dedup/retrieval
    (low kNN accuracy ⇒ the vectors don't encode the taxonomy).

    The neighbor search is the exact ``cosine_topk`` subset baseline
    (deterministic (cos4 desc, id asc) ranking); the vote is majority
    with (count desc, label asc) tie-break, so the whole statistic is
    engine-portable. At scale the exact search swaps for ``ann_lsh_topk``
    unchanged — both emit (query_id, neighbor_id) pairs. Everything after
    the top-k is two keyed aggregations over ≤ |Q|·k rows."""
    topk = cosine_topk(emb, k=k, query_mod=query_mod, id_col=id_col, vec_col=vec_col)
    lbl = emb.select(F.col(id_col), F.col(label_col))
    nb_lbl = topk.join(
        lbl.select(
            F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nb_label")
        ),
        "neighbor_id",
    )
    votes = nb_lbl.groupBy("query_id", "nb_label").agg(F.count("*").alias("c"))
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("nb_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("nb_label").alias("pred"))
    )
    truth = lbl.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("pred") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
    )


def mmr_greedy(
    simq: dict,
    psim: dict,
    k: int,
    lam: float = 0.5,
) -> list[tuple[int, "int", float]]:
    """Maximal-marginal-relevance greedy selection (Carbonell & Goldstein
    1998) over a BOUNDED candidate pool: ``simq[c]`` = relevance of
    candidate ``c`` to the query, ``psim[(a, b)]`` = pairwise similarity
    (symmetric keys). Each round picks

        argmax  lam * simq[c] - (1 - lam) * max_{s in S} psim[(c, s)]

    with ties broken by ascending candidate id; the redundancy max over
    the empty set is 0. When similarities sit on a decimal grid (the
    corpus rounds cosines to 1e-4) and lam = 1/2, every score is an
    exact binary scaling of grid values, so the selection is
    bit-deterministic across engines — the DuckDB oracle replays the
    same argmax per round.

    This is driver-side control flow over k x |pool| scores; the
    distributed work is producing the pool (ANN top-k at scale). Returns
    [(rank, id, score), ...].
    """
    if k < 1:
        raise ValueError(f"mmr_greedy: k must be >= 1, got {k}")
    chosen: list[tuple[int, object, float]] = []
    sel: list = []  # selection order, for the redundancy max
    sel_set: set = set()  # O(1) membership (sel grows to k)
    for rank in range(1, min(k, len(simq)) + 1):
        best = None
        for c in sorted(simq):
            if c in sel_set:
                continue
            # either key order is accepted; a pair absent from psim
            # contributes similarity 0.0 (documented default — callers
            # that precompute the full pool populate both orders)
            red = max(
                (
                    psim.get((c, s), psim.get((s, c), 0.0))
                    for s in sel
                ),
                default=0.0,
            )
            score = lam * simq[c] - (1 - lam) * red
            if best is None or score > best[1]:
                best = (c, score)
        sel.append(best[0])
        sel_set.add(best[0])
        chosen.append((rank, best[0], best[1]))
    return chosen
