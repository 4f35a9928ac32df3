"""Similarity-search quality gates: the ANN path must actually retrieve
what the exact baseline retrieves (recall@k), not merely run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from igpm_pem_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    hyperplane_buckets,
    near_dup_pairs,
    near_dup_pairs_ann,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ann_recall_at_3_vs_exact(spark):
    """Default config (16 tables × 4 bits) holds recall@3 ≥ 0.8 on the
    near-random synthetic embeddings — the hardest case for hyperplane
    LSH (measured 0.95 when tuned)."""
    e = _emb(spark)
    exact = cosine_topk(e).toPandas()
    approx = ann_lsh_topk(e).toPandas()
    ex = exact.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    ap = approx.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.8, f"recall@3 = {hits}/{total}"


def test_ann_near_dup_finds_bucketed_subset_of_exact(spark):
    """Production near-dup (ANN buckets → exact cosine) returns a subset
    of the exhaustive pair set at the same threshold, and only pairs that
    genuinely clear it."""
    e = _emb(spark)
    full = near_dup_pairs(e, threshold=0.3, subset_mod=1).toPandas()
    annp = near_dup_pairs_ann(e, threshold=0.3).toPandas()
    full_set = {(a, b) for a, b in zip(full.id_a, full.id_b)}
    ann_set = {(a, b) for a, b in zip(annp.id_a, annp.id_b)}
    assert ann_set <= full_set
    assert (annp.cos4 >= 0.3).all()
    # the buckets must retrieve a substantial share of the true pairs
    assert len(ann_set) >= 0.8 * len(full_set)


def test_ann_degenerate_bucket_cap(spark):
    """The degenerate-bucket guard (similarity._capped_signatures): a
    corpus of identical vectors collapses into ONE signature per table —
    exactly the low-entropy shape that would turn the bucket self-join
    quadratic at 100 TB. With the cap below the bucket width every row is
    dropped (counted, logged) and the candidate set is empty; with the
    cap above it, the full pair set comes back — the cap never removes
    pairs from healthy buckets."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(60)]
    e = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    capped = near_dup_pairs_ann(e, threshold=0.5, max_bucket=50).toPandas()
    assert len(capped) == 0
    uncapped = near_dup_pairs_ann(e, threshold=0.5, max_bucket=100).toPandas()
    assert len(uncapped) == 60 * 59 // 2
    topk_capped = ann_lsh_topk(e, query_mod=1, max_bucket=50).toPandas()
    assert len(topk_capped) == 0


def test_ann_releases_signature_cache_when_pair_build_raises(spark, monkeypatch):
    """A pair build that raises must not leak the persisted signature
    relation of either ANN path."""
    cache = spark._jsparkSession.sharedState().cacheManager()

    def boom(*args, **kwargs):
        assert not cache.isEmpty()  # the failure lands while the cache is held
        raise RuntimeError("injected pair-build failure")

    rows = [(i, [float(i % 7), 1.0, float(i % 3), 2.0]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    spark.catalog.clearCache()
    monkeypatch.setattr(type(e), "localCheckpoint", boom)
    for ann in (ann_lsh_topk, near_dup_pairs_ann):
        with pytest.raises(RuntimeError, match="injected"):
            ann(e)
        assert cache.isEmpty()


def test_hyperplane_buckets_deterministic_across_partitionings(spark):
    e = _emb(spark)
    a = hyperplane_buckets(e).orderBy("id", "tbl").select("id", "tbl", "sig")
    b = (
        hyperplane_buckets(e.repartition(13))
        .orderBy("id", "tbl")
        .select("id", "tbl", "sig")
    )
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_split_by_hash_stable_and_stratified(spark):
    """Dataset split: deterministic, append-stable, roughly matching the
    requested proportions."""
    from igpm_pem_spark.operators.sampling import split_by_hash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r.doc_id: r.split for r in split_by_hash(docs, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in split_by_hash(docs.repartition(7), "doc_id").collect()
    }
    assert a == b  # partitioning-independent
    # append-stability: assignments computed on a subset are identical
    half = docs.where("doc_id < 250")
    h = {r.doc_id: r.split for r in split_by_hash(half, "doc_id").collect()}
    assert all(a[k] == v for k, v in h.items())
    from collections import Counter

    frac = Counter(a.values())
    n = len(a)
    assert 0.84 <= frac["train"] / n <= 0.96
    assert frac["val"] > 0 and frac["test"] > 0


def test_bpe_ish_tokens_shape(spark):
    from igpm_pem_spark.functions.text import tokens_bpe_ish

    docs = spark.createDataFrame(
        [(1, "Hello, world! It's x9.")], "doc_id BIGINT, text STRING"
    )
    toks = [r.token for r in tokens_bpe_ish(docs).orderBy("pos").collect()]
    assert toks == ["hello", ",", "world", "!", "it", "'", "s", "x9", "."]


def test_ann_ivf_recall_vs_exact_and_subset_sanity(spark):
    """IVF (kmeans coarse quantizer, nprobe=2 of 8) must hold useful
    recall@3 vs the exact baseline on the near-random embeddings, return
    only true cosines (spot-checked via the exact pair scores), and never
    rank a neighbor outside the probed lists above k."""
    from igpm_pem_spark.operators.similarity import ann_ivf_topk

    e = _emb(spark)
    exact = cosine_topk(e).toPandas()
    approx = ann_ivf_topk(spark, e, k=3, n_clusters=8, nprobe=2).toPandas()
    assert (approx.groupby("query_id").size() <= 3).all()
    ex = exact.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    ap = approx.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    assert set(ap) <= set(ex)  # same deterministic query subset
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    # nprobe=2/8 scans ~a quarter of a near-random corpus; recall is
    # structurally bounded by that coverage — gate well above chance
    assert hits / total >= 0.35, f"ivf recall@3 = {hits}/{total}"
    # scores must agree with the exact computation for shared pairs
    key = ["query_id", "neighbor_id"]
    merged = approx.merge(exact, on=key, suffixes=("_ivf", "_ex"))
    assert (merged.cos4_ivf == merged.cos4_ex).all()


def test_ann_ivf_deterministic_across_partitionings(spark):
    from igpm_pem_spark.operators.similarity import ann_ivf_topk

    e = _emb(spark)
    a = ann_ivf_topk(spark, e.repartition(3)).orderBy("query_id", "neighbor_id")
    b = ann_ivf_topk(spark, e.repartition(11)).orderBy("query_id", "neighbor_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_quantize_int8_roundtrip_and_zeros(spark):
    """Quantized values reconstruct within one quantization step; the
    all-zero vector keeps scale 0 / zero qv instead of dividing by 0."""
    from igpm_pem_spark.operators.similarity import quantize_int8

    rows = [
        (0, [0.5, -1.0, 0.25]),
        (1, [0.0, 0.0, 0.0]),
        (2, [3.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = {r.vec_id: (r.scale, list(r.qv)) for r in quantize_int8(emb).collect()}
    assert got[1] == (0.0, [0, 0, 0])
    assert got[2][1] == [127]
    sc0 = 127.0 / 1.0
    assert got[0][1] == [
        int((x * sc0 + 0.5) // 1) for x in [0.5, -1.0, 0.25]
    ]
    # reconstruction error bounded by half a step
    for x, q in zip([0.5, -1.0, 0.25], got[0][1]):
        assert abs(q / sc0 - x) <= 0.5 / sc0 + 1e-12


def test_hyperplane_buckets_match_catalyst_hof_fold(spark):
    """The Arrow/numpy signature path (r6) must be BIT-identical to the
    previous all-JVM plan: a zip_with/aggregate higher-order fold whose
    accumulation order ((0.0 + x0*w0) + x1*w1) + ... the numpy kernel
    reproduces via per-dimension index-order accumulation. This is the
    property the DuckDB oracle equality rests on, so it is pinned here
    against an inline reference implementation of the old plan."""
    from igpm_pem_spark.operators.similarity import _plane_weight_value

    def hof_reference(emb, n_tables, n_planes, dim):
        table_structs = []
        for t in range(n_tables):
            sig = F.lit(0).cast("long")
            for p in range(n_planes):
                wlit = F.array(
                    *[F.lit(_plane_weight_value(t, p, d)) for d in range(dim)]
                )
                dot = F.aggregate(
                    F.zip_with(
                        F.col("embedding"), wlit,
                        lambda x, w: x.cast("double") * w,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                sig = sig + F.when(dot > 0, F.lit(2**p)).otherwise(F.lit(0))
            table_structs.append(F.struct(F.lit(t).alias("tbl"), sig.alias("sig")))
        return emb.select(
            F.col("vec_id").alias("id"),
            F.explode(F.array(*table_structs)).alias("_ts"),
        ).select("id", F.col("_ts.tbl").alias("tbl"), F.col("_ts.sig").alias("sig"))

    e = _emb(spark)
    dim = len(e.select("embedding").first()[0])
    got = (
        hyperplane_buckets(e, n_tables=3, n_planes=7)
        .select("id", "tbl", "sig")
        .orderBy("id", "tbl")
    )
    want = hof_reference(e, 3, 7, dim).orderBy("id", "tbl")
    assert got.schema.simpleString() == want.schema.simpleString()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
