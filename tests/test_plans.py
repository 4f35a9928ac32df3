"""Physical-plan quality gates: these pin the plans we designed for, so a
regression that silently de-optimizes (lost pushdown, surprise broadcast,
Python in the hot path) fails loudly."""

from __future__ import annotations

from pyspark.sql import functions as F

from igpm_pem_spark.operators.graph import vertex_ids
from igpm_pem_spark.operators.pagerank import _adjacency_with_degree, _exact_step
from igpm_pem_spark.plans.condition import compile_condition
from igpm_pem_spark.sources.synthetic_graph import synthetic_edges


def _explain(df, mode="formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_parquet_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _explain(q)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters", 1)[1]
    # scan schema carries only the projected+filtered columns
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_pagerank_step_never_broadcasts_state(spark):
    edges = synthetic_edges(spark, 1000, 10000)
    adj = _adjacency_with_degree(edges, False, 4).persist()
    adj.count()
    verts = vertex_ids(adj)
    n = verts.count()
    # production shape: state is a materialized commit (localCheckpoint)
    state = verts.select(
        "id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
    ).localCheckpoint(eager=True)
    plan = _explain(_exact_step(state, adj, None, 0, n, 0.85, 4))
    # the rank-vector side must come in via a shuffled hash join — a
    # broadcast of per-vertex state cannot scale to 1e9 vertices, and its
    # single-threaded build also flattens core scaling (measured)
    assert "ShuffledHashJoin" in plan
    # adjacency is served from cache, not regenerated
    assert "InMemoryTableScan" in plan
    adj.unpersist()


def test_message_agg_layout_pinned_to_adjacency_partitions(spark):
    """The post-join message Exchange must use the ADJACENCY's partition
    count in every kernel (PR, CC, LPA), not the session shuffle default —
    a mismatched default re-buckets V rows every superstep at scale. Built
    with 3 partitions (≠ the session's 4) so the pin is observable."""
    import re

    from igpm_pem_spark.operators.components import _cc_step
    from igpm_pem_spark.operators.labelprop import _lpa_step
    from igpm_pem_spark.operators.pagerank import _exact_step

    edges = synthetic_edges(spark, 500, 3000)
    adj = _adjacency_with_degree(edges, False, 3).persist()
    adj.count()
    verts = vertex_ids(adj)
    n = verts.count()
    pr_state = verts.select(
        "id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
    ).localCheckpoint(eager=True)
    cc_state = verts.select(
        "id", F.col("id").alias("component"), F.lit(True).alias("changed")
    ).localCheckpoint(eager=True)
    lpa_state = verts.select(
        "id", F.col("id").alias("label"), F.lit(True).alias("changed")
    ).localCheckpoint(eager=True)
    for step_df in (
        _exact_step(pr_state, adj, None, 0, n, 0.85, 3),
        _cc_step(cc_state, adj, 3),
        _lpa_step(lpa_state, adj, 3),
    ):
        plan = _explain(step_df)
        assert re.search(r"hashpartitioning\(dst#\d+L?, 3\)", plan), plan[:2000]
    adj.unpersist()


def test_dedup_plans_have_no_single_partition_exchange(spark):
    """The hash-tid path must keep minhash/simhash/fingerprint/LSH free of
    any single-partition Exchange or global Sort — the dense_rank vocab was
    a scale-killer (every distinct token through one reducer)."""
    from igpm_pem_spark.functions.text import fingerprint
    from igpm_pem_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for build in (minhash_signatures, simhash, fingerprint, lsh_candidate_pairs):
        plan = _explain(build(docs))
        assert "SinglePartition" not in plan, build.__name__
        assert "rangepartitioning" not in plan.lower(), build.__name__


def test_lsh_jaccard_shares_subplans_via_cache(spark):
    """The verify-join must evaluate the candidate-pair and n-gram
    relations ONCE (shared, then materialized), not re-derive the
    tokenize→minhash→band chain per reference. Since round 4 the
    builder eagerly materializes the verified pairs (localCheckpoint)
    and releases its caches, so the returned plan is a checkpoint scan
    with zero residual parquet re-derivation and zero leaked caches."""
    from igpm_pem_spark.operators.dedup import lsh_jaccard_pairs

    # this test audits the BUILDER's cache hygiene — start from a clean
    # cache manager so a stray entry from an unrelated earlier test (the
    # suite shares one session) can't fail the isEmpty() check below
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = lsh_jaccard_pairs(docs, threshold=0.5)
    plan = _explain(out)
    # fully materialized: no re-scan of the source, no re-derivation
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    # cache hygiene: the builder released its band/n-gram DataFrame
    # caches (the RDDs that remain persistent are the localCheckpoint
    # blocks backing the returned result — those are the point)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_condition_compiles_without_python_udf(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "x_a DOUBLE, x_b DOUBLE")
    q = df.where(compile_condition("x.a * 2 - 1 > 0 AND NOT x.b == 5"))
    plan = _explain(q)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_import_parser_default_is_pure_jvm(spark):
    from igpm_pem_spark.sources.code_imports import parse_import_statements
    from igpm_pem_spark.sources.repo_files import generate_repo_files

    # materialize the synthetic input first — the generator itself is
    # mapInPandas, and this test is about the PARSER's plan only
    rf = generate_repo_files(spark, n_repos=2, files_per_repo=5).localCheckpoint(
        eager=True
    )
    plan = _explain(parse_import_statements(rf))
    # default engine: regexp inside codegen — content never leaves the JVM
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_import_parser_arrow_variant_is_vectorized(spark):
    from igpm_pem_spark.sources.code_imports import parse_import_statements
    from igpm_pem_spark.sources.repo_files import generate_repo_files

    rf = generate_repo_files(spark, n_repos=2, files_per_repo=5)
    plan = _explain(parse_import_statements(rf, engine="arrow"))
    # mapInPandas shows as MapInPandas (Arrow), never row-wise BatchEvalPython
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan

def test_new_kernel_message_layouts_pinned(spark):
    """SSSP and HITS message aggregates must inherit the adjacency's
    partition count, like PR/CC/LPA (built with 3 != session's 4 so the
    pin is observable)."""
    import re

    from igpm_pem_spark.operators.hits import _message_graph
    from igpm_pem_spark.operators.sssp import _prep, _sssp_step

    edges = synthetic_edges(spark, 500, 3000).withColumn(
        "w", F.lit(1.0)
    )
    adj = _prep(edges, "w", directed=False).repartition(3, "src").persist()
    adj.count()
    state = spark.createDataFrame(
        [(0, 0.0, True)], "id BIGINT, dist DOUBLE, changed BOOLEAN"
    ).localCheckpoint(eager=True)
    plan = _explain(_sssp_step(state, adj, 3))
    assert re.search(r"hashpartitioning\(dst#\d+L?, 3\)", plan), plan[:2000]
    adj.unpersist()

    # HITS: one join+agg per superstep over the bipartite message graph,
    # aggregate exchange on (tid, ts) with the pinned count
    e = synthetic_edges(spark, 300, 1500)
    w = e.withColumn("w", F.lit(1.0))
    bm = _message_graph(e, w, w).repartition(3, "fid").persist()
    bm.count()
    st = (
        bm.select(F.col("fid").alias("id"), F.col("fs").alias("side"))
        .distinct()
        .withColumn("val", F.lit(1.0))
        .localCheckpoint(eager=True)
    )
    msgs = bm.join(
        st.hint("shuffle_hash"),
        (bm["fid"] == st["id"]) & (bm["fs"] == st["side"]),
    ).select("tid", "ts", (F.col("val") * F.col("w")).alias("m"))
    agg = (
        msgs.repartition(3, "tid", "ts")
        .groupBy(F.col("tid").alias("id"), F.col("ts").alias("side"))
        .agg(F.sum("m").alias("val"))
    )
    plan = _explain(agg)
    assert re.search(r"hashpartitioning\(tid#\d+L?, ts#\d+, 3\)", plan), plan[:2000]
    bm.unpersist()
