"""Checkpoint/resume: a killed job continues mid-iteration from the newest
committed superstep without recomputing converged vertices (north rule;
mirrors the reference's pickle-checkpoint restart,
``patternmatching/gray/rwr.py:34-54``, ``parallel/gray_mp_rl.py:29-35``)."""

from __future__ import annotations

import os

from igpm_pem_spark.lineage import LineageLog, SuperstepStats
from igpm_pem_spark.operators.components import connected_components
from igpm_pem_spark.operators.pagerank import pagerank
from igpm_pem_spark.sources.fixtures import ba_graph


def _edges(spark):
    _, edges, _ = ba_graph(spark, 100, 4, seed=0)
    return edges


def test_pagerank_resume_continues_and_matches(spark, tmp_path):
    edges = _edges(spark)
    ckpt = str(tmp_path / "pr")

    # fresh, uninterrupted run = ground truth
    full = pagerank(spark, edges, tol=1e-8, max_iter=300)
    assert full.converged

    # "killed" run: stop after 3 supersteps
    partial = pagerank(spark, edges, tol=1e-8, max_iter=3, checkpoint_dir=ckpt)
    assert not partial.converged
    assert partial.supersteps == 3

    # resume: picks up at superstep 3, converges
    resumed = pagerank(spark, edges, tol=1e-8, max_iter=300, checkpoint_dir=ckpt)
    assert resumed.resumed_from == 2
    assert resumed.converged
    # resumed run did NOT redo supersteps 0-2
    assert resumed.stats[0].superstep == 3

    got = {r.id: r["rank"] for r in resumed.ranks.collect()}
    want = {r.id: r["rank"] for r in full.ranks.collect()}
    assert max(abs(got[k] - want[k]) for k in want) < 1e-9

    # lineage table has one row per (superstep, partition), monotone steps
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    rows = lineage.collect()
    steps = sorted({r.superstep for r in rows})
    assert steps[0] == 0 and steps == list(range(len(steps)))
    assert all(r.wall_time_sec >= 0.0 for r in rows)
    assert any(r.edge_count > 0 for r in rows)


def test_seeded_rwr_resume_matches_uninterrupted(spark, tmp_path):
    """Resume must re-attach the restart vector: checkpointed state lacks
    the p column (rank/delta only), so the resumed run rejoins the seeds
    and continues to the same fixpoint."""
    edges = _edges(spark)
    ckpt = str(tmp_path / "rwr")
    pers = {0: 2.0, 1: 1.0}
    full = pagerank(
        spark, edges, alpha=0.3, tol=1e-9, max_iter=300, personalization=pers
    )
    assert full.converged
    partial = pagerank(
        spark, edges, alpha=0.3, tol=1e-9, max_iter=2,
        checkpoint_dir=ckpt, personalization=pers,
    )
    assert not partial.converged
    resumed = pagerank(
        spark, edges, alpha=0.3, tol=1e-9, max_iter=300,
        checkpoint_dir=ckpt, personalization=pers,
    )
    assert resumed.resumed_from == 1 and resumed.converged
    got = {r.id: r["rank"] for r in resumed.ranks.collect()}
    want = {r.id: r["rank"] for r in full.ranks.collect()}
    assert max(abs(got[k] - want[k]) for k in want) < 1e-8


def test_components_resume_skips_settled_vertices(spark, tmp_path):
    edges = _edges(spark)
    ckpt = str(tmp_path / "cc")

    full = connected_components(spark, edges)
    assert full.converged

    partial = connected_components(spark, edges, max_iter=1, checkpoint_dir=ckpt)
    assert not partial.converged

    resumed = connected_components(spark, edges, max_iter=100, checkpoint_dir=ckpt)
    assert resumed.resumed_from == 0
    assert resumed.converged
    # frontier state was restored: resumed run's first superstep only
    # processes still-changing vertices, and totals match the fresh run
    got = {r.id: r.component for r in resumed.components.collect()}
    want = {r.id: r.component for r in full.components.collect()}
    assert got == want
    # the resumed run starts AFTER the committed step 0 (its first commit
    # lands at the end of its first block — per-superstep cadence is no
    # longer the default, see components.steps_per_commit)
    assert resumed.stats[0].superstep >= 1


def test_torn_superstep_is_ignored(spark, tmp_path):
    """A state write without its commit marker (crash between the two)
    must not be resumed from."""
    edges = _edges(spark)
    ckpt = str(tmp_path / "torn")
    partial = pagerank(spark, edges, tol=1e-8, max_iter=2, checkpoint_dir=ckpt)
    assert partial.supersteps == 2
    # simulate crash: superstep 2's parquet exists but marker missing
    state2 = os.path.join(ckpt, "state", "superstep=2")
    os.makedirs(state2, exist_ok=True)
    resumed = pagerank(spark, edges, tol=1e-8, max_iter=300, checkpoint_dir=ckpt)
    assert resumed.resumed_from == 1  # not 2
    assert resumed.converged


def test_crash_before_marker_resumes_with_exactly_once_lineage(spark, tmp_path):
    """A crash after superstep 2's lineage file but before its commit
    marker: resume redoes superstep 2, reaches the uninterrupted answer,
    and the redone superstep's lineage rows replace the first attempt's."""
    edges = _edges(spark)
    ckpt = str(tmp_path / "crash")
    full = pagerank(spark, edges, tol=1e-8, max_iter=300)
    partial = pagerank(spark, edges, tol=1e-8, max_iter=3, checkpoint_dir=ckpt)
    assert partial.supersteps == 3
    os.remove(os.path.join(ckpt, "_committed_2.json"))

    resumed = pagerank(spark, edges, tol=1e-8, max_iter=300, checkpoint_dir=ckpt)
    assert resumed.resumed_from == 1 and resumed.converged
    got = {r.id: r["rank"] for r in resumed.ranks.collect()}
    want = {r.id: r["rank"] for r in full.ranks.collect()}
    assert max(abs(got[k] - want[k]) for k in want) < 1e-9

    keys = [(r.superstep, r.partition_id)
            for r in LineageLog(spark, ckpt).lineage_df().collect()]
    assert len(keys) == len(set(keys))
    assert sorted({s for s, _ in keys}) == list(range(resumed.stats[-1].superstep + 1))


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_durable_commit_spark_work_and_lineage_table(spark, tmp_path):
    """A durable commit is one Spark job (the state write: the read-back
    runs no schema inference); the lineage file and marker are driver
    writes. A lineage directory that still holds a Spark-appended part
    file from an older checkpoint reads as one table with the new files."""
    ckpt = str(tmp_path / "ck")
    log = LineageLog(spark, ckpt)
    state = spark.range(8).selectExpr("id", "CAST(id AS DOUBLE) / 8 AS rank")
    stats = SuperstepStats(
        1, 0.5, 8, 0.1, [{"partition_id": 0, "edge_count": 3, "delta_norm": 0.5}]
    )
    assert _jobs_in_group(
        spark, "durable-commit-state", lambda: log.commit_state(1, state, stats)
    ) == 1
    assert _jobs_in_group(
        spark, "durable-commit-finalize", lambda: log.finalize(1, stats)
    ) == 0
    assert log.last_committed() == 1

    lineage_dir = os.path.join(ckpt, "lineage")
    spark.range(1).selectExpr(
        "CAST(0 AS INT) AS superstep", "CAST(0 AS INT) AS partition_id",
        "CAST(5 AS BIGINT) AS edge_count", "0.25D AS delta_norm",
        "0.5D AS wall_time_sec",
    ).coalesce(1).write.mode("append").parquet(lineage_dir)
    lineage = log.lineage_df()
    assert lineage.schema.simpleString() == (
        "struct<superstep:int,partition_id:int,edge_count:bigint,"
        "delta_norm:double,wall_time_sec:double>"
    )
    want = [(0, 0, 5, 0.25, 0.5), (1, 0, 3, 0.5, 0.1)]
    assert sorted(map(tuple, lineage.collect())) == want
    assert sorted(map(tuple, spark.read.parquet(lineage_dir).collect())) == want


def test_sssp_kill_resume_matches_uninterrupted(spark, tmp_path):
    from pyspark.sql import functions as F

    from igpm_pem_spark.operators.sssp import sssp

    edges = _edges(spark).withColumn(
        "w", (F.col("src") % 5 + 1).cast("double")
    )
    ckpt = str(tmp_path / "sssp")

    full = sssp(spark, edges, 0, weight_col="w")
    assert full.converged

    partial = sssp(spark, edges, 0, weight_col="w", max_iter=2,
                   checkpoint_dir=ckpt)
    assert not partial.converged

    resumed = sssp(spark, edges, 0, weight_col="w", checkpoint_dir=ckpt)
    assert resumed.resumed_from == 1
    assert resumed.converged
    got = {r.id: r.dist for r in resumed.distances.collect()}
    want = {r.id: r.dist for r in full.distances.collect()}
    assert got == want


def test_coreness_kill_resume_matches_uninterrupted(spark, tmp_path):
    from igpm_pem_spark.operators.kcore import coreness_hindex

    edges = _edges(spark)
    ckpt = str(tmp_path / "core")

    full = coreness_hindex(spark, edges)
    assert full.converged
    want = {r.id: r.coreness for r in full.coreness.collect()}

    partial = coreness_hindex(spark, edges, max_rounds=1, checkpoint_dir=ckpt)
    assert not partial.converged and partial.rounds == 1

    resumed = coreness_hindex(spark, edges, checkpoint_dir=ckpt)
    assert resumed.resumed_from == 0
    assert resumed.converged
    assert resumed.stats[0].superstep == 1  # rounds 0 not redone
    got = {r.id: r.coreness for r in resumed.coreness.collect()}
    assert got == want


def test_trussness_kill_resume_matches_uninterrupted(spark, tmp_path):
    from igpm_pem_spark.operators.ktruss import trussness_hindex

    edges = _edges(spark)
    ckpt = str(tmp_path / "truss")

    full = trussness_hindex(spark, edges)
    assert full.converged
    want = {(r.src, r.dst): r.trussness for r in full.trussness.collect()}

    partial = trussness_hindex(spark, edges, max_rounds=1, checkpoint_dir=ckpt)
    assert not partial.converged and partial.rounds == 1

    resumed = trussness_hindex(spark, edges, checkpoint_dir=ckpt)
    assert resumed.resumed_from == 0
    assert resumed.converged
    assert resumed.stats[0].superstep == 1
    got = {(r.src, r.dst): r.trussness for r in resumed.trussness.collect()}
    assert got == want
