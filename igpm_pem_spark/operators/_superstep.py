"""Shared superstep bookkeeping: commit state + one stats job.

Every kernel commits its new state (parquet round-trip or localCheckpoint —
the lineage-truncation barrier) and then runs a SINGLE aggregation job,
grouped by physical partition id, that yields the global delta norm, the
active-vertex count, and the per-partition lineage rows in one pass. A
commit therefore runs two Spark jobs of its own (materialize + stats);
the durable lineage file and commit marker are driver-side writes (see
lineage.py). Broadcast sides of a step plan and each kernel's per-call
setup add jobs on top (perfbench's traced ``<kernel>.jobs`` counts them).
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, functions as F

from ..lineage import LineageLog, SuperstepStats


@contextmanager
def loop_confs(spark):
    """Disable AQE + whole-stage codegen for the duration of a superstep
    loop, restoring the session values after. Each superstep compiles a
    FRESH plan, so per-query driver-serial work (Janino codegen units,
    AQE per-stage re-planning) repeats hundreds of times and dominates
    small/medium inputs — the same trade the scaling bench applies
    session-wide (bench.py scaling notes), scoped here to the loop so
    one-shot queries in the same session keep AQE's skew handling."""
    conf = spark.conf
    saved = {
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled", "true"),
        "spark.sql.codegen.wholeStage": conf.get("spark.sql.codegen.wholeStage", "true"),
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.codegen.wholeStage", "false")
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def commit_and_stats(
    log: LineageLog,
    step: int,
    new_state: DataFrame,
    delta_expr: Column,
    active_expr: Column,
    edge_parts: dict[int, int],
    t0: float,
    num_partitions: int | None = None,
) -> tuple[DataFrame, float, int]:
    """Materialize ``new_state``, aggregate ``delta_expr`` / ``active_expr``
    per physical partition in one job, then finalize the superstep's
    lineage rows + commit marker. Returns (committed_state, delta,
    n_active). The stats job doubles as the cache-population action for
    in-memory commits."""
    if num_partitions is None:
        num_partitions = new_state.sparkSession.sparkContext.defaultParallelism
    if log.base_dir:
        committed = log.commit_state(
            step, new_state, SuperstepStats(step, -1.0, -1, 0.0),
            num_partitions=num_partitions,
        )
        stats_src = committed
        cached = None
    else:
        # in-memory commits: run the stats job over a PERSISTED state
        # FIRST, so the localCheckpoint that follows reads the
        # materialized InMemoryRelation and inherits its real byte size
        # instead of the join-product estimate (see commit_state's stats-
        # hygiene note — self-joining kernels square the estimate per
        # commit otherwise). Same two jobs as before, reordered;
        # localCheckpoint preserves the underlying partitioning, so the
        # per-partition lineage rows are identical either way.
        cached = new_state.persist()
        stats_src = cached
    rows = (
        stats_src.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.sum(delta_expr).alias("d"),
            F.sum(active_expr.cast("long")).alias("a"),
        )
        .collect()
    )
    if not log.base_dir:
        committed = log.commit_state(
            step, cached, SuperstepStats(step, -1.0, -1, 0.0),
            num_partitions=num_partitions,
        )
        cached.unpersist()
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
    log.finalize(step, st)
    return committed, delta, active


def edge_partition_counts(adj: DataFrame) -> dict[int, int]:
    return {
        int(r["pid"]): int(r["cnt"])
        for r in adj.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
