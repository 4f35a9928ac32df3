"""Per-superstep checkpoint + lineage bookkeeping.

The reference checkpoints RWR/EXTRACT state as per-process pickles and
reloads them on restart (``patternmatching/gray/rwr.py:34-54``,
``parallel/gray_mp_rl.py:29-35``). Our equivalent is table-valued:

* state tables (ranks / components / labels) written to
  ``<dir>/state/superstep=K/`` as parquet (Iceberg-shaped: on a real
  cluster these are `writeTo(...).createOrReplace()` Iceberg snapshots)
  and read back under the written schema, so no inference job runs;
* one lineage row per (superstep, partition): the id of the committed
  state's own partition, its edge count, delta-norm and wall-time — the
  north rule's resumability evidence. The stats job that yields them runs
  over the persisted state BEFORE it is written, so a durable row names
  the same partition as an in-memory run's row (a read-back's splits are
  ordered by file size and may pack several files into one). The driver
  writes a superstep's rows itself (pyarrow, no Spark job, no Python
  worker) as ONE file, ``<dir>/lineage/part-<K:08d>.parquet``, staged
  under a dot-prefixed name and moved into place with ``os.replace``:
  Spark's reader skips dot files, so it never sees a torn file, and a
  re-run superstep overwrites its own file, so every superstep's rows
  land exactly once;
* a commit marker written only AFTER the state and lineage files, so a
  crash anywhere earlier leaves a resumable prefix (never a torn
  superstep).

``LineageLog.commit`` is the one commit path: the superstep driver, the
onion peel and both minimum-spanning-forest logs call it, durable or in
memory (no checkpoint directory: an eager localCheckpoint, no resume).

Resume = read the newest committed superstep and continue; vertices whose
state already converged are carried, not recomputed (kernel-specific
frontier logic lives with each kernel).

The parquet write/read round-trip (or the localCheckpoint) doubles as the
lineage-truncation barrier that iterative Spark needs (the classic
plan-blowup failure mode).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# the columns and types of the Spark-written lineage files of older
# checkpoints too, so old and new files read as one table
LINEAGE_SCHEMA = StructType([
    StructField("superstep", IntegerType()),
    StructField("partition_id", IntegerType()),
    StructField("edge_count", LongType()),
    StructField("delta_norm", DoubleType()),
    StructField("wall_time_sec", DoubleType()),
])


@dataclass
class SuperstepStats:
    superstep: int
    delta_norm: float
    active_vertices: int
    wall_time_sec: float
    partition_stats: list[dict] = field(default_factory=list)


class LineageLog:
    """Checkpoint directory manager and the superstep commit.
    ``base_dir=None`` → in-memory only (localCheckpoint truncation, no
    resume)."""

    def __init__(self, spark: SparkSession, base_dir: str | None):
        self.spark = spark
        self.base_dir = base_dir
        self.stats: list[SuperstepStats] = []
        if base_dir:
            os.makedirs(os.path.join(base_dir, "state"), exist_ok=True)
            os.makedirs(os.path.join(base_dir, "lineage"), exist_ok=True)

    # -- state tables -------------------------------------------------
    def _state_path(self, superstep: int) -> str:
        return os.path.join(self.base_dir, "state", f"superstep={superstep}")

    def _marker_path(self, superstep: int) -> str:
        return os.path.join(self.base_dir, f"_committed_{superstep}.json")

    def commit(
        self,
        superstep: int,
        state: DataFrame,
        t0: float,
        *,
        num_partitions: int | None = None,
        delta: Column | None = None,
        active: Column | None = None,
        edge_parts: dict[int, int] | None = None,
    ) -> DataFrame:
        """Commit ``state`` as ``superstep`` (a round started at ``t0``),
        append its complete ``SuperstepStats`` and return the committed
        state.

        With stats (``delta`` / ``active``, summed / counted per partition)
        or durable, in this order: persist the state; run ONE stats job
        over that cache, grouped by the state's own partitions (each
        partition's delta next to its ``edge_parts`` edge count);
        materialize from the cache (eager localCheckpoint, or a parquet
        write read back under the written schema: no inference job); when
        durable, write the lineage file, then the marker (driver-side, no
        job); unpersist the cache on every exit path. The stats job fills
        the cache the materialization reads, so a stats commit is 2 jobs,
        durable or in memory. In memory without stats (the fixed-iteration
        kernels) it is one eager localCheckpoint; stats-less commits log
        ``delta_norm == -1.0``.

        Estimate hygiene: localCheckpoint's LogicalRDD leaf inherits the
        child plan's ESTIMATED sizeInBytes, and a join-bearing step
        estimates it as the PRODUCT of its inputs: a self-joining kernel
        squares it every commit and the driver ends up multiplying
        million-digit numbers in the stats visitor (measured: 16 s → 44 s
        → 109 s per superstep on 9k rows). Checkpointing the PERSISTED
        state gives the leaf the cache's real byte size. A stats-less
        commit keeps the estimate: a linear step (PageRank at
        ``tol <= 0``, HITS, ...) grows it additively in digits; push and
        WL (two state references) run few rounds."""
        if delta is None and not self.base_dir:
            committed = self._checkpoint(state, num_partitions)
            self.stats.append(
                SuperstepStats(superstep, -1.0, -1, time.time() - t0)
            )
            return committed
        cached = state.persist()
        try:
            d, a, parts = -1.0, -1, []
            if delta is not None:
                rows = (
                    cached.groupBy(F.spark_partition_id().alias("pid"))
                    .agg(
                        F.sum(delta).alias("d"),
                        F.sum(active.cast("long")).alias("a"),
                    )
                    .collect()
                )
                d = sum(float(r["d"] or 0.0) for r in rows)
                a = sum(int(r["a"] or 0) for r in rows)
                parts = [
                    {
                        "partition_id": int(r["pid"]),
                        "edge_count": (edge_parts or {}).get(int(r["pid"]), 0),
                        "delta_norm": float(r["d"] or 0.0),
                    }
                    for r in rows
                ]
            if self.base_dir:
                path = self._state_path(superstep)
                cached.write.mode("overwrite").parquet(path)
                committed = self.spark.read.schema(state.schema).parquet(path)
            else:
                committed = self._checkpoint(cached, num_partitions)
            st = SuperstepStats(superstep, d, a, time.time() - t0, parts)
            if self.base_dir:
                self._write_lineage(st)
            self.stats.append(st)
            return committed
        finally:
            cached.unpersist()

    @staticmethod
    def _checkpoint(state: DataFrame, num_partitions: int | None) -> DataFrame:
        """Eager localCheckpoint: truncates the (otherwise growing) plan.

        Coalesce bounds the checkpointed PARTITION count at the kernel's
        declared width: a state plan that unions several state-derived
        branches normally ends each branch at a fresh shuffle (constant
        width), but a session-level plan change (e.g. a leaked cached edge
        subtree giving Catalyst accurate small stats and flipping a shuffle
        join to broadcast) makes branches inherit the carried state's
        partitioning, and the per-commit union then grows
        (×branches)^superstep partitions (measured as a 3.6M-task stage
        storm in the onion peel). Only a wider state is coalesced: coalesce
        drops the plan's known hash partitioning, and a state that keeps it
        (PageRank's ranks are hash-partitioned by id) spares the next
        superstep's state-side exchange and its consumers' shuffles. The
        width is read off the plan localCheckpoint executes next (no second
        planning pass, unlike DataFrame.rdd)."""
        if num_partitions and (
            state._jdf.queryExecution().toRdd().getNumPartitions()
            > num_partitions
        ):
            state = state.coalesce(num_partitions)
        return state.localCheckpoint(eager=True)

    def _write_lineage(self, stats: SuperstepStats) -> None:
        """The superstep's lineage file, then its commit marker: a crash
        anywhere earlier in the commit leaves a cleanly resumable prefix
        (never a torn superstep). Driver-side file writes only: no Spark
        job."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        superstep = stats.superstep
        parts = stats.partition_stats or [{"partition_id": -1}]
        rows = pa.Table.from_pydict(
            {
                "superstep": [superstep] * len(parts),
                "partition_id": [int(p.get("partition_id", -1)) for p in parts],
                "edge_count": [int(p.get("edge_count", 0)) for p in parts],
                "delta_norm": [float(p.get("delta_norm", 0.0)) for p in parts],
                "wall_time_sec": [float(stats.wall_time_sec)] * len(parts),
            },
            schema=to_arrow_schema(LINEAGE_SCHEMA),
        )
        lineage_dir = os.path.join(self.base_dir, "lineage")
        name = f"part-{superstep:08d}.parquet"
        tmp = os.path.join(lineage_dir, f".{name}.tmp")
        pq.write_table(rows, tmp)
        os.replace(tmp, os.path.join(lineage_dir, name))
        # marker last: a superstep is resumable only once fully durable
        with open(self._marker_path(superstep), "w") as f:
            json.dump(
                {
                    "superstep": superstep,
                    "delta_norm": stats.delta_norm,
                    "active_vertices": stats.active_vertices,
                    "wall_time_sec": stats.wall_time_sec,
                    "committed_at": time.time(),
                },
                f,
            )

    def last_committed(self) -> int | None:
        """Newest superstep with a commit marker, or None."""
        if not self.base_dir:
            return None
        best = None
        for name in os.listdir(self.base_dir):
            if name.startswith("_committed_") and name.endswith(".json"):
                k = int(name[len("_committed_") : -len(".json")])
                best = k if best is None else max(best, k)
        return best

    def load_state(self, superstep: int) -> DataFrame:
        return self.spark.read.parquet(self._state_path(superstep))

    def lineage_df(self) -> DataFrame | None:
        if not self.base_dir:
            return None
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.base_dir, "lineage")
        )
