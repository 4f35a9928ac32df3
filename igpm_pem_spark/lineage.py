"""Per-superstep checkpoint + lineage bookkeeping.

The reference checkpoints RWR/EXTRACT state as per-process pickles and
reloads them on restart (``patternmatching/gray/rwr.py:34-54``,
``parallel/gray_mp_rl.py:29-35``). Our equivalent is table-valued:

* state tables (ranks / components / labels) written to
  ``<dir>/state/superstep=K/`` as parquet (Iceberg-shaped: on a real
  cluster these are `writeTo(...).createOrReplace()` Iceberg snapshots)
  and read back under the written schema, so no inference job runs;
* one lineage row per (superstep, partition): partition id, edge count,
  delta-norm, wall-time — the north rule's resumability evidence. The
  driver writes a superstep's rows itself (pyarrow, no Spark job, no
  Python worker) as ONE file, ``<dir>/lineage/part-<K:08d>.parquet``,
  staged under a dot-prefixed name and moved into place with
  ``os.replace``: Spark's reader skips dot files, so it never sees a torn
  file, and a re-run superstep overwrites its own file, so every
  superstep's rows land exactly once;
* a commit marker written only AFTER the state and lineage files, so a
  crash anywhere earlier leaves a resumable prefix (never a torn
  superstep).

Resume = read the newest committed superstep and continue; vertices whose
state already converged are carried, not recomputed (kernel-specific
frontier logic lives with each kernel).

The parquet write/read round-trip doubles as the lineage-truncation
barrier that iterative Spark needs (the classic plan-blowup failure mode).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
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
    """Checkpoint directory manager. ``base_dir=None`` → in-memory only
    (localCheckpoint truncation, no resume)."""

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

    def commit_state(
        self,
        superstep: int,
        state: DataFrame,
        stats: SuperstepStats,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """Materialize a superstep's state (durable parquet, or in-memory
        when no checkpoint dir). The superstep is NOT resumable until
        ``finalize`` runs.

        In-memory mode is a plain eager localCheckpoint: it truncates the
        (otherwise doubling-per-superstep) logical plan. It also erases
        partitioning metadata, costing the state-side exchanges each
        superstep — preserving the partitioning via repartition+persist
        chains was measured SLOWER here (extra exchange + cache churn beat
        the elision win at V ≪ E), so the simple barrier stays.
        """
        self.stats.append(stats)
        if not self.base_dir:
            # NOTE on stats hygiene: localCheckpoint's LogicalRDD leaf
            # inherits the child plan's ESTIMATED sizeInBytes
            # (LogicalRDD.rewriteStatsAndConstraints), and join-bearing
            # supersteps estimate it as the PRODUCT of their inputs — a
            # self-joining kernel squares it every commit, the BigInt's
            # digit count doubles per iteration, and the driver ends up
            # multiplying million-digit numbers inside the stats visitor
            # (measured: 16 s → 44 s → 109 s per superstep on 9k rows).
            # Kernels whose step references state more than once MUST
            # materialize a cache before committing (commit_and_stats
            # does this by running the stats job on a persisted state
            # first) so the leaf inherits real InMemoryRelation bytes.
            # Linear-plan kernels (pagerank's value/delta steps) commit
            # here directly: their estimate grows additively in digits,
            # which stays harmless for hundreds of supersteps.
            #
            # coalesce bounds the checkpointed PARTITION count at the
            # kernel's declared width: a state plan that unions several
            # state-derived branches normally ends each branch at a fresh
            # shuffle (constant width), but a session-level plan change —
            # e.g. a leaked cached edge subtree giving Catalyst accurate
            # small stats and flipping a shuffle join to broadcast — makes
            # branches inherit the carried state's partitioning, and the
            # per-commit union then grows (×branches)^superstep partitions
            # (measured as a 3.6M-task stage storm in the onion peel).
            # Narrow coalesce (no shuffle) is a no-op when width is
            # already ≤ num_partitions.
            if num_partitions:
                state = state.coalesce(num_partitions)
            return state.localCheckpoint(eager=True)
        path = self._state_path(superstep)
        state.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(state.schema).parquet(path)

    def finalize(self, superstep: int, stats: SuperstepStats) -> None:
        """Write the superstep's lineage file + the commit marker — strictly
        AFTER the state parquet commit and stats computation, so a crash
        anywhere earlier leaves a cleanly resumable prefix (never a torn
        superstep). Driver-side file writes only: no Spark job."""
        if not self.base_dir:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

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
