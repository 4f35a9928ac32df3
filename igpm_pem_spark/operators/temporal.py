"""Time-respecting reachability — earliest-arrival over timestamped edges.

A temporal link graph (crawl snapshots, commit streams, citation dates)
supports paths only where timestamps are non-decreasing along the walk: an
edge (u, v, t) is traversable iff the walker is at u no later than t, and
taking it puts the walker at v at time t. The earliest-arrival fixpoint

    arrival(v) = min over edges (u, v, t) with t >= arrival(u) of t

is the temporal analogue of SSSP (Wu et al., VLDB 2014, "Path Problems in
Temporal Graphs") and the primitive behind influence windows, temporal
diameter, and "when could this page first have been reached from the seed
set". The reference replays arrival buckets but never answers
time-respecting reachability (``incremental/gray_incremental.py`` treats
each cumulative snapshot statically); the relational form below gets it
with the same frontier-restricted superstep as the SSSP kernel.

Correctness of the frontier restriction: arrival times are monotone
non-increasing per vertex, and a smaller arrival is always at least as
permissive (t >= a is implied by t >= a' when a' <= a), so min-merging
candidates per superstep and relaxing only improved vertices explores
every time-respecting path — the same optimal substructure argument as
(min, +). Arrival times are input timestamps VERBATIM (never sums), so
the fixpoint is engine-exact and mirrorable by a bounded recursive-CTE
oracle that min-merges per level.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .graph import kernel_nparts

from ..lineage import SuperstepStats
from ._superstep import edge_partition_counts, released, run


@dataclass
class EarliestArrivalResult:
    arrivals: DataFrame  # (id BIGINT, arrival BIGINT) — reached only
    supersteps: int
    converged: bool
    stats: list[SuperstepStats] = field(default_factory=list)


def _ea_step(state: DataFrame, adj: DataFrame, num_partitions: int) -> DataFrame:
    """One temporal relaxation: improved vertices push every out-edge
    whose timestamp is at or after their arrival; the edge timestamp IS
    the candidate arrival at the head."""
    frontier = state.where("changed").select(
        F.col("id").alias("src"), F.col("arrival").alias("a0")
    )
    raw = (
        adj.join(frontier.hint("shuffle_hash"), "src")
        .where(F.col("ts") >= F.col("a0"))
        .select("dst", F.col("ts").alias("cand"))
    )
    msgs = (
        raw.repartition(num_partitions, "dst")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("cand").alias("cand"))
    )
    return state.join(msgs, "id", "full").select(
        "id",
        F.least(
            F.coalesce(F.col("arrival"), F.col("cand")),
            F.coalesce(F.col("cand"), F.col("arrival")),
        ).alias("arrival"),
        (
            F.col("arrival").isNull()
            | (F.coalesce(F.col("cand"), F.col("arrival")) < F.col("arrival"))
        ).alias("changed"),
    )


# Supersteps of an ``earliest_arrival`` run (an unfinished one returns
# ``converged=False``) and supersteps per commit.
_MAX_ITER = 100
_STEPS_PER_COMMIT = 4


def earliest_arrival(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    directed: bool = True,
    num_partitions: int | None = None,
) -> EarliestArrivalResult:
    """Earliest-arrival times over the edges' ``ts`` from a seed set
    released at time 0.

    Edges are directed by default (temporal semantics are rarely
    symmetric); ``directed=False`` symmetrizes instances, keeping each
    (src, dst, ts) occurrence. Parallel edge instances between the same
    endpoints at different times are the POINT of the model and are all
    kept; duplicates of the same (src, dst, ts) collapse. Seeds arrive
    at 0; vertices with no time-respecting path from any seed are
    absent."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = edges.select(
        "src", "dst", F.col("ts").cast("long").alias("ts")
    ).where(F.col("src") != F.col("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "ts")
        )
    adj = e.distinct().repartition(num_partitions, "src").persist()
    with released(adj):
        res = run(
            spark,
            lambda: spark.createDataFrame(
                [(int(v), 0, True) for v in sources],
                "id BIGINT, arrival BIGINT, changed BOOLEAN",
            ).repartition(num_partitions, "id").localCheckpoint(eager=True),
            lambda s: _ea_step(s, adj, num_partitions),
            max_iter=_MAX_ITER,
            edge_parts=edge_partition_counts(adj),
            num_partitions=num_partitions,
            steps_per_commit=_STEPS_PER_COMMIT,
        )
    return EarliestArrivalResult(
        res.state.select("id", "arrival"), res.supersteps, res.converged,
        res.stats,
    )


def interarrival_burstiness(events: DataFrame, min_gaps: int = 4) -> DataFrame:
    """Goh-Barabasi burstiness of per-user event inter-arrival times
    over ``events(user_id, ts, event_id)``:
    ``(user_id, n_gaps, mean_gap_s6, sd_gap_s6, burstiness6)`` with
    B = (sigma - mu) / (sigma + mu) over the entity's gap distribution —
    B -> -1 for a metronome, 0 for a Poisson process, -> +1 for extreme
    bursts (Goh & Barabasi, EPL 81 (2008): "Burstiness and memory in
    complex systems"). The temporal-stream analogue of the degree-Gini
    skew gate: a crawl/commit stream whose hot entities are bursty wants
    event-time windows sized to the burst, not the mean.

    Gaps are computed in integer microseconds (``unix_micros``) then
    scaled to seconds, so the lag arithmetic is exact and engine-
    portable; the per-entity ordering tie-break (ts, id) is total.
    Scale shape: one window shuffle keyed on the entity (the same
    partitioning every per-entity sessionization already uses) followed
    by a map-side-combinable aggregate; entities below ``min_gaps``
    gaps are filtered before output. sigma is the SAMPLE stddev."""
    w = Window.partitionBy("ent").orderBy("us", "eid")
    gaps = (
        events.select(
            F.col("user_id").alias("ent"),
            # cast handles TIMESTAMP_NTZ parquet columns; gaps are
            # differences, so any fixed zone offset cancels
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.col("event_id").alias("eid"),
        )
        .withColumn("gap_s", (F.col("us") - F.lag("us").over(w)) / F.lit(1000000.0))
        .where(F.col("gap_s").isNotNull())
    )
    stats = gaps.groupBy("ent").agg(
        F.count("*").alias("n_gaps"),
        F.avg("gap_s").alias("m"),
        F.stddev_samp("gap_s").alias("sd"),
    )
    b = F.when(
        F.col("sd") + F.col("m") > 0,
        (F.col("sd") - F.col("m")) / (F.col("sd") + F.col("m")),
    ).otherwise(F.lit(0.0))
    return stats.where(F.col("n_gaps") >= min_gaps).select(
        F.col("ent").alias("user_id"),
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.round("m", 6).alias("mean_gap_s6"),
        F.round("sd", 6).alias("sd_gap_s6"),
        F.round(b, 6).alias("burstiness6"),
    )
