"""The superstep driver: one loop for every committing iterative kernel.

A kernel supplies a start-state builder, a ``state -> state`` step, the
delta / active expressions over a new state and its stop test
(``delta < tol``, or by default the ``changed`` flag and ``delta == 0``);
``run`` owns everything else:

* **resume** — with a checkpoint directory, the newest committed superstep
  (``LineageLog.last_committed``) is the start state and the loop carries
  on from the superstep after it, so a fresh run takes a fresh directory;
* **conf scope** — the loop runs inside ``loop_confs``;
* **blocks** — up to ``steps_per_commit`` steps are unrolled into one lazy
  plan per commit, so the driver pays one commit per block, not per step;
* **the checkpoint rule** — between the steps of a block the plan is cut
  with a LAZY ``localCheckpoint(eager=False)``: a lazy persist only
  dedupes the physical plan, the analyzer still walks the unrolled tree
  (a step that references state ~3× grew analysis ~3^block per commit;
  block=10 hung the driver), while a lazy checkpoint turns the logical
  plan into a leaf at once and still materializes inside the commit's
  single job (the cache manager does not track it: nothing to
  unpersist). A step that chains several multi-reference operators (CC's
  edge step + pointer-jumping self-join) instead takes an EAGER
  checkpoint after every step, the last included: lazily, each reference
  re-executes and re-analyzes its input (measured 21.9 s vs 10.1 s for
  the same 12 sf0.1 supersteps), and eliding the last checkpoint in
  favor of the commit re-runs that step's E-sized join ~2×. The kernel
  picks the rule from its step's structure (``eager_steps``);
* **the commit** — one ``LineageLog.commit`` per block: persist, one
  stats job over the cache, materialize from the cache, lineage file and
  marker when durable, unpersist on every exit path;
* **fixed iterations** — an in-memory run without a stop test (PageRank
  at ``tol <= 0``, HITS, push, WL, ...) commits every block, the last
  included, with no stats: one eager localCheckpoint, no
  ``close_block`` (its stats read ``delta_norm == -1.0``);
* **caches** — ``released`` unpersists the kernel's inputs on every exit
  path, a raising step included.

Commit stats: a commit with stats runs ONE aggregation job over the
persisted new state, grouped by the state's own partitions, that yields
the global delta norm, the active-vertex count and the per-partition
lineage rows in a single pass; the materialization (parquet round-trip or
localCheckpoint — the lineage-truncation barrier) then reads the cache, so
the commit is 2 jobs, durable or in memory. The durable lineage file and
commit marker are driver-side writes (see lineage.py). Broadcast sides of
a step plan and each kernel's per-call setup add jobs on top (perfbench's
traced ``<kernel>.jobs``).
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..lineage import LineageLog, SuperstepStats

_LOOP_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
_confs_lock = threading.Lock()
_confs_depth = 0
_confs_saved: dict[str, str] = {}


@contextmanager
def loop_confs(spark):
    """Disable AQE + whole-stage codegen while any superstep loop runs.
    Each superstep compiles a FRESH plan, so per-query driver-serial work
    (Janino codegen units, AQE per-stage re-planning) repeats hundreds of
    times and dominates small/medium inputs (PageRank on the sf0.1 graph:
    32.1 → 21.7 s, ranks bit-identical). Scoped to the loops so one-shot
    queries keep AQE's skew handling.

    Reentrant and thread-safe: the first entrant saves and sets the
    confs, the last one out restores them, whatever order scopes on
    different threads close in. The confs are session-wide, so a query
    on another thread during a loop still runs with AQE off."""
    global _confs_depth, _confs_saved
    conf = spark.conf
    with _confs_lock:
        if _confs_depth == 0:
            _confs_saved = {k: conf.get(k, "true") for k in _LOOP_CONFS}
            for k in _LOOP_CONFS:
                conf.set(k, "false")
        _confs_depth += 1
    try:
        yield
    finally:
        with _confs_lock:
            _confs_depth -= 1
            if _confs_depth == 0:
                for k, v in _confs_saved.items():
                    conf.set(k, v)


@contextmanager
def released(*dfs: DataFrame):
    """Unpersist ``dfs`` on every exit path, exceptions included."""
    try:
        yield
    finally:
        for df in dfs:
            df.unpersist()


@dataclass
class RunResult:
    state: DataFrame  # the last committed state
    supersteps: int
    converged: bool
    resumed_from: int | None
    stats: list[SuperstepStats] = field(default_factory=list)


def fixpoint(delta: float) -> bool:
    """Stop test of the kernels whose delta counts changed rows."""
    return delta == 0.0


def run(
    spark: SparkSession,
    start: Callable[[], DataFrame],
    step: Callable[[DataFrame], DataFrame],
    *,
    max_iter: int,
    num_partitions: int | None,
    edge_parts: dict[int, int] | None = None,
    steps_per_commit: int = 1,
    eager_steps: bool = False,
    checkpoint_dir: str | None = None,
    close_block: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    delta: Column | None = None,
    active: Column | None = None,
    until: Callable[[float], bool] | None = fixpoint,
) -> RunResult:
    """Iterate ``step`` from ``start()`` (or the resumed state) until
    ``until(delta)`` holds at a commit or ``max_iter`` supersteps ran.

    ``delta`` / ``active`` are summed / counted over each committed state
    (per partition next to ``edge_parts``' edge counts in the lineage);
    they default to the state's ``changed`` flag, so a fixpoint kernel
    stops once a commit changed nothing. ``until=None`` runs exactly
    ``max_iter`` supersteps. ``close_block(last, first)`` maps a block's
    last state and its start state to the state that is committed: a step
    that carries no per-vertex delta emits it there, with one join per
    commit instead of one per step (skipped with the stats job)."""
    if delta is None:
        delta, active = F.col("changed").cast("double"), F.col("changed")
    # an in-memory run without a stop test reads no stats
    with_stats = until is not None or bool(checkpoint_dir)
    log = LineageLog(spark, checkpoint_dir)
    state, step_no, resumed_from = None, 0, None
    if checkpoint_dir:
        last = log.last_committed()
        if last is not None:
            state = log.load_state(last)
            step_no, resumed_from = last + 1, last
    if state is None:
        state = start()
    converged = False
    with loop_confs(spark):
        while step_no < max_iter:
            t0 = time.time()
            block = min(steps_per_commit, max_iter - step_no)
            new_state = state
            for b in range(block):
                new_state = step(new_state)
                if eager_steps:
                    new_state = new_state.localCheckpoint(eager=True)
                elif b < block - 1:
                    new_state = new_state.localCheckpoint(eager=False)
            step_no += block
            if with_stats and close_block is not None:
                new_state = close_block(new_state, state)
            state = log.commit(
                step_no - 1, new_state, t0,
                num_partitions=num_partitions,
                delta=delta if with_stats else None,
                active=active,
                edge_parts=edge_parts,
            )
            if until is not None and until(log.stats[-1].delta_norm):
                converged = True
                break
    return RunResult(state, step_no, converged, resumed_from, log.stats)


def edge_partition_counts(adj: DataFrame) -> dict[int, int]:
    return {
        int(r["pid"]): int(r["cnt"])
        for r in adj.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
