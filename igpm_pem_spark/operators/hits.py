"""HITS (hubs & authorities) — directed link-analysis kernel.

The reference ranks pattern matches by seeded-RWR proximity
(``patternmatching/gray/rwr.py``); HITS is the complementary directed
link-analysis primitive a link-graph engine is expected to ship alongside
PageRank (same message-passing skeleton, two mutually-recursive scores).

Semantics (the spec the SQL oracle mirrors exactly):

* simple directed graph (parallel edges collapsed, self-loops dropped)
* simultaneous (Jacobi) power iteration::

      auth_t(v) = sum over edges (u,v) of hub_{t-1}(u)
      hub_t(u)  = sum over edges (u,v) of auth_{t-1}(v)

  for a fixed number of supersteps, starting from hub_0 = auth_0 = 1,
  with final L1 normalization (hub / sum(hub), auth / sum(auth)).
  Per-step normalization is deliberately folded into the final one —
  it only rescales the vectors, and omitting it keeps the recursive-CTE
  oracle a single aggregate per round.

Distributed plan: both score families ride ONE join + ONE aggregate per
superstep by rewriting the two mutual recursions over a static *bipartite
message graph*::

    bm = {(src,'h') -> (dst,'a'), (dst,'a') -> (src,'h')}  weight 1
       ∪ {(id,s) -> (id,s)}                                weight 0

and keeping the state long-format (id, side, val). The weight-0 self
messages keep every (id, side) row alive through the aggregate (a vertex
with no in-edges holds auth 0 instead of vanishing) — the same trick the
CC oracle uses for label carry. bm is hash-partitioned once and reused
every superstep; the message aggregate is repartition-then-sum pinned to
bm's layout (see pagerank._group_sum for why map-side combine on
~V-cardinality keys is the scale trap).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._superstep import released, run
from .graph import kernel_nparts, simple_edges, vertex_ids


@dataclass
class HitsResult:
    scores: DataFrame  # (id BIGINT, hub DOUBLE, auth DOUBLE) — L1-normalized
    supersteps: int


def _message_graph(e: DataFrame, fwd: DataFrame, bwd: DataFrame) -> DataFrame:
    """Static bipartite message graph (fid, fs, tid, ts, w) from the
    weighted rows (src, dst, w) of the edges ``e``: ``fwd`` carries
    hub(src) to auth(dst), ``bwd`` carries auth(dst) back to hub(src);
    every (id, side) of ``e`` also gets its weight-0 keep-alive self
    message."""
    f = fwd.select(
        F.col("src").alias("fid"), F.lit("h").alias("fs"),
        F.col("dst").alias("tid"), F.lit("a").alias("ts"), "w",
    )
    b = bwd.select(
        F.col("dst").alias("fid"), F.lit("a").alias("fs"),
        F.col("src").alias("tid"), F.lit("h").alias("ts"), "w",
    )
    ids = vertex_ids(e)
    keep = ids.crossJoin(
        F.broadcast(
            ids.sparkSession.createDataFrame([("h",), ("a",)], "side STRING")
        )
    ).select(
        F.col("id").alias("fid"), F.col("side").alias("fs"),
        F.col("id").alias("tid"), F.col("side").alias("ts"),
        F.lit(0.0).alias("w"),
    )
    return f.unionByName(b).unionByName(keep)


def _hub_auth_step(state: DataFrame, bm: DataFrame, n_parts: int) -> DataFrame:
    msgs = bm.join(
        state.hint("shuffle_hash"),
        (bm["fid"] == state["id"]) & (bm["fs"] == state["side"]),
    ).select("tid", "ts", (F.col("val") * F.col("w")).alias("m"))
    return (
        msgs.repartition(n_parts, "tid", "ts")
        .groupBy(F.col("tid").alias("id"), F.col("ts").alias("side"))
        .agg(F.sum("m").alias("val"))
    )


def _hub_auth(
    e: DataFrame, fwd: DataFrame, bwd: DataFrame, max_iter: int,
    num_partitions: int,
) -> HitsResult:
    """The HITS/SALSA kernel: ``max_iter`` Jacobi supersteps over the
    message graph of ``fwd`` / ``bwd``, one commit each, then the final
    L1 normalization and the (id, hub, auth) pivot."""
    bm = _message_graph(e, fwd, bwd).repartition(num_partitions, "fid").persist()
    with released(bm):
        state = run(
            bm.sparkSession,
            lambda: bm.select(F.col("fid").alias("id"), F.col("fs").alias("side"))
            .distinct()
            .withColumn("val", F.lit(1.0))
            .localCheckpoint(eager=True),
            lambda s: _hub_auth_step(s, bm, num_partitions),
            until=None,
            max_iter=max_iter,
            num_partitions=num_partitions,
        ).state
    totals = state.groupBy("side").agg(F.sum("val").alias("s"))
    norm = state.join(F.broadcast(totals), "side").select(
        "id", "side", (F.col("val") / F.col("s")).alias("val")
    )
    wide = norm.groupBy("id").pivot("side", ["h", "a"]).agg(F.first("val"))
    return HitsResult(
        wide.select(
            "id", F.col("h").alias("hub"), F.col("a").alias("auth")
        ),
        max_iter,
    )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 8,
    num_partitions: int | None = None,
) -> HitsResult:
    """Fixed-iteration HITS over the directed simple graph of ``edges``."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = simple_edges(edges, directed=True)
    w = e.withColumn("w", F.lit(1.0))
    return _hub_auth(e, w, w, max_iter, num_partitions)


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 8,
    num_partitions: int | None = None,
) -> HitsResult:
    """Fixed-iteration SALSA (Lempel & Moran, WWW'00) — the stochastic
    sibling of HITS: each propagation divides by the sending side's degree,
    so hubs/authorities perform coupled random walks instead of raw
    mass accumulation (TKC-effect resistant).  Spec the oracle mirrors::

        auth_t(v) = sum over (u,v) of hub_{t-1}(u)  / outdeg(u)
        hub_t(u)  = sum over (u,v) of auth_{t-1}(v) / indeg(v)

    simultaneous (Jacobi) updates from hub_0 = auth_0 = 1, final L1
    normalization only.  The ``hits`` kernel with degree-normalized
    message weights (fwd w = 1/outdeg(src), bwd w = 1/indeg(dst))."""
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    e = simple_edges(edges, directed=True)
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    indeg = e.groupBy("dst").agg(F.count("*").alias("idg"))
    fwd = e.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("od")).alias("w")
    )
    bwd = e.join(indeg, "dst").select(
        "src", "dst", (F.lit(1.0) / F.col("idg")).alias("w")
    )
    return _hub_auth(e, fwd, bwd, max_iter, num_partitions)
