"""d-hop halo (ghost-vertex overlap) partitioning — the latency trade the
reference's ``patternmatching/subgraph/overlap.py:8-46`` makes: replicate
each partition's ≤d-hop neighborhood (vertices AND induced edges) into the
partition, so ≤d-hop path work runs PARTITION-LOCALLY with no
per-superstep exchange. The engine's default stance is the opposite — the
shuffle exchange IS the overlap (operators/graph.py module docstring) —
but at wide-fan-out deployments a d-hop-bounded workload (ego features,
short path counting, local motifs) pays d exchanges per query under the
shuffle stance and ZERO under the halo, at the price of one halo build
plus edge replication proportional to the d-hop ball overlap.

Spark realization (no DFS, no driver loops over partitions):

* ownership: ``owner(v) = pmod(xxhash64(v), k)`` — deterministic,
  engine-portable (the oracle recomputes it in SQL).
* ball expansion: d rounds of ``ball ⋈ adjacency`` + distinct — each round
  is one equi-join + dedup, the same shape as a frontier superstep, run d
  times AT BUILD TIME instead of per query.
* halo edges: the adjacency joined against the ball on BOTH endpoints
  per partition (the reference's induced ``g.subgraph(nodes)``), emitted
  as (part, src, dst, src_owned) and hash-partitioned by part.

Downstream ≤d-hop work then runs as ``groupBy("part").applyInPandas`` —
Arrow-batched, one task per partition, zero shuffles after the build —
with results kept only for OWNED vertices (ghost results are the
replicas' responsibility elsewhere), which makes the halo computation
exactly equal to the global one (tests pin equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._superstep import released
from .graph import simple_edges


def owner_expr(col, num_partitions: int):
    """Deterministic vertex → partition assignment. Ownership never
    reaches a consumer's RESULT (each vertex's answer is computed in
    exactly one partition and is partition-independent), so oracles
    check halo computations against plain global SQL with no hash
    mirroring."""
    return F.pmod(F.xxhash64(col), F.lit(num_partitions)).cast("int")


def halo_partitions(
    edges: DataFrame,
    num_partitions: int,
    depth: int = 2,
) -> DataFrame:
    """(part, src, dst, src_owned): every partition's induced subgraph
    over the ≤``depth``-hop ball around its owned vertices, replicated
    edge rows included — ``create_overlap`` (overlap.py:8-46) for all
    partitions at once, as ``depth`` joins instead of a per-partition
    DFS. ``src_owned`` marks rows whose src the partition owns (the only
    vertices whose results a consumer keeps).

    The returned halo is MATERIALIZED (eager localCheckpoint) and every
    build-time cache is released before returning: the build persists its
    ``sym``/``ball`` intermediates, and leaving them registered in the
    session's CacheManager after the build would silently substitute the
    cached ``simple_edges`` subtree into LATER queries' plans — with
    accurate in-memory stats, Catalyst then flips their shuffle joins to
    broadcast, and any superstep loop whose state unions several
    state-derived branches inherits (×branches)^round partition growth
    (measured: the onion peel went 24 s → 3.6M-task stage storm at
    sf0.01). A built artifact must not leak planner state."""
    if depth < 1:
        raise ValueError(f"halo_partitions: depth must be >= 1, got {depth}")
    sym = simple_edges(edges, directed=False).persist()
    with released(sym):
        verts = sym.select("src").distinct().select(F.col("src").alias("id"))
        ball = verts.select(owner_expr(F.col("id"), num_partitions).alias("part"), "id")
        # d expansion rounds: ball ∪ neighbors(ball), per partition. Persist
        # each round — the next round and the two endpoint joins below all
        # re-read it, and the expansion join re-deriving the tokenized chain
        # per reference is the same trap the LSH band build documents.
        ball = ball.persist()
        for _ in range(depth):
            with released(ball):
                grown = (
                    ball.join(sym.select(F.col("src").alias("id"), "dst"), "id")
                    .select("part", F.col("dst").alias("id"))
                    .unionByName(ball)
                    .distinct()
                    .persist()
                )
                grown.count()
            ball = grown
        with released(ball):
            # induced edges: both endpoints inside the partition's ball
            bs = ball.select("part", F.col("id").alias("src"))
            bd = ball.select("part", F.col("id").alias("dst"))
            halo = (
                sym.join(bs, "src")
                .join(bd, ["part", "dst"])
                .select(
                    "part", "src", "dst",
                    (owner_expr(F.col("src"), num_partitions) == F.col("part")).alias(
                        "src_owned"
                    ),
                )
                .repartition(num_partitions, "part")
                .localCheckpoint(eager=True)
            )
    return halo


def halo_replication_factor(halo: DataFrame, edges: DataFrame) -> float:
    """Replicated-edge blowup: halo rows / symmetrized simple edges — the
    storage/shuffle cost the d-hop locality is bought with (the BENCH row
    quantifying the reference's overlap trade)."""
    m = simple_edges(edges, directed=False).count()
    return float(halo.count()) / float(m) if m else float("nan")


def halo_two_hop_counts(halo: DataFrame) -> DataFrame:
    """(id, n2): for every OWNED vertex, the number of distinct vertices
    within ≤2 hops (self excluded) — computed entirely inside each halo
    partition with ``applyInPandas`` (one Arrow batch per partition, NO
    exchange after the halo build; the depth-2 ball contains every such
    path by construction). The canonical consumer shape for halo
    partitions; tests + the driver oracle pin equality with the global
    two-join computation."""
    import pandas as pd

    def _two_hop(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict[int, set[int]] = {}
        for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            adj.setdefault(int(s), set()).add(int(d))
        owned = set(
            int(s) for s, o in zip(pdf["src"].to_numpy(), pdf["src_owned"].to_numpy()) if o
        )
        out_id, out_n = [], []
        for u in sorted(owned):
            ball = set(adj.get(u, ()))
            for w in list(ball):
                ball |= adj.get(w, set())
            ball.discard(u)
            out_id.append(u)
            out_n.append(len(ball))
        return pd.DataFrame({"id": out_id, "n2": out_n})

    return (
        halo.groupBy("part")
        .applyInPandas(_two_hop, schema="id long, n2 long")
        .select("id", F.col("n2").cast("long").alias("n2"))
    )
