"""Deterministic random walks — embedding-training corpus generation.

DeepWalk/node2vec-style pipelines start from a corpus of random walks
whose co-occurring vertices become skip-gram training pairs. This
operator generates that corpus DataFrame-first and fully deterministic:
the "random" next-step choice is a portable linear-congruential hash of
(seed, walk, step, current vertex) mod the vertex's degree — pure 64-bit
integer arithmetic, identical in any SQL engine, reproducible across
partitionings and runs (the property a training pipeline actually needs:
re-running the job yields byte-identical corpora).

Plan shape: the neighbor table gets a per-vertex 0-based index once (one
window over the src-partitioned adjacency — at extreme scale you'd bucket
this, but it is a one-time cost reused by every step); each walk step is
then ONE equi-join on (vertex, chosen index). ``walk_len`` unrolled
joins, no Python, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._superstep import released
from .graph import simple_edges

# LCG-style mixing constants; intermediates bounded by
# A3 * max_id ≈ 2.7e9 * 1e12 — keep ids < ~3e9 or re-mod first. For the
# driver tables (part keys ≤ 2e5) max intermediate ≈ 5e14 << 2^63.
WALK_A1 = 1_103_515_245
WALK_A2 = 12_345_679
WALK_A3 = 2_654_435_761
WALK_M = 2_147_483_647  # 2^31 - 1


def _choice_expr(walk_id, step: int, cur, deg, seed: int):
    h = (
        F.lit(WALK_A1) * walk_id
        + F.lit(WALK_A2) * F.lit(step)
        + F.lit(WALK_A3) * cur
        + F.lit(seed)
    ) % F.lit(WALK_M)
    return h % deg


def choice_sql(walk_id: str, step: str, cur: str, deg: str, seed: int) -> str:
    """DuckDB SQL text of the same next-step choice."""
    return (
        f"(({WALK_A1} * {walk_id} + {WALK_A2} * {step} + {WALK_A3} * {cur}"
        f" + {seed}) % {WALK_M}) % {deg}"
    )


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_vertex: int = 2,
    seed: int = 1,
) -> DataFrame:
    """(walk_id, step, vertex): ``walks_per_vertex`` walks of
    ``walk_len`` steps from every vertex of the undirected simple graph
    (walk_id = vertex * walks_per_vertex + w). Walks stop early only at
    isolated vertices (none, by construction)."""
    sym = simple_edges(edges, directed=False)
    w = Window.partitionBy("src").orderBy("dst")
    nbr = sym.withColumn("idx", F.row_number().over(w) - 1).persist()
    with released(nbr):
        deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))

        verts = deg.select(F.col("src").alias("v"), "deg")
        starts = verts.select(
            F.explode(
                F.array(*[F.lit(i) for i in range(walks_per_vertex)])
            ).alias("w"),
            "v",
            "deg",
        ).select(
            (F.col("v") * walks_per_vertex + F.col("w")).alias("walk_id"),
            F.col("v").alias("vertex"),
            "deg",
        )
        out = starts.select("walk_id", F.lit(0).alias("step"), "vertex")
        cur = starts
        for s in range(1, walk_len + 1):
            idx = _choice_expr(F.col("walk_id"), s, F.col("vertex"), F.col("deg"), seed)
            nxt = (
                cur.withColumn("idx", idx)
                .join(
                    nbr.select(
                        F.col("src").alias("vertex"), "idx", F.col("dst").alias("nv")
                    ),
                    ["vertex", "idx"],
                )
                .select("walk_id", F.col("nv").alias("vertex"))
            )
            cur = nxt.join(
                deg.select(F.col("src").alias("vertex"), "deg"), "vertex"
            ).select("walk_id", "vertex", "deg")
            out = out.unionByName(
                cur.select("walk_id", F.lit(s).alias("step"), "vertex")
            )
        return out.localCheckpoint(eager=True)


def node2vec_walks(
    spark: SparkSession,
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_vertex: int = 1,
    p: int = 1,
    q: int = 1,
    seed: int = 1,
) -> DataFrame:
    """(walk_id, step, vertex): node2vec-biased second-order walks
    (Grover & Leskovec 2016) with the same portable determinism as
    :func:`random_walks`.

    The node2vec bias α over candidates x from current vertex v with
    previous vertex t is 1/p (x = t, return), 1 (x adjacent to t), 1/q
    (otherwise). ``p`` and ``q`` are integers ≥ 1 here so the weights can
    be scaled by p·q into exact integers (q, p·q, p) — the weighted draw
    is then a pure-integer cumulative-sum inversion: candidates ordered
    by dst, pick the first whose running weight exceeds
    LCG(walk_id, step, v, seed) mod total-weight. Bit-identical in any
    SQL engine, reproducible across partitionings.

    Step 1 has no previous vertex and is the uniform index draw of
    :func:`random_walks`. Each biased step is one equi-join expanding a
    walk to its deg(v) candidates, one left join against the edge set for
    the adjacent-to-t test, and one per-walk window (partitions bounded
    by max degree — at 100 TB scale the classic alternative is a
    precomputed per-edge alias table, which costs Σ_e deg(e.dst) rows of
    state; this recomputes the same quantity per step and keeps zero
    state). No Python on the data path, no RNG state.
    """
    if int(p) != p or int(q) != q or p < 1 or q < 1:
        raise ValueError(f"node2vec p/q must be integers >= 1, got p={p} q={q}")
    w_ret, w_nbr, w_far = int(q), int(p) * int(q), int(p)
    sym = simple_edges(edges, directed=False)
    w = Window.partitionBy("src").orderBy("dst")
    nbr = sym.withColumn("idx", F.row_number().over(w) - 1).persist()
    with released(nbr):
        deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))

        verts = deg.select(F.col("src").alias("v"), "deg")
        starts = verts.select(
            F.explode(
                F.array(*[F.lit(i) for i in range(walks_per_vertex)])
            ).alias("w"),
            "v",
            "deg",
        ).select(
            (F.col("v") * walks_per_vertex + F.col("w")).alias("walk_id"),
            F.col("v").alias("vertex"),
            "deg",
        )
        out = starts.select("walk_id", F.lit(0).alias("step"), "vertex")
        if walk_len < 1:
            return out.localCheckpoint(eager=True)
        idx = _choice_expr(F.col("walk_id"), 1, F.col("vertex"), F.col("deg"), seed)
        cur = (
            starts.withColumn("idx", idx)
            .join(
                nbr.select(
                    F.col("src").alias("vertex"), "idx", F.col("dst").alias("nv")
                ),
                ["vertex", "idx"],
            )
            .select(
                "walk_id", F.col("vertex").alias("prev"), F.col("nv").alias("vertex")
            )
        )
        out = out.unionByName(cur.select("walk_id", F.lit(1).alias("step"), "vertex"))
        is_nbr = sym.select(
            F.col("src").alias("prev"), F.col("dst").alias("cand"), F.lit(1).alias("adj")
        )
        ww = (
            Window.partitionBy("walk_id")
            .orderBy("cand")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt_tot = Window.partitionBy("walk_id")
        for s in range(2, walk_len + 1):
            cand = (
                cur.join(
                    nbr.select(F.col("src").alias("vertex"), F.col("dst").alias("cand")),
                    "vertex",
                )
                .join(is_nbr.hint("shuffle_hash"), ["prev", "cand"], "left")
                .withColumn(
                    "wt",
                    F.when(F.col("cand") == F.col("prev"), F.lit(w_ret))
                    .when(F.col("adj") == 1, F.lit(w_nbr))
                    .otherwise(F.lit(w_far)),
                )
                .withColumn("cum", F.sum("wt").over(ww))
                .withColumn("tot", F.sum("wt").over(wt_tot))
            )
            r = _choice_expr(F.col("walk_id"), s, F.col("vertex"), F.col("tot"), seed)
            cur = cand.where(
                (F.col("cum") - F.col("wt") <= r) & (r < F.col("cum"))
            ).select(
                "walk_id", F.col("vertex").alias("prev"), F.col("cand").alias("vertex")
            )
            out = out.unionByName(
                cur.select("walk_id", F.lit(s).alias("step"), "vertex")
            )
        return out.localCheckpoint(eager=True)


def walk_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """(a, b, cnt): skip-gram co-occurrence counts — vertex pairs within
    ``window`` steps of each other on the same walk (a < b, both
    directions folded). The training-pair corpus for an embedding model."""
    x = walks.select("walk_id", F.col("step").alias("sa"), F.col("vertex").alias("va"))
    y = walks.select("walk_id", F.col("step").alias("sb"), F.col("vertex").alias("vb"))
    pairs = (
        x.join(y, "walk_id")
        .where(
            (F.col("sb") > F.col("sa"))
            & (F.col("sb") - F.col("sa") <= window)
            & (F.col("va") != F.col("vb"))
        )
        .select(
            F.least("va", "vb").alias("a"), F.greatest("va", "vb").alias("b")
        )
    )
    return pairs.groupBy("a", "b").agg(F.count("*").alias("cnt"))


def ppmi_pairs(pairs: DataFrame, min_count: int = 1) -> DataFrame:
    """(a, b, cnt, ppmi): positive pointwise mutual information over a
    skip-gram pair-count corpus (the ``walk_pairs`` output) — the
    classic count-based association score an embedding pipeline
    factorizes (word2vec ≈ shifted-PPMI factorization).

    With N = Σ cnt and m(v) = Σ cnt over pairs containing v,
    ppmi(a,b) = max(0, ln(cnt·N / (m(a)·m(b)))). The total is a 1-row
    aggregate carried by broadcast crossJoin (the dangling-mass pattern
    from the PageRank kernel — bytes, not a collect); the marginals are
    one union+groupBy over the pair relation. Everything downstream of
    the counts is a plain Catalyst projection, so the plan scales with
    the pair corpus, which is itself linear in walks × window."""
    tot = pairs.agg(F.sum("cnt").alias("n_total"))
    marg = (
        pairs.select(F.col("a").alias("v"), "cnt")
        .unionByName(pairs.select(F.col("b").alias("v"), "cnt"))
        .groupBy("v")
        .agg(F.sum("cnt").alias("m"))
    )
    return (
        pairs.where(F.col("cnt") >= min_count)
        .crossJoin(F.broadcast(tot))
        .join(marg.select(F.col("v").alias("a"), F.col("m").alias("ma")), "a")
        .join(marg.select(F.col("v").alias("b"), F.col("m").alias("mb")), "b")
        .select(
            "a",
            "b",
            "cnt",
            F.greatest(
                F.lit(0.0),
                F.log(
                    F.col("cnt")
                    * F.col("n_total")
                    / (F.col("ma") * F.col("mb"))
                ),
            ).alias("ppmi"),
        )
    )
