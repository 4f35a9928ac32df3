"""1-dimensional Weisfeiler-Leman color refinement (1-WL / naive vertex
refinement) — the canonical-form primitive behind graph-isomorphism
screening, graph dedup fingerprints, and GIN-style GNN expressiveness.

Round 0 colors every vertex by its degree; each round re-colors a
vertex by a portable hash of (own color, sorted multiset of neighbor
colors). Two graphs whose final color HISTOGRAMS differ are certifiably
non-isomorphic; vertices sharing a color are structurally
indistinguishable at that radius — the same signal the reference's
pattern matcher exploits when it prunes candidate vertices by local
structure (`patternmatching/gray/extract.py` degree/label filters),
generalized to r-hop neighborhoods.

Engine-portability: the multiset is compressed to sorted
``color x count`` runs (one row per DISTINCT neighbor color, so hub
state is bounded by the color diversity, not the degree), concatenated
with ';', and hashed with md5 — Spark and DuckDB produce byte-identical
hex, so the refinement is value-exact across engines with no vocabulary
table and no global sort. Everything is one groupBy + one join per
round: the J2 message-passing shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graph import kernel_nparts, simple_edges
from ._superstep import run


def _wl_step(colors: DataFrame, sym: DataFrame) -> DataFrame:
    nb = sym.join(
        colors.withColumnRenamed("id", "dst").withColumnRenamed("color", "nc"),
        "dst",
    ).select(F.col("src").alias("id"), "nc")
    # (color x count) runs: hub-safe — one row per distinct neighbor color
    runs = nb.groupBy("id", "nc").agg(F.count("*").cast("string").alias("cnt"))
    sig = runs.select(
        "id", F.concat(F.col("nc"), F.lit("x"), F.col("cnt")).alias("run")
    ).groupBy("id").agg(
        F.concat_ws(";", F.sort_array(F.collect_list("run"))).alias("sig")
    )
    return colors.join(sig, "id").select(
        "id",
        F.substring(
            F.md5(F.concat(F.col("color"), F.lit("|"), F.col("sig"))), 1, 16
        ).alias("color"),
    )


def wl_colors(
    edges: DataFrame,
    *,
    rounds: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-vertex 1-WL color after ``rounds`` refinement rounds.

    Returns (id, color) where color is a 16-hex-char portable hash
    (round 0: the degree as a decimal string). Isolated vertices don't
    exist in an edge-list model; every vertex has >= 1 neighbor.
    """
    if num_partitions is None:
        num_partitions = kernel_nparts(edges)
    sym = (
        simple_edges(edges, directed=False)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    return run(
        edges.sparkSession,
        lambda: sym.groupBy(F.col("src").alias("id")).agg(
            F.count("*").cast("string").alias("color")
        ),
        lambda colors: _wl_step(colors, sym),
        until=None,
        max_iter=rounds,
        steps_per_commit=rounds,
        num_partitions=num_partitions,
    ).state


def wl_histogram(edges: DataFrame, *, rounds: int = 3) -> DataFrame:
    """Color-class census after refinement: (color, n_vertices).

    Equal histograms = 1-WL-indistinguishable graphs; any difference is
    a non-isomorphism certificate. The output is at most V rows and in
    practice |color classes| << V.
    """
    return (
        wl_colors(edges, rounds=rounds)
        .groupBy("color")
        .agg(F.count("*").cast("long").alias("n_vertices"))
    )
