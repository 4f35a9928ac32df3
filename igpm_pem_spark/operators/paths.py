"""J4 — bounded multi-hop path closure (the EXTRACT analogue).

The reference builds, per vertex, a best-path predecessor tree capped at
3 hops (``patternmatching/gray/extract.py:12`` MAX_LENGTH=3, Dijkstra over
RWR scores ``:30-79``) and materializes paths on demand (``:82-96``). Its
*role* in pattern matching is answering "is there a path of ≤K hops between
candidate endpoints (with compatible edge labels)?" — which relationally is
a K-fold unrolled frontier self-join (SURVEY.md O8: static plan, no
recursion), not an all-sources tree.

``path_closure`` returns reachable pairs with hop counts ≤ max_hops;
``variable_length_edges`` is the pattern-engine adapter for ``--path``
query edges (``query/Condition.py:2-4`` ``_path`` marker).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MAX_HOPS = 3  # extract.py:12
# ε of the best-path argmax (``gray_multiple.py:436-441``)
_SCORE_EPS = 1e-5


def _pair_rel(edges: DataFrame, directed: bool, label: str | None) -> DataFrame:
    """Shared prep: label filter, self-loop drop, symmetrize, dedup."""
    e = edges
    if label is not None and "label" in e.columns:
        e = e.where(F.col("label") == label)
    e = e.select("src", "dst").where(F.col("src") != F.col("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return e.dropDuplicates(["src", "dst"])


def _closure_from_rel(
    e: DataFrame, seeds: DataFrame | None, max_hops: int
) -> DataFrame:
    """(src, dst, hops) with src ∈ seeds(id), or any src without seeds —
    frontier expansion seeded at the given vertex set, so the join work
    is proportional to the seeds' ≤max_hops neighborhoods, not the whole
    graph. A frontier holds walks, not distinct pairs: the final min
    dedupes them, with no shuffle per level."""
    hop1 = e
    if seeds is not None:
        hop1 = e.join(seeds.withColumnRenamed("id", "src"), "src", "left_semi")
    hop1 = hop1.withColumn("hops", F.lit(1))
    closure = hop1
    frontier = hop1
    for _ in range(1, max_hops):
        nxt = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
                (F.col("f.hops") + 1).alias("hops"),
            )
            .where(F.col("src") != F.col("dst"))
        )
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure.groupBy("src", "dst").agg(F.min("hops").alias("hops"))


def path_closure_from(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = MAX_HOPS,
    directed: bool = False,
    label: str | None = None,
) -> DataFrame:
    """Seeded variant of ``path_closure``: reachable pairs whose SOURCE is
    in ``seeds`` (a 1-column ``id`` DataFrame). The incremental matcher's
    workhorse — expanding only from the vertices a partial match has
    already bound keeps per-bucket work proportional to the perturbation
    (the relational analogue of ``extract_incremental.py:39-46``, which
    recomputes EXTRACT trees only for affected nodes)."""
    return _closure_from_rel(_pair_rel(edges, directed, label), seeds, max_hops)


def path_closure_delta(
    old_edges: DataFrame,
    new_edges: DataFrame,
    max_hops: int = MAX_HOPS,
    directed: bool = False,
    label: str | None = None,
) -> DataFrame:
    """(src, dst): pairs ≤max_hops-reachable in old ∪ new but NOT in old —
    the pinned relation for a ``--path`` query edge in incremental
    matching (append-only closures are monotone in the pair set).

    Any qualifying path crosses ≥1 new edge, so its source lies within
    ≤max_hops-1 hops BACKWARD of a new edge's source: the candidate
    source set S is found by seeded backward expansion from the bucket,
    then forward closures from S over old∪new and old alone are diffed.
    All three expansions are seeded — work scales with the bucket's
    neighborhood, not the graph."""
    eo = _pair_rel(old_edges, directed, label)
    en = _pair_rel(new_edges, directed, label)
    cum = eo.unionByName(en).dropDuplicates(["src", "dst"])
    bsrc = en.select(F.col("src").alias("id")).distinct()
    back = _closure_from_rel(
        cum.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        bsrc,
        max_hops - 1,
    ) if max_hops > 1 else None
    seeds = bsrc
    if back is not None:
        seeds = seeds.unionByName(back.select(F.col("dst").alias("id"))).distinct()
    cand = _closure_from_rel(cum, seeds, max_hops).select("src", "dst")
    old_p = _closure_from_rel(eo, seeds, max_hops).select("src", "dst")
    return cand.join(old_p, ["src", "dst"], "left_anti")


def path_closure(
    edges: DataFrame,
    max_hops: int = MAX_HOPS,
    directed: bool = False,
    label: str | None = None,
) -> DataFrame:
    """(src, dst, hops): minimal hop count ≤ max_hops between distinct
    vertex pairs, optionally restricted to one edge label (the reference
    caches one EXTRACT per label, ``gray_multiple.py:173-178``)."""
    return _closure_from_rel(_pair_rel(edges, directed, label), None, max_hops)


def _simple_paths(
    e: DataFrame, max_hops: int, scores: DataFrame | None
) -> DataFrame:
    """All simple paths ≤ max_hops over a prepped pair relation:
    (src, dst, hops, path[, ssum]) — ``ssum`` sums the per-vertex scores
    over the path's vertices when a (id, score) frame is given (missing
    vertices score 0)."""
    if scores is None:
        hop1 = e.select(
            "src", "dst", F.lit(1).alias("hops"),
            F.array("src", "dst").alias("path"),
        )
    else:
        s = scores.select("id", "score")
        hop1 = (
            e.join(s.withColumnRenamed("id", "src"), "src", "left")
            .withColumnRenamed("score", "s_src")
            .join(s.withColumnRenamed("id", "dst"), "dst", "left")
            .select(
                "src", "dst", F.lit(1).alias("hops"),
                F.array("src", "dst").alias("path"),
                (
                    F.coalesce(F.col("s_src"), F.lit(0.0))
                    + F.coalesce(F.col("score"), F.lit(0.0))
                ).alias("ssum"),
            )
        )
    closure = hop1
    frontier = hop1
    for _ in range(1, max_hops):
        step = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.dst") == F.col("e.src"))
            .where(~F.array_contains(F.col("f.path"), F.col("e.dst")))
        )
        cols = [
            F.col("f.src").alias("src"),
            F.col("e.dst").alias("dst"),
            (F.col("f.hops") + 1).alias("hops"),
            F.array_append(F.col("f.path"), F.col("e.dst")).alias("path"),
        ]
        if scores is not None:
            step = step.join(
                scores.select(F.col("id").alias("_sid"), F.col("score").alias("_s")),
                F.col("e.dst") == F.col("_sid"),
                "left",
            )
            cols.append(
                (F.col("f.ssum") + F.coalesce(F.col("_s"), F.lit(0.0))).alias("ssum")
            )
        nxt = step.select(*cols)
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure


def shortest_paths(
    edges: DataFrame,
    max_hops: int = MAX_HOPS,
    directed: bool = False,
    label: str | None = None,
    scores: DataFrame | None = None,
    score_eps: float = 1e-5,
) -> DataFrame:
    """(src, dst, hops, path): one MATERIALIZED best path per reachable
    pair within ``max_hops`` — the EXTRACT parity the closure alone lacks
    (the reference's ``getPath`` walks its predecessor tree,
    ``extract.py:82-96``, and G-Ray bridges with the materialized path,
    ``gray_multiple.py:446-449``).

    ``path`` is the full vertex array [src, …, dst]. Among minimal-hop
    paths, when ``scores`` (an (id, score) proximity frame, e.g. seeded
    RWR from ``pagerank(personalization=...)``) is given the path with the
    highest mean vertex score wins, ε-ties (``score_eps``, the reference's
    1e-5 from ``gray_multiple.py:438``) broken by the lexicographically
    smallest vertex array; without scores the smallest array wins
    directly. Only simple paths are expanded (a frontier row never
    revisits a vertex), which bounds the fan-out that a cyclic graph would
    otherwise feed back into every level. Per-hop label validation = the
    label filter applied to the edge relation before expansion (one
    EXTRACT per label, as in ``gray_multiple.py:173-178``)."""
    closure = _simple_paths(_pair_rel(edges, directed, label), max_hops, scores)
    if scores is None:
        best = F.min(F.struct("hops", "path")).alias("b")
    else:
        # quantized NEGATED mean score sorts best-first inside the min
        gq = -F.floor(F.col("ssum") / (F.col("hops") + 1) / F.lit(score_eps))
        closure = closure.withColumn("_gq", gq.cast("long"))
        best = F.min(F.struct("hops", "_gq", "path")).alias("b")
    return (
        closure.groupBy("src", "dst")
        .agg(best)
        .select("src", "dst", F.col("b.hops").alias("hops"), F.col("b.path").alias("path"))
    )


def best_paths_rwr(edges: DataFrame, scores: DataFrame) -> DataFrame:
    """(src, dst, hops, path, goodness): the RWR-guided best path per
    pair of the undirected ``edges`` reachable within ``MAX_HOPS`` — full
    EXTRACT ranking parity (``extract.py:30-79``).

    The reference's Dijkstra maximizes the RUNNING MEAN of RWR proximity
    over a path's vertices, ``dist = (rwr(v) + d[u]·l[u])/(l[u]+1)``,
    hop-capped at 3; this operator computes the true argmax of that mean
    over ALL simple paths ≤ ``MAX_HOPS`` (the reference's greedy expansion
    is a heuristic for the same objective — on graphs where greedy is
    exact, results coincide; tests pin it on the reference's test1p).
    ε-ties (1e-5, the ``gray_multiple.py:436-441`` argmax tolerance) are
    broken by fewer hops, then the lexicographically smallest path, so
    the chosen path is deterministic. ``scores`` is an (id, score)
    proximity frame — seeded RWR from the query focus, i.e. one
    ``pagerank(personalization=seed)`` run per source of interest instead
    of the reference's all-pairs proximity dict (``rwr.py:108-129``)."""
    closure = _simple_paths(_pair_rel(edges, False, None), MAX_HOPS, scores)
    good = F.col("ssum") / (F.col("hops") + 1)
    closure = closure.withColumn(
        "_gq", (-F.floor(good / F.lit(_SCORE_EPS))).cast("long")
    ).withColumn("_good", good)
    best = F.min(F.struct("_gq", "hops", "path", "_good")).alias("b")
    return (
        closure.groupBy("src", "dst")
        .agg(best)
        .select(
            "src",
            "dst",
            F.col("b.hops").alias("hops"),
            F.col("b.path").alias("path"),
            F.col("b._good").alias("goodness"),
        )
    )


def variable_length_edges(
    edges: DataFrame, directed: bool = False, label: str | None = None
) -> DataFrame:
    """(src, dst) pairs connected by a ≤MAX_HOPS path — the join relation
    substituted for a ``--path`` query edge."""
    return path_closure(edges, MAX_HOPS, directed, label).select("src", "dst")
