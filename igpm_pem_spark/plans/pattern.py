"""The pattern-match surface: G-Ray's query graphs compiled to relational
join plans.

The reference's query is a tiny ``nx.MultiGraph`` built from CLI-style
tokens (``--vertex a b c --edge x:a:b … --vertexlabel a:cyan --edgelabel
x:yes --path z:c:a --condition … --directed``; parser at
``patternmatching/gray/query_call.py:224-303``) and executed by the
best-effort G-Ray search (seed → neighbor_expander → bridge,
``gray_multiple.py:99-358``). Our execution compiles the same query graph
to a left-deep chain of equi-joins (J1) anchored at the most selective
symbol (the cost heuristic the reference's dead ``seed_finder`` intended,
``gray_multiple.py:364-408``):

    candidates(anchor) ⋈ edge-rel ⋈ candidates(next) ⋈ … → injectivity
    filter → condition (P6, compiled Catalyst) → canonical-signature dedup

Semantics note (deliberate): we enumerate ALL distinct matching subgraphs
(exact subgraph matching with duplicate elimination by node-set+edge-set
signature — the relational encoding of ``equal_graphs``,
``gray_multiple.py:16-37``). The reference returns a best-effort SUBSET
(one RWR-guided match per seed; misses are accepted, near-misses kept as
"approximate", ``gray_incremental.py:301-330``). Exact enumeration is a
superset of the reference's results on every test case, and identical on
rigid patterns (triangles, cycles, label-constrained shapes) — the
tests pin both facts.

``--path`` query edges join against the ≤3-hop closure (operators/paths.py)
exactly as EXTRACT's 3-hop cap (``extract.py:12``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.paths import MAX_HOPS, variable_length_edges
from .condition import compile_condition


@dataclass
class QueryEdge:
    sym: str
    a: str
    b: str
    label: str | None = None
    is_path: bool = False


@dataclass
class PatternQuery:
    vertices: dict[str, str | None]  # symbol -> required label (None = any)
    edges: list[QueryEdge]
    directed: bool = False
    condition: str | None = None
    aggregates: list[str] = field(default_factory=list)  # "MAX:a.score"
    groupby: list[str] = field(default_factory=list)  # "a.score"
    orderby: list[str] = field(default_factory=list)
    descending: bool = False


def parse_query_args(text: str) -> PatternQuery:
    """Parse the reference's query token format (mode machine mirroring
    ``gray/query_call.py:224-273``)."""
    toks = text.split()
    q = PatternQuery(vertices={}, edges=[])
    labels: dict[str, str] = {}
    elabels: dict[str, str] = {}
    mode = None
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.startswith("--"):
            mode = t[2:]
            if mode == "directed":
                q.directed = True
                mode = None
            elif mode == "descending":
                q.descending = True
                mode = None
            elif mode == "condition":
                # condition consumes the rest until the next --flag
                j = i + 1
                parts = []
                while j < len(toks) and not toks[j].startswith("--"):
                    parts.append(toks[j])
                    j += 1
                q.condition = " ".join(parts)
                i = j
                continue
        elif mode == "vertex":
            q.vertices[t] = None
        elif mode in ("edge", "path"):
            sym, a, b = t.split(":")
            q.edges.append(QueryEdge(sym, a, b, is_path=(mode == "path")))
        elif mode == "vertexlabel":
            s, lbl = t.split(":")
            labels[s] = lbl
        elif mode == "edgelabel":
            s, lbl = t.split(":")
            elabels[s] = lbl
        elif mode == "aggregate":
            q.aggregates.append(t)
        elif mode == "groupby":
            q.groupby.append(t)
        elif mode == "orderby":
            q.orderby.append(t)
        i += 1
    for s, lbl in labels.items():
        q.vertices[s] = lbl
    for e in q.edges:
        if e.sym in elabels:
            e.label = elabels[e.sym]
    return q


def _prop_refs(q: PatternQuery) -> set[tuple[str, str]]:
    """(symbol, prop) pairs referenced by condition/aggregates/group/order."""
    refs: set[tuple[str, str]] = set()
    texts = list(q.groupby) + list(q.orderby)
    texts += [a.split(":", 1)[1] for a in q.aggregates if ":" in a]
    if q.condition:
        texts += re.findall(r"[A-Za-z_]\w*\.[A-Za-z_]\w*", q.condition)
    for t in texts:
        if "." in t:
            s, p = t.split(".", 1)
            if s in q.vertices:
                refs.add((s, p))
    return refs


def _edge_order(q: PatternQuery, cand_counts: dict[str, int]) -> list[QueryEdge]:
    """Anchor at the most selective symbol, then BFS over query edges so
    every join touches a bound symbol (the reference requires the next
    edge to leave a touched vertex, gray_multiple.py:205-214)."""
    anchor = min(q.vertices, key=lambda s: (cand_counts.get(s, 0), s))
    bound = {anchor}
    remaining = list(q.edges)
    ordered: list[QueryEdge] = []
    while remaining:
        pick = None
        for e in remaining:
            if e.a in bound or e.b in bound:
                pick = e
                break
        if pick is None:  # disconnected query: start a new anchor
            pick = remaining[0]
            bound.add(pick.a)
        ordered.append(pick)
        bound.update((pick.a, pick.b))
        remaining.remove(pick)
    return ordered


def match_pattern(
    spark: SparkSession,
    vertices: DataFrame,  # (id, label, props MAP<STRING,STRING>)
    edges: DataFrame,  # (src, dst, label, ...)
    q: PatternQuery,
    max_matches_per_anchor: int | None = None,
    keep_near_miss: bool = False,
    delta_edges: DataFrame | None = None,
    old_edges: DataFrame | None = None,
    rank_scores: DataFrame | None = None,
    rank_eps: float | None = 1e-5,
) -> DataFrame:
    """One row per distinct matching subgraph; columns = query symbols
    (+ sym_prop columns for referenced props, + the canonical sig).

    Best-effort controls (the reference's G-Ray is best-effort BY
    CONSTRUCTION — one RWR-guided match per seed, near-misses kept as
    "approximate", ``gray_incremental.py:301-330``; exact enumeration
    needs explicit guards instead):

    * ``max_matches_per_anchor`` — keep at most N matches per anchor-
      symbol vertex (deterministic representatives). This is the scale
      guard: a loose pattern on a 100× power-law graph otherwise
      enumerates unboundedly from hub anchors, exactly the blowup the
      reference's one-match-per-seed rule sidesteps.
    * ``keep_near_miss`` — when the query has a ``--condition``, retain
      structurally-matching rows that FAIL it, flagged ``approx=true``
      (exact rows get ``approx=false``) — the relational analogue of
      ``append_approx``.
    * ``delta_edges`` — incremental (append-only) mode: return only the
      matches that use at least one edge from this bucket (``edges`` is
      the cumulative graph). Work is proportional to the perturbation —
      the relational form of the reference's affected-area recomputation
      (``gray_incremental.py:230-271``). See
      ``operators/incremental.incremental_pattern_match``.
    * ``rank_scores`` — an (id, score) proximity frame (seeded RWR from
      the query focus, ``pagerank(personalization=...)``): representative
      selection (signature dedup AND ``max_matches_per_anchor``) then
      prefers the match whose non-anchor vertices have the highest summed
      proximity — the reference's RWR-guided choice
      (``gray_multiple.py:430-443`` argmax over ``log_good``), with
      ``rank_eps`` ε-ties (1e-5, its ``max_good - 1e-5`` rule) broken by
      symbol order; ``rank_eps=None`` ranks by exact score. Output gains
      a ``rank_score`` column.
    * ``old_edges`` — required alongside ``delta_edges`` when the query
      has ``--path`` edges: the cumulative graph BEFORE this bucket. Path
      closures are then handled incrementally (the analogue of
      ``extract_incremental.py:39-46``): the pinned position gets the
      pairs newly ≤k-hop-connected (seeded expansion around the bucket,
      ``paths.path_closure_delta``), and unpinned path positions expand
      only from the vertices the partial match has already bound
      (``paths.path_closure_from``) — no full-closure recompute per step.
    """
    refs = _prop_refs(q)

    # per-symbol candidate relations (P1 label filter + prop projection)
    def cand(sym: str) -> DataFrame:
        c = vertices
        lbl = q.vertices.get(sym)
        if lbl:
            c = c.where(F.col("label") == lbl)
        cols = [F.col("id").alias(sym)]
        for s, p in refs:
            if s == sym:
                cols.append(
                    F.element_at(F.col("props"), p).cast("double").alias(f"{sym}_{p}")
                )
        return c.select(*cols)

    # selectivity map in ONE job: a per-symbol cand(s).count() would run
    # |symbols| vertex scans before planning; the label histogram yields
    # every symbol's candidate count at once (prop projection never
    # changes cardinality, so histogram counts == cand(s).count())
    label_counts = {
        r["label"]: int(r["n"])
        for r in vertices.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    total_verts = sum(label_counts.values())
    cand_counts = {
        s: (label_counts.get(lbl, 0) if lbl else total_verts)
        for s, lbl in q.vertices.items()
    }

    # edge relation per query edge: label-filtered, direction handled,
    # parallel same-label edges collapsed ((src,dst,label) identity)
    base = edges.select("src", "dst", *(["label"] if "label" in edges.columns else []))

    def rel(e: QueryEdge) -> DataFrame:
        if e.is_path:
            return variable_length_edges(
                base, directed=q.directed, label=e.label
            )
        r = base
        if e.label is not None and "label" in r.columns:
            r = r.where(F.col("label") == e.label)
        r = r.select("src", "dst")
        if not q.directed:
            r = r.unionByName(
                r.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        return r.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])

    ordered = _edge_order(q, cand_counts)
    anchor = min(q.vertices, key=lambda s: (cand_counts.get(s, 0), s))

    def join_chain(rel_for_edge, path_rel=None) -> DataFrame:
        """Left-deep chain with a per-edge relation supplier — the hook
        incremental matching uses to pin one edge position to the
        new-arrivals bucket. ``path_rel(e, df, bound)`` may supply a
        bound-aware relation for path edges (incremental mode); returning
        None falls back to ``rel_for_edge``."""
        df = cand(anchor)
        bound = {anchor}
        for e in ordered:
            r = path_rel(e, df, bound) if path_rel is not None else None
            if r is None:
                r = rel_for_edge(e)
            if e.a in bound and e.b in bound:
                # existence check (semi-join) — J3
                df = df.join(
                    r.select(F.col("src").alias(e.a), F.col("dst").alias(e.b)),
                    [e.a, e.b],
                    "left_semi",
                )
                continue
            # The edge relation always maps data src->e.a and dst->e.b (the
            # query edge's direction); which symbol is already bound only
            # selects the join key. Re-aliasing dst->e.a when e.b was bound
            # would match the data edge REVERSED on directed queries.
            rr = r.select(F.col("src").alias(e.a), F.col("dst").alias(e.b))
            if e.a in bound:
                src_sym, dst_sym = e.a, e.b
            elif e.b in bound:
                src_sym, dst_sym = e.b, e.a
            else:  # disconnected start: cross join a fresh anchor cand set
                df = df.crossJoin(cand(e.a))
                bound.add(e.a)
                src_sym, dst_sym = e.a, e.b
            df = df.join(rr, src_sym)
            df = df.join(cand(dst_sym), dst_sym)  # label + prop projection
            bound.add(dst_sym)
        return df

    if delta_edges is None:
        df = join_chain(rel)
    else:
        # incremental (append-only) enumeration: every NEW match must use
        # at least one edge from the new bucket — union over edge
        # positions, pinning position i to the new-edge relation and the
        # rest to the cumulative graph (dedup collapses overlaps)
        new_base = delta_edges.select(
            "src", "dst", *(["label"] if "label" in delta_edges.columns else [])
        )

        def rel_new(e: QueryEdge) -> DataFrame:
            r = new_base
            if e.label is not None and "label" in r.columns:
                r = r.where(F.col("label") == e.label)
            r = r.select("src", "dst")
            if not q.directed:
                r = r.unionByName(
                    r.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
            return r.where(F.col("src") != F.col("dst")).dropDuplicates(
                ["src", "dst"]
            )

        has_path = any(e.is_path for e in q.edges)
        if has_path and old_edges is None:
            raise ValueError(
                "delta_edges with --path query edges needs old_edges (the "
                "cumulative graph before this bucket) so hop closures can "
                "be recomputed incrementally around the bucket"
            )

        def make_path_rel(pinned: QueryEdge):
            """Bound-aware path relations for one pinned-position plan:
            the pinned path edge gets the NEW closure pairs (seeded diff
            around the bucket); other path edges expand only from the
            symbols the chain has already bound."""
            from ..operators.paths import path_closure_delta, path_closure_from

            def path_rel(e: QueryEdge, df: DataFrame, bound: set):
                if not e.is_path:
                    return None
                if e is pinned:
                    return path_closure_delta(
                        old_edges, delta_edges, MAX_HOPS, q.directed, e.label
                    )
                # seeded expansion from whichever endpoint is bound;
                # forward from e.a, backward (reversed edges) from e.b
                if e.a in bound:
                    seeds = df.select(F.col(e.a).alias("id")).distinct()
                    return path_closure_from(
                        base, seeds, MAX_HOPS, q.directed, e.label
                    ).select("src", "dst")
                if e.b in bound:
                    seeds = df.select(F.col(e.b).alias("id")).distinct()
                    rev = base.select(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        *(["label"] if "label" in base.columns else []),
                    )
                    return path_closure_from(
                        rev, seeds, MAX_HOPS, q.directed, e.label
                    ).select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                return None  # disconnected start: full closure fallback

            return path_rel

        if q.edges:
            df = None
        else:
            # a vertex-only query gains no new matches from new edges —
            # reuse the batch plan's schema with an always-false filter
            # (no job runs on the empty plan)
            df = join_chain(rel).where(F.lit(False))
        for i in range(len(q.edges)):
            pin = q.edges[i]
            relf = lambda e, _pin=pin: rel_new(e) if e is _pin else rel(e)
            part = join_chain(relf, make_path_rel(pin) if has_path else None)
            df = part if df is None else df.unionByName(part)

    # injectivity: reference valid_result demands as many data vertices as
    # query vertices (gray_multiple.py:40-60)
    syms = list(q.vertices)
    for i in range(len(syms)):
        for j in range(i + 1, len(syms)):
            df = df.where(F.col(syms[i]) != F.col(syms[j]))

    # P6 condition over sym_prop columns; near-miss mode keeps failures
    # flagged instead of dropping them (append_approx semantics)
    if q.condition:
        cond = F.coalesce(compile_condition(q.condition), F.lit(False))
        if keep_near_miss:
            df = df.withColumn("approx", ~cond)
        else:
            df = df.where(cond)
    elif keep_near_miss:
        df = df.withColumn("approx", F.lit(False))

    # RWR-guided ranking (the reference's selection rule): attach the
    # seeded-proximity score of every non-anchor symbol's vertex and rank
    # representatives by the sum — G-Ray picks candidates by argmax RWR
    # proximity to the seed with 1e-5 ε-ties (``gray_multiple.py:430-443``
    # over log_good); rank_eps=None selects exact-score ordering (used by
    # the driver oracle, where quantization boundaries would be flaky)
    if rank_scores is not None:
        s = rank_scores.select("id", "score")
        score_expr = F.lit(0.0)
        for sym in syms:
            if sym == anchor:
                continue
            df = df.join(
                s.select(F.col("id").alias(sym), F.col("score").alias(f"_rs_{sym}")),
                sym,
                "left",
            )
            score_expr = score_expr + F.coalesce(F.col(f"_rs_{sym}"), F.lit(0.0))
        df = df.withColumn("rank_score", score_expr).drop(
            *[f"_rs_{sym}" for sym in syms if sym != anchor]
        )
        rank_key = [
            F.floor(F.col("rank_score") / F.lit(rank_eps)).desc()
            if rank_eps
            else F.col("rank_score").desc()
        ]
    else:
        rank_key = []

    # canonical-signature dedup (A6): matched edge multiset, symbol-free
    pairs = []
    for e in q.edges:
        if q.directed:
            pairs.append(F.struct(F.col(e.a).alias("u"), F.col(e.b).alias("v")))
        else:
            pairs.append(
                F.struct(
                    F.least(e.a, e.b).alias("u"), F.greatest(e.a, e.b).alias("v")
                )
            )
    df = df.withColumn("sig", F.sort_array(F.array(*pairs)))
    # prefer an exact representative over an approx one for the same sig,
    # then the highest-proximity one (when ranking), then symbol order
    dedup_order = (
        ([F.col("approx").asc()] if keep_near_miss else [])
        + rank_key
        + [F.col(s) for s in syms]
    )
    w = Window.partitionBy("sig").orderBy(*dedup_order)
    df = (
        df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
    )

    if max_matches_per_anchor is not None:
        wcap = Window.partitionBy(anchor).orderBy(*dedup_order)
        df = (
            df.withColumn("_rc", F.row_number().over(wcap))
            .where(F.col("_rc") <= max_matches_per_anchor)
            .drop("_rc")
        )
    return df
