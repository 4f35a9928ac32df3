"""Eighth metrics ring: landmark distance-labeling bounds, the
percolation robustness curve, and half-life-decayed event counters —
each oracle-paired with dtype-exact DuckDB SQL.

Landmark labeling is the production answer to point distance queries at
scale: precompute <= 3-hop balls from a few hub landmarks ONCE (one
seeded closure — the J4 kernel), then any (s, t) upper bound is a label
join, min_l d(l,s) + d(l,t), with no per-query BFS. The percolation
curve extends the single-rate robustness probes into the
giant-component-vs-failure-rate profile (the phase-transition view).
Decayed counters are the streaming-adjacent trending aggregate, with
the half-life stepped in INTEGER weeks so every weight is an exact
power of two — no transcendental drift between engines."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import G_SPARSE_SQL, edges, graph_nparts, register
from .graphq import _with_g

# ---- landmark distance-labeling bounds ---------------------------------
N_LANDMARKS = 4
N_EXTREME = 5


def _q_landmark_bounds(spark, sf_dir):
    """Distance upper bounds from a 4-hub landmark labeling: balls are
    the <= 3-hop seeded closure from the top-degree landmarks (built
    once, one J4 kernel call); the 25 probe pairs (5 lowest x 5 highest
    vertex ids) are answered by a label equi-join — min over landmarks
    of d(l,s) + d(l,t), -1 when no landmark covers both sides. At scale
    the label table is the index a reachability/distance service serves
    from; per-query cost is a lookup, never a traversal."""
    from ..operators.graph import degrees
    from ..operators.paths import path_closure_from

    e = edges(spark, sf_dir, G_SPARSE_SQL)
    deg = degrees(e)
    lm = deg.orderBy(F.desc("degree"), F.asc("id")).limit(N_LANDMARKS).select("id")
    cl = path_closure_from(e, lm, max_hops=3, directed=False)
    balls = cl.select(
        F.col("src").alias("l"),
        F.col("dst").cast("long").alias("v"),
        F.col("hops").cast("long").alias("d"),
    ).union(lm.select(F.col("id").alias("l"), F.col("id").cast("long").alias("v"),
                      F.lit(0).cast("long").alias("d")))
    balls = balls.localCheckpoint(eager=False)

    verts = deg.select("id")
    lows = verts.orderBy(F.asc("id")).limit(N_EXTREME).select(F.col("id").alias("s"))
    highs = verts.orderBy(F.desc("id")).limit(N_EXTREME).select(F.col("id").alias("t"))
    pairs = lows.crossJoin(highs)
    bs = balls.select(F.col("l"), F.col("v").alias("s"), F.col("d").alias("ds"))
    bt = balls.select(F.col("l"), F.col("v").alias("t"), F.col("d").alias("dt"))
    bounds = (
        pairs.join(bs, "s")
        .join(bt, ["l", "t"])
        .groupBy("s", "t")
        .agg(F.min(F.col("ds") + F.col("dt")).alias("bound"))
    )
    return (
        pairs.join(bounds, ["s", "t"], "left")
        .select(
            "s", "t",
            F.coalesce(F.col("bound"), F.lit(-1)).cast("long").alias("bound"),
        )
    )


_LANDMARK_SQL = _with_g(
    f"""
, deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
, lm AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT {N_LANDMARKS})
, h0 AS (SELECT id AS sid, id AS dst, CAST(0 AS BIGINT) AS hops FROM lm)
, h1 AS (SELECT l.id AS sid, e.dst, CAST(1 AS BIGINT) AS hops
         FROM lm l JOIN sym e ON e.src = l.id)
, h2 AS (SELECT h.sid, e.dst, CAST(2 AS BIGINT) AS hops
         FROM (SELECT DISTINCT sid, dst FROM h1) h JOIN sym e ON e.src = h.dst)
, h3 AS (SELECT h.sid, e.dst, CAST(3 AS BIGINT) AS hops
         FROM (SELECT DISTINCT sid, dst FROM h2) h JOIN sym e ON e.src = h.dst)
, balls AS (
    SELECT sid AS l, dst AS v, min(hops) AS d FROM (
        SELECT * FROM h0 UNION ALL SELECT * FROM h1
        UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3
    ) GROUP BY sid, dst)
, lows AS (SELECT id AS s FROM deg ORDER BY id LIMIT {N_EXTREME})
, highs AS (SELECT id AS t FROM deg ORDER BY id DESC LIMIT {N_EXTREME})
, pairs AS (SELECT s, t FROM lows CROSS JOIN highs)
, bounds AS (
    SELECT p.s, p.t, min(a.d + b.d) AS bound
    FROM pairs p
    JOIN balls a ON a.v = p.s
    JOIN balls b ON b.v = p.t AND b.l = a.l
    GROUP BY p.s, p.t)
SELECT p.s, p.t, CAST(coalesce(b.bound, -1) AS BIGINT) AS bound
FROM pairs p LEFT JOIN bounds b ON b.s = p.s AND b.t = p.t
""",
    G_SPARSE_SQL,
)


# ---- percolation robustness curve ----------------------------------------
_PERC_RATES = (0.1, 0.3, 0.5)
_PERC_CC_ITERS = 50


def _q_percolation_curve(spark, sf_dir):
    """Giant-component share after deterministic hash removal of 10%,
    30%, 50% of vertices — the percolation profile whose knee locates
    the failure rate the topology tolerates. One hash-min CC per rate
    on the surviving edges (removal is a row-local filter), 3 rows out."""
    from ..operators.components import component_sizes, connected_components
    from ..operators.sampling import SPLIT_BUCKETS, split_bucket

    # persist the base derivation: each rate's CC otherwise re-runs the
    # full lineitem self-join (3× the most expensive scan of the query);
    # released after the last rate's fixpoint is materialized below
    e = edges(spark, sf_dir, G_SPARSE_SQL).persist()
    out = None
    try:
        for rate in _PERC_RATES:
            cut = int(rate * SPLIT_BUCKETS)
            keep = (split_bucket(F.col("src"), "fail") >= cut) & (
                split_bucket(F.col("dst"), "fail") >= cut
            )
            res = connected_components(
                spark, e.where(keep), num_partitions=graph_nparts(spark, sf_dir)
            )
            if not (res.converged and res.supersteps < _PERC_CC_ITERS):
                raise RuntimeError(
                    f"percolation_curve: CC at rate {rate} took "
                    f"{res.supersteps} supersteps (converged={res.converged}); "
                    f"raise _PERC_CC_ITERS to keep the unrolled oracle exact"
                )
            row = (
                component_sizes(res.components)
                .agg(
                    F.sum("size").alias("_nv"),
                    F.count("*").alias("_nc"),
                    F.max("size").alias("_g"),
                )
                .select(
                    F.lit(int(rate * 100)).cast("long").alias("removed_pct"),
                    F.col("_nv").cast("long").alias("n_vertices"),
                    F.col("_nc").cast("long").alias("n_components"),
                    F.col("_g").cast("long").alias("giant_size"),
                    F.round(F.col("_g") / F.col("_nv"), 6).alias("giant_share6"),
                )
            )
            out = row if out is None else out.unionByName(row)
    finally:
        # every rate's CC state is localCheckpoint-materialized inside
        # connected_components, so the rows no longer need the base cache;
        # a raising rate releases it too
        e.unpersist()
    return out


def _percolation_sql() -> str:
    from ..operators.sampling import SPLIT_BUCKETS, split_bucket_sql

    bs = split_bucket_sql("src", "fail")
    bd = split_bucket_sql("dst", "fail")
    blocks, tails = [], []
    for i, rate in enumerate(_PERC_RATES):
        cut = int(rate * SPLIT_BUCKETS)
        blocks.append(f"""
, surv{i} AS (SELECT src, dst FROM gbase WHERE {bs} >= {cut} AND {bd} >= {cut})
, sym{i} AS (SELECT src, dst FROM surv{i}
             UNION ALL SELECT dst AS src, src AS dst FROM surv{i})
, verts{i} AS (SELECT DISTINCT src AS id FROM sym{i})
, ep{i} AS (SELECT src, dst FROM sym{i} UNION ALL SELECT id, id FROM verts{i})
, cc{i}(iter, id, comp) AS (
    SELECT 0, id, id FROM verts{i}
    UNION ALL
    SELECT c.iter + 1, e.dst, min(c.comp)
    FROM cc{i} c JOIN ep{i} e ON e.src = c.id
    WHERE c.iter < {_PERC_CC_ITERS}
    GROUP BY c.iter, e.dst)
, sizes{i} AS (
    SELECT comp, count(*) AS size
    FROM (SELECT id, comp FROM cc{i} WHERE iter = {_PERC_CC_ITERS})
    GROUP BY comp)
""")
        tails.append(f"""
SELECT CAST({int(rate * 100)} AS BIGINT) AS removed_pct,
       CAST(sum(size) AS BIGINT) AS n_vertices,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(size) AS BIGINT) AS giant_size,
       round(CAST(max(size) AS DOUBLE) / CAST(sum(size) AS DOUBLE), 6)
         AS giant_share6
FROM sizes{i}""")
    return (
        f"WITH RECURSIVE gbase AS ({G_SPARSE_SQL})"
        + "".join(blocks)
        + " UNION ALL ".join(tails)
    )


# ---- half-life-decayed counters ----------------------------------------------
def _q_decayed_counts(spark, sf_dir):
    """Trending telemetry: per event type the exponentially decayed
    event count as of the stream's max day, half-life one week STEPPED
    IN INTEGER WEEKS — weight = 2^-(age_days div 7), an exact power of
    two in both engines (no transcendental in the hot path). One scan,
    |event_type| output rows; in streaming form the counter state is the
    same |types| rows folded per micro-batch."""
    register(spark, sf_dir)
    ev = spark.table("events")
    asof = ev.agg(F.max(F.to_date("ts"))).first()[0]
    k = F.floor(F.datediff(F.lit(asof), F.to_date("ts")) / 7).cast("int")
    return (
        ev.select("event_type", F.pow(F.lit(2.0), -k).alias("w"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("w"), 6).alias("decayed6"),
        )
    )


_DECAYED_SQL = """
WITH mxday AS (SELECT max(CAST(ts AS DATE)) AS d FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(pow(2.0, -CAST(floor(
           datediff('day', CAST(ts AS DATE), (SELECT d FROM mxday)) / 7
       ) AS INT))), 6) AS decayed6
FROM events GROUP BY event_type
"""


QUERIES = {
    "graph_landmark_bounds": (_q_landmark_bounds, _LANDMARK_SQL),
    "graph_percolation_curve": (_q_percolation_curve, _percolation_sql()),
    "rel_decayed_counts": (_q_decayed_counts, _DECAYED_SQL),
}
