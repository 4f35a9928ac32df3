"""The workloads: inputs, set-up, one pass of checked calls, probes.

Every call into the engine goes through ``Runner.op``: it is timed from
outside (inside a span), its result is collected to the driver, and then
checked against a numpy reference. A call that raises or fails its check
counts as failed. Kernel calls are separated by ``spark.catalog.clearCache()``
so no call inherits another call's cached state; the input tables are
materialized with ``localCheckpoint`` so they survive the clearing.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
from pyspark.sql import functions as F

from igpm_pem_spark.lineage import LineageLog
from igpm_pem_spark.operators.components import connected_components
from igpm_pem_spark.operators.graph import kernel_nparts, partitioned_adjacency
from igpm_pem_spark.operators.incremental import incremental_pagerank
from igpm_pem_spark.operators.labelprop import label_propagation
from igpm_pem_spark.operators.pagerank import pagerank
from igpm_pem_spark.operators.triangles import triangle_count
from igpm_pem_spark.queries._common import G_PARTS_SQL, edges
from igpm_pem_spark.sources.synthetic_graph import synthetic_edges
from igpm_pem_spark.sources.temporal_store import load_ts_partitioned, save_ts_partitioned

from perfbench.graphs import Graph, by_vertex, cooccurrence_edges, write_lineitem

# Kernel calls whose Spark work is reported per call as ``<kernel>.<metric>``.
KERNELS = ("pagerank", "components", "labelprop", "triangles", "refresh", "resume")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _kernel_info(res, executed: int | None = None) -> dict:
    """Superstep bookkeeping of a PageRank / CC / LPA result."""
    parts = [s.partition_stats for s in res.stats if s.partition_stats]
    return {
        "supersteps": res.supersteps if executed is None else executed,
        "commit_walls": [s.wall_time_sec for s in res.stats],
        "partition_edges": [p["edge_count"] for p in parts[-1]] if parts else [],
    }


def _ranks(res) -> tuple[np.ndarray, np.ndarray]:
    pdf = res.ranks.toPandas()
    return pdf["id"].to_numpy(np.int64), pdf["rank"].to_numpy(np.float64)


def _labels(df, col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas()
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy(np.int64)


def check_ranks(g: Graph, out, ref: np.ndarray, l1_tol: float) -> np.ndarray:
    ranks = by_vertex(g, *out)
    mass = float(ranks.sum())
    if abs(mass - 1.0) > 1e-9:
        raise AssertionError(f"PageRank mass {mass!r} is not 1 +- 1e-9")
    l1 = float(np.abs(ranks - ref).sum())
    if l1 > l1_tol:
        raise AssertionError(f"PageRank L1 distance to reference {l1:.3g} > {l1_tol:.3g}")
    return ranks


def check_labels(g: Graph, out, ref: np.ndarray, what: str) -> None:
    got = by_vertex(g, *out)
    bad = int(np.count_nonzero(got != ref))
    if bad:
        raise AssertionError(f"{what}: {bad} of {g.n} vertices differ from the reference")


def check_components(g: Graph, out, ref: np.ndarray) -> None:
    check_labels(g, out, ref, "components")
    got = by_vertex(g, *out)
    if np.count_nonzero(got[g.src] != got[g.dst]):
        raise AssertionError("an edge joins two components")


class Runner:
    """Session, recorder and per-pass bookkeeping shared by the workloads."""

    def __init__(self, rec):
        self.rec = rec
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.ops: dict[str, dict] = {}  # the current pass's calls

    def _fail(self, what: str, err: BaseException) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {self.rec.workload}/{what}: {err!r}", file=sys.stderr)

    def op(self, name: str, call, check=None, spark_call: bool = True):
        """Run one timed engine call, then its check. Returns the call's
        value, or None when the call raised."""
        self.attempted += 1
        if spark_call:
            self.spark.catalog.clearCache()
        try:
            with self.rec.span(name, self.spark if spark_call else None) as sp:
                value, info = call()
        except Exception as err:  # noqa: BLE001 — counted, reported, run goes on
            self._fail(name, err)
            return None
        sp.update(info)
        self.ops[name] = sp
        if check is not None:
            try:
                check(value)
            except Exception as err:  # noqa: BLE001
                self._fail(f"{name} check", err)
        return value

    def check(self, name: str, fn) -> None:
        """A check that spans several calls (no engine call of its own)."""
        self.attempted += 1
        try:
            fn()
        except Exception as err:  # noqa: BLE001
            self._fail(name, err)


class Workload:
    name = ""

    def __init__(self, seed: int, smoke: bool, work: str):
        self.seed, self.smoke = seed, smoke
        self.dir = os.path.join(work, self.name)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.sym_edges = 0  # symmetrized simple edges of the PageRank graph

    def size(self, full, smoke):
        return smoke if self.smoke else full

    def prepare(self) -> None:
        """Write the seeded inputs (numpy; not engine work)."""

    def setup(self, r: Runner) -> int:
        """Build and materialize the engine's input tables; returns rows."""
        raise NotImplementedError

    def reference(self, r: Runner) -> None:
        """Check the inputs and compute the numpy references."""
        raise NotImplementedError

    def run_pass(self, r: Runner, index: int) -> None:
        raise NotImplementedError

    def probes(self, r: Runner) -> dict:
        """Traced-run layer probes run once after the measured window, on
        the workload's input edge table ``self.e``."""
        e = self.e
        nparts = kernel_nparts(e)
        r.spark.catalog.clearCache()
        with r.rec.span("graph.adjacency_build", r.spark) as sp:
            adj = partitioned_adjacency(e, nparts).persist()
            adj.count()
        adj.unpersist()
        return {"graph.adjacency_build_s": sp["wall"], "graph.nparts": nparts}


class _Lineitem(Workload):
    """Workloads over the part co-occurrence graph of a seeded lineitem."""

    orders = (0, 0)
    parts = (0, 0)

    def prepare(self):
        n_orders = self.size(*self.orders)
        n_parts = self.size(*self.parts)
        self.lineitem = write_lineitem(
            os.path.join(self.dir, "lineitem.parquet"), self.seed, n_orders, n_parts
        )

    def build(self, r: Runner, sql: str):
        return edges(r.spark, self.dir, sql).localCheckpoint(eager=True)

    def check_edges(self, r: Runner, df) -> Graph:
        want = cooccurrence_edges(*self.lineitem)

        def collect():
            pdf = df.toPandas()
            got = np.stack([pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)], 1)
            return got[np.lexsort((got[:, 1], got[:, 0]))], {}

        def same(got):
            if not np.array_equal(got, want):
                raise AssertionError(f"edge table has {len(got)} rows, reference {len(want)}")

        r.op("sources.edges_check", collect, same, spark_call=False)
        return Graph(want[:, 0], want[:, 1])


class Converge(_Lineitem):
    """Many cheap supersteps on a mid-size graph: in-memory PageRank to
    L1 < 1e-6, an interrupted and resumed durable PageRank, durable
    hash-min CC, 3-step LPA and a triangle count."""

    name = "converge"
    orders = (1500, 300)
    parts = (600, 120)
    tol = 1e-6
    lpa_steps = 3
    steps_per_commit = 3  # durable PageRank: a commit every 3 supersteps
    cc_steps_per_commit = 4

    def setup(self, r):
        self.e = self.build(r, G_PARTS_SQL)
        return self.e.count()

    def reference(self, r):
        self.g = self.check_edges(r, self.e)
        self.sym_edges = self.g.sym_edges
        self.pr_ref = self.g.pagerank()
        self.cc_ref = self.g.components()
        self.lpa_ref = self.g.label_propagation(self.lpa_steps)
        self.tri_ref = self.g.triangles()

    def run_pass(self, r, index):
        s, g, spc = r.spark, self.g, self.steps_per_commit
        for old in os.listdir(self.dir):
            if old.startswith("ckpt-"):
                shutil.rmtree(os.path.join(self.dir, old))
        self.ck = os.path.join(self.dir, f"ckpt-{index}-pr")
        ck_cc = os.path.join(self.dir, f"ckpt-{index}-cc")

        def pr():
            res = pagerank(s, self.e, tol=self.tol)
            return _ranks(res), _kernel_info(res)

        def interrupted():
            res = pagerank(s, self.e, tol=self.tol, checkpoint_dir=self.ck,
                           steps_per_commit=spc, max_iter=2 * spc)
            return res, _kernel_info(res)

        def resumed():
            res = pagerank(s, self.e, tol=self.tol, checkpoint_dir=self.ck,
                           steps_per_commit=spc)
            executed = res.supersteps - (res.resumed_from + 1 if res.resumed_from is not None else 0)
            return (res, _ranks(res)), _kernel_info(res, executed)

        def cc():
            res = connected_components(s, self.e, checkpoint_dir=ck_cc,
                                       steps_per_commit=self.cc_steps_per_commit)
            return _labels(res.components, "component"), _kernel_info(res)

        def lpa():
            res = label_propagation(
                s, self.e, max_iter=self.lpa_steps, stop_on_stable=False,
                steps_per_commit=self.lpa_steps,
            )
            return _labels(res.labels, "label"), _kernel_info(res)

        def check_interrupted(res):
            _equal("interrupted supersteps", res.supersteps, 2 * spc)
            _equal("newest commit", LineageLog(s, self.ck).last_committed(), 2 * spc - 1)

        def check_resumed(value):
            res, out = value
            _equal("resumed from", res.resumed_from, 2 * spc - 1)
            ranks = check_ranks(g, out, self.pr_ref, 10 * self.tol)
            if mem is not None and not np.allclose(ranks, by_vertex(g, *mem), rtol=0, atol=1e-6):
                raise AssertionError("resumed ranks differ from the in-memory run by > 1e-6")

        mem = r.op("pagerank", pr, lambda out: check_ranks(g, out, self.pr_ref, 10 * self.tol))
        r.op("durable", interrupted, check_interrupted)
        r.op("resume", resumed, check_resumed)
        r.op("components", cc, lambda out: check_components(g, out, self.cc_ref))
        r.op("labelprop", lpa, lambda out: check_labels(g, out, self.lpa_ref, "labelprop"))
        r.op("triangles", lambda: (triangle_count(self.e), {}),
             lambda n: _equal("triangles", n, self.tri_ref))

    def probes(self, r):
        out = super().probes(r)
        log = LineageLog(r.spark, self.ck)
        with r.rec.span("lineage.load", r.spark) as sp:
            k = log.last_committed()
            log.load_state(k).count()
        markers = sum(1 for f in os.listdir(self.ck) if f.startswith("_committed_"))
        out.update({
            "lineage.load_s": sp["wall"],
            "lineage.lineage_rows": log.lineage_df().count(),
            "lineage.bytes_per_commit": _dir_bytes(self.ck) / max(markers, 1),
        })
        return out


def _equal(what, got, want):
    if got != want:
        raise AssertionError(f"{what}: {got} != reference {want}")


class SkewedLarge(Workload):
    name = "skewed_large"
    vertices = (10_000, 400)
    edge_count = (100_000, 3_000)
    pr_steps = 10

    def setup(self, r):
        self.e = synthetic_edges(
            r.spark, self.size(*self.vertices), self.size(*self.edge_count), seed=self.seed
        ).localCheckpoint(eager=True)
        return self.e.count()

    def reference(self, r):
        def collect():
            pdf = self.e.toPandas()
            return (pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)), {}

        src_dst = r.op("sources.edges_collect", collect, spark_call=False)
        self.g = Graph(*src_dst)
        self.sym_edges = self.g.sym_edges
        self.pr_ref = self.g.pagerank(iters=self.pr_steps)
        self.cc_ref = self.g.components()
        self.tri_ref = self.g.triangles()

    def run_pass(self, r, index):
        s, g = r.spark, self.g

        def pr():
            res = pagerank(s, self.e, tol=0.0, max_iter=self.pr_steps)
            return _ranks(res), _kernel_info(res)

        def cc():
            res = connected_components(s, self.e)
            return _labels(res.components, "component"), _kernel_info(res)

        r.op("pagerank", pr, lambda out: check_ranks(g, out, self.pr_ref, 1e-9))
        r.op("components", cc, lambda out: check_components(g, out, self.cc_ref))
        r.op("triangles", lambda: (triangle_count(self.e), {}),
             lambda n: _equal("triangles", n, self.tri_ref))


class Replay(_Lineitem):
    name = "replay"
    orders = (1500, 300)
    parts = (600, 120)
    base_share = 0.94
    buckets = 2
    tol = 1e-3
    # the warm start inherits the carried ranks' residue (O(tol) per bucket)
    replay_l1 = 50 * 1e-3

    def setup(self, r):
        self.e = self.build(r, G_PARTS_SQL)
        h = F.pmod(F.xxhash64("src", "dst", F.lit(self.seed)), F.lit(1_000_000))
        later = F.pmod(F.xxhash64("src", "dst", F.lit(self.seed + 1)), F.lit(self.buckets)) + 1
        self.stamped = self.e.withColumn(
            "ts", F.when(h < int(self.base_share * 1_000_000), 0).otherwise(later).cast("int")
        ).localCheckpoint(eager=True)
        return self.stamped.count()

    def reference(self, r):
        self.g = self.check_edges(r, self.e)
        self.sym_edges = self.g.sym_edges
        self.pr_ref = self.g.pagerank()

    def run_pass(self, r, index):
        s, g = r.spark, self.g
        path = os.path.join(self.dir, "edges_ts")

        def write():
            save_ts_partitioned(self.stamped, path)
            return None, {}

        def read():
            loaded = load_ts_partitioned(s, path)
            sizes = {int(t): int(c) for t, c in loaded.groupBy("ts").count().collect()}
            return (loaded, sizes), {}

        def check_sizes(value):
            _, sizes = value
            if sorted(sizes) != list(range(self.buckets + 1)):
                raise AssertionError(f"arrival buckets {sorted(sizes)}")
            _equal("edges over all buckets", sum(sizes.values()), len(g.src) // 2)

        def refresh():
            res = incremental_pagerank(s, loaded, tol=self.tol)
            pdf = res.state.toPandas()
            out = (pdf["id"].to_numpy(np.int64), pdf["rank"].to_numpy(np.float64))
            return out, {"steps": res.steps}

        def scratch():
            res = pagerank(s, loaded, tol=self.tol)
            return _ranks(res), _kernel_info(res)

        r.op("sources.ingest_write", write)
        read_out = r.op("sources.slice_read", read, check_sizes)
        if read_out is None:
            return
        loaded, _ = read_out
        inc = r.op("refresh", refresh, lambda out: check_ranks(g, out, self.pr_ref, self.replay_l1))
        if "refresh" in r.ops:
            steps = r.ops["refresh"]["steps"]
            r.ops["refresh"]["supersteps"] = sum(st.supersteps for st in steps)
            r.check("refresh steps", lambda: _refresh_steps(steps, r.ops["refresh"]["wall"], self.buckets))
        full = r.op("pagerank", scratch, lambda out: check_ranks(g, out, self.pr_ref, 10 * self.tol))
        if inc is not None and full is not None:
            r.check("replay vs scratch", lambda: _close(
                by_vertex(g, *inc), by_vertex(g, *full), self.replay_l1))


def _refresh_steps(steps, call_wall, buckets):
    _equal("replayed steps", len(steps), buckets + 1)
    total = sum(st.wall_sec for st in steps)
    if total > call_wall + 0.01:
        raise AssertionError(f"bucket walls sum to {total:.3f} s > call {call_wall:.3f} s")


def _close(a, b, l1_tol):
    l1 = float(np.abs(a - b).sum())
    if l1 > l1_tol:
        raise AssertionError(f"L1 distance {l1:.3g} > {l1_tol:.3g}")


WORKLOADS = {w.name: w for w in (Converge, Replay, SkewedLarge)}
