"""Seeded benchmark inputs and the numpy references the checks compare to.

Everything here is independent of the engine: the lineitem-shaped input is
generated with numpy, and every reference result (edge set, PageRank,
components, label propagation, triangles) is recomputed with numpy from the
edge list, so a check never trusts the code it is checking.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MASK = (1 << 63) - 1


def relabel(ids: np.ndarray, seed: int) -> np.ndarray:
    """Seeded bijection of non-negative int64 ids onto [0, 2**63).

    Each round (odd multiply, xor-shift, add) is invertible modulo 2**63,
    so distinct ids stay distinct and graph structure is unchanged; only
    the ids, and with them the hash partitioning, move with the seed."""
    x = ids.astype(np.uint64)
    m = np.uint64(_MASK)
    key = np.uint64((seed * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & _MASK)
    with np.errstate(over="ignore"):
        for mult, shift in ((0xBF58476D1CE4E5B9, 31), (0x94D049BB133111EB, 29)):
            x = (x * np.uint64(mult | 1)) & m
            x ^= x >> np.uint64(shift)
            x = (x + key) & m
    return x.astype(np.int64)


def write_lineitem(path: str, seed: int, n_orders: int, n_parts: int) -> tuple[np.ndarray, np.ndarray]:
    """TPC-H-shaped lineitem (l_orderkey, l_partkey): 1-7 lines per order,
    uniform part keys. The table's structure is the same for every seed;
    the seed relabels the part keys (``relabel``), so every seed yields the
    same co-occurrence graph up to isomorphism, with different ids and
    hence a different hash partitioning. Returns the columns as written."""
    rng = np.random.default_rng(20240601)
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    partkey = relabel(rng.integers(1, n_parts + 1, orderkey.size), seed)
    pq.write_table(pa.table({"l_orderkey": orderkey, "l_partkey": partkey}), path)
    return orderkey, partkey


def cooccurrence_edges(orderkey: np.ndarray, partkey: np.ndarray) -> np.ndarray:
    """Distinct (src < dst) part pairs sharing an order — the numpy twin of
    ``G_PARTS_SQL``. Returns an (m, 2) int64 array sorted by (src, dst)."""
    order = np.argsort(orderkey, kind="stable")
    ok, pk = orderkey[order], partkey[order]
    pairs = []
    for d in range(1, 7):  # at most 7 lines per order
        same = ok[:-d] == ok[d:]
        a, b = pk[:-d][same], pk[d:][same]
        pairs.append(np.stack([np.minimum(a, b), np.maximum(a, b)], 1))
    e = np.concatenate(pairs)
    e = e[e[:, 0] != e[:, 1]]
    return np.unique(e, axis=0)


class Graph:
    """Undirected simple graph over dense vertex indices: the form every
    engine kernel sees after ``simple_edges`` (loops dropped, both
    directions, deduplicated)."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        keep = src != dst
        src, dst = src[keep], dst[keep]
        self.ids = np.unique(np.concatenate([src, dst]))
        n = self.ids.size
        s = np.searchsorted(self.ids, src)
        d = np.searchsorted(self.ids, dst)
        key = np.unique(np.concatenate([s * n + d, d * n + s]))
        self.n = n
        self.src, self.dst = key // n, key % n
        self.deg = np.bincount(self.src, minlength=n)

    @property
    def sym_edges(self) -> int:
        return int(self.src.size)

    def pagerank(self, alpha: float = 0.85, iters: int | None = None, tol: float = 1e-13) -> np.ndarray:
        """Power iteration from the uniform vector (no dangling vertices in
        a symmetrized graph). ``iters`` runs exactly that many steps;
        otherwise runs to L1 change < ``tol``."""
        r = np.full(self.n, 1.0 / self.n)
        share = 1.0 / self.deg[self.src]
        step = 0
        while True:
            nxt = (1.0 - alpha) / self.n + alpha * np.bincount(
                self.dst, weights=r[self.src] * share, minlength=self.n
            )
            step += 1
            done = step >= iters if iters is not None else np.abs(nxt - r).sum() < tol
            r = nxt
            if done:
                return r

    def components(self) -> np.ndarray:
        """Per-vertex component label = smallest member id."""
        lab = np.arange(self.n)
        while True:
            nxt = lab.copy()
            np.minimum.at(nxt, self.dst, lab[self.src])
            nxt = nxt[nxt]  # pointer jumping
            if np.array_equal(nxt, lab):
                return self.ids[lab]
            lab = nxt

    def label_propagation(self, steps: int) -> np.ndarray:
        """Synchronous LPA: the most frequent neighbour label, ties to the
        smallest label (the engine's documented semantics)."""
        lab = np.arange(self.n)  # label as an index into ids (same order)
        for _ in range(steps):
            key, cnt = np.unique(self.dst * self.n + lab[self.src], return_counts=True)
            v, label = key // self.n, key % self.n
            best = np.lexsort((label, -cnt, v))
            first = np.ones(best.size, bool)
            first[1:] = v[best][1:] != v[best][:-1]
            nxt = lab.copy()
            nxt[v[best][first]] = label[best][first]
            lab = nxt
        return self.ids[lab]

    def triangles(self) -> int:
        """Triangle count over the degree-ordered orientation."""
        rank = np.lexsort((np.arange(self.n), self.deg))
        pos = np.empty(self.n, np.int64)
        pos[rank] = np.arange(self.n)
        fwd = pos[self.src] < pos[self.dst]
        u, v = pos[self.src][fwd], pos[self.dst][fwd]
        order = np.lexsort((v, u))
        u, v = u[order], v[order]
        keys = u * self.n + v  # sorted
        row_end = np.searchsorted(u, u, side="right")
        total, idx, t = 0, np.arange(u.size), 1
        while idx.size:
            idx = idx[idx + t < row_end[idx]]
            if not idx.size:
                break
            a, b = v[idx], v[idx + t]
            probe = np.minimum(a, b) * self.n + np.maximum(a, b)
            hit = np.searchsorted(keys, probe)
            hit[hit == keys.size] = 0
            total += int(np.count_nonzero(keys[hit] == probe))
            t += 1
        return total

    def index_of(self, ids: np.ndarray) -> np.ndarray:
        """Dense indices of engine output ids; raises if any id is unknown."""
        i = np.searchsorted(self.ids, ids)
        i[i == self.n] = 0
        if not np.array_equal(self.ids[i], ids):
            raise AssertionError("output holds ids that are not vertices of the graph")
        return i


def by_vertex(g: Graph, ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Scatter an engine (id, value) result into dense vertex order,
    checking it covers every vertex exactly once."""
    if ids.size != g.n:
        raise AssertionError(f"result has {ids.size} rows for {g.n} vertices")
    i = g.index_of(ids)
    if np.unique(i).size != g.n:
        raise AssertionError("result repeats a vertex")
    out = np.empty(g.n, dtype=values.dtype)
    out[i] = values
    return out
