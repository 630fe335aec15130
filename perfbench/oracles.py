"""Independent reference results, computed on the driver off the clock.

Nothing here calls the engine: every oracle starts from the raw edge
arrays and uses numpy or networkx. All of them use the engine's pinned
simple-graph semantics: undirected, parallel edges collapsed, self-loops
dropped (so a vertex whose only edge is a loop is not a vertex).
"""

from __future__ import annotations

import networkx as nx
import numpy as np


class SimpleGraph:
    """Undirected simple graph over int64 vertex ids, as dense arrays."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        keep = src != dst
        a, b = src[keep], dst[keep]
        pairs = np.unique(np.stack([np.minimum(a, b), np.maximum(a, b)], 1), axis=0)
        self.ids, idx = np.unique(pairs, return_inverse=True)
        idx = idx.reshape(pairs.shape)
        self.n = len(self.ids)
        # both directions of every edge, as dense vertex indices
        self.u = np.concatenate([idx[:, 0], idx[:, 1]])
        self.v = np.concatenate([idx[:, 1], idx[:, 0]])
        self.deg = np.bincount(self.u, minlength=self.n).astype(np.float64)
        self._nx: nx.Graph | None = None

    def nx(self) -> nx.Graph:
        if self._nx is None:
            g = nx.Graph()
            g.add_nodes_from(self.ids.tolist())
            half = len(self.u) // 2
            g.add_edges_from(zip(self.ids[self.u[:half]].tolist(), self.ids[self.v[:half]].tolist()))
            self._nx = g
        return self._nx


def pagerank(g: SimpleGraph, alpha: float = 0.85, tol: float = 1e-13) -> np.ndarray:
    """Power iteration to L1 change < ``tol``; ranks in ``g.ids`` order.
    No vertex dangles: every vertex of a simple graph has an edge."""
    r = np.full(g.n, 1.0 / g.n)
    for _ in range(10_000):
        nxt = (1.0 - alpha) / g.n + alpha * np.bincount(
            g.v, weights=(r / g.deg)[g.u], minlength=g.n
        )
        done = np.abs(nxt - r).sum() < tol
        r = nxt
        if done:
            return r
    raise RuntimeError("numpy PageRank did not converge")


def delta_series_pagerank(g: SimpleGraph, steps: int, alpha: float = 0.85) -> np.ndarray:
    """What ``steps`` delta-mode supersteps compute with no frontier cut:
    the truncated series sum_{t<=steps} (alpha P^T)^t (1-alpha)/n, then
    normalized (pagerank.py's residual form). Ranks in ``g.ids`` order."""
    d = np.full(g.n, (1.0 - alpha) / g.n)
    r = d.copy()
    for _ in range(steps):
        d = alpha * np.bincount(g.v, weights=(d / g.deg)[g.u], minlength=g.n)
        r += d
    return r / r.sum()


def delta_series_bound(steps: int, tol: float, alpha: float = 0.85) -> float:
    """L1 error allowed between ``steps`` delta-mode supersteps and
    ``delta_series_pagerank``. Per superstep the frontier drops residuals
    below ``frontier_eps = tol/(10n)`` (pagerank.py's default), at most
    ``tol/10`` in total, and a dropped residual would have added at most
    ``1/(1-alpha)`` times itself; renormalizing at most doubles an L1 error."""
    return 2.0 * steps * (tol / 10.0) / (1.0 - alpha)


def delta_pagerank_bound(n_runs: int, tol: float, alpha: float = 0.85) -> float:
    """L1 error allowed for ``n_runs`` chained delta-mode convergences.

    pagerank.py states the delta fixpoint is exact up to
    ``alpha/(1-alpha) * frontier_eps * n``; with the default
    ``frontier_eps = tol/(10n)`` that is ``alpha*tol/(10(1-alpha))``.
    Stopping at residual mass < ``tol`` leaves at most ``tol/(1-alpha)``
    unpropagated, and renormalizing at most doubles an L1 error. Each warm
    update of a replay inherits the previous run's error on top of its own.
    """
    one = 2.0 * (tol + alpha * tol / 10.0) / (1.0 - alpha)
    return n_runs * one


def components(g: SimpleGraph) -> dict[int, int]:
    """id -> smallest id in its connected component (networkx)."""
    out = {}
    for comp in nx.connected_components(g.nx()):
        m = min(comp)
        out.update(dict.fromkeys(comp, m))
    return out


def triangle_count(g: SimpleGraph) -> int:
    return sum(nx.triangles(g.nx()).values()) // 3


def label_propagation(g: SimpleGraph, iters: int) -> np.ndarray:
    """Synchronous LPA with the engine's pinned semantics (labelprop.py):
    a vertex takes its neighbours' most frequent label, ties to the
    smallest label; runs exactly ``iters`` rounds. Labels in ``g.ids`` order."""
    lab = g.ids.copy()
    for _ in range(iters):
        lv = lab[g.v]
        order = np.lexsort((lv, g.u))
        us, ls = g.u[order], lv[order]
        new_run = np.r_[True, (np.diff(us) != 0) | (np.diff(ls) != 0)]
        starts = np.flatnonzero(new_run)
        counts = np.diff(np.r_[starts, len(us)])
        gu, gl = us[starts], ls[starts]
        best = np.lexsort((gl, -counts, gu))
        first = np.r_[True, np.diff(gu[best]) != 0]
        nxt = lab.copy()
        nxt[gu[best][first]] = gl[best][first]
        lab = nxt
    return lab


def hop_pairs(g: SimpleGraph, seeds, max_hops: int) -> dict[int, int]:
    """seed id -> number of other vertices within ``max_hops`` hops."""
    G = g.nx()
    return {
        int(s): len(nx.single_source_shortest_path_length(G, int(s), cutoff=max_hops)) - 1
        for s in seeds
    }


def anchored_triangles(
    g: SimpleGraph, labels: dict[int, str], focus, label_b: str, label_c: str
) -> set[int]:
    """Focus ids that close a triangle with a ``label_b`` and a
    ``label_c`` neighbour (focus files carry no other label)."""
    G = g.nx()
    focus = {int(f) for f in focus}

    def lab(x):
        return "focus" if x in focus else labels[x]

    hits = set()
    for f in focus:
        if f not in G:
            continue
        nb = [x for x in G[f] if lab(x) == label_b]
        nc = {x for x in G[f] if lab(x) == label_c}
        if any(nc.intersection(G[b]) - {b} for b in nb):
            hits.add(f)
    return hits
