"""Reference answers the benchmark checks every timed operation against.

All of them are plain Python / numpy / networkx and independent of Spark:

- PageRank: numpy power iteration with the kernel's rule
  ``r' = (1-d)/N + d * (dangling_mass/N + sum_{u->v} r(u)/outdeg(u))``,
  stopping after ``max_iter`` iterations or once ``max|r' - r| <= tol``;
- connected components and triangle count: networkx;
- label propagation: synchronous LPA, ties to the smallest label;
- road paths: Dijkstra with the reference's node-length cost (leaving a
  node costs its length; the source's successors start at 0) and cutoff.
"""

from __future__ import annotations

import heapq
import json
import os
from collections import Counter, defaultdict
from typing import Callable

import numpy as np


def cached(cache_dir: str, key: str, compute: Callable[[], dict]) -> dict:
    """JSON-serialisable oracle ``compute()``, cached on disk under ``key``
    (which must name everything the answer depends on, seed included)."""
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        pass
    out = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def pagerank(src, dst, damping: float = 0.85, tol: float = 0.0, max_iter: int = 100):
    """(vertex ids, ranks, iterations, converged) over the distinct edges."""
    src, dst = np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64)
    ids = np.unique(np.concatenate([src, dst]))
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n)
    dangling = outdeg == 0
    inv = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    it, converged = 0, False
    while it < max_iter:
        dm = r[dangling].sum()
        new = (1.0 - damping) / n + damping * (dm / n + np.bincount(d, weights=r[s] * inv, minlength=n))
        delta = np.abs(new - r).max()
        r, it = new, it + 1
        if delta <= tol:
            converged = True
            break
    return ids.tolist(), r.tolist(), it, converged


def components(src, dst) -> dict[int, int]:
    """vertex -> smallest vertex id of its (weakly) connected component."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(src, dst))
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def triangles(src, dst) -> int:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(src, dst) if a != b)
    return sum(nx.triangles(g).values()) // 3


def label_propagation(src, dst, max_iter: int) -> dict[int, int]:
    """Synchronous LPA on the undirected simple graph: every vertex takes
    the most frequent label among its neighbours, ties to the smallest;
    stops after ``max_iter`` rounds or a round with no change."""
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in zip(src, dst):
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    label = {v: v for v in adj}
    for _ in range(max_iter):
        new = {}
        for v, nbrs in adj.items():
            votes = Counter(label[u] for u in nbrs)
            new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
        changed = sum(new[v] != label[v] for v in adj)
        label = new
        if changed == 0:
            break
    return label


def node_length_dijkstra(succ, length, source: int, cutoff: float) -> dict[int, float]:
    """Distances from ``source`` under the reference cost model: the
    source's successors are seeded at 0 whatever the cutoff, relaxing out
    of ``u`` adds ``length[u]``, and a node is admitted only while its
    distance is ``<= cutoff``. The source itself is not in the result
    unless a cycle leads back to it."""
    dist: dict[int, float] = {}
    heap = [(0.0, v) for v in succ[source]]
    heapq.heapify(heap)
    while heap:
        d, u = heapq.heappop(heap)
        if u in dist:
            continue
        dist[u] = d
        nd = d + length[u]
        if nd > cutoff:
            continue
        for v in succ[u]:
            if v not in dist:
                heapq.heappush(heap, (nd, v))
    return dist
