"""Reference answers computed by the benchmark itself, never by the engine.

Every oracle works on plain numpy arrays (or networkx for triangles) that
the benchmark collects outside the timed sections. Node ids are arbitrary
int64 values; each oracle first maps them to dense indices with
``np.unique`` and maps its answer back to ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _index(ids: np.ndarray, *cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """Dense positions of each column's values inside the sorted ``ids``."""
    return tuple(np.searchsorted(ids, c) for c in cols)


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray,
    ids: np.ndarray,
    iterations: int,
    alpha: float = 0.85,
) -> np.ndarray:
    """Weighted power iteration with uniform teleport and dangling mass
    spread uniformly, run for exactly ``iterations`` steps from 1/n.
    Returns ranks aligned with the sorted ``ids``."""
    n = len(ids)
    s, d = _index(ids, src, dst)
    out_w = np.bincount(s, weights=weight, minlength=n)
    share = weight / out_w[s]
    dangling = out_w == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dm = rank[dangling].sum()
        incoming = np.bincount(d, weights=rank[s] * share, minlength=n)
        rank = (1.0 - alpha) / n + alpha * dm / n + alpha * incoming
    return rank


def components(src: np.ndarray, dst: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Connected components of the undirected graph: for each sorted id,
    the smallest id in its component (min-label flooding with pointer
    jumping, vectorised)."""
    s, d = _index(ids, src, dst)
    label = np.arange(len(ids))
    while True:
        low = np.minimum(label[s], label[d])
        nxt = label.copy()
        np.minimum.at(nxt, s, low)
        np.minimum.at(nxt, d, low)
        while True:  # pointer jumping: follow labels to their roots
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, label):
            return ids[label]
        label = nxt


def bfs_levels(
    src: np.ndarray, dst: np.ndarray, ids: np.ndarray, source: int, max_hops: int
) -> np.ndarray:
    """Hop distance along the given directed edges from ``source`` for
    each sorted id; -1 marks a node not reached within ``max_hops``.
    Frontier BFS over a CSR built with argsort."""
    n = len(ids)
    s, d = _index(ids, src, dst)
    order = np.argsort(s, kind="stable")
    targets = d[order]
    offsets = np.concatenate(([0], np.cumsum(np.bincount(s, minlength=n))))
    dist = np.full(n, -1, dtype=np.int64)
    frontier = np.array([np.searchsorted(ids, source)])
    dist[frontier] = 0
    level = 0
    while len(frontier) and level < max_hops:
        level += 1
        starts, ends = offsets[frontier], offsets[frontier + 1]
        lengths = ends - starts
        if lengths.sum() == 0:
            break
        gather = np.repeat(starts - np.cumsum(lengths) + lengths, lengths)
        gather += np.arange(lengths.sum())
        reached = np.unique(targets[gather])
        frontier = reached[dist[reached] < 0]
        dist[frontier] = level
    return dist


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the simple undirected graph underlying the edges."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return sum(nx.triangles(g).values()) // 3


def label_propagation(
    src: np.ndarray, dst: np.ndarray, ids: np.ndarray, max_iterations: int
) -> tuple[np.ndarray, int]:
    """Synchronous label propagation: each node takes the most frequent
    label among its distinct undirected neighbours, ties to the smallest
    label; a node without neighbours keeps its label. Stops after a round
    that changes nothing. Returns (labels aligned with ids, rounds run)."""
    s, d = _index(ids, src, dst)
    pairs = np.unique(
        np.concatenate([np.stack([s, d], 1), np.stack([d, s], 1)]), axis=0
    )
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    u, v = pairs[:, 0], pairs[:, 1]
    label = ids.copy()
    for rounds in range(1, max_iterations + 1):
        votes = pd.DataFrame({"u": u, "label": label[v]})
        counts = votes.groupby(["u", "label"]).size().reset_index(name="n")
        best = (
            counts.sort_values(["u", "n", "label"], ascending=[True, False, True])
            .drop_duplicates("u")
        )
        nxt = label.copy()
        nxt[best["u"].to_numpy()] = best["label"].to_numpy()
        changed = int((nxt != label).sum())
        label = nxt
        if changed == 0:
            return label, rounds
    return label, max_iterations


def neighbourhood_mean(
    ids: np.ndarray, vecs: np.ndarray, src: np.ndarray, dst: np.ndarray
) -> np.ndarray:
    """Node vectors for the sorted ``ids``: each node's own vector
    averaged with the vectors of the nodes it links to (one term per edge
    row; links to nodes outside ``ids`` add nothing), then scaled to unit
    length where the norm is positive."""
    inside = np.isin(dst, ids)
    s, d = _index(ids, src[inside], dst[inside])
    total = vecs.astype(np.float64, copy=True)
    count = np.ones(len(ids))
    np.add.at(total, s, vecs[d])
    np.add.at(count, s, 1.0)
    mean = total / count[:, None]
    norm = np.linalg.norm(mean, axis=1, keepdims=True)
    return np.where(norm > 0, mean / np.where(norm > 0, norm, 1.0), mean)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row positions of the ``k`` highest-cosine corpus rows per query."""
    c = corpus / np.maximum(np.linalg.norm(corpus, axis=1, keepdims=True), 1e-300)
    q = queries / np.maximum(np.linalg.norm(queries, axis=1, keepdims=True), 1e-300)
    sims = q @ c.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]
