"""Independent reference results for the benchmark's correctness gate.

Each oracle recomputes one kernel's output in the benchmark process from the plain
edge arrays, with its own code path (numpy, a Python union-find, DuckDB),
so a wrong answer from the engine cannot also be the expected answer.
The rules are the engine's documented semantics, the same ones the test
suite's oracles encode; these versions are vectorized so they stay cheap
at benchmark sizes.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def pagerank(
    src: np.ndarray, dst: np.ndarray, n: int, iterations: int, damping: float = 0.85
) -> np.ndarray:
    """Dense power iteration with dangling-mass redistribution, started
    from the uniform vector and run for exactly ``iterations`` supersteps.
    Returns the ranks indexed by vertex id."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    coef = 1.0 / out_deg[src]
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        mass = np.bincount(dst, weights=r[src] * coef, minlength=n)
        r = (1.0 - damping) / n + damping * (mass + r[dangling].sum() / n)
    return r


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Union-find with the smaller-root-wins rule: label = min vertex id of
    the component, isolated vertices label themselves."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(src.tolist(), dst.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return np.array([find(v) for v in range(n)], dtype=np.int64)


def label_propagation(
    src: np.ndarray, dst: np.ndarray, n: int, max_iter: int
) -> tuple[np.ndarray, int]:
    """Synchronous label propagation on the undirected simple graph: every
    vertex votes its own label plus each neighbour's; the most votes wins,
    ties go to the smallest label. Stops when no label changes (that round
    counted) or after ``max_iter`` rounds. Returns (labels, rounds)."""
    keep = src != dst
    u = np.concatenate([src[keep], dst[keep]])
    v = np.concatenate([dst[keep], src[keep]])
    pairs = np.unique(u * n + v)
    u, v = pairs // n, pairs % n
    own = np.arange(n, dtype=np.int64)
    voter = np.concatenate([u, own])
    labels = own.copy()
    rounds = 0
    for rounds in range(1, max_iter + 1):
        keys, cnt = np.unique(voter * n + np.concatenate([labels[v], labels]),
                              return_counts=True)
        vid, lab = keys // n, keys % n
        order = np.lexsort((lab, -cnt, vid))
        first = order[np.r_[True, vid[order][1:] != vid[order][:-1]]]
        new = labels.copy()
        new[vid[first]] = lab[first]
        changed = bool((new != labels).any())
        labels = new
        if not changed:
            break
    return labels, rounds


def _undirected(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    return pd.DataFrame({"a": a, "b": b}).drop_duplicates()


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Exact undirected triangle count by DuckDB: each triangle a<b<c is
    found once as the path a-b-c closed by the edge a-c."""
    und = _undirected(src, dst)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("e", und)
        return int(
            con.execute(
                "SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a "
                "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
            ).fetchone()[0]
        )
    finally:
        con.close()


def wedges(src: np.ndarray, dst: np.ndarray, n: int) -> int:
    """Wedges the triangle kernel must close: every undirected edge is
    oriented from the endpoint with the smaller (degree, id) to the larger,
    and each vertex contributes one wedge per pair of its out-neighbours."""
    und = _undirected(src, dst)
    a, b = und["a"].to_numpy(), und["b"].to_numpy()
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    apex = np.where(a_first, a, b)
    out = np.bincount(apex, minlength=n).astype(np.int64)
    return int((out * (out - 1) // 2).sum())


def star_rounds(src: np.ndarray, dst: np.ndarray, n: int) -> int:
    """Rounds of alternating large-star/small-star (Kiveris et al., SoCC
    2014) until the edge set stops changing, that last round counted. A
    property of the input, not a check of the engine: it tells whether a
    seed's graph asks WCC for the workload's usual number of rounds."""

    def canonical(s: np.ndarray, d: np.ndarray) -> np.ndarray:
        keep = s != d
        return np.unique(np.maximum(s[keep], d[keep]) * n + np.minimum(s[keep], d[keep]))

    def group_min(keys: np.ndarray, vals: np.ndarray) -> np.ndarray:
        out = np.full(n, n, dtype=np.int64)
        np.minimum.at(out, keys, vals)
        return out

    edges = canonical(src.astype(np.int64), dst.astype(np.int64))
    for rounds in range(1, 100):
        s, d = edges // n, edges % n
        # large star: v > u joins min(N(u) + u)
        u, v = np.concatenate([s, d]), np.concatenate([d, s])
        m = np.minimum(group_min(u, v)[u], u)
        up = v > u
        large = canonical(v[up], m[up])
        s, d = large // n, large % n
        # small star: N<(u) + u join min(N<(u))
        m = group_min(s, d)
        roots = np.unique(s)
        new = canonical(np.concatenate([d, roots]), np.concatenate([m[s], m[roots]]))
        if np.array_equal(new, edges):
            return rounds
        edges = new
    raise RuntimeError("large-star/small-star did not converge in 99 rounds")
