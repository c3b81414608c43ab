"""Correctness gate, run after each repetition outside every timer.

Every timed step gets at least one check against data the engine did not
compute; a step that fails its check counts as a failed operation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import oracles
from paragrapher_spark.sources.webgraph import read_properties
from workloads import JobResult, Workload

RTOL = 1e-6  # per-vertex PageRank agreement with the oracle
SUM_TOL = 1e-9  # |sum of ranks - 1|


def _by_id(df: pd.DataFrame, col: str, n: int) -> np.ndarray | None:
    """``col`` indexed by vertex id, or None unless every id 0..n-1 has
    exactly one row."""
    ids = df["id"].to_numpy()
    if len(ids) != n or len(np.unique(ids)) != n or (n and (ids.min() != 0 or ids.max() != n - 1)):
        return None
    out = np.empty(n, dtype=df[col].dtype)
    out[ids] = df[col].to_numpy()
    return out


def _compare(step: str, got: np.ndarray | None, want: np.ndarray, what: str,
             bad: list[tuple[str, str]], close: bool = False) -> None:
    if got is None:
        bad.append((step, "result does not hold one row per vertex"))
    elif close and not np.allclose(got, want, rtol=RTOL, atol=0):
        bad.append((step, f"ranks differ from {what} by up to "
                          f"{np.abs(got - want).max():.3g}"))
    elif not close and not np.array_equal(got, want):
        bad.append((step, f"result differs from {what}"))


def _pair_keys(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    return np.sort(src.astype(np.int64) * n + dst.astype(np.int64))


def _check_load(wl: Workload, source: str, g, edges: pd.DataFrame) -> tuple[list[str], int]:
    """The loaded edge table against the source read back with pandas.
    Returns (problems, import sites)."""
    problems = []
    n, m = g.num_vertices, g.num_edges
    if len(edges) != m:
        problems.append(f"{len(edges)} edge rows, handle says {m}")
    if len(edges) and (edges[["src", "dst"]].to_numpy().min() < 0
                       or edges[["src", "dst"]].to_numpy().max() >= n):
        problems.append("edge endpoints outside 0..n-1")
    if wl.source == "corpus":
        corpus = pd.read_parquet(source, columns=["content"])
        sites = int(corpus["content"].str.count(r"(?m)^(?:from |#include )").sum())
        if n != len(corpus):
            problems.append(f"{n} vertices for {len(corpus)} files")
        if int(edges["weight"].sum()) != sites:
            problems.append(f"edge weights sum to {int(edges['weight'].sum())}, "
                            f"the corpus has {sites} import statements")
        return problems, sites
    raw = pd.read_parquet(source, columns=["src", "dst"])
    raw = raw[raw["src"] != raw["dst"]].drop_duplicates()
    ends = np.unique(np.concatenate([raw["src"].to_numpy(), raw["dst"].to_numpy()]))
    if n != len(ends):
        problems.append(f"{n} vertices, the source has {len(ends)} endpoints")
        return problems, 0
    # ids are the endpoints' ranks: map them back and compare pair sets
    back_s = ends[edges["src"].to_numpy()]
    back_d = ends[edges["dst"].to_numpy()]
    top = int(ends.max()) + 1
    if not np.array_equal(_pair_keys(back_s, back_d, top),
                          _pair_keys(raw["src"].to_numpy(), raw["dst"].to_numpy(), top)):
        problems.append("relabelled edge set differs from the source edge set")
    return problems, 0


def check(wl: Workload, source: str, res: JobResult) -> tuple[list[tuple[str, str]], dict]:
    """Returns ([(step, problem)], facts the per-layer metrics need)."""
    bad: list[tuple[str, str]] = []
    g = res.graph
    n = g.num_vertices
    loaded = g.edges.select("src", "dst", "weight").toPandas()
    problems, sites = _check_load(wl, source, g, loaded)
    bad += [("load", p) for p in problems]

    props = read_properties(res.basename)
    if (int(props["nodes"]), int(props["arcs"])) != (n, g.num_edges):
        bad.append(("store", f"properties say {props['nodes']} nodes, "
                             f"{props['arcs']} arcs; graph has {n}, {g.num_edges}"))

    dec = res.decoded.select("src", "dst").toPandas()
    src, dst = dec["src"].to_numpy(), dec["dst"].to_numpy()
    if not np.array_equal(_pair_keys(src, dst, n),
                          _pair_keys(loaded["src"].to_numpy(), loaded["dst"].to_numpy(), n)):
        bad.append(("store", "decoded edge set differs from the stored edge set"))

    first, resumed = res.first, res.resumed
    if first.iterations != wl.stop_at:
        bad.append(("pagerank", f"stopped after {first.iterations} supersteps, "
                                f"asked for {wl.stop_at}"))
    want = oracles.pagerank(src, dst, n, wl.stop_at)
    _compare("pagerank", _by_id(first.ranks.toPandas(), "rank", n), want,
             "the oracle", bad, close=True)

    if not resumed.history or resumed.history[0]["iteration"] != wl.stop_at + 1:
        bad.append(("resume", "did not continue from the checkpointed superstep"))
    want = oracles.pagerank(src, dst, n, resumed.iterations)
    got = _by_id(resumed.ranks.toPandas(), "rank", n)
    _compare("resume", got, want, "an uninterrupted run", bad, close=True)
    if got is not None and abs(got.sum() - 1.0) > SUM_TOL:
        bad.append(("resume", f"ranks sum to {got.sum()!r}"))
    if resumed.iterations != wl.max_iter:
        bad.append(("resume", f"ran {resumed.iterations} supersteps, not {wl.max_iter}"))

    _compare("wcc", _by_id(res.wcc.components.toPandas(), "component", n),
             oracles.components(src, dst, n), "union-find", bad)

    want, rounds = oracles.label_propagation(src, dst, n, wl.lpa_max_iter)
    if rounds != res.lpa.iterations:
        bad.append(("lpa", f"{res.lpa.iterations} rounds, the synchronous rule "
                           f"takes {rounds}"))
    _compare("lpa", _by_id(res.lpa.labels.toPandas(), "label", n), want,
             "the synchronous rule", bad)

    want = oracles.triangles(src, dst)
    if res.triangles != want:
        bad.append(("triangles", f"{res.triangles} triangles, DuckDB counts {want}"))

    return bad, {"sites": sites, "wedges": oracles.wedges(src, dst, n),
                 "star_rounds": oracles.star_rounds(src, dst, n)}
