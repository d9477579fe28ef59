"""Sampled brute-force oracle for the benchmark's operations.

An ε-graph or kNN self-join over every point is too large to check
whole inside a timed loop, so each operation is checked on a seeded
sample of query ids: the oracle recomputes those queries' exact
answers with numpy over the full point set and compares them with the
rows the engine returned for the same ids. Distances are recomputed
from explicit differences in float64, and ties closer than ``TOL``
may rank either way.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-9


def exact_dists(P: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Float64 L2 distance of every row of ``P`` to ``q``."""
    diff = P - q[None, :]
    return np.sqrt(np.einsum("ij,ij->i", diff, diff))


def sample_ids(ids: np.ndarray, m: int, seed: int) -> np.ndarray:
    """A seeded sample of ``m`` ids (all of them when fewer)."""
    rng = np.random.default_rng(seed)
    if len(ids) <= m:
        return np.sort(ids)
    return np.sort(rng.choice(ids, size=m, replace=False))


class PointSet:
    """The full point set the engine answered against, indexed by id."""

    def __init__(self, ids: np.ndarray, X: np.ndarray):
        order = np.argsort(ids, kind="stable")
        self.ids = np.asarray(ids, dtype=np.int64)[order]
        self.X = np.asarray(X, dtype=np.float64)[order]

    def extend(self, ids: np.ndarray, X: np.ndarray) -> "PointSet":
        return PointSet(np.concatenate([self.ids, ids]),
                        np.concatenate([self.X, np.asarray(X, np.float64)]))

    def rows(self, ids: np.ndarray) -> np.ndarray:
        pos = np.searchsorted(self.ids, ids)
        ok = (pos < len(self.ids)) & (self.ids[np.minimum(pos, len(self.ids) - 1)] == ids)
        if not ok.all():
            raise KeyError(f"ids absent from the point set: {ids[~ok][:5].tolist()}")
        return pos


def check_edges(pts: PointSet, sample: np.ndarray, rows, radius: float) -> list[str]:
    """Check the ε-graph rows (src, dst, dist) whose src or dst is in
    ``sample``: per sampled id the out-edges must be exactly the points
    within ``radius`` (ties within TOL either way), and the in-edges
    must mirror the out-edges (the edge set is symmetric)."""
    errors: list[str] = []
    out: dict[int, dict[int, float]] = {int(q): {} for q in sample}
    inn: dict[int, set[int]] = {int(q): set() for q in sample}
    for src, dst, dist in rows:
        if src in out:
            if dst in out[src]:
                errors.append(f"duplicate edge ({src}, {dst})")
            out[src][dst] = dist
        if dst in inn:
            inn[dst].add(src)
    for q in sample:
        q = int(q)
        d = exact_dists(pts.X, pts.X[pts.rows(np.array([q]))[0]])
        must = set(pts.ids[(d <= radius - TOL)].tolist()) - {q}
        may = set(pts.ids[(d <= radius + TOL)].tolist()) - {q}
        got = out[q]
        if not must <= got.keys() or not got.keys() <= may:
            errors.append(
                f"src {q}: {len(must - got.keys())} edges missing, "
                f"{len(got.keys() - may)} extra"
            )
        for dst, dist in got.items():
            j = np.searchsorted(pts.ids, dst)
            if j < len(pts.ids) and pts.ids[j] == dst and abs(d[j] - dist) > TOL * (1 + d[j]):
                errors.append(f"edge ({q}, {dst}) dist {dist} != {d[j]}")
                break
        if inn[q] != set(got.keys()):
            errors.append(f"id {q}: in-edges differ from out-edges (asymmetric)")
    return errors


def check_knn(pts: PointSet, queries: dict[int, np.ndarray], rows, k: int,
              self_join: bool) -> list[str]:
    """Check kNN rows (src, dst, rank, dist) for the sampled queries
    (id -> vector): ranks 1..k, distances exact, and the answer a valid
    (dist, id)-ordered top-k up to ties within TOL."""
    errors: list[str] = []
    got: dict[int, list] = {q: [] for q in queries}
    for src, dst, rank, dist in rows:
        if src in got:
            got[src].append((rank, dst, dist))
    for q, qv in queries.items():
        d = exact_dists(pts.X, np.asarray(qv, dtype=np.float64))
        ids = pts.ids
        if self_join:
            keep = ids != q
            d, ids = d[keep], ids[keep]
        kk = min(k, len(ids))
        kth = np.partition(d, kk - 1)[kk - 1]
        ans = sorted(got[q])
        if [r for r, _, _ in ans] != list(range(1, kk + 1)):
            errors.append(f"query {q}: ranks {[r for r, _, _ in ans]}")
            continue
        pos = np.searchsorted(ids, [dst for _, dst, _ in ans])
        pos = np.minimum(pos, len(ids) - 1)
        if not np.array_equal(ids[pos], [dst for _, dst, _ in ans]):
            errors.append(f"query {q}: neighbour not in the point set")
            continue
        dd = d[pos]
        if np.any(np.abs(dd - np.array([x for _, _, x in ans])) > TOL * (1 + dd)):
            errors.append(f"query {q}: reported distances differ")
        if np.any(np.diff(dd) < -TOL) or dd.max() > kth + TOL:
            errors.append(f"query {q}: not a (dist, id)-ordered top-{kk}")
        must = set(ids[d < kth - TOL].tolist())
        if not must <= set(ids[pos].tolist()):
            errors.append(f"query {q}: {len(must - set(ids[pos].tolist()))} true neighbours missing")
    return errors
