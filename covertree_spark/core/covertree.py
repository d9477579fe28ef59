"""Numpy cover-tree kernel.

A vectorized, from-scratch reimplementation of the reference's batch
"hub-splitting" cover-tree construction and triangle-inequality pruned
queries (semantics per /root/reference/src/cover_tree.cpp:6-249; CSR
layout per /root/reference/include/cover_tree.h:29-32).  This module is
pure numpy — it runs *inside* Spark pandas UDFs, one tree per cell
partition — and has no Spark dependency so it can be unit-tested
directly.

Invariants preserved (the reference's test surface):
  * covering   — every point of a level-L hub is within
                 ``cover**(-L-1) * maxdist`` of one of the hub's sites;
  * separation — sites added to a hub are pairwise farther apart than
                 the hub's level target;
  * nesting    — a hub's site is always a site of the child hub it
                 spawns (parent centers reappear below);
  * leaf rule  — a child hub becomes a leaf when ``size <= leaf_size``
                 or ``radius <= float32 eps``; every point appears
                 exactly once as a radius-0 leaf (or singleton vertex);
  * CSR        — preorder renumbering makes each vertex's children
                 contiguous in ``childarr``.

Distances are computed in float64 over float32-representable inputs so
that results are bit-comparable with a float64 SQL oracle (DuckDB).
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass

import numpy as np

# Leaf epsilon: reference uses std::numeric_limits<float>::epsilon()
# (cover_tree.cpp:91); we keep the same constant even though we
# accumulate distances in float64.
LEAF_EPS = float(np.finfo(np.float32).eps)

DEFAULT_COVER = 1.55  # reference rgraph.cpp:21
DEFAULT_LEAF_SIZE = 10  # reference rgraph.cpp:22


# Per-process distance-computation counter (reference: the global
# ``dist_comps`` counter in include/point_vector.h:11, surfaced per run
# at rgraph.py:131-176). Incremented by every distance kernel below;
# plans/metrics.py snapshots the delta inside each UDF invocation and
# adds it to a Spark accumulator so BENCH can report dist_comps per
# query — the reference's efficiency metric.
DIST_COMPS = 0


def pairwise_sq_dists(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 distances, shape (len(a), len(b)), float64.

    Uses the BLAS form ||a||^2 + ||b||^2 - 2ab (one GEMM) rather than
    direct differences: on this class of hardware the (n, m, d)
    difference tensor is memory-bandwidth-bound and ~60x slower.
    Cancellation error is ~1e-15 * ||a||*||b|| absolute in d^2 — every
    query threshold/rank gap the engine relies on is >= 1e-6 in
    distance, verified by the oracle-equality suite, so the trick is
    safe here. Negative rounding residue is clipped to 0."""
    global DIST_COMPS
    a = np.ascontiguousarray(a, dtype=np.float64)
    b = np.ascontiguousarray(b, dtype=np.float64)
    DIST_COMPS += a.shape[0] * b.shape[0]
    aa = np.einsum("ij,ij->i", a, a)
    bb = np.einsum("ij,ij->i", b, b)
    out = a @ b.T
    out *= -2.0
    out += aa[:, None]
    out += bb[None, :]
    np.maximum(out, 0.0, out=out)
    return out


def dists_to(points: np.ndarray, x: np.ndarray) -> np.ndarray:
    """L2 distance of every row of ``points`` to vector ``x`` (float64)."""
    global DIST_COMPS
    DIST_COMPS += len(points)
    d = np.asarray(points, dtype=np.float64) - np.asarray(x, dtype=np.float64)
    return np.sqrt(np.einsum("ij,ij->i", d, d))


def row_dists(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Rowwise L2 distance between paired rows of ``a`` and ``b``."""
    global DIST_COMPS
    DIST_COMPS += len(a)
    d = np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64)
    return np.sqrt(np.einsum("ij,ij->i", d, d))


@dataclass
class CoverTree:
    """CSR-encoded cover tree over a local point block.

    Same four-array layout as the reference (childarr/childptrs/centers/
    radii) so trees serialize to four flat columns for checkpointing.
    ``centers`` holds *local row indices* into the point block the tree
    was built from.
    """

    childarr: np.ndarray  # int64, len m-1 (every vertex but root is a child)
    childptrs: np.ndarray  # int64, len m+1
    centers: np.ndarray  # int64, len m  (local point index per vertex)
    radii: np.ndarray  # float64, len m

    @property
    def num_vertices(self) -> int:
        return len(self.centers)

    def children(self, v: int) -> np.ndarray:
        return self.childarr[self.childptrs[v] : self.childptrs[v + 1]]

    def is_leaf_mask(self) -> np.ndarray:
        return self.childptrs[1:] == self.childptrs[:-1]

    def to_arrays(self) -> dict[str, np.ndarray]:
        return {
            "childarr": self.childarr,
            "childptrs": self.childptrs,
            "centers": self.centers,
            "radii": self.radii,
        }

    @classmethod
    def from_arrays(cls, d: dict[str, np.ndarray]) -> "CoverTree":
        return cls(
            childarr=np.asarray(d["childarr"], dtype=np.int64),
            childptrs=np.asarray(d["childptrs"], dtype=np.int64),
            centers=np.asarray(d["centers"], dtype=np.int64),
            radii=np.asarray(d["radii"], dtype=np.float64),
        )


class _Hub:
    __slots__ = ("vertex", "level", "ids", "dists", "cells", "candidate", "site")

    def __init__(self, vertex, level, ids, dists, cells, candidate, site):
        self.vertex = vertex
        self.level = level
        self.ids = ids  # local point indices in this hub
        self.dists = dists  # dist of each point to its assigned site
        self.cells = cells  # assigned site (a local point index) per point
        self.candidate = candidate  # farthest point (next site to add)
        self.site = site  # the site this hub was spawned from


def build(
    points: np.ndarray,
    cover: float = DEFAULT_COVER,
    leaf_size: int = DEFAULT_LEAF_SIZE,
) -> CoverTree:
    """Build a cover tree over ``points`` (n x d, float32/float64).

    Vectorized hub-splitting: each hub at level L greedily adds its
    farthest uncovered point as a new site until every point lies within
    ``cover**(-L-1) * maxdist`` of a site; points partition to the
    nearest site (first-win on ties, matching a strict ``<`` relax);
    the spawning site is itself a site of its child hub (nesting).
    """
    P = np.asarray(points, dtype=np.float64)
    n = P.shape[0]
    if n == 0:
        raise ValueError("cannot build a cover tree over zero points")

    v_center: list[int] = []
    v_radius: list[float] = []
    v_children: list[list[int]] = []

    def new_vertex(center: int, radius: float) -> int:
        v_center.append(int(center))
        v_radius.append(float(radius))
        v_children.append([])
        return len(v_center) - 1

    root_dists = dists_to(P, P[0])
    maxdist = float(root_dists.max())
    root = new_vertex(0, maxdist)

    if n == 1 or maxdist <= LEAF_EPS:
        # Degenerate: all points coincide. Root is a leaf hub.
        if n > 1:
            for i in range(n):
                lv = new_vertex(i, 0.0)
                v_children[root].append(lv)
        return _to_csr(v_center, v_radius, v_children)

    hubs: deque[_Hub] = deque()
    hubs.append(
        _Hub(
            vertex=root,
            level=0,
            ids=np.arange(n, dtype=np.int64),
            dists=root_dists,
            cells=np.zeros(n, dtype=np.int64),
            candidate=int(root_dists.argmax()),
            site=0,
        )
    )

    while hubs:
        h = hubs.popleft()
        target = (cover ** (-(h.level) - 1.0)) * maxdist
        ids, dists, cells = h.ids, h.dists, h.cells
        sites: list[int] = [h.site]
        seen = {h.site}
        cand = h.candidate
        # farthest-point loop (always adds at least one new site, as the
        # reference's do-while does)
        while True:
            new_site = cand
            if new_site not in seen:
                sites.append(new_site)
                seen.add(new_site)
                d = dists_to(P[ids], P[new_site])
                closer = d < dists
                dists = np.where(closer, d, dists)
                cells = np.where(closer, new_site, cells)
            sep_idx = int(dists.argmax())
            sep = dists[sep_idx]
            cand = int(ids[sep_idx])
            if sep <= target:
                break

        for site in sites:
            mask = cells == site
            cids = ids[mask]
            cdists = dists[mask]
            if cids.size == 0:  # defensive; a site always owns itself
                continue
            rel = int(cdists.argmax())
            radius = float(cdists[rel])
            vtx = new_vertex(site, radius)
            v_children[h.vertex].append(vtx)
            if cids.size <= leaf_size or radius <= LEAF_EPS:
                # leaf hub: points become radius-0 leaves (singleton
                # hubs are themselves leaves)
                if cids.size > 1:
                    for leaf in cids.tolist():
                        lv = new_vertex(leaf, 0.0)
                        v_children[vtx].append(lv)
            else:
                hubs.append(
                    _Hub(
                        vertex=vtx,
                        level=h.level + 1,
                        ids=cids,
                        dists=cdists,
                        cells=np.full(cids.size, site, dtype=np.int64),
                        candidate=int(cids[rel]),
                        site=site,
                    )
                )

    return _to_csr(v_center, v_radius, v_children)


def _to_csr(v_center, v_radius, v_children) -> CoverTree:
    """Preorder renumbering -> contiguous-children CSR arrays."""
    m = len(v_center)
    order: list[int] = []
    stack = [0]
    while stack:
        u = stack.pop()
        order.append(u)
        stack.extend(reversed(v_children[u]))
    assert len(order) == m
    old_to_new = np.empty(m, dtype=np.int64)
    order_arr = np.asarray(order, dtype=np.int64)
    old_to_new[order_arr] = np.arange(m, dtype=np.int64)

    centers = np.asarray(v_center, dtype=np.int64)[order_arr]
    radii = np.asarray(v_radius, dtype=np.float64)[order_arr]
    counts = np.asarray([len(v_children[o]) for o in order], dtype=np.int64)
    childptrs = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(counts, out=childptrs[1:])
    childarr = np.empty(int(childptrs[-1]), dtype=np.int64)
    pos = 0
    for o in order:
        ch = v_children[o]
        if ch:
            childarr[pos : pos + len(ch)] = old_to_new[np.asarray(ch)]
            pos += len(ch)
    return CoverTree(childarr=childarr, childptrs=childptrs, centers=centers, radii=radii)


def radius_query(
    tree: CoverTree,
    points: np.ndarray,
    queries: np.ndarray,
    radius,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched epsilon-ball query with triangle-inequality pruning.

    Level-synchronous BFS over (query, vertex) frontier pairs: a child
    subtree is pruned unless ``d(q, center_child) <= r_q + radii[child]``;
    leaves are tested exactly (reference semantics,
    /root/reference/src/cover_tree.cpp:212-249, vectorized over the
    whole query batch instead of per-point BFS).

    ``radius`` may be a scalar or a per-query array.
    Returns (query_idx, point_local_idx, dist) arrays; includes
    self-matches (dist 0) — callers filter.
    """
    P = np.asarray(points, dtype=np.float64)
    Q = np.asarray(queries, dtype=np.float64)
    nq = Q.shape[0]
    r = np.broadcast_to(np.asarray(radius, dtype=np.float64), (nq,))
    if nq == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)

    ptrs, carr = tree.childptrs, tree.childarr
    centers, radii = tree.centers, tree.radii

    out_q: list[np.ndarray] = []
    out_p: list[np.ndarray] = []
    out_d: list[np.ndarray] = []

    fq = np.arange(nq, dtype=np.int64)
    fv = np.zeros(nq, dtype=np.int64)

    # Root may itself satisfy pruning trivially; descend from root.
    while fq.size:
        nchild = ptrs[fv + 1] - ptrs[fv]
        leaf = nchild == 0
        if leaf.any():
            lq, lv = fq[leaf], fv[leaf]
            d = row_dists(Q[lq], P[centers[lv]])
            hit = d <= r[lq]
            if hit.any():
                out_q.append(lq[hit])
                out_p.append(centers[lv[hit]])
                out_d.append(d[hit])
        inner = ~leaf
        if not inner.any():
            break
        iq, iv = fq[inner], fv[inner]
        cnt = (ptrs[iv + 1] - ptrs[iv]).astype(np.int64)
        rep_q = np.repeat(iq, cnt)
        # gather contiguous child ranges
        starts = ptrs[iv]
        idx = np.repeat(starts + cnt - cnt.cumsum(), cnt) + np.arange(int(cnt.sum()))
        children = carr[idx]
        d = row_dists(Q[rep_q], P[centers[children]])
        keep = d <= r[rep_q] + radii[children]
        fq = rep_q[keep]
        fv = children[keep]

    if not out_q:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    return np.concatenate(out_q), np.concatenate(out_p), np.concatenate(out_d)


def knn_query(
    tree: CoverTree,
    points: np.ndarray,
    queries: np.ndarray,
    k: int,
    radius_hint=None,
    exclude_self_ids: np.ndarray | None = None,
    point_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact k-nearest-neighbors via radius queries with geometric
    expansion (the reference has no kNN — this is the BASELINE-required
    extension; exactness is guaranteed because expansion continues until
    >= k hits, then results are the k smallest by (dist, id)).

    ``radius_hint``: optional scalar/per-query initial radius (e.g. the
    two-phase plan's broadcast upper bound — when provided and valid it
    already guarantees >= k hits, so no expansion rounds run).
    ``exclude_self_ids``/``point_ids``: global ids used to drop
    self-pairs before ranking.
    Returns (query_idx, point_local_idx, dist), at most k per query.
    """
    P = np.asarray(points, dtype=np.float64)
    Q = np.asarray(queries, dtype=np.float64)
    nq, n = Q.shape[0], P.shape[0]
    if nq == 0 or n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    kk = min(k, n)

    root_rad = float(tree.radii[0])
    if radius_hint is None:
        # distance to root center always yields >= 1 hit
        r = row_dists(Q, np.broadcast_to(P[tree.centers[0]], Q.shape)) + root_rad * 1e-3 + 1e-12
    else:
        r = np.broadcast_to(np.asarray(radius_hint, dtype=np.float64), (nq,)).copy()

    pending = np.arange(nq, dtype=np.int64)
    acc_q: list[np.ndarray] = []
    acc_p: list[np.ndarray] = []
    acc_d: list[np.ndarray] = []
    max_r = root_rad * 2.0 + float(np.max(r)) + 1e-12
    while pending.size:
        qi, pi, di = radius_query(tree, P, Q[pending], r[pending])
        qg = pending[qi]
        if exclude_self_ids is not None and point_ids is not None:
            keep = point_ids[pi] != exclude_self_ids[qg]
            qg, pi, di = qg[keep], pi[keep], di[keep]
        counts = np.bincount(qg, minlength=nq)
        done = counts[pending] >= kk
        done_set = pending[done]
        if done_set.size:
            sel = np.isin(qg, done_set)
            acc_q.append(qg[sel])
            acc_p.append(pi[sel])
            acc_d.append(di[sel])
        pending = pending[~done]
        if pending.size:
            grown = r[pending] * 2.0 + root_rad * 1e-6
            r[pending] = grown
            if np.all(r[pending] > max_r):
                # whole tree now inside every ball: last round
                qi, pi, di = radius_query(tree, P, Q[pending], r[pending])
                qg = pending[qi]
                if exclude_self_ids is not None and point_ids is not None:
                    keep = point_ids[pi] != exclude_self_ids[qg]
                    qg, pi, di = qg[keep], pi[keep], di[keep]
                acc_q.append(qg)
                acc_p.append(pi)
                acc_d.append(di)
                break

    if not acc_q:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    qg = np.concatenate(acc_q)
    pg = np.concatenate(acc_p)
    dg = np.concatenate(acc_d)
    return topk_per_query(qg, pg, dg, kk, tiebreak_ids=point_ids)


def brute_topk(
    Q: np.ndarray,
    P: np.ndarray,
    k: int,
    max_radius=None,
    exclude_self_ids: np.ndarray | None = None,
    point_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Chunked exact top-k against a block: one cache-sized GEMM per
    chunk + per-row argpartition — never materializes a dense hit set
    (a radius-style mask with a loose bound explodes to |Q|x|P| rows on
    clustered data). Returns (query_idx, point_local_idx, dist) with at
    most k rows per query, filtered to ``max_radius`` when given."""
    Q = np.asarray(Q, dtype=np.float64)
    P = np.asarray(P, dtype=np.float64)
    nq, n = Q.shape[0], P.shape[0]
    if nq == 0 or n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    kk = min(k + (1 if exclude_self_ids is not None else 0), n)
    r = None if max_radius is None else np.broadcast_to(
        np.asarray(max_radius, dtype=np.float64), (nq,))
    chunk = max(16, (1 << 21) // (8 * n))
    out_q: list[np.ndarray] = []
    out_p: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    tie = point_ids if point_ids is not None else np.arange(n)
    # FLOAT32 PREFILTER (exactness preserved — see _f32_topk_superset):
    # the m x n distance matrix is the kernel's bandwidth hog; doing
    # the candidate SELECTION in float32 halves the bytes through the
    # memory system (the binding resource at high parallelism on
    # shared-bus hosts) and the final ranking stays float64-exact.
    use_f32 = n >= 512  # small blocks: selection overhead beats the savings
    if use_f32:
        P32 = np.ascontiguousarray(P, dtype=np.float32)
        bb64 = np.einsum("ij,ij->i", P, P)
        bb32 = bb64.astype(np.float32)
    for s in range(0, nq, chunk):
        e = min(s + chunk, nq)
        m = e - s
        if use_f32:
            qg0, cols, d2sel = _f32_topk_superset(
                Q[s:e], P, P32, bb64, bb32, kk
            )
            rows, cols = qg0, cols
            d = np.sqrt(np.maximum(d2sel, 0.0))
        else:
            d2 = pairwise_sq_dists(Q[s:e], P)
            if kk < n:
                part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            else:
                part = np.broadcast_to(np.arange(n), (m, n)).copy()
            rows = np.repeat(np.arange(m), part.shape[1])
            cols = part.ravel()
            d = np.sqrt(d2[rows, cols])
        qg = rows + s
        keep = np.ones(len(qg), dtype=bool)
        if exclude_self_ids is not None and point_ids is not None:
            keep &= point_ids[cols] != exclude_self_ids[qg]
        if r is not None:
            keep &= d <= r[qg]
        qg, cols, d = qg[keep], cols[keep], d[keep]
        qs, ps, ds = topk_per_query(qg, cols, d, k, tiebreak_ids=tie)
        out_q.append(qs)
        out_p.append(ps)
        out_d.append(ds)
    return np.concatenate(out_q), np.concatenate(out_p), np.concatenate(out_d)


def _f32_topk_superset(Qc, P, P32, bb64, bb32, kk):
    """Candidate top-``kk`` selection on a FLOAT32 distance matrix
    with a per-row exactness certificate; exact float64 squared
    distances returned for the selected pairs only.

    Selection: argpartition the float32 matrix to ``kk + pad``
    candidates per query (one pass, half the bytes of the float64
    matrix — the kernel's bandwidth hog at high parallelism), then
    recompute those candidates exactly in float64.

    Certificate: every EXCLUDED point satisfies
    ``d2_32 >= maxsel32`` (property of argpartition) and
    ``d2_64 >= d2_32 - B`` where ``B = c*eps32*(||q||^2+max||p||^2)``
    (forward-error bound for the float32 GEMM form incl. input
    rounding, c = 4(d+4) with 4x slack). A row is certified iff
    ``maxsel32 - B > exact kk-th candidate d2`` — then no excluded
    point can beat the kk-th, so the float64 re-rank of the candidate
    set is EXACTLY the pure-float64 answer. Uncertified rows (near-
    tie pileups wider than the pad) fall back to the full float64 row.
    Identity with the pure path is pinned by
    test_brute_topk_f32_parity on adversarial fixtures."""
    global DIST_COMPS
    m, d_dim = Qc.shape
    n = P.shape[0]
    DIST_COMPS += m * n
    Qc32 = np.ascontiguousarray(Qc, dtype=np.float32)
    aa64 = np.einsum("ij,ij->i", Qc, Qc)
    aa32 = aa64.astype(np.float32)
    d2_32 = aa32[:, None] + bb32[None, :] - 2.0 * (Qc32 @ P32.T)
    kkp = min(n, kk + max(8, kk // 2))
    if kkp < n:
        part = np.argpartition(d2_32, kkp - 1, axis=1)[:, :kkp]
    else:
        part = np.broadcast_to(np.arange(n), (m, n)).copy()
    sel32 = np.take_along_axis(d2_32, part, axis=1)
    maxsel32 = sel32.max(axis=1).astype(np.float64)
    rows = np.repeat(np.arange(m), part.shape[1])
    cols = part.ravel()
    dots = np.einsum("ij,ij->i", Qc[rows], P[cols])
    d2 = np.maximum(aa64[rows] + bb64[cols] - 2.0 * dots, 0.0)
    if kkp == n:
        return rows, cols, d2
    d2m = d2.reshape(m, kkp)
    kth = np.partition(d2m, kk - 1, axis=1)[:, kk - 1]
    B = (4.0 * (d_dim + 4) * np.float64(np.finfo(np.float32).eps)) * (
        aa64 + bb64.max()
    )
    bad = np.flatnonzero(maxsel32 - B <= kth)
    if not len(bad):
        return rows, cols, d2
    ok = np.isin(rows, bad, invert=True)
    out_r = [rows[ok]]
    out_c = [cols[ok]]
    out_d = [d2[ok]]
    # fallback: exact float64 rows for the uncertified queries
    d2f = pairwise_sq_dists(Qc[bad], P)
    DIST_COMPS -= len(bad) * n  # already counted above
    partf = np.argpartition(d2f, kk - 1, axis=1)[:, :kk]
    rf = np.repeat(bad, kk)
    cf = partf.ravel()
    out_r.append(rf)
    out_c.append(cf)
    out_d.append(d2f[np.repeat(np.arange(len(bad)), kk), cf])
    return (
        np.concatenate(out_r),
        np.concatenate(out_c),
        np.concatenate(out_d),
    )


def knn_descend(
    tree: CoverTree,
    points: np.ndarray,
    queries: np.ndarray,
    k: int,
    init_bound=None,
    exclude_self_ids: np.ndarray | None = None,
    point_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched best-bound kNN descent: level-synchronous BFS where each
    query carries its current kth-best distance; a child subtree is
    pruned when ``d(q, center) - radii[child] > bound_q``. The bound
    shrinks as leaves are found, so on clustered data the visit count
    per query is ~O(k + depth), unlike a radius query at a loose upper
    bound (which touches the whole cluster). ``init_bound`` (e.g. the
    two-phase plan's broadcast rq) only tightens the start.
    Returns (query_idx, point_local_idx, dist), <= k rows per query."""
    P = np.asarray(points, dtype=np.float64)
    Q = np.asarray(queries, dtype=np.float64)
    nq, n = Q.shape[0], P.shape[0]
    if nq == 0 or n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)

    # chunk queries: the frontier holds (query, vertex) pairs; with all
    # queries at once an unprunable level materializes |Q| x breadth
    # gathers (memory blow-up). 256 queries keeps every per-level array
    # cache-scale while the tree block itself stays hot.
    _CHUNK_Q = 256
    if nq > _CHUNK_Q:
        oq: list[np.ndarray] = []
        op: list[np.ndarray] = []
        od: list[np.ndarray] = []
        for s0 in range(0, nq, _CHUNK_Q):
            e0 = min(s0 + _CHUNK_Q, nq)
            ib = None if init_bound is None else np.broadcast_to(
                np.asarray(init_bound, dtype=np.float64), (nq,))[s0:e0]
            ex = None if exclude_self_ids is None else exclude_self_ids[s0:e0]
            cq, cp, cd = knn_descend(
                tree, P, Q[s0:e0], k, init_bound=ib,
                exclude_self_ids=ex, point_ids=point_ids,
            )
            oq.append(cq + s0)
            op.append(cp)
            od.append(cd)
        return np.concatenate(oq), np.concatenate(op), np.concatenate(od)

    kk = min(k, n)
    tie = point_ids if point_ids is not None else np.arange(n)

    bound = (
        np.full(nq, np.inf)
        if init_bound is None
        else np.broadcast_to(np.asarray(init_bound, dtype=np.float64), (nq,)).astype(
            np.float64
        ).copy()
    )
    # Seed bounds from a deterministic point sample BEFORE descending:
    # in a level-synchronous BFS the bound otherwise only tightens when
    # leaves are reached, after the frontier has already exploded. The
    # (k+1)-th smallest sample distance is a valid upper bound on the
    # true non-self kth distance whether or not the query itself is in
    # the sample.
    s = min(n, max(64, 4 * kk))
    if n > 2 * kk:
        stride = max(1, n // s)
        samp = np.arange(0, n, stride)[:s]
        d2s = pairwise_sq_dists(Q, P[samp])
        kk2 = min(kk, d2s.shape[1] - 1)
        seed_b = np.sqrt(np.partition(d2s, kk2, axis=1)[:, kk2])
        np.minimum(bound, seed_b * (1.0 + 1e-9), out=bound)
    # per-query result buffers, kept sorted by (dist, tie)
    buf_d = np.full((nq, kk), np.inf)
    buf_i = np.full((nq, kk), np.iinfo(np.int64).max, dtype=np.int64)
    filled = np.zeros(nq, dtype=np.int64)

    ptrs, carr = tree.childptrs, tree.childarr
    centers, radii = tree.centers, tree.radii

    fq = np.arange(nq, dtype=np.int64)
    fv = np.zeros(nq, dtype=np.int64)
    eps = 1e-9  # same superset slack as the plan-level bounds

    while fq.size:
        nchild = ptrs[fv + 1] - ptrs[fv]
        leaf = nchild == 0
        if leaf.any():
            lq, lv = fq[leaf], fv[leaf]
            d = row_dists(Q[lq], P[centers[lv]])
            ok = d <= bound[lq] * (1.0 + eps)
            if exclude_self_ids is not None and point_ids is not None:
                ok &= point_ids[centers[lv]] != exclude_self_ids[lq]
            if ok.any():
                hq, hp, hd = lq[ok], centers[lv[ok]], d[ok]
                # per-query merge of new hits into the sorted buffers
                uq = np.unique(hq)
                hq2, hp2, hd2 = topk_per_query(hq, hp, hd, kk, tiebreak_ids=tie)
                # vectorized merge: concatenate old buffer rows with new
                # hits (<= kk per query by topk_per_query), lexsort,
                # take kk per query
                remap = np.searchsorted(uq, hq2)
                m = len(uq)
                cat_d = np.concatenate(
                    [buf_d[uq].ravel(), np.full(m * kk, np.inf)]
                )
                cat_i = np.concatenate(
                    [buf_i[uq].ravel(), np.full(m * kk, np.iinfo(np.int64).max)]
                )
                cat_q = np.concatenate(
                    [np.repeat(np.arange(m), kk), np.repeat(np.arange(m), kk)]
                )
                # within-group slot for each new hit (stable order)
                order2 = np.argsort(remap, kind="stable")
                sorted_remap = remap[order2]
                if len(sorted_remap):
                    first = np.r_[0, np.flatnonzero(np.diff(sorted_remap)) + 1]
                    starts2 = np.repeat(
                        first, np.diff(np.r_[first, len(sorted_remap)])
                    )
                    within = np.arange(len(sorted_remap)) - starts2
                    idxs = np.empty(len(remap), dtype=np.int64)
                    idxs[order2] = m * kk + sorted_remap * kk + within
                    cat_d[idxs] = hd2
                    cat_i[idxs] = hp2
                # sort rows by (q, d, tie(local)) and take kk per q
                tiev = np.where(
                    cat_i == np.iinfo(np.int64).max,
                    np.iinfo(np.int64).max,
                    np.take(tie, np.minimum(cat_i, len(tie) - 1)),
                )
                order = np.lexsort((tiev, cat_d, cat_q))
                sd, si, sq = cat_d[order], cat_i[order], cat_q[order]
                sel = (np.arange(len(sq)) - sq * (2 * kk)) < kk
                buf_d[uq] = sd[sel].reshape(m, kk)
                buf_i[uq] = si[sel].reshape(m, kk)
                newly = np.minimum(filled[uq] + np.bincount(remap, minlength=m), kk)
                filled[uq] = newly
                full = filled[uq] >= kk
                if full.any():
                    bound[uq[full]] = np.minimum(
                        bound[uq[full]], buf_d[uq[full], kk - 1]
                    )
        inner = ~leaf
        if not inner.any():
            break
        iq, iv = fq[inner], fv[inner]
        cnt = (ptrs[iv + 1] - ptrs[iv]).astype(np.int64)
        rep_q = np.repeat(iq, cnt)
        starts = ptrs[iv]
        idx = np.repeat(starts + cnt - cnt.cumsum(), cnt) + np.arange(int(cnt.sum()))
        children = carr[idx]
        d = row_dists(Q[rep_q], P[centers[children]])
        keep = d - radii[children] <= bound[rep_q] * (1.0 + eps)
        # order frontier by distance so nearer subtrees update bounds
        # before farther ones get expanded at the NEXT level
        fq = rep_q[keep]
        fv = children[keep]

    valid = buf_d < np.inf
    qi, slot = np.nonzero(valid)
    return qi, buf_i[valid], buf_d[valid]


def topk_per_query(
    qidx: np.ndarray,
    pidx: np.ndarray,
    dist: np.ndarray,
    k: int,
    tiebreak_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Keep the k smallest (dist, id) per query index. Deterministic:
    ties broken by global id (or local index when ids absent)."""
    if qidx.size == 0:
        return qidx, pidx, dist
    tie = tiebreak_ids[pidx] if tiebreak_ids is not None else pidx
    order = np.lexsort((tie, dist, qidx))
    qs, ps, ds = qidx[order], pidx[order], dist[order]
    # rank within query (qs sorted): position - first position of query
    first = np.r_[0, np.flatnonzero(qs[1:] != qs[:-1]) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, qs.size]))
    rank = np.arange(qs.size) - starts
    keep = rank < k
    return qs[keep], ps[keep], ds[keep]
