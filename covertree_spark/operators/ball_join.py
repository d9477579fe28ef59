"""Epsilon-ball self-join — the reference's headline query.

Semantics: ``points p JOIN points q ON dist(p.vec, q.vec) <= r AND
p.id != q.id`` (both directions emitted, matching the reference's
symmetric edge set, /root/reference/src/dist_graph.cpp:12-21).

Physical plan (the reference's cvor pipeline re-expressed,
/root/reference/src/dist_point_vector.cpp:962-996):

  points(id, vec, cell)                [aligned: partition.align]
    -> cell_stats (one mapInPandas      [broadcast]
       pass, merged on the driver)
    -> partition.route(radius=r)        [mapInPandas: one ghost row per
                                         foreign candidate cell]
    -> partition.cell_cogroup on cell   [only the ghost side is shuffled;
                                         homes are read in place]
         per cell: build cover tree over home points,
                   batched radius query for home+ghost rows
    -> edges(src, dst, dist)

Every qualifying ordered pair is found exactly once — in the cell
where its dst is home — so no dedup stage is needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import covertree as ct
from ..plans.metrics import counted_stream
from ..plans.session import mark_releasable
from ..sources.tables import vec_matrix
from .partition import CellStats, cell_cogroup, cell_stats, route

EDGE_SCHEMA = "src bigint, dst bigint, dist double"


def ball_self_join(
    points: DataFrame,
    radius: float,
    d: int,
    cover: float = ct.DEFAULT_COVER,
    leaf_size: int = ct.DEFAULT_LEAF_SIZE,
    fine_col: str | None = None,
    brute_cutoff: int = 1024,
    stats: CellStats | None = None,
) -> DataFrame:
    """points must carry (id, vec, cell). Returns (src, dst, dist),
    src != dst, both directions.

    Plan: ghost rows cogrouped against the home rows by cell. On the
    aligned layout (``partition.align``) EnsureRequirements elides the
    home-side Exchange, so only GHOST rows move through the shuffle.
    Ghost volume is boundary-sized (O(surface), not O(volume)), so the
    per-query shuffle is the replication halo, not the table. Any other
    layout is still correct; its homes are shuffled once more.

    Caching contract: with ``stats=None`` the input is persisted and
    registered releasable (see knn_self_join docstring); passing
    precomputed stats skips both."""
    if stats is None:
        # scanned by stats, ghosts, homes
        points = mark_releasable(points.persist())
        stats = cell_stats(points, d, fine_col=fine_col)

    def kernel(ghosts: pd.DataFrame, H: np.ndarray, hid: np.ndarray, tree_fn):
        Q, qid = _with_ghosts(ghosts, H, hid)
        if len(H) <= brute_cutoff:
            # small build side: a BLAS matrix pass beats tree descent
            # (and in high-d with r near the distance concentration the
            # tree cannot prune anyway — same edge set either way).
            # Rows go in blocks of about 2**20 distances (8 MB), whole
            # multiples of 256 rows: BLAS then blocks every row as in
            # one unchunked GEMM, so the distances match it bit for bit
            # (unaligned blocks moved last bits).
            step = max(256, (1 << 20) // len(H) // 256 * 256)
            parts = []
            for s in range(0, len(Q), step):
                d2 = ct.pairwise_sq_dists(Q[s : s + step], H)
                qc, pc = np.nonzero(d2 <= radius * radius)
                parts.append((qc + s, pc, np.sqrt(d2[qc, pc])))
            qi, pi, di = (np.concatenate(a) for a in zip(*parts))
        else:
            qi, pi, di = ct.radius_query(tree_fn(), H, Q, radius)
        src = qid[qi]
        dst = hid[pi]
        keep = src != dst
        return pd.DataFrame({"src": src[keep], "dst": dst[keep], "dist": di[keep]})

    # rq is the same r on every ghost row: project it away before the
    # shuffle
    ghosts = route(points, stats, radius=radius).drop("rq")
    return cell_cogroup(
        ghosts, points, kernel, EDGE_SCHEMA,
        build=lambda H: ct.build(H, cover=cover, leaf_size=leaf_size),
    )


def _with_ghosts(ghosts: pd.DataFrame, H: np.ndarray, hid: np.ndarray):
    """(Q, qid): a cell's home block followed by its ghost rows — the
    query side of the ε kernels."""
    if ghosts.empty:
        return H, hid
    return (
        np.concatenate([H, vec_matrix(ghosts)]),
        np.concatenate([hid, ghosts["id"].to_numpy()]),
    )


def ball_self_join_bin_counts(
    points: DataFrame,
    radii,
    d: int,
    stats: CellStats | None = None,
    src_mod2: int | None = None,
    dst_mod2: int | None = None,
    lt_only: bool = False,
    chunk_rows: int = 8192,
) -> DataFrame:
    """Second-order-statistics reduction of the epsilon ball self-join
    at ``radii[-1]``: per-bin COUNTS of qualifying ordered pairs
    (dist <= radii[i], src != dst, plus the optional filters), computed
    INSIDE the cogroup kernel instead of materializing the pair stream
    (guide §2.3 "aggregate before you shuffle": ripley_k / cross_k need
    4 integers, not 10^7..10^8 Arrow pair rows — measured at sf0.1 the
    cross layout emits 100M+ hit rows through Arrow + a JVM agg, all of
    which collapse to len(radii) longs per cell here).

    Same pair semantics as ``ball_self_join`` + the caller's filter:
    every qualifying ordered pair is counted exactly once, in the cell
    where its dst is home. Distances are evaluated with the BLAS/GEMM
    form for every cell (the old pair stream used the cover-tree
    explicit-diff path for cells > brute_cutoff; both engines' bin
    edges are clearance-pinned orders of magnitude above the
    GEMM-vs-explicit evaluation skew — test_ripley_edge_clearance /
    test_cross_k_edge_clearance — so bin membership, hence every
    count, is identical), chunked so no dense matrix exceeds
    ``chunk_rows`` x |H|.

    Filters:
      src_mod2 / dst_mod2: keep pairs with src % 2 == src_mod2 (resp.
        dst % 2 == dst_mod2) — the parity-tagged cross-type selection
        (q_cross_k). These prune the kernel INPUTS (query rows to src
        parity — including the ghost stream, which halves the
        candidate shuffle — and home rows to dst parity), which is the
        bench-scale win: the per-cell GEMM shrinks by the parity-split
        product while the counted pair set is unchanged by
        construction (parities differ => src != dst holds for free).
      lt_only: keep src < dst (unordered pairs once — q_ripley_k).

    Returns a 1-row DataFrame (c0..c{m-1} bigint) of global counts
    (0 when a bin is empty)."""
    if stats is None:
        points = mark_releasable(points.persist())
        stats = cell_stats(points, d)
    radii = [float(r) for r in radii]
    rmax = radii[-1]
    m = len(radii)
    gsrc = points
    if src_mod2 is not None:
        gsrc = points.where(F.pmod(F.col("id"), F.lit(2)) == int(src_mod2))
    schema = ", ".join(f"c{i} bigint" for i in range(m))

    def kernel(ghosts: pd.DataFrame, H: np.ndarray, hid: np.ndarray, _tree_fn):
        Q, qid = _with_ghosts(ghosts, H, hid)
        if src_mod2 is not None:
            kq = (qid % 2) == src_mod2
            Q, qid = Q[kq], qid[kq]
        if dst_mod2 is not None:
            kh = (hid % 2) == dst_mod2
            H, hid = H[kh], hid[kh]
        counts = np.zeros(m, np.int64)
        r2max = rmax * rmax
        for s in range(0, len(Q), chunk_rows):
            Qc = Q[s : s + chunk_rows]
            qc = qid[s : s + chunk_rows]
            d2 = ct.pairwise_sq_dists(Qc, H)
            qi, pi = np.nonzero(d2 <= r2max)
            if not len(qi):
                continue
            src = qc[qi]
            dst = hid[pi]
            keep = src != dst
            if lt_only:
                keep &= src < dst
            if not keep.any():
                continue
            di = np.sqrt(d2[qi[keep], pi[keep]])
            for i, r in enumerate(radii):
                counts[i] += int(np.count_nonzero(di <= r))
        return pd.DataFrame(
            {f"c{i}": pd.Series([counts[i]], dtype="int64") for i in range(m)}
        )

    ghosts = route(gsrc, stats, radius=rmax).drop("rq")
    per_cell_rows = cell_cogroup(ghosts, points, kernel, schema)
    return per_cell_rows.agg(
        *[F.sum(f"c{i}").cast("bigint").alias(f"c{i}") for i in range(m)]
    )


def brute_ball_join(points: DataFrame, radius: float) -> DataFrame:
    """Distributed brute-force oracle (reference 'bf' method,
    dist_point_vector.cpp:194-222): block-nested-loop via a broadcast
    of the full point set against streamed batches. Only for
    small-scale ground-truth checks."""
    spark = points.sparkSession
    pdf = points.select("id", "vec").toPandas()
    allX = vec_matrix(pdf)
    all_ids = pdf["id"].to_numpy()
    bc = spark.sparkContext.broadcast((allX, all_ids))

    def scan(batches):
        X, ids = bc.value
        for b in batches:
            if b.empty:
                continue
            Q = vec_matrix(b)
            qids = b["id"].to_numpy()
            d2 = ct.pairwise_sq_dists(Q, X)
            hit = d2 <= radius * radius
            qi, pi = np.nonzero(hit)
            src, dst = qids[qi], ids[pi]
            keep = src != dst
            yield pd.DataFrame(
                {"src": src[keep], "dst": dst[keep], "dist": np.sqrt(d2[hit][keep])}
            )

    return points.mapInPandas(counted_stream(scan), schema=EDGE_SCHEMA)
