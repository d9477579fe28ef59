"""Exact kNN — the BASELINE-required extension (absent from the
reference, SURVEY.md §2.9).

Two-phase plan (BASELINE north_star: "broadcast H3 cell-cover pruning,
then vectorized pandas/Arrow UDF distance batches against per-
partition cover trees"), the ε-graph's filter-then-verify split with a
per-query radius:

  phase 1 (``partition.route`` with ``k=``, stats broadcast): for each
    query q take cells in centroid-distance order until the cumulative
    count >= k+1; ub = max(d(q, centroid_c) + circum_c) over that
    prefix bounds the true kth distance; candidate cells = {c :
    d(q, centroid_c) - circum_c <= ub}. Emits (cell, id, vec, rq=ub) —
    the cell-cover prune.

  phase 2 (``partition.cell_cogroup``): routed rows grouped by cell
    meet the home rows of that cell, read in place from the aligned
    layout (only the routed stream is shuffled), or the cell's
    persisted tree; ``_knn_kernel`` keeps the k best per query locally.

  merge: global top-k per query by (dist, id) in one hash aggregate —
    collect_list of (dist, id), array_sort, slice to k. Exact because
    every point closer than the kth distance lives in a candidate cell
    (lb_c <= d <= ub).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import covertree as ct
from ..plans.session import mark_releasable
from .partition import CellStats, cell_cogroup, cell_stats, route, routed_matrix

PART_SCHEMA = "qid bigint, nid bigint, dist double"


def _knn_kernel(k: int, self_join: bool, brute_cutoff: int):
    """The per-cell exact kNN kernel for ``cell_cogroup``: the routed
    block ``rows`` against the home block (H, hid). ``tree_fn()``
    yields the block's cover tree (built or deserialized), called only
    when the block is above ``brute_cutoff``."""

    def kernel(rows: pd.DataFrame, H: np.ndarray, hid: np.ndarray, tree_fn):
        if rows.empty:
            return pd.DataFrame()
        Q = routed_matrix(rows, H, hid)
        qids = rows["id"].to_numpy()
        rq = rows["rq"].to_numpy()
        excl = qids if self_join else None
        if len(H) <= brute_cutoff:
            # chunked GEMM top-k: never materializes the dense radius
            # hit set (which explodes on clustered data at a loose rq);
            # on small blocks it also beats tree descent (~2x fewer
            # dist comps and 3x less UDF wall measured at sf0.1)
            qi, pi, di = ct.brute_topk(
                Q, H, k, max_radius=rq, exclude_self_ids=excl, point_ids=hid
            )
        else:
            # best-bound descent: rq only seeds the bound; it shrinks
            # per query as neighbors are found
            qi, pi, di = ct.knn_descend(
                tree_fn(), H, Q, k, init_bound=rq, exclude_self_ids=excl,
                point_ids=hid,
            )
        return pd.DataFrame({"qid": qids[qi], "nid": hid[pi], "dist": di})

    return kernel


def _route_queries(queries: DataFrame, stats: CellStats, k: int,
                   self_join: bool) -> DataFrame:
    """Phase 1 over ``queries`` (id, vec[, cell]). A self-join asks for
    k+1 (the kernel drops the query itself) and keeps its home
    ``cell``, so its home row ships a NULL vec; external queries never
    use a ``cell`` column, since their ids are not in the home block."""
    if self_join:
        return route(queries, stats, k=k + 1)
    return route(queries.select("id", "vec"), stats, k=k)


def knn_self_join(
    points: DataFrame,
    k: int,
    d: int,
    cover: float = ct.DEFAULT_COVER,
    leaf_size: int = ct.DEFAULT_LEAF_SIZE,
    fine_col: str | None = None,
    queries: DataFrame | None = None,
    brute_cutoff: int = 1024,
    stats: CellStats | None = None,
) -> DataFrame:
    """Exact kNN of every query against ``points`` (self-join by
    default: queries = points, self-pairs excluded). ``points`` must
    carry (id, vec, cell). Returns (src, dst, rank, dist) with rank
    1..k ordered by (dist, dst).

    Plan: routed queries cogrouped against the home rows by cell
    (``partition.cell_cogroup``). When ``points`` is persisted
    hash-partitioned on ``cell`` with spark.sql.shuffle.partitions
    partitions (``partition.align``, the ONE ingest shuffle),
    EnsureRequirements elides the home-side Exchange and ONLY the
    routed stream moves. Any other layout is still correct; its homes
    are shuffled once more.

    Caching contract: when ``stats`` is None the input is persisted
    (three downstream scans) and registered with
    ``plans.session.mark_releasable`` — callers running many queries
    in one session should call ``release_intermediates()`` after
    materializing the result. Passing a precomputed ``stats`` (see
    ``partition.cell_stats``) skips the stats scan AND the
    input persist — the caller owns the input's storage level."""
    if stats is None:
        # scanned by stats, homes, (queries)
        points = mark_releasable(points.persist())
        stats = cell_stats(points, d, fine_col=fine_col)
    self_join = queries is None
    routed = _route_queries(
        points if self_join else queries, stats, k, self_join
    )
    parts = cell_cogroup(
        routed, points, _knn_kernel(k, self_join, brute_cutoff), PART_SCHEMA,
        build=lambda H: ct.build(H, cover=cover, leaf_size=leaf_size),
    )
    return _merge_topk(parts, k)


def _merge_topk(parts: DataFrame, k: int) -> DataFrame:
    """Global top-k merge of per-cell partial results in one pass: a
    hash aggregate collects each query's partials into one array, then
    an in-row array_sort and slice. Lexicographic struct(dist, nid)
    order is the (dist asc, nid asc) ranking, and the 1-based slice
    position is the rank. Per-query partials are bounded by the
    phase-1 cell cover (<= candidate cells x k elements), so the
    collected array is never hot."""
    agg = parts.groupBy("qid").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("dist", "nid"))), 1, k
        ).alias("top")
    )
    return agg.select(
        F.col("qid").alias("src"),
        F.posexplode("top").alias("pos", "t"),
    ).select(
        "src",
        F.col("t.nid").alias("dst"),
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("t.dist").alias("dist"),
    )


def knn_over_index(
    trees: DataFrame,
    queries: DataFrame,
    k: int,
    d: int,
    stats: CellStats,
    self_join: bool = True,
    brute_cutoff: int = 1024,
    n_queries: int | None = None,
) -> DataFrame:
    """Exact kNN answered from a PERSISTED per-cell cover-tree index
    (operators/index.build_trees output read back from parquet) —
    the resumable-index path of the north_rule: tree construction is a
    checkpointed stage and queries never rebuild.

    Plan: phase 1 exactly as knn_self_join (``partition.route`` over
    the index's own stats), then ``partition.cell_cogroup`` — routed
    rows grouped by cell meet the one tree row of that cell;
    ``ct.knn_descend`` runs against the deserialized CSR arrays. The
    tree blobs move through ONE hash shuffle keyed by cell (no per-row
    duplication of the index), or none on an aligned index.

    Returns (src, dst, rank, dist) — identical to knn_self_join on the
    same points (tests + the knn_over_index catalog entry assert it).

    ``n_queries`` is ignored; it stays only because perfbench passes
    it, and goes when a benchmark change repoints perfbench.
    """
    routed = _route_queries(queries, stats, k, self_join)
    kernel = _knn_kernel(k, self_join, brute_cutoff)
    return _merge_topk(cell_cogroup(routed, trees, kernel, PART_SCHEMA), k)


def _cells_filter(df: DataFrame, cells: np.ndarray, keep: bool) -> DataFrame:
    """Filter ``df`` to rows whose ``cell`` is (not) in ``cells``.
    Literal isin below 1024 ids; broadcast semi/anti join above (the
    same plan-size bound operators/partition.split_hot_cells uses — a
    10^5-element isin literal bloats every task's serialized plan)."""
    ids = [int(c) for c in cells]
    if len(ids) <= 1024:
        cond = F.col("cell").isin(ids)
        return df.filter(cond if keep else ~cond)
    spark = df.sparkSession
    cdf = spark.createDataFrame([(i,) for i in ids], "cell bigint")
    how = "left_semi" if keep else "left_anti"
    return df.join(F.broadcast(cdf), "cell", how)


def owned_generations(gens: list[DataFrame]) -> list[tuple[DataFrame, np.ndarray]]:
    """Cell ownership over a generation chain (oldest first): the
    newest generation holding a cell owns it. Returns, oldest first,
    each generation that owns at least one cell, as its rows restricted
    to the cells it owns plus those cells (sorted). One driver-side
    ``distinct`` collect per generation; a generation that owns all its
    cells is not filtered."""
    out: list[tuple[DataFrame, np.ndarray]] = []
    taken = np.empty(0, dtype=np.int64)
    for g in reversed(gens):
        cells = np.sort(
            np.array(
                [r["cell"] for r in g.select("cell").distinct().collect()],
                dtype=np.int64,
            )
        )
        own = np.setdiff1d(cells, taken)
        if len(own) == len(cells):
            out.append((g, own))
        elif len(own):
            out.append((_cells_filter(g, own, keep=True), own))
        taken = np.union1d(taken, cells)
    return out[::-1]


def knn_over_index_chain(
    gens: list[DataFrame],
    queries: DataFrame,
    k: int,
    d: int,
    stats: CellStats | None = None,
    self_join: bool = True,
    brute_cutoff: int = 1024,
    n_queries: int | None = None,
) -> DataFrame:
    """Exact kNN over an LSM-style CHAIN of index generations (see
    operators/upsert): ``gens[0]`` is the base index, ``gens[i>0]``
    successive upsert deltas. A cell present in several generations is
    OWNED by the newest one holding it — an upsert rebuilds a dirty
    cell's tree over EVERY point of that cell (base points included),
    so the newest tree is the whole cell and older trees for it are
    superseded.

    Plan shape (the 100 TB case): cell ownership resolves driver-side
    (O(#cells) smalls); ONE phase-1 ``route`` pass prunes with the
    merged owned-cell stats; the routed stream — persisted once and
    eagerly materialized, because under AQE the union branches compile
    to independent stages that would each re-run phase 1 against a
    cold cache — is split by owning generation and put through
    ``cell_cogroup`` against each generation's trees separately. Cells
    partition cleanly across generations, so each routed row runs in
    exactly one branch; the
    base side keeps its at-rest bucket alignment (filters preserve
    partitioning — no data-sized Exchange appears), and deltas are
    small by construction. The unioned partials feed the standard
    one-pass merge.

    Exactness under per-branch search: phase-1's ub guarantees >= k
    points within ub across the UNION of owned cells; any cell (in any
    generation) with lower bound above ub cannot hold a global top-k
    member, and within each branch the kernels are exact. The global
    top-k is therefore a subset of the unioned branch partials.

    ``stats=None`` rebuilds the merged stats from the generations'
    own summary columns (the index stays self-describing); callers
    holding a finer stats sidecar for the logical merged index may
    pass it instead.

    ``n_queries`` is ignored; it stays only because perfbench passes
    it, and goes when a benchmark change repoints perfbench.
    """
    from .index import stats_from_trees

    owned = owned_generations(gens)
    if stats is None:
        parts_stats = [stats_from_trees(t) for t, _own in owned]
        stats = CellStats(
            cell_ids=np.concatenate([s.cell_ids for s in parts_stats]),
            counts=np.concatenate([s.counts for s in parts_stats]),
            centroids=np.concatenate([s.centroids for s in parts_stats]),
            circumradii=np.concatenate([s.circumradii for s in parts_stats]),
        )
    routed = mark_releasable(
        _route_queries(queries, stats, k, self_join).persist()
    )
    routed.count()

    kernel = _knn_kernel(k, self_join, brute_cutoff)
    parts = None
    for t, own in owned:
        routed_g = _cells_filter(routed, own, keep=True)
        p = cell_cogroup(routed_g, t, kernel, PART_SCHEMA)
        parts = p if parts is None else parts.unionByName(p)
    return _merge_topk(parts, k)
