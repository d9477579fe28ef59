"""Exact kNN — the BASELINE-required extension (absent from the
reference, SURVEY.md §2.9).

Two-phase plan (BASELINE north_star: "broadcast H3 cell-cover pruning,
then vectorized pandas/Arrow UDF distance batches against per-
partition cover trees"):

  phase 1 (mapInPandas, stats broadcast): for each query q compute
    per-cell bounds lb_c = d(q, centroid_c) - circum_c and
    ub_c = d(q, centroid_c) + circum_c; take cells in lb order until
    the cumulative count >= k+1; ub = max ub over that prefix bounds
    the true kth distance; candidate cells = {c : lb_c <= ub}.
    Emits (cell, qid, vec, rq=ub) — the cell-cover prune.

  phase 2 (cogrouped applyInPandas on cell): candidates grouped by
    cell meet the home rows of that cell, read in place from the
    aligned layout (only the candidate stream is shuffled); per cell,
    build the cover tree over home points and keep the k best per
    query locally.

  merge: global top-k per query by (dist, id) in one hash aggregate —
    collect_list of (dist, id), array_sort, slice to k. Exact because
    every point closer than the kth distance lives in a candidate cell
    (lb_c <= d <= ub).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import covertree as ct
from ..plans.metrics import counted_fn, counted_stream
from ..plans.session import mark_releasable
from ..sources.tables import vec_matrix
from .partition import CellStats, cell_stats

CAND_SCHEMA = "cell bigint, qid bigint, vec array<float>, rq double"
PART_SCHEMA = "qid bigint, nid bigint, dist double"

_PART_EMPTY_TYPES = {"qid": "int64", "nid": "int64", "dist": "float64"}


def _cand_matrix(qs: pd.DataFrame, H: np.ndarray, hid: np.ndarray) -> np.ndarray:
    """Query matrix for a candidate block, restoring VEC-ELIDED rows:
    phase 1 ships NULL instead of the vector when a self-join query
    targets its own home cell (~90% of candidate rows on clustered
    data) — the home block already holds that vector, so the shuffle
    payload drops from O(rows x d) to O(foreign rows x d). Restored
    here by one argsort + searchsorted against the home ids, with a
    MEMBERSHIP CHECK (round-3 ADVICE): a caller violating the elision
    contract (e.g. a stale 'cell' column against a mismatched index)
    must fail loudly, never silently restore a wrong vector."""
    vals = qs["vec"].to_numpy()
    miss = np.fromiter((v is None for v in vals), dtype=bool, count=len(vals))
    if not miss.any():
        return vec_matrix(qs)
    Q = np.empty((len(vals), H.shape[1]), dtype=np.float64)
    if (~miss).any():
        Q[~miss] = np.stack(vals[~miss]).astype(np.float64)
    qid = qs["qid"].to_numpy()[miss]
    order = np.argsort(hid, kind="stable")
    pos = np.searchsorted(hid, qid, sorter=order)
    inb = pos < len(hid)
    hit = order[np.where(inb, pos, 0)]
    if not bool(np.all(inb & (hid[hit] == qid))):
        missing = qid[~(inb & (hid[hit] == qid))][:5]
        raise KeyError(
            "vec-elided query ids absent from their home block "
            f"(elision contract violated; e.g. {missing.tolist()}): "
            "the queries' 'cell' column does not match the layout this "
            "home/index block was built from"
        )
    Q[miss] = H[hit]
    return Q


def _cell_knn_kernel(
    H: np.ndarray,
    hid: np.ndarray,
    qs: pd.DataFrame,
    k: int,
    self_join: bool,
    brute_cutoff: int,
    tree_fn,
) -> pd.DataFrame:
    """Per-cell exact kNN of the candidate block ``qs`` against the
    home block (H, hid). Shared by the transient and persisted-index
    paths; ``tree_fn()`` yields the block's cover tree (built here or
    deserialized), called only when the block is above
    ``brute_cutoff``."""
    Q = _cand_matrix(qs, H, hid)
    qids = qs["qid"].to_numpy()
    rq = qs["rq"].to_numpy()
    excl = qids if self_join else None
    if len(H) <= brute_cutoff:
        # chunked GEMM top-k: never materializes the dense radius
        # hit set (which explodes on clustered data at a loose rq);
        # on small blocks it also beats tree descent (~2x fewer dist
        # comps and 3x less UDF wall measured at sf0.1)
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


def _empty_parts() -> pd.DataFrame:
    return pd.DataFrame({c: [] for c in _PART_EMPTY_TYPES}).astype(
        _PART_EMPTY_TYPES
    )


def _candidates(queries: DataFrame, stats: CellStats, k: int,
                self_join: bool) -> DataFrame:
    """Phase 1 over ``queries`` (id, vec[, cell]) -> CAND_SCHEMA rows.
    A self-join query set that carries its home ``cell`` ships a NULL
    vec on the row targeting that cell (see _cand_matrix)."""
    spark = queries.sparkSession
    if len(stats.cell_ids) > 128 and stats.coarse_of is None:
        stats = stats.with_hierarchy(n_coarse=64)
    phase1 = make_phase1(
        spark.sparkContext.broadcast(stats), k + 1 if self_join else k
    )
    qcols = [F.col("id"), F.col("vec")] + (
        [F.col("cell").alias("home_cell")]
        if self_join and "cell" in queries.columns
        else []
    )
    return queries.select(*qcols).mapInPandas(
        counted_stream(phase1, emit_bytes=True), schema=CAND_SCHEMA
    )


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

    Plan: phase-1 candidates cogrouped against the home rows by cell.
    The cogrouped pandas apply requires hash(cell) on both children;
    when ``points`` is persisted hash-partitioned on ``cell`` with
    spark.sql.shuffle.partitions partitions (``partition.align``, the
    ONE ingest shuffle), EnsureRequirements elides the home-side
    Exchange and ONLY the candidate stream moves. Any other layout is
    still correct; its homes are shuffled once more.

    Caching contract: when ``stats`` is None the input is persisted
    (three downstream scans) and registered with
    ``plans.session.mark_releasable`` — callers running many queries
    in one session should call ``release_intermediates()`` after
    materializing the result. Passing a precomputed ``stats`` (see
    ``partition.cell_stats``) skips the two stats scans AND the
    input persist — the caller owns the input's storage level."""
    if stats is None:
        # scanned by stats (2x), homes, (queries)
        points = mark_releasable(points.persist())
        stats = cell_stats(points, d, fine_col=fine_col)
    self_join = queries is None
    candidates = _candidates(
        points if self_join else queries, stats, k, self_join
    )
    home_g = points.select("cell", "id", "vec")

    def per_cell(cand_pdf: pd.DataFrame, home_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty or home_pdf.empty:
            return _empty_parts()
        H = vec_matrix(home_pdf)
        return _cell_knn_kernel(
            H, home_pdf["id"].to_numpy(), cand_pdf, k, self_join, brute_cutoff,
            lambda: ct.build(H, cover=cover, leaf_size=leaf_size),
        )

    parts = (
        candidates.groupby("cell")
        .cogroup(home_g.groupby("cell"))
        .applyInPandas(counted_fn(per_cell), schema=PART_SCHEMA)
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


def make_phase1(stats_bc, need: int):
    """Build the phase-1 (broadcast cell-cover pruning) mapInPandas
    function: per query, an upper bound on its ``need``-th distance
    from the broadcast stats, then candidate cells = every cell whose
    lower bound clears it. Shared by knn_self_join (transient trees)
    and the knn_over_index* reads (persisted trees)."""

    def phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st: CellStats = stats_bc.value
        order_counts = st.counts
        # keep the (queries x entries) working matrices CACHE-RESIDENT
        # (~2MB): on shared-bandwidth hosts, streaming matrices through
        # memory serializes all workers; cache-sized blocks scale.
        chunk = max(64, (1 << 21) // (8 * max(1, len(st.cell_ids))))
        for whole in batches:
            if whole.empty:
                continue
            for s in range(0, len(whole), chunk):
                pdf = whole.iloc[s : s + chunk]
                yield from _phase1_chunk(st, order_counts, pdf, need)

    return phase1


def _phase1_chunk(st, order_counts, pdf, need):
    Q = vec_matrix(pdf)
    from ..core.covertree import pairwise_sq_dists

    circ = st.circumradii
    total = int(order_counts.sum())
    goal = min(need, total)

    def covering_ub(d2, counts, circs):
        """Upper bound on the kth distance from a covering set:
        entries in d2 order until their counts reach `goal`;
        ub = max over that prefix of dist-to-centroid + circ.
        (Any covering set yields a VALID bound; d2 order is a
        cheap proxy for lower-bound order.)"""
        E2 = d2.shape[1]
        m = min(E2, max(8, 4 * max(1, need // max(1, int(counts.min())))))
        while True:
            part = (
                np.argpartition(d2, m - 1, axis=1)[:, :m] if m < E2
                else np.broadcast_to(np.arange(E2), d2.shape).copy()
            )
            d2_part = np.take_along_axis(d2, part, axis=1)
            ord2 = np.argsort(d2_part, axis=1, kind="stable")
            sorted_idx = np.take_along_axis(part, ord2, axis=1)
            cum = np.cumsum(counts[sorted_idx], axis=1)
            reach = cum >= goal
            if bool(reach.any(axis=1).all()) or m >= E2:
                break
            m = min(E2, m * 4)
        cut = reach.argmax(axis=1)
        cut = np.where(reach.any(axis=1), cut, m - 1)
        prefix_mask = np.arange(m)[None, :] <= cut[:, None]
        dc_sel = np.sqrt(np.take_along_axis(d2_part, ord2, axis=1))
        ub_sel = dc_sel + circs[sorted_idx]
        return np.where(prefix_mask, ub_sel, -np.inf).max(axis=1)

    # SAFETY MARGIN everywhere bounds gate candidates: ~1e-15
    # float noise can put a true kth neighbor exactly AT the
    # bound; 1e-9 relative slack makes candidate sets strict
    # supersets (final ranking uses exact distances).
    if st.coarse_of is None:
        d2 = pairwise_sq_dists(Q, st.centroids)
        ub_k = covering_ub(d2, order_counts, circ) * (1.0 + 1e-9)
        thr = ub_k[:, None] + circ[None, :]
        cand = d2 <= thr * thr
        ent_of_col = np.arange(len(st.cell_ids))
    else:
        # hierarchical cover prune: coarse bound first, then
        # fine entries of surviving coarse groups only —
        # O(nq x G) + O(nq x |surviving fine|)
        d2c = pairwise_sq_dists(Q, st.coarse_centroids)
        ub0 = covering_ub(
            d2c, st.coarse_counts, st.coarse_circumradii
        ) * (1.0 + 1e-9)
        thrc = ub0[:, None] + st.coarse_circumradii[None, :]
        surv = d2c <= thrc * thrc
        union = np.flatnonzero(surv.any(axis=0))
        fidx = np.concatenate([st.coarse_members[g] for g in union])
        d2f = pairwise_sq_dists(Q, st.centroids[fidx])
        valid = surv[:, st.coarse_of[fidx]]
        d2m = np.where(valid, d2f, np.inf)
        ubf = covering_ub(d2m, order_counts[fidx], circ[fidx])
        # both bounds are valid; an inf prefix entry (under-
        # covered mask) degrades gracefully to ub0
        ub_k = np.minimum(ubf, ub0) * (1.0 + 1e-9)
        thr = ub_k[:, None] + circ[fidx][None, :]
        cand = valid & (d2f <= thr * thr)
        ent_of_col = fidx
    qi, ej = np.nonzero(cand)
    ej = ent_of_col[ej]
    # dedupe (query, partition-cell): several fine stats entries
    # can map to one coarse cell
    coarse = st.cell_ids
    stride = int(coarse.max()) + 1 if len(coarse) else 1
    key = qi.astype(np.int64) * stride + coarse[ej]
    uk = np.unique(key)
    qi2 = uk // stride
    tgt = uk % stride
    vecs = pdf["vec"].to_numpy()[qi2]
    if "home_cell" in pdf.columns:
        # vec elision (see _cand_matrix): the row targeting the
        # query's own home cell ships NULL — the kernel restores it
        # from the home block it already holds
        vecs = vecs.copy()
        vecs[tgt == pdf["home_cell"].to_numpy()[qi2]] = None
    yield pd.DataFrame(
        {
            "cell": tgt,
            "qid": pdf["id"].to_numpy()[qi2],
            "vec": vecs,
            "rq": ub_k[qi2],
        }
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

    Plan: phase 1 exactly as knn_self_join (broadcast cell-cover
    pruning over the index's own stats), then a **cogrouped** pandas
    apply — candidates grouped by cell meet the one tree row of that
    cell; ``ct.knn_descend`` runs against the deserialized CSR arrays.
    The tree blobs move through ONE hash shuffle keyed by cell (no
    per-row duplication of the index), or none on an aligned index.

    Returns (src, dst, rank, dist) — identical to knn_self_join on the
    same points (tests + the knn_over_index catalog entry assert it).

    ``n_queries`` is ignored; it stays only because perfbench passes
    it, and goes when a benchmark change repoints perfbench.
    """
    candidates = _candidates(queries, stats, k, self_join)
    return _merge_topk(
        _tree_parts(candidates, trees, k, self_join, brute_cutoff), k
    )


def _tree_parts(
    candidates: DataFrame,
    trees: DataFrame,
    k: int,
    self_join: bool,
    brute_cutoff: int,
) -> DataFrame:
    """Cogroup the phase-1 candidate stream with a persisted tree table
    by cell -> per-cell partial top-k rows (PART_SCHEMA). Shared by the
    single-index and generation-chain read paths."""
    from .index import tree_from_row

    def per_cell(cand_pdf: pd.DataFrame, tree_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty or tree_pdf.empty:
            return _empty_parts()
        tree, H, hid = tree_from_row(tree_pdf.iloc[0])
        return _cell_knn_kernel(
            H, hid, cand_pdf, k, self_join, brute_cutoff, lambda: tree
        )

    return (
        candidates.groupby("cell")
        .cogroup(trees.groupby("cell"))
        .applyInPandas(counted_fn(per_cell), schema=PART_SCHEMA)
    )


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
    (O(#cells) smalls); ONE phase-1 pass prunes with the merged
    owned-cell stats; the candidate stream — persisted once and
    eagerly materialized, because under AQE the union branches compile
    to independent stages that would each re-run phase 1 against a
    cold cache — is split by owning generation and cogrouped against
    each generation's trees separately. Cells partition cleanly across
    generations, so each candidate row runs in exactly one branch; the
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

    # ---- driver-side cell ownership (newest generation wins) -----------
    gen_cells = [
        np.sort(
            np.array(
                [r["cell"] for r in g.select("cell").distinct().collect()],
                dtype=np.int64,
            )
        )
        for g in gens
    ]
    taken = np.empty(0, dtype=np.int64)
    owned: list[np.ndarray] = [None] * len(gens)
    for i in range(len(gens) - 1, -1, -1):
        owned[i] = np.setdiff1d(gen_cells[i], taken)
        taken = np.union1d(taken, gen_cells[i])
    owned_trees = [
        g if len(own) == len(cells) else _cells_filter(g, own, keep=True)
        for g, own, cells in zip(gens, owned, gen_cells)
    ]

    if stats is None:
        parts_stats = [
            stats_from_trees(t) for t, own in zip(owned_trees, owned) if len(own)
        ]
        stats = CellStats(
            cell_ids=np.concatenate([s.cell_ids for s in parts_stats]),
            counts=np.concatenate([s.counts for s in parts_stats]),
            centroids=np.concatenate([s.centroids for s in parts_stats]),
            circumradii=np.concatenate([s.circumradii for s in parts_stats]),
        )
    candidates = mark_releasable(
        _candidates(queries, stats, k, self_join).persist()
    )
    candidates.count()

    parts = None
    for t, own in zip(owned_trees, owned):
        if not len(own):
            continue
        cand_g = _cells_filter(candidates, own, keep=True)
        p = _tree_parts(cand_g, t, k, self_join, brute_cutoff)
        parts = p if parts is None else parts.unionByName(p)
    return _merge_topk(parts, k)
