"""Incremental (LSM-style) maintenance of the persisted cover-tree index.

The reference builds its index once per run over a static file
(rgraph.cpp:68-72; src/dist_point_vector.cpp:962-996) — an evolving
corpus is outside its model. At the north_rule's scale an index over
10^12 web pages cannot be rebuilt per ingest batch, so this module adds
the standard log-structured answer, Spark-first:

  * ``upsert_index`` — a new point batch DIRTIES only the cells it
    touches. The batch is committed as its own bucketed points
    snapshot, and a DELTA tree generation is built over every point of
    the dirty cells (existing + new, read by a bucket-pruned filter of
    the base layout) and committed chained on the base snapshot. Clean
    cells' trees are untouched bytes at rest — the write cost is
    O(points in dirty cells), never O(table).
  * ``knn_over_index_chain`` (operators/knn) — reads the chain: cell
    ownership resolves to the newest generation, one joint phase-1
    prune, per-generation aligned cogroups, standard merge. Exactness
    is pinned by parity tests against single-index kNN over the merged
    corpus.
  * ``compact_index`` — folds a chain back into one bucketed
    generation (the LSM compaction; restores the single-snapshot
    resume-is-a-read property and bounds chain length).

Snapshot lineage: every delta's id content-addresses
(base snapshot, batch id), so resuming sessions rediscover the chain
deterministically and a changed upstream invalidates exactly its
downstream generations — same contract as plans/checkpoint.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import Warehouse, snapshot_id
from .index import build_trees
from .knn import _cells_filter, owned_generations


def dirty_cells(new_pts: DataFrame) -> np.ndarray:
    """Distinct cells touched by a batch — O(#cells) driver smalls."""
    return np.sort(
        np.array(
            [r["cell"] for r in new_pts.select("cell").distinct().collect()],
            dtype=np.int64,
        )
    )


def build_delta_trees(
    pts_gens: list[DataFrame],
    new_pts: DataFrame,
    dirty: np.ndarray,
    d: int,
    nparts: int,
) -> DataFrame:
    """Per-cell cover trees over the dirty cells' FULL logical point
    sets. ``pts_gens`` is the point-snapshot chain oldest→newest (base
    first, prior deltas after) — a cell dirtied by an EARLIER batch has
    points living in that batch's delta snapshot, not the base, so the
    rebuild must read the whole chain, filtered to the dirty cells.
    Every generation read is a cell filter over a bucketed-at-rest
    layout — sorted-by-cell parquet gives row-group pruning, so scan
    cost tracks the dirty fraction; the one repartition here moves only
    dirty-cell points, and the tree build reuses it (no second
    Exchange).

    UPSERT semantics: per id, the NEWEST version wins (the batch
    outranks every committed generation). The last-writer resolution is
    one window over the dirty-cell union — O(dirty points), never
    O(table). Valid only while a replacement stays in its cell (cell is
    a function of the vector here); a MOVED point leaves a stale copy
    in its old, clean cell and needs tombstones — out of scope,
    documented loudly rather than silently wrong."""
    from pyspark.sql import Window

    cols = ["id", "vec", "cell"]
    union = None
    for g, df in enumerate([*pts_gens, new_pts]):
        part = _cells_filter(df.select(*cols), dirty, keep=True).withColumn(
            "gen", F.lit(g)
        )
        union = part if union is None else union.unionByName(part)
    w = Window.partitionBy("id").orderBy(F.desc("gen"))
    pts = (
        union.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*cols)
        .repartition(nparts, F.col("cell"))
        .sortWithinPartitions("cell")
    )
    return build_trees(pts, d=d)


def upsert_index(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    base_pts_snap: str,
    base_trees_snap: str,
    new_pts: DataFrame,
    batch_id: str,
    d: int,
    nparts: int,
    prior_delta_pts_snaps: tuple[str, ...] = (),
) -> tuple[str, str]:
    """Commit one ingest batch against the ``table`` index: a bucketed
    points-delta snapshot plus a delta tree generation, both chained on
    the FULL snapshot chain so far (base + prior deltas, oldest first).
    Returns (points_delta_snap, trees_delta_snap); idempotent per
    (chain, batch_id) — a committed batch is not rebuilt (crash-safe
    resume, same as every checkpointed stage).

    ``new_pts`` must carry (id, vec, cell) with cells assigned by the
    SAME rule as the base layout (the decomposition is part of the
    snapshot lineage; a batch assigned under a different rule chains on
    a different base snapshot and can never silently mix). Per id the
    newest version wins — see build_delta_trees for the replacement
    contract and its moved-point limitation."""
    chain = [base_pts_snap, *prior_delta_pts_snaps]
    psnap = snapshot_id(f"{table}_points_delta", chain, {"batch": batch_id})
    tsnap = snapshot_id(
        f"{table}_trees_delta", [base_trees_snap, psnap], {"d": d}
    )
    # table-name convention shared with read_index_chain: ``table`` is
    # the logical prefix; points live at {table}_points(+_delta), trees
    # at {table}_trees(+_delta)
    pts_tbl, trees_tbl = f"{table}_points_delta", f"{table}_trees_delta"
    if wh.is_committed(pts_tbl, psnap) and wh.is_committed(trees_tbl, tsnap):
        return psnap, tsnap
    batch = wh.checkpoint(
        new_pts.select("id", "vec", "cell")
        .repartition(nparts, F.col("cell"))
        .sortWithinPartitions("cell"),
        pts_tbl,
        psnap,
        bucket=("cell", nparts),
    )
    pts_gens = [wh.read(spark, f"{table}_points", base_pts_snap)] + [
        wh.read(spark, pts_tbl, s) for s in prior_delta_pts_snaps
    ]
    trees = build_delta_trees(
        pts_gens, batch, dirty_cells(batch), d=d, nparts=nparts
    )
    wh.checkpoint(trees, trees_tbl, tsnap, bucket=("cell", nparts))
    return psnap, tsnap


def read_index_chain(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    base_trees_snap: str,
    delta_snaps: list[str],
    nparts: int,
) -> list[DataFrame]:
    """Load [base, delta_1, ..., delta_n] tree generations, each
    persisted hash(cell)-aligned so every chain query cogroups in
    place. Bucketed-at-rest snapshots read back already aligned when
    the session's partition count matches the bucket count (the
    resume-is-a-read contract); otherwise they pay one realign."""
    out = []
    for tbl, snap in [(f"{table}_trees", base_trees_snap)] + [
        (f"{table}_trees_delta", s) for s in delta_snaps
    ]:
        t = wh.read(spark, tbl, snap)
        spec = wh.bucket_spec(tbl, snap)
        if spec is None or int(spec["n"]) != nparts:
            t = t.repartition(nparts, F.col("cell"))
        t = t.sortWithinPartitions("cell").persist()
        t.count()
        out.append(t)
    return out


def compact_index(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    gens: list[DataFrame],
    chain_snaps: list[str],
    nparts: int,
) -> str:
    """LSM compaction: fold a generation chain into ONE bucketed tree
    snapshot (newest owner per cell — the same resolution the chain
    read path applies, made durable). Rewrites each surviving tree row
    once; after compaction the chain's deltas are dangling and
    ``Warehouse.gc`` reclaims them."""
    owned_parts = [t for t, _own in owned_generations(gens)]
    merged = owned_parts[0]
    for p in owned_parts[1:]:
        merged = merged.unionByName(p)
    snap = snapshot_id(f"{table}_trees_compact", chain_snaps, {})
    wh.checkpoint(
        merged.repartition(nparts, F.col("cell")).sortWithinPartitions("cell"),
        f"{table}_trees",
        snap,
        bucket=("cell", nparts),
    )
    return snap
