"""Persistent per-cell cover-tree index: build, save, query.

The reference builds per-cell trees transiently inside the query
(/root/reference/src/dist_point_vector.cpp:994). Here the build is its
own checkpointable stage: per cell, the CSR arrays (the reference's
exact layout, include/cover_tree.h:29-32) plus the point block and
global ids serialize to ONE parquet row per cell — resumable index
construction and the measured "tree construction phase" of the
BASELINE scaling target.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..core import covertree as ct
from ..plans.metrics import counted_fn
from ..sources.tables import vec_matrix

# CSR arrays and the point block serialize as RAW LITTLE-ENDIAN BYTES
# (numpy .tobytes()), not ARRAY<> columns: element-typed arrays pay a
# per-element boxing conversion through Arrow -> UnsafeRow -> parquet
# that saturates memory bandwidth when many writer tasks run
# concurrently (measured 2.2x ANTI-scaling 8->32 tasks on the 3M-point
# index write); binary blobs stream straight through. The point block
# is FLOAT32 (<f4) — the engine's payload type (reference Atom,
# include/utils.h:17-18): input vecs are f32-representable, so the
# narrowing is EXACT and the dominant blob halves. Kernels widen the
# block to float64 on deserialize — query parity with the transient
# path stays bit-identical.
TREE_SCHEMA = (
    "cell bigint, n bigint, childarr binary, childptrs binary, "
    "centers binary, radii binary, ids binary, "
    "points binary, ptype string, centroid array<double>, "
    "circumradius double"
)


def build_trees(
    points: DataFrame,
    d: int,
    cover: float = ct.DEFAULT_COVER,
    leaf_size: int = ct.DEFAULT_LEAF_SIZE,
    strategy: str | None = None,
) -> DataFrame:
    """One row per cell: CSR tree + flattened point block + global ids.
    ``points`` must carry (id, vec, cell).

    Plan: ``groupBy("cell").applyInPandas``, correct on any layout. On
    the aligned layout (``partition.align``) Spark plans neither an
    Exchange nor a Sort, so the build reads the cells in place.

    ``strategy`` is ignored; it stays only because perfbench passes
    it, and goes when a benchmark change repoints perfbench."""

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        X = vec_matrix(pdf)
        tree = ct.build(X, cover=cover, leaf_size=leaf_size)
        # per-cell pruning stats ride with the index row, so queries
        # over a loaded index need no extra stats scan (the index is
        # self-describing — see stats_from_trees)
        centroid = X.mean(axis=0)
        circ = float(np.sqrt(ct.pairwise_sq_dists(X, centroid[None, :]).max()))
        # f32 narrowing ONLY when exact for this block (round-4 ADVICE:
        # silently-lossy points against exact f64 radii can violate the
        # covering invariant by ~1e-7 and drop true neighbors). The
        # per-block check is one O(n*d) pass next to the tree build;
        # non-representable inputs keep full-width blobs, flagged in
        # the row (``ptype``) so tree_from_row widens correctly.
        X4 = X.astype("<f4")
        if np.array_equal(X4.astype(np.float64), X):
            blob, ptype = X4.ravel().tobytes(), "f4"
        else:
            blob, ptype = X.astype("<f8").ravel().tobytes(), "f8"
        return pd.DataFrame(
            {
                "cell": [np.int64(pdf["cell"].iloc[0])],
                "n": [np.int64(len(pdf))],
                "childarr": [tree.childarr.astype("<i8").tobytes()],
                "childptrs": [tree.childptrs.astype("<i8").tobytes()],
                "centers": [tree.centers.astype("<i8").tobytes()],
                "radii": [tree.radii.astype("<f8").tobytes()],
                "ids": [pdf["id"].to_numpy().astype("<i8").tobytes()],
                "points": [blob],
                "ptype": [ptype],
                "centroid": [centroid],
                "circumradius": [circ],
            }
        )

    return (
        points.select("cell", "id", "vec")
        .groupBy("cell")
        .applyInPandas(counted_fn(per_cell), schema=TREE_SCHEMA)
    )


def stats_from_trees(trees: DataFrame):
    """Reconstruct the broadcastable CellStats from the persisted
    index ALONE (one tiny driver collect of per-cell summary columns)
    — queries over a loaded index need neither the original points nor
    a stats rescan: the index is self-describing, which is the
    resumable-index claim of the north_rule."""
    from .partition import CellStats

    pdf = (
        trees.select("cell", "n", "centroid", "circumradius")
        .orderBy("cell")
        .toPandas()
    )
    return CellStats(
        cell_ids=pdf["cell"].to_numpy(dtype=np.int64),
        counts=pdf["n"].to_numpy(dtype=np.int64),
        centroids=np.stack(pdf["centroid"].to_numpy()).astype(np.float64),
        circumradii=pdf["circumradius"].to_numpy(dtype=np.float64),
    )


def tree_from_row(row) -> tuple[ct.CoverTree, np.ndarray, np.ndarray]:
    """Deserialize one cell row -> (tree, point block, global ids).
    Zero-copy: np.frombuffer over the binary columns."""
    tree = ct.CoverTree(
        childarr=np.frombuffer(row["childarr"], dtype="<i8"),
        childptrs=np.frombuffer(row["childptrs"], dtype="<i8"),
        centers=np.frombuffer(row["centers"], dtype="<i8"),
        radii=np.frombuffer(row["radii"], dtype="<f8"),
    )
    ids = np.frombuffer(row["ids"], dtype="<i8")
    n = int(row["n"])
    # widen once per block: exact by construction — build_trees stores
    # f4 only when the block round-trips (ptype records the choice)
    dt = "<f4" if row["ptype"] == "f4" else "<f8"
    pts = (
        np.frombuffer(row["points"], dtype=dt)
        .reshape(n, -1)
        .astype(np.float64)
    )
    return tree, pts, ids
