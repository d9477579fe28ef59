"""Ripley's K: bin-edge clearance pin at the gated sf + count parity
vs a direct numpy evaluation of the definition.

Same discipline as test_traj_coverage: RIPLEY_EDGES are constants
calibrated against the sf0.01 doc-pair chord spectrum; the clearance
test recomputes the full spectrum so a regenerated fixture or a moved
edge fails loudly instead of silently flipping a pair across a bin.
"""

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from covertree_spark import queries as Q
from covertree_spark.core import covertree as ct
from covertree_spark.core import geometry

from .conftest import SF_SMALL


def _doc_xyz(sf_dir):
    ids = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        ["doc_id"].to_numpy()
    )
    lon, lat = geometry.lonlat_from_id(ids)
    return geometry.lonlat_to_xyz(lon, lat).astype(np.float32).astype(np.float64)


def _pair_dists(X):
    out = []
    for i in range(0, len(X), 1000):
        D = np.sqrt(ct.pairwise_sq_dists(X[i : i + 1000], X))
        for j, row in zip(range(i, min(i + 1000, len(X))), D):
            out.append(row[j + 1 :])
    return np.concatenate(out)


def test_ripley_edge_clearance():
    """min |d - edge| over ALL unordered doc pairs at sf0.01 must beat
    the cross-engine evaluation bound (~4 ulps ~ 1e-15 at d<=2) by
    orders of magnitude, for EVERY bin edge."""
    d = _pair_dists(_doc_xyz(SF_SMALL))
    for r in Q.RIPLEY_EDGES:
        gap = float(np.abs(d - r).min())
        assert gap > 1e-7, f"pair distance within {gap} of edge {r}"


def test_gfunction_edge_clearance():
    """min |nn_dist - edge| over every point's NN distance at sf0.01
    must beat the cross-engine evaluation bound by orders of
    magnitude, for EVERY G-function bin edge."""
    X = _doc_xyz(SF_SMALL)
    D = np.sqrt(ct.pairwise_sq_dists(X, X))
    np.fill_diagonal(D, np.inf)
    nn = D.min(axis=1)
    for r in Q.GFUNC_EDGES:
        gap = float(np.abs(nn - r).min())
        assert gap > 1e-7, f"NN distance within {gap} of edge {r}"


def test_gfunction_counts_match_numpy(spark):
    """Engine G-function counts == the definition (numpy brute-force
    NN distances) on the same f32-representable xyz; counts are a
    nondecreasing CDF numerator bounded by n."""
    X = _doc_xyz(SF_SMALL)
    D = np.sqrt(ct.pairwise_sq_dists(X, X))
    np.fill_diagonal(D, np.inf)
    nn = D.min(axis=1)
    want = [(i, int((nn <= r).sum())) for i, r in enumerate(Q.GFUNC_EDGES)]
    got = sorted(
        (r["r_idx"], r["pts"])
        for r in Q.catalog()["gfunction"][0](spark, SF_SMALL).collect()
    )
    assert got == want
    assert all(a[1] <= b[1] for a, b in zip(got, got[1:]))
    assert got[-1][1] <= len(X)


def test_ripley_counts_match_numpy(spark):
    """The engine's cumulative bin counts == the definition evaluated
    directly (numpy brute force) on the same f32-representable xyz."""
    d = _pair_dists(_doc_xyz(SF_SMALL))
    want = [(i, int((d <= r).sum())) for i, r in enumerate(Q.RIPLEY_EDGES)]
    got = sorted(
        (r["r_idx"], r["pairs"])
        for r in Q.catalog()["ripley_k"][0](spark, SF_SMALL).collect()
    )
    assert got == want
    # K is cumulative by construction: counts must be nondecreasing
    assert all(a[1] <= b[1] for a, b in zip(got, got[1:]))


def _ev_xyz(sf_dir):
    ids = (
        pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"])
        ["event_id"].to_numpy()
    )
    lon, lat = geometry.lonlat_from_id(ids)
    return geometry.lonlat_to_xyz(lon, lat).astype(np.float32).astype(np.float64)


def test_cross_k_edge_clearance():
    """min |d - edge| over ALL doc-event cross pairs at sf0.01 must
    beat the cross-engine evaluation bound by orders of magnitude,
    for EVERY bivariate bin edge."""
    X, E = _doc_xyz(SF_SMALL), _ev_xyz(SF_SMALL)
    mind = np.full(len(Q.CROSSK_EDGES), np.inf)
    edges = np.array(Q.CROSSK_EDGES)
    for i in range(0, len(E), 2000):
        D = np.sqrt(ct.pairwise_sq_dists(X, E[i : i + 2000])).ravel()
        mind = np.minimum(mind, np.abs(D[:, None] - edges[None, :]).min(0))
    for r, g in zip(Q.CROSSK_EDGES, mind):
        assert g > 1e-7, f"cross-pair distance within {g} of edge {r}"


def test_cross_k_counts_vs_numpy():
    """Engine bin counts == the direct numpy definition at sf0.001."""
    from .conftest import SF_TINY

    X, E = _doc_xyz(SF_TINY), _ev_xyz(SF_TINY)
    D = np.sqrt(ct.pairwise_sq_dists(X, E)).ravel()
    want = {i: int((D <= r).sum()) for i, r in enumerate(Q.CROSSK_EDGES)}
    import tests.conftest as C  # noqa: F401 (spark fixture is session-level)
    from covertree_spark.plans.session import get_spark

    spark = get_spark(app_name="covertree-tests")
    got = {
        r.r_idx: r.pairs for r in Q.q_cross_k(spark, SF_TINY).collect()
    }
    assert got == want


def test_bin_counts_match_pair_stream_agg(spark):
    """ball_self_join_bin_counts == the pair-stream conditional-sum
    aggregation it replaced, for both the parity (cross_k) and
    src<dst (ripley_k) filters, on a clustered fixture."""
    from tests.conftest import make_blobs

    from covertree_spark.operators.ball_join import (
        ball_self_join,
        ball_self_join_bin_counts,
    )
    from covertree_spark.operators.partition import cell_stats

    X = make_blobs(400, 3, 6, seed=5, spread=0.8)
    rows = [
        (i, [float(v) for v in x], int(i) % 7) for i, x in enumerate(X)
    ]
    pts = spark.createDataFrame(
        rows, "id long, vec array<float>, cell long"
    ).persist()
    stats = cell_stats(pts, 3, "cell", None)
    radii = [0.5, 1.5, 3.0, 6.0]

    def stream_counts(where):
        pairs = ball_self_join(pts, radii[-1], d=3, stats=stats).where(where)
        row = pairs.agg(
            *[
                F.sum((F.col("dist") <= F.lit(r)).cast("bigint")).alias(f"c{i}")
                for i, r in enumerate(radii)
            ]
        ).collect()[0]
        return tuple(row[f"c{i}"] for i in range(len(radii)))

    # cross-parity selection
    old = stream_counts((F.col("src") % 2 == 0) & (F.col("dst") % 2 == 1))
    new = ball_self_join_bin_counts(
        pts, radii, d=3, stats=stats, src_mod2=0, dst_mod2=1
    ).collect()[0]
    assert tuple(new[f"c{i}"] for i in range(len(radii))) == old

    # unordered-pairs selection, with a chunk size that forces the
    # chunked GEMM loop to take several iterations
    old2 = stream_counts(F.col("src") < F.col("dst"))
    new2 = ball_self_join_bin_counts(
        pts, radii, d=3, stats=stats, lt_only=True, chunk_rows=64
    ).collect()[0]
    assert tuple(new2[f"c{i}"] for i in range(len(radii))) == old2
    pts.unpersist()
