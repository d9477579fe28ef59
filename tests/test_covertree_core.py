"""Cover-tree kernel: invariants + oracle equality (no Spark).

Mirrors the reference's correctness methodology (SURVEY.md §5): the
brute-force oracle defines ground truth; tree results must equal it as
sorted edge sets / (dist,id)-ordered top-k, across parameter sweeps.
"""

import numpy as np
import pytest

from covertree_spark.core import covertree as ct
from covertree_spark.core import invariants as inv
from tests.conftest import brute_ball_edges, brute_knn, make_blobs

SWEEP = [(1.3, 10), (1.55, 10), (1.55, 1), (2.0, 50)]


@pytest.mark.parametrize("cover,leaf_size", SWEEP)
def test_invariants_blobs(cover, leaf_size):
    X = make_blobs(400, 8, 10, seed=1)
    tree = ct.build(X, cover=cover, leaf_size=leaf_size)
    inv.check_all(tree, X, cover, leaf_size)


def test_invariants_degenerate_duplicates():
    X = np.zeros((50, 4), dtype=np.float32)
    tree = ct.build(X)
    inv.csr_well_formed(tree)
    inv.leaves_cover_points_exactly_once(tree, 50)


def test_invariants_single_point():
    X = np.ones((1, 3), dtype=np.float32)
    tree = ct.build(X)
    assert tree.num_vertices == 1
    inv.csr_well_formed(tree)


def test_invariants_some_duplicates():
    rng = np.random.default_rng(7)
    X = rng.normal(size=(100, 5)).astype(np.float32)
    X[40:60] = X[10]  # 21 coincident points
    tree = ct.build(X)
    inv.csr_well_formed(tree)
    inv.leaves_cover_points_exactly_once(tree, 100)
    inv.radii_bound_descendants(tree, X)


@pytest.mark.parametrize("cover,leaf_size", SWEEP)
def test_ball_query_matches_bruteforce(cover, leaf_size):
    X = make_blobs(500, 8, 10, seed=2)
    r = 2.5
    tree = ct.build(X, cover=cover, leaf_size=leaf_size)
    qi, pi, di = ct.radius_query(tree, X, X, r)
    keep = qi != pi  # drop self-pairs
    got = np.stack([qi[keep], pi[keep]], axis=1)
    got = got[np.lexsort((got[:, 1], got[:, 0]))]
    expected = brute_ball_edges(X, r)
    assert got.shape == expected.shape
    assert np.array_equal(got, expected)


def test_ball_query_per_query_radius():
    X = make_blobs(300, 4, 5, seed=3)
    radii = np.linspace(0.5, 4.0, X.shape[0])
    tree = ct.build(X)
    qi, pi, di = ct.radius_query(tree, X, X, radii)
    D = np.sqrt(ct.pairwise_sq_dists(X, X))
    for q in range(0, X.shape[0], 37):
        expected = set(np.nonzero(D[q] <= radii[q])[0].tolist())
        got = set(pi[qi == q].tolist())
        assert got == expected


def _brute_radius(X, Q, radii):
    """Oracle (query, point) pairs with d <= r_q, in (query, point)
    order, plus their distances."""
    D = np.sqrt(ct.pairwise_sq_dists(Q, X))
    qi, pi = np.nonzero(D <= np.broadcast_to(radii, (len(Q),))[:, None])
    return qi, pi, D[qi, pi]


def _assert_radius_matches(got, expected):
    qi, pi, di = got
    order = np.lexsort((pi, qi))
    eq, ep, ed = expected
    assert np.array_equal(qi[order], eq)
    assert np.array_equal(pi[order], ep)
    assert np.allclose(di[order], ed, rtol=1e-9, atol=1e-12)


def test_ball_query_crosses_query_chunks():
    """More queries than one descent chunk, with per-query radii: every
    chunk must use its own slice of the radii."""
    X = make_blobs(800, 6, 8, seed=9)
    rng = np.random.default_rng(9)
    nq = 3 * ct._CHUNK_Q + 77
    Q = X[rng.integers(0, len(X), nq)] + rng.normal(0, 0.5, size=(nq, 6))
    radii = rng.uniform(0.5, 4.0, nq)
    tree = ct.build(X)
    got = ct.radius_query(tree, X, Q, radii)
    expected = _brute_radius(X, Q, radii)
    assert len(expected[0]) > nq
    _assert_radius_matches(got, expected)


def test_ball_query_one_point_tree():
    """n = 1: the root has no children and is itself the only leaf."""
    X = np.array([[1.0, 2.0, 3.0]], dtype=np.float32)
    tree = ct.build(X)
    assert tree.num_vertices == 1
    rng = np.random.default_rng(10)
    nq = ct._CHUNK_Q + 44
    Q = X[0] + rng.normal(0, 1.0, size=(nq, 3))
    radii = rng.uniform(0.0, 3.0, nq)
    expected = _brute_radius(X, Q, radii)
    assert 0 < len(expected[0]) < nq
    _assert_radius_matches(ct.radius_query(tree, X, Q, radii), expected)


def test_ball_query_coincident_tree():
    """All points coincide: the root's children are radius-0 leaves."""
    X = np.tile(np.array([[0.5, -1.0, 2.0, 0.0]], dtype=np.float32), (40, 1))
    tree = ct.build(X)
    kids = tree.children(0)
    assert len(kids) == 40 and np.all(tree.radii[kids] == 0.0)
    rng = np.random.default_rng(11)
    nq = ct._CHUNK_Q + 13
    Q = np.concatenate([X[:1], X[0] + rng.normal(0, 1.0, size=(nq - 1, 4))])
    expected = _brute_radius(X, Q, 1.5)
    assert 40 < len(expected[0]) < 40 * nq
    _assert_radius_matches(ct.radius_query(tree, X, Q, 1.5), expected)


def test_ball_query_working_set_is_chunk_bounded():
    """The root step must not gather the whole batch's root fan-out:
    12k 32-d queries against a 3k-point blob tree stay under 64 MiB of
    traced allocations, although one gathered (query, child) float64
    block of the batch would exceed 256 MiB."""
    import tracemalloc

    X = make_blobs(3000, 32, 128, seed=5, spread=0.3)
    tree = ct.build(X)
    fan_out = len(tree.children(0))
    rng = np.random.default_rng(12)
    nq = 12_000
    Q = X[rng.integers(0, len(X), nq)] + rng.normal(0, 0.03, size=(nq, 32))
    assert nq * fan_out * 32 * 8 > 256 * 2**20
    tracemalloc.start()
    try:
        qi, pi, di = ct.radius_query(tree, X, Q, 0.6)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * 2**20, f"radius_query peaked at {peak / 2**20:.0f} MiB"
    assert len(np.unique(qi)) == nq


@pytest.mark.parametrize("k", [1, 5, 10])
def test_knn_matches_bruteforce(k):
    X = make_blobs(400, 6, 8, seed=4)
    tree = ct.build(X)
    ids = np.arange(X.shape[0])
    qg, pg, dg = ct.knn_descend(
        tree, X, X, k, exclude_self_ids=ids, point_ids=ids
    )
    order = np.lexsort((pg, dg, qg))
    qg, pg, dg = qg[order], pg[order], dg[order]
    eq, ep, ed = brute_knn(X, X, k, exclude_self_idx=ids)
    assert np.array_equal(qg, eq)
    assert np.array_equal(pg, ep)
    # ids/ranks are exact; raw distances may differ at the last ulp
    # (tree path uses direct differences, oracle uses the GEMM form)
    assert np.allclose(dg, ed, rtol=1e-9, atol=1e-12)


def test_knn_with_radius_hint_exact():
    X = make_blobs(300, 6, 5, seed=5)
    tree = ct.build(X)
    ids = np.arange(X.shape[0])
    # generous hint: must not change results
    hint = np.full(X.shape[0], 50.0)
    qg, pg, dg = ct.knn_descend(tree, X, X, 7, init_bound=hint,
                                exclude_self_ids=ids, point_ids=ids)
    order = np.lexsort((pg, dg, qg))
    eq, ep, ed = brute_knn(X, X, 7, exclude_self_idx=ids)
    assert np.array_equal(qg[order], eq)
    assert np.array_equal(pg[order], ep)


def test_knn_k_exceeds_n():
    X = make_blobs(20, 3, 2, seed=6)
    tree = ct.build(X)
    qg, pg, dg = ct.knn_descend(tree, X, X[:5], 50)
    # every query returns all 20 points
    assert np.all(np.bincount(qg, minlength=5) == 20)


def test_boundary_distances_float_ties():
    """Points placed at distance exactly r and r*(1±1e-3): the <= r
    predicate must agree with the oracle bit-for-bit (FIXTURES F2
    'boundary')."""
    r = 1.0
    base = np.zeros((1, 2))
    offs = np.array([[r, 0], [r * (1 - 1e-3), 0], [r * (1 + 1e-3), 0],
                     [0, r], [0, -r * (1 - 1e-3)]])
    X = np.concatenate([base, base + offs]).astype(np.float32)
    tree = ct.build(X, leaf_size=1)
    qi, pi, di = ct.radius_query(tree, X, X, r)
    keep = qi != pi
    got = set(map(tuple, np.stack([qi[keep], pi[keep]], axis=1).tolist()))
    expected = set(map(tuple, brute_ball_edges(X, r).tolist()))
    assert got == expected


def test_tree_serialization_roundtrip():
    X = make_blobs(200, 5, 4, seed=8)
    tree = ct.build(X)
    arrays = tree.to_arrays()
    tree2 = ct.CoverTree.from_arrays({k: v.copy() for k, v in arrays.items()})
    qi1, pi1, d1 = ct.radius_query(tree, X, X[:50], 2.0)
    qi2, pi2, d2 = ct.radius_query(tree2, X, X[:50], 2.0)
    o1 = np.lexsort((pi1, qi1))
    o2 = np.lexsort((pi2, qi2))
    assert np.array_equal(qi1[o1], qi2[o2])
    assert np.array_equal(pi1[o1], pi2[o2])


def test_brute_topk_f32_parity():
    """The float32-prefilter path must return IDENTICAL (query, point,
    rank) sets and float64-exact distances vs a pure-float64 reference
    — on adversarial data: huge norms (offset +1000, where float32
    absolute error is largest), exact duplicates, tight clusters."""
    rng = np.random.default_rng(11)
    n, d, k = 1500, 16, 10  # n >= 512 engages the prefilter
    X = rng.normal(size=(n, d)) * 0.01 + 1000.0  # tiny gaps, huge norms
    X[50] = X[40]  # exact duplicates
    X[51] = X[40]
    ids = np.arange(n)
    qi, pi, di = ct.brute_topk(
        X, X, k, exclude_self_ids=ids, point_ids=ids
    )
    # pure-float64 reference (same ranking rule: (dist, id))
    D2 = ct.pairwise_sq_dists(X, X)
    ref = []
    for q in range(n):
        cand = [(np.sqrt(D2[q, j]), j) for j in range(n) if j != q]
        cand.sort()
        ref.extend((q, j, dist) for dist, j in cand[:k])
    got = sorted(zip(qi.tolist(), pi.tolist(), di.tolist()))
    ref = sorted(ref)
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in ref]
    # this fixture is engineered for catastrophic cancellation
    # (aa+bb ~ 3e7 against d2 ~ 1e-4): BOTH float64 GEMM-form paths
    # carry ~eps*(aa+bb)/(2d) ~ 3e-8 absolute in dist; the engine's
    # clearance discipline (gaps >= 1e-6) is exactly what absorbs it
    for (_, _, dg), (_, _, dr) in zip(got, ref):
        assert abs(dg - dr) <= 1e-6

    # benign-scale fixture: distances agree to float64 tightness
    Y = rng.normal(size=(800, 12))
    idy = np.arange(len(Y))
    qi2, pi2, di2 = ct.brute_topk(Y, Y, 5, exclude_self_ids=idy, point_ids=idy)
    D2y = ct.pairwise_sq_dists(Y, Y)
    np.fill_diagonal(D2y, np.inf)
    for q in (0, 97, 543):
        mine = sorted((p, d) for qq, p, d in zip(qi2, pi2, di2) if qq == q)
        dd = np.sqrt(D2y[q])
        best = sorted(zip(dd, np.arange(len(Y))))[:5]
        assert [p for p, _ in mine] == sorted(j for _, j in best)
        for (_, dg), (dr, _) in zip(mine, sorted(best, key=lambda t: t[1])):
            assert abs(dg - dr) <= 1e-12 * max(1.0, dr)
