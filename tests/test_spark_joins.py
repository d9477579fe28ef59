"""End-to-end Spark pipeline: epsilon-ball self-join and exact kNN
against brute-force ground truth, on both the geo (quad-cell) and
embedding (Voronoi) partitioners; parallelism-invariance included."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from covertree_spark.core import covertree as ct
from covertree_spark.operators import partition as pt
from covertree_spark.operators.ball_join import ball_self_join, brute_ball_join
from covertree_spark.operators.knn import knn_self_join
from covertree_spark.sources import tables as src
from tests.conftest import SF_TINY, brute_ball_edges, brute_knn

GEO_R = 0.28  # chord radius on the unit sphere (~16 deg)
EMB_R = 1.05  # chosen for avg-degree ~ O(10) on the embeddings table


def edges_set(df):
    return sorted((r["src"], r["dst"]) for r in df.select("src", "dst").collect())


@pytest.fixture(scope="module")
def geo_points(spark):
    df = src.doc_points_lonlat(spark, SF_TINY)
    df = pt.assign_cells(df, res=3)
    xyz = src.doc_points_xyz(spark, SF_TINY)
    return xyz.join(df.select("id", "cell"), "id").persist()


@pytest.fixture(scope="module")
def geo_numpy(spark, geo_points):
    pdf = geo_points.orderBy("id").toPandas()
    X = np.stack(pdf["vec"].to_numpy())
    ids = pdf["id"].to_numpy()
    return X, ids


def _layout(geo_points, layout):
    """geo_points under one of the input layouts the single cogroup
    plan must handle: as joined (``raw``), ``partition.align``ed (the
    home-side Exchange is elided), hash-repartitioned on ``id``
    (partitioned, but not by cell) and ``coalesce(1)``."""
    if layout == "raw":
        return geo_points
    if layout == "aligned":
        return pt.align(geo_points)
    if layout == "misaligned":
        return geo_points.repartition(7, "id")
    return geo_points.coalesce(1)


@pytest.mark.parametrize("stats", [None, "fine"])
def test_geo_ball_join_matches_bruteforce(spark, geo_points, geo_numpy, stats):
    """``fine``: stats entries are res-5 cells inside the res-3
    partition cells, more than 128 of them, so ``partition.route``
    prunes through its coarse level first; every edge must survive."""
    X, ids = geo_numpy
    st = None
    if stats == "fine":
        ll = pt.assign_cells(src.doc_points_lonlat(spark, SF_TINY), res=5)
        fine = geo_points.join(
            ll.select("id", F.col("cell").alias("cell_fine")), "id"
        )
        st = pt.cell_stats(fine, 3, fine_col="cell_fine")
        assert len(st.cell_ids) > 128
    got = edges_set(ball_self_join(geo_points, GEO_R, d=3, stats=st))
    exp = brute_ball_edges(X, GEO_R)
    expected = sorted((int(ids[s]), int(ids[t])) for s, t in exp)
    assert len(got) > 0
    assert got == expected


@pytest.mark.parametrize("layout", ["raw", "aligned", "misaligned", "coalesced"])
def test_geo_ball_join_strategy_parity(spark, geo_points, geo_numpy, layout):
    """The one cogroup plan gives the brute-force edge set on every
    input layout, whether or not the home-side Exchange is elided."""
    X, ids = geo_numpy
    got = edges_set(ball_self_join(_layout(geo_points, layout), GEO_R, d=3))
    exp = brute_ball_edges(X, GEO_R)
    expected = sorted((int(ids[s]), int(ids[t])) for s, t in exp)
    assert got == expected


def _shuffle_exchanges(df) -> int:
    """Shuffle exchanges the physical plan of ``df`` adds. The walk
    follows ``children`` only, so a cached relation's own plan (an
    inner child of its InMemoryTableScan) is not counted."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    count, todo = 0, [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        count += name in ("ShuffleExchangeExec", "ShuffleQueryStageExec")
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return count


def test_aligned_layout_plan_shape(spark, geo_points):
    """Over the aligned layout the index build reads cells in place
    (no shuffle), and the ball join shuffles only its ghost side."""
    from covertree_spark.operators.index import build_trees

    aligned = pt.align(geo_points)
    try:
        stats = pt.cell_stats(aligned, 3)
        assert _shuffle_exchanges(build_trees(aligned, d=3)) == 0
        assert _shuffle_exchanges(
            ball_self_join(aligned, GEO_R, d=3, stats=stats)
        ) == 1
    finally:
        aligned.unpersist()


@pytest.fixture(scope="module")
def fine_points(spark, geo_points):
    """geo_points plus ``cell_fine``, the res-5 cell of each point."""
    ll = pt.assign_cells(src.doc_points_lonlat(spark, SF_TINY), res=5)
    return geo_points.join(ll.select("id", F.col("cell").alias("cell_fine")), "id")


def _stats_oracle(df):
    """Per (cell, cell_fine) key in key order: numpy count, mean and
    max distance to the mean, plus each point's key index, its vector
    and the key table."""
    pdf = df.select("cell", "cell_fine", "vec").toPandas()
    X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    keys, inv = np.unique(
        pdf[["cell", "cell_fine"]].to_numpy(np.int64), axis=0, return_inverse=True
    )
    inv = inv.reshape(-1)
    cnt = np.bincount(inv)
    cent = np.stack([X[inv == i].mean(axis=0) for i in range(len(keys))])
    rad = np.array([
        np.linalg.norm(X[inv == i] - cent[i], axis=1).max() for i in range(len(keys))
    ])
    return keys, cnt, cent, rad, inv, X


def test_cell_stats_aligned_matches_numpy(spark, fine_points):
    """On the aligned layout every key lives in one partition, so the
    one-pass stats are the exact per-key count, centroid and radius."""
    aligned = pt.align(fine_points)
    try:
        st = pt.cell_stats(aligned, 3, fine_col="cell_fine")
        keys, cnt, cent, rad, _inv, _X = _stats_oracle(aligned)
    finally:
        aligned.unpersist()
    assert len(keys) > 128
    np.testing.assert_array_equal(st.cell_ids, keys[:, 0])
    np.testing.assert_array_equal(st.counts, cnt)
    np.testing.assert_allclose(st.centroids, cent, rtol=0, atol=1e-12)
    np.testing.assert_allclose(st.circumradii, rad, rtol=1e-12, atol=1e-15)


def test_cell_stats_merges_split_keys(spark, fine_points):
    """Hash-partitioned on id, keys span several partitions: the merged
    counts and centroids are still the per-key ones, and every point
    lies within its entry's radius."""
    misaligned = fine_points.repartition(7, "id").persist()
    try:
        parts_per_key = (
            misaligned.withColumn("p", F.spark_partition_id())
            .groupBy("cell", "cell_fine").agg(F.countDistinct("p").alias("p"))
            .agg(F.max("p")).first()[0]
        )
        st = pt.cell_stats(misaligned, 3, fine_col="cell_fine")
        keys, cnt, cent, _rad, inv, X = _stats_oracle(misaligned)
    finally:
        misaligned.unpersist()
    assert parts_per_key > 1
    np.testing.assert_array_equal(st.cell_ids, keys[:, 0])
    np.testing.assert_array_equal(st.counts, cnt)
    np.testing.assert_allclose(st.centroids, cent, rtol=0, atol=1e-12)
    dist = np.linalg.norm(X - st.centroids[inv], axis=1)
    assert (dist <= st.circumradii[inv] + 1e-12).all()


def test_cell_stats_is_one_job(spark, fine_points):
    """Over the aligned layout the stats are one Spark job (five when
    they were two JVM aggregations, two joins and a sort)."""
    sc = spark.sparkContext
    aligned = pt.align(fine_points)
    try:
        aligned.count()
        sc.setJobGroup("cell_stats_jobs", "cell_stats")
        pt.cell_stats(aligned, 3, fine_col="cell_fine")
        jobs = sc.statusTracker().getJobIdsForGroup("cell_stats_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        aligned.unpersist()
    assert len(jobs) == 1


def test_voronoi_centers_exact_matches_numpy(spark):
    """The distributed-argmax Gonzalez (reference O1/A2 parity path)
    must pick exactly the centers the same greedy picks over the full
    collected data."""
    from covertree_spark.core.covertree import dists_to
    from covertree_spark.operators.partition import voronoi_centers_exact
    from tests.conftest import make_blobs

    X = make_blobs(500, 4, n_clusters=5, seed=3).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id bigint, vec array<double>",
    )
    k = 6
    got = voronoi_centers_exact(df, k=k, d=4)
    ids = np.arange(len(X))
    cs = [X[0]]  # start at min id
    mind = dists_to(X, X[0])
    for _ in range(k - 1):
        far = int(np.lexsort((ids, mind))[-1])
        cs.append(X[far])
        mind = np.minimum(mind, dists_to(X, X[far]))
    assert np.array_equal(got, np.stack(cs))


@pytest.mark.parametrize("layout", ["aligned", "misaligned", "coalesced"])
def test_geo_knn_strategy_parity(spark, geo_points, geo_numpy, layout):
    """kNN counterpart of the layout parity above (the raw layout is
    test_geo_knn_matches_bruteforce)."""
    X, ids = geo_numpy
    k = 5
    got = knn_self_join(_layout(geo_points, layout), k=k, d=3)
    rows = sorted(
        (r["src"], r["rank"], r["dst"])
        for r in got.select("src", "rank", "dst").collect()
    )
    eq, ep, ed = brute_knn(X, X, k, exclude_self_idx=np.arange(len(X)))
    expected = []
    rank = {}
    for q, p, _d in zip(eq, ep, ed):
        rank[q] = rank.get(q, 0) + 1
        expected.append((int(ids[q]), rank[q], int(ids[p])))
    assert rows == sorted(expected)


def test_geo_ball_join_matches_distributed_bf(spark, geo_points):
    got = edges_set(ball_self_join(geo_points, GEO_R, d=3))
    bf = edges_set(brute_ball_join(geo_points, GEO_R))
    assert got == bf


def test_geo_knn_matches_bruteforce(spark, geo_points, geo_numpy):
    X, ids = geo_numpy
    k = 10
    got = knn_self_join(geo_points, k=k, d=3)
    rows = sorted(
        (r["src"], r["rank"], r["dst"]) for r in got.select("src", "rank", "dst").collect()
    )
    eq, ep, ed = brute_knn(X, X, k, exclude_self_idx=np.arange(len(X)))
    expected = []
    rank = {}
    for q, p in zip(eq, ep):
        rank[q] = rank.get(q, 0) + 1
        expected.append((int(ids[q]), rank[q], int(ids[p])))
    assert rows == sorted(expected)


def test_knn_counts_per_query(spark, geo_points):
    got = knn_self_join(geo_points, k=5, d=3)
    cnts = got.groupBy("src").count().select("count").distinct().collect()
    assert [r["count"] for r in cnts] == [5]


@pytest.fixture(scope="module")
def emb_points(spark):
    pts = src.embedding_points(spark, SF_TINY)
    centers = pt.voronoi_centers(pts, k=8)
    return pt.assign_voronoi_cells(pts, centers).persist()


def test_voronoi_ball_join_matches_bruteforce(spark, emb_points):
    pdf = emb_points.orderBy("id").toPandas()
    X = np.stack(pdf["vec"].to_numpy())
    ids = pdf["id"].to_numpy()
    got = edges_set(ball_self_join(emb_points, EMB_R, d=64))
    exp = brute_ball_edges(X, EMB_R)
    expected = sorted((int(ids[s]), int(ids[t])) for s, t in exp)
    assert len(got) > 0
    assert got == expected


def test_voronoi_knn_matches_bruteforce(spark, emb_points):
    pdf = emb_points.orderBy("id").toPandas()
    X = np.stack(pdf["vec"].to_numpy())
    ids = pdf["id"].to_numpy()
    k = 10
    got = knn_self_join(emb_points, k=k, d=64)
    rows = sorted(
        (r["src"], r["rank"], r["dst"]) for r in got.select("src", "rank", "dst").collect()
    )
    eq, ep, ed = brute_knn(X, X, k, exclude_self_idx=np.arange(len(X)))
    expected = []
    rank = {}
    for q, p in zip(eq, ep):
        rank[q] = rank.get(q, 0) + 1
        expected.append((int(ids[q]), rank[q], int(ids[p])))
    assert rows == sorted(expected)


def test_threshold_clearance(spark, geo_points, emb_points):
    """Guard: no true distance sits within 1e-9 of the chosen radii —
    ulp-level summation-order differences cannot flip the predicates
    (FIXTURES F2 boundary discipline)."""
    for fx, r in ((geo_points, GEO_R), (emb_points, EMB_R)):
        pdf = fx.select("vec").toPandas()
        X = np.stack(pdf["vec"].to_numpy())
        D = np.sqrt(ct.pairwise_sq_dists(X, X))
        gap = np.abs(D - r).min()
        assert gap > 1e-9, f"distance within {gap} of radius {r}"


@pytest.mark.parametrize("path", ["transient", "index", "chain"])
def test_knn_distinct_query_table(spark, geo_points, geo_numpy, path):
    """Non-self-query kNN: a separate query table against the build
    side — first-class in the reference (systolic query blocks vs the
    local tree, src/dist_point_vector.cpp:250-273). No self-exclusion:
    a query that coincides with a build point finds it at dist 0.

    Three read paths: the transient join, a persisted index
    (``self_join=False`` is what index serving runs), and a two-
    generation chain whose newer generation re-holds the even cells,
    so those cells must be answered from it alone."""
    from covertree_spark.operators.index import build_trees, stats_from_trees
    from covertree_spark.operators.knn import knn_over_index, knn_over_index_chain

    X, ids = geo_numpy
    k = 7
    qdf = geo_points.filter(F.col("id") % 5 == 0).select("id", "vec")
    if path == "transient":
        got = knn_self_join(geo_points, k=k, d=3, queries=qdf)
    elif path == "index":
        trees = build_trees(geo_points, d=3).persist()
        got = knn_over_index(
            trees, qdf, k=k, d=3, self_join=False, stats=stats_from_trees(trees)
        )
    else:
        gens = [
            build_trees(geo_points, d=3).persist(),
            build_trees(geo_points.filter(F.col("cell") % 2 == 0), d=3).persist(),
        ]
        got = knn_over_index_chain(gens, qdf, k=k, d=3, self_join=False)
    rows = sorted(
        (r["src"], r["rank"], r["dst"])
        for r in got.select("src", "rank", "dst").collect()
    )
    qmask = ids % 5 == 0
    eq, ep, ed = brute_knn(X, X[qmask], k)  # no exclusion
    qids = ids[qmask]
    expected = []
    rank = {}
    for q, p in zip(eq, ep):
        rank[q] = rank.get(q, 0) + 1
        expected.append((int(qids[q]), rank[q], int(ids[p])))
    assert rows == sorted(expected)


def test_knn_over_index_matches_transient(spark, geo_points, tmp_path):
    """The persisted-index query path (build_trees -> parquet ->
    knn_over_index with stats FROM THE INDEX) answers identically to
    the transient knn_self_join — the resumable-index claim."""
    from covertree_spark.operators.index import build_trees, stats_from_trees
    from covertree_spark.operators.knn import knn_over_index

    k = 10
    path = str(tmp_path / "trees")
    build_trees(geo_points, d=3).write.parquet(path)
    trees = spark.read.parquet(path)
    got = knn_over_index(
        trees, geo_points.select("id", "vec"), k=k, d=3,
        stats=stats_from_trees(trees),
    )
    exp = knn_self_join(geo_points, k=k, d=3)
    tup = lambda df: sorted(  # noqa: E731
        (r["src"], r["rank"], r["dst"])
        for r in df.select("src", "rank", "dst").collect()
    )
    assert tup(got) == tup(exp)


def test_edge_sink_conventions(spark, geo_points, tmp_path):
    """Edge sink: parquet + summary with the reference's self-loop
    counting convention (dist_graph.h:20-26), plus the ASCII export
    (dist_graph.cpp:23-75) — deterministic and re-readable."""
    from covertree_spark.operators import edges as eg

    e = ball_self_join(geo_points, GEO_R, d=3)
    nv = geo_points.count()
    path = str(tmp_path / "edges")
    summary = eg.write_edges(e, path, num_vertices=nv)
    back, summary2 = eg.read_edges(spark, path)
    assert summary == summary2
    assert summary["num_edges_with_self_loops"] == summary["num_edges"] + nv
    assert back.count() == summary["num_edges"]
    txt = str(tmp_path / "edges.txt")
    eg.write_edge_file(e, nv, txt)
    lines = open(txt).read().splitlines()
    hdr = lines[0].split()
    assert hdr[0] == "%" and int(hdr[3]) == len(lines) - 1
    assert int(hdr[3]) == summary["num_edges_with_self_loops"]
    body = [tuple(map(int, ln.split())) for ln in lines[1:]]
    assert body == sorted(body)  # deterministic order
    assert sum(1 for s, t in body if s == t) == nv


def test_lonlat_spark_sql_big_ids(spark):
    """Spark SQL evaluates the shared lon/lat fragment bit-identically
    to numpy far beyond the naive int64 overflow point (~3.47e9)."""
    from covertree_spark.core import geometry

    ids = [0, 1, 499, 2**31, 2**31 + 7, 2**35, 10**12, 2**40]
    lon_np, lat_np = geometry.lonlat_from_id(np.asarray(ids))
    le, la = geometry.sql_lonlat_exprs("id")
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    rows = df.selectExpr(f"{le} AS lon", f"{la} AS lat").collect()
    assert [r["lon"] for r in rows] == lon_np.tolist()
    assert [r["lat"] for r in rows] == lat_np.tolist()


def test_hot_cell_split_preserves_results(spark):
    df = src.doc_points_lonlat(spark, SF_TINY)
    df = pt.assign_cells(df, res=1)  # tiny res => hot cells guaranteed
    split = pt.split_hot_cells(df, res=1, max_cell_size=50, delta=2)
    # every pcell below... splitting happened:
    sizes = split.groupBy("pcell").count().toPandas()
    assert len(sizes) > 4
    xyz = src.doc_points_xyz(spark, SF_TINY)
    pts = xyz.join(split.select("id", F.col("pcell").alias("cell")), "id")
    got = edges_set(ball_self_join(pts, GEO_R, d=3))
    pdf = pts.orderBy("id").toPandas()
    X = np.stack(pdf["vec"].to_numpy())
    ids = pdf["id"].to_numpy()
    exp = brute_ball_edges(X, GEO_R)
    expected = sorted((int(ids[s]), int(ids[t])) for s, t in exp)
    assert got == expected


def test_release_scope_interleaved_no_double_compute(spark):
    """Round-3 VERDICT #6: two catalog queries BUILT interleaved, then
    materialized and released per-scope, must not re-execute each
    other's kernels (the old global registry dropped query B's
    persisted partials when query A released — the racy AQE union
    double-compute; dist_comps doubling is the regression signal)."""
    from covertree_spark import queries as Q
    from covertree_spark.plans import metrics as M
    from covertree_spark.plans.session import ReleaseScope

    # prime the shared prepared layouts so both flows measure only
    # query work
    Q._geo_points(spark, SF_TINY)
    Q._emb_points(spark, SF_TINY)

    meters = M.install(spark)
    with ReleaseScope() as r1:
        na = Q.q_geo_knn(spark, SF_TINY).count()
    r1.release()
    with ReleaseScope() as r2:
        nb = Q.q_emb_knn(spark, SF_TINY).count()
    r2.release()
    seq = meters.value

    meters = M.install(spark)
    with ReleaseScope() as r1:
        a = Q.q_geo_knn(spark, SF_TINY)
    with ReleaseScope() as r2:
        b = Q.q_emb_knn(spark, SF_TINY)
    na2 = a.count()
    r1.release()
    nb2 = b.count()
    r2.release()
    inter = meters.value

    assert (na2, nb2) == (na, nb)
    # identical work modulo noise — a dropped persist would ~2x this
    assert inter <= int(seq * 1.2) + 1000, (inter, seq)


def test_voronoi_centers_exact_deep_k_parity(spark):
    """The distributed Gonzalez parity path at a center count past the
    localCheckpoint boundary (round-3 VERDICT what's-wrong #3: the
    least()-chain plan exploded beyond ~100 rounds): k=70 crosses two
    lineage truncations and must still match the numpy greedy exactly."""
    from covertree_spark.core.covertree import dists_to
    from covertree_spark.operators.partition import voronoi_centers_exact
    from tests.conftest import make_blobs

    X = make_blobs(400, 4, n_clusters=8, seed=11).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id bigint, vec array<double>",
    )
    k = 70
    got = voronoi_centers_exact(df, k=k, d=4)
    ids = np.arange(len(X))
    cs = [X[0]]
    mind = dists_to(X, X[0])
    for _ in range(k - 1):
        far = int(np.lexsort((ids, mind))[-1])
        cs.append(X[far])
        mind = np.minimum(mind, dists_to(X, X[far]))
    assert np.array_equal(got, np.stack(cs))


@pytest.mark.parametrize("k", [1, 40])
def test_geo_knn_merge_mode_parity(spark, k):
    """The one-pass collect_list merge ranks exactly whether a query's
    candidates sit in one cell or in many. Input: 16 blobs of 25
    points, 10 apart, one cell each. At k=1 every query's candidates
    are its own cell; at k=40 no query fits in one cell. (Geo cells
    are adjacent, so no geo query has a single candidate cell.)"""
    rng = np.random.default_rng(5)
    grid = np.stack(np.meshgrid(range(4), range(2), range(2)), -1).reshape(-1, 3)
    cell = np.repeat(np.arange(16), 25)
    X = (10.0 * grid[cell] + rng.normal(0, 0.1, (400, 3))).astype(np.float32)
    ids = np.arange(400)
    pts = spark.createDataFrame(
        [(int(i), X[i].tolist(), int(cell[i])) for i in ids],
        "id bigint, vec array<float>, cell bigint",
    )
    ncand = pt.route(pts, pt.cell_stats(pts, 3), k=k + 1).groupBy("id").count()
    single = ncand.filter(F.col("count") == 1).count()
    assert single == (len(ids) if k == 1 else 0)

    got = knn_self_join(pts, k=k, d=3)
    rows = sorted(
        (r["src"], r["rank"], r["dst"]) for r in got.select("src", "rank", "dst").collect()
    )
    qs, ps, _d = brute_knn(X, X, k, exclude_self_idx=ids)
    expected = sorted(
        (int(ids[q]), int(r), int(ids[p]))
        for q, p, r in zip(qs, ps, list(_local_rank_of(qs)))
    )
    assert rows == expected


def _local_rank_of(qs):
    out = []
    prev = None
    r = 0
    for q in qs:
        r = r + 1 if q == prev else 1
        prev = q
        out.append(r)
    return out


def test_sessionize_hot_user_bounded(spark):
    """A pathological single user with 10^6 events (round-4 VERDICT
    #5): the two-phase bucket+stitch plan matches the classic
    one-window formulation EXACTLY, while no phase-1 task ever holds
    the whole key — the documented bound is events per (user,
    bucket_us window), verified here against the data."""
    from covertree_spark.operators.sessions import (
        sessionize,
        sessionize_single_window,
    )

    n = 1_000_000
    GAP = 1800 * 1_000_000  # 30 min
    # one event per minute; every 50th event jumps an extra 2*GAP ->
    # sessions of exactly 50 events each
    us = (
        F.col("id") * F.lit(60 * 1_000_000)
        + F.floor(F.col("id") / 50) * F.lit(2 * GAP)
    )
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit(7).cast("bigint").alias("user_id"),
        F.timestamp_micros(us).alias("ts"),
    )
    got = sessionize(ev, GAP)
    want = sessionize_single_window(ev, GAP)
    merged = got.alias("a").join(
        want.alias("b"), ["event_id", "user_id"], "full"
    )
    assert merged.count() == n
    assert (
        merged.filter(
            F.col("a.sess").isNull()
            | F.col("b.sess").isNull()
            | (F.col("a.sess") != F.col("b.sess"))
        ).count()
        == 0
    )
    assert got.agg(F.max("sess")).first()[0] == n // 50

    # the task-size contract: phase-1 groups are (user, 2h bucket) —
    # at 1 event/min + jumps, far below the whole-history hot key
    bucket_us = 4 * GAP
    occ = (
        ev.select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / bucket_us
            ).alias("bkt")
        )
        .groupBy("bkt")
        .count()
        .agg(F.max("count"), F.count("*"))
        .first()
    )
    max_per_bucket, n_buckets = int(occ[0]), int(occ[1])
    assert max_per_bucket <= bucket_us // (60 * 1_000_000) + 1  # <= 121
    assert n_buckets > 1000  # the hot key salts wide


def test_asof_hand_fixture(spark):
    """As-of semantics pinned by hand: equal-ts rights match (as-of
    includes now), equal-ts right ties break to the larger id, carries
    cross empty buckets, and no-match encodes (-1, -1). bucket_us=100
    forces every cross-bucket path at fixture scale."""
    from covertree_spark.operators.asof import asof_join

    def ev(rows):
        return spark.createDataFrame(
            [(i, u, us) for (i, u, us) in rows],
            "event_id bigint, user_id bigint, _us bigint",
        ).select(
            "event_id", "user_id", F.timestamp_micros(F.col("_us")).alias("ts")
        )

    views = ev([(10, 1, 100), (11, 1, 100), (12, 1, 250), (30, 2, 500)])
    clicks = ev([(20, 1, 50), (21, 1, 100), (22, 1, 260), (23, 1, 1000),
                 (31, 2, 499), (32, 2, 10_000)])
    got = {
        r["event_id"]: (r["matched_id"], r["lag_us"])
        for r in asof_join(clicks, views, bucket_us=100).collect()
    }
    assert got == {
        20: (-1, -1),      # no view yet
        21: (11, 0),       # equal ts matches; id tie-break to 11
        22: (12, 10),      # same-bucket local match
        23: (12, 750),     # carry across empty buckets
        31: (-1, -1),      # view is 1us later
        32: (30, 9_500),   # carry across a wide gap
    }


def test_asof_hot_user_bounded(spark):
    """One user, 300k events: the two-phase bucket+carry plan matches
    the classic one-window formulation EXACTLY while no phase-1 task
    holds the whole key (same contract as sessionize)."""
    from covertree_spark.operators.asof import asof_join, asof_join_single_window

    n = 300_000
    BUCKET = 3_600_000_000  # 1h
    # one event per 7s; every 3rd is a view, others click; every 100th
    # jumps 2h so plenty of buckets are empty (exercises the carry)
    us = (
        F.col("id") * F.lit(7 * 1_000_000)
        + F.floor(F.col("id") / 100) * F.lit(2 * BUCKET)
    )
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit(7).cast("bigint").alias("user_id"),
        F.timestamp_micros(us).alias("ts"),
        (F.col("id") % 3 == 0).alias("is_view"),
    )
    views = ev.filter("is_view").drop("is_view")
    clicks = ev.filter("NOT is_view").drop("is_view")
    got = asof_join(clicks, views, bucket_us=BUCKET)
    want = asof_join_single_window(clicks, views)
    merged = got.alias("a").join(want.alias("b"), ["event_id", "user_id"], "full")
    n_clicks = n - (n + 2) // 3
    assert merged.count() == n_clicks
    assert (
        merged.filter(
            (F.col("a.matched_id") != F.col("b.matched_id"))
            | (F.col("a.lag_us") != F.col("b.lag_us"))
        ).count()
        == 0
    )
    # spot-invariant: every click after the first view has a match
    assert got.filter("matched_id = -1").count() == 0
    # task-size contract: events per (user, bucket) is bounded by rate
    occ = (
        ev.select(F.floor(F.unix_micros("ts") / BUCKET).alias("bkt"))
        .groupBy("bkt").count().agg(F.max("count"), F.count("*")).first()
    )
    assert int(occ[0]) <= BUCKET // (7 * 1_000_000) + 1
    assert int(occ[1]) > 1000
