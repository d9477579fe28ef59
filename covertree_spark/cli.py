"""rgraph-compatible CLI over the Spark engine — the reference's user
surface (reference rgraph.py:30-47 usage; flag-for-flag), so a
reference user runs their exact invocation against this engine:

    python -m covertree_spark.cli -i points.fvecs -r 0.15 \\
        -M cvor -m 10 -o edges.txt -j stats.json

Flag mapping (reference semantics -> Spark execution):
  -i FILE   .fvecs/.fbin/.u8bin input (sources.vecfiles: distributed
            fixed-stride range reads — the reference's parallel scan)
  -r FLOAT  epsilon-ball radius (required, like the reference)
  -c/-l     cover base / leaf size (identical defaults, rgraph.cpp:21-22)
  -m INT    centers; multiplied by parallelism unless -F, exactly the
            reference's `num_centers *= nprocs` (rgraph.py:77)
  -M STR    bf -> brute-force scan join (the correctness oracle);
            ct|cvor|gvor|ctrma -> the ONE partitioned plan (Voronoi
            cells + ghost shuffle + per-cell trees). The reference's
            four tree methods differ only in MPI transport (systolic /
            RMA / task queue); Spark's shuffle+AQE replaces all three
            transports by design (SURVEY §2.3), so they are accepted
            and recorded, and run the same physical plan.
  -A/-B/-q  accepted + recorded in stats; assignment/balancing are the
            Spark scheduler's job here (work stealing == speculative
            tasks + AQE, SURVEY O6)
  -o FILE   reference ASCII edge file (1-based, self-loops included,
            dist_graph.cpp:50-74); .parquet suffix -> distributed sink
  -j FILE   stats JSON: parameters, runtime, dist_comps, edge counts —
            the reference's stats surface (rgraph.py:131-150)

Output line matches the reference's `[v0,time=...] found neighbors
[v=..,e=..,e/v=..,d=..]` shape (rgraph.py:166-176) with e following
the self-loop convention.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="covertree_spark.cli", add_help=False,
        description="epsilon-graph construction (reference rgraph CLI surface)",
    )
    p.add_argument("-i", dest="infile", required=True)
    p.add_argument("-r", dest="radius", type=float, required=True)
    p.add_argument("-c", dest="cover", type=float, default=1.55)
    p.add_argument("-l", dest="leaf_size", type=int, default=10)
    p.add_argument("-m", dest="num_centers", type=int, default=10)
    p.add_argument("-q", dest="queries_per_tree", type=int, default=-1)
    p.add_argument("-v", dest="verbosity", type=int, default=1)
    p.add_argument("-o", dest="outfile", default=None)
    p.add_argument("-A", dest="tree_assignment", default="multiway",
                   choices=["static", "multiway"])
    p.add_argument("-B", dest="query_balancing", default="static",
                   choices=["static", "steal"])
    p.add_argument("-M", dest="method", default="cvor",
                   choices=["bf", "ct", "ctrma", "cvor", "gvor"])
    p.add_argument("-j", dest="stats_file", default=None)
    p.add_argument("-F", dest="fix_num_centers", action="store_true")
    p.add_argument("-h", action="help")
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] cores (engine extension; default: all)")
    return p


def run(argv: list[str] | None = None, spark=None) -> dict:
    """Execute one CLI invocation; returns the stats dict (the same
    object -j writes). ``spark`` injectable for tests."""
    args = build_parser().parse_args(argv)

    from .operators.ball_join import ball_self_join, brute_ball_join
    from .operators.edges import edge_summary, write_edge_file, write_edges
    from .operators.partition import (
        adaptive_voronoi_k,
        assign_two_level,
        coarse_group_of,
        voronoi_centers,
    )
    from .plans import metrics as M
    from .plans.session import get_spark, release_intermediates
    from .sources import vecfiles

    if spark is None:
        spark = get_spark(app_name="covertree-cli", cpus=args.cpus)
    nprocs = spark.sparkContext.defaultParallelism

    num_centers = args.num_centers
    if not args.fix_num_centers:
        num_centers *= nprocs  # reference rgraph.py:77

    t0 = time.time()
    n, d, _atom = vecfiles.info_file(args.infile)
    vecs = vecfiles.read_vectors(spark, args.infile)
    read_s = time.time() - t0
    if args.verbosity >= 1:
        print(f"[v1,time={read_s:.3f}] Read file '{args.infile}' "
              f"[size={n},dim={d}]")

    stats: dict = {
        "parameters": {
            "infile": args.infile, "method": args.method,
            "cover": args.cover, "leaf_size": args.leaf_size,
            "num_centers": num_centers,
            "tree_assignment": args.tree_assignment,
            "query_balancing": args.query_balancing,
            "queries_per_tree": args.queries_per_tree,
        }
    }

    meters = M.install(spark)
    snap = M.driver_snapshot()
    t0 = time.time()
    if args.method == "bf":
        edges = brute_ball_join(vecs, args.radius)
    else:
        # the user's center count rules, like the reference; only the
        # Gonzalez sample size stays adaptive
        _fk, coarse_k, sample = adaptive_voronoi_k(n, nprocs)
        fine_k = max(num_centers, 4)
        fine = voronoi_centers(vecs, k=fine_k, sample_size=sample)
        pts = assign_two_level(vecs, fine, coarse_group_of(fine, coarse_k))
        edges = ball_self_join(
            pts, args.radius, d=d, cover=args.cover, leaf_size=args.leaf_size
        )
    summary = edge_summary(edges.select("src", "dst"), n)
    runtime = time.time() - t0

    e = summary["num_edges_with_self_loops"]
    dist_comps = int(meters.value) + M.driver_delta(snap)
    stats.update(
        runtime=round(runtime, 3), dist_comps=dist_comps,
        num_points=n, num_edges=e, num_procs=nprocs,
        comp_times=[round(meters.udf_wall, 3)],
    )
    print(f"[v0,time={runtime:.3f},p={nprocs}] found neighbors "
          f"[v={n},e={e},e/v={e / n:.3f},d={dist_comps},"
          f"c={args.cover:.2f},l={args.leaf_size},M={args.method}]")

    if args.outfile:
        t0 = time.time()
        if args.outfile.endswith(".parquet"):
            write_edges(edges.select("src", "dst"), args.outfile, n)
        else:
            write_edge_file(edges.select("src", "dst"), n, args.outfile)
        if args.verbosity >= 1:
            print(f"[v1,time={time.time() - t0:.3f}] wrote edges to "
                  f"file '{args.outfile}'")

    if args.stats_file:
        with open(args.stats_file, "w") as f:
            json.dump(stats, f, indent=4)
    release_intermediates()
    return stats


if __name__ == "__main__":
    run(sys.argv[1:])
