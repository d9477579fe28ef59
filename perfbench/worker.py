"""One run of one benchmark workload, as a single Spark driver process.

``perfbench/run.py`` starts this file as a child process and owns the
process tree: it samples memory, enforces the deadline and turns the
records written here into the result line. Every finished set-up and
operation is appended to ``records.jsonl`` at once, so a crash still
leaves each completed measurement on disk.

Usage (normally through run.py):
    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --out DIR
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# query ids the oracle recomputes per operation
ORACLE_SAMPLE = 200
K = 10
# parts of the measuring window, each opened by a warm set-up;
# ``setup_s`` is the median of these set-ups
SEGMENTS = 2
# untimed operations before the window. After the cold set-up the
# first operation runs ~50% slow and the next few ~10-20% slow.
WARMUP_OPS = 4


class Ctx:
    """What every workload needs: the session, the run's seed, core
    count, scratch directory and tracer."""

    def __init__(self, spark, seed, cores, scratch, tracer, token):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.scratch = scratch
        self.tracer = tracer
        self.span = tracer.span
        self.token = token


def sphere_frame(spark, lo: int, n: int, parts: int):
    """(id, lon, lat, vec) for ids lo..lo+n: lon/lat from the id by the
    engine's exact recipe, vec the f32 unit-sphere embedding — all
    JVM-side SQL."""
    from pyspark.sql import functions as F

    from covertree_spark.core import geometry

    lon_e, lat_e = geometry.sql_lonlat_exprs("id")
    x, y, z = geometry.sql_xyz_exprs("lon", "lat")
    return spark.range(lo, lo + n, 1, parts).select(
        "id", F.expr(lon_e).alias("lon"), F.expr(lat_e).alias("lat")
    ).select(
        "id", "lon", "lat",
        F.array(F.expr(x), F.expr(y), F.expr(z)).cast("array<float>").alias("vec"),
    )


def sphere_np(ids: np.ndarray):
    """numpy twin of sphere_frame for client-side batches."""
    from covertree_spark.core import geometry

    lon, lat = geometry.lonlat_from_id(ids)
    return lon, lat, geometry.lonlat_to_xyz(lon, lat).astype(np.float32)


def id_base(seed: int, span_: int) -> int:
    """First id of a seed's id range; ranges of different seeds are
    disjoint and stay below 2^31 (the lon/lat hash is mod 2^32)."""
    return (seed * span_) % ((1 << 31) - span_)


def collect_points(df):
    from oracle import PointSet

    pdf = df.select("id", "vec").toPandas()
    return PointSet(pdf["id"].to_numpy(), np.stack(pdf["vec"].to_numpy()))


def with_fine_stats(pts, d):
    from covertree_spark.operators.partition import cell_stats

    st = cell_stats(pts, d, cell_col="cell", fine_col="cell_fine")
    return st.with_hierarchy(n_coarse=64) if len(st.cell_ids) > 128 else st


def max_cell_over_mean(st) -> float:
    per_cell = pd.Series(st.counts).groupby(st.cell_ids).sum()
    return float(per_cell.max() / per_cell.mean())


def sampled_agg(df, cond, cols):
    """ONE job that materializes ``df`` completely: its row count plus
    the rows matching ``cond`` (the oracle's sample)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.when(cond, F.struct(*cols))).alias("rows"),
    ).first()
    return int(row["n"]), [tuple(r) for r in row["rows"]]


def largest_cell_block(pts):
    from pyspark.sql import functions as F

    big = pts.groupBy("cell").count().orderBy(F.desc("count"), "cell").first()["cell"]
    pdf = pts.filter(F.col("cell") == big).select("vec").toPandas()
    return np.stack(pdf["vec"].to_numpy()).astype(np.float64)


def one_thread(H: np.ndarray, query) -> dict:
    """Plain single-threaded baseline in this process: cover-tree build
    and query over the largest cell block (median of three)."""
    from covertree_spark.core import covertree as ct

    b, q = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        tree = ct.build(H)
        b.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        query(tree, H)
        q.append(time.perf_counter() - t0)
    return {"covertree.build_1t_s": float(np.median(b)),
            "covertree.query_1t_s": float(np.median(q))}


class EgraphBlobs:
    """ε-neighbourhood graph over clustered 32-d blobs: Voronoi centers
    -> two-level assignment -> aligned layout in set-up; the timed
    operation is ``ball_self_join`` (ghost replication + a cover tree
    per cell).

    The blob layout and the ids are fixed (``blob_points`` seed 42);
    the run's seed moves every coordinate by up to ``JITTER`` of the
    blobs' own spread in that dimension, so a fresh seed gives fresh
    points and fresh edges. Letting the seed move the clusters, or
    pick which points are used, changes the Voronoi cells' balance,
    hence the straggler cell and the job time, by 20% and more from
    seed to seed."""

    N, D, CLUSTERS, RADIUS = 20_000, 32, 256, 0.018
    # blob_points' default spread, and the share of it a seed moves
    SPREAD, JITTER = 0.05, 0.2
    timed_kinds = ("egraph",)

    def __init__(self, ctx: Ctx):
        self.c = ctx
        self.pts = None

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from covertree_spark import queries as Q
        from covertree_spark.operators import partition as P
        from covertree_spark.sources.pages import blob_points

        c = self.c
        with c.span("sources.gen"):
            raw = blob_points(c.spark, self.N, d=self.D, n_clusters=self.CLUSTERS,
                              spread=self.SPREAD, seed=42)
            # blob_points scales dimension j by 0.7**j; the jitter
            # follows it, so the points keep their low intrinsic dimension
            amp = self.JITTER * self.SPREAD
            raw = raw.withColumn("vec", F.transform(
                "vec", lambda x, j: x + F.lit(amp) * F.pow(F.lit(0.7), j)
                * (F.xxhash64("id", j, F.lit(c.seed)) / F.lit(2.0**64))
            ).cast("array<float>")).persist()
            self.n = raw.count()
        with c.span("partition.cells"):
            fine_k, coarse_k, sample = Q.adaptive_voronoi_k(self.n, c.cores)
            centers = P.voronoi_centers(raw, k=fine_k, sample_size=sample)
        with c.span("partition.assign_align"):
            self.pts = Q._align(P.assign_two_level(
                raw, centers, P.coarse_group_of(centers, coarse_k)))
            self.pts.count()
        with c.span("partition.stats"):
            self.stats = with_fine_stats(self.pts, self.D)
        raw.unpersist()

    def teardown(self) -> None:
        self.pts.unpersist()

    def prepare_oracle(self) -> None:
        self.truth = collect_points(self.pts)

    def static_layers(self) -> dict:
        from covertree_spark.core import covertree as ct

        r = self.RADIUS
        out = one_thread(largest_cell_block(self.pts),
                         lambda t, H: ct.radius_query(t, H, H, r))
        out["partition.max_cell_over_mean"] = max_cell_over_mean(self.stats)
        return out

    def segment_ops(self, last: bool):
        return itertools.repeat(("egraph", self.egraph))

    def egraph(self, i: int):
        from pyspark.sql import functions as F

        from covertree_spark.operators.ball_join import ball_self_join
        from oracle import check_edges, sample_ids

        c = self.c
        sample = sample_ids(self.truth.ids, ORACLE_SAMPLE, c.seed * 7919 + i)
        ids = [int(x) for x in sample]
        with c.span("operator.plan"):
            edges = ball_self_join(self.pts, self.RADIUS, d=self.D, stats=self.stats)
        with c.span("operator.job"):
            n_edges, rows = sampled_agg(
                edges, F.col("src").isin(ids) | F.col("dst").isin(ids),
                ["src", "dst", "dist"])
        home_bytes = self.n * (16 + 4 * self.D)
        return {
            "items": self.n,
            "check": lambda: check_edges(self.truth, sample, rows, self.RADIUS),
            "useful": n_edges,
            "home_bytes": home_bytes,
        }


class IndexServe:
    """Serving from a persisted cover-tree index while it is written
    to: external kNN query batches through ``knn_over_index`` against
    the committed base snapshot, and ingest batches committed by
    ``upsert_index`` and read back through ``knn_over_index_chain``.
    Ingest batches are fresh ids drawn like the base points, so they
    spread uniformly over the sphere. Each segment of the window runs
    base query batches; the last one first upserts a batch and reads it
    back. The base query batches are the timed operation; upserts and
    chain reads are timed on their own for the per-layer figures."""

    N_BASE, QUERIES, BATCH = 30_000, 1_000, 2_000
    timed_kinds = ("query",)

    def __init__(self, ctx: Ctx):
        self.c = ctx
        self.pts = None
        self.rep = 0

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from covertree_spark import queries as Q
        from covertree_spark.core import cells
        from covertree_spark.operators import partition as P
        from covertree_spark.operators.index import build_trees
        from covertree_spark.plans.checkpoint import Warehouse, snapshot_id

        c = self.c
        self.rep += 1
        # a fresh warehouse root per set-up: a committed snapshot would
        # turn the build into a resume
        self.wh_root = os.path.join(c.scratch, f"warehouse{self.rep}")
        self.wh = Warehouse(self.wh_root, run_id=c.token)
        self.next_id = id_base(c.seed, 1 << 22)
        with c.span("sources.gen"):
            raw = sphere_frame(c.spark, self.take_ids(self.N_BASE), self.N_BASE,
                               c.cores).persist()
            raw.count()
        with c.span("partition.cells"):
            self.res = Q.adaptive_geo_res(self.N_BASE, c.cores)
            ll = P.assign_cells(raw, res=self.res).withColumn(
                "cell_fine", F.expr(cells.sql_cell_expr("lon", "lat", self.res + 2)))
        with c.span("partition.assign_align"):
            self.pts = Q._align(ll.select("id", "vec", "cell", "cell_fine"))
            self.pts.count()
        with c.span("partition.stats"):
            self.stats = with_fine_stats(self.pts, 3)
        with c.span("index.build"):
            base = self.pts.select("id", "vec", "cell")
            self.bsnap = snapshot_id("serve_points", [], {"run": c.token})
            self.wh.checkpoint(base, "serve_points", self.bsnap,
                               bucket=("cell", c.nparts))
            self.tsnap = snapshot_id("serve_trees", [self.bsnap], {"d": 3})
            trees = self.wh.checkpoint(
                build_trees(base, d=3, strategy="aligned"), "serve_trees",
                self.tsnap, bucket=("cell", c.nparts))
            self.gens = [self.load_gen(trees, "serve_trees", self.tsnap)]
        self.delta_psnaps: list[str] = []
        self.upserts = 0
        raw.unpersist()

    def take_ids(self, n: int) -> int:
        lo = self.next_id
        self.next_id += n
        return lo

    def load_gen(self, trees, table, snap):
        """One tree generation, persisted hash(cell)-aligned (the
        layout read_index_chain gives every generation)."""
        from pyspark.sql import functions as F

        spec = self.wh.bucket_spec(table, snap)
        if spec is None or int(spec["n"]) != self.c.nparts:
            trees = trees.repartition(self.c.nparts, F.col("cell"))
        trees = trees.sortWithinPartitions("cell").persist()
        trees.count()
        return trees

    def teardown(self) -> None:
        for g in self.gens:
            g.unpersist()
        self.pts.unpersist()
        shutil.rmtree(self.wh_root, ignore_errors=True)

    def prepare_oracle(self) -> None:
        self.base_truth = self.truth = collect_points(self.pts)

    def static_layers(self) -> dict:
        from covertree_spark.core import covertree as ct

        out = one_thread(largest_cell_block(self.pts),
                         lambda t, H: ct.knn_descend(t, H, H, K))
        out["partition.max_cell_over_mean"] = max_cell_over_mean(self.stats)
        out["upsert.chain_len"] = len(self.gens)
        return out

    def segment_ops(self, last: bool):
        queries = itertools.repeat(("query", self.query))
        if not last:
            return queries
        return itertools.chain([("upsert", self.upsert), ("chain", self.chain_read)], queries)

    def query(self, i: int):
        return self._query(i, chain=False)

    def chain_read(self, i: int):
        return self._query(i, chain=True)

    def _query(self, i: int, chain: bool):
        """One external batch: through ``knn_over_index`` against the
        base index, or through ``knn_over_index_chain`` against base
        plus every committed upsert (the read-back)."""
        from pyspark.sql import functions as F

        from covertree_spark.operators.knn import knn_over_index, knn_over_index_chain
        from oracle import check_knn, sample_ids

        c = self.c
        qids = np.arange(self.QUERIES, dtype=np.int64) + self.take_ids(self.QUERIES)
        _, _, X = sphere_np(qids)
        pdf = pd.DataFrame({"id": qids, "vec": list(X)})
        sample = sample_ids(qids, ORACLE_SAMPLE, c.seed * 7919 + i)
        ids = [int(x) for x in sample]
        with c.span("operator.plan"):
            qdf = c.spark.createDataFrame(pdf, "id bigint, vec array<float>")
            if chain:
                out = knn_over_index_chain(self.gens, qdf, k=K, d=3, self_join=False,
                                           n_queries=self.QUERIES)
            else:
                out = knn_over_index(self.gens[0], qdf, k=K, d=3, stats=self.stats,
                                     self_join=False, n_queries=self.QUERIES)
        with c.span("operator.job"):
            n_rows, rows = sampled_agg(out, F.col("src").isin(ids),
                                       ["src", "dst", "rank", "dist"])
        truth = self.truth if chain else self.base_truth
        pos = np.searchsorted(qids, sample)
        queries = {int(q): X[j] for q, j in zip(sample, pos)}

        def check():
            want = self.QUERIES * K
            errs = [] if n_rows == want else [f"{n_rows} rows, want {want}"]
            return errs + check_knn(truth, queries, rows, K, self_join=False)

        return {
            "items": self.QUERIES, "check": check, "useful": n_rows,
            "home_bytes": self.QUERIES * (8 + 12),
        }

    def upsert(self, i: int):
        from covertree_spark.operators.partition import assign_cells
        from covertree_spark.operators.upsert import upsert_index

        c = self.c
        bids = np.arange(self.BATCH, dtype=np.int64) + self.take_ids(self.BATCH)
        lon, lat, X = sphere_np(bids)
        pdf = pd.DataFrame({"id": bids, "lon": lon, "lat": lat, "vec": list(X)})
        self.upserts += 1
        t_start = time.time()
        with c.span("upsert.write"):
            bdf = c.spark.createDataFrame(
                pdf, "id bigint, lon double, lat double, vec array<float>")
            batch = assign_cells(bdf, res=self.res).select("id", "vec", "cell")
            psnap, tsnap = upsert_index(
                c.spark, self.wh, "serve", self.bsnap, self.tsnap, batch,
                batch_id=f"{c.token}-{self.upserts}", d=3, nparts=c.nparts,
                prior_delta_pts_snaps=tuple(self.delta_psnaps))
        with c.span("upsert.read"):
            gen = self.load_gen(self.wh.read(c.spark, "serve_trees_delta", tsnap),
                                "serve_trees_delta", tsnap)
        self.gens.append(gen)
        self.delta_psnaps.append(psnap)
        self.truth = self.truth.extend(bids, X)
        wh = self.wh

        def check():
            errs = []
            for table, snap in (("serve_points_delta", psnap), ("serve_trees_delta", tsnap)):
                if wh.manifest(table, snap)["committed_at"] < t_start:
                    errs.append(f"{table}@{snap} was resumed, not written")
            if wh.manifest("serve_points_delta", psnap)["rows"] != len(bids):
                errs.append("delta snapshot row count differs from the batch")
            return errs

        written = sum(
            dir_bytes(os.path.join(self.wh_root, t, "data", s))
            for t, s in (("serve_points_delta", psnap), ("serve_trees_delta", tsnap))
        )
        return {
            "items": len(bids), "check": check,
            "bytes_per_user_byte": written / (len(bids) * (8 + 12)),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


WORKLOADS = {"egraph_blobs": EgraphBlobs, "index_serve": IndexServe}


def op_layers(kind, op_id, res, dur, ctx, meters_delta, counts):
    """Per-layer values of one traced operation."""
    t = ctx.tracer
    if kind == "upsert":
        return {
            "upsert.write_s": t.seconds("upsert.write", op_id),
            "upsert.batch_s": dur,
            "upsert.bytes_written_per_user_byte": res["bytes_per_user_byte"],
        }
    if kind == "chain":
        return {"upsert.chain_query_s": dur}
    dist, udf_s, cand_b = meters_delta
    return {
        "operator.plan_s": t.seconds("operator.plan", op_id),
        "operator.job_s": t.seconds("operator.job", op_id),
        "operator.cand_bytes": cand_b,
        "covertree.dist_comps": dist,
        "covertree.dist_comps_per_query": dist / res["items"],
        "covertree.results_per_dist_comp": res["useful"] / max(dist, 1),
        "covertree.udf_wall_s": udf_s,
        "covertree.slot_share": udf_s / (dur * ctx.cores),
        "partition.ghost_factor": cand_b / res["home_bytes"],
        **counts,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from covertree_spark.core import covertree as ct
    from covertree_spark.plans import metrics as M
    from covertree_spark.plans.session import ReleaseScope, get_spark
    from tracing import Tracer

    scratch = args.out
    cores = len(os.sched_getaffinity(0))
    records = open(os.path.join(scratch, "records.jsonl"), "a")

    def record(**rec):
        rec["at"] = time.perf_counter() - t_start
        records.write(json.dumps(rec) + "\n")
        records.flush()

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a heap of fixed size, touched at start (see run.py JVM_HEAP)
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    record(type="start", s=time.perf_counter() - t0, cores=cores)

    tracer = Tracer(spark, enabled=bool(args.trace))
    # accumulators are captured when a plan is built, so they must
    # exist before the first one; the untraced run never installs them
    meters = M.install(spark) if args.trace else None
    token = f"{os.getpid()}-{time.time_ns()}"
    ctx = Ctx(spark, args.seed, cores, scratch, tracer, token)
    wl = WORKLOADS[args.workload](ctx)

    def setup(cold: bool) -> None:
        n_spans = len(tracer.spans)
        t = time.perf_counter()
        wl.setup()
        dur = time.perf_counter() - t
        layers = {}
        for s in tracer.spans[n_spans:]:
            key = s["name"] + "_s"
            layers[key] = layers.get(key, 0.0) + s["end"] - s["start"]
        record(type="setup", cold=cold, s=dur, layers=layers)

    def run_op(i: int, kind: str, fn, warm: bool) -> bool:
        """Run and check one operation; False once Spark is gone."""
        op_id = f"op{i}"
        tracer.begin_op(op_id)
        m0 = (meters.value, meters.udf_wall, meters.cand_bytes,
              ct.DIST_COMPS) if meters else None
        t = time.perf_counter()
        try:
            with ReleaseScope() as scope:
                try:
                    res = fn(i)
                    dur = time.perf_counter() - t
                finally:
                    scope.release()
            errors = res["check"]()
        except Exception as e:  # a failed operation is counted, never fatal
            dur = time.perf_counter() - t
            res = None
            errors = [f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"]
        counts = tracer.end_op()
        layers = {}
        if meters and res is not None:
            delta = (meters.value - m0[0] + ct.DIST_COMPS - m0[3],
                     meters.udf_wall - m0[1], meters.cand_bytes - m0[2])
            layers = op_layers(kind, op_id, res, dur, ctx, delta, counts)
        record(type="op", kind=kind, warmup=warm, s=dur,
               timed=not warm and kind in wl.timed_kinds,
               items=res["items"] if res else 0, ok=not errors,
               errors=errors[:3], layers=layers)
        if not spark_alive(spark):
            record(type="fatal", error="Spark context is gone")
            return False
        return True

    # warm-up: the first set-up runs in a fresh Spark session (its time
    # is bench.cold_setup_s), then WARMUP_OPS untimed operations on it
    setup(cold=True)
    wl.prepare_oracle()
    i = 0
    alive = True
    for kind, fn in itertools.islice(wl.segment_ops(last=False), WARMUP_OPS):
        alive = alive and run_op(i, kind, fn, warm=True)
        i += 1
    wl.teardown()

    # the window: SEGMENTS equal parts of --seconds, each a warm set-up
    # and then the workload's operations until the part's end, so set-ups
    # and operations are both sampled over the whole window
    t_window = time.perf_counter()
    for seg in range(SEGMENTS):
        if not alive:
            break
        if seg:
            wl.teardown()
        setup(cold=False)
        wl.prepare_oracle()
        end = t_window + args.seconds * (seg + 1) / SEGMENTS
        for kind, fn in wl.segment_ops(last=seg == SEGMENTS - 1):
            if not alive or time.perf_counter() >= end:
                break
            alive = run_op(i, kind, fn, warm=False)
            i += 1

    if args.trace:
        record(type="static", layers=wl.static_layers())
        tracer.dump(os.path.join(scratch, "spans.json"))
    wl.teardown()
    spark.stop()
    record(type="end")
    records.close()
    return 0


def spark_alive(spark) -> bool:
    try:
        return spark.sparkContext._jsc is not None and not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


if __name__ == "__main__":
    sys.exit(main())
