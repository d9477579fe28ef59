"""Parallelism invariance — the reference's core regression net
(/root/reference/test.sh:10-23 runs the Voronoi join at 1/2/4/8 ranks
and requires identical edge counts). Here the SAME job runs in two
subprocesses at local[2] and local[8] and must produce identical
sorted edge sets and kNN (src, rank, dst) triples — not just counts.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r'''
import json, sys
sys.path.insert(0, {repo!r})
from covertree_spark.plans.session import get_spark
from covertree_spark.operators import partition as pt
from covertree_spark.operators.ball_join import ball_self_join
from covertree_spark.operators.knn import knn_self_join
from covertree_spark.sources import tables as src

cpus = {cpus}
spark = get_spark(app_name=f"par-inv-{{cpus}}", cpus=cpus,
                  shuffle_partitions=cpus * 2)
spark.sparkContext.setLogLevel("ERROR")
sf = {sf!r}
ll = pt.assign_cells(src.doc_points_lonlat(spark, sf), res=3)
pts = src.doc_points_xyz(spark, sf).join(ll.select("id", "cell"), "id")
edges = sorted(
    (r["src"], r["dst"])
    for r in ball_self_join(pts, 0.28, d=3).select("src", "dst").collect()
)
knn = sorted(
    (r["src"], r["rank"], r["dst"])
    for r in knn_self_join(pts, k=5, d=3).select("src", "rank", "dst").collect()
)
print(json.dumps({{"edges": edges, "knn": knn}}))
'''


def _run(cpus: int) -> dict:
    sf = os.environ.get("SPARK_GRAFT_SF_TINY", "/root/testdata/sf0.001")
    code = _WORKER.format(repo=REPO, cpus=cpus, sf=sf)
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_identical_results_local2_vs_local8():
    lo = _run(2)
    hi = _run(8)
    assert lo["edges"] == hi["edges"]
    assert lo["knn"] == hi["knn"]
    assert len(lo["edges"]) > 0 and len(lo["knn"]) > 0


def test_get_spark_defaults_to_all_cores():
    """Without ``cpus`` or SPARK_GRAFT_CPUS, get_spark runs local[N]
    on every core of the host (the CLI's ``--cpus`` default: all)."""
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from covertree_spark.plans.session import get_spark\n"
        "print(get_spark(app_name='default-cores').sparkContext.master)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=600, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.strip().splitlines()[-1] == f"local[{os.cpu_count()}]"
