"""rgraph-compatible CLI (covertree_spark/cli.py): the reference's
test.sh property — every method's edge set equals brute force — plus
the ASCII edge-file conventions (1-based ids, self-loops in the
header count) and the stats JSON surface (rgraph.py:131-176)."""

import json
import os

import numpy as np
import pytest

from covertree_spark import cli
from covertree_spark.plans import metrics
from covertree_spark.sources import vecfiles


@pytest.fixture(scope="module")
def fvecs(tmp_path_factory):
    d = tmp_path_factory.mktemp("clipts")
    X = np.random.default_rng(17).normal(size=(800, 8)).astype(np.float32)
    path = str(d / "pts.fvecs")
    vecfiles.write_fvecs(path, X)
    return path


def test_cvor_matches_bf_and_writes_artifacts(spark, fvecs, tmp_path):
    edges_f = str(tmp_path / "edges.txt")
    stats_f = str(tmp_path / "stats.json")
    snap = metrics.driver_snapshot()
    s_cvor = cli.run(
        ["-i", fvecs, "-r", "2.0", "-M", "cvor", "-o", edges_f, "-j", stats_f],
        spark=spark,
    )
    # writing the edge file reads the materialized edge set: no
    # distance computation after the count the stats report
    assert s_cvor["dist_comps"] == (
        metrics.current().value + metrics.driver_delta(snap)
    )
    s_bf = cli.run(["-i", fvecs, "-r", "2.0", "-M", "bf"], spark=spark)
    assert s_cvor["num_edges"] == s_bf["num_edges"]
    assert s_cvor["num_points"] == 800

    # ASCII conventions: header "% nv nv ne" counts self-loops; ids 1-based
    lines = open(edges_f).read().splitlines()
    _pct, nv, nv2, ne = lines[0].split()
    assert (nv, nv2) == ("800", "800")
    assert int(ne) == len(lines) - 1
    pairs = [tuple(map(int, ln.split())) for ln in lines[1:]]
    assert all(1 <= s <= 800 and 1 <= t <= 800 for s, t in pairs)
    assert sum(1 for s, t in pairs if s == t) == 800  # one self-loop each
    # header edge count == stats num_edges (self-loop convention)
    assert int(ne) == s_cvor["num_edges"]

    st = json.load(open(stats_f))
    assert st["parameters"]["method"] == "cvor"
    assert st["num_edges"] == s_cvor["num_edges"]
    assert st["dist_comps"] > 0


def test_cover_and_centers_flags_change_plan_not_result(spark, fvecs):
    a = cli.run(
        ["-i", fvecs, "-r", "2.0", "-M", "ct", "-c", "2.0", "-l", "25",
         "-m", "4", "-F"],
        spark=spark,
    )
    b = cli.run(["-i", fvecs, "-r", "2.0", "-M", "gvor"], spark=spark)
    assert a["num_edges"] == b["num_edges"]
    assert a["parameters"]["num_centers"] == 4  # -F honored


def test_help_describes_method_and_echoed_flags():
    text = " ".join(cli.build_parser().format_help().split())
    assert "ct|ctrma|cvor|gvor all run the same cvor plan" in text
    assert text.count("only echoed into the stats") == 2
