"""Semantics pin for buffer_join: membership follows the src's own
radius (so it is asymmetric), and every pair's integer-metre distance
matches the numpy haversine."""

import numpy as np

from tests.conftest import SF_TINY


def test_buffer_join_asymmetric_and_exact(spark):
    """Membership depends on the SRC's radius only: find a pair where
    (a->b) is in but (b->a) is out, and verify every pair against the
    brute predicate."""
    from covertree_spark.core import geometry
    from covertree_spark.queries import BUF_BASE_KM, BUF_MOD, q_buffer_join
    from covertree_spark.sources import tables as srct

    rows = q_buffer_join(spark, SF_TINY).collect()
    assert rows
    docs = {
        r.doc_id: r.n_chars
        for r in srct.load_table(spark, SF_TINY, "documents").collect()
    }
    pair_set = {(r.src, r.dst) for r in rows}
    for r in rows:
        r_m = (BUF_BASE_KM + docs[r.src] % BUF_MOD) * 1000
        assert r.m <= r_m
        lon1, lat1 = geometry.lonlat_from_id(np.array([r.src]))
        lon2, lat2 = geometry.lonlat_from_id(np.array([r.dst]))
        assert r.m == geometry.haversine_m_int(lon1, lat1, lon2, lat2)[0]
    asym = [p for p in pair_set if (p[1], p[0]) not in pair_set]
    assert asym, "fixture should exercise the per-feature radius asymmetry"
