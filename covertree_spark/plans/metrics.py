"""dist_comps + in-UDF wall-time instrumentation — the reference's
efficiency metrics.

The reference counts every metric evaluation in a global counter
(/root/reference/include/point_vector.h:11) and reports it per run
(/root/reference/rgraph.py:131-176), and splits wall time into
comp/comm/idle per phase (/root/reference/include/dist_point_vector.h:23-25,
rgraph.py:132-139); without these, pruning and shuffle regressions are
invisible. Here:

  * ``DIST_COMPS`` — a per-process int in ``core.covertree`` bumped by
    every distance kernel, bridged to a Spark accumulator.
  * UDF wall seconds — total wall time spent INSIDE pandas-UDF iterator
    bodies (the engine's compute), a second accumulator. The
    difference between a query's total wall time x cores and this
    number is shuffle + scheduling + JVM time — the comp/comm split.

Operators wrap their pandas-UDF iterator functions with
``counted_stream`` (mapInPandas) or ``counted_fn`` (applyInPandas /
cogroup kernels) so each task adds its deltas on completion; the CLI
and perfbench install fresh accumulators per operation to report
``dist_comps`` and ``udf_wall_s``.

The accumulators are captured in UDF closures at PLAN BUILD time, so
``install`` must run before the operator function is called. Driver-
side distance work (Voronoi sampling, hierarchy derivation) is
counted separately via ``driver_snapshot``/``driver_delta``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class Meters:
    dist: object  # Spark accumulator[int]: distance computations
    udf_s: object  # Spark accumulator[float]: wall seconds inside UDFs
    cand_b: object = None  # accumulator[int]: candidate/ghost payload bytes

    @property
    def value(self) -> int:  # back-compat: meters.value == dist_comps
        return int(self.dist.value)

    @property
    def udf_wall(self) -> float:
        return float(self.udf_s.value)

    @property
    def cand_bytes(self) -> int:
        """Payload bytes EMITTED INTO the per-query shuffle by
        candidate/ghost streams (phase-1 kNN candidates, ghost
        replicas, IVF probes) — the engine's own measurement that the
        per-query shuffle is O(fringe), not O(table) (round-4 VERDICT
        #6). Estimated worker-side at emission: fixed-width columns at
        dtype width, array columns at 4 bytes/element, NULL (elided
        vec) = 0 — i.e. the logical payload, before compression."""
        return int(self.cand_b.value) if self.cand_b is not None else 0


_CURRENT: Meters | None = None


def install(spark) -> Meters:
    """Create and register fresh accumulators. Returns the Meters."""
    global _CURRENT
    _CURRENT = Meters(
        dist=spark.sparkContext.accumulator(0),
        udf_s=spark.sparkContext.accumulator(0.0),
        cand_b=spark.sparkContext.accumulator(0),
    )
    return _CURRENT


def _pdf_payload_bytes(pdf) -> int:
    """Logical payload bytes of an emitted batch (see
    Meters.cand_bytes). Object (array) columns count 4 bytes per
    element — the engine's f32 payload width — and None rows count 0,
    so vec elision shows up as the byte savings it is."""
    total = 0
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            total += int(
                sum(0 if v is None else 4 * len(v) for v in s.to_numpy())
            )
        else:
            total += int(s.dtype.itemsize) * len(s)
    return total


def current() -> Meters | None:
    """The active meters (or None when instrumentation is off)."""
    return _CURRENT


def counted_stream(fn, meters: Meters | None = None, emit_bytes: bool = False):
    """Wrap a mapInPandas iterator function so each invocation's
    worker-side DIST_COMPS delta and wall time are added to the
    accumulators. No-op when instrumentation is off (zero overhead in
    the hot path).

    ``emit_bytes=True``: additionally meter every yielded batch's
    payload bytes into ``cand_b`` — set on the streams whose output
    FEEDS A SHUFFLE (phase-1 candidates, ghost replication, IVF
    probes), giving the O(fringe)-shuffle evidence per query."""
    if meters is None:
        meters = _CURRENT
    if meters is None:
        return fn

    def wrapped(batches):
        from ..core import covertree as _ct

        start = _ct.DIST_COMPS
        t0 = time.time()
        try:
            if emit_bytes and meters.cand_b is not None:
                for out in fn(batches):
                    meters.cand_b.add(_pdf_payload_bytes(out))
                    yield out
            else:
                yield from fn(batches)
        finally:
            meters.dist.add(_ct.DIST_COMPS - start)
            meters.udf_s.add(time.time() - t0)

    return wrapped


def counted_fn(fn, meters: Meters | None = None):
    """Same bridging for plain (non-iterator) pandas kernels —
    applyInPandas / cogroup functions called once per group. The
    wrapper preserves the wrapped function's ARITY: PySpark inspects
    cogroup function signatures ((left, right) vs (key, left, right))
    and rejects ``*args``."""
    if meters is None:
        meters = _CURRENT
    if meters is None:
        return fn

    import inspect

    nargs = len(inspect.signature(fn).parameters)

    def _run(args):
        from ..core import covertree as _ct

        start = _ct.DIST_COMPS
        t0 = time.time()
        try:
            return fn(*args)
        finally:
            meters.dist.add(_ct.DIST_COMPS - start)
            meters.udf_s.add(time.time() - t0)

    if nargs == 2:
        def wrapped(left, right):
            return _run((left, right))
    elif nargs == 3:
        def wrapped(key, left, right):
            return _run((key, left, right))
    else:
        def wrapped(pdf):
            return _run((pdf,))
    return wrapped


def driver_snapshot() -> int:
    from ..core import covertree as _ct

    return _ct.DIST_COMPS


def driver_delta(snapshot: int) -> int:
    from ..core import covertree as _ct

    return _ct.DIST_COMPS - snapshot
