"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-at-scale defaults: AQE on (runtime re-plan +
skew-join splitting), Arrow transfer for all pandas UDF boundaries,
explicit shuffle-partition sizing. Tests and bench override
parallelism via ``local[N]``.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the covertree_spark package for worker distribution — the
    same artifact ``spark-submit --py-files`` would ship (north_rule
    deployment mode). Written to a temp file and renamed into place, so
    a session starting concurrently in the same TMPDIR never ships a
    half-written archive."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "covertree_spark_pyfiles.zip")
    fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=os.path.dirname(out))
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as z:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for f in filenames:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    os.replace(tmp, out)
    return out


# ---- persisted-intermediate registry (caching contract) --------------------
# Operators persist transient intermediates (candidate sets, input re-scans)
# because several downstream jobs consume them. A long-lived session running
# many queries (the catalog gate, the benchmark) would otherwise accumulate cached
# blocks until storage eviction (ADVICE round 1). Operators register such
# DataFrames here; callers release them once the query's result is
# materialized. Inputs the CALLER persisted (e.g. the catalog's
# prepared-points cache) are never registered, so they survive release.
#
# TWO GRANULARITIES (round-3 VERDICT #6):
#   * ReleaseScope — the per-query handle. Build a query inside
#     ``with ReleaseScope() as rs:``; every intermediate the operators
#     persist during that build registers with THAT scope. Call
#     ``rs.release()`` after materializing the result. Interleaved
#     queries are safe: each build's persists live in its own scope,
#     so releasing query A never drops a persist query B still reads
#     (under AQE a dropped multi-consumer persist re-executes its
#     kernels per consumer — dist_comps doubling is the signal).
#   * release_intermediates() — the legacy global sweep, correct for
#     the one-query-in-flight pattern. Registrations made outside any
#     active scope land in the global registry it drains.
_RELEASABLE: list = []
_SCOPE_STACK: list = []


class ReleaseScope:
    """Collects the intermediates operators persist while the scope is
    active (plan BUILD time — operators persist eagerly during query
    construction); ``release()`` unpersists exactly those. Reentrant:
    nested scopes collect into the innermost."""

    def __init__(self):
        self._dfs: list = []

    def __enter__(self) -> "ReleaseScope":
        _SCOPE_STACK.append(self)
        return self

    def __exit__(self, *exc) -> bool:
        _SCOPE_STACK.remove(self)
        return False

    def release(self) -> int:
        """Unpersist this scope's intermediates. Call AFTER the query
        result is materialized (never before: the plan would
        recompute). Returns the number released."""
        n = len(self._dfs)
        for df in self._dfs:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        self._dfs.clear()
        return n


def mark_releasable(df):
    if _SCOPE_STACK:
        _SCOPE_STACK[-1]._dfs.append(df)
    else:
        _RELEASABLE.append(df)
    return df


def release_intermediates() -> int:
    """Unpersist every GLOBALLY-registered operator intermediate (see
    the registry contract above; per-query callers use ReleaseScope).
    Call after the query result is materialized. Returns the number
    released."""
    n = len(_RELEASABLE)
    for df in _RELEASABLE:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    _RELEASABLE.clear()
    return n


def get_spark(
    app_name: str = "covertree_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    # Worker-process memory hygiene, inherited via the JVM child env:
    #  - glibc: never mmap/munmap large numpy buffers (first-touch page
    #    faults are pathologically slow on this hardware; keep the heap
    #    and reuse it across tasks)
    #  - BLAS: one thread per worker (local[N] already saturates cores)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("MKL_NUM_THREADS", "1")
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bucketed snapshot scans must ALWAYS expose their
        # hashpartitioning (the resume-without-shuffle contract,
        # plans/checkpoint.py): autoBucketedScan would let a first
        # cache-materializing count() plan a bucket-blind scan and
        # freeze UnknownPartitioning into the persisted layout
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(_package_zip())
    return spark
