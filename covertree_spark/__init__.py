"""covertree_spark — a PySpark-native spatial-join + tiling engine.

From-scratch reimplementation of the query capabilities of
gabe-raulet/CoverTree (epsilon-ball self-join over metric point sets,
cover-tree indexing) re-expressed Spark-first: DataFrames end-to-end,
vectorized pandas/Arrow UDFs for the metric kernels, explicit cell-keyed
shuffles, plus the BASELINE-mandated extensions (exact kNN,
point-in-polygon, raster tiles, dedup/similarity/text ops).
"""

__version__ = "0.1.0"

# Large-block heap reuse for every process that touches the engine's
# numpy kernels — see plans/hostmem.py for why default glibc mmap
# behavior is pathological on virtualized hosts. Safe no-op elsewhere;
# opt out with COVERTREE_NO_MALLOC_TUNE=1.
from covertree_spark.plans.hostmem import apply_malloc_reuse as _amr
# No zip-directory re-read per Python task (plans/zipcache.py).
from covertree_spark.plans.zipcache import apply_zip_directory_reuse as _azr

_amr()
_azr()
del _amr, _azr
