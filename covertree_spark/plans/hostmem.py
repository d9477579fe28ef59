"""Host memory hygiene: keep large numpy buffers on the heap, reused.

glibc malloc serves allocations above ``M_MMAP_THRESHOLD`` (default
128 KiB) with a private ``mmap`` and returns them to the OS on free.
Every metric kernel in this engine works on numpy blocks far above that
threshold, so under default tunables each temporary pays first-touch
page faults on every single operation. On bare metal that cost is
~microseconds; on virtualized multi-tenant hosts (this sandbox, cloud
executors under memory ballooning) first-touch faults can throttle to
MB/s, turning an 0.03 s vectorized op into a 30 s one while CPU sits
idle. The engine's kernels are allocate-once/stream-many, so the right
policy everywhere is: never mmap large blocks, never trim the heap —
the first allocation pays once, every later temporary reuses hot pages.

Two application points:

* ``apply_malloc_reuse()`` — ctypes ``mallopt`` for the CURRENT
  process (env tunables are only read at exec time, so an
  already-running driver/test process needs the syscall form).
* the env vars set in ``session.get_spark`` — for processes we
  fork+exec (the JVM, and through it every Python worker), which read the
  tunables at startup and get heap reuse from their first allocation.

Opt out with ``COVERTREE_NO_MALLOC_TUNE=1`` (e.g. on memory-tight
hosts where returning freed buffers to the OS matters more than fault
latency). Non-glibc platforms are a silent no-op.
"""

from __future__ import annotations

import ctypes
import os

_M_TRIM_THRESHOLD = -1
_M_MMAP_MAX = -4

_ENV = {
    # never serve malloc from mmap -> big numpy temporaries live on the
    # brk heap and recycle across operations
    "MALLOC_MMAP_MAX_": "0",
    # never give heap pages back to the OS -> no re-fault on reuse
    "MALLOC_TRIM_THRESHOLD_": "-1",
}

_applied = False


def apply_malloc_reuse() -> bool:
    """Apply heap-reuse malloc tunables to THIS process (mallopt) and
    export them for every child (env). Idempotent. Returns True when
    the mallopt calls took effect."""
    global _applied
    if os.environ.get("COVERTREE_NO_MALLOC_TUNE") == "1":
        return False
    for k, v in _ENV.items():
        os.environ.setdefault(k, v)
    if _applied:
        return True
    try:
        libc = ctypes.CDLL(None)
        ok = libc.mallopt(_M_MMAP_MAX, 0)
        ok &= libc.mallopt(_M_TRIM_THRESHOLD, 2**31 - 1)
        _applied = bool(ok)
    except (OSError, AttributeError):  # musl/macOS: no mallopt
        _applied = False
    return _applied
