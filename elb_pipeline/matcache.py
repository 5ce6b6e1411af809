"""Write-once parquet caching for expensive intermediates.

Every materialized intermediate goes through one step, ``write_once``:
if the directory holds a ``_SUCCESS`` marker nothing is built; otherwise
the frame is built, written to a private ``<path>.tmp.<pid>`` and
renamed into place atomically, so concurrent first runs never observe a
half-written directory and the loser of the rename race drops its copy.
``cached(spark, key, params, build)`` applies that step under the cache
root and returns the parquet read-back. ``build`` is a zero-argument
callable, so an EAGER builder (a driver-side fixpoint loop like
dedup.dup_groups) runs nothing on a hit, and a lazy one is not even
planned. A miss also deletes the key's entries under other params
tokens: they were built by a previous version of the logic and no
current caller can reach them.

This is the 100-TB shape for reused intermediates: a signature/sketch
table is computed ONCE, written as a real table, and every downstream
join reads the parquet — no lingering ``.persist()`` state in a
long-lived session (Spark's in-memory columnar cache also measured
pathological on long text columns; see BENCH/BASELINE.md).

``dir_fingerprint`` keys caches on the INPUT's identity (file names +
sizes + mtimes), so regenerated test data at the same path can never
serve a stale cache.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

# Bump when the on-disk layout/meaning of cached frames changes in a way
# not captured by callers' params tuples.
MATCACHE_FORMAT_VERSION = "2"


def _cache_root() -> str:
    """Resolved per call so a harness can point ELB_MAT_CACHE at a fresh
    directory mid-process (bench.py does, to time queries cold). The
    default is per-user: a world-shared /tmp path would let one user's
    cache (or a planted directory) be served to another."""
    return os.environ.get("ELB_MAT_CACHE", f"/tmp/elb_mat_cache_{os.getuid()}")


def params_token(params: tuple) -> str:
    """Digest of the algorithm parameters/code a cached frame depends on.
    Folded into every cache key so changing a constant (band count,
    Jaccard threshold, …) or a kernel's source can never serve stale
    parquet from the previous version of the logic — the input-files
    fingerprint alone only protects against changed DATA, not changed
    CODE."""
    h = hashlib.md5(MATCACHE_FORMAT_VERSION.encode())
    for p in params:
        h.update(repr(p).encode())
    return h.hexdigest()[:10]


def dir_fingerprint(path: str) -> str:
    """md5 over (basename, size, mtime_ns) of a parquet file/directory."""
    h = hashlib.md5()
    entries = (
        [path]
        if os.path.isfile(path)
        else sorted(os.path.join(path, f) for f in os.listdir(path))
    )
    for f in entries:
        st = os.stat(f)
        h.update(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def cache_path(key: str, params: tuple) -> str:
    """Cache directory a (key, params) pair materializes to."""
    return os.path.join(_cache_root(), f"{key}-v{params_token(params)}")


def write_once(path: str, build: Callable[[], DataFrame]) -> str:
    """Write ``build()`` as parquet at ``path`` unless a complete copy is
    already there, and return ``path``. ``build`` runs only on a miss."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # lost the race — the winner's copy is complete
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def cached(spark, key: str, params: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """The frame ``build()`` returns, written once under ``key`` and read
    back from parquet. ``params`` is the tuple of algorithm constants /
    kernel source the frame's contents depend on — it is hashed into the
    directory name, so a logic change always misses the old cache instead
    of silently reusing it, and that miss deletes the old entry."""
    path = cache_path(key, params)
    stale = re.compile(re.escape(key) + r"-v[0-9a-f]{10}")

    def build_fresh() -> DataFrame:
        root = os.path.dirname(path)
        for name in os.listdir(root):
            if stale.fullmatch(name) and name != os.path.basename(path):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        return build()

    return spark.read.parquet(write_once(path, build_fresh))
