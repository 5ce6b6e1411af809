"""Write-once parquet caching for expensive intermediates.

Every materialized intermediate goes through one step, ``write_once``:
if the directory holds a ``_SUCCESS`` marker nothing is built; otherwise
the frame is built, written to a private ``<path>.tmp.<pid>`` and
renamed into place atomically, so concurrent first runs never observe a
half-written directory and the loser of the rename race drops its copy.
``cached(spark, key, params, build)`` applies that step under the cache
root and returns the parquet read-back, whose schema comes from a part
file's footer, so a hit runs no Spark job. ``build`` is a zero-argument
callable, so an EAGER builder (a driver-side fixpoint loop like
dedup.dup_groups) runs nothing on a hit, and a lazy one is not even
planned. Every call also deletes the key's entries under other params
tokens, on a hit as well as a miss: they were built by a previous
version of the logic and no current caller can reach them.

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
import json
import os
import re
import shutil
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

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


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_back(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from one part
    file's footer, where Spark's writer stores it: an inferred schema costs
    a Spark job per read. Every cached write leaves at least one part file,
    an empty frame's included."""
    part = min(f for f in os.listdir(path) if f.startswith("part-"))
    meta = pq.read_schema(os.path.join(path, part)).metadata
    schema = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def cached(spark, key: str, params: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """The frame ``build()`` returns, written once under ``key`` and read
    back from parquet. ``params`` is the tuple of algorithm constants /
    kernel source the frame's contents depend on — it is hashed into the
    directory name, so a logic change always misses the old cache instead
    of silently reusing it. Every call, hit or miss, deletes the key's
    entries under other tokens (one directory listing)."""
    path = cache_path(key, params)
    root, current = os.path.split(path)
    stale = re.compile(re.escape(key) + r"-v[0-9a-f]{10}")
    for name in os.listdir(root) if os.path.isdir(root) else ():
        if stale.fullmatch(name) and name != current:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return _read_back(spark, write_once(path, build))
