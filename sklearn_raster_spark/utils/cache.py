"""Bounded pool of persisted "shared lineage" DataFrames.

Several query builders persist an intermediate whose lineage feeds two
or more downstream consumers (self-join sides, a verify pass): without
the persist the expensive scan+transform recomputes per consumer (the
round-2 persist-before-self-join finding, ROUND2_NOTES.md). But a bare
``df.persist()`` inside a builder leaks: Spark's CacheManager keys the
entry on the logical plan, so every fresh invocation of the builder
(pytest loops, the driver's 50-query correctness gate, q104 re-invoking
q51) adds another session-lifetime cached copy (round-3 ADVICE.md).

``shared_lineage`` keeps the perf win while bounding the leak: persisted
frames enter a small FIFO pool and registering past the bound evicts and
unpersists the oldest. Queries run sequentially (bench, driver, pytest),
so a builder's own caches are never evicted while its action is in
flight; even if an eviction ever raced an action, unpersist only drops
blocks — the consumer recomputes from lineage, correctness unaffected.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
from collections import deque

from pyspark.sql import DataFrame

_POOL: deque[DataFrame] = deque()
_MAX_TRACKED = 4


def shared_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` for multi-consumer reuse, tracked for bounded
    eviction. ``eager=True`` materializes immediately (count) so a
    following self-join reads a fully-built cache instead of racing
    per-partition block writes."""
    df.persist()
    if eager:
        df.count()
    _POOL.append(df)
    while len(_POOL) > _MAX_TRACKED:
        old = _POOL.popleft()
        try:
            old.unpersist()
        except Exception:
            pass
    return df


def release_shared_caches() -> None:
    """Unpersist every tracked frame (bench/test hygiene hook)."""
    while _POOL:
        df = _POOL.pop()
        try:
            df.unpersist()
        except Exception:
            pass


# ---------------------------------------------------------------------
# Source-fingerprinted derived fixtures.
#
# Several operators materialize a one-time derived copy of a testdata
# table on disk (CSV/JSON/ORC twins, the partitioned-orders sink,
# raster band files, binary payload and media files, connector shards,
# the events stream directory). A bare "marker exists" gate silently
# serves STALE derived files if the parquet at the same sf_dir path is
# ever regenerated — the query then reads the old data while its DuckDB
# oracle reads the new, turning every such grade into a false mismatch.
# ``derived_fixture`` is the one place that decides where a fixture
# lives and when it is stale: the marker stores a fingerprint (size +
# mtime of every source part file) and any change rebuilds the fixture.


def source_fingerprint(src_path: str) -> str:
    """Content fingerprint (size + mtime per part file) of a parquet
    source — a file or a directory of part files. Fails fast on an
    empty part list: md5("") would disable staleness detection
    permanently."""
    parts = (
        sorted(glob.glob(os.path.join(src_path, "*.parquet")))
        if os.path.isdir(src_path)
        else [src_path]
    )
    if not parts or not all(os.path.exists(p) for p in parts):
        raise FileNotFoundError(
            f"no parquet part files found under {src_path!r}; cannot "
            "fingerprint the source for a materializer cache"
        )
    stamp = ";".join(
        # nanosecond mtime: whole-second truncation made a regenerated
        # fixture with identical part sizes written within the same
        # second fingerprint-identical — exactly the rapid-regeneration
        # case the guard exists for (round-7 ADVICE)
        f"{os.path.basename(p)}:{os.path.getsize(p)}:{os.stat(p).st_mtime_ns}"
        for p in parts
    )
    return hashlib.md5(stamp.encode()).hexdigest()


def derived_fixture(spark, sf_dir: str, table: str, name: str, build, version: str = "") -> str:
    """Path of the derived fixture ``name`` cut from ``table`` of
    ``sf_dir``, rebuilt by ``build(path)`` whenever the source's
    fingerprint (plus ``version``, which a builder bumps when its own
    output changes) differs from the one recorded at the last build.

    The fixture lives at ``<base>/<sf_dir basename>/<name>``, where
    ``base`` is ``$SPARK_GRAFT_MEDIA_DIR`` (shared storage visible to
    the driver and every executor) or, on a local master only, a
    driver-local temp dir. A rebuild clears the directory first and
    writes the marker last, so an interrupted build is never served.
    The package ships to executors on every call: fixture writers and
    the queries' own kernels both import it there."""
    from sklearn_raster_spark.session import ensure_workers_can_import
    from sklearn_raster_spark.sources import table_path

    base = os.environ.get("SPARK_GRAFT_MEDIA_DIR")
    if base is None:
        master = spark.sparkContext.master
        if not master.startswith("local"):
            raise NotImplementedError(
                f"derived fixture {name!r} defaults to a driver-local "
                f"tempdir; on master={master!r} set SPARK_GRAFT_MEDIA_DIR "
                "to a shared-storage path visible to all executors"
            )
        base = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    ensure_workers_can_import(spark)
    path = os.path.join(base, os.path.basename(os.path.normpath(sf_dir)), name)
    marker = os.path.join(path, "_SRC_FINGERPRINT")
    fingerprint = source_fingerprint(table_path(sf_dir, table)) + version
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fingerprint:
                return path
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    build(path)
    with open(marker, "w") as f:
        f.write(fingerprint)
    return path
