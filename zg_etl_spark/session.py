"""SparkSession factory.

Defaults are written for correctness tests on ``local[N]`` but chosen so the
same plan shapes survive a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — at 100 TB the static plan is always wrong
  somewhere; AQE is the difference.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden (or left to AQE's coalescing with a high
  initial value).
- session timezone pinned to UTC so results are comparable to the
  DuckDB oracle (naive-UTC timestamps).
- Arrow enabled: every Pandas-UDF operator in this repo moves data in
  Arrow batches, never row-at-a-time.
- codegen cache sized to the working set (``CODEGEN_CACHE_ENTRIES``):
  every generated class compiles once per session, the way a long-lived
  job's operators compile once and then process every batch. Spark's
  default of 100 entries is smaller than one ingest op's working set,
  so the LRU evicted each class before its reuse.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of Spark's generated-class cache (static conf
# spark.sql.codegen.cache.maxEntries, default 100). Each op walks the same
# classes in the same order, so an LRU smaller than the working set evicts
# every class just before it is reused and every op recompiles all of
# them. Working set measured at sf0.001 (local[4]): the spine + p8 build
# compiles 153 distinct classes, and one pass over the 130 non-streaming
# read queries 1,354; with 100 entries a warm ingest op recompiled ~190
# and a warm dashboard pass ~150. 4096 holds the whole suite with
# headroom. The count follows the number of distinct plans in this code,
# not the host, so it is one constant rather than a tuned setting.
CODEGEN_CACHE_ENTRIES = 4096


def session_key(spark: SparkSession) -> str:
    """Stable per-session memo key. ``id(spark)`` is unsafe for this: a
    GC'd session's id can be reused by a NEW session, which would then
    inherit the dead session's memoized views/paths. applicationId is
    unique per SparkContext lifetime."""
    return spark.sparkContext.applicationId


# The session's materialization registry: every derived set a query
# shares (spine stages, derived-set indexes, keyed slices, stream-source
# dirs) is built once per (session, sf_dir, name), the way the
# reference's Dw/Id stages persist each stage's output once for every
# consumer. (session, sf_dir, name) -> (value, cleanup).
_ENTRIES: dict[tuple[str, str | None, str], tuple[Any, Callable | None]] = {}
_LOCK = threading.Lock()


def materialize(
    spark: SparkSession,
    sf_dir: str | None,
    name: str,
    build: Callable[[], Any],
    cleanup: Callable[[Any], None] | None = None,
) -> Any:
    """Return the entry ``name`` of ``sf_dir`` in this session, running
    ``build()`` the first time it is asked for.

    A DataFrame is localCheckpointed and registered as temp view ``name``:
    lineage is cut, so every later reference (CTE or not) scans the
    materialized partitions instead of re-deriving them. Any other value
    is kept as returned. ``cleanup(value)`` runs when the entry is
    released and at process exit.

    One live sf_dir per session: asking for a different sf_dir releases
    every entry of the old one (temp view dropped, references dropped so
    the ContextCleaner frees the blocks, cleanup run). Entries with
    ``sf_dir=None`` do not depend on the data and are never released this
    way. Temp-view names are global per session, so this policy is what
    keeps a view from ever pointing at another sf_dir's data."""
    app = session_key(spark)
    key = (app, sf_dir, name)
    with _LOCK:
        if key in _ENTRIES:
            return _ENTRIES[key][0]
        stale = [k for k in _ENTRIES if sf_dir is not None
                 and k[0] == app and k[1] not in (None, sf_dir)]
        for k in stale:
            value, drop = _ENTRIES.pop(k)
            if isinstance(value, DataFrame):
                spark.catalog.dropTempView(k[2])
            if drop is not None:
                drop(value)
    # built outside the lock: a build may ask for the entries it reads,
    # and independent builds may run on concurrent threads
    value = build()
    if isinstance(value, DataFrame):
        value = value.localCheckpoint(eager=True)
        value.createOrReplaceTempView(name)
    with _LOCK:
        if not _ENTRIES:
            # (re-)registered once the session is up, so it runs before
            # the JVM gateway's own exit hook
            atexit.unregister(_release_all)
            atexit.register(_release_all)
        _ENTRIES[key] = (value, cleanup)
    return value


def entries(spark: SparkSession, sf_dir: str | None) -> dict[str, Any]:
    """The live entries of ``sf_dir`` in this session (name -> value)."""
    app = session_key(spark)
    with _LOCK:
        return {k[2]: v[0] for k, v in _ENTRIES.items()
                if k[0] == app and k[1] == sf_dir}


def _release_all() -> None:
    while _ENTRIES:
        value, drop = _ENTRIES.popitem()[1]
        if drop is not None:
            with contextlib.suppress(Exception):
                drop(value)


def get_spark(
    app_name: str = "zg_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session. Safe to call repeatedly."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g, not bigger: the suite fits comfortably, and an oversized heap
        # makes G1 pauses longer and rarer-but-huger — measured 71s -> 49s
        # suite wall at sf0.1 going 48g -> 16g (pauses randomly inflated
        # queries that run right after allocation-heavy ones)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
