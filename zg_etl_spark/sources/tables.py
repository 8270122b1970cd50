"""Parquet table loaders for the driver testdata star schema.

The reference consumes Kafka topics (main/GateJob.java:95-109); in this
engine the batch source is columnar parquet and the streaming source is
``readStream`` (see zg_etl_spark.streaming). Loading stays declarative so
Catalyst keeps predicate pushdown + column pruning into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Confs the engine's RESULTS depend on, set defensively at query time:
    the driver harness constructs its own SparkSession, so correctness
    cannot ride on zg_etl_spark.session defaults.

    - session timezone UTC: every date_format/CAST-to-DATE bucket and
      timestamp-literal comparison must agree with the DuckDB oracle's
      naive-UTC timestamps;
    - parquet nanos-as-long: older driver testdata stored events.ts as
      TIMESTAMP(NANOS); harmless no-op on µs data / newer Spark;
    - shuffle partitions: lowered from the 200 default only (never
      overriding a deliberate setting) — at oracle scale 200-partition
      shuffles are pure task-launch overhead.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def table_bytes(path: str) -> int:
    """Bytes of a parquet table: the file itself, or the summed part files
    of a directory layout (hidden ``_``/``.`` files such as _SUCCESS and
    .crc excluded). The size of a directory entry is its inode, not its
    data, so it cannot stand in for the table."""
    if not os.path.isdir(path):
        return os.path.getsize(path) if os.path.exists(path) else 0
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


# bytes of source per task for the per-row pipelines that read the
# single-file testdata tables: sized for EXPRESSION work (the spine's ~50
# derived columns per event, md5-per-shingle minhash, array folds), not
# scan bytes — small enough that a single-file table parallelizes the
# CPU-heavy stages, large enough that task scheduling doesn't dominate.
# Interleaved A/Bs at sf0.1: gated checkpoint 2.9 s at 1 partition, 0.9 s
# at 8, 0.65 s at 32; minhash build 2.8/0.85/0.94 s at 2 partitions vs
# 0.52/0.45/0.45 at 8.
FAN_OUT_BYTES = 64 * 1024


def fan_out(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table, repartitioned to ~FAN_OUT_BYTES of source per task,
    capped at the core count. A no-op when the native splits already
    reach that count (at 100 TB the source is many files and this never
    fires)."""
    df = load_table(spark, sf_dir, name)
    size = table_bytes(os.path.join(sf_dir, f"{name}.parquet"))
    want = max(1, min(spark.sparkContext.defaultParallelism,
                      -(-size // FAN_OUT_BYTES)))
    return df.repartition(want) if df.rdd.getNumPartitions() < want else df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Pin the engine-internal contract events.ts = epoch-NANOS BIGINT.

    The driver testdata has shipped both TIMESTAMP(NANOS) (read as a nanos
    BIGINT under nanosAsLong) and timestamp[us] (read as TIMESTAMP_NTZ —
    Spark ≥4.1 ignores nanosAsLong for µs data). Every downstream stage
    derives `ct` as `ts DIV 1_000_000`, so convert the NTZ reading to
    nanos here. Map-side column arithmetic — no shuffle, stays inside
    whole-stage codegen; the µs→ns widening is exact (int64 covers ±292y).
    Session TZ is pinned UTC so the NTZ→TIMESTAMP cast is identity.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt in ("timestamp_ntz", "timestamp"):
        df = df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
    return df
