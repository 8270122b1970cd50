"""Shuffle-free ID assignment — the 100 TB identity path.

The oracle profile assigns IDs with dense_rank over first-seen order
(operators/domain.py did_ids) — reproducible, but it sorts per app: at
100 TB the per-app window becomes the bottleneck (a single sorted
partition per hot app). The scale profile replaces it with
xxhash64(namespace, app_id, key): map-side only, no shuffle, no state,
stable across runs and across batches (a device hashes to the same ID in
every batch, so no mapping store is needed at all — the reference needed
KVRocks precisely because its Snowflake IDs were assignment-order-
dependent, SnowflakeIdGenerator.java:21-90, OneIdService.java:337-358).

Trade-off: IDs are sparse 64-bit values, not dense sequences; collision
probability for N entities ≈ N²/2⁶⁵ (at 10⁹ devices: ~3%·10⁻²... i.e.
~0.03 expected collisions — and a collision merges two devices' analytics,
the same blast radius the reference accepts for Snowflake clock rollback).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

NS_DEVICE = "zg:did"
NS_USER = "zg:cuid"


def hash_id(namespace: str, *cols: str | Column) -> Column:
    return F.xxhash64(F.lit(namespace), *cols)


def with_hash_device_ids(df: DataFrame, app_col: str = "app_id",
                         did_col: str = "did") -> DataFrame:
    # NULL did stays NULL — without the guard Spark's xxhash64 SKIPS null
    # inputs, hashing every null-did row to one per-app constant (a silent
    # device merge, and countDistinct(zg_did) would exceed
    # countDistinct(did) by one). Mirrors the cuid guard below.
    return df.withColumn(
        "zg_did",
        F.when(F.col(did_col).isNotNull(),
               hash_id(NS_DEVICE, app_col, did_col)),
    )


def with_hash_user_ids(df: DataFrame, app_col: str = "app_id",
                       cuid_col: str = "cuid") -> DataFrame:
    return df.withColumn(
        "zg_uid",
        F.when(F.col(cuid_col).isNotNull(),
               hash_id(NS_USER, app_col, cuid_col)),
    )
