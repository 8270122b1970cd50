"""Table writers — the Doris-sink role re-expressed as partitioned parquet.

The reference stream-loads into per-app Doris tables with UNIQUE KEY
merge-on-write upsert and RANGE(begin_day_id) week partitions
(common/sink/DorisSinkFactory.java:33-206, resources/sql/schema.sql:96-398).
Spark mapping (SURVEY.md §1.3): ONE table per kind with an `app_id`
partition column (not 10k per-app tables), `partitionBy` for pruning, and
UNIQUE KEY upsert as keep-latest row_number dedup + merge with the existing
table (Delta MERGE stand-in; this module stays parquet-only so it runs
anywhere).

Scale notes: dynamic partition overwrite touches only the partitions
present in the incoming batch — at 100 TB an upsert rewrites days, not the
table. The keep-latest dedup shuffles on the unique key once; with AQE the
skewed-app partitions split automatically.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import urllib.parse

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

NULL_TOKEN = r"\N"  # Doris stream-load null literal (EventAttrRow.java:49)
STREAM_LOAD_SEP = "\t"  # the Doris stream-load column separator default

# Up to this many touched partition tuples the existing-side restriction is
# a literal predicate (static partition pruning at the scan); beyond it a
# broadcast semi join (10k apps × 7 days would otherwise be a 70k-term
# OR-chain Catalyst must fold before planning even starts).
_PREDICATE_PARTITION_LIMIT = 64


def _delete_flag(delete_col: str):
    """Doris delete-sign truth test (__DORIS_DELETE_SIGN__,
    EventAttrRow.java:51-53): 1/true marks the row as a delete of its
    UNIQUE KEY. Existing table rows never carry the column (it is dropped
    before write), so NULL coalesces to keep."""
    return F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))


def _restrict_to_touched(
    spark: SparkSession,
    existing: DataFrame,
    partition_cols: list[str],
    touched: list,
) -> DataFrame:
    """Restrict the existing table to the partitions the incoming batch
    touches. eqNullSafe in BOTH forms: a NULL partition value must still
    select its existing rows (plain == yields NULL → the null partition
    would be overwritten with only the incoming rows, silently dropping
    other keys there)."""
    if not touched:
        return existing.limit(0)
    if len(touched) <= _PREDICATE_PARTITION_LIMIT:
        pred = None
        for row in touched:
            t = None
            for c in partition_cols:
                eq = F.col(c).eqNullSafe(F.lit(row[c]))
                t = eq if t is None else (t & eq)
            pred = t if pred is None else (pred | t)
        return existing.filter(pred)
    # many partitions: broadcast LEFT SEMI join — O(tuples) to plan, and
    # the scan still prunes through dynamic partition pruning
    tdf = spark.createDataFrame(touched, existing.select(*partition_cols).schema)
    cond = None
    for c in partition_cols:
        eq = existing[c].eqNullSafe(tdf[c])
        cond = eq if cond is None else (cond & eq)
    return existing.join(F.broadcast(tdf), cond, "left_semi")


def keep_latest(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """UNIQUE KEY merge-on-write semantics: one row per key, highest
    order_col wins (deterministic — the reference relies on arrival order,
    which batch mode replaces with the seq column)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic: bool = True,
) -> None:
    """Partitioned overwrite, by default with dynamic partition overwrite
    (only partitions present in df are replaced — the RANGE-partition
    analog). The mode is a write option, so the session's
    ``spark.sql.sources.partitionOverwriteMode`` is never touched."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic" if dynamic else "static"
    ).partitionBy(*partition_cols).parquet(path)


def upsert_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    partition_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> None:
    """Merge-on-write upsert into a parquet table: union with existing,
    keep-latest per key, write back. On Delta this is MERGE INTO; the
    logical contract (last writer per UNIQUE KEY wins) is identical
    (DorisSinkFactory.java:60,96,137 partial-update mode).

    Partitioned tables are upserted PARTITION-SCOPED: only the partitions
    the incoming batch touches are read, merged, and dynamically
    overwritten — at 100 TB a daily batch rewrites its days, never the
    table. Contract (same as Doris RANGE partitioning): ``partition_cols``
    must be functionally dependent on ``keys`` (begin_day_id / app_id are
    part of the UNIQUE KEY), so a key's existing row always lives in a
    partition the incoming batch touches.

    ``delete_col`` names a boolean/int delete-sign column on ``df``
    (__DORIS_DELETE_SIGN__, EventAttrRow.java:51-53): when the LATEST row
    for a key carries the sign, the key is removed from the table — exactly
    Doris merge-on-write delete, decided by the same keep-latest ordering
    as updates (a later re-insert resurrects the key; an older stale update
    never does). The sign column itself is never written.
    """
    incoming = df
    touched = None
    if os.path.exists(path):
        # materialize once: the touched-partition collect below and the
        # merge both consume df — without this the whole upstream plan
        # (often an expensive pipeline projection) executes twice
        df = df.localCheckpoint(eager=True)
        existing = spark.read.parquet(path)
        if partition_cols:
            # bounded collect: distinct (day, app) tuples, not data rows
            touched = df.select(*partition_cols).distinct().collect()
            existing = _restrict_to_touched(spark, existing, partition_cols, touched)
        incoming = existing.unionByName(df, allowMissingColumns=True)
    merged = keep_latest(incoming, keys, order_col)
    if delete_col is not None:
        merged = merged.filter(~_delete_flag(delete_col)).drop(delete_col)
    if partition_cols:
        _commit_touched_partitions(spark, merged, path, partition_cols, touched)
    else:
        # staged write + swap: computing merged ONCE (its plan reads
        # `existing` from `path`, so a direct overwrite would need an
        # eager localCheckpoint first — a full extra pass)
        _swap_unpartitioned(merged, path)
    spark.catalog.refreshByPath(path)


def _staged_partition_dirs(staging: str, partition_cols: list[str]) -> list[str]:
    """Relative ``c1=v1[/c2=v2...]`` paths of every partition directory the
    staged write produced (depth = number of partition columns)."""
    out: list[str] = []

    def walk(rel: str, depth: int) -> None:
        if depth == len(partition_cols):
            out.append(rel)
            return
        prefix = f"{partition_cols[depth]}="
        for e in os.listdir(os.path.join(staging, rel) if rel else staging):
            if e.startswith(prefix):
                walk(os.path.join(rel, e) if rel else e, depth + 1)

    walk("", 0)
    return out


def _commit_touched_partitions(
    spark: SparkSession,
    merged: DataFrame,
    path: str,
    partition_cols: list[str],
    touched: list | None,
) -> None:
    """One-pass partition-scoped commit: write ``merged`` partitioned into
    a STAGING directory next to ``path``, then swap each staged partition
    directory into place and drop touched-but-emptied partitions.

    Replaces eager-localCheckpoint + dynamic partition overwrite +
    collect-remaining (three passes over the merge output: materialize,
    re-write, re-aggregate). The staging dir breaks the read-while-
    overwrite cycle the checkpoint existed for (``merged``'s plan reads
    ``existing`` from ``path``; the write targets a sibling), the rename
    commit is exactly the write-new-files-then-swap protocol table
    formats use, and the emptied-partition set falls out of a free
    ``os.listdir`` diff against ``touched`` (dynamic overwrite never
    rewrites a partition absent from its output, so a delete that empties
    a touched partition must drop the stale directory explicitly — the
    compaction Doris does on merge). Untouched partitions keep their
    files byte-identical."""
    # Writer parallelism for MANY-partition batches (the 10k-apps × 7-days
    # deployment shape): AQE coalesces the merge's post-shuffle output by
    # BYTES, so a small batch touching thousands of partition dirs lands in
    # one task that opens thousands of parquet writers serially (~15 ms
    # each — measured 18 s for 1k dirs vs 2.4 s parallel). Hash-distribute
    # by the partition columns across the session's cores: every dir is
    # written by exactly one task (one well-sized file per partition — the
    # write.distribution-mode=hash layout, guide §6) and writer opens run
    # in parallel. Below-cores batches keep the merge partitioning: each
    # task writes a few files per dir in parallel, and forcing one task
    # per partition there would serialize a big day's write instead.
    par = spark.sparkContext.defaultParallelism
    if touched is not None and len(touched) >= par:
        merged = merged.repartition(par, *[F.col(c) for c in partition_cols])
    with _staging_dir(path) as staging:
        write_partitioned(merged, staging, partition_cols, dynamic=False)
        staged = _staged_partition_dirs(staging, partition_cols)
        _clear_empty_placeholder(path, partition_cols)
        os.makedirs(path, exist_ok=True)
        for rel in staged:
            dst = os.path.join(path, rel)
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(staging, rel), dst)
        staged_set = set(staged)
        for row in touched or []:
            rel = "/".join(
                f"{c}={_partition_dir_value(row[c])}" for c in partition_cols
            )
            if rel not in staged_set:
                shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        _ensure_readable(path, partition_cols, merged)


def _staging_dir(path: str) -> tempfile.TemporaryDirectory:
    """A scratch sibling of ``path`` (same filesystem, so the commit's
    ``os.replace`` is a rename), removed when the ``with`` exits."""
    return tempfile.TemporaryDirectory(
        prefix="_zg_stage_", dir=os.path.dirname(path), ignore_cleanup_errors=True
    )


def _swap_unpartitioned(merged: DataFrame, path: str) -> None:
    """Unpartitioned variant of the staged commit: write once to a sibling
    staging dir, swap the whole table directory."""
    with _staging_dir(path) as staging:
        out = os.path.join(staging, "t")
        merged.write.parquet(out)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(out, path)


def _has_partition_dirs(path: str, partition_cols: list[str]) -> bool:
    prefix = f"{partition_cols[0]}="
    return os.path.isdir(path) and any(
        e.startswith(prefix) for e in os.listdir(path)
    )


def _clear_empty_placeholder(path: str, partition_cols: list[str]) -> None:
    """Before a partitioned write into an existing directory: if the
    table is the zero-row placeholder (root part files, no partition
    dirs — see _ensure_readable), remove it so stale root-level files
    can't shadow the partitioned layout being written."""
    if os.path.isdir(path) and not _has_partition_dirs(path, partition_cols):
        shutil.rmtree(path, ignore_errors=True)


def _ensure_readable(path: str, partition_cols: list[str], schema_df: DataFrame) -> None:
    """An emptied Doris table still has its schema; an emptied partitioned
    parquet directory does NOT — a delete sweep that drops the last
    partition (or an empty batch over an already-empty table) leaves a
    husk the next read fails on with UNABLE_TO_INFER_SCHEMA. Install a
    zero-row NON-partitioned placeholder carrying the full schema
    (partition columns as ordinary columns); the next upsert's
    existing-side read and union consume it transparently, and
    _clear_empty_placeholder removes it before the next real write."""
    if _has_partition_dirs(path, partition_cols):
        return
    shutil.rmtree(path, ignore_errors=True)
    schema_df.limit(0).write.mode("overwrite").parquet(path)


def _partition_dir_value(v) -> str:
    """Directory token for a partition value, matching Spark's layout
    (ExternalCatalogUtils.getPartitionPathString — NULLs use the Hive
    default-partition token)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return urllib.parse.quote(str(v), safe="")


def drop_expired_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    min_keep,
) -> list:
    """Retention sweep: drop every ``partition_col=<v>`` directory with
    ``v < min_keep`` — the batch rendering of Doris's dynamic-partition
    retention (schema.sql RANGE tables carry dynamic_partition.start, and
    expired day partitions are DROPPED, not compacted). Pure metadata +
    filesystem work, O(partitions), no data scan — at 100 TB a nightly
    sweep touches directory entries, never rows. Returns the dropped
    partition values."""
    dropped = []
    prefix = f"{partition_col}="
    if not os.path.isdir(path):
        return dropped
    for entry in os.listdir(path):
        if not entry.startswith(prefix):
            continue
        raw = urllib.parse.unquote(entry[len(prefix):])
        if raw == "__HIVE_DEFAULT_PARTITION__":
            continue  # NULL partition never expires by value comparison
        value = type(min_keep)(raw)
        if value < min_keep:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            dropped.append(value)
    spark.catalog.refreshByPath(path)
    return dropped


def export_stream_load_csv(df: DataFrame, path: str) -> None:
    """Compat export in the reference's stream-load shape: flat CSV,
    nulls as \\N (transfer/EventAttrTransfer.java:32), tab-separated
    (the Doris stream-load default the sinks configure)."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)).alias(c) for c in df.columns]
    df.select(cols).write.mode("overwrite").option("sep", STREAM_LOAD_SEP).option(
        "emptyValue", ""
    ).csv(path)


def partial_upsert_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    update_cols: list[str],
    delete_col: str | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """Partial-column update upsert: incoming rows carry only
    ``keys + update_cols (+ order_col)``; matched rows take the incoming
    values for ``update_cols`` and KEEP every other column from the
    existing row — Doris's partial_columns stream-load mode
    (DorisSinkFactory.java:60,96,137), i.e. Delta's
    ``MERGE ... UPDATE SET <subset>``. Unmatched incoming keys insert
    with NULLs for the non-updated columns.

    ``delete_col`` is the delete sign (EventAttrRow.java:51-53): a flagged
    incoming key removes the whole existing row (all columns, not just the
    partial set); per key the NEWEST incoming row (by ``order_col``)
    decides between update and delete.

    ``partition_cols`` (must be a subset of ``keys``, same functional
    contract as ``upsert_table``): the merge is PARTITION-SCOPED — only
    the partitions the incoming batch touches are read, merged, and
    dynamically overwritten. The reference runs exactly this mode on its
    b_device / b_user_property sinks (DorisSinkFactory.java:60,96,137);
    at 100 TB a per-batch partial update rewrites its partitions, never
    the table.
    """
    if partition_cols and not set(partition_cols) <= set(keys):
        raise ValueError("partition_cols must be a subset of keys")
    latest = keep_latest(df, keys, order_col).drop(order_col)
    table_exists = os.path.exists(path)
    touched = None
    if table_exists and partition_cols:
        # materialize once (consumed by the touched-partition collect AND
        # the merge), then collect the bounded distinct partition tuples
        # BEFORE the update/delete split so a delete-only partition is
        # still read and rewritten
        latest = latest.localCheckpoint(eager=True)
        touched = latest.select(*partition_cols).distinct().collect()
    deletes = None
    if delete_col is not None:
        deletes = latest.filter(_delete_flag(delete_col)).select(*keys)
        latest = latest.filter(~_delete_flag(delete_col)).drop(delete_col)
    merged = latest
    if table_exists:
        existing = spark.read.parquet(path)
        if partition_cols:
            existing = _restrict_to_touched(spark, existing, partition_cols, touched)
        # key joins are NULL-SAFE throughout: _restrict_to_touched goes out
        # of its way (eqNullSafe) to read a NULL partition's existing rows
        # into the merge, and keep_latest's Window.partitionBy groups NULL
        # keys — plain == here would instead duplicate a NULL-keyed row on
        # update and make it undeletable
        def _key_cond(left, right):
            cond = None
            for k in keys:
                eq = left[k].eqNullSafe(right[k])
                cond = eq if cond is None else cond & eq
            return cond

        if deletes is not None:
            existing = existing.join(deletes, _key_cond(existing, deletes), "left_anti")
        # presence flag, not per-column coalesce: an incoming explicit NULL
        # must overwrite (the \N stream-load semantics), which coalesce would
        # silently keep as the old value
        e = existing.alias("e")
        i = latest.withColumn("_i_present", F.lit(True)).alias("i")
        hit = F.coalesce(F.col("_i_present"), F.lit(False))
        other_cols = [c for c in existing.columns if c not in keys and c not in update_cols]
        merged = e.join(i, _key_cond(e, i), "full_outer").select(
            *[F.coalesce(f"e.{k}", f"i.{k}").alias(k) for k in keys],
            *[
                F.when(hit, F.col(f"i.{c}")).otherwise(F.col(f"e.{c}")).alias(c)
                for c in update_cols
            ],
            *[F.col(f"e.{c}").alias(c) for c in other_cols],
        )
    # one staged commit; a missing table is the touched=None case
    if partition_cols:
        _commit_touched_partitions(spark, merged, path, partition_cols, touched)
    else:
        _swap_unpartitioned(merged, path)
    spark.catalog.refreshByPath(path)
