"""Structured-Streaming wrapper over the batch stage semantics.

The reference is a Flink DataStream job suite (main/GateJob.java:41,
main/IdJob.java:44, main/DwJob.java:43) whose only cross-record state is
external get-or-create KV lookups (service/OneIdService.java:312-650) —
no watermarks (WatermarkStrategy.noWatermarks() at GateJob.java:107) and
no Flink keyed state. The Spark translation therefore needs exactly two
streaming ingredients:

1. ``foreachBatch`` running the same set-based stage logic per micro-batch,
   with the ID-mapping registries as persistent tables MERGEd each batch
   (KVRocks HSETNX first-writer-wins → deterministic anti-join + assign,
   serialized per batch — stronger than the lock-based original);
2. the data-quality counters (GateProcessFunction.java:106-180) as a
   watermarked windowed aggregation — the one place event-time windowing
   adds value over the reference's processing-time counters.

Scale notes: each micro-batch does ONE shuffle per get-or-create (anti-join
on the mapping key); the mapping store is read once per batch and broadcast
when small. On a cluster the store would be a Delta table with MERGE; here
it is parquet-overwrite, same logical contract (state size = number of
distinct devices, not number of events).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.window import Window

DEVICE_ID_OFFSET = 100_000  # same namespace as batch did_ids (domain.py)


class MappingStore:
    """Persistent (app_id, key) -> id mapping table, parquet-backed,
    append-only with periodic compaction.

    Plays the role of the reference's KVRocks hashes ``d:{appId}`` /
    ``u:{appId}`` (service/OneIdService.java:66-79). ``merge`` is the
    HSETNX analog: existing keys win, new keys get deterministic IDs.

    Layout: each merge appends ONLY that batch's newly-assigned rows as a
    delta directory (v0, v1, …); every ``COMPACT_EVERY`` merges a full
    snapshot (s{n}) is written and reads start from it. Per-batch write
    cost is O(new keys), not O(store) — the full-rewrite formulation was
    O(store × batches) write amplification, which dominated the s-suite
    wall clock and would be unrunnable at cluster state sizes. A crashed
    write leaves prior dirs intact (restart re-merges the batch, same
    deterministic ids); on a cluster this store is a Delta table and
    ``merge`` is MERGE INTO, same logical contract.
    """

    COMPACT_EVERY = 8

    def __init__(self, spark: SparkSession, path: str, key_col: str, id_col: str):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.id_col = id_col
        # in-run state handle: the post-merge state DataFrame of the last
        # merge THIS object performed. Purely a per-object plan memo — the
        # files it scans are the same append-only deltas a disk read
        # lists, so recovery (a fresh MappingStore over the same path)
        # sees identical state. Avoids a directory listing + parquet
        # footer/schema read per micro-batch per store (guide §6: file
        # listing is driver-side, serial, and paid per read).
        self._mem: DataFrame | None = None

    def _dirs(self, prefix: str, committed_only: bool = False) -> dict[int, str]:
        """``committed_only`` gates on the ``_SUCCESS`` marker — a dir a
        crashed write left behind (only ``_temporary/``, or a committed
        SUBSET of its part-files) must never count as state: a torn
        first delta fails schema inference outright, and a partial
        snapshot silently DROPS mappings while ``_state_paths`` skips
        the deltas it superseded — later batches would re-mint ids that
        conflict with already-written outputs. Writers list ALL dirs
        (committed or torn) so a new write never reuses a torn index."""
        if not os.path.isdir(self.path):
            return {}
        out = {}
        for d in os.listdir(self.path):
            if not (d.startswith(prefix) and d[1:].isdigit()):
                continue
            p = os.path.join(self.path, d)
            if committed_only and not os.path.exists(
                os.path.join(p, "_SUCCESS")
            ):
                continue
            out[int(d[1:])] = p
        return out

    def _state_paths(self) -> list[str]:
        """Latest COMMITTED snapshot (if any) + the committed delta dirs
        after it, in order. An uncommitted delta's micro-batch cannot
        have committed its checkpoint either (merge completes before
        foreachBatch returns), so that batch replays in full — ignoring
        the torn dir is exactly the recovery contract."""
        deltas = self._dirs("v", committed_only=True)
        snaps = self._dirs("s", committed_only=True)
        base = max(snaps) if snaps else -1
        paths = [snaps[base]] if snaps else []
        paths += [deltas[k] for k in sorted(deltas) if k > base]
        return paths

    def read(self) -> DataFrame | None:
        # the cache is populated ONLY by merge(): a disk read must stay a
        # fresh listing so recovery paths (torn snapshot, external writer)
        # always see the currently-committed dirs
        return self._mem if self._mem is not None else self._disk_read()

    def _disk_read(self) -> DataFrame | None:
        paths = self._state_paths()
        return None if not paths else self.spark.read.parquet(*paths)

    def merge(self, assigned: DataFrame) -> str:
        """Append this batch's newly-assigned rows; returns the delta dir
        just written (so a caller holding the pre-merge state can union
        one small file instead of re-listing and re-reading the store)."""
        before = self.read()              # pre-merge state (cache or disk)
        deltas = self._dirs("v")          # ALL dirs: never reuse a torn index
        nxt = max(deltas) + 1 if deltas else 0
        delta_dir = os.path.join(self.path, f"v{nxt}")
        assigned.write.parquet(delta_dir)
        delta_df = self.spark.read.parquet(delta_dir)
        self._mem = (
            before.unionByName(delta_df) if before is not None else delta_df
        )
        snaps = self._dirs("s", committed_only=True)
        base = max(snaps) if snaps else -1
        if nxt - base >= self.COMPACT_EVERY:
            # compaction bounds read() fan-in; writes a NEW dir, never
            # touching the delta files any in-flight plan still scans.
            # Snapshot from a DISK listing (includes the delta above) and
            # drop the in-run handle so the next read scans the snapshot
            # instead of a growing union-of-deltas plan.
            self._disk_read().write.parquet(os.path.join(self.path, f"s{nxt}"))
            self._mem = None
        return delta_dir


def incremental_get_or_create(
    store: MappingStore,
    batch: DataFrame,
    key_cols: list[str],
    id_col: str,
    base: F.Column,
) -> DataFrame:
    """Generalized per-micro-batch get-or-create against a MappingStore.

    Mirrors the reference's read → miss → claim-new → re-read KV pattern
    (OneIdService.java:312-359 for devices; EventAsyncOperator.java:301-402
    for the event dictionary), collapsed into set operations: existing
    mappings win (first-writer), distinct new (app_id, *key_cols) keys are
    ranked by first-seen order (min seq) continuing from the store's
    per-app max id, or from ``base`` for an unseen app. Returns the batch
    annotated with ``id_col``.
    """
    merged = merge_new_keys(store, batch, key_cols, id_col, base)
    return batch.join(F.broadcast(merged), ["app_id", *key_cols], "left")


def merge_new_keys(
    store: MappingStore,
    batch: DataFrame,
    key_cols: list[str],
    id_col: str,
    base: F.Column,
) -> DataFrame:
    """The merge half of the get-or-create: claim ids for this batch's
    new keys, append them to the store, and return the post-merge state
    relation (one row per distinct key). Callers that annotate several
    relations — or run several stores' merges concurrently (guide §2.6)
    — join against the returned state themselves."""
    spark = store.spark
    existing = store.read()
    if existing is None:
        # empty LocalRelation, NOT createDataFrame([], schema): the latter
        # parallelizes an empty RDD over defaultParallelism partitions, so
        # the first batch's anti-join broadcast and per-app-max aggregate
        # each ran a 32-task stage over zero rows. A literal SELECT with a
        # false filter constant-folds to a zero-task empty relation.
        exprs = [
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
            for f in batch.select("app_id", *key_cols).schema.fields
        ] + [f"CAST(NULL AS BIGINT) AS {id_col}"]
        existing = spark.sql("SELECT " + ", ".join(exprs)).where("1=0")

    # the store holds one row per distinct key, not per event — broadcast
    # it so neither join shuffles the (much larger) event batch
    new_first = (
        batch.join(F.broadcast(existing), ["app_id", *key_cols], "left_anti")
        .groupBy("app_id", *key_cols)
        .agg(F.min("seq").alias("first_seq"))
    )
    per_app_max = (
        existing.groupBy("app_id")
        .agg(F.max(id_col).alias("max_id"))
    )
    # row_number with the key columns as tiebreak: two NEW keys tying on
    # min-seq must still get DISTINCT ids (dense_rank over first_seq alone
    # collides them — two devices sharing one id)
    w = Window.partitionBy("app_id").orderBy("first_seq", *key_cols)
    assigned = (
        new_first.join(per_app_max, "app_id", "left")
        .withColumn(
            id_col,
            F.coalesce(F.col("max_id"), base) + F.row_number().over(w),
        )
        .select("app_id", *key_cols, id_col)
    )
    store.merge(assigned)
    # post-merge state = pre-merge state ∪ the one delta file just written
    # (merge reads the delta BACK instead of re-executing `assigned`, which
    # keeps the ids stable); append-only means the next merge never
    # rewrites the files this plan scans. store.read() is that union.
    merged = store.read()
    if merged is None:  # empty batch: merge wrote an empty delta
        merged = existing
    return merged


def incremental_device_ids(
    store: MappingStore, batch: DataFrame
) -> DataFrame:
    """Get-or-create device IDs for one micro-batch (I2 streaming form)."""
    return incremental_get_or_create(
        store, batch, [store.key_col], store.id_col, F.lit(DEVICE_ID_OFFSET)
    )


def file_stream(spark: SparkSession, source_dir: str, schema: str) -> DataFrame:
    """The ordered file source every stream replays: one file per
    micro-batch. Run under availableNow (``start_available_now``) it
    gives ordered, bounded micro-batches — the batch analog of the
    reference's Kafka consumption; a Kafka deployment swaps
    ``format("kafka")`` + ``from_json`` in, nothing else changes."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def start_available_now(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` checkpointed at ``checkpoint_dir``, processing
    every source file present at start and then terminating."""
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_identity_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store_path: str,
    output_path: str,
    checkpoint_dir: str,
):
    """File-source stream → per-batch identity resolution → parquet sink.

    Exactly-once: checkpoint + idempotent overwrite-by-batch-id output
    layout.
    """
    store = MappingStore(spark, store_path, key_col="did", id_col="zg_did")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        resolved = incremental_device_ids(store, batch_df)
        resolved.write.mode("overwrite").parquet(
            os.path.join(output_path, f"batch_id={batch_id}")
        )

    return start_available_now(
        file_stream(spark, source_dir, schema).writeStream.foreachBatch(process),
        checkpoint_dir,
    )


def start_event_counts_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    checkpoint_dir: str,
    query_name: str = "event_counts",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
):
    """Watermarked tumbling-window success counters to a memory sink.

    The streaming rendering of the gate counters (A1,
    GateProcessFunction.java:106-124): per (window, app_id, event_type)
    counts; rows later than the watermark are dropped instead of the
    reference's ±7d validity filter (G7) — the event-time upgrade the
    Flink job never had.
    """
    src = (
        file_stream(spark, source_dir, schema)
        .withColumn("event_time", F.timestamp_millis(F.col("ct")))
        .withWatermark("event_time", watermark_delay)
    )
    agg = src.groupBy(
        F.window("event_time", window_duration).alias("win"),
        F.col("app_id"),
        F.col("event_type"),
    ).count()
    return start_available_now(
        agg.writeStream.outputMode("append").format("memory").queryName(query_name),
        checkpoint_dir,
    )


def start_route_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    dev_store_path: str,
    event_store_path: str,
    output_path: str,
    checkpoint_dir: str,
):
    """Streaming route stage (the Dw step of AllJob in streaming form):
    per micro-batch, fan out virtual events, get-or-create device IDs AND
    event-dictionary IDs (two persistent stores), then append the routed
    event rows.

    The virtual-event fan-out runs in-stream per micro-batch, as the
    reference runs VirtualEventOperator between the id and dictionary
    steps (IdJob step 7 before step 8); a synthesized row lands in the
    same batch as its source row, so first-seen ordering across batches
    is preserved. The event-dictionary id scheme matches the batch
    pipeline exactly (1000*app_id base + first-seen dense rank with the
    (owner, event_name) tie-break for seq ties, EventAsyncOperator.java:
    301-402 semantics), so the streamed output equals the batch
    events_typed ⋈ did_ids ⋈ event_dict join — the oracle s4 states.
    """
    from zg_etl_spark.operators.domain import vtl_fanout_df

    dev_store = MappingStore(spark, dev_store_path, key_col="did", id_col="zg_did")
    ev_store = MappingStore(
        spark, event_store_path, key_col="event_name", id_col="zg_eid"
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        fanned = batch_df.unionByName(vtl_fanout_df(batch_df))
        # M1 owner rule + name truncation + validity (EventAsyncOperator
        # .java:120-299): dt=abp forces owner 'zg'; names cap at 100 chars;
        # invalid names (EVENT_NAME_INVALID 1020013) never enter the
        # dictionary — same gate as the batch event_first stage
        # dt filter includes 'vtl' (EventAsyncOperator.java:190): the
        # synthesized rows register like any source event
        events = (
            fanned.filter(
                F.col("dt").isin("evt", "abp", "mkt", "vtl")
                & F.col("event_name").isNotNull()
            )
            .withColumns(
                {
                    "owner": F.when(F.col("dt") == "abp", F.lit("zg")).otherwise(
                        F.col("owner")
                    ),
                    "event_name": F.substring("event_name", 1, 100),
                }
            )
            .filter(F.col("event_name").rlike("^[0-9A-Za-z_$一-龥-]+$"))
        )
        # the two dictionary merges are independent (device keys don't
        # depend on event ids and vice versa — the event-dictionary keys
        # are (owner, event_name), minted from the same fanned rows the
        # sequential form used) — run them as concurrent jobs (guide
        # §2.6) and annotate the routed rows against both returned
        # states with map-side broadcast joins
        with ThreadPoolExecutor(max_workers=2) as ex:
            f_dev = ex.submit(
                merge_new_keys, dev_store, fanned, [dev_store.key_col],
                dev_store.id_col, F.lit(DEVICE_ID_OFFSET),
            )
            f_ev = ex.submit(
                merge_new_keys, ev_store, events, ["owner", "event_name"],
                "zg_eid", F.col("app_id") * 1000,
            )
            m_dev, m_ev = f_dev.result(), f_ev.result()
        routed = (
            events.join(F.broadcast(m_dev), ["app_id", "did"], "left")
            .join(F.broadcast(m_ev), ["app_id", "owner", "event_name"],
                  "left")
        )
        routed.select(
            "event_id", "app_id", "did", "zg_did", "owner", "event_name",
            "zg_eid", "ct",
        ).write.mode("overwrite").parquet(
            os.path.join(output_path, f"batch_id={batch_id}")
        )

    return start_available_now(
        file_stream(spark, source_dir, schema).writeStream.foreachBatch(process),
        checkpoint_dir,
    )


USER_ID_OFFSET = 200_000     # batch uid_ids namespace (domain.py)
ZGID_USER_OFFSET = 300_000   # user-rooted zgid namespace
ZGID_DEVICE_OFFSET = 900_000 # device-rooted zgid namespace


def start_zgid_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    dev_store_path: str,
    uid_store_path: str,
    bind_store_path: str,
    checkpoint_dir: str,
):
    """Streaming one-ID (zgid) binding — the order-sensitive I5 merge
    (ZgidAsyncOperator.java:77-192, OneIdService.java:413-650) in
    micro-batch form, with three persistent stores:

    - device ids (did → zg_did, get-or-create),
    - user ids (cuid → zg_uid, get-or-create),
    - bindings (did → bound_cuid): a device binds to the FIRST cuid it is
      ever seen with — an anonymous device binds the first time a later
      batch identifies it (the reference's "identified wins, device
      re-points"), and an already-bound device never re-binds (the
      reference never merges two existing zgids, OneIdService.java:420-435).

    Over seq-ordered batches the first-binding rule composes to the global
    first-cuid rule, so the final stores must equal the batch
    ``device_zgid`` relation — which is the s5 oracle verbatim.
    """
    dev_store = MappingStore(spark, dev_store_path, key_col="did", id_col="zg_did")
    uid_store = MappingStore(spark, uid_store_path, key_col="cuid", id_col="zg_uid")
    bind_store = MappingStore(
        spark, bind_store_path, key_col="did", id_col="bound_cuid"
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the three store merges are INDEPENDENT job chains (each touches
        # only its own store) — submit them from a small thread pool so
        # the later jobs' tasks back-fill the earlier jobs' stragglers
        # (guide §2.6, overlap independent jobs) instead of paying three
        # full job latencies back-to-back per micro-batch
        from concurrent.futures import ThreadPoolExecutor

        identified = batch_df.filter(F.col("cuid").isNotNull())

        def merge_dev() -> None:
            incremental_device_ids(dev_store, batch_df)

        def merge_uid() -> None:
            incremental_get_or_create(
                uid_store, identified, ["cuid"], "zg_uid",
                F.lit(USER_ID_OFFSET),
            )

        def merge_bind() -> None:
            # first cuid per device within the batch (ROW_NUMBER by seq),
            # then drop devices already bound in the store
            # (first-writer-wins, the HSETNX analog)
            bound = bind_store.read()
            w = Window.partitionBy("app_id", "did").orderBy("seq")
            first_in_batch = (
                identified.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("app_id", "did", F.col("cuid").alias("bound_cuid"))
            )
            if bound is not None:
                first_in_batch = first_in_batch.join(
                    F.broadcast(bound.select("app_id", "did")),
                    ["app_id", "did"],
                    "left_anti",
                )
            # append-only merge never clobbers the store files the
            # anti-join above scans, so no materialization is needed
            bind_store.merge(first_in_batch)

        with ThreadPoolExecutor(max_workers=3) as ex:
            for f in [ex.submit(merge_dev), ex.submit(merge_uid),
                      ex.submit(merge_bind)]:
                f.result()

    q = start_available_now(
        file_stream(spark, source_dir, schema).writeStream.foreachBatch(process),
        checkpoint_dir,
    )
    return q, dev_store, uid_store, bind_store


def zgid_result(dev_store, uid_store, bind_store) -> DataFrame:
    """Assemble the device_zgid-shaped relation from the three stores."""
    dev = dev_store.read()
    uid = uid_store.read()
    bind = bind_store.read()
    if bind is not None:
        out = dev.join(F.broadcast(bind), ["app_id", "did"], "left")
    else:
        out = dev.withColumn("bound_cuid", F.lit(None).cast("string"))
    if uid is not None:
        out = out.join(
            F.broadcast(uid.withColumnRenamed("cuid", "bound_cuid")),
            ["app_id", "bound_cuid"],
            "left",
        )
    else:
        out = out.withColumn("zg_uid", F.lit(None).cast("bigint"))
    return out.select(
        "app_id",
        "did",
        "zg_did",
        "bound_cuid",
        F.when(
            F.col("zg_uid").isNotNull(), F.lit(ZGID_USER_OFFSET) + F.col("zg_uid")
        )
        .otherwise(F.lit(ZGID_DEVICE_OFFSET) + F.col("zg_did"))
        .alias("zg_id"),
    )
