"""Streaming queries exposed on the declared-query surface.

The streaming engine (zg_etl_spark/streaming/engine.py) is deterministic:
get-or-create device-ID assignment over seq-ordered micro-batches produces
exactly the IDs the batch pipeline assigns (dense_rank over first-seen
order per app — proven equivalent in tests/test_streaming.py). That lets a
REAL Structured Streaming run be checked against a plain SQL oracle: the
stream's merged mapping table must equal the batch `did_ids` stage.

s1 replays gate-ok events split into two seq-ordered files (one file per
micro-batch, availableNow) → foreachBatch incremental identity → the final
mapping store, and the DuckDB oracle is just
`SELECT app_id, did, zg_did FROM did_ids`.

Every s-query is one ``_replay`` run: a ``start(work)`` that starts the
stream with its checkpoint and sink state under a scratch dir, and a
``read(work)`` that reads the result back.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from zg_etl_spark.dialect import DUCK, SPARK
from zg_etl_spark.operators.domain import (
    VALID_PAST_MS,
    duck_pipeline_sql,
    spark_pipeline_df,
)
from zg_etl_spark.plans.common import scratch_run
from zg_etl_spark.session import materialize
from zg_etl_spark.sources.tables import table_bytes
from zg_etl_spark.streaming.engine import file_stream, start_available_now

QUERIES: dict = {}
ORACLE: dict = {}


def _write_split_files(parts: list[DataFrame], src_dir: str) -> None:
    """Write each part as ONE plain parquet file ``b{i}.parquet`` with
    strictly increasing mtimes so the file stream source (which orders
    by modification time) replays them in part order. The single-task
    part-writes are independent — they run as concurrent jobs instead
    of back-to-back."""
    from concurrent.futures import ThreadPoolExecutor

    def write_one(i_and_df) -> None:
        i, part_df = i_and_df
        stage = os.path.join(src_dir, f"_stage{i}")
        part_df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        shutil.rmtree(stage)

    with ThreadPoolExecutor(max_workers=max(len(parts), 1)) as ex:
        list(ex.map(write_one, enumerate(parts)))


def _write_seq_ordered_files(df: DataFrame, src_dir: str) -> None:
    """Split into two seq-ordered files (b0 < b1 by seq)."""
    mid = df.selectExpr("percentile_approx(seq, 0.5) AS m").first().m
    _write_split_files([df.filter(df.seq <= mid), df.filter(df.seq > mid)], src_dir)


def _source(spark: SparkSession, sf_dir: str, name: str, write) -> str:
    """The stream-source dir ``name`` of sf_dir: ``write(src)`` fills a
    fresh temp dir once per (session, sf_dir) and every s-query run reuses
    it (a deployment's source topic persists the same way). The registry
    removes the dir when the entry is released or the process exits."""

    def build() -> str:
        src = tempfile.mkdtemp(prefix=f"zg_{name}_")
        try:
            write(src)
        except BaseException:
            shutil.rmtree(src, ignore_errors=True)
            raise
        return src

    return materialize(
        spark, sf_dir, name, build,
        cleanup=lambda src: shutil.rmtree(src, ignore_errors=True))


# One state shard per this many bytes of stream-source input. Every
# micro-batch pays a near-constant store-commit cost PER SHARD (load,
# watermark-evict, delta write, commit — measured ~85 ms/shard/batch on
# this host, including the trailing zero-row finalization batch), so the
# shard count must track state volume, not the core count: guide §2.2's
# fewer-larger-partitions rule applied to state stores. Derived from the
# source directory's actual bytes and capped at the session parallelism,
# the same value scales from a sub-MB local replay (2 shards) to a
# cluster topic (cap) without retuning.
_STATE_SHARD_BYTES = 8 << 20


def _stream_shards(spark: SparkSession, src: str) -> str:
    cap = spark.sparkContext.defaultParallelism
    return str(max(2, min(table_bytes(src) // _STATE_SHARD_BYTES + 1, cap)))


_REPLAY_TIMEOUT_S = 300


def _replay(spark: SparkSession, src: str, start, read) -> DataFrame:
    """One availableNow run over the stream source ``src``, as the
    ``run`` of one ``scratch_run``.

    ``start(work)`` starts the query with its checkpoint and sink state
    under the scratch dir ``work``; ``read(work)`` returns the result.
    The query starts with ``spark.sql.shuffle.partitions`` at
    ``_stream_shards`` (a stateful query freezes its state-shard count at
    start), and the session value is back before ``read`` runs. The run
    must finish inside ``_REPLAY_TIMEOUT_S``: reading a partial sink
    under a live query would return a wrong answer. On every exit path
    the query is stopped, the setting restored, ``work`` removed and the
    memory-sink view (the query's name) dropped — the memory sink holds
    every emitted row on the driver until then."""
    q = None

    def run(work: str) -> None:
        nonlocal q
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", _stream_shards(spark, src))
            q = start(work)
            if not q.awaitTermination(_REPLAY_TIMEOUT_S):
                raise RuntimeError(
                    f"streaming query did not finish in {_REPLAY_TIMEOUT_S}s"
                )
        finally:
            if q is not None and q.isActive:
                q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    try:
        return scratch_run("replay", run, read)
    finally:
        if q is not None and q.name:
            spark.catalog.dropTempView(q.name)


def _replay_to_memory(spark: SparkSession, src: str, stream: DataFrame,
                      name: str) -> DataFrame:
    """``_replay`` of an append-mode ``stream`` into the memory sink
    ``name``; the result is the sink's rows."""
    return _replay(
        spark, src,
        lambda work: start_available_now(
            stream.writeStream.outputMode("append").format("memory").queryName(name),
            os.path.join(work, "ckpt"),
        ),
        lambda work: spark.table(name),
    )


# One SUPERSET source serves every per-projection s-query: `resolved` is
# row-for-row gate_ok (inner joins against mappings built FROM gate_ok),
# and a parquet file stream read with a SUBSET schema prunes columns at
# the reader — so five per-query source builds collapse into one write.
# k/value/pl ride along for the in-stream virtual-event fan-out (the
# rule match predicate reads the custom bag + envelope, domain.py
# vtl_match_any)
_SUPERSET_SQL = (
    "SELECT event_id, app_id, did, cuid, dt, owner, event_name, "
    "event_type, k, value, pl, ct, seq, zg_did FROM resolved"
)


def _seq_ordered_source(spark: SparkSession, sf_dir: str, name: str,
                        sql: str) -> str:
    return _source(spark, sf_dir, name, lambda src: _write_seq_ordered_files(
        spark_pipeline_df(spark, sf_dir, sql), src))


def _s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.streaming.engine import MappingStore, start_identity_stream

    src = _seq_ordered_source(spark, sf_dir, "stream_src", _SUPERSET_SQL)

    def start(work: str):
        return start_identity_stream(
            spark,
            source_dir=src,
            schema="event_id BIGINT, app_id BIGINT, did STRING, ct BIGINT, seq BIGINT",
            store_path=os.path.join(work, "store"),
            output_path=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )

    def read(work: str) -> DataFrame:
        # the merged mapping store IS the result
        return (
            MappingStore(
                spark, os.path.join(work, "store"), key_col="did", id_col="zg_did"
            )
            .read()
            .select("app_id", "did", "zg_did")
        )

    return _replay(spark, src, start, read)


QUERIES["s1_streaming_identity"] = _s1
ORACLE["s1_streaming_identity"] = duck_pipeline_sql(
    "SELECT app_id, did, zg_did FROM did_ids"
)


# ---------------------------------------------------------------------------
# s2: the custom stateful operator (applyInPandasWithState sessionization)
# must reproduce declarative batch sessionization exactly — the oracle is
# the classic LAG + cumulative-sum session assignment, which DuckDB runs.
# The sink is a foreachBatch CHANGELOG STORE, not a memory sink: update
# mode emits only the sessions a batch changed, each append is O(changed),
# and the read is keep-latest per session key — the same store-backed
# pattern as s1/s4/s5 and the parquet rendering of the Doris UNIQUE-KEY
# session table the reference writes (driver memory holds nothing).
# ---------------------------------------------------------------------------
_SESSION_GAP_MS = 3_600_000  # 1 hour

_S2_ORACLE_BODY = f"""
WITH sess_events AS (
  SELECT app_id, zg_did, ct FROM resolved
),
marked AS (
  SELECT app_id, zg_did, ct,
         CASE WHEN ct - LAG(ct) OVER (PARTITION BY app_id, zg_did ORDER BY ct)
                   > {_SESSION_GAP_MS} THEN 1 ELSE 0 END AS brk
  FROM sess_events
),
assigned AS (
  SELECT app_id, zg_did, ct,
         SUM(brk) OVER (PARTITION BY app_id, zg_did ORDER BY ct
                        ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM marked
)
SELECT app_id, zg_did, MIN(ct) AS session_start, MAX(ct) AS session_end,
       COUNT(*) AS n_events
FROM assigned GROUP BY app_id, zg_did, sess_idx"""


def _s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from zg_etl_spark.sinks import keep_latest
    from zg_etl_spark.streaming.sessions import sessionize

    src = _seq_ordered_source(spark, sf_dir, "stream_src", _SUPERSET_SQL)

    def start(work: str):
        store = os.path.join(work, "session_store")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # O(changed-sessions) append per batch — never a store rewrite
            batch_df.withColumn("_b", F.lit(batch_id)).write.mode("append").parquet(store)

        stream = file_stream(
            spark, src, "app_id BIGINT, zg_did BIGINT, ct BIGINT, seq BIGINT"
        )
        return start_available_now(
            sessionize(stream, gap_ms=_SESSION_GAP_MS)
            .writeStream.outputMode("update")
            .foreachBatch(sink),
            os.path.join(work, "ckpt"),
        )

    def read(work: str) -> DataFrame:
        # final state per session = the latest batch's emission (sessions
        # only grow, so last write wins) — UNIQUE-KEY read-time merge
        return keep_latest(
            spark.read.parquet(os.path.join(work, "session_store")),
            ["app_id", "zg_did", "session_start"],
            "_b",
        ).select("app_id", "zg_did", "session_start", "session_end", "n_events")

    return _replay(spark, src, start, read)


QUERIES["s2_streaming_sessions"] = _s2
ORACLE["s2_streaming_sessions"] = duck_pipeline_sql(_S2_ORACLE_BODY)


# ---------------------------------------------------------------------------
# s3: watermarked tumbling-window gate counters (the event-time upgrade of
# GateProcessFunction.java:106-124) — append-mode emission is deterministic
# for ordered replay, so the DuckDB oracle states the emission rule exactly:
# a window is emitted iff window_end <= final_watermark, and the final
# watermark is max(ct) - delay (the trailing no-data micro-batch flushes).
# ---------------------------------------------------------------------------
_S3_WINDOW_MS = 3_600_000      # 1 hour tumbling
_S3_DELAY_MS = 7_200_000       # 2 hour watermark delay


def _s3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from zg_etl_spark.streaming.engine import start_event_counts_stream

    src = _seq_ordered_source(spark, sf_dir, "stream_src", _SUPERSET_SQL)

    def start(work: str):
        return start_event_counts_stream(
            spark,
            source_dir=src,
            schema="app_id BIGINT, event_type STRING, ct BIGINT, seq BIGINT",
            checkpoint_dir=os.path.join(work, "ckpt"),
            query_name="s3_mem",
            window_duration="1 hour",
            watermark_delay="2 hours",
        )

    def read(work: str) -> DataFrame:
        return spark.table("s3_mem").select(
            (F.unix_millis(F.col("win.start"))).alias("win_start"),
            "app_id",
            "event_type",
            F.col("count").alias("n"),
        )

    return _replay(spark, src, start, read)


QUERIES["s3_streaming_counts"] = _s3
ORACLE["s3_streaming_counts"] = duck_pipeline_sql(f"""
WITH s3_feed AS (SELECT app_id, event_type, ct FROM gate_ok),
s3_mx AS (SELECT MAX(ct) AS max_ct FROM s3_feed)
SELECT (ct // {_S3_WINDOW_MS}) * {_S3_WINDOW_MS} AS win_start,
       app_id, event_type, COUNT(*) AS n
FROM s3_feed CROSS JOIN s3_mx
GROUP BY 1, app_id, event_type, s3_mx.max_ct
HAVING win_start + {_S3_WINDOW_MS} <= max_ct - {_S3_DELAY_MS}""")


# ---------------------------------------------------------------------------
# s4: the streaming ROUTE stage (Dw step of AllJob in streaming form) —
# two persistent dictionaries (device IDs + event dictionary) get-or-create
# per micro-batch, routed rows appended per batch. The event-dictionary id
# scheme matches the batch pipeline (1000*app_id + first-seen dense rank),
# and the stream consumes seq-ordered files, so the streamed output must
# equal the batch events_typed ⋈ did_ids ⋈ event_dict join — which is the
# DuckDB oracle, verbatim.
# ---------------------------------------------------------------------------
def _s4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.streaming.engine import start_route_stream

    src = _seq_ordered_source(spark, sf_dir, "stream_src", _SUPERSET_SQL)

    def start(work: str):
        return start_route_stream(
            spark,
            source_dir=src,
            schema=(
                "event_id BIGINT, app_id BIGINT, did STRING, dt STRING, "
                "owner STRING, event_name STRING, event_type STRING, "
                "k BIGINT, value DOUBLE, pl STRING, ct BIGINT, seq BIGINT"
            ),
            dev_store_path=os.path.join(work, "dev_store"),
            event_store_path=os.path.join(work, "ev_store"),
            output_path=os.path.join(work, "out"),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )

    def read(work: str) -> DataFrame:
        return spark.read.parquet(os.path.join(work, "out")).select(
            "event_id", "app_id", "did", "zg_did", "owner", "event_name",
            "zg_eid", "ct",
        )

    return _replay(spark, src, start, read)


QUERIES["s4_streaming_route"] = _s4
ORACLE["s4_streaming_route"] = duck_pipeline_sql("""
SELECT e.event_id, e.app_id, e.did, d.zg_did, e.owner_e AS owner,
       e.event_name_t AS event_name, ed.zg_eid, e.ct
FROM events_typed e
JOIN did_ids d ON d.app_id = e.app_id AND d.did = e.did
JOIN event_dict ed ON ed.app_id = e.app_id AND ed.owner = e.owner_e
                  AND ed.event_name = e.event_name_t""")


# ---------------------------------------------------------------------------
# s5: streaming one-ID (zgid) binding — the order-sensitive I5 merge over
# seq-ordered micro-batches with three persistent stores (device ids, user
# ids, first-cuid bindings). The first-binding-wins rule composes across
# batches to the global first-cuid rule, so the assembled stores must equal
# the batch device_zgid relation exactly — the oracle states it verbatim.
# ---------------------------------------------------------------------------
def _s5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.streaming.engine import start_zgid_stream, zgid_result

    src = _seq_ordered_source(spark, sf_dir, "stream_src", _SUPERSET_SQL)
    stores = []

    def start(work: str):
        q, *run_stores = start_zgid_stream(
            spark,
            source_dir=src,
            schema="event_id BIGINT, app_id BIGINT, did STRING, cuid STRING, seq BIGINT",
            dev_store_path=os.path.join(work, "dev"),
            uid_store_path=os.path.join(work, "uid"),
            bind_store_path=os.path.join(work, "bind"),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        stores.extend(run_stores)
        return q

    return _replay(spark, src, start, lambda work: zgid_result(*stores))


QUERIES["s5_streaming_zgid"] = _s5
ORACLE["s5_streaming_zgid"] = duck_pipeline_sql(
    "SELECT app_id, did, zg_did, bound_cuid, zg_id FROM device_zgid"
)


# ---------------------------------------------------------------------------
# s6: streaming duplicate suppression — the reference relies on the Doris
# UNIQUE KEY (…, uuid, …) to absorb Kafka re-deliveries (schema.sql:96-398,
# $uuid minted at SessionIdProcessOperator.java:26-95). The streaming form
# is stateful dropDuplicates on the uuid: batch 2 REPLAYS a slice of batch
# 1's rows (cross-batch re-delivery, the case intra-batch dedup can't
# catch), and the emitted stream must equal the batch relation exactly —
# every replay suppressed by dedup state, none by accident of batching.
#
# State-size note: the DECLARED path is dropDuplicatesWithinWatermark on
# event time with the SAME validity bound the gate enforces
# (VALID_PAST_MS = 21d, the configured TimeValidator subtime,
# dataquality/TimeValidator.java:39-56 + config.properties:98-99) —
# plain dropDuplicates would keep every uuid forever and is the state
# store that OOMs at 100 TB × months. Because G7 rejects any delivery
# older than that bound, the watermark evicts only state no legitimate
# replay can ever match; a replay older than the watermark is dropped as
# late data — suppressed either way, so the emitted stream still equals
# the batch relation exactly and the oracle is unchanged. The two
# constants MUST move together: a watermark shorter than the gate window
# would re-emit a legitimately-late replay after its state evicted.
# tests/test_streaming.py::test_dedup_within_watermark_bounds_state pins
# both halves (in-window suppression, post-eviction re-emit) and that
# the state metric stays bounded.
# ---------------------------------------------------------------------------
def _s6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    body = (
        "SELECT app_id, did, seq, md5(CAST(seq AS STRING)) AS uuid FROM gate_ok"
    )

    def write(src: str) -> None:
        base = spark_pipeline_df(spark, sf_dir, body)
        mid = base.selectExpr("percentile_approx(seq, 0.5) AS m").first().m
        first_half = base.filter(base.seq <= mid)
        # batch 1 = first half; batch 2 = second half PLUS a replay of
        # every 5th row of batch 1 (the Kafka re-delivery)
        _write_split_files(
            [
                first_half,
                base.filter(base.seq > mid).unionByName(
                    first_half.filter(first_half.seq % 5 == 0)
                ),
            ],
            src,
        )

    src = _source(spark, sf_dir, "s6_src", write)
    deduped = (
        file_stream(spark, src, "app_id BIGINT, did STRING, seq BIGINT, uuid STRING")
        # seq = ct_ms * 1e6 + event_id (operators/domain.py feed), so
        # seq DIV 1e6 recovers the event time the watermark rides on
        .withColumn("event_ts", F.timestamp_millis(F.expr("seq DIV 1000000")))
        .withWatermark("event_ts", f"{VALID_PAST_MS // 86_400_000} days")
        .dropDuplicatesWithinWatermark(["uuid"])
        .select("app_id", "did", "seq", "uuid")
    )
    return _replay_to_memory(spark, src, deduped, "s6_mem")


QUERIES["s6_streaming_dedup"] = _s6
ORACLE["s6_streaming_dedup"] = duck_pipeline_sql(
    "SELECT app_id, did, seq, md5(CAST(seq AS VARCHAR)) AS uuid FROM gate_ok"
)

# ---------------------------------------------------------------------------
# s7: watermarked STREAM-STREAM interval join — the Spark-native answer to
# the reference's async state lookups pairing related events (the claim
# store that AdvAsyncOperator keeps so a later conversion can find its
# click, AdvAsyncOperator.java:60-130): both sides are unbounded streams,
# each watermarked, joined on key + time-range. Spark bounds the join
# state with the watermark and the range condition (clicks are dropped
# from state once no future purchase can reach them) — exactly the piece
# the foreachBatch store queries (s1-s5) cannot express, and the reason
# stream-stream join belongs on the declared surface. The batch oracle is
# the same inequality join over the full relation; split files are cut by
# EVENT TIME so batch-2 purchases genuinely reach across the micro-batch
# boundary into batch-1 click state.
# ---------------------------------------------------------------------------
def _s7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from zg_etl_spark.sources.tables import load_table

    def write(src: str) -> None:
        # engine contract: load_table normalizes events.ts to epoch-NANOS
        # BIGINT (sources/tables.py) — the split key and the source files
        # carry that; the stream derives a TIMESTAMP view for watermarks
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
        # The cut must STRADDLE at least one join pair or the test proves
        # nothing about cross-batch state (a median cut misses every pair
        # at the driver SFs — pairs span ≤2 h of a 30-day range). Cut at
        # the click of the qualifying pair nearest the median: that click
        # lands in b0 (ts <= cut), its purchase in b1 (ts > cut).
        mid = spark.sql(
            """
            WITH m AS (SELECT CAST(percentile_approx(ts, 0.5) AS BIGINT) AS c
                       FROM {events})
            SELECT COALESCE(
              (SELECT c.ts
               FROM {events} c JOIN {events} p
                 ON p.user_id = c.user_id
                AND c.event_type = 'click' AND p.event_type = 'purchase'
                AND p.ts > c.ts
                AND p.ts <= c.ts + 2 * 3600 * CAST(1e9 AS BIGINT)
               CROSS JOIN m
               ORDER BY abs(c.ts - m.c), c.ts, p.ts LIMIT 1),
              (SELECT c FROM m)) AS cut
            """,
            events=base,
        ).first().cut
        _write_split_files(
            [base.filter(base.ts <= mid), base.filter(base.ts > mid)], src
        )

    src = _source(spark, sf_dir, "s7_src", write)
    ev = file_stream(
        spark, src, "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING"
    )
    # s7's semantics are defined at MICROsecond precision end-to-end
    # (join bounds AND delay from the same truncated micros): the oracle
    # runs over the parquet timestamp[us] column, so any nano-grain
    # comparison here could admit/reject pairs the oracle can't even
    # represent — truncate once, derive everything from it
    clicks = (
        ev.filter("event_type = 'click'")
        .selectExpr(
            "event_id AS click_id",
            "user_id",
            "ts DIV 1000 AS click_us",
            "timestamp_micros(ts DIV 1000) AS click_ts",
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter("event_type = 'purchase'")
        .selectExpr(
            "event_id AS purchase_id",
            "user_id AS p_user",
            "ts DIV 1000 AS p_us",
            "timestamp_micros(ts DIV 1000) AS p_ts",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 2 HOURS"
        ),
    ).selectExpr(
        "click_id",
        "purchase_id",
        "user_id",
        "p_us - click_us AS delay_us",
    )
    return _replay_to_memory(spark, src, joined, "s7_mem")


QUERIES["s7_stream_stream_join"] = _s7
ORACLE["s7_stream_stream_join"] = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR"""


# ---------------------------------------------------------------------------
# s8: streaming upsert sink WITH DELETE SIGNS — the reference's dw job
# stream-loads every micro-batch into Doris UNIQUE-KEY tables where
# __DORIS_DELETE_SIGN__ rows remove keys (DorisSinkFactory.java:33-206,
# EventAttrRow.java:51-53); the Spark rendering is foreachBatch →
# sinks.upsert_table with delete_col, partition-scoped per batch. Batch 2
# carries delete markers (newest seq) for the zg_id % 7 key slice —
# including keys whose only rows landed in batch 1, so the delete must
# reach rows already ON DISK from an earlier micro-batch. The final table
# must equal the batch dedup relation minus the deleted slice.
# ---------------------------------------------------------------------------
def _s8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.plans.pipeline import (
        b_user_delete_batches,
        b_user_rows,
        read_b_user,
        upsert_b_user,
    )

    src = _source(spark, sf_dir, "s8_src", lambda src: _write_split_files(
        b_user_delete_batches(b_user_rows(spark, sf_dir))[:2], src))

    def start(work: str):
        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            upsert_b_user(spark, batch_df, os.path.join(work, "b_user"))

        stream = file_stream(
            spark, src,
            "app_id BIGINT, device_id BIGINT, zg_id BIGINT, "
            "user_id BIGINT, begin_date BIGINT, platform INT, "
            "seq BIGINT, _ds BOOLEAN",
        )
        return start_available_now(
            stream.writeStream.foreachBatch(sink), os.path.join(work, "ckpt")
        )

    return _replay(spark, src, start, lambda work: read_b_user(spark, work))


def _s8_oracle() -> str:
    from zg_etl_spark.plans.pipeline import _p10

    return duck_pipeline_sql(
        f"SELECT * FROM ({_p10(DUCK)}) t WHERE zg_id % 7 <> 0"
    )


QUERIES["s8_stream_upsert_delete"] = _s8
ORACLE["s8_stream_upsert_delete"] = _s8_oracle()


# ---------------------------------------------------------------------------
# s9: streaming PARTIAL-COLUMN sink — the reference's b_device /
# b_user_property lanes stream-load every micro-batch in Doris
# partial_columns mode (DorisSinkFactory.java:60,96,137): incoming rows
# carry only the key + a fixed column subset, matched rows keep every
# other column, delete signs remove whole rows. Spark rendering:
# foreachBatch → sinks.partial_upsert_table, partition-scoped per batch.
# The table is seeded with full columns (even-seq observations, carrying
# device_model); the stream then applies odd-seq partial updates
# (language/timezone/last_update_date only — device_model must SURVIVE
# on disk through every micro-batch) and a trailing delete-marker file.
# Per-key, later micro-batches overwrite the same column subset, so the
# final state equals w9's three-call batch composition — the oracle is
# w9's verbatim.
# ---------------------------------------------------------------------------
def _s9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.plans.pipeline import (
        b_device_obs,
        b_device_partial_batches,
        read_b_device,
        upsert_b_device_partial,
    )

    seed, part, dels = b_device_partial_batches(b_device_obs(spark, sf_dir))

    def write(src: str) -> None:
        mid = part.selectExpr("percentile_approx(seq, 0.5) AS m").first().m
        _write_split_files(
            [part.filter(part.seq <= mid), part.filter(part.seq > mid), dels],
            src,
        )

    src = _source(spark, sf_dir, "s9_src", write)

    def start(work: str):
        path = os.path.join(work, "b_device")
        # seed: the full-column creation write (w9 batch 1)
        upsert_b_device_partial(spark, seed, path)

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            upsert_b_device_partial(spark, batch_df, path)

        stream = file_stream(
            spark, src,
            "app_id BIGINT, device_id BIGINT, language STRING, "
            "timezone STRING, last_update_date BIGINT, seq BIGINT, "
            "_ds BOOLEAN",
        )
        return start_available_now(
            stream.writeStream.foreachBatch(sink), os.path.join(work, "ckpt")
        )

    return _replay(spark, src, start, lambda work: read_b_device(spark, work))


QUERIES["s9_stream_partial_upsert"] = _s9


def _s9_oracle() -> str:
    from zg_etl_spark.plans.pipeline import ORACLE as _PIPE_ORACLE

    # identical final state to the three-call batch composition
    return _PIPE_ORACLE["w9_partial_upsert"]


ORACLE["s9_stream_partial_upsert"] = _s9_oracle()


# ---------------------------------------------------------------------------
# s10: the deep-conversion status-key gate as it ACTUALLY runs in the
# reference — per-(eid, lid) TTL'd keys updated event-by-event
# (AdvConvertEventFlatMapFunction.java:247-275) — as a custom stateful
# operator (streaming/deep_convert.py, applyInPandasWithState keyed by
# (app_id, lid), event-time TTL, own key refreshed before the check).
# The candidate stream is p49's shared candidate relation
# (plans/pipeline.py p49_candidates_sql) replayed in seq order (seq is
# ct-monotone, so arrival order = event-time order, the Kafka contract);
# the final per-rule aggregate is p49's shared envelope/aggregate SQL
# over the emitted decisions. Oracle: p49's batch forward-fill verbatim —
# the sequential state machine and the set-based window formulation must
# land on identical aggregates.
# ---------------------------------------------------------------------------
def _s10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.plans.pipeline import p49_candidates_sql, p49_final_sql
    from zg_etl_spark.streaming.deep_convert import deep_convert_gate

    src = _seq_ordered_source(
        spark, sf_dir, "s10_src",
        "SELECT app_id, lid, event_name, event_type, is_multi, "
        "CAST(purchase_window AS BIGINT) AS purchase_window, "
        "CAST(click_window AS BIGINT) AS click_window, "
        "ct, seq, touch_ct, touch_k "
        f"FROM ({p49_candidates_sql(SPARK)}) q",
    )
    gated = deep_convert_gate(file_stream(
        spark, src,
        "app_id BIGINT, lid BIGINT, event_name STRING, "
        "event_type STRING, is_multi BOOLEAN, "
        "purchase_window BIGINT, click_window BIGINT, "
        "ct BIGINT, seq BIGINT, touch_ct BIGINT, touch_k BIGINT",
    ))

    def start(work: str):
        store = os.path.join(work, "decisions")

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").parquet(store)

        return start_available_now(
            gated.writeStream.outputMode("append").foreachBatch(sink),
            os.path.join(work, "ckpt"),
        )

    def read(work: str) -> DataFrame:
        # a path relation, not a temp view: nothing session-global to drop
        decisions = os.path.join(work, "decisions")
        return spark.sql(p49_final_sql(SPARK, f"SELECT * FROM parquet.`{decisions}`"))

    return _replay(spark, src, start, read)


QUERIES["s10_streaming_deep_convert"] = _s10


def _s10_oracle() -> str:
    from zg_etl_spark.plans.pipeline import ORACLE as _PIPE_ORACLE

    # identical aggregate to the batch forward-fill gate
    return _PIPE_ORACLE["p49_adv_deep_convert"]


ORACLE["s10_streaming_deep_convert"] = _s10_oracle()
