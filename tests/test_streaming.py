"""Structured-Streaming wrapper tests.

Property under test (SURVEY.md §2.9, §7 step 10): the streaming pipeline
run over time-ordered micro-batches assigns exactly the same device IDs as
the batch pipeline over the union — i.e. the per-batch get-or-create MERGE
reproduces KVRocks HSETNX get-or-create semantics deterministically.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from zg_etl_spark.streaming import (
    MappingStore,
    incremental_device_ids,
    start_event_counts_stream,
    start_identity_stream,
)

SCHEMA = "event_id BIGINT, app_id BIGINT, did STRING, ct BIGINT, seq BIGINT, event_type STRING"

ROWS_B1 = [
    # (event_id, app_id, did, ct, seq, event_type)
    (1, 1, "d1", 60_000, 1, "click"),
    (2, 1, "d2", 61_000, 2, "view"),
    (3, 2, "d1", 62_000, 3, "click"),
]
ROWS_B2 = [
    # ts 600s+: far enough ahead that batch 2's watermark (600s - 2min)
    # closes batch 1's [60s,120s) windows in append mode
    (4, 1, "d1", 600_000, 4, "click"),   # existing mapping must be reused
    (5, 1, "d3", 601_000, 5, "view"),    # new device continues the sequence
    (6, 2, "d9", 602_000, 6, "click"),
]


def write_batch_files(dfs, src, start: int = 0) -> None:
    """N single-file parquet batches ``b{i}.parquet`` with EXPLICIT
    increasing mtimes — the file stream source orders by modification
    time, so implicit write-order mtimes are a flake waiting to happen
    (and the source does not recurse into df.write.parquet's layout).
    ``start`` offsets the file index/mtime so a second call can append
    later batches to a directory an earlier call populated."""
    import glob
    import os
    import shutil

    for i, df in enumerate(dfs, start=start):
        stage = os.path.join(str(src), f"_stage{i}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(str(src), f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        shutil.rmtree(stage)


@pytest.fixture
def batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    write_batch_files(
        [spark.createDataFrame(rows, SCHEMA) for rows in (ROWS_B1, ROWS_B2)],
        src,
    )
    return src


def test_incremental_matches_batch(spark, tmp_path):
    b1 = spark.createDataFrame(ROWS_B1, SCHEMA)
    b2 = spark.createDataFrame(ROWS_B2, SCHEMA)
    store = MappingStore(spark, str(tmp_path / "map"), key_col="did", id_col="zg_did")

    # materialize each batch's result before the next merge overwrites the
    # store files it references — exactly what the foreachBatch sink does
    streaming = {}
    for b in (b1, b2):
        for row in (
            incremental_device_ids(store, b)
            .select("app_id", "did", "zg_did")
            .collect()
        ):
            streaming[(row.app_id, row.did)] = row.zg_did

    # batch reference: dense_rank over first-seen order per app
    union = b1.unionByName(b2)
    from pyspark.sql.window import Window

    first = union.groupBy("app_id", "did").agg(F.min("seq").alias("first_seq"))
    w = Window.partitionBy("app_id").orderBy("first_seq")
    batch = {
        (row.app_id, row.did): row.zg_did
        for row in first.withColumn(
            "zg_did", F.lit(100_000) + F.dense_rank().over(w)
        ).collect()
    }
    assert streaming == batch
    # cross-batch reuse: d1/app1 appears in both batches with ONE id
    assert streaming[(1, "d1")] == batch[(1, "d1")]


def test_tied_seq_new_keys_get_distinct_ids(spark, tmp_path):
    """Two NEW keys arriving with the SAME min-seq (duplicate seq values —
    e.g. replayed offsets) must still receive distinct ids: dense_rank over
    first_seq alone collided them onto one id."""
    store = MappingStore(spark, str(tmp_path / "map"), key_col="did", id_col="zg_did")
    b = spark.createDataFrame(
        [(1, 1, "dx", 1_000, 7, "click"), (2, 1, "dy", 1_001, 7, "view")],
        SCHEMA,
    )
    ids = {
        r.did: r.zg_did
        for r in incremental_device_ids(store, b).select("did", "zg_did").collect()
    }
    assert ids["dx"] != ids["dy"]
    assert sorted(ids.values()) == [100_001, 100_002]


def test_mapping_store_append_only(spark, tmp_path):
    """merge() must write O(new keys), not a full store rewrite: each delta
    dir holds only that batch's assignments, and a compaction snapshot
    bounds read fan-in without touching prior deltas."""
    import os

    path = str(tmp_path / "map")
    store = MappingStore(spark, path, key_col="did", id_col="zg_did")
    for i in range(store.COMPACT_EVERY + 2):
        b = spark.createDataFrame(
            [(i, 1, f"d{i}", 1_000 + i, i, "click")], SCHEMA
        )
        incremental_device_ids(store, b)
    deltas = [d for d in os.listdir(path) if d.startswith("v")]
    snaps = [d for d in os.listdir(path) if d.startswith("s")]
    assert len(deltas) == store.COMPACT_EVERY + 2
    assert snaps, "compaction snapshot expected after COMPACT_EVERY merges"
    # each delta holds exactly its batch's one new key (no rewrite)
    for d in deltas:
        assert spark.read.parquet(os.path.join(path, d)).count() == 1
    # and the assembled state is complete and duplicate-free
    state = store.read()
    assert state.count() == store.COMPACT_EVERY + 2
    assert state.select("did").distinct().count() == store.COMPACT_EVERY + 2


def test_identity_stream_end_to_end(spark, batches, tmp_path):
    q = start_identity_stream(
        spark,
        source_dir=str(batches),
        schema=SCHEMA,
        store_path=str(tmp_path / "store"),
        output_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    out = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out")
    )
    rows = {(r.app_id, r.did): r.zg_did for r in out.collect()}
    assert len(out.collect()) == 6
    # every event got an id; same (app, did) → same id across batches
    assert all(v is not None for v in rows.values())
    per_app1 = sorted(v for (a, _), v in rows.items() if a == 1)
    assert per_app1[0] == 100_001  # ids continue deterministically from offset


def test_event_counts_watermark_stream(spark, batches, tmp_path):
    q = start_event_counts_stream(
        spark,
        source_dir=str(batches),
        schema=SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        query_name="evt_counts_test",
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT win.start, app_id, event_type, count FROM evt_counts_test"
    ).collect()
    # batch 2's watermark (600s - 2min = 480s) closes batch 1's [60s,120s)
    # windows; batch 2's own windows stay open (append-mode semantics)
    counted = {(r.app_id, r.event_type): r["count"] for r in out}
    assert counted[(1, "click")] == 1
    assert counted[(1, "view")] == 1
    assert counted[(2, "click")] == 1


def test_zgid_stream_binding_rules(spark, tmp_path):
    """Crafted 4-batch ordering pinning the I5 rules: anonymous device
    later identified re-points to the user zgid; an already-bound device
    NEVER re-binds to a second cuid (no zgid merge); two devices sharing
    one cuid share its zgid; a never-identified device keeps the
    device-rooted zgid."""
    import os

    from zg_etl_spark.streaming.engine import start_zgid_stream, zgid_result

    rows_per_batch = [
        # (event_id, app_id, did, cuid, seq)
        [(1, 1, "dA", None, 1),        # dA anonymous
         (2, 1, "dB", "u1", 2)],       # dB binds u1  -> u1 = first user id
        [(3, 1, "dA", "u2", 3)],       # dA identified later -> binds u2
        [(4, 1, "dA", "u1", 4),        # dA sees a second cuid: must NOT rebind
         (5, 1, "dC", "u1", 5)],       # dC shares u1 -> same zgid as dB
        [(6, 1, "dD", None, 6)],       # dD never identified
    ]
    src = tmp_path / "src"
    os.makedirs(src)
    write_batch_files(
        [
            spark.createDataFrame(
                rows,
                "event_id BIGINT, app_id BIGINT, did STRING, "
                "cuid STRING, seq BIGINT",
            )
            for rows in rows_per_batch
        ],
        src,
    )

    q, dev, uid, bind = start_zgid_stream(
        spark,
        source_dir=str(src),
        schema="event_id BIGINT, app_id BIGINT, did STRING, cuid STRING, seq BIGINT",
        dev_store_path=str(tmp_path / "dev"),
        uid_store_path=str(tmp_path / "uid"),
        bind_store_path=str(tmp_path / "bind"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    out = {r.did: r for r in zgid_result(dev, uid, bind).collect()}

    assert out["dA"].bound_cuid == "u2"          # re-pointed on first login...
    assert out["dB"].bound_cuid == "u1"
    assert out["dC"].bound_cuid == "u1"
    assert out["dC"].zg_id == out["dB"].zg_id    # shared user -> shared zgid
    assert out["dA"].zg_id != out["dB"].zg_id    # ...but never re-bound to u1
    assert out["dD"].bound_cuid is None
    assert out["dD"].zg_id == 900_000 + out["dD"].zg_did  # device-rooted


def test_kafka_envelope_projection(spark):
    """The Kafka deserializer (ZGMsgSchema parity) as a pure transform:
    binary JSON values + record metadata → typed envelope columns. Runs
    on a batch DataFrame with the connector's exact output shape, so the
    S1/S2 parse path is exercised without a broker."""
    from zg_etl_spark.streaming.kafka import envelope_projection

    raw = spark.createDataFrame(
        [
            ("sdk_events", 0, 7, b"ak_1", b'{"ak": "ak_1", "pl": "ios", "ct": 1700000000000}'),
            ("sdk_events", 1, 9, None, b"not json at all"),
        ],
        "topic STRING, partition INT, offset BIGINT, key BINARY, value BINARY",
    )
    out = envelope_projection(raw, "ak STRING, pl STRING, ct BIGINT")
    rows = {r.offset: r for r in out.collect()}
    assert rows[7].msg_key == "ak_1"
    assert (rows[7].ak, rows[7].pl, rows[7].ct) == ("ak_1", "ios", 1700000000000)
    assert rows[7].topic == "sdk_events" and rows[7].partition == 0
    # malformed payload -> NULL envelope columns (PERMISSIVE), record kept
    assert rows[9].ak is None and rows[9].pl is None


def test_kafka_sink_builder_shape(spark, tmp_path):
    """kafka_sink serializes every column to a JSON value (+ optional key)
    and configures the kafka writer — asserted without start()ing, since
    the connector jar isn't bundled here."""
    from zg_etl_spark.streaming.kafka import kafka_sink

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    writer = kafka_sink(
        stream.selectExpr("CAST(value AS BIGINT) AS v", "'a' AS app"),
        servers="broker:9092",
        topic="stage_out",
        checkpoint_dir=str(tmp_path / "ck"),
        key_col="app",
    )
    # the projected plan must be (key, value) with value = JSON of all cols
    df = writer._df
    assert [f.name for f in df.schema.fields] == ["key", "value"]
    row = (
        spark.createDataFrame([(5, "a")], "v BIGINT, app STRING")
        .selectExpr("CAST(app AS STRING) AS key", "to_json(struct(v, app)) AS value")
        .first()
    )
    assert row.value == '{"v":5,"app":"a"}'


def test_s7_join_reaches_across_micro_batches(spark):
    """The s7 stream-stream join's whole point is that purchase rows in
    micro-batch 2 still find click state from micro-batch 1 (the source
    files are cut by event time). Assert at least one emitted pair spans
    the cut — otherwise the test would pass with per-batch joins and the
    watermarked-state machinery would be dead weight."""
    from zg_etl_spark.plans.streaming_queries import QUERIES
    from zg_etl_spark.session import materialize

    sf_dir = "/root/testdata/sf0.001"
    result = QUERIES["s7_stream_stream_join"](spark, sf_dir).localCheckpoint()
    # the run's source dir, read back through the registry (never rebuilt)
    src = materialize(spark, sf_dir, "s7_src",
                      lambda: pytest.fail("s7_src not registered"))
    b0 = spark.read.parquet(src + "/b0.parquet")
    clicks_b0 = b0.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id"
    )
    spanning = (
        result.join(clicks_b0, "click_id")
        .join(
            spark.read.parquet(src + "/b1.parquet")
            .selectExpr("event_id AS purchase_id"),
            "purchase_id",
        )
        .count()
    )
    assert spanning > 0, "no join pair crossed the micro-batch boundary"
    # and the delays respect the declared [0, 2h] window
    bad = result.filter(
        (F.col("delay_us") < 0) | (F.col("delay_us") > 2 * 3600 * 1_000_000)
    ).count()
    assert bad == 0


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """s6's docstring claims dropDuplicatesWithinWatermark is the
    bounded-state deployment path; prove BOTH halves of that claim:
    a replay arriving while the original's dedup state is inside the
    watermark window is suppressed, and a redelivery arriving after the
    watermark has expired that state is re-emitted — the explicit trade
    the ±7d validity window makes safe. Phasing notes this test also
    pins: the watermark only advances AFTER a batch completes (so the
    expiring jump and the redelivery must be separate batches), and a
    replay whose event time is already below the watermark is dropped
    as late data rather than matched against state."""
    import uuid as _uuid

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # (uuid, event-time seconds); times start at 3600 so nothing sits
        # at the initial watermark (epoch 0), where rows drop as late
        [("a", 3600), ("b", 3660)],
        # replay "a" while watermark (3660 - 600) still holds its state
        [("a", 3600), ("c", 3720)],
        # advance the watermark past a/b state (10800 - 600 >> 3660+600);
        # the new watermark takes effect at the END of this batch, and
        # the eviction it allows runs during the NEXT batch — hence the
        # spacer before the redelivery
        [("d", 10800)],
        [("e", 10860)],
        # redelivery of "b" with its OWN later timestamp: state expired
        # -> re-emitted
        [("b", 11000)],
    ]
    write_batch_files(
        [
            spark.createDataFrame(
                [(u, t * 1_000_000) for u, t in rows], "uuid string, t_us long"
            ).selectExpr("uuid", "timestamp_micros(t_us) AS ts")
            for rows in batches
        ],
        src,
    )

    name = "wmdedup_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.schema("uuid string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["uuid"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    emitted = [r.uuid for r in spark.table(name).collect()]
    # in-window replay of "a" suppressed; expired replay of "b" re-emitted
    assert sorted(emitted) == ["a", "b", "b", "c", "d", "e"], emitted
    # the state metric must stay BOUNDED: eviction ran, so the final
    # batch's state holds only the uuids inside the watermark window —
    # strictly fewer than the 5 distinct uuids ever seen (the unbounded
    # dropDuplicates store would hold all of them forever)
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("stateOperators")
    ]
    assert state_rows, "no state-operator progress recorded"
    assert state_rows[-1] < 5, state_rows
    assert max(state_rows) <= 5, state_rows


def test_deep_convert_stream_equals_batch_gate(spark, sf_dir):
    """s10's sequential TTL'd-key state machine must land on exactly the
    batch forward-fill's aggregates (p49) — same rows, same values. The
    batch side is itself pinned by the sequential simulation in
    test_independent_oracles.py, so agreement here chains the streaming
    operator to the reference's per-event Redis semantics."""
    from zg_etl_spark import plans

    qs = plans.all_queries()
    key = ["app_id", "lid", "event_name", "event_type"]
    stream = {tuple(r[k] for k in key): r.asDict()
              for r in qs["s10_streaming_deep_convert"](spark, sf_dir).collect()}
    batch = {tuple(r[k] for k in key): r.asDict()
             for r in qs["p49_adv_deep_convert"](spark, sf_dir).collect()}
    assert stream == batch
    assert any(v["n_blocked"] > 0 for v in stream.values())
    assert any(v["n_sent"] > 0 for v in stream.values())
