"""The failure path of the write-path queries: an s-query whose stream
run does not finish in time, or a w-query whose sink write raises, must
raise and leave nothing behind — no scratch dir, no temp view outside
the materialization registry, and the session's settings as they were."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.streaming import StreamingQuery

from zg_etl_spark import session

# s3 and s6 write to a memory sink, s4 (the dashboard's s-query) to files
TIMED_OUT = ("s3_streaming_counts", "s4_streaming_route", "s6_streaming_dedup")
# every w-query that writes under the shared scratch lifecycle
SINK_FAILS = ("w1_upsert_writer", "w3_compat_csv_roundtrip",
              "w4_partition_overwrite", "w5_compaction", "w6_delete_sign",
              "w7_schema_evolution", "w8_retention_sweep", "w9_partial_upsert")
CONFS = ("spark.sql.shuffle.partitions",
         "spark.sql.sources.partitionOverwriteMode")


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_timed_out_replay_leaves_nothing_behind(spark, sf_dir, tmp_path, monkeypatch):
    from zg_etl_spark.plans.streaming_queries import QUERIES

    # the stream sources are registry entries that outlive every run:
    # one normal run each builds them before anything is counted
    for name in TIMED_OUT:
        QUERIES[name](spark, sf_dir)
    views = _temp_views(spark)
    active = {q.id for q in spark.streams.active}
    partitions = spark.conf.get("spark.sql.shuffle.partitions")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    for name in TIMED_OUT:
        with pytest.raises(RuntimeError, match="did not finish"):
            QUERIES[name](spark, sf_dir)
    left = {
        "dirs": sorted(p.name for p in tmp_path.iterdir()),
        "views": sorted(_temp_views(spark) - views),
        "queries": sorted(q.name or q.id for q in spark.streams.active
                          if q.id not in active),
        "shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    assert left == {"dirs": [], "views": [], "queries": [],
                    "shuffle.partitions": partitions}


def test_failed_sink_write_leaves_nothing_behind(spark, sf_dir, tmp_path, monkeypatch):
    from zg_etl_spark.plans.pipeline import QUERIES

    views = _temp_views(spark)
    confs = {k: spark.conf.get(k, None) for k in CONFS}

    def sink_down(self, path, *args, **kwargs):
        raise OSError(f"sink down: {path}")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(DataFrameWriter, "parquet", sink_down)
    monkeypatch.setattr(DataFrameWriter, "csv", sink_down)
    for name in SINK_FAILS:
        with pytest.raises(OSError, match="sink down"):
            QUERIES[name](spark, sf_dir)
    registry = {name for (_, _, name) in session._ENTRIES}
    left = {
        "dirs": sorted(p.name for p in tmp_path.iterdir()),
        "views": sorted(_temp_views(spark) - views - registry),
        "confs": {k: spark.conf.get(k, None) for k in CONFS},
    }
    assert left == {"dirs": [], "views": [], "confs": confs}
