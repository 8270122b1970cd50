"""The failure path of an s-query replay: a stream run that does not
finish in time must raise and leave nothing behind — no scratch dir, no
memory-sink view, and the session's shuffle.partitions as it was."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql.streaming import StreamingQuery

# s3 and s6 write to a memory sink, s4 (the dashboard's s-query) to files
TIMED_OUT = ("s3_streaming_counts", "s4_streaming_route", "s6_streaming_dedup")


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
