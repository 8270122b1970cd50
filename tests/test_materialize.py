"""The session's materialization registry (session.materialize) and the
source fan-out rule (sources.tables.fan_out).

The registry holds one live sf_dir per session: asking for another
releases every entry of the old one (temp views, references, cleanups).
These tests pin that contract, run the queries whose shared state lives
in it across sf_dir switches against their oracles, and check that the
UA-parsed advertising-apps index and the write path's b_user and
b_device rows are each built once for all their readers, and that a
query builds only the shared relations it reads."""

from __future__ import annotations

import os
import shutil

import pytest

from zg_etl_spark import plans, session
from zg_etl_spark.dialect import SPARK
from zg_etl_spark.operators import domain
from zg_etl_spark.oracle import compare
from zg_etl_spark.session import materialize
from zg_etl_spark.sources.tables import fan_out, table_bytes

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _entry(spark, sf_dir, name):
    """Read an existing entry back; fails instead of building one."""
    return materialize(spark, sf_dir, name,
                       lambda: pytest.fail(f"{name} of {sf_dir} not registered"))


def test_switch_releases_the_live_set(spark):
    cleaned = []
    df = materialize(spark, "/nonexistent/a", "reg_df", lambda: spark.range(3))
    # a DataFrame entry comes back checkpointed and registered as a view
    assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()
    assert spark.table("reg_df").count() == 3
    assert materialize(spark, "/nonexistent/a", "reg_dir", lambda: "x",
                       cleanup=cleaned.append) == "x"
    const = materialize(spark, None, "reg_const", object)
    # a second request is a memo hit: build does not run again
    assert _entry(spark, "/nonexistent/a", "reg_dir") == "x"

    assert materialize(spark, "/nonexistent/b", "reg_dir", lambda: "y",
                       cleanup=cleaned.append) == "y"
    assert cleaned == ["x"]
    assert not spark.catalog.tableExists("reg_df")
    # data-independent entries survive the switch
    assert _entry(spark, None, "reg_const") is const


def test_concurrent_builds_lose_no_entry(spark):
    """The spine builds independent entries on concurrent threads: with
    more threads than cores and a short switch interval, every entry a
    thread registers must still be there."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    n = 4 * (os.cpu_count() or 1)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n) as ex:
            got = list(ex.map(lambda i: materialize(
                spark, "/nonexistent/c", f"reg_n{i}", lambda: i), range(n),
                timeout=60))
    finally:
        sys.setswitchinterval(prev)
    assert got == list(range(n))
    assert [_entry(spark, "/nonexistent/c", f"reg_n{i}") for i in range(n)] == got


def test_alternating_sf_dirs_match_oracles(spark):
    """spine, the l5/l6 shared views, p54c's relations and s4's stream
    source, run on sf A, B, A in one session: every run matches its
    oracle, and the switch removes the old sf_dir's stream-source dir."""
    qs, oracles = plans.all_queries(), plans.all_oracles()
    names = ["p0_envelope", "l5_minhash_signatures", "l6_lsh_candidates",
             "p54c_candidates", "s4_streaming_route"]
    prev_src = None
    for sf in (SF_A, SF_B, SF_A):
        for name in names:
            ok, msg = compare(spark, sf, qs[name], oracles[name])
            assert ok, f"{name} at {sf}: {msg}"
        if prev_src is not None:
            assert not os.path.exists(prev_src), (
                f"{prev_src} outlived the switch away from its sf_dir")
        prev_src = _entry(spark, sf, "stream_src")
        assert os.path.isdir(prev_src)


def _count_builds(monkeypatch, name: str) -> list:
    """Record each time Spark is handed relation ``name``'s declared
    text: one call per build of its registry entry."""
    from pyspark.sql import SparkSession

    text = domain.RELATIONS[name].sql(SPARK)
    builds, sql = [], SparkSession.sql
    monkeypatch.setattr(SparkSession, "sql", lambda self, q, *a, **k: (
        q == text and builds.append(1), sql(self, q, *a, **k))[1])
    return builds


def test_adv_ua_index_builds_once(spark, monkeypatch):
    """The ad-click lane (p42, p52, the p54 family and p55) reads the one
    UA-parsed index."""
    builds = _count_builds(monkeypatch, "adv_ua")
    # start from an empty live set: any entry of another sf_dir releases
    # an index an earlier test left behind
    materialize(spark, SF_B, "reg_switch", lambda: 0)
    qs = plans.all_queries()
    for name in ("p42_adv_click_match", "p52_adv_ss_priority",
                 "p54c_candidates", "p54_click_consumption",
                 "p54d_replay_rollup", "p55_tencent_web_match"):
        qs[name](spark, SF_A).count()
    assert len(builds) == 1


@pytest.mark.parametrize("render,readers", [
    ("b_user_rows_sql", ("w1_upsert_writer", "w6_delete_sign",
                         "w7_schema_evolution", "s8_stream_upsert_delete")),
    ("b_device_obs_sql", ("w9_partial_upsert", "s9_stream_partial_upsert")),
])
def test_write_path_rows_build_once(spark, monkeypatch, render, readers):
    """The b_user writers read the one b_user_rows entry, and the
    b_device writers the one b_device_obs entry."""
    from zg_etl_spark.plans import pipeline

    sql = getattr(pipeline, render)
    relation, = [n for n, rel in domain.RELATIONS.items() if rel.sql is sql]
    builds = _count_builds(monkeypatch, relation)
    materialize(spark, SF_B, "reg_switch", lambda: 0)
    qs = plans.all_queries()
    for name in readers:
        qs[name](spark, SF_A).count()
    assert len(builds) == 1


def test_queries_build_only_what_they_read(spark, monkeypatch):
    """From an empty live set a query builds the relations its body
    reads and the ones those read, and nothing else; a warm call looks
    the live set up once."""
    qs = plans.all_queries()

    def built_by(name: str) -> set[str]:
        materialize(spark, SF_B, "reg_switch", lambda: 0)
        qs[name](spark, SF_A)
        return set(session.entries(spark, SF_A))

    p1 = built_by("p1_gate_errors")
    assert set(domain.closure(SPARK, ["gated"])) <= p1
    assert "resolved" not in p1
    # p45 reads only the source table
    assert built_by("p45_device_classify") == {"events"}
    # p55 reads the click records over the cached UA-parsed index, and
    # p54c scans the candidates: their closure and nothing else
    assert "adv_ua" in built_by("p55_tencent_web_match")
    assert built_by("p54c_candidates") == set(domain.closure(SPARK, ["p54_cands"]))
    l2 = built_by("l2_lang_id")
    assert {"documents", "l2_words"} <= l2 and "embeddings" not in l2

    calls, key = [], session.session_key
    monkeypatch.setattr(session, "session_key",
                        lambda s: calls.append(1) or key(s))
    domain.spark_pipeline_df(
        spark, SF_A, domain.BODIES["l2_lang_id"](SPARK)).count()
    assert len(calls) == 1


@pytest.mark.parametrize("sf", [SF_A, SF_B])
def test_fan_out_reads_directory_layout_like_single_file(spark, tmp_path, sf):
    """A table stored as a directory of part files fans out exactly like
    the same bytes stored as one file. Sizing a directory by its own
    entry (the inode size) used to leave directory inputs un-fanned."""
    single = os.path.join(sf, "events.parquet")
    layout = tmp_path / "events.parquet"
    layout.mkdir()
    shutil.copy(single, layout / "part-00000.parquet")
    (layout / "_SUCCESS").touch()
    assert table_bytes(str(layout)) == table_bytes(single) == os.path.getsize(single)

    want = fan_out(spark, sf, "events")
    got = fan_out(spark, str(tmp_path), "events")
    assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions()
    assert sorted(got.collect()) == sorted(want.collect())
