"""Tests of the benchmark's input generator and metric lists (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.inputs import KEY_COLUMNS, Batches, query_order, resample_events
from perfbench.layers import END_TO_END, PER_LAYER
from perfbench.tracing import Span, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def sf_dir(tmp_path):
    """A small read-only table directory in the package layout."""
    from zg_etl_spark.sources.tables import TABLES

    src = tmp_path / "sf"
    src.mkdir()
    events = pa.table({
        "event_id": pa.array(range(500), pa.int64()),
        "ts": pa.array([1_700_000_000_000_000 + 7919 * i for i in range(500)],
                       pa.timestamp("us")),
        "user_id": pa.array([i % 37 for i in range(500)], pa.int64()),
        "event_type": pa.array(["view", "click"] * 250),
        "value": pa.array([i * 0.5 for i in range(500)], pa.float64()),
        "props": pa.array([f'{{"k": {i % 13}}}' for i in range(500)]),
    })
    pq.write_table(events, src / "events.parquet")
    for name in TABLES:
        if name != "events":
            pq.write_table(pa.table({"k": [1]}), src / f"{name}.parquet")
    for p in src.iterdir():
        p.chmod(0o444)
    return str(src)


def make_batches(sf_dir, out_dir, rows, seed, count):
    batches = Batches(sf_dir, out_dir, rows, seed)
    return [batches.path(i) for i in range(count)]


def _snapshot(path):
    return {
        os.path.join(d, f): (os.stat(os.path.join(d, f)).st_size,
                             os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(path) for f in files
    }


def _batch_bytes(dirs):
    out = []
    for d in dirs:
        with open(os.path.join(d, "events.parquet"), "rb") as fh:
            out.append(fh.read())
    return out


def test_same_seed_gives_byte_identical_batches(sf_dir, tmp_path):
    a = make_batches(sf_dir, str(tmp_path / "a"), rows=200, seed=7, count=3)
    b = make_batches(sf_dir, str(tmp_path / "b"), rows=200, seed=7, count=3)
    assert _batch_bytes(a) == _batch_bytes(b)


def test_different_seeds_give_different_batches(sf_dir, tmp_path):
    a = make_batches(sf_dir, str(tmp_path / "a"), rows=200, seed=7, count=2)
    b = make_batches(sf_dir, str(tmp_path / "b"), rows=200, seed=8, count=2)
    assert _batch_bytes(a)[0] != _batch_bytes(b)[0]
    # batches of one run differ from each other too
    assert _batch_bytes(a)[0] != _batch_bytes(a)[1]


def test_batches_renumber_event_ids_over_the_same_range(sf_dir):
    source = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    for index in range(3):
        batch = resample_events(source, 300, seed=1, index=index)
        assert batch.column("event_id").to_pylist() == list(range(300))
        assert batch.schema == source.schema


def test_key_columns_repeat_across_the_batches_of_a_run(sf_dir):
    """Every batch of a run covers the same wide-table keys; the other
    columns are drawn afresh per batch, and the key frame changes with the
    seed."""
    source = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    a0, a1 = (resample_events(source, 300, seed=1, index=i) for i in range(2))
    for name in KEY_COLUMNS:
        assert a0.column(name).equals(a1.column(name))
    assert not a0.column("value").equals(a1.column("value"))
    b0 = resample_events(source, 300, seed=2, index=0)
    assert not a0.column("ts").equals(b0.column("ts"))


def test_nothing_is_written_under_the_source_tables(sf_dir, tmp_path):
    before = _snapshot(sf_dir)
    dirs = make_batches(sf_dir, str(tmp_path / "run"), rows=100, seed=3, count=2)
    assert _snapshot(sf_dir) == before
    for d in dirs:
        assert os.path.realpath(d).startswith(str(tmp_path / "run"))
        # the other tables are links to the sources, never copies
        assert os.path.islink(os.path.join(d, "orders.parquet"))
        assert not os.path.islink(os.path.join(d, "events.parquet"))


def test_package_tables_are_never_written(tmp_path):
    """A run's batches, made from the package's default tables, leave those
    tables as they were."""
    from zg_etl_spark.sources.tables import DEFAULT_SF_DIR

    if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, "events.parquet")):
        pytest.skip("package tables not present")
    before = _snapshot(DEFAULT_SF_DIR)
    make_batches(DEFAULT_SF_DIR, str(tmp_path / "run"), rows=1000, seed=5, count=2)
    assert _snapshot(DEFAULT_SF_DIR) == before


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(30)]
    assert query_order(names, 1, 0) == query_order(list(reversed(names)), 1, 0)
    assert sorted(query_order(names, 1, 0)) == sorted(names)
    assert query_order(names, 1, 0) != query_order(names, 2, 0)
    assert query_order(names, 1, 0) != query_order(names, 1, 1)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = lambda key: [(m["name"], m["unit"], m["better"]) for m in bench[key]]  # noqa: E731
    assert declared("end_to_end") == END_TO_END
    assert declared("per_layer") == PER_LAYER
    assert {m["name"] for m in bench["workloads"]} == {"ingest", "dashboard"}


def test_oracle_counts_are_kept_per_sql_and_tables(sf_dir, tmp_path, monkeypatch):
    import zg_etl_spark.oracle as oracle
    from perfbench.workloads import oracle_counts

    cache = tmp_path / "cache"
    cache.mkdir()
    oracles = {"a": "SELECT * FROM events WHERE user_id < 5", "b": "SELECT * FROM orders"}
    assert oracle_counts(sf_dir, oracles, str(cache)) == {"a": 70, "b": 1}

    def no_duckdb(sf_dir):
        raise AssertionError("counts were computed again")

    real = oracle.duck_connection
    monkeypatch.setattr(oracle, "duck_connection", no_duckdb)
    assert oracle_counts(sf_dir, oracles, str(cache)) == {"a": 70, "b": 1}
    # other SQL, or other table bytes, are counted afresh
    monkeypatch.setattr(oracle, "duck_connection", real)
    assert oracle_counts(sf_dir, {"a": "SELECT * FROM events"}, str(cache)) == {"a": 500}
    moved = tmp_path / "sf2"
    moved.mkdir()
    for p in os.listdir(sf_dir):
        pq.write_table(pq.read_table(os.path.join(sf_dir, p)).slice(0, 10),
                       moved / p)
    assert oracle_counts(str(moved), oracles, str(cache)) == {"a": 5, "b": 1}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "op", "bench", 0.0, 10.0, None, 0),
        Span(2, "a", "sources", 1.0, 4.0, 1, 0),
        Span(3, "b", "sinks", 3.0, 6.0, 1, 0),   # overlaps a (another thread)
        Span(4, "c", "sources", 2.0, 3.0, 2, 0),
    ]
    got = self_times(spans)
    assert got["bench"] == pytest.approx(10.0 - 5.0)
    assert got["sources"] == pytest.approx((3.0 - 1.0) + 1.0)
    assert got["sinks"] == pytest.approx(3.0)


def test_traced_run_reports_every_per_layer_metric():
    from perfbench.layers import per_layer
    from perfbench.tracing import Tracer
    from perfbench.workloads import Op

    class _Exec:
        def persistent_rdds(self):
            return 3

    tracer = Tracer()
    tracer.exec = _Exec()
    tracer.spans = [Span(1, "ingest.op", "bench", 0.0, 2.0, None, 0,
                         {"jobs": 5, "stages": 6, "tasks": 7, "failed": 0})]
    op = Op("ingest", 2.0, True, detail={"files": 2, "bytes": 10, "input_bytes": 20})
    rounds = [(False, 1.8, [Op("ingest", 1.8, True)]), (True, 2.0, [op])]
    setup = {"session.start_s": 1.0, "setup.inputs_s": 0.1, "setup.warmup_s": 5.0}
    got = per_layer(rounds, tracer, setup, gc_s=0.2, heap_peak_mb=100.0, rss_peak_mb=50.0)
    assert list(got) == [name for name, _, _ in PER_LAYER]
    assert got["exec.tasks_per_op"]["value"] == 7
    assert got["sinks.bytes_written_per_input_byte"]["value"] == pytest.approx(0.5)
    assert got["trace.overhead_ratio"]["value"] == pytest.approx(2.0 / 1.8)
