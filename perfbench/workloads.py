"""The benchmark's workloads: closed loop, one client thread, one op at a
time. Each workload calls the package's public functions on inputs made
from the seed (see inputs.py) and checks every timed op's output.

A workload has three phases, all driven by run.py:
``make_inputs`` and ``warm_up`` (both counted in ``setup_s``), then timed
``round`` calls. A round is one op for ``ingest`` and one pass over every
query for ``dashboard``; the traced run alternates traced and untraced
rounds.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from dataclasses import dataclass, field

from perfbench.inputs import Batches, query_order


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    module: str = ""
    detail: dict = field(default_factory=dict)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _dir_files(path: str) -> dict[str, tuple[float, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_mtime, st.st_size)
    return out


class Ingest:
    """Batch ETL. Each op takes a fresh seeded batch of events through the
    spine (``operators.domain.ensure_pipeline_views``: gate, identity,
    dictionaries, virtual attributes, enrichment), builds the
    ``p8_wide_table`` body with ``spark_pipeline_df`` and upserts it with
    ``sinks.upsert_table`` into one run-scoped table."""

    BATCH_ROWS = 10_000
    # batches written in set-up: enough for the warm-up op and the three
    # rounds of a traced run; any later op writes its batch before it starts
    SETUP_BATCHES = 4
    # UNIQUE KEY of the wide table: event_id repeats across batches (it is
    # renumbered per batch) and uuid tells a virtual event from its source
    # row; app_id is the partition column, as in the w1_upsert_writer sink
    KEYS = ["app_id", "event_id", "uuid"]
    PARTITIONS = ["app_id"]
    ORDER_COL = "begin_date"
    # the table may outgrow its size after the first upsert by this factor:
    # every batch draws its key columns from one per-run frame (inputs.py),
    # so later batches mostly update keys already there
    TABLE_GROWTH = 1.1
    SOURCE_ROWS = (
        "SELECT (SELECT COUNT(*) FROM events_dicted WHERE event_error_code = 0)"
        " + (SELECT COUNT(*) FROM resolved WHERE dt IN ('ss', 'se'))")

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int, tracer) -> None:
        from zg_etl_spark.operators.domain import SPARK
        from zg_etl_spark.plans.pipeline import _p8

        self.spark, self.sf_dir, self.run_dir = spark, sf_dir, run_dir
        self.seed, self.tracer = seed, tracer
        self.table = os.path.join(run_dir, "wide_table")
        self.body = _p8(SPARK)
        self.keys: set[tuple] = set()
        self.table_bound: int | None = None
        self.wide = None  # the last op's wide rows
        self.n_ops = 0

    def make_inputs(self) -> None:
        self.batches = Batches(self.sf_dir, os.path.join(self.run_dir, "batches"),
                               self.BATCH_ROWS, self.seed)
        for i in range(self.SETUP_BATCHES):
            self.batches.path(i)

    def finish(self, ops: list[Op]) -> None:
        """Ops are checked as they run."""

    def warm_up(self) -> None:
        """One op, which creates the table, then the same wide rows upserted
        again, so the first timed op finds the merge path it takes warm.
        Op time kept falling for two more ops; the run budget allows no
        more (README.md)."""
        from zg_etl_spark.sinks import upsert_table

        op = self.round()[0]
        t = time.perf_counter()
        if op.ok:
            upsert_table(self.spark, self.wide, self.table, keys=self.KEYS,
                         order_col=self.ORDER_COL, partition_cols=self.PARTITIONS)
        log(f"warm-up op {op.seconds:.2f}s, merge {time.perf_counter() - t:.2f}s")

    def round(self) -> list[Op]:
        from zg_etl_spark.operators.domain import (
            ensure_pipeline_views, spark_pipeline_df)
        from zg_etl_spark.sinks import upsert_table

        batch = self.batches.path(self.n_ops)
        op_id = self.n_ops
        self.n_ops += 1
        before = _dir_files(self.table) if self.tracer.enabled else {}
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id, "ingest.op"):
                ensure_pipeline_views(self.spark, batch)
                with self.tracer.span("plans.pipeline.wide", "plans"):
                    wide = spark_pipeline_df(self.spark, batch, self.body)
                    wide = self.wide = wide.localCheckpoint(eager=True)
                upsert_table(self.spark, wide, self.table, keys=self.KEYS,
                             order_col=self.ORDER_COL, partition_cols=self.PARTITIONS)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            log(f"ingest op {op_id} failed: {exc!r}"[:500])
            return [Op("ingest", time.perf_counter() - t0, False)]
        seconds = time.perf_counter() - t0

        # checks, outside the op time. Wide rows: p8 reads gate-clean
        # events_dicted rows plus the ss/se rows of resolved, and its LEFT
        # JOINs (attr_map, ip_ranges) must neither drop nor duplicate a
        # row, so its keys are distinct and as many as those source rows.
        # Table: after a keep-latest upsert its rows are exactly the union
        # of every key upserted so far, and that union stays bounded.
        keys = {tuple(r) for r in wide.select(*self.KEYS).collect()}
        self.keys |= keys
        n_source = self.spark.sql(self.SOURCE_ROWS).first()[0]
        n_table = self.spark.read.parquet(self.table).count()
        if self.table_bound is None:
            self.table_bound = int(self.TABLE_GROWTH * n_table)
        ok = (len(keys) == wide.count() == n_source
              and n_table == len(self.keys) <= self.table_bound)
        if not ok:
            log(f"ingest op {op_id} wrong: {len(keys)} keys, {n_source} source "
                f"rows, {n_table} table rows (bound {self.table_bound})")
        detail = {"table_rows": n_table}
        if self.tracer.enabled:
            after = _dir_files(self.table)
            new = [p for p, st in after.items() if before.get(p) != st
                   and p.endswith(".parquet")]
            detail["files"] = len(new)
            detail["bytes"] = sum(after[p][1] for p in new)
            detail["input_bytes"] = os.path.getsize(os.path.join(batch, "events.parquet"))
        return [Op("ingest", seconds, ok, detail=detail)]


class Dashboard:
    """The read surface: each op is one declared read query, forced with
    ``count()`` and checked against the row count of its DuckDB oracle.
    Every pass runs every query once, in an order shuffled by the seed."""

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int, tracer) -> None:
        # the fixed sf0.001 tables beside the package's default tables
        self.spark = spark
        self.sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.001")
        self.cache_dir = os.path.dirname(run_dir)
        self.seed, self.tracer = seed, tracer
        self.queries = dashboard_queries()
        self.passes = 0
        self.n_ops = 0

    def make_inputs(self) -> None:
        """The inputs are the fixed tables; nothing to generate."""

    def finish(self, ops: list[Op]) -> None:
        """Check every op's rows against the row count of its query's
        DuckDB oracle, after the timed phase."""
        from zg_etl_spark import plans

        oracles = {name: plans.all_oracles()[name] for name in self.queries}
        expected = oracle_counts(self.sf_dir, oracles, self.cache_dir)
        for op in ops:
            op.ok = op.ok and op.detail.get("rows") == expected[op.name]

    def warm_up(self) -> None:
        """The spine, then one pass in name order: a fixed order keeps the
        cold costs (first planning and codegen, memo builds) in the same
        place on every seed. A second, seeded warm-up pass did not narrow
        the spread of the timed pass (README.md)."""
        from zg_etl_spark.operators.domain import ensure_pipeline_views

        t = time.perf_counter()
        ensure_pipeline_views(self.spark, self.sf_dir)
        log(f"spine {time.perf_counter() - t:.2f}s")
        ops = self.round(sorted(self.queries))
        log(f"warm-up pass {sum(op.seconds for op in ops):.2f}s "
            f"{ {op.name.split('_')[0]: round(op.seconds, 2) for op in ops} }")

    def round(self, order: list[str] | None = None) -> list[Op]:
        import gc

        if order is None:
            order = query_order(list(self.queries), self.seed, self.passes)
            self.passes += 1
        ops = []
        for name in order:
            ops.append(self._op(name))
            gc.collect()
        return ops

    def _op(self, name: str) -> Op:
        module, fn = self.queries[name]
        tr = self.tracer
        op_id = self.n_ops
        self.n_ops += 1
        t0 = time.perf_counter()
        rows, ok = None, True
        try:
            with tr.op(op_id, f"dashboard.{name}"):
                with tr.span(f"plans.{module}.build", "plans"):
                    df = fn(self.spark, self.sf_dir)
                if tr.enabled:
                    with tr.span("plans.plan", "plans"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("plans.execute", "plans"):
                    rows = df.count()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            log(f"{name} failed: {exc!r}"[:500])
            ok = False
        return Op(name, time.perf_counter() - t0, ok, module=module, detail={"rows": rows})


# A fixed subset of the 120 declared read queries: every 16th of each
# module by name, except that the consume module's p54c stands in for p54
# (p54's first run took ~7 s, p54c's ~2 s, and both are memo hits after
# it), plus the s4 streaming route query, which keeps the streaming state
# layer on a measured workload. A subset, because a first pass over all
# 120 queries (cold planning, codegen and memo builds) takes longer than
# one benchmark run may.
DASHBOARD_QUERIES = {
    "relational": ("q10_set_ops", "q6_hash_agg"),
    "pipeline": ("p0_envelope", "p24_app_first_seen", "p39_baidu_eqid", "p53_ipv6_geo"),
    "consume": ("p54c_candidates",),
    "llm": ("l10_multimodal_binary", "l25_decontaminate", "l5_minhash_signatures"),
    "gate_queries": ("g1_wire_roundtrip",),
    "streaming_queries": ("s4_streaming_route",),
}


def dashboard_queries() -> dict[str, tuple[str, object]]:
    """name -> (declaring module, query function)."""
    import importlib

    return {
        name: (module, importlib.import_module(f"zg_etl_spark.plans.{module}").QUERIES[name])
        for module, names in DASHBOARD_QUERIES.items() for name in names
    }


def oracle_counts(sf_dir: str, oracles: dict[str, str], cache_dir: str) -> dict[str, int]:
    """Row counts of the oracle queries on ``sf_dir``'s tables. DuckDB takes
    ~5.5 s for the dashboard's, so the first run in a checkout keeps them
    in ``cache_dir``, under a hash of the SQL and of the tables' bytes."""
    from zg_etl_spark.oracle import duck_connection
    from zg_etl_spark.sources.tables import TABLES

    key = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode())
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as fh:
            key.update(fh.read())
    path = os.path.join(cache_dir, f"oracle-counts-{key.hexdigest()}.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        pass
    con = duck_connection(sf_dir)
    try:
        counts = {name: con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
                  for name, sql in oracles.items()}
    finally:
        con.close()
    with open(f"{path}.{os.getpid()}", "w") as fh:
        json.dump(counts, fh)
    os.replace(f"{path}.{os.getpid()}", path)
    return counts


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard}
