"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the package is made here from the workload
seed, into a run-scoped directory; the read-only source tables are never
written. The same seed gives byte-identical batch files and the same query
order; a different seed gives different ones.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from zg_etl_spark.sources.tables import TABLES


# columns that decide a batch's wide-table keys, besides event_id: app_id
# is user_id % 3 + 1, uuid hashes the event time and event_id, and
# event_type, user_id and props decide which rows pass the gate and which
# virtual events they yield. Only ``value`` is drawn afresh per batch.
KEY_COLUMNS = ("ts", "user_id", "event_type", "props")


def resample_events(source: pa.Table, rows: int, seed: int, index: int) -> pa.Table:
    """Batch ``index`` of a run seeded with ``seed``: ``rows`` events drawn
    with replacement from ``source``, with ``event_id`` renumbered
    0..rows-1. The key columns (KEY_COLUMNS) come from one draw per run,
    the same in every batch, and the other columns from a fresh draw per
    batch; so every batch covers nearly the same wide-table keys, and an
    upsert of successive batches merges into a table of bounded size
    instead of growing with the run."""
    def draw(stream: int) -> pa.Table:
        rng = np.random.default_rng([seed, stream])
        return source.take(pa.array(np.sort(rng.integers(0, source.num_rows, rows))))

    keys, batch = draw(0), draw(index + 1)
    for name in KEY_COLUMNS:
        i = batch.schema.get_field_index(name)
        batch = batch.set_column(i, batch.schema.field(i), keys.column(name))
    i = batch.schema.get_field_index("event_id")
    return batch.set_column(i, batch.schema.field(i),
                            pa.array(np.arange(rows, dtype=np.int64)))


def write_batch_dir(batch: pa.Table, sf_dir: str, out_dir: str) -> str:
    """A table directory in the package's ``<name>.parquet`` layout: the
    batch as ``events.parquet`` plus symlinks to the other read-only
    tables of ``sf_dir``."""
    os.makedirs(out_dir)
    pq.write_table(batch, os.path.join(out_dir, "events.parquet"))
    for name in TABLES:
        if name != "events":
            os.symlink(
                os.path.join(os.path.abspath(sf_dir), f"{name}.parquet"),
                os.path.join(out_dir, f"{name}.parquet"),
            )
    return out_dir


class Batches:
    """The batches of one run: batch ``i`` is written to ``out_dir/b<i>``
    the first time it is asked for."""

    def __init__(self, sf_dir: str, out_dir: str, rows: int, seed: int) -> None:
        self.sf_dir, self.out_dir, self.rows, self.seed = sf_dir, out_dir, rows, seed
        self.source = pq.read_table(os.path.join(sf_dir, "events.parquet"))

    def path(self, index: int) -> str:
        out = os.path.join(self.out_dir, f"b{index}")
        if not os.path.isdir(out):
            batch = resample_events(self.source, self.rows, self.seed, index)
            write_batch_dir(batch, self.sf_dir, out)
        return out


def query_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of one dashboard pass: every query once, shuffled by the
    seed and the pass number."""
    order = sorted(names)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order
