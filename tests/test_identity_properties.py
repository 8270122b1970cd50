"""Property-based tests for identity resolution (SURVEY.md §5.4).

Random event interleavings must satisfy the invariants of the reference's
one-ID merge (service/OneIdService.java:420-435):
  1. a device maps to exactly one zg_did and one zg_id;
  2. a cuid maps to exactly one zg_uid; identified rows share its zgid;
  3. a device never bound to any cuid keeps its device-derived zgid;
  4. a device bound to a cuid adopts that user's zgid (identified wins);
  5. the assignment is a pure function of the (app, key, first-seen order)
     set — row order permutations change nothing.

The test executes the REAL stage SQL from operators/domain.py against a
synthetic gate_ok relation, so it exercises the same plans the pipeline
runs, not a reimplementation.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from zg_etl_spark.operators.domain import SPARK, stages

IDENTITY_STAGES = [
    "did_first", "did_ids", "cuid_first", "uid_ids",
    "dev_first_cuid", "device_zgid",
]


@pytest.fixture(scope="module")
def spark(spark):
    """A session of its own on the shared context: the synthetic gate_ok
    and identity-stage temp views stay out of the suite's session, where
    the materialization registry owns those names for the live spine."""
    return spark.newSession()


ROW = st.tuples(
    st.integers(min_value=1, max_value=2),              # app_id
    st.integers(min_value=0, max_value=5),              # device index
    st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # cuid idx
)


def _resolve(spark, rows):
    """rows: list[(app_id, did_idx, cuid_idx|None)] → mapping dicts."""
    data = [
        (app, f"d{d}", f"c{c}" if c is not None else None, i + 1)
        for i, (app, d, c) in enumerate(rows)
    ]
    spark.createDataFrame(
        data, "app_id BIGINT, did STRING, cuid STRING, seq BIGINT"
    ).createOrReplaceTempView("gate_ok")
    stage_sql = dict(stages(SPARK))
    for name in IDENTITY_STAGES:
        spark.sql(stage_sql[name]).createOrReplaceTempView(name)
    dz = spark.table("device_zgid").collect()
    uid = {(r.app_id, r.cuid): r.zg_uid for r in spark.table("uid_ids").collect()}
    return dz, uid


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(ROW, min_size=1, max_size=25))
def test_zgid_invariants(spark, rows):
    dz, uid = _resolve(spark, rows)

    # 1. one row (one zg_did, one zg_id) per (app, did)
    keys = [(r.app_id, r.did) for r in dz]
    assert len(keys) == len(set(keys))

    first_cuid: dict = {}
    seen_devices = set()
    for app, d, c in rows:
        key = (app, f"d{d}")
        seen_devices.add(key)
        if c is not None and key not in first_cuid:
            first_cuid[key] = f"c{c}"

    assert {(r.app_id, r.did) for r in dz} == seen_devices

    for r in dz:
        bound = first_cuid.get((r.app_id, r.did))
        if bound is None:
            # 3. anonymous device: device-derived zgid namespace
            assert r.bound_cuid is None
            assert r.zg_id == 900_000 + r.zg_did
        else:
            # 4. identified wins: user's zgid, user namespace
            assert r.bound_cuid == bound
            assert r.zg_id == 300_000 + uid[(r.app_id, bound)]

    # 2. a cuid has exactly one zgid across all its devices
    by_cuid: dict = {}
    for r in dz:
        if r.bound_cuid is not None:
            by_cuid.setdefault((r.app_id, r.bound_cuid), set()).add(r.zg_id)
    assert all(len(v) == 1 for v in by_cuid.values())


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(ROW, min_size=2, max_size=15), st.randoms())
def test_order_permutation_invariance(spark, rows, rnd):
    """Permuting row storage order (seq values fixed to the original
    positions) must not change any assignment — the batch semantics are a
    function of the set, not the physical order."""
    base = [
        (app, f"d{d}", f"c{c}" if c is not None else None, i + 1)
        for i, (app, d, c) in enumerate(rows)
    ]
    shuffled = list(base)
    rnd.shuffle(shuffled)

    results = []
    for data in (base, shuffled):
        spark.createDataFrame(
            data, "app_id BIGINT, did STRING, cuid STRING, seq BIGINT"
        ).createOrReplaceTempView("gate_ok")
        stage_sql = dict(stages(SPARK))
        for name in IDENTITY_STAGES:
            spark.sql(stage_sql[name]).createOrReplaceTempView(name)
        results.append(
            sorted(
                (r.app_id, r.did, r.zg_did, r.bound_cuid, r.zg_id)
                for r in spark.table("device_zgid").collect()
            )
        )
    assert results[0] == results[1]
