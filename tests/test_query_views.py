"""A query leaves no session temp view behind.

Temp-view names are global per session, so a query-local relation
registered by name outlives the query and can shadow or be shadowed by
another query's. Query-local relations are passed to ``spark.sql`` as
arguments instead; the only temp views a query may create are the
materialization registry's entries."""

from __future__ import annotations

import pytest

from zg_etl_spark import plans, session
from zg_etl_spark.session import materialize

# the queries that once registered a query-local relation by name
QUERIES = ("q14_grouping_sets", "q16_window_frames", "q18_correlated_subquery",
           "q19_not_in_null_aware", "l14_ann_pandas", "s7_stream_stream_join")


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_queries_leave_no_temp_view(spark, sf_dir, monkeypatch):
    # an empty live set, so each query builds its sources (s7's split
    # files included) as in a fresh session
    materialize(spark, "/nonexistent/query-views", "reset", lambda: None)
    created = []
    df_type = type(spark.range(1))
    register = df_type.createOrReplaceTempView

    def recording(self, name):
        created.append(name)
        return register(self, name)

    monkeypatch.setattr(df_type, "createOrReplaceTempView", recording)
    before = _temp_views(spark)
    for name in QUERIES:
        plans.all_queries()[name](spark, sf_dir).collect()
    registry = {name for (_, _, name) in session._ENTRIES}
    after = _temp_views(spark)
    leaked = ((after - before) | (after & set(created))) - registry
    assert sorted(leaked) == []


@pytest.mark.parametrize("name", ["q14_grouping_sets", "l14_ann_pandas"])
def test_query_frame_reruns(spark, sf_dir, name):
    # the argument relation is resolved into the plan, so the returned
    # frame still runs after spark.sql has dropped its argument view
    df = plans.all_queries()[name](spark, sf_dir)
    n = df.count()
    assert n > 0 and df.count() == n
