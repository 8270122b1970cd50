"""Generated code compiles once per session.

A long-running job compiles its operators once and then processes every
batch. The session's codegen cache (session.CODEGEN_CACHE_ENTRIES) is
sized to hold the working set, so a repeated op reuses every class it
generated before instead of recompiling it. With Spark's default of 100
entries the repeated spine + p8 round below recompiled 148 classes."""

from __future__ import annotations

import os

from conftest import SF_SMOKE
from zg_etl_spark import plans
from zg_etl_spark.session import CODEGEN_CACHE_ENTRIES

SF_A = SF_SMOKE
SF_B = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")


def _compiles(spark) -> int:
    """Classes compiled by this JVM so far (one histogram update each)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _spine_and_wide_table(spark, sf_dir: str) -> int:
    """Build the spine of ``sf_dir`` (the registry rebuilds it when the
    sf_dir switches) and run p8's full wide projection over it; returns
    the classes compiled on the way."""
    before = _compiles(spark)
    df = plans.all_queries()["p8_wide_table"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_repeated_round_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    first = _spine_and_wide_table(spark, SF_A)
    _spine_and_wide_table(spark, SF_B)
    again = _spine_and_wide_table(spark, SF_A)
    assert again == 0, (
        f"the repeated sf0.001 round recompiled {again} classes "
        f"(first round: {first})")
