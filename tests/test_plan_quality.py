"""Physical-plan regression tests — the scale contract.

Correctness tests prove the queries right at small SF; these prove the
PLANS stay right at any SF: filters reach the parquet scan, projections
prune columns, small dimensions broadcast, the relational hot path stays
inside whole-stage codegen (no Python in the loop), and AQE is live.
A regression here is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import re

import pytest

from zg_etl_spark import plans
from zg_etl_spark.dialect import SPARK
from zg_etl_spark.operators import domain

ALL = plans.all_queries()


def _indexes_read(body: str) -> list[str]:
    """The declared relations (not source tables) a body reads."""
    return [n for n in domain.reads(body) if domain.RELATIONS[n].sql]


def _plan(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _entry_scans(plan: str, cols: list[str]) -> int:
    """Scans of a registry entry in a "simple" plan: checkpointed ``Scan
    ExistingRDD`` nodes whose columns are exactly ``cols``."""
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)
    return sum(
        [re.sub(r"#\d+L?$", "", c) for c in s.split(",")] == cols
        for s in scans
    )


def _source_scans(plan: str, sf_dir: str, table: str) -> int:
    """Scans of a base table in a "simple" plan: of its parquet file, or of
    its registry entry."""
    import pyarrow.parquet as pq

    cols = pq.read_schema(f"{sf_dir}/{table}.parquet").names
    return plan.count(f"{table}.parquet") + _entry_scans(plan, cols)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q1's date predicate must land in PushedFilters, not a post-scan
    Filter over the full table."""
    plan = _plan(ALL["q1_pricing_summary"](spark, sf_dir))
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    assert any("IsNotNull" in p or "LessThan" in p for p in pushed), pushed


def test_column_pruning(spark, sf_dir):
    """A 2-column aggregate must not read the full 16-column lineitem."""
    df = ALL["q6_hash_agg"](spark, sf_dir)
    plan = _plan(df)
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schemas, plan
    # every scan in this query reads a strict subset of columns
    for line in read_schemas:
        n_cols = line.count(":")
        assert n_cols <= 8, f"scan reads too many columns: {line}"


def test_small_dims_broadcast(spark, sf_dir):
    """nation/region joins must be broadcast, never shuffle both sides."""
    plan = _plan(ALL["q4_nation_region"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, f"small-dim join shuffled:\n{plan}"


def test_relational_path_stays_jvm_side(spark, sf_dir):
    """No Python evaluation nodes in any q* relational query — the hot
    path must stay inside codegen'd JVM operators."""
    for name in sorted(ALL):
        if not name.startswith("q"):
            continue
        plan = _plan(ALL[name](spark, sf_dir), "simple")
        assert "EvalPython" not in plan, f"{name} fell off the JVM path:\n{plan}"


def _codegen_fallbacks(df) -> list[str]:
    """The whole-stage-codegen subtrees of ``df``'s executed plan that fail
    to compile. Spark then runs such a stage unfused, and since a failed
    compile is not cached it pays for the attempt again on every run.
    ``debug.codegenString`` compiles each subtree and reports
    ``maxMethodCodeSize:-1`` for one that does not compile (typically
    Janino's "Code grows beyond 64 KB"). AQE is off while the plan is
    rendered, so the executed plan holds the final stages."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df._jdf.queryExecution().executedPlan()
        text = spark.sparkContext._jvm.org.apache.spark.sql.execution \
            .debug.package.codegenString(plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return [sub for sub in text.split("== Subtree")[1:]
            if "maxMethodCodeSize:-1" in sub]


def test_whole_stage_codegen_present(spark, sf_dir):
    """q1 runs inside whole-stage codegen, and p8's fused wide projection
    (the widest select in the suite) compiles under the 64 KB limit."""
    plan = _plan(ALL["q1_pricing_summary"](spark, sf_dir), "simple")
    assert "WholeStageCodegen" in _plan(
        ALL["q1_pricing_summary"](spark, sf_dir), "codegen"
    ) or "*(" in plan, plan
    assert not _codegen_fallbacks(ALL["p8_wide_table"](spark, sf_dir))


@pytest.mark.slow
def test_no_declared_query_falls_back_from_codegen(spark, sf_dir):
    """Every declared query except the stream replays (s*) compiles all its
    fused stages: no subtree falls back to unfused execution. ~75 s on a
    4-core host, so it runs in the slow set; p8, the widest projection,
    is checked in the default set above."""
    failed = {}
    for name in ALL:
        if not name.startswith("s"):
            bad = _codegen_fallbacks(ALL[name](spark, sf_dir))
            if bad:
                failed[name] = bad[0].splitlines()[0]
    assert not failed, f"stages that fail to compile: {failed}"


def test_aqe_enabled_in_session(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    )


def test_bucketed_join_has_no_shuffle_under_join(spark, sf_dir):
    """w2's bucketed fact-fact join must read both sides pre-partitioned:
    the only Exchange in the plan is the final group-by, never under the
    SortMergeJoin."""
    from zg_etl_spark.plans.pipeline import w2_joined

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined, cleanup = w2_joined(spark, sf_dir, "plantest")
        try:
            plan = _plan(joined, "simple")
            assert "SortMergeJoin" in plan, plan
            assert plan.count("Exchange") == 1, (
                f"expected exactly one Exchange (final agg):\n{plan}"
            )
        finally:
            cleanup()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize(
    "name",
    ["p0_envelope", "p5_virtual_attrs", "p8_wide_table",
     "p13_user_visit_stats", "p56_event_paths"],
)
def test_pipeline_queries_stay_jvm_side(spark, sf_dir, name):
    """The event-pipeline spine is pure Column/SQL — Python appears only
    in explicitly-UDF operators (l14, l15, s2), never in the spine.
    p5 pins the compiled virtual-attribute expressions specifically:
    the zero-coercion/guard CASEs stay whole-stage-codegen SQL."""
    plan = _plan(ALL[name](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, f"{name} fell off the JVM path:\n{plan}"


def test_wide_table_pivot_is_map_side(spark, sf_dir):
    """p8 derives cus{n}/type{n} from the row's own fields through the
    broadcast attr_map pivot — the plan over the materialized spine must
    contain NO Exchange and NO fact-grain aggregate (the melt+groupBy(seq)
    +self-join formulation added two fact shuffles that dominate at scale).
    All dimension joins broadcast."""
    plan = _plan(ALL["p8_wide_table"](spark, sf_dir), "simple")
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not shuffles, f"p8 shuffles the fact:\n{plan}"
    assert "SortMergeJoin" not in plan, f"p8 dim join fell off broadcast:\n{plan}"


def test_vtl_union_reuses_cached_resolved(spark, sf_dir):
    """events_typed is a UNION ALL of a filter over `resolved` and the
    vtl fan-out join — BOTH branches must read the checkpointed resolved
    RDD (never re-derive the spine from events.parquet), and the rules
    side must broadcast (the fan-out adds zero fact shuffles; the only
    Exchange under events_typed is the rules BroadcastExchange)."""
    from zg_etl_spark.operators.domain import ensure_pipeline_views

    ensure_pipeline_views(spark, sf_dir)
    plan = _plan(spark.table("events_typed"), "simple")
    assert _source_scans(plan, sf_dir, "events") == 0, (
        f"events_typed re-derives the spine from the source scan:\n{plan}"
    )
    assert plan.count("Scan ExistingRDD") == 2, (
        f"expected both union branches to scan checkpointed resolved:\n{plan}"
    )
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not shuffles, f"vtl fan-out shuffles the fact:\n{plan}"


def _bloom_filter_builds(plan: str) -> str:
    """The subtrees of a "simple" plan that build a runtime bloom filter
    (the ``Subquery`` a ``might_contain(Subquery …)`` filter reads: that
    node's line and every following line indented deeper). Spark re-reads
    one join side to build a filter for the other — a filter build, not a
    re-derived index."""
    ids = set(re.findall(r"might_contain\(Subquery (subquery#\d+)", plan))
    out, depth = [], None
    for line in plan.splitlines():
        col = len(re.match(r"[ :+-]*", line).group())
        if depth is not None and col > depth:
            out.append(line)
            continue
        m = re.search(r"\+- Subquery (subquery#\d+)", line)
        depth = col if m and m.group(1) in ids else None
        if depth is not None:
            out.append(line)
    return "\n".join(out)


@pytest.mark.parametrize("name", sorted(
    n for n, body_fn in domain.BODIES.items()
    if n.startswith("l") and _indexes_read(body_fn(SPARK))))
def test_shared_views_not_recomputed(spark, sf_dir, name):
    """Queries over an index (shingles, minhash signatures, candidate
    pairs, IVF/PQ assignments, ...) must scan the materialized entry,
    never re-derive it from the source table. Spark substitutes cached
    plans BEFORE CTE inlining, so a cache()d view referenced inside a WITH
    body silently recomputes its whole lineage per reference — the engine
    materializes indexes via localCheckpoint precisely so this plan shape
    is impossible. Each index the body reads must appear as a checkpoint
    scan, and documents/embeddings may be scanned only as often as the
    body's own FROM/JOIN clauses name them (a re-derived index adds
    source scans: 4× recompute of the shingle pipeline at any SF)."""
    body = domain.BODIES[name](SPARK)
    plan = _plan(ALL[name](spark, sf_dir), "simple")
    for index in _indexes_read(body):
        assert _entry_scans(plan, spark.table(index).columns) >= 1, (
            f"{name} does not read index {index} as a checkpoint scan:\n{plan}"
        )
    # l37's plan carries a runtime bloom filter whose build re-reads the
    # embeddings entry (CHANGES.md FOUND: l37 bloom-filter subquery); only
    # that filter build is exempt, and only from the embeddings count
    blooms = _source_scans(_bloom_filter_builds(plan), sf_dir, "embeddings")
    for table, exempt in (("documents", 0), ("embeddings", blooms)):
        named = len(re.findall(rf"\b(?:FROM|JOIN)\s+{table}\b", body))
        assert _source_scans(plan, sf_dir, table) - exempt <= named, (
            f"{name} scans {table} beyond its body's {named} references "
            f"— an index was re-derived:\n{plan}"
        )


def test_no_l_query_scans_corpus_twice(spark, sf_dir):
    """Global CTE-reinline net: no training-data query may scan the
    documents table more than once — Spark inlines CTEs, so a WITH body
    referenced twice silently re-runs its whole derivation (cost scales
    with corpus size; caught live in l25/l28/l9). Multi-reference
    derivations must go through the materialized shared views."""
    for name in sorted(k for k in ALL if k.startswith("l")):
        plan = _plan(ALL[name](spark, sf_dir), "simple")
        n = _source_scans(plan, sf_dir, "documents")
        assert n <= 1, f"{name} scans documents {n}x:\n{plan}"


def test_multi_reference_derivations_materialize_once(spark, sf_dir):
    """l25 references the corpus shingle set twice (bench + hits) and l9
    references the vector→centroid assignment twice (query + candidate
    side); inlined CTEs recompute them per reference. Both must read a
    materialized view: l25's plan scans documents at most once (the
    final per-doc join), l9's plan scans the assignment from an
    ExistingRDD instead of re-quantizing."""
    plan = _plan(ALL["l25_decontaminate"](spark, sf_dir), "simple")
    assert _source_scans(plan, sf_dir, "documents") <= 1, plan
    assert "Scan ExistingRDD" in plan, plan
    plan9 = _plan(ALL["l9_ann_ivf"](spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan9, plan9


def test_map_only_stages_have_no_shuffle(spark, sf_dir):
    """l18 (content-addressed split) and l20 (chunking) claim to be pure
    map-side stages — their plans must contain no aggregate/join shuffle.
    The only allowed Exchange is the source-parallelizing round-robin
    repartition of the single-file test input (a no-op on a real
    many-file corpus)."""
    for name in ("l18_split_sample", "l20_chunking"):
        plan = _plan(ALL[name](spark, sf_dir), "simple")
        exchanges = [
            line for line in plan.splitlines() if "Exchange" in line
        ]
        for line in exchanges:
            assert "RoundRobinPartitioning" in line or "REPARTITION" in line, (
                f"{name} shuffles:\n{plan}"
            )
        assert "SortMergeJoin" not in plan and "HashAggregate" not in plan, (
            f"{name} is not map-only:\n{plan}"
        )


def test_guarded_explode_infers_no_expensive_filter(spark, sf_dir):
    """l21 explodes a per-row bigram array built by an expensive
    transform chain. The non-outer Generate infers size>0/isnotnull
    predicates that push BELOW the parallelizing repartition and
    re-evaluate the whole chain (3x) on the source's few native
    partitions; the OUTER form (valid because WHERE size(ws)>=2 proves
    the array non-empty) infers nothing. A Filter node evaluating the
    transform chain means the regression is back."""
    plan = _plan(ALL["l21_bigram_stats"](spark, sf_dir), "formatted")
    filters = [
        ln for ln in plan.splitlines() if ln.lstrip().startswith("Condition")
    ]
    for ln in filters:
        assert "transform(" not in ln, (
            f"Generate-inferred predicate re-evaluates the bigram chain:\n{ln}"
        )


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """HLL sketch values differ across engines by construction, so q11
    reports exact counts plus in-tolerance booleans the oracle CAN hash;
    re-assert the 10% bound here against a fresh sketch (rsd=0.05 is a
    standard deviation — observed error at small SF runs past 6%)."""
    from pyspark.sql import functions as F

    from zg_etl_spark.sources.tables import load_table

    row = ALL["q11_approx_distinct"](spark, sf_dir).first()
    assert row.orders_within_tol and row.parts_within_tol
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_orderkey").alias("o"),
        F.approx_count_distinct("l_partkey").alias("p"),
    ).first()
    assert abs(approx.o - row.exact_orders) <= 0.1 * row.exact_orders
    assert abs(approx.p - row.exact_parts) <= 0.1 * row.exact_parts


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A partitioned fact joined to a filtered dim must prune fact
    partitions at RUNTIME (dynamicpruning expression in the scan) — the
    mechanism that keeps a 100 TB day-partitioned table from being fully
    scanned when a dim filter selects few partition values."""
    from zg_etl_spark.sinks import write_partitioned
    from zg_etl_spark.sources.tables import load_table

    fact_path = str(tmp_path / "li_part")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    write_partitioned(li, fact_path, ["l_returnflag"], dynamic=False)

    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], "flag string, verdict string"
    )
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        fact = spark.read.parquet(fact_path)
        joined = fact.join(
            dim.filter("verdict = 'keep'"), fact.l_returnflag == dim.flag
        )
        plan = _plan(joined, "formatted")
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


@pytest.mark.parametrize(
    "name", ["p30_search_keywords", "p31_adv_attribution", "p33_ua_parse"]
)
def test_round3_queries_stay_jvm_side(spark, sf_dir, name):
    """The 8-engine keyword extraction, ad attribution, and UA parsing
    are regex/CASE chains and joins — no Python node may appear."""
    plan = _plan(ALL[name](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, f"{name} fell off the JVM path:\n{plan}"


def test_adv_attribution_broadcasts_rules(spark, sf_dir):
    """p31's ads_link rules and UTM overrides are VALUES tables — they
    must broadcast; the only shuffle-grade joins are the (app, zgid)
    touch join and its rank window."""
    plan = _plan(ALL["p31_adv_attribution"](spark, sf_dir), "simple")
    # two broadcast joins (rules + utm); the touch join may SMJ or
    # shuffle-hash — but never a nested-loop product
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_wide_table_stays_map_side_at_width(spark, sf_dir):
    """ZG_CUS_N widening must not re-introduce a fact shuffle: the
    cus/type projection is still a broadcast-dict lookup per row."""
    from zg_etl_spark.operators.domain import ZG_CUS_N

    assert ZG_CUS_N >= 8
    df = ALL["p8_wide_table"](spark, sf_dir)
    assert f"cus{ZG_CUS_N}" in df.columns and f"type{ZG_CUS_N}" in df.columns
    plan = _plan(df, "simple")
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not shuffles, f"p8 shuffles the fact at width {ZG_CUS_N}:\n{plan}"


def test_semantic_dedup_reads_index_not_corpus(spark, sf_dir):
    """l29 references its vector-carrying IVF index three times; the
    query plan must read the materialized view (ExistingRDD) and touch
    the embeddings corpus zero times — inlined, the three references
    would each re-scan and re-quantize it."""
    plan = _plan(ALL["l29_semantic_dedup"](spark, sf_dir), "simple")
    assert _source_scans(plan, sf_dir, "embeddings") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_candidate_verify_joins_never_nested_loop(spark, sf_dir):
    """l31's exact-Jaccard check runs per candidate PAIR via shingle
    equi-joins — a nested-loop or cartesian node means the all-pairs
    shape the banding exists to avoid has crept back."""
    plan = _plan(ALL["l31_candidate_verify"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # signatures + shingles come from the memoized views, so the corpus
    # is scanned at most once (the global l-scan test pins <= 1 too)
    assert _source_scans(plan, sf_dir, "documents") == 0, plan


def test_vocab_coverage_windows_over_vocab_only(spark, sf_dir):
    """l32's ranking window runs over the aggregated vocabulary, never
    the corpus: the Window node must sit ABOVE the word-count aggregate,
    and the corpus is scanned once."""
    plan = _plan(ALL["l32_vocab_coverage"](spark, sf_dir), "simple")
    assert _source_scans(plan, sf_dir, "documents") == 1, plan
    w = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert w != -1 and agg != -1 and w < agg, (
        f"window does not sit above the vocab aggregate:\n{plan}"
    )


def test_sequence_packing_single_shuffle_partitioned_by_source(spark, sf_dir):
    """l36's running cursor is a window PARTITIONED by source: exactly one
    hash Exchange on `source`, so packing parallelizes across sources —
    an unpartitioned ORDER BY would collapse the whole corpus onto one
    task, the single-node bottleneck that kills a 100 TB packing run."""
    plan = _plan(ALL["l36_sequence_packing"](spark, sf_dir), "simple")
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, plan
    assert "source" in hash_exchanges[0], hash_exchanges
    assert "SinglePartition" not in plan, plan


def test_gapfill_spine_derives_from_checkpointed_agg(spark, sf_dir):
    """q20's dense spine (bounds, distinct types, sequence explode), the
    left join, and the LOCF window must all run over the localCheckpoint'ed
    hourly aggregate — exactly ONE scan of events.parquet in the plan. A
    second scan means the spine fell back to the fact table (3 redundant
    100 TB scans at scale: bounds + types + join probe)."""
    plan = _plan(ALL["q20_gapfill_locf"](spark, sf_dir), "simple")
    n = plan.count("events.parquet")
    assert n <= 1, f"q20 scans events {n}x:\n{plan}"


def test_deep_convert_has_no_pair_join(spark, sf_dir):
    """p49's multi-event status-key gate must stay a forward fill, never
    a conversion×evidence pair join: every join is a broadcast of the
    VALUES rule table, and the only shuffles are the two window
    partitionings (attribution by (app, zgid), key timeline by
    (app, lid)) plus the final aggregation."""
    plan = _plan(ALL["p49_adv_deep_convert"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Window") == 2, plan


def test_adv_cdc_and_click_keys_stay_map_side(spark, sf_dir):
    """p47/p48 are map-only JSON/md5 normalization over the event scan:
    a single shuffle for the case-grain aggregation, no joins, no
    Python UDFs."""
    for name in ("p47_adv_cdc_route", "p48_adv_click_keys"):
        plan = _plan(ALL[name](spark, sf_dir), "simple")
        assert "Join" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
        assert plan.count("Exchange") <= 2, (name, plan)  # partial+final agg


def test_web_ad_lane_stays_map_side(spark, sf_dir):
    """p51 is map-only regexp/JSON extraction over the evt scan plus the
    case-grain aggregation — no joins, no Python UDFs."""
    plan = _plan(ALL["p51_web_ad_lane"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_ss_priority_stores_broadcast(spark, sf_dir):
    """p52's six click stores are per-key aggregates of the click stream
    (rows ∝ clicks) — every probe join must broadcast; never a
    nested-loop product or a fact-fact sort-merge."""
    plan = _plan(ALL["p52_adv_ss_priority"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_click_match_stores_broadcast(spark, sf_dir):
    """p42's three click stores are per-key aggregates (rows ∝ clicks);
    without the hint Spark's missing window-output stats silently fell
    back to sort-merge on all three probe joins."""
    plan = _plan(ALL["p42_adv_click_match"](spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ipv6_geo_normalization_stays_jvm_side(spark, sf_dir):
    """p53's '::' expansion / hex normalization is pure codegen string
    work and its only joins are the two broadcast-sized registry range
    tables (non-equi BETWEEN → broadcast nested-loop is the right
    physical form at 32/16 rows) — never a Python UDF, never a
    shuffle-both-sides join of the fact against a range table."""
    plan = _plan(ALL["p53_ipv6_geo"](spark, sf_dir), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_click_consumption_python_is_replay_only(spark, sf_dir):
    """p54's one Python stage is the per-group sequential replay —
    exactly one FlatMapGroupsInPandas in the DETAIL BUILD, fed by the
    checkpointed (JVM-resolved) store/alias/candidate relations, with
    the map-only no-candidate fast path unioned around it. Since the
    r11 memoization the build runs once per (session, sf_dir); the
    DECLARED p54 aggregates the checkpointed detail, so its
    steady-state plan must be pure JVM (no Python node at all) — both
    halves pinned."""
    from zg_etl_spark.plans.consume import _build_p54_detail

    detail, _, _ = _build_p54_detail(spark, sf_dir)
    build_plan = _plan(detail, "simple")
    assert build_plan.count("FlatMapGroupsInPandas") == 1, build_plan
    assert "ArrowEvalPython" not in build_plan, build_plan
    assert "BatchEvalPython" not in build_plan, build_plan

    plan = _plan(ALL["p54_click_consumption"](spark, sf_dir), "simple")
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_p54d_rollup_broadcasts_claims_not_entries(spark, sf_dir):
    """p54d's del-set accounting joins the CLAIMED-CLICK set (bounded
    by sessions) back to the full entry relation — the claims side must
    broadcast; shuffling the entry relation against a session-bounded
    probe would be the inverted join at 100 TB. The replay's own
    Python stage is pinned on p54's plan (the shared detail relation is
    checkpointed before this rollup, so it does not reappear here) —
    this plan must stay pure JVM."""
    plan = _plan(ALL["p54d_replay_rollup"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_event_paths_window_partitions_on_session_key(spark, sf_dir):
    """p56's LEAD window must partition on the session key — a window
    with an empty PARTITION BY plans as Exchange SinglePartition (one
    task sorts the whole fact), which is the difference between a
    per-session bounded sort and a cluster-wide serialization at 100 TB.
    The transition aggregate must keep partial (map-side) aggregation."""
    plan = _plan(ALL["p56_event_paths"](spark, sf_dir), "simple")
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower(), plan
