"""Spine-structure pins for the batch pipeline stages (operators/domain.py).

The vtl fan-out branch (`_vtl_fanout_select`) projects RESOLVED_COLS by
name on both UNION ALL branches of `events_typed`, so the union cannot
positionally misalign — PROVIDED the list itself matches the live
`resolved` view. These tests pin that, plus the end-to-end facts the
fan-out integration promises: synthesized rows register in the event
dictionary (EventAsyncOperator.java:190 includes 'vtl' in the dt filter)
and land in the wide table with fresh uuids (VirtualEventOperator.java:
305-315 regenerates $uuid per synthesized row).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from zg_etl_spark.operators.domain import (
    RESOLVED_COLS,
    ensure_pipeline_views,
)


def test_resolved_cols_pin(spark, sf_dir):
    """RESOLVED_COLS must equal the live `resolved` view's columns,
    order-sensitively — the guarantee the fan-out UNION rides on."""
    ensure_pipeline_views(spark, sf_dir)
    assert spark.table("resolved").columns == RESOLVED_COLS


def test_events_typed_contains_vtl_rows(spark, sf_dir):
    """The fan-out rows are IN the spine (not a side relation): dt='vtl'
    rows exist, carry owner zg_vtl, and their count equals the p6
    provenance relation's total."""
    ensure_pipeline_views(spark, sf_dir)
    vtl = spark.table("events_typed").filter(F.col("dt") == "vtl")
    n_vtl = vtl.count()
    assert n_vtl > 0
    assert vtl.filter(F.col("owner") != "zg_vtl").count() == 0
    # p6 models the same fan-out as a provenance rollup — its row total
    # must equal the spine's vtl row count (same rules, join, predicate)
    from zg_etl_spark.plans.pipeline import QUERIES

    p6_total = (
        QUERIES["p6_virtual_events"](spark, sf_dir)
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    assert n_vtl == p6_total


def test_vtl_rows_reach_dictionary_and_wide_table(spark, sf_dir):
    """Synthesized events get dictionary ids (owner zg_vtl) and appear in
    the wide table; their uuids are fresh — never colliding with the
    source row's uuid despite sharing its seq."""
    ensure_pipeline_views(spark, sf_dir)
    dict_vtl = spark.sql(
        "SELECT COUNT(*) AS n FROM event_dict WHERE owner = 'zg_vtl'"
    ).collect()[0]["n"]
    assert dict_vtl > 0

    from zg_etl_spark.plans.pipeline import QUERIES

    wide = QUERIES["p8_wide_table"](spark, sf_dir).select("uuid", "event_name")
    assert wide.count() == wide.select("uuid").distinct().count()
    vtl_names = {
        r["event_name"]
        for r in spark.sql(
            "SELECT DISTINCT event_name FROM event_dict WHERE owner='zg_vtl'"
        ).collect()
    }
    wide_names = {r["event_name"] for r in wide.select("event_name").distinct().collect()}
    # at least one virtual event survives dictionary gating into the wide
    # table (cap/blacklist may drop some, never all, on the fixtures)
    assert vtl_names & wide_names


def test_geo_garbled_predicate_both_dialects(spark):
    """isValidGeoResult semantics (IpEnrichOperator.java:236-258) on both
    dialects: control chars (except tab/newline/CR) and U+FFFD reject the
    triple; clean CJK, whitespace, and NULL fields pass."""
    import duckdb

    from zg_etl_spark.operators.domain import DUCK, SPARK, geo_garbled

    cases = [
        # (country, province, city expressions) -> expect garbled
        (("'北京'", "'河北'", "'石家庄'"), False),
        (("'ok'", "concat('x', chr(1))", "'ok'"), True),   # control char
        (("'ok'", "'ok'", "'CT_31�'"), True),         # U+FFFD
        (("concat('a', chr(9), 'b')", "'c'", "'d'"), False),  # tab allowed
        (("concat('a', chr(10), chr(13))", "'c'", "'d'"), False),  # NL/CR
        (("NULL", "'ok'", "'ok'"), False),                 # NULL skipped
    ]
    con = duckdb.connect()
    for exprs, want in cases:
        s = spark.sql(f"SELECT {geo_garbled(SPARK, *exprs)}").collect()[0][0]
        k = con.execute(f"SELECT {geo_garbled(DUCK, *exprs)}").fetchone()[0]
        assert bool(s) is want, f"spark {exprs} -> {s}, want {want}"
        assert bool(k) is want, f"duckdb {exprs} -> {k}, want {want}"


def test_garbled_geo_range_nulls_whole_triple(spark, sf_dir):
    """ips landing in the U+FFFD-garbled fixture range (registries.
    IP_RANGES[31]) must surface NULL for ALL THREE geo fields in p7,
    while clean public-range rows keep theirs — the all-or-nothing
    acceptance the reference applies to each lookup result."""
    from zg_etl_spark import plans

    df = plans.all_queries()["p7_enrichment"](spark, sf_dir)
    ensure_pipeline_views(spark, sf_dir)
    ids = [
        r[0]
        for r in spark.table("resolved")
        .where("ip_long >= 4160749568")
        .select("event_id")
        .limit(5)
        .collect()
    ]
    assert ids, "fixture data no longer reaches ip range 31"
    bad = df.where(F.col("event_id").isin(ids))
    for r in bad.collect():
        assert r["country"] is None and r["province"] is None and r["city"] is None
    clean = df.where(
        "country IS NOT NULL OR province IS NOT NULL OR city IS NOT NULL"
    )
    assert clean.count() > 0, "guard nulled every row — over-broad"


def test_adv_click_match_ipver_tier(spark):
    """The iOS ip+version fallback (setAppIpUaKeys:1292-1297) can only
    find clicks whose WRITTEN key is the Baidu-iPhone downgraded
    ':version' form (setIpUaMaps:260-273) — the store holds one fuzzy
    key per click. Constructed rows prove the whole gate: a Baidu
    (channel 1+31%7=4) iPhone click stores ':16.6', so the iPhone
    session's full-UA probe misses and the version-only probe lands
    'ipver'; the same rows on a non-iOS platform land 'none'; a
    NON-Baidu click with the identical UA stores 'iPhone:16.6' and is
    found by the full-UA probe as 'ipua'."""
    from zg_etl_spark.operators.domain import BODIES, RELATIONS, SPARK, with_ctes

    rows = [
        # (app_id, dt, did, ip, k, ct, seq, zg_id, pl, user_id)
        # Baidu-channel click: user 9 -> iPhone/16.6 UA; k=31
        # (1+31%7 = 4 -> downgraded key; 31%3 != 0: no exact key)
        (1, "mkt", "did_click", "9.9.9.9", 31, 1000, 1, 501, "ios", 9),
        # session start: same user/UA/ip -> full-UA probe misses,
        # version-only probe hits
        (1, "ss", "did_ss", "9.9.9.9", None, 2000, 2, 601, "ios", 9),
        # same shape, non-iOS platform: the version-probe gate refuses
        (1, "ss", "did_ss2", "9.9.9.9", None, 2000, 3, 602, "and", 9),
        # non-Baidu click (1+11%7 = 5), identical UA, other ip: stores
        # the full form -> found as 'ipua'
        (1, "mkt", "did_c2", "8.8.8.8", 11, 1000, 4, 502, "ios", 9),
        (1, "ss", "did_s3", "8.8.8.8", None, 2000, 5, 603, "ios", 9),
    ]
    spark.createDataFrame(
        rows,
        "app_id long, dt string, did string, ip string, k long, ct long, "
        "seq long, zg_id long, pl string, user_id long",
    ).createOrReplaceTempView("p42_resolved")
    # the declarations p42 reads, rendered as CTEs over the rows above
    sql = with_ctes([("adv_ua", RELATIONS["adv_ua"].sql(SPARK))],
                    BODIES["p42_adv_click_match"](SPARK))
    sql = sql.replace("FROM resolved r", "FROM p42_resolved r")
    got = {
        r["match_tier"]: (r["lid"], r["n_sessions"])
        for r in spark.sql(sql).collect()
    }
    assert got["ipver"] == (1, 1), got
    assert got["ipua"] == (1, 1), got
    assert got["none"] == (None, 1), got
    assert "exact" not in got, got
