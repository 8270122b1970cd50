"""The driver records only the LAST 2000 characters of bench.py stdout
and parses them as JSON (BENCH_r01/r02 both came back parsed:null when
the line overflowed). Pin the emitted-line budget against the live
query registry so adding queries can't silently re-break the capture."""

from __future__ import annotations

import json

from zg_etl_spark import plans


def test_correctness_window_composition():
    """The driver verifies exactly the FIRST 50 of all_queries(). Pin the
    round-13 composition: the queries whose materialization path the
    session registry rewrote (p42/p52/p54/p54c/p54d/p55, w2, l16/l27) first,
    then l6/l31/l37 (rewritten after their last driver row), then the
    l-queries whose oracle now inlines the engine's index declaration
    (l11/l19/l25/l29/l33/l34/l35) and p43/p50 (anchored parseLong gate),
    then the oldest (round-10) rows whose sources are now registry
    entries and the stream-source queries s5/s7/s8; registering a new
    query must never silently displace one of these."""
    first50 = list(plans.all_queries())[:50]
    assert len(set(first50)) == 50
    want_prefixes = ["p54_", "p54c_", "p54d_", "w2_", "g2_", "g3_"]
    want_prefixes += [f"l{i}_" for i in (1, 2, 3, 4, 5, 6, 7, 8, 9, 11, 16,
                                         19, 25, 27, 29, 30, 31, 33, 34,
                                         35, 37)]
    want_prefixes += [f"p{i}_" for i in (1, 2, 5, 7, 8, 9, 27, 28, 30, 31,
                                         32, 33, 35, 39, 42, 43, 50, 51,
                                         52, 55)]
    want_prefixes += [f"s{i}_" for i in (5, 7, 8)]
    for prefix in want_prefixes:
        assert any(q.startswith(prefix) for q in first50), (
            f"{prefix}* fell out of the driver's 50-query window"
        )


def test_bench_line_fits_driver_capture_window():
    from bench import _short_keys

    queries = plans.all_queries()
    # worst-case emitted width: bench saturates per-query values at 99.9
    per = {name: 99.9 for name in queries}
    short = _short_keys(per)
    assert len(short) == len(per), "short-id collision would fall back to long names"
    line = json.dumps(
        {
            "metric": "declared_query_suite_wall",
            "value": 9999.999,
            "unit": "sec",
            "sf": 0.1,
            "warm_suite_sec": 9999.999,
            "streaming_warm_sec": 9999.99,
            "duckdb_oracle_suite_sec": 9999.999,
            "spark_over_duckdb_ratio": 99.99,
            "warm_ratio": 99.99,
            "warm_batch_ratio": 99.99,
            "driver_python_peak_mb": 99999,
            "queries": {k: min(round(v, 1), 99.9) for k, v in short.items()},
        },
        separators=(",", ":"),
    )
    assert len(line) <= 1900, (
        f"bench line {len(line)} chars would overflow the driver's "
        f"2000-char capture window"
    )


def test_driver_window_is_the_planned_rotation():
    """The driver's CORRECTNESS file covers the FIRST 50 entries of
    all_queries(); round 13 pins that window to the queries the session
    registry rewrote, the never-attested forms of l6/l31/l37, and the
    oldest (round-10) driver rows. A later registry edit must not
    silently displace them — rotation is a DELIBERATE _WINDOW change,
    not a side effect."""
    from zg_etl_spark import plans

    first50 = list(plans.all_queries())[:50]
    assert first50 == [n for n in plans._WINDOW if n in plans.all_queries()][:50]
    # every window name resolves (a typo'd name would silently shrink
    # the verified set and promote a tail query into the window)
    merged = plans.all_queries()
    missing = [n for n in plans._WINDOW if n not in merged]
    assert not missing, missing
    must_have = [
        "p42_adv_click_match", "p52_adv_ss_priority",
        "p54_click_consumption", "p54c_candidates", "p54d_replay_rollup",
        "p55_tencent_web_match", "w2_bucketed_join", "l16_dedup_groups", "l27_dedup_keep_list",
        "l6_lsh_candidates", "l31_candidate_verify", "l37_pq_ann",
        "l11_embedding_neardup", "l19_tfidf_terms", "l25_decontaminate",
        "l29_semantic_dedup", "l33_lm_quality_score", "l34_source_overlap",
        "l35_incremental_dedup", "p43_adv_match_json",
        "p50_match_json_userprop", "l5_minhash_signatures", "l9_ann_ivf", "s7_stream_stream_join",
        "p8_wide_table", "p7_enrichment", "p5_virtual_attrs",
    ]
    for name in must_have:
        assert name in first50, f"{name} missing from the driver window"
    # rotated BEHIND the cut (still locally verified by the sf0.01
    # parity rehearsal): the round-12 window, hash-green in
    # CORRECTNESS_r12, and the relational tail the cut leaves out
    for name in ("q10_set_ops", "p3_zgid_binding", "l10_multimodal_binary",
                 "g4_sm2_unwrap", "q2_orders_customer_join",
                 "l15_multimodal_features", "p47_adv_cdc_route",
                 "p56_event_paths", "s1_streaming_identity",
                 "s4_streaming_route", "s10_streaming_deep_convert",
                 "w1_upsert_writer", "w9_partial_upsert", "p0_envelope",
                 "s2_streaming_sessions", "q13_cube",
                 "q19_not_in_null_aware"):
        assert name in merged and name not in first50, name
