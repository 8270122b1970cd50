"""Declared analytical queries — the engine's query surface.

Each module contributes:
    QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]
    ORACLE:  dict[str, str]   # DuckDB SQL equivalents (omit → rows-only check)

Ordering matters: the driver's CORRECTNESS verify covers the FIRST 50
entries of the merged dict (insertion order).  Rounds 1-2 verified
q1-q19 / p0-p26 / w1-w4 (all green); the l/s/g queries and p27+ had
never had a driver row.  ``_WINDOW`` therefore front-loads the
never-verified queries plus the pipeline queries whose implementation
changed this round; the twice-green remainder rotates behind them.
"""

from zg_etl_spark.plans import (
    consume, gate_queries, llm, pipeline, relational, streaming_queries)

# Round-13 window: CORRECTNESS_r12 landed 50/50 hash-green on the
# round-12 composition, so that block rotates behind. The window
# front-loads, in priority order:
#   1. the queries whose materialization path the session registry
#      (session.materialize) rewrote: the ad-click lane p42/p52/p54/
#      p54c/p54d/p55 now reads one declaration per relation (keyed slice,
#      click store, candidates) over one shared UA-parsed index, w2's
#      bucketed tables and l16's groups (read by l27) are registry
#      entries;
#   2. l6, l31 and l37, rewritten onto shared views after their last
#      driver row, so their new forms were never attested;
#   3. the l-queries whose oracle now inlines the one index declaration
#      the engine materializes (l11, l19, l25, l29, l33, l34, l35 — the
#      others sit in items 1, 2 and 4), and p43/p50, whose parseLong gate
#      is now anchored with \A..\z;
#   4. the oldest driver rows (round 10) whose sources are now registry
#      entries: the l-queries over the materialized documents/embeddings
#      tables, the stream-source queries s5/s7/s8 (round 11), and the
#      g/p queries over the spine's materialized events;
#   5. the round-10 relational band, as far as the cut allows.
#
# EXPLICIT, not module-unpacked: a query added to llm/streaming/gate
# must be slotted here deliberately — unpacking whole modules let any
# new entry silently displace the intended 50th query.
_WINDOW = [
    "p42_adv_click_match",
    "p52_adv_ss_priority",
    "p54_click_consumption",
    "p54c_candidates",
    "p54d_replay_rollup",
    "p55_tencent_web_match",
    "w2_bucketed_join",
    "l16_dedup_groups",
    "l27_dedup_keep_list",
    "l6_lsh_candidates",
    "l31_candidate_verify",
    "l37_pq_ann",
    "l11_embedding_neardup",
    "l19_tfidf_terms",
    "l25_decontaminate",
    "l29_semantic_dedup",
    "l33_lm_quality_score",
    "l34_source_overlap",
    "l35_incremental_dedup",
    "p43_adv_match_json",
    "p50_match_json_userprop",
    "l1_text_stats",
    "l2_lang_id",
    "l3_dedup_exact",
    "l4_ngram_jaccard",
    "l5_minhash_signatures",
    "l7_simhash",
    "l8_ann_bruteforce",
    "l9_ann_ivf",
    "l30_dup_span_fraction",
    "s5_streaming_zgid",
    "s7_stream_stream_join",
    "s8_stream_upsert_delete",
    "g2_wire_crypto",
    "g3_rsa_unwrap",
    "p1_gate_errors",
    "p2_identity_mappings",
    "p5_virtual_attrs",
    "p7_enrichment",
    "p8_wide_table",
    "p9_user_properties",
    "p27_user_profile",
    "p28_gate_business",
    "p30_search_keywords",
    "p31_adv_attribution",
    "p32_synthesized_records",
    "p33_ua_parse",
    "p35_user_anonymous",
    "p39_baidu_eqid",
    "p51_web_ad_lane",
    # behind the 50-query cut — stay listed so a future rotation is a
    # reorder, not a rediscovery
    "q1_pricing_summary",
    "q2_orders_customer_join",
    "q3_revenue_by_nation",
    "q4_nation_region",
    "q5_semi_anti",
    "q6_hash_agg",
    "q7_rollup",
    "q8_window_topk",
    "q9_top_parts",
    "q12_scalar_functions",
    "q13_cube",
    "q14_grouping_sets",
    "q15_percentiles",
    "q16_window_frames",
    "q17_supplier_revenue",
    "q18_correlated_subquery",
    "q19_not_in_null_aware",
]

_MODULES = (llm, streaming_queries, gate_queries, pipeline, relational, consume)


def _ordered(attr):
    merged = {}
    for m in _MODULES:
        merged.update(getattr(m, attr))
    out = {k: merged[k] for k in _WINDOW if k in merged}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def all_queries():
    return _ordered("QUERIES")


def all_oracles():
    return _ordered("ORACLE")
