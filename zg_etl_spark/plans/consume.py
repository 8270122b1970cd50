"""P54 — click-consumption del-set: the sequential claim semantics of
AdvLidAndUserFirstEndFlatMapFunction.java's setAdMaps/processAppSS
(etl-flink-pipeline .../gate/AdvLidAndUserFirstEndFlatMapFunction.java:
701-758 batch loop, 1044-1245 probe + consume).

Reference semantics being modeled (the piece p52's snapshot probe
deliberately left out, acknowledged in its docstring):

* Sessions are processed IN ARRIVAL ORDER within the operator batch;
  ``thisDelKeySet`` accumulates the keys of every click already claimed.
* Each store probe checks aliveness AT PROBE TIME
  (``containsKey && !thisDelKeySet.contains``, :1090-1166) — a consumed
  key does NOT stop the cascade, the session FALLS THROUGH to its next
  tier (``hasAndroidDevice`` stays false), so consumption can reroute a
  later session to a lower tier, not just block it.
* On a match, the del-set gains the claimed click's OWN key strings from
  its stored payload — ip_ua/muid/idfa/imei/android_id/oaid (:1178-1210)
  — so the click dies across EVERY tier at once, and deletion is by key
  string regardless of which click currently tops that key.
* The store snapshot is the batch-start Redis state (ingest is the
  separate AdvSaveAppAdData path, p48); following p52's fixture
  convention the snapshot is the full corpus click store. Each click
  holds ONE fuzzy key — its written ua_proc form, downgraded to
  ':version' for Baidu-iPhone clicks — plus its exact keys; claiming a
  click deletes its whole alias set (the payload's own key strings).

Why this is NOT a row_number query: greedy sequential matching with
fallthrough is order-dependent — first-claim-wins per key is wrong the
moment a blocked session would have claimed a different key. But the
sequential core is LOCAL: two sessions interact only if they are
connected through shared candidate keys / click aliases. So:

  1. candidate resolution — the same 6 equi-joins as p52 (map-side,
     broadcastable stores), emitting each session's static preference
     list (only keys PRESENT in the snapshot enter it; iOS orders the
     two fuzzy keys by stored ct, the strict ``>`` of :1157-1163). The
     click-store entries, the store and the candidates are relation
     declarations (p54_entries, p54_store, p54_cands) over p52's click
     records and probes: the engine materializes them once, p54c scans
     the candidates, and the p54/p54d oracles inline the same texts;
  2. sessions with no candidate at all exit early as 'none' (map-only —
     at production skew this is the vast majority);
  3. replay grouping, size-gated: components never cross an app, so a
     small contested volume groups by app directly (zero extra rounds —
     the common case); past P54_COARSE_MAX candidate rows, exact
     connected components over the session/key/click-alias graph
     (min-label propagation on the CONTESTED subgraph only, the l16
     pattern) bound the per-group volume;
  4. exact sequential replay per group via applyInPandas — parallel
     across groups, faithfully ordered within. Worst case (one giant
     component) degrades to the inherent sequential core; typical
     components are a handful of rows.

The aggregate (match_tier, lid, n_sessions, n_users) mirrors p52, so
the two queries diff cleanly: p54 - p52 = what consumption rerouted.
Since round 11 the query carries a FULL DuckDB oracle: the replay is
SQL-expressible after all — a recursive CTE steps one session per
iteration in the same (ct, seq) order, carrying the del-set as a list
column (_p54_replay_ctes; global order ≡ the engine's per-group order
because groups never share keys). The independent global sequential
replay in tests/test_independent_oracles stays as the SQL-free anchor,
and p54d aggregates the same replay per app (claim counts, clicks
consumed, batch-end del-set size).
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zg_etl_spark.dialect import DUCK
from zg_etl_spark.operators.domain import (
    duck_pipeline_sql, register, relation, relations)
from zg_etl_spark.operators.graph import label_components
# p54's relations read p52's (p52_clicks, p52_exact_entries, p52_ss):
# the registry resolves reads against EARLIER declarations, so pipeline's
# must come first
from zg_etl_spark.plans import pipeline  # noqa: F401
from zg_etl_spark.session import materialize

QUERIES: dict = {}
ORACLE: dict = {}

_REPLAY_SCHEMA = (
    "match_tier string, lid bigint, sess_seq bigint, zg_id bigint,"
    " claim_click bigint"
)


def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact sequential greedy over one component: sessions in (ct, seq)
    order, first ALIVE candidate in preference order wins, claiming a
    click kills its whole alias key set."""
    store = {}      # key -> (click_seq, lid)
    alias = {}      # click_seq -> [keys]
    cands = {}      # sess_seq -> (ct, zg_id, [(rank, key, tier)])
    # the long columns arrive -1-SENTINEL-filled (see _finish), so the
    # arrow batches have null count 0 and convert to EXACT int64 — the
    # float64 path a nullable column would take is lossy above 2^53,
    # and seq values (epoch-ms*1e6 + event_id ≈ 1.7e18) live where its
    # ulp is 256. The guard keeps the assumption checked: a float dtype
    # reappearing here with values past the bound is a data-loss bug,
    # not a formatting choice.
    for c in ("click_seq", "lid", "sess_seq", "sess_ct", "zg_id"):
        if c in pdf.columns and len(pdf) and \
                pdf[c].dtype.kind == "f":
            mx = pdf[c].abs().max()
            if pd.notna(mx) and mx >= 2**53:
                raise ValueError(
                    f"replay column {c} arrived float64 past the exact "
                    f"bound (max abs {mx}); the sentinel fill regressed")
    for r in pdf.itertuples(index=False):
        if r.typ == "store":
            store[r.cand_key] = (int(r.click_seq),
                                 None if r.lid == -1 else int(r.lid))
        elif r.typ == "alias":
            alias.setdefault(int(r.click_seq), []).append(r.cand_key)
        else:
            ent = cands.setdefault(
                int(r.sess_seq), (int(r.sess_ct), int(r.zg_id), []))
            ent[2].append((int(r.cand_rank), r.cand_key, r.tier))
    dead: set = set()
    out = []
    for sess_seq, (ct, zg_id, lst) in sorted(
            cands.items(), key=lambda kv: (kv[1][0], kv[0])):
        hit = None
        for _, key, tier in sorted(lst):
            if key in store and key not in dead:
                hit = (tier, key)
                break
        if hit is None:
            out.append(("none", None, sess_seq, zg_id, None))
            continue
        tier, key = hit
        click_seq, lid = store[key]
        dead.update(alias.get(click_seq, [key]))
        out.append((tier, lid, sess_seq, zg_id, click_seq))
    # build the nullable long columns as masked Int64, NEVER via
    # pd.DataFrame's inference: a mixed int/None tuple column coerces to
    # float64+NaN, which rounds seq-scale values (ulp 256 at 1.7e18 —
    # claim_click ...729 silently became ...704 before this; lid only
    # escaped because lids are small)
    mt, lid_c, sseq, zid, cc = (zip(*out) if out else
                                ((), (), (), (), ()))
    return pd.DataFrame({
        "match_tier": pd.Series(mt, dtype=object),
        "lid": pd.array(lid_c, dtype="Int64"),
        "sess_seq": pd.array(sseq, dtype="Int64"),
        "zg_id": pd.array(zid, dtype="Int64"),
        "claim_click": pd.array(cc, dtype="Int64"),
    })


# contested-candidate row count under which the replay groups by app
# directly (no labeling rounds); above it, exact components bound the
# per-group volume. Every relation the replay ships (store, alias,
# candidates) is first cut to LIVE keys — keys some session probes — so
# store+alias rows are O(cands) and the gate on cands.count() really
# bounds group bytes: ~100 B/row → the coarse path tops out around a
# few hundred MB per executor-side group, inside task memory.
P54_COARSE_MAX = 2_000_000


def _p54_detail(spark: SparkSession, sf_dir: str):
    """Per-session replay outcome (match_tier, lid, sess_seq, zg_id,
    claim_click) plus the relations p54d's del-set accounting joins
    back to. p54 aggregates this to its (tier, lid) rollup; p54d to
    its per-app claim/del-set rollup. The default path is memoized per
    (session, sf_dir) — the applyInPandas replay runs once for both
    aggregates; the detail frame is checkpointed before reuse so both
    consumers scan the same materialized rows."""

    def build():
        detail, entries, ss = _build_p54_detail(spark, sf_dir)
        return detail.localCheckpoint(eager=True), entries, ss

    return materialize(spark, sf_dir, "p54_detail", build)


def _build_p54_detail(spark: SparkSession, sf_dir: str):
    names = ("p52_ss", "p54_entries", "p54_store", "p54_cands")
    live = relations(spark, sf_dir, names)
    ss, entries, store, cands = (live[n] for n in names)

    # the map-only fast path: sessions with no candidate key at all
    nomatch = (
        ss.join(cands.select("sess_seq").distinct(),
                ss.seq == F.col("sess_seq"), "left_anti")
        .select(F.lit("none").alias("match_tier"),
                F.lit(None).cast("long").alias("lid"),
                F.col("seq").alias("sess_seq"), "zg_id",
                F.lit(None).cast("long").alias("claim_click"))
    )

    # everything the replay ships is restricted to LIVE keys (keys some
    # session actually probes): unprobed store/alias rows can never match
    # or die observably, and without this cut the coarse per-app branch
    # would ship an app's ENTIRE click store into one pandas group —
    # per-group volume must be ∝ contested candidates, not store size
    live_keys = cands.select("cand_key").distinct().localCheckpoint(True)
    akeys = (entries.join(live_keys, "cand_key")
             .select("cand_key", "seq").localCheckpoint(True))
    store = store.join(live_keys, "cand_key").localCheckpoint(True)

    # grouping for the replay. Components never cross an app (every key
    # embeds its app id), so grouping by app is ALWAYS correct — coarser
    # groups just replay more rows sequentially. The size gate picks:
    #   * small contested volume → group by app directly, zero labeling
    #     rounds (the common case, and the whole bench path);
    #   * large → exact connected components over the session–key and
    #     click-alias–key edges, iterating min-label propagation on the
    #     contested subgraph only (the l16 pattern) so no single pandas
    #     group has to hold an app's whole contested stream.
    # tests force the component path (P54_COARSE_MAX below any count)
    # and pin both groupings equal.
    if cands.count() <= P54_COARSE_MAX:
        return _finish(store, akeys, cands, nomatch, None), entries, ss

    # nodes: keys + sessions + clicks that alias a live key
    n_key = live_keys.select(F.col("cand_key").alias("node"))
    n_sess = cands.select(
        F.concat(F.lit("s|"), F.col("sess_seq")).alias("node")).distinct()
    n_click = akeys.select(
        F.concat(F.lit("c|"), F.col("seq")).alias("node")).distinct()
    nodes = (n_key.unionByName(n_sess).unionByName(n_click)
             .withColumn("nid", F.monotonically_increasing_id())
             .localCheckpoint(True))
    e1 = cands.select(
        F.concat(F.lit("s|"), F.col("sess_seq")).alias("na"),
        F.col("cand_key").alias("nb"))
    e2 = akeys.select(
        F.concat(F.lit("c|"), F.col("seq")).alias("na"),
        F.col("cand_key").alias("nb"))
    edges = e1.unionByName(e2).distinct()
    edges = (
        edges.join(nodes.withColumnRenamed("node", "na")
                   .withColumnRenamed("nid", "ida"), "na")
        .join(nodes.withColumnRenamed("node", "nb")
              .withColumnRenamed("nid", "idb"), "nb")
        .select("ida", "idb")
    )
    sym = (edges.select(F.col("ida").alias("a"), F.col("idb").alias("b"))
           .unionAll(edges.select(F.col("idb").alias("a"),
                                  F.col("ida").alias("b")))
           .localCheckpoint(True))
    labels = label_components(sym)
    key_comp = (nodes.join(labels, nodes.nid == labels.nd)
                .select(F.col("node").alias("cand_key"),
                        F.col("lab").cast("string").alias("comp")))
    return _finish(store, akeys, cands, nomatch, key_comp), entries, ss


def _p54_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    detail, _, _ = _p54_detail(spark, sf_dir)
    return (detail.groupBy("match_tier", "lid")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.countDistinct("zg_id").alias("n_users")))



def _finish(store, akeys, cands, nomatch, key_comp) -> DataFrame:
    """key_comp None → coarse per-app grouping, comp derived from the
    key string itself (field 2 is the app id) — no join at all."""
    if key_comp is None:
        def grouped(df):
            return df.withColumn(
                "comp", F.split("cand_key", "[|]").getItem(1))
    else:
        def grouped(df):
            return df.join(key_comp, "cand_key")
    rep_store = (grouped(store)
                 .select("comp", F.lit("store").alias("typ"), "cand_key",
                         "click_seq", "lid",
                         F.lit(None).cast("long").alias("sess_seq"),
                         F.lit(None).cast("long").alias("sess_ct"),
                         F.lit(None).cast("long").alias("zg_id"),
                         F.lit(None).cast("int").alias("cand_rank"),
                         F.lit(None).cast("string").alias("tier")))
    rep_alias = (grouped(akeys)
                 .select("comp", F.lit("alias").alias("typ"), "cand_key",
                         F.col("seq").alias("click_seq"),
                         F.lit(None).cast("long").alias("lid"),
                         F.lit(None).cast("long").alias("sess_seq"),
                         F.lit(None).cast("long").alias("sess_ct"),
                         F.lit(None).cast("long").alias("zg_id"),
                         F.lit(None).cast("int").alias("cand_rank"),
                         F.lit(None).cast("string").alias("tier")))
    rep_cand = (grouped(cands)
                .select("comp", F.lit("cand").alias("typ"), "cand_key",
                        F.lit(None).cast("long").alias("click_seq"),
                        F.lit(None).cast("long").alias("lid"),
                        "sess_seq", "sess_ct", "zg_id", "cand_rank", "tier"))
    # -1 SENTINELS, not NULLs, on the long columns: a nullable int64
    # reaches pandas as float64 (NaN coercion), which is exact only
    # below 2^53 — seq values are epoch-ms*1e6+event_id ≈ 1.7e18, where
    # float64's ulp is 256 and same-millisecond sequence numbers would
    # collapse or reorder silently (caught by the _replay guard at
    # sf0.1). All real values are positive, so -1 is unambiguous; a
    # null-count-0 arrow batch converts to exact int64.
    rep = rep_store.unionByName(rep_alias).unionByName(rep_cand).na.fill(
        -1, ["click_seq", "lid", "sess_seq", "sess_ct", "zg_id", "cand_rank"])

    matched = rep.groupBy("comp").applyInPandas(_replay, _REPLAY_SCHEMA)
    return matched.unionByName(nomatch)


QUERIES["p54_click_consumption"] = _p54_run
# ORACLE registered below (after the recursive-replay CTE chain is
# defined): for rounds 1-10 this was the repo's ONE rows-only query —
# "order-dependent sequential replay is not SQL-expressible" — but the
# round-11 p54d work showed DuckDB CAN replay it exactly (one session
# per recursive-CTE iteration in (ct, seq) order, del-set as a list
# column), so p54 now carries a full value oracle too; the global
# sequential Python replay in tests/test_independent_oracles.py stays
# as the third, SQL-free anchor.


# ---------------------------------------------------------------------------
# P54's shared relations, one declaration each (operators/domain.RELATIONS):
# the batch-start click store and each session's static preference list
# over it (the same probe keys/tiers/ranks the sequential replay consumes,
# AdvLidAndUserFirstEndFlatMapFunction.java:1085-1166 for the probe
# order, :408-443 + setIpUaMaps :260-279 for the store writes). Pure
# joins — ROW_NUMBER store build + 6 broadcastable equi-joins. The engine
# checkpoints each; the replay (_build_p54_detail) ships them to
# applyInPandas, and p54c is a scan of p54_cands, so the driver's hash
# row on p54c value-checks the replay's candidate input, and the p54 and
# p54d oracles inline the same texts.
# ---------------------------------------------------------------------------
_EX = "'ex|' || {app} || '|' || {v}"


@relation("p54_entries", cached=True)
def _p54_entries_sql(d) -> str:
    """Every (key, click) entry: one per non-null exact key (all exact
    ids share one 'adtfad:{app}:{md5}' namespace in the reference — a
    single 'ex|' prefix here, keyed by value alone) plus the click's one
    fuzzy key, its ua_proc form, written only for a non-empty ip
    (setIpUaMaps' StringUtils.isNotEmpty(ip),
    AdvSaveAppAdDataFlatMapFunction.java:275-279 — the probe side builds
    its key unconditionally, like the reference :1140-1141). Winners
    feed the store; the full set is the alias/del map (deletion is by
    key string, see module docstring)."""
    s = d.s
    return f"""
  SELECT {_EX.format(app=s('app_id'), v='mkey')} AS cand_key, ct, seq, lid
  FROM p52_exact_entries
  UNION ALL
  SELECT 'fz|' || {s('app_id')} || '|' || ip || '|' || ua_proc,
         ct, seq, lid
  FROM p52_clicks WHERE ip IS NOT NULL AND ip <> ''"""


relation("p54_store", cached=True)(lambda d: """
  SELECT cand_key, click_seq, click_ct, lid FROM (
    SELECT cand_key, seq AS click_seq, ct AS click_ct, lid,
           ROW_NUMBER() OVER (PARTITION BY cand_key
                              ORDER BY ct DESC, seq DESC) AS rn
    FROM p54_entries) t WHERE rn = 1""")


@relation("p54_cands", cached=True)
def _p54_cands_sql(d) -> str:
    """Per-session candidates: probe keys joined to the store; ranks are
    the reference's tier order, the iOS fuzzy pair by stored ct with the
    strict > of :1157-1163 (tie keeps ip+ua)."""
    s, ex = d.s, _EX
    rk_u = ("CASE WHEN ct_ipver IS NOT NULL"
            " AND ct_ipver > COALESCE(ct_ipua, -1) THEN 11 ELSE 10 END")
    rk_v = f"CASE WHEN {rk_u} = 11 THEN 10 ELSE 11 END"
    # the store is a window output without size stats: the hint keeps
    # its six probes broadcast (the p42/p52 lesson)
    return f"""
WITH sp AS (
  SELECT seq, ct, zg_id, is_ios,
         {ex.format(app=s('app_id'), v='p_idfa')} AS k_idfa,
         {ex.format(app=s('app_id'), v='p_oaid')} AS k_oaid,
         {ex.format(app=s('app_id'), v='p_aid')} AS k_aid,
         {ex.format(app=s('app_id'), v='p_imei')} AS k_imei,
         'fz|' || {s('app_id')} || '|' || ip || '|' || ua_name || ':'
             || ua_ver AS k_ipua,
         CASE WHEN ua_ver <> ''
              THEN 'fz|' || {s('app_id')} || '|' || ip || '|:' || ua_ver
         END AS k_ipver
  FROM p52_ss
), hits AS (
  SELECT /*+ BROADCAST(i, o, a, m, u, v) */ sp.*,
         i.click_ct AS ct_idfa, o.click_ct AS ct_oaid,
         a.click_ct AS ct_aid, m.click_ct AS ct_imei,
         u.click_ct AS ct_ipua, v.click_ct AS ct_ipver
  FROM sp
  LEFT JOIN p54_store i ON i.cand_key = sp.k_idfa
  LEFT JOIN p54_store o ON o.cand_key = sp.k_oaid
  LEFT JOIN p54_store a ON a.cand_key = sp.k_aid
  LEFT JOIN p54_store m ON m.cand_key = sp.k_imei
  LEFT JOIN p54_store u ON u.cand_key = sp.k_ipua
  LEFT JOIN p54_store v ON v.cand_key = sp.k_ipver
)
SELECT seq AS sess_seq, ct AS sess_ct, zg_id,
       CASE t.tier
         WHEN 'exact_idfa' THEN 0
         WHEN 'exact_oaid' THEN 0
         WHEN 'exact_aid'  THEN 1
         WHEN 'exact_imei' THEN 2
         WHEN 'ipua'       THEN {rk_u}
         ELSE {rk_v} END AS cand_rank,
       CASE t.tier
         WHEN 'exact_idfa' THEN k_idfa
         WHEN 'exact_oaid' THEN k_oaid
         WHEN 'exact_aid'  THEN k_aid
         WHEN 'exact_imei' THEN k_imei
         WHEN 'ipua'       THEN k_ipua
         ELSE k_ipver END AS cand_key,
       t.tier AS tier
FROM hits
CROSS JOIN (
  SELECT 'exact_idfa' AS tier UNION ALL SELECT 'exact_oaid'
  UNION ALL SELECT 'exact_aid' UNION ALL SELECT 'exact_imei'
  UNION ALL SELECT 'ipua' UNION ALL SELECT 'ipver') t
WHERE CASE t.tier
        WHEN 'exact_idfa' THEN is_ios = 1 AND ct_idfa IS NOT NULL
        WHEN 'exact_oaid' THEN is_ios = 0 AND ct_oaid IS NOT NULL
        WHEN 'exact_aid'  THEN is_ios = 0 AND ct_aid IS NOT NULL
        WHEN 'exact_imei' THEN is_ios = 0 AND ct_imei IS NOT NULL
        WHEN 'ipua'       THEN ct_ipua IS NOT NULL
        ELSE is_ios = 1 AND ct_ipver IS NOT NULL END"""


# P54_CANDIDATES — the driver-hashable half of p54
register(QUERIES, ORACLE, "p54c_candidates", lambda d: """
SELECT sess_seq, sess_ct, zg_id, cand_rank, cand_key, tier FROM p54_cands""")


# ---------------------------------------------------------------------------
# P54D — the replay's order-insensitive rollup, WITH a full DuckDB value
# oracle. p54's per-(tier, lid) aggregate stays rows-only because the
# driver's hash needs a SQL oracle and the greedy sequential consume was
# assumed inexpressible; it isn't — the contested set is small (every
# relation is pre-cut to probed keys), so DuckDB can replay it EXACTLY
# with a recursive CTE that steps one session per iteration in the same
# (ct, seq) arrival order, carrying the del-set as a list column and
# picking each session's first alive candidate with list_filter. The
# oracle below is that replay (global order == the engine's per-group
# order, since groups never share keys), aggregated per app:
#   * n_sessions / n_users / n_clicks per (app, tier) — claim counts and
#     how many distinct store clicks they consumed;
#   * app_del_keys — the app's batch-end thisDelKeySet size
#     (AdvLidAndUserFirstEndFlatMapFunction.java:1178-1210: a claim
#     dels the click payload's WHOLE key set), computed on both sides
#     from claimed clicks joined back to the full entry relation, NOT
#     from the replay's internal dead-list (the engine's list is cut to
#     probed keys — same behavior, smaller accounting set).
# A hash-green row here value-pins the sequential replay itself, which
# p54c's static candidate relation could not.
# ---------------------------------------------------------------------------
def _p54_replay_ctes(d) -> str:
    """The shared recursive-replay CTE chain, through ``detail`` (one
    row per session: match_tier / lid / claim_click). p54d's per-app
    rollup AND p54's own (tier, lid) aggregate both finish from it.
    DuckDB rendering only: the engine side is the applyInPandas
    replay (_p54_detail), so there is no Spark rendering to pin —
    unlike p54c this template IS the independent formulation.

    seq_sess / detail / withapp carry AS MATERIALIZED: DuckDB inlines
    single-reference CTEs, and inlined into the recursive scope the
    WHOLE prelude (the p52 pipeline) re-executes once per iteration —
    i.e. once per session. Measured round 11: p54 68s -> 12s at
    sf0.001, p54d 173s -> 23s at sf0.1; without the markers the sf0.1
    bench denominator ran 20+ minutes."""
    return """
WITH alias AS (
  SELECT seq AS click_seq, list(DISTINCT cand_key) AS akeys
  FROM p54_entries GROUP BY seq
), candx AS (
  -- each candidate embeds everything a claim needs: the stored click,
  -- its lid, and the click's full alias key set
  SELECT c.sess_seq, c.sess_ct, c.zg_id, c.cand_rank, c.cand_key,
         c.tier, st.click_seq, st.lid, al.akeys
  FROM p54_cands c
  JOIN p54_store st ON st.cand_key = c.cand_key
  JOIN alias al ON al.click_seq = st.click_seq
), scand AS (
  -- per-session static preference list, ordered exactly like the
  -- engine replay's sorted((rank, key, tier)) probe loop
  SELECT sess_seq, any_value(sess_ct) AS sess_ct,
         any_value(zg_id) AS zg_id,
         list(struct_pack(rank := cand_rank, key := cand_key,
                          tier := tier, click_seq := click_seq,
                          lid := lid, akeys := akeys)
              ORDER BY cand_rank, cand_key, tier) AS cands
  FROM candx GROUP BY sess_seq
), seq_sess AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY sess_ct, sess_seq) AS i, *
  FROM scand
), rep AS (
  WITH RECURSIVE
  replay(i, dead, sess_seq, zg_id, match_tier, lid, claim_click) AS (
    SELECT 0::BIGINT, []::VARCHAR[], NULL::BIGINT, NULL::BIGINT,
           NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT
    UNION ALL
    -- one session per iteration, (ct, seq) order; hit = first candidate
    -- whose key is still alive; a claim dels the click's whole key set
    SELECT ns.i,
           CASE WHEN hit IS NULL THEN r.dead
                ELSE list_distinct(r.dead || hit.akeys) END,
           ns.sess_seq, ns.zg_id,
           COALESCE(hit.tier, 'none'), hit.lid, hit.click_seq
    FROM replay r
    JOIN seq_sess ns ON ns.i = r.i + 1,
    LATERAL (SELECT list_filter(ns.cands,
                      c -> NOT list_contains(r.dead, c.key))[1] AS hit) h
  )
  SELECT i, sess_seq, zg_id, match_tier, lid, claim_click
  FROM replay
), detail AS MATERIALIZED (
  SELECT sess_seq, zg_id, match_tier, lid, claim_click
  FROM rep WHERE i > 0
  UNION ALL
  SELECT seq, zg_id, 'none', NULL::BIGINT, NULL::BIGINT
  FROM p52_ss WHERE seq NOT IN (SELECT sess_seq FROM p54_cands)
)"""


def p54d_replay_sql(d) -> str:
    return _p54_replay_ctes(d) + """, withapp AS MATERIALIZED (
  SELECT dd.*, s2.app_id FROM detail dd JOIN p52_ss s2 ON s2.seq = dd.sess_seq
), appdel AS (
  SELECT app_id, COUNT(*) AS nk FROM (
    SELECT DISTINCT w.app_id, e.cand_key
    FROM withapp w JOIN p54_entries e ON e.seq = w.claim_click) dk
  GROUP BY app_id
)
SELECT w.app_id, w.match_tier,
       COUNT(*) AS n_sessions,
       COUNT(DISTINCT w.zg_id) AS n_users,
       COUNT(DISTINCT w.claim_click) AS n_clicks,
       COALESCE(MAX(a.nk), 0) AS app_del_keys
FROM withapp w LEFT JOIN appdel a ON a.app_id = w.app_id
GROUP BY w.app_id, w.match_tier"""


def _p54d_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    detail, entries, ss = _p54_detail(spark, sf_dir)
    # detail fans into the per-tier rollup AND the del-set join;
    # materialize once (session-grain — bounded by ss, tiny next to the
    # click relations the replay already checkpoints)
    wapp = (detail.join(ss.select(F.col("seq").alias("sess_seq"),
                                  "app_id"), "sess_seq")
            .localCheckpoint(True))
    per_tier = (wapp.groupBy("app_id", "match_tier")
                .agg(F.count(F.lit(1)).alias("n_sessions"),
                     F.countDistinct("zg_id").alias("n_users"),
                     F.countDistinct("claim_click").alias("n_clicks")))
    claimed = (wapp.where(F.col("claim_click").isNotNull())
               .select("app_id", "claim_click").distinct())
    # claims are bounded by sessions — broadcast them at the full entry
    # relation, never the reverse
    appdel = (entries.join(F.broadcast(claimed),
                           entries.seq == F.col("claim_click"))
              .select("app_id", "cand_key").distinct()
              .groupBy("app_id").agg(F.count(F.lit(1)).alias("nk")))
    # appdel is one row per app — broadcast it; the checkpointed inputs
    # carry no stats, so the static plan would otherwise SMJ two tiny
    # aggregates (AQE fixes it at runtime, but the pin wants the plan
    # right before AQE too)
    return (per_tier.join(F.broadcast(appdel), "app_id", "left")
            .select("app_id", "match_tier", "n_sessions", "n_users",
                    "n_clicks",
                    F.coalesce("nk", F.lit(0)).cast("long")
                    .alias("app_del_keys")))


def p54_replay_agg_sql(d) -> str:
    """p54's own (match_tier, lid) rollup from the same recursive
    replay — retires the repo's last rows-only driver check."""
    return _p54_replay_ctes(d) + """
SELECT match_tier, lid,
       COUNT(*) AS n_sessions,
       COUNT(DISTINCT zg_id) AS n_users
FROM detail GROUP BY match_tier, lid"""


ORACLE["p54_click_consumption"] = duck_pipeline_sql(p54_replay_agg_sql(DUCK))

QUERIES["p54d_replay_rollup"] = _p54d_run
ORACLE["p54d_replay_rollup"] = duck_pipeline_sql(p54d_replay_sql(DUCK))
