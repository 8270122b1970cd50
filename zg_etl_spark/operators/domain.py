"""Pipeline domain: dialect-templated SQL for the ZG event pipeline, and the
one registry of shared relations.

The reference pipeline (SURVEY.md §3.1) is: parse → gate → identity
resolution → dictionaries → virtual attrs/events → enrichment → route/pivot.
Here every stage is a named relation over the driver's ``events`` table,
written ONCE as a template rendered with the one dialect
(``zg_etl_spark.dialect``): ``SPARK`` for Spark SQL (the engine) and
``DUCK`` for DuckDB SQL (the correctness oracle) — so oracle and engine
cannot drift.

Every shared relation (spine stages, LLM indexes, the pipeline's keyed
slices, the source tables) is one ``RELATIONS`` declaration. The engine
(``spark_pipeline_df``) builds just what a query reads, the hot relations
CACHED; the oracle (``duck_pipeline_sql``) inlines just that as CTEs.

Stage ↔ reference operator map:
- gate        → GateFlatMapFunction (operator/gate/GateFlatMapFunction.java:102-213)
                + TimeValidator (dataquality/TimeValidator.java:39-56)
- identity    → DeviceIdAsyncOperator / UserIdAsyncOperator / ZgidAsyncOperator
                (service/OneIdService.java:312-650), deterministic-ID mode:
                dense_rank over first-seen order replaces Snowflake+HSETNX
                (SURVEY.md §4 — reproducible, race-free in batch)
- dictionaries→ EventAsyncOperator / EventAttrAsyncOperator with cus{n}
                column allocation (EventAttrAsyncOperator.java:406-551)

Scale notes: registries/dicts are tiny → broadcast joins. now_ref comes
from a 1-row aggregate cross join (broadcast), never a global window. The
dense_rank ID windows are PARTITIONed BY app_id (per-app sort, not global);
at 100 TB the scalable path is hash IDs (xxhash64(app, key)) — kept as a
documented mode, the deterministic mode is the test/oracle profile.
"""

from __future__ import annotations

import functools
import re
from typing import Any, Callable, NamedTuple

from zg_etl_spark.dialect import DUCK, SPARK, Dialect
from zg_etl_spark.operators import registries as R
from zg_etl_spark.session import entries, materialize

DAY_MS = 86_400_000
VALID_PAST_MS = 21 * DAY_MS  # configured subtime (reference ships 7d,
VALID_FUTURE_MS = DAY_MS     # config.properties:98-99; this deployment
# fixture uses 21d so multi-week feed rows pass). The SAME (subtime,
# addtime) pair feeds both the gate's TimeValidator and the transfer's
# isExpiredTime (DataRouterOperator.java:87-96 passes one pair to both);
# the transfer re-checks against day-start/day-end boundaries
# (EventAttrTransfer.java:398-419), a window that strictly CONTAINS the
# gate's exact-ms window — never binding after the gate, so applying the
# filter once at the gate is exact. s6's dedup watermark derives from
# VALID_PAST_MS too; the constants must move together.

# physical cus{n}/type{n} width of the wide event table — the reference's
# `EventAttrRow.configure(customColumns)` (AllJob.java:41-42), default 100
# there; 8 keeps the test layout readable while still exercising columns
# beyond the allocated dictionary (cus6..8 stay NULL) and beyond app 1's
# attr_cap=2 truncation
ZG_CUS_N = 8


def ua_real_case(d: Dialect, q: str = "") -> str:
    """Raw User-Agent strings for the UA-parser query (p33), derived
    deterministically from user_id at QUERY time — deliberately NOT a
    feed/spine column: the 8 long strings would inflate the checkpointed
    spine every pipeline query pays for, while only p33 reads them."""
    return f"""CASE WHEN {q}user_id % 23 = 1 THEN CAST(NULL AS {d.strtype})
              ELSE CASE {q}user_id % 8
           WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36'
           WHEN 1 THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1'
           WHEN 2 THEN 'Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.6045.163 Mobile Safari/537.36'
           WHEN 3 THEN 'Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1'
           WHEN 4 THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) Gecko/20100101 Firefox/115.0'
           WHEN 5 THEN 'Mozilla/5.0 (Linux; Android 12; HUAWEI MatePad) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.88 Safari/537.36 MicroMessenger/8.0.47'
           WHEN 6 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91'
           ELSE 'curl/8.4.0' END END"""


# isValidGeoResult (IpEnrichOperator.java:236-258): a geo lookup result
# is discarded WHOLE — all three fields to NULL — if ANY field carries a
# control character other than \t \n \r, or U+FFFD (the mojibake marker
# a bad charset decode of the mmap'd db leaves behind). The char class
# below is exactly the reference's reject set; \x{FFFD} spells the
# replacement char in both Java regex (Spark) and RE2 (DuckDB).
GARBLED_GEO_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFD}]"


def geo_garbled(d: Dialect, *cols: str) -> str:
    """TRUE when any geo field of the lookup result is garbled — the
    all-or-nothing validity check the reference applies to the whole
    [country, province, city] triple before accepting it."""
    checks = " OR ".join(d.rlike(c, GARBLED_GEO_RE) for c in cols)
    return f"({checks})"


def custom_attrs(d: Dialect, q: str = "") -> list[tuple[str, str, int]]:
    """The `_`-prefixed custom properties the synthetic feed carries
    (attr_name, value_expr over a feed row, prop_type 1=string 2=number).
    ``q`` qualifies the row alias (e.g. "e."). Single source for BOTH the
    melt that feeds dictionary registration (attrs_melted) and the
    map-side cus{n} pivot in the wide table — the two can never disagree
    on a property's value."""
    return [
        ("_etype", f"{q}event_type", 1),
        ("_k", d.s(f"{q}k"), 2),
        ("_vbucket", d.s(d.idiv(f"{q}k", "10")), 2),
        ("_plat", f"{q}pl", 1),
        ("_band", f"CASE WHEN {q}value > 10 THEN 'hi' ELSE 'lo' END", 1),
    ]

# --- V5 virtual-event fan-out, spine form ----------------------------------
# VirtualEventOperator (IdJob step 7, operator/id/VirtualEventOperator.java:
# 48-339) synthesizes ONE full message per (source row, matching rule)
# BEFORE the dictionary step; EventAsyncOperator (step 8) then includes
# 'vtl' in its dt filter (EventAsyncOperator.java:190), so the derived rows
# get dictionary ids, count against the per-app creation cap, register
# their custom bag (EventAttrAsyncOperator.java:185), and land in the wide
# table. The synthesized row inherits the source row's whole envelope and
# bag; only owner ('zg_vtl'), dt ('vtl'), and the event name (the rule's
# virtual_name) are replaced (createVirtualEventMessage :260-326).

# resolved's exact column order: feed → enveloped (+owner, now_ref) →
# gated (+company_id, business, error_code) → resolved (+zg_did, zg_uid,
# zg_id). The vtl fan-out branch projects THIS list so its UNION ALL with
# `SELECT * FROM resolved` stays positionally aligned;
# tests/test_pipeline.py pins it against the live Spark schema.
RESOLVED_COLS = [
    "event_id", "user_id", "event_type", "value", "ct", "seq", "app_id",
    "ak", "owner_raw", "pl", "pl_id", "sdk", "dt", "did", "cuid",
    "event_name", "sid", "ip_long", "ip", "ua", "k", "dur", "debug", "ref",
    "utm_source", "utm_campaign", "utm_content", "net", "cr", "url", "cn",
    "vn", "business_raw", "rs", "br", "dv", "imei", "jail", "crack",
    "lang", "tzoff", "zs",
    "owner", "now_ref", "company_id", "business", "error_code",
    "zg_did", "zg_uid", "zg_id",
]


def vtl_rule_value(d: Dialect, key: str) -> str:
    """matchFilters value resolution (VirtualEventOperator.java:237-243):
    for a rule key ``x`` the reference tries the bag key ``_x`` first,
    then the bag key spelled verbatim — nothing else. The third tier here
    (raw envelope fields pl/k/event_type/cuid) is a DELIBERATE
    fixture-modeling deviation: real SDK payloads carry bare-spelled bag
    keys mirroring envelope fields, which our synthetic 5-key bag lacks,
    so the envelope stands in for them (it is how the multi-key rules in
    registries.VIRTUAL_EVENT_RULES exercise arbitrary-N conjunctions).
    Resolved per rule at plan-build time (rules are registry fixtures,
    like every other CASE-rendered registry in this module); an unknown
    key yields NULL, which never equals a filter value — the reference's
    missing-property behavior."""
    bag = {name: val for name, val, _ in custom_attrs(d, q="r.")}
    if "_" + key in bag:
        return bag["_" + key]
    if key in bag:
        return bag[key]
    if key in ("pl", "k", "event_type", "cuid"):
        return d.s("r." + key)
    return f"CAST(NULL AS {d.strtype})"


def vtl_rules_values() -> str:
    """The virtual-event rules as an inline VALUES relation (caller adds
    the ``AS v(rule_id, rule_app, src_event, virtual_name, alias)`` alias);
    filters ride separately through vtl_match_any (they are per-rule SQL
    predicates, not relation columns)."""
    return R.values_sql(
        [(i,) + tuple(r[:4]) for i, r in enumerate(R.VIRTUAL_EVENT_RULES)])


# join ON clause shared by the spine fan-out and p6's provenance query:
# rules are looked up by (app, source event name) over error-free evt/abp
# rows (VirtualEventOperator.java:116-157; matching is on the RAW name —
# truncation happens later, in EventAsyncOperator)
VTL_JOIN_ON = (
    "(v.rule_app = 0 OR v.rule_app = r.app_id)\n"
    "   AND v.src_event = r.event_name AND r.dt IN ('evt', 'abp')"
)


def vtl_match_any(d: Dialect) -> str:
    """Equality-AND filter disjunction keyed by rule_id — each rule's
    ARBITRARY-length conjunction (matchFilters iterates the rule's whole
    map, VirtualEventOperator.java:216-254; empty list = always-match).
    A map-side predicate on the broadcast rules join — no extra shuffle
    at any filter count."""
    per_rule = []
    for i, (_, _, _, _, filters) in enumerate(R.VIRTUAL_EVENT_RULES):
        conj = " AND ".join(
            f"{vtl_rule_value(d, k)} = '{v}'" for k, v in filters
        ) or "1 = 1"
        per_rule.append(f"(v.rule_id = {i} AND {conj})")
    return "\n     OR ".join(per_rule)


def _vtl_fanout_select(d: Dialect) -> str:
    """The synthesized rows, resolved-shaped: every envelope/bag column
    inherited from the source row, owner/dt/event_name replaced."""
    repl = {
        "owner": "'zg_vtl' AS owner",
        "dt": "'vtl' AS dt",
        "event_name": "v.virtual_name AS event_name",
    }
    cols = ",\n         ".join(repl.get(c, f"r.{c}") for c in RESOLVED_COLS)
    return f"""
  SELECT {cols}
  FROM resolved r
  JOIN {vtl_rules_values()}
       AS v(rule_id, rule_app, src_event, virtual_name, alias)
    ON {VTL_JOIN_ON}
  WHERE {vtl_match_any(d)}"""


def vtl_fanout_df(batch):
    """Per-micro-batch DataFrame rendering of the same fan-out, for the
    streaming route stage (the reference runs VirtualEventOperator as a
    stream operator between the id and dictionary steps, IdJob step 7).
    Identical rule table, join condition, and match predicate as the batch
    `_vtl_fanout_select` — rendered over whatever envelope subset the
    stream carries: every batch column is inherited, owner/dt/event_name
    replaced (createVirtualEventMessage, VirtualEventOperator.java:
    260-326). The rules side is broadcast — the fan-out adds no shuffle
    to the micro-batch at any rule count."""
    from pyspark.sql import functions as F

    spark = batch.sparkSession
    # inline VALUES (LocalRelation), NOT createDataFrame: the latter
    # parallelizes the rows over defaultParallelism partitions through
    # a Python RDD, and since a broadcast relation is rebuilt by every
    # ACTION that references it, each micro-batch action re-ran a
    # 32-task Python round trip just to re-collect a handful of rule
    # rows (measured ~0.5 s × 3 actions × every batch in s4). A
    # LocalRelation broadcast is a driver-side copy, zero tasks. The
    # relation and the rendered predicate are batch-invariant, so they
    # are built once per session (a tuple, so the registry keeps the
    # LocalRelation as is), never on the micro-batch's hot path.
    rules, match_any = materialize(spark, None, "vtl_rules", lambda: (
        spark.sql(f"SELECT * FROM {vtl_rules_values()} "
                  "AS v(rule_id, rule_app, src_event, virtual_name, alias)"),
        vtl_match_any(SPARK),
    ))
    joined = (
        batch.alias("r")
        .join(F.broadcast(rules.alias("v")), F.expr(VTL_JOIN_ON), "inner")
        .where(F.expr(match_any))
    )
    repl = {
        "owner": F.lit("zg_vtl"),
        "dt": F.lit("vtl"),
        "event_name": F.col("v.virtual_name"),
    }
    return joined.select(
        *[repl.get(c, F.col(f"r.{c}")).alias(c) for c in batch.columns]
    )


# --- the relation registry ---------------------------------------------------
# Every relation that several queries (or several references in one
# query) read is declared ONCE, in dependency order, as name -> sql(d):
# the spine stages below, the LLM lane's indexes (plans/llm.py), the
# pipeline's keyed slices and ad-click relations (plans/pipeline.py,
# plans/consume.py) and the source tables under them. What a relation or a query body reads is derived from its text:
# every declared name it contains as a whole word. Spark inlines CTEs and
# substitutes cached plans BEFORE that inlining, so a relation referenced
# N times re-runs its lineage N times; a CACHED relation is therefore a
# localCheckpointed registry entry, whose lineage cut also keeps Catalyst
# off thousand-node plans (measured on the spine: attr_dict count 5.8 s
# with a warm cache, 0.05 s checkpointed). A deployment persists these
# as tables, as the reference persists each stage's output once for
# every consumer. A plain relation is a temp view over the entries it
# reads. DuckDB materializes CTEs natively.
class Relation(NamedTuple):
    sql: Callable[[Dialect], str] | None  # None: a source table
    cached: bool


RELATIONS: dict[str, Relation] = {}
BODIES: dict = {}  # SQL-bodied query -> body(d), see register


def relation(name: str, cached: bool = False):
    """Declare the decorated ``sql(d)`` as the shared relation ``name``."""
    def declare(sql):
        RELATIONS[name] = Relation(sql, cached)
        return sql
    return declare


# The source tables, built with sources.tables.fan_out (read as they are
# by the oracle): the testdata ships each as ONE parquet file, which would
# run every per-row pipeline over it (the spine's ~50 derived columns,
# the LLM lane's array/hash chains) in a single task.
for _source in ("events", "documents", "embeddings"):
    RELATIONS[_source] = Relation(None, cached=True)


def reads(sql: str, names=RELATIONS) -> list[str]:
    """The ``names`` (declared relations) that ``sql`` reads."""
    words = set(re.findall(r"\w+", sql))
    return [n for n in names if n in words]


@functools.lru_cache(maxsize=None)
def _text(d: Dialect, name: str) -> tuple[str, list[str]]:
    """(sql, the earlier-declared relations it reads) of ``name``."""
    sql = RELATIONS[name].sql(d) if RELATIONS[name].sql else ""
    return sql, reads(sql, list(RELATIONS)[:list(RELATIONS).index(name)])


def closure(d: Dialect, names) -> list[str]:
    """``names`` and every relation they read, in dependency order."""
    need, todo = set(), list(names)
    while todo:
        name = todo.pop()
        if name not in need:
            need.add(name)
            todo += _text(d, name)[1]
    return [name for name in RELATIONS if name in need]


def with_ctes(ctes: list[tuple[str, str]], body: str) -> str:
    """``body`` behind one WITH clause of ``ctes`` ((name, sql) pairs, in
    dependency order) — how an oracle inlines the relations the engine
    materializes. A body with its own CTEs is spliced into that clause;
    its RECURSIVE marker, if any, moves to the front."""
    if not ctes:
        return body
    head = "WITH "
    stripped = body.lstrip()
    if stripped.upper().startswith("WITH "):
        body = stripped[4:]
        if body.lstrip().upper().startswith("RECURSIVE "):
            head, body = "WITH RECURSIVE ", body.lstrip()[len("RECURSIVE"):]
        body = "," + body
    return head + ",\n".join(
        f"{name} AS ({sql.strip()})" for name, sql in ctes
    ) + "\n" + body


def duck_pipeline_sql(body: str) -> str:
    """The oracle: ``body`` behind the relations it reads, as CTEs."""
    return with_ctes([(n, _text(DUCK, n)[0]) for n in closure(DUCK, reads(body))
                      if RELATIONS[n].sql], body)


def spark_pipeline_df(spark, sf_dir: str, body: str):
    """The engine: ``body`` over the relations it reads."""
    relations(spark, sf_dir, reads(body))
    return spark.sql(body)


def relations(spark, sf_dir: str, names) -> dict[str, Any]:
    """Build ``names`` and what they read, each once per (session,
    sf_dir), and return sf_dir's live entries (name -> value).
    Consecutive cached relations that do not read each other (did_ids /
    uid_ids; event_dict / attrs_melted) build CONCURRENTLY — Spark
    schedules jobs from several driver threads onto one executor pool, as
    independent builds would run on a cluster."""
    from concurrent.futures import ThreadPoolExecutor

    live, pending = entries(spark, sf_dir), []

    def flush() -> None:
        with ThreadPoolExecutor(max_workers=len(pending)) as ex:
            live.update(zip(pending, ex.map(
                lambda n: _build(spark, sf_dir, n), pending)))
        pending.clear()

    for name in closure(SPARK, names):
        if name not in live:
            if set(pending) & set(_text(SPARK, name)[1]):
                flush()  # it reads a pending relation: barrier first
            if RELATIONS[name].cached and RELATIONS[name].sql:
                pending.append(name)
            else:  # a source table or a view: built in place
                live[name] = _build(spark, sf_dir, name)
    if pending:
        flush()
    return live


def _build(spark, sf_dir: str, name: str) -> Any:
    from zg_etl_spark.sources.tables import fan_out

    sql = _text(SPARK, name)[0]
    if not sql:
        return materialize(spark, sf_dir, name, lambda: fan_out(spark, sf_dir, name))
    if RELATIONS[name].cached:
        return materialize(spark, sf_dir, name, lambda: spark.sql(sql))
    return materialize(spark, sf_dir, name,
                       lambda: spark.sql(sql).createOrReplaceTempView(name),
                       cleanup=lambda _: spark.catalog.dropTempView(name))


def register(queries: dict, oracles: dict, name: str, body_fn) -> None:
    """Declare the SQL-bodied query ``name`` in a module's QUERIES and
    ORACLE: ``body_fn(SPARK)`` on the engine, ``body_fn(DUCK)`` as the
    oracle."""
    queries[name] = lambda spark, sf_dir: spark_pipeline_df(
        spark, sf_dir, body_fn(SPARK))
    oracles[name] = duck_pipeline_sql(body_fn(DUCK))
    BODIES[name] = body_fn


# --- the spine ---------------------------------------------------------------
def _catalog(name: str, rows, cols: str) -> None:
    """Declare a catalog fixture table (operators/registries.py) as an
    inline VALUES relation."""
    relation(name)(lambda d: f"SELECT * FROM {R.values_sql(rows)} AS t({cols})")


@relation("feed")
def _feed(d: Dialect) -> str:
    s, idiv = d.s, d.idiv
    app_id = "(user_id % 3 + 1)"
    ip_hash = "((event_id * 2654435761) % 4294967296)"
    k_expr = f"CAST({d.json_str('props', '$.k')} AS BIGINT)"
    return f"""
  SELECT event_id, user_id, event_type, value,
         {d.event_ms()} AS ct,
         {d.event_ms()} * 1000000 + event_id AS seq,
         {app_id} AS app_id,
         CASE WHEN user_id % 31 = 7 THEN 'ak_bad'
              WHEN user_id % 31 = 16 THEN 'ak_drop'
              ELSE 'ak_' || {s(app_id)} END AS ak,
         CASE WHEN event_type = 'signup' THEN 'zg_cdp'
              WHEN event_type = 'error' AND user_id % 2 = 0 THEN 'weird'
              ELSE 'zg' END AS owner_raw,
         CASE WHEN user_id % 53 = 9 THEN 'bb10'
              ELSE CASE user_id % 7 WHEN 0 THEN 'and' WHEN 1 THEN 'ios'
                   WHEN 2 THEN 'js' WHEN 3 THEN 'wxa' WHEN 4 THEN 'server'
                   WHEN 5 THEN 'harmonyos' ELSE 'none' END END AS pl,
         CASE user_id % 7 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3
              WHEN 3 THEN 4 WHEN 4 THEN 5 WHEN 5 THEN 6 ELSE 0 END AS pl_id,
         CASE WHEN user_id % 11 = 0 THEN 'zg_server' ELSE 'zg-android' END AS sdk,
         CASE event_type WHEN 'click' THEN 'evt' WHEN 'purchase' THEN 'evt'
              WHEN 'view' THEN 'abp' WHEN 'signup' THEN 'usr'
              ELSE CASE WHEN event_id % 2 = 1 THEN 'mkt'
                        WHEN event_id % 10 = 0 THEN 'ss'
                        WHEN event_id % 10 = 4 THEN 'se'
                        ELSE 'pl' END END AS dt,
         CASE WHEN user_id % 37 = 5 THEN ''
              WHEN user_id % 43 = 11 THEN 'did_' || repeat('x', 120)
              ELSE 'did_' || {s('user_id')} END AS did,
         CASE WHEN user_id % 5 < 2 THEN 'cu_' || {s('(user_id % 40)')} END AS cuid,
         CASE WHEN event_type IN ('click', 'purchase', 'view')
                   OR (event_type = 'error' AND event_id % 2 = 1)
              THEN CASE WHEN event_id % 97 = 0
                        THEN event_type || repeat('_long_name', 15)
                        WHEN event_id % 89 = 3
                        THEN event_type || '!bad name'
                        ELSE event_type END END AS event_name,
         CASE WHEN event_id % 5 = 0 THEN CAST(NULL AS BIGINT)
              ELSE 1000 + event_id % 50 END AS sid,
         CASE WHEN event_id % 17 = 0 THEN CAST(167772161 AS BIGINT)
              WHEN event_id % 23 = 0 THEN CAST(0 AS BIGINT)
              ELSE {ip_hash} END AS ip_long,
         CASE WHEN event_id % 17 = 0 THEN '10.0.0.1'
              WHEN event_id % 23 = 0 THEN '0.0.0.0'
              ELSE {s(idiv(ip_hash, '16777216'))} || '.' ||
                   {s(f"({idiv(ip_hash, '65536')} % 256)")} || '.' ||
                   {s(f"({idiv(ip_hash, '256')} % 256)")} || '.' ||
                   {s(f'({ip_hash} % 256)')} END AS ip,
         'UA_' || {s('(user_id % 6)')} AS ua,
         {k_expr} AS k,
         (event_id * 7919) % 90000000 AS dur,
         CASE WHEN event_id % 101 = 0 THEN 1 ELSE 0 END AS debug,
         CASE WHEN event_type = 'click' THEN
           CASE event_id % 12
             WHEN 0 THEN 'https://www.google.com/search?q=kw_' || {s(k_expr)}
             WHEN 1 THEN 'https://www.baidu.com/s?wd=kw_' || {s(k_expr)}
             WHEN 2 THEN 'https://www.baidu.com/s?word=w%20rd_' || {s(k_expr)}
             WHEN 3 THEN 'https://www.sogou.com/web?query=%E4%B8%AD%E6%96%87_' || {s(k_expr)}
             WHEN 4 THEN 'https://www.so.com/s?Q=kw_' || {s(k_expr)}
             WHEN 5 THEN 'https://cn.bing.com/search?q=kw%2520' || {s(k_expr)}
             WHEN 6 THEN 'https://m.sm.cn/s?q="kw_' || {s(k_expr)} || '"'
             WHEN 7 THEN 'https://so.toutiao.com/search?keyword=kw_' || {s(k_expr)}
             WHEN 8 THEN 'https://search.yahoo.com/search?p=kw_' || {s(k_expr)}
             WHEN 9 THEN 'https://www.google.com/search?hl=en'
             WHEN 10 THEN 'https://example.com/page'
             WHEN 11 THEN 'https://www.baidu.com/link?url=x&eqid=' || md5({s(k_expr)})
           END
         END AS ref,
         CASE WHEN user_id % 13 = 0 THEN 'adwords' END AS utm_source,
         CASE WHEN user_id % 13 = 0 AND event_id % 3 = 0
              THEN 'camp_' || {s('(event_id % 4)')} END AS utm_campaign,
         CASE WHEN user_id % 13 = 0 AND event_id % 5 = 0
              THEN 'banner"x"' END AS utm_content,
         CASE user_id % 8 WHEN 0 THEN '-1' WHEN 1 THEN '2' WHEN 2 THEN '4'
              WHEN 3 THEN '1234567' WHEN 4 THEN 'wifi' END AS net,
         CASE WHEN user_id % 4 = 0 THEN {s('(46000 + user_id % 3)')}
              WHEN user_id % 4 = 1 THEN 'mnc?' END AS cr,
         CASE WHEN event_type IN ('click', 'view')
              THEN 'https://site' || {s(app_id)} || '.example.com/p/'
                   || {s('(event_id % 20)')} END AS url,
         CASE user_id % 6 WHEN 0 THEN 'appstore'
              WHEN 1 THEN 'ch"q"' WHEN 2 THEN 'c' || chr(9) || 'tab' END AS cn,
         'v' || {s('(user_id % 4)')} || '.0' AS vn,
         CASE user_id % 10 WHEN 0 THEN 'biz_a' WHEN 1 THEN 'biz_x' END
             AS business_raw,
         CASE user_id % 6 WHEN 0 THEN '1080*1920' WHEN 1 THEN '750x1334'
              WHEN 2 THEN 'bad-res' WHEN 3 THEN 'a1920*1080'
              WHEN 4 THEN '1080**2340' END AS rs,
         CASE WHEN user_id % 3 = 0 THEN 'brand_' || {s('(user_id % 4)')} END AS br,
         'model_' || {s('(user_id % 6)')} AS dv,
         CASE WHEN user_id % 7 = 0 THEN 'imei_' || {s('user_id')} END AS imei,
         CASE user_id % 4 WHEN 0 THEN '1' WHEN 1 THEN '0' END AS jail,
         CASE user_id % 5 WHEN 0 THEN '1' ELSE '0' END AS crack,
         CASE user_id % 3 WHEN 0 THEN 'zh-CN' WHEN 1 THEN 'en-US' END AS lang,
         CASE user_id % 9 WHEN 0 THEN CAST(28800000 AS BIGINT)
              WHEN 1 THEN CAST(-18000000 AS BIGINT)
              WHEN 2 THEN CAST(999999999999 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS tzoff,
         CASE WHEN user_id % 11 = 3 THEN 'zs_' || {s(app_id)} END AS zs
  FROM events"""


# G5 owner normalization (CheckJsonAndOwnerOperator.java:39-52);
# now_ref via 1-row aggregate cross join (broadcast), not a global
# window — and aggregated over the RAW events scan (one narrow column),
# not over feed, which would evaluate the whole feed projection twice
relation("enveloped")(lambda d: f"""
  SELECT f.*,
         CASE WHEN f.owner_raw IN ('zg', 'zg_adp', 'zg_mkt', 'zg_cdp')
              THEN f.owner_raw ELSE 'zg' END AS owner,
         nr.now_ref
  FROM feed f CROSS JOIN (SELECT MAX({d.event_ms()}) AS now_ref FROM events) nr""")

_catalog("app_reg", R.APP_REGISTRY, "r_ak, r_app_id, company_id")
_catalog("ip_bl", R.IP_BLACKLIST, "b_app_id, b_ip")
_catalog("ua_bl", R.UA_BLACKLIST, "b_app_id, b_ua")
_catalog("ip_ranges", R.IP_RANGES, ", ".join(R.IP_RANGE_COLS))
_catalog("ipv6_ranges", R.IPV6_RANGES, ", ".join(R.IPV6_RANGE_COLS))
_catalog("biz_wl", R.BUSINESS_WHITELIST, "wb_cid, wb_business")


# gate (GateFlatMapFunction.java:102-213), the reference's observable
# attribution order:
#   1. ak not in filter.aks       -> SILENT drop (:139-141, no error row)
#   2. ak not in app registry     -> 1010006 AK_NONE
#   3. basicSchema conformance    -> 1020002 BASIC_SCHEMA_FORMAT_NOT_MATCH
#      (CheckJSONSchemaUtil.java:55-78 + basicSchema.json: usr.did
#      minLength 1 / maxLength 100, pl enum)
#   4. business whitelist         -> NOT an error: business reset to ''
#   5. per-app ip blacklist       -> 1010001 IP_BLOCK
#   6. per-app ua blacklist       -> 1010002 UA_BLOCK
#   7. time validity (G7, dw)     -> 1030005 EVENT_TIME_EXCEEDS_RANGE;
#      zg_server / zg-cdp sdks exempt (dataquality/TimeValidator.java:40-41)
@relation("gated", cached=True)
def _gated(d: Dialect) -> str:
    filter_aks = ", ".join(f"'{a}'" for a in R.FILTER_AKS)
    return f"""
  SELECT f.*, r.company_id,
         CASE WHEN b.wb_business IS NOT NULL THEN f.business_raw
              ELSE '' END AS business,
         CASE WHEN r.r_app_id IS NULL THEN 1010006
              WHEN f.did = '' OR length(f.did) > 100 OR f.pl NOT IN
                   ('none', 'and', 'ios', 'js', 'wxa', 'server', 'harmonyos')
                THEN 1020002
              WHEN ipb.b_ip IS NOT NULL THEN 1010001
              WHEN uab.b_ua IS NOT NULL THEN 1010002
              WHEN NOT (f.sdk IN ('zg_server', 'zg-cdp') OR
                        (f.ct BETWEEN f.now_ref - {VALID_PAST_MS}
                                  AND f.now_ref + {VALID_FUTURE_MS})) THEN 1030005
              ELSE 0 END AS error_code
  FROM enveloped f
  LEFT JOIN app_reg r ON f.ak = r.r_ak
  LEFT JOIN biz_wl b ON b.wb_cid = r.company_id AND b.wb_business = f.business_raw
  LEFT JOIN ip_bl ipb ON ipb.b_app_id = f.app_id AND ipb.b_ip = f.ip
  LEFT JOIN ua_bl uab ON uab.b_app_id = f.app_id AND uab.b_ua = f.ua
  WHERE f.ak IN ({filter_aks})"""


relation("gate_ok")(lambda d: "SELECT * FROM gated WHERE error_code = 0 AND debug = 0")

# identity resolution, deterministic-ID mode
relation("did_first")(lambda d: (
    "SELECT app_id, did, MIN(seq) AS first_seq FROM gate_ok GROUP BY app_id, did"))

relation("did_ids", cached=True)(lambda d: """
  SELECT app_id, did,
         CAST(100000 + DENSE_RANK() OVER (PARTITION BY app_id ORDER BY first_seq)
              AS BIGINT) AS zg_did
  FROM did_first""")

relation("cuid_first")(lambda d: """
  SELECT app_id, cuid, MIN(seq) AS first_seq FROM gate_ok
  WHERE cuid IS NOT NULL GROUP BY app_id, cuid""")

relation("uid_ids", cached=True)(lambda d: """
  SELECT app_id, cuid,
         CAST(200000 + DENSE_RANK() OVER (PARTITION BY app_id ORDER BY first_seq)
              AS BIGINT) AS zg_uid
  FROM cuid_first""")

relation("dev_first_cuid")(lambda d: """
  SELECT app_id, did, cuid FROM (
    SELECT app_id, did, cuid,
           ROW_NUMBER() OVER (PARTITION BY app_id, did ORDER BY seq) AS rn
    FROM gate_ok WHERE cuid IS NOT NULL
  ) x WHERE rn = 1""")

relation("device_zgid", cached=True)(lambda d: """
  SELECT d.app_id, d.did, d.zg_did, fc.cuid AS bound_cuid,
         CASE WHEN u.zg_uid IS NOT NULL THEN 300000 + u.zg_uid
              ELSE 900000 + d.zg_did END AS zg_id
  FROM did_ids d
  LEFT JOIN dev_first_cuid fc ON fc.app_id = d.app_id AND fc.did = d.did
  LEFT JOIN uid_ids u ON u.app_id = fc.app_id AND u.cuid = fc.cuid""")

relation("resolved", cached=True)(lambda d: """
  SELECT g.*, di.zg_did, ui.zg_uid,
         CASE WHEN g.cuid IS NOT NULL THEN 300000 + ui.zg_uid
              ELSE dz.zg_id END AS zg_id
  FROM gate_ok g
  JOIN device_zgid dz ON dz.app_id = g.app_id AND dz.did = g.did
  JOIN did_ids di ON di.app_id = g.app_id AND di.did = g.did
  LEFT JOIN uid_ids ui ON ui.app_id = g.app_id AND ui.cuid = g.cuid""")


# dictionaries: event dict (owner rule: dt=abp ⇒ owner zg,
# EventAsyncOperator.java:293-299; >100-char names truncated :120-299)
# EVENT_NAME_INVALID (1020013): only digits / letters / underscore /
# hyphen / CJK / $ allowed (ErrorMessageEnum.java EVENT_NAME_INVALID);
# invalid names never enter the dictionary (no auto-create).
# Virtual-event fan-out rows (dt='vtl', owner zg_vtl) enter the spine
# HERE: VirtualEventOperator (IdJob step 7) runs BEFORE
# EventAsyncOperator (step 8), whose dt filter includes 'vtl'
# (EventAsyncOperator.java:190), so the synthesized rows register in
# the event dictionary, count against the per-app creation cap,
# register their custom bag, and reach the wide table / streaming
# route (p4, p8, p29, p36, s4). Both UNION branches project
# RESOLVED_COLS by name, so the union cannot silently misalign;
# tests/test_pipeline.py pins RESOLVED_COLS against the live schema.
# Deliberately NOT cached: a cheap broadcast-join union over the cached
# `resolved`, and checkpointing it would copy half the data again.
@relation("events_typed")
def _events_typed(d: Dialect) -> str:
    name_valid = d.rlike("substring(event_name, 1, 100)", "^[0-9A-Za-z_$一-龥-]+$")
    return f"""
  SELECT *, CASE WHEN dt = 'abp' THEN 'zg' ELSE owner END AS owner_e,
         substring(event_name, 1, 100) AS event_name_t,
         {name_valid} AS name_valid
  FROM (
    SELECT {', '.join(RESOLVED_COLS)} FROM resolved
    WHERE dt IN ('evt', 'abp', 'mkt')
    UNION ALL
    {_vtl_fanout_select(d)}
  ) u
  WHERE event_name IS NOT NULL"""


relation("event_first", cached=True)(lambda d: """
  SELECT app_id, owner_e AS owner, event_name_t AS event_name,
         MIN(seq) AS first_seq
  FROM events_typed WHERE name_valid
  GROUP BY app_id, owner_e, event_name_t""")

# first_seq ties EXIST since the vtl fan-out: a synthesized row shares
# its source row's seq, so a first-seen source name and a first-seen
# virtual name can tie. The reference resolves ties by arrival order
# (the synthesized message is emitted after its source,
# VirtualEventOperator.java:260-326); the deterministic batch stand-in
# is (first_seq, owner, event_name) — 'zg' < 'zg_vtl' puts the source
# name first, matching arrival order, and it is byte-identical to the
# streaming get-or-create's tie-break (engine.py
# incremental_get_or_create orders by first_seq, *key_cols), which
# keeps the s4 oracle exact.
relation("event_dict", cached=True)(lambda d: """
  SELECT app_id, owner, event_name,
         CAST(1000 * app_id +
              DENSE_RANK() OVER (PARTITION BY app_id
                                 ORDER BY first_seq, owner, event_name)
              AS BIGINT) AS zg_eid
  FROM event_first""")

# --- dictionary governance (M1 gating) ---------------------------------
# event_dict above is the UNGATED get-or-create relation (every
# first-seen event assigned an id) — it stays the oracle for the
# streaming get-or-create (s4) and the high-water query. The effective
# dictionary below applies the reference's creation rules: preseeded
# rows always exist; new events are created only when the app allows
# auto-create and the total id count stays under the app's cap
# (EventAsyncOperator.java:300-326; company_app.event_sum/auto_event).
_catalog("app_cfg", R.APP_CONFIG, "cfg_app_id, auto_disabled, event_cap, attr_cap")
_catalog("event_preseed", R.EVENT_PRESEED, "ps_app_id, ps_owner, ps_event_name, ps_eid")
_catalog("event_bl", R.EVENT_BLACKLIST, "bl_app_id, bl_owner, bl_event_name")
_catalog("attr_bl", R.ATTR_BLACKLIST, "ab_app_id, ab_attr_name")
_catalog("uprop_bl", R.USER_PROP_BLACKLIST, "ub_app_id, ub_prop_name")

relation("event_dict_eff", cached=True)(lambda d: """
  SELECT ps_app_id AS app_id, ps_owner AS owner, ps_event_name AS event_name,
         CAST(ps_eid AS BIGINT) AS zg_eid
  FROM event_preseed
  UNION ALL
  SELECT app_id, owner, event_name,
         CAST(1000 * app_id + pre_n + rk AS BIGINT) AS zg_eid
  FROM (
    SELECT ef.app_id, ef.owner, ef.event_name, c.event_cap,
           COALESCE(pc.pre_n, 0) AS pre_n,
           DENSE_RANK() OVER (PARTITION BY ef.app_id
                              ORDER BY ef.first_seq, ef.owner, ef.event_name)
               AS rk
    FROM event_first ef
    JOIN app_cfg c ON c.cfg_app_id = ef.app_id
    LEFT JOIN event_preseed p ON p.ps_app_id = ef.app_id
         AND p.ps_owner = ef.owner AND p.ps_event_name = ef.event_name
    LEFT JOIN (SELECT ps_app_id, COUNT(*) AS pre_n FROM event_preseed
               GROUP BY ps_app_id) pc ON pc.ps_app_id = ef.app_id
    WHERE c.auto_disabled = 0 AND p.ps_eid IS NULL
  ) x WHERE pre_n + rk <= event_cap""")

# per-sub-record event resolution outcome, reference attribution order:
# resolved + blacklisted -> EVENT_BLACK; unresolved on a no-auto-create
# app -> EVENT_CREATE_DISABLED; unresolved under the cap rule ->
# EVENT_COUNT_EXCEED (ErrorMessageEnum 1020102/1020103/1020104)
relation("events_dicted")(lambda d: """
  SELECT /*+ BROADCAST(ed), BROADCAST(bl), BROADCAST(cfg) */
         et.*, ed.zg_eid,
         CASE WHEN NOT et.name_valid THEN 1020013
              WHEN ed.zg_eid IS NOT NULL AND bl.bl_event_name IS NOT NULL
                THEN 1020102
              WHEN ed.zg_eid IS NULL AND cfg.auto_disabled = 1 THEN 1020103
              WHEN ed.zg_eid IS NULL THEN 1020104
              ELSE 0 END AS event_error_code
  FROM events_typed et
  JOIN app_cfg cfg ON cfg.cfg_app_id = et.app_id
  LEFT JOIN event_dict_eff ed ON ed.app_id = et.app_id
       AND ed.owner = et.owner_e AND ed.event_name = et.event_name_t
  LEFT JOIN event_bl bl ON bl.bl_app_id = et.app_id
       AND bl.bl_owner = et.owner_e AND bl.bl_event_name = et.event_name_t""")


# attr melt runs only for sub-records whose event RESOLVED (the
# reference's operator order: EventAttrAsyncOperator after
# EventAsyncOperator, errored records skip ahead); blacklisted
# property keys are dropped before registration
# (EventAttrAsyncOperator.java:784-834)
@relation("attrs_melted", cached=True)
def _attrs_melted(d: Dialect) -> str:
    if d.name == "spark":
        # one pass, not five (guide §2.4): the UNION-ALL melt re-executes
        # events_dicted's whole lineage (events_typed union + three
        # broadcast joins over the checkpointed `resolved`) once per
        # custom attribute; exploding an inline struct array emits the
        # identical multiset — every branch row, including NULL
        # attr_values — from ONE scan. The DuckDB prelude keeps the
        # UNION form, so every downstream oracle proves equivalence.
        structs = ", ".join(
            f"named_struct('attr_name', '{name}', "
            f"'attr_value', {val}, 'prop_type', {ptype})"
            for name, val, ptype in custom_attrs(d)
        )
        melt = f"""
  SELECT app_id, owner_e AS owner, event_name_t AS event_name, seq, zg_eid,
         a.attr_name, a.attr_value, a.prop_type
  FROM (
    SELECT app_id, owner_e, event_name_t, seq, zg_eid,
           explode(array({structs})) AS a
    FROM events_dicted WHERE event_error_code = 0
  ) x"""
    else:
        melt = "\n  UNION ALL\n".join(
            f"""
  SELECT app_id, owner_e AS owner, event_name_t AS event_name, seq, zg_eid,
         '{name}' AS attr_name, {val} AS attr_value, {ptype} AS prop_type
  FROM events_dicted WHERE event_error_code = 0"""
            for name, val, ptype in custom_attrs(d)
        )
    return f"""
  SELECT m.* FROM ({melt}
  ) m
  LEFT JOIN attr_bl ab ON ab.ab_app_id = m.app_id
       AND ab.ab_attr_name = m.attr_name
  WHERE ab.ab_attr_name IS NULL"""


relation("attr_first")(lambda d: """
  SELECT m.app_id, m.zg_eid, m.owner, m.attr_name, m.prop_type,
         MIN(m.seq) AS first_seq
  FROM attrs_melted m
  GROUP BY m.app_id, m.zg_eid, m.owner, m.attr_name, m.prop_type""")

# physical column allocation, capped at the app's attr_sum
# (EventAttrAsyncOperator.java:539-551 column alloc; properties beyond
# the cap get no physical column and drop out of the wide pivot)
relation("attr_dict", cached=True)(lambda d: f"""
  SELECT zg_eid, owner, attr_name, prop_type, col_idx,
         zg_eid * 10 + col_idx AS attr_id,
         'cus' || {d.s('col_idx')} AS column_name
  FROM (
    SELECT x.*, c.attr_cap FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY zg_eid, owner
                                        ORDER BY first_seq, attr_name)
                     AS BIGINT) AS col_idx
      FROM attr_first
    ) x JOIN app_cfg c ON c.cfg_app_id = x.app_id
  ) y WHERE col_idx <= attr_cap""")


# attr_map: the dictionary pivoted to one row per (zg_eid, owner) with
# the attr name + type occupying each physical cus column. Aggregates
# the DICT (broadcast-sized by construction), never the fact — the wide
# table derives cus{n} map-side from the row's own fields through this
# lookup, with ZERO fact-grain shuffles (EventAttrTransfer.java:162-228
# does the same via a per-record column-index cache).
@relation("attr_map", cached=True)
def _attr_map(d: Dialect) -> str:
    map_cols = ",\n         ".join(
        f"MAX(CASE WHEN col_idx = {i} THEN attr_name END) AS a{i},\n"
        f"         MAX(CASE WHEN col_idx = {i} THEN CAST(prop_type AS INT) END) AS t{i}"
        for i in range(1, ZG_CUS_N + 1)
    )
    return f"""
  SELECT zg_eid, owner,
         {map_cols}
  FROM attr_dict GROUP BY zg_eid, owner"""


# M3 user-property dictionary: get-or-create per (app, owner, prop_name)
# (UserPropAsyncOperator.java:112-260); built-in app_user_id = -1
# (UserPropertyTransfer.java:30-33) joins in at projection time
# user-prop blacklist drops the key before dictionary registration
# (UserPropAsyncOperator.java:112-260)
# zg_uid rides along for the TRANSFER gate (UserPropertyTransfer.java:
# 55-59 emits rows only for IDENTIFIED users); registration below
# stays ungated — the dictionary operator annotates the message before
# the transfer decides whether rows ship
relation("usr_props_melted")(lambda d: f"""
  SELECT m.* FROM (
  SELECT app_id, owner, zg_id, zg_uid, seq, '_k' AS prop_name,
         {d.s('k')} AS prop_value,
         2 AS prop_type FROM resolved WHERE dt = 'usr'
  UNION ALL
  SELECT app_id, owner, zg_id, zg_uid, seq, '_plname', pl, 1
  FROM resolved WHERE dt = 'usr'
  UNION ALL
  SELECT app_id, owner, zg_id, zg_uid, seq, '_vbucket',
         {d.s(d.idiv('k', '10'))}, 2
  FROM resolved WHERE dt = 'usr' AND k IS NOT NULL
  ) m
  LEFT JOIN uprop_bl ub ON ub.ub_app_id = m.app_id
       AND ub.ub_prop_name = m.prop_name
  WHERE ub.ub_prop_name IS NULL""")

relation("user_prop_dict")(lambda d: """
  SELECT app_id, owner, prop_name, prop_type,
         CAST(500 * app_id +
              ROW_NUMBER() OVER (PARTITION BY app_id, owner
                                 ORDER BY first_seq, prop_name)
              AS BIGINT) AS prop_id
  FROM (
    SELECT app_id, owner, prop_name, prop_type, MIN(seq) AS first_seq
    FROM usr_props_melted GROUP BY app_id, owner, prop_name, prop_type
  ) f""")

# M4 device-property dictionary: LOOKUP-ONLY static registry
# (DevicePropertyOperator.java:46-152 — no auto-create)
_catalog("device_prop_dict", R.DEVICE_PROP_DICT, ", ".join(R.DEVICE_PROP_COLS))

relation("dev_props_melted")(lambda d: f"""
  SELECT app_id, did, seq, '_model' AS prop_name, ua AS prop_value
  FROM resolved WHERE dt = 'pl'
  UNION ALL
  SELECT app_id, did, seq, '_zs', {d.s('k')} FROM resolved WHERE dt = 'pl'
  UNION ALL
  SELECT app_id, did, seq, '_unknown_prop', 'x' FROM resolved WHERE dt = 'pl'""")


# the spine: every relation declared above, in dependency order
SPINE = [name for name, rel in RELATIONS.items() if rel.sql]


def stages(d: Dialect) -> list[tuple[str, str]]:
    """Ordered (name, SELECT-sql) pairs; each may reference earlier names."""
    return [(name, _text(d, name)[0]) for name in SPINE]


def ensure_pipeline_views(spark, sf_dir: str) -> None:
    """Build every spine stage: the cached ones as checkpointed entries,
    the rest as views over them. Asking for another sf_dir releases and
    rebuilds them (session.materialize's live-set policy)."""
    relations(spark, sf_dir, SPINE)
