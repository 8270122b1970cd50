"""Static registry tables (the reference's MySQL/KVRocks-backed catalog,
SURVEY.md §1.4) as deterministic in-code fixtures.

In the reference these are mutable external stores refreshed every 60 s
(GateFlatMapFunction.java:79-99); in the batch engine each registry is a
small DataFrame broadcast into the pipeline joins. Defined ONCE here and
rendered as inline VALUES for both Spark SQL and the DuckDB oracle so the
two can never diverge.
"""

from __future__ import annotations

# app registry: ak -> (app_id, company_id)  (GateFlatMapFunction.java:252-293)
APP_REGISTRY = [
    ("ak_1", 1, 11),
    ("ak_2", 2, 12),
    ("ak_3", 3, 13),
]

# per-app blocklists (GateFlatMapFunction.java:177-208).
# NB: ua and app derive from the same user_id (ua = user_id%6, app =
# user_id%3+1), so the blacklisted pair must be residue-compatible:
# (2, UA_5) could never co-occur (5 mod 3 = 2 ≠ 1) and the UA_BLOCK
# path silently never fired — (2, UA_4) does (4 mod 3 = 1).
IP_BLACKLIST = [(1, "10.0.0.1")]
UA_BLACKLIST = [(2, "UA_4")]

# the `filter.aks` processing list (GateFlatMapFunction.java:139-141):
# records whose ak is NOT here are dropped silently — no error row, no
# counter; ak_bad stays listed so it reaches the registry lookup and
# fails with AK_NONE instead
FILTER_AKS = ["ak_1", "ak_2", "ak_3", "ak_bad"]

# business whitelist (GateFlatMapFunction.java:160-175): business kept
# only when (company_id, business) is whitelisted, else reset to '' —
# a normalization, not an error
BUSINESS_WHITELIST = [
    (11, "biz_a"),
    (12, "biz_a"),
    (13, "biz_a"),
    (12, "biz_x"),
]

# NB: UA enrichment has no registry table — the pipeline parses the raw
# UA string with the ordered regex chains in functions/ua_parser.py
# (UserAgentParser.java:29-280), exactly like the reference's in-process
# parser. Only the per-app UA BLACKLIST above is a lookup.

# ip ranges: 32 equal slices of the IPv4 space (the reference loads a
# memory-mapped range db from HDFS, IpDatabaseLoader.java:124-230; here a
# deterministic broadcast range table)
IP_RANGES = [
    (
        i * (1 << 27),
        (i + 1) * (1 << 27) - 1,
        f"C_{i % 8}",
        f"P_{i % 16}",
        # range 31 carries a U+FFFD-garbled city — the mojibake a bad
        # charset decode of the range db leaves behind. isValidGeoResult
        # (IpEnrichOperator.java:236-258) must reject the WHOLE triple
        # for ips landing here (domain.geo_garbled); keeps the garbage
        # path observable in p7/p8 and their oracles, not just unit tests.
        f"CT_{i}" if i != 31 else "CT_31�",
    )
    for i in range(32)
]
IP_RANGE_COLS = ["ip_lo", "ip_hi", "country", "province", "city"]

# IPv6 geo ranges (the awdb database AwdbReader.java:28-90 reads — get()
# returns [country, province, city] for an Inet6Address, dispatched per
# IpDatabaseLoader.java:230-245): 16 slices of 2001:db8::/32 on the third
# hextet, bounds as inclusive 32-hex-digit lowercase strings. Fixed-width
# hex compares lexicographically exactly like the 128-bit address integer
# (the order the awdb binary tree walks), so a plain string BETWEEN is the
# range lookup — no 128-bit arithmetic, which neither engine's BIGINT can
# hold without overflow. Slice 15 carries the U+FFFD-garbled city, the
# same mojibake convention as IP_RANGES range 31.
IPV6_RANGES = [
    (
        "20010db8" + format(i, "04x") + "0" * 20,
        "20010db8" + format(i, "04x") + "f" * 20,
        f"C6_{i % 4}",
        f"P6_{i % 8}",
        f"CT6_{i}" if i != 15 else "CT6_15�",
    )
    for i in range(16)
]
IPV6_RANGE_COLS = ["v6_lo", "v6_hi", "country", "province", "city"]

# per-app dictionary governance (company_app: auto_event / event_sum /
# attr_sum — EventAsyncOperator.java:308-320 isAutoCreateDisabled /
# isCreateEventForbid; EventAttrAsyncOperator column cap):
# (app_id, auto_event_disabled, event_cap, attr_cap)
APP_CONFIG = [
    (1, 0, 6, 2),      # app 1: capped at 6 events, 2 physical attr columns
    (2, 0, 999, 999),  # app 2: unrestricted
    (3, 1, 999, 999),  # app 3: auto-create disabled — preseed only
]

# pre-existing dictionary rows for the auto-create-disabled app (the MySQL
# `event` table content a real deployment starts with); unseeded names on
# app 3 fail with EVENT_CREATE_DISABLED
EVENT_PRESEED = [
    (3, "zg", "click", 3001),
    (3, "zg", "view", 3002),
    (3, "zg", "error", 3003),
]

# event blacklist (EventAsyncOperator.java:317-402 isBlackEvent): resolved
# events listed here error with EVENT_BLACK and never reach the wide table
EVENT_BLACKLIST = [(2, "zg", "error")]

# event-attr blacklist (EventAttrAsyncOperator.java:784-834): the property
# KEY is dropped — no annotation, no cus column, no dictionary row
ATTR_BLACKLIST = [(2, "_vbucket")]

# user-prop blacklist (UserPropAsyncOperator.java:112-260)
USER_PROP_BLACKLIST = [(2, "_plname")]

# device-property dictionary (M4, DevicePropertyOperator.java:126-141):
# LOOKUP-ONLY — no get-or-create; unknown props stay unannotated/dropped.
# (prop_name, prop_id, prop_type 1=string 2=number)
DEVICE_PROP_DICT = [
    ("_model", 9001, 1),
    ("_zs", 9002, 2),
    # "_unknown_prop" deliberately absent: rows melting it must drop
]
DEVICE_PROP_COLS = ["dp_name", "dp_id", "dp_type"]

# virtual-attribute rules (operator/id/VirtualPropertyOperator.java:54-268):
# (app_id 0 = all apps, event_name, out_name, sql) over feed fields
VIRTUAL_ATTR_RULES = [
    (0, "purchase", "k_level", "CASE WHEN k > 50 THEN 'high' ELSE 'low' END"),
    (0, "purchase", "value_eur", "round(value / 1.1, 2)"),
    (0, "click", "tagline", "concat(upper(event_type), '-', substring(pl, 1, 2))"),
    (2, "view", "k_sq", "k * k + 1"),
    # boolean-rooted rule: convertValue maps the result to 1/0
    # (VirtualPropertyOperator.java:231-235)
    (0, "click", "is_big", "k > 50 AND value > 10"),
    # custom-bag fields: any "_"-prefixed key resolves through the
    # property bag (VirtualAttributeExpressionEvaluator.java:38-75) —
    # string use and numeric coercion of a string-typed bag value
    (0, "purchase", "band_tag", "concat(_band, ':', _plat)"),
    (0, "view", "deep_bucket",
     "CASE WHEN _vbucket > 3 THEN 'deep' ELSE 'shallow' END"),
]

# user-scope virtual-attribute rules (VirtualPropertyOperator.java:157-203):
# (app_id 0 = all, out_name, rule_sql, table_fields). table_fields is the
# reference's comma-separated gate list — the rule fires only when EVERY
# listed field (last dotted segment) is present in the property bag
# (isAllProp, :186-203); here presence = the column is non-NULL.
VIRTUAL_USER_PROP_RULES = [
    (0, "u_k2", "k * 2", "t.k"),
    # gated on cuid: anonymous usr rows (cuid NULL) skip the rule
    (0, "u_named", "concat('u:', cuid)", "usr.cuid"),
    # boolean rule + two-field gate (k always present, sid sometimes NULL)
    (2, "u_active", "k > 30", "k, sid"),
    # UNGATED rule (empty table_fields): isAllProp over nothing is
    # vacuously true — fires on every usr row
    (0, "u_kind", "lower(event_type)", ""),
    # bag-field rule gated on a bag field's presence (dotted spelling,
    # last segment resolved through the custom map)
    (0, "u_band", "upper(_band)", "usr._band"),
]

# virtual-event rules (operator/id/VirtualEventOperator.java:48-339):
# (app_id 0 = all, source_event, virtual_name, alias, filters) — filters
# is an equality-AND over the property bag of ARBITRARY length
# (matchFilters :216-254 iterates the rule's whole filter map: lookup
# "_"+key first, then the raw key; ALL pairs must match; empty list =
# always-match)
VIRTUAL_EVENT_RULES = [
    (0, "purchase", "vip_purchase", "vip", []),
    (2, "click", "promo_click", "promo", [("_etype", "click")]),
    (1, "view", "never_match", "nm", [("_etype", "purchase")]),
    # multi-key AND: "_"-prefixed bag key + raw envelope key
    (0, "purchase", "whale", "wh", [("_vbucket", "6"), ("pl", "ios")]),
    # first pair matches, second never does — AND must suppress it
    (3, "click", "half_match", "hm", [("_etype", "click"), ("_vbucket", "999")]),
    # BARE key spelling, the reference's own form: matchFilters resolves
    # "band" via bag "_band" first (VirtualEventOperator.java:237-243)
    (0, "view", "hi_view", "hv", [("band", "hi")]),
    # 3-condition AND — the arbitrary-N case a fixed k1/k2 layout cannot
    # express (the reference's filter map is unbounded)
    (0, "purchase", "ios_hi_whale", "iwh",
     [("_vbucket", "6"), ("pl", "ios"), ("band", "hi")]),
    # unknown property key: lookup resolves nothing → never matches
    # (missing bag entry compares unequal in matchFilters)
    (0, "click", "ghost_key", "gk", [("no_such_prop", "x")]),
]


# ad-click store (AdvAsyncOperator.java:60-130): Redis keys
# ``adtfad:{click_id}:rawdata`` written by the ad-touch ingest, consumed
# exactly once by the first conversion event referencing the click id.
# Even click ids only — odd-id conversions must find no match; ids >= 50
# are outside the conversion key space, so they always survive unclaimed.
AD_CLICKS = [
    (a, f"ck_{i}", f"camp_{i % 5}")
    for a in (1, 2, 3)
    for i in range(0, 80, 2)
]
AD_CLICK_COLS = ["ad_app_id", "ad_click_id", "ad_campaign"]

# ad-link conversion rules (the `ads_link_event` table consumed by
# AdvConvertEventFlatMapFunction.java:142-300): which event converts for
# which ad link, the attribution window, and the send frequency —
# 0 = first conversion only (首次), 1 = every conversion (每次).
# lids 0..4 match the touch rows' k % 5 lid space; lid 3's 1-second
# window exercises the window filter (almost nothing converts).
ADS_LINK_RULES = [
    (0, "purchase", 3600, 0),
    (1, "purchase", 86400, 1),
    (2, "click", 600, 0),
    (3, "purchase", 1, 0),
    (4, "click", 86400, 1),
]

# advertising-enabled apps (the `advertisingMap` ak whitelist gating the
# whole lid/channel annotation chain,
# AdvLidAndUserFirstEndFlatMapFunction.java:402,711); app 3 stays outside
# so the gate is observable
ADVERTISING_APPS = [1, 2]

# ad channel-type id → display name
# (AdvLidAndUserFirstEndFlatMapFunction.java:585-605 getchannelTypeNameStr
# — verbatim rule table; unknown ids map to '' there)
CHANNEL_TYPE_NAMES = [
    ("1", "百度信息流"),
    ("2", "巨量引擎"),
    ("3", "腾讯广告"),
    ("4", "百度搜索"),
    ("5", "苹果ASA"),
    ("9", "知乎营销"),
    ("10", "快手广告"),
    ("11", "微博-超级粉丝通"),
    ("12", "华为广告"),
    ("13", "小米营销"),
    ("14", "VIVO营销平台"),
    ("15", "OPPO营销平台"),
]

# ads_link_event match_json docs (AdvConvertEventFlatMapFunction.java:
# 228-236; evaluated by OperatorUtil.compareProValue, eventProp
# category): per-rule property predicates over the conversion row's bag.
# Labels resolve `_label` first (our bag is all `_`-customs,
# operators/domain.custom_attrs); 'missing' is deliberately absent from
# the bag so the handleNullValue branch is observable.
ADS_MATCH_RULES = [
    (0, "band", {"type": 1, "operator": "equal", "values": ["hi"]}),
    (1, "etype", {"type": 1, "operator": "not equal", "values": ["click"]}),
    (2, "etype", {"type": 1, "operator": "begin with", "values": ["p"]}),
    (3, "etype", {"type": 1, "operator": "regexp", "values": ["ick$"]}),
    (4, "plat", {"type": 1, "operator": "contains", "values": ["o"]}),
    (5, "vbucket", {"type": 2, "operator": "le", "values": ["5"]}),
    (6, "k", {"type": 2, "operator": "gt", "values": ["50"]}),
    (7, "missing", {"type": 1, "operator": "is null", "values": ["x"]}),
    # a NULL k is the *string* 'null' (String.valueOf) — non-empty, so
    # the string-branch 'is not null' is TRUE even for null entries,
    # exactly the reference's quirk (OperatorUtil.java:211-213)
    (8, "k", {"type": 1, "operator": "is not null", "values": ["x"]}),
    # builtin-prop lane: label 'eid' resolves from the '$'-prefixed bag
    # ($eid = event name) — compareProValue checks '_'+label first and
    # '$'+label OVERRIDES when present (OperatorUtil.java:83-92); the
    # modeled feed has no '_eid' custom prop, so this exercises the
    # $-only resolution (the _-then-$ override needs a user-DEFINED
    # custom prop named like a builtin, absent from the synthetic feed
    # by design — the resolution order itself is in _p43's value build)
    (9, "eid", {"type": 1, "operator": "contains", "values": ["ck"]}),
]

# per-event UTM override store (AdvAddUtmFlatMapFunction.java:108-155:
# Redis `utm:{zg_eid}` JSON applied to evt/abp records as $utm_* props)
UTM_OVERRIDES = [
    ("purchase", "tf_src", "cpc", "camp_q3"),
    ("view", "tf_view", "cpm", "camp_v"),
]


def values_sql(rows: list[tuple]) -> str:
    """Render rows as an inline VALUES table usable in both dialects:
    ``(VALUES (...), (...))``. The caller's ``AS t(c1, c2)`` alias is the
    one place the column names live."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body})"
