"""User-Agent parsing (E2) as dialect-neutral SQL fragments.

The reference wraps eu.bitwalker.useragentutils and post-processes
(UserAgentParser.java:29-280): os toString split on '_' → name + last
numeric part as version; browser group/family; MAJOR browser version
only (split('.')[0], :128-141); device type mapped to
COMPUTER/MOBILE/TABLET; UNKNOWN results dropped downstream.

Spark-first re-expression: ordered regex tables rendered as CASE/
regexp_extract chains for BOTH dialects — the parse runs JVM-side
inside whole-stage codegen (no Python, no per-row UDF), and the DuckDB
oracle runs the same table. Rule order matters exactly like the
library's detection order (Edge before Chrome before Safari; iPad
before iPhone; tablet-Android = Android without the Mobile token).
"""

from __future__ import annotations

# (family, host regex, version-capture regex) — ordered
OS_RULES: list[tuple[str, str, str | None]] = [
    ("Windows", r"Windows NT", r"Windows NT ([0-9.]+)"),
    ("Android", r"Android", r"Android ([0-9.]+)"),
    ("iOS", r"iPhone OS|CPU OS", r"OS ([0-9_]+)"),
    ("Mac OS X", r"Mac OS X", r"Mac OS X ([0-9._]+)"),
    ("Linux", r"Linux", None),
]

BROWSER_RULES: list[tuple[str, str, str]] = [
    ("Edge", r"Edge?/[0-9]", r"Edge?/([0-9]+)"),
    ("WeChat", r"MicroMessenger", r"MicroMessenger/([0-9]+)"),
    ("Chrome", r"Chrome/[0-9]", r"Chrome/([0-9]+)"),
    ("Firefox", r"Firefox/[0-9]", r"Firefox/([0-9]+)"),
    ("Safari", r"Version/[0-9].*Safari", r"Version/([0-9]+)"),
    ("IE", r"MSIE [0-9]|Trident.*rv:[0-9]", r"(?:MSIE |rv:)([0-9]+)"),
]

BRAND_RULES: list[tuple[str, str]] = [
    ("Apple", r"iPhone|iPad|Macintosh"),
    ("Samsung", r"SM-[A-Z0-9]"),
    ("Huawei", r"(?i)huawei"),
    ("Xiaomi", r"\b(?:Mi|Redmi) "),
]


def os_family(d, ua: str) -> str:
    whens = " ".join(
        f"WHEN {d.rlike(ua, pat)} THEN '{fam}'" for fam, pat, _ in OS_RULES
    )
    return f"CASE {whens} ELSE 'UNKNOWN' END"


def os_version(d, ua: str) -> str:
    """Version with the library's '_'-separator normalized to dots
    (iOS versions arrive as 16_6)."""
    whens = []
    for fam, pat, vre in OS_RULES:
        if vre is None:
            continue
        cap = f"regexp_extract({ua}, {d.lit(vre)}, 1)"
        whens.append(
            f"WHEN {d.rlike(ua, pat)} THEN NULLIF(replace({cap}, '_', '.'), '')"
        )
    return "CASE " + " ".join(whens) + " END"


def browser(d, ua: str) -> str:
    whens = " ".join(
        f"WHEN {d.rlike(ua, pat)} THEN '{name}'" for name, pat, _ in BROWSER_RULES
    )
    return f"CASE {whens} ELSE 'UNKNOWN' END"


def browser_major(d, ua: str) -> str:
    """Major version only (UserAgentParser.java:128-141)."""
    whens = " ".join(
        f"WHEN {d.rlike(ua, pat)} THEN "
        f"NULLIF(regexp_extract({ua}, {d.lit(vre)}, 1), '')"
        for name, pat, vre in BROWSER_RULES
    )
    return f"CASE {whens} END"


def device_type(d, ua: str) -> str:
    """COMPUTER/MOBILE/TABLET per the library's DeviceType mapping:
    iPad → TABLET; Android without the Mobile token → TABLET;
    iPhone / mobile Android → MOBILE; desktop OSes → COMPUTER."""
    android_tablet = f"({d.rlike(ua, 'Android')} AND NOT {d.rlike(ua, 'Mobile')})"
    return (
        f"CASE WHEN {d.rlike(ua, 'iPad')} OR {android_tablet} THEN 'TABLET' "
        f"WHEN {d.rlike(ua, 'iPhone|Android')} THEN 'MOBILE' "
        f"WHEN {d.rlike(ua, 'Windows NT|Mac OS X|Linux')} THEN 'COMPUTER' "
        f"ELSE 'UNKNOWN' END"
    )


def brand(d, ua: str) -> str:
    whens = " ".join(
        f"WHEN {d.rlike(ua, pat)} THEN '{b}'" for b, pat in BRAND_RULES
    )
    return f"CASE {whens} END"


# --- ToolUtil.uaAnalysis (etl-flink-common ToolUtil.java:145-179) --------
# The adv click-matching key parser — a DIFFERENT, cruder parse than the
# enrichment rules above: Android UAs go through one regex, everything
# else through the iOS regex (iPhone/iPad/iPod + version, or the bare
# Opera alternative which captures no version); the version's
# non-[a-zA-Z0-9 ] characters are each replaced with '.' ("16_6"→"16.6").
# The branch test is ua.contains("Android") — CASE-SENSITIVE — while the
# regexes themselves run case-insensitively, exactly as the Java does.
UA_ANALYSIS_ANDROID = r"linux;.*(android).([\w.,/\-]+)"
UA_ANALYSIS_IOS = r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)"


def _ua_analysis_group(d, ua: str, group: int) -> str:
    return (
        f"CASE WHEN {ua} LIKE '%Android%' "
        f"THEN regexp_extract({ua}, {d.lit('(?i)' + UA_ANALYSIS_ANDROID)}, {group}) "
        f"ELSE regexp_extract({ua}, {d.lit('(?i)' + UA_ANALYSIS_IOS)}, {group}) END"
    )


def ua_analysis_name(d, ua: str) -> str:
    """matcher.group(1) — the platform token with the UA's original
    casing ('Android', 'iPhone', 'iPad'); '' when nothing matches."""
    return f"COALESCE({_ua_analysis_group(d, ua, 1)}, '')"


def ua_analysis_version(d, ua: str) -> str:
    """matcher.group(2) with the cleanup replace — and Java's null
    rendering: uaAnalysis concatenates the version into the result via
    `name + ":" + version` (ToolUtil.java:171-177), so when the iOS
    pattern matches through its version-less `;\\sopera` alternative,
    group(2) is null, the cleanup is skipped, and Java string
    concatenation renders the LITERAL 'null' ("iPhone:null") — which
    then flows verbatim into the adv fuzzy-match store keys
    (AdvSaveAppAdDataFlatMapFunction.java:259-273). A UA matching
    NEITHER pattern keeps the "" initializer instead. The two cases are
    distinguished here by the name group (matched ⇔ group(1) != '');
    both regex groups are +-quantified, so a matched-but-empty version
    cannot otherwise occur."""
    raw = f"COALESCE({_ua_analysis_group(d, ua, 2)}, '')"
    name = f"COALESCE({_ua_analysis_group(d, ua, 1)}, '')"
    cleaned = d.re_replace_all(raw, "[^a-zA-Z0-9 ]", ".")
    return (
        f"CASE WHEN {ua} NOT LIKE '%Android%' "
        f"AND {name} <> '' AND {raw} = '' THEN 'null' "
        f"ELSE {cleaned} END"
    )
