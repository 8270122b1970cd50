"""Search-engine keyword extraction (E3/E4).

Re-expresses the reference's ``SearchKeywordParser`` + ``UrlDecoder``
(reference: etl-flink-common/src/main/java/com/zhugeio/etl/common/util/
SearchKeywordParser.java:36-143, UrlDecoder.java:20-60) Spark-first:

- engine identification and per-engine keyword-param priority are pure
  SQL fragments rendered for BOTH dialects (Spark SQL engine / DuckDB
  oracle) from the single ``ENGINES`` table below, so they run JVM-side
  inside whole-stage codegen — no Python in the hot path;
- the multi-charset percent-decode (UTF-8 → GBK → GB2312 → ISO-8859-1
  with accept-on-Chinese, UrlDecoder.java:48-71) has no SQL equivalent
  in either dialect, so it ships as an Arrow-batched pandas UDF applied
  AFTER the SQL extraction, unit-tested against byte-level fixtures.

The reference keeps its engine patterns in a ``HashMap`` (iteration
order unspecified, SearchKeywordParser.java:38-47); we fix the
declaration order below so results are deterministic — ambiguity only
arises for URLs matching two engine domains, which real referrers don't.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas-UDF type hints resolve by name

from zg_etl_spark.dialect import SPARK

# (engine, host regex, keyword param names) — SearchKeywordParser.java:
# 38-57. Patterns are case-insensitive (Pattern.CASE_INSENSITIVE) and
# unanchored (Matcher.find). The param list is a MEMBERSHIP set, not a
# priority order — extractKeyword walks the URL's query parts in URL
# order and returns the first part whose name is in the set (:125-140).
# The reference stores its patterns in a HashMap, so when a URL matches
# MORE THAN ONE engine pattern the reference's attribution order is
# JVM-identity-hash order (undefined across runs); this deterministic
# list order is our modeling choice for that degenerate class.
ENGINES: list[tuple[str, str, list[str]]] = [
    ("baidu", r"baidu\.com", ["wd", "word", "kw"]),
    ("google", r"google\.(com|cn|com\.hk)", ["q", "query"]),
    ("sogou", r"sogou\.com", ["query", "keyword"]),
    ("360", r"so\.com", ["q"]),
    ("bing", r"bing\.com", ["q"]),
    ("shenma", r"sm\.cn", ["q"]),
    ("toutiao", r"toutiao\.com", ["keyword"]),
    ("yahoo", r"yahoo\.com", ["p"]),
]


def engine_case(d, ref: str) -> str:
    """CASE chain yielding the engine name or NULL (reference 'unknown')."""
    whens = " ".join(
        f"WHEN {d.rlike(ref, '(?i)' + pat)} THEN '{eng}'" for eng, pat, _ in ENGINES
    )
    return f"CASE {whens} END"


def term_case(d, ref: str, engine: str) -> str:
    """Raw (undecoded) keyword for the identified engine. The reference's
    extractKeyword (SearchKeywordParser.java:107-143) splits the query
    string (after the FIRST '?'; no '?' → no keyword) on '&' and walks
    the parts IN URL ORDER, returning the first part whose NAME
    (everything before the part's first '=', equalsIgnoreCase) is one of
    the engine's keyword params — even when that part's VALUE is empty
    ('?wd=&word=x' yields '', not 'x'; the param list is a membership
    set, NOT a priority order). One leftmost-match regexp over the
    query substring encodes exactly that walk: the alternation matches
    whichever param name appears first, and an empty capture is the
    empty-value return (indistinguishable from no-match downstream,
    just as the reference's "" is)."""
    q = f"substring({ref}, instr({ref}, '?') + 1)"
    whens = []
    for eng, _, params in ENGINES:
        pat = d.lit("(?i)(^|&)(" + "|".join(params) + ")=([^&]*)")
        whens.append(
            f"WHEN '{eng}' THEN CASE WHEN instr({ref}, '?') > 0 "
            f"THEN NULLIF(regexp_extract({q}, {pat}, 3), '') END"
        )
    return f"CASE {engine} " + " ".join(whens) + " END"


def clean_keyword(d, kw: str) -> str:
    """cleanKeyword (SearchKeywordParser.java:150-163): trim, then strip
    one leading/trailing double quote, then one leading/trailing single
    quote (each replaceAll is anchored, so at most one char per edge)."""
    out = f"trim({kw})"
    for pat in ('^"', '"$', "^'", "'$"):
        out = f"regexp_replace({out}, {d.lit(pat)}, '')"
    return out


# --- EventAttrTransfer's wide-table UTM lane (R3/E4) -----------------------
# isSearchEngine + getUtmTermFromRef (EventAttrTransfer.java:421-465) —
# a SECOND, independent keyword parser the wide-table transfer applies,
# NOT SearchKeywordParser: the engine test is a case-SENSITIVE substring
# check on the $referrer_domain against a 7-host set (toutiao and yahoo
# are NOT search engines here — their rows take the 引荐 lane — while
# '.google.co' additionally covers google.co.jp etc.), and the keyword
# fallback reads 'query' (sogou) / 'q' (bing, so, sm, google) from a
# HashMap built over the URI's DECODED query (decode-before-split: a
# %26 inside a value splits a bogus pair) with LAST-duplicate-wins
# (map.put overwrites; SearchKeywordParser's walk is first-wins), exact
# param-name case, '='-split with limit 2 (a '='-less part is skipped,
# 'q=' keeps ''), then URLDecoder.decode on the value (second decode
# layer, '+'→' '). Baidu has NO fallback param — modern Baidu referrers
# carry eqid, not the keyword.
WIDE_UTM_HOSTS = (".baidu.com", ".sogou.com", ".bing.com", ".so.com",
                  "m.sm.cn", ".google.com", ".google.co")

# The SQL decode covers the closed fixture/corpus escape alphabet (the
# p51 precedent — there is no URL-decode builtin in both dialects);
# tests/test_search_keywords.py pins it against a full Python port of
# URI.getQuery + URLDecoder.decode on the same alphabet. '%25' decodes
# LAST within a layer so '%2520' correctly needs two layers for ' '.
_WIDE_DECODE = (("%20", " "), ("%22", '"'), ("%26", "&"), ("%3D", "="),
                ("%E4%B8%AD", "中"), ("%E6%96%87", "文"), ("%25", "%"))


def decode_layer_sql(expr: str, plus: bool) -> str:
    """One URLDecoder/URI decode layer over the closed escape alphabet;
    ``plus`` adds URLDecoder's '+'→' ' (java.net.URI's query decode does
    NOT convert '+')."""
    if plus:
        expr = f"replace({expr}, '+', ' ')"
    for k, v in _WIDE_DECODE:
        vv = v.replace("'", "''")
        expr = f"replace({expr}, '{k}', '{vv}')"
    return expr


def is_search_engine_website(d, website: str) -> str:
    """isSearchEngine (EventAttrTransfer.java:421-427): case-sensitive
    contains over the 7-host set; null/empty/\\N → false."""
    conds = " OR ".join(
        f"instr({website}, '{h}') > 0" for h in WIDE_UTM_HOSTS
    )
    return f"(COALESCE({website}, '') <> '' AND ({conds}))"


# java.net.URI rejects these ASCII characters in EVERY component (they
# are in no legal category: not unreserved, reserved, escaped, or
# "other"); controls and space throw too. '#' is legal (it starts the
# fragment) and non-ASCII is LEGAL ("other" category) — URI accepts raw
# CJK in a query. '[' and ']' are uric (legal in query) but illegal in
# a path — the path case is out of the SQL model's scope (corpus keeps
# brackets out; the Python port + JVM fixture carry the exact rule).
_URI_BAD_CHARS = "[\\x00-\\x20<>\"{}|\\\\^`\\x7f]"


def utm_term_fallback(d, ref: str) -> str:
    """getUtmTermFromRef(null, ref) (EventAttrTransfer.java:429-457):
    ``new URI(ref)`` then host/query from the URI object —

    - any URISyntaxException → \\N. SQL gate: a character outside every
      URI category (``_URI_BAD_CHARS``) or a '%' not followed by two hex
      digits invalidates the whole ref;
    - ``uri.getQuery()`` is the span from the first '?' to the first '#'
      and is null when '#' precedes '?' — the regex anchors '?' inside
      the pre-'#' prefix. The query is percent-DECODED (no '+' → ' '),
      so the '&' split sees decoded separators;
    - ``uri.getHost()`` is null (→ \\N) unless the authority parses
      server-based: optional userinfo@, RFC-2396 hostname whose labels
      are alnum-edged and whose LAST label starts with a letter,
      optional :digits port. A registry authority (e.g. '_' in the
      host, non-digit port) is a VALID URI with a null host;
    - engine by case-sensitive host-contains, the LAST occurrence of
      the exact-case param name ('query' for sogou, 'q' for the four
      q-engines) with '=' required, then one more URLDecoder layer on
      the value — which THROWS (→ \\N) when a layer-1-decoded '%25'
      left a '%' without two hex digits behind. An empty matched value
      returns '' which ensureLength renders \\N — NULLIF here.

    Percent-decode covers the closed corpus escape alphabet
    (``_WIDE_DECODE``) — the p51 precedent; the exact-URI Python port
    (``ref_utm_term_from_ref``) is pinned to the reference class
    executed on this JDK (tests/data/refkw_jvm_fixture.jsonl.gz, mode
    'ut'), and both SQL dialects are pinned to the port by the
    fresh-seed sweep in tests/test_search_keywords.py.

    SQL-scope notes (port + JVM fixture carry the exact rules): refs
    must be scheme-ful (a scheme-less '//host/…' ref parses in Java
    with a live host; no such refs exist in the wire fixture), '[' ']'
    are treated as query-legal everywhere (Java rejects them in a
    path), and layer-2 '%'-escapes outside the closed alphabet decode
    only in the port — INCLUDING Integer.parseInt's sign-tolerant
    pairs: URLDecoder accepts '%+f' (byte 0x0f) and '%-0' (0x00)
    because parseInt takes a sign, so a layer-1 output like '%+f'
    (minted from '…%25+f…') DECODES in the reference and the port but
    is modeled as a layer-2 throw (→ NULL) here; '%-1'-style negative
    pairs throw in all three. Sign-escape refs are pinned by 'ut'
    fixture cells and stay outside the SQL sweep corpus by this note."""
    auth = f"regexp_extract({ref}, {d.lit('^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)')}, 1)"
    host_pat = ("^(?:[^@]*@)?((?:[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?"
                "\\.)*[A-Za-z](?:[A-Za-z0-9-]*[A-Za-z0-9])?\\.?)"
                "(?::[0-9]*)?$")
    host = f"regexp_extract({auth}, {d.lit(host_pat)}, 1)"
    raw_q = f"regexp_extract({ref}, {d.lit('^[^#?]*[?]([^#]*)')}, 1)"
    q1 = decode_layer_sql(raw_q, plus=False)  # URI.getQuery decode

    bad_esc = (f"instr({d.re_replace_all(ref, '%[0-9a-fA-F]{2}', '')}, "
               f"'%') > 0")
    uri_ok = f"(NOT {d.rlike(ref, _URI_BAD_CHARS)} AND NOT {bad_esc})"

    def last_val(key: str) -> str:
        pat = d.lit(f"(?s).*(^|&){key}=([^&]*)")
        return f"regexp_extract({q1}, {pat}, 2)"

    def has_host(h: str) -> str:
        return f"instr({host}, '{h}') > 0"

    picked = (
        f"CASE WHEN {has_host('.sogou.com')} THEN {last_val('query')} "
        f"WHEN {has_host('.bing.com')} OR {has_host('.so.com')} OR "
        f"{has_host('m.sm.cn')} OR {has_host('.google.com')} OR "
        f"{has_host('.google.co')} THEN {last_val('q')} END"
    )
    v1 = f"CASE WHEN {uri_ok} THEN NULLIF({picked}, '') END"
    layer2_throws = (f"instr({d.re_replace_all(v1, '%[0-9a-fA-F]{2}', '')}, "
                     f"'%') > 0")
    return (f"CASE WHEN {layer2_throws} THEN NULL "
            f"ELSE {decode_layer_sql(v1, plus=True)} END")


class _JavaDecodeError(ValueError):
    """java.net.URLDecoder's IllegalArgumentException (malformed or
    truncated %-pattern)."""


def java_utf8_decode(buf: bytes) -> str:
    """JDK's sun.nio.cs.UTF_8 decoder with CodingErrorAction.REPLACE —
    NOT Python's ``errors='replace'`` (WHATWG maximal-subpart). The two
    disagree on malformed-sequence LENGTHS: Java consumes a structurally
    complete 3-byte surrogate sequence as ONE unit ('%ED%A0%80' → one
    U+FFFD; Python emits three), while an invalid-range second byte
    resets after ONE byte ('%E0%80%80' → three U+FFFD). Every branch
    below is pinned against the reference's UrlDecoder executed on this
    JDK (mode 'du' byte-soup cells in the refkw fixture)."""
    R = "�"
    out: list[str] = []
    i, n = 0, len(buf)

    def cont(b: int) -> bool:
        return (b & 0xC0) == 0x80

    while i < n:
        b1 = buf[i]
        if b1 < 0x80:
            out.append(chr(b1))
            i += 1
        elif 0xC2 <= b1 <= 0xDF:
            b2 = buf[i + 1] if i + 1 < n else None
            if b2 is not None and cont(b2):
                out.append(chr(((b1 & 0x1F) << 6) | (b2 & 0x3F)))
                i += 2
            else:
                out.append(R)
                i += 1
        elif 0xE0 <= b1 <= 0xEF:
            b2 = buf[i + 1] if i + 1 < n else None
            b3 = buf[i + 2] if i + 2 < n else None
            if b2 is not None and ((b1 == 0xE0 and (b2 & 0xE0) == 0x80)
                                   or not cont(b2)):
                out.append(R)       # overlong E0 or bad b2 → length 1
                i += 1
            elif b2 is None or b3 is None:
                out.append(R)       # truncated valid prefix → consume it
                i = n if b2 is None else i + 2
            elif not cont(b3):
                out.append(R)
                i += 2
            else:
                cp = ((b1 & 0xF) << 12) | ((b2 & 0x3F) << 6) | (b3 & 0x3F)
                if 0xD800 <= cp <= 0xDFFF:
                    out.append(R)   # surrogate half: ONE unit of 3
                else:
                    out.append(chr(cp))
                i += 3
        elif 0xF0 <= b1 <= 0xF7:
            b2 = buf[i + 1] if i + 1 < n else None
            b3 = buf[i + 2] if i + 2 < n else None
            b4 = buf[i + 3] if i + 3 < n else None
            if b2 is not None and (
                    not cont(b2) or b1 > 0xF4
                    or (b1 == 0xF0 and not 0x90 <= b2 <= 0xBF)
                    or (b1 == 0xF4 and (b2 & 0xF0) != 0x80)):
                out.append(R)       # bad/out-of-range b2 (>U+10FFFF) → 1
                i += 1
            elif b2 is None:
                out.append(R)
                i += 1
            elif b3 is None:
                out.append(R)
                i += 2
            elif not cont(b3):
                out.append(R)
                i += 2
            elif b4 is None:
                out.append(R)
                i += 3
            elif not cont(b4):
                out.append(R)
                i += 3
            else:
                cp = (((b1 & 0x7) << 18) | ((b2 & 0x3F) << 12)
                      | ((b3 & 0x3F) << 6) | (b4 & 0x3F))
                out.append(chr(cp))
                i += 4
        else:   # stray continuation, C0/C1, or F8-FF lead
            out.append(R)
            i += 1
    return "".join(out)


def java_url_decode(s: str, enc: str) -> str:
    """Literal port of java.net.URLDecoder.decode(s, enc) — the decoder
    both UrlDecoder entry points delegate to. Python's urllib.unquote is
    NOT equivalent on three counts this port restores:

    - '+' decodes to ' ' (application/x-www-form-urlencoded, not URI
      percent-decoding);
    - a malformed or truncated %-pattern THROWS (IllegalArgumentException
      — unquote silently leaves it verbatim). The two hex chars go
      through Integer.parseInt(_, 16), which accepts a sign: '%+f' is
      byte 0x0f, '%-1' parses to -1 and throws on the v < 0 check, and
      '%-0' is byte 0x00;
    - undecodable byte runs never throw — Java builds the result with
      String(bytes, enc), whose decoder REPLACES bad sequences with
      U+FFFD (unquote(errors='strict') would raise). For UTF-8 that is
      the JDK decoder's own malformed-length rules (java_utf8_decode —
      surrogate triples are ONE replacement), not Python's
      maximal-subpart 'replace'; the GBK lane keeps Python's handler
      (the closed corpus mints no malformed GBK runs).
    """
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "+":
            out.append(" ")
            i += 1
        elif c == "%":
            buf = bytearray()
            while i < n and s[i] == "%":
                pair = s[i + 1:i + 3]
                if len(pair) < 2:
                    raise _JavaDecodeError(f"incomplete trailing escape: {s!r}")
                try:
                    v = int(pair, 16)  # parseInt: sign-tolerant, like Java
                except ValueError:
                    raise _JavaDecodeError(f"illegal hex in escape: {pair!r}")
                if pair.strip() != pair or "_" in pair:
                    # Python's int() is laxer than parseInt: it strips
                    # whitespace and allows '_' separators; Java throws
                    raise _JavaDecodeError(f"illegal hex in escape: {pair!r}")
                if v < 0:
                    raise _JavaDecodeError(f"negative escape value: {pair!r}")
                buf.append(v)
                i += 3
            enc_key = enc.lower().replace("-", "")
            if enc_key == "utf8":
                out.append(java_utf8_decode(bytes(buf)))
            elif enc_key in ("gbk", "gb2312"):
                out.append(java_dbcs_decode(bytes(buf), enc_key))
            else:
                out.append(buf.decode(enc, errors="replace"))
        else:
            out.append(c)
            i += 1
    return "".join(out)


_DBCS: dict[str, tuple[str, dict[int, str]]] = {}


def java_dbcs_decode(buf: bytes, cs: str) -> str:
    """JDK's GBK / GB2312 decoders (sun.nio.cs DoubleByte) with
    CodingErrorAction.REPLACE, driven by tables dumped from the actual
    charsets on this JDK (java_dbcs_tables.py, generated by
    tests/tools/gen_refkw_fixture.py). Python's own 'gbk' codec
    DIVERGES from Java's: Java maps the user-defined rows to Private
    Use Area chars (FE D0 → U+E4C5) and consumes a structural pair
    whose mapping is absent as ONE U+FFFD, where Python replaces
    per-byte and re-synchronizes differently — 133 of 1,161 dirty GBK
    soups disagreed before this port (round-10 dm probe)."""
    if cs not in _DBCS:
        from zg_etl_spark.functions.java_dbcs_tables import TABLES

        t = TABLES["gbk" if cs == "gbk" else "gb2312"]
        _DBCS[cs] = (t["singles"], {int(k): v for k, v in
                                    t["pairs"].items()})
    singles, pairs = _DBCS[cs]
    out: list[str] = []
    i, n = 0, len(buf)
    while i < n:
        b1 = buf[i]
        if b1 < 0x80:
            out.append(chr(b1))
            i += 1
            continue
        row = pairs.get(b1)
        if row is not None and i + 1 < n:
            m = row[buf[i + 1]]
            if m != "\x00":
                out.append(m)      # consumed as a pair (may be U+FFFD)
                i += 2
                continue
        out.append(singles[b1])   # non-lead byte, bad trail, or at end
        i += 1
    return "".join(out)


def decode_multi_charset(s: str | None) -> str | None:
    """UrlDecoder.decodeMultiCharset (UrlDecoder.java:48-71): try
    percent-decoding as UTF-8, GBK, GB2312, ISO-8859-1 (each via the
    java_url_decode port — '+'→' ', strict %-patterns, U+FFFD byte
    replacement); return the first result containing a CJK char
    (U+4E00..U+9FA5, containsChinese :75-86), else the ORIGINAL
    undecoded string — ASCII keywords intentionally stay percent-encoded,
    exactly as the reference stores them."""
    if not s:
        return s
    for cs in ("utf-8", "gbk", "gb2312", "iso-8859-1"):
        try:
            decoded = java_url_decode(s, cs)
        except Exception:  # noqa: BLE001 — mirror the Java catch-and-try-next
            continue
        if any("一" <= c <= "龥" for c in decoded):
            return decoded
    return s


def url_decode_utf8(s: str | None) -> str | None:
    """UrlDecoder.decode (UrlDecoder.java:20-45): UTF-8 percent-decode,
    applied twice when the first pass still contains '%' (double-encoded
    referrers). BOTH passes sit inside the reference's try — a malformed
    %-pattern in either pass returns the ORIGINAL input, never the
    intermediate."""
    if not s:
        return s
    try:
        decoded = java_url_decode(s, "utf-8")
        if "%" in decoded:
            decoded = java_url_decode(decoded, "utf-8")
        return decoded
    except _JavaDecodeError:
        return s


class _JavaURIError(ValueError):
    """java.net.URI's URISyntaxException."""


_URI_MARK = set("-_.!~*'()")
_URI_ALNUM = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789")
_URI_UNRESERVED = _URI_ALNUM | _URI_MARK
# Java's "reserved" includes '[' and ']' (RFC 2732 IPv6 deviation)
_URI_RESERVED = set(";/?:@&=+$,[]")
_URI_PUNCT = set(",;:$&+=")
_HEX = set("0123456789abcdefABCDEF")


def _uri_is_other(c: str) -> bool:
    """java.net.URI's "other" category (javadoc: non-US-ASCII characters
    that are not space characters or ISO control characters) — URI
    deviates from RFC 2396 by PERMITTING these wherever escaped octets
    are allowed (userinfo, host, path, query, fragment)."""
    import unicodedata

    o = ord(c)
    if o <= 0x7F or 0x7F <= o <= 0x9F:
        return False
    return unicodedata.category(c) not in ("Zs", "Zl", "Zp")


def _uri_check(comp: str, extra: set, what: str) -> None:
    """Parser.checkChars: unreserved | extra | escaped | other, where
    escaped = '%' + exactly two hex digits."""
    i = 0
    while i < len(comp):
        c = comp[i]
        if c == "%":
            if i + 2 >= len(comp) or comp[i + 1] not in _HEX \
                    or comp[i + 2] not in _HEX:
                raise _JavaURIError(f"Malformed escape pair in {what}")
            i += 3
            continue
        if c in _URI_UNRESERVED or c in extra or _uri_is_other(c):
            i += 1
            continue
        raise _JavaURIError(f"Illegal character in {what}: {c!r}")


def _uri_decode(s: str) -> str:
    """java.net.URI.decode: consecutive %XX runs byte-decoded as UTF-8
    with CodingErrorAction.REPLACE — the JDK decoder's malformed-length
    rules (java_utf8_decode), not Python's; '+' is NOT touched (that is
    URLDecoder, a different decoder). Escapes were already validated by
    the parser."""
    if "%" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if s[i] == "%":
            buf = bytearray()
            while i < n and s[i] == "%":
                buf.append(int(s[i + 1:i + 3], 16))
                i += 3
            out.append(java_utf8_decode(bytes(buf)))
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _uri_parse_hostname(host: str) -> bool:
    """Parser.parseHostname: dot-separated labels of alnum/hyphen with
    alnum edges, optional trailing dot; when there is more than one
    label the RIGHTMOST must start with a LETTER (JDK: "for a fully
    qualified hostname check that the rightmost label starts with an
    alpha character")."""
    import re as _re

    if host == "":
        return False
    trimmed = host[:-1] if host.endswith(".") else host
    if trimmed == "":
        return False
    labels = trimmed.split(".")
    lab_re = _re.compile(r"^[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?$")
    if not all(lab_re.fullmatch(l) for l in labels):
        return False
    if len(labels) > 1 and not labels[-1][:1].isalpha():
        return False
    return True


def _uri_ipv6_ok(lit: str) -> bool:
    """Parser.parseIPv6Reference over the text between the brackets —
    pinned branch-by-branch by the 'ut' fixture's scope-suffix cells
    (the only bracket forms whose validity is OBSERVABLE through
    getUtmTermFromRef: getHost() keeps the scope, so '.sogou.com'
    inside a scope matches the engine contains()):

    * address: hex16 groups (1-4 hex digits) ':'-separated, at most one
      '::' compression, an IPv4 tail allowed as the LAST element only
      (octets = ASCII digits with VALUE <= 255 — '0001' and '04' are
      accepted, '256' is not); byte count must be exactly 16 without
      compression and strictly less with it ('[::]' legal,
      '[1:2:3:4:5:6:7:8::]' not);
    * scope id: '%' + one-or-more of alphanumeric OR '.' — dots are
      LEGAL ('[fe80::1%a.sogou.com]' really does return the keyword);
      '-', '~', ':', '_', '%', space, and non-ASCII all throw."""
    addr, sep, scope = lit.partition("%")
    if sep and not (scope and all(c in _URI_ALNUM or c == "."
                                  for c in scope)):
        return False
    if addr.count("::") > 1:
        return False

    def seq_bytes(seq: str, allow_v4: bool) -> int | None:
        if seq == "":
            return 0
        parts = seq.split(":")
        if "" in parts:  # a stray edge ':' ('[:2:3::]', '[1:2:]')
            return None
        n = 0
        for i, p in enumerate(parts):
            if allow_v4 and i == len(parts) - 1 and "." in p:
                octs = p.split(".")
                if len(octs) != 4 or not all(
                        o != "" and all(c in "0123456789" for c in o)
                        and int(o) <= 255 for o in octs):
                    return None
                n += 4
            else:
                if not (1 <= len(p) <= 4 and all(
                        c in "0123456789abcdefABCDEF" for c in p)):
                    return None
                n += 2
        return n

    if "::" in addr:
        left, right = addr.split("::")
        nl = seq_bytes(left, allow_v4=False)
        nr = seq_bytes(right, allow_v4=True)
        return nl is not None and nr is not None and nl + nr < 16
    return seq_bytes(addr, allow_v4=True) == 16


def _uri_server_host(auth: str) -> str | None:
    """Parser.parseServer over an authority string: [userinfo@]
    host[:digits]. Returns the host, or None when the authority only
    parses registry-based (getHost() null). A '[…]' literal must parse
    as IPv6 (+ optional scope) — on failure there is NO registry
    fallback either, since '[' is not a legal registry character, so
    the caller's _uri_check on the authority throws (reference: the
    whole constructor throws → \\N). A VALID '[IPv6%scope]' host is
    returned verbatim incl. brackets and scope, exactly like
    getHost() — which is how a dotted scope can satisfy the engine
    suffix contains()."""
    import re as _re

    rest = auth
    if "@" in rest:
        userinfo, rest = rest.split("@", 1)
        try:
            _uri_check(userinfo, _URI_PUNCT, "user info")
        except _JavaURIError:
            return None
    if rest.startswith("["):
        j = rest.find("]")
        if j < 0:
            return None
        if not _uri_ipv6_ok(rest[1:j]):
            return None
        host, port_part = rest[:j + 1], rest[j + 1:]
    else:
        i = rest.find(":")
        host, port_part = (rest, "") if i < 0 else (rest[:i], rest[i:])
        m4 = _re.fullmatch(r"(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})",
                           host)
        if m4 and all(int(g) <= 255 for g in m4.groups()):
            pass  # strict IPv4 literal
        elif not _uri_parse_hostname(host):
            return None
    if port_part and not _re.fullmatch(r":[0-9]*", port_part):
        return None
    return host


def java_uri_host_query(s: str) -> tuple[str | None, str | None]:
    """The (getHost(), getQuery()) subset of ``new java.net.URI(s)`` —
    raises _JavaURIError where the constructor throws. Mirrors
    Parser.parse: fragment at the first '#'; a ':' occurring before any
    of '/?#' makes the prefix a scheme (letter + alnum/'+-.'); an
    absolute URI whose scheme-specific part does not start with '/' is
    opaque (host and query both null); '//' starts the authority, tried
    server-based first with a registry fallback (host null but the URI
    is VALID); the query is '?' to '#' and is returned DECODED."""
    frag = None
    if "#" in s:
        s, frag = s.split("#", 1)
        _uri_check(frag, _URI_RESERVED, "fragment")

    # scheme: first ':' before any '/?#' (fragment already removed)
    scheme = None
    for i, c in enumerate(s):
        if c in "/?":
            break
        if c == ":":
            scheme = s[:i]
            if scheme == "" or not scheme[0].isalpha() \
                    or not scheme[0].isascii():
                raise _JavaURIError("Expected scheme name")
            if not all(ch in _URI_ALNUM or ch in "+-." for ch in scheme):
                raise _JavaURIError("Illegal character in scheme name")
            s = s[i + 1:]
            break

    if scheme is not None and not s.startswith("/"):
        # opaque URI: ssp must be non-empty uric with a non-'/' head
        if s == "":
            raise _JavaURIError("Expected scheme-specific part")
        _uri_check(s, _URI_RESERVED, "opaque part")
        return None, None

    query = None
    if "?" in s:
        s, query = s.split("?", 1)
        _uri_check(query, _URI_RESERVED, "query")

    host = None
    if s.startswith("//"):
        rest = s[2:]
        j = len(rest)
        for i, c in enumerate(rest):
            if c in "/?":
                j = i
                break
        auth, path = rest[:j], rest[j:]
        if auth != "":
            host = _uri_server_host(auth)
            if host is None:
                # registry fallback — still a valid URI, null host
                _uri_check(auth, _URI_PUNCT | set("@"), "authority")
    else:
        path = s
    _uri_check(path, set(":@&=+$,;/"), "path")

    return host, None if query is None else _uri_decode(query)


def ref_utm_term_from_ref(referrer_url: str | None) -> str:
    """Exact port of EventAttrTransfer.getUtmTermFromRef(null, ref)
    (EventAttrTransfer.java:429-457), pinned cell-for-cell against the
    reference class executed on this JDK (mode 'ut' of
    tests/data/refkw_jvm_fixture.jsonl.gz). Returns the raw method
    result: '\\\\N', '' (empty decode — the caller's ensureLength
    renders it \\\\N), or the keyword."""
    NULL_VALUE = "\\N"
    if referrer_url is None or referrer_url == "" \
            or referrer_url == NULL_VALUE:
        return NULL_VALUE
    try:
        host, query = java_uri_host_query(referrer_url)
        if query is None:
            return NULL_VALUE
        params: dict[str, str] = {}
        for part in query.split("&"):
            pair = part.split("=", 1)
            if len(pair) == 2:
                params[pair[0]] = pair[1]
        if host is not None:
            if ".sogou.com" in host:
                kw = params.get("query")
                if kw is not None:
                    return java_url_decode(kw, "utf-8")
            elif any(h in host for h in (".bing.com", ".so.com", "m.sm.cn",
                                         ".google.com", ".google.co")):
                kw = params.get("q")
                if kw is not None:
                    return java_url_decode(kw, "utf-8")
    except Exception:
        return NULL_VALUE
    return NULL_VALUE


def with_search_keyword(df, ref_col: str = "ref"):
    """DataFrame helper: adds ``search_engine`` + ``search_keyword``
    (decoded per decode_multi_charset, cleaned) from a referrer column.
    Extraction is JVM-side; only the decode crosses to Python, Arrow-batched."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _decode(col: pd.Series) -> pd.Series:
        return col.map(decode_multi_charset, na_action="ignore")

    eng = F.expr(engine_case(SPARK, ref_col))
    raw = F.expr(
        clean_keyword(SPARK, term_case(SPARK, ref_col, engine_case(SPARK, ref_col)))
    )
    return df.withColumn("search_engine", eng).withColumn(
        "search_keyword", _decode(raw)
    )
