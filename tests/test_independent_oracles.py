"""Independent re-implementations of reference semantics.

The declared-query oracles are generated from the same dual-dialect
template as the engine queries, which eliminates transcription drift but
cannot catch a SHARED misreading of the reference. These tests rebuild
the semantics a second time from the reference's own description —
sequential Python simulations of the KV-store operators, and
datetime-library recomputation of the time-bucket math — sharing no code
(and no SQL) with the engine formulation.

Reference stakes per test:
- zgid binding      OneIdService.java:312-650 (HSETNX first-writer-wins)
- ad attribution    AdvConvertEventFlatMapFunction.java:142-300
                    (max-ct Redis touch lookup + window + frequency gate)
- funnel            t_/f_ user-aggregate family (sql/1.sql:396-657)
- time buckets      EventAttrTransfer.java:243-258 (begin_day_id /
                    begin_date / begin_time_id / yw = YYYYww of date-1)
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from datetime import datetime, timedelta, timezone

from zg_etl_spark.operators.domain import spark_pipeline_df
from zg_etl_spark.operators import registries as R
from zg_etl_spark import plans

ALL = plans.all_queries()


def _rows(spark, sf_dir, body):
    return spark_pipeline_df(spark, sf_dir, body).collect()


# ---------------------------------------------------------------------------
# I5 one-ID binding: sequential KV simulation (the reference's actual
# execution model — per-event HGET/HSETNX against d:/u:/dz: hashes in
# arrival order) must produce exactly the relation the engine derives
# set-based (dense_rank + first-cuid window + two joins).
# ---------------------------------------------------------------------------
def test_zgid_binding_matches_sequential_kv_simulation(spark, sf_dir):
    events = sorted(
        _rows(spark, sf_dir, "SELECT app_id, did, cuid, seq FROM gate_ok"),
        key=lambda r: r.seq,
    )
    did_ids: dict = {}      # (app, did)  -> zg_did
    uid_ids: dict = {}      # (app, cuid) -> zg_uid
    bound: dict = {}        # (app, did)  -> first cuid ever seen with it
    n_did = defaultdict(int)
    n_uid = defaultdict(int)
    for r in events:
        dk = (r.app_id, r.did)
        if dk not in did_ids:                      # HSETNX d:{app}
            n_did[r.app_id] += 1
            did_ids[dk] = 100_000 + n_did[r.app_id]
        if r.cuid is not None:
            uk = (r.app_id, r.cuid)
            if uk not in uid_ids:                  # HSETNX u:{app}
                n_uid[r.app_id] += 1
                uid_ids[uk] = 200_000 + n_uid[r.app_id]
            if dk not in bound:                    # HSETNX dz:{app}
                bound[dk] = r.cuid

    expected = {
        (app, did, zg_did,
         bound.get((app, did)),
         300_000 + uid_ids[(app, bound[(app, did)])]
         if (app, did) in bound else 900_000 + zg_did)
        for (app, did), zg_did in did_ids.items()
    }
    actual = {
        tuple(r) for r in _rows(
            spark, sf_dir,
            "SELECT app_id, did, zg_did, bound_cuid, zg_id FROM device_zgid",
        )
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# Adv attribution: per-event simulation of the reference's latest-touch
# Redis lookup (adtfuser max-ct), attribution window, frequency gate and
# UTM override — checked against p31's single-shuffle forward-fill plan.
# ---------------------------------------------------------------------------
def test_adv_attribution_matches_touch_simulation(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_id, ct, seq, event_name, dt, k FROM resolved "
        "WHERE dt IN ('evt', 'mkt')",
    )
    rules = {(lid, ev): (win, freq) for lid, ev, win, freq in R.ADS_LINK_RULES}
    utm = {ev: src for ev, src, _m, _c in R.UTM_OVERRIDES}

    per_user = defaultdict(list)
    for r in rows:
        if r.dt == "mkt":
            if r.k is None:
                continue
            assert r.k >= 0  # % below assumes non-negative (matches SQL %)
            per_user[(r.app_id, r.zg_id)].append(
                (r.ct, 1, r.seq, None, r.k % 5)
            )
        else:
            per_user[(r.app_id, r.zg_id)].append(
                (r.ct, 0, r.seq, r.event_name, None)
            )

    matched = []  # (app, event_name, lid, freq, utm_src, zg_id, ct, seq)
    for (app, zgid), evs in per_user.items():
        evs.sort(key=lambda t: (t[0], -t[1], t[2]))  # touches first at tie
        last_touch = None  # (lid, touch_ct)
        for ct, is_touch, seq, name, lid in evs:
            if is_touch:
                last_touch = (lid, ct)
                continue
            if last_touch is None:
                continue
            rule = rules.get((last_touch[0], name))
            if rule is None or ct - last_touch[1] > rule[0] * 1000:
                continue
            matched.append(
                (app, name, last_touch[0], rule[1], utm.get(name), zgid, ct, seq)
            )

    # frequency 0 = first matching conversion per (app, event, lid, user)
    matched.sort(key=lambda m: (m[6], m[7]))
    seen = set()
    agg = defaultdict(lambda: [0, set()])
    for app, name, lid, freq, src, zgid, _ct, _seq in matched:
        if freq == 0:
            fk = (app, name, lid, zgid)
            if fk in seen:
                continue
            seen.add(fk)
        a = agg[(app, name, lid, freq, src)]
        a[0] += 1
        a[1].add(zgid)

    expected = {k + (n, len(users)) for k, (n, users) in agg.items()}
    actual = {tuple(r) for r in ALL["p31_adv_attribution"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# First/follow ad source (p38, AdvLidAndUserFirstEndFlatMapFunction): a
# sequential replay of the "first::latest" store encoding (:296-304) —
# first sticky from the first write, the follow slot rewritten on every
# newer touch and DROPPED when the latest equals the first — against
# p38's window formulation.
# ---------------------------------------------------------------------------
def test_adv_user_sources_match_python_loop(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_id, ct, seq, k FROM resolved "
        "WHERE dt = 'mkt' AND k IS NOT NULL",
    )
    per_user = defaultdict(list)
    for r in rows:
        per_user[(r.app_id, r.zg_id)].append((r.ct, r.seq, r.k % 5))
    expected = set()
    for (app, zgid), touches in per_user.items():
        stored = ""  # the lidLnameKey value, replayed write-by-write
        for _, _, lid in sorted(touches):
            this = str(lid)
            if stored:
                first = stored.split("::")[0]
                if first != this:
                    this = first + "::" + this
            stored = this
        parts = stored.split("::")
        first = int(parts[0])
        fol = int(parts[1]) if len(parts) > 1 else None
        last = max(touches)[2]
        expected.add((app, zgid, first, last, fol, len(touches)))
    actual = {
        tuple(r) for r in ALL["p38_adv_user_sources"](spark, sf_dir).collect()
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# Funnel: ordered step-matching in a plain Python loop vs p16's
# successive min-over joins.
# ---------------------------------------------------------------------------
def test_funnel_matches_python_loop(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_id, event_type, ct FROM resolved "
        "WHERE dt IN ('evt', 'abp') "
        "AND event_type IN ('view', 'click', 'purchase')",
    )
    per_user = defaultdict(list)
    for r in rows:
        per_user[(r.app_id, r.zg_id)].append((r.ct, r.event_type))

    steps = defaultdict(lambda: [0, 0, 0])
    for (app, _), evs in per_user.items():
        t1 = min((ct for ct, et in evs if et == "view"), default=None)
        if t1 is None:
            continue
        steps[app][0] += 1
        t2 = min(
            (ct for ct, et in evs if et == "click" and ct >= t1), default=None
        )
        if t2 is None:
            continue
        steps[app][1] += 1
        if any(et == "purchase" and ct >= t2 for ct, et in evs):
            steps[app][2] += 1

    expected = {(app, v, c, p) for app, (v, c, p) in steps.items()}
    actual = {tuple(r) for r in ALL["p16_funnel"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Path analysis (p56): plain-Python per-session transition walk. The
# engine derives transitions with one LEAD window over the session-ordered
# stream; this re-derivation sorts each (app, zgid, sid) group's events
# in Python and walks adjacent pairs, sharing no SQL with the engine.
# ---------------------------------------------------------------------------
def test_event_paths_matches_python_loop(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_id, sid, event_name, ct, seq FROM resolved "
        "WHERE dt IN ('evt', 'abp') AND sid IS NOT NULL "
        "AND event_name IS NOT NULL",
    )
    sessions = defaultdict(list)
    for r in rows:
        sessions[(r.app_id, r.zg_id, r.sid)].append((r.ct, r.seq, r.event_name))

    counts = defaultdict(int)
    users = defaultdict(set)
    sids = defaultdict(set)
    for (app, zgid, sid), evs in sessions.items():
        evs.sort()
        names = [name for _, _, name in evs]
        for frm, to in zip(names, names[1:] + ["(exit)"]):
            counts[(app, frm, to)] += 1
            users[(app, frm, to)].add(zgid)
            sids[(app, frm, to)].add((zgid, sid))

    expected = {
        key + (n, len(users[key]), len(sids[key]))
        for key, n in counts.items()
    }
    actual = {tuple(r) for r in ALL["p56_event_paths"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# M2 physical-column allocation: sequential simulation of the reference's
# per-(event, owner) get-or-create with cus{n} assignment
# (EventAttrAsyncOperator.java:406-551) — each attribute takes the next
# free column in first-seen order (ties inside one record broken by name,
# the engine's documented determinism choice), capped by the app's
# attr_sum. Must equal the engine's windowed ROW_NUMBER derivation.
# ---------------------------------------------------------------------------
def test_attr_column_allocation_matches_sequential_simulation(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_eid, owner, attr_name, prop_type, seq "
        "FROM attrs_melted",
    )
    caps = {app: cap for app, _auto, _ecap, cap in R.APP_CONFIG}
    rows.sort(key=lambda r: (r.seq, r.attr_name))
    alloc: dict = {}
    for r in rows:
        d = alloc.setdefault((r.app_id, r.zg_eid, r.owner), {})
        if r.attr_name not in d:
            d[r.attr_name] = (len(d) + 1, r.prop_type)

    expected = {
        (eid, owner, name, ptype, idx, eid * 10 + idx, f"cus{idx}")
        for (app, eid, owner), attrs in alloc.items()
        for name, (idx, ptype) in attrs.items()
        if idx <= caps[app]
    }
    actual = {
        tuple(r) for r in _rows(
            spark, sf_dir,
            "SELECT zg_eid, owner, attr_name, prop_type, col_idx, attr_id, "
            "column_name FROM attr_dict",
        )
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# Lifetime profile (p27, the f_user_all column family): per-user Python
# loop over seq-ordered events vs the min_by/max_by single-pass aggregate.
# ---------------------------------------------------------------------------
def test_user_profile_matches_python_loop(spark, sf_dir):
    import re

    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_id, ct, seq, sid, dur, cuid, vn, cn, "
        "utm_source, utm_campaign, utm_content, ref, pl FROM resolved",
    )
    per_user = defaultdict(list)
    for r in rows:
        per_user[(r.app_id, r.zg_id)].append(r)

    expected = set()
    for (app, zgid), evs in per_user.items():
        evs.sort(key=lambda r: r.seq)
        first, last = evs[0], evs[-1]
        cts = [r.ct for r in evs]
        website = re.search(r"https?://([^/]+)", first.ref or "")
        expected.add((
            app, zgid, min(cts), max(cts), max(cts) - min(cts), len(evs),
            len({r.sid for r in evs if r.sid is not None}),
            sum(r.dur for r in evs if 0 <= r.dur <= 86_400_000),
            int(any(r.cuid is not None for r in evs)),
            first.vn or "", last.vn or "",
            first.cn or "", last.cn or "",
            first.utm_source or "", first.utm_campaign or "",
            first.utm_content or "",
            website.group(1) if website else "",
            first.ref or "", last.ref or "",
            first.pl, last.pl,
        ))
    actual = {tuple(r) for r in ALL["p27_user_profile"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Curation (l13): pure-pandas recomputation straight off the parquet file —
# no Spark, no DuckDB, no SQL. Catches a shared misreading of the
# quality-gate / keep-first-duplicate rules (this area produced two latent
# oracle-typing bugs in round 2).
# ---------------------------------------------------------------------------
def test_curation_matches_pandas_recompute(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "lang", "source", "text"])

    def score(text):
        ws = text.split(" ")
        n_tok = len(ws)
        n_stop = sum(1 for w in ws if w in ("the", "a"))
        if n_tok < 5:
            q = 0.0
        elif n_tok > 200:
            q = 0.5
        else:
            q = 1.0 - n_stop / n_tok
        return n_tok, q, hashlib.md5(text.encode()).hexdigest()

    docs[["n_tokens", "quality", "fp"]] = docs["text"].apply(
        lambda t: pd.Series(score(t))
    )
    docs = docs.sort_values("doc_id")
    docs["rn"] = docs.groupby("fp").cumcount() + 1

    agg = {}
    for r in docs.itertuples():
        a = agg.setdefault((r.lang, r.source), [0, 0, 0, 0, 0])
        a[0] += 1
        if r.rn == 1 and r.quality >= 0.5:
            a[1] += 1
            a[2] += int(r.n_tokens)
        elif r.rn > 1:
            a[3] += 1
        else:
            a[4] += 1
    expected = {k + tuple(v) for k, v in agg.items()}
    actual = {tuple(r) for r in ALL["l13_curation"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Retention cohort (p15): per-user Python loop vs the activity⋈cohort SQL.
# ---------------------------------------------------------------------------
def test_retention_matches_python_loop(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, zg_id, ct FROM resolved WHERE dt IN ('evt', 'abp')",
    )
    days = defaultdict(set)
    for r in rows:
        days[(r.app_id, r.zg_id)].add(r.ct // 86_400_000)

    agg = defaultdict(set)
    for (app, zgid), ds in days.items():
        d0 = min(ds)
        for d in ds:
            agg[(app, d0, d - d0)].add(zgid)

    expected = {(app, d0, off, len(users))
                for (app, d0, off), users in agg.items()}
    actual = {tuple(r)
              for r in ALL["p15_retention_cohort"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Time rollup (p25): GROUPING SETS semantics rebuilt as three plain Python
# group-bys — per-set NULL slots and the GROUPING_ID bitmask (bit set when
# the column is NOT in the set, first argument most significant).
# ---------------------------------------------------------------------------
def test_time_rollup_matches_python_groupbys(spark, sf_dir):
    rows = _rows(spark, sf_dir, "SELECT app_id, did, ct FROM gate_ok")
    HOUR, DAY, WEEK = 3_600_000, 86_400_000, 7 * 86_400_000
    sets = [  # (bucket_fn, slot index in (hour, day, week), grain_id)
        (lambda ct: ct // HOUR, 0, 0b0011),
        (lambda ct: ct // DAY, 1, 0b0101),
        (lambda ct: ct // WEEK, 2, 0b0110),
    ]
    expected = set()
    for bucket, slot, gid in sets:
        agg = defaultdict(lambda: [0, set()])
        for r in rows:
            a = agg[(r.app_id, bucket(r.ct))]
            a[0] += 1
            a[1].add(r.did)
        for (app, b), (n, dids) in agg.items():
            slots = [None, None, None]
            slots[slot] = b
            expected.add((app, *slots, gid, n, len(dids)))
    actual = {tuple(r) for r in ALL["p25_time_rollup"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Search keywords (p30, SearchKeywordParser.java:36-143): split-based
# Python URL parsing vs the engine's SQL regex chains. The ENGINES table
# is the shared SPEC; the extraction algorithm (string splitting, ordered
# first-occurrence, priority fallback, edge-quote strip) is rebuilt here
# without regexes or SQL.
# ---------------------------------------------------------------------------
def test_search_keywords_match_python_url_parsing(spark, sf_dir):
    import re as _re

    from zg_etl_spark.functions.search_keywords import ENGINES

    def engine_of(ref):
        for eng, pat, _ in ENGINES:
            if _re.search(pat, ref, _re.IGNORECASE):
                return eng
        return None

    param_table = {eng: params for eng, _, params in ENGINES}

    def raw_keyword(ref, engine):
        if "?" not in ref:
            return None
        pairs = []
        for chunk in ref.split("?", 1)[1].split("&"):
            name, _, value = chunk.partition("=")
            pairs.append((name.lower(), value))
        for want in param_table[engine]:
            for name, value in pairs:  # FIRST occurrence decides
                if name == want.lower():
                    if value != "":
                        return value
                    break  # empty first occurrence skips this param
        return None

    def clean(kw):
        # trim, then ONE quote stripped per edge: double quotes first,
        # then single (cleanKeyword's anchored replaceAll sequence)
        kw = kw.strip()
        if kw.startswith('"'):
            kw = kw[1:]
        if kw.endswith('"'):
            kw = kw[:-1]
        if kw.startswith("'"):
            kw = kw[1:]
        if kw.endswith("'"):
            kw = kw[:-1]
        return kw

    rows = _rows(
        spark, sf_dir,
        "SELECT app_id, ref FROM resolved WHERE ref IS NOT NULL",
    )
    agg = defaultdict(lambda: [0, set()])
    for r in rows:
        eng = engine_of(r.ref)
        kw = raw_keyword(r.ref, eng) if eng else None
        kw = clean(kw) if kw is not None else None
        a = agg[(eng, kw)]
        a[0] += 1
        a[1].add(r.app_id)
    expected = {k + (n, len(apps)) for k, (n, apps) in agg.items()}
    actual = {tuple(r) for r in ALL["p30_search_keywords"](spark, sf_dir).collect()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Wide-table time buckets: datetime-library recomputation. The engine
# derives yw via year(thursday-of-week)*100 + weekofyear; isocalendar()
# is an independent implementation of the same ISO-8601 definition.
# ---------------------------------------------------------------------------
def test_time_buckets_match_datetime_library(spark, sf_dir):
    ct_by_seq = {
        r.seq: r.ct for r in _rows(spark, sf_dir, "SELECT seq, ct FROM resolved")
    }
    wide = ALL["p8_wide_table"](spark, sf_dir).select(
        "uuid", "begin_day_id", "begin_date", "begin_time_id", "yw"
    ).collect()
    uuid_to_ct = {
        hashlib.md5(str(seq).encode()).hexdigest(): ct
        for seq, ct in ct_by_seq.items()
    }
    # synthesized vtl rows share their source row's ct but salt the uuid
    # with the virtual name (fresh-uuid contract, VirtualEventOperator
    # .java:305-315); enumerate every possible (seq, rule) salt so the
    # n_checked == len(wide) totality assertion keeps holding
    for seq, ct in ct_by_seq.items():
        for _, _, vname, _, _ in R.VIRTUAL_EVENT_RULES:
            uuid_to_ct[
                hashlib.md5(f"{seq}|{vname}".encode()).hexdigest()
            ] = ct
    assert wide, "p8 returned no rows"
    n_checked = 0
    for r in wide:
        ct = uuid_to_ct.get(r.uuid)
        if ct is None:
            continue
        n_checked += 1
        dt = datetime.fromtimestamp(ct / 1000, tz=timezone.utc)
        assert r.begin_day_id == int(dt.strftime("%Y%m%d")), r
        assert r.begin_date == ct // 1000, r
        # hour + "0" + %03d-millisecond composite
        # (EventAttrTransfer.java:246,380-381) — as an int: hh*10000 + ms
        assert r.begin_time_id == dt.hour * 10000 + ct % 1000, r
        assert r.yw == _java_yw(dt.date() - timedelta(days=1)), r
    assert n_checked == len(wide)


def _java_yw(d):
    """Python port of Calendar's Sunday-start / minimalDaysInFirstWeek=1
    week rules, as SimpleDateFormat("YYYYww") renders them under the
    zh_CN/en_US CLDR data (EventAttrTransfer.java:56,385-396) — the
    reference's yw is NOT ISO-8601: the week containing Jan 1 is already
    week 1 of the NEW week-year, and weeks start on Sunday, so every
    Sunday date lands one week later than isocalendar() says."""
    # Sunday on-or-before d (Python weekday(): Mon=0 … Sun=6)
    start = d - timedelta(days=(d.weekday() + 1) % 7)
    week_year = (start + timedelta(days=6)).year
    jan1 = start.replace(year=week_year, month=1, day=1)
    week1_start = jan1 - timedelta(days=(jan1.weekday() + 1) % 7)
    return week_year * 100 + (start - week1_start).days // 7 + 1


# ---------------------------------------------------------------------------
# Near-dup dedup groups (l16): the engine runs DataFrame label propagation
# and the declared oracle runs DuckDB WITH RECURSIVE — both over edges the
# same dual-dialect template derives. This check rebuilds EVERYTHING from
# the documented definition (3-gram shingles, 8 md5-chunk minhashes with
# 'a|'/'b|' seeds, 4 two-hash bands, est_sim >= 0.5) in plain Python and
# groups with a THIRD algorithm (path-compressed union-find).
# ---------------------------------------------------------------------------
def _minhash_sigs_python(docs):
    sigs = {}
    for doc_id, text in docs:
        ws = text.split(" ")
        if len(ws) < 3:
            continue
        sh = [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
        m0 = [hashlib.md5(("a|" + s).encode()).hexdigest() for s in sh]
        m1 = [hashlib.md5(("b|" + s).encode()).hexdigest() for s in sh]
        sig = []
        for j in range(8):
            src = m0 if j < 4 else m1
            off = (j % 4) * 8
            sig.append(min(m[off : off + 8] for m in src))
        sigs[doc_id] = sig
    return sigs


def test_dedup_groups_match_python_unionfind(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    sigs = _minhash_sigs_python(list(docs.itertuples(index=False)))

    buckets = defaultdict(list)
    for doc_id, sig in sigs.items():
        for b in range(4):
            buckets[(b, sig[2 * b], sig[2 * b + 1])].append(doc_id)

    parent = {d for ds in buckets.values() for d in ds}
    parent = {d: d for d in parent}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ds in buckets.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                matches = sum(1 for j in range(8) if sigs[a][j] == sigs[b][j])
                if matches / 8 >= 0.5:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)

    expected = {
        int(d): int(find(d)) if d in parent else int(d)
        for d in docs["doc_id"]
    }
    actual = {
        int(r.doc_id): int(r.group_id)
        for r in ALL["l16_dedup_groups"](spark, sf_dir).collect()
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# Source-mixture weights (l28): the engine solves the cap fixed point
# closed-form via ranked prefix sums; this check converges the same fixed
# point ITERATIVELY (cap, renormalize the uncapped mass, repeat) — a
# different algorithm whose fixpoint must agree to float precision.
# ---------------------------------------------------------------------------
def test_source_mixture_matches_iterative_waterfill(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["source", "text"])
    toks = docs.assign(n=docs["text"].str.split(" ").str.len())
    per = toks.groupby("source")["n"].sum()
    shares = (per / per.sum()).to_dict()

    cap, n = 0.05, len(shares)
    if n * cap <= 1.0:
        weights = {s: 1.0 / n for s in shares}
    else:
        capped: set = set()
        t = 1.0
        for _ in range(n + 1):
            free_share = sum(shares[s] for s in shares if s not in capped)
            t = (1.0 - cap * len(capped)) / free_share
            newly = {
                s for s in shares
                if s not in capped and shares[s] * t > cap
            }
            if not newly:
                break
            capped |= newly
        weights = {
            s: cap if s in capped else shares[s] * t for s in shares
        }

    actual = {
        r.source: r.mixture_weight
        for r in ALL["l28_source_mixture"](spark, sf_dir).collect()
    }
    assert set(actual) == set(weights)
    for s in weights:
        assert abs(actual[s] - round(weights[s], 6)) <= 1e-6, (
            s, actual[s], weights[s])


# ---------------------------------------------------------------------------
# Duplicate-span coverage (l30): Python re-windowing with TUPLE keys —
# no hash function at all, so it also cross-checks the engine's reliance
# on xxhash64/duckdb-hash window keys being collision-free at this scale.
# ---------------------------------------------------------------------------
def test_dup_span_fraction_matches_python_rewindow(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    K = 8
    wins: dict = defaultdict(set)
    toks = {}
    for r in docs.itertuples(index=False):
        ws = r.text.split(" ")
        toks[int(r.doc_id)] = ws
        for i in range(len(ws) - K + 1):
            wins[tuple(ws[i : i + K])].add(int(r.doc_id))
    shared = {w for w, ds in wins.items() if len(ds) >= 2}

    expected = {}
    for doc_id, ws in toks.items():
        n = len(ws)
        if n < K:  # sub-window docs are not scored (cannot share a window)
            continue
        covered: set = set()
        for i in range(n - K + 1):
            if tuple(ws[i : i + K]) in shared:
                covered.update(range(i, i + K))
        expected[doc_id] = (n, len(covered), round(len(covered) / n, 6))

    actual = {
        int(r.doc_id): (int(r.n_tokens), int(r.dup_tokens), r.dup_frac)
        for r in ALL["l30_dup_span_fraction"](spark, sf_dir).collect()
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# Semantic dedup (l29): numpy recompute of the centroid assignment and the
# within-cluster cosine verdicts — float math through numpy instead of two
# SQL engines' aggregate() folds.
# ---------------------------------------------------------------------------
def test_semantic_dedup_matches_numpy_loop(spark, sf_dir):
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "embedding"])
    vecs = {
        int(r.vec_id): np.asarray(list(r.embedding), dtype=np.float64)
        for r in emb.itertuples(index=False)
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    centroids = {c: vecs[c] for c in sorted(vecs) if c < 4}
    bucket = {}
    for vid, v in vecs.items():
        best = max(
            sorted(centroids),
            key=lambda c: (round(cos(v, centroids[c]), 4), -c),
        )
        bucket[vid] = best

    expected = {}
    for vid in sorted(vecs):
        dup_of = None
        for other in sorted(vecs):
            if other >= vid or bucket[other] != bucket[vid]:
                continue
            if round(cos(vecs[vid], vecs[other]), 4) >= 0.35:
                dup_of = other
                break
        expected[vid] = (bucket[vid], 0 if dup_of is not None else 1, dup_of)

    actual = {
        int(r.vec_id): (
            int(r.bucket),
            int(r.keep),
            None if r.dup_of is None else int(r.dup_of),
        )
        for r in ALL["l29_semantic_dedup"](spark, sf_dir).collect()
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# l31 short-doc candidates: a 3-word doc has a minhash signature (3-gram)
# but NO 4-gram shingles — the candidate pair must still be REPORTED
# (verified=0, jaccard=0), never silently dropped by the sizes join. The
# driver fixtures have no sub-4-word docs, so this crafts its own corpus
# and checks Spark and DuckDB agree on it.
# ---------------------------------------------------------------------------
def test_candidate_verify_reports_subshingle_docs(spark, tmp_path):
    import duckdb
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["tiny doc here", "tiny doc here",
                     "a completely different longer document with many words"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [13, 13, 54],
        }
    )
    emb = pd.DataFrame(
        {"doc_id": [1, 2, 3]}
    ).rename(columns={"doc_id": "vec_id"})
    emb["embedding"] = [[0.1] * 4] * 3
    emb["label"] = 0
    docs.to_parquet(tmp_path / "documents.parquet")
    emb.to_parquet(tmp_path / "embeddings.parquet")

    rows = {
        (r.doc_a, r.doc_b): (r.jaccard, r.verified)
        for r in ALL["l31_candidate_verify"](spark, str(tmp_path)).collect()
    }
    # the identical 3-word docs band-collide (identical signatures) and
    # MUST be reported unverified, not dropped
    assert (1, 2) in rows, rows
    assert rows[(1, 2)] == (0.0, 0), rows

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    oracle = {
        (a, b): (j, v)
        for a, b, _e, j, v in con.execute(
            plans.all_oracles()["l31_candidate_verify"]
        ).fetchall()
    }
    assert oracle == rows


# ---------------------------------------------------------------------------
# n-gram LM scoring (l33): the micro-nat quantization claims the per-doc
# aggregate is an exact integer sum; this recomputes the whole model and
# every doc's score in a plain Python loop (math.log, dict counts) and
# demands EXACT integer equality — any float-order dependence in either
# engine would break it.
# ---------------------------------------------------------------------------
def test_lm_quality_score_matches_python_loop(spark, sf_dir):
    import math

    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    bg_count: dict = defaultdict(int)
    w1_count: dict = defaultdict(int)
    doc_bgs = {}
    for r in docs.itertuples(index=False):
        ws = r.text.split(" ")
        if len(ws) < 2:
            continue
        bgs = [(ws[i], ws[i] + " " + ws[i + 1]) for i in range(len(ws) - 1)]
        doc_bgs[int(r.doc_id)] = bgs
        for w1, bg in bgs:
            bg_count[bg] += 1
            w1_count[w1] += 1

    def _round_half_up(x: float) -> int:
        # SQL round() rounds half away from zero; Python round() is
        # banker's — divergence only exactly at .5, but be faithful
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    expected = {}
    for doc_id, bgs in doc_bgs.items():
        total = sum(
            _round_half_up(math.log(bg_count[bg] / w1_count[w1]) * 1_000_000)
            for w1, bg in bgs
        )
        n = len(bgs)
        nll = (-total) // n  # positive numerator: // == truncation == DIV
        expected[doc_id] = (n, nll)

    actual = {
        int(r.doc_id): (int(r.n_bigrams), int(r.avg_nll_micro), r.quality_bucket)
        for r in ALL["l33_lm_quality_score"](spark, sf_dir).collect()
    }
    # engine-vs-engine exactness is the PARITY suite's contract; this
    # third implementation tolerates ±1 micro-nat per term — math.log,
    # JVM Math.log, and DuckDB's libm can differ in the last ulp, which
    # flips round() exactly at a .5 boundary (per-term error is bounded
    # by 1, so the per-doc average differs by at most 1)
    assert set(actual) == set(expected)
    for doc_id, (n, nll) in expected.items():
        a_n, a_nll, a_bucket = actual[doc_id]
        assert a_n == n, (doc_id, a_n, n)
        assert abs(a_nll - nll) <= 1, (doc_id, a_nll, nll)
        if min(abs(nll - 3_400_000), abs(nll - 3_550_000)) > 1:
            bucket = "head" if nll < 3_400_000 else (
                "middle" if nll < 3_550_000 else "tail")
            assert a_bucket == bucket, (doc_id, a_bucket, bucket)


# ---------------------------------------------------------------------------
# Vocabulary coverage (l32): plain-Python Counter + running total.
# ---------------------------------------------------------------------------
def test_vocab_coverage_matches_python_counter(spark, sf_dir):
    from collections import Counter

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    wc = Counter()
    for t in docs["text"]:
        wc.update(t.split(" "))
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(wc.values())
    expected, cum = {}, 0
    for rk, (w, c) in enumerate(ranked[:100], start=1):
        cum += c
        expected[rk] = (w, c, round(cum / tot, 6))

    actual = {
        int(r.vocab_rank): (r.word, int(r.freq), r.coverage)
        for r in ALL["l32_vocab_coverage"](spark, sf_dir).collect()
    }
    # word + count exact; the ratio within 1e-6 — Python round() (exact
    # binary, half-even) and Spark round() (shortest-decimal HALF_UP)
    # can legitimately differ in the last kept digit
    assert set(actual) == set(expected)
    for rk, (w, c, cov) in expected.items():
        a_w, a_c, a_cov = actual[rk]
        assert (a_w, a_c) == (w, c), (rk, actual[rk], expected[rk])
        assert abs(a_cov - cov) <= 1e-6, (rk, a_cov, cov)


# ---------------------------------------------------------------------------
# Source-overlap matrix (l34): Python set intersections over UNHASHED
# shingle strings — also cross-checks the engines' hashed join keys.
# ---------------------------------------------------------------------------
def test_source_overlap_matches_python_sets(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    per_source: dict = defaultdict(set)
    for r in docs.itertuples(index=False):
        ws = r.text.split(" ")
        for i in range(len(ws) - 3):
            per_source[r.source].add(" ".join(ws[i : i + 4]))

    expected = {}
    srcs = sorted(per_source)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(per_source[a] & per_source[b])
            if shared:
                cont = shared / min(len(per_source[a]), len(per_source[b]))
                expected[(a, b)] = (shared, round(cont, 6))

    actual = {
        (r.source_a, r.source_b): (int(r.shared_shingles), r.containment)
        for r in ALL["l34_source_overlap"](spark, sf_dir).collect()
    }
    # counts exact; containment within 1e-6 (same round() model caveat
    # as the vocab-coverage check)
    assert set(actual) == set(expected)
    for pair, (shared, cont) in expected.items():
        a_shared, a_cont = actual[pair]
        assert a_shared == shared, (pair, a_shared, shared)
        assert abs(a_cont - cont) <= 1e-6, (pair, a_cont, cont)


# ---------------------------------------------------------------------------
# Incremental dedup admission (l35): plain-Python band index + lookup.
# ---------------------------------------------------------------------------
def test_incremental_dedup_matches_python_index(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    sigs = _minhash_sigs_python(list(docs.itertuples(index=False)))

    old_index = defaultdict(list)
    for doc_id, sig in sigs.items():
        if doc_id % 10 != 0:
            for b in range(4):
                old_index[(b, sig[2 * b], sig[2 * b + 1])].append(doc_id)

    expected = {}
    for doc_id in docs["doc_id"]:
        doc_id = int(doc_id)
        if doc_id % 10 != 0:
            continue
        best = None
        if doc_id in sigs:
            sig = sigs[doc_id]
            cands = set()
            for b in range(4):
                cands.update(old_index.get((b, sig[2 * b], sig[2 * b + 1]), []))
            for o in cands:
                est = sum(1 for j in range(8) if sig[j] == sigs[o][j]) / 8
                if est >= 0.5:
                    key = (round(est, 6), -o)
                    # highest est_sim wins, lower dup_of id breaks ties
                    if best is None or key > (best[1], -best[0]):
                        best = (o, round(est, 6))
        expected[doc_id] = (
            (0, best[0], best[1]) if best else (1, None, None)
        )

    actual = {
        int(r.doc_id): (
            int(r.accepted),
            None if r.dup_of is None else int(r.dup_of),
            r.est_sim,
        )
        for r in ALL["l35_incremental_dedup"](spark, sf_dir).collect()
    }
    assert actual == expected


# ---------------------------------------------------------------------------
# Delete-sign upsert (EventAttrRow.java:51-53): Doris merge-on-write applies
# rows in version order — newest write per UNIQUE KEY wins, and a winning
# delete-sign row removes the key. Replay w6's exact three batches as a
# sequential per-key store (dict insert/delete in seq order) and the final
# store must equal the engine's set-based keep-latest + sign-filter result.
# ---------------------------------------------------------------------------
def test_delete_sign_upsert_matches_sequential_store(spark, sf_dir):
    from zg_etl_spark.operators.domain import SPARK
    from zg_etl_spark.plans.pipeline import b_user_rows_sql

    rows = _rows(spark, sf_dir, b_user_rows_sql(SPARK))
    maxseq = max(r.seq for r in rows)
    # the three w6 batches flattened to (seq, key, payload-or-None): batch
    # boundaries are irrelevant to a version-ordered store, which is the
    # point of merge-on-write
    ops: list[tuple[int, tuple, tuple | None]] = []
    for r in rows:
        key = (r.app_id, r.device_id, r.zg_id)
        ops.append((r.seq, key, (r.user_id, r.begin_date, r.platform)))
        if r.zg_id % 14 == 0:  # resurrect batch, shifted past the delete
            ops.append((r.seq + maxseq + 2, key, (r.user_id, r.begin_date, r.platform)))
    for key in {(r.app_id, r.device_id, r.zg_id) for r in rows if r.zg_id % 7 == 0}:
        ops.append((maxseq + 1, key, None))  # delete marker
    store: dict = {}
    for _, key, payload in sorted(ops, key=lambda t: t[0]):
        if payload is None:
            store.pop(key, None)
        else:
            store[key] = payload
    got = {
        (r.app_id, r.device_id, r.zg_id): (r.user_id, r.begin_date, r.platform)
        for r in ALL["w6_delete_sign"](spark, sf_dir).collect()
    }
    assert got == store


# ---------------------------------------------------------------------------
# V5 virtual events: matchFilters (VirtualEventOperator.java:216-254) is a
# runtime loop over the rule's WHOLE filter map — "_"+key bag lookup first,
# then the raw key, every pair must compare equal as strings. Re-run that
# loop literally in Python over the resolved rows (bag rebuilt from the
# feed's own field definitions, not the engine's CASE rendering) and the
# per-rule counts must equal the p6 relation.
# ---------------------------------------------------------------------------
def test_virtual_events_match_python_matchfilters(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        """SELECT app_id, owner, event_name, dt, event_type, pl, k, value, cuid
           FROM resolved WHERE dt IN ('evt', 'abp') AND event_name IS NOT NULL""",
    )

    def bag(r) -> dict:
        return {
            "_etype": r.event_type,
            "_k": None if r.k is None else str(r.k),
            "_vbucket": None if r.k is None else str(r.k // 10),
            "_plat": r.pl,
            "_band": "hi" if (r.value is not None and r.value > 10) else "lo",
        }

    def lookup(r, b: dict, key: str):
        if "_" + key in b:
            return b["_" + key]
        if key in b:
            return b[key]
        raw = {"pl": r.pl, "k": None if r.k is None else str(r.k),
               "event_type": r.event_type, "cuid": r.cuid}
        return raw.get(key)

    counts = defaultdict(int)
    for r in rows:
        b = bag(r)
        for rule_app, src_event, vname, alias, filters in R.VIRTUAL_EVENT_RULES:
            if rule_app not in (0, r.app_id) or src_event != r.event_name:
                continue
            if all(lookup(r, b, k) == v for k, v in filters):
                counts[(r.app_id, vname, alias, r.owner, r.event_name, r.dt)] += 1

    got = {
        (r.app_id, r.virtual_name, r.virtual_alias, r.event_owner,
         r.event_name_src, r.event_dt_src): r.n
        for r in ALL["p6_virtual_events"](spark, sf_dir).collect()
    }
    assert got == dict(counts)
    # the arbitrary-N case genuinely fires: the 3-filter rule matched rows
    # and can only be a subset of its 2-filter prefix (strictly smaller at
    # sf0.01, where lo-band whale rows exist; equality is legitimate at
    # SFs where every whale row happens to be hi-band)
    iwh = sum(n for k, n in got.items() if k[1] == "ios_hi_whale")
    wh = sum(n for k, n in got.items() if k[1] == "whale")
    assert 0 < iwh <= wh


# ---------------------------------------------------------------------------
# V5→M1 integration: the vtl fan-out rows flow through the event
# dictionary — VirtualEventOperator (IdJob step 7) synthesizes BEFORE
# EventAsyncOperator (step 8) registers, whose dt filter includes 'vtl'
# (EventAsyncOperator.java:190), so virtual names get dictionary ids and
# count against the per-app creation cap exactly like source names
# (EventAsyncOperator.java:300-326). Sequential simulation: iterate rows
# in seq (arrival) order, emit source event then matching virtual events
# per row, get-or-create against plain Python dicts with the preseed /
# auto-create / cap rules. No SQL shared with the engine.
# ---------------------------------------------------------------------------
def test_vtl_dictionary_integration_matches_sequential_simulation(spark, sf_dir):
    import re

    rows = sorted(
        _rows(
            spark, sf_dir,
            """SELECT app_id, owner, event_name, dt, event_type, pl, k, value,
                      cuid, seq
               FROM resolved
               WHERE dt IN ('evt', 'abp', 'mkt') AND event_name IS NOT NULL""",
        ),
        key=lambda r: r.seq,
    )
    name_ok = re.compile(r"^[0-9A-Za-z_$一-龥-]+$").fullmatch

    def bag(r) -> dict:
        return {
            "_etype": r.event_type,
            "_k": None if r.k is None else str(r.k),
            "_vbucket": None if r.k is None else str(r.k // 10),
            "_plat": r.pl,
            "_band": "hi" if (r.value is not None and r.value > 10) else "lo",
        }

    def lookup(r, b: dict, key: str):
        if "_" + key in b:
            return b["_" + key]
        if key in b:
            return b[key]
        raw = {"pl": r.pl, "k": None if r.k is None else str(r.k),
               "event_type": r.event_type, "cuid": r.cuid}
        return raw.get(key)

    cfg = {app: (dis, ecap) for app, dis, ecap, _ in R.APP_CONFIG}
    preseed = {(a, o, n): eid for a, o, n, eid in R.EVENT_PRESEED}
    pre_n = defaultdict(int)
    for a, _, _, _ in R.EVENT_PRESEED:
        pre_n[a] += 1

    ungated: dict = {}          # (app, owner, name) -> zg_eid
    n_ungated = defaultdict(int)
    created: dict = {}          # non-preseeded names that made it under cap
    n_new = defaultdict(int)    # non-preseeded first-seen counter per app
    for r in rows:
        cands = [("zg" if r.dt == "abp" else r.owner, r.event_name[:100])]
        if r.dt in ("evt", "abp"):
            b = bag(r)
            for rule_app, src_event, vname, _alias, filters in R.VIRTUAL_EVENT_RULES:
                if rule_app not in (0, r.app_id) or src_event != r.event_name:
                    continue
                if all(lookup(r, b, k) == v for k, v in filters):
                    cands.append(("zg_vtl", vname))
        # equal-seq tie-break: (owner, name) — the engine's deterministic
        # stand-in for the reference's source-then-synthesized arrival
        # order ('zg' < 'zg_vtl' preserves it)
        for owner, name in sorted(set(cands)):
            if not name_ok(name):
                continue
            k3 = (r.app_id, owner, name)
            if k3 not in ungated:
                n_ungated[r.app_id] += 1
                ungated[k3] = 1000 * r.app_id + n_ungated[r.app_id]
            if k3 in preseed or k3 in created:
                continue
            auto_disabled, cap = cfg[r.app_id]
            if auto_disabled:
                continue
            n_new[r.app_id] += 1
            if pre_n[r.app_id] + n_new[r.app_id] <= cap:
                created[k3] = 1000 * r.app_id + pre_n[r.app_id] + n_new[r.app_id]

    got_ungated = {
        (r.app_id, r.owner, r.event_name): r.zg_eid
        for r in _rows(spark, sf_dir,
                       "SELECT app_id, owner, event_name, zg_eid FROM event_dict")
    }
    got_eff = {
        (r.app_id, r.owner, r.event_name): r.zg_eid
        for r in _rows(spark, sf_dir,
                       "SELECT app_id, owner, event_name, zg_eid FROM event_dict_eff")
    }
    assert got_ungated == ungated
    assert got_eff == {**created, **preseed}
    # the integration genuinely bites: virtual names hold dictionary ids,
    # and on the capped app (1, cap 6) the cap decided membership over a
    # MIXED source+virtual candidate stream
    assert any(o == "zg_vtl" for _, o, _ in got_eff)
    assert sum(1 for (a, _, _) in got_eff if a == 1) == 6


# ---------------------------------------------------------------------------
# V4 virtual attributes over the custom bag: re-evaluate the bag-field
# rules (band_tag, deep_bucket, u_band) with plain Python string/number
# semantics — the reference evaluator resolves "_"-keys from the record's
# property map (VirtualAttributeExpressionEvaluator.java:38-75) with
# parseDouble coercion in numeric contexts. No ExprCompiler, no SQL.
# ---------------------------------------------------------------------------
def test_virtual_bag_attrs_match_python_eval(spark, sf_dir):
    rows = _rows(
        spark, sf_dir,
        "SELECT event_id, dt, event_type, pl, k, value FROM resolved "
        "WHERE dt IN ('evt', 'abp', 'usr')",
    )

    def band(r):
        return "hi" if (r.value is not None and r.value > 10) else "lo"

    expected = {}
    for r in rows:
        band_tag = deep = u_band = None
        if r.dt in ("evt", "abp") and r.event_type == "purchase":
            band_tag = f"{band(r)}:{r.pl}"
        if r.dt in ("evt", "abp") and r.event_type == "view":
            # numeric coercion of the string bag value str(k // 10)
            vb = None if r.k is None else float(str(r.k // 10))
            deep = "deep" if (vb is not None and vb > 3) else "shallow"
        if r.dt == "usr":  # gated on _band presence (always non-null)
            u_band = band(r).upper()
        expected[r.event_id] = (band_tag, deep, u_band)

    got = {
        r.event_id: (r.band_tag, r.deep_bucket, r.u_band)
        for r in ALL["p5_virtual_attrs"](spark, sf_dir)
        .select("event_id", "band_tag", "deep_bucket", "u_band")
        .collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# L36 sequence packing: replay the concat-and-chunk cursor literally — a
# sequential per-source token cursor in Python, docs in doc_id order —
# and the per-doc (bin, offset, spans) assignment must equal the engine's
# windowed-cumsum formulation.
# ---------------------------------------------------------------------------
def test_sequence_packing_matches_python_cursor(spark, sf_dir):
    from zg_etl_spark.operators.domain import relations
    from zg_etl_spark.plans.llm import _L36_SEQ_LEN

    relations(spark, sf_dir, ["documents"])
    docs = sorted(
        spark.sql("SELECT doc_id, source, text FROM documents").collect(),
        key=lambda r: r.doc_id,
    )
    cursors = defaultdict(int)
    expected = {}
    for r in docs:
        n = len(r.text.split())
        start = cursors[r.source]
        cursors[r.source] = start + n
        expected[r.doc_id] = (
            r.source, n, start // _L36_SEQ_LEN, start % _L36_SEQ_LEN,
            1 if (start + n - 1) // _L36_SEQ_LEN > start // _L36_SEQ_LEN else 0,
        )
    got = {
        r.doc_id: (r.source, r.n_tokens, r.bin_id, r.bin_offset,
                   r.spans_boundary)
        for r in ALL["l36_sequence_packing"](spark, sf_dir).collect()
    }
    assert got == expected
    # packing actually packs: some bin holds more than one doc, and some
    # doc spans a cut (both guaranteed at every SF by doc-length << 2048)
    from collections import Counter
    per_bin = Counter((v[0], v[2]) for v in expected.values())
    assert max(per_bin.values()) > 1


# ---------------------------------------------------------------------------
# P45 device classification: a direct Python transcription of
# DevicePropertyParser.java:88-330 (parse → standardizeBrand →
# standardizeModel → determineCategory → determinePriceRange →
# is5GSupported/isFoldableDevice on the RAW model → extractReleaseYear),
# sharing no SQL with the engine formulation. The contains-scan walks
# the reference's ACTUAL BRAND_MAPPING.entrySet() iteration order
# (HashMap order — stable on OpenJDK for this fixed insertion sequence
# but NOT spec-guaranteed; captured empirically from the reference
# class run on this JDK and pinned by the refkw fixture's mode-'dp'
# collision cells, e.g. 'huawei honor' → Honor because 'honor' scans
# before 'huawei' — a JDK order change fails the fixture and forces
# re-capture).
# ---------------------------------------------------------------------------
def _p45_port():
    """Module-level so the JVM-fixture test (mode 'dp') can pin the same
    port cell-for-cell against the reference class run on this JDK."""
    import re

    BRANDS = {
        "huawei": "Huawei", "honor": "Honor", "荣耀": "Honor",
        "xiaomi": "Xiaomi", "mi": "Xiaomi", "redmi": "Redmi",
        "红米": "Redmi", "oppo": "OPPO", "realme": "Realme",
        "oneplus": "OnePlus", "vivo": "Vivo", "iqoo": "iQOO",
        "apple": "Apple", "iphone": "Apple", "samsung": "Samsung",
        "meizu": "Meizu", "魅族": "Meizu", "lenovo": "Lenovo",
        "联想": "Lenovo", "zte": "ZTE", "中兴": "ZTE",
        "nubia": "Nubia", "努比亚": "Nubia", "黑鲨": "BlackShark",
        "黑莓": "BlackBerry",
    }
    FLAGSHIP = ["PRO", "ULTRA", "MAX", "PLUS", "MATE", "FIND", "X",
                "PRO+", "GT", "ACE", "旗舰", "折叠"]
    FOLDABLE = ["FOLD", "FLIP", "MIX FOLD", "MATE X", "折叠"]

    from zg_etl_spark.plans.pipeline import _BRAND_SCAN_ORDER

    def std_brand(brand):
        lower = brand.lower().strip()
        if lower in BRANDS:
            return BRANDS[lower]
        for k in _BRAND_SCAN_ORDER:
            if k in lower:
                return BRANDS[k]
        return brand[:1].upper() + brand[1:].lower()

    def std_model(model):
        if not model:
            return ""
        cleaned = re.sub(r"\s+", " ", model.strip())
        return re.sub(r"[^a-zA-Z0-9\s+\-]", "", cleaned)

    def category(brand, model):
        if not model:
            return "UNKNOWN"
        u = model.upper()
        if any(k.upper() in u for k in FOLDABLE):
            return "Foldable"
        if any(k.upper() in u for k in FLAGSHIP):
            return "Flagship"
        if brand == "Apple":
            if "PRO" in u or "MAX" in u:
                return "Flagship"
            if "SE" in u:
                return "Entry-level"
            return "Mid-range"
        if brand == "Redmi":
            return "Mid-range" if ("K" in u or "NOTE" in u) else "Entry-level"
        return "Mid-range"

    def price(brand, cat):
        if cat in ("Foldable", "Flagship"):
            return "Premium"
        if cat == "Entry-level":
            return "Budget"
        if brand == "Apple":
            return "Premium"
        if brand in ("Redmi", "Realme"):
            return "Budget"
        return "Mid"

    def parse(brand, model):
        if brand is None or not brand.strip():
            return ("UNKNOWN", "", "UNKNOWN", "UNKNOWN", 0, 0, None)
        sb = std_brand(brand)
        sm = std_model(model)
        cat = category(sb, sm)
        pr = price(sb, cat)
        is5g = int(bool(model and re.search(r"5G|5g|全网通", model, re.I)))
        fold = int(bool(model and any(
            k.upper() in model.upper() for k in FOLDABLE)))
        m = re.search(r"(20[12]\d)", sm) if re.match(r".*20[12]\d.*", sm) else None
        year = m.group(1) if m else ""
        return (sb, sm, cat, pr, is5g, fold, year)

    return parse


py_device_parse = _p45_port()


def test_device_classify_matches_python_parser(spark, sf_dir):
    parse = py_device_parse
    rows = ALL["p45_device_classify"](spark, sf_dir).collect()
    assert len(rows) == 18
    for r in rows:
        exp = parse(r.brand, r.model)
        got = (r.std_brand, r.std_model, r.category, r.price_range,
               r.is_5g, r.is_foldable, r.release_year)
        assert got == exp, f"cid={r.cid}: {got} != {exp}"


# ---------------------------------------------------------------------------
# P46 dimension mappings: a direct Python transcription of Dims.java
# (getDimId over resources/dim.json, net/netIOS/MNet.getNetworkClass,
# carrier, phone, sdkv validity/compare/value, newSessionId, timestamp,
# birthday) — no SQL shared with the engine formulation.
# ---------------------------------------------------------------------------
def test_dims_mapping_matches_python_transcription(spark, sf_dir):
    import re

    GENDER = {"n": 0, "none": 0, "未知": 0,
              "m": 1, "male": 1, "男": 1,
              "f": 2, "female": 2, "女": 2}
    SDK = {"none": 0, "and": 1, "ios": 2, "js": 3, "wxa": 4,
           "server": 5, "harmonyos": 6}
    MNET_2G, MNET_3G = {1, 2, 4, 7, 11}, {3, 5, 6, 8, 9, 10, 12, 14, 15}

    def network_class(mnet):
        if mnet in MNET_2G:
            return 1
        if mnet in MNET_3G:
            return 2
        return 3 if mnet == 13 else 0

    def net_android(net, mnet):
        if net == 1:
            return 4
        return network_class(mnet) if net == 0 else 0

    def net_ios(net, radio):
        if net == 1:
            m = (radio or "").strip().upper()
            if m in ("", "GPRS", "CDMA1X", "EDGE"):
                return 1
            if m in ("HSDPA", "HSUPA", "WCDMA", "EHRPD") or m.startswith("CDMAEVDO"):
                return 2
            return 3 if m == "LTE" else 1
        return 4 if net == 4 else 0

    def net(sdk_id, n, mnet, radio):
        if sdk_id == 1:
            return net_android(n, mnet)
        return net_ios(n, radio) if sdk_id == 3 else 0

    def carrier(s):
        return int(s) if s is not None and re.fullmatch(r"\d{6}", s) else 0

    def phone(s):
        if s is None:
            return None
        if len(s) > 11:
            s = s[-11:]
        return s if re.fullmatch(r"\d+", s) else None

    def sdkv_valid(v):
        return int(v is not None and bool(re.match(r"^v(\d+\.)*\d+$", v)))

    def compare_version(v1, v2):
        a = v1.replace("v", "").split(".")
        b = v2.replace("v", "").split(".")
        for i, p in enumerate(a):
            if len(b) < i + 1:
                return 1
            if int(p) != int(b[i]):
                return 1 if int(p) > int(b[i]) else -1
        return 0

    def sdkv_num(v):
        if v is None or len(v) == 1:
            return 0.0
        try:
            return float(v[1:])
        except ValueError:
            return 0.0

    rows = ALL["p46_dims_mapping"](spark, sf_dir).collect()
    assert len(rows) == 24
    for r in rows:
        assert r.sdk_id == SDK.get(r.sdk_code.lower(), 0), r
        assert r.net_class == net(r.sdk_id, r.net_in, r.mnet_in, r.radio_in), r
        assert r.carrier == carrier(r.cr_in), r
        assert r.phone == phone(r.phone_in), r
        assert r.gender_id == GENDER.get((r.gender_in or "~").lower(), 0), r
        exp_flag = {"1": 1, "0": 2}.get(r.flag_in or "~", 0)
        assert r.jail_id == exp_flag and r.pirate_id == exp_flag, r
        assert r.sdkv_valid == sdkv_valid(r.sdkv_in), r
        exp_cmp = (compare_version(r.sdkv_in, "v1.6.0")
                   if r.sdkv_valid else None)
        assert r.sdkv_cmp == exp_cmp, r
        assert r.sdkv_num == sdkv_num(r.sdkv_in), r
        assert r.session_id == f"sess{r.cid}-" + str(
            (2000000123 + r.cid if r.cid % 3 == 0 else r.cid * 97 + 5)
            % 1000000000).zfill(9), r
        exp_ts = (1700000000000 + r.cid if r.sdk_id == 3
                  else 1700000100000 + r.cid)
        assert r.ts_used == exp_ts, r
        if r.cid % 2 == 0:
            assert r.bday == f"199{r.cid % 10}0506", r
        else:
            assert r.bday is None, r


# ---------------------------------------------------------------------------
# P47 adv CDC click routing: a direct Python transcription of
# AdvProcessFunction.java:34-215 (jsonToToufangConvertEventRow +
# jsonToAdClickRowData with the two key-shape branches and the corrected
# muid-key priority chain), applied to the same 12 wire payloads the
# query synthesizes — no SQL shared with the engine formulation.
# ---------------------------------------------------------------------------
def test_adv_cdc_route_matches_python_router(spark, sf_dir):
    import json

    def java_split_colon(s):
        # Java String.split drops trailing empty segments
        parts = s.split(":")
        while parts and parts[-1] == "":
            parts.pop()
        return parts if parts else [""]

    def blank(v):
        return " " if (v is None or v == "") else v

    def route(payload):
        obj = json.loads(payload)
        tbl = obj.get("tableName")
        data = obj.get("data", {})
        if tbl == "toufang_convert_event":
            return {"lane": "convert",
                    "conv_event_name": data.get("event_name"),
                    "conv_zg_eid": data.get("zg_eid"),
                    "conv_frequency": data.get("frequency"),
                    "conv_utm_source": data.get("utm_source")}
        if tbl != "toufang_ad_click":
            return {"lane": "dropped"}
        if "value_ad_data" in data:
            split = java_split_colon(data.get("key_ad_data", ""))
            return {"lane": "appid_zgid",
                    "zg_appid_s": split[1] if len(split) > 1 else " ",
                    "zgid_s": split[2] if len(split) > 2 else " ",
                    "click_time_s": split[3] if len(split) > 3 else " ",
                    "key_ip_data": " ", "key_muid_data": " ",
                    "key_ad_data": blank(data.get("key_ad_data")),
                    "other_key": blank(data.get("other_key")),
                    "is_delete": " ",
                    "key_ad_time": blank(data.get("key_ad_time")),
                    "value_ad_time": blank(data.get("value_ad_time")),
                    "key_ad_lid": blank(data.get("key_ad_lid")),
                    "value_ad_lid": blank(data.get("value_ad_lid")),
                    "lid": blank(data["value_ad_data"].get("lid")),
                    "has_ad_data": 0}
        if "ip_ua_key" in data:
            ct = blank(data.get("click_time"))
            muid = " "
            for k in ("channel_click_id_key", "muid_key", "idfa_key",
                      "imei_key", "android_id_key", "oaid_key"):
                if data.get(k):
                    muid = data[k]
                    break
            return {"lane": "appid_muid_or_ip",
                    "zg_appid_s": blank(data.get("zg_appid")),
                    "zgid_s": " ",
                    "click_time_s": ct,
                    "key_ip_data": blank(data.get("ip_ua_key")) + ":" + ct,
                    "key_muid_data": muid + ":" + ct,
                    "key_ad_data": " ",
                    "other_key": blank(data.get("other_key")),
                    "is_delete": blank(data.get("is_delete")),
                    "key_ad_time": " ", "value_ad_time": " ",
                    "key_ad_lid": " ", "value_ad_lid": " ",
                    "lid": blank(data.get("lid")),
                    "has_ad_data": 1}
        return {"lane": "dropped"}

    # The same 12 payload shapes the query builds (cid 0's zg_appid varies
    # per row but is not an output column; any representative works).
    payloads = {
        0: ('{"tableName":"toufang_convert_event","data":{"zg_appid":100,'
            '"zg_id":9001,"lid":7,"channel_id":3,"zg_eid":55,'
            '"event_time":1700000001000,"channel_adgroup_id":"ag1",'
            '"channel_adgroup_name":"n1","click_time":1699999000000,'
            '"event_name":"buy","channel_event":"purchase",'
            '"match_json":"","frequency":1,"utm_campaign":"c",'
            '"utm_source":"s","utm_medium":"m","utm_term":"t",'
            '"utm_content":"cc"}}'),
        1: ('{"tableName":"toufang_ad_click","data":{"key_ad_data":'
            '"adtfdata:101:9001:1699990000000","key_ad_time":"1699990000000",'
            '"value_ad_time":"1699990011111","value_ad_data":{"lid":"42"},'
            '"key_ad_lid":"42","value_ad_lid":"43","other_key":"ok1"}}'),
        2: ('{"tableName":"toufang_ad_click","data":{"key_ad_data":'
            '"adtfdata:202","value_ad_data":{"lid":""}}}'),
        3: ('{"tableName":"toufang_ad_click","data":{"key_ad_data":"",'
            '"value_ad_data":{"lid":"5"},"key_ad_lid":"","other_key":"ok3"}}'),
        4: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":'
            '"1.2.3.4|chrome:99","click_time":"1699991111111",'
            '"channel_click_id_key":"adtfad:101:cck9","muid_key":'
            '"adtfad:101:m4","zg_appid":"101","lid":"7","is_delete":"0",'
            '"other_key":"okB"}}'),
        5: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":'
            '"5.6.7.8|safari:17","click_time":"1699992222222",'
            '"channel_click_id_key":"","muid_key":"adtfad:102:m5",'
            '"zg_appid":"102","lid":"8"}}'),
        6: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":'
            '"9.9.9.9|edge:120","click_time":"1699993333333",'
            '"idfa_key":"adtfad:103:idfa6","zg_appid":"103"}}'),
        7: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":'
            '"8.8.8.8|firefox:121","click_time":"1699994444444",'
            '"imei_key":"adtfad:104:imei7","zg_appid":"104",'
            '"is_delete":"1"}}'),
        8: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":'
            '"7.7.7.7|opera:105","click_time":"1699995555555",'
            '"android_id_key":"adtfad:105:aid8","zg_appid":"105"}}'),
        9: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":'
            '"6.6.6.6|uc:13","click_time":"1699996666666",'
            '"oaid_key":"adtfad:106:oaid9","zg_appid":"106","lid":"9"}}'),
        10: ('{"tableName":"toufang_ad_click","data":{"ip_ua_key":"",'
             '"click_time":"","zg_appid":""}}'),
        11: ('{"tableName":"toufang_ad_click","data":{"other_key":'
             '"neither"}}'),
    }

    rows = {r.cid: r for r in ALL["p47_adv_cdc_route"](spark, sf_dir).collect()}
    assert rows, "no p47 rows"
    for cid, r in rows.items():
        exp = route(payloads[cid])
        assert r.lane == exp["lane"], (cid, r.lane, exp["lane"])
        for field, want in exp.items():
            if field == "lane":
                continue
            assert getattr(r, field) == want, (cid, field, getattr(r, field), want)


# ---------------------------------------------------------------------------
# P48 adv click-store key build: a direct Python transcription of
# AdvSaveAppAdDataFlatMapFunction.java:199-444 (setIpUaMaps envelope +
# setMuidProcess normalization + the Baidu-iPhone ua downgrade +
# ToolUtil.uaAnalysis) — hashlib.md5 and Python re, no SQL shared with
# the engine formulation.
# ---------------------------------------------------------------------------
def test_adv_click_keys_match_python_builder(spark, sf_dir):
    import hashlib
    import re

    ORIGIN_EX = {"", "0", "NULL", "null", "(null)"}
    MD5_EX = {"cfcd208495d565ef66e7dff9f98764da",
              "6c3e226b4d4795d518ab341b0824ec29",
              "37a6259cc0c1dae299a7866489dff0bd",
              "d41d8cd98f00b204e9800998ecf8427e",
              "a4d2f177eb466a7d08f8f2b340b77129"}

    def ua_analysis(ua):
        clean = r"[^a-zA-Z0-9 ]"
        if "Android" in ua:
            m = re.search(r"linux;.*(android).([\w.,/\-]+)", ua, re.I)
        else:
            m = re.search(r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)",
                          ua, re.I)
        name, version = "", ""
        if m:
            name = m.group(1)
            if m.group(2) is not None:
                version = re.sub(clean, ".", m.group(2))
        return name + ":" + version

    def norm(v):
        if v in ORIGIN_EX or v in MD5_EX:
            return ""
        out = v if len(v) == 32 else hashlib.md5(v.encode()).hexdigest()
        return out.lower()

    UA_AND = "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36"
    UA_IPH = ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) "
              "AppleWebKit/605.1.15")
    CASES = {  # cid: (channel, push, cck, muid, aid, oaid, idfa, imei, ip, ua)
        0: ("2", "10", "", "device0", "aid0", "oaid0", "IDFA0", "imei0",
            "1.2.3.4", UA_AND),
        1: ("3", "20", "cck-abc", "m1", "", "", "", "", "2.3.4.5", UA_AND),
        2: ("3", "10", "cck-xyz", "ABCDEF0123456789ABCDEF0123456789", "",
            "", "", "", "3.4.5.6", UA_AND),
        3: ("3", "20", "", "", "", "oa3", "", "", "4.5.6.7", UA_AND),
        4: ("1", "10", "", "m4", "", "", "0", "", "5.6.7.8", UA_IPH),
        5: ("4", "10", "", "", "", "", "", "IM5", "", UA_IPH),
        6: ("1", "10", "", "m6", "NULL", "(null)", "", "", "6.7.8.9", UA_AND),
        7: ("2", "10", "", "0", "null", "NULL", "", "", "7.8.9.1", UA_AND),
        8: None,  # lid == 0 -> nothing
        9: ("2", "10", "", "", "", "", "",
            "CFCD208495D565EF66E7DFF9F98764DA", "1.1.1.1", UA_AND),
        10: ("4", "10", "", "m10", "", "", "", "", "9.9.9.9", "iPhone weird"),
        11: ("2", "10", "", "m11", "", "", "", "", "2.2.2.2", UA_AND),
        12: ("3", "20", "cck-12", "", "", "", "", "", "", UA_AND),
        13: ("2", "10", "", "", "",
             "0123456789abcdef0123456789abcdef",
             "d41d8cd98f00b204e9800998ecf8427e", "", "3.3.3.3", UA_AND),
        14: ("1", "10", "", "", "", "", "ID14", "im14", "4.4.4.4", UA_AND),
        15: ("2", "10", "", "", "", "", "", "", "5.5.5.5", UA_AND),
    }

    def build(cid):
        if CASES[cid] is None:
            return {"lane": "skipped_lid0", "cck_key": None, "muid_key": None,
                    "idfa_key": None, "imei_key": None,
                    "android_id_key": None, "oaid_key": None,
                    "ip_ua_key": None}
        ch, push, cck, muid, aid, oaid, idfa, imei, ip, ua = CASES[cid]
        app = str(100 + cid % 3)
        ua_proc = ua_analysis(ua)
        if ch in ("1", "4") and "iPhone" in ua:
            arr = [p for p in ua_proc.split(":")]
            while arr and arr[-1] == "":  # Java trailing-empty drop
                arr.pop()
            if len(arr) > 0:
                ua_proc = ":" + arr[1]
        out = {"cck_key": None, "muid_key": None, "idfa_key": None,
               "imei_key": None, "android_id_key": None, "oaid_key": None}
        if ch == "3" and push == "20" and cck:
            out["lane"] = "tencent_web"
            out["cck_key"] = f"adtfad:{app}:{cck}"
        else:
            out["lane"] = "multi"
            for field, raw in (("muid_key", muid), ("android_id_key", aid),
                               ("oaid_key", oaid), ("idfa_key", idfa),
                               ("imei_key", imei)):
                nv = norm(raw)
                if nv:
                    out[field] = f"adtfad:{app}:{nv}"
        out["ip_ua_key"] = f"adtfad:{app}:{ip}{ua_proc}" if ip else None
        return out

    rows = {r.cid: r for r in
            ALL["p48_adv_click_keys"](spark, sf_dir).collect()}
    assert len(rows) == 16
    for cid, r in rows.items():
        exp = build(cid)
        for field, want in exp.items():
            assert getattr(r, field) == want, (cid, field,
                                               getattr(r, field), want)
        if CASES[cid] is None:
            assert r.store_max_ct is None
        else:
            assert r.store_max_ct is not None and r.n_clicks > 0


# ---------------------------------------------------------------------------
# P49 deep-conversion multi-event gate: a sequential simulation of the
# reference's actual execution model — per-(app, zgid) latest-touch Redis
# lookup, then the GLOBAL (per app-scoped eid:lid) TTL'd status keys of
# AdvConvertEventFlatMapFunction.java:247-275, where each qualifying
# event refreshes its own key BEFORE the all-members-alive check — with
# no SQL shared with the engine's forward-fill formulation.
# ---------------------------------------------------------------------------
def test_deep_convert_matches_sequential_simulation(spark, sf_dir):
    RULES = {  # (lid, event): (window_sec, channel_event)
        (1, "purchase"): (86400, "ch_purchase"),
        (1, "click"): (43200, "ch_click"),
        (3, "purchase"): (14400, "chd_purchase"),
        (3, "click"): (28800, "chd_click"),
        (2, "click"): (86400, "ch_click_solo"),
    }
    GROUP = {1: ("purchase", "click"), 3: ("purchase", "click"),
             2: ("click",)}
    APPS = set(R.ADVERTISING_APPS)

    rows = _rows(spark, sf_dir, """
        SELECT app_id, zg_id, ct, seq, event_name, dt, k
        FROM resolved
        WHERE (dt = 'evt' OR (dt = 'mkt' AND k IS NOT NULL))""")
    # Kafka arrival order ≈ global ct order (the status keys are shared
    # across zgids, so the timeline must NOT be zgid-major); touches
    # sort before events at the same ct, as in the attribution window.
    stream = sorted((r for r in rows if r.app_id in APPS),
                    key=lambda r: (r.app_id, r.ct,
                                   -(r.dt == "mkt"), r.seq))

    latest_touch = {}   # (app, zgid) -> (ct, k)
    key_expiry = {}     # (app, event, lid) -> alive-until ms
    agg = defaultdict(lambda: [0, 0, 0, 0, 0, 0, []])
    # [cand, sent, blocked, sum_ados, n_muid, n_cb, action_times]

    for r in stream:
        if r.dt == "mkt":
            cur = latest_touch.get((r.app_id, r.zg_id))
            if cur is None or r.ct >= cur[0]:
                latest_touch[(r.app_id, r.zg_id)] = (r.ct, r.k)
            continue
        touch = latest_touch.get((r.app_id, r.zg_id))
        if touch is None:
            continue
        t_ct, t_k = touch
        lid = t_k % 5
        rule = RULES.get((lid, r.event_name))
        if rule is None:
            continue
        window, channel_event = rule
        if r.ct - t_ct > window * 1000:
            continue
        a = agg[(r.app_id, lid, r.event_name, channel_event)]
        a[0] += 1
        members = GROUP[lid]
        if len(members) > 1:
            # own key set (TTL = own rule's window) BEFORE the check
            key_expiry[(r.app_id, r.event_name, lid)] = (
                r.ct + window * 1000)
            sent = all(
                key_expiry.get((r.app_id, m, lid), -1) >= r.ct
                for m in members)
        else:
            sent = True
        if not sent:
            a[2] += 1
            continue
        a[1] += 1
        a[3] += t_k % 3
        if t_k % 2 == 0:
            a[4] += 1
        if t_k % 3 == 0:
            a[5] += 1
        a[6].append(str(r.ct))

    got = {(r.app_id, r.lid, r.event_name, r.event_type): r
           for r in ALL["p49_adv_deep_convert"](spark, sf_dir).collect()}
    assert set(got) == set(agg)
    assert any(v[1] > 0 for v in agg.values())   # some sends
    assert any(v[2] > 0 for v in agg.values())   # some blocks
    for key, a in agg.items():
        r = got[key]
        assert (r.n_candidates, r.n_sent, r.n_blocked) == (
            a[0], a[1], a[2]), (key, r, a)
        assert r.sum_ados == (a[3] if a[1] else None), key
        assert (r.n_muid_set, r.n_cb_url_set) == (a[4], a[5]), key
        if a[6]:
            assert r.min_action_time == min(a[6]), key
            assert r.max_action_time == max(a[6]), key


# ---------------------------------------------------------------------------
# P50 userProp match_json gates: a Python port of OperatorUtil.java's
# compareProValue userProp category — per-user state rebuilt row-by-row
# from the resolved relation (visit counts, duration sums, cuid-derived
# 实名/匿名, latest-write property values) and the typed compares
# re-implemented without the SQL compiler.
# ---------------------------------------------------------------------------
def test_userprop_gates_match_python_port(spark, sf_dir):
    APPS = set(R.ADVERTISING_APPS)

    evt = [r for r in _rows(spark, sf_dir,
                            "SELECT app_id, zg_id, cuid, dur FROM resolved "
                            "WHERE dt = 'evt'") if r.app_id in APPS]
    props = [r for r in _rows(spark, sf_dir,
                              "SELECT app_id, zg_id, seq, prop_name, "
                              "prop_value FROM usr_props_melted")
             if r.app_id in APPS]

    state = {}
    for r in evt:
        s = state.setdefault((r.app_id, r.zg_id),
                             {"visits": 0, "dur": 0, "named": False})
        s["visits"] += 1
        s["dur"] += r.dur or 0
        if r.cuid is not None:
            s["named"] = True
    latest = {}
    for r in props:
        key = (r.app_id, r.zg_id, r.prop_name)
        if key not in latest or r.seq >= latest[key][0]:
            latest[key] = (r.seq, r.prop_value)

    def lookup(app, zgid, rule):
        if rule == "plname":
            hit = latest.get((app, zgid, "_plname"))
            return hit[1] if hit else None
        if rule == "noprop":
            hit = latest.get((app, zgid, "_nosuch"))
            return hit[1] if hit else None
        s = state[(app, zgid)]
        if rule == "visits":
            return str(s["visits"])
        if rule == "dur":
            return str(s["dur"])
        return "实名" if s["named"] else "匿名"

    def gate(value, op, target, numeric):
        # compareProValue: empty lookup -> false before any compare
        if value is None or value == "":
            return False
        if op == "is null":
            return False  # non-empty value is never null here
        if numeric:
            try:
                a, b = int(value), int(target)
            except ValueError:
                return False
            return {"gt": a > b, "le": a <= b}[op]
        if op == "equal":
            return value == target
        if op == "contains":
            return target in value
        raise AssertionError(op)

    RULES = [
        ("plname_eq_ios", "plname", "equal", "ios", False),
        ("plname_contains_o", "plname", "contains", "o", False),
        ("visits_gt_20", "visits", "gt", "20", True),
        ("duration_le_1g", "dur", "le", "1000000000", True),
        ("anon_eq_realname", "anon", "equal", "实名", False),
        ("missing_prop_isnull", "noprop", "is null", "", False),
    ]
    exp = {f"u_{rid}": 0 for rid, *_ in RULES}
    exp.update({f"e_{rid}": 0 for rid, *_ in RULES})
    for (app, zgid), s in state.items():
        for rid, src, op, target, numeric in RULES:
            if gate(lookup(app, zgid, src), op, target, numeric):
                exp[f"u_{rid}"] += 1
                exp[f"e_{rid}"] += s["visits"]

    r = ALL["p50_match_json_userprop"](spark, sf_dir).collect()[0]
    assert r.n_users == len(state)
    assert r.n_events == sum(s["visits"] for s in state.values())
    for k, want in exp.items():
        assert getattr(r, k) == want, (k, getattr(r, k), want)
    assert 0 < r.u_anon_eq_realname < r.n_users  # both states present


# ---------------------------------------------------------------------------
# P51 web landing-URL ad lane: a Python port of processWebAndAppleASA
# (AdvLidAndUserFirstEndFlatMapFunction.java:755-925) with REAL
# URLDecoder semantics (urllib.parse.unquote_plus) + Java split
# behavior, and datetime-library dateUsStrToTimestamp — validating the
# SQL's closed-alphabet percent-decode against full decoding on the
# same fixtures.
# ---------------------------------------------------------------------------
def test_web_ad_lane_matches_python_port(spark, sf_dir):
    from datetime import datetime, timezone
    from urllib.parse import unquote_plus

    def url_parse_to_map(url):
        decoded = unquote_plus(url)
        fields = [f for f in decoded.split("?")]
        if len(fields) < 2 or "?" not in decoded:
            return {}
        out = {}
        for pair in fields[1].split("&"):
            if "=" not in pair:
                continue
            arr = [p for p in pair.split("=")]
            while arr and arr[-1] == "":
                arr.pop()  # Java split trailing-empty drop
            key = arr[0] if arr else pair.rstrip("=")
            val = arr[1] if len(arr) > 1 else ""
            out[key] = val
        return out

    def date_us(s):
        if not s or not s.strip():
            return 0
        try:
            fmt = ("%Y-%m-%dT%H:%M:%SZ" if len(s) > 17 else "%Y-%m-%dT%H:%MZ")
            dt = datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError:
            return 0

    WEB = {
        0: "https://x.cn/l?lid=11&lname=bdsearch&channel_type=4&baidu_token=tokX&utm_source=bd",
        1: "https://x.cn/l?lid=12&lname=a%26b&channel_type=1",
        2: "https://x.cn/l?lid=13&lname=&channel_type=2",
        3: "https://x.cn/l?valid=1&channel_type=2",
        4: "https://x.cn/l?lid=15&channel_type=3&qz_gdt=QZ15&gdt_vid=GV15",
        5: "https://x.cn/l?lid=16&channel_type=3&gdt_vid=GV16",
    }
    APPLE = {
        6: {"adId": 0, "creativeSetId": 55, "clickDate": "2023-01-04T08:11:23Z"},
        7: {"adId": 77, "clickDate": "2023-01-04T08:11Z"},
        8: {"adId": 9, "clickDate": "not-a-date"},
    }

    def port(cid):
        if cid in APPLE:
            j = APPLE[cid]
            ad_id = j["adId"] if j["adId"] else j.get("creativeSetId", 0)
            override = date_us(j["clickDate"]) > 0
            return ("touch", "-2", "苹果ASA", "", str(ad_id), None, override)
        web = WEB.get(cid, "")
        if "lid" not in web:
            return ("no_ad", None, None, None, None, None, False)
        admap = url_parse_to_map(web)
        if not admap:
            return ("no_ad", None, None, None, None, None, False)
        ch = int(admap["channel_type"])
        if ch == 3:
            probe = admap.get("qz_gdt", admap.get("gdt_vid"))
            if probe is not None:
                return ("tencent_probe", None, None, None, None, probe, False)
            return ("no_ad", None, None, None, None, None, False)
        if "lid" not in admap:
            return ("parsed_no_lid", None, None, None, None, None, False)
        return ("touch", admap["lid"], admap.get("lname"),
                admap.get("baidu_token", ""), None, None, False)

    rows = {r.cid: r for r in
            ALL["p51_web_ad_lane"](spark, sf_dir).collect()}
    assert len(rows) == 10
    for cid, r in rows.items():
        lane, lid, lname, token, ad_id, probe, override = port(cid)
        assert r.lane == lane, (cid, r.lane, lane)
        assert r.lid == lid, (cid, r.lid, lid)
        assert r.lname == lname, (cid, r.lname, lname)
        if cid == 0:
            assert r.token and r.token.startswith("tok")  # varies per row
        else:
            assert r.token == token, (cid, r.token, token)
        assert r.channel_ad_id == ad_id, (cid, r.channel_ad_id, ad_id)
        if probe is not None:
            assert r.probe_key.endswith(":" + probe), (cid, r.probe_key)
        else:
            assert r.probe_key is None, cid
        assert bool(r.ct_overridden) == override, cid
        if cid in APPLE and override:
            exp_ct = date_us(APPLE[cid]["clickDate"])
            assert r.store_max_ct == exp_ct, (cid, r.store_max_ct, exp_ct)


# ---------------------------------------------------------------------------
# P52 app-ss probe priority: a Python transcription of processAppSS
# (AdvLidAndUserFirstEndFlatMapFunction.java:1044-1245) — per-OS exact
# priority with the presence short-circuit, fuzzy fallback, the iOS
# newer-of-two-fuzzy max — recomputing every tier from the same resolved
# rows via hashlib/regex, no SQL shared.
# ---------------------------------------------------------------------------
def test_ss_priority_matches_python_port(spark, sf_dir):
    import hashlib
    import re

    from zg_etl_spark.operators.domain import SPARK, ua_real_case

    from types import SimpleNamespace

    from zg_etl_spark.plans.pipeline import P52_FIXTURES

    APPS = set(R.ADVERTISING_APPS)
    rows = [r for r in _rows(spark, sf_dir, f"""
        SELECT app_id, dt, user_id, ip, k, ct, seq, zg_id, pl, ua_real
        FROM (SELECT r.*, {ua_real_case(SPARK, 'r.')} AS ua_real
              FROM resolved r) t
        WHERE dt IN ('mkt', 'ss')""") if r.app_id in APPS]
    # the constant fixture stream the engine UNIONs into `keyed` — same
    # input rows, replayed through this port's own tier logic
    rows += [SimpleNamespace(app_id=a, dt=dt, user_id=u, ip=ip, k=k, ct=ct,
                             seq=seq, zg_id=z, pl=pl, ua_real=ua)
             for (a, dt, u, ip, k, ct, seq, z, pl, ua) in P52_FIXTURES]

    def ua_analysis(ua):
        if ua is None:
            return "", ""
        if "Android" in ua:
            m = re.search(r"linux;.*(android).([\w.,/\-]+)", ua, re.I)
        else:
            m = re.search(r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)",
                          ua, re.I)
        if not m:
            return "", ""
        ver = m.group(2) or ""
        return m.group(1), re.sub(r"[^a-zA-Z0-9 ]", ".", ver)

    def kid(prefix, src, mod):
        return hashlib.md5(f"{prefix}_{src % mod}".encode()).hexdigest()

    stores = {"ex": {}, "fz": {}}  # one exact namespace, like the store

    def put(store, app, key, lid, ct, seq):
        cur = stores[store].get((app, key))
        if cur is None or (ct, seq) > (cur[1], cur[2]):
            stores[store][(app, key)] = (lid, ct, seq)

    def click_proc(r, name, ver):
        # setIpUaMaps: ONE fuzzy key per click, downgraded to ':ver'
        # for Baidu channels 1/4 iPhone clicks (channel = 1 + k % 7)
        if (1 + r.k % 7) in (1, 4) and "iPhone" in (r.ua_real or "") \
                and ver:
            return ":" + ver
        return name + ":" + ver

    probes = []
    for r in rows:
        name, ver = ua_analysis(r.ua_real)
        if r.dt == "mkt" and r.k is not None:
            lid = r.k % 5
            if r.k % 3 == 0:
                put("ex", r.app_id, kid("idfa", r.k, 23), lid, r.ct, r.seq)
            if r.k % 4 == 0:
                put("ex", r.app_id, kid("oaid", r.k, 19), lid, r.ct, r.seq)
            if r.k % 5 == 0:
                put("ex", r.app_id, kid("aid", r.k, 17), lid, r.ct, r.seq)
            if r.k % 2 == 0:
                put("ex", r.app_id, kid("imei", r.k, 13), lid, r.ct, r.seq)
            if r.ip:  # setIpUaMaps write gated on isNotEmpty(ip)
                put("fz", r.app_id, (r.ip, click_proc(r, name, ver)),
                    lid, r.ct, r.seq)
        elif r.dt == "ss":
            probes.append((r, name, ver))

    from collections import Counter
    exp = Counter()
    for r, name, ver in probes:
        is_ios = r.pl == "ios"
        tier, lid = "none", None
        if is_ios:
            if r.user_id % 3 != 1:
                hit = stores["ex"].get((r.app_id, kid("idfa", r.user_id, 29)))
                if hit:
                    tier, lid = "exact_idfa", hit[0]
        else:
            for st, mod, gate, field in (("oaid", 23, 4, "exact_oaid"),
                                         ("aid", 21, 5, "exact_aid"),
                                         ("imei", 15, 2, "exact_imei")):
                if r.user_id % gate == 1:
                    continue
                hit = stores["ex"].get((r.app_id, kid(st, r.user_id, mod)))
                if hit:
                    tier, lid = field, hit[0]
                    break
        if tier == "none":
            u = stores["fz"].get((r.app_id, (r.ip, name + ":" + ver)))
            v = (stores["fz"].get((r.app_id, (r.ip, ":" + ver)))
                 if is_ios and ver else None)
            if v and (u is None or v[1] > u[1]):
                tier, lid = "ipver", v[0]
            elif u:
                tier, lid = "ipua", u[0]
        exp[(tier, lid)] += 1

    got = {(r.match_tier, r.lid): r.n_sessions
           for r in ALL["p52_adv_ss_priority"](spark, sf_dir).collect()}
    assert got == dict(exp), (got, dict(exp))
    # the fixture stream guarantees each of these tiers at EVERY SF
    assert sum(n for (t, _), n in exp.items()
               if t.startswith("exact_")) >= 1
    assert sum(n for (t, _), n in exp.items() if t == "ipua") >= 1
    assert sum(n for (t, _), n in exp.items() if t == "ipver") >= 1


# ---------------------------------------------------------------------------
# P42 click→device matching cascade: a Python transcription of
# setAppIpUaKeys/processDeviceId (AdvLidAndUserFirstEndFlatMapFunction
# .java:1247-1358) — exact-key store then ip+ua then iOS ip+version,
# first hit wins — recomputing every tier from the same resolved rows
# (hashlib md5, Python re), no SQL shared with the engine formulation.
# ---------------------------------------------------------------------------
def test_click_match_cascade_matches_python_port(spark, sf_dir):
    import hashlib
    import re

    from zg_etl_spark.operators.domain import SPARK, ua_real_case

    APPS = set(R.ADVERTISING_APPS)
    rows = [r for r in _rows(spark, sf_dir, f"""
        SELECT app_id, dt, did, ip, k, ct, seq, zg_id, pl, ua_real
        FROM (SELECT r.*, {ua_real_case(SPARK, 'r.')} AS ua_real
              FROM resolved r) t
        WHERE dt IN ('mkt', 'ss')""") if r.app_id in APPS]

    def ua_analysis(ua):
        if ua is None:
            return "", ""
        if "Android" in ua:
            m = re.search(r"linux;.*(android).([\w.,/\-]+)", ua, re.I)
        else:
            m = re.search(r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)",
                          ua, re.I)
        if not m:
            return "", ""
        ver = m.group(2) or ""
        return m.group(1), re.sub(r"[^a-zA-Z0-9 ]", ".", ver)

    def norm(did):
        return did if len(did) == 32 else hashlib.md5(did.encode()).hexdigest()

    stores = {"exact": {}, "fz": {}}

    def put(store, key, lid, ct, seq):
        cur = stores[store].get(key)
        if cur is None or (ct, seq) > (cur[1], cur[2]):
            stores[store][key] = (lid, ct, seq)

    probes = []
    for r in rows:
        name, ver = ua_analysis(r.ua_real)
        if r.dt == "mkt" and r.k is not None:
            lid = r.k % 5
            if r.k % 3 == 0 and r.did:
                put("exact", (r.app_id, norm(r.did)), lid, r.ct, r.seq)
            # the single written fuzzy key, Baidu-iPhone downgraded
            if (1 + r.k % 7) in (1, 4) and "iPhone" in (r.ua_real or "") \
                    and ver:
                proc = ":" + ver
            else:
                proc = name + ":" + ver
            if r.ip:  # setIpUaMaps write gated on isNotEmpty(ip)
                put("fz", (r.app_id, r.ip, proc), lid, r.ct, r.seq)
        elif r.dt == "ss":
            probes.append((r, name, ver))

    from collections import Counter
    exp = Counter()
    for r, name, ver in probes:
        hit = stores["exact"].get((r.app_id, norm(r.did))) if r.did else None
        if hit:
            exp[("exact", hit[0])] += 1
            continue
        hit = stores["fz"].get((r.app_id, r.ip, name + ":" + ver))
        if hit:
            exp[("ipua", hit[0])] += 1
            continue
        if r.pl == "ios" and ver:
            hit = stores["fz"].get((r.app_id, r.ip, ":" + ver))
            if hit:
                exp[("ipver", hit[0])] += 1
                continue
        exp[("none", None)] += 1

    got = {(r.match_tier, r.lid): r.n_sessions
           for r in ALL["p42_adv_click_match"](spark, sf_dir).collect()}
    assert got == dict(exp), (got, dict(exp))
    assert sum(n for (t, _), n in exp.items() if t == "exact") >= 1


# ---------------------------------------------------------------------------
# P44 Apple ASA normalization: a Python transcription of
# appleAdDataTransfer (:959-1044, the iad-kv wire with quote stripping
# and per-field Long.parseLong gating) + appleASAFeildsMap (:929-954,
# fixed identity + creativeSetId fallback), applied to the same
# user_id-derived payloads the query synthesizes — json/re/int parsing
# only, no SQL shared.
# ---------------------------------------------------------------------------
def test_apple_asa_matches_python_port(spark, sf_dir):
    import json
    import re

    def payload(uid):
        m = uid % 4
        if m == 0:
            return ("iad-org-id=10" + str(uid % 10)
                    + ";iad-campaign-id=2" + str(uid % 7)
                    + ";iad-adgroup-id=3;iad-ad-id=0;iad-keyword-id=77"
                    + ";iad-click-date=2024-01-0" + str(1 + uid % 9))
        if m == 1:
            return ('{"iad-org-id": 5' + str(uid % 10)
                    + ', "iad-campaign-id": ' + str(uid % 13)
                    + ', "iad-adgroup-id": 8, "iad-ad-id": ' + str(uid % 3)
                    + ', "iad-keyword-id": 9, "iad-click-date": "2024-01-1'
                    + str(uid % 9) + '"}')
        if m == 2:
            return ('iad-org-id="9' + str(uid % 5)
                    + '" ;iad-campaign-id=abc;iad-ad-id=4' + str(uid % 3))
        return ""

    def long0(s):
        if s is None:
            return 0
        s = str(s)
        if not re.fullmatch(r"[+-]?[0-9]+", s):
            return 0
        n = int(s)
        return n if -(2**63) <= n <= 2**63 - 1 else 0

    def parse(p):
        # fmt dispatch exactly as the query: empty / contains '=' / json
        if not p or not p.strip():
            return "empty", {}
        if "=" in p:
            out = {}
            for seg in p.split(";"):
                if not seg.strip() or "=" not in seg:
                    continue
                key, _, val = seg.partition("=")
                val = val.strip().replace('"', "").strip()
                for field in ("iad-org-id", "iad-campaign-id",
                              "iad-adgroup-id", "iad-ad-id",
                              "iad-keyword-id", "iad-click-date"):
                    if field in key:
                        out[field] = val
            return "kv", out
        return "json", json.loads(p)

    uids = [r.user_id for r in _rows(
        spark, sf_dir, "SELECT user_id FROM resolved WHERE dt = 'ss'")]
    agg = {}
    for uid in uids:
        fmt, doc = parse(payload(uid))
        a = agg.setdefault(fmt, {"n": 0, "org": 0, "camp": 0, "adg": 0,
                                 "kw": 0, "ad": 0, "zero": 0, "dates": set()})
        a["n"] += 1
        org = long0(doc.get("iad-org-id")) if fmt != "empty" else 0
        camp = long0(doc.get("iad-campaign-id")) if fmt != "empty" else 0
        adg = long0(doc.get("iad-adgroup-id")) if fmt != "empty" else 0
        kw = long0(doc.get("iad-keyword-id")) if fmt != "empty" else 0
        ad = long0(doc.get("iad-ad-id")) if fmt != "empty" else 0
        # creativeSetId is never produced by the transfer -> fallback is 0
        a["org"] += org
        a["camp"] += camp
        a["adg"] += adg
        a["kw"] += kw
        a["ad"] += ad
        if ad == 0:
            a["zero"] += 1
        if fmt == "kv":
            # regexp_extract yields '' (not NULL) when the field is
            # absent, and '' IS a distinct value to COUNT(DISTINCT)
            a["dates"].add(str(doc.get("iad-click-date", "")))
        elif fmt == "json":
            d = doc.get("iad-click-date")  # get_json_object: absent -> NULL
            if d is not None:
                a["dates"].add(str(d))

    rows = {r.fmt: r for r in ALL["p44_apple_asa"](spark, sf_dir).collect()}
    assert set(rows) == set(agg)
    for fmt, a in agg.items():
        r = rows[fmt]
        assert (r.n_rows, r.sum_org, r.sum_campaign, r.sum_adgroup,
                r.sum_keyword, r.sum_channel_ad, r.n_adid_zero) == (
            a["n"], a["org"], a["camp"], a["adg"], a["kw"], a["ad"],
            a["zero"]), (fmt, r, a)
        assert r.n_click_dates == len(a["dates"]), (fmt, a["dates"])
        assert (r.lname, r.lid, r.channel_type) == ("苹果ASA", "-2", "5")


# ---------------------------------------------------------------------------
# Q20 gap-fill + LOCF: a pure-pandas recomputation off the parquet file —
# Decimal(12,2) hourly sums, dense spine, carry-forward — sharing neither
# engine's SQL (the q20 Spark build and its DuckDB oracle are independent
# formulations already; this is the third derivation).
# ---------------------------------------------------------------------------
def test_gapfill_locf_matches_pandas(spark, sf_dir):
    import os
    from decimal import Decimal

    import pandas as pd

    pdf = pd.read_parquet(os.path.join(sf_dir, "events.parquet"),
                          columns=["ts", "event_type", "value"])
    # parquet's timestamp logical type loads as DatetimeArray (pandas 2
    # may keep it at [us] resolution); the engine contract reads the raw
    # epoch-nanos int64
    pdf["hr"] = (pdf["ts"].values.astype("datetime64[ns]").astype("int64")
                 // 3_600_000_000_000)
    agg = {}
    for et, hr, val in zip(pdf["event_type"], pdf["hr"], pdf["value"]):
        cnt, sv = agg.get((et, hr), (0, Decimal(0)))
        agg[(et, hr)] = (cnt + 1,
                         sv + Decimal(str(val)).quantize(Decimal("0.01")))
    lo = min(hr for _, hr in agg)
    hi = max(hr for _, hr in agg)
    types = sorted({et for et, _ in agg})

    expected = {}
    for et in types:
        carry = None
        for hr in range(lo, hi + 1):
            cnt, sv = agg.get((et, hr), (0, None))
            if sv is not None:
                carry = sv
            expected[(et, hr * 3_600_000)] = (
                cnt,
                float(sv) if sv is not None else None,
                float(carry) if carry is not None else None,
            )

    rows = ALL["q20_gapfill_locf"](spark, sf_dir).collect()
    assert len(rows) == len(expected)
    for r in rows:
        want = expected[(r.event_type, r.bucket_ms)]
        got = (r.n_events, r.sum_value, r.filled_value)
        assert got == want, (r.event_type, r.bucket_ms, got, want)


# ---------------------------------------------------------------------------
# P41 channel-metadata annotation: a sequential Python replay — per
# (app, zgid) latest-touch state in arrival order, the channel-type name
# table transcribed from getchannelTypeNameStr (:585-605), the zero-gated
# type$id composites — aggregated the same way, no SQL shared.
# ---------------------------------------------------------------------------
def test_adv_channel_props_match_python_replay(spark, sf_dir):
    APPS = set(R.ADVERTISING_APPS)
    NAME = dict(R.CHANNEL_TYPE_NAMES)
    TYPES = [k for k, _ in R.CHANNEL_TYPE_NAMES]

    rows = [r for r in _rows(spark, sf_dir, """
        SELECT app_id, zg_id, ct, seq, event_name, dt, k FROM resolved
        WHERE dt = 'evt' OR (dt = 'mkt' AND k IS NOT NULL)
    """) if r.app_id in APPS]
    stream = sorted(rows, key=lambda r: (r.app_id, r.zg_id, r.ct,
                                         -(r.dt == "mkt"), r.seq))

    latest = {}
    per_group = defaultdict(lambda: {
        "n": 0, "users": set(), "accounts": set(),
        "n_campaign": 0, "n_adgroup": 0, "max_account": None})
    for r in stream:
        if r.dt == "mkt":
            cur = latest.get((r.app_id, r.zg_id))
            if cur is None or r.ct >= cur[0]:
                latest[(r.app_id, r.zg_id)] = (r.ct, r.k)
            continue
        touch = latest.get((r.app_id, r.zg_id))
        if touch is None:
            continue
        k = touch[1]
        ctype = TYPES[k % 12]
        cname = NAME.get(ctype, "")
        lid = k % 5

        def comp(mod):
            return (f"{ctype}${k % mod}") if k % mod != 0 else None

        g = per_group[(ctype, cname, lid)]
        g["n"] += 1
        g["users"].add(r.zg_id)
        acc = comp(11)
        if acc is not None:
            g["accounts"].add(acc)
            if g["max_account"] is None or acc > g["max_account"]:
                g["max_account"] = acc
        if comp(13) is not None:
            g["n_campaign"] += 1
        if comp(17) is not None:
            g["n_adgroup"] += 1

    got = {(r.channel_type, r.channel_name, r.lid): r
           for r in ALL["p41_adv_channel_props"](spark, sf_dir).collect()}
    assert set(got) == set(per_group)
    for key, g in per_group.items():
        r = got[key]
        assert (g["n"], len(g["users"]), len(g["accounts"]),
                g["n_campaign"], g["n_adgroup"], g["max_account"]) == (
            r.n_conversions, r.n_users, r.n_accounts,
            r.n_campaign_annotated, r.n_adgroup_annotated,
            r.sample_account_prop), (key, r, g)


# ---------------------------------------------------------------------------
# P53 IPv6 geo: an ipaddress-module port of IpDatabaseLoader.find(String)
# (InetAddress parse → Inet6→awdb / Inet4→range db / failure→empties,
# with Java's ::ffff:a.b.c.d→Inet4Address mapping), plus the operator's
# isPrivateIp and isValidGeoResult verdicts (IpEnrichOperator.java:
# 142-258) — the stdlib does the address parsing and 128-bit compares
# the engine does with hand-rolled SQL string expansion, so the two
# derivations share nothing but the registry tables and the fixtures.
# ---------------------------------------------------------------------------
def test_ipv6_geo_matches_ipaddress_port(spark, sf_dir):
    import ipaddress

    def mk_ip(cid, uid):
        return {
            0: f"2001:db8:3::{1 + uid % 9}",
            1: "2001:db8:5::1",
            2: "2001:0db8:0007:0000:0000:0000:0000:0001",
            3: "::1",
            4: "2001:DB8:A::F",
            5: "::ffff:8.8.8.8",
            6: "::ffff:10.0.0.1",
            7: "gggg::1",
            8: "1:2:3:4:5:6:7:8:9",
            9: "1::2::3",
            10: "8.8.4.4",
            11: "",
            12: "2001:db8:f::ff",
            13: "fe80::1",
            14: "999.1.1.1",
            15: "172.20.1.1",
            16: "1.2.3.4.",   # Java trailing-empty drop → 4 parts, PUBLIC
            17: "-1.2.3.4",   # parseInt accepts the sign → -1, PUBLIC
        }[cid]

    def find(ip):  # IpDatabaseLoader.find(String)
        if not ip:
            return ("", "", "")
        try:
            addr = ipaddress.ip_address(ip)
        except ValueError:
            return ("", "", "")
        if isinstance(addr, ipaddress.IPv6Address):
            mapped = addr.ipv4_mapped
            if mapped is not None:  # Java getByName: ::ffff:a.b.c.d → v4
                addr = mapped
        if isinstance(addr, ipaddress.IPv4Address):
            v = int(addr)
            for lo, hi, c, p, ci in R.IP_RANGES:
                if lo <= v <= hi:
                    return (c, p, ci)
            return ("", "", "")
        v = int(addr)
        for lo, hi, c, p, ci in R.IPV6_RANGES:
            if int(lo, 16) <= v <= int(hi, 16):
                return (c, p, ci)
        return ("", "", "")

    def lane(ip):
        if ip in ("", "null", "0.0.0.0"):
            return "skip"
        try:
            addr = ipaddress.ip_address(ip)
        except ValueError:
            return "invalid"
        if isinstance(addr, ipaddress.IPv4Address) or \
                addr.ipv4_mapped is not None:
            return "v4"
        return "v6"

    def jint(s):  # Integer.parseInt: optional sign + ASCII digits,
        t = s[1:] if s[:1] in "+-" else s  # int32 overflow throws
        if not t or not all(c in "0123456789" for c in t):
            raise ValueError(s)
        v = int(s)
        if not -(2 ** 31) <= v <= 2 ** 31 - 1:
            raise ValueError(s)
        return v

    def is_private(ip):  # isPrivateIp, split('.') quirks included
        parts = ip.split(".")
        while parts and parts[-1] == "":  # Java trailing-empty drop
            parts.pop()
        if len(parts) != 4:
            return 1
        try:
            first, second = jint(parts[0]), jint(parts[1])
        except ValueError:
            return 1
        if first in (10, 127, 0) or (first == 172 and 16 <= second <= 31) \
                or (first == 192 and second == 168):
            return 1
        return 0

    def valid_geo(triple):  # isValidGeoResult
        for s in triple:
            for ch in s:
                if ord(ch) < 32 and ch not in "\t\n\r":
                    return 0
                if ch == "�":
                    return 0
        return 1

    uids = [r.user_id for r in _rows(spark, sf_dir,
                                     "SELECT user_id FROM events")]
    per_cid = {}
    for uid in uids + list(range(18)):  # events volume + the seed rows
        cid = int(uid % 18)
        ip = mk_ip(cid, uid)
        ln = lane(ip)
        triple = find(ip.lower())
        exp = (ln, *triple,
               None if ln == "skip" else is_private(ip.lower()),
               None if ln == "skip" else valid_geo(triple))
        prev = per_cid.setdefault(cid, [exp, 0])
        assert prev[0] == exp, (cid, prev[0], exp)  # constant per cid
        prev[1] += 1

    got = {r.cid: r for r in
           ALL["p53_ipv6_geo"](spark, sf_dir).collect()}
    assert len(got) == 18
    for cid, (exp, n) in per_cid.items():
        r = got[cid]
        assert (r.lane, r.country, r.province, r.city,
                r.dw_private, r.dw_valid) == exp, (cid, r, exp)
        assert r.n_rows == n, (cid, r.n_rows, n)


# ---------------------------------------------------------------------------
# P54 click consumption: a GLOBAL sequential replay of the reference's
# batch loop (AdvLidAndUserFirstEndFlatMapFunction.java:701-758 order,
# :1090-1166 probe-time aliveness with tier fallthrough, :1178-1210
# del-set by the claimed click's own key strings) — one Python loop over
# every session in (ct, seq) order, no componentization, no DataFrames.
# The engine computes the same matching with per-component parallel
# replay after connected-components, so equality here verifies BOTH the
# probe/consume logic AND that the component decomposition leaks nothing.
# ---------------------------------------------------------------------------
def test_click_consumption_matches_sequential_replay(spark, sf_dir, monkeypatch):
    import hashlib
    import re
    from types import SimpleNamespace

    from zg_etl_spark.operators.domain import SPARK, ua_real_case
    from zg_etl_spark.plans.pipeline import P52_FIXTURES

    APPS = set(R.ADVERTISING_APPS)
    rows = [r for r in _rows(spark, sf_dir, f"""
        SELECT app_id, dt, user_id, ip, k, ct, seq, zg_id, pl, ua_real
        FROM (SELECT r.*, {ua_real_case(SPARK, 'r.')} AS ua_real
              FROM resolved r) t
        WHERE dt IN ('mkt', 'ss')""") if r.app_id in APPS]
    rows += [SimpleNamespace(app_id=a, dt=dt, user_id=u, ip=ip, k=k, ct=ct,
                             seq=seq, zg_id=z, pl=pl, ua_real=ua)
             for (a, dt, u, ip, k, ct, seq, z, pl, ua) in P52_FIXTURES]

    def ua_analysis(ua):
        if ua is None:
            return "", ""
        if "Android" in ua:
            m = re.search(r"linux;.*(android).([\w.,/\-]+)", ua, re.I)
        else:
            m = re.search(r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)",
                          ua, re.I)
        if not m:
            return "", ""
        ver = m.group(2) or ""
        return m.group(1), re.sub(r"[^a-zA-Z0-9 ]", ".", ver)

    def kid(prefix, src, mod):
        return hashlib.md5(f"{prefix}_{src % mod}".encode()).hexdigest()

    store = {}   # key -> (ct, seq, click_seq, lid)
    alias = {}   # click_seq -> [keys]
    sessions = []
    for r in rows:
        name, ver = ua_analysis(r.ua_real)
        if r.dt == "mkt" and r.k is not None:
            lid = r.k % 5
            keys = []
            if r.k % 3 == 0:
                keys.append(f"ex|{r.app_id}|{kid('idfa', r.k, 23)}")
            if r.k % 4 == 0:
                keys.append(f"ex|{r.app_id}|{kid('oaid', r.k, 19)}")
            if r.k % 5 == 0:
                keys.append(f"ex|{r.app_id}|{kid('aid', r.k, 17)}")
            if r.k % 2 == 0:
                keys.append(f"ex|{r.app_id}|{kid('imei', r.k, 13)}")
            if (1 + r.k % 7) in (1, 4) and "iPhone" in (r.ua_real or "") \
                    and ver:
                proc = ":" + ver
            else:
                proc = name + ":" + ver
            if r.ip:  # setIpUaMaps write gated on isNotEmpty(ip)
                keys.append(f"fz|{r.app_id}|{r.ip}|{proc}")
            alias[r.seq] = keys
            for key in keys:
                cur = store.get(key)
                if cur is None or (r.ct, r.seq) > (cur[0], cur[1]):
                    store[key] = (r.ct, r.seq, r.seq, lid)
        elif r.dt == "ss":
            sessions.append((r, name, ver))

    dead = set()
    from collections import Counter
    exp_n = Counter()
    exp_users = defaultdict(set)
    for r, name, ver in sorted(sessions, key=lambda t: (t[0].ct, t[0].seq)):
        is_ios = r.pl == "ios"
        tier, hit_key = "none", None
        if is_ios:
            if r.user_id % 3 != 1:
                key = f"ex|{r.app_id}|{kid('idfa', r.user_id, 29)}"
                if key in store and key not in dead:
                    tier, hit_key = "exact_idfa", key
        else:
            for st, mod, gate, label in (("oaid", 23, 4, "exact_oaid"),
                                         ("aid", 21, 5, "exact_aid"),
                                         ("imei", 15, 2, "exact_imei")):
                if r.user_id % gate == 1:
                    continue
                key = f"ex|{r.app_id}|{kid(st, r.user_id, mod)}"
                if key in store and key not in dead:
                    tier, hit_key = label, key
                    break
        if hit_key is None:
            # fuzzy, the reference's literal probe-time logic
            max_ct, pk, pt = -1, None, None
            uk = f"fz|{r.app_id}|{r.ip}|{name}:{ver}"
            if uk in store and uk not in dead:
                max_ct, pk, pt = store[uk][0], uk, "ipua"
            if is_ios and ver:
                vk = f"fz|{r.app_id}|{r.ip}|:{ver}"
                if vk in store and vk not in dead and store[vk][0] > max_ct:
                    pk, pt = vk, "ipver"
            if pk is not None:
                tier, hit_key = pt, pk
        if hit_key is None:
            exp_n[("none", None)] += 1
            exp_users[("none", None)].add(r.zg_id)
            continue
        _, _, click_seq, lid = store[hit_key]
        dead.update(alias[click_seq])
        exp_n[(tier, lid)] += 1
        exp_users[(tier, lid)].add(r.zg_id)

    got = {(r.match_tier, r.lid): (r.n_sessions, r.n_users)
           for r in ALL["p54_click_consumption"](spark, sf_dir).collect()}
    exp = {k: (n, len(exp_users[k])) for k, n in exp_n.items()}
    assert got == exp, (got, exp)
    # the size-gated coarse (per-app) grouping took the path above;
    # force the component-labeling path (a size gate below any candidate
    # count) and pin it to the same result
    from pyspark.sql import functions as F

    from zg_etl_spark.plans import consume
    monkeypatch.setattr(consume, "P54_COARSE_MAX", -1)
    detail, _, _ = consume._build_p54_detail(spark, sf_dir)
    got_fine = {(r.match_tier, r.lid): (r.n_sessions, r.n_users)
                for r in detail.groupBy("match_tier", "lid").agg(
                    F.count(F.lit(1)).alias("n_sessions"),
                    F.countDistinct("zg_id").alias("n_users")).collect()}
    assert got_fine == exp, (got_fine, exp)
    # consumption must actually bite at every SF: the fixture C4 click is
    # claimable once, so p52's snapshot and p54's replay must differ
    p52 = {(r.match_tier, r.lid): r.n_sessions
           for r in ALL["p52_adv_ss_priority"](spark, sf_dir).collect()}
    assert sum(n for (t, _), n in p52.items() if t != "none") >= \
        sum(n for (t, _), n in exp_n.items() if t != "none")


# ---------------------------------------------------------------------------
# P55 Tencent-web click match: a Python re-derivation of the channel-3
# store-hit lane (:819-889) — cck-keyed latest-click store from the same
# mkt rows + seeds, probe/park/del-key logic per the reference, no SQL
# shared with the engine formulation.
# ---------------------------------------------------------------------------
def test_tencent_web_match_matches_python_port(spark, sf_dir):
    import re
    from types import SimpleNamespace

    from zg_etl_spark.operators.domain import SPARK, ua_real_case
    from zg_etl_spark.plans.pipeline import P52_FIXTURES

    APPS = list(R.ADVERTISING_APPS)
    rows = [r for r in _rows(spark, sf_dir, f"""
        SELECT app_id, dt, user_id, ip, k, ct, seq, ua_real
        FROM (SELECT r.*, {ua_real_case(SPARK, 'r.')} AS ua_real
              FROM resolved r) t
        WHERE dt IN ('mkt', 'evt')""") if r.app_id in APPS]
    rows += [SimpleNamespace(app_id=a, dt=dt, user_id=u, ip=ip, k=k,
                             ct=ct, seq=seq, ua_real=ua)
             for (a, dt, u, ip, k, ct, seq, _z, _pl, ua) in P52_FIXTURES
             if dt == "mkt"]

    def ua_analysis(ua):
        if ua is None:
            return "", ""
        if "Android" in ua:
            m = re.search(r"linux;.*(android).([\w.,/\-]+)", ua, re.I)
        else:
            m = re.search(r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)",
                          ua, re.I)
        if not m:
            return "", ""
        ver = m.group(2) or ""
        return m.group(1), re.sub(r"[^a-zA-Z0-9 ]", ".", ver)

    store = {}  # (app, cck) -> (ct, seq, lid, ip, ua_proc)
    def put(app, cck, ct, seq, lid, ip, proc):
        cur = store.get((app, cck))
        if cur is None or (ct, seq) > (cur[0], cur[1]):
            store[(app, cck)] = (ct, seq, lid, ip, proc)

    probes = {(a, pid): 0 for a in APPS for pid in range(11)}  # seeds
    for r in rows:
        if r.dt == "mkt" and r.k is not None and (1 + r.k % 7) == 3:
            name, ver = ua_analysis(r.ua_real)
            proc = name + ":" + ver  # ch 3 is never Baidu-downgraded
            put(r.app_id, f"cck_{r.k % 9}", r.ct, r.seq, r.k % 5,
                r.ip, proc)
        elif r.dt == "evt":
            probes[(r.app_id, int(r.user_id % 11))] += 1
    for a in APPS:  # the constant seed clicks
        for i in range(9):
            put(a, f"cck_{i}", 1699980000000 + i, -(200 + 10 * a + i),
                i % 5, f"198.51.100.{i}", "Android:13")

    exp = {}
    for (a, pid), n in probes.items():
        n += 1  # the seed probe row
        if pid == 10:
            exp[(a, pid)] = ("no_probe", None, None, None, None, n, None)
            continue
        hit = store.get((a, f"cck_{pid}"))
        if hit is None:  # only pid 9 can miss: seeds write cck_0..8
            assert pid == 9, (a, pid)
            exp[(a, pid)] = ("miss_parked", None, None, None,
                             f"adtfad:cck_{pid}:rawdata", n, None)
            continue
        ct, _seq, lid, ip, proc = hit
        exp[(a, pid)] = ("hit", lid, f"adtfad:{a}:cck_{pid}",
                         f"adtfad:{a}:{ip}{proc}", None, n, ct)

    got = {(r.app_id, r.pid): (r.lane, r.lid, r.del_cck_key,
                               r.del_ipua_key, r.parked_key, r.n_rows,
                               r.store_ct)
           for r in ALL["p55_tencent_web_match"](spark, sf_dir).collect()}
    assert got == exp, ({k: (got.get(k), exp.get(k))
                         for k in set(got) | set(exp)
                         if got.get(k) != exp.get(k)})


def test_java_yw_port_matches_jvm_fixture(spark):
    """Gold-standard pin for the yw derivation: tests/data/
    java_yyyyww_zh_cn.txt was generated by RUNNING
    `new SimpleDateFormat("YYYYww", zh_CN)` on this container's JDK 17
    over every day of 2022-2024 (en_US produced the identical table; the
    generator program is reproduced in the file's sibling comment here).
    All three implementations — the Python Calendar port, the Spark SQL
    yw_java, and the DuckDB SQL yw_java — must reproduce it exactly.
    The previously-shipped ISO-8601 derivation differs from this table
    on 940 of the 1,100 dates' (date-1) buckets — isocalendar() was a
    shared misreading of the reference's locale week rules, which this
    fixture makes impossible to reintroduce silently."""
    import os

    import duckdb

    from zg_etl_spark.operators.domain import DUCK, SPARK

    path = os.path.join(os.path.dirname(__file__), "data",
                        "java_yyyyww_zh_cn.txt")
    want = {}
    with open(path) as fh:
        for line in fh:
            ds, yw = line.split()
            want[ds] = int(yw)
    assert len(want) == 1100

    # Python port
    from datetime import date
    for ds, yw in want.items():
        assert _java_yw(date.fromisoformat(ds)) == yw, ds

    # Spark SQL
    df = spark.createDataFrame([(ds,) for ds in want], "ds string")
    got_s = {
        r.ds: r.yw
        for r in df.selectExpr(
            "ds", f"{SPARK.yw_java('CAST(ds AS DATE)')} AS yw").collect()
    }
    assert got_s == want

    # DuckDB SQL
    con = duckdb.connect()
    con.execute("CREATE TABLE t (ds VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(ds,) for ds in want])
    got_d = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT ds, {DUCK.yw_java('CAST(ds AS DATE)')} FROM t"
        ).fetchall()
    }
    assert got_d == want
