"""LLM-training-data pipeline operators over documents / embeddings
(BASELINE.json north star: dedup, similarity search, text analysis as
first-class engine components).

Every query body is one template rendered with the same dialect as the
event pipeline (``zg_etl_spark.dialect``: ``SPARK`` for the engine, ``DUCK``
for the oracle), so oracle and engine cannot drift. The derived sets that
several queries (or several references in one query) read — shingle sets,
minhash signatures, candidate pairs, IVF/PQ assignments — are INDEXES:
cached relations of the one registry (``operators.domain.relation``),
each declared once as name -> sql(d). A body refers to an index by its
name in both dialects; the engine builds the indexes a body reads (and
the ones they read) as checkpointed registry entries, and the oracle
inlines the same texts as CTEs in front of the body. Inlined on Spark,
an index referenced N times re-runs N times (measured: l4's 4 references
re-ran the shingle pipeline 4×).
Everything is expressed with built-in array/lambda functions — no Python
UDFs in any hot path (JVM-side codegen in Spark).

Scale design (100 TB corpus thinking):
- exact dedup: hash-groupBy on md5(text) — one shuffle on the hash, partial
  agg map-side;
- MinHash: per-doc signatures via array_min over transform() — NO explode,
  no shuffle until the band-bucket join; LSH banding turns all-pairs into an
  equi-join on (band_idx, band_hash), which AQE handles even when skewed;
- n-gram Jaccard: distinct (doc, shingle) explode → self-equi-join on
  shingle — the join key space (4-gram) is sized to keep bucket fan-out ~1;
- SimHash: one explode + one groupBy with 16 conditional sums;
- ANN: brute-force cosine is a broadcast nested-loop of a small query set ×
  candidates (top-k per query via window); the IVF variant prunes candidates
  to the query's centroid bucket first (the scale path: bucket = partition
  key, per-bucket search is embarrassingly parallel).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution

from pyspark.sql import DataFrame, SparkSession

from zg_etl_spark.dialect import DUCK
from zg_etl_spark.operators.domain import (
    duck_pipeline_sql,
    register,
    relation,
    relations,
)
from zg_etl_spark.session import materialize

QUERIES: dict = {}
ORACLE: dict = {}

STOPWORDS = "('the', 'a')"


# ---------------------------------------------------------------------------
# L1 text statistics + quality scoring + fingerprint
# ---------------------------------------------------------------------------
def _l1(d) -> str:
    ws = d.split("text")
    n_tok = d.alen(ws)
    n_stop = d.alen(d.lfilter(ws, "w", f"w IN {STOPWORDS}"))
    return f"""
SELECT doc_id, lang, source,
       CAST({n_tok} AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       md5(text) AS fingerprint,
       CAST({n_stop} AS BIGINT) AS n_stopwords,
       round(CAST({n_stop} AS DOUBLE) / CAST({n_tok} AS DOUBLE), 6) AS stopword_ratio,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST({n_tok} AS DOUBLE), 6) AS avg_token_len,
       round(CASE WHEN {n_tok} < 5 THEN 0.0
                  WHEN {n_tok} > 200 THEN 0.5
                  ELSE 1.0 - CAST({n_stop} AS DOUBLE) / CAST({n_tok} AS DOUBLE)
             END, 6) AS quality_score
FROM documents"""


register(QUERIES, ORACLE, "l1_text_stats", _l1)


# ---------------------------------------------------------------------------
# L2 language-ID: self-supervised word-profile heuristic — build top-5 word
# profiles per lang from the corpus, classify each doc by profile overlap
# ---------------------------------------------------------------------------
# `l2_words` feeds both the per-lang profile build AND the per-doc scoring join
relation("l2_words", cached=True)(lambda d: (
    f"SELECT doc_id, lang, word FROM documents "
    f"{d.explode(d.split('text'), 'word')}"))


def _l2(d) -> str:
    return """
WITH profile AS (
  SELECT lang AS p_lang, word AS p_word FROM (
    SELECT lang, word, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, word) AS rn
    FROM l2_words GROUP BY lang, word
  ) x WHERE rn <= 5
),
scores AS (
  SELECT w.doc_id, p.p_lang, COUNT(*) AS overlap
  FROM l2_words w JOIN profile p ON p.p_word = w.word
  GROUP BY w.doc_id, p.p_lang
),
best AS (
  SELECT doc_id, p_lang AS predicted_lang FROM (
    SELECT doc_id, p_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY overlap DESC, p_lang) AS rn
    FROM scores
  ) x WHERE rn = 1
)
SELECT dd.doc_id, dd.lang, b.predicted_lang,
       CASE WHEN dd.lang = b.predicted_lang THEN 1 ELSE 0 END AS is_match
FROM documents dd LEFT JOIN best b ON b.doc_id = dd.doc_id"""


register(QUERIES, ORACLE, "l2_lang_id", _l2)


# ---------------------------------------------------------------------------
# L3 exact dedup: content-hash groupBy (summary + duplicate groups)
# ---------------------------------------------------------------------------
def _l3(d) -> str:
    return """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dupes
FROM documents"""


register(QUERIES, ORACLE, "l3_dedup_exact", _l3)


# ---------------------------------------------------------------------------
# The hashed 4-gram shingle index (n-word shingles over the split text,
# distinct per doc), shared by l4, l25, l31 and l34.
# Two-step build: the per-doc shingle ARRAYS are one index, the exploded
# shingles a second one over it. A one-step build pushes the Generate-
# inferred predicate (which embeds the whole transform(...) chain) below
# the round-robin repartition, evaluating the expensive expression on the
# single source partition — measured 3× slower than this split.
# Shingles are 8-byte hashes, not strings — 3× less shuffle volume; counts
# are hash-agnostic (64-bit collision odds over ~1M shingles ≈ 1e-7), so
# the oracle still matches even though each engine uses its own hash
# function. Per-doc dedup happens INSIDE the array (array_distinct) before
# the explode, so no DISTINCT shuffle ever runs.
# ---------------------------------------------------------------------------
def _l4_sharr(d) -> str:
    n = 4
    starts = d.seq("1", f"{d.alen('ws')} - {n - 1}")
    sh_arr = d.lmap(starts, "i", d.slice_join("ws", "i", n))
    return f"""SELECT doc_id, {d.adistinct(sh_arr)} AS sh_arr
            FROM (SELECT doc_id, {d.split('text')} AS ws FROM documents) w
            WHERE {d.alen('ws')} >= {n}"""


def _l4_shingles(d) -> str:
    return f"""SELECT doc_id, {d.h64('shingle')} AS shingle
            FROM l4_sharr {d.explode('sh_arr', 'shingle')}"""


relation("l4_sharr", cached=True)(_l4_sharr)
relation("l4_shingles", cached=True)(_l4_shingles)


# ---------------------------------------------------------------------------
# L4 n-gram Jaccard near-dup: top pairs by 4-gram Jaccard similarity.
# The shingle set is referenced 3× (self-join sides + sizes).
# ---------------------------------------------------------------------------
def _l4(d) -> str:
    return """
WITH sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM l4_shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM l4_shingles a JOIN l4_shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
       round(CAST(n_inter AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter >= 2
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 100"""


register(QUERIES, ORACLE, "l4_ngram_jaccard", _l4)


# ---------------------------------------------------------------------------
# L5 MinHash signatures: 8 hashes = min over 3-gram shingles of 32-bit md5
# chunks. array_min over transform — no explode, no shuffle — and only TWO
# md5 evaluations per shingle (seeds 'a|'/'b|'), each md5 yielding four
# 8-hex-char hash values; the staged projections (shingles → md5 arrays →
# mins) stop the per-column expressions from recomputing the md5 eight
# times.
# ---------------------------------------------------------------------------
_N_HASHES = 8


def _l5(d) -> str:
    n = 3
    starts = d.seq("1", f"{d.alen('ws')} - {n - 1}")
    sh = d.lmap(starts, "i", d.slice_join("ws", "i", n))
    m0 = d.lmap("sh", "s", "md5('a|' || s)")
    m1 = d.lmap("sh", "s", "md5('b|' || s)")
    cols = []
    for j in range(_N_HASHES):
        src = "m0" if j < 4 else "m1"
        off = (j % 4) * 8 + 1
        chunk = d.lmap(src, "m", f"substring(m, {off}, 8)")
        cols.append(f"{d.lmin(chunk)} AS h{j}")
    col_sql = ",\n       ".join(cols)
    return f"""
SELECT doc_id,
       {col_sql}
FROM (
  SELECT doc_id, {m0} AS m0, {m1} AS m1 FROM (
    SELECT doc_id, {sh} AS sh FROM (
      SELECT doc_id, {d.split('text')} AS ws FROM documents) a
      WHERE {d.alen('ws')} >= {n}) b) c"""


register(QUERIES, ORACLE, "l5_minhash_signatures", _l5)
# the signature index the LSH band fan-out reads: inlined, the band
# fan-out recomputed the md5 signatures 8×
relation("mh_sigs", cached=True)(_l5)


# ---------------------------------------------------------------------------
# L6 LSH candidate pairs: 4 bands × 2 rows; pairs sharing a band bucket,
# scored by fraction of matching minhashes
# ---------------------------------------------------------------------------
def _l6_bands() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, h{2 * b} || h{2 * b + 1} AS band_val, "
        f"h0, h1, h2, h3, h4, h5, h6, h7 FROM mh_sigs"
        for b in range(_N_HASHES // 2)
    )
    return f"bands AS ({band_rows})"


def _l6(d) -> str:
    matches = " + ".join(
        f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)" for j in range(_N_HASHES)
    )
    return f"""
WITH {_l6_bands()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST({matches} AS DOUBLE) / {_N_HASHES}, 6) AS est_sim
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id"""


# The LSH candidate pairs, built once per (session, sf_dir): l6 declares
# them, l16 filters them into dedup edges, l31 verifies them against exact
# shingles; each recomputed the band self-join + DISTINCT before (and l16's
# symmetric-edge union executed it TWICE in one action). On a cluster this
# is the persisted candidate table every dedup pipeline keeps next to its
# signature index.
relation("l6_cands", cached=True)(_l6)
register(QUERIES, ORACLE, "l6_lsh_candidates", lambda d: "SELECT * FROM l6_cands")


# ---------------------------------------------------------------------------
# L16 dedup GROUPS: connected components over the LSH candidate graph —
# pairs → clusters → one canonical doc (min doc_id) per cluster. Spark side
# is iterative min-label propagation (the standard Pregel-style CC on
# DataFrames: per round one broadcast join + one groupBy, state checkpointed
# between rounds; rounds = graph diameter, ≤4 for near-dup clusters).
# The oracle is exact: DuckDB WITH RECURSIVE reachability over the same
# edges. This is the genuinely-iterative algorithm on the query surface.
# ---------------------------------------------------------------------------
_L16_SIM = 0.5  # ≥4 of 8 minhashes agree
# the oracle's reachability walk over the candidate edges (l16, l27)
_L16_WALK = f"""
edges AS (SELECT doc_a AS a, doc_b AS b FROM l6_cands WHERE est_sim >= {_L16_SIM}),
sym_edges AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
walk(doc, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.lab FROM walk w JOIN sym_edges e ON e.a = w.doc
)"""


def _l16_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    relations(spark, sf_dir, ["documents", "l6_cands"])
    edges = spark.table("l6_cands").where(f"est_sim >= {_L16_SIM}")
    sym = (
        edges.selectExpr("doc_a AS a", "doc_b AS b")
        .unionAll(edges.selectExpr("doc_b AS a", "doc_a AS b"))
        .localCheckpoint(eager=True)  # computed once, joined every round
    )
    # iterate ONLY over the edge-induced subgraph: docs with no near-dup
    # candidate are their own group by definition and would otherwise pay
    # per-round shuffle + checkpoint for the whole corpus. At 100 TB the
    # candidate subgraph is orders of magnitude smaller than the corpus,
    # so this turns rounds-over-everything into rounds-over-duplicates.
    # shared min-label propagation WITH pointer doubling (operators/
    # graph.py): boilerplate-heavy corpora chain near-duplicates hundreds
    # deep, and plain propagation needs ~diameter rounds — doubling makes
    # it O(log diameter). No broadcast hint on sym inside: the candidate
    # edge set is NOT guaranteed broadcast-sized; the unhinted shuffle
    # join degrades gracefully at 100 TB and AQE still picks broadcast
    # when the round's stats allow.
    from zg_etl_spark.operators.graph import label_components

    labels = label_components(sym).withColumnRenamed("nd", "doc")
    return (
        spark.table("documents")
        .join(labels, F.col("doc_id") == F.col("doc"), "left")
        .select(
            "doc_id", F.coalesce("lab", "doc_id").cast("long").alias("group_id")
        )
    )


QUERIES["l16_dedup_groups"] = _l16_run
ORACLE["l16_dedup_groups"] = duck_pipeline_sql(
    f"WITH RECURSIVE {_L16_WALK}\n"
    "SELECT doc AS doc_id, MIN(lab) AS group_id FROM walk GROUP BY doc")


# ---------------------------------------------------------------------------
# L7 SimHash-16: per-word md5-nibble bits, majority vote per bit position
# ---------------------------------------------------------------------------
def _l7(d) -> str:
    def hexpos(j: int) -> str:
        return d.strpos("'0123456789abcdef'", f"substring(md5(word), {j // 4 + 1}, 1)")

    sums = ",\n         ".join(
        f"SUM({d.idiv(f'({hexpos(j)} - 1)', 2 ** (j % 4))} % 2) AS s{j}"
        for j in range(16)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{j} * 2 >= n THEN {2 ** j} ELSE 0 END)" for j in range(16)
    )
    words_from = d.explode(d.split("text"), "word")
    return f"""
WITH words AS (SELECT doc_id, word FROM documents {words_from}),
bits AS (
  SELECT doc_id, COUNT(*) AS n,
         {sums}
  FROM words GROUP BY doc_id
)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash16 FROM bits"""


register(QUERIES, ORACLE, "l7_simhash", _l7)


# ---------------------------------------------------------------------------
# L8 brute-force cosine top-k: query set (vec_id < 5) × all candidates
# ---------------------------------------------------------------------------
def _cosine(d, a: str, b: str) -> str:
    dot = d.fold_sum(d.zip_mul(a, b))
    na = d.fold_sum(d.zip_mul(a, a))
    nb = d.fold_sum(d.zip_mul(b, b))
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _l8(d) -> str:
    cos = _cosine(d, d.dvec("q.embedding"), d.dvec("c.embedding"))
    return f"""
WITH pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         round({cos}, 4) AS cosine
  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
  WHERE q.vec_id < 5
)
SELECT q_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
  FROM pairs
) x WHERE rank <= 10"""


register(QUERIES, ORACLE, "l8_ann_bruteforce", _l8)


# ---------------------------------------------------------------------------
# L9 IVF-style ANN: coarse-quantize to 4 seed centroids (vec_id 0-3), then
# search only the query's bucket — the partition-pruned scale path
# ---------------------------------------------------------------------------
def _l9_assign_sql(d) -> str:
    cos_assign = _cosine(d, d.dvec("v.embedding"), d.dvec("ctr.embedding"))
    return f"""
  SELECT vec_id, c_id AS bucket FROM (
    SELECT v.vec_id, ctr.c_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY round({cos_assign}, 4) DESC, ctr.c_id) AS rn
    FROM embeddings v CROSS JOIN
         (SELECT vec_id AS c_id, embedding FROM embeddings WHERE vec_id < 4) ctr
  ) x WHERE rn = 1"""


# `assign` (every vector quantized against every centroid) is the
# expensive coarse step and is referenced TWICE (query side + candidate
# side); inlined CTEs recompute it per reference (15 Exchanges). Built
# once, it is exactly an IVF index build: on a cluster this IS the
# persisted index table.
relation("l9_assign", cached=True)(_l9_assign_sql)


def _l9(d) -> str:
    cos_pair = _cosine(d, d.dvec("q.embedding"), d.dvec("c.embedding"))
    return "WITH " + f"""
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         round({cos_pair}, 4) AS cosine
  FROM embeddings q
  JOIN l9_assign aq ON aq.vec_id = q.vec_id
  JOIN l9_assign ac ON ac.bucket = aq.bucket AND ac.vec_id != q.vec_id
  JOIN embeddings c ON c.vec_id = ac.vec_id
  WHERE q.vec_id < 5
)
SELECT q_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
  FROM pairs
) x WHERE rank <= 5"""


register(QUERIES, ORACLE, "l9_ann_ivf", _l9)


# ---------------------------------------------------------------------------
# L11 embedding-cosine near-dup via sign-bucket LSH: vectors only pair
# within the same 8-bit hyperplane-sign bucket (dims 1-8), so the
# all-pairs O(n²) collapses to an equi-join on bucket — the same shape
# that scales to 100 TB (bucket = shuffle key, per-bucket work is
# independent). Vectors are L2-normalized ONCE per vector before the join,
# so the per-pair work is a single dot product instead of three array
# folds (norms recomputed n² times otherwise). Brute-force recall baseline
# is l8.
# ---------------------------------------------------------------------------
def _l11_vecs_sql(d) -> str:
    emb = d.dvec("embedding")
    bits = " + ".join(
        f"(CASE WHEN {d.idx(emb, str(j + 1))} >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(8)
    )
    return f"""
SELECT vec_id, bucket, {d.lmap('v0', 'x', 'x / nv')} AS v FROM (
  SELECT vec_id, bucket, sqrt({d.fold_sum(d.zip_mul('v0', 'v0'))}) AS nv, v0
  FROM (SELECT vec_id, {emb} AS v0, ({bits}) AS bucket FROM embeddings) raw
) normed"""


# the normalized+bucketed vectors are referenced twice by the self-join
# and inlined CTEs recompute them per reference; built once they are the
# persisted LSH index table on a cluster. Interleaved A/B at sf0.1:
# inline 0.69/0.54/0.56 s -> index 0.22/0.18/0.19 warm, 0.47/0.42/0.39
# including the index build.
relation("l11_vecs", cached=True)(_l11_vecs_sql)


def _l11_pairs(d) -> str:
    dot = d.fold_sum(d.zip_mul("a.v", "b.v"))
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({dot}, 4) AS cosine
FROM l11_vecs a JOIN l11_vecs b ON b.bucket = a.bucket AND a.vec_id < b.vec_id
WHERE round({dot}, 4) >= 0.15
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 200"""


register(QUERIES, ORACLE, "l11_embedding_neardup", _l11_pairs)


# ---------------------------------------------------------------------------
# L12 token counting (BPE-ish regex classes) + rolling-hash fingerprint
# (polynomial fold over md5-nibble word hashes, mod 1e9+7 — integer-exact
# in both engines, no overflow under ANSI)
# ---------------------------------------------------------------------------
def _word_hash(d, var: str) -> str:
    nibbles = []
    for j in range(1, 5):
        pos = d.strpos("'0123456789abcdef'", f"substring(md5({var}), {j}, 1)")
        nibbles.append(f"({pos} - 1) * {16 ** (4 - j)}")
    return "CAST(" + " + ".join(nibbles) + " AS BIGINT)"


def _l12(d) -> str:
    ws = d.split("text")
    hashes = d.lmap(ws, "w", _word_hash(d, "w"))
    rolling = d.fold(hashes, "CAST(7 AS BIGINT)", "(acc * 31 + x) % 1000000007")
    return f"""
SELECT doc_id,
       CAST({d.re_count('text', '[A-Za-z]+')} AS BIGINT) AS n_word_tokens,
       CAST({d.re_count('text', '[0-9]')} AS BIGINT) AS n_digit_tokens,
       CAST({d.re_count('text', '[^A-Za-z0-9 ]')} AS BIGINT) AS n_other_tokens,
       {rolling} AS rolling_fp
FROM documents"""


register(QUERIES, ORACLE, "l12_tokens_fingerprint", _l12)


# ---------------------------------------------------------------------------
# L13 curation end-to-end: quality gate + exact-dedup keep-first → corpus
# stats per (lang, source) — the "what survives into the training set" query
# ---------------------------------------------------------------------------
def _l13(d) -> str:
    ws = d.split("text")
    n_tok = d.alen(ws)
    n_stop = d.alen(d.lfilter(ws, "w", f"w IN {STOPWORDS}"))
    return f"""
WITH scored AS (
  SELECT doc_id, lang, source, md5(text) AS fp,
         CAST({n_tok} AS BIGINT) AS n_tokens,
         CASE WHEN {n_tok} < 5 THEN 0.0
              WHEN {n_tok} > 200 THEN 0.5
              ELSE 1.0 - CAST({n_stop} AS DOUBLE) / CAST({n_tok} AS DOUBLE)
         END AS quality
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM scored
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn = 1 AND quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 AND quality >= 0.5 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes_dropped,
       CAST(SUM(CASE WHEN rn = 1 AND quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped
FROM ranked
GROUP BY lang, source"""


register(QUERIES, ORACLE, "l13_curation", _l13)


# ---------------------------------------------------------------------------
# L14 ANN via vectorized Pandas UDF: same top-k as l8, computed by a numpy
# matmul over Arrow batches instead of per-row zip_with folds — the
# alternative engine path for embedding math (and the proof the two agree:
# it shares l8's oracle verbatim)
# ---------------------------------------------------------------------------
def _l14_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    relations(spark, sf_dir, ["embeddings"])
    qrows = spark.sql(
        "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v "
        "FROM embeddings WHERE vec_id < 5"
    ).collect()
    q_ids = np.array([r.vec_id for r in qrows])
    q_mat = np.array([r.v for r in qrows])            # (5, dim)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(q_norm)

    @pandas_udf("array<double>")
    def cosines(emb: pd.Series) -> pd.Series:
        c = np.stack(emb.to_numpy())                   # (batch, dim)
        c = c / np.linalg.norm(c, axis=1, keepdims=True)
        sims = c @ bq.value.T                          # (batch, n_q)
        return pd.Series(list(np.round(sims, 4)))

    scored = spark.sql(
        "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings"
    ).selectExpr("vec_id AS cand_id", "v").withColumn("cos_arr", cosines("v"))
    # posexplode_outer, not posexplode: the non-outer Generate infers a
    # size(cos_arr) > 0 predicate that Catalyst pushes below the source
    # repartition, re-evaluating the pandas UDF a second time on the
    # unparallelized pre-shuffle side (verified via .explain: two
    # ArrowEvalPython nodes). The outer variant infers nothing; the UDF
    # runs once, post-shuffle.
    pairs = scored.selectExpr(
        "cand_id",
        "posexplode_outer(cos_arr) AS (q_idx, cosine)",
    ).selectExpr(
        f"element_at(array({','.join(str(int(i)) for i in bq_ids.value)}), q_idx + 1) AS q_id",
        "cand_id", "cosine",
    ).where("q_id != cand_id")
    return spark.sql("""
SELECT q_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
  FROM {pairs}
) x WHERE rank <= 10""", pairs=pairs)


QUERIES["l14_ann_pandas"] = _l14_run
ORACLE["l14_ann_pandas"] = _l8(DUCK)


# ---------------------------------------------------------------------------
# L15 multimodal feature extraction through the REAL mapInPandas path
# (operators/multimodal.py): byte-level features over opaque payloads; the
# oracle recomputes the SQL-expressible subset (n_bytes, n_frames) from the
# text bytes — if the Arrow plumbing mangles payloads, counts diverge
# ---------------------------------------------------------------------------
def _l15_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    relations(spark, sf_dir, ["documents"])
    feats = extract_features(documents_as_media(spark.table("documents")))
    return feats.selectExpr("media_id AS doc_id", "n_bytes", "n_frames")


QUERIES["l15_multimodal_features"] = _l15_run
ORACLE["l15_multimodal_features"] = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
FROM documents"""


# ---------------------------------------------------------------------------
# L17 resize → feature-extract chain through the mapInPandas path: the
# deterministic stand-in resize (crop/cycle-pad to width*height bytes)
# is byte-exactly restatable in SQL, so the oracle checks the WHOLE chain
# including the resized payload's content (byte_mean), not just counts.
# documents text is ASCII (verified), so DuckDB char ops == byte ops.
# ---------------------------------------------------------------------------
_L17_W, _L17_H = 16, 8


def _l17_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
        resize_media,
    )

    relations(spark, sf_dir, ["documents"])
    media = resize_media(
        documents_as_media(spark.table("documents")), _L17_W, _L17_H
    )
    feats = extract_features(media)
    return feats.selectExpr(
        "media_id", "n_bytes", "byte_mean", "n_frames"
    )


QUERIES["l17_resize_features"] = _l17_run
ORACLE["l17_resize_features"] = f"""
WITH r AS (
  SELECT doc_id,
         substring(repeat(text, CAST(floor({_L17_W * _L17_H}.0
                                      / length(text)) AS INT) + 1),
                   1, {_L17_W * _L17_H}) AS rz
  FROM documents
)
SELECT doc_id AS media_id,
       CAST({_L17_W * _L17_H} AS BIGINT) AS n_bytes,
       list_reduce(list_transform(range(1, {_L17_W * _L17_H} + 1),
                                  i -> CAST(ord(substring(rz, i, 1)) AS DOUBLE)),
                   (a, b) -> a + b) / {_L17_W * _L17_H} AS byte_mean,
       CAST(1 AS BIGINT) AS n_frames
FROM r"""


# ---------------------------------------------------------------------------
# L10 multimodal binary-column stats: opaque bytes + typed metadata
# (decode itself is a stubbed Pandas-UDF path, operators/multimodal.py)
# ---------------------------------------------------------------------------
def _l10(d) -> str:
    nbytes = d.byte_len("text")
    return f"""
SELECT doc_id,
       CAST({nbytes} AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST({d.idiv(f'({nbytes} + 255)', 256)} AS BIGINT) AS n_chunks
FROM documents"""


register(QUERIES, ORACLE, "l10_multimodal_binary", _l10)


# ---------------------------------------------------------------------------
# L18 deterministic split + sample assignment: content-addressed md5-bucket
# train/val/test split (80/10/10) plus a 5% sample flag, entirely map-side
# (no shuffle, no RNG) — the reproducible-split primitive of a training
# corpus pipeline: the same document lands in the same split on any
# cluster, any partitioning, any rerun, and late-arriving data never
# reshuffles earlier assignments. Exact across engines because the hash
# is md5, not an engine-local function.
# ---------------------------------------------------------------------------
def _hex_int(d, var: str, n_nibbles: int = 8) -> str:
    nibbles = []
    for j in range(1, n_nibbles + 1):
        pos = d.strpos("'0123456789abcdef'", f"substring(md5({var}), {j}, 1)")
        # widen before the multiply: 32-bit positions overflow under ANSI
        nibbles.append(
            f"CAST({pos} - 1 AS BIGINT) * {16 ** (n_nibbles - j)}"
        )
    return "(" + " + ".join(nibbles) + ")"


def _l18(d) -> str:
    return f"""
SELECT doc_id, source, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       CASE WHEN sample_h < 5 THEN 1 ELSE 0 END AS in_5pct_sample
FROM (
  SELECT doc_id, source,
         {_hex_int(d, 'text')} % 100 AS bucket,
         {_hex_int(d, "'sample|' || text")} % 100 AS sample_h
  FROM documents) h"""


register(QUERIES, ORACLE, "l18_split_sample", _l18)


# ---------------------------------------------------------------------------
# L19 TF-IDF distinctive terms: top-3 terms per document by tf/df — the
# term-weighting primitive behind corpus search / topical clustering.
# Score uses a single IEEE division (exact in both engines) instead of a
# log-idf, so values hash-match without rounding tolerance. Scale shape:
# tf = one shuffle on (doc_id, word) with map-side partial agg; df reuses
# tf's output (one narrow groupBy on word — no COUNT(DISTINCT) shuffle);
# the tf⋈df equi-join on word is AQE-handled; top-k per doc is a window
# with WindowGroupLimit pushdown (rank<=3 applied partially pre-shuffle).
# ---------------------------------------------------------------------------
# tf feeds both df and the scoring join — inlined, the word explode +
# groupBy would run twice
relation("l19_tf", cached=True)(lambda d: (
    f"SELECT doc_id, word, COUNT(*) AS tf FROM (SELECT doc_id, word "
    f"FROM documents {d.explode(d.split('text'), 'word')}) w "
    f"GROUP BY doc_id, word"))


def _l19(d) -> str:
    return """
WITH df AS (SELECT word, COUNT(*) AS df FROM l19_tf GROUP BY word),
scored AS (
  SELECT t.doc_id, t.word, t.tf, d.df,
         CAST(t.tf AS DOUBLE) / CAST(d.df AS DOUBLE) AS score
  FROM l19_tf t JOIN df d ON d.word = t.word
)
SELECT doc_id, word, tf, df, score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, word) AS BIGINT) AS rank
  FROM scored
) x WHERE rank <= 3"""


register(QUERIES, ORACLE, "l19_tfidf_terms", _l19)


# ---------------------------------------------------------------------------
# L20 document chunking: fixed-size overlapping token windows (size 50,
# stride 40 → 10-token overlap) — the map-only sharding primitive that
# turns documents into training sequences. Per chunk: position, exact token
# count, and a content fingerprint (so downstream dedup can run at chunk
# grain). Entirely map-side — the sequence/slice runs inside the row, the
# explode multiplies rows without any shuffle; at 100 TB this is a pure
# scan→write stage whose output partitioning follows the input.
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 50
_CHUNK_STRIDE = 40


def _l20(d) -> str:
    starts = d.seq_step("1", d.alen("ws"), _CHUNK_STRIDE)
    chunk_text = d.slice_join("ws", "chunk_start", _CHUNK_SIZE)
    return f"""
SELECT doc_id, lang,
       CAST((chunk_start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(LEAST({_CHUNK_SIZE}, n_toks - chunk_start + 1) AS BIGINT)
           AS n_chunk_tokens,
       md5({chunk_text}) AS chunk_fp
FROM (
  SELECT doc_id, lang, ws, {d.alen('ws')} AS n_toks
  FROM (SELECT doc_id, lang, {d.split('text')} AS ws FROM documents) t
) w {d.explode(starts, 'chunk_start')}"""


register(QUERIES, ORACLE, "l20_chunking", _l20)


# ---------------------------------------------------------------------------
# L21 per-language bigram statistics: the n-gram frequency table a language
# model's data-prep stage builds — top-10 word bigrams per language with
# document frequency. One explode of per-doc DISTINCT bigram arrays (dedup
# inside the array, no DISTINCT shuffle), one groupBy, one windowed top-k
# with WindowGroupLimit pushdown.
# ---------------------------------------------------------------------------
def _l21(d) -> str:
    starts = d.seq("1", f"{d.alen('ws')} - 1")
    bg_arr = d.lmap(starts, "i", d.slice_join("ws", "i", 2))
    return f"""
SELECT lang, bigram, n_docs, rank FROM (
  SELECT lang, bigram, n_docs,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY n_docs DESC, bigram) AS BIGINT) AS rank
  FROM (
    SELECT lang, bigram, COUNT(*) AS n_docs
    FROM (
      SELECT doc_id, lang, {d.adistinct(bg_arr)} AS bgs
      FROM (SELECT doc_id, lang, {d.split('text')} AS ws FROM documents) w
      WHERE {d.alen('ws')} >= 2
    ) a {d.explode_ne('bgs', 'bigram')}
    GROUP BY lang, bigram
  ) c
) r WHERE rank <= 10"""


register(QUERIES, ORACLE, "l21_bigram_stats", _l21)


# ---------------------------------------------------------------------------
# L22 stratified deterministic sampling: per-language keep rates (corpus
# rebalancing — downsample the over-represented languages) via the same
# content-addressed md5 bucket as l18, so the SAME document keeps/drops on
# any cluster, partitioning, or rerun, and changing one stratum's rate
# never reshuffles another's sample. Map-only; the rate table is an inline
# VALUES broadcast.
# ---------------------------------------------------------------------------
_L22_RATES = [("en", 20), ("de", 50), ("zh", 50), ("fr", 80), ("es", 80)]


def _l22(d) -> str:
    rates = ", ".join(f"('{lang}', {pct})" for lang, pct in _L22_RATES)
    return f"""
SELECT lang, rate_pct,
       COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS kept_frac
FROM (
  SELECT dd.lang, r.rate_pct,
         CASE WHEN {_hex_int(d, 'text')} % 100 < r.rate_pct
              THEN 1 ELSE 0 END AS kept
  FROM documents dd
  JOIN (VALUES {rates}) AS r(r_lang, rate_pct) ON r.r_lang = dd.lang
) s
GROUP BY lang, rate_pct"""


register(QUERIES, ORACLE, "l22_stratified_sample", _l22)


# ---------------------------------------------------------------------------
# L23 frame sampling as a declared query: every 4th fixed-size frame of
# each media payload (operators/multimodal.py sample_frames — JVM-side
# chunk explode, decode stubbed to byte slicing). The oracle reformulates
# byte-slicing as hex-string slicing (DuckDB 1.0 cannot slice BLOBs), so
# the two sides share no code path yet must produce identical frames.
# ---------------------------------------------------------------------------
def _l23_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    relations(spark, sf_dir, ["documents"])
    media = documents_as_media(spark.table("documents"))
    return sample_frames(media, every_n=4).selectExpr(
        "media_id",
        "CAST(frame_idx AS BIGINT) AS frame_idx",
        "hex(frame) AS frame_hex",
    )


QUERIES["l23_frame_sample"] = _l23_run
ORACLE["l23_frame_sample"] = """
SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
       substring(hex(encode(text)), CAST(i AS INT) * 512 + 1, 512) AS frame_hex
FROM documents,
     UNNEST(range(0, greatest(0, (octet_length(encode(text)) - 1) // 256) + 1))
       AS t(i)
WHERE i % 4 = 0"""


# ---------------------------------------------------------------------------
# L24 PII scrubbing: regex redaction of emails / phone numbers / IPv4s —
# the standard pre-training privacy pass. PII is planted deterministically
# into the synthetic corpus (it contains none), then counted and redacted;
# per-doc fingerprints of the redacted text make the oracle value-level.
# Patterns avoid backslashes so one literal serves both regex engines
# (Java in Spark codegen, RE2 in DuckDB). Map-only over the corpus scan —
# no shuffle at any scale.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PHONE_RE = "[+][0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
_IP_RE = "([0-9]{1,3}[.]){3}[0-9]{1,3}"


def _l24(d) -> str:
    did = d.s("doc_id")
    planted = f"""text
      || CASE WHEN doc_id % 7 = 0
              THEN ' contact u' || {did} || '@example.com now' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' call +1 555 010 4242' ELSE '' END
      || CASE WHEN doc_id % 13 = 0
              THEN ' from 10.0.' || {did} || '.99 today' ELSE '' END"""
    redacted = d.re_replace_all(
        d.re_replace_all(
            d.re_replace_all("t", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ),
        _IP_RE,
        "<IP>",
    )
    return f"""
SELECT doc_id,
       CAST({d.re_count('t', _EMAIL_RE)} AS BIGINT) AS n_emails,
       CAST({d.re_count('t', _PHONE_RE)} AS BIGINT) AS n_phones,
       CAST({d.re_count('t', _IP_RE)} AS BIGINT) AS n_ips,
       md5({redacted}) AS redacted_fp,
       CAST(length({redacted}) AS BIGINT) AS redacted_len
FROM (SELECT doc_id, {planted} AS t FROM documents) corpus"""


register(QUERIES, ORACLE, "l24_pii_scrub", _l24)


# ---------------------------------------------------------------------------
# L25 decontamination: drop training docs that share any 4-gram shingle
# with the held-out benchmark slice (doc_id % 97 = 0 plays the benchmark).
# The overlap check is a shingle equi-join against the benchmark's
# DISTINCT shingle set — bucketed by shingle, never all-pairs; the
# benchmark side is tiny and broadcasts. Same scale shape as l4/l6.
# The shingle set (referenced by bench AND hits) is l4's index; inlined,
# it re-derived the whole corpus shingle pipeline twice (3 doc scans
# total). Hashed keys are equality-only here, same collision argument as
# l4.
# ---------------------------------------------------------------------------
def _l25(d) -> str:
    return "WITH " + """
bench AS (SELECT DISTINCT shingle FROM l4_shingles WHERE doc_id % 97 = 0),
hits AS (
  SELECT DISTINCT s.doc_id
  FROM l4_shingles s JOIN bench b ON b.shingle = s.shingle
  WHERE s.doc_id % 97 <> 0
)
SELECT dd.source,
       COUNT(*) AS n_train_docs,
       CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clean
FROM documents dd LEFT JOIN hits h ON h.doc_id = dd.doc_id
WHERE dd.doc_id % 97 <> 0
GROUP BY dd.source"""


register(QUERIES, ORACLE, "l25_decontaminate", _l25)


# ---------------------------------------------------------------------------
# L26 repetition filter (Gopher-style): per-doc top-word frequency ratio
# and distinct-word ratio; keep = not dominated by one token and lexically
# diverse. One (doc_id, word) groupBy with map-side partial aggregation —
# the scan dominates at 100 TB.
# ---------------------------------------------------------------------------
def _l26(d) -> str:
    words_from = d.explode(d.split("text"), "word")
    return f"""
WITH wc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, text FROM documents) dws {words_from}
  GROUP BY doc_id, word
),
agg AS (
  SELECT doc_id, MAX(c) AS max_freq,
         CAST(SUM(c) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct
  FROM wc GROUP BY doc_id
)
SELECT doc_id, max_freq, n_words, n_distinct,
       round(CAST(max_freq AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
           AS top_freq_ratio,
       round(CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
           AS distinct_ratio,
       CASE WHEN CAST(max_freq AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2
             AND CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.3
            THEN 1 ELSE 0 END AS keep
FROM agg"""


register(QUERIES, ORACLE, "l26_repetition_filter", _l26)


# ---------------------------------------------------------------------------
# L27 dedup keep-list: the step after l16's connected components — keep
# the canonical (min-doc-id) survivor of every near-dup group, drop the
# rest, and report per-source retention. Reuses l16's propagation result
# (a registry entry: the groups relation is checkpointed once per
# session and sf_dir and shared, so the bench pays the iterative join a
# single time).
# ---------------------------------------------------------------------------
def _l16_groups(spark: SparkSession, sf_dir: str):
    return materialize(spark, sf_dir, "l16_groups", lambda: _l16_run(spark, sf_dir))


# l16 itself serves from the same entry — the iterative propagation runs
# once per (session, sf_dir) no matter how many consumers ask
QUERIES["l16_dedup_groups"] = _l16_groups


def _l27_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    groups = _l16_groups(spark, sf_dir)
    docs = spark.table("documents")
    return (
        docs.join(groups, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("group_id") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("group_id") != F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )


QUERIES["l27_dedup_keep_list"] = _l27_run
ORACLE["l27_dedup_keep_list"] = duck_pipeline_sql(f"""
WITH RECURSIVE {_L16_WALK},
groups AS (SELECT doc AS doc_id, MIN(lab) AS group_id FROM walk GROUP BY doc)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN g.group_id = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(SUM(CASE WHEN g.group_id <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped
FROM documents d JOIN groups g ON g.doc_id = d.doc_id
GROUP BY d.source""")


# ---------------------------------------------------------------------------
# L28 source-mixture weights: the token-budget allocation a training run
# derives from corpus composition (Pile/Dolma-style): per source, token
# counts and corpus share, then a CAPPED mixture weight — share clipped at
# 5% and the excess water-filled over the uncapped sources (so no single
# source dominates the batch mix). A single-pass "cap then renormalize the
# rest" is NOT a fixed point: with shares {0.96, 0.04} it hands the 4%
# source 0.95 of the budget, re-violating the cap. The fixed point is
# weight_i = min(cap, share_i * t) with t chosen so the weights sum to 1;
# t is found closed-form by ranking shares descending and testing each
# split "top-k capped": t_k = (1 - k*cap) / (1 - prefix_share_k), valid
# when rank k would still cap (share_k*t_k >= cap) and rank k+1 would not
# (share_{k+1}*t_k <= cap). Exactly one split is valid when n*cap > 1;
# when no split is valid (n*cap <= 1 the cap is infeasible — total
# capacity can't reach 1) fall back to the uniform 1/n mix.
# Totals come from unpartitioned window sums over the (tiny) per-source
# aggregate, NOT cross-joined CTE re-references: Spark inlines CTEs, so a
# `tot`/`caps` CTE would re-scan and re-tokenize the whole corpus once per
# reference (measured: 14 Exchanges vs 3; at 100 TB that is 3 extra full
# scans). One corpus scan, then windows over ~#sources rows.
# ---------------------------------------------------------------------------
_L28_CAP = 0.05


def _l28(d) -> str:
    n_tok = f"CAST({d.alen(d.split('text'))} AS BIGINT)"
    cap = _L28_CAP
    return f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM({n_tok}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
shares AS (
  SELECT source, n_docs, n_tokens,
         n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS share,
         COUNT(*) OVER () AS n_src
  FROM per_source
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY share DESC, source) AS rk,
         SUM(share) OVER (ORDER BY share DESC, source
                          ROWS UNBOUNDED PRECEDING) AS pshare,
         LEAD(share) OVER (ORDER BY share DESC, source) AS next_share
  FROM shares
),
cands AS (
  SELECT *,
         CASE WHEN rk < n_src
                   AND (1 - rk * {cap}) > 0
                   AND share * (1 - rk * {cap}) / (1 - pshare) >= {cap}
                   AND next_share * (1 - rk * {cap}) / (1 - pshare) <= {cap}
              THEN (1 - rk * {cap}) / (1 - pshare)
              WHEN rk = 1 AND share <= {cap} THEN CAST(1 AS DOUBLE)
         END AS valid_t
  FROM ranked
),
solved AS (SELECT *, MAX(valid_t) OVER () AS t FROM cands)
SELECT source, n_docs, n_tokens,
       round(share, 6) AS corpus_share,
       round(CASE WHEN t IS NULL THEN 1.0 / n_src
                  WHEN share * t > {cap} THEN {cap}
                  ELSE share * t END, 6) AS mixture_weight
FROM solved"""


register(QUERIES, ORACLE, "l28_source_mixture", _l28)

# ---------------------------------------------------------------------------
# L29 semantic dedup (SemDeDup-style): cluster embeddings with the SAME
# coarse quantizer that backs the IVF index (l9_assign — on a cluster this
# is the persisted index table, built once and reused), then compare pairs
# ONLY within a cluster and drop every vector whose cosine to a lower-id
# cluster-mate clears the threshold. The O(n²) semantic comparison
# collapses to per-cluster work keyed by the assignment — the partition
# key at 100 TB; per-cluster search is embarrassingly parallel and the
# pairs relation is sized by near-duplicates, not the corpus.
# ---------------------------------------------------------------------------
_L29_TAU = 0.35


# a real IVF index stores the vectors WITH the assignment: joining them
# once at index build (on top of l9's quantization — free if l9 ran first)
# means the dedup query below touches the embeddings corpus zero times (it
# references the index three times — both pair sides + the verdict;
# inlined, that would have been three corpus scans)
relation("l29_index", cached=True)(lambda d: """
  SELECT a.vec_id, a.bucket, e.embedding
  FROM l9_assign a JOIN embeddings e ON e.vec_id = a.vec_id""")


def _l29(d) -> str:
    cos = _cosine(d, d.dvec("a.embedding"), d.dvec("b.embedding"))
    return "WITH " + f"""
pairs AS (
  SELECT b.vec_id AS dup_id, a.vec_id AS keep_id
  FROM l29_index a
  JOIN l29_index b ON b.bucket = a.bucket AND b.vec_id > a.vec_id
  WHERE round({cos}, 4) >= {_L29_TAU}
)
SELECT e.vec_id, CAST(e.bucket AS BIGINT) AS bucket,
       CASE WHEN MIN(p.keep_id) IS NULL THEN 1 ELSE 0 END AS keep,
       MIN(p.keep_id) AS dup_of
FROM l29_index e
LEFT JOIN pairs p ON p.dup_id = e.vec_id
GROUP BY e.vec_id, e.bucket"""


register(QUERIES, ORACLE, "l29_semantic_dedup", _l29)


# ---------------------------------------------------------------------------
# L30 duplicate-span coverage (ExactSubstr, deduplicating-training-data
# style, window-hash approximation): hash every 8-token rolling window,
# find windows appearing in >= 2 distinct docs, and report per doc the
# fraction of token positions covered by a shared window. Window rows are
# O(corpus tokens) — one map-side-combined groupBy on the 8-byte window
# hash; the coverage explode is sized by SHARED windows only (the
# duplicate tail, not the corpus). Exact-dup docs score 1.0, partial
# overlaps score the overlapped span fraction.
# ---------------------------------------------------------------------------
_L30_K = 8


def _docw(d, k: int) -> str:
    """doc_id + word-array subquery gated to >= k tokens. The gate runs
    BEFORE any window explode: sequence(1, n-k+1) with n < k would
    descend through 0 in Spark and slice() rejects start 0. Sub-window
    docs cannot contain a k-token window and are not scored."""
    return (
        f"(SELECT doc_id, ws "
        f"FROM (SELECT doc_id, {d.split('text')} AS ws FROM documents) t "
        f"WHERE {d.alen('ws')} >= {k}) docw"
    )


def _l30_win_sql(d) -> str:
    k = _L30_K
    starts = d.seq("1", f"{d.alen('ws')} - {k - 1}")
    return f"""
  SELECT doc_id, s, {d.h64(d.slice_join('ws', 's', k))} AS h
  FROM {_docw(d, k)}
  {d.explode_ne(starts, 's')}"""


# the window-hash relation is referenced THREE times (shared totals,
# coverage join, per-doc totals); inlined CTEs would re-scan and re-window
# the corpus per reference. Per-doc totals derive from it (count + k - 1 =
# token count, exact because starts is 1..n-k+1), keeping the whole query
# at ONE corpus scan. On a cluster this is the persisted span index a
# dedup sweep would build anyway.
relation("l30_win", cached=True)(_l30_win_sql)


def _l30(d) -> str:
    k = _L30_K
    return "WITH " + f"""
shared AS (
  SELECT h FROM l30_win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
cover AS (
  SELECT DISTINCT w.doc_id, pos
  FROM l30_win w JOIN shared sh ON sh.h = w.h
  {d.explode_ne(d.seq('w.s', f'w.s + {k - 1}'), 'pos')}
),
cov_agg AS (SELECT doc_id, COUNT(*) AS covered FROM cover GROUP BY doc_id),
per_doc AS (SELECT doc_id, COUNT(*) + {k - 1} AS n_tokens
            FROM l30_win GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.covered, 0) AS BIGINT) AS dup_tokens,
       round(COALESCE(c.covered, 0) / CAST(p.n_tokens AS DOUBLE), 6)
           AS dup_frac
FROM per_doc p LEFT JOIN cov_agg c ON c.doc_id = p.doc_id"""


register(QUERIES, ORACLE, "l30_dup_span_fraction", _l30)


# ---------------------------------------------------------------------------
# L31 candidate verification: the production fuzzy-dedup stage between LSH
# banding (l6) and group-building (l16) — every banded candidate pair is
# re-checked with EXACT 4-gram Jaccard, so false-positive bucket
# collisions never merge distinct documents. The exact computation runs
# only on the candidate pairs (shingle join keyed by doc — sized by
# candidates, never all-pairs), which is why it stays cheap at 100 TB
# while keeping banding recall.
#
# "Exact" is modulo the shared 64-bit shingle-hash space (same caveat as
# the l4_shingles index): an intra-document hash collision would shift
# sizes/inter by 1 and each engine hashes differently (xxhash64 vs duckdb
# hash), so parity is probabilistic with odds ~n_shingles²/2⁶⁴ per doc
# (~1e-7 at driver SFs). The thresholded `verified` bit is additionally
# insulated unless the true Jaccard sits within 1/n_sh of the cut.
# Every derived set is an index (minhash signatures, hashed shingles, AND
# the banded candidate pairs — `l6_cands` is referenced twice below, so an
# inlined band join executed twice): the verify stage adds joins, not
# rebuilds.
# ---------------------------------------------------------------------------
_L31_JACCARD = 0.35


def _l31(d) -> str:
    # LEFT joins + zero-denominator guard: a 3-word doc carries a minhash
    # signature (3-gram) and can band-collide, yet has NO 4-gram shingle
    # rows — inner joins to `sizes` would silently DROP that candidate
    # instead of reporting it verified=0, breaking the "every candidate
    # re-checked" contract.
    denom = (
        f"COALESCE(na.n_sh, 0) + COALESCE(nb.n_sh, 0) "
        f"- COALESCE(i.n_inter, 0)"
    )
    jac = (
        f"CASE WHEN {denom} > 0 THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE) "
        f"/ CAST({denom} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
    )
    return "WITH " + f"""
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM l4_shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM l6_cands c
  JOIN l4_shingles sa ON sa.doc_id = c.doc_a
  JOIN l4_shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b, c.est_sim,
       round({jac}, 6) AS jaccard,
       CASE WHEN {jac} >= {_L31_JACCARD} THEN 1 ELSE 0 END AS verified
FROM l6_cands c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
LEFT JOIN sizes na ON na.doc_id = c.doc_a
LEFT JOIN sizes nb ON nb.doc_id = c.doc_b"""


register(QUERIES, ORACLE, "l31_candidate_verify", _l31)


# ---------------------------------------------------------------------------
# L32 vocabulary coverage curve: the tokenizer-budget planning table — the
# corpus word-frequency ranking with cumulative token coverage (what
# fraction of corpus tokens the top-N vocabulary entries cover). One
# map-side-combined groupBy builds the vocab; the ranking window runs
# over the VOCAB relation (orders of magnitude smaller than the corpus),
# which is the standard shape at 100 TB — the corpus is never sorted.
# ---------------------------------------------------------------------------
def _l32(d) -> str:
    return f"""
WITH wc AS (
  SELECT word, COUNT(*) AS c
  FROM (SELECT doc_id, text FROM documents) dws {d.explode(d.split('text'), 'word')}
  GROUP BY word
),
ranked AS (
  SELECT word, c,
         CAST(ROW_NUMBER() OVER (ORDER BY c DESC, word) AS BIGINT) AS vocab_rank,
         SUM(c) OVER (ORDER BY c DESC, word ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS tot
  FROM wc
)
SELECT vocab_rank, word, CAST(c AS BIGINT) AS freq,
       round(cum / CAST(tot AS DOUBLE), 6) AS coverage
FROM ranked WHERE vocab_rank <= 100"""


register(QUERIES, ORACLE, "l32_vocab_coverage", _l32)


# ---------------------------------------------------------------------------
# L33 n-gram LM quality scoring (CCNet-style): score every document by its
# average bigram negative log-likelihood under the corpus's OWN bigram
# model (MLE P(w2|w1) = c(w1 w2)/c(w1) — no smoothing needed: every doc
# bigram exists in the corpus it came from), then bucket head/middle/tail
# exactly as CCNet routes perplexity tertiles. The token-level bigram
# stream is an index (referenced by the model counts AND the scoring
# join); per-term log-probs quantize to integer
# micro-nats BEFORE summation so the aggregate is an exact integer sum —
# float SUM order across partitions would otherwise drift the last ulp
# between engines. Counts tables are vocab-sized (broadcastable); the
# scoring join shuffles on the word keys — rows ∝ corpus tokens, the
# same single-pass shape at 100 TB.
# ---------------------------------------------------------------------------
def _l33_bg_sql(d) -> str:
    starts = d.seq("1", f"{d.alen('ws')} - 1")
    return f"""
SELECT doc_id, {d.slice_join('ws', 'i', 2)} AS bigram, {d.idx('ws', 'i')} AS w1
FROM {_docw(d, 2)}
{d.explode_ne(starts, 'i')}"""


relation("l33_bg", cached=True)(_l33_bg_sql)


def _l33(d) -> str:
    nll = "-sum_logp_micro"
    avg = d.idiv(nll, "n_bigrams")
    return "WITH " + f"""
lm AS (SELECT bigram, COUNT(*) AS c_bg FROM l33_bg GROUP BY bigram),
uni AS (SELECT w1, COUNT(*) AS c_w1 FROM l33_bg GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(CAST(round(ln(CAST(l.c_bg AS DOUBLE) / u.c_w1) * 1000000)
                       AS BIGINT)) AS BIGINT) AS sum_logp_micro
  FROM l33_bg b
  JOIN lm l ON l.bigram = b.bigram
  JOIN uni u ON u.w1 = b.w1
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams,
       {avg} AS avg_nll_micro,
       CASE WHEN {avg} < 3400000 THEN 'head'
            WHEN {avg} < 3550000 THEN 'middle'
            ELSE 'tail' END AS quality_bucket
FROM scored"""


register(QUERIES, ORACLE, "l33_lm_quality_score", _l33)


# ---------------------------------------------------------------------------
# L34 source-overlap matrix: corpus-governance view of cross-source
# content duplication — for every source pair, the count of shared
# 4-gram shingles and the containment ratio (shared / smaller source's
# shingle set). Reads l4's hashed-shingle index; the self-join
# runs on SOURCE-distinct shingle sets (one row per (source, shingle) —
# orders of magnitude below doc grain), so the pair fan-out is bounded
# by per-shingle source counts, never doc counts. Output is
# #sources² rows — driver-side tiny at any corpus size.
# ---------------------------------------------------------------------------
# src_sh is referenced THREE times (totals + both self-join sides);
# inlined, each reference re-runs the doc→source attach over the corpus —
# as an index over l4's shingles the whole query pays a single documents
# scan at build time
relation("l34_src_sh", cached=True)(lambda d: """
  SELECT DISTINCT d.source, s.shingle
  FROM l4_shingles s JOIN documents d ON d.doc_id = s.doc_id""")


def _l34(d) -> str:
    return "WITH " + """
tot AS (SELECT source, COUNT(*) AS n_sh FROM l34_src_sh GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_shingles
  FROM l34_src_sh a JOIN l34_src_sh b
    ON b.shingle = a.shingle AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, CAST(p.shared_shingles AS BIGINT) AS shared_shingles,
       round(CAST(p.shared_shingles AS DOUBLE)
             / CASE WHEN ta.n_sh < tb.n_sh THEN ta.n_sh ELSE tb.n_sh END, 6)
           AS containment
FROM pairs p
JOIN tot ta ON ta.source = p.source_a
JOIN tot tb ON tb.source = p.source_b"""


register(QUERIES, ORACLE, "l34_source_overlap", _l34)


# ---------------------------------------------------------------------------
# L35 incremental dedup admission: the shape that keeps 100 TB dedup from
# being recomputed daily — a NEW batch (doc_id % 10 = 0 plays today's
# arrivals) is checked against the EXISTING corpus's banded minhash index
# (the mh_sigs index), and each new doc is accepted or rejected
# with its best existing near-duplicate. The join is new-bands × old-bands
# on the band key: cost ∝ batch size, never corpus², and the index grows
# append-only as accepted docs band in.
# ---------------------------------------------------------------------------
def _l35(d) -> str:
    # bands come from _l6_bands — the SAME banded index l6 queries,
    # not a re-derivation
    matches = " + ".join(
        f"(CASE WHEN n.h{j} = o.h{j} THEN 1 ELSE 0 END)"
        for j in range(_N_HASHES)
    )
    return f"WITH {_l6_bands()}, " + f"""
new_bands AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
old_bands AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
hits AS (
  SELECT DISTINCT n.doc_id, o.doc_id AS dup_of,
         round(CAST({matches} AS DOUBLE) / {_N_HASHES}, 6) AS est_sim
  FROM new_bands n JOIN old_bands o
    ON o.band_idx = n.band_idx AND o.band_val = n.band_val
),
best AS (
  SELECT doc_id, dup_of, est_sim,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY est_sim DESC, dup_of) AS rn
  FROM hits WHERE est_sim >= {_L16_SIM}
)
SELECT d.doc_id,
       CASE WHEN b.dup_of IS NULL THEN 1 ELSE 0 END AS accepted,
       b.dup_of, b.est_sim
FROM documents d
LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
WHERE d.doc_id % 10 = 0"""


register(QUERIES, ORACLE, "l35_incremental_dedup", _l35)


# ---------------------------------------------------------------------------
# L36 sequence packing: the pretraining-batch layout step — documents are
# concatenated into a token stream per source and cut into fixed
# SEQ_LEN-token training sequences (concat-and-chunk packing; a doc whose
# tokens straddle a cut spans two bins, the standard packed-pretraining
# convention). Per doc: the bin its FIRST token lands in and the offset
# within that bin, from one windowed cumulative sum.
#
# Scale shape: the running cursor is inherently sequential, so the window
# PARTITIONS BY source — each source's stream packs independently and in
# parallel (at 100 TB: partition by (source, shard) to bound partition
# size; sequences never cross shards, exactly how distributed packers cut
# their input). One corpus scan, one shuffle on the partition key.
# ---------------------------------------------------------------------------
_L36_SEQ_LEN = 2048


def _l36(d) -> str:
    n_tok = f"CAST({d.alen(d.split('text'))} AS BIGINT)"
    return f"""
WITH toks AS (
  SELECT doc_id, source, {n_tok} AS n_tokens FROM documents
),
cursor AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST({d.idiv(f'(cum - n_tokens)', str(_L36_SEQ_LEN))} AS BIGINT)
           AS bin_id,
       CAST((cum - n_tokens) % {_L36_SEQ_LEN} AS BIGINT) AS bin_offset,
       CAST(CASE WHEN {d.idiv('(cum - 1)', str(_L36_SEQ_LEN))}
                      > {d.idiv('(cum - n_tokens)', str(_L36_SEQ_LEN))}
                 THEN 1 ELSE 0 END AS INT) AS spans_boundary
FROM cursor"""


register(QUERIES, ORACLE, "l36_sequence_packing", _l36)


# ---------------------------------------------------------------------------
# L37 product-quantization ANN (the second canonical 100 TB vector path,
# next to l9's IVF): vectors are cut into M=4 subspaces of 16 dims; each
# subspace gets a K=8 codeword book (here the seed-sample codebook — the
# first K vectors sliced; a production deployment trains per-subspace
# k-means with operators/ann.py's kmeans, exactly like l9's production
# note). Every vector is ENCODED once as M one-byte codes (16× smaller
# than the raw floats — the index that fits where 100 TB of vectors
# don't), and a query scans CODES, not vectors: it builds an M×K lookup
# table of subspace distances and the per-candidate asymmetric distance
# is a pure LUT-sum join — no float vector math in the corpus-sized inner
# loop. The ADC shortlist (top-50) is re-ranked with exact cosine, and
# only those 50 raw vectors are ever fetched.
#
# Scale shape: encoding is one map-only corpus scan against a broadcast
# 32-row codebook; the query side joins the codes table to a 32-row LUT
# and aggregates M rows per candidate — shuffle carries (q, cand, 4
# doubles), never embeddings. Deterministic end-to-end (left-fold float
# sums are order-identical in both engines; rank ties break on cand_id),
# so the oracle is value-exact.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_SHORTLIST = 4, 16, 8, 50


def _pq_d2(d, a: str, b: str) -> str:
    """Squared L2 via dot-product algebra (reuses the shared fold helpers;
    identical left-fold order in both engines)."""
    return (f"({d.fold_sum(d.zip_mul(a, a))} "
            f"- 2 * {d.fold_sum(d.zip_mul(a, b))} "
            f"+ {d.fold_sum(d.zip_mul(b, b))})")


def _l37_slices(d) -> str:
    """subs / cb / sliced — the codebook and per-vector subspace slices."""
    vec = d.dvec("e.embedding")
    subs = ", ".join(
        f"({j}, {j * _PQ_SUBDIM + 1})" for j in range(_PQ_M)
    )
    sl = d.vslice(vec, "s.sub_start", _PQ_SUBDIM)
    return f"""subs(sub_j, sub_start) AS (VALUES {subs}),
cb AS (
  SELECT e.vec_id AS c_id, s.sub_j, {sl} AS cvec
  FROM embeddings e CROSS JOIN subs s WHERE e.vec_id < {_PQ_K}
),
sliced AS (
  SELECT e.vec_id, s.sub_j, {sl} AS svec
  FROM embeddings e CROSS JOIN subs s
)"""


def _l37_enc(d) -> str:
    """The PQ index build: each vector's nearest codeword per subspace."""
    return f"""WITH {_l37_slices(d)},
enc AS (
  SELECT vec_id, sub_j, c_id AS code FROM (
    SELECT v.vec_id, v.sub_j, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub_j
                              ORDER BY {_pq_d2(d, 'v.svec', 'c.cvec')} ASC,
                                       c.c_id) AS rn
    FROM sliced v JOIN cb c ON c.sub_j = v.sub_j
  ) x WHERE rn = 1
) SELECT * FROM enc"""


# enc (every vector's per-subspace code assignment — the PQ INDEX a
# deployment persists) is the expensive CTE and feeds the ADC join;
# inlined it recomputes the codebook rank per reference/run
relation("l37_enc", cached=True)(_l37_enc)


def _l37(d) -> str:
    cos = _cosine(d, d.dvec("q.embedding"), d.dvec("c.embedding"))
    return f"""WITH {_l37_slices(d)},
lut AS (
  SELECT q.vec_id AS q_id, c.sub_j, c.c_id,
         {_pq_d2(d, 'q.svec', 'c.cvec')} AS dq
  FROM sliced q JOIN cb c ON c.sub_j = q.sub_j WHERE q.vec_id < 5
),
adc AS (
  SELECT l.q_id, t.vec_id AS cand_id, SUM(l.dq) AS adist
  FROM l37_enc t JOIN lut l ON l.sub_j = t.sub_j AND l.c_id = t.code
  WHERE t.vec_id != l.q_id
  GROUP BY l.q_id, t.vec_id
),
short AS (
  SELECT q_id, cand_id FROM (
    SELECT q_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adist ASC, cand_id) AS rn
    FROM adc
  ) x WHERE rn <= {_PQ_SHORTLIST}
),
rerank AS (
  SELECT sh.q_id, sh.cand_id, round({cos}, 4) AS cosine
  FROM short sh
  JOIN embeddings q ON q.vec_id = sh.q_id
  JOIN embeddings c ON c.vec_id = sh.cand_id
)
SELECT q_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, cand_id) AS BIGINT)
            AS rank
  FROM rerank
) x WHERE rank <= 10"""


register(QUERIES, ORACLE, "l37_pq_ann", _l37)
