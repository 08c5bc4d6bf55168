"""LLM-training-data-pipeline query inventory (driver contract rows).

Extends the SURVEY §2 relational inventory with the data-pipeline
operators the 100 TB north star asks for: dedup (exact / n-gram
Jaccard / MinHash-LSH / SimHash), similarity search (brute-force
cosine top-k + hyperplane-LSH ANN + embedding near-dup), text
analysis, and multimodal byte/metadata stats.

Oracle strategy: everything built on portable hashes (md5/sha256) or
exact integer arithmetic ships a DuckDB oracle — including the
hyperplane-LSH queries, whose bucket codes come from exact integer
dot products against literal planes, so the oracle replays the *same*
LSH. Only the xxhash64-based sketches (MinHash, SimHash) have no
DuckDB twin; those are driver rows-only checks plus pytest recall
goldens against their exact counterparts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_uba_spark.operators import (
    bpe,
    dedup,
    multimodal,
    packing,
    sampling,
    similarity,
)
from datafusion_uba_spark.operators import text as text_ops
from datafusion_uba_spark.sources import load_table

# ---------------------------------------------------------------------------
# input loading
# ---------------------------------------------------------------------------


def _spread(
    df: DataFrame, spark: SparkSession, n_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition of an UNDER-SPLIT input — gated, not blind.

    The synthetic documents/embeddings fixtures are ONE parquet row
    group, so without this every narrow per-document pipeline runs as
    one task on one core of local[32] (round-2 bench pathology). But a
    real 100 TB input arrives in thousands of splits, and a full
    shuffle of the raw corpus there is pure waste — so this is a
    local-fixture compensation, applied only when the scan actually is
    under-split: we repartition only when the input has fewer than half
    the session's parallelism in partitions. A well-split input passes
    through with NO added Exchange (pinned by
    ``tests/test_llm_ops.py::test_spread_skips_well_split_input``).
    ``n_partitions`` is the explicit escape hatch (0/None = auto).
    """
    target = n_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, target // 2):
        return df
    return df.repartition(target)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(load_table(spark, sf_dir, "documents"), spark)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(load_table(spark, sf_dir, "embeddings"), spark)


# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


# --- real merge-table BPE oracle (operators/bpe.py twin) -------------------
#
# DuckDB replays the EXACT greedy merge walk with a recursive CTE over
# the distinct pre-token vocabulary. Symbol lists are encoded as
# strings with a double-space separator and double-space sentinels
# ('  a  b  '): pre-tokens can never contain a space (the pre-token
# regex excludes it), one boundary space on each side of a pair
# pattern enforces symbol alignment, and SQL replace()'s
# leftmost-non-overlapping scan is exactly BPE's within-pass merge
# order (the 'aaa' + (a,a) case merges to [aa, a] in both). Each
# recursive step applies ALL occurrences of the single lowest-ranked
# pair present; words exit when no ranked pair remains. Parity with
# operators/bpe.encode_word is pinned in tests/test_llm_ops.py.

_BPE_PRETOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # == text.BPE_TOKEN_RE


def _bpe_merge_values() -> str:
    rows = []
    for i, (a, b) in enumerate(bpe.load_merges()):
        ea, eb = a.replace("'", "''"), b.replace("'", "''")
        rows.append(f"('{ea}', '{eb}', {i})")
    return ", ".join(rows)


_BPE_WALK_CTES = f"""merges(lhs, rhs, rank) AS (VALUES {_bpe_merge_values()}),
bpe_words AS (
  SELECT doc_id,
         unnest(regexp_extract_all({_NORM}, '{_BPE_PRETOK_RE}')) AS w
  FROM documents
),
bpe_wc AS (
  SELECT doc_id, w, count(*) AS occ FROM bpe_words GROUP BY doc_id, w
),
bpe_init AS (
  SELECT w,
         '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  '
           AS cur
  FROM (SELECT DISTINCT w FROM bpe_wc)
),
bpe_walk(w, cur) AS (
  SELECT w, cur FROM bpe_init
  UNION ALL
  SELECT w, replace(cur, ' ' || b.lhs || '  ' || b.rhs || ' ',
                         ' ' || b.lhs || b.rhs || ' ')
  FROM (
    SELECT w, cur,
           (SELECT min_by(struct_pack(lhs := m.lhs, rhs := m.rhs), m.rank)
              FROM merges m
             WHERE contains(cur, ' ' || m.lhs || '  ' || m.rhs || ' ')) AS b
    FROM bpe_walk
  ) s
  WHERE b IS NOT NULL
),
bpe_lens AS (
  SELECT w, len(regexp_extract_all(cur, '[^ ]+')) AS n_sym
  FROM bpe_walk
  WHERE NOT EXISTS (
    SELECT 1 FROM merges m
    WHERE contains(bpe_walk.cur, ' ' || m.lhs || '  ' || m.rhs || ' '))
),
bpe_doc_tokens AS (
  SELECT d.doc_id, CAST(coalesce(sum(wc.occ * l.n_sym), 0) AS BIGINT) AS n
  FROM documents d
  LEFT JOIN bpe_wc wc ON wc.doc_id = d.doc_id
  LEFT JOIN bpe_lens l ON l.w = wc.w
  GROUP BY d.doc_id
)"""


def _shingles_from(toks: str) -> str:
    """Distinct word 3-shingles of a token-list expr, [] when < 3 tokens."""
    return (
        f"CASE WHEN len({toks}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({toks}) - 1), i -> {toks}[CAST(i AS INT)] || ' ' || "
        f"{toks}[CAST(i AS INT) + 1] || ' ' || {toks}[CAST(i AS INT) + 2])) "
        f"ELSE [] END"
    )


_SHINGLES = _shingles_from(_TOKS)
_QUANT = (
    "list_transform(embedding, x -> "
    "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
)


def _ddb_dot(a: str, b: str) -> str:
    """Exact integer dot product of two quantized DuckDB lists."""
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.text_stats(docs)


_ORACLE_TEXT_STATS = f"""
WITH base AS (
  SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
),
feat AS (
  SELECT doc_id, norm, toks,
    len(toks) AS n_tokens,
    length(norm) AS n_chars,
    length(regexp_replace(norm, '[^a-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(norm, '[^0-9]', '', 'g')) AS n_digit,
    length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS n_punct,
    len(list_filter(toks, t -> list_contains(
      ['the','and','of','to','in','is','a','that','it','for'], t))) AS n_stop
  FROM base
),
q AS (
  SELECT doc_id,
    CAST(n_tokens AS INT) AS n_tokens,
    CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
      AS n_bpe_tokens,
    CAST(n_chars AS INT) AS n_chars_norm,
    CAST(floor((n_alpha * 10000) / greatest(n_chars, 1)) AS BIGINT) AS alpha_bp,
    CAST(floor((n_digit * 10000) / greatest(n_chars, 1)) AS BIGINT) AS digit_bp,
    CAST(floor((n_punct * 10000) / greatest(n_chars, 1)) AS BIGINT) AS punct_bp,
    CAST(floor((n_stop * 10000) / greatest(n_tokens, 1)) AS BIGINT)
      AS stopword_bp,
    CAST(floor((len(list_distinct(toks)) * 10000) / greatest(n_tokens, 1))
      AS BIGINT) AS uniq_token_bp,
    CAST(floor((n_alpha * 100) / greatest(n_tokens, 1)) AS BIGINT)
      AS avg_token_len_centi,
    norm, toks
  FROM feat
)
SELECT doc_id, n_tokens, n_bpe_tokens, n_chars_norm, alpha_bp,
  stopword_bp, uniq_token_bp, avg_token_len_centi,
  CAST(CASE WHEN n_tokens IS NOT NULL THEN greatest(least(
    35 * alpha_bp + 25 * uniq_token_bp
    + 20 * least(4 * stopword_bp, 10000)
    + 20 * least(CAST(floor((n_tokens * 10000) / 64) AS BIGINT), 10000)
    - 30 * digit_bp - 30 * punct_bp, 1000000), 0) END AS BIGINT)
    AS quality_u,
  {text_ops.language_id_oracle_sql("norm")} AS lang_pred,
  sha256(norm) AS fingerprint,
  CASE WHEN len({_shingles_from("toks")}) > 0
       THEN list_sort(list_transform({_shingles_from("toks")}, s -> md5(s)))[1]
       ELSE sha256(norm) END AS shingle_fp
FROM q
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.winnow_fingerprints(docs)


# replays winnow_fingerprints exactly: same md5-hex k-gram hashes, same
# lexicographic window minima, same sorted-set digest — md5 and string
# ordering are engine-identical, which is why the operator hashes with
# md5 hex instead of xxhash64 (see its docstring)
_ORACLE_WINNOW = f"""
WITH p AS (
  SELECT doc_id, substr({_NORM}, 1, 256) AS p FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN length(p) >= 8 THEN
           list_transform(range(1, length(p) - 8 + 2),
                          i -> md5(substr(p, i, 8)))
         ELSE [] END AS grams
  FROM p
),
f AS (
  SELECT doc_id, len(grams) AS n_kgrams,
         CASE WHEN len(grams) >= 4 THEN
           list_sort(list_distinct(list_transform(
             range(1, len(grams) - 4 + 2),
             j -> list_min(grams[j:j+3]))))
         WHEN len(grams) > 0 THEN list_sort(list_distinct(grams))
         ELSE NULL END AS fps
  FROM g
)
SELECT doc_id, CAST(n_kgrams AS INT) AS n_kgrams,
       CAST(coalesce(len(fps), 0) AS INT) AS n_fingerprints,
       CASE WHEN fps IS NOT NULL THEN md5(array_to_string(fps, '')) END
         AS winnow_digest
FROM f
"""


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.winnow_pairs(docs)


# replays winnow_pairs: same fps CTE shape as _ORACLE_WINNOW (unsorted
# distinct — order never matters once exploded), df-capped postings,
# pair counts
_ORACLE_DEDUP_WINNOW = f"""
WITH p AS (
  SELECT doc_id, substr({_NORM}, 1, 256) AS p FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN length(p) >= 8 THEN
           list_transform(range(1, length(p) - 8 + 2),
                          i -> md5(substr(p, i, 8)))
         ELSE [] END AS grams
  FROM p
),
f AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4 THEN
           list_distinct(list_transform(
             range(1, len(grams) - 4 + 2),
             j -> list_min(grams[j:j+3])))
         WHEN len(grams) > 0 THEN list_distinct(grams)
         ELSE [] END AS fps
  FROM g
),
posting AS (
  SELECT doc_id, unnest(fps) AS fp FROM f
),
capped AS (
  SELECT doc_id, fp FROM posting
  WHERE fp IN (SELECT fp FROM posting GROUP BY fp HAVING count(*) <= 20)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS shared_fps
FROM capped a JOIN capped b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 5
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.exact_dedup(docs)


_ORACLE_DEDUP_EXACT = f"""
WITH fp AS (SELECT doc_id, sha256({_NORM}) AS fingerprint FROM documents)
SELECT doc_id, fingerprint,
       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       CAST(doc_id != min(doc_id) OVER (PARTITION BY fingerprint) AS INT)
         AS is_dup
FROM fp
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(docs, threshold=0.8)


_ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
inv AS (SELECT id, unnest(s) AS shingle FROM sh),
common AS (
  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS common_shingles
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
sizes AS (SELECT id, len(s) AS n FROM sh)
SELECT doc_a, doc_b, common_shingles,
       CAST(floor((common_shingles * 10000)
             / (sa.n + sb.n - common_shingles)) AS BIGINT) AS jaccard_bp
FROM common
JOIN sizes sa ON sa.id = doc_a
JOIN sizes sb ON sb.id = doc_b
WHERE CAST(floor((common_shingles * 10000)
            / (sa.n + sb.n - common_shingles)) AS BIGINT) >= 8000
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.chunk_documents(docs, chunk_tokens=64, overlap=8)


def _oracle_chunk_documents(chunk: int = 64, overlap: int = 8) -> str:
    stride = chunk - overlap
    sl = f"[CAST(start + 1 AS INT):CAST(start + {chunk} AS INT)]"
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE {_NORM} IS NOT NULL AND {_NORM} <> ''
),
s AS (
  SELECT doc_id, toks,
         unnest(range(0,
           greatest(0, CAST(floor((len(toks) - {chunk} + {stride} - 1)
             / {stride}) AS BIGINT)) * {stride} + 1,
           {stride})) AS start
  FROM t
)
SELECT doc_id, CAST(start / {stride} AS INT) AS chunk_id,
       CAST(len(toks{sl}) AS INT) AS n_tokens,
       array_to_string(toks{sl}, ' ') AS chunk_text
FROM s
"""


def q_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.boilerplate_stats(docs)


def _ddb_shingles_n(toks: str, n: int) -> str:
    """Distinct word n-grams of a token-list expr for any n (the
    generalized form of _shingles_from's hardcoded trigram)."""
    parts = " || ' ' || ".join(
        f"{toks}[CAST(i AS INT)" + (f" + {j}]" if j else "]")
        for j in range(n)
    )
    return (
        f"CASE WHEN len({toks}) >= {n} THEN list_distinct(list_transform("
        f"range(1, len({toks}) - {n} + 2), i -> {parts})) ELSE [] END"
    )


_ORACLE_BOILERPLATE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, {_ddb_shingles_n('toks', 8)} AS gs
  FROM t WHERE len(toks) >= 8
),
inv AS (SELECT doc_id, unnest(gs) AS gram FROM g),
gdf AS (SELECT gram, count(*) AS df FROM inv GROUP BY gram),
per AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM inv JOIN gdf USING (gram) GROUP BY doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(floor(n_shared * 10000 / n_grams) AS BIGINT) AS shared_bp
FROM per
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (operators/
    text.py repetition_stats): duplicate-token / duplicate-bigram /
    top-token / top-bigram fractions in exact basis points — the
    published crawl-quality filter class (Rae et al. 2021 A1.1),
    adapted to token n-grams. One scan; tokens and bigrams share a
    single tagged explode and two hash aggregates."""
    docs = _docs(spark, sf_dir)
    return text_ops.repetition_stats(docs)


_ORACLE_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
occ AS (
  SELECT doc_id, 1 AS n, unnest(toks) AS g FROM t2
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INT)] || ' ' ||
                     toks[CAST(i AS INT) + 1])) AS g
  FROM t2
),
pg AS (SELECT doc_id, n, g, count(*) AS c FROM occ GROUP BY 1, 2, 3),
pn AS (SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS top
       FROM pg GROUP BY 1, 2)
SELECT doc_id,
       CAST(max(CASE WHEN n = 1 THEN total END) AS BIGINT) AS n_tokens,
       CAST(floor(max(CASE WHEN n = 1 THEN (total - dist) * 10000 / total END))
            AS BIGINT) AS dup_token_bp,
       CAST(floor(max(CASE WHEN n = 1 THEN top * 10000 / total END))
            AS BIGINT) AS top_token_bp,
       CAST(max(CASE WHEN n = 2 THEN total END) AS BIGINT) AS n_bigrams,
       CAST(floor(max(CASE WHEN n = 2 THEN (total - dist) * 10000 / total END))
            AS BIGINT) AS dup_bigram_bp,
       CAST(floor(max(CASE WHEN n = 2 THEN top * 10000 / total END))
            AS BIGINT) AS top_bigram_bp
FROM pn GROUP BY doc_id
"""


def q_trigram_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM typicality (operators/text.py trigram_typicality, the
    CCNet-style perplexity-filter shape with the corpus' own
    char-trigram table as the LM): per-doc average trigram corpus
    frequency in exact integer ppb — per-trigram probabilities floored
    BEFORE summing so no float crosses an aggregate. The charset^3-
    bounded frequency table broadcasts; occurrences never shuffle."""
    docs = _docs(spark, sf_dir)
    return text_ops.trigram_typicality(docs)


_ORACLE_TRIGRAM_TYPICALITY = f"""
WITH t AS (
  SELECT doc_id, {_NORM} AS norm FROM documents
  WHERE length({_NORM}) >= 3
),
occ AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(norm) - 1),
                i -> substring(norm, CAST(i AS INT), 3))) AS g
  FROM t
),
c AS (SELECT g, count(*) AS cnt FROM occ GROUP BY g),
p AS (
  SELECT g, CAST(floor(cnt * 1000000000 / (SELECT sum(cnt) FROM c))
                 AS BIGINT) AS ppb
  FROM c
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(ppb) // count(*) AS BIGINT) AS typicality_ppb
FROM occ JOIN p USING (g)
GROUP BY doc_id
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.redact_pii(docs)


def _oracle_redact_pii() -> str:
    # the SAME patterns the Spark operator uses (single source of
    # truth: text.PII_PATTERNS), applied in the same order; 'g' flag
    # because DuckDB's regexp_replace is first-match-only by default
    # while Spark's is replace-all
    clean = "text"
    counts = []
    # DuckDB standard strings pass backslashes through verbatim (no
    # escape processing), so \s etc. must NOT be doubled
    for name, pat, token in text_ops.PII_PATTERNS:
        lit = pat.replace("'", "''")
        clean = f"regexp_replace({clean}, '{lit}', '{token}', 'g')"
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{lit}')) AS INT)"
            f" AS n_{name}"
        )
    return (
        f"SELECT doc_id, {clean} AS clean_text, {', '.join(counts)} "
        "FROM documents"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 20 docs per language under the fixed (md5(id), id) permutation —
    # the reproducible training-mix quota sampler (no seed to version)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return sampling.stratified_sample(docs, ["lang"], 20)


_ORACLE_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source, sample_rank FROM (
  SELECT doc_id, lang, source,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS sample_rank
  FROM documents
) WHERE sample_rank <= 20
"""


def q_source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (operators/sampling.py
    temperature_quota_sample, alpha = 1/2): per-source quotas
    proportional to floor(sqrt(n_s)) rationed out of 200 total by
    exact integer floor division, picks under the fixed (md5(id), id)
    permutation. The up-weighting of small sources vs their raw share
    is the standard training-mix rebalance (GPT-3 dataset weights /
    multilingual alpha-sampling)."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return sampling.temperature_quota_sample(docs, "source", 200)


_ORACLE_TEMPERATURE_SAMPLE = """
WITH n AS (
  SELECT source, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
  FROM documents GROUP BY source
),
q AS (
  SELECT source, (200 * w) // (SELECT sum(w) FROM n) AS quota FROM n
),
r AS (
  SELECT doc_id, lang, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS sample_rank
  FROM documents
)
SELECT r.doc_id, r.lang, r.source, r.sample_rank,
       CAST(q.quota AS BIGINT) AS quota
FROM r JOIN q ON r.source = q.source
WHERE q.quota >= 1 AND r.sample_rank <= q.quota
"""


def q_doc_embedding_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source enrichment join: text-side features (documents) with
    vector-side features (embeddings) on the shared id — the 'attach
    embeddings to the cleaned corpus' step every multimodal training
    pipeline runs. At 100 TB both sides are large: this is the
    co-partitioned equi-join case (bucket both by id with
    sources.write_bucketed and it needs no exchange at all), not a
    broadcast. The squared-norm is the exact integer dot of the
    quantized vector with itself — portable to the oracle."""
    from datafusion_uba_spark.operators.similarity import (
        dot_q_unrolled,
        quantize,
    )

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    d0 = docs.select(
        "doc_id", "lang", "source", text_ops.normalize_text("text").alias("__norm")
    )
    d = d0.select(
        "doc_id",
        "lang",
        "source",
        F.size(text_ops.tokens_from_norm(F.col("__norm"))).alias("n_tokens"),
    )
    e0 = emb.select(
        F.col("vec_id").alias("doc_id"),
        "label",
        quantize("embedding").alias("__q"),
    )
    e = e0.select(
        "doc_id",
        "label",
        dot_q_unrolled(F.col("__q"), F.col("__q"), 64).alias("norm2_u"),
    )
    return d.join(e, "doc_id")


_ORACLE_DOC_EMB_ENRICH = f"""
WITH d AS (
  SELECT doc_id, lang, source,
         CASE WHEN {_NORM} IS NULL THEN NULL
              WHEN {_NORM} = '' THEN 0
              ELSE len({_TOKS}) END AS n_tokens
  FROM documents
),
e AS (
  SELECT vec_id AS doc_id, label,
         CAST({_ddb_dot(_QUANT, _QUANT)} AS BIGINT) AS norm2_u
  FROM embeddings
)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_tokens AS INT) AS n_tokens,
       e.label, e.norm2_u
FROM d JOIN e USING (doc_id)
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles of document length per language — the
    distribution check behind length cutoffs. Spark's ``percentile``
    is the EXACT aggregate (sort-based partial/final, not the t-digest
    approx), interpolating at p*(n-1) exactly like DuckDB's
    quantile_cont: identical doubles from integer inputs on both
    engines, so the row hash-verifies. At 100 TB you'd reach for
    approx_percentile; the exact twin is the correctness anchor it
    would be validated against (same pattern as cosine_topk vs LSH)."""
    docs = _docs(spark, sf_dir)
    n_chars = F.length(text_ops.normalize_text("text"))
    return (
        docs.select("lang", n_chars.alias("__n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(__n, 0.5)").alias("p50"),
            F.expr("percentile(__n, 0.9)").alias("p90"),
            F.expr("percentile(__n, 0.99)").alias("p99"),
        )
    )


_ORACLE_LENGTH_QUANTILES = f"""
SELECT lang, count(*) AS n_docs,
       quantile_cont(length({_NORM}), 0.5) AS p50,
       quantile_cont(length({_NORM}), 0.9) AS p90,
       quantile_cont(length({_NORM}), 0.99) AS p99
FROM documents GROUP BY lang
"""


def q_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path the exact row anchors:
    ``approx_percentile`` (Greenwald-Khanna sketch — mergeable partial
    state, one shuffle of sketch summaries instead of a per-group
    sort). Deterministic for a fixed accuracy but not replayable in
    DuckDB (different sketch), so this is a rows-only driver row —
    the exact twin ``length_quantiles`` is the correctness anchor,
    and the <=1%-rank error bound against it is pinned in
    tests/test_llm_ops.py (same exact-vs-approx discipline as DAU-HLL
    and cosine-vs-LSH)."""
    docs = _docs(spark, sf_dir)
    n_chars = F.length(text_ops.normalize_text("text"))
    return (
        docs.select("lang", n_chars.alias("__n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("approx_percentile(__n, 0.5, 10000)").alias("p50"),
            F.expr("approx_percentile(__n, 0.9, 10000)").alias("p90"),
            F.expr("approx_percentile(__n, 0.99, 10000)").alias("p99"),
        )
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.vocab_topk(docs, k=100)


# same tokenization as _TOKS; the empty-norm guard mirrors Spark's
# tokens_from_norm (empty doc -> no tokens, DuckDB string_split('')
# would yield ['']); deterministic tie-break (count desc, token asc)
# makes LIMIT a total-order prefix on both engines
_ORACLE_VOCAB_TOPK = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
  WHERE {_NORM} <> ''
)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 100
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment near-dups (operators/dedup.py
    containment_pairs): pairs where >= 80% of the inner doc's
    3-shingles appear in the outer doc — the quoted-inside /
    boilerplate-wrapped case Jaccard's union denominator hides.
    Asymmetric prefix filter on the probe side only (at tau = 0.8 the
    probe indexes ~20% of each doc's shingles — the knob that keeps
    the un-prefixable container side affordable); exact verification;
    integer basis points."""
    docs = _docs(spark, sf_dir)
    return dedup.containment_pairs(docs, threshold=0.8)


_ORACLE_CONTAINMENT = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
inv AS (SELECT id, unnest(s) AS shingle FROM sh),
common AS (
  SELECT a.id AS doc_inner, b.id AS doc_outer, count(*) AS common_shingles
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id <> b.id
  GROUP BY a.id, b.id
),
sizes AS (SELECT id, len(s) AS n FROM sh)
SELECT doc_inner, doc_outer, common_shingles,
       CAST(floor((common_shingles * 10000) / sa.n) AS BIGINT)
         AS containment_bp
FROM common JOIN sizes sa ON sa.id = doc_inner
WHERE CAST(floor((common_shingles * 10000) / sa.n) AS BIGINT) >= 8000
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair generation (the verified exact ngram-Jaccard query) composed
    # with min-label connected components: the canonicalization step a
    # crawl dedup actually ships — near-dup is not transitive, so pairs
    # alone over-keep; one (doc_id, canonical_id) row per paired doc.
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    return dedup.neardup_components(pairs)


# replays neardup_components as a recursive transitive closure over the
# undirected pair graph + min-over-reachable: both engines compute the
# same fixpoint (min label per component) by different but exact means.
_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({_ORACLE_NGRAM_JACCARD}),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
FROM reach GROUP BY src
"""


def q_dedup_canonical_pick(
    spark: SparkSession,
    sf_dir: str,
    components: DataFrame | None = None,
) -> DataFrame:
    """Survivor selection per duplicate cluster — the step that turns
    dup detection into an actionable drop list: for each near-dup
    component (the dedup_clusters composition: exact ngram-Jaccard
    pairs -> min-label connected components), KEEP the longest member
    (the Gopher/CCNet keep-rule: the longest near-dup usually subsumes
    the shorter crawls), tiebroken by lowest doc_id so the pick is
    deterministic. One row per cluster: the kept doc, its length, and
    how many members get dropped.

    Scale shape: the pick is a single struct-max groupBy on the
    cluster id — partial-aggregable (map-side combine), no window, no
    second shuffle beyond the component labels the clustering already
    produced; the only join is doc-keyed (the co-partitioned case).
    The struct (len, -doc_id) makes lexicographic max implement
    argmax-with-min-id-tiebreak in ONE aggregate, so ties cannot make
    the hash nondeterministic (max_by's tie choice is unspecified in
    both engines — the struct trick is the portable form).

    ``components``: a precomputed (doc_id, canonical_id) clustering —
    pass the materialized result of the dedup_clusters composition so
    a pipeline that already ran pairs + star-contraction doesn't pay
    it twice (r15 verdict #3: the self-contained registry row re-ran
    the parent pipeline, ~4.9 s of mostly duplicated work when
    composed). ``None`` keeps the row self-contained for the oracle."""
    docs = _docs(spark, sf_dir)
    if components is None:
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
        comp = dedup.neardup_components(pairs)
    else:
        comp = components
    sized = comp.join(
        docs.select(
            "doc_id", F.length("text").cast("long").alias("__len")
        ),
        "doc_id",
    )
    g = sized.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(
                F.col("__len").alias("l"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("__best"),
    )
    return g.select(
        F.col("canonical_id").alias("cluster_id"),
        (-F.col("__best.nid")).cast("long").alias("kept_doc_id"),
        F.col("__best.l").alias("kept_len"),
        "n_members",
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )


_ORACLE_CANONICAL_PICK = f"""
WITH RECURSIVE pairs AS ({_ORACLE_NGRAM_JACCARD}),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src
),
sized AS (
  SELECT c.doc_id, c.canonical_id, CAST(length(d.text) AS BIGINT) AS len
  FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT canonical_id, doc_id, len,
         row_number() OVER (
           PARTITION BY canonical_id ORDER BY len DESC, doc_id ASC
         ) AS rn
  FROM sized
),
agg AS (
  SELECT canonical_id, count(*) AS n_members FROM sized GROUP BY canonical_id
)
SELECT r.canonical_id AS cluster_id, r.doc_id AS kept_doc_id,
       r.len AS kept_len, a.n_members,
       CAST(a.n_members - 1 AS BIGINT) AS n_dropped
FROM ranked r JOIN agg a USING (canonical_id) WHERE rn = 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # xxhash64-based: no DuckDB twin; driver does the rows-only check,
    # pytest pins recall == 1.0 vs the exact n-gram query on this corpus.
    docs = _docs(spark, sf_dir)
    return dedup.minhash_lsh_pairs(docs, threshold=0.8)


def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the portable-hash twin of dedup_minhash_lsh: md5-family
    # signatures replay bit-identically in DuckDB, upgrading this row
    # from rows-only to full hash verification of the ENTIRE
    # signature -> banding -> bucket-join -> exact-verify pipeline.
    # 32 perms x 8 bands (not the xxhash row's 64 x 16): the md5 path
    # pays per-element string hashing, and halving perms halves that
    # cost while the S-curve stays sharp (cand prob at j=0.8:
    # 1-(1-0.8^4)^8 = 0.985 vs 0.9997 — a verification row, not the
    # production fast path, which remains dedup_minhash_lsh)
    docs = _docs(spark, sf_dir)
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.8, num_perm=32, bands=8, hash_family="md5"
    )


# Identical MinHash pipeline in DuckDB: same 60-bit md5-prefix family,
# same 8 bands x 4 rows, same exact-Jaccard verify as the ngram oracle.
_ORACLE_MINHASH_MD5 = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
sig AS (
  SELECT id,
    list_transform(range(0, 32), i ->
      list_min(list_transform(s, x ->
        CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || x), 1, 15))
             AS BIGINT)))) AS g
  FROM sh
),
banded AS (
  SELECT id, b.band_id,
         list_slice(g, b.band_id * 4 + 1, b.band_id * 4 + 4) AS band_sig
  FROM sig, (SELECT unnest(range(0, 8)) AS band_id) b
),
cand AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.id < b.id
),
verified AS (
  SELECT doc_a, doc_b,
    len(list_intersect(sa.s, sb.s)) AS common,
    len(sa.s) AS na, len(sb.s) AS nb
  FROM cand
  JOIN sh sa ON sa.id = doc_a
  JOIN sh sb ON sb.id = doc_b
)
SELECT doc_a, doc_b,
  CAST(floor((common * 10000) / (na + nb - common)) AS BIGINT) AS jaccard_bp
FROM verified
WHERE CAST(floor((common * 10000) / (na + nb - common)) AS BIGINT) >= 8000
"""


def q_dedup_minhash_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup (md5 verification family): even doc_ids
    play the existing corpus, odd doc_ids the day-N+1 increment; every
    increment doc whose exact shingle Jaccard against some corpus doc
    clears 0.8 comes back as (doc_id, dup_of, jaccard_bp).

    The cross-batch companion of dedup_incremental (exact) — together
    they are the daily crawl-ingest pass. Scale shape
    (operators/dedup.py:minhash_dedup_against): only the increment is
    shingled/signed fresh; the corpus side is the persistable banded
    index (minhash_index), and exact verification reads corpus text
    only for candidate ids. DuckDB replays the whole
    sign->band->probe->verify pipeline via the 60-bit md5 family (same
    32x8 banding as dedup_minhash_md5).
    """
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.where(F.col("doc_id") % 2 == 1)
    return dedup.minhash_dedup_against(
        inc, corpus, threshold=0.8, num_perm=32, bands=8, hash_family="md5"
    )


_ORACLE_MINHASH_AGAINST = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
sig AS (
  SELECT id,
    list_transform(range(0, 32), i ->
      list_min(list_transform(s, x ->
        CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || x), 1, 15))
             AS BIGINT)))) AS g
  FROM sh
),
banded AS (
  SELECT id, b.band_id,
         list_slice(g, b.band_id * 4 + 1, b.band_id * 4 + 4) AS band_sig
  FROM sig, (SELECT unnest(range(0, 8)) AS band_id) b
),
cand AS (
  SELECT DISTINCT i.id AS doc_id, c.id AS dup_of
  FROM banded i JOIN banded c
    ON i.band_id = c.band_id AND i.band_sig = c.band_sig
   AND i.id % 2 = 1 AND c.id % 2 = 0
),
verified AS (
  SELECT doc_id, dup_of,
    len(list_intersect(si.s, sc.s)) AS common,
    len(si.s) AS ni, len(sc.s) AS nc
  FROM cand
  JOIN sh si ON si.id = doc_id
  JOIN sh sc ON sc.id = dup_of
)
SELECT doc_id, dup_of,
  CAST(floor((common * 10000) / (ni + nc - common)) AS BIGINT) AS jaccard_bp
FROM verified
WHERE CAST(floor((common * 10000) / (ni + nc - common)) AS BIGINT) >= 8000
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.simhash_pairs(docs, max_hamming=3)


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable-hash twin of dedup_simhash (same role as
    # dedup_minhash_md5): 60-bit md5-prefix signature DuckDB replays
    # exactly — sign-sum bits, 4x15-bit pigeonhole chunks, bit_count
    # verify, all hash-gated
    docs = _docs(spark, sf_dir)
    return dedup.simhash_pairs(docs, max_hamming=3, hash_family="md5")


_ORACLE_SIMHASH_MD5 = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
hs AS (
  SELECT id, list_transform(s, x ->
    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
  FROM sh
),
sig AS (
  SELECT id, CAST(list_sum(list_transform(range(0, 60), k ->
    CASE WHEN list_sum(list_transform(h, v ->
      CASE WHEN (v >> k) & 1 = 1 THEN 1 ELSE -1 END)) > 0
    THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS g
  FROM hs
),
chunked AS (
  SELECT id, g, c.chunk_id, (g >> CAST(15 * c.chunk_id AS INT)) & 32767 AS chunk_val
  FROM sig, (SELECT unnest(range(0, 4)) AS chunk_id) c
)
SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
  CAST(bit_count(xor(a.g, b.g)) AS INTEGER) AS hamming
FROM chunked a JOIN chunked b
  ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.id < b.id
WHERE bit_count(xor(a.g, b.g)) <= 3
"""


def q_dedup_simhash_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-dup, production path (xxhash64; see
    the md5 twin for full DuckDB hash verification): even doc_ids play
    the existing corpus, odd doc_ids the day-N+1 increment. The corpus
    side is the persisted chunk index ONLY — verification is signature
    arithmetic, the corpus text is touched zero times
    (operators/dedup.py:simhash_dedup_against)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.where(F.col("doc_id") % 2 == 1)
    return dedup.simhash_dedup_against(inc, corpus, max_hamming=3)


def q_dedup_simhash_against_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash twin of dedup_simhash_against (the same role
    dedup_minhash_against's md5 family plays): the whole
    sign->chunk->probe->Hamming pipeline replays in DuckDB and is
    hash-gated."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.where(F.col("doc_id") % 2 == 1)
    return dedup.simhash_dedup_against(
        inc, corpus, max_hamming=3, hash_family="md5"
    )


_ORACLE_SIMHASH_AGAINST_MD5 = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
hs AS (
  SELECT id, list_transform(s, x ->
    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
  FROM sh
),
sig AS (
  SELECT id, CAST(list_sum(list_transform(range(0, 60), k ->
    CASE WHEN list_sum(list_transform(h, v ->
      CASE WHEN (v >> k) & 1 = 1 THEN 1 ELSE -1 END)) > 0
    THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS g
  FROM hs
),
chunked AS (
  SELECT id, g, c.chunk_id,
         (g >> CAST(15 * c.chunk_id AS INT)) & 32767 AS chunk_val
  FROM sig, (SELECT unnest(range(0, 4)) AS chunk_id) c
)
SELECT DISTINCT i.id AS doc_id, c.id AS dup_of,
  CAST(bit_count(xor(i.g, c.g)) AS INTEGER) AS hamming
FROM chunked i JOIN chunked c
  ON i.chunk_id = c.chunk_id AND i.chunk_val = c.chunk_val
 AND i.id % 2 = 1 AND c.id % 2 = 0
WHERE bit_count(xor(i.g, c.g)) <= 3
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

# 64 queries: a realistic multi-query similarity workload — with a
# handful of queries brute force trivially wins (it pays |Q| dots per
# vector, LSH pays the constant n_pool coding dots); amortization is
# the whole point of the index.
_N_QUERIES = 64
_TOPK = 10

# The driver's correctness gate always runs at sf0.01, whose embeddings
# table is 500 rows. The auto-sized operators (embedding_neardup_pairs,
# ivf_topk) derive their geometry from a corpus count; the oracles must
# replay the SAME geometry, so they derive it from this pinned count
# through the same auto_n_planes/auto_n_cells helpers. (500 resolves to
# the historical 6 planes / 16 cells by construction.)
_N_EMB_CORRECTNESS = 500


def _query_vectors(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") < _N_QUERIES)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.cosine_topk(emb, _query_vectors(emb), k=_TOPK)


_ORACLE_ANN_TOPK = f"""
WITH d AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
dn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM d),
q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM dn
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         CAST({_ddb_dot("qv", "v")} AS DOUBLE)
         / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS c
  FROM q, dn
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(floor(c * 1000000) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= {_TOPK}
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid profile (operators/similarity.py
    label_centroids): flat (label, dim) grid of exact micro-unit sums
    and truncating-division centroids — one posexplode + one hash
    aggregate with map-side combine, no array reassembly."""
    emb = _emb(spark, sf_dir)
    return similarity.label_centroids(emb)


_ORACLE_LABEL_CENTROIDS = f"""
WITH q AS (SELECT label, {_QUANT} AS v FROM embeddings),
e AS (
  SELECT label, CAST(t.i - 1 AS BIGINT) AS dim,
         v[CAST(t.i AS INT)] AS val
  FROM q, unnest(range(1, len(v) + 1)) AS t(i)
)
SELECT label, dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(val) AS BIGINT) AS sum_q,
       CAST(CAST(sum(val) AS BIGINT) // count(*) AS BIGINT) AS centroid_q
FROM e GROUP BY label, dim
"""


def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH index against brute force, computed as a
    DataFrame operator (operators/similarity.py recall_at_k) — the
    index-quality monitor running in the same engine as the index.
    Both inputs and the metric replay exactly in DuckDB, so even this
    evaluation row is hash-gated."""
    emb = _emb(spark, sf_dir)
    exact = similarity.cosine_topk(emb, _query_vectors(emb), k=_TOPK)
    approx = q_ann_topk_lsh(spark, sf_dir)
    return similarity.recall_at_k(approx, exact, k=_TOPK)


def _oracle_ann_recall_lsh() -> str:
    return f"""
WITH flat AS ({_ORACLE_ANN_TOPK}),
lsh AS ({_oracle_ann_topk_lsh()}),
ex AS (SELECT query_id, vec_id FROM flat WHERE rank <= {_TOPK}),
ap AS (SELECT query_id, vec_id FROM lsh WHERE rank <= {_TOPK}),
h AS (
  SELECT ex.query_id, count(*) AS hits
  FROM ex JOIN ap ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
  GROUP BY ex.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       CAST(floor(coalesce(h.hits, 0) * 10000 / {_TOPK}) AS BIGINT)
         AS recall_bp
FROM (SELECT DISTINCT query_id FROM ex) q
LEFT JOIN h USING (query_id)
"""


def _plane_literal(plane: list[int]) -> str:
    return "[" + ", ".join(str(v) for v in plane) + "]"


def _oracle_ann_topk_lsh() -> str:
    """Replays the shared-pool multiprobe LSH of similarity.ann_topk_lsh
    exactly: same literal pool planes, same bit-subset tables (one rng
    stream), same single-bit-flip probes — so even the approximate
    index is hash-checkable."""
    n_pool, m, n_tables = 16, 5, 16
    pool = similarity.hyperplanes(64, n_pool, seed=42)
    tables = similarity.pool_tables(n_pool, m, n_tables, seed=42)
    bit_cols = ", ".join(
        f"CASE WHEN {_ddb_dot('v', _plane_literal(p))} > 0 THEN 1 ELSE 0 END"
        f" AS b{i}"
        for i, p in enumerate(pool)
    )
    code_cols = ", ".join(
        " + ".join(f"b{bit} * {1 << j}" for j, bit in enumerate(tab))
        + f" AS c{t}"
        for t, tab in enumerate(tables)
    )
    drows = " UNION ALL ".join(
        f"SELECT vec_id, v, n2, {t} AS table_id, c{t} AS code FROM codes"
        for t in range(n_tables)
    )
    qrows = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, v AS qv, n2 AS qn2, {t} AS table_id, "
        f"unnest([c{t}, "
        + ", ".join(f"xor(c{t}, {1 << j})" for j in range(m))
        + f"]) AS code FROM codes WHERE vec_id < {_N_QUERIES}"
        for t in range(n_tables)
    )
    return f"""
WITH d AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
dn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM d),
bits AS (SELECT vec_id, v, n2, {bit_cols} FROM dn),
codes AS (SELECT vec_id, v, n2, {code_cols} FROM bits),
drows AS ({drows}),
qrows AS ({qrows}),
cand AS (
  SELECT DISTINCT q.query_id, q.qv, q.qn2, d.vec_id, d.v, d.n2
  FROM qrows q JOIN drows d
    ON d.table_id = q.table_id AND d.code = q.code
),
scored AS (
  SELECT query_id, vec_id,
         CAST({_ddb_dot("qv", "v")} AS DOUBLE)
         / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS c
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(floor(c * 1000000) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= {_TOPK}
"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.ann_topk_lsh(emb, _query_vectors(emb), k=_TOPK)


def q_ann_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production entry point itself as a driver-checked row: at
    the correctness corpus size (500 << flat_threshold) the dispatcher
    must choose the flat scan, so the flat oracle IS its oracle — a
    wrong plan choice (index regime on a tiny corpus) would change the
    result set and hash-fail. The other two regimes' exactness is
    pinned by the dispatch tests (tests/test_ann_clustered.py,
    tests/test_llm_ops.py)."""
    emb = _emb(spark, sf_dir)
    return similarity.ann_topk_auto(emb, _query_vectors(emb), k=_TOPK)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(emb, _query_vectors(emb), k=_TOPK)


def _oracle_ann_topk_ivf() -> str:
    """Replays similarity.ivf_topk exactly: same literal centroids,
    cell = first index of the max dot, probes = the n_probe best
    (dot desc, index asc) cells per query — all exact integer
    comparisons, so even the approximate index hash-matches."""
    n_cells = similarity.auto_n_cells(_N_EMB_CORRECTNESS)
    n_probe = 8
    cents = similarity.hyperplanes(64, n_cells, seed=42)
    dot_cols = ", ".join(
        f"{_ddb_dot('v', _plane_literal(c))} AS d{i}"
        for i, c in enumerate(cents)
    )
    dlist = "[" + ", ".join(f"d{i}" for i in range(n_cells)) + "]"
    qrows = " UNION ALL ".join(
        f"SELECT query_id, qv, qn2, {i + 1} AS cell, d{i} AS dot FROM qdots"
        for i in range(n_cells)
    )
    return f"""
WITH d AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
dn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM d),
dots AS (SELECT vec_id, v, n2, {dot_cols} FROM dn),
cells AS (
  SELECT vec_id, v, n2,
         CAST(list_position({dlist}, list_max({dlist})) AS INT) AS cell
  FROM dots
),
qdots AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2,
                 {", ".join(f"d{i}" for i in range(n_cells))}
          FROM dots WHERE vec_id < {_N_QUERIES}),
qcellrows AS ({qrows}),
probes AS (
  SELECT query_id, qv, qn2, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, cell) AS rn
        FROM qcellrows)
  WHERE rn <= {n_probe}
),
scored AS (
  SELECT p.query_id, c.vec_id,
         CAST({_ddb_dot("p.qv", "c.v")} AS DOUBLE)
         / sqrt(CAST(p.qn2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS c
  FROM probes p JOIN cells c ON c.cell = p.cell
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(floor(c * 1000000) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= {_TOPK}
"""


def _pq_lit_model() -> dict:
    """Deterministic literal PQ model for the correctness row — the
    same seeded-hyperplane generator the IVF/LSH oracles replay, with
    centroids scaled to the unit grid's magnitude (hyperplane rows are
    ~sqrt(dim) x the unit norm, so // 8 for dim=64) and codewords
    scaled to residual magnitude (// 8 of the per-component grid).
    Like ann_topk_ivf's literal centroids, this row pins the ADC
    MACHINERY (cell assign, residual encode, per-subspace argmin, LUT
    scoring, candidate cut, exact re-rank) bit-for-bit across engines;
    model QUALITY (trained residual codebooks, recall) is pinned
    separately by tests/test_ann_clustered.py."""
    cents = [
        [v // 8 for v in p] for p in similarity.hyperplanes(64, 16, seed=42)
    ]
    books = [
        [
            [v // 8 for v in row]
            for row in similarity.hyperplanes(8, 16, seed=1000 + i)
        ]
        for i in range(8)
    ]
    return {
        "cents": cents,
        "books": books,
        "dim": 64,
        "m": 8,
        "k": 16,
        "n_cells": 16,
    }


_PQ_LIT_MODEL = _pq_lit_model()
_PQ_REFINE = 8


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_uba_spark.operators import pq

    emb = _emb(spark, sf_dir)
    return pq.pq_topk(
        emb, _query_vectors(emb), _PQ_LIT_MODEL, k=_TOPK, refine=_PQ_REFINE
    )


def _oracle_ann_topk_pq() -> str:
    """Replays operators.pq.pq_topk exactly: the ADC score of a code
    row is dot(unit-quant query, centroid[cell] + concatenated
    codewords) — proven identical to the Spark-side cell-dot + LUT sum
    by tests/test_ann_clustered.py::test_pq_adc_score_is_the_lut_sum —
    so the oracle encodes each corpus vector (argmax-dot cell,
    first-min argmin codes on the ||c||^2 - 2*r.c surrogate), scores
    candidates by reconstruction dot, cuts to k*refine per query
    (ADC desc, vec_id asc), and exact-cosine re-ranks, all in exact
    integer arithmetic on the same quantized grid."""
    model = _PQ_LIT_MODEL
    cents, books = model["cents"], model["books"]
    m, dim = model["m"], model["dim"]
    dsub = dim // m
    nrm = (
        "sqrt(list_sum(list_transform(embedding, x -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    uq = (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / "
        f"(CASE WHEN {nrm} = 0 THEN 1 ELSE {nrm} END) * 1000000) AS BIGINT))"
    )
    cell_dots = ", ".join(
        f"{_ddb_dot('u', _plane_literal(c))} AS cd{i}"
        for i, c in enumerate(cents)
    )
    dlist = "[" + ", ".join(f"cd{i}" for i in range(len(cents))) + "]"
    cmat = "[" + ", ".join(_plane_literal(c) for c in cents) + "]"
    code_cols = []
    for i, book in enumerate(books):
        dists = []
        sub = f"list_slice(res, {i * dsub + 1}, {i * dsub + dsub})"
        for c in book:
            cnorm = sum(int(v) * int(v) for v in c)
            dists.append(
                f"({cnorm} - 2 * {_ddb_dot(sub, _plane_literal(c))})"
            )
        darr = "[" + ", ".join(dists) + "]"
        code_cols.append(
            f"CAST(list_position({darr}, list_min({darr})) AS INT) AS k{i}"
        )
    bms = [
        "[" + ", ".join(_plane_literal(c) for c in book) + "]"
        for book in books
    ]
    recon = " || ".join(f"{bms[i]}[k{i}]" for i in range(m))
    return f"""
WITH u0 AS (SELECT vec_id, {uq} AS u FROM embeddings),
cdots AS (SELECT vec_id, u, {cell_dots} FROM u0),
celled AS (
  SELECT vec_id, u,
         CAST(list_position({dlist}, list_max({dlist})) AS INT) AS cell
  FROM cdots
),
resid AS (
  SELECT vec_id, cell,
         list_transform(range(1, {dim + 1}),
                        t -> u[t] - {cmat}[cell][t]) AS res
  FROM celled
),
coded AS (SELECT vec_id, cell, {", ".join(code_cols)} FROM resid),
xhat AS (
  SELECT vec_id,
         list_transform(range(1, {dim + 1}),
                        t -> {cmat}[cell][t] + ({recon})[t]) AS xh
  FROM coded
),
q AS (SELECT vec_id AS query_id, u AS qu FROM u0
      WHERE vec_id < {_N_QUERIES}),
adc AS (
  SELECT query_id, vec_id, {_ddb_dot("qu", "xh")} AS a
  FROM q, xhat
),
cand AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY a DESC, vec_id) AS rn
        FROM adc)
  WHERE rn <= {_TOPK * _PQ_REFINE}
),
d AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
dn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM d),
qn AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM dn
       WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT c.query_id, c.vec_id,
         CAST({_ddb_dot("q.qv", "x.v")} AS DOUBLE)
         / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(x.n2 AS DOUBLE)) AS c
  FROM cand c
  JOIN dn x ON x.vec_id = c.vec_id
  JOIN qn q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(floor(c * 1000000) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= {_TOPK}
"""


_NEARDUP_THRESHOLD = 0.4


def _oracle_embedding_neardup() -> str:
    """Replays embedding_neardup_pairs exactly: geometry derived from
    the pinned correctness-corpus size through the same auto_n_planes
    helper, same shared plane pool, same bit-subset tables (one rng
    stream), same exact-integer verify."""
    n_planes = similarity.auto_n_planes(_N_EMB_CORRECTNESS)
    n_tables = 8
    n_pool = max(16, 2 * n_planes)
    pool = similarity.hyperplanes(64, n_pool, seed=7)
    tables = similarity.pool_tables(n_pool, n_planes, n_tables, seed=7)
    bit_cols = ", ".join(
        f"CASE WHEN {_ddb_dot('v', _plane_literal(p))} > 0 THEN 1 ELSE 0 END"
        f" AS b{i}"
        for i, p in enumerate(pool)
    )
    code_cols = ", ".join(
        " + ".join(f"b{bit} * {1 << j}" for j, bit in enumerate(tab))
        + f" AS c{t}"
        for t, tab in enumerate(tables)
    )
    code_rows = " UNION ALL ".join(
        f"SELECT vec_id, v, n2, {t} AS table_id, c{t} AS code FROM tcodes"
        for t in range(n_tables)
    )
    return f"""
WITH d AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
dn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM d),
bits AS (SELECT vec_id, v, n2, {bit_cols} FROM dn),
tcodes AS (SELECT vec_id, v, n2, {code_cols} FROM bits),
codes AS ({code_rows}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, a.v AS va, a.n2 AS na,
         b.vec_id AS id_b, b.v AS vb, b.n2 AS nb
  FROM codes a JOIN codes b
    ON a.table_id = b.table_id AND a.code = b.code AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       CAST(floor(CAST({_ddb_dot("va", "vb")} AS DOUBLE)
             / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000)
         AS BIGINT) AS cosine_u
FROM cand
WHERE CAST(floor(CAST({_ddb_dot("va", "vb")} AS DOUBLE)
            / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000)
        AS BIGINT) >= {int(round(_NEARDUP_THRESHOLD * 1_000_000))}
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.embedding_neardup_pairs(
        emb, threshold=_NEARDUP_THRESHOLD
    )


_PPS_STEP = 4096  # cumulative chars per pick


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of documents weighted by length
    (operators/sampling.py pps_systematic): inclusion probability
    proportional to n_chars with a fixed pick every 4096 cumulative
    chars along the per-source md5 permutation — the weighted
    counterpart of the quota samplers, long docs can carry
    multiplicity. Exact integers end to end; one per-source window."""
    from datafusion_uba_spark.operators.sampling import pps_systematic

    docs = _docs(spark, sf_dir)
    return pps_systematic(
        docs, "n_chars", _PPS_STEP, strata_col="source", id_col="doc_id"
    )


_ORACLE_PPS = f"""
WITH cum AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
         CAST(sum(n_chars) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cw
  FROM documents
)
SELECT doc_id, source, weight,
       CAST(cw // {_PPS_STEP} - (cw - weight) // {_PPS_STEP} AS BIGINT)
         AS picks
FROM cum
WHERE cw // {_PPS_STEP} - (cw - weight) // {_PPS_STEP} >= 1
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share (basis points) of a
    doc's distinct 3-shingles whose FIRST corpus occurrence (min
    doc_id — ingestion order) is this doc. The dedup-aware curation
    signal: low-novelty docs add almost nothing the corpus doesn't
    already have, even when no single pair crosses a near-dup
    threshold.

    Plan (r19 rewrite): every shingle contributes exactly ONE novel
    count — to its min-owner doc — so n_novel(doc) is derivable from
    the owner table alone with no join or window back onto the
    occurrence stream:

        owners  = groupBy(shingle).agg(min(doc_id))   # map-side partial
        n_novel = owners.groupBy(owner).count()        # |docs|-bounded
        n_shingles(doc) = size(shingle_array)          # map-side, free

    The r18 window form (min over Window.partitionBy(shingle)) shuffled
    every OCCURRENCE row — ~40 B of shingle string each, with no
    map-side combine, and a hot boilerplate shingle landed all its
    occurrences on one reducer that AQE cannot split (the r18 verdict's
    skew flag). Here min() partial-aggregates per map partition, so the
    one shingle-keyed exchange carries one row per distinct shingle per
    partition and a hot key combines map-side — the same two-level
    decomposable-aggregate fix the verdict prescribed, obtained
    structurally rather than by salting. The shingle-array frame is
    pinned with localCheckpoint so the normalize/tokenize/shingle chain
    (the heaviest map work) runs once for its two consumers. Zero-shingle
    docs report 0 novel of 0 with novelty_bp = 0 (documented vacuous
    case)."""
    docs = _docs(spark, sf_dir)
    # localCheckpoint, NOT persist — persist()'s CacheManager entry
    # outlives every reference and silently serves later identical
    # constructions from cache (see operators/text.py boilerplate_stats
    # for the measured probe); checkpoint blocks are ContextCleaner-
    # evicted with the frame's refs, so each execution recomputes.
    sh_arr = docs.select(
        "doc_id",
        text_ops.shingles_from_tokens(
            text_ops.tokens_from_norm(text_ops.normalize_text("text"))
        ).alias("__sh"),
    ).localCheckpoint(eager=False)
    owners = (
        sh_arr.select(
            "doc_id", F.explode_outer("__sh").alias("shingle")
        )
        .where(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("owner"))
    )
    novel = owners.groupBy("owner").agg(
        F.count(F.lit(1)).alias("__n_novel")
    )
    base = sh_arr.select(
        "doc_id", F.size("__sh").cast("long").alias("n_shingles")
    )
    return (
        base.join(novel, base["doc_id"] == novel["owner"], "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("__n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_novel",
            "(10000 * n_novel) div greatest(n_shingles, 1) AS novelty_bp",
        )
    )


_ORACLE_NOVELTY = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
),
owners AS (
  SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY shingle
),
scored AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN sh.doc_id = o.owner THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM sh JOIN owners o USING (shingle)
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_shingles, 0) AS n_shingles,
       COALESCE(s.n_novel, 0) AS n_novel,
       (10000 * COALESCE(s.n_novel, 0))
         // greatest(COALESCE(s.n_shingles, 0), 1) AS novelty_bp
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_readability_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document in
    exact milli-units — the classic corpus-quality readability filter
    (Flesch 1948; Kincaid 1975), joining the length/punct/stopword
    heuristics in the corpus_filter family. Counts are regexp counts
    over the shared normalized text (words = non-space runs, sentence
    marks = [.!?] runs, syllables ~ vowel-group runs incl. y — the
    standard dependency-free approximation); both scores are pure
    integer arithmetic with truncating div and max(,1) guards, so the
    row is hash-exact. Zero shuffles: one staged narrow map, the
    text_stats plan shape."""
    docs = _docs(spark, sf_dir)
    s0 = docs.select(
        "doc_id", text_ops.normalize_text("text").alias("__norm")
    )
    s1 = s0.select(
        "doc_id",
        F.regexp_count(F.col("__norm"), F.lit(r"[^ ]+"))
        .cast("long")
        .alias("n_words"),
        F.regexp_count(F.col("__norm"), F.lit(r"[.!?]+"))
        .cast("long")
        .alias("n_sentences"),
        F.regexp_count(F.col("__norm"), F.lit(r"[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
    )
    return s1.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "(1000 * n_words) div greatest(n_sentences, 1)"
        ).alias("words_per_sentence_milli"),
        F.expr(
            "(1000 * n_syllables) div greatest(n_words, 1)"
        ).alias("syllables_per_word_milli"),
        F.expr(
            "206835 - (1015 * n_words) div greatest(n_sentences, 1)"
            " - (84600 * n_syllables) div greatest(n_words, 1)"
        ).alias("flesch_milli"),
        F.expr(
            "(390 * n_words) div greatest(n_sentences, 1)"
            " + (11800 * n_syllables) div greatest(n_words, 1) - 15590"
        ).alias("fk_grade_milli"),
    )


_ORACLE_READABILITY = f"""
WITH s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all({_NORM}, '[^ ]+')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all({_NORM}, '[.!?]+')) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all({_NORM}, '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       (1000 * n_words) // greatest(n_sentences, 1)
         AS words_per_sentence_milli,
       (1000 * n_syllables) // greatest(n_words, 1)
         AS syllables_per_word_milli,
       206835 - (1015 * n_words) // greatest(n_sentences, 1)
              - (84600 * n_syllables) // greatest(n_words, 1)
         AS flesch_milli,
       (390 * n_words) // greatest(n_sentences, 1)
         + (11800 * n_syllables) // greatest(n_words, 1) - 15590
         AS fk_grade_milli
FROM s1
"""


_SEMANTIC_THRESHOLD = 0.4


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-bounded semantic dedup (operators/
    dedup.py semantic_pairs): exact-integer k-means clusters are the
    blocking structure (k sized by the same sqrt-law as the IVF
    index), candidate pairs meet only inside a cluster, and the exact
    micro-unit cosine verifies — the third blocking discipline next
    to MinHash bands and hyperplane LSH, hash-verifiable end to end
    because both the clustering and the cosine are integer-exact."""
    emb = _emb(spark, sf_dir)
    # n_rows pinned to the correctness-corpus constant (as the sibling
    # kmeans/ANN rows do) so Spark's k matches the oracle's
    # auto_n_cells(_N_EMB_CORRECTNESS) at ANY actual corpus size —
    # without the pin a >=1024-row corpus would silently change the
    # clustering geometry on one side only.
    return dedup.semantic_pairs(
        emb, threshold=_SEMANTIC_THRESHOLD, n_rows=_N_EMB_CORRECTNESS
    )


def _oracle_dedup_semantic() -> str:
    """Replays the full pipeline: the 2-round integer Lloyd's from
    smallest-id seeds on the 10^3 grid (the kmeans_assign oracle's
    CTE chain, parametric k from the pinned correctness-corpus size),
    then the within-cluster pair join verified with the 10^6-grid
    exact cosine shared with embedding_neardup."""
    k = similarity.auto_n_cells(_N_EMB_CORRECTNESS)
    thr = int(round(_SEMANTIC_THRESHOLD * 1_000_000))
    cos = (
        f"CAST(floor(CAST({_ddb_dot('a.v', 'b.v')} AS DOUBLE)"
        " / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))"
        " * 1000000) AS BIGINT)"
    )
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
  FROM embeddings
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q
  FROM v ORDER BY vec_id LIMIT {k}
),
vu AS (SELECT vec_id, unnest(q) AS val, generate_subscripts(q, 1) AS i
       FROM v),
su AS (SELECT cid, unnest(q) AS cval, generate_subscripts(q, 1) AS i
       FROM seeds),
d1 AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM vu JOIN su USING (i) GROUP BY vec_id, cid
),
a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d1) t WHERE rn = 1
),
c2 AS (
  SELECT a1.cluster AS cid, i,
         CAST(round(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cval
  FROM vu JOIN a1 USING (vec_id) GROUP BY a1.cluster, i
),
d2 AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM vu JOIN c2 USING (i) GROUP BY vec_id, cid
),
a2 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d2) t WHERE rn = 1
),
qv AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
qn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM qv),
tagged AS (
  SELECT a2.vec_id, a2.cluster, qn.v, qn.n2
  FROM a2 JOIN qn USING (vec_id)
)
SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       {cos} AS cosine_u
FROM tagged a JOIN tagged b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE {cos} >= {thr}
"""


def q_dedup_semantic_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (operators/dedup.py semantic_pairs_against):
    vec_id % 4 == 0 plays the day-N+1 embedding batch, the rest the
    existing corpus. The clustering is fitted on the CORPUS ONLY —
    the trained blocking model a daily pipeline persists
    (semantic_index_build/upsert, equality-pinned in
    tests/test_llm_ops.py) — and the batch assigns against those
    centroids map-side; candidate pairs meet only inside a shared
    cluster, verified with the exact micro-unit cosine. The corpus is
    never re-clustered and never shuffles for the probe."""
    emb = _emb(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    inc = emb.where(F.col("vec_id") % 4 == 0)
    return dedup.semantic_pairs_against(
        inc,
        corpus,
        threshold=_SEMANTIC_THRESHOLD,
        n_rows=_N_EMB_CORRECTNESS,
    )


def _oracle_dedup_semantic_against() -> str:
    """Replays fit-assign-probe relationally: 2-round integer Lloyd's
    on the corpus partition only (seeds = k smallest corpus ids), the
    FINAL centroids (c2) assign both the corpus (a2) and the held-out
    batch (ab), and cross-batch pairs verify with the exact cosine."""
    k = similarity.auto_n_cells(_N_EMB_CORRECTNESS)
    thr = int(round(_SEMANTIC_THRESHOLD * 1_000_000))
    cos = (
        f"CAST(floor(CAST({_ddb_dot('a.v', 'b.v')} AS DOUBLE)"
        " / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))"
        " * 1000000) AS BIGINT)"
    )
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id % 4 <> 0
),
vbat AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id % 4 = 0
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q
  FROM v ORDER BY vec_id LIMIT {k}
),
vu AS (SELECT vec_id, unnest(q) AS val, generate_subscripts(q, 1) AS i
       FROM v),
su AS (SELECT cid, unnest(q) AS cval, generate_subscripts(q, 1) AS i
       FROM seeds),
d1 AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM vu JOIN su USING (i) GROUP BY vec_id, cid
),
a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d1) t WHERE rn = 1
),
c2 AS (
  SELECT a1.cluster AS cid, i,
         CAST(round(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cval
  FROM vu JOIN a1 USING (vec_id) GROUP BY a1.cluster, i
),
d2 AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM vu JOIN c2 USING (i) GROUP BY vec_id, cid
),
a2 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d2) t WHERE rn = 1
),
bu AS (SELECT vec_id, unnest(q) AS val, generate_subscripts(q, 1) AS i
       FROM vbat),
db AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM bu JOIN c2 USING (i) GROUP BY vec_id, cid
),
ab AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM db) t WHERE rn = 1
),
qv AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
qn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM qv),
ta AS (
  SELECT a2.vec_id, a2.cluster, qn.v, qn.n2
  FROM a2 JOIN qn USING (vec_id)
),
tb AS (
  SELECT ab.vec_id, ab.cluster, qn.v, qn.n2
  FROM ab JOIN qn USING (vec_id)
)
SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       {cos} AS cosine_u
FROM ta a JOIN tb b ON a.cluster = b.cluster
WHERE {cos} >= {thr}
"""




def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability for the exact-dedup pass: per source,
    docs, exact duplicates (non-canonical members of a fingerprint
    group), the dup rate in basis points, and the bytes those dups
    waste — the per-source report a crawl-curation dashboard renders
    after every ingest. Pure composition: exact_dedup's one
    fingerprint-window shuffle + one per-source hash aggregate.
    A duplicate is charged to ITS OWN source (cross-source dup pairs
    exist — cross_source_leakage counts those spans)."""
    docs = _docs(spark, sf_dir)
    d = dedup.exact_dedup(docs).select("doc_id", "is_dup")
    return (
        docs.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
            F.sum(
                F.when(F.col("is_dup") == 1, F.length("text")).otherwise(
                    0
                ).cast("long")
            ).alias("dup_chars"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_dups",
            "CAST(n_dups * 10000 DIV n_docs AS BIGINT) AS dup_bp",
            "dup_chars",
        )
        .orderBy("source")
    )


_ORACLE_DEDUP_RATE = f"""
WITH fp AS (
  SELECT doc_id, source, length(text) AS n_chars_txt,
         sha256({_NORM}) AS fingerprint
  FROM documents
),
d AS (
  SELECT doc_id, source, n_chars_txt,
         CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fingerprint)
              THEN 1 ELSE 0 END AS is_dup
  FROM fp
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dups,
       CAST(sum(is_dup) * 10000 // count(*) AS BIGINT) AS dup_bp,
       CAST(sum(CASE WHEN is_dup = 1 THEN n_chars_txt ELSE 0 END)
            AS BIGINT) AS dup_chars
FROM d
GROUP BY source
ORDER BY source
"""


def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length histogram on power-of-two buckets —
    the length-distribution profile that drives packing geometry and
    length-curriculum choices (chunk size, max_len truncation loss).
    Bucket = floor(log2(n_tokens)) computed INTEGERLY as
    length(bin(n_tokens)) - 1 (no floating log2 — log2(2^k) can land
    a hair under k in binary float on some engines, off-by-one
    bucketing the exact powers of two); bucket_lo carries the
    human-readable lower edge. Re-anchored r13 on the REAL
    merge-table BPE counts (operators/bpe.py greedy walk over
    fixtures/bpe_merges.txt) — the histogram a production pipeline
    actually bills against — instead of the whitespace-token
    approximation; the oracle replays the identical walk with a
    recursive CTE (_BPE_WALK_CTES). Zero-token docs get bucket -1."""
    docs = _docs(spark, sf_dir)
    counts = bpe.bpe_token_counts(docs)
    bucket = F.when(F.col("n_bpe_tokens") <= 0, F.lit(-1)).otherwise(
        F.length(F.expr("bin(n_bpe_tokens)")) - 1
    ).cast("long")
    return (
        docs.select("doc_id", "source")
        .join(counts, "doc_id")
        .select("source", "n_bpe_tokens", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe_tokens").alias("tokens_total"),
        )
        .selectExpr(
            "source",
            "bucket",
            "CAST(CASE WHEN bucket < 0 THEN 0"
            " ELSE power(2, bucket) END AS BIGINT) AS bucket_lo",
            "n_docs",
            "tokens_total",
        )
        .orderBy("source", "bucket")
    )


_ORACLE_TOKEN_LENGTH_HIST = f"""
WITH RECURSIVE {_BPE_WALK_CTES},
b AS (
  SELECT d.source, t.n,
         CASE WHEN t.n <= 0 THEN -1
              ELSE CAST(length(bin(t.n)) - 1 AS BIGINT) END AS bucket
  FROM documents d JOIN bpe_doc_tokens t USING (doc_id)
)
SELECT source, bucket,
       CAST(CASE WHEN bucket < 0 THEN 0
            ELSE power(2, bucket) END AS BIGINT) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS tokens_total
FROM b
GROUP BY source, bucket
ORDER BY source, bucket
"""


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source merge-table BPE accounting: document count, total
    pre-tokenizer matches, total REAL BPE tokens (the greedy merge
    walk over fixtures/bpe_merges.txt — operators/bpe.py), and
    fertility (BPE tokens per pre-token, basis points) — how well the
    tokenizer compresses each source, i.e. what a training run is
    actually billed per source. The Python merge loop runs once per
    DISTINCT pre-token (Zipf factorization; corpus-sized work stays
    in the JVM); exact integer arithmetic throughout (fertility_bp is
    integer division — Spark `DIV` / DuckDB `//` — so no IEEE rounding
    even past 2^53); the oracle replays the identical walk with a
    recursive CTE."""
    docs = _docs(spark, sf_dir)
    counts = bpe.bpe_token_counts(docs)
    pre = docs.select(
        "doc_id",
        "source",
        text_ops.bpe_token_count("text").cast("long").alias("__pre"),
    )
    return (
        pre.join(counts, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__pre").alias("pre_tokens_total"),
            F.sum("n_bpe_tokens").alias("bpe_tokens_total"),
        )
        .select(
            "source",
            "n_docs",
            "pre_tokens_total",
            "bpe_tokens_total",
            F.expr(
                "(bpe_tokens_total * 10000)"
                " DIV greatest(pre_tokens_total, 1)"
            )
            .cast("long")
            .alias("fertility_bp"),
        )
        .orderBy("source")
    )


_ORACLE_BPE_TOKEN_STATS = f"""
WITH RECURSIVE {_BPE_WALK_CTES},
pre AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all({_NORM}, '{_BPE_PRETOK_RE}'))
              AS BIGINT) AS pre_n
  FROM documents
)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.pre_n) AS BIGINT) AS pre_tokens_total,
       CAST(sum(t.n) AS BIGINT) AS bpe_tokens_total,
       CAST((CAST(sum(t.n) AS BIGINT) * 10000)
            // greatest(CAST(sum(p.pre_n) AS BIGINT), 1) AS BIGINT)
         AS fertility_bp
FROM pre p JOIN bpe_doc_tokens t USING (doc_id)
GROUP BY p.source
ORDER BY p.source
"""


def q_ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search — "nearest English documents
    only": the corpus side is the embeddings table semi-joined to the
    documents metadata predicate (lang = 'en') BEFORE any scoring, so
    the filter prunes the expensive side ahead of the dot products —
    the standard pre-filtered ANN shape (vs post-filtering a top-k,
    which under-returns when the predicate is selective). At 100 TB
    the metadata projection (doc_id, lang) is a fraction of the
    vector table and broadcastable; scoring then proceeds exactly as
    ann_topk (broadcast query set, corpus never shuffles). Ranks are
    re-dense within the filtered corpus, so every query still returns
    a full top-k when enough filtered candidates exist."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    keep = docs.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("vec_id")
    )
    corpus = emb.join(F.broadcast(keep), "vec_id", "left_semi")
    return similarity.cosine_topk(corpus, _query_vectors(emb), k=_TOPK)


_ORACLE_ANN_TOPK_FILTERED = f"""
WITH keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
d AS (
  SELECT vec_id, {_QUANT} AS v FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM keep)
),
dn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM d),
dq AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
dqn AS (SELECT vec_id, v, {_ddb_dot("v", "v")} AS n2 FROM dq),
q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM dqn
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         CAST({_ddb_dot("qv", "v")} AS DOUBLE)
         / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS c
  FROM q, dn
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(floor(c * 1000000) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= {_TOPK}
"""


def q_embedding_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution monitor: per source, the exact-integer
    centroid direction's alignment with the GLOBAL centroid — the
    drift readout that catches an encoder change or a poisoned shard
    in one number per source. Centroids are exact micro-unit
    component sums (one posexplode hash aggregate each, the
    label_centroids shape with `source` as the label); the alignment
    is the exact integer dot of the two SUM vectors divided by their
    norms (IEEE, deterministic), so scale factors (doc counts) cancel
    and only direction matters. Output: (source, n_vecs,
    align_global_u) with alignment on the micro grid."""
    from datafusion_uba_spark.operators.similarity import (
        _QUANT_SQL,
        dot_sql,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    emb = _emb(spark, sf_dir)
    j = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source",
        F.expr(_QUANT_SQL.format(col="embedding")).alias("q"),
    )
    comp = j.select(
        "source", F.posexplode("q").alias("pos", "val")
    )
    # ONE corpus pass (r18): component sums AND vector counts fold
    # into a single (source, pos) hash aggregate — map-side partials
    # compress to |sources| x dim rows before the only corpus-wide
    # exchange. The global centroid re-sums the per-source sums
    # (integer sum is associative and null-skipping on both levels,
    # so values are identical), and n_vecs is the pos-0 row count
    # (every vector contributes exactly one pos-0 component). The old
    # shape evaluated the join+quantize+explode chain THREE times
    # (per-source sums, global sums, counts). `per` has two consumers
    # whose column pruning specializes the aggregate schemas (glob
    # drops `c`), so ReuseExchange cannot dedupe them — pin the tiny
    # (|sources| x dim)-row frame instead; the corpus chain runs once.
    per = (
        comp.groupBy("source", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    per_src = per.groupBy("source").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "s"))),
            lambda ps: ps["s"],
        ).alias("sv"),
        # INVARIANT (r18 advisor): n_vecs-as-pos-0-count equals the
        # oracle's count(*) over the join only because every embedding
        # is a dense non-null 64-dim array (the testdata generator's
        # contract; _QUANT_SQL indexes all 64 positions and would
        # itself error on shorter arrays). A null/empty embedding would
        # contribute no pos-0 row and silently undercount here — if the
        # input contract ever loosens, count vectors in a separate
        # aggregate over `j` instead.
        F.max(F.when(F.col("pos") == 0, F.col("c"))).alias("n_vecs"),
    )
    glob = (
        per.groupBy("pos")
        .agg(F.sum("s").alias("s"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda ps: ps["s"],
            ).alias("gv")
        )
    )
    dim = 64
    return (
        per_src.crossJoin(F.broadcast(glob))
        .selectExpr(
            "source",
            "n_vecs",
            f"CAST(floor(CAST({dot_sql('sv', 'gv', dim)} AS DOUBLE)"
            f" / sqrt(CAST({dot_sql('sv', 'sv', dim)} AS DOUBLE)"
            f" * CAST({dot_sql('gv', 'gv', dim)} AS DOUBLE))"
            " * 1000000) AS BIGINT) AS align_global_u",
        )
        .orderBy("source")
    )


_ORACLE_EMBEDDING_DRIFT = f"""
WITH j AS (
  SELECT d.source, {_QUANT} AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
u AS (
  SELECT source, unnest(v) AS val, generate_subscripts(v, 1) AS i
  FROM j
),
per AS (
  SELECT source, i, CAST(sum(val) AS BIGINT) AS s
  FROM u GROUP BY source, i
),
psv AS (
  SELECT source, list(s ORDER BY i) AS sv FROM per GROUP BY source
),
cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_vecs FROM j GROUP BY source
),
gl AS (
  SELECT i, CAST(sum(val) AS BIGINT) AS s FROM u GROUP BY i
),
gv AS (SELECT list(s ORDER BY i) AS gv FROM gl)
SELECT p.source, c.n_vecs,
       CAST(floor(CAST({_ddb_dot("p.sv", "g.gv")} AS DOUBLE)
            / sqrt(CAST({_ddb_dot("p.sv", "p.sv")} AS DOUBLE)
            * CAST({_ddb_dot("g.gv", "g.gv")} AS DOUBLE))
            * 1000000) AS BIGINT) AS align_global_u
FROM psv p JOIN cnt c USING (source) CROSS JOIN gv g
ORDER BY p.source
"""




def q_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test CONTAMINATION audit — the check every dataset
    card should run and most don't: exact-content fingerprint groups
    that span two splits leak evaluation data into training. Composes
    the deterministic md5-bucket split (packing.assign_split, the
    dataset_split row's rule) with the exact-dedup fingerprint: per
    fingerprint one hash aggregate folds split-membership indicator
    bits, then a fixed 3-row report (train_val / train_test /
    val_test) counts the offending fingerprints and the documents in
    those groups. Zero rows is not the success signal — the pairs
    always appear, with n_fingerprints = 0 when clean — so a broken
    upstream join fails loudly rather than reading as clean."""
    docs = _docs(spark, sf_dir)
    d = packing.assign_split(
        docs.select(
            "doc_id",
            text_ops.content_fingerprint("text").alias("fp"),
        ),
        val_pct=5,
        test_pct=5,  # the dataset_split row's 90/5/5 (oracle constants)
    )
    g = d.groupBy("fp").agg(
        F.max((F.col("split") == "train").cast("int")).alias("t"),
        F.max((F.col("split") == "val").cast("int")).alias("v"),
        F.max((F.col("split") == "test").cast("int")).alias("e"),
        F.count(F.lit(1)).alias("n"),
    )

    def _cells(a, b):
        hit = (F.col(a) == 1) & (F.col(b) == 1)
        return [
            F.coalesce(F.sum(hit.cast("long")), F.lit(0)),
            F.coalesce(F.sum(F.when(hit, F.col("n"))), F.lit(0)).cast(
                "long"
            ),
        ]

    # ONE aggregate over the fingerprint groups (not one scan per
    # pair), unpivoted to the fixed 3-row report with stack
    wide = g.agg(
        *(
            c.alias(f"c{i}")
            for i, c in enumerate(
                _cells("t", "e") + _cells("t", "v") + _cells("v", "e")
            )
        )
    )
    return wide.selectExpr(
        "stack(3, 'train_test', c0, c1, 'train_val', c2, c3, "
        "'val_test', c4, c5) AS (split_pair, n_fingerprints, n_docs)"
    ).orderBy("split_pair")


# thresholds replicate assign_split's integer arithmetic (the
# dataset_split oracle's constants): test >= 62260, val >= 58984
_ORACLE_SPLIT_LEAKAGE = f"""
WITH d AS (
  SELECT doc_id, sha256({_NORM}) AS fp,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT >= 62260 THEN 'test'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT >= 58984 THEN 'val'
              ELSE 'train' END AS split
  FROM documents
),
g AS (
  SELECT fp,
         max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS t,
         max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS v,
         max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS e,
         CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY fp
)
SELECT 'train_test' AS split_pair,
       CAST(coalesce(count(*) FILTER (t = 1 AND e = 1), 0) AS BIGINT)
         AS n_fingerprints,
       CAST(coalesce(sum(n) FILTER (t = 1 AND e = 1), 0) AS BIGINT)
         AS n_docs
FROM g
UNION ALL
SELECT 'train_val',
       CAST(coalesce(count(*) FILTER (t = 1 AND v = 1), 0) AS BIGINT),
       CAST(coalesce(sum(n) FILTER (t = 1 AND v = 1), 0) AS BIGINT)
FROM g
UNION ALL
SELECT 'val_test',
       CAST(coalesce(count(*) FILTER (v = 1 AND e = 1), 0) AS BIGINT),
       CAST(coalesce(sum(n) FILTER (v = 1 AND e = 1), 0) AS BIGINT)
FROM g
ORDER BY split_pair
"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return multimodal.multimodal_stats(docs)


def q_dedup_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over 40-char document prefixes
    (operators/dedup.py fuzzy_prefix_pairs): two-pass token blocking
    (first token, last token) x length banding, then plain levenshtein
    <= 3 decides membership — identical built-in in Spark and DuckDB,
    so the oracle replays blocking AND verification verbatim."""
    docs = _docs(spark, sf_dir)
    return dedup.fuzzy_prefix_pairs(docs).orderBy("id1", "id2")


_ORACLE_DEDUP_FUZZY = """
WITH p AS (
  SELECT doc_id AS id, lower(substr(text, 1, 40)) AS pre FROM documents
),
r AS (
  SELECT pre, min(id) AS id FROM p GROUP BY pre
),
same AS (
  SELECT r.id AS id1, p.id AS id2, CAST(0 AS INT) AS edit_dist
  FROM p JOIN r ON p.pre = r.pre
  WHERE p.id <> r.id
),
b AS (
  SELECT id, pre,
         split_part(pre, ' ', 1) AS tok1,
         split_part(pre, ' ', -1) AS tokl,
         length(pre) // 8 AS lb
  FROM r
),
b1 AS (
  SELECT * FROM (
    SELECT id, pre, tok1, lb,
           count(*) OVER (PARTITION BY tok1, lb) AS bc
    FROM b WHERE tok1 <> ''
  ) WHERE bc <= 256
),
b2 AS (
  SELECT * FROM (
    SELECT id, pre, tokl, lb,
           count(*) OVER (PARTITION BY tokl, lb) AS bc
    FROM b WHERE tokl <> ''
  ) WHERE bc <= 256
),
cand AS (
  SELECT a.id AS id1, c.id AS id2, a.pre AS p1, c.pre AS p2
  FROM b1 a JOIN b1 c ON a.tok1 = c.tok1 AND a.lb = c.lb AND a.id < c.id
  UNION
  SELECT a.id, c.id, a.pre, c.pre
  FROM b2 a JOIN b2 c ON a.tokl = c.tokl AND a.lb = c.lb AND a.id < c.id
)
SELECT id1, id2, edit_dist FROM same
UNION ALL
SELECT id1, id2, CAST(levenshtein(p1, p2) AS INT) AS edit_dist
FROM cand
WHERE levenshtein(p1, p2) <= 3
ORDER BY id1, id2
"""


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real raster roundtrip (round 10, no stub): render each doc's
    deterministic RGB image, ENCODE it as a real 24-bit BMP (even ids)
    or binary P6 PPM (odd ids) with the dependency-free numpy codecs
    in operators.imagecodec, then DECODE headers + pixels back and
    emit exact per-channel integer sums. The oracle replays the pixel
    generator in closed form, so any codec slip — stride padding, BGR
    order, header arithmetic — hashes red. Scale shape: bytes cross
    the Arrow boundary once per batch, output is 8 scalars/image."""
    docs = _docs(spark, sf_dir)
    return multimodal.image_decode_roundtrip(docs)


def _oracle_image_decode() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        IMG_H_BASE,
        IMG_H_MOD,
        IMG_W_BASE,
        IMG_W_MOD,
    )

    w = f"({IMG_W_BASE} + d.doc_id % {IMG_W_MOD})"
    h = f"({IMG_H_BASE} + d.doc_id % {IMG_H_MOD})"
    # pixel (x, c) = (doc_id*7 + 13x + 11c) mod 256 on every row, so
    # each channel sum is height * sum over x of the row value — the
    # per-(doc, x) lateral stays O(width) per doc
    return f"""
WITH px AS (
  SELECT d.doc_id, {w} AS width, {h} AS height, g.x
  FROM documents d
  CROSS JOIN generate_series(0, {IMG_W_BASE + IMG_W_MOD - 2}) g(x)
  WHERE g.x < {w}
)
SELECT
  doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS codec,
  CAST(width AS BIGINT) AS width,
  CAST(height AS BIGINT) AS height,
  CAST(width * height AS BIGINT) AS n_pixels,
  CAST(height * SUM((doc_id * 7 + 13 * x) % 256) AS BIGINT) AS sum_r,
  CAST(height * SUM((doc_id * 7 + 13 * x + 11) % 256) AS BIGINT) AS sum_g,
  CAST(height * SUM((doc_id * 7 + 13 * x + 22) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, width, height
"""


def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real resize pipeline (round 10): render → encode → decode →
    integer-exact nearest-neighbor downscale to max_side=32 →
    RE-ENCODE in the same codec → decode again → exact channel sums.
    The oracle replays the floor source-index map ((x*w) DIV nw) in
    closed form, so a single off-by-one in geometry, stride, or either
    codec hashes red."""
    docs = _docs(spark, sf_dir)
    return multimodal.image_resize_roundtrip(docs, max_side=32)


def _oracle_image_resize() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        IMG_H_BASE,
        IMG_H_MOD,
        IMG_W_BASE,
        IMG_W_MOD,
    )

    return f"""
WITH d AS (
  SELECT doc_id,
         ({IMG_W_BASE} + doc_id % {IMG_W_MOD}) AS w,
         ({IMG_H_BASE} + doc_id % {IMG_H_MOD}) AS h
  FROM documents
),
g AS (
  SELECT doc_id, w, h,
         CASE WHEN GREATEST(w, h) <= 32 THEN w
              ELSE GREATEST(1, w * 32 // GREATEST(w, h)) END AS nw,
         CASE WHEN GREATEST(w, h) <= 32 THEN h
              ELSE GREATEST(1, h * 32 // GREATEST(w, h)) END AS nh
  FROM d
),
px AS (
  SELECT g.doc_id, g.w, g.nw, g.nh, s.x
  FROM g CROSS JOIN generate_series(0, 31) s(x)
  WHERE s.x < g.nw
)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS codec,
  CAST(nw AS BIGINT) AS width,
  CAST(nh AS BIGINT) AS height,
  CAST(nw * nh AS BIGINT) AS n_pixels,
  CAST(nh * SUM((doc_id * 7 + 13 * ((x * w) // nw)) % 256) AS BIGINT)
    AS sum_r,
  CAST(nh * SUM((doc_id * 7 + 13 * ((x * w) // nw) + 11) % 256) AS BIGINT)
    AS sum_g,
  CAST(nh * SUM((doc_id * 7 + 13 * ((x * w) // nw) + 22) % 256) AS BIGINT)
    AS sum_b
FROM px
GROUP BY doc_id, nw, nh
"""


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash of every rendered image (operators/
    multimodal.py image_ahash): render + encode (real BMP/PPM codec)
    -> decode -> 8x8 floor-map downsample -> integer gray ->
    cross-multiplied mean threshold -> 64-bit fingerprint. The oracle
    replays the full fingerprint in closed form from the generator, so
    a wrong sample coordinate, gray rounding, bit order, or packing
    hashes red."""
    docs = _docs(spark, sf_dir)
    return multimodal.image_ahash_roundtrip(docs)


def _oracle_image_ahash() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        IMG_H_BASE,
        IMG_H_MOD,
        IMG_W_BASE,
        IMG_W_MOD,
    )

    # the synthetic raster is constant down columns, so the 8x8 grid is
    # one 8-value row repeated: each 32-bit half is the 8-bit row
    # pattern B replicated four times (B * 0x01010101) — the same
    # row-constancy closed form the channel-sum oracles use
    return f"""
WITH d AS (
  SELECT doc_id,
         ({IMG_W_BASE} + doc_id % {IMG_W_MOD}) AS w,
         ({IMG_H_BASE} + doc_id % {IMG_H_MOD}) AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h, s.x,
         (doc_id * 7 + 13 * ((s.x * w) // 8)) AS a
  FROM d CROSS JOIN generate_series(0, 7) s(x)
),
g AS (
  SELECT doc_id, w, h, x,
         ((a % 256) + ((a + 11) % 256) + ((a + 22) % 256)) // 3 AS gray
  FROM px
),
t AS (SELECT doc_id, sum(gray) AS s8 FROM g GROUP BY doc_id),
b AS (
  SELECT g.doc_id, any_value(w) AS w, any_value(h) AS h,
         CAST(sum(CASE WHEN gray * 8 >= s8
                  THEN (1 << (7 - CAST(x AS INT))) ELSE 0 END)
              AS BIGINT) AS pat
  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(pat * 16843009 AS BIGINT) AS ahash_hi,
       CAST(pat * 16843009 AS BIGINT) AS ahash_lo,
       printf('%08x', pat * 16843009) ||
       printf('%08x', pat * 16843009) AS ahash_hex
FROM b
"""


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real frame sampling (round 10): each doc renders a deterministic
    multi-frame sequence, encodes it as a genuine concatenated-PPM
    stream (netpbm video / ffmpeg image2pipe), then the sampler parses
    the self-describing headers frame by frame, keeps every 2nd frame,
    and emits exact channel sums. The oracle replays the per-frame
    pixel generator in closed form — a mis-parsed frame boundary or a
    wrong sampling index hashes red."""
    docs = _docs(spark, sf_dir)
    return multimodal.video_frame_roundtrip(docs, every_n=2)


def _oracle_video_frames() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        IMG_H_BASE,
        IMG_H_MOD,
        IMG_W_BASE,
        IMG_W_MOD,
        VIDEO_FRAMES_BASE,
        VIDEO_FRAMES_MOD,
    )

    return f"""
WITH d AS (
  SELECT doc_id,
         ({IMG_W_BASE} + doc_id % {IMG_W_MOD}) AS w,
         ({IMG_H_BASE} + doc_id % {IMG_H_MOD}) AS h,
         ({VIDEO_FRAMES_BASE} + doc_id % {VIDEO_FRAMES_MOD}) AS nf
  FROM documents
),
fr AS (
  SELECT d.doc_id, d.w, d.h, d.nf, f.f
  FROM d CROSS JOIN
       generate_series(0, {VIDEO_FRAMES_BASE + VIDEO_FRAMES_MOD - 2}) f(f)
  WHERE f.f < d.nf AND f.f % 2 = 0
),
px AS (
  SELECT fr.doc_id, fr.f, fr.nf, fr.w, fr.h, x.x
  FROM fr CROSS JOIN generate_series(0, {IMG_W_BASE + IMG_W_MOD - 2}) x(x)
  WHERE x.x < fr.w
)
SELECT doc_id,
  CAST(f AS BIGINT) AS frame_idx,
  CAST(nf AS BIGINT) AS n_frames,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(h * SUM((doc_id * 7 + 13 * x + 17 * f) % 256) AS BIGINT) AS sum_r,
  CAST(h * SUM((doc_id * 7 + 13 * x + 11 + 17 * f) % 256) AS BIGINT)
    AS sum_g,
  CAST(h * SUM((doc_id * 7 + 13 * x + 22 + 17 * f) % 256) AS BIGINT)
    AS sum_b
FROM px
GROUP BY doc_id, f, nf, w, h
"""


def q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode (round 11): each doc synthesizes a
    deterministic int16 PCM signal, encodes it as a genuine RIFF WAV
    file (operators.audiocodec), then the decoder chunk-walks the
    container, parses fmt, reinterprets the interleaved little-endian
    frames, and emits exact integer stats. The oracle replays the
    sample generator in closed form — a signedness, interleave, or
    chunk-offset mistake hashes red."""
    docs = _docs(spark, sf_dir)
    return multimodal.audio_decode_roundtrip(docs)


def _oracle_audio_decode() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        AUDIO_N_BASE,
        AUDIO_N_MOD,
        AUDIO_RATES,
    )

    rates = ", ".join(str(r) for r in AUDIO_RATES)
    return f"""
WITH d AS (
  SELECT doc_id,
         ({AUDIO_N_BASE} + doc_id % {AUDIO_N_MOD}) AS n,
         (1 + doc_id % 2) AS ch,
         ([{rates}])[CAST(doc_id % {len(AUDIO_RATES)} + 1 AS INT)] AS rate
  FROM documents
),
fr AS (
  SELECT d.doc_id, d.n, d.ch, d.rate, i.i
  FROM d CROSS JOIN
       generate_series(0, {AUDIO_N_BASE + AUDIO_N_MOD - 2}) i(i)
  WHERE i.i < d.n
),
sm AS (
  SELECT fr.doc_id, fr.n, fr.ch, fr.rate, c.c,
         (fr.doc_id * 31 + 7 * fr.i + 5 * c.c) % 4096 - 2048 AS v
  FROM fr CROSS JOIN generate_series(0, 1) c(c)
  WHERE c.c < fr.ch
)
SELECT doc_id,
  CAST(rate AS BIGINT) AS sample_rate,
  CAST(ch AS BIGINT) AS n_channels,
  CAST(n AS BIGINT) AS n_samples,
  CAST(n * 1000000 // rate AS BIGINT) AS duration_us,
  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_ch0,
  CAST(SUM(v) AS BIGINT) AS sum_all,
  CAST(SUM(ABS(v)) AS BIGINT) AS abs_sum_all
FROM sm
GROUP BY doc_id, rate, ch, n
"""


def q_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy (multimodal.audio_energy_windows): the
    decoded PCM framed into 128-frame windows, exact integer energy
    (sum of squares over frames and channels) and peak |sample| per
    window — the silence-detection primitive, hash-checked against the
    closed-form sample generator."""
    docs = _docs(spark, sf_dir)
    return multimodal.audio_energy_roundtrip(docs)


def _oracle_audio_energy() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        AUDIO_ENERGY_WIN,
        AUDIO_N_BASE,
        AUDIO_N_MOD,
        AUDIO_RATES,
    )

    rates = ", ".join(str(r) for r in AUDIO_RATES)
    return f"""
WITH d AS (
  SELECT doc_id,
         ({AUDIO_N_BASE} + doc_id % {AUDIO_N_MOD}) AS n,
         (1 + doc_id % 2) AS ch,
         ([{rates}])[CAST(doc_id % {len(AUDIO_RATES)} + 1 AS INT)] AS rate
  FROM documents
),
fr AS (
  SELECT d.doc_id, d.n, d.ch, i.i
  FROM d CROSS JOIN
       generate_series(0, {AUDIO_N_BASE + AUDIO_N_MOD - 2}) i(i)
  WHERE i.i < d.n
),
sm AS (
  SELECT fr.doc_id, fr.i,
         (fr.doc_id * 31 + 7 * fr.i + 5 * c.c) % 4096 - 2048 AS v
  FROM fr CROSS JOIN generate_series(0, 1) c(c)
  WHERE c.c < fr.ch
)
SELECT doc_id,
       CAST(i // {AUDIO_ENERGY_WIN} AS BIGINT) AS win_idx,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs
FROM sm
GROUP BY doc_id, i // {AUDIO_ENERGY_WIN}
"""


def q_video_motion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-delta motion profile (multimodal.video_motion_stats):
    exact absolute pixel-difference sums for every consecutive frame
    pair of the parsed PPM stream — shot-boundary detection; a
    mis-parsed frame boundary shifts every delta and hashes red."""
    docs = _docs(spark, sf_dir)
    return multimodal.video_motion_roundtrip(docs)


def _oracle_video_motion() -> str:
    from datafusion_uba_spark.operators.multimodal import (
        IMG_H_BASE,
        IMG_H_MOD,
        IMG_W_BASE,
        IMG_W_MOD,
        VIDEO_FRAMES_BASE,
        VIDEO_FRAMES_MOD,
    )

    return f"""
WITH d AS (
  SELECT doc_id,
         ({IMG_W_BASE} + doc_id % {IMG_W_MOD}) AS w,
         ({IMG_H_BASE} + doc_id % {IMG_H_MOD}) AS h,
         ({VIDEO_FRAMES_BASE} + doc_id % {VIDEO_FRAMES_MOD}) AS nf
  FROM documents
),
fr AS (
  SELECT d.doc_id, d.w, d.h, d.nf, f.f
  FROM d CROSS JOIN
       generate_series(1, {VIDEO_FRAMES_BASE + VIDEO_FRAMES_MOD - 2}) f(f)
  WHERE f.f < d.nf
),
px AS (
  SELECT fr.doc_id, fr.f, fr.nf, fr.h, fr.doc_id * 7 + 13 * x.x AS base
  FROM fr CROSS JOIN generate_series(0, {IMG_W_BASE + IMG_W_MOD - 2}) x(x)
  WHERE x.x < fr.w
),
ch AS (
  SELECT doc_id, f, nf, h,
         ABS((base + 11 * c.c + 17 * f) % 256
             - (base + 11 * c.c + 17 * (f - 1)) % 256) AS dv
  FROM px CROSS JOIN generate_series(0, 2) c(c)
)
SELECT doc_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(h * SUM(dv) AS BIGINT) AS motion_abs
FROM ch
GROUP BY doc_id, f, nf, h
"""


_ORACLE_MULTIMODAL = """
SELECT doc_id,
  octet_length(CAST(text AS BLOB)) AS n_bytes,
  md5(text) AS payload_md5,
  (['image', 'audio', 'video'])[CAST((doc_id % 3) + 1 AS INT)] AS modality,
  CAST(((doc_id % 16) + 1) * 64 AS INT) AS width,
  CAST(((doc_id % 9) + 1) * 64 AS INT) AS height,
  CAST(((doc_id % 16) + 1) * 64 AS BIGINT) * (((doc_id % 9) + 1) * 64)
    AS n_pixels
FROM documents
"""


# ---------------------------------------------------------------------------
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical 'clean the crawl' first pass, composed as ONE
    query: keep documents that are (a) the canonical copy of their
    content (not an exact duplicate), (b) confidently English, (c)
    above the quality bar, (d) long enough to train on. text_stats
    already carries the content fingerprint, so dedup is a window over
    it — one scan of documents, one narrow shuffle on fingerprint,
    instead of a second scan + join through exact_dedup. Thresholds
    sit mid-distribution on the synthetic corpus so the row both
    filters and keeps substantively at every SF."""
    from pyspark.sql import Window

    stats = text_ops.text_stats(_docs(spark, sf_dir))
    w = Window.partitionBy("fingerprint")
    return (
        stats.withColumn(
            "is_dup",
            (F.col("doc_id") != F.min("doc_id").over(w)).cast("int"),
        )
        .where(
            (F.col("is_dup") == 0)
            & (F.col("lang_pred") == "en")
            & (F.col("quality_u") >= 600_000)
            & (F.col("n_tokens") >= 20)
        )
        .select("doc_id", "n_tokens", "quality_u", "lang_pred")
    )


_ORACLE_CORPUS_FILTER = f"""
WITH ts AS ({_ORACLE_TEXT_STATS})
SELECT doc_id, n_tokens, quality_u, lang_pred
FROM (
  SELECT ts.*,
    CAST(doc_id != min(doc_id) OVER (PARTITION BY fingerprint) AS INT)
      AS is_dup
  FROM ts
)
WHERE is_dup = 0 AND lang_pred = 'en'
  AND quality_u >= 600000 AND n_tokens >= 20
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum shard ordering: the corpus groups into 32
    deterministic writer shards (doc_id mod 32), each shard scores by
    its mean document quality (exact micro-units, truncating
    division), and shards emit in descending-quality curriculum order
    with the cumulative token budget a trainer consumes by the end of
    each shard — the artifact a curriculum scheduler reads. The
    per-shard aggregate is the corpus-sized work (ONE hash aggregate
    with map-side combine over text_stats); the ordering + cumulative
    sum run over |shards| rows — driver-metadata-sized at any corpus
    (the telescoping allowance), never a per-doc window."""
    from pyspark.sql import Window

    stats = text_ops.text_stats(_docs(spark, sf_dir))
    per = (
        stats.withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(32)).cast("long")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum("quality_u").alias("__qsum"),
        )
        .withColumn(
            "quality_avg_u", F.expr("__qsum DIV n_docs").cast("long")
        )
    )
    w = Window.orderBy(F.desc("quality_avg_u"), F.asc("shard"))
    return (
        per.select(
            "shard", "n_docs", "tokens_total", "quality_avg_u"
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_tokens",
            F.sum("tokens_total")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .select(
            "rank",
            "shard",
            "n_docs",
            "tokens_total",
            "quality_avg_u",
            "cum_tokens",
        )
        .orderBy("rank")
    )


_ORACLE_CURRICULUM_ORDER = f"""
WITH ts AS ({_ORACLE_TEXT_STATS}),
per AS (
  SELECT doc_id % 32 AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         CAST(sum(quality_u) AS BIGINT) AS qsum
  FROM ts GROUP BY 1
),
o AS (
  SELECT shard, n_docs, tokens_total,
         CAST(qsum // n_docs AS BIGINT) AS quality_avg_u
  FROM per
)
SELECT CAST(row_number() OVER
         (ORDER BY quality_avg_u DESC, shard) AS BIGINT) AS rank,
       shard, n_docs, tokens_total, quality_avg_u,
       CAST(sum(tokens_total) OVER
         (ORDER BY quality_avg_u DESC, shard
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
FROM o ORDER BY rank
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over a deterministic corpus split:
    docs with doc_id % 19 == 0 play the eval benchmark (~5%, the
    small broadcast side), the rest are the training corpus scanned
    for 8-gram overlap. See text.contamination_stats for the
    broadcast-probe plan."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 19 == 0)
    corpus = docs.where(F.col("doc_id") % 19 != 0)
    return text_ops.contamination_stats(corpus, bench, n=8)


_ORACLE_DECONTAMINATE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE {_NORM} <> ''
),
g AS (SELECT doc_id, {_ddb_shingles_n('toks', 8)} AS gs FROM t),
bench AS (
  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 19 = 0
),
inv AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 19 <> 0),
per AS (
  SELECT i.doc_id, count(*) AS n_grams,
         sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM inv i LEFT JOIN bench b USING (gram) GROUP BY i.doc_id
)
SELECT c.doc_id,
       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(per.n_hit, 0) AS BIGINT) AS n_hit,
       coalesce(per.n_hit, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 19 <> 0) c
LEFT JOIN per USING (doc_id)
"""


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-mix build, composed as one declarative
    plan — the pipeline the whole LLM-data family exists for:
    (1) clean the crawl (corpus_filter: canonical copy, English,
    quality bar, length floor), (2) drop benchmark-contaminated docs
    (8-gram overlap against the broadcast eval split), (3) rebalance
    sources with temperature quotas (alpha = 1/2) and take the
    deterministic per-source sample. Every stage is an already
    oracle-pinned operator; this row pins their COMPOSITION — the
    joins between stages are where column drift or dedup/contamination
    ordering bugs would hide.

    Scale shape: stages (1) and (2) are one documents scan each plus
    narrow shuffles; stage (3) is quota arithmetic over |sources| rows
    and the salted two-stage rank over survivors only."""
    from datafusion_uba_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    kept = q_corpus_filter(spark, sf_dir).select("doc_id")
    corpus = docs.where(F.col("doc_id") % 19 != 0)
    bench = docs.where(F.col("doc_id") % 19 == 0)
    contaminated = (
        text_ops.contamination_stats(corpus, bench, n=8)
        .where(F.col("contaminated"))
        .select("doc_id")
    )
    # temperature_quota_sample consumes its input TWICE (the quota
    # count aggregate and the tagging join), and eligible's subtree is
    # the expensive part of this row (text_stats fingerprint window +
    # the full 8-gram contamination pass) — without a barrier the whole
    # chain runs twice (8 documents scans in the executed plan). Pin
    # the skinny (doc_id, source) survivors once; both consumers read
    # the pinned frame (guide §2.4/§5; r18).
    eligible = (
        docs.where(F.col("doc_id") % 19 != 0)
        .join(kept, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source")
        .localCheckpoint(eager=False)
    )
    return sampling.temperature_quota_sample(eligible, "source", 100)


_ORACLE_TRAINING_MIX = f"""
WITH kept AS ({_ORACLE_CORPUS_FILTER}),
t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE {_NORM} <> ''
),
g8 AS (SELECT doc_id, {_ddb_shingles_n('toks', 8)} AS gs FROM t),
bench AS (
  SELECT DISTINCT unnest(gs) AS gram FROM g8 WHERE doc_id % 19 = 0
),
cont AS (
  SELECT DISTINCT i.doc_id
  FROM (SELECT doc_id, unnest(gs) AS gram FROM g8
        WHERE doc_id % 19 <> 0) i
  JOIN bench b USING (gram)
),
elig AS (
  SELECT d.doc_id, d.source
  FROM documents d
  JOIN kept ON kept.doc_id = d.doc_id
  WHERE d.doc_id % 19 <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
),
n AS (
  SELECT source, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
  FROM elig GROUP BY source
),
q AS (
  SELECT source, (100 * w) // (SELECT sum(w) FROM n) AS quota FROM n
),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS sample_rank
  FROM elig
)
SELECT r.doc_id, r.source, r.sample_rank,
       CAST(q.quota AS BIGINT) AS quota
FROM r JOIN q ON r.source = q.source
WHERE q.quota >= 1 AND r.sample_rank <= q.quota
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text_ops.tfidf_topk(docs, k=3)


# score_u = tf * 1e6 // df: floor division is identical in DuckDB //
# and Spark div; tie-break (tf desc, token asc) totals the order.
# Docs with empty normalized text yield no tokens on either engine.
_ORACLE_TFIDF = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE {_NORM} <> ''
),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
s AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * 1000000 // dfreq.df AS score_u
  FROM tf JOIN dfreq USING (token)
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score_u AS BIGINT) AS score_u, CAST(rank AS INT) AS rank
FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_u DESC, tf DESC, token ASC
  ) AS rank FROM s
)
WHERE rank <= 3
"""


# Spark conv(hex, 16, 10) == DuckDB ('0x' || hex)::INT — both parse the
# 4-hex-char md5 prefix as an integer in [0, 65536)
def _ddb_id_bucket(id_expr: str) -> str:
    return f"('0x' || substr(md5(CAST({id_expr} AS VARCHAR)), 1, 4))::INT"


_N_TOKENS_EXPR = (
    f"CASE WHEN {_NORM} IS NULL THEN 0 WHEN {_NORM} = '' THEN 0 "
    f"ELSE len({_TOKS}) END"
)



def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed context-window placement (operators/packing.py), r13:
    packs on the REAL merge-table BPE token counts (operators/bpe.py)
    instead of the whitespace approximation — window geometry now
    matches what a tokenizer-fed trainer would actually see."""
    docs = _docs(spark, sf_dir)
    counts = bpe.bpe_token_counts(docs)
    return packing.pack_token_stream(
        counts, capacity=256, n_shards=8, tokens_col="n_bpe_tokens"
    )


_ORACLE_SEQUENCE_PACKING = f"""
WITH RECURSIVE {_BPE_WALK_CTES},
s AS (
  SELECT doc_id, n, {_ddb_id_bucket('doc_id')} % 8 AS shard
  FROM bpe_doc_tokens WHERE n >= 1
),
c AS (
  SELECT doc_id, shard, n,
         coalesce(sum(n) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_offset
  FROM s
)
SELECT doc_id, shard, CAST(n AS BIGINT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 256 AS BIGINT) AS first_window,
       CAST((start_offset + n - 1) // 256 AS BIGINT) AS last_window
FROM c
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split, reported as the per-split manifest
    (doc count + token budget) a dataset card needs."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", text_ops.normalize_text("text").alias("__norm")
    ).select(
        "doc_id", F.size(text_ops.tokens_from_norm(F.col("__norm"))).alias("__n")
    )
    return (
        packing.assign_split(d, val_pct=5, test_pct=5)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.greatest(F.col("__n"), F.lit(0))).alias("n_tokens"),
        )
    )


# thresholds replicate assign_split's integer arithmetic:
# test_lo = 65536 - 65536*5//100 = 62260; val_lo = 62260 - 3276 = 58984
_ORACLE_DATASET_SPLIT = f"""
WITH t AS (
  SELECT doc_id, {_N_TOKENS_EXPR} AS n,
         {_ddb_id_bucket('doc_id')} AS bucket
  FROM documents
)
SELECT CASE WHEN bucket >= 62260 THEN 'test'
            WHEN bucket >= 58984 THEN 'val'
            ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum(greatest(n, 0)) AS BIGINT) AS n_tokens
FROM t GROUP BY 1
"""


def q_dedup_bitset_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ingest split and SAME ANSWER as dedup_incremental, through
    the bit-set prescreened plan (dedup.dedup_against_prescreened):
    the corpus folds into a broadcast 2^26-bit membership bitmap (the
    native bitmap_construct_agg built-ins — effectively a single-hash
    Bloom filter), a clear bit PROVES a batch doc is new and bypasses
    the corpus, and only true duplicates plus the ~n/2^26 collision
    sliver reach the exact anti-join. Correctness is plan-independent
    — the confirm join removes every collision false-maybe — so the
    row shares dedup_incremental's oracle verbatim; the pytest pins
    the bitmap layout and forces collisions with a 256-slot bitset."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    inc = docs.where(F.col("doc_id") % 4 == 0)
    return dedup.dedup_against_prescreened(inc, corpus)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N+1 ingest: docs with doc_id % 4 == 0 arrive as the new
    batch, the rest are the already-ingested corpus; return the batch
    docs that are genuinely new (content-hash anti-join + within-batch
    canonicalization — see dedup.dedup_against)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    inc = docs.where(F.col("doc_id") % 4 == 0)
    return dedup.dedup_against(inc, corpus)


_ORACLE_DEDUP_INCREMENTAL = f"""
WITH fp AS (
  SELECT doc_id, sha256({_NORM}) AS fingerprint FROM documents
),
corpus AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 <> 0
),
fresh AS (
  SELECT i.doc_id, i.fingerprint
  FROM fp i LEFT JOIN corpus c USING (fingerprint)
  WHERE i.doc_id % 4 = 0 AND c.fingerprint IS NULL
)
SELECT doc_id, fingerprint FROM (
  SELECT doc_id, fingerprint,
         min(doc_id) OVER (PARTITION BY fingerprint) AS canon
  FROM fresh
) WHERE doc_id = canon
"""


# registry
# ---------------------------------------------------------------------------

def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the confusion matrix of the stopword /
    CJK heuristic classifier (operators/text.py language_id) against
    the documents table's labeled ``lang`` — per (lang, lang_pred)
    doc counts. The scores project in a staged layer below the argmax
    (the r2 codegen lesson: feeding raw score expressions into the
    argmax inlines the tokenize chain ~|langs| times); one narrow map
    stage then one tiny (|langs|^2-row) aggregate."""
    from datafusion_uba_spark.operators.text import (
        LANG_PRIORITY,
        lang_argmax,
        lang_scores_from_tokens,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    s1 = docs.select("lang", tokens(F.col("text")).alias("__toks"))
    scores = lang_scores_from_tokens(F.col("__toks"))
    s2 = s1.select(
        "lang",
        *[scores[lang].alias(f"__sc_{lang}") for lang in LANG_PRIORITY],
    )
    s3 = s2.select(
        "lang",
        lang_argmax(
            {lang: F.col(f"__sc_{lang}") for lang in LANG_PRIORITY}
        ).alias("lang_pred"),
    )
    return s3.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _oracle_langid_confusion() -> str:
    from datafusion_uba_spark.operators.text import language_id_oracle_sql

    return f"""
SELECT lang, {language_id_oracle_sql('text')} AS lang_pred,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated 8-token spans corpus-wide (operators/dedup.py
    ``repeated_spans``, the Lee-et-al substring-dedup report): top 100
    spans occurring >= 3 times, counted by 8-byte fingerprint first
    and re-derived as strings for survivors only. The oracle groups
    the raw strings directly — a hash match proves the two-phase
    fingerprint plan loses nothing."""
    from datafusion_uba_spark.operators.dedup import repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return repeated_spans(docs, width=8, min_count=3, top=100)


_ORACLE_REPEATED_SPANS = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 7 + 1)) AS i FROM toks
),
spans AS (
  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span FROM idx
)
SELECT span, count(*) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM spans GROUP BY span HAVING count(*) >= 3
ORDER BY n_occ DESC, n_docs DESC, span LIMIT 100
"""


def q_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift monitor: the exact two-sample
    Kolmogorov-Smirnov statistic between each source's document-length
    distribution and the whole corpus, computed ENTIRELY in integers —
    KS = max_v |cum_s(v)/N_s - cum(v)/N| becomes
    max_v |cum_s(v)*N - cum(v)*N_s| reported in exact milli-units
    (x1000 DIV N_s*N), so no float ever crosses an aggregate and the
    DuckDB replay hashes. The drift alarm every ingest pipeline wants
    before a bad crawl poisons the mix.

    Plan: lengths reduce to a per-(source, n_chars) count grid first
    (|sources| x |distinct lengths|, NOT documents); corpus cumulative
    counts come from one window over the tiny length grid, per-source
    cumulatives from a window over the (source, length) grid, with
    each source's step function sampled AT EVERY grid value via a
    grid x source expansion — bounded by the grid, never the corpus.
    N products stay in int64 up to ~3e9 docs/source; beyond that the
    same expression goes decimal(38,0)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("__c")
    ).localCheckpoint(eager=False)
    grid = per.select("n_chars").distinct()
    totals = per.groupBy("source").agg(F.sum("__c").alias("__ns"))
    # every (source, grid value) cell, with the source's count at that
    # exact value (0 when absent) — the step function's sample points.
    # The source vocabulary is O(1) driver metadata (the kmeans-means
    # collect pattern), exploded as literals so the expansion is a
    # narrow map instead of a cartesian join the plan audit forbids.
    src_list = sorted(r[0] for r in totals.select("source").collect())
    cells = (
        grid.select(
            F.explode(
                F.array(*[F.lit(s) for s in src_list])
            ).alias("source"),
            "n_chars",
        )
        .join(per, ["source", "n_chars"], "left")
        .select(
            "source",
            "n_chars",
            F.coalesce("__c", F.lit(0)).alias("__c"),
        )
    )
    ws = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = (
        Window.partitionBy()
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.withColumn("__cum_s", F.sum("__c").over(ws))
    corpus = (
        per.groupBy("n_chars")
        .agg(F.sum("__c").alias("__ca"))
        .withColumn("__cum", F.sum("__ca").over(wall))
    )
    n_total = docs.count()
    return (
        cum.join(corpus.select("n_chars", "__cum"), "n_chars")
        .join(F.broadcast(totals), "source")
        .selectExpr(
            "source",
            "__ns",
            f"abs(__cum_s * {n_total}L - __cum * __ns) AS __d",
        )
        .groupBy("source", "__ns")
        .agg(F.max("__d").alias("__dmax"))
        .selectExpr(
            "source",
            "CAST(__ns AS BIGINT) AS n_docs",
            f"CAST(__dmax * 1000 DIV (__ns * {n_total}L) AS BIGINT) "
            "AS ks_pm",
        )
    )


_ORACLE_SOURCE_LENGTH_DRIFT = """
WITH per AS (
  SELECT source, n_chars, count(*) AS c
  FROM documents GROUP BY 1, 2
),
grid AS (SELECT DISTINCT n_chars FROM per),
totals AS (SELECT source, sum(c) AS ns FROM per GROUP BY 1),
n AS (SELECT count(*) AS nt FROM documents),
cells AS (
  SELECT t.source, g.n_chars, coalesce(p.c, 0) AS c
  FROM grid g CROSS JOIN totals t
  LEFT JOIN per p ON p.source = t.source AND p.n_chars = g.n_chars
),
cum AS (
  SELECT source, n_chars,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS cum_s
  FROM cells
),
corpus AS (
  SELECT n_chars,
         sum(ca) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT n_chars, sum(c) AS ca FROM per GROUP BY 1)
),
d AS (
  SELECT cum.source, totals.ns,
         abs(cum_s * (SELECT nt FROM n) - corpus.cum * totals.ns) AS dv
  FROM cum
  JOIN corpus USING (n_chars)
  JOIN totals ON totals.source = cum.source
)
SELECT source, CAST(ns AS BIGINT) AS n_docs,
       CAST(max(dv) * 1000 // (ns * (SELECT nt FROM n)) AS BIGINT)
         AS ks_pm
FROM d GROUP BY source, ns
"""


def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination matrix between sources
    (operators/dedup.py ``cross_group_leakage``): distinct 8-token
    spans shared by each unordered source pair — the split-level
    decontamination report. Spans fold to md5 fingerprints before the
    one hash shuffle; the oracle groups raw span strings, so a hash
    match proves the fingerprint plan loses nothing."""
    from datafusion_uba_spark.operators.dedup import cross_group_leakage

    docs = load_table(spark, sf_dir, "documents")
    return cross_group_leakage(docs, group_col="source", width=8)


_ORACLE_CROSS_SOURCE_LEAKAGE = """
WITH toks AS (SELECT source, str_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT source, t, unnest(range(1, len(t) - 7 + 1)) AS i
  FROM toks WHERE len(t) >= 8
),
d AS (
  SELECT DISTINCT source, array_to_string(t[i:i+7], ' ') AS span
  FROM idx
)
SELECT a.source AS group_a, b.source AS group_b,
       CAST(count(*) AS BIGINT) AS n_shared_spans
FROM d a JOIN d b ON a.span = b.span AND a.source < b.source
GROUP BY 1, 2
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Lloyd's k-means (operators/kmeans.py): k=8 from
    deterministic smallest-id seeds, 2 full rounds, every distance and
    centroid on an integer grid so the assignment is hash-verifiable
    against DuckDB replaying the identical pipeline relationally.
    Assignment is shuffle-free (broadcast packed centroids +
    array_min argmin); the centroid update is one map-combinable
    (cluster, dim) hash aggregate."""
    from datafusion_uba_spark.operators.kmeans import lloyd_rounds

    emb = load_table(spark, sf_dir, "embeddings")
    return lloyd_rounds(emb, k=8, rounds=2)


_ORACLE_KMEANS = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
  FROM embeddings
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q
  FROM v ORDER BY vec_id LIMIT 8
),
vu AS (SELECT vec_id, unnest(q) AS val, generate_subscripts(q, 1) AS i
       FROM v),
su AS (SELECT cid, unnest(q) AS cval, generate_subscripts(q, 1) AS i
       FROM seeds),
d1 AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM vu JOIN su USING (i) GROUP BY vec_id, cid
),
a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d1) t WHERE rn = 1
),
c2 AS (
  SELECT a1.cluster AS cid, i,
         CAST(round(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cval
  FROM vu JOIN a1 USING (vec_id) GROUP BY a1.cluster, i
),
d2 AS (
  SELECT vec_id, cid,
         CAST(sum((val - cval) * (val - cval)) AS BIGINT) AS dist2
  FROM vu JOIN c2 USING (i) GROUP BY vec_id, cid
)
SELECT vec_id, cid AS cluster, dist2 FROM (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM d2) t WHERE rn = 1
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference (text.quality_classifier_
    scores) — the fasttext-style gate pass: mean-pooled per-token
    weights → document logit → keep/drop. ZERO shuffles: the logit is
    a per-row higher-order aggregate fold, so the pass is one narrow
    map stage (and streams stateless — tests/test_streaming.py).
    Exact integer arithmetic (weights in thousandths, mean as floor of
    an IEEE division of exactly-represented integers)."""
    docs = _docs(spark, sf_dir)
    return text_ops.quality_classifier_scores(docs)


_ORACLE_QUALITY_CLASSIFIER = f"""
WITH t AS (SELECT doc_id, {_NORM} AS norm FROM documents),
occ AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
  FROM t WHERE norm <> ''
),
w AS (
  SELECT doc_id,
         (('0x' || substr(md5('w:' || tok), 1, 15))::BIGINT % 2001) - 1000
           AS w
  FROM occ
),
per AS (
  SELECT doc_id, count(*) AS n_tokens, sum(w) AS logit
  FROM w GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(per.logit, 0) AS BIGINT) AS logit_milli,
       CAST(CASE WHEN coalesce(per.n_tokens, 0) > 0
                 THEN floor(per.logit * 1000.0 / per.n_tokens)
                 ELSE 0 END AS BIGINT) AS score_micro,
       coalesce(per.logit, 0) > 0 AS keep
FROM documents d LEFT JOIN per USING (doc_id)
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (text.dsir_importance): docs
    with doc_id % 17 == 0 play the curated target seed set (~6%), the
    rest are the raw crawl pool being scored. 2^16 hashed-unigram
    buckets; bucket→delta table broadcasts at any corpus size."""
    docs = _docs(spark, sf_dir)
    return text_ops.dsir_importance(docs, F.col("doc_id") % 17 == 0)


_ORACLE_DSIR_WEIGHTS = f"""
WITH t AS (
  SELECT doc_id, doc_id % 17 = 0 AS is_t, {_NORM} AS norm FROM documents
),
occ AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5('f:' || tok), 1, 4))::INT AS b
  FROM (
    SELECT doc_id, is_t, unnest(string_split(norm, ' ')) AS tok
    FROM t WHERE norm <> ''
  )
),
bucket AS (
  SELECT b,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS r_cnt
  FROM occ GROUP BY b
),
tot AS (SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM bucket),
feat AS (
  SELECT b,
         (CASE WHEN t_tot > 0
               THEN CAST(floor(t_cnt * 1000000000.0 / t_tot) AS BIGINT)
               ELSE 0 END
          - CASE WHEN r_tot > 0
                 THEN CAST(floor(r_cnt * 1000000000.0 / r_tot) AS BIGINT)
                 ELSE 0 END) AS delta_ppb
  FROM bucket, tot
),
per AS (
  SELECT o.doc_id, count(*) AS n_tokens, sum(f.delta_ppb) AS imp
  FROM occ o JOIN feat f USING (b)
  WHERE NOT o.is_t GROUP BY o.doc_id
)
SELECT r.doc_id,
       CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(per.imp, 0) AS BIGINT) AS imp_sum_ppb,
       CAST(CASE WHEN coalesce(per.n_tokens, 0) > 0
                 THEN floor(per.imp * 1.0 / per.n_tokens)
                 ELSE 0 END AS BIGINT) AS imp_mean_ppb,
       coalesce(per.imp, 0) > 0 AS selected
FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) r
LEFT JOIN per ON r.doc_id = per.doc_id
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_topk): anchors
    are the first _N_QUERIES (=64) vectors (the ann rows' query
    convention), k=5 different-label neighbors each + triplet margin
    vs the best same-label positive."""
    emb = _emb(spark, sf_dir)
    return similarity.hard_negative_topk(emb, _query_vectors(emb), k=5)


_ORACLE_HARD_NEGATIVES = f"""
WITH d AS (SELECT vec_id, label, {_QUANT} AS v FROM embeddings),
dn AS (SELECT vec_id, label, v, {_ddb_dot("v", "v")} AS n2 FROM d),
q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv, n2 AS qn2
      FROM dn WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, query_label, vec_id, label AS vec_label,
         CAST({_ddb_dot("qv", "v")} AS DOUBLE)
         / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS c
  FROM q, dn
),
neg AS (
  SELECT query_id, vec_id, vec_label, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank
  FROM scored WHERE vec_label <> query_label
),
pos AS (
  SELECT query_id, max(c) AS pos_c
  FROM scored
  WHERE vec_label = query_label AND vec_id <> query_id
  GROUP BY query_id
)
SELECT n.query_id, CAST(n.rank AS INT) AS rank, n.vec_id,
       n.vec_label AS neg_label,
       CAST(floor(n.c * 1000000) AS BIGINT) AS cosine_u,
       CAST(floor((p.pos_c - n.c) * 1000000) AS BIGINT) AS margin_u
FROM neg n LEFT JOIN pos p USING (query_id)
WHERE n.rank <= 5
"""


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the day-over-day ingest audit: per
    source, how many documents were added / removed / changed /
    unchanged between two snapshots (content compared by sha256, the
    dedup_exact fingerprint family). Snapshots are deterministic
    slices of the driver corpus: snapshot A drops doc_id % 23 == 0,
    snapshot B drops doc_id % 29 == 0 and rewrites the text of
    doc_id % 5 == 0 (the 'changed' cohort).

    Scale shape: ONE full-outer equi-join on the document id — the
    co-partitioned big-big join case (bucket both snapshots by doc_id
    with sources.write_bucketed and it runs exchange-free); the
    comparison itself is a per-row hash equality, and the output
    aggregate is source x status (bounded by the source vocabulary).
    """
    docs = load_table(spark, sf_dir, "documents")
    # membership is decided by explicit presence flags, NOT hash
    # nullity — a NULL-text document present in both snapshots must
    # classify as unchanged/changed, never as added/removed
    old = docs.where(F.col("doc_id") % 23 != 0).select(
        "doc_id",
        F.col("source").alias("__src_a"),
        F.sha2(F.col("text"), 256).alias("__h_a"),
        F.lit(True).alias("__in_a"),
    )
    new = (
        docs.where(F.col("doc_id") % 29 != 0)
        .withColumn(
            "__text_b",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .select(
            "doc_id",
            F.col("source").alias("__src_b"),
            F.sha2(F.col("__text_b"), 256).alias("__h_b"),
            F.lit(True).alias("__in_b"),
        )
    )
    j = old.join(new, "doc_id", "full_outer")
    # null-safe hash compare: two NULL texts are the same content
    status = (
        F.when(F.col("__in_a").isNull(), F.lit("added"))
        .when(F.col("__in_b").isNull(), F.lit("removed"))
        .when(~F.col("__h_a").eqNullSafe(F.col("__h_b")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("__src_a"), F.col("__src_b")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_ORACLE_CORPUS_SNAPSHOT_DIFF = """
WITH a AS (
  SELECT doc_id, source AS src_a, sha256(text) AS h_a, TRUE AS in_a
  FROM documents WHERE doc_id % 23 <> 0
),
b AS (
  SELECT doc_id, source AS src_b,
         sha256(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                     ELSE text END) AS h_b,
         TRUE AS in_b
  FROM documents WHERE doc_id % 29 <> 0
),
j AS (
  SELECT coalesce(a.src_a, b.src_b) AS source,
         CASE WHEN a.in_a IS NULL THEN 'added'
              WHEN b.in_b IS NULL THEN 'removed'
              WHEN NOT (a.h_a IS NOT DISTINCT FROM b.h_b) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b USING (doc_id)
)
SELECT source, status, count(*) AS n_docs
FROM j GROUP BY source, status
"""


def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column data-quality audit per label — the deequ-style
    pre-flight for the embedding table: count of vectors, wrong-dim
    vectors, non-finite components (NaN/Inf), zero-norm vectors, and
    exact-integer squared-norm min/max/avg (quantized micro-units, so
    no float crosses an aggregate; avg is integer division). One scan,
    one tiny hash-aggregate keyed on label — the same
    conditional-aggregate fold operators/quality.py uses for tables.
    """
    emb = _emb(spark, sf_dir)
    from datafusion_uba_spark.operators.similarity import (
        _QUANT_SQL,
        dot_sql,
    )

    # the quant/dot path is GUARDED by the flags it audits: under
    # Spark 4's default ANSI mode CAST(NaN AS BIGINT) and out-of-range
    # unrolled indexing both RAISE, so a malformed vector would crash
    # an unguarded audit — the CASE keeps evaluation lazy per row
    v = emb.selectExpr(
        "label",
        "embedding",
        "size(embedding) AS __dim",
        "exists(embedding, x -> isnan(x) OR abs(x) = CAST('Infinity' AS "
        "DOUBLE)) AS __bad",
    ).selectExpr(
        "label",
        "__dim",
        "__bad",
        "CASE WHEN __bad OR __dim != 64 THEN NULL ELSE "
        + _QUANT_SQL.format(col="embedding")
        + " END AS __q",
    ).selectExpr(
        "label", "__dim", "__bad", f"{dot_sql('__q', '__q', 64)} AS __n2"
    )
    return (
        v.groupBy("label").agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # NULL-vector rows have NULL __dim — they are malformed
            # too and must not vanish from every counter
            F.sum(
                F.when(
                    F.col("__dim").isNull() | (F.col("__dim") != 64), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_bad_dim"),
            F.sum(F.when(F.col("__bad"), 1).otherwise(0))
            .cast("long")
            .alias("n_nonfinite"),
            F.sum(F.when(F.col("__n2") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_norm"),
            F.min("__n2").alias("min_n2_u"),
            F.max("__n2").alias("max_n2_u"),
            # guard: an all-malformed label has count(__n2) = 0 and an
            # unguarded integer div-by-zero raises under ANSI
            F.expr(
                "CASE WHEN count(__n2) > 0 "
                "THEN sum(__n2) div count(__n2) ELSE NULL END"
            ).alias("avg_n2_u"),
        )
    )


_ORACLE_EMBEDDING_NORM_AUDIT = f"""
WITH v0 AS (
  SELECT label, embedding, len(embedding) AS dim,
         list_count(list_filter(embedding,
           x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))) > 0
           AS bad
  FROM embeddings
),
v AS (
  SELECT label, dim, bad,
         CASE WHEN bad OR dim <> 64 THEN NULL
              ELSE {_ddb_dot(_QUANT, _QUANT)} END AS n2
  FROM v0
)
SELECT label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN dim IS NULL OR dim <> 64 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bad_dim,
       CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonfinite,
       CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       CAST(min(n2) AS BIGINT) AS min_n2_u,
       CAST(max(n2) AS BIGINT) AS max_n2_u,
       CAST(CASE WHEN count(n2) > 0 THEN sum(n2) // count(n2)
                 ELSE NULL END AS BIGINT) AS avg_n2_u
FROM v GROUP BY label
"""


_SWEEP_THRESHOLDS_BP = [7000, 7500, 8000, 8500, 9000]


def q_dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Dedup tuning curve in ONE pass: duplicate-pair count and
    flagged-document count at five Jaccard thresholds (0.70..0.90,
    the range production near-dup pipelines actually tune over), from
    a single candidate generation at the LOWEST threshold — the report
    a pipeline owner reads to pick the dedup threshold without
    re-running dedup per candidate value.

    Scale shape: the expensive step (PPJoin prefix-filtered candidate
    join + exact verify) runs once at tau=0.7; the sweep itself is a
    5-row threshold explode over the (tiny) verified pair set and the
    per-doc max-similarity projection, so the one-pass sweep costs
    exactly what a single tau=0.7 dedup costs — strictly cheaper than
    five runs. The floor matters: the prefix filter indexes
    |d|*(1-tau) shingles per doc, so dropping the floor to 0.5 doubles
    the candidate stream vs 0.7 (measured: 8x exponent 1.34 at
    tau=0.5 vs the ~0.8 pair-growth floor of the replica fixture —
    see tools/SCALE_RESULTS.md). Thresholds compare on the floored
    basis-point value, which is EXACT at these cutoffs
    (floor(J*1e4) >= t iff J >= t/1e4 when t is a whole basis-point
    multiple). Every threshold row appears even when nothing
    matches."""
    docs = _docs(spark, sf_dir)
    # the verified pair set is consumed by BOTH the pair-count branch
    # and the per-doc max branch — materialize it once or Spark
    # re-executes the whole candidate join per branch (measured 2x).
    # materialize=False keeps the full lineage visible for plan audits
    # (the barrier truncates the plan at a LogicalRDD)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.7)
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
    thr = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS_BP], "threshold_bp long"
    )
    tj = F.broadcast(thr)
    n_pairs = (
        pairs.join(tj, pairs.jaccard_bp >= thr.threshold_bp)
        .groupBy("threshold_bp")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    side = pairs.select(F.col("doc_a").alias("d"), "jaccard_bp").unionAll(
        pairs.select(F.col("doc_b").alias("d"), "jaccard_bp")
    )
    mx = side.groupBy("d").agg(F.max("jaccard_bp").alias("max_bp"))
    n_docs = (
        mx.join(tj, mx.max_bp >= thr.threshold_bp)
        .groupBy("threshold_bp")
        .agg(F.count(F.lit(1)).alias("n_docs_flagged"))
    )
    return (
        thr.join(n_pairs, "threshold_bp", "left")
        .join(n_docs, "threshold_bp", "left")
        .select(
            "threshold_bp",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0).cast("long")).alias(
                "n_docs_flagged"
            ),
        )
    )


_ORACLE_DEDUP_THRESHOLD_SWEEP = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS s FROM documents
  WHERE len({_SHINGLES}) > 0
),
inv AS (SELECT id, unnest(s) AS shingle FROM sh),
common AS (
  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS common_shingles
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
sizes AS (SELECT id, len(s) AS n FROM sh),
pairs AS (
  SELECT doc_a, doc_b,
         CAST(floor((common_shingles * 10000)
               / (sa.n + sb.n - common_shingles)) AS BIGINT) AS bp
  FROM common
  JOIN sizes sa ON sa.id = doc_a
  JOIN sizes sb ON sb.id = doc_b
  WHERE CAST(floor((common_shingles * 10000)
              / (sa.n + sb.n - common_shingles)) AS BIGINT) >= 7000
),
thr AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS_BP)}])
          AS threshold_bp),
mx AS (
  SELECT d, max(bp) AS max_bp FROM (
    SELECT doc_a AS d, bp FROM pairs
    UNION ALL SELECT doc_b AS d, bp FROM pairs
  ) GROUP BY d
),
np AS (
  SELECT threshold_bp, count(*) AS n_pairs
  FROM thr JOIN pairs ON bp >= threshold_bp GROUP BY threshold_bp
),
nd AS (
  SELECT threshold_bp, count(*) AS n_docs_flagged
  FROM thr JOIN mx ON max_bp >= threshold_bp GROUP BY threshold_bp
)
SELECT CAST(t.threshold_bp AS BIGINT) AS threshold_bp,
       CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(nd.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
FROM thr t
LEFT JOIN np ON t.threshold_bp = np.threshold_bp
LEFT JOIN nd ON t.threshold_bp = nd.threshold_bp
"""


def q_packing_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality report: per shard, how many context windows the
    packed token stream produced, how many hold more than one document
    (attention-contamination candidates when training without window
    resets), and how many mix SOURCES — the metric that decides
    whether the packer needs source-partitioned streams. Rides the
    registry's sequence_packing geometry (real BPE counts, capacity
    256, 8 shards).

    Scale shape: the window explode is |tokens|/capacity rows (linear,
    narrow), the source join is doc-keyed (co-partitioned case), and
    both aggregates are bounded by shard x window then shard."""
    docs = _docs(spark, sf_dir)
    counts = bpe.bpe_token_counts(docs)
    packed = packing.pack_token_stream(
        counts, capacity=256, n_shards=8, tokens_col="n_bpe_tokens"
    )
    w = packed.select(
        "doc_id",
        "shard",
        F.explode(
            F.sequence(F.col("first_window"), F.col("last_window"))
        ).alias("window"),
    )
    src = docs.select("doc_id", "source")
    per_win = (
        w.join(src, "doc_id")
        .groupBy("shard", "window")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    return per_win.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_doc"),
        F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_mixed_source"),
        F.floor(
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            * 10000.0
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mixed_bp"),
    )


def _oracle_packing_contamination() -> str:
    return f"""
WITH RECURSIVE {_BPE_WALK_CTES},
s AS (
  SELECT doc_id, n, {_ddb_id_bucket('doc_id')} % 8 AS shard
  FROM bpe_doc_tokens WHERE n >= 1
),
c AS (
  SELECT doc_id, shard, n,
         coalesce(sum(n) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_offset
  FROM s
),
wins AS (
  SELECT doc_id, shard,
         unnest(range(CAST(start_offset // 256 AS BIGINT),
                      CAST((start_offset + n - 1) // 256 + 1 AS BIGINT)))
           AS win
  FROM c
),
pw AS (
  SELECT shard, win, count(*) AS n_docs,
         count(DISTINCT d.source) AS n_sources
  FROM wins w JOIN documents d USING (doc_id)
  GROUP BY shard, win
)
SELECT shard, count(*) AS n_windows,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_doc,
       CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mixed_source,
       CAST(floor(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)
                  * 10000.0 / count(*)) AS BIGINT) AS mixed_bp
FROM pw GROUP BY shard
"""


def q_embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality referential-integrity audit in the deequ-style
    (check_name, violations, total) contract (operators/quality.py):
    per source, how many documents lack an embedding row — the gap a
    semantic-dedup / ANN stage would silently skip — plus the global
    count of embeddings orphaned from any document (stale vectors a
    re-embed job forgot to vacuum).

    Scale shape: two key-projected LEFT joins (narrow id columns only,
    never payloads or vectors; at 100 TB bucket both tables by id and
    they co-partition), each folded into ONE conditional aggregate —
    no separate count jobs. Output is bounded by |sources| + 1.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = _emb(spark, sf_dir).select("vec_id")
    ek = emb.where(F.col("vec_id").isNotNull()).distinct()
    j = docs.join(ek, docs.doc_id == ek.vec_id, "left")
    per_src = (
        j.groupBy("source")
        .agg(
            F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("violations"),
            F.count(F.lit(1)).cast("long").alias("total"),
        )
        .select(
            F.concat(F.lit("docs_missing_embedding:"), F.col("source")).alias(
                "check_name"
            ),
            "violations",
            "total",
        )
    )
    dk = docs.select("doc_id").where(F.col("doc_id").isNotNull()).distinct()
    j2 = emb.join(dk, emb.vec_id == dk.doc_id, "left")
    orphans = j2.agg(
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("violations"),
        F.count(F.lit(1)).cast("long").alias("total"),
    ).select(
        F.lit("embeddings_without_doc").alias("check_name"),
        "violations",
        "total",
    )
    return per_src.unionAll(orphans)


_ORACLE_EMBEDDING_COVERAGE_AUDIT = """
WITH ek AS (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id IS NOT NULL),
per_src AS (
  SELECT 'docs_missing_embedding:' || d.source AS check_name,
         CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS violations,
         CAST(count(*) AS BIGINT) AS total
  FROM documents d LEFT JOIN ek e ON d.doc_id = e.vec_id
  GROUP BY d.source
),
dk AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
orphans AS (
  SELECT 'embeddings_without_doc' AS check_name,
         CAST(sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS violations,
         CAST(count(*) AS BIGINT) AS total
  FROM embeddings v LEFT JOIN dk k ON v.vec_id = k.doc_id
)
SELECT * FROM per_src UNION ALL SELECT * FROM orphans
"""


LLM_REGISTRY: dict = {
    "embedding_coverage_audit": (
        q_embedding_coverage_audit,
        _ORACLE_EMBEDDING_COVERAGE_AUDIT,
    ),
    "dedup_threshold_sweep": (
        q_dedup_threshold_sweep,
        _ORACLE_DEDUP_THRESHOLD_SWEEP,
    ),
    "packing_contamination": (
        q_packing_contamination,
        _oracle_packing_contamination(),
    ),
    "quality_classifier": (q_quality_classifier, _ORACLE_QUALITY_CLASSIFIER),
    "dsir_weights": (q_dsir_weights, _ORACLE_DSIR_WEIGHTS),
    "hard_negatives": (q_hard_negatives, _ORACLE_HARD_NEGATIVES),
    "corpus_snapshot_diff": (
        q_corpus_snapshot_diff,
        _ORACLE_CORPUS_SNAPSHOT_DIFF,
    ),
    "embedding_norm_audit": (
        q_embedding_norm_audit,
        _ORACLE_EMBEDDING_NORM_AUDIT,
    ),
    "ngram_novelty": (q_ngram_novelty, _ORACLE_NOVELTY),
    "pps_sample": (q_pps_sample, _ORACLE_PPS),
    "readability_stats": (q_readability_stats, _ORACLE_READABILITY),
    "dedup_semantic": (q_dedup_semantic, _oracle_dedup_semantic()),
    "kmeans_assign": (q_kmeans_assign, _ORACLE_KMEANS),
    "repeated_spans": (q_repeated_spans, _ORACLE_REPEATED_SPANS),
    "cross_source_leakage": (
        q_cross_source_leakage,
        _ORACLE_CROSS_SOURCE_LEAKAGE,
    ),
    "source_length_drift": (
        q_source_length_drift,
        _ORACLE_SOURCE_LENGTH_DRIFT,
    ),
    "langid_confusion": (q_langid_confusion, _oracle_langid_confusion()),
    "dedup_bitset_prescreen": (
        q_dedup_bitset_prescreen,
        _ORACLE_DEDUP_INCREMENTAL,
    ),
    "curriculum_order": (q_curriculum_order, _ORACLE_CURRICULUM_ORDER),
    "dedup_incremental": (q_dedup_incremental, _ORACLE_DEDUP_INCREMENTAL),
    "sequence_packing": (q_sequence_packing, _ORACLE_SEQUENCE_PACKING),
    "dataset_split": (q_dataset_split, _ORACLE_DATASET_SPLIT),
    "text_stats": (q_text_stats, _ORACLE_TEXT_STATS),
    "decontaminate": (q_decontaminate, _ORACLE_DECONTAMINATE),
    "tfidf_keywords": (q_tfidf_keywords, _ORACLE_TFIDF),
    "vocab_topk": (q_vocab_topk, _ORACLE_VOCAB_TOPK),
    "length_quantiles": (q_length_quantiles, _ORACLE_LENGTH_QUANTILES),
    "length_quantiles_approx": (q_length_quantiles_approx, None),
    "redact_pii": (q_redact_pii, _oracle_redact_pii()),
    "boilerplate_stats": (q_boilerplate_stats, _ORACLE_BOILERPLATE),
    "repetition_stats": (q_repetition_stats, _ORACLE_REPETITION),
    "trigram_typicality": (q_trigram_typicality, _ORACLE_TRIGRAM_TYPICALITY),
    "chunk_documents": (q_chunk_documents, _oracle_chunk_documents()),
    "stratified_sample": (q_stratified_sample, _ORACLE_STRATIFIED_SAMPLE),
    "source_temperature_sample": (
        q_source_temperature_sample,
        _ORACLE_TEMPERATURE_SAMPLE,
    ),
    "doc_embedding_enrich": (q_doc_embedding_enrich, _ORACLE_DOC_EMB_ENRICH),
    "corpus_filter": (q_corpus_filter, _ORACLE_CORPUS_FILTER),
    "training_mix": (q_training_mix, _ORACLE_TRAINING_MIX),
    "winnow_fingerprints": (q_winnow_fingerprints, _ORACLE_WINNOW),
    "dedup_winnow": (q_dedup_winnow, _ORACLE_DEDUP_WINNOW),
    "dedup_exact": (q_dedup_exact, _ORACLE_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, _ORACLE_NGRAM_JACCARD),
    "dedup_containment": (q_dedup_containment, _ORACLE_CONTAINMENT),
    "dedup_clusters": (q_dedup_clusters, _ORACLE_DEDUP_CLUSTERS),
    "dedup_canonical_pick": (q_dedup_canonical_pick, _ORACLE_CANONICAL_PICK),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, None),
    "dedup_minhash_md5": (q_dedup_minhash_md5, _ORACLE_MINHASH_MD5),
    "dedup_minhash_against": (
        q_dedup_minhash_against,
        _ORACLE_MINHASH_AGAINST,
    ),
    "dedup_simhash": (q_dedup_simhash, None),
    "dedup_simhash_md5": (q_dedup_simhash_md5, _ORACLE_SIMHASH_MD5),
    "dedup_simhash_against": (q_dedup_simhash_against, None),
    "dedup_simhash_against_md5": (
        q_dedup_simhash_against_md5,
        _ORACLE_SIMHASH_AGAINST_MD5,
    ),
    "ann_topk": (q_ann_topk, _ORACLE_ANN_TOPK),
    "ann_topk_lsh": (q_ann_topk_lsh, _oracle_ann_topk_lsh()),
    "ann_topk_ivf": (q_ann_topk_ivf, _oracle_ann_topk_ivf()),
    "ann_topk_pq": (q_ann_topk_pq, _oracle_ann_topk_pq()),
    "ann_topk_auto": (q_ann_topk_auto, _ORACLE_ANN_TOPK),
    "label_centroids": (q_label_centroids, _ORACLE_LABEL_CENTROIDS),
    "ann_recall_lsh": (q_ann_recall_lsh, _oracle_ann_recall_lsh()),
    "embedding_neardup": (q_embedding_neardup, _oracle_embedding_neardup()),
    "multimodal_stats": (q_multimodal_stats, _ORACLE_MULTIMODAL),
    "image_decode_stats": (q_image_decode_stats, _oracle_image_decode()),
    "image_resize_stats": (q_image_resize_stats, _oracle_image_resize()),
    "dedup_fuzzy_prefix": (q_dedup_fuzzy_prefix, _ORACLE_DEDUP_FUZZY),
    "video_frame_stats": (q_video_frame_stats, _oracle_video_frames()),
    "image_ahash": (q_image_ahash, _oracle_image_ahash()),
    "audio_decode_stats": (q_audio_decode_stats, _oracle_audio_decode()),
    "audio_energy_windows": (q_audio_energy_windows, _oracle_audio_energy()),
    "video_motion_stats": (q_video_motion_stats, _oracle_video_motion()),
    "dedup_semantic_against": (
        q_dedup_semantic_against,
        _oracle_dedup_semantic_against(),
    ),
    "dedup_rate_by_source": (q_dedup_rate_by_source, _ORACLE_DEDUP_RATE),
    "token_length_histogram": (
        q_token_length_histogram,
        _ORACLE_TOKEN_LENGTH_HIST,
    ),
    "bpe_token_stats": (q_bpe_token_stats, _ORACLE_BPE_TOKEN_STATS),
    "ann_topk_filtered": (q_ann_topk_filtered, _ORACLE_ANN_TOPK_FILTERED),
    "embedding_drift_by_source": (
        q_embedding_drift_by_source,
        _ORACLE_EMBEDDING_DRIFT,
    ),
    "split_leakage_check": (q_split_leakage_check, _ORACLE_SPLIT_LEAKAGE),
}
