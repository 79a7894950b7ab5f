"""Document-corpus catalog queries: text analysis + dedup family
over the ``documents`` table, each a thin wrapper around
``functions.text`` / ``operators.dedup`` with a DuckDB oracle where
the semantics are SQL-expressible.

Portability notes baked into the oracles: DuckDB's
``regexp_replace`` needs the ``'g'`` flag to match Spark's
replace-all; md5 hex is identical on both engines (the reason the
dedup family hashes with md5); ratio math is done in DOUBLE on both
sides (bit-identical IEEE ops, no rounding)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_db_spark.functions import text as TX
from shopify_db_spark.operators import dedup as DD
from shopify_db_spark.plans.catalog import query
from shopify_db_spark.sources.tables import load_table

#: the oracle-side rendering of normalize_text()
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
#: oracle-side whitespace tokens of the normalized text
_TOKS = f"string_split({_NORM}, ' ')"


@query(
    "q21_exact_dedup",
    oracle=f"""
SELECT md5({_NORM}) AS fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_dups
FROM documents
GROUP BY 1
""",
)
def q21_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on the normalized-text md5
    fingerprint, lowest doc_id survives. One shuffle on the
    fingerprint; at 100 TB this is the standard first pass (hash is
    tiny vs. text, so the shuffle moves 16-byte keys, not
    documents)."""
    return DD.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "q22_token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INT) AS n_tokens,
       CAST(length({_NORM}) AS INT) AS n_chars_norm,
       CAST(length({_NORM}) AS DOUBLE) / len({_TOKS}) AS chars_per_token
FROM documents
""",
)
def q22_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + char stats — pure
    projection, whole-stage codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    # normalize once per row: the norm column is multi-referenced so
    # Catalyst keeps the lower projection materialized
    return docs.select(
        "doc_id", TX.normalize_text(F.col("text")).alias("norm")
    ).select(
        "doc_id",
        F.size(F.split(F.col("norm"), " ")).cast("int").alias("n_tokens"),
        F.length("norm").cast("int").alias("n_chars_norm"),
        (
            F.length("norm").cast("double")
            / F.size(F.split(F.col("norm"), " "))
        ).alias("chars_per_token"),
    )


@query(
    "q23_quality_scores",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
         CAST(len(list_filter({_TOKS},
              x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
              AS DOUBLE) AS n_stop,
         CAST(length({_NORM}) AS DOUBLE) AS n_chars,
         CAST(length({_NORM})
              - length(regexp_replace({_NORM}, '[.,;:!?''"()\\[\\]-]', '', 'g'))
              AS DOUBLE) AS n_punct
  FROM documents
)
SELECT doc_id,
       n_stop / n_tok AS stopword_ratio,
       n_punct / n_chars AS punct_ratio,
       0.5 * LEAST(n_tok / 100.0, 1.0)
         + 0.3 * LEAST((n_stop / n_tok) * 4.0, 1.0)
         - 0.2 * LEAST((n_punct / n_chars) * 5.0, 1.0)
         + 0.2 AS quality
FROM t
""",
)
def q23_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword / punctuation heuristics
    combined into the cheap pre-filter score (``functions.text``)."""
    docs = load_table(spark, sf_dir, "documents")
    # three-step: materialize norm/toks, then the counts, then the
    # score arithmetic — each layer only reads attributes
    stop_arr = F.array(*[F.lit(w) for w in TX.STOPWORDS_EN])
    counts = (
        docs.select(
            "doc_id",
            TX.normalize_text(F.col("text")).alias("norm"),
            TX.tokens(F.col("text")).alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").cast("double").alias("n_tok"),
            F.size(
                F.filter(F.col("toks"), lambda t: F.array_contains(stop_arr, t))
            ).cast("double").alias("n_stop"),
            F.length("norm").cast("double").alias("n_chars"),
            (
                F.length("norm")
                - F.length(F.regexp_replace("norm", r"[.,;:!?'\"()\[\]-]", ""))
            ).cast("double").alias("n_punct"),
        )
    )
    stop_ratio = F.col("n_stop") / F.nullif(F.col("n_tok"), F.lit(0.0))
    punct = F.col("n_punct") / F.nullif(F.col("n_chars"), F.lit(0.0))
    quality = (
        F.lit(0.5) * F.least(F.col("n_tok") / 100.0, F.lit(1.0))
        + F.lit(0.3)
        * F.least(F.coalesce(stop_ratio, F.lit(0.0)) * 4.0, F.lit(1.0))
        - F.lit(0.2) * F.least(F.coalesce(punct, F.lit(0.0)) * 5.0, F.lit(1.0))
        + F.lit(0.2)
    )
    return counts.select(
        "doc_id",
        stop_ratio.alias("stopword_ratio"),
        punct.alias("punct_ratio"),
        quality.alias("quality"),
    )


def _lang_count_of(tok_expr: str, lang: str) -> str:
    """Oracle lang-stopword count over an already-tokenized column."""
    words = ",".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
    return (
        f"CAST(len(list_filter({tok_expr}, "
        f"x -> list_contains([{words}], x))) AS INT)"
    )


def _lang_count_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
    return f"CAST(len(list_filter({_TOKS}, x -> list_contains([{words}], x))) AS INT)"


@query(
    "q24_lang_id",
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang AS labeled_lang,
         {_lang_count_sql('en')} AS s_en,
         {_lang_count_sql('es')} AS s_es,
         {_lang_count_sql('de')} AS s_de,
         {_lang_count_sql('fr')} AS s_fr,
         {_lang_count_sql('zh')} AS s_zh
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
            WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
            WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS detected_lang,
       s_en, s_es, s_de, s_fr, s_zh
FROM scores
""",
)
def q24_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via per-language stopword hits with a
    deterministic argmax precedence (en > es > de > fr > zh)."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once, score once per language, argmax over the score
    # COLUMNS (the inline form re-tokenized per score reference)
    toks_scores = TX.lang_scores_of_tokens(F.col("toks"))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "labeled_lang",
        *[
            toks_scores[lang].cast("int").alias(f"s_{lang}")
            for lang in TX.LANG_STOPWORDS
        ],
    )
    col_scores = {lang: F.col(f"s_{lang}") for lang in TX.LANG_STOPWORDS}
    return scored.select(
        "doc_id",
        "labeled_lang",
        TX.lang_id_from_scores(col_scores).alias("detected_lang"),
        *[F.col(f"s_{lang}") for lang in TX.LANG_STOPWORDS],
    )


@query(
    "q25_ngram_jaccard_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
""",
)
def q25_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: exact 3-word-shingle Jaccard over pairs
    blocked by ``source`` (the verify-stage operator; LSH generates
    candidates at scale, q26). The shingle join is keyed on
    (block, shingle), never a full cross join."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        docs, block_cols=["source"], n=3, threshold=0.2
    )


@query(
    "q26_minhash_lsh_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
salted AS (
  SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
  FROM shingles, UNNEST(generate_series(0, 7)) AS s(seed)
),
sig AS (
  SELECT doc_id, seed, MIN(h) AS minhash FROM salted GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS INT) AS band,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
                        ORDER BY CAST(seed AS VARCHAR) || ':' || minhash)) AS band_key
  FROM sig GROUP BY doc_id, CAST(FLOOR(seed / 2) AS INT)
),
sized AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key HAVING COUNT(*) <= 50
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN sized s ON s.band = a.band AND s.band_key = a.band_key
  JOIN bands b ON b.band = a.band AND b.band_key = a.band_key
             AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 8
           AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
GROUP BY doc_a, doc_b
""",
)
def q26_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: md5 min-wise signatures
    over 3-word shingles (portable min-wise family — see
    ``operators.dedup``), 4 bands × 2 rows, bucket-size cap against
    boilerplate hot keys, candidates scored by signature agreement."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, n_seeds=8, band_size=2, max_bucket=50)


# SimHash oracle: the md5 hash family makes every signature bit
# SQL-expressible (bit i = bit i%32 of hex half i//32 of md5(token)).
# The oracle recomputes signatures as two 32-bit halves (DuckDB's
# BIGINT << 63 overflows, so no single packed long) and takes ALL
# pairs with hamming <= 4 — which is exactly what the blocked
# pigeonhole join returns (full recall is the operator's guarantee,
# so the O(n^2) oracle and the blocked plan must agree).
_Q27_CHARGES = ",\n".join(
    f"         SUM(((h{i // 32} >> {i % 32}) & 1) * 2 - 1) AS b{i:02d}"
    for i in range(64)
)
_Q27_LO = " + ".join(
    f"CASE WHEN b{i:02d} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(32)
)
_Q27_HI = " + ".join(
    f"CASE WHEN b{i:02d} > 0 THEN {1 << (i - 32)}::BIGINT ELSE 0 END"
    for i in range(32, 64)
)

_Q27_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, UNNEST(string_split({_NORM}, ' ')) AS shingle
    FROM documents
  )
),
hs AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h0,
         CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS h1
  FROM toks
),
charges AS (
  SELECT doc_id,
{_Q27_CHARGES}
  FROM hs GROUP BY doc_id
),
sig AS (
  SELECT doc_id, {_Q27_LO} AS lo, {_Q27_HI} AS hi FROM charges
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
           AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 4
"""


@query("q27_simhash_pairs", oracle=_Q27_ORACLE)
def q27_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (≤4/64 differing bits, 5-block
    pigeonhole banding, hamming = bit_count(xor) on packed longs).
    Uses the engine-portable md5 hash family so the DuckDB oracle
    reproduces signatures bit-for-bit; the oracle's brute-force
    pair join doubles as the full-recall check of the blocked
    join (``operators.dedup.simhash_pairs``)."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs, max_hamming=4, hash_family="md5")


@query(
    "q28_winnow_fingerprints",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, {_NORM} AS t FROM documents
),
grams AS (
  SELECT doc_id, md5(substring(t, i, 8)) AS h
  FROM norm, UNNEST(generate_series(1, GREATEST(length(t) - 7, 1))) AS u(i)
)
SELECT doc_id, MIN(h) AS winnow_fp
FROM grams GROUP BY doc_id
""",
)
def q28_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: minimum md5 over character
    8-grams (winnowing with k=1) — equal sketches flag shared
    minimal substrings across the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # Project the normalized text first: the n-gram HOF re-evaluates
    # non-lambda subtrees per element, so the regex normalization
    # must already be a materialized column (functions.text caveat).
    return docs.select(
        "doc_id", TX.normalize_text(F.col("text")).alias("norm")
    ).select(
        "doc_id",
        F.array_min(
            F.transform(TX.ngrams_of_norm(F.col("norm"), 8), F.md5)
        ).alias("winnow_fp"),
    )


@query(
    "q29_bpe_token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all({_NORM}, '([a-z]+|[0-9]+|[^a-z0-9 ])')) AS INT)
           AS n_pieces,
       CAST(len({_TOKS}) AS INT) AS n_words
FROM documents
""",
)
def q29_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token counting: letter/digit/punct segment pieces
    (BPE-flavored upper bound) next to whitespace words."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.bpe_ish_token_count(F.col("text")).cast("int").alias("n_pieces"),
        TX.token_count(F.col("text")).cast("int").alias("n_words"),
    )


@query(
    "q40_term_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
terms AS (
  SELECT doc_id, UNNEST(t) AS term FROM toks
),
counts AS (
  SELECT term,
         COUNT(*) AS tf,
         COUNT(DISTINCT doc_id) AS df
  FROM terms GROUP BY term
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) AS rank
  FROM counts
)
SELECT term, tf, df, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 100
""",
)
def q40_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency + document
    frequency, top-100 by tf (deterministic tie-break on the term).
    The skew-canonical aggregation — hyper-frequent terms are the
    classic hot keys — handled by Spark's partial (map-side)
    aggregation: each task pre-folds its local counts, so the
    shuffle carries one row per (task, term), not per occurrence.
    The top-k is a single-partition window over the (small)
    vocabulary, after the heavy lifting."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    terms = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).select("doc_id", F.explode("toks").alias("term"))
    counts = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 100)
        .select("term", "tf", "df", "rank")
    )


@query(
    "q47_corpus_prep",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, {_NORM} AS norm, {_TOKS} AS t FROM documents
),
feat AS (
  SELECT doc_id, lang, norm,
         CAST(len(t) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(t,
              x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
              AS DOUBLE) AS n_stop,
         CAST(length(norm) AS DOUBLE) AS n_chars,
         CAST(length(norm)
              - length(regexp_replace(norm, '[.,;:!?''"()\\[\\]-]', '', 'g'))
              AS DOUBLE) AS n_punct,
         {_lang_count_of('t', 'en')} AS s_en,
         {_lang_count_of('t', 'es')} AS s_es,
         {_lang_count_of('t', 'de')} AS s_de,
         {_lang_count_of('t', 'fr')} AS s_fr,
         {_lang_count_of('t', 'zh')} AS s_zh
  FROM base
),
scored AS (
  SELECT doc_id, lang, norm, n_tok,
         0.5 * LEAST(n_tok / 100.0, 1.0)
           + 0.3 * LEAST((n_stop / n_tok) * 4.0, 1.0)
           - 0.2 * LEAST((n_punct / n_chars) * 5.0, 1.0)
           + 0.2 AS quality,
         CASE WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
              WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
              WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
              WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS detected_lang
  FROM feat
),
gated AS (
  SELECT * FROM scored WHERE quality >= 0.6 AND detected_lang = 'en'
),
deduped AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY md5(norm)) AS keep_id
  FROM gated
)
SELECT doc_id, lang AS labeled_lang, detected_lang,
       CAST(n_tok AS INT) AS n_tokens, quality
FROM deduped WHERE doc_id = keep_id
""",
)
def q47_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data prep pipeline end-to-end in one plan:
    quality gate → language filter → exact dedup (lowest doc_id per
    normalized-text fingerprint survives) → per-survivor stats.
    Composes the q23/q24/q21 operators over ONE materialized
    (norm, toks) projection — one documents scan, one window
    shuffle for the dedup; the near-dup LSH stage (q26) would chain
    after this the same way."""
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in TX.STOPWORDS_EN])
    toks_scores = TX.lang_scores_of_tokens(F.col("toks"))
    feat = docs.select(
        "doc_id",
        "lang",
        TX.normalize_text(F.col("text")).alias("norm"),
        TX.tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "norm",
        F.size("toks").cast("double").alias("n_tok"),
        F.size(
            F.filter(F.col("toks"), lambda t: F.array_contains(stop_arr, t))
        ).cast("double").alias("n_stop"),
        F.length("norm").cast("double").alias("n_chars"),
        (
            F.length("norm")
            - F.length(F.regexp_replace("norm", r"[.,;:!?'\"()\[\]-]", ""))
        ).cast("double").alias("n_punct"),
        *[toks_scores[lang].alias(f"s_{lang}") for lang in TX.LANG_STOPWORDS],
    )
    quality = (
        F.lit(0.5) * F.least(F.col("n_tok") / 100.0, F.lit(1.0))
        + F.lit(0.3)
        * F.least((F.col("n_stop") / F.col("n_tok")) * 4.0, F.lit(1.0))
        - F.lit(0.2)
        * F.least((F.col("n_punct") / F.col("n_chars")) * 5.0, F.lit(1.0))
        + F.lit(0.2)
    )
    col_scores = {lang: F.col(f"s_{lang}") for lang in TX.LANG_STOPWORDS}
    scored = feat.select(
        "doc_id",
        "lang",
        "norm",
        "n_tok",
        quality.alias("quality"),
        TX.lang_id_from_scores(col_scores).alias("detected_lang"),
    )
    gated = scored.filter(
        (F.col("quality") >= 0.6) & (F.col("detected_lang") == "en")
    )
    from pyspark.sql.window import Window

    keep = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("norm"))))
    return (
        gated.withColumn("keep_id", keep)
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            "detected_lang",
            F.col("n_tok").cast("int").alias("n_tokens"),
            "quality",
        )
    )


# ---------------------------------------------------------------------------
# q76: shingle-space sparse cosine retrieval. Word-level postings are
# useless on this corpus (31-term vocabulary, df ≈ 0.8N — every term
# is a stop term); 3-token shingles are selective (measured max df 7
# at sf0.01), which is exactly the point of the df_cap bound.
_Q76_N = 3
_Q76_DF_CAP = 64
_Q76_K = 3

_Q76_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
terms AS (
  SELECT doc_id, array_to_string(t[i:i+{_Q76_N - 1}], ' ') AS term,
         COUNT(*) AS tf
  FROM toks,
       UNNEST(generate_series(1, GREATEST(len(t) - {_Q76_N - 1}, 1))) AS u(i)
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
),
pruned AS (
  SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf
  FROM terms t JOIN dfreq d ON d.term = t.term
  WHERE d.df <= {_Q76_DF_CAP}
),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
  FROM pruned GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM pruned a JOIN pruned b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sym AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot FROM dots
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS neighbor_id, dot FROM dots
),
scored AS (
  SELECT s.doc_id, s.neighbor_id,
         CAST(s.dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
  FROM sym s
  JOIN norms na ON na.doc_id = s.doc_id
  JOIN norms nb ON nb.doc_id = s.neighbor_id
)
SELECT doc_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_Q76_K}
"""


@query("q76_sparse_cosine_retrieval", oracle=_Q76_ORACLE)
def q76_sparse_cosine_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse text retrieval: top-3 most-similar documents per
    document by cosine over 3-token-shingle count vectors
    (``operators.similarity.sparse_cosine_topk``). The inverted-index
    complement to the dense-embedding tiers (q30–q32): dot products
    are integer sums (engine-exact). Pairs come from one
    ``collect_list`` fold per term, with no posting self-join; the
    ``df_cap`` stop-term prune (df ≤ 64, applied after the collect)
    bounds the pair fan-out to Σ_term df², the prefix-filtering idea
    that keeps term pairs from going quadratic on hot terms."""
    from shopify_db_spark.operators.similarity import sparse_cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            "doc_id", TX.tokens(F.col("text")).alias("toks")
        )
        .select(
            "doc_id",
            F.explode(
                TX.shingles_of_tokens(F.col("toks"), _Q76_N)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return sparse_cosine_topk(terms, k=_Q76_K, df_cap=_Q76_DF_CAP)


# ---------------------------------------------------------------------------
# q84: prefix-filtered global Jaccard self-join. The ORACLE is the
# BRUTE-FORCE all-pairs inverted-index join (no prefix scheme), so
# the gate independently proves the prefix filter's completeness —
# any candidate the prefix scheme misses hash-mismatches here.
_Q84_T = 0.5

_Q84_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       sa.n AS n_a, sb.n AS n_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(i.n_inter AS DOUBLE)
         / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) >= {_Q84_T}
"""


@query("q84_prefix_filter_jaccard", oracle=_Q84_ORACLE)
def q84_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact-Jaccard near-dup pairs (threshold 0.5) WITHOUT a
    blocking column, via prefix filtering (AllPairs/PPJoin —
    ``operators.dedup.prefix_filter_jaccard_pairs``). q25's exact
    tier only meets documents sharing a block key; this is the
    published complete-and-bounded global scheme: candidates come
    from rarest-first prefixes (the hot shingle tail generates NO
    candidates), verified exactly. The oracle is the brute-force
    inverted-index join, so the gate checks completeness against an
    independent formulation, not a mirror of the same algorithm."""
    docs = load_table(spark, sf_dir, "documents")
    out = DD.prefix_filter_jaccard_pairs(docs, n=3, threshold=_Q84_T)
    return out.select(
        "doc_a",
        "doc_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_inter").cast("bigint").alias("n_inter"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# q86: count-min sketch over the corpus term stream. d=3 salted md5
# rows × w=16 buckets — w deliberately smaller than the vocabulary so
# collisions actually happen and the min-over-rows recovery is
# exercised (estimate ≥ exact always; equality unless ALL 3 rows
# collide the term with another). The sketch is a (row, bucket, n)
# table: mergeable across corpus shards by simple addition — the
# property that makes CMS the scale answer for per-term counting
# when the long-tail vocabulary cannot be held exactly.
_Q86_D = 3
_Q86_W = 16


def _sql_cms_bucket(salt: str, expr: str = "term") -> str:
    return (
        f"('0x' || substr(md5('{salt}:' || {expr}), 1, 8))::BIGINT"
        f" % {_Q86_W}"
    )


_Q86_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
counts AS (
  SELECT u.term, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM toks, UNNEST(t) AS u(term)
  GROUP BY u.term
),
cms AS (
  SELECT j.j,
         CASE j.j WHEN 0 THEN {_sql_cms_bucket('cms0')}
                  WHEN 1 THEN {_sql_cms_bucket('cms1')}
                  ELSE {_sql_cms_bucket('cms2')} END AS bucket,
         CAST(SUM(exact_count) AS BIGINT) AS n
  FROM counts, UNNEST(generate_series(0, {_Q86_D - 1})) AS j(j)
  GROUP BY 1, 2
)
SELECT c.term, c.exact_count,
       LEAST(e0.n, e1.n, e2.n) AS cms_estimate,
       LEAST(e0.n, e1.n, e2.n) >= c.exact_count AS overestimates
FROM counts c
JOIN cms e0 ON e0.j = 0 AND e0.bucket = {_sql_cms_bucket('cms0', 'c.term')}
JOIN cms e1 ON e1.j = 1 AND e1.bucket = {_sql_cms_bucket('cms1', 'c.term')}
JOIN cms e2 ON e2.j = 2 AND e2.bucket = {_sql_cms_bucket('cms2', 'c.term')}
"""


@query("q86_count_min_sketch", oracle=_Q86_ORACLE)
def q86_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term counting: 3 salted-md5 hash rows × 16
    buckets built from the corpus term stream, probed for every
    term and compared against the exact counts (``overestimates``
    must be uniformly true — the CMS guarantee). Deterministic
    (portable md5 buckets — no RNG), and the sketch table is
    mergeable across shards by addition, which is why a 100 TB
    pipeline ships the sketch, not the vocabulary. Sketch build is
    one aggregate over per-term counts; probes are broadcast joins
    against the 48-row sketch."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(TX.tokens(F.col("text")).alias("toks"))
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    salts = [f"cms{j}" for j in range(_Q86_D)]
    cms = (
        counts.select(
            "exact_count",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            TX.md5_bucket(
                                F.col("term"), salts[j], _Q86_W
                            ).alias("bucket"),
                        )
                        for j in range(_Q86_D)
                    ]
                )
            ).alias("jb"),
        )
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.sum("exact_count").alias("n"))
    )
    probed = counts
    ests = []
    for j in range(_Q86_D):
        cj = cms.filter(F.col("j") == j).select(
            F.col("bucket").alias(f"b{j}"), F.col("n").alias(f"e{j}")
        )
        probed = probed.withColumn(
            f"b{j}", TX.md5_bucket(F.col("term"), salts[j], _Q86_W)
        ).join(F.broadcast(cj), f"b{j}")
        ests.append(F.col(f"e{j}"))
    return probed.select(
        "term",
        "exact_count",
        F.least(*ests).alias("cms_estimate"),
        (F.least(*ests) >= F.col("exact_count")).alias("overestimates"),
    )


# ---------------------------------------------------------------------------
# q103: lexical-rarity quality score — the CCNet-style LM-perplexity
# filter re-expressed in engine-portable EXACT math. A real n-gram LM
# scores log-probabilities, but ln/log2 are not correctly-rounded
# across engines (the q99 pmi note), so the score here is built from
# integers only: corpus term frequencies → rarity DECILES (exact
# two-phase NTILE over the vocabulary) → per-doc mean decile and
# hapax share, each a ratio of two exact BIGINTs whose IEEE quotient
# is bit-identical on any engine.
_Q103_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY term
),
dec AS (
  SELECT term, tf, NTILE(10) OVER (ORDER BY tf, term) AS freq_decile
  FROM tf
),
scored AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(d.freq_decile) AS BIGINT) AS sum_decile,
         CAST(SUM(CASE WHEN d.tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax
  FROM toks t JOIN dec d USING (term)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       CAST(sum_decile AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS mean_freq_decile,
       CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS hapax_share
FROM scored
"""


@query("q103_lexical_rarity", oracle=_Q103_ORACLE)
def q103_lexical_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-rarity profile (the quality-filter family
    CCNet/Gopher implement with LM perplexity): every token
    occurrence is scored by its corpus-frequency decile (decile 1 =
    rarest); documents dominated by rare/hapax tokens (gibberish,
    OCR noise, codes) score LOW mean decile and high hapax share,
    boilerplate scores high mean decile. Plan: one corpus shuffle
    for term frequencies, an exact NTILE(10) over the VOCABULARY via
    the two-phase formulation (``operators.numbering.global_ntile``
    — no single-partition window over a data-sized frame; vocabulary
    grows sublinearly with the corpus), then a token→decile
    equi-join back and one per-doc aggregate. Scores are ratios of
    exact counts — no transcendental functions — so the driver hash
    gate holds bit-for-bit.

    Returns (doc_id, n_tokens, mean_freq_decile, hapax_share)."""
    return lexical_rarity(load_table(spark, sf_dir, "documents"))


def lexical_rarity(docs: DataFrame, n_tiles: int = 10) -> DataFrame:
    """The q103 engine as a reusable operator over any
    (doc_id, text) frame — see :func:`q103_lexical_rarity`."""
    from shopify_db_spark.operators.numbering import global_ntile

    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    dec = global_ntile(
        tf, ["tf", "term"], n_tiles, col_name="freq_decile"
    ).select("term", "tf", "freq_decile")
    return (
        toks.join(dec, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq_decile").alias("sum_decile"),
            F.sum((F.col("tf") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("sum_decile").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mean_freq_decile"),
            (
                F.col("n_hapax").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("hapax_share"),
        )
    )


# ---------------------------------------------------------------------------
# q110: BPE-style phrase-merge vocabulary induction — the TRAINING
# side of the tokenizer tier (q22/q29 only count with a fixed
# tokenizer): learn the top merge rules over the corpus, one per
# round. Round r counts adjacent symbol pairs over the current
# symbol sequences (round 1 = the token arrays), picks the most
# frequent pair (ties: lexicographic), and rewrites every sequence
# with a GREEDY LEFT-TO-RIGHT fold joining that adjacency — the
# exact scan order classic BPE uses, so "a a a" merges to
# ["a a", "a"], never ["a", "a a"]. Fixed round count keeps the
# whole program declaratively SQL-expressible (one CTE chain per
# round) for the oracle, while the engine runs the same rounds
# imperatively.
_Q110_ROUNDS = 2


def _merge_fold(arr, l, r):
    """Greedy left-to-right merge of (l, r) adjacencies in a symbol
    array — F.aggregate fold; bit-identical to the oracle's
    list_reduce (both verified on overlap cases like 'a a a').
    ``try_element_at`` (NULL on the empty accumulator, first element
    of every fold) keeps the operator ANSI-safe when called as a
    library function outside the catalog wrapper's non-ANSI session
    conf — ANSI ``element_at`` throws on the out-of-bounds index;
    the NULL equality falls through to the otherwise branch, which
    is exactly the non-ANSI semantics and the oracle's ``acc[-1]``
    on an empty DuckDB list."""
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == l) & (x == r),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat_ws(" ", l, r)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merge_rounds(
    docs: DataFrame,
    n_rounds: int = _Q110_ROUNDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Distributed BPE-style merge training over token sequences.
    Per round: one pair-explode + groupBy (the only data shuffle,
    keyed on the symbol pair — map-side partial agg pre-folds hot
    pairs), a deterministic 1-row argmax (orderBy count DESC, pair
    ASC, limit 1 — TakeOrdered, no global exchange), and a map-only
    rewrite of every sequence via the broadcast 1-row merge rule.
    At 100 TB each round is one shuffle over pair counts (vocab²-
    bounded, not corpus-bounded) plus a map pass.

    Rounds chain linearly because the rewritten corpus is
    localCheckpoint-truncated every ``checkpoint_every`` rounds
    (pagerank precedent, ``operators/graph.py``): without
    truncation every round's plan re-nests all earlier rewrites and
    Catalyst re-optimizes a fold-of-folds expression whose analysis
    cost grows superlinearly in the round count. Measured ×1 wall
    time at rounds 2/8/32 in SCALE.md — exponent ≈
    linear in rounds with the checkpoint, blowing up without it.

    Returns (merge_round int, left_sym, right_sym, pair_count) —
    one row per learned merge rule."""
    cur = docs.select(
        F.col(id_col).alias("doc_id"), TX.tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= 1)
    outs = []
    for rnd in range(1, n_rounds + 1):
        pairs = cur.select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t)-1), "
                    "(x, i) -> struct(x AS l, t[i+1] AS r))"
                )
            ).alias("p")
        ).select("p.l", "p.r")
        counts = pairs.groupBy("l", "r").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        best = counts.orderBy(
            F.desc("c"), F.asc("l"), F.asc("r")
        ).limit(1)
        outs.append(
            best.select(
                F.lit(rnd).alias("merge_round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("c").alias("pair_count"),
            )
        )
        if rnd < n_rounds:
            cur = cur.crossJoin(F.broadcast(best)).select(
                "doc_id",
                _merge_fold(F.col("t"), F.col("l"), F.col("r")).alias("t"),
            )
            if checkpoint_every and rnd % checkpoint_every == 0:
                cur = cur.localCheckpoint()
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _q110_round_ctes(n_rounds: int, rewrite_last: bool = False) -> str:
    """Chained per-round CTEs (pair counts → 1-row argmax → greedy
    list_reduce rewrite). ``rewrite_last`` also applies round
    ``n_rounds``'s rule and returns only the CTE chain (no trailing
    SELECT) with the final rewritten corpus in ``m{n_rounds}`` —
    the q115 ENCODE contract, where all R learned rules are applied;
    default mirrors q110's TRAIN contract, where the last rule is
    learned but the corpus is not rewritten again."""
    parts = []
    src = "toks"
    for rnd in range(1, n_rounds + 1):
        parts.append(f"""
p{rnd} AS (
  SELECT t[i] AS l, t[i+1] AS r, COUNT(*) AS c
  FROM {src}, UNNEST(generate_series(1, GREATEST(len(t) - 1, 0))) AS u(i)
  GROUP BY l, r
),
b{rnd} AS (SELECT l, r, c FROM p{rnd} ORDER BY c DESC, l ASC, r ASC LIMIT 1)""")
        if rnd < n_rounds or rewrite_last:
            parts.append(f"""
m{rnd} AS (
  SELECT doc_id,
         list_reduce(list_transform(t, x -> [x]),
           (acc, x) -> CASE WHEN acc[-1] = b{rnd}.l AND x[1] = b{rnd}.r
                       THEN list_append(acc[1:len(acc)-1],
                                        b{rnd}.l || ' ' || b{rnd}.r)
                       ELSE list_concat(acc, x) END) AS t
  FROM {src} CROSS JOIN b{rnd}
)""")
            src = f"m{rnd}"
    if rewrite_last:
        return ",".join(parts)
    selects = " UNION ALL ".join(
        f"SELECT {rnd} AS merge_round, l AS left_sym, r AS right_sym, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{rnd}"
        for rnd in range(1, n_rounds + 1)
    )
    return ",".join(parts) + f" {selects}"


@query(
    "q110_bpe_merges",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE len({_TOKS}) >= 1
),{_q110_round_ctes(_Q110_ROUNDS)}
""",
)
def q110_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style phrase-merge training over the documents corpus —
    see :func:`bpe_merge_rounds`. The oracle unrolls the same fixed
    rounds as chained CTEs (pair counts → argmax → greedy
    list_reduce rewrite), so the driver checks the learned merge
    table rule-for-rule, counts included."""
    return bpe_merge_rounds(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q115: BPE ENCODE — the application side of the tokenizer tier
# (q110 trains the merge table; q115 applies all R learned rules to
# the corpus and reports per-document token counts). The engine
# never collects the rules: each round's 1-row argmax broadcasts
# into the next fold exactly as in training, so encode is the same
# map-only rewrite chain (vocab²-bounded pair-count shuffle per
# round, checkpoint-every-k lineage truncation); at 100 TB the
# trained rule table would be a tiny broadcast and the encode pass
# pure map. The oracle chains the identical rewrites through round
# R (``rewrite_last=True``) and compares raw vs encoded lengths
# per document — each successful merge shortens a sequence by one,
# so the counts pin the greedy fold application exactly.
def bpe_encode(
    docs: DataFrame,
    n_rounds: int = _Q110_ROUNDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Train-and-apply BPE over ``docs``: learn ``n_rounds`` merge
    rules (same loop as :func:`bpe_merge_rounds`) and rewrite the
    corpus with EVERY rule, returning
    (doc_id, n_tokens_raw, n_tokens_encoded). See the q115 section
    comment for the scale shape."""
    cur = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            TX.tokens(F.col(text_col)).alias("t"),
        )
        .filter(F.size("t") >= 1)
        .withColumn("n_tokens_raw", F.size("t"))
    )
    for rnd in range(1, n_rounds + 1):
        pairs = cur.select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t)-1), "
                    "(x, i) -> struct(x AS l, t[i+1] AS r))"
                )
            ).alias("p")
        ).select("p.l", "p.r")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        cur = cur.crossJoin(F.broadcast(best)).select(
            "doc_id",
            "n_tokens_raw",
            _merge_fold(F.col("t"), F.col("l"), F.col("r")).alias("t"),
        )
        if checkpoint_every and rnd % checkpoint_every == 0:
            cur = cur.localCheckpoint()
    return cur.select(
        "doc_id",
        "n_tokens_raw",
        F.size("t").alias("n_tokens_encoded"),
    )


def bpe_encoded_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-encoded corpus (doc_id, n_tokens_raw,
    n_tokens_encoded) of ``sf_dir``'s documents under the default
    q110 merge table, memoized per (session, sf_dir) and
    localCheckpoint-pinned (``plans.artifacts.session_artifact`` —
    same shape as the near-dup cluster map and the invoice table).

    Two catalog consumers derive EXACTLY this frame — q115 (the
    per-document encode report) and q145 (the per-language
    fertility rollup) — and the train+apply rewrite chain is the
    dominant term in both. At 100 TB the encoded corpus is a
    materialized artifact written once per tokenizer release and
    read by every length/fertility/packing consumer; re-training
    the merge table per query is an artifact of the per-query
    harness. bench.py times the cold build explicitly and reports
    it as the ``artifact_bpe_encoded`` line item."""
    from shopify_db_spark.plans.artifacts import session_artifact

    def build() -> DataFrame:
        return bpe_encode(load_table(spark, sf_dir, "documents"))

    return session_artifact("bpe_encoded", spark, sf_dir, build)


@query(
    "q115_bpe_encode",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE len({_TOKS}) >= 1
),{_q110_round_ctes(_Q110_ROUNDS, rewrite_last=True)}
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens_raw,
       CAST(len(m.t) AS INT) AS n_tokens_encoded
FROM toks t JOIN m{_Q110_ROUNDS} m ON m.doc_id = t.doc_id
""",
)
def q115_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application over the documents corpus — apply the
    q110-trained merge table end-to-end and report per-document raw
    vs encoded token counts; see :func:`bpe_encode`. Every merge
    shortens a document by exactly one token, so the count pair
    hash-checks the greedy fold application rule-for-rule. Served
    from the session artifact (:func:`bpe_encoded_table`) shared
    with q145's fertility rollup."""
    return bpe_encoded_table(spark, sf_dir)


# ---------------------------------------------------------------------------
# q130: HyperLogLog distinct-token sketch per source — the
# cardinality sketch beside q86's count-min (frequency): per-source
# distinct-token estimates at 100 TB without a per-source DISTINCT
# shuffle. The register representation IS the 100 TB design:
# registers merge by MAX, so Spark's partial aggregation combines
# per-partition sketches map-side and the shuffle moves ≤ #sources
# × m rows regardless of corpus size; cross-refresh / cross-dataset
# union is the same MAX merge (the mergeability that made the
# sketch canonical — Flajolet et al. 2007, Heule et al. 2013).
#
# Engine-portable EXACT math throughout: the 48-bit hash value is
# md5-hex via the q86 '0x'-cast/conv trick, the register index is
# v % m, rho is 1 + leading-zeros of the remaining 42-bit word
# computed EXACTLY as 43 − length(bin(w)) (bin() is the binary
# string on both engines — no log2 boundary risk), and the
# indicator sum Σ 2^(−rho_j) is carried as the exact BIGINT
# Σ 2^(43−rho_j) (left shift) with empty registers contributing
# 2^43 — floats appear only in the final single-expression
# estimate, identical IEEE ops on both engines. The standard
# small-range linear-counting correction needs ln(); it is left to
# consumers (n_empty_registers is in the output) — the raw
# estimator is the sketch contract here.
_Q130_M = 64  # registers; alpha_64 = 0.709 (0.7213/(1+1.079/m))
_Q130_W = 43  # 42-bit rho word + 1


_Q130_ORACLE = f"""
WITH toks AS (
  SELECT source, u.term
  FROM (SELECT source, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
hashed AS (
  SELECT source,
         ('0x' || substr(md5('hll:' || term), 1, 12))::BIGINT AS v
  FROM toks
),
regs AS (
  SELECT source, v % {_Q130_M} AS idx,
         MAX(CASE WHEN v // {_Q130_M} = 0 THEN {_Q130_W}
                  ELSE {_Q130_W} - LENGTH(bin(v // {_Q130_M})) END) AS rho
  FROM hashed GROUP BY source, v % {_Q130_M}
),
sums AS (
  SELECT source,
         CAST(SUM(CAST(1 AS BIGINT) << ({_Q130_W} - rho))
              + ({_Q130_M} - COUNT(*))
                * (CAST(1 AS BIGINT) << {_Q130_W}) AS BIGINT)
             AS register_sum,
         CAST({_Q130_M} - COUNT(*) AS BIGINT) AS n_empty_registers
  FROM regs GROUP BY source
),
exact AS (
  SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_distinct
  FROM toks GROUP BY source
)
SELECT s.source, e.exact_distinct, s.register_sum, s.n_empty_registers,
       (709.0 * {_Q130_M}.0 * {_Q130_M}.0
        * CAST(CAST(1 AS BIGINT) << {_Q130_W} AS DOUBLE))
           / (1000.0 * CAST(s.register_sum AS DOUBLE)) AS hll_estimate
FROM sums s JOIN exact e ON e.source = s.source
"""


def hll_registers(toks: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., idx, rho): HyperLogLog registers of the ``term``
    column per key group. MAX-mergeable: partial aggregation unions
    per-partition sketches map-side, and any further key rollup (or
    cross-snapshot union) is the same ``max(rho)``."""
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll:"), F.col("term"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    hashed = toks.select(*key_cols, v.alias("v"))
    w = F.expr(f"v DIV {_Q130_M}")
    rho = F.when(w == 0, F.lit(_Q130_W)).otherwise(
        F.lit(_Q130_W) - F.length(F.bin(w))
    )
    return (
        hashed.select(
            *key_cols, (F.col("v") % _Q130_M).alias("idx"), rho.alias("rho")
        )
        .groupBy(*key_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_register_sum(regs: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse registers to the exact BIGINT indicator sum
    Σ 2^(W−rho) (empty registers contribute 2^W) + the empty count."""
    return regs.groupBy(*key_cols).agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_Q130_W} - rho)"))
            + (F.lit(_Q130_M) - F.count(F.lit(1)))
            * F.lit(1 << _Q130_W).cast("long")
        ).cast("long").alias("register_sum"),
        (F.lit(_Q130_M) - F.count(F.lit(1)))
        .cast("long")
        .alias("n_empty_registers"),
    )


def hll_estimate(register_sum: Column) -> Column:
    """Raw HLL estimate from the exact indicator sum — the only
    floating-point step, a single fixed-order IEEE expression."""
    return (
        F.lit(709.0)
        * F.lit(float(_Q130_M))
        * F.lit(float(_Q130_M))
        * F.lit(float(1 << _Q130_W))
    ) / (F.lit(1000.0) * register_sum.cast("double"))


@query("q130_hll_distinct", oracle=_Q130_ORACLE)
def q130_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct-token estimate vs the exact
    count (see section comment). Returns (source, exact_distinct,
    register_sum, n_empty_registers, hll_estimate)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    sums = hll_register_sum(hll_registers(toks, ["source"]), ["source"])
    exact = toks.groupBy("source").agg(
        F.count_distinct("term").alias("exact_distinct")
    )
    return sums.join(exact, "source").select(
        "source",
        "exact_distinct",
        "register_sum",
        "n_empty_registers",
        hll_estimate(F.col("register_sum")).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# q132: cross-source vocabulary overlap via HLL register merge — the
# payoff of q130's mergeability: |A ∪ B| comes from MAX-merging the
# two sources' 64-register sketches (64·S² tiny rows — no re-scan
# of either corpus), and |A ∩ B| by inclusion–exclusion
# E_a + E_b − E_a∪b. At 100 TB this is how source-overlap matrices
# are actually computed: per-source sketches persist from the
# profiling pass (q130), and any pair/group rollup is register MAX.
# The exact intersection count rides along for calibration (a
# vocabulary-sized term self-join, the q124 shape — the expensive
# path the sketch replaces). Same exact-integer register math as
# q130; estimates are single fixed-order IEEE expressions.
_Q132_EST = (
    f"(709.0 * {_Q130_M}.0 * {_Q130_M}.0 "
    f"* CAST(CAST(1 AS BIGINT) << {_Q130_W} AS DOUBLE)) "
    "/ (1000.0 * CAST({col} AS DOUBLE))"
)


def _sql_hll_est(col: str) -> str:
    return _Q132_EST.format(col=col)


_Q132_ORACLE = f"""
WITH toks AS (
  SELECT source, u.term
  FROM (SELECT source, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
hashed AS (
  SELECT source,
         ('0x' || substr(md5('hll:' || term), 1, 12))::BIGINT AS v
  FROM toks
),
regs AS (
  SELECT source, v % {_Q130_M} AS idx,
         MAX(CASE WHEN v // {_Q130_M} = 0 THEN {_Q130_W}
                  ELSE {_Q130_W} - LENGTH(bin(v // {_Q130_M})) END) AS rho
  FROM hashed GROUP BY source, v % {_Q130_M}
),
ssums AS (
  SELECT source,
         CAST(SUM(CAST(1 AS BIGINT) << ({_Q130_W} - rho))
              + ({_Q130_M} - COUNT(*))
                * (CAST(1 AS BIGINT) << {_Q130_W}) AS BIGINT)
             AS register_sum
  FROM regs GROUP BY source
),
srcs AS (SELECT DISTINCT source FROM documents),
prs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
uregs AS (
  SELECT p.sa, p.sb, r.idx, MAX(r.rho) AS rho
  FROM prs p JOIN regs r ON r.source = p.sa OR r.source = p.sb
  GROUP BY p.sa, p.sb, r.idx
),
usums AS (
  SELECT sa, sb,
         CAST(SUM(CAST(1 AS BIGINT) << ({_Q130_W} - rho))
              + ({_Q130_M} - COUNT(*))
                * (CAST(1 AS BIGINT) << {_Q130_W}) AS BIGINT)
             AS register_sum
  FROM uregs GROUP BY sa, sb
),
tset AS (SELECT DISTINCT source, term FROM toks),
ov AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM tset a JOIN tset b ON a.term = b.term AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT u.sa AS source_a, u.sb AS source_b,
       u.register_sum AS union_register_sum,
       {_sql_hll_est('u.register_sum')} AS union_estimate,
       (({_sql_hll_est('s1.register_sum')}
         + {_sql_hll_est('s2.register_sum')})
        - {_sql_hll_est('u.register_sum')}) AS overlap_estimate,
       COALESCE(o.exact_overlap, CAST(0 AS BIGINT)) AS exact_overlap
FROM usums u
JOIN ssums s1 ON s1.source = u.sa
JOIN ssums s2 ON s2.source = u.sb
LEFT JOIN ov o ON o.sa = u.sa AND o.sb = u.sb
"""


@query("q132_hll_overlap", oracle=_Q132_ORACLE)
def q132_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap from MAX-merged HLL sketches
    (see section comment), with the exact intersection count for
    calibration. Returns (source_a, source_b, union_register_sum,
    union_estimate, overlap_estimate, exact_overlap)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    regs = hll_registers(toks, ["source"])
    ssums = hll_register_sum(regs, ["source"])
    srcs = docs.select("source").distinct()
    prs = (
        srcs.select(F.col("source").alias("sa"))
        .join(
            srcs.select(F.col("source").alias("sb")),
            F.col("sa") < F.col("sb"),
        )
    )
    uregs = (
        regs.join(
            F.broadcast(prs),
            (F.col("source") == F.col("sa"))
            | (F.col("source") == F.col("sb")),
        )
        .groupBy("sa", "sb", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    usums = hll_register_sum(uregs, ["sa", "sb"]).select(
        "sa", "sb", F.col("register_sum").alias("u_sum")
    )
    tset = toks.distinct()
    ov = (
        tset.select(F.col("source").alias("sa"), "term")
        .join(
            tset.select(F.col("source").alias("sb"), F.col("term").alias("tb")),
            (F.col("term") == F.col("tb")) & (F.col("sa") < F.col("sb")),
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    out = (
        usums.join(
            ssums.select(F.col("source").alias("sa"), F.col("register_sum").alias("a_sum")),
            "sa",
        )
        .join(
            ssums.select(F.col("source").alias("sb"), F.col("register_sum").alias("b_sum")),
            "sb",
        )
        .join(ov, ["sa", "sb"], "left")
    )
    return out.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("u_sum").alias("union_register_sum"),
        hll_estimate(F.col("u_sum")).alias("union_estimate"),
        (
            (hll_estimate(F.col("a_sum")) + hll_estimate(F.col("b_sum")))
            - hll_estimate(F.col("u_sum"))
        ).alias("overlap_estimate"),
        F.coalesce(F.col("exact_overlap"), F.lit(0).cast("long")).alias(
            "exact_overlap"
        ),
    )


# ---------------------------------------------------------------------------
# q134: distinctive keywords per source (c-TF-IDF-style lift) — the
# per-TERM attribution under q124's scalar drift number: for each
# source, which terms over-index vs the corpus. score =
# (tf_st/n_s)/(tf_t/N) — the lift of the term's in-source rate over
# its corpus rate — computed as ONE IEEE quotient of two exact
# BIGINT cross-products (tf_st·N vs tf_t·n_s, both < 2^53 at any
# measured scale), so ranking is engine-portable with no float-sum
# anywhere. A tf_st ≥ 3 noise floor drops hapax artifacts; top 10
# per source, ties toward the lexicographically smaller term.
# Scale shape: one token shuffle for (source, term) counts, a
# vocab-keyed join for corpus totals, #sources-row and 1-row
# broadcast totals; the ranking window partitions by SOURCE over
# its vocabulary (sublinear in the corpus).
_Q134_MIN_TF = 3
_Q134_TOPK = 10

_Q134_ORACLE = f"""
WITH toks AS (
  SELECT source, u.term
  FROM (SELECT source, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf_st
  FROM toks GROUP BY source, term
),
tt AS (
  SELECT term, CAST(SUM(tf_st) AS BIGINT) AS tf_t FROM st GROUP BY term
),
ns AS (
  SELECT source, CAST(SUM(tf_st) AS BIGINT) AS n_s FROM st GROUP BY source
),
nn AS (SELECT CAST(SUM(tf_st) AS BIGINT) AS n FROM st),
scored AS (
  SELECT st.source, st.term, st.tf_st,
         CAST(st.tf_st * nn.n AS DOUBLE)
             / CAST(tt.tf_t * ns.n_s AS DOUBLE) AS score
  FROM st
  JOIN tt ON tt.term = st.term
  JOIN ns ON ns.source = st.source
  CROSS JOIN nn
  WHERE st.tf_st >= {_Q134_MIN_TF}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT source, term, tf_st, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_Q134_TOPK}
"""


@query("q134_source_keywords", oracle=_Q134_ORACLE)
def q134_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive keywords per source by exact-integer lift (see
    section comment). Returns (source, term, tf_st, score, rank)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("tf_st")
    )
    tt = st.groupBy("term").agg(F.sum("tf_st").alias("tf_t"))
    ns = st.groupBy("source").agg(F.sum("tf_st").alias("n_s"))
    nn = st.agg(F.sum("tf_st").alias("n"))
    scored = (
        st.filter(F.col("tf_st") >= _Q134_MIN_TF)
        .join(tt, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "term",
            "tf_st",
            (
                (F.col("tf_st") * F.col("n")).cast("double")
                / (F.col("tf_t") * F.col("n_s")).cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _Q134_TOPK)
        .select("source", "term", "tf_st", "score", F.col("rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# q139: log-histogram quantile sketch of document token lengths per
# source — the QUANTILE sketch completing the mergeable-sketch tier
# (q130 HLL = distinct, q86/q90 count-min = frequency). The shape is
# DDSketch's (Masson et al., VLDB 2019) with base √2: bucket
# b = 2·(⌊log2 n⌋) + second-most-significant-bit, i.e. two buckets
# per octave, guaranteeing the sketched quantile's bucket bounds
# enclose the true value within ~41% relative error. Registers are
# per-(source, bucket) COUNTS, so they merge by ADDITION — Spark's
# partial aggregation unions per-partition sketches map-side and
# the shuffle moves ≤ #sources × #buckets (~40) rows at ANY corpus
# size; cross-refresh / cross-dataset union is the same SUM.
#
# Engine-portable EXACT math throughout — there are NO floats in
# this query at all: the bucket index is integer bit arithmetic
# (LENGTH(bin(n)) is ⌊log2 n⌋+1 on both engines — no log2 boundary
# risk, q130's trick), bucket bounds are shifts, the quantile target
# index is ceil-division (q·n + 99) // 100, the sketch answer is the
# first bucket whose cumulative count reaches the target (a window
# over the ≤40-row per-source histogram), and the EXACT calibration
# quantile uses the same inverse-empirical-CDF definition via a
# row_number selection (tie-broken on doc_id) — the corpus-sized
# sort the sketch exists to replace, kept as the comparison column
# exactly like q130's exact_distinct.
_Q139_QS = (25, 50, 75, 90)


_Q139_BUCKET = """CASE WHEN {n} <= 0 THEN -1
     WHEN LENGTH(bin({n})) = 1 THEN 0
     ELSE 2 * (LENGTH(bin({n})) - 1)
          + (({n} >> (LENGTH(bin({n})) - 2)) & 1) END"""

_Q139_LO = """CASE WHEN {b} < 0 THEN 0 WHEN {b} = 0 THEN 1
     ELSE (2 + ({b} % 2)) << CAST({b} // 2 - 1 AS INT) END"""

#: hi(b) = lo(b+1) − 1 for b ≥ 1; buckets −1/0 are the singletons 0/1
_Q139_HI = """CASE WHEN {b} < 0 THEN 0 WHEN {b} = 0 THEN 1
     ELSE ((2 + (({b} + 1) % 2)) << CAST(({b} + 1) // 2 - 1 AS INT)) - 1 END"""


_Q139_ORACLE = f"""
WITH lens AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tok
  FROM documents
),
hist AS (
  SELECT source,
         CAST({_Q139_BUCKET.format(n='n_tok')} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lens GROUP BY 1, 2
),
cum AS (
  SELECT source, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
totals AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs FROM hist GROUP BY source
),
targets AS (
  SELECT t.source, t.n_docs, qv.q_pct,
         (qv.q_pct * t.n_docs + 99) // 100 AS idx
  FROM totals t CROSS JOIN (VALUES (25), (50), (75), (90)) AS qv(q_pct)
),
picked AS (
  SELECT g.source, g.q_pct, g.n_docs,
         CAST({_Q139_LO.format(b='c.bucket')} AS BIGINT) AS sketch_lo,
         CAST({_Q139_HI.format(b='c.bucket')} AS BIGINT) AS sketch_hi
  FROM targets g JOIN cum c
    ON c.source = g.source AND c.cum >= g.idx AND c.cum - c.cnt < g.idx
),
ranked AS (
  SELECT source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_tok ASC, doc_id ASC) AS rn
  FROM lens
),
exact AS (
  SELECT g.source, g.q_pct, r.n_tok AS exact_q
  FROM targets g JOIN ranked r
    ON r.source = g.source AND r.rn = g.idx
)
SELECT p.source, CAST(p.q_pct AS INT) AS q_pct, p.n_docs,
       p.sketch_lo, p.sketch_hi, e.exact_q
FROM picked p JOIN exact e
  ON e.source = p.source AND e.q_pct = p.q_pct
"""


# Spark-side renderings of the bucket/bound templates above —
# DuckDB spells integer-div/shift as ``//``/``<<``, Spark as
# ``DIV``/``shiftleft()``; the MATH is identical token for token.
def _bucket_col(n: str) -> Column:
    return F.expr(
        f"""CASE WHEN {n} <= 0 THEN -1
            WHEN LENGTH(bin({n})) = 1 THEN 0
            ELSE 2 * (LENGTH(bin({n})) - 1)
                 + (shiftright({n},
                        CAST(LENGTH(bin({n})) AS INT) - 2) & 1) END"""
    ).cast("long")


def _bucket_lo(b: str) -> Column:
    return F.expr(
        f"""CASE WHEN {b} < 0 THEN CAST(0 AS BIGINT)
            WHEN {b} = 0 THEN CAST(1 AS BIGINT)
            ELSE shiftleft(CAST(2 + ({b} % 2) AS BIGINT),
                           CAST({b} DIV 2 AS INT) - 1) END"""
    ).cast("long")


def _bucket_hi(b: str) -> Column:
    return F.expr(
        f"""CASE WHEN {b} < 0 THEN CAST(0 AS BIGINT)
            WHEN {b} = 0 THEN CAST(1 AS BIGINT)
            ELSE shiftleft(CAST(2 + (({b} + 1) % 2) AS BIGINT),
                           CAST(({b} + 1) DIV 2 AS INT) - 1) - 1 END"""
    ).cast("long")


def length_histogram(lens: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., bucket, cnt): base-√2 log-histogram registers of the
    ``n_tok`` column per key group. SUM-mergeable: partial
    aggregation unions per-partition sketches map-side, and any
    further key rollup (or cross-snapshot union) is the same
    ``sum(cnt)``."""
    bucket = _bucket_col("n_tok")
    return (
        lens.select(*key_cols, bucket.alias("bucket"))
        .groupBy(*key_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame, key_cols: list[str], q_pcts: tuple[int, ...] = _Q139_QS
) -> DataFrame:
    """(key..., q_pct, n_docs, sketch_lo, sketch_hi): bucket bounds
    enclosing each requested percentile, from the histogram alone.
    Every step is exact integer math over the ≤ #keys × #buckets
    register frame — never the corpus."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    totals = hist.groupBy(*key_cols).agg(F.sum("cnt").alias("n_docs"))
    qf = F.explode(
        F.array(*[F.lit(q).cast("int") for q in q_pcts])
    ).alias("q_pct")
    targets = totals.select(*key_cols, "n_docs", qf).withColumn(
        "idx", F.expr("(q_pct * n_docs + 99) DIV 100")
    )
    joined = targets.join(
        cum.select(
            *[F.col(k).alias(f"__h_{k}") for k in key_cols],
            "bucket",
            "cnt",
            "cum",
        ),
        [F.col(k) == F.col(f"__h_{k}") for k in key_cols]
        + [
            F.col("cum") >= F.col("idx"),
            (F.col("cum") - F.col("cnt")) < F.col("idx"),
        ],
    )
    return joined.select(
        *key_cols,
        "q_pct",
        "n_docs",
        _bucket_lo("bucket").alias("sketch_lo"),
        _bucket_hi("bucket").alias("sketch_hi"),
    )


@query("q139_length_quantile_sketch", oracle=_Q139_ORACLE)
def q139_length_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-length quantile sketch (see section comment):
    SUM-mergeable log-histogram registers, sketch bucket bounds for
    p25/p50/p75/p90, exact inverse-CDF quantile as the calibration
    column. Returns (source, q_pct, n_docs, sketch_lo, sketch_hi,
    exact_q)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    sk = histogram_quantiles(
        length_histogram(lens, ["source"]), ["source"]
    )
    rw = Window.partitionBy("source").orderBy(
        F.asc("n_tok"), F.asc("doc_id")
    )
    ranked = lens.withColumn("rn", F.row_number().over(rw))
    exact = sk.select(
        F.col("source").alias("__es"),
        F.col("q_pct").alias("__eq"),
        F.expr("(q_pct * n_docs + 99) DIV 100").alias("__idx"),
    ).join(
        ranked.select("source", "n_tok", "rn"),
        [
            F.col("source") == F.col("__es"),
            F.col("rn") == F.col("__idx"),
        ],
    ).select(
        F.col("__es").alias("source"),
        F.col("__eq").alias("q_pct"),
        F.col("n_tok").alias("exact_q"),
    )
    return sk.join(exact, ["source", "q_pct"]).select(
        "source",
        F.col("q_pct").cast("int"),
        "n_docs",
        "sketch_lo",
        "sketch_hi",
        "exact_q",
    )


# ---------------------------------------------------------------------------
# q145: tokenizer fertility audit by language — the per-domain
# consumer of the BPE tier (q110 train → q115 encode → q145 audit):
# multilingual pipelines gate tokenizers on FERTILITY (encoded
# tokens per raw word) per language, because an under-trained merge
# table penalizes underrepresented languages with longer sequences
# (the effect documented across multilingual LM reports). Composes
# q115's per-doc counts verbatim and rolls up by ``lang``:
# compression = Σ encoded / Σ raw as ONE IEEE quotient of exact
# BIGINT sums, plus chars-per-encoded-token from the normalized
# char counts. Scale shape: the encoded corpus is read from the
# session artifact shared with q115 (``bpe_encoded_table`` — the
# train+apply chain is computed once per corpus, exactly the
# materialized encoded-corpus shape a tokenizer release produces);
# the rollup adds one metadata equi-join and one #langs-row
# aggregate with full partial aggregation (~1 row per doc shuffled).
@query(
    "q145_tokenizer_fertility",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE len({_TOKS}) >= 1
),{_q110_round_ctes(_Q110_ROUNDS, rewrite_last=True)}
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(t.t)) AS BIGINT) AS raw_tokens,
       CAST(SUM(len(m.t)) AS BIGINT) AS encoded_tokens,
       CAST(SUM(length({_NORM})) AS BIGINT) AS norm_chars,
       CAST(SUM(len(m.t)) AS DOUBLE) / CAST(SUM(len(t.t)) AS DOUBLE)
           AS fertility,
       CAST(SUM(length({_NORM})) AS DOUBLE) / CAST(SUM(len(m.t)) AS DOUBLE)
           AS chars_per_token
FROM toks t
JOIN m{_Q110_ROUNDS} m ON m.doc_id = t.doc_id
JOIN documents d ON d.doc_id = t.doc_id
GROUP BY d.lang
""",
)
def q145_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility / compression audit (see
    section comment). Returns (lang, n_docs, raw_tokens,
    encoded_tokens, norm_chars, fertility, chars_per_token)."""
    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encoded_table(spark, sf_dir)
    meta = docs.select(
        "doc_id",
        "lang",
        F.length(TX.normalize_text(F.col("text"))).cast("long").alias(
            "n_chars_norm"
        ),
    )
    per_lang = (
        enc.join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens_raw").cast("long")).alias("raw_tokens"),
            F.sum(F.col("n_tokens_encoded").cast("long")).alias(
                "encoded_tokens"
            ),
            F.sum("n_chars_norm").alias("norm_chars"),
        )
    )
    return per_lang.select(
        "lang",
        "n_docs",
        "raw_tokens",
        "encoded_tokens",
        "norm_chars",
        (
            F.col("encoded_tokens").cast("double")
            / F.col("raw_tokens").cast("double")
        ).alias("fertility"),
        (
            F.col("norm_chars").cast("double")
            / F.col("encoded_tokens").cast("double")
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# q156: quality-ranked mixture allocation under a token budget —
# the DECISION step the quality tier feeds: given per-source
# lexical-quality profiles (q103's decile machinery rolled up per
# source) and a corpus-wide token budget, allocate greedily from
# the cleanest source down and cut off at the budget (the
# "data-constrained mixing" decision — which sources ship whole,
# which get truncated, which are dropped). The greedy order is the
# per-source mean frequency decile — an IEEE quotient of two exact
# BIGINTs, identical on both engines, with a source-name tie-break
# — so the allocation trajectory is engine-portable. Budget = 40 %
# of corpus tokens, computed exactly as (total · 2) // 5; the
# cumulative cutoff and every allocation are exact BIGINT
# arithmetic over the #sources-row frame.
#
# Scale shape: one token shuffle + vocab NTILE (q103's plan) into a
# #sources-row rollup; the greedy window and the budget broadcast
# act on that tiny frame — never the corpus.
_Q156_NUM = 2  # budget = total * _Q156_NUM // _Q156_DEN
_Q156_DEN = 5


_Q156_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY term
),
dec AS (
  SELECT term, tf, NTILE(10) OVER (ORDER BY tf, term) AS freq_decile
  FROM tf
),
persrc AS (
  SELECT d2.source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(d.freq_decile) AS BIGINT) AS sum_decile
  FROM toks t
  JOIN dec d USING (term)
  JOIN documents d2 ON d2.doc_id = t.doc_id
  GROUP BY d2.source
),
budget AS (
  SELECT SUM(n_tokens) * {_Q156_NUM} // {_Q156_DEN} AS b FROM persrc
),
ordered AS (
  SELECT source, n_tokens, sum_decile,
         CAST(sum_decile AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS quality,
         COALESCE(SUM(n_tokens) OVER (
             ORDER BY CAST(sum_decile AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 DESC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
  FROM persrc
)
SELECT o.source, o.n_tokens, o.quality,
       CAST(o.cum_before AS BIGINT) AS cum_before,
       CAST(CASE WHEN o.cum_before + o.n_tokens <= b.b THEN o.n_tokens
                 WHEN o.cum_before >= b.b THEN 0
                 ELSE b.b - o.cum_before END AS BIGINT) AS allocated_tokens
FROM ordered o CROSS JOIN budget b
"""


@query("q156_budget_mixture", oracle=_Q156_ORACLE)
def q156_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ranked token-budget allocation per source
    (see section comment). Returns (source, n_tokens, quality,
    cum_before, allocated_tokens)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    from shopify_db_spark.operators.numbering import global_ntile

    dec = global_ntile(tf, ["tf", "term"], 10, col_name="freq_decile").select(
        "term", "freq_decile"
    )
    persrc = (
        toks.join(dec, "term")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("freq_decile").cast("long")).alias("sum_decile"),
        )
    )
    budget = persrc.agg(
        F.expr(
            f"SUM(n_tokens) * {_Q156_NUM} DIV {_Q156_DEN}"
        ).alias("b")
    )
    quality = F.col("sum_decile").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    w = (
        Window.orderBy(F.desc("quality"), F.asc("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = persrc.withColumn("quality", quality).withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return ordered.crossJoin(F.broadcast(budget)).select(
        "source",
        "n_tokens",
        "quality",
        F.col("cum_before").cast("long"),
        F.expr(
            "CAST(CASE WHEN cum_before + n_tokens <= b THEN n_tokens "
            "WHEN cum_before >= b THEN 0 "
            "ELSE b - cum_before END AS BIGINT)"
        ).alias("allocated_tokens"),
    )


# ---------------------------------------------------------------------------
# q161: exact-arithmetic BM25 retrieval — the lexical RANKING tier
# next to q76's sparse cosine (cosine weighs raw tf symmetrically;
# BM25 adds the rarity weight and document-length normalization that
# production lexical retrieval actually ships, and is the standard
# lexical side of hybrid fusion like q109/q111). Same shingle term
# space and df_cap stop-term bound as q76 (the 31-word vocabulary
# makes word-level postings useless — see the q76 section comment).
#
# Exact math: ln-IDF and per-term double sums are both
# engine-version-dependent, so this is the pre-log Robertson-odds
# BM25 with every per-term contribution a floor-quantized integer
# rational — pure DECIMAL(38,0)/HUGEINT floor division, exact BIGINT
# score sums at any summation order. Full derivation + magnitude
# bounds in operators/similarity.bm25_topk.
#
# Scale shape: one posting aggregate, one ``collect_list`` fold per
# term that yields df as the array size and explodes the Σ qdf·df
# query × candidate products (df_cap applied after the collect, so
# it bounds the fan-out, not the collected list), a 1-row
# corpus-stats broadcast (q134's normalizer idiom), one (query, doc)
# rollup, one query-keyed top-k window.
_Q161_N = 3
_Q161_DF_CAP = 64
_Q161_K = 3
_Q161_QMOD = 16

_Q161_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
terms AS (
  SELECT doc_id, array_to_string(t[i:i+{_Q161_N - 1}], ' ') AS term,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks,
       UNNEST(generate_series(1, GREATEST(len(t) - {_Q161_N - 1}, 1))) AS u(i)
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY term
),
dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM terms GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tl
  FROM dl
),
pruned AS (
  SELECT t.doc_id, t.term, t.tf, d.df
  FROM terms t JOIN dfreq d ON d.term = t.term
  WHERE d.df <= {_Q161_DF_CAP}
),
qpost AS (
  SELECT doc_id AS query_id, term, tf AS qtf
  FROM pruned WHERE doc_id % {_Q161_QMOD} = 0
),
cand AS (
  SELECT q.query_id, p.doc_id,
         CAST((CAST({1 << 20} AS HUGEINT) * q.qtf
               * (2 * s.n_docs - 2 * p.df + 1) * 44 * p.tf * s.tl)
              // ((2::HUGEINT * p.df + 1)
                  * (20::HUGEINT * p.tf * s.tl
                     + 6 * s.tl + 18 * l.dl * s.n_docs)) AS BIGINT) AS c
  FROM qpost q
  JOIN pruned p ON p.term = q.term AND p.doc_id <> q.query_id
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_scaled
  FROM cand GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score_scaled, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score_scaled DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {_Q161_K}
"""


@query("q161_bm25_retrieval", oracle=_Q161_ORACLE)
def q161_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic BM25 top-k retrieval (see section comment):
    every 16th document queries the corpus over the q76 shingle
    posting space; scores are floor-quantized integer-rational BM25
    contributions summed as exact BIGINTs
    (``operators.similarity.bm25_topk``). Returns
    (query_id, doc_id, score_scaled, rank)."""
    from shopify_db_spark.operators.similarity import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                TX.shingles_of_tokens(F.col("toks"), _Q161_N)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    queries = docs.filter(F.col("doc_id") % _Q161_QMOD == 0).select("doc_id")
    return bm25_topk(terms, queries, k=_Q161_K, df_cap=_Q161_DF_CAP)
