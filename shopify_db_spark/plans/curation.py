"""Training-data curation tier: dup-cluster resolution, deterministic
stratified sampling, and length binning over the ``documents`` table.

These are the steps between "pairs found" and "corpus shipped" in a
large-scale LLM data pipeline: q50 turns near-dup PAIRS into clusters
with one canonical keeper (the output q25/q26/q27 only gesture at),
q51 downsamples the dominant language with a reproducible hash
sampler (no ``rand()`` — re-runs and retried tasks pick identical
rows), and q52 buckets the corpus into exact length deciles for
curriculum/packing decisions using the two-phase NTILE (no
single-partition window).

No counterpart exists in the reference (its pipeline stops at
relational queries, ``db.py``); these extend the engine toward the
100 TB corpus-prep target while staying fully oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shopify_db_spark.functions import text as TX
from shopify_db_spark.operators import dedup as DD
from shopify_db_spark.operators.graph import dup_clusters
from shopify_db_spark.operators.numbering import (
    global_ntile,
    global_row_numbers,
    global_running_sum,
)
from shopify_db_spark.plans.catalog import query
from shopify_db_spark.plans.textops import _NORM, _Q27_ORACLE, _TOKS
from shopify_db_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# q50: near-dup pairs → connected components → canonical keeper.
# The oracle resolves components as "min transitively-reachable id"
# with a recursive CTE over the SAME pair set the q27 oracle defines
# (nested WITH — DuckDB scopes it inside the CTE), which doubles as
# an independent check of the Spark-side label propagation.
_Q50_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_Q27_ORACLE}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM comp
"""


def simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, cluster_id, cluster_size, keep) near-dup cluster
    table of ``sf_dir``'s documents under the q27 generator (SimHash,
    hamming ≤ 4, md5 family), memoized per (session, sf_dir) and
    localCheckpoint-pinned.

    Four catalog consumers derive EXACTLY this table — q50 (the
    cluster report), q125 (canonical selection), q137
    (cluster-atomic split), q146 (soft-dedup weights) — and the CC
    label-propagation loop is the dominant term in each. At 100 TB
    the cluster map is a materialized artifact computed once per
    corpus sync and read by every downstream consumer, exactly the
    commerce mapping layer's argument (``plans/commerce.py``,
    materialized staging tables); recomputing the pair join + CC
    loop per query is an artifact of the per-query harness. The
    memo restores the materialized-artifact shape
    (``plans.artifacts.session_artifact`` — checkpoint-pinned per
    session, full stale-session sweep on access). bench.py times the
    cold build explicitly and reports it as the
    ``artifact_materialization`` line item."""
    from shopify_db_spark.plans.artifacts import session_artifact

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        pairs = DD.simhash_pairs(docs, max_hamming=4, hash_family="md5")
        return dup_clusters(pairs)

    return session_artifact("simhash_clusters", spark, sf_dir, build)


@query("q50_dup_clusters", oracle=_Q50_ORACLE)
def q50_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup endgame: SimHash near-dup pairs (q27's generator) →
    distributed connected components (min-label propagation,
    ``operators.graph``) → ``(doc_id, cluster_id, cluster_size,
    keep)`` with the min doc id as each cluster's canonical keeper.
    Transitivity is the point: the oracle's recursive closure and
    the propagation loop must agree on every multi-hop cluster.
    Served from the session cluster memo (``simhash_clusters``)."""
    return simhash_clusters(spark, sf_dir)


# ---------------------------------------------------------------------------
# q51: md5 is the portable uniform hash (identical lowercase hex on
# both engines); comparing the first 8 hex chars against a hex
# threshold string IS the numeric comparison on [0, 16^8) — no
# hex→int cast needed anywhere.
_Q51_ORACLE = """
SELECT doc_id, lang, source, n_chars,
       CASE WHEN lang = 'en' THEN 5.0 ELSE 1.25 END AS weight
FROM documents
WHERE substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN lang = 'en' THEN '33333333' ELSE 'cccccccc' END
"""


@query("q51_stratified_sample", oracle=_Q51_ORACLE)
def q51_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep ~20 % of the dominant
    language (en) and ~80 % of the rest, selected by
    ``md5('samp:' || doc_id) < stratum threshold`` — reproducible
    across runs, retries and engines (unlike ``rand()``/TABLESAMPLE),
    embarrassingly parallel (per-row predicate, no shuffle), with the
    inverse-rate ``weight`` for unbiased downstream statistics.
    Threshold hex: 0x33333333/16^8 ≈ 0.2, 0xcccccccc/16^8 ≈ 0.8."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))), 1, 8
    )
    threshold = F.when(F.col("lang") == "en", F.lit("33333333")).otherwise(
        F.lit("cccccccc")
    )
    weight = F.when(F.col("lang") == "en", F.lit(5.0)).otherwise(F.lit(1.25))
    return docs.filter(bucket < threshold).select(
        "doc_id", "lang", "source", "n_chars", weight.alias("weight")
    )


# ---------------------------------------------------------------------------
_Q52_ORACLE = """
WITH t AS (
  SELECT doc_id, n_chars,
         NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT CAST(decile AS INT) AS decile,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       AVG(n_chars) AS avg_chars
FROM t
GROUP BY decile
"""


@query("q52_length_deciles", oracle=_Q52_ORACLE)
def q52_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length-decile profile of the corpus (bucket boundaries
    for curriculum sampling / sequence packing). NTILE is computed
    with the two-phase formulation (``operators.numbering.
    global_ntile``: range partition → local row_number → offset
    join → closed-form bucket) — bit-identical to the oracle's
    ``NTILE(10) OVER (ORDER BY ...)`` but with no single-partition
    stage over the data."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tiled = global_ntile(docs, ["n_chars", "doc_id"], 10, col_name="decile")
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.avg("n_chars").alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# q53: the benchmark set is the held-out docs (doc_id % 50 = 0); a
# training doc is contaminated to the degree its 8-gram shingles
# appear in ANY benchmark doc.
_Q53_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 7, 1))) AS u(i)
),
bench AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id % 50 = 0
),
train AS (
  SELECT * FROM shingles WHERE doc_id % 50 <> 0
)
SELECT t.doc_id,
       COUNT(*) AS n_shingles,
       -- DuckDB SUM(int) yields HUGEINT which canonicalizes as a
       -- float string; cast so the hash matches Spark's BIGINT
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS contamination_rate
FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
"""


@query("q53_contamination", oracle=_Q53_ORACLE)
def q53_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction
    of its 8-gram shingles that appear anywhere in the held-out
    benchmark partition (``doc_id % 50 = 0`` stands in for the eval
    suite). The benchmark shingle set is inherently bounded (eval
    suites are MBs, corpora are TBs), so it is broadcast to the
    training side — decontaminating a 100 TB corpus never shuffles
    the corpus, and docs exceeding a rate threshold are dropped or
    flagged downstream."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = DD.doc_shingles(docs, "doc_id", "text", n=8)
    bench = (
        shingles.filter(F.col("doc_id") % 50 == 0)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = shingles.filter(F.col("doc_id") % 50 != 0)
    hits = train.join(F.broadcast(bench), "shingle", "left")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1))
        ).alias("contamination_rate"),
    )


# ---------------------------------------------------------------------------
# q54: fixed-size character chunking with overlap — the context-
# window preparation step. size=800, stride=700 (100-char overlap);
# chunk i covers [i*stride+1, i*stride+size].
_Q54_SIZE, _Q54_STRIDE = 800, 700

_Q54_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, length(text) AS n_chars,
         GREATEST(CAST(CEIL(CAST(length(text) - {_Q54_SIZE - _Q54_STRIDE}
                             AS DOUBLE) / {_Q54_STRIDE}) AS BIGINT), 1)
             AS n_chunks
  FROM documents
)
SELECT d.doc_id,
       CAST(u.i AS INT) AS chunk_idx,
       substr(d.text, CAST(u.i * {_Q54_STRIDE} + 1 AS BIGINT), {_Q54_SIZE})
           AS chunk_text,
       length(substr(d.text, CAST(u.i * {_Q54_STRIDE} + 1 AS BIGINT),
                     {_Q54_SIZE})) AS n_chunk_chars
FROM documents d
JOIN spans s ON s.doc_id = d.doc_id,
     UNNEST(generate_series(0, s.n_chunks - 1)) AS u(i)
"""


@query("q54_window_chunks", oracle=_Q54_ORACLE)
def q54_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document split into
    ``size=800``-char chunks at ``stride=700`` (100-char overlap so
    no boundary sentence is lost) — one row per (doc, chunk). Pure
    per-row explode of a computed index range: embarrassingly
    parallel, no shuffle, and the chunk count formula
    (``max(ceil((len - overlap)/stride), 1)``) guarantees full
    coverage incl. the short-tail final chunk and exactly one chunk
    for short docs."""
    size, stride = _Q54_SIZE, _Q54_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.ceil((F.length("text") - (size - stride)).cast("double") / stride).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_idx"),
            F.expr(f"substring(text, i * {stride} + 1, {size})").alias("chunk_text"),
            F.length(
                F.expr(f"substring(text, i * {stride} + 1, {size})")
            ).alias("n_chunk_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q55: Gopher-style repetition signals. Both metric families reduce
# to counting duplicate units per document, so each is a two-level
# aggregation keyed first on (doc_id, unit) then on doc_id — the
# shuffle key includes the unit, so even a pathological document
# spreads over the cluster instead of hot-spotting one task.
#
# The synthetic corpus carries no newlines, so the gate reconstructs
# deterministic pseudo-lines (every 2nd space becomes a newline —
# identical leftmost non-overlapping regex scan on both engines)
# before the line metrics; real corpora skip that step. Replacement
# spelling differs per dialect ($1 vs \1) for the same semantics.
_Q55_LINE_RE = r"(\S+ \S+) "

_Q55_ORACLE = f"""
WITH lined AS (
  SELECT doc_id,
         regexp_replace(text, '{_Q55_LINE_RE}', '\\1' || chr(10), 'g') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, trim(x) AS line
  FROM lined, UNNEST(string_split(t, chr(10))) AS u(x)
  WHERE trim(x) <> ''
),
lc AS (SELECT doc_id, line, COUNT(*) AS cnt FROM lines GROUP BY doc_id, line),
ldoc AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
             / SUM(cnt) AS dup_line_frac,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END) AS DOUBLE)
             / SUM(cnt * length(line)) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
),
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
gc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram),
gdoc AS (
  SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_bigram_frac
  FROM gc GROUP BY doc_id
)
SELECT d.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
       g.top_bigram_frac
FROM documents d
LEFT JOIN ldoc l ON l.doc_id = d.doc_id
LEFT JOIN gdoc g ON g.doc_id = d.doc_id
"""


@query("q55_repetition_stats", oracle=_Q55_ORACLE)
def q55_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher repetition
    rules): per document, the fraction of lines (count- and
    char-weighted) that are duplicates of another line in the SAME
    document, and the share of the most frequent word bigram among
    all bigram occurrences. Boilerplate-heavy pages (nav bars,
    cookie banners, SEO keyword stuffing) light up on exactly these
    fractions and are dropped by threshold downstream. Documents
    with no non-empty lines / fewer than two tokens carry NULL
    metrics rather than a fake 0 or 1. Lines are deterministic
    pseudo-lines here (see the oracle comment) — the operator's
    input contract is simply newline-delimited text."""
    docs = load_table(spark, sf_dir, "documents")
    lined = F.regexp_replace("text", _Q55_LINE_RE, "$1\n")
    lines = docs.select(
        "doc_id", F.split(lined, "\n").alias("raw")
    ).select(
        "doc_id",
        F.explode(
            F.filter(F.transform("raw", F.trim), lambda x: x != F.lit(""))
        ).alias("line"),
    )
    lc = lines.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("cnt"))
    dup_cnt = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
    line_chars = F.col("cnt") * F.length("line")
    dup_chars = F.sum(F.when(F.col("cnt") > 1, line_chars).otherwise(F.lit(0)))
    ldoc = lc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        (dup_cnt.cast("double") / F.sum("cnt")).alias("dup_line_frac"),
        (dup_chars.cast("double") / F.sum(line_chars)).alias("dup_line_char_frac"),
    )
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    grams = toks.select(
        "doc_id",
        F.explode(TX.shingles_of_tokens(F.col("toks"), 2)).alias("gram"),
    )
    gcnt = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    gdoc = gcnt.groupBy("doc_id").agg(
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_bigram_frac")
    )
    return (
        docs.select("doc_id")
        .join(ldoc, "doc_id", "left")
        .join(gdoc, "doc_id", "left")
    )


# ---------------------------------------------------------------------------
# q56: regex patterns restricted to the Java/RE2 common subset (no
# lookaround, no backreferences, no alternation) so Spark's
# java.util.regex and DuckDB's RE2 agree match-for-match.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{7,15}\b"
_PII_LONGNUM = r"\b\d{6,}\b"

_Q56_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_PII_LONGNUM}')) AS BIGINT) AS n_long_nums,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) +
       len(regexp_extract_all(text, '{_PII_IPV4}')) +
       len(regexp_extract_all(text, '{_PII_PHONE}')) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IPV4}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_fp
FROM documents
"""


@query("q56_pii_scan", oracle=_Q56_ORACLE)
def q56_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count email / IPv4 / E.164-ish phone
    matches per document, flag documents carrying any, and emit the
    md5 of the redacted text (each match replaced by a typed
    placeholder — the form the training corpus actually ships with).
    Pure per-row regex work in whole-stage codegen: no shuffle, no
    Python, linearly partition-parallel at any corpus size. The
    long-digit-run count is the cheap recall net for ids the three
    typed patterns miss."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_emails = F.regexp_count(text, F.lit(_PII_EMAIL))
    n_ipv4 = F.regexp_count(text, F.lit(_PII_IPV4))
    n_phones = F.regexp_count(text, F.lit(_PII_PHONE))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phones.cast("long").alias("n_phones"),
        F.regexp_count(text, F.lit(_PII_LONGNUM)).cast("long").alias("n_long_nums"),
        ((n_emails + n_ipv4 + n_phones) > 0).alias("has_pii"),
        F.md5(redacted).alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# q57: C4-style line filtering. The kept-lines predicate runs inside
# array HOFs over a materialized line array — one pass per document,
# no explode/regroup round trip and no shuffle at all.
#
# Pseudo-sentence reconstruction for the newline-free synthetic
# corpus: every 8th space becomes '.\n', so the sentence-punctuation
# rule sees realistic input (the trailing fragment stays unpunctuated
# and is correctly dropped). 'slow' stands in for a blocklist term
# the corpus actually contains; cookie/javascript are the real-world
# entries. DuckDB's array_to_string returns NULL for an empty list
# (Spark: ''), hence the COALESCE.
_Q57_SENT_RE = r"((?:\S+ ){7}\S+) "
_Q57_KEEP = (
    "len(regexp_split_to_array(x, ' +')) >= 5"
    " AND regexp_matches(x, '[.!?\"]$')"
    " AND NOT contains(lower(x), 'slow')"
    " AND NOT contains(lower(x), 'cookie')"
    " AND NOT contains(lower(x), 'javascript')"
)

_Q57_ORACLE = f"""
WITH lined AS (
  SELECT doc_id,
         regexp_replace(text, '{_Q57_SENT_RE}', '\\1.' || chr(10), 'g') AS t
  FROM documents
),
l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines
  FROM lined
),
k AS (
  SELECT doc_id, lines, list_filter(lines, x -> {_Q57_KEEP}) AS kept
  FROM l
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       md5(COALESCE(array_to_string(kept, chr(10)), '')) AS clean_fp,
       CAST(length(COALESCE(array_to_string(kept, chr(10)), '')) AS BIGINT)
           AS n_clean_chars
FROM k
"""


@query("q57_boilerplate_filter", oracle=_Q57_ORACLE)
def q57_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: keep only lines that read like
    sentences — at least five words and a terminal punctuation mark —
    and drop lines mentioning cookie/javascript policy boilerplate.
    Emits per-document kept/total line counts plus the md5 and
    length of the cleaned text (lines rejoined with newlines), i.e.
    the shape a filtering stage hands to the next pipeline step.
    Embarrassingly parallel per-row HOF work; the line array is
    projected once and shared by both lambdas."""
    docs = load_table(spark, sf_dir, "documents")
    lined = F.regexp_replace("text", _Q57_SENT_RE, "$1.\n")
    lines = F.filter(
        F.transform(F.split(lined, "\n"), F.trim), lambda x: x != F.lit("")
    )
    keep = lambda x: (  # noqa: E731 - lambda mirrors the oracle's inline form
        (F.size(F.split(x, " +")) >= 5)
        & x.rlike('[.!?"]$')
        & ~F.lower(x).contains("slow")
        & ~F.lower(x).contains("cookie")
        & ~F.lower(x).contains("javascript")
    )
    staged = docs.select("doc_id", lines.alias("lines")).select(
        "doc_id", "lines", F.filter("lines", keep).alias("kept")
    )
    clean = F.array_join("kept", "\n")
    return staged.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept"),
        F.md5(clean).alias("clean_fp"),
        F.length(clean).cast("long").alias("n_clean_chars"),
    )


# ---------------------------------------------------------------------------
# q58: concat-and-cut sequence packing. The pack window is a power
# of two so even the floating-point div path would be exact; the
# implementation uses integer DIV/% outright.
_Q58_WINDOW = 2048

_Q58_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start,
       CAST(tok_start // {_Q58_WINDOW} AS BIGINT) AS pack_id,
       CAST(tok_start % {_Q58_WINDOW} AS BIGINT) AS pack_offset,
       (tok_start + n_tokens - 1) // {_Q58_WINDOW} > tok_start // {_Q58_WINDOW}
           AS crosses_boundary
FROM c
"""


@query("q58_sequence_packing", oracle=_Q58_ORACLE)
def q58_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing layout (the GPT-style concat-and-cut
    step): documents concatenated in deterministic doc_id order and
    cut every 2048 tokens; each document learns the pack it starts
    in, its token offset inside that pack, and whether it spills
    over a pack boundary (the rows a packing-aware loss mask needs).

    The exclusive token prefix sum — semantically ``SUM() OVER
    (ORDER BY doc_id)``, a single-partition window if written
    naively — runs as :func:`~shopify_db_spark.operators.numbering.
    global_running_sum`: range partition, per-partition local prefix
    sums, partition totals running-summed over a #partitions-sized
    frame and broadcast back. No data-sized single-partition stage,
    so the layout assignment scales to the full corpus."""
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    summed = global_running_sum(
        with_counts, ["doc_id"], "n_tokens", col_name="tok_start"
    )
    w = _Q58_WINDOW
    start_pack = F.expr(f"tok_start DIV {w}")
    end_pack = F.expr(f"(tok_start + n_tokens - 1) DIV {w}")
    return summed.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        start_pack.cast("long").alias("pack_id"),
        (F.col("tok_start") % w).cast("long").alias("pack_offset"),
        (end_pack > start_pack).alias("crosses_boundary"),
    )


# --- q69-q71: geo heatmap grid, mixture weights, shuffle-split --------------

_Q69_ORACLE = """
WITH src AS (
    SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE (o_orderkey % 180) - 90 + 0.25 END AS latitude,
           CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE (o_orderkey % 360) - 180 + 0.25 END AS longitude
    FROM orders
)
SELECT CAST(FLOOR(latitude / 10) AS INT) AS cell_lat,
       CAST(FLOOR(longitude / 10) AS INT) AS cell_lon,
       COUNT(*) AS n_points,
       AVG(latitude) AS center_lat,
       AVG(longitude) AS center_lon
FROM src
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
GROUP BY 1, 2
"""


@query("q69_geo_heatmap", oracle=_Q69_ORACLE)
def q69_geo_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heatmap sink's distributed half (S9, reference
    ``utils.py:7-23``) at scale: null coordinates dropped
    (``plans.geo.heatmap_points``), then points aggregated into
    10-degree grid cells with per-cell counts and centroids — the
    100 TB shape, where the driver renders a bounded cell grid
    instead of collecting raw points (the reference's
    ``folium.HeatMap(list)`` would ship the whole table). Quarter-
    degree coordinates make every double sum exact (dyadic values),
    so the per-cell centroid means are order-insensitive and
    cross-engine deterministic."""
    from shopify_db_spark.plans.geo import heatmap_points

    k = F.col("o_orderkey")
    src = load_table(spark, sf_dir, "orders").select(
        F.when(k % 10 == 0, F.lit(None).cast("double"))
        .otherwise((k % 180 - 90 + 0.25).cast("double"))
        .alias("latitude"),
        F.when(k % 10 == 0, F.lit(None).cast("double"))
        .otherwise((k % 360 - 180 + 0.25).cast("double"))
        .alias("longitude"),
    )
    pts = heatmap_points(src)
    return pts.groupBy(
        F.floor(F.col("latitude") / 10).cast("int").alias("cell_lat"),
        F.floor(F.col("longitude") / 10).cast("int").alias("cell_lon"),
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg("latitude").alias("center_lat"),
        F.avg("longitude").alias("center_lon"),
    )


_Q70_ORACLE = """
WITH per_source AS (
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS chars_total
    FROM documents
    GROUP BY source
),
with_total AS (
    SELECT *,
           SUM(chars_total) OVER () AS corpus_chars,
           COUNT(*) OVER () AS n_sources
    FROM per_source
)
SELECT source, n_docs,
       -- DuckDB SUM(BIGINT) yields HUGEINT which canonicalizes as a
       -- float string; cast back so the hash matches Spark's BIGINT
       CAST(chars_total AS BIGINT) AS chars_total,
       CAST(LEAST(chars_total, corpus_chars // n_sources) AS BIGINT)
           AS char_budget,
       CAST(LEAST(chars_total, corpus_chars // n_sources) * 1000000
            // chars_total AS BIGINT) AS rate_ppm
FROM with_total
"""


@query("q70_mixture_weights", oracle=_Q70_ORACLE)
def q70_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: per-source corpus mass and the
    sampling rate that caps every source at an equal share of the
    character budget (oversampled sources are rate-limited,
    undersampled ones keep everything). One tiny aggregate per
    source plus a partitionless window over the handful of source
    rows — the data itself never reshuffles, which is the whole
    point at 100 TB: mixture math is metadata-sized. All arithmetic
    is integer (ppm rates via integer division), so both engines
    agree bit-for-bit. Single-pass equal-share capping; iterative
    redistribution of freed budget is a documented non-goal here."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
    )
    w = Window.partitionBy()
    with_total = per_source.select(
        "*",
        F.sum("chars_total").over(w).alias("corpus_chars"),
        F.count(F.lit(1)).over(w).alias("n_sources"),
    )
    budget = F.least(
        F.col("chars_total"), F.expr("corpus_chars div n_sources")
    )
    return with_total.select(
        "source",
        "n_docs",
        "chars_total",
        budget.alias("char_budget"),
        F.expr(
            "least(chars_total, corpus_chars div n_sources) * 1000000"
            " div chars_total"
        ).alias("rate_ppm"),
    )


_Q71_ORACLE = """
WITH hashed AS (
    SELECT doc_id, lang, source, n_chars,
           md5('split-seed-1|' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
)
SELECT doc_id, lang, source, n_chars,
       CASE WHEN h < '028f' THEN 'test'
            WHEN h < '051e' THEN 'val'
            ELSE 'train' END AS split,
       ROW_NUMBER() OVER (ORDER BY h, doc_id) AS shuffle_pos
FROM hashed
"""


@query("q71_shuffle_split", oracle=_Q71_ORACLE)
def q71_shuffle_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + train/val/test split — the last
    step before training data leaves the engine. The split is a pure
    per-row salted-hash threshold (zero shuffles, reproducible from
    the seed alone, stable under corpus growth: a document's split
    never changes when others are added). The global shuffle order is
    the hash ordering materialized as an explicit position via
    two-phase numbering (``operators.numbering.global_row_numbers``)
    — a range repartition plus per-partition offsets, never a
    single-partition ``ROW_NUMBER() OVER (ORDER BY ...)`` funnel. The
    hex thresholds put ~1 % in test and ~1 % in val (0x028f/0xffff
    and 0x051e/0xffff of the keyspace)."""
    from shopify_db_spark.operators.numbering import global_row_numbers

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    hashed = docs.withColumn(
        "h", F.md5(F.concat(F.lit("split-seed-1|"), F.col("doc_id").cast("string")))
    )
    numbered = global_row_numbers(
        hashed, order_cols=["h", "doc_id"], col_name="shuffle_pos"
    )
    return numbered.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.when(F.col("h") < "028f", "test")
        .when(F.col("h") < "051e", "val")
        .otherwise("train")
        .alias("split"),
        "shuffle_pos",
    )


# ---------------------------------------------------------------------------
# q72: exact duplicated-substring spans (suffix-array-style exact
# dedup re-expressed distributed: positioned k-token window hashes →
# one inverted-index shuffle → per-doc gaps-and-islands span merge).
# Catches the licence-block / boilerplate spans whole-document
# MinHash granularity misses (Lee et al. 2022).
_Q72_K = 8
_Q72_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
docs AS (SELECT doc_id, t FROM toks WHERE len(t) >= {_Q72_K}),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i+{_Q72_K - 1}], ' ')) AS h
  FROM docs, UNNEST(generate_series(1, len(t) - {_Q72_K - 1})) AS u(i)
),
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dp AS (SELECT w.doc_id, w.pos FROM wins w WHERE w.h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM dp
),
spans AS (
  SELECT doc_id, island, COUNT(*) AS run_len FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(SUM(run_len) AS BIGINT) AS n_dup_windows,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(MAX(run_len) + {_Q72_K - 1} AS BIGINT) AS max_span_tokens
FROM spans GROUP BY doc_id
"""


@query("q72_dup_spans", oracle=_Q72_ORACLE)
def q72_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans per document —
    ``operators.dedup.duplicate_spans`` over the documents corpus
    (k=8 token windows, md5-hashed for engine portability). The
    oracle replays the same inverted-index + islands computation in
    pure SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.duplicate_spans(docs, k=_Q72_K)


# ---------------------------------------------------------------------------
# q75: Bloom-style decontamination — the fixed-size-metadata variant
# of q53. Two salted md5 hash functions over 2^20 buckets; a training
# shingle is flagged when BOTH its buckets appear in the benchmark
# bucket set. k=2, m=2^20: false-positive rate (1-e^{-kn/m})^k ≈
# 4e-6 at n=1k benchmark shingles, 4e-2 at n=100k.
_BLOOM_M = 1 << 20


def _sql_bucket75(salt: int, expr: str = "shingle") -> str:
    return (
        f"('0x' || substr(md5('{salt}:' || {expr}), 1, 8))::BIGINT % {_BLOOM_M}"
    )


_Q75_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 7, 1))) AS u(i)
),
bench AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id % 50 = 0
),
b0 AS (SELECT DISTINCT {_sql_bucket75(0)} AS bucket FROM bench),
b1 AS (SELECT DISTINCT {_sql_bucket75(1)} AS bucket FROM bench),
train AS (
  SELECT doc_id,
         {_sql_bucket75(0)} AS h0,
         {_sql_bucket75(1)} AS h1
  FROM shingles WHERE doc_id % 50 <> 0
)
SELECT t.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN b0.bucket IS NOT NULL AND b1.bucket IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN b0.bucket IS NOT NULL AND b1.bucket IS NOT NULL
                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS flag_rate
FROM train t
LEFT JOIN b0 ON b0.bucket = t.h0
LEFT JOIN b1 ON b1.bucket = t.h1
GROUP BY t.doc_id
"""


@query("q75_bloom_decontamination", oracle=_Q75_ORACLE)
def q75_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style benchmark decontamination: q53 probes the exact
    benchmark shingle SET (broadcast of full shingle strings); this
    variant probes a 2-hash bucket membership structure
    (``functions.text.md5_bucket``, k=2 salted hashes over 2^20
    buckets) — the structure a 100 TB pipeline actually ships, since
    its size is bounded by m (integers) regardless of how large the
    benchmark shingle strings are, and it can be built once and
    reused across corpus shards / engines (md5 is portable). A
    shingle is flagged when both its buckets are present; false
    positives are the documented Bloom trade ((1-e^{-kn/m})^k — zero
    at gate SF, asserted against q53's exact counts in
    tests/test_curation_extras.py). Both probe joins broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = DD.doc_shingles(docs, "doc_id", "text", n=8)
    bench = (
        shingles.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
    )
    b0 = (
        bench.select(
            TX.md5_bucket(F.col("shingle"), "0", _BLOOM_M).alias("h0")
        )
        .distinct()
        .withColumn("__hit0", F.lit(1))
    )
    b1 = (
        bench.select(
            TX.md5_bucket(F.col("shingle"), "1", _BLOOM_M).alias("h1")
        )
        .distinct()
        .withColumn("__hit1", F.lit(1))
    )
    train = shingles.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id",
        TX.md5_bucket(F.col("shingle"), "0", _BLOOM_M).alias("h0"),
        TX.md5_bucket(F.col("shingle"), "1", _BLOOM_M).alias("h1"),
    )
    flagged = (
        F.col("__hit0").isNotNull() & F.col("__hit1").isNotNull()
    ).cast("int")
    return (
        train.join(F.broadcast(b0), "h0", "left")
        .join(F.broadcast(b1), "h1", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(flagged).alias("n_flagged"),
            (F.sum(flagged).cast("double") / F.count(F.lit(1))).alias(
                "flag_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q80: deterministic weighted sampling (Efraimidis–Spirakis 2006):
# key = u^(1/w) with u uniform — taking the top-k keys per stratum is
# a weighted sample WITHOUT replacement. u comes from the portable
# md5 bucket (so re-runs and engines agree); we rank by the monotone
# transform ln(u)/w and never OUTPUT the float key, so the compare
# hashes only ids/ints (float keys differ in last-ulp libm rounding
# across engines; the RANKING is stable because key spacing across
# docs is astronomically larger than 1 ulp).
_Q80_K = 5


def _sql_es_key() -> str:
    u = (
        f"(({_sql_bucket75('es', 'CAST(doc_id AS VARCHAR)')}) + 0.5) "
        f"/ {_BLOOM_M}.0"
    )
    return f"ln({u}) / n_chars"


_Q80_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars, {_sql_es_key()} AS es_key
  FROM documents
)
SELECT source, doc_id, n_chars AS weight, CAST(rank AS INT) AS sample_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY es_key DESC, doc_id ASC) AS rank
  FROM keyed
) WHERE rank <= {_Q80_K}
"""


@query("q80_weighted_sample", oracle=_Q80_ORACLE)
def q80_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, deterministic: the
    Efraimidis–Spirakis one-pass scheme (key = u^(1/w), top-k keys)
    with the uniform drawn from the portable md5 hash of the doc id
    — so the sample is reproducible across runs, engines, and
    retried tasks, the same no-``rand()`` discipline as q51, but
    WEIGHTED (here w = n_chars: longer docs proportionally more
    likely — swap in a quality score in production). Top-5 per
    source stratum; keys are compared via the monotone ln(u)/w
    transform and not emitted (cross-engine libm ulp). Scale: one
    keyed top-k — no global sort, no single partition."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        TX.md5_bucket(F.col("doc_id").cast("string"), "es", _BLOOM_M)
        + F.lit(0.5)
    ) / F.lit(float(_BLOOM_M))
    keyed = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("es_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= _Q80_K)
        .select("source", "doc_id", "weight", "sample_rank")
    )


# ---------------------------------------------------------------------------
# q85: cross-source duplication matrix — the dedup DIAGNOSTIC:
# which sources duplicate which (mirror sites, syndication, scraped
# re-posts). Reuses q27's SimHash pair generator verbatim so the
# matrix is a pure roll-up of an already-gated pair set.
_Q85_ORACLE = f"""
WITH pairs AS ({_Q27_ORACLE})
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs,
       CAST(COUNT(DISTINCT p.doc_a) AS BIGINT) AS n_left_docs,
       CAST(COUNT(DISTINCT p.doc_b) AS BIGINT) AS n_right_docs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY source_a, source_b
"""


@query("q85_cross_source_dups", oracle=_Q85_ORACLE)
def q85_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: SimHash near-dup pairs
    (q27's generator, unchanged) labeled with each side's source and
    rolled up to (source_a ≤ source_b) counts — the report that says
    which ingest feeds mirror each other, and the first thing a
    corpus owner asks of a dedup run. The doc→source join hashes on
    doc ids (dimension-sized output); no new pair generation."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.simhash_pairs(docs, max_hamming=4, hash_family="md5")
    src = docs.select("doc_id", "source")
    la = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    lb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_a").alias("n_left_docs"),
            F.countDistinct("doc_b").alias("n_right_docs"),
        )
    )


# ---------------------------------------------------------------------------
# q100: the corpus-ship capstone — the full prep chain as ONE plan:
# q47 (quality gate → lang filter → exact dedup) → q53-style
# decontamination (benchmark docs excluded, contaminated docs
# dropped) → q58-style context-window packing over the survivors.
# The oracle composes the SAME tested SQL fragments (q47's oracle is
# read from the registry — textops is fully imported by now, see the
# _Q27_ORACLE import at the top of this module).
from shopify_db_spark.plans.catalog import QUERIES as _REGISTRY  # noqa: E402

_Q47_ORACLE = _REGISTRY["q47_corpus_prep"].oracle

_Q100_RATE = 0.2
_Q100_WINDOW = 2048

_Q100_ORACLE = f"""
WITH prep AS ({_Q47_ORACLE}),
toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 7, 1))) AS u(i)
),
bench AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id % 50 = 0
),
rates AS (
  SELECT s.doc_id,
         CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS cont_rate
  FROM shingles s
  JOIN prep p ON p.doc_id = s.doc_id
  LEFT JOIN bench b ON b.shingle = s.shingle
  GROUP BY s.doc_id
),
ship AS (
  SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens, p.quality
  FROM prep p JOIN rates r ON r.doc_id = p.doc_id
  WHERE p.doc_id % 50 <> 0 AND r.cont_rate < {_Q100_RATE}
),
packed AS (
  SELECT doc_id, n_tokens, quality,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM ship
)
SELECT doc_id, n_tokens, quality,
       CAST(tok_start // {_Q100_WINDOW} AS BIGINT) AS pack_id,
       CAST(tok_start % {_Q100_WINDOW} AS BIGINT) AS pack_offset,
       (tok_start + n_tokens - 1) // {_Q100_WINDOW}
         > tok_start // {_Q100_WINDOW} AS crosses_boundary
FROM packed
"""


@query("q100_corpus_ship", oracle=_Q100_ORACLE)
def q100_corpus_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: ship-ready training corpus in one composed
    plan. q47's prep chain (quality gate → language filter → exact
    dedup) feeds q53's decontamination (benchmark partition
    excluded, docs over the contamination-rate threshold dropped),
    and the survivors get q58's context-window packing layout
    (two-phase prefix sum — no single-partition data window). Each
    stage is an already-gated operator; this query proves they
    COMPOSE — one documents lineage, the benchmark shingle set
    broadcast, packing offsets from `global_running_sum`. The
    oracle chains the same three tested SQL fragments verbatim."""
    from shopify_db_spark.plans.textops import q47_corpus_prep

    prep = q47_corpus_prep(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    shingles = DD.doc_shingles(docs, "doc_id", "text", n=8)
    bench = (
        shingles.filter(F.col("doc_id") % 50 == 0)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    rates = (
        shingles.join(prep.select("doc_id"), "doc_id", "left_semi")
        .join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("cont_rate")
        )
    )
    ship = (
        prep.join(rates, "doc_id")
        .filter(
            (F.col("doc_id") % 50 != 0) & (F.col("cont_rate") < _Q100_RATE)
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality",
        )
    )
    summed = global_running_sum(
        ship, ["doc_id"], "n_tokens", col_name="tok_start"
    )
    w = _Q100_WINDOW
    start_pack = F.expr(f"tok_start DIV {w}")
    end_pack = F.expr(f"(tok_start + n_tokens - 1) DIV {w}")
    return summed.select(
        "doc_id",
        "n_tokens",
        "quality",
        start_pack.cast("long").alias("pack_id"),
        F.expr(f"tok_start % {w}").cast("long").alias("pack_offset"),
        (end_pack > start_pack).alias("crosses_boundary"),
    )


# ---------------------------------------------------------------------------
# q123: corpus snapshot diff — incremental-refresh change detection.
# A production training corpus is rebuilt from upstream dumps on a
# cadence; the refresh pipeline needs (added, removed, changed,
# unchanged) per document BEFORE re-running dedup/decontamination so
# downstream stages touch only the delta. The operator is
# ``snapshot_diff``: fingerprint each side (md5 — 16 bytes moves
# through the shuffle, never the document text), FULL OUTER join on
# the key, classify. At 100 TB both snapshots are key-bucketed
# parquet, making the join shuffle-free; here the two snapshots are
# deterministic derived views of `documents` (curr drops 1/17 of
# doc_ids to exercise 'removed'; prev drops 1/11 to exercise
# 'added' and truncates the last character of 1/13 to exercise
# 'changed') so the oracle is plain SQL over the same table.
_Q123_PREV_TEXT = (
    "CASE WHEN doc_id % 13 = 5 "
    "THEN SUBSTRING(text, 1, GREATEST(LENGTH(text) - 1, 0)) "
    "ELSE text END"
)

_Q123_ORACLE = f"""
WITH curr AS (
  SELECT doc_id, MD5(text) AS fp, CAST(LENGTH(text) AS BIGINT) AS n
  FROM documents WHERE doc_id % 17 != 2
),
prev AS (
  SELECT doc_id, MD5({_Q123_PREV_TEXT}) AS fp,
         CAST(LENGTH({_Q123_PREV_TEXT}) AS BIGINT) AS n
  FROM documents WHERE doc_id % 11 != 3
)
SELECT COALESCE(c.doc_id, p.doc_id) AS doc_id,
       CASE WHEN p.doc_id IS NULL THEN 'added'
            WHEN c.doc_id IS NULL THEN 'removed'
            WHEN c.fp != p.fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       c.n - p.n AS len_delta
FROM curr c FULL OUTER JOIN prev p ON p.doc_id = c.doc_id
"""


def snapshot_diff(
    prev: DataFrame, curr: DataFrame, key: str, text_col: str
) -> DataFrame:
    """Classify each key across two corpus snapshots as
    added/removed/changed/unchanged. Fingerprints (md5) and lengths
    are computed BEFORE the join so the full-outer shuffle moves
    (key, 32-hex, bigint) rows, never document text; with both
    snapshots bucketed by ``key`` the join is shuffle-free. Returns
    (key, status, len_delta) — len_delta is NULL for added/removed."""
    p = prev.select(
        F.col(key).alias("__pk"),
        F.md5(text_col).alias("__pfp"),
        F.length(text_col).cast("long").alias("__pn"),
    )
    c = curr.select(
        F.col(key).alias("__ck"),
        F.md5(text_col).alias("__cfp"),
        F.length(text_col).cast("long").alias("__cn"),
    )
    joined = c.join(p, F.col("__ck") == F.col("__pk"), "full_outer")
    return joined.select(
        F.coalesce("__ck", "__pk").alias(key),
        F.when(F.col("__pk").isNull(), F.lit("added"))
        .when(F.col("__ck").isNull(), F.lit("removed"))
        .when(F.col("__cfp") != F.col("__pfp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        (F.col("__cn") - F.col("__pn")).alias("len_delta"),
    )


@query("q123_snapshot_diff", oracle=_Q123_ORACLE)
def q123_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (see section comment): derive the two
    deterministic snapshot views of `documents`, then classify via
    ``snapshot_diff`` — fingerprint-before-join, full-outer on the
    key. Returns (doc_id, status, len_delta)."""
    docs = load_table(spark, sf_dir, "documents")
    curr = docs.filter(F.col("doc_id") % 17 != 2).select("doc_id", "text")
    prev = (
        docs.filter(F.col("doc_id") % 11 != 3)
        .select("doc_id", F.expr(_Q123_PREV_TEXT).alias("text"))
    )
    return snapshot_diff(prev, curr, "doc_id", "text")


# ---------------------------------------------------------------------------
# q124: per-source token-distribution drift — pairwise chi-squared
# distance between the unigram distributions of every source pair.
# The mixture-monitoring primitive beside q70 (mixture weights count
# documents; this measures whether two sources DIFFER in content,
# which is what decides if they deserve separate mixture weights,
# and detects upstream drift between corpus refreshes).
#
# Exact math, the q103/q121 discipline — no transcendental log (a
# KL/JS divergence would need one): chi²(a,b) = Σ_t (p_t−q_t)²/(p_t+q_t)
# over the union vocabulary. Terms present in only one source
# contribute exactly p_t (resp. q_t), and Σ_only-a p = 1 − Σ_shared p,
# so the whole metric reduces to 2 + Σ_shared [(p−q)²/(p+q) − p − q]
# — an INNER join over the shared vocabulary suffices; no full-outer
# pair expansion. The per-term summand then reduces ALGEBRAICALLY to
# an integer rational: with p = ca/na, q = cb/nb,
#     (p−q)²/(p+q) − p − q = ((p−q)² − (p+q)²)/(p+q)
#                          = −4pq/(p+q) = −4·ca·cb/(ca·nb + cb·na),
# so ws = ⌊−4·SCALE·ca·cb/(ca·nb + cb·na)⌋ is PURE INTEGER floor
# division — computed as −⌈N/D⌉ = −((N + D − 1) div D) on positive
# N, D so truncating and flooring division agree on every engine.
# No doubles anywhere: a double pipeline floors the LAST
# representable digit of a binary64 at SCALE = 1e15, so a 1-ulp
# reassociation difference between engine versions flips floors
# (a q124 gate failure). The reduction is bit-identical on
# any engine at any version, and cheaper. Intermediates ride
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): N = 4·SCALE·ca·cb needs
# ~2·log10(count) + 15.6 digits — safe past 1e11-token sources.
# Each per-term summand is ≤ 0 and ≥ −2·SCALE, and Σ_shared (p+q)
# ≤ 2, so the scaled sum is bounded by ±(2·SCALE + |V∩|) — the
# BIGINT output never overflows regardless of vocabulary size.
#
# Scale shape: one token shuffle for (source, term) counts, a
# term-keyed self-join whose expansion is O(V·S²) — S (#sources,
# the mixture arity) is a constant, so linear in vocabulary — with
# the S-row totals frame broadcast, and a #pairs-sized rollup.
# Disjoint-vocabulary pairs are absent from the output (their chi²
# is exactly 2·SCALE); the oracle computes the same.
_Q124_SCALE = 1_000_000_000_000_000  # 1e15; summands in [-2·SCALE, 0]

_Q124_ORACLE = f"""
WITH toks AS (
  SELECT source, u.term
  FROM (SELECT source, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
c AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, term
),
n AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY source
),
w AS (
  SELECT a.source AS source_a, b.source AS source_b,
         -((4::HUGEINT * {_Q124_SCALE} * a.c * b.c
            + (a.c::HUGEINT * nb.n + b.c::HUGEINT * na.n) - 1)
           // (a.c::HUGEINT * nb.n + b.c::HUGEINT * na.n)) AS ws
  FROM c a JOIN c b ON a.term = b.term AND a.source < b.source
  JOIN n na ON na.source = a.source
  JOIN n nb ON nb.source = b.source
)
SELECT source_a, source_b,
       CAST(CAST(2 * {_Q124_SCALE} AS HUGEINT) + SUM(ws) AS BIGINT)
           AS chi2_scaled,
       CAST(COUNT(*) AS BIGINT) AS n_shared_terms
FROM w GROUP BY source_a, source_b
"""


def distribution_drift(
    docs: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Pairwise chi-squared distance between the unigram token
    distributions of every ``group_col`` pair — see the q124 section
    comment for the exact-math reduction to the shared vocabulary
    and the pure-integer per-term summand −4·SCALE·ca·cb/(ca·nb+cb·na).
    Returns (source_a, source_b, chi2_scaled, n_shared_terms) with
    chi2_scaled = floor-scaled chi² in units of 1/_Q124_SCALE."""
    toks = docs.select(
        F.col(group_col).alias("source"),
        F.explode(TX.tokens(F.col(text_col))).alias("term"),
    )
    c = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    n = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = c.select(
        F.col("source").alias("source_a"), "term", F.col("c").alias("ca")
    )
    b = c.select(
        F.col("source").alias("source_b"),
        F.col("term").alias("term_b"),
        F.col("c").alias("cb"),
    )
    shared = (
        a.join(
            b,
            (F.col("term") == F.col("term_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .join(
            F.broadcast(
                n.select(
                    F.col("source").alias("source_a"),
                    F.col("n").alias("na"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                n.select(
                    F.col("source").alias("source_b"),
                    F.col("n").alias("nb"),
                )
            ),
            "source_b",
        )
    )
    # pure-integer floor division (section comment): ⌊−N/D⌋ with
    # N = 4·SCALE·ca·cb and D = ca·nb + cb·na both positive is
    # −⌈N/D⌉ = −((N + D − 1) DIV D); DECIMAL(38,0) intermediates,
    # BIGINT result (|ws| ≤ 2·SCALE)
    ws = F.expr(
        f"CAST(-((CAST(4 AS DECIMAL(38,0)) * {_Q124_SCALE} * ca * cb"
        "  + (CAST(ca AS DECIMAL(38,0)) * nb"
        "     + CAST(cb AS DECIMAL(38,0)) * na) - 1)"
        " DIV (CAST(ca AS DECIMAL(38,0)) * nb"
        "      + CAST(cb AS DECIMAL(38,0)) * na)) AS BIGINT)"
    )
    return (
        shared.select("source_a", "source_b", ws.alias("ws"))
        .groupBy("source_a", "source_b")
        .agg(
            (F.lit(2 * _Q124_SCALE) + F.sum("ws")).alias("chi2_scaled"),
            F.count(F.lit(1)).alias("n_shared_terms"),
        )
    )


@query("q124_source_drift", oracle=_Q124_ORACLE)
def q124_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise per-source token-distribution drift (see section
    comment): shared-vocabulary chi-squared with exact floor-scaled
    summands. Returns (source_a, source_b, chi2_scaled,
    n_shared_terms)."""
    return distribution_drift(
        load_table(spark, sf_dir, "documents"), "source", "text"
    )


# ---------------------------------------------------------------------------
# q125: canonical-corpus selection — the step q50 stops short of:
# q50 labels near-dup clusters with the MIN-ID keeper; a production
# pipeline keeps the BEST document per cluster. This composes three
# driver-certified pieces — q27's SimHash pairs, q50's connected
# components, q23's quality score — into per-document
# (doc_id, rep_id, cluster_size, kept): `kept` marks each cluster's
# highest-quality member (ties: lowest doc_id), singleton documents
# (in no near-dup pair) keep themselves. `filter(kept)` IS the
# deduplicated corpus. Quality values are deterministic doubles
# (q23's hash-checked arithmetic), so the within-cluster ordering —
# and hence the representative choice — is engine-portable.
#
# Scale shape: the pair generator and CC loop are q50's (pigeonhole
# block join + localCheckpoint-truncated propagation); the ranking
# window is partitioned BY CLUSTER (cluster sizes are small and
# bounded by dedup semantics — no data-sized partition), the
# singleton path is a left-anti join on doc_id against the
# cluster-member set, which is corpus-scale but key-only.
_Q125_STOPS = "'the','a','of','and','to','in','is','that','it','for'"

_Q125_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_Q27_ORACLE}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
         FROM reach GROUP BY node),
qt AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
         CAST(len(list_filter({_TOKS},
              x -> list_contains([{_Q125_STOPS}], x)))
              AS DOUBLE) AS n_stop,
         CAST(length({_NORM}) AS DOUBLE) AS n_chars,
         CAST(length({_NORM})
              - length(regexp_replace({_NORM}, '[.,;:!?''"()\\[\\]-]', '', 'g'))
              AS DOUBLE) AS n_punct
  FROM documents
),
qual AS (
  SELECT doc_id,
         0.5 * LEAST(n_tok / 100.0, 1.0)
           + 0.3 * LEAST((n_stop / n_tok) * 4.0, 1.0)
           - 0.2 * LEAST((n_punct / n_chars) * 5.0, 1.0)
           + 0.2 AS quality
  FROM qt
),
sel AS (
  SELECT c.doc_id,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rk,
         FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rep_id
  FROM comp c JOIN qual q USING (doc_id)
)
SELECT doc_id, rep_id, cluster_size, rk = 1 AS kept FROM sel
UNION ALL
SELECT d.doc_id, d.doc_id AS rep_id, CAST(1 AS BIGINT) AS cluster_size,
       TRUE AS kept
FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
"""


@query("q125_canonical_corpus", oracle=_Q125_ORACLE)
def q125_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-corpus selection (see section comment): SimHash
    pairs → connected components → per-cluster quality ranking;
    singletons keep themselves. Returns (doc_id, rep_id,
    cluster_size, kept) — ``filter(kept)`` is the deduplicated
    corpus."""
    from shopify_db_spark.plans.textops import q23_quality_scores

    docs = load_table(spark, sf_dir, "documents")
    clusters = simhash_clusters(spark, sf_dir)
    qual = q23_quality_scores(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    sel = (
        clusters.select("doc_id", "cluster_id", "cluster_size")
        .join(qual, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("rep_id", F.first("doc_id").over(w))
    )
    clustered = sel.select(
        "doc_id", "rep_id", "cluster_size", (F.col("rk") == 1).alias("kept")
    )
    singles = docs.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.col("doc_id").alias("rep_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(True).alias("kept"),
    )
    return clustered.unionByName(singles)


# ---------------------------------------------------------------------------
# q128: delta-refresh dedup — the composition the two pieces were
# built for: q123's snapshot diff decides WHICH documents re-enter
# near-dup detection (added + changed), and only those probe the
# banded-MinHash index of the settled (unchanged) corpus — the
# refresh-cadence counterpart of q73/q102's arrival-order streaming
# shape. At 100 TB the unchanged side's index rows are persisted
# from the previous refresh; per refresh the work is
# O(delta × bands) probe rows against an equi-join, never a corpus
# rescan. Delta-vs-delta duplicates are intentionally out of scope
# here (they settle at the next refresh; the batch pair generator
# q26 covers the full-corpus pass) — the contract is "is this
# new/edited document a near-dup of anything already shipped".
#
# The oracle restates the whole composition declaratively: q123's
# status CASE feeds q73's signature/band CTEs, candidates are
# (delta × unchanged) bucket matches at est-Jaccard ≥ 0.5, dup_of
# is the minimum matching settled doc.
_Q128_ORACLE = f"""
WITH curr AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 17 != 2
),
prevv AS (
  SELECT doc_id, MD5({_Q123_PREV_TEXT}) AS fp
  FROM documents WHERE doc_id % 11 != 3
),
st AS (
  SELECT c.doc_id, c.text,
         CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN MD5(c.text) != p.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM curr c LEFT JOIN prevv p ON p.doc_id = c.doc_id
),
toks AS (
  SELECT doc_id, status, {_TOKS} AS t FROM st
),
shingles AS (
  SELECT DISTINCT doc_id, status, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
salted AS (
  SELECT doc_id, status, seed,
         md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
  FROM shingles, UNNEST(generate_series(0, 7)) AS s(seed)
),
sig AS (
  SELECT doc_id, status, seed, MIN(h) AS minhash
  FROM salted GROUP BY doc_id, status, seed
),
bands AS (
  SELECT doc_id, status, CAST(FLOOR(seed / 2) AS INT) AS band,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
                        ORDER BY CAST(seed AS VARCHAR) || ':' || minhash))
             AS band_key
  FROM sig GROUP BY doc_id, status, CAST(FLOOR(seed / 2) AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS base_id
  FROM bands a
  JOIN bands b ON b.band = a.band AND b.band_key = a.band_key
  WHERE a.status IN ('added', 'changed') AND b.status = 'unchanged'
),
scored AS (
  SELECT delta_id, base_id,
         CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
              AS DOUBLE) / 8 AS est_j
  FROM cand
  JOIN sig sa ON sa.doc_id = delta_id
  JOIN sig sb ON sb.doc_id = base_id AND sb.seed = sa.seed
  GROUP BY delta_id, base_id
),
dups AS (
  SELECT delta_id, MIN(base_id) AS dup_of
  FROM scored WHERE est_j >= 0.5 GROUP BY delta_id
)
SELECT s.doc_id, s.status, (d.delta_id IS NOT NULL) AS is_dup, d.dup_of
FROM st s LEFT JOIN dups d ON d.delta_id = s.doc_id
WHERE s.status IN ('added', 'changed')
"""


def refresh_dedup(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = 50,
) -> DataFrame:
    """Probe each delta document's banded-MinHash rows against the
    settled corpus index; a delta doc is a duplicate when any
    settled doc agrees on ≥ ``threshold`` of signature positions.
    ``max_bucket`` caps the SETTLED side per bucket (the q26/q102
    degenerate-boilerplate guard; pass None for the exact spec).
    Returns (delta_id, dup_of) — only duplicate delta docs appear."""
    idx = DD.banded_minhash(base, id_col, text_col).select(
        F.col("doc_id").alias("base_id"),
        F.col("minhashes").alias("base_min"),
        "band",
        "band_key",
    )
    if max_bucket is not None:
        sizes = idx.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("bucket_n")
        )
        idx = idx.join(
            sizes.filter(F.col("bucket_n") <= max_bucket),
            ["band", "band_key"],
        ).drop("bucket_n")
    probe = DD.banded_minhash(delta, id_col, text_col).select(
        F.col("doc_id").alias("delta_id"),
        F.col("minhashes").alias("delta_min"),
        "band",
        "band_key",
    )
    scored = (
        probe.join(idx, ["band", "band_key"])
        .select("delta_id", "base_id", "delta_min", "base_min")
        .distinct()
        .select(
            "delta_id",
            "base_id",
            DD.signature_agreement(
                F.col("delta_min"), F.col("base_min"), DD.DEFAULT_SEEDS
            ).alias("est_j"),
        )
    )
    return (
        scored.filter(F.col("est_j") >= threshold)
        .groupBy("delta_id")
        .agg(F.min("base_id").alias("dup_of"))
    )


@query("q128_refresh_dedup", oracle=_Q128_ORACLE)
def q128_refresh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-refresh dedup (see section comment): q123's snapshot
    statuses route added/changed docs into a banded-MinHash probe of
    the unchanged corpus. Catalog query passes ``max_bucket=None``
    so the oracle is the exact full-recall spec (the library default
    keeps the production cap). Returns (doc_id, status, is_dup,
    dup_of) for the delta slice."""
    docs = load_table(spark, sf_dir, "documents")
    curr = docs.filter(F.col("doc_id") % 17 != 2).select("doc_id", "text")
    prev = docs.filter(F.col("doc_id") % 11 != 3).select(
        "doc_id", F.expr(_Q123_PREV_TEXT).alias("text")
    )
    st = snapshot_diff(prev, curr, "doc_id", "text").filter(
        F.col("status") != "removed"
    )
    labeled = curr.join(st.select("doc_id", "status"), "doc_id")
    base = labeled.filter(F.col("status") == "unchanged")
    delta = labeled.filter(F.col("status").isin("added", "changed"))
    dups = refresh_dedup(base, delta, max_bucket=None)
    return (
        delta.select("doc_id", "status")
        .join(dups, delta["doc_id"] == dups["delta_id"], "left")
        .select(
            "doc_id",
            "status",
            F.col("delta_id").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


# ---------------------------------------------------------------------------
# q131: temperature-scaled mixture sampling rates — the standard
# multilingual/multi-source rebalancing step (sample source s with
# probability ∝ n_s^τ, τ < 1 upweights small sources; XLM-R/mT5
# style) at τ = 1/2, the one temperature whose power is an exact
# IEEE primitive: sqrt is CORRECTLY ROUNDED by both engines, so
# w_s = floor(sqrt(n_s)·10⁶) is the same BIGINT everywhere, the
# normalizer Σ w_s is an exact integer sum (no float-sum order
# dependence — the q121 trick applied to the weights themselves),
# and every downstream share/rate is a deterministic expression of
# exact integers. The token budget is a fixed operator parameter;
# expected_tokens = floor(rate·n_s) gives the integer allocation.
# Scale shape: one token-count shuffle (#sources rows out), a
# 1-row normalizer broadcast — nothing else touches the corpus.
_Q131_BUDGET = 50_000
_Q131_WSCALE = 1_000_000

_Q131_ORACLE = f"""
WITH n AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * {_Q131_WSCALE})
              AS BIGINT) AS w_scaled
  FROM n
),
tot AS (SELECT SUM(w_scaled) AS w_tot FROM w)
SELECT w.source, w.n_tokens, w.w_scaled,
       CAST(w.w_scaled AS DOUBLE) / CAST(t.w_tot AS DOUBLE) AS share,
       LEAST(1.0, ({_Q131_BUDGET}.0
                   * (CAST(w.w_scaled AS DOUBLE) / CAST(t.w_tot AS DOUBLE)))
                  / CAST(w.n_tokens AS DOUBLE)) AS sample_rate,
       CAST(FLOOR(LEAST(1.0, ({_Q131_BUDGET}.0
                   * (CAST(w.w_scaled AS DOUBLE) / CAST(t.w_tot AS DOUBLE)))
                  / CAST(w.n_tokens AS DOUBLE))
                  * CAST(w.n_tokens AS DOUBLE)) AS BIGINT)
           AS expected_tokens
FROM w CROSS JOIN tot t
"""


@query("q131_mixture_temperature", oracle=_Q131_ORACLE)
def q131_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (τ=1/2) mixture sampling rates under a
    fixed token budget (see section comment). Returns (source,
    n_tokens, w_scaled, share, sample_rate, expected_tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "source", F.size(TX.tokens(F.col("text"))).cast("long").alias("nt")
    ).groupBy("source").agg(F.sum("nt").alias("n_tokens"))
    w = n.select(
        "source",
        "n_tokens",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double")) * _Q131_WSCALE
        ).cast("long").alias("w_scaled"),
    )
    tot = w.agg(F.sum("w_scaled").alias("w_tot"))
    share = F.col("w_scaled").cast("double") / F.col("w_tot").cast("double")
    rate = F.least(
        F.lit(1.0),
        (F.lit(float(_Q131_BUDGET)) * share)
        / F.col("n_tokens").cast("double"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "w_scaled",
        share.alias("share"),
        rate.alias("sample_rate"),
        F.floor(rate * F.col("n_tokens").cast("double"))
        .cast("long")
        .alias("expected_tokens"),
    )


# ---------------------------------------------------------------------------
# q136/q137: split leakage — the evaluation-integrity pair. A
# hash-per-document split (q71) puts near-duplicate documents on
# BOTH sides of the train/holdout boundary, which silently inflates
# eval scores (the test set "leaks" into training). q136 DETECTS it:
# q26's MinHash-LSH pairs at est-Jaccard ≥ 0.5, each endpoint joined
# to a 50/50 deterministic hash split, keeping pairs that cross the
# boundary. q137 FIXES it: split by the near-dup CLUSTER (q50's
# connected components; singletons are their own group), so every
# near-dup group lands on one side atomically — by construction no
# detected pair can cross, the property tests/test_curation_extras
# asserts. Scale shape: q26's banded geometry + a key-only split
# join (q136); q50's CC + one md5 threshold on the group id (q137).
_Q136_T = 0.5
_Q136_SPLIT = "CASE WHEN {h} < '8000' THEN 'train' ELSE 'holdout' END"


def _split_sql(key_expr: str, seed: str) -> str:
    h = f"substr(md5('{seed}|' || CAST({key_expr} AS VARCHAR)), 1, 4)"
    return _Q136_SPLIT.format(h=h)


_Q136_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
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
                        ORDER BY CAST(seed AS VARCHAR) || ':' || minhash))
             AS band_key
  FROM sig GROUP BY doc_id, CAST(FLOOR(seed / 2) AS INT)
),
sized AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key HAVING COUNT(*) <= 50
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN sized s ON s.band = a.band AND s.band_key = a.band_key
  JOIN bands b ON b.band = a.band AND b.band_key = a.band_key
             AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
              AS DOUBLE) / 8 AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
  GROUP BY doc_a, doc_b
),
sp AS (
  SELECT doc_id, {_split_sql('doc_id', 'leak-seed-1')} AS split
  FROM documents
)
SELECT s.doc_a, s.doc_b, s.est_jaccard,
       pa.split AS split_a, pb.split AS split_b
FROM scored s
JOIN sp pa ON pa.doc_id = s.doc_a
JOIN sp pb ON pb.doc_id = s.doc_b
WHERE s.est_jaccard >= {_Q136_T} AND pa.split != pb.split
"""


def hash_split(df: DataFrame, key_col: str, seed: str) -> Column:
    """50/50 deterministic split column from a salted md5 hash of
    ``key_col`` — reproducible, stable under corpus growth."""
    h = F.substring(
        F.md5(F.concat(F.lit(seed + "|"), F.col(key_col).cast("string"))),
        1,
        4,
    )
    return F.when(h < "8000", F.lit("train")).otherwise(F.lit("holdout"))


@query("q136_split_leakage", oracle=_Q136_ORACLE)
def q136_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup leakage detection (see section comment):
    q26's LSH pairs at est ≥ 0.5 whose endpoints land on opposite
    sides of a per-document hash split. Returns (doc_a, doc_b,
    est_jaccard, split_a, split_b) — every row is a leak."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        docs, n_seeds=8, band_size=2, max_bucket=50
    ).filter(F.col("est_jaccard") >= _Q136_T)
    sp = docs.select(
        "doc_id", hash_split(docs, "doc_id", "leak-seed-1").alias("split")
    )
    return (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "est_jaccard", "split_a", "split_b")
    )


_Q137_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_Q27_ORACLE}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
         FROM reach GROUP BY node),
grouped AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, group_id,
       {_split_sql('group_id', 'gsplit-seed-1')} AS split
FROM grouped
"""


@query("q137_cluster_split", oracle=_Q137_ORACLE)
def q137_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free group-aware split (see section comment): the
    split hash is taken over the near-dup CLUSTER id (q50's
    connected components; singletons group as themselves), so dup
    groups land on one side atomically. Returns (doc_id, group_id,
    split)."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = simhash_clusters(spark, sf_dir)
    grouped = docs.join(
        clusters.select("doc_id", "cluster_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
    )
    return grouped.select(
        "doc_id",
        "group_id",
        hash_split(grouped, "group_id", "gsplit-seed-1").alias("split"),
    )


# ---------------------------------------------------------------------------
# q140: lexical target-domain affinity selection — the DSIR idea
# (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling") re-expressed in the house exact-integer
# discipline: classify every vocabulary term as TARGET-INDICATIVE
# when its rate in the target domain exceeds λ=2× its rate in the
# rest of the corpus, then score every non-target document by the
# fraction of its token occurrences that are indicative, and select
# documents whose affinity clears the 10% bar. DSIR's log-likelihood
# ratio needs ln() (engine-divergent at FLOOR boundaries); the
# rate-ratio CLASSIFICATION is the same decision boundary expressed
# as one BIGINT cross-product per term — tf_t·n_r > 2·tf_r·n_t
# (both sides < 2^53 at any measured scale) — so the selected set is
# bit-identical on any engine. A tf_t ≥ 3 noise floor drops hapax
# artifacts (q134's floor); the affinity itself is ONE IEEE quotient
# of two exact BIGINTs, and the selection bar is the exact integer
# comparison 10·n_ind > n_tok (no float threshold anywhere).
#
# Scale shape: one token shuffle for per-term class counts (full
# partial aggregation), a 1-row corpus-totals broadcast (q134's
# normalizer idiom), the indicative vocab joined back to the token
# stream on term (vocab-sized build side — broadcastable; Zipf keeps
# it sublinear in the corpus), and one per-doc aggregate moving ~1
# row/doc. Nothing corpus-sized crosses a driver or a window.
_Q140_TARGET = "src0"
_Q140_LAMBDA = 2
_Q140_MIN_TF = 3
#: selected ⇔ affinity > 1/_Q140_BAR (exact: n_ind·BAR > n_tok)
_Q140_BAR = 10


_Q140_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, u.term
  FROM (SELECT doc_id, source, {_TOKS} AS t FROM documents),
       UNNEST(t) AS u(term)
),
tf AS (
  SELECT term,
         CAST(SUM(CASE WHEN source = '{_Q140_TARGET}' THEN 1 ELSE 0 END)
              AS BIGINT) AS tf_t,
         CAST(SUM(CASE WHEN source = '{_Q140_TARGET}' THEN 0 ELSE 1 END)
              AS BIGINT) AS tf_r
  FROM toks GROUP BY term
),
tot AS (
  SELECT CAST(SUM(tf_t) AS BIGINT) AS n_t, CAST(SUM(tf_r) AS BIGINT) AS n_r
  FROM tf
),
ind AS (
  SELECT tf.term
  FROM tf CROSS JOIN tot
  WHERE tf.tf_t >= {_Q140_MIN_TF}
    AND tf.tf_t * tot.n_r > {_Q140_LAMBDA} * tf.tf_r * tot.n_t
),
scored AS (
  SELECT t.doc_id, ANY_VALUE(t.source) AS source,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(CASE WHEN i.term IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ind
  FROM toks t LEFT JOIN ind i ON i.term = t.term
  WHERE t.source != '{_Q140_TARGET}'
  GROUP BY t.doc_id
)
SELECT doc_id, source, n_tok, n_ind,
       CAST(n_ind AS DOUBLE) / CAST(n_tok AS DOUBLE) AS affinity,
       CAST(CASE WHEN n_ind * {_Q140_BAR} > n_tok THEN 1 ELSE 0 END AS INT)
           AS selected
FROM scored
"""


def target_affinity(
    docs: DataFrame,
    target_source: str = _Q140_TARGET,
    lam: int = _Q140_LAMBDA,
    min_tf: int = _Q140_MIN_TF,
    bar: int = _Q140_BAR,
) -> DataFrame:
    """DSIR-style lexical affinity of every non-target document to
    ``target_source`` (see section comment). Returns (doc_id, source,
    n_tok, n_ind, affinity, selected)."""
    toks = docs.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    is_t = (F.col("source") == target_source).cast("long")
    tf = toks.groupBy("term").agg(
        F.sum(is_t).alias("tf_t"),
        F.sum(1 - is_t).alias("tf_r"),
    )
    tot = tf.agg(
        F.sum("tf_t").alias("n_t"), F.sum("tf_r").alias("n_r")
    )
    ind = (
        tf.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("tf_t") >= min_tf)
            & (F.col("tf_t") * F.col("n_r") > lam * F.col("tf_r") * F.col("n_t"))
        )
        .select("term", F.lit(1).alias("__ind"))
    )
    scored = (
        toks.filter(F.col("source") != target_source)
        .join(ind, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.coalesce(F.col("__ind"), F.lit(0)).cast("long")).alias(
                "n_ind"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "source",
        "n_tok",
        "n_ind",
        (F.col("n_ind").cast("double") / F.col("n_tok").cast("double")).alias(
            "affinity"
        ),
        (F.col("n_ind") * bar > F.col("n_tok")).cast("int").alias("selected"),
    )


@query("q140_target_affinity", oracle=_Q140_ORACLE)
def q140_target_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style lexical target-domain selection (see section
    comment): exact rate-ratio term classification, per-doc
    indicative-token affinity, integer selection bar. Returns
    (doc_id, source, n_tok, n_ind, affinity, selected)."""
    return target_affinity(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q146: duplicate-aware soft-dedup training weights — the
# "downweight instead of drop" endgame of the dedup tier: hard
# removal (q50's keep flag / q125's canonical selection) loses
# in-cluster variation, so several pipelines instead weight each
# document by the inverse of its near-dup cluster size (the
# repetition-discounting used in data-pruning/duplication studies —
# e.g. D4, Tirumala et al. 2023). Composes q50's components
# verbatim and extends them to the FULL corpus: docs in no pair get
# cluster_size 1, and weight = 1/cluster_size is ONE IEEE quotient
# of exact BIGINTs. The per-source effective-size rollup — the
# number a mixture builder actually consumes — is carried as the
# exact BIGINT Σ count·⌊10⁶/cluster_size⌋ (parts-per-million): a
# float Σ 1/cs is summation-order-dependent across engines and
# partitionings (measured: the naive SUM(weight) rollup diverged in
# the 15th digit between Spark and DuckDB), while the floored
# per-size term makes the sum exact with ≤1e-6 relative error per
# doc.
#
# Scale shape: q50's pair+CC machinery dominates (exp 0.85); the
# extension is a key-only left join from the corpus and a
# #sources-row aggregate. Output stays per-doc + per-source long.
_Q146_ORACLE = f"""
WITH comp AS (
  SELECT doc_id, cluster_id, cluster_size FROM ({_Q50_ORACLE})
),
perdoc AS (
  SELECT d.doc_id, d.source,
         COALESCE(c.cluster_size, 1) AS cluster_size
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(cluster_size) AS BIGINT) AS sum_cluster_size,
       CAST(SUM(1000000 // cluster_size) AS BIGINT) AS effective_docs_ppm
FROM perdoc GROUP BY source
"""


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Per-document inverse-cluster-size weights over the FULL
    corpus (see section comment). Accepts either the raw near-dup
    ``pairs`` (clusters derived here) or a pre-computed ``clusters``
    table (the ``simhash_clusters`` memo path). Returns (doc_id,
    source, cluster_size, weight)."""
    if clusters is None:
        if pairs is None:
            raise ValueError("pass either pairs or clusters")
        clusters = dup_clusters(pairs)
    comp = clusters.select("doc_id", "cluster_size")
    return (
        docs.select("doc_id", "source")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
        )
        .withColumn(
            "weight",
            F.lit(1.0) / F.col("cluster_size").cast("double"),
        )
    )


@query("q146_soft_dedup_weights", oracle=_Q146_ORACLE)
def q146_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup weighting rollup (see section comment): per-source
    raw vs duplicate-discounted effective document counts. Returns
    (source, n_docs, sum_cluster_size, effective_docs)."""
    docs = load_table(spark, sf_dir, "documents")
    w = soft_dedup_weights(docs, clusters=simhash_clusters(spark, sf_dir))
    return w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("cluster_size").alias("sum_cluster_size"),
        F.sum(
            F.expr("CAST(1000000 AS BIGINT) DIV cluster_size")
        ).alias("effective_docs_ppm"),
    )


# ---------------------------------------------------------------------------
# q149: deterministic class-balanced subsample — downsample every
# language stratum to the SMALLEST stratum's size (the exact
# balanced-set construction behind eval-set curation and
# contrastive-pretraining class balance; q51's hash sampler keeps
# RATES, this keeps exact COUNTS). Selection must be reproducible
# and engine-portable, so the per-stratum order is the salted md5
# of the doc id (q51's coin) with a doc_id tie-break, and the
# per-language rank is computed WITHOUT a data-sized window
# partition: the q08/q58 two-phase machinery numbers globally over
# (lang, h, doc_id) range partitions, then subtracts each
# language's broadcast MIN rank — a per-lang ROW_NUMBER by
# construction, at any scale (a naive PARTITION BY lang window
# would funnel the dominant language through one task).
#
# Scale shape: one range repartition + per-partition local windows
# (the numbering contract), two tiny broadcasts (#langs offsets,
# 1-row min-count target), per-row filter. Output = #langs × target
# rows.
_Q149_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY substr(md5('bal-seed-1|' || CAST(doc_id AS VARCHAR)),
                           1, 8) ASC, doc_id ASC) AS lang_rank
  FROM documents
),
target AS (
  SELECT MIN(cnt) AS t
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY lang)
)
SELECT doc_id, lang, CAST(lang_rank AS INT) AS lang_rank
FROM ranked CROSS JOIN target
WHERE lang_rank <= t
"""


def balanced_subsample(
    docs: DataFrame, stratum_col: str = "lang", seed: str = "bal-seed-1"
) -> DataFrame:
    """Exact-count balanced subsample across strata (see section
    comment). Returns (doc_id, <stratum_col>, lang_rank) for the
    selected rows."""
    h = F.substring(
        F.md5(
            F.concat(F.lit(seed + "|"), F.col("doc_id").cast("string"))
        ),
        1,
        8,
    )
    base = docs.select("doc_id", stratum_col, h.alias("__h"))
    rn = global_row_numbers(base, [stratum_col, "__h", "doc_id"], "__grn")
    offs = rn.groupBy(stratum_col).agg(F.min("__grn").alias("__off"))
    ranked = rn.join(F.broadcast(offs), stratum_col).withColumn(
        "lang_rank",
        (F.col("__grn") - F.col("__off") + 1).cast("int"),
    )
    target = (
        docs.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .agg(F.min("__cnt").alias("__t"))
    )
    return (
        ranked.crossJoin(F.broadcast(target))
        .filter(F.col("lang_rank") <= F.col("__t"))
        .select("doc_id", stratum_col, "lang_rank")
    )


@query("q149_balanced_subsample", oracle=_Q149_ORACLE)
def q149_balanced_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count language-balanced subsample (see section
    comment). Returns (doc_id, lang, lang_rank)."""
    return balanced_subsample(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q150: batch padding-efficiency audit — length bucketing vs random
# batching: training steps pad every sequence in a batch to the
# batch max, so batching by sorted length (the standard "bucketed
# batching") recovers the padding waste random batches pay. The
# audit builds BOTH schedules deterministically — batch = ⌈rank/B⌉
# with rank by (n_tok DESC, doc_id) for the bucketed scheme and by
# the salted md5 coin for the shuffled baseline — and reports per
# batch the exact padding fraction (n·max − Σtok)·10⁶ ÷ (n·max) as
# BIGINT ppm (the q146/q148 discipline: ppm integers keep any
# downstream rollup summation-order-free). Both ranks use the
# q08/q58 two-phase numbering — no data-sized window partition.
#
# Scale shape: two range repartitions + per-partition local windows
# (the numbering contract), then one batch-keyed partial-aggregated
# shuffle each (~1 row per doc); output is 2×⌈N/B⌉ rows.
_Q150_B = 32  # docs per batch


_Q150_ORACLE = f"""
WITH lens AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         substr(md5('batch-seed-1|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tok,
         ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id ASC) AS r_sorted,
         ROW_NUMBER() OVER (ORDER BY h ASC, doc_id ASC) AS r_shuffled
  FROM lens
),
batches AS (
  SELECT 'length_sorted' AS scheme,
         (r_sorted - 1) // {_Q150_B} AS batch_id, n_tok
  FROM ranked
  UNION ALL
  SELECT 'hash_shuffled' AS scheme,
         (r_shuffled - 1) // {_Q150_B} AS batch_id, n_tok
  FROM ranked
)
SELECT scheme, CAST(batch_id AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tok) AS BIGINT) AS max_tok,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST((COUNT(*) * MAX(n_tok) - SUM(n_tok)) * 1000000
            // (COUNT(*) * MAX(n_tok)) AS BIGINT) AS padding_ppm
FROM batches GROUP BY scheme, batch_id
"""


@query("q150_batch_padding", oracle=_Q150_ORACLE)
def q150_batch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency audit of length-sorted vs hash-shuffled
    batch schedules (see section comment). Returns (scheme,
    batch_id, n_docs, max_tok, sum_tok, padding_ppm)."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.substring(
            F.md5(
                F.concat(
                    F.lit("batch-seed-1|"), F.col("doc_id").cast("string")
                )
            ),
            1,
            8,
        ).alias("__h"),
    )
    neg = lens.withColumn("__neg_tok", -F.col("n_tok"))
    sorted_rn = global_row_numbers(
        neg, ["__neg_tok", "doc_id"], "__r"
    ).select(
        F.lit("length_sorted").alias("scheme"),
        F.expr(f"CAST((__r - 1) DIV {_Q150_B} AS BIGINT)").alias(
            "batch_id"
        ),
        "n_tok",
    )
    shuffled_rn = global_row_numbers(
        lens, ["__h", "doc_id"], "__r"
    ).select(
        F.lit("hash_shuffled").alias("scheme"),
        F.expr(f"CAST((__r - 1) DIV {_Q150_B} AS BIGINT)").alias(
            "batch_id"
        ),
        "n_tok",
    )
    batches = sorted_rn.unionByName(shuffled_rn)
    return (
        batches.groupBy("scheme", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").alias("sum_tok"),
        )
        .select(
            "scheme",
            "batch_id",
            "n_docs",
            "max_tok",
            "sum_tok",
            F.expr(
                "CAST((n_docs * max_tok - sum_tok) * 1000000 "
                "DIV (n_docs * max_tok) AS BIGINT)"
            ).alias("padding_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q154: corpus novelty curve — per ingestion-order decile, the
# fraction of shingles never seen in any earlier document: the
# "is more data from this stream still adding content?" curve that
# decides when to stop crawling a source (novelty decays toward the
# near-dup floor as a corpus saturates — the Heaps-law picture made
# operational). Shingles are q26's 3-token windows (distinct per
# doc); a shingle is NOVEL in the doc with the minimum doc_id that
# contains it; deciles come from the q52 two-phase NTILE (no
# single-partition window); per-decile novelty = Σ novel / Σ
# shingles is ONE IEEE quotient of exact BIGINTs.
#
# Scale shape: one (shingle → min doc) shuffle over distinct
# (doc, shingle) pairs, a shingle-keyed join back, one per-doc and
# one per-decile partial-aggregated rollup. At 100 TB the min-doc
# frame is the corpus shingle vocabulary — Zipf-bounded, and the
# natural candidate for persistence across refreshes (q128's
# settled-index pattern).
_Q154_TILES = 10


_Q154_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
first_seen AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM shingles GROUP BY shingle
),
perdoc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM shingles s JOIN first_seen f ON f.shingle = s.shingle
  GROUP BY s.doc_id
),
tiled AS (
  SELECT doc_id, n_shingles, n_novel,
         NTILE({_Q154_TILES}) OVER (ORDER BY doc_id) AS decile
  FROM perdoc
)
SELECT CAST(decile AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS n_novel,
       CAST(SUM(n_novel) AS DOUBLE) / CAST(SUM(n_shingles) AS DOUBLE)
           AS novelty_frac
FROM tiled GROUP BY decile
"""


@query("q154_novelty_curve", oracle=_Q154_ORACLE)
def q154_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile first-seen shingle fraction (see section comment).
    Returns (decile, n_docs, n_shingles, n_novel, novelty_frac)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 1)), "
                "i -> concat_ws(' ', slice(t, i, 3)))"
            )
        ).alias("shingle"),
    ).distinct()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    perdoc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    tiled = global_ntile(perdoc, ["doc_id"], _Q154_TILES, "decile")
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            F.col("decile").cast("int"),
            "n_docs",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q162: per-document cross-corpus shingle novelty — the symmetric,
# order-independent complement of q154's first-seen curve: for each
# document, how many of its 3-token shingles appear in NO other
# document (df == 1)? Low uniqueness flags boilerplate/template
# documents whose content is shared corpus-wide (a standard
# training-data curation filter, cf. the C4/RefinedWeb line-dedup
# family); q154 instead asks whether the CRAWL ORDER is still
# surfacing new content. The reference has no text tier; this
# extends SURVEY §2's quality-filter family (q55/q57) with the
# cross-document signal.
#
# Scale shape — deliberately JOIN-FREE on the shingle key: q154
# joins (doc, shingle) pairs back to the per-shingle min-doc frame,
# which under a Zipf head means the hottest shingles dominate one
# join partition. Here a df==1 shingle by definition has exactly ONE
# owning document, so per-doc uniqueness needs no join-back: one
# per-shingle aggregate (count + min owner, map-side combinable even
# under skew), filter df==1, and a doc-keyed rollup joined to the
# per-doc shingle counts on the UNSKEWED doc_id key. The quantized
# ratio uses a 2^20 scale (power-of-two floor rule,
# tests/test_plan_lint.py::test_floor_scale_sites_are_version_proof);
# all counts are exact BIGINTs, so the output is
# order/partitioning-insensitive by construction.
_Q162_SCALE = 1 << 20

_Q162_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
per_shingle AS (
  SELECT shingle,
         CAST(COUNT(*) AS BIGINT) AS df,
         MIN(doc_id) AS owner
  FROM shingles GROUP BY shingle
),
uniq AS (
  SELECT owner AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique
  FROM per_shingle WHERE df = 1 GROUP BY owner
),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM shingles GROUP BY doc_id
)
SELECT p.doc_id,
       p.n_shingles,
       CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
       CAST(COALESCE(u.n_unique, 0) * {_Q162_SCALE} // p.n_shingles
            AS BIGINT) AS novelty_q20
FROM perdoc p LEFT JOIN uniq u ON u.doc_id = p.doc_id
"""


@query("q162_doc_novelty", oracle=_Q162_ORACLE)
def q162_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unique-shingle profile (see section comment).
    Returns (doc_id, n_shingles, n_unique, novelty_q20) — one row
    per document, novelty_q20 = floor(n_unique·2^20 / n_shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 2, 1)), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    per_shingle = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner")
    )
    uniq = (
        per_shingle.filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    perdoc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return perdoc.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
        F.expr(
            f"CAST(coalesce(n_unique, 0) * {_Q162_SCALE} DIV n_shingles "
            "AS BIGINT)"
        ).alias("novelty_q20"),
    )
