"""Deduplication operator family for document corpora.

The operators a training-data pipeline runs before anything else,
each expressed as shuffled-join/aggregation DataFrame plans (no
Python in the loop) so they scale to billions of documents:

* :func:`exact_dedup` — hash-groupBy on a normalized-text
  fingerprint; one shuffle.
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — min-wise
  signatures over word shingles, banded LSH bucketing, candidate
  pairs verified by signature agreement. The min-hash uses md5
  *string* minima, which is engine-portable (no cross-engine 64-bit
  hash exists), an unusual but valid min-wise family: any fixed
  injective mapping to a totally ordered space works.
* :func:`simhash` / :func:`simhash_pairs` — 64-bit charge-vector
  sketch packed into one long; near-dups differ in few bits
  (hamming = ``bit_count(xor)``).
* :func:`ngram_jaccard_pairs` — exact Jaccard over shingle sets for
  candidate pairs inside a blocking key (the verify step after LSH,
  or standalone for small blocks).
* embedding near-dup lives in :mod:`operators.similarity`
  (cosine-threshold pairs).

Scale notes: every operator keys its shuffles on doc/shingle/bucket
ids; LSH bands bound the candidate set (vs. the O(n²) naive pair
join); skewed shingle buckets (boilerplate text) are the classic
hot-key hazard — cap band-bucket size with ``max_bucket`` to drop
degenerate buckets, as production dedup pipelines do.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shopify_db_spark.functions.text import (
    fingerprint,
    shingles_of_tokens,
    tokens,
)
from shopify_db_spark.operators.planutil import fits_broadcast

DEFAULT_SEEDS = 8
DEFAULT_BAND_SIZE = 2


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.
    Returns (fingerprint, keep_id, n_dups)."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def doc_shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) distinct pairs. The token array is projected
    before the shingle HOF (see ``shingles_of_tokens``): otherwise
    the regex tokenization re-runs once per shingle element."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("toks"),
        )
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), n)).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, n_seeds: int = DEFAULT_SEEDS
) -> DataFrame:
    """Array-typed min-wise signature per document: position ``i`` is
    ``MIN(md5(i || ':' || shingle))`` over the doc's shingles.

    The salted hashes are computed as ``n_seeds`` COLUMNS of the
    shingle row (not an exploded seed dimension), so the whole
    signature costs exactly ONE shuffle — the per-doc min-agg —
    moving ``rows`` not ``rows × seeds``. Returns
    (doc_id, minhashes array<string>)."""
    hashed = shingles.select(
        "doc_id",
        *[
            F.md5(F.concat_ws(":", F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(n_seeds)
        ],
    )
    summed = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(n_seeds)]
    )
    return summed.select(
        "doc_id",
        F.array(*[F.col(f"m{i}") for i in range(n_seeds)]).alias("minhashes"),
    )


def banded_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_seeds: int = DEFAULT_SEEDS,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """(doc_id, minhashes, band, band_key): the banded-LSH index rows
    of each document — one row per band, the signature array riding
    along so candidate scoring never joins back to a signature table.
    Shared by the batch pair generator (:func:`minhash_lsh_pairs`)
    and the incremental index (``plans.streamops`` q73)."""
    sig = minhash_signatures(doc_shingles(docs, id_col, text_col), n_seeds)
    n_bands = (n_seeds + band_size - 1) // band_size

    def band_key(b: int):
        entries = F.array(
            *[
                F.concat_ws(
                    ":", F.lit(s), F.col("minhashes")[s]
                )
                for s in range(b * band_size, min((b + 1) * band_size, n_seeds))
            ]
        )
        return F.md5(F.concat_ws("|", F.array_sort(entries)))

    return sig.select(
        "doc_id",
        "minhashes",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_key(b).alias("band_key")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "minhashes", "bk.band", "bk.band_key")


def signature_agreement(a_minhashes: Column, b_minhashes: Column, n_seeds: int) -> Column:
    """Fraction of agreeing signature positions — the inline Jaccard
    estimate used wherever two signature arrays meet."""
    agree = F.size(
        F.filter(
            F.zip_with(a_minhashes, b_minhashes, lambda x, y: (x == y).cast("int")),
            lambda e: e == 1,
        )
    )
    return agree.cast("double") / F.lit(float(n_seeds))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_seeds: int = DEFAULT_SEEDS,
    band_size: int = DEFAULT_BAND_SIZE,
    max_bucket: int = 50,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, scored by the
    fraction of agreeing signature positions (estimates Jaccard).

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b. The
    signature array rides along the band explode and the bucket
    fold, so candidates are scored inline — no join back to a cached
    signature table.

    Single-pass bucket fold: each (band, band_key) group is
    collected into ONE array and the candidate pairs are generated
    by an array comb-explode, so there is no self-join and the
    tokenize → md5 → min-agg signature pipeline executes exactly
    ONCE with no materialization barrier.

    The degenerate-bucket guard is a ``size(ds) <= max_bucket``
    filter applied AFTER ``collect_list``: an oversized bucket is
    still collected in full on one reducer before it is dropped, so
    per-task state is bounded by the largest bucket, not by
    ``max_bucket``. Only the pair generation is bounded: per-bucket
    work is ≤ C(max_bucket, 2) slim pair structs."""
    bands = banded_minhash(docs, id_col, text_col, n_seeds, band_size)
    # degenerate-bucket guard: boilerplate shingles put thousands of
    # docs in one bucket → quadratic pair blowup; cap and drop.
    # size >= 2 merely skips pair-less buckets (no output change).
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list(F.struct("doc_id", "minhashes")).alias("ds"))
        .filter((F.size("ds") <= max_bucket) & (F.size("ds") >= 2))
    )
    # all i < j array pairs; collect_list order is arbitrary, so the
    # (doc_a, doc_b) orientation is normalized by doc id below — the
    # agreement score is symmetric in the two signature arrays.
    exploded = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds) - i - 1),"
                " y -> struct(x.doc_id AS da, y.doc_id AS db,"
                " x.minhashes AS ma, y.minhashes AS mb))))"
            )
        ).alias("e")
    ).select("e.da", "e.db", "e.ma", "e.mb")
    return (
        exploded.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            signature_agreement(
                F.col("ma"), F.col("mb"), n_seeds
            ).alias("est_jaccard"),
        )
        .distinct()
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64, hash_family: str = "xxhash64") -> DataFrame:
    """SimHash packed into ONE 64-bit long: per-token bit charges
    (±1) summed per document, sign bits reassembled with shift-left
    + bitwise OR. Returns (doc_id, simhash long).

    The packed representation is the scale choice: candidate rows
    downstream carry 8 bytes instead of a 32-element array, and
    hamming distance is one ``bit_count(a XOR b)`` instruction
    instead of a zip_with/filter over arrays.

    ``hash_family``: ``xxhash64`` (default — one JVM hash call per
    token, the fast path) or ``md5`` (engine-portable: bit ``i``
    comes from the first 16 hex chars of ``md5(token)`` split into
    two 32-bit halves, so a DuckDB/ANSI oracle reproduces the
    signature bit-for-bit — md5 is the only cross-engine hash).

    The hash value is materialized as its own projection BEFORE the
    per-bit charge expressions: inlined, each of the 64 charges
    carries its own ``conv(substr(md5(...)))`` chain and codegen CSE
    does not reliably collapse them (measured 2.4× slower at sf0.1);
    split in two, CollapseProject keeps the hash columns because
    re-inlining would duplicate a non-cheap expression 32×.

    The per-bit expressions are built as SQL *strings* through
    ``selectExpr``/``F.expr`` rather than stacked Column operations:
    with 64 charge + 64 sum + 64 pack expressions, every Column
    method is a py4j round trip and the Column-built plan costs
    ~2 s of driver time per construction; the string form is one
    JVM parse per select (measured 4.6× faster to build, byte-
    identical signatures — the two forms parse to the same
    expression tree)."""
    toks = doc_shingles(docs, id_col, text_col, n=1)
    if hash_family == "xxhash64":
        hashed = toks.selectExpr("doc_id", "xxhash64(shingle) AS h0")
        bit = [f"(shiftright(h0, {i}) & 1)" for i in range(bits)]
    elif hash_family == "md5":
        if bits > 64:
            raise ValueError("md5 family packs at most 64 bits (two hex halves)")
        hashed = toks.selectExpr(
            "doc_id",
            *[
                f"cast(conv(substring(md5(shingle), {1 + 8 * j}, 8), 16, 10)"
                f" as long) AS h{j}"
                for j in range(2)
            ],
        )
        bit = [f"(shiftright(h{i // 32}, {i % 32}) & 1)" for i in range(bits)]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    charges = hashed.selectExpr(
        "doc_id", *[f"{bit[i]} * 2 - 1 AS b{i}" for i in range(bits)]
    )
    summed = charges.groupBy("doc_id").agg(
        *[F.expr(f"sum(b{i}) AS b{i}") for i in range(bits)]
    )
    packed = " | ".join(
        f"shiftleft(cast(b{i} > 0 as long), {i})" for i in range(bits)
    )
    return summed.selectExpr("doc_id", f"({packed}) AS simhash")


def _simhash_blocks(max_hamming: int, bits: int) -> list[tuple[int, int]]:
    """(start_bit, width) per block: ``max_hamming + 1`` near-equal
    disjoint blocks covering all bits — by pigeonhole, two
    signatures within ``max_hamming`` agree exactly on ≥1 block."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    out, start = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        out.append((start, width))
        start += width
    return out


def hash64_pairs(
    signatures: DataFrame,
    max_hamming: int = 4,
    bits: int = 64,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_bucket: int | None = None,
) -> DataFrame:
    """Pigeonhole-blocked near-dup pair join over a PRECOMPUTED
    packed 64-bit fingerprint column — the generic geometry behind
    :func:`simhash_pairs` (q27) and the media perceptual-hash dedup
    (q118, where the fingerprint comes out of the injectable codec
    boundary, not a Catalyst expression). Returns
    (id_a, id_b, hamming), id_a < id_b, hamming ≤ ``max_hamming``.

    Blocked self-join instead of O(n²): the signature splits into
    ``max_hamming + 1`` disjoint blocks (the minimum block count
    that still guarantees full recall — fewer blocks means WIDER
    blocks, so each bucket key has ``2^width`` possible values and
    buckets stay small); candidates must agree on at least one
    (block_idx, block_value) key. Dedup of multi-block collisions
    happens on (id_a, id_b) AFTER the cheap bit_count hamming
    filter, so the shuffle dedups survivor pairs only.

    ``max_bucket`` (the q26 LSH dial, mirrored declaratively by the
    q118 oracle): at high ``max_hamming`` the blocks get NARROW
    (e.g. 11 blocks of ~6 bits → ≤64 bucket values per block), so
    at corpus scale every bucket goes hot and the candidate join
    degrades toward N²/2^width. Capping bucket size keeps candidate
    volume ≤ blocks × Σ cap² at a documented recall cost (pairs
    whose every agreeing block is oversubscribed are missed) —
    exactly the boilerplate-hot-key trade ``minhash_lsh_pairs``
    makes. ``None`` (the q27 default, wide 13-bit blocks) keeps the
    full-recall guarantee.

    When the cap is on, IDENTICAL fingerprints short-circuit through
    a direct equality self-join (one hash shuffle on the 64-bit
    value): an exact duplicate's every block bucket is hot by
    definition — precisely the rows the cap drops — yet hamming-0
    pairs are the one class a dedup operator must never miss. With
    the short-circuit the cap's recall trade applies ONLY to
    near-dup candidates. Fan-out is Σ group² over identical
    fingerprints — inherent to the pair contract itself (a
    keeper-style output like ``exact_dedup`` is the escape when
    groups are pathological).

    The signature table is localCheckpointed before the self-join:
    AQE plans the pair join as broadcast (the signature side is tiny
    — 8 bytes/doc), and a BroadcastExchange build side cannot reuse
    the probe side's exchange, so without materialization the whole
    signature lineage (tokenize→md5→64-sum, or the Arrow codec pass)
    executes twice (measured ~40% of query time at sf0.1). The
    checkpointed frame is #docs×16-byte rows — negligible at any
    scale where the pair join itself is feasible — and its blocks
    are reclaimed by ContextCleaner when the result is dropped (a
    bare .persist() would accumulate across a long-lived session)."""
    sh = signatures.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__sig")
    ).localCheckpoint()
    blocks = sh.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftright(F.col("__sig"), start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_value"),
                    )
                    for i, (start, width) in enumerate(
                        _simhash_blocks(max_hamming, bits)
                    )
                ]
            )
        ).alias("blk"),
    ).select("__id", "__sig", "blk.block_idx", "blk.block_value")
    if max_bucket is not None:
        sized = (
            blocks.groupBy("block_idx", "block_value")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("block_idx", "block_value")
        )
        blocks = blocks.join(sized, ["block_idx", "block_value"])
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(
        F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))
    ).alias("hamming")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_value") == F.col("b.block_value"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming,
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if max_bucket is not None:
        x, y = sh.alias("x"), sh.alias("y")
        exact = x.join(
            y,
            (F.col("x.__sig") == F.col("y.__sig"))
            & (F.col("x.__id") < F.col("y.__id")),
        ).select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.lit(0).cast("integer").alias("hamming"),
        )
        pairs = pairs.unionByName(exact)
    return pairs.distinct()


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 4,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs whose SimHash differs in ≤ ``max_hamming`` of
    ``bits`` bits. Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    Signature from :func:`simhash`; pair geometry (pigeonhole blocks,
    post-filter dedup, checkpointed signature) in
    :func:`hash64_pairs`."""
    sh = simhash(docs, id_col, text_col, bits, hash_family)
    return hash64_pairs(
        sh, max_hamming=max_hamming, bits=bits, hash_col="simhash"
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing a blocking key.
    Returns (doc_a, doc_b, jaccard ≥ threshold). The shingle join is
    keyed on (block, shingle) so only same-block docs ever meet."""
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(c) for c in block_cols],
            tokens(F.col(text_col)).alias("toks"),
        )
        .select(
            "doc_id",
            *block_cols,
            F.explode(shingles_of_tokens(F.col("toks"), n)).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    block_eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    inter = (
        a.join(b, functools.reduce(lambda x, y: x & y, block_eq))
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle"))
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact duplicated-substring detection: per document, the
    maximal token spans whose every ``k``-token window also occurs
    in at least one OTHER document (the distributed analogue of
    suffix-array exact-substring dedup from "Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022 — the
    operator that catches licence blocks / boilerplate MinHash's
    whole-document granularity misses).

    Shape (all shuffles keyed, nothing quadratic):

    1. tokenize once (materialized column — HOF caveat in
       ``functions.text``), keep docs with ≥ k tokens;
    2. explode each doc into positioned ``k``-token windows hashed
       to ``md5`` (engine-portable); the corpus-wide inverted index
       is ONE shuffle keyed on the window hash;
    3. a window hash is *duplicated* when ≥ 2 distinct docs contain
       it — re-attach via semi-join (same key, same shuffle
       partitioning);
    4. per doc, merge overlapping/adjacent duplicated windows into
       maximal spans with the gaps-and-islands trick (position −
       row_number is constant within a consecutive run), windowed
       per doc — no global window anywhere.

    Returns one row per document containing at least one duplicated
    window: ``(doc_id, n_dup_windows, n_spans, max_span_tokens)``
    where ``max_span_tokens`` counts tokens of the longest maximal
    span (run length + k − 1).

    At 100 TB the only hot spot is a degenerate window shared by a
    large doc fraction (empty-ish text); the distinct-doc count per
    hash is a partial-aggregated groupBy, so even a billion-row
    bucket reduces map-side before the shuffle.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= k)
    wins = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, k))),
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    dup_h = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_pos = wins.join(dup_h, "h", "semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_pos.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return spans.groupBy("doc_id").agg(
        F.sum("run_len").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        (F.max("run_len") + (k - 1)).cast("long").alias("max_span_tokens"),
    )


#: broadcast the global shingle document-frequency table only when
#: the SOURCE corpus plan-time estimate is under this bound — the df
#: table has one row per distinct corpus shingle (data-sized for
#: natural text), so at real corpus scale it must shuffle-join on
#: the shingle key (a broadcast would exceed executor memory); under
#: the bound the broadcast skips the two key sorts (measured at
#: sf0.1: 3.2 s vs 3.6 s — modest locally, decisive at cluster
#: scale where the broadcast side is shipped to every executor).
PREFIX_DF_BROADCAST_SOURCE_BYTES = 8 << 20

#: frames persisted by :func:`prefix_filter_jaccard_pairs` in this
#: process. The persist (vs localCheckpoint) is a measured decision
#: — see the call site — but its blocks outlive the query: a
#: job-scoped run relies on LRU eviction, while a long-lived service
#: calls :func:`release_persisted_frames` once results are
#: materialized to reclaim executor block memory deterministically.
#: The registry is SELF-BOUNDING: each new registration
#: first unpersists every prior frame, so a long-lived caller that
#: never calls the release hook pins at most ONE frame — no worse
#: than the pre-hook behavior, where an out-of-scope frame's blocks
#: were eventually reclaimable. Unpersisting an earlier frame is
#: always safe: persist is an execution hint, so an unmaterialized
#: result from a prior call merely recomputes.
_PERSISTED_FRAMES: list[DataFrame] = []


def _register_persisted(df: DataFrame) -> None:
    """Persist and register ``df`` as this module's single pinned
    frame, releasing any prior registrations (bounded-by-one
    contract).

    ORDER MATTERS (the wrong order slowed q84 from 2.35 s to
    3.93 s): Spark's CacheManager keys cache entries by
    LOGICAL PLAN, and consecutive calls over the same input build
    the same plan — so the prior frame and the new frame share ONE
    cache entry. Releasing the prior frame AFTER persisting the new
    one therefore uncached the new frame too, and every run after
    the first executed the shared sort-aggregate once per consumer
    (the exact recompute the persist exists to avoid; measured
    median 5.2 s vs 3.3 s at sf0.1). Release first, persist after."""
    release_persisted_frames()
    df.persist()
    _PERSISTED_FRAMES.append(df)


def release_persisted_frames() -> int:
    """Unpersist every frame this module persisted; returns the
    number of frames released. Safe to call at any time — frames
    already evicted or belonging to a stopped session are skipped;
    results computed BEFORE the release are unaffected (persist is
    an execution hint, not a correctness dependency)."""
    n = 0
    while _PERSISTED_FRAMES:
        df = _PERSISTED_FRAMES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # pragma: no cover - stopped session
            pass
    return n


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Global set-similarity self-join via PREFIX FILTERING (the
    AllPairs/PPJoin scheme — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): exact n-gram-shingle Jaccard ≥ ``threshold`` over the
    WHOLE corpus, no blocking column required.

    Why this exists next to :func:`ngram_jaccard_pairs`: the blocked
    variant only compares documents sharing a block key, so its
    completeness depends on the blocking being semantically safe;
    the un-blocked exact join is Σ_shingle df² — quadratic on hot
    shingles. Prefix filtering is the published exact-and-bounded
    answer: order each document's shingle set by ascending global
    frequency (rarest first, ties by shingle), take only the first
    ``|S| - ceil(t·|S|) + 1`` elements as the candidate-generating
    prefix — any pair with Jaccard ≥ t MUST share a prefix element
    under a common total order — then verify candidates exactly.
    Candidate volume is driven by RARE-shingle postings (the prefix
    excludes exactly the hot tail), which is what keeps the join
    from going quadratic at corpus scale.

    Plan: shingles → global df → per-doc frequency-sorted array
    (one hash aggregate) → prefix explode → equi-join on prefix
    shingle + Jaccard length filter (t·max ≤ min) → distinct
    candidate pairs → exact verify via ``array_intersect`` on the
    two materialized shingle arrays. Returns
    (doc_a, doc_b, n_a, n_b, n_inter, jaccard).

    The df table has one row per DISTINCT corpus shingle — data-
    sized, so it broadcasts only under a plan-time source-size bound
    (``PREFIX_DF_BROADCAST_SOURCE_BYTES``; at corpus scale a
    broadcast of df would exceed executor memory, and shingle is
    already the join key so the big path is a plain shuffle join).
    Lineages Catalyst cannot size take the safe shuffle path. Both
    paths are oracle-identical (tests/test_dedup_similarity.py),
    within noise of each other at sf0.1 (3.2 vs 3.6 s), and the
    shuffle path is scale-measured (SCALE.md)."""
    sh = doc_shingles(docs, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if fits_broadcast(docs, PREFIX_DF_BROADCAST_SOURCE_BYTES):
        dfreq = F.broadcast(dfreq)
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ord_structs")
        )
        .select(
            "doc_id",
            F.transform(F.col("ord_structs"), lambda s: s["shingle"]).alias(
                "shingle_arr"
            ),
            F.size("ord_structs").alias("n_sh"),
        )
        # Three consumers (prefix explode + both verify sides):
        # persist so the shingle/df/sort aggregation pipeline runs
        # once. Deliberately persist and NOT localCheckpoint: an
        # eager checkpoint materializes this aggregate at its
        # AQE-coalesced partitioning (2 partitions at sf0.1 — tiny
        # BYTES, but the downstream candidate join + array_intersect
        # verify are compute-heavy per byte) and every later stage
        # inherits that 2-way parallelism: measured 8.2 s vs 3.2 s
        # for the whole query. persist keeps the logical plan, so
        # downstream shuffles re-partition to the session default.
        # Cost of persist: blocks live until unpersist/clearCache
        # (MEMORY_AND_DISK, LRU-evicted) — accepted and documented,
        # since the frame is #docs rows of shingle arrays, far
        # smaller than any corpus where this query is feasible.
        # Long-lived sessions reclaim deterministically via
        # release_persisted_frames(); the persist itself happens
        # inside _register_persisted — release-then-persist order is
        # load-bearing (see its docstring).
    )
    _register_persisted(ordered)
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    prefixes = ordered.select(
        "doc_id",
        "n_sh",
        F.explode(F.slice(F.col("shingle_arr"), 1, prefix_len)).alias(
            "shingle"
        ),
    )
    pa = prefixes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    pb = prefixes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    va = ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle_arr").alias("arr_a"),
        F.col("n_sh").alias("n_a"),
    )
    vb = ordered.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle_arr").alias("arr_b"),
        F.col("n_sh").alias("n_b"),
    )
    verified = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("n_inter"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "doc_a", "doc_b", "n_a", "n_b", "n_inter", "jaccard"
    )
