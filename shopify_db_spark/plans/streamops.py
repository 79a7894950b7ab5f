"""Bounded-stream gate queries: Structured Streaming replays of the
catalog tables, one deterministic micro-batch per trigger.

The reference's incremental story is the ``created_at_min`` request
window re-fed through the same per-page upsert loop
(``shopifydb.py:233-244``, ``db.py:115-407``). The Spark-native
analogue is Structured Streaming: a file/kafka source,
``foreachBatch``, and the key-merge operator (``operators.upsert``)
applied per micro-batch. This module gates that surface — the
other streaming shapes (watermark windows, ``session_window``,
``applyInPandasWithState``) are unit-tested in
``tests/test_multimodal_streaming.py``.

One replay driver serves every query: ``_write_batch_files`` writes
one parquet file per ``batch_no`` value, ``_batch_stream`` reads them
back one file per trigger, and ``_replay`` drains that stream through
``foreachBatch`` with ``availableNow``. Each stateful query is a
``SinkFamily`` in ``STATEFUL_SINK_FAMILIES`` (source, initial state,
merge, result) run by ``run_sink_family``; ``_redelivery_guard``
wraps every merge so a redelivered or empty batch is skipped. The
restart-recovery sweep in ``tests/test_streaming_realism.py`` runs
the same registry entries.

Oracle-ability: micro-batch boundaries are made DETERMINISTIC
(one source file per batch via ``maxFilesPerTrigger=1``, file
mtimes strictly increasing in batch order), so the post-stream
state is a pure function of the raw table and ANSI-SQL can express
it. For q49: per key, non-frozen columns come from the winning row
of the LAST batch containing the key, frozen columns from the
winning row of the FIRST batch (insert-time value — the reference's
partial SET-list quirk); the within-batch winner is
``dedup_updates``'s deterministic highest-sort-order pick.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shopify_db_spark.operators.dedup import banded_minhash, signature_agreement
from shopify_db_spark.operators.upsert import upsert
from shopify_db_spark.plans.catalog import query
from shopify_db_spark.sources.tables import load_table

N_BATCHES = 4
ENTITY_MOD = 997


def _order_updates(orders: DataFrame) -> DataFrame:
    """Synthetic keyed update stream from the orders table: many
    orders map onto one entity (``% 997``) so cross-batch conflicts
    exercise the merge; ``src_key`` is unique so the within-batch
    winner is fully determined by the first sort column."""
    return orders.select(
        (F.col("o_orderkey") % ENTITY_MOD).alias("entity_id"),
        F.col("o_orderkey").alias("src_key"),
        (F.col("o_orderkey") % N_BATCHES).alias("batch_no"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("first_status"),
    )


@query(
    "q49_streaming_merge",
    oracle=f"""
WITH upd AS (
  SELECT o_orderkey % {ENTITY_MOD} AS entity_id,
         o_orderkey AS src_key,
         o_orderkey % {N_BATCHES} AS batch_no,
         o_orderstatus AS status,
         o_totalprice AS total,
         o_orderstatus AS first_status
  FROM orders
),
bw AS (
  SELECT * FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY entity_id, batch_no
                              ORDER BY src_key DESC) AS rn
    FROM upd
  ) WHERE rn = 1
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY entity_id ORDER BY batch_no DESC)
             AS r_last,
         ROW_NUMBER() OVER (PARTITION BY entity_id ORDER BY batch_no ASC)
             AS r_first
  FROM bw
)
SELECT l.entity_id, l.src_key, l.batch_no, l.status, l.total,
       f.first_status
FROM (SELECT * FROM r WHERE r_last = 1) l
JOIN (SELECT * FROM r WHERE r_first = 1) f USING (entity_id)
""",
)
def q49_streaming_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest via Structured Streaming: orders-derived
    updates split into four micro-batches (one file per trigger),
    each merged into the accumulating state with
    ``operators.upsert`` inside ``foreachBatch`` — ``first_status``
    is a frozen column (kept from insert time, the reference's
    partial SET-list semantics, db.py:129-140). The returned state
    must equal the batch-SQL fixpoint the oracle computes."""
    updates = _order_updates(load_table(spark, sf_dir, "orders"))
    state = {"df": spark.createDataFrame([], updates.schema)}

    # No redelivery guard here: foreachBatch redelivers only the batch
    # it last ran (same batch_id, after a failure), and upserting the
    # same rows again leaves the state unchanged. The guard's isEmpty()
    # would add one job to every trigger of this query.
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # localCheckpoint: materialize per batch so state lineage
        # stays flat (the parquet-write analogue of a real sink)
        state["df"] = upsert(
            state["df"],
            batch_df,
            keys=["entity_id"],
            frozen_cols=["first_status"],
        ).localCheckpoint()

    _replay(updates, N_BATCHES, sink)
    return state["df"]


def _write_batch_files(df: DataFrame, n_batches: int) -> str:
    """Materialize ``df`` as one parquet file per ``batch_no`` value
    with strictly increasing mtimes, so the file stream source
    (``maxFilesPerTrigger=1``, oldest first) replays exactly one
    batch per trigger in batch order — the determinism every
    bounded-stream gate query relies on. Returns the stream input
    directory; ``_batch_stream`` removes its parent workdir when the
    replay ends.

    ONE write job for all batches: a duplicate of the batch column
    becomes the ``partitionBy`` key (so ``batch_no`` itself stays in
    the files) and the pre-write hash repartition on it puts each
    value in exactly one task → exactly one file per directory. The
    per-batch filter+coalesce(1) loop this replaces ran ``n_batches``
    full scans of the upstream plan."""
    workdir = tempfile.mkdtemp(prefix="stream_gate_")
    stream_dir = os.path.join(workdir, "in")
    os.makedirs(stream_dir)
    split_dir = os.path.join(workdir, "split")
    (
        df.withColumn("__split", F.col("batch_no"))
        .repartition(n_batches, F.col("__split"))
        .write.partitionBy("__split")
        .parquet(split_dir)
    )
    base = 1_600_000_000
    empty_src = None
    for b in range(n_batches):
        part_dir = os.path.join(split_dir, f"__split={b}")
        dst = os.path.join(stream_dir, f"batch-{b}.parquet")
        if os.path.isdir(part_dir):
            src = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
            shutil.move(os.path.join(part_dir, src), dst)
        else:
            # a batch value with zero rows produces no partition dir;
            # replay an empty file with the full schema so the trigger
            # sequence (and batch numbering) is unchanged
            if empty_src is None:
                empty_dir = os.path.join(workdir, "empty")
                df.limit(0).coalesce(1).write.parquet(empty_dir)
                empty_src = os.path.join(
                    empty_dir,
                    next(
                        f for f in os.listdir(empty_dir) if f.endswith(".parquet")
                    ),
                )
            shutil.copy(empty_src, dst)
        os.utime(dst, (base + 100 * b, base + 100 * b))
    return stream_dir


@contextmanager
def _batch_stream(df: DataFrame, n_batches: int) -> Iterator[DataFrame]:
    """``df`` (with a ``batch_no`` column in 0..n_batches-1) as a
    bounded stream that delivers one batch per trigger, in batch
    order. The batch files are removed when the block exits."""
    stream_dir = _write_batch_files(df, n_batches)
    try:
        yield (
            df.sparkSession.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(stream_dir)
        )
    finally:
        shutil.rmtree(os.path.dirname(stream_dir), ignore_errors=True)


def _replay(df: DataFrame, n_batches: int, sink) -> None:
    """Replay ``df`` as ``n_batches`` micro-batches and drain them,
    in batch order, through ``foreachBatch(sink)``."""
    with _batch_stream(df, n_batches) as stream:
        (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


@dataclass(frozen=True)
class SinkFamily:
    """One stateful streaming query: its batched source (a
    ``batch_no`` column in 0..2), its initial state, the merge that
    folds one micro-batch into the state, and the result read from
    the final state."""

    source: Callable[[SparkSession, str], DataFrame]
    init: Callable[[SparkSession, str], dict]
    merge: Callable[[SparkSession, dict, DataFrame, int], None]
    result: Callable[[SparkSession, dict], DataFrame]


#: every stateful family replays its source as three micro-batches
_FAMILY_BATCHES = 3


def _redelivery_guard(spark: SparkSession, state: dict, merge):
    """``merge`` as a ``foreachBatch`` sink that runs at most once per
    batch id and never on an empty batch. ``foreachBatch`` is
    at-least-once: after a failure, or a restart from a checkpoint,
    a batch id can arrive again, and ADD-merged state (counts, sketch
    cells, an index) would count that batch twice. Batch ids continue
    across restarts, so the ``seen`` set in ``state`` is enough."""
    state.setdefault("seen", set())

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in state["seen"]:
            return
        state["seen"].add(batch_id)
        if batch_df.isEmpty():
            return
        merge(spark, state, batch_df, batch_id)

    return sink


def run_sink_family(
    spark: SparkSession, sf_dir: str, family: SinkFamily
) -> DataFrame:
    """Run one stateful query: replay its source through the guarded
    merge and return its result."""
    state = family.init(spark, sf_dir)
    _replay(
        family.source(spark, sf_dir),
        _FAMILY_BATCHES,
        _redelivery_guard(spark, state, family.merge),
    )
    return family.result(spark, state)


@query(
    "q59_streaming_windows",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
""",
)
def q59_streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation as a STREAM: the
    events table replayed as four micro-batches through
    ``streaming.jobs.windowed_event_counts`` (event-time windows +
    late-data watermark), state accumulating across batches, final
    state emitted through a memory sink. Window counts/sums are
    associative, so the converged streaming state must equal the
    batch aggregate the oracle computes — regardless of how rows
    fall into micro-batches. The decimal-sum/round-2 money parity is
    q15's, making this literally the streaming twin of the batch
    window query."""
    from shopify_db_spark.streaming.jobs import (
        run_bounded,
        windowed_event_counts,
    )

    # project to what the windowed aggregate reads (ts, event_type,
    # value) + the batch key before the batch-file write — event_id
    # and user_id only rode along into the stream files (guide §2.3:
    # project before the exchange/write)
    batched = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_type",
        "value",
        (F.col("event_id") % 4).alias("batch_no"),
    )
    with _batch_stream(batched, 4) as stream:
        return run_bounded(windowed_event_counts(stream), mode="complete")


@query(
    "q60_stateful_activity",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id % 2 AS batch_no, epoch_us(ts) AS ts_us FROM events
),
appears AS (SELECT DISTINCT user_id, batch_no FROM ev)
SELECT a.user_id, a.batch_no,
       COUNT(*) AS n_events,
       MIN(e.ts_us) AS first_us,
       MAX(e.ts_us) AS last_us
FROM appears a JOIN ev e
  ON e.user_id = a.user_id AND e.batch_no <= a.batch_no
GROUP BY a.user_id, a.batch_no
""",
)
def q60_stateful_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under gate evidence:
    ``applyInPandasWithState`` tracks per-user cumulative activity
    (event count, first/last event micros) across two deterministic
    micro-batches, emitting the running state for every user present
    in each batch. Emission is driven by data (one row per
    user×batch appearance), not by wall-clock timeouts, so the
    output is a pure function of the table and the oracle expresses
    it as a prefix aggregation over batch numbers. Counters are
    integers end-to-end — no float accumulation across batches to
    drift between engines. The state store partitions by user_id;
    Python sees Arrow-batched pandas chunks per key, the same shape
    ``streaming.jobs.stateful_user_activity`` uses for its
    idle-timeout variant (unit-tested; timeouts are wall-clock and
    stay out of the deterministic gate)."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from shopify_db_spark.streaming.jobs import run_bounded

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("event_id") % 2).alias("batch_no"),
        # ts is TIMESTAMP_NTZ; unix_micros needs an instant — the
        # cast is instant-preserving under the pinned UTC session.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("batch_no", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ])

    def track(key, pdfs, state: GroupState):
        (user_id,) = key
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        batch_no = 0
        for pdf in pdfs:
            batch_no = max(batch_no, int(pdf["batch_no"].max()))
            ts_us = pdf["ts_us"].astype("int64")
            n += len(pdf)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "batch_no": [batch_no],
                "n_events": [n],
                "first_us": [first_us],
                "last_us": [last_us],
            }
        )

    with _batch_stream(events, 2) as stream:
        tracked = stream.groupBy("user_id").applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return run_bounded(tracked, mode="append")


_Q73_ORACLE = """
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
cand AS (
  SELECT DISTINCT a.doc_id AS late_id, b.doc_id AS early_id
  FROM bands a
  JOIN bands b ON b.band = a.band AND b.band_key = a.band_key
   AND (b.doc_id % 3 < a.doc_id % 3
        OR (b.doc_id % 3 = a.doc_id % 3 AND b.doc_id < a.doc_id))
),
scored AS (
  SELECT late_id, early_id,
         CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE)
             / 8 AS est_j
  FROM cand
  JOIN sig sa ON sa.doc_id = late_id
  JOIN sig sb ON sb.doc_id = early_id AND sb.seed = sa.seed
  GROUP BY late_id, early_id
),
dups AS (
  SELECT late_id, MIN(early_id) AS dup_of
  FROM scored WHERE est_j >= 0.5 GROUP BY late_id
)
SELECT d.doc_id,
       CAST(d.doc_id % 3 AS BIGINT) AS batch_no,
       (dup.late_id IS NOT NULL) AS is_dup,
       dup.dup_of
FROM documents d LEFT JOIN dups dup ON dup.late_id = d.doc_id
"""


@query("q73_incremental_dedup", oracle=_Q73_ORACLE)
def q73_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection over a GROWING corpus — the
    100 TB ingestion shape: new documents are deduplicated against
    everything already ingested without ever re-scanning the
    existing corpus. Documents arrive as three deterministic
    micro-batches (``batch_no = doc_id % 3``); each ``foreachBatch``
    computes the batch's banded MinHash rows (``operators.dedup.
    banded_minhash`` — the SAME signature family as batch q26),
    probes the accumulated signature INDEX on (band, band_key) plus
    the batch's own earlier rows, marks a document duplicate when
    any earlier-arrived document agrees on ≥ 4/8 signature positions
    (est-Jaccard ≥ 0.5), then appends the batch to the index. Only
    signatures accumulate — documents are seen once, and the index
    is O(corpus × bands) signature rows, equi-joined per batch.

    Arrival order is (batch_no, doc_id), which is NOT doc_id order
    (doc 5 arrives in batch 2, doc 6 in batch 0), so the result is a
    genuine function of ingestion history — the oracle replays the
    same order-dependent contract as one SQL query: duplicate iff an
    LSH bucket is shared with any earlier-arrived doc at est ≥ 0.5,
    ``dup_of`` the minimum such doc id. ``incremental_minhash_dedup``
    defaults to the production append-side per-bucket cap
    (``max_bucket=50`` — settled buckets are never re-windowed); this
    catalog query alone passes ``max_bucket=None`` so the oracle is
    the exact full-recall spec.

    Returns (doc_id, batch_no, is_dup, dup_of)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 3).alias("batch_no")
    )
    return incremental_minhash_dedup(spark, docs, n_batches=3, max_bucket=None)


_Q102_CAP = 2

# The capped oracle is q73's spec with ONE extra constraint: the
# probed (early) side is restricted to each bucket's first
# ``_Q102_CAP`` arrivals. That is exactly what the engine's
# append-side cap admits: batches arrive in (batch_no) order and the
# within-batch admission ranks by (batch_no, doc_id), so the admitted
# set equals "global arrival-rank <= cap per (band, band_key)"
# independent of batching. The probing (late) side is NOT filtered —
# every document probes, admitted or not.
_Q102_ORACLE = _Q73_ORACLE.replace(
    """cand AS (
  SELECT DISTINCT a.doc_id AS late_id, b.doc_id AS early_id
  FROM bands a
  JOIN bands b ON b.band = a.band AND b.band_key = a.band_key""",
    f"""ranked AS (
  SELECT doc_id, band, band_key,
         ROW_NUMBER() OVER (PARTITION BY band, band_key
                            ORDER BY doc_id % 3, doc_id) AS rk
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS late_id, b.doc_id AS early_id
  FROM bands a
  JOIN ranked b ON b.band = a.band AND b.band_key = a.band_key
   AND b.rk <= {_Q102_CAP}""",
)
# The .replace above must have matched — otherwise q102 would gate
# the capped engine against the UNCAPPED oracle and silently pass on
# corpora where the cap never bites. Unconditional raise (not
# assert: ``python -O`` strips asserts) so a reworded _Q73_ORACLE
# fails at import time, not at gate time.
if _Q102_ORACLE == _Q73_ORACLE:  # pragma: no cover - import-time guard
    raise RuntimeError(
        "q102 oracle rewrite did not match _Q73_ORACLE; the capped "
        "contract would silently gate against the uncapped spec"
    )


@query("q102_incremental_dedup_capped", oracle=_Q102_ORACLE)
def q102_incremental_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q73's growing-corpus dedup through the PRODUCTION path: the
    append-side per-bucket index cap (``max_bucket=2`` here; the
    engine default is 50 — 2 exercises the admission filter on the
    sf0.01 corpus, whose largest bucket holds 3 docs). Each batch's
    new rows are admitted while the bucket's stored count +
    within-batch rank stays under the cap, via a carried per-bucket
    counts table; settled index rows are never re-windowed or
    re-shuffled, and the per-batch probe join is bounded at
    cap × batch-bucket rows per bucket. The oracle restates the
    capped contract declaratively (bucket arrival-rank ≤ cap on the
    probed side), so the driver checks the bounded index's exact
    dup/keeper decisions — not just row counts. On this corpus the
    capped DECISIONS coincide with q73's full-recall spec (the
    keeper is each bucket's earliest arrival, which is always
    admitted — verified in-round); the divergent case (a doc whose
    only ≥-threshold match is an evicted bucket member) is pinned by
    the degenerate-bucket pytest in tests/test_dedup_similarity.py.

    Returns (doc_id, batch_no, is_dup, dup_of)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 3).alias("batch_no")
    )
    return incremental_minhash_dedup(
        spark, docs, n_batches=3, max_bucket=_Q102_CAP
    )


def incremental_minhash_dedup(
    spark: SparkSession,
    docs: DataFrame,
    n_batches: int,
    threshold: float = 0.5,
    n_seeds: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 50,
    _state_out: dict | None = None,
) -> DataFrame:
    """The q73 engine as a reusable operator: stream ``docs``
    (``doc_id, text, batch_no``) as micro-batches in ``batch_no``
    order, dedupe each batch against the accumulated banded-MinHash
    index, return (doc_id, batch_no, is_dup, dup_of).

    ``max_bucket`` (default 50, the production guard) bounds
    degenerate buckets (boilerplate text putting an unbounded
    fraction of the corpus behind one (band, band_key)): the index
    keeps only the ``max_bucket`` EARLIEST-arrived rows per bucket —
    arrival order (batch_no, doc_id), the same order ``dup_of``
    resolves to, so for buckets under the cap the result is
    identical to the uncapped spec, and over the cap later arrivals
    in a degenerate bucket match its earliest members (still
    flagged dups) while the per-batch probe join stays bounded at
    ≤ max_bucket × batch-bucket rows per bucket.

    The cap is APPEND-SIDE ONLY: a small per-bucket stored-count
    table is carried across batches, each batch's new rows are
    ranked within the batch and admitted while
    ``stored + rank ≤ max_bucket``, and only the admitted rows are
    appended. Settled index rows are never re-windowed or
    re-shuffled — per batch the cap touches batch-sized data plus a
    counts table with one row per distinct live bucket (itself far
    smaller than the index). ``max_bucket=None`` disables the cap
    and yields the exact full-recall spec (the q73 oracle
    contract)."""
    empty_index = spark.createDataFrame(
        [],
        "doc_id long, minhashes array<string>, band int, band_key string,"
        " batch_no long",
    )
    empty_counts = spark.createDataFrame(
        [], "band int, band_key string, __n long"
    )
    # The index and the output accumulate as LISTS of per-batch
    # localCheckpoint-pinned parts, unioned lazily at probe/return
    # time. The previous cumulative form re-unioned and re-CHECKPOINTED
    # the whole accumulated index and output every batch — O(B·N) rows
    # rematerialized over B batches for an index that only ever
    # APPENDS settled rows (the batch twin
    # ``similarity.incremental_ivf_topk`` already accumulated its
    # probe outputs this way). Per batch, only batch-sized frames are
    # now materialized; a union of checkpointed parts is a
    # metadata-only plan node.
    state = {
        "index_parts": [],
        "out_parts": [],
        "index": empty_index,  # kept for _state_out inspection
        "out": None,
        "counts": empty_counts,
    }

    def _index_df() -> DataFrame:
        out = empty_index
        for p in state["index_parts"]:
            out = out.unionByName(p)
        return out

    # run under _redelivery_guard: a redelivered batch would re-union
    # its signatures into the index and re-add its bucket counts —
    # ADD-merge state is not idempotent
    def merge(
        spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
    ) -> None:
        # Single-partition micro-batch → spread before the per-doc
        # signature pass runs pre-shuffle (same root cause and fix
        # as the q114 sink — SCALE.md).
        spread = batch_df.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        bands = (
            banded_minhash(
                spread, "doc_id", "text", n_seeds=n_seeds, band_size=band_size
            )
            .join(spread.select("doc_id", "batch_no"), "doc_id")
            .localCheckpoint()
        )
        # Append-side cap: rank the batch's new rows within each
        # bucket and admit while stored + rank <= max_bucket. Only
        # batch-sized data and the per-bucket counts table are
        # touched — settled index rows are never re-windowed.
        if max_bucket is not None:
            w = Window.partitionBy("band", "band_key").orderBy(
                "batch_no", "doc_id"
            )
            admitted = (
                bands.withColumn("__rk", F.row_number().over(w))
                .join(state["counts"], ["band", "band_key"], "left")
                .filter(
                    F.coalesce(F.col("__n"), F.lit(0)) + F.col("__rk")
                    <= max_bucket
                )
                .drop("__rk", "__n")
                .localCheckpoint()
            )
        else:
            admitted = bands
        # earlier-arrived probe targets: the whole index (strictly
        # earlier batches) plus same-batch rows with a smaller id
        def probe(targets: DataFrame, same_batch: bool) -> DataFrame:
            cond = (F.col("a.band") == F.col("b.band")) & (
                F.col("a.band_key") == F.col("b.band_key")
            )
            if same_batch:
                cond = cond & (F.col("b.doc_id") < F.col("a.doc_id"))
            return (
                bands.alias("a")
                .join(targets.alias("b"), cond)
                .select(
                    F.col("a.doc_id").alias("late_id"),
                    F.col("b.doc_id").alias("early_id"),
                    signature_agreement(
                        F.col("a.minhashes"), F.col("b.minhashes"), n_seeds
                    ).alias("est_j"),
                )
            )

        pairs = probe(_index_df(), False).unionByName(probe(admitted, True))
        dups = (
            pairs.filter(F.col("est_j") >= threshold)
            .groupBy("late_id")
            .agg(F.min("early_id").alias("dup_of"))
        )
        out = (
            batch_df.select("doc_id", "batch_no")
            .join(dups, F.col("doc_id") == F.col("late_id"), "left")
            .select(
                "doc_id",
                "batch_no",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
        )
        # checkpoint THIS batch's decisions only; the settled index
        # part (``admitted``) is already checkpoint-pinned above
        state["out_parts"].append(out.localCheckpoint())
        state["index_parts"].append(admitted.select(*empty_index.columns))
        if max_bucket is not None:
            added = admitted.groupBy("band", "band_key").agg(
                F.count(F.lit(1)).alias("__add")
            )
            state["counts"] = (
                state["counts"]
                .join(added, ["band", "band_key"], "full")
                .select(
                    "band",
                    "band_key",
                    (
                        F.coalesce(F.col("__n"), F.lit(0))
                        + F.coalesce(F.col("__add"), F.lit(0))
                    ).alias("__n"),
                )
                .localCheckpoint()
            )

    _replay(docs, n_batches, _redelivery_guard(spark, state, merge))
    state["index"] = _index_df()
    out = state["out"]
    for part in state["out_parts"]:
        out = part if out is None else out.unionByName(part)
    state["out"] = out
    if _state_out is not None:  # test hook: inspect final index/counts
        _state_out.update(state)
    if out is None:
        return spark.createDataFrame(
            [], "doc_id long, batch_no long, is_dup boolean, dup_of long"
        )
    return out


# ---------------------------------------------------------------------------
# q90: incremental count-min sketch — the streaming maintenance of
# q86's sketch. Each micro-batch's term counts are added into the
# accumulated (row, bucket) cells; because CMS merges by per-cell
# addition, the final state must equal the batch sketch over the
# whole corpus, which is exactly what the oracle computes.
_Q90_D = 3
_Q90_W = 16


def _q90_cms_bucket_sql(salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}:' || term), 1, 8))::BIGINT % {_Q90_W}"
    )


_Q90_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                      ' ') AS t
  FROM documents
),
counts AS (
  SELECT u.term, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks, UNNEST(t) AS u(term)
  GROUP BY u.term
)
SELECT CAST(j.j AS INT) AS j,
       CASE j.j WHEN 0 THEN {_q90_cms_bucket_sql('cms0')}
                WHEN 1 THEN {_q90_cms_bucket_sql('cms1')}
                ELSE {_q90_cms_bucket_sql('cms2')} END AS bucket,
       CAST(SUM(n) AS BIGINT) AS n
FROM counts, UNNEST(generate_series(0, {_Q90_D - 1})) AS j(j)
GROUP BY 1, 2
"""


@query("q90_incremental_cms", oracle=_Q90_ORACLE)
def q90_incremental_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental count-min sketch over a document stream: three
    deterministic micro-batches (``doc_id % 3``), each batch's term
    counts hashed into (row, bucket) cells and ADDED to the
    accumulated sketch state inside ``foreachBatch`` — per-batch
    work is batch-sized, state is the fixed 3×16-cell sketch, and
    the corpus is never re-scanned (q73's ingestion shape applied
    to the sketch tier). The oracle builds the sketch over the whole
    corpus in one shot; merge-by-addition makes the two identical —
    the mergeability contract, gate-checked."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["cms_q90"])


# ---------------------------------------------------------------------------
# q114: Structured Streaming twin of the distance-admission
# incremental ANN (q113) — the same probe-then-admit/evict steps
# (``operators.similarity.ann_index_probe`` / ``ann_index_admit``,
# literally shared code) driven by a real streaming query:
# deterministic one-file-per-trigger micro-batches, the capped
# per-cell index carried across batches inside ``foreachBatch``
# (the ``ann_q114`` family, merge step ``_ann_merge``).
# Because the steps are shared and the batch boundaries identical,
# the stream's accumulated probe output must hash-match q113's
# declarative oracle — the driver certifies the STREAMING
# maintenance path, not just the batch loop.
def _q114_oracle() -> str:
    from shopify_db_spark.plans.vectorops import _Q113_ORACLE

    return _Q113_ORACLE


@query("q114_streaming_ann", oracle=_q114_oracle())
def q114_streaming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q113's distance-admission incremental ANN as a REAL
    Structured Streaming job (the ``ann_q114`` sink family):
    the embeddings replay as three deterministic micro-batches
    (``vec_id % 3``, one file per trigger), ``foreachBatch`` probes
    then admits/evicts via the SAME step operators as the batch
    loop, and the accumulated probe output is checked against
    q113's declarative oracle — streaming and batch paths are
    certified equivalent by the driver itself.

    Returns (query_id, neighbor_id, cosine, rank)."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["ann_q114"])


# ---------------------------------------------------------------------------
# q133: streaming HyperLogLog maintenance — the MAX-merge twin of
# q130, completing the sketch tier's streaming pairs (q86→q90 is
# merge-by-ADDITION for count-min; q130→q133 is merge-by-MAX for
# HLL). Each micro-batch's registers are unioned into the
# accumulated state with ``max(rho)``; because HLL registers merge
# by MAX, the final state must equal the batch sketch over the
# whole corpus — which is exactly what the oracle computes
# declaratively. State is ≤ #sources × 64 rows; per-batch work is
# batch-sized; the corpus is never re-scanned.
from shopify_db_spark.plans.textops import _Q130_M, _Q130_W, hll_registers

_Q133_ORACLE = f"""
WITH toks AS (
  SELECT source, u.term
  FROM (SELECT source,
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ',
                                                      'g'))), ' ') AS t
        FROM documents),
       UNNEST(t) AS u(term)
),
hashed AS (
  SELECT source,
         ('0x' || substr(md5('hll:' || term), 1, 12))::BIGINT AS v
  FROM toks
)
SELECT source, CAST(v % {_Q130_M} AS BIGINT) AS idx,
       CAST(MAX(CASE WHEN v // {_Q130_M} = 0 THEN {_Q130_W}
                     ELSE {_Q130_W} - LENGTH(bin(v // {_Q130_M})) END)
            AS INT) AS rho
FROM hashed GROUP BY source, v % {_Q130_M}
"""


@query("q133_streaming_hll", oracle=_Q133_ORACLE)
def q133_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL register maintenance (see section comment):
    three deterministic micro-batches (doc_id % 3), per-batch
    registers MAX-merged into the accumulated state inside
    ``foreachBatch``. Returns the final (source, idx, rho) register
    table — bit-identical to the one-shot batch sketch."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["hll_q133"])


# ---------------------------------------------------------------------------
# q144: streaming length-histogram maintenance — the ADD-merge twin
# of q139, completing the streaming side of the sketch tier's three
# pairs (q86→q90 count-min, q130→q133 HLL, q139→q144 quantile
# histogram). Each micro-batch's per-(source, bucket) counts are
# unioned into the accumulated state with ``sum(cnt)``; because the
# histogram registers merge by ADDITION, the final state must equal
# the batch histogram over the whole corpus — exactly what the
# oracle computes declaratively. State is ≤ #sources × ~40 rows;
# per-batch work is batch-sized; the corpus is never re-scanned.
from shopify_db_spark.plans.textops import _Q139_BUCKET, length_histogram

_Q144_ORACLE = f"""
WITH lens AS (
  SELECT source,
         CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ',
                                                          'g'))), ' '))
              AS BIGINT) AS n_tok
  FROM documents
)
SELECT source,
       CAST({_Q139_BUCKET.format(n='n_tok')} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lens GROUP BY 1, 2
"""


@query("q144_streaming_histogram", oracle=_Q144_ORACLE)
def q144_streaming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming length-histogram register maintenance (see section
    comment): three deterministic micro-batches (doc_id % 3),
    per-batch histograms SUM-merged into the accumulated state
    inside ``foreachBatch``. Returns the final (source, bucket, cnt)
    register table — bit-identical to the one-shot batch sketch."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["histogram_q144"])


# ---------------------------------------------------------------------------
# q155: streaming novelty estimation — q154's crawl-saturation
# signal under a stream, with BOUNDED state: tracking exact
# first-seen shingles needs the whole shingle vocabulary as state
# (fine as a persisted batch index, q128; unacceptable inside a
# stream), so the streaming tier estimates per-batch novelty from
# the HLL register state instead — distinct-shingle estimate after
# merging batch b, minus the estimate before it. State is 64
# registers TOTAL (q130's sketch), per-batch work is batch-sized,
# and the estimate delta is exactly the published use of HLL
# mergeability for stream cardinality growth. Register sums are
# exact BIGINTs (q130's shifted-indicator trick); the two estimates
# and their difference are fixed-order IEEE expressions of those
# exact integers, so the oracle — per-batch-prefix register sums
# computed declaratively — hash-matches bit for bit.
from shopify_db_spark.plans.textops import (
    _Q130_M as _HLL_M,
    _Q130_W as _HLL_W,
)

_Q155_EST = (
    f"(709.0 * {_HLL_M}.0 * {_HLL_M}.0 "
    f"* CAST(CAST(1 AS BIGINT) << {_HLL_W} AS DOUBLE)) "
    "/ (1000.0 * CAST({col} AS DOUBLE))"
)

_Q155_ORACLE = f"""
WITH toks AS (
  SELECT doc_id % 3 AS batch_no,
         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                      ' ') AS t
  FROM documents
),
shingles AS (
  SELECT DISTINCT batch_no, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(i)
),
hashed AS (
  SELECT batch_no,
         ('0x' || substr(md5('hll:' || shingle), 1, 12))::BIGINT AS v
  FROM shingles
),
regs AS (
  SELECT b.batch_no, h.v % {_HLL_M} AS idx,
         MAX(CASE WHEN h.v // {_HLL_M} = 0 THEN {_HLL_W}
                  ELSE {_HLL_W} - LENGTH(bin(h.v // {_HLL_M})) END) AS rho
  FROM (SELECT DISTINCT batch_no FROM hashed) b
  JOIN hashed h ON h.batch_no <= b.batch_no
  GROUP BY b.batch_no, h.v % {_HLL_M}
),
sums AS (
  SELECT batch_no,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_W} - rho))
              + ({_HLL_M} - COUNT(*))
                * (CAST(1 AS BIGINT) << {_HLL_W}) AS BIGINT)
             AS register_sum
  FROM regs GROUP BY batch_no
)
SELECT CAST(s.batch_no AS BIGINT) AS batch_no,
       s.register_sum,
       {_Q155_EST.format(col='s.register_sum')} AS est_total,
       {_Q155_EST.format(col='s.register_sum')}
           - COALESCE({_Q155_EST.format(col='p.register_sum')}, 0.0)
           AS est_new
FROM sums s LEFT JOIN sums p ON p.batch_no = s.batch_no - 1
"""


@query("q155_streaming_novelty", oracle=_Q155_ORACLE)
def q155_streaming_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming novelty estimation from HLL register deltas (see
    section comment): three deterministic micro-batches
    (doc_id % 3), per-batch shingle registers MAX-merged into 64
    rows of state, per-batch distinct estimate + growth. Returns
    (batch_no, register_sum, est_total, est_new)."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["novelty_q155"])


# ---------------------------------------------------------------------------
# q160: streaming recency-decayed engagement — q158's scores
# maintained incrementally (the q113→q114 batch/streaming twin
# pattern: same output, same oracle): the decay reference ("now" =
# corpus max date) is only known when the stream is drained, so the
# maintainable state is NOT the score but the per-(user, day)
# activity histogram — counts merge by ADDITION across batches
# (bounded by users × active days, the standard activity-matrix
# state), and the exact q158 weights are applied once at finalize
# from the tracked max date. Bit-identical to the batch scores by
# construction; the oracle IS q158's SQL.


@query(
    "q160_streaming_engagement",
    oracle="""
WITH now_d AS (SELECT MAX(CAST(ts AS DATE)) AS nd FROM events),
w AS (
  SELECT e.user_id,
         date_diff('day', CAST(e.ts AS DATE), n.nd) AS age_days,
         CASE WHEN date_diff('day', CAST(e.ts AS DATE), n.nd) // 7 >= 20
              THEN 0
              ELSE CAST(1000000 AS BIGINT)
                   >> (date_diff('day', CAST(e.ts AS DATE), n.nd)
                       // 7) END AS w_ppm
  FROM events e CROSS JOIN now_d n
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(w_ppm) AS BIGINT) AS decayed_ppm,
       CAST(MIN(age_days) AS BIGINT) AS days_since_last
FROM w GROUP BY user_id
""",
)
def q160_streaming_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of q158's decayed engagement (see
    section comment): three deterministic micro-batches
    (event_id % 3), per-(user, day) counts SUM-merged into state,
    exact shift weights applied at finalize from the tracked max
    date. Returns (user_id, n_events, decayed_ppm,
    days_since_last) — q158's exact output."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["engagement_q160"])


# ---------------------------------------------------------------------------
# Stateful-sink families: the merge, initial state and result of each
# stateful query above, and the registry that names them.
#
# Every stateful query is ``run_sink_family`` over its
# ``STATEFUL_SINK_FAMILIES`` entry: ``_redelivery_guard`` (seen
# batch_id → skip, empty batch → skip) wraps the family's MERGE of
# the micro-batch into a small durable state (register table /
# histogram / sketch cells / per-cell ANN index), and the result is
# read from the final state. The restart-recovery sweep in
# tests/test_streaming_realism.py runs the same entries: it kills
# each family's stream between batches and resumes a NEW query from
# the SAME checkpoint (durable state + continued batch-id sequence —
# the production story, where state lives in a table and the source
# is kafka/kinesis), asserting the recovered result equals the
# uninterrupted run's.


def _hll_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q133's register MAX-merge (see the q133 section comment)."""
    from shopify_db_spark.functions.text import tokens

    toks = (
        batch_df.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("source", F.explode(tokens(F.col("text"))).alias("term"))
    )
    regs = hll_registers(toks, ["source"]).select(
        "source", "idx", F.col("rho").cast("int").alias("rho")
    )
    state["regs"] = (
        state["regs"]
        .unionByName(regs)
        .groupBy("source", "idx")
        .agg(F.max("rho").alias("rho"))
        .localCheckpoint()
    )


def _hist_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q144's histogram ADD-merge (see the q144 section comment)."""
    from shopify_db_spark.functions.text import tokens

    lens = (
        batch_df.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select(
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        )
    )
    hist = length_histogram(lens, ["source"])
    state["hist"] = (
        state["hist"]
        .unionByName(hist)
        .groupBy("source", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint()
    )


def _cms_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q90's count-min cell ADD-merge (see the q90 docstring)."""
    from shopify_db_spark.functions.text import md5_bucket, tokens

    counts = (
        batch_df.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = (
        counts.select(
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            md5_bucket(
                                F.col("term"), f"cms{j}", _Q90_W
                            ).alias("bucket"),
                        )
                        for j in range(_Q90_D)
                    ]
                )
            ).alias("jb"),
        )
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.sum("n").alias("n"))
    )
    state["cells"] = (
        state["cells"]
        .unionByName(cells)
        .groupBy("j", "bucket")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint()
    )


def _novelty_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q155's shingle-register MAX-merge + curve-point append (see
    the q155 section comment)."""
    from shopify_db_spark.plans.textops import hll_register_sum, hll_registers
    from shopify_db_spark.functions.text import tokens

    bno = batch_df.agg(F.min("batch_no")).collect()[0][0]
    sh = (
        batch_df.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 2, 1)), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("term")
        )
        # no .distinct(): HLL registers are MAX-per-idx, so duplicate
        # shingles cannot change any register — the dedup was a full
        # shingle-row exchange per batch for a mathematically void
        # step (the q133/q90 merges already
        # hash raw occurrences). The md5 per occurrence is map-side;
        # the only shuffle left is the 64-register partial aggregate.
    )
    regs = hll_registers(sh, []).select(
        "idx", F.col("rho").cast("int").alias("rho")
    )
    state["regs"] = (
        state["regs"]
        .unionByName(regs)
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .localCheckpoint()
    )
    row = (
        hll_register_sum(state["regs"].withColumn("__g", F.lit(1)), ["__g"])
        .select("register_sum")
        .collect()[0]
    )
    state["out"].append((int(bno), int(row["register_sum"])))


def _novelty_result(spark: SparkSession, state: dict) -> DataFrame:
    """q155's finalize: each batch's distinct-shingle estimate and its
    growth over the previous batch's estimate."""
    from shopify_db_spark.plans.textops import hll_estimate as est

    out = spark.createDataFrame(
        state["out"], "batch_no long, register_sum long"
    )
    prev = out.select(
        (F.col("batch_no") + 1).alias("batch_no"),
        F.col("register_sum").alias("__prev_sum"),
    )
    return out.join(prev, "batch_no", "left").select(
        "batch_no",
        "register_sum",
        est(F.col("register_sum")).alias("est_total"),
        (
            est(F.col("register_sum"))
            - F.coalesce(est(F.col("__prev_sum")), F.lit(0.0))
        ).alias("est_new"),
    )


def _engagement_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q160's per-(user, day) count ADD-merge.

    The decay reference max-date is NOT tracked per batch: the merged
    histogram keeps every (user, day) seen with cnt > 0, so
    ``max(d)`` over the final state equals the max over all arrivals
    — the finalize derives it in one 1-row aggregate instead of a
    per-batch collect job (one fewer job and
    driver round trip per micro-batch, and one less driver-held
    scalar for the recovery story to reconstruct)."""
    # spread on user_id, not event_id: hash partitioning on a subset
    # of the grouping keys satisfies the aggregate's clustering, so
    # ONE exchange serves the single-partition-micro-batch spread AND
    # the (user, day) count — the event_id spread added a second,
    # full-batch exchange for no pre-shuffle compute
    spread = batch_df.repartition(
        spark.sparkContext.defaultParallelism, F.col("user_id")
    )
    hist = spread.groupBy("user_id", "d").agg(F.count(F.lit(1)).alias("cnt"))
    state["hist"] = (
        state["hist"]
        .unionByName(hist)
        .groupBy("user_id", "d")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint()
    )


def _engagement_result(spark: SparkSession, state: dict) -> DataFrame:
    """q160's finalize: exact shift weights from the max date, which
    is derived here from the merged histogram in one 1-row aggregate
    (see _engagement_merge). The shift clamps at 20 (10⁶ < 2²⁰ ⇒
    weight exactly 0) on a BIGINT base; Spark wraps the shift amount
    mod the base width, so an int base would wrap at 32 (q158
    section comment)."""
    now_d = F.lit(state["hist"].agg(F.max("d")).collect()[0][0])
    aged = state["hist"].select(
        "user_id",
        "cnt",
        F.datediff(now_d, F.col("d")).alias("age_days"),
    ).withColumn(
        "w_ppm",
        F.expr(
            "CASE WHEN age_days DIV 7 >= 20 THEN CAST(0 AS BIGINT) "
            "ELSE shiftright(CAST(1000000 AS BIGINT), "
            "CAST(age_days DIV 7 AS INT)) END"
        ),
    )
    return aged.groupBy("user_id").agg(
        F.sum("cnt").alias("n_events"),
        F.sum(F.col("cnt") * F.col("w_ppm").cast("long")).alias("decayed_ppm"),
        F.min("age_days").cast("long").alias("days_since_last"),
    )


def _ann_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q114's probe-then-admit step (shared with q113's batch loop
    via operators.similarity): the micro-batch probes the
    accumulated per-cell index for its exact-cosine top-k, then is
    admitted under ``state["admit"]`` (see
    ``similarity.incremental_ivf_topk`` for the two policies).
    Arrival order is the batch id, which equals the file index under
    one file per trigger, oldest first. At scale the file source
    becomes kafka/kinesis and the carried index lives in a table
    instead of a localCheckpoint chain — the per-batch work (probe
    join ≤ cap × batch-cell rows, admission re-rank ≤ cap +
    batch-cell rows per cell) is unchanged."""
    from shopify_db_spark.operators.similarity import (
        ann_index_admit,
        ann_index_probe,
        ivf_assign,
    )

    spread = batch_df.repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    a = ivf_assign(
        spread, state["centroids"], keep_score=(state["admit"] == "distance")
    ).localCheckpoint()
    if state["index"] is not None:
        # accumulate per-batch probe outputs as checkpoint-pinned
        # PARTS unioned lazily at result time (the batch twin
        # ``incremental_ivf_topk``'s shape) instead of re-unioning
        # and re-checkpointing the whole accumulated output every
        # batch — O(B·N) rows rematerialized for an append-only
        # result. The probe plan reads only
        # checkpointed inputs (``a`` and the admitted index), so the
        # part checkpoint materializes batch-sized data.
        state["out"].append(
            ann_index_probe(a, state["index"], state["k"]).localCheckpoint()
        )
    state["index"], state["counts"] = ann_index_admit(
        a,
        state["index"],
        state["counts"],
        state["cell_cap"],
        state["admit"],
        int(batch_id),
    )


def _docs_source(cols: list[str]):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return load_table(spark, sf_dir, "documents").select(
            *cols, (F.col("doc_id") % 3).alias("batch_no")
        )

    return build


def _events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event_id only derives the batch key; it is projected away before
    # the batch-file write (guide §2.3)
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        (F.col("event_id") % 3).alias("batch_no"),
    )


def _emb_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shopify_db_spark.plans.vectorops import _Q113_NBATCH

    return load_table(spark, sf_dir, "embeddings").withColumn(
        "batch_no", (F.col("vec_id") % _Q113_NBATCH).cast("long")
    )


def _ann_init(spark: SparkSession, sf_dir: str) -> dict:
    from shopify_db_spark.plans.vectorops import (
        _Q113_CAP,
        _Q113_K,
        CENTROID_MOD,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return {
        "index": None,
        "counts": None,
        "out": [],
        "centroids": emb.filter(F.col("vec_id") % CENTROID_MOD == 0),
        "k": _Q113_K,
        "cell_cap": _Q113_CAP,
        "admit": "distance",
    }


def _ann_result(spark: SparkSession, state: dict) -> DataFrame:
    """q114's output: every batch's probe part, unioned."""
    out = None
    for part in state["out"]:
        out = part if out is None else out.unionByName(part)
    if out is not None:
        return out
    return spark.createDataFrame(
        [], "query_id long, neighbor_id long, cosine double, rank int"
    )


#: q163 vocabulary-state prune. ``state["cap"]``
#: = None (the production default) carries the EXACT vocabulary, so
#: the oracle stays q40's verbatim. An integer cap bounds the carried
#: state to the ``cap`` highest-tf terms (distributed top-K via
#: orderBy+limit — TakeOrderedAndProject, no global single-partition
#: window) plus a fixed D×W count-min backstop accumulating the
#: EVICTED (tf, df) mass: state size is O(cap + D·W) rows regardless
#: of corpus vocabulary — the Zipf long tail at 100 TB never
#: accumulates. Exactness certificate (``_term_stats_certificate``,
#: an absent-terms-only condition would be unsound:
#: a term evicted at one prune and re-ADDED by a later batch stays
#: present with tf understated by its stranded evicted mass, so
#: rank-100 tf > B alone cannot certify kept VALUES): the pruned
#: top-100 is provably identical to the exact run when ALL of
#:   (1) every top-100 member's count-min point estimate is 0 —
#:       estimates only overcount and every eviction inserts tf ≥ 1,
#:       so est(t)=0 ⟺ t was never evicted ⟺ its kept tf AND df
#:       are exact;
#:   (2) B < rank-100 tf, where B = min-over-rows of the row-max
#:       cell — a global upper bound on any ABSENT term's true tf;
#:   (3) every kept term OUTSIDE the top-100 has tf + est(t) <
#:       rank-100 tf — its true tf (kept + stranded ≤ kept + est)
#:       cannot displace a member.
#: Collisions can only make est too big, so a failed certificate is
#: conservative, never falsely "exact"
#: (tests/test_streaming_realism.py asserts the agreement, the
#: certificate, and the re-added-term unsoundness regression).
_Q163_PRUNE_D = 4
#: Width 2^16: the sketch table is stored SPARSE (only touched
#: cells), so width costs nothing until the evicted key set
#: approaches it — and certificate condition (1) needs a top-100
#: member's 4 cells to include at least one never-touched bucket,
#: which at 4096 failed ~4% of members per 2k-term eviction set
#: (min-over-rows fill 0.45^4). 2^16 puts the all-rows-collide
#: probability per member at ~6e-7 for the same set.
_Q163_PRUNE_W = 65536


def _term_stats_prune(spark: SparkSession, state: dict) -> None:
    """Bound the carried vocabulary to the cap highest-tf terms;
    fold evicted (tf, df) mass into the count-min backstop."""
    from shopify_db_spark.functions.text import md5_bucket

    cap = state.get("cap")
    if not cap:
        return
    # sketch width is a deployment knob (state["cms_w"], default
    # _Q163_PRUNE_W): certificate condition (1) needs a member's D
    # cells to include a never-touched bucket, so width should be
    # sized well above the expected evicted vocabulary — soundness
    # never degrades with width, only certification POWER does
    width = int(state.get("cms_w", _Q163_PRUNE_W))
    merged = state["stats"]
    kept = merged.orderBy(F.desc("tf"), F.asc("term")).limit(cap)
    evicted = merged.join(kept.select("term"), "term", "left_anti")
    cells = (
        evicted.select(
            "tf",
            "df",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            md5_bucket(
                                F.col("term"), f"q163cms{j}", width
                            ).alias("bucket"),
                        )
                        for j in range(_Q163_PRUNE_D)
                    ]
                )
            ).alias("jb"),
        )
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.sum("tf").alias("tf"), F.sum("df").alias("df"))
    )
    if state.get("cms") is None:
        state["cms"] = spark.createDataFrame(
            [], "j int, bucket long, tf long, df long"
        )
    state["cms"] = (
        state["cms"]
        .unionByName(cells)
        .groupBy("j", "bucket")
        .agg(F.sum("tf").alias("tf"), F.sum("df").alias("df"))
        .localCheckpoint()
    )
    state["stats"] = kept.localCheckpoint()


def _term_stats_evicted_bound(state: dict) -> int:
    """Count-min upper bound B on any single absent term's evicted tf
    mass: estimates only overcount, so no key's total insertions can
    exceed the smallest per-row maximum cell. 0 when nothing was ever
    evicted (exact mode)."""
    cms = state.get("cms")
    if cms is None:
        return 0
    row = (
        cms.groupBy("j")
        .agg(F.max("tf").alias("mx"))
        .agg(F.min("mx").alias("b"))
        .collect()
    )
    return int(row[0]["b"]) if row and row[0]["b"] is not None else 0


def _term_stats_cms_estimate(state: dict, terms: DataFrame) -> DataFrame:
    """Count-min POINT estimate of each given term's evicted tf mass:
    min over the D rows of its cell (absent cell = 0). Estimates only
    overcount, and every eviction inserts tf ≥ 1, so est = 0 proves
    the term was never evicted — its carried (tf, df) are exact.
    Cost: |terms| × D rows joined against the ≤ D·W-cell sketch —
    both bounded, shuffle-free at cap scale."""
    from shopify_db_spark.functions.text import md5_bucket

    width = int(state.get("cms_w", _Q163_PRUNE_W))
    cells = terms.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        md5_bucket(
                            F.col("term"), f"q163cms{j}", width
                        ).alias("bucket"),
                    )
                    for j in range(_Q163_PRUNE_D)
                ]
            )
        ).alias("jb"),
    ).select("term", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    cms = state["cms"]
    return (
        cells.join(cms.select("j", "bucket", "tf"), ["j", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("tf"), F.lit(0))).alias("est"))
    )


def _term_stats_certificate(spark: SparkSession, state: dict) -> dict:
    """Sound exactness certificate for the pruned top-100 (ADVICE
    r13; see the module note above for the three conditions). Returns
    the scalar evidence alongside the verdict so a refusal is
    diagnosable. A single 1-row aggregate collect — bounded."""
    bound = _term_stats_evicted_bound(state)
    if bound == 0:
        # nothing was ever evicted (exact mode, or the cap never bit)
        return {
            "exact": True, "bound": 0, "n_kept": None,
            "members_est_max": 0, "rank100_tf": None, "outsider_max": None,
        }
    kept = state["stats"]
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    ranked = kept.withColumn("rk", F.row_number().over(w))
    est = _term_stats_cms_estimate(state, kept.select("term"))
    joined = ranked.join(est, "term", "left").withColumn(
        "est", F.coalesce(F.col("est"), F.lit(0))
    )
    top = F.col("rk") <= 100
    row = joined.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.when(top, F.col("est"))).alias("members_est_max"),
        F.min(F.when(top, F.col("tf"))).alias("rank100_tf"),
        F.max(F.when(~top, F.col("tf") + F.col("est"))).alias("outsider_max"),
    ).collect()[0]
    exact = (
        row["n_kept"] is not None
        and row["n_kept"] >= 100
        and (row["members_est_max"] or 0) == 0
        and bound < row["rank100_tf"]
        and (row["outsider_max"] is None or row["outsider_max"] < row["rank100_tf"])
    )
    return {
        "exact": bool(exact),
        "bound": bound,
        "n_kept": row["n_kept"],
        "members_est_max": row["members_est_max"],
        "rank100_tf": row["rank100_tf"],
        "outsider_max": row["outsider_max"],
    }


def _term_stats_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q163's vocabulary ADD-merge: per-batch (tf, df) term counts
    summed into the accumulated stats. df merges by ADDITION because
    the micro-batches partition the corpus by doc_id — each document
    contributes its distinct terms to exactly one batch, so per-term
    batch dfs are disjoint counts of the same corpus df. When
    ``state["cap"]`` is set, ``_term_stats_prune`` bounds the carried
    vocabulary after the merge (see the prune note above)."""
    from shopify_db_spark.functions.text import tokens

    terms = (
        batch_df.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    )
    counts = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    state["stats"] = (
        state["stats"]
        .unionByName(counts)
        .groupBy("term")
        .agg(F.sum("tf").alias("tf"), F.sum("df").alias("df"))
        .localCheckpoint()
    )
    _term_stats_prune(spark, state)


def _term_stats_result(spark: SparkSession, state: dict) -> DataFrame:
    """q40's finalize: top-100 by tf, deterministic term tie-break —
    a single-partition window over the small vocabulary AFTER the
    distributed heavy lifting (q40's documented shape)."""
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    return (
        state["stats"]
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 100)
        .select("term", "tf", "df", "rank")
    )


def _q163_oracle() -> str:
    # Import textops FIRST: q40 registers there, and load_all()
    # imports streamops before textops — without this explicit edge
    # the lookup only works because of incidental mid-module imports
    # elsewhere in this file. The import is idempotent.
    from shopify_db_spark.plans import textops  # noqa: F401
    from shopify_db_spark.plans.catalog import QUERIES

    return QUERIES["q40_term_stats"].oracle


@query("q163_streaming_term_stats", oracle=_q163_oracle())
def q163_streaming_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q40's corpus vocabulary statistics maintained INCREMENTALLY
    under Structured Streaming — the lexical-index twin completing
    the streaming pairs table (q86→q90 count-min, q130→q133 HLL,
    q139→q144 histogram, q158→q160 engagement, q40→q163 term
    stats; the production shape of keeping a search index's df/tf
    tables fresh as documents arrive). Three deterministic
    micro-batches (doc_id % 3); per-batch (tf, df) counts ADD-merge
    into the carried vocabulary state (df addition is exact because
    the batches partition documents); finalize is q40's top-100
    window. Oracle: q40's, verbatim — the stream must reproduce the
    one-shot batch statistics bit-for-bit."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["term_stats_q163"])


def _reservoir_topk(df: DataFrame) -> DataFrame:
    """Per-source Efraimidis–Spirakis top-K (q80's keyed-window
    shape: partitioned by the stratum, no global sort)."""
    from shopify_db_spark.plans.curation import _Q80_K

    w = Window.partitionBy("source").orderBy(
        F.desc("es_key"), F.asc("doc_id")
    )
    return (
        df.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _Q80_K)
        .drop("r")
    )


def _reservoir_merge(
    spark: SparkSession, state: dict, batch_df: DataFrame, batch_id: int
) -> None:
    """q165's weighted-reservoir merge: key each arriving doc with
    q80's deterministic Efraimidis–Spirakis priority (ln(u)/w, u from
    the portable md5 bucket — identical expression, so batch and
    stream agree float-for-float), reduce the BATCH to its per-source
    top-K first (distributed keyed window), then fold into the
    carried reservoir and re-take top-K. Top-K is an associative,
    commutative, IDEMPOTENT merge (top-K(A ∪ B) = top-K(top-K(A) ∪
    top-K(B))), so any batch arrival order — and even a redelivery —
    yields the exact one-shot sample. State is bounded at
    n_sources × K rows by construction: the reservoir IS the prune."""
    from shopify_db_spark.functions.text import md5_bucket
    from shopify_db_spark.plans.curation import _BLOOM_M

    u = (
        md5_bucket(F.col("doc_id").cast("string"), "es", _BLOOM_M)
        + F.lit(0.5)
    ) / F.lit(float(_BLOOM_M))
    keyed = batch_df.select(
        "source",
        "doc_id",
        F.col("n_chars").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    state["res"] = _reservoir_topk(
        state["res"].unionByName(_reservoir_topk(keyed))
    ).localCheckpoint()


def _reservoir_init(spark: SparkSession, sf_dir: str) -> dict:
    return {
        "res": spark.createDataFrame(
            [], "source string, doc_id long, weight long, es_key double"
        ),
    }


def _reservoir_result(spark: SparkSession, state: dict) -> DataFrame:
    """q80's output shape: the float key is ranked, never emitted
    (cross-engine libm ulp — q80's documented discipline)."""
    from shopify_db_spark.plans.curation import _Q80_K

    w = Window.partitionBy("source").orderBy(
        F.desc("es_key"), F.asc("doc_id")
    )
    return (
        state["res"]
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= _Q80_K)
        .select("source", "doc_id", "weight", "sample_rank")
    )


def _q165_oracle() -> str:
    # force q80's registration before reading it (never rely on
    # incidental import order)
    from shopify_db_spark.plans import curation  # noqa: F401
    from shopify_db_spark.plans.catalog import QUERIES

    return QUERIES["q80_weighted_sample"].oracle


@query("q165_streaming_reservoir", oracle=_q165_oracle())
def q165_streaming_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q80's weighted sample WITHOUT replacement maintained
    INCREMENTALLY under Structured Streaming — the one-pass reservoir
    Efraimidis–Spirakis was designed as (2006, Inf. Proc. Letters:
    key = u^(1/w), a reservoir of the k largest keys is a weighted
    sample of the stream so far). Three deterministic micro-batches
    (doc_id % 3); per batch the arriving docs are keyed with the
    portable md5-derived priority and top-K-merged into the carried
    per-source reservoir — an associative/commutative/idempotent
    fold, so the finalized sample equals the one-shot batch query
    exactly. Oracle: q80's, verbatim. State: n_sources × K rows —
    bounded by construction, the streaming-sampler shape a 100 TB
    ingest would run. Cites reference scope: the reference has no
    sampler; this extends the curation tier (SURVEY §2-extension)."""
    return run_sink_family(spark, sf_dir, STATEFUL_SINK_FAMILIES["reservoir_q165"])


STATEFUL_SINK_FAMILIES: dict[str, SinkFamily] = {
    "hll_q133": SinkFamily(
        source=_docs_source(["doc_id", "text", "source"]),
        init=lambda spark, sf: {
            "regs": spark.createDataFrame(
                [], "source string, idx long, rho int"
            ),
        },
        merge=_hll_merge,
        result=lambda spark, state: state["regs"],
    ),
    "histogram_q144": SinkFamily(
        source=_docs_source(["doc_id", "text", "source"]),
        init=lambda spark, sf: {
            "hist": spark.createDataFrame(
                [], "source string, bucket long, cnt long"
            ),
        },
        merge=_hist_merge,
        result=lambda spark, state: state["hist"],
    ),
    "cms_q90": SinkFamily(
        source=_docs_source(["doc_id", "text"]),
        init=lambda spark, sf: {
            "cells": spark.createDataFrame([], "j int, bucket long, n long"),
        },
        merge=_cms_merge,
        result=lambda spark, state: state["cells"],
    ),
    "novelty_q155": SinkFamily(
        source=_docs_source(["doc_id", "text"]),
        init=lambda spark, sf: {
            "regs": spark.createDataFrame([], "idx long, rho int"),
            "out": [],
        },
        merge=_novelty_merge,
        result=_novelty_result,
    ),
    "engagement_q160": SinkFamily(
        source=_events_source,
        init=lambda spark, sf: {
            "hist": spark.createDataFrame(
                [], "user_id long, d date, cnt long"
            ),
        },
        merge=_engagement_merge,
        result=_engagement_result,
    ),
    "ann_q114": SinkFamily(
        source=_emb_source,
        init=_ann_init,
        merge=_ann_merge,
        result=_ann_result,
    ),
    "reservoir_q165": SinkFamily(
        source=_docs_source(["doc_id", "source", "n_chars"]),
        init=_reservoir_init,
        merge=_reservoir_merge,
        result=_reservoir_result,
    ),
    "term_stats_q163": SinkFamily(
        source=_docs_source(["doc_id", "text"]),
        # cap=None: exact vocabulary (the gated default — oracle is
        # q40's verbatim). Set an int to bound state at 100 TB; see
        # _term_stats_prune for the count-min-certified top-K
        # semantics.
        init=lambda spark, sf: {
            "stats": spark.createDataFrame(
                [], "term string, tf long, df long"
            ),
            "cap": None,
        },
        merge=_term_stats_merge,
        result=_term_stats_result,
    ),
}
