"""Structured Streaming jobs.

The reference ingests in batch, incrementalized only by
``created_at_min/max`` request parameters (``shopify.py:138-139``)
— SURVEY §2.11 notes streaming as the natural Spark extension. Two
production shapes are provided, plus bounded-run helpers that let
tests and catalog queries drive a stream to completion
synchronously over the static benchmark parquet:

* :func:`incremental_order_ingest` — ``readStream`` over raw-JSON
  order drops, normalized with the SAME transforms as batch ingest
  (``sources.json_ingest``), upserted exactly-once-per-batch via
  ``foreachBatch`` into the CommerceStore (micro-batch MERGE: the
  streaming twin of the reference's per-page upsert loop).
* :func:`windowed_event_counts` / :func:`sessionized_events` —
  event-time tumbling or hopping windows and native
  ``session_window`` aggregation with watermarks for late data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shopify_db_spark.ingest_jobs import upsert_entities
from shopify_db_spark.sources import json_ingest as ji
from shopify_db_spark.sources.store import CommerceStore

#: physical schema of events.parquet (ts = timestamp[us], no tz →
#: Spark reads TIMESTAMP_NTZ)
_EVENTS_RAW = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (parquet file source —
    swap for kafka/kinesis in production; the downstream plan is
    source-agnostic). ``ts`` stays TIMESTAMP_NTZ as stored; the
    event-time operators below normalize it for watermarking."""
    # the benchmark table is a single parquet file; the file stream
    # source wants a directory, so scan sf_dir with a glob filter
    return (
        spark.readStream.schema(_EVENTS_RAW)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _as_event_time(events: DataFrame, col: str = "ts") -> tuple[DataFrame, bool]:
    """Watermarks require an instant (TIMESTAMP_LTZ); the stored
    column is TIMESTAMP_NTZ. Cast NTZ → TIMESTAMP (instant-preserving
    under the pinned UTC session) and report whether the caller
    should cast window bounds back to NTZ so output schema follows
    input schema."""
    was_ntz = dict(events.dtypes).get(col) == "timestamp_ntz"
    if was_ntz:
        events = events.withColumn(col, F.col(col).cast("timestamp"))
    return events, was_ntz


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windows with a late-data watermark. Tumbling when
    ``slide`` is None (the streaming twin of catalog q15); with a
    ``slide`` shorter than ``window`` they hop (the twin of q83): each
    event lands in window/slide overlapping windows (one Expand in the
    micro-batch plan, no self-join), and state grows by the same
    factor, which is the documented cost of overlap in Structured
    Streaming."""
    events, was_ntz = _as_event_time(events)
    start = F.col("window.start")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).alias("total_value_d"),
        )
        .select(
            (start.cast("timestamp_ntz") if was_ntz else start).alias(
                "window_start"
            ),
            F.col("event_type"),
            F.col("n_events"),
            F.round(F.col("total_value_d"), 2).cast("double").alias("total_value"),
        )
    )


def sessionized_events(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native streaming sessionization: ``session_window`` merges
    events within the inactivity gap into growing state-backed
    sessions (the stateful-operator path; the batch twin is q14's
    lag+cumsum)."""
    events, was_ntz = _as_event_time(events)
    start = F.col("session_window.start")
    end = F.col("session_window.end")
    if was_ntz:
        start, end = start.cast("timestamp_ntz"), end.cast("timestamp_ntz")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            start.alias("session_start"),
            end.alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_bounded(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive a streaming DataFrame over its (bounded) source to
    completion through a memory sink and return the materialized
    result — the synchronous harness for tests/bench. The result is
    checkpointed out of the sink before its temp view is dropped, so
    the sink's rows live only as long as the returned frame."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    try:
        return spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)


def incremental_order_ingest(
    spark: SparkSession,
    store: CommerceStore,
    json_dir: str,
    checkpoint_dir: str,
):
    """Exactly-once incremental ingest: watch a directory for raw
    Shopify order JSON-lines drops, normalize each micro-batch with
    the batch transforms, and MERGE all three derived tables inside
    ``foreachBatch`` in one concurrent wave (per-table atomic swaps +
    checkpointed offsets = the streaming upgrade of the reference's
    page loop)."""
    raw = spark.readStream.schema(ji.RAW_ORDER).json(json_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            upsert_entities(store, {"orders": batch_df})
        finally:
            batch_df.unpersist()

    return (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_user_activity(
    events: DataFrame,
    idle_timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful per-user activity tracking via
    ``applyInPandasWithState`` — the escape hatch for stateful logic
    that ``session_window`` cannot express (cross-batch running
    totals emitted only when a user goes idle).

    State per user: (n_events, total_value, first_ts, last_ts).
    Each micro-batch folds its rows into the state; when the
    processing-time timeout fires (no events for ``idle_timeout_ms``)
    the accumulated activity summary is emitted and the state
    cleared. This is the Arrow-batched Spark-native shape for custom
    stateful operators: state lives in the state store
    (checkpointed, partitioned by the group key), Python sees pandas
    batches per key.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ])

    def track(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, total, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            })
            return
        n, total, first_us, last_us = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, total, first_us, last_us))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({
            "user_id": pd.Series([], dtype="int64"),
            "n_events": pd.Series([], dtype="int64"),
            "total_value": pd.Series([], dtype="float64"),
            "first_ts": pd.Series([], dtype="datetime64[us]"),
            "last_ts": pd.Series([], dtype="datetime64[us]"),
        })

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
