"""Event-stream analytics over the ``events`` table.

The reference has no streaming surface (SURVEY §2.11) — its
incremental story is ``created_at_min/max`` request windows. These
queries are the batch expressions of the standard event-time
operators a Spark engine provides (the Structured Streaming
equivalents live in ``shopify_db_spark.streaming``): tumbling
windows, gap-based sessionization, and semi-structured JSON
extraction from the ``props`` payload column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from shopify_db_spark.functions.parity import dec, money_out
from shopify_db_spark.plans.catalog import query
from shopify_db_spark.sources.tables import load_table


@query(
    "q14_sessionize",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM gaps
)
SELECT user_id, CAST(session_no AS INT) AS session_no,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_no
""",
)
def q14_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → gap flag →
    running sum → per-session aggregate. The classic batch
    sessionizer; one shuffle on ``user_id`` serves both windows and
    the aggregation. Ties on ``ts`` break by ``event_id``. The gap
    compares at MICROSECOND precision (``unix_micros``) — both
    engines store micros-truncated instants, so a whole-seconds cast
    would misclassify gaps in [1800.0, 1801.0) s that the oracle's
    full-precision interval comparison sees as > 30 min.
    ``events.ts`` arrives as TIMESTAMP_NTZ (micros parquet, no tz);
    ``unix_micros`` requires an instant, so cast to TIMESTAMP first —
    instant-preserving under the pinned UTC session."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    new_session = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_no", F.sum("new_session").over(running).cast("int"))
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "q15_tumbling_window",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
""",
)
def q15_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window aggregate per event type — the batch
    twin of the Structured Streaming windowed aggregation
    (``streaming.jobs``); ``date_trunc`` keys make the window
    boundary explicit and engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_out(F.sum(dec("value"))).alias("total_value"),
        )
    )


@query(
    "q16_json_extract",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
            THEN 'high' ELSE 'low' END AS k_bucket
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
""",
)
def q16_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from a JSON payload column
    (reference N1/N7 ingest flattening, applied at query time):
    typed ``from_json`` beats per-row string functions — the parse
    happens once and the field access is a struct projection."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p",
        F.from_json(
            F.col("props"), T.StructType([T.StructField("k", T.IntegerType())])
        ),
    )
    return (
        parsed.filter(F.col("p.k").isNotNull())
        .select(
            "event_id",
            F.col("p.k").alias("k_value"),
            F.when(F.col("p.k") >= 50, "high").otherwise("low").alias("k_bucket"),
        )
    )


@query(
    "q19_event_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events
  GROUP BY user_id
)
SELECT user_id, first_view, first_click, first_purchase,
       CASE WHEN first_view IS NOT NULL AND first_click > first_view
                 AND first_purchase > first_click THEN TRUE
            ELSE FALSE END AS completed_funnel
FROM firsts
""",
)
def q19_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation funnel (view → click → purchase
    ordering per user): MIN(CASE WHEN ...) pivots event types into
    columns in a single pass — no self-joins."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("first_view"),
        first_of("click").alias("first_click"),
        first_of("purchase").alias("first_purchase"),
    )
    completed = (
        F.col("first_view").isNotNull()
        & (F.col("first_click") > F.col("first_view"))
        & (F.col("first_purchase") > F.col("first_click"))
    )
    return firsts.select(
        "user_id",
        "first_view",
        "first_click",
        "first_purchase",
        F.coalesce(completed, F.lit(False)).alias("completed_funnel"),
    )


@query(
    "q41_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(FLOOR(date_diff('day', CAST(cohort_week AS DATE), CAST(ts AS DATE)) / 7)
              AS INT) AS weeks_since
  FROM events e JOIN firsts f USING (user_id)
)
SELECT CAST(cohort_week AS DATE) AS cohort_week,
       weeks_since,
       COUNT(*) AS n_users
FROM activity
GROUP BY 1, 2
""",
)
def q41_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity
    week, counted per weeks-elapsed offset. Two shuffles (first per
    user, then the cohort-cell count); the per-user first is the
    map-side-combinable MIN, and the week arithmetic stays on whole
    day counts so both engines agree without interval semantics.
    (Monday week-start on both engines.)"""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    weeks_since = F.floor(
        F.datediff(F.to_date("ts"), F.col("cohort_week").cast("date")) / 7
    ).cast("int")
    activity = (
        events.join(firsts, "user_id")
        .select("user_id", "cohort_week", weeks_since.alias("weeks_since"))
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "weeks_since",
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q42_value_percentiles",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       quantile_disc(value, 0.5)  AS p50,
       quantile_disc(value, 0.9)  AS p90,
       quantile_disc(value, 0.99) AS p99,
       MAX(value) AS max_value
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
""",
)
def q42_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles per event type
    (``percentile_disc``: an actual data value, no interpolation —
    deterministic and engine-portable, unlike continuous quantiles
    whose interpolation arithmetic differs between engines). At
    100 TB the documented swap is ``approx_percentile`` (t-digest,
    one pass, mergeable sketches); exact disc percentiles sort
    per-group and are the verification tier."""
    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99"),
        F.max("value").alias("max_value"),
    )


@query(
    "q43_approx_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users,
       TRUE AS approx_users_ok,
       TRUE AS approx_p50_ok,
       TRUE AS approx_p95_ok
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
""",
)
def q43_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch tier for 100 TB interactive stats: HyperLogLog++
    distinct users and t-digest percentiles per event type, plus the
    exact count for scale. One pass, mergeable partial sketches —
    constant memory per group where the exact tier (q42) sorts.

    Sketch estimates are engine-specific, so raw estimates cannot
    hash-match a DuckDB oracle. Instead the gate checks the sketch
    tier's CONTRACT: the query emits the exact values (oracled
    normally) plus booleans asserting each sketch landed within its
    documented tolerance (HLL++ rsd=0.02 → 3σ=6 %; t-digest → 5 %
    of the exact discrete percentile). The oracle asserts TRUE — if
    a sketch drifts out of tolerance the gate fails, which is the
    meaningful cross-engine claim about approximate operators.

    The three aggregate families deliberately run as SEPARATE
    aggregations joined on the group key (a handful of rows) rather
    than one mixed ``agg``: a mixed list pins the plan to its
    weakest member — the DISTINCT agg forces an Expand and the
    sort-based ``percentile_disc`` forces SortAggregate, where the
    typed-imperative HLL/t-digest buffers are serialized per row
    instead of living in the ObjectHashAggregate map (measured 5×:
    3.8 s mixed → 0.7 s split at sf0.1). Split, each family gets
    its best physical form and its own column-pruned scan; at
    100 TB only the sketch aggregation (one pass, mergeable
    partials) would run — the exact columns are the gate's
    verification tier, not the production path."""
    events = load_table(spark, sf_dir, "events")
    exact_p = "percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
    base = events.filter(F.col("value").isNotNull())
    exact_counts = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )
    sketches = base.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.approx_percentile("value", F.array(F.lit(0.5), F.lit(0.95)), 10000)
        .alias("approx_p50_p95"),
    ).withColumnRenamed("event_type", "et_s")
    exact_pctl = base.groupBy("event_type").agg(
        F.expr(exact_p.format(q=0.5)).alias("exact_p50"),
        F.expr(exact_p.format(q=0.95)).alias("exact_p95"),
    ).withColumnRenamed("event_type", "et_p")
    # eqNullSafe: a NULL event_type group must survive the
    # split-aggregation joins (see tpch.py q01 — same pattern)
    agged = (
        exact_counts.join(
            sketches, F.col("event_type").eqNullSafe(F.col("et_s"))
        )
        .join(exact_pctl, F.col("event_type").eqNullSafe(F.col("et_p")))
        .drop("et_s", "et_p")
    )

    def within(approx: F.Column, exact: F.Column, rel: float) -> F.Column:
        tol = F.greatest(F.abs(exact) * rel, F.lit(1e-9))
        return (F.abs(approx - exact) <= tol).alias("ok")

    return agged.select(
        "event_type",
        "n",
        "n_users",
        within(
            F.col("approx_users").cast("double"),
            F.col("n_users").cast("double"),
            0.06,
        ).alias("approx_users_ok"),
        within(F.col("approx_p50_p95")[0], F.col("exact_p50"), 0.05).alias(
            "approx_p50_ok"
        ),
        within(F.col("approx_p50_p95")[1], F.col("exact_p95"), 0.05).alias(
            "approx_p95_ok"
        ),
    )


@query(
    "q44_asof_config",
    oracle="""
WITH cfg AS (
  SELECT event_type, ts, MAX(value) AS cfg_value
  FROM events WHERE event_id % 97 = 0
  GROUP BY event_type, ts
)
SELECT e.event_id, e.event_type, e.ts, c.cfg_value
FROM events e
ASOF LEFT JOIN cfg c
  ON e.event_type = c.event_type AND e.ts >= c.ts
""",
)
def q44_asof_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof): stamp every event with the
    latest config epoch at or before its timestamp — the
    slowly-changing-dimension backfill shape. Our union+window
    formulation (one key shuffle, linear state) is checked against
    DuckDB's native ASOF JOIN. Epochs dedupe on (key, ts) first so
    both engines resolve ties identically."""
    from shopify_db_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    cfg = (
        events.filter(F.col("event_id") % 97 == 0)
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("cfg_value"))
    )
    out = asof_join(
        events.select("event_id", "event_type", "ts"),
        cfg,
        on="event_type",
    )
    return out.select("event_id", "event_type", "ts", "cfg_value")


@query(
    "q45_promo_range_join",
    oracle="""
WITH promo AS (
  SELECT event_id AS promo_id, event_type,
         ts AS promo_start,
         ts + INTERVAL 2 HOUR AS promo_end
  FROM events WHERE event_id % 89 = 0
)
SELECT e.event_id, e.event_type, p.promo_id
FROM events e
JOIN promo p
  ON p.event_type = e.event_type
 AND p.promo_start <= e.ts AND e.ts < p.promo_end
""",
)
def q45_promo_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators.rangejoin): events matched to the promo
    windows containing them, blocked by event_type. Bucketized to an
    equi-join on (key, hour-bucket) + exact filter — DuckDB's native
    IEJoin answers the same query as the oracle."""
    from shopify_db_spark.operators.rangejoin import bucketed_range_join

    events = load_table(spark, sf_dir, "events")
    promo = events.filter(F.col("event_id") % 89 == 0).select(
        F.col("event_id").alias("promo_id"),
        "event_type",
        F.col("ts").alias("promo_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("promo_end"),
    )
    out = bucketed_range_join(
        events.select("event_id", "event_type", "ts"),
        promo,
        point_ts="ts",
        start_col="promo_start",
        end_col="promo_end",
        bucket_seconds=3600,
        keys=["event_type"],
    )
    return out.select("event_id", "event_type", "promo_id")


@query(
    "q48_hourly_gapfill",
    oracle="""
WITH bounds AS (
  SELECT DATE_TRUNC('hour', MIN(ts)) AS lo, DATE_TRUNC('hour', MAX(ts)) AS hi
  FROM events
),
hours AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT h.hour, t.event_type FROM hours h CROSS JOIN types t),
actual AS (
  SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT g.hour, g.event_type, COALESCE(a.n, 0) AS n_events
FROM grid g LEFT JOIN actual a USING (hour, event_type)
""",
)
def q48_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series gap-fill: the hour × event-type grid
    (sequence + explode of the min/max hour bounds crossed with the
    distinct types — both tiny) left-joined with the actual hourly
    counts, zeros filled. The grid side is dimension-sized at any
    data scale; the one real shuffle is the hourly aggregation."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = events.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    actual = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        grid.join(actual, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
    )


@query(
    "q78_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                  '__start') AS from_state,
         event_type AS to_state
  FROM events
),
counts AS (
  SELECT from_state, to_state, COUNT(*) AS n_transitions
  FROM seq GROUP BY from_state, to_state
)
SELECT from_state, to_state, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY from_state) AS DOUBLE)
         AS prob
FROM counts
""",
)
def q78_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (behavioral model features / next-event priors): lag
    per user (ties break by event_id), synthetic ``__start`` state
    for each user's first event, transition counts, and row-
    normalized probabilities. Scale: one shuffle on ``user_id`` for
    the lag, one hash aggregate to the |states|² count table —
    the normalizing window then runs on that dimension-sized table,
    partitioned by ``from_state``. The probability is a ratio of
    exact counts, so it is engine-deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.coalesce(
            F.lag("event_type").over(w), F.lit("__start")
        ).alias("from_state"),
        F.col("event_type").alias("to_state"),
    )
    counts = seq.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    norm_w = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm_w).cast("double")
        ).alias("prob"),
    )


@query(
    "q81_scd2_intervals",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, event_type, ts,
         SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_no
  FROM ordered
),
intervals AS (
  SELECT user_id, event_type AS state, CAST(run_no AS INT) AS run_no,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, event_type, run_no
)
SELECT user_id, state, run_no, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_no)
           AS valid_to,
       n_events
FROM intervals
""",
)
def q81_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 intervalization: collapse each user's event-type
    sequence into validity intervals [valid_from, valid_to) — the
    gaps-and-islands build that turns an append-only change log into
    the slowly-changing dimension q44's as-of join consumes
    (valid_to NULL = current state). Change detection via lag,
    run ids via running sum, interval bounds via lead — all three
    windows and the aggregate share ONE shuffle on ``user_id``
    (run_no ordering is a subsort of the event ordering). Ties on
    ``ts`` break by ``event_id``."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.withColumn(
        "run_no",
        F.sum(changed)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    intervals = runs.groupBy(
        "user_id", F.col("event_type").alias("state"), "run_no"
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    iw = Window.partitionBy("user_id").orderBy("run_no")
    return intervals.select(
        "user_id",
        "state",
        "run_no",
        "valid_from",
        F.lead("valid_from").over(iw).alias("valid_to"),
        "n_events",
    )


@query(
    "q83_hopping_window",
    oracle="""
WITH hopped AS (
  SELECT TIMESTAMP '1970-01-01 00:00:00'
           + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800
                             - k.k * 1800 AS BIGINT)) AS window_start,
         event_type, user_id, value
  FROM events, UNNEST(generate_series(0, 1)) AS k(k)
)
SELECT window_start,
       window_start + INTERVAL 60 MINUTE AS window_end,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
           AS total_value
FROM hopped
GROUP BY window_start, event_type
""",
)
def q83_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregate: 60-minute windows every
    30 minutes, so each event lands in exactly two windows — the
    overlap q15's tumbling windows cannot express (native
    ``F.window(ts, '60 minutes', '30 minutes')``; Catalyst plans the
    two-fold assignment as one Expand, not a join). The oracle
    mirrors the assignment arithmetic explicitly (window starts are
    the slide-aligned epoch grid). Everything stays TIMESTAMP_NTZ on
    both engines; the value sum is DECIMAL-exact."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "60 minutes", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_out(F.sum(dec("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


@query(
    "q93_touch_attribution",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IN ('click', 'view') THEN event_id END
             AS touch_id,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END
             AS touch_kind,
         CASE WHEN event_type IN ('click', 'view') THEN ts END AS touch_ts
  FROM events
),
carried AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(touch_id IGNORE NULLS) OVER w AS touch_event_id,
         last_value(touch_kind IGNORE NULLS) OVER w AS touch_type,
         last_value(touch_ts IGNORE NULLS) OVER w AS touch_ts
  FROM marked
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, touch_event_id, touch_type,
       touch_event_id IS NOT NULL
         AND epoch_us(ts) - epoch_us(touch_ts) <= 86400000000
         AS attributed
FROM carried
WHERE event_type = 'purchase'
""",
)
def q93_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is attributed
    to the user's most recent preceding click/view, provided it
    happened within a 24 h lookback — the conditional-carry-forward
    window (``last(..., ignorenulls=True)``) that powers attribution,
    propensity features, and session stitching. One shuffle on
    ``user_id``; the 24 h check compares MICROSECOND instants
    (whole-second casts would misclassify the boundary, q14's
    lesson). Ties on ``ts`` break by ``event_id``; a purchase with
    no prior touch gets ``attributed = false`` and null touch
    columns."""
    ev = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(is_touch, F.col("event_id")).alias("touch_id"),
        F.when(is_touch, F.col("event_type")).alias("touch_kind"),
        F.when(is_touch, F.col("ts")).alias("touch_ts_raw"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = marked.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last("touch_id", ignorenulls=True).over(w).alias("touch_event_id"),
        F.last("touch_kind", ignorenulls=True).over(w).alias("touch_type"),
        F.last("touch_ts_raw", ignorenulls=True).over(w).alias("touch_ts"),
    )
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    touch_micros = F.unix_micros(F.col("touch_ts").cast("timestamp"))
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "touch_event_id",
        "touch_type",
        (
            F.col("touch_event_id").isNotNull()
            & ((micros - touch_micros) <= 86_400_000_000)
        ).alias("attributed"),
    )


# ---------------------------------------------------------------------------
# q157: robust per-type outlier profile — median/MAD instead of
# mean/stddev (the profiling tier's q97 has moment statistics; a
# heavy-tailed `value` column makes those useless for anomaly
# gates, which is why monitoring pipelines standardize on the
# median absolute deviation). Both statistics are EXACT ORDER
# STATISTICS — the lower median element selected at rank
# ⌊(n+1)/2⌋ — not interpolated averages, so no float arithmetic is
# invented: the reported median/MAD are values that exist in the
# data, selected identically by both engines (value ties broken on
# event_id). The outlier rule |v − med| > 3·MAD is a deterministic
# IEEE comparison. Ranks within each type come from the q149 trick:
# the q08/q58 two-phase global numbering over (type, value, id)
# range partitions minus each type's broadcast MIN rank — no
# data-sized window partition at any scale (event types are few and
# huge). Two passes by construction (MAD needs the median first) —
# the honest cost of the statistic.
@query(
    "q157_robust_outliers",
    oracle="""
WITH ranked AS (
  SELECT event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, n, value AS median
  FROM ranked WHERE r = (n + 1) // 2
),
dev AS (
  SELECT e.event_id, e.event_type, ABS(e.value - m.median) AS ad
  FROM events e JOIN med m ON m.event_type = e.event_type
),
ranked2 AS (
  SELECT event_type, ad,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ad ASC, event_id ASC) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, ad AS mad FROM ranked2 WHERE r = (n + 1) // 2
)
SELECT m.event_type, CAST(m.n AS BIGINT) AS n, m.median, d2.mad,
       CAST(SUM(CASE WHEN dv.ad > 3 * d2.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM med m
JOIN mad d2 ON d2.event_type = m.event_type
JOIN dev dv ON dv.event_type = m.event_type
GROUP BY m.event_type, m.n, m.median, d2.mad
""",
)
def q157_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier profile per event type (see section
    comment). Returns (event_type, n, median, mad, n_outliers)."""
    from shopify_db_spark.operators.numbering import global_row_numbers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )

    def group_rank(df: DataFrame, val_col: str) -> DataFrame:
        rn = global_row_numbers(
            df, ["event_type", val_col, "event_id"], "__g"
        )
        offs = rn.groupBy("event_type").agg(
            F.min("__g").alias("__o"), F.count(F.lit(1)).alias("n")
        )
        return rn.join(F.broadcast(offs), "event_type").withColumn(
            "__r", F.col("__g") - F.col("__o") + 1
        )

    # med/mad are #types-row frames consumed by several downstream
    # joins; checkpointing them stops the two-phase numbering
    # lineage (offsets windows and persisted rank frames) from being
    # replayed once per consumer (14 SinglePartition exchanges in
    # the naive plan, 1 after truncation — the mmr_rerank idiom)
    med = (
        group_rank(ev, "value")
        .filter(F.col("__r") == F.expr("(n + 1) DIV 2"))
        .select("event_type", "n", F.col("value").alias("median"))
        .localCheckpoint()
    )
    dev = ev.join(F.broadcast(med.drop("n")), "event_type").select(
        "event_id",
        "event_type",
        F.abs(F.col("value") - F.col("median")).alias("ad"),
    )
    mad = (
        group_rank(dev, "ad")
        .filter(F.col("__r") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("ad").alias("mad"))
        .localCheckpoint()
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type", "n", "median", "mad")
        .agg(
            F.sum(
                (F.col("ad") > 3 * F.col("mad")).cast("long")
            ).alias("n_outliers")
        )
        .select("event_type", "n", "median", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# q158: recency-decayed engagement scores — exponential time decay
# with EXACT integer arithmetic: the standard score
# Σ 2^(−age/half_life) is float-exponent territory, but flooring
# the exponent to whole half-lives turns every weight into a right
# SHIFT of the ppm unit — weight_ppm = 10⁶ >> (age_days DIV 7) —
# so per-user scores are exact BIGINT sums at any scale and any
# summation order (the q146 ppm discipline applied to decay).
# age_days is calendar-date arithmetic on the NTZ timestamps
# (tz-free on both engines); "now" is the corpus max date, so the
# score is a pure function of the data. Shifts ≥ 20 half-lives are
# clamped to 0 explicitly: 10⁶ < 2²⁰, so the weight is already
# exactly 0 there — and the clamp must sit at 20, not at the shift
# operand's wrap point, because Spark's shiftright wraps the shift
# amount mod the BASE WIDTH (mod-32 for an int-typed 1000000: an
# unguarded 224-day-old event shifts by 32 ≡ 0 and wraps back to
# weight 10⁶). The base is also cast
# to BIGINT so even the 20–63 range is well-defined; both guards
# applied identically in engine and oracle.
#
# Scale shape: a 1-row max-date broadcast, per-row weight
# arithmetic, ONE user-keyed partial-aggregated shuffle (~1 row per
# event in, #users rows out).
@query(
    "q158_decayed_engagement",
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
def q158_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed per-user engagement (see section comment).
    Returns (user_id, n_events, decayed_ppm, days_since_last)."""
    ev = load_table(spark, sf_dir, "events")
    now_d = ev.agg(F.max(F.col("ts").cast("date")).alias("nd"))
    w = ev.crossJoin(F.broadcast(now_d)).select(
        "user_id",
        F.datediff(F.col("nd"), F.col("ts").cast("date")).alias(
            "age_days"
        ),
    ).select(
        "user_id",
        "age_days",
        F.expr(
            "CASE WHEN age_days DIV 7 >= 20 THEN CAST(0 AS BIGINT) "
            "ELSE shiftright(CAST(1000000 AS BIGINT), "
            "CAST(age_days DIV 7 AS INT)) END"
        ).alias("w_ppm"),
    )
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("w_ppm").cast("long")).alias("decayed_ppm"),
        F.min("age_days").cast("long").alias("days_since_last"),
    )
