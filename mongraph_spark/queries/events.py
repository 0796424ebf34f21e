"""Event-stream analytics over the ``events`` table, batch-checked: tumbling
windows, sessionization, JSON props extraction, per-type stats.

These are the *batch* realizations; mongraph_spark.streaming runs the same
logic as Structured Streaming (readStream + watermark + window /
session_window) and the test suite asserts streaming == batch on this data.
Oracles: DuckDB time_bucket aligns with Spark's F.window on epoch boundaries
(session timezone pinned to UTC in sparkutil).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark.sparkutil import const_part, lineage_cut, read_table, scratch_dir

SESSION_GAP_MIN = 30


# -- tumbling window aggregation ------------------------------------------------


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


ORACLE_TUMBLING = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# -- sessionization: gap > 30 min starts a new session ------------------------------


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    with_id = with_flag.withColumn(
        "session_seq", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


ORACLE_SESSIONS = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       round(sum(value), 2) AS session_value
FROM numbered
GROUP BY user_id, session_seq
"""


# -- JSON props extraction -------------------------------------------------------------


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
        )
    )


ORACLE_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 END) AS n_with_k
FROM events
GROUP BY event_type
"""


# -- per-type stats + hourly top type (window over agg) -----------------------------------


def events_hourly_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hour").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("hour", F.col("event_type").alias("top_type"), "n")
    )


ORACLE_HOURLY_TOP = """
SELECT hour, event_type AS top_type, n FROM (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY count(*) DESC, event_type ASC) AS rk
  FROM events
  GROUP BY 1, 2
) WHERE rk = 1
"""


# -- hypertable rollup: daily aggregates answered FROM the hourly rollup --------------
#
# The continuous-aggregate pattern: coarse windows are re-aggregations of the
# fine rollup (sum of sums, sum of counts; avg recomputed from them), never
# of the raw table.  At 100 TB the hourly table is a materialized store ~3-4
# orders of magnitude smaller than raw events, and every coarser resolution
# reads it instead.  The oracle computes daily straight from raw events, so
# the check proves the rollup-of-rollup composition is lossless.


def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Values aggregate as integer cents: integer sums are associative, so
    "daily from hourly" equals "daily from raw" *bit-exactly* — which is the
    invariant a continuous aggregate must guarantee (float partial sums only
    match to rounding, and re-aggregation reorders the summation)."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    # JSON props extraction rides the same rollup: sum/count of the
    # extracted key are associative, so they re-aggregate losslessly too
    k = F.get_json_object("props", "$.k").cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sc"),
        F.sum(k).alias("sk"),
        F.count(F.when(k.isNotNull(), 1)).alias("nk"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sc").alias("sum_value_cents"),
            F.floor(F.sum("sc") / F.sum("n")).cast("long").alias("avg_value_cents"),
            F.sum("sk").alias("sum_k"),
            F.sum("nk").alias("n_with_k"),
        )
    )


ORACLE_HYPERTABLE = """
SELECT date_trunc('day', ts) AS day, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       CAST(floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*)) AS BIGINT) AS avg_value_cents,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 END) AS n_with_k
FROM events
GROUP BY 1, 2
"""


# -- as-of join: attribute each purchase to the most recent preceding event ----------
#
# Spark has no native as-of join; the scalable realization is the tagged
# union + ordered window ("carry the last build row forward"): ONE shuffle
# keyed on user_id with a per-partition sort — same cost shape as a
# sort-merge join, no range explosion, no per-row probe.  DuckDB's native
# ASOF JOIN is the oracle, so the composition is verified against a real
# as-of implementation.


def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # build side: at most one candidate per (user_id, ts) — max event_id wins
    # (makes the as-of pick deterministic in both engines under ts ties)
    build = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("b_event_id"),
            F.max_by("event_type", "event_id").alias("b_type"),
        )
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    tagged = build.select(
        "user_id", "ts", F.lit(0).alias("is_probe"), "b_event_id", "b_type",
        F.lit(None).cast("long").alias("purchase_id"),
    ).unionByName(
        probe.select(
            "user_id", "ts", F.lit(1).alias("is_probe"),
            F.lit(None).cast("long").alias("b_event_id"),
            F.lit(None).cast("string").alias("b_type"),
            "purchase_id",
        )
    )
    # strict "before": probes sort ahead of build rows at the same ts, so a
    # same-instant event is not visible to the purchase
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.desc("is_probe"), F.asc("b_event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "is_probe",
        "purchase_id",
        F.last("b_event_id", ignorenulls=True).over(w).alias("prev_event_id"),
        F.last("b_type", ignorenulls=True).over(w).alias("prev_type"),
    )
    return (
        carried.filter((F.col("is_probe") == 1) & F.col("prev_event_id").isNotNull())
        .select("purchase_id", "prev_event_id", "prev_type")
    )


ORACLE_ASOF = """
WITH build AS (
  SELECT user_id, ts, max(event_id) AS b_event_id,
         arg_max(event_type, event_id) AS b_type
  FROM events WHERE event_type <> 'purchase'
  GROUP BY user_id, ts
),
probe AS (
  SELECT user_id, ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, b.b_event_id AS prev_event_id, b.b_type AS prev_type
FROM probe p ASOF JOIN build b
  ON p.user_id = b.user_id AND p.ts > b.ts
"""


def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap-fill (the TimescaleDB ``time_bucket_gapfill``
    pattern): a dense hour × event_type grid from the stream's own bounds,
    left-joined against the actual hourly rollup, missing cells zero-filled
    and flagged.

    Distributed shape: the spine is generated from a 1-row min/max
    aggregate (``sequence`` + explode — rows = hours × types, tiny relative
    to the events), the type list is a small distinct, and the only big-side
    work is the hourly rollup itself; the grid side of the final join is
    broadcast."""
    ev = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    actual = ev.groupBy(hour.alias("hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(types)
    return (
        F.broadcast(grid)
        .join(actual, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
            F.col("n_events").isNull().cast("int").alias("is_gap"),
        )
    )


ORACLE_GAPFILL = """
WITH actual AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT unnest(generate_series(date_trunc('hour', (SELECT min(ts) FROM events)),
                                date_trunc('hour', (SELECT max(ts) FROM events)),
                                INTERVAL 1 HOUR)) AS hour
), grid AS (
  SELECT hour, event_type FROM spine, (SELECT DISTINCT event_type FROM events)
)
SELECT g.hour, g.event_type,
       coalesce(a.n_events, 0) AS n_events,
       coalesce(a.sum_value, 0.0) AS sum_value,
       CAST(a.n_events IS NULL AS INTEGER) AS is_gap
FROM grid g LEFT JOIN actual a ON g.hour = a.hour AND g.event_type = a.event_type
"""


# -- EWMA smoothing over the gap-filled hourly series ---------------------------------

EWMA_TAPS = 6  # trailing buckets; half-life = 1 bucket (weight 2^(TAPS-1-k))


def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event counts per
    type — the smoothing pass monitoring pipelines run before alerting so
    a single noisy bucket doesn't page anyone.  Computed over the
    GAP-FILLED series (missing hours count as 0 — skipping gaps would
    silently stretch the decay horizon), which makes ``lag(k)`` exactly
    "k hours ago".

    Integer-exact EWMA: a true recursive EWMA is a sequential scan, but a
    6-tap truncated kernel with power-of-two weights (2^5..2^0 — >98% of
    the infinite mass at half-life 1) is just Σ lag_k·2^(TAPS-1-k), an
    integer expression over window lags; the divisor sums only the taps
    that exist (series warm-up), and the result is emitted ×10000 via
    integer floor-div.  One window shuffle keyed on event_type over the
    grid (hours × types — tiny relative to the raw stream at any scale;
    the only scan-sized work is the hourly rollup it reuses)."""
    grid = events_gapfill_hourly(spark, sf_dir).select(
        "hour", "event_type", "n_events"
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    num = sum(
        (
            F.coalesce(F.lag("n_events", k).over(w), F.lit(0))
            * F.lit(2 ** (EWMA_TAPS - 1 - k))
        )
        for k in range(EWMA_TAPS)
    )
    den = sum(
        (
            F.lag("n_events", k).over(w).isNotNull().cast("long")
            * F.lit(2 ** (EWMA_TAPS - 1 - k))
        )
        for k in range(EWMA_TAPS)
    )
    return grid.select(
        "hour",
        "event_type",
        "n_events",
        (10000 * num).alias("num"),
        den.alias("den"),
    ).select(
        "hour",
        "event_type",
        "n_events",
        F.expr("num div den").cast("bigint").alias("ewma_x10k"),
    )


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(n_events, {k}) OVER w, 0) * {2 ** (EWMA_TAPS - 1 - k)}"
        for k in range(EWMA_TAPS)
    )
    den = " + ".join(
        f"CAST(lag(n_events, {k}) OVER w IS NOT NULL AS BIGINT) * {2 ** (EWMA_TAPS - 1 - k)}"
        for k in range(EWMA_TAPS)
    )
    return f"""
WITH actual AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT unnest(generate_series(date_trunc('hour', (SELECT min(ts) FROM events)),
                                date_trunc('hour', (SELECT max(ts) FROM events)),
                                INTERVAL 1 HOUR)) AS hour
), grid AS (
  SELECT s.hour, t.event_type, coalesce(a.n_events, 0) AS n_events
  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN actual a ON s.hour = a.hour AND t.event_type = a.event_type
)
SELECT hour, event_type, n_events,
       CAST((10000 * ({num})) // ({den}) AS BIGINT) AS ewma_x10k
FROM grid
WINDOW w AS (PARTITION BY event_type ORDER BY hour)
"""


ORACLE_EWMA = _ewma_oracle()


# -- min/max chart downsampling ---------------------------------------------------


def events_minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart decimation (the TimescaleDB/Grafana downsample shape): per
    (event_type, 6-hour bucket) keep only what a plot needs — count, the
    min/max values, and the first/last event ids in time order.  One
    groupBy; the ordered picks ride min/max over (ts, event_id) structs, so
    there is no window pass and no per-bucket sort — at scale this is a
    single partial-aggregatable shuffle, 4 orders of magnitude output
    reduction.  Value extremes in integer cents (engine-stable)."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(cents).alias("min_value_cents"),
            F.max(cents).alias("max_value_cents"),
            F.min(ordkey)["event_id"].alias("first_event_id"),
            F.max(ordkey)["event_id"].alias("last_event_id"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "min_value_cents",
            "max_value_cents",
            "first_event_id",
            "last_event_id",
        )
    )


ORACLE_MINMAX_DOWNSAMPLE = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start, event_type,
       count(*) AS n_events,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_value_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_value_cents,
       first(event_id ORDER BY ts, event_id) AS first_event_id,
       last(event_id ORDER BY ts, event_id) AS last_event_id
FROM events
GROUP BY 1, 2
"""


# -- conversion funnel: view -> click -> purchase ---------------------------------


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: a user advances a stage only if their
    FIRST event of that stage is strictly after their first event of the
    previous stage (first view < first click < first purchase).

    Distributed shape: conditional-min aggregates fold the whole funnel into
    ONE user-keyed groupBy (partial aggs absorb per-user event skew
    map-side), then a 1-row rollup — no joins between stage tables, no
    window pass.  Adding stages adds columns, not shuffles."""
    ev = read_table(spark, sf_dir, "events")

    def first_ts(stage: str):
        return F.min(F.when(F.col("event_type") == stage, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    count_if = lambda c: F.sum(c.cast("int")).cast("long")  # noqa: E731
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        count_if(viewed).alias("n_viewed"),
        count_if(clicked).alias("n_clicked_after_view"),
        count_if(purchased).alias("n_purchased_after_click"),
    )


ORACLE_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_viewed,
       CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clicked_after_view,
       CAST(sum(CASE WHEN t_click > t_view AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchased_after_click
FROM per_user
"""


# -- pivot: one column per event type ---------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily wide table: one count column per event type via
    ``groupBy().pivot()``.  The pivot values are an EXPLICIT list — without
    it Spark runs a distinct-collect job over the fact table just to learn
    the column set, a hidden extra scan at 100 TB (and nondeterministic
    column order).  With the list it is ONE partial-aggregatable shuffle,
    exactly a groupBy(day, type) in wide clothing."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
        )
    )


ORACLE_PIVOT_DAILY = """
SELECT date_trunc('day', ts) AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events
GROUP BY 1
"""


# -- incremental rollup refresh (materialized-view maintenance) --------------------

REFRESH_CUTOFF = "2024-01-25"


def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the daily rollup is maintained
    as BASE partials (history, already materialized) merged with DELTA
    partials (the new ingest since the cutoff) — re-aggregating partial
    (count, sum) pairs instead of recomputing history.  Correctness rests
    on associativity, which is why the measures are integer cents: the
    merged result is bit-exactly the full recompute, and the oracle IS the
    full recompute, so the equivalence is what the gate checks.

    At 100 TB this is the only viable refresh shape: the base partials are
    a parquet table keyed/partitioned by day (history partitions untouched),
    the delta scan reads only the ingest slice (partition-pruned by the
    cutoff filter), and the merge shuffles |days × types| partial rows —
    not the corpus.  AVG is derived from (sum, count) at read time; never
    materialize non-associative aggregates in the partials."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cutoff = F.lit(REFRESH_CUTOFF).cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("sc"),
        )

    base = partials(ev.filter(F.col("ts") < cutoff))
    delta = partials(ev.filter(F.col("ts") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("sc").alias("sum_cents"))
    )
    return merged.select(
        "day",
        "event_type",
        "n_events",
        "sum_cents",
        F.floor(F.col("sum_cents") / F.col("n_events")).cast("long").alias("avg_cents"),
    )


ORACLE_INCREMENTAL = """
SELECT date_trunc('day', ts) AS day, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*)) AS BIGINT) AS avg_cents
FROM events
GROUP BY 1, 2
"""


# -- retention cohort analysis ------------------------------------------------------


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by their first active day
    (the cohort), then for each day-offset the number of cohort members
    still active — the product-analytics table behind every retention
    curve.

    Two key-shuffles total, both on user_id: (1) min(day) per user — a
    map-side-combined aggregate, (2) broadcast of nothing: the cohort
    assignment joins back to the distinct (user, day) activity set on
    user_id, then the final (cohort_day, offset) rollup is a combiner-
    friendly count-distinct whose key space is days² — tiny at any scale.
    The first-touch date at 100 TB comes from an incremental min-merge
    (same associativity argument as the rollup refresh), not a rescan."""
    ev = read_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("long").alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


ORACLE_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


# -- threshold anomaly flagging (per-type exact-percentile control limit) -----------


def events_threshold_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier surfacing for monitoring: per event type, compute the exact
    p99 of ``value`` (few types, bounded groups — exact is fine; at 100 TB
    per-key percentile_approx gives the same plan with mergeable t-digest
    state), broadcast the tiny threshold table back onto the stream, and
    report per (hour, type) how many events exceeded their type's control
    limit.  Only (hour, type) cells that contain at least one anomaly are
    emitted — the alerting shape, not a dense grid.

    Two passes over one scan lineage (threshold agg + flag/re-agg), both
    map-side combined; the join is a broadcast of O(|types|) rows."""
    ev = read_table(spark, sf_dir, "events")
    thr = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.99)), 2).alias("p99")
    )
    flagged = ev.join(F.broadcast(thr), "event_type").withColumn(
        "is_anom", (F.col("value") > F.col("p99")).cast("long")
    )
    return (
        flagged.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_anom").alias("n_anomalies"),
        )
        .filter(F.col("n_anomalies") > 0)
    )


ORACLE_THRESHOLD_ANOMALY = """
WITH thr AS (
  SELECT event_type, round(quantile_cont(value, 0.99), 2) AS p99
  FROM events GROUP BY event_type
)
SELECT hour, event_type, n_events, n_anomalies FROM (
  SELECT date_trunc('hour', e.ts) AS hour, e.event_type,
         count(*) AS n_events,
         CAST(sum(CASE WHEN e.value > t.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
  FROM events e JOIN thr t ON e.event_type = t.event_type
  GROUP BY 1, 2
) WHERE n_anomalies > 0
"""


# -- heavy hitters: per-partition Misra-Gries candidates + exact recount -------------

HH_DENOM = 200  # heavy = user with >= 1/200 (0.5%) of all events


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users (≥ 1/200 of all events) by the two-pass sketch
    pattern that works at any scale: pass 1 runs the Frequent/Misra-Gries
    algorithm JVM-side (``DataFrame.stat.freqItems`` — the
    Karp-Papadimitriou-Shenker single-pass variant, bounded ``1/support``
    counters per partition, merged in the reduce) to produce a small
    candidate superset; pass 2 exactly recounts ONLY the candidates
    (broadcast semi-join) and applies the true threshold.

    Correctness guarantee (why the output is EXACT, not approximate):
    freqItems documents a SUPERSET contract — every item with global
    frequency > ``support`` is returned, possibly with false positives —
    so recounting the candidates exactly and re-applying the threshold
    yields precisely the true heavy hitters.  The same two-pass shape at
    100 TB: candidates are ≤ 1/support rows (tiny), the recount is one
    broadcast semi-join + combiner-friendly count.  (An earlier revision
    ran the same algorithm as an Arrow ``mapInPandas`` pass with a
    per-partition pigeonhole argument; freqItems is the identical sketch
    without leaving the JVM — zero Python in this batch hot path.)"""
    ev = read_table(spark, sf_dir, "events").select("user_id")

    candidates = (
        ev.stat.freqItems(["user_id"], support=1.0 / HH_DENOM)
        .select(F.explode("user_id_freqItems").alias("user_id"))
        .distinct()
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))  # 1 row
    return (
        ev.join(F.broadcast(candidates), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * HH_DENOM >= F.col("n_total"))
        .select("user_id", "n_events")
    )


ORACLE_HEAVY_HITTERS = f"""
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
HAVING count(*) * {HH_DENOM} >= (SELECT count(*) FROM events)
"""


# -- OHLC bars: open/high/low/close downsampling --------------------------------------


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars per (hour, type) — the financial/monitoring
    downsample where the FIRST and LAST values of the window matter, not
    just the extremes (:func:`events_minmax_downsample` covers those).
    ``min_by``/``max_by`` over a deterministic (ts, event_id) order key
    pick open/close in the SAME aggregation as high/low — one map-side
    combined pass, no window function, no per-window sort.

    The order key is a zero-padded string of (epoch µs, event_id):
    ``arg_min``/``min_by`` in both engines accept a scalar ordering only,
    and the string compares identically to the tuple order — ties on ts
    break on event_id, so replays and shuffles can't flip an open/close."""
    ev = read_table(spark, sf_dir, "events")
    # ts scans as TIMESTAMP_NTZ under a vanilla session; cast for
    # unix_micros.  Only the WITHIN-GROUP order of the key matters (it
    # never leaves the aggregation), and any tz shift is monotonic inside
    # an hour bucket, so the cast cannot flip an open/close.
    order_key = F.format_string(
        "%020d|%012d", F.unix_micros(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    return (
        ev.withColumn("ok", order_key)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.round(F.min_by("value", F.col("ok")), 2).alias("open_v"),
            F.round(F.max("value"), 2).alias("high_v"),
            F.round(F.min("value"), 2).alias("low_v"),
            F.round(F.max_by("value", F.col("ok")), 2).alias("close_v"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_OHLC = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       round(arg_min(value, printf('%020d|%012d', epoch_us(ts), event_id)), 2) AS open_v,
       round(max(value), 2) AS high_v,
       round(min(value), 2) AS low_v,
       round(arg_max(value, printf('%020d|%012d', epoch_us(ts), event_id)), 2) AS close_v,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
"""


# -- CoW store time travel: version-over-version CDC diff ----------------------------


def store_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two pinned versions of the copy-on-write
    store (``sources/merge.py``): v0 = per-user totals over the first 15
    days of events; v1 = v0 upserted with full totals for every user active
    after the cutoff.  The diff reads BOTH immutable versions
    (``read_version`` — the ``VERSION AS OF`` time-travel shape) and
    classifies each key inserted / updated / unchanged with its net value
    delta — what a downstream incremental consumer applies instead of
    re-reading the table.

    Scale shape: the diff is ONE full-outer join keyed on the store key
    (both sides are the compacted per-key table, orders of magnitude
    smaller than raw events), classification and deltas are pure column
    expressions, the rollup is map-side combined.  Integer cents keep the
    deltas hash-exact."""
    from mongraph_spark.sources import merge as merge_store

    root = scratch_dir(spark, sf_dir, "snapshot_diff_store")

    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.date_trunc("day", F.min("ts")) + F.expr("INTERVAL 15 DAYS")).alias("cut")
    )  # day-aligned boundary: identical under ns (DuckDB) and µs (Spark) ts
    evc = ev.crossJoin(F.broadcast(cutoff))
    cents = F.round(F.col("value") * 100).cast("long")

    v0_totals = (
        evc.filter(F.col("ts") < F.col("cut"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("sum_cents"))
    )
    merge_store.init_table(v0_totals, root, key="user_id")  # v_00000, bucketed
    touched = evc.filter(F.col("ts") >= F.col("cut")).select("user_id").distinct()
    updates = (
        evc.join(touched, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("sum_cents"))
    )
    merge_store.upsert(spark, root, updates, key="user_id")  # v_00001

    v0 = merge_store.read_version(spark, root, 0).alias("old")
    v1 = merge_store.read_version(spark, root, 1).alias("new")
    joined = v1.join(v0, F.col("new.user_id") == F.col("old.user_id"), "full_outer")
    change_type = (
        F.when(F.col("old.user_id").isNull(), F.lit("inserted"))
        .when(
            (F.col("new.n_events") != F.col("old.n_events"))
            | (F.col("new.sum_cents") != F.col("old.sum_cents")),
            F.lit("updated"),
        )
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("new.sum_cents"), F.lit(0)) - F.coalesce(
        F.col("old.sum_cents"), F.lit(0)
    )
    return (
        joined.select(change_type.alias("change_type"), delta.alias("delta_cents"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("delta_cents").alias("net_cents_delta"),
        )
    )


ORACLE_SNAPSHOT_DIFF = """
WITH cut AS (SELECT date_trunc('day', min(ts)) + INTERVAL 15 DAY AS cut FROM events),
pre AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events, cut WHERE ts < cut GROUP BY user_id
),
touched AS (SELECT DISTINCT user_id FROM events, cut WHERE ts >= cut),
allt AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events GROUP BY user_id
),
v1 AS (
  SELECT a.user_id, a.n_events, a.sum_cents FROM allt a
  WHERE a.user_id IN (SELECT user_id FROM touched)
  UNION ALL
  SELECT p.user_id, p.n_events, p.sum_cents FROM pre p
  WHERE p.user_id NOT IN (SELECT user_id FROM touched)
)
SELECT change_type, count(*) AS n_keys,
       CAST(sum(delta_cents) AS BIGINT) AS net_cents_delta
FROM (
  SELECT CASE WHEN o.user_id IS NULL THEN 'inserted'
              WHEN n.n_events != o.n_events OR n.sum_cents != o.sum_cents THEN 'updated'
              ELSE 'unchanged' END AS change_type,
         coalesce(n.sum_cents, 0) - coalesce(o.sum_cents, 0) AS delta_cents
  FROM v1 n FULL OUTER JOIN pre o ON n.user_id = o.user_id
)
GROUP BY change_type
"""


# -- cumulative distinct users (first-seen trick) -------------------------------------


def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active + CUMULATIVE distinct users — the growth-curve query
    that's quadratic if written naively (running COUNT(DISTINCT) re-scans
    all history per day).  The exact linear form: distinct-over-time =
    running sum of FIRST APPEARANCES — one groupBy(user) min(day) pass,
    a per-day count, and a running sum over the tiny day series (the
    unbounded window runs over |days| rows, not events).

    At 100 TB: two event-scan aggregations (user-keyed, then day-keyed,
    both map-side combinable) and a driver-sized window — no state grows
    with history, which is why warehouses precompute exactly this shape
    for every retention dashboard."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    daily_active = ev.groupBy(day).agg(F.count_distinct("user_id").alias("dau"))
    first_seen = (
        ev.groupBy("user_id")
        .agg(F.min(F.date_trunc("day", F.col("ts"))).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new_users"))
    )
    w = (
        Window.partitionBy(const_part(F.col("day")))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily_active.join(first_seen, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("n_new_users", F.lit(0)).cast("bigint").alias("n_new_users"),
        )
        .withColumn(
            "cumulative_users", F.sum("n_new_users").over(w).cast("bigint")
        )
    )


ORACLE_CUMULATIVE_USERS = """
WITH daily_active AS (
  SELECT date_trunc('day', ts) AS day, count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
),
first_seen AS (
  SELECT day, count(*) AS n_new_users FROM (
    SELECT user_id, min(date_trunc('day', ts)) AS day FROM events GROUP BY user_id
  ) GROUP BY day
)
SELECT d.day, d.dau,
       CAST(coalesce(f.n_new_users, 0) AS BIGINT) AS n_new_users,
       CAST(sum(coalesce(f.n_new_users, 0))
            OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
FROM daily_active d LEFT JOIN first_seen f ON d.day = f.day
"""


# -- count-min sketch with exact verification -----------------------------------------

CMS_D = 4  # hash rows
CMS_W = 64  # counters per row


def events_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over (user_id frequency), verified against exact
    counts for the heavy-hitter users — the mergeable counter sketch that
    answers point frequency queries in O(d) from O(d·w) space (Cormode &
    Muthukrishnan), with the one-sided guarantee est ≥ exact that the
    output exposes as evidence columns.

    Build = ONE aggregation: explode each event into its d (row, col)
    cells (col = md5(row:key) mod w — deterministic, engine-portable) and
    count per cell; the sketch is d·w = 256 rows regardless of input.
    Query = broadcast-join the candidate keys' d cells and take the MIN
    per key.  Candidates come from :func:`events_heavy_hitters`'s exact
    two-pass (so the comparison is itself exact).  At 100 TB the sketch
    build is a combiner-friendly fixed-width aggregation — the shape
    DDSketch/CMS sidecars use to answer per-key counts without a
    per-key groupBy."""
    ev = read_table(spark, sf_dir, "events").select("user_id")
    return cms_finish(cms_sketch(ev), ev)


def _cms_cell() -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r"), F.col("user_id"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % CMS_W
    )


def cms_sketch(ev: DataFrame) -> DataFrame:
    """(r, c, cnt) cell counts — a plain sum aggregation, so the SAME plan
    runs as a complete-mode streaming aggregation (the state store IS the
    sketch; see streaming.events.streaming_count_min)."""
    d_rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("r")
    return (
        ev.select("user_id", d_rows)
        .select("r", _cms_cell().alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_finish(sketch: DataFrame, ev: DataFrame) -> DataFrame:
    """Probe the sketch for the exact heavy hitters and emit the
    est >= exact evidence columns."""
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), "user_id").limit(20)
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("r"),
    ).withColumn("c", _cms_cell())
    return (
        probes.join(sketch, ["r", "c"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
        .select(
            "user_id",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_n")).alias("upper_bound_holds"),
        )
    )


ORACLE_COUNT_MIN = f"""
WITH ev AS (SELECT user_id FROM events),
cells AS (
  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {CMS_W} AS c
  FROM ev, (SELECT unnest(range({CMS_D})) AS r)
),
sketch AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
exact AS (SELECT user_id, count(*) AS exact_n FROM ev GROUP BY user_id),
top AS (SELECT user_id, exact_n FROM exact ORDER BY exact_n DESC, user_id LIMIT 20),
probes AS (
  SELECT t.user_id, t.exact_n, r.r,
         ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)), 1, 8))::BIGINT % {CMS_W} AS c
  FROM top t, (SELECT unnest(range({CMS_D})) AS r) r
)
SELECT p.user_id, CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(min(s.cnt) AS BIGINT) AS cms_estimate,
       min(s.cnt) >= p.exact_n AS upper_bound_holds
FROM probes p JOIN sketch s ON p.r = s.r AND p.c = s.c
GROUP BY p.user_id, p.exact_n
"""


# -- session journey paths (top path prefixes) ---------------------------------------

# -- coarsened exact matching (CEM) ATT ---------------------------------------------

CEM_BIN_WIDTH = 5  # pre-period activity coarsening width
# shared panel design (also used by events_did below)
DID_CUT_DAYS = 15  # post-period starts this many days after the corpus start
DID_TREAT_MOD = 7  # user_id % 7 == 0 -> exposed cohort (deterministic panel)


def events_cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened Exact Matching ATT (Iacus, King & Porro) — the MATCHING
    leg of the causal suite: instead of differencing away confounding
    over time (`events_did`), balance the two cohorts on a coarsened
    covariate BEFORE comparing — here each user's pre-period activity
    count, coarsened into width-{CEM_BIN_WIDTH} bins; strata containing
    both cohorts contribute their treated-vs-control post-period outcome
    gap, weighted by treated mass; one-cohort strata are PRUNED (the
    honesty CEM buys: off-support treated users are reported as
    unmatched, not extrapolated).

    Exactness: per-stratum means are exact rationals; chaining their
    weighted sum exactly would stack every stratum denominator
    (overflows any fixed precision), so the estimator is DEFINED on the
    micro grid — each stratum's gap floored to integer micro-cents
    FIRST, then the treated-weighted average floored once (sign-split
    both times).  Deterministic in both engines; documented as the
    grid estimator and replayed exactly in tests.

    Shape: two user-keyed aggregations (pre covariate, post outcome),
    a broadcast 1-row horizon, then everything runs on |strata| rows."""
    ev = read_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    per_user = (
        ev.crossJoin(F.broadcast(d0))
        .withColumn(
            "period",
            F.when(
                F.datediff(F.to_date("ts"), F.col("d0")) >= DID_CUT_DAYS, "post"
            ).otherwise("pre"),
        )
        .groupBy("user_id")
        .agg(
            F.sum((F.col("period") == "pre").cast("int")).alias("n_pre"),
            F.sum(
                F.when(
                    F.col("period") == "post",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            ).alias("post_cents"),
            F.sum((F.col("period") == "post").cast("int")).alias("n_post"),
        )
        .filter(F.col("n_post") > 0)  # outcome defined on post-active users
        .select(
            (F.col("user_id") % DID_TREAT_MOD == 0).cast("int").alias("treated"),
            (F.col("n_pre") / CEM_BIN_WIDTH).cast("long").alias("bin"),
            F.expr("(1000000 * post_cents) div n_post").alias("y_micro"),
        )
    )
    strata = per_user.groupBy("bin").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("y_micro")).otherwise(0))
        .cast("long")
        .alias("sy_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("y_micro")).otherwise(0))
        .cast("long")
        .alias("sy_c"),
    )
    sdiv = (
        "cast(case when ({n}) >= 0 then ({n}) div ({d})"
        " else -((-({n})) div ({d})) end as bigint)"
    )
    gap = sdiv.format(n="sy_t * n_c - sy_c * n_t", d="n_t * n_c")
    matched = strata.withColumn(
        "matched", ((F.col("n_t") > 0) & (F.col("n_c") > 0)).cast("int")
    ).withColumn(
        "gap_micro", F.when(F.col("matched") == 1, F.expr(gap))
    )
    att = matched.agg(
        F.expr(
            "cast(case when coalesce(sum(case when matched = 1 then n_t * gap_micro end), 0) >= 0"
            " then coalesce(sum(case when matched = 1 then n_t * gap_micro end), 0)"
            "      div nullif(sum(case when matched = 1 then n_t end), 0)"
            " else -((-coalesce(sum(case when matched = 1 then n_t * gap_micro end), 0))"
            "        div nullif(sum(case when matched = 1 then n_t end), 0)) end as bigint)"
        ).alias("att_micro"),
        F.coalesce(
            F.sum(F.when(F.col("matched") == 0, F.col("n_t"))), F.lit(0)
        )
        .cast("long")
        .alias("n_treated_unmatched"),
    )
    return (
        matched.crossJoin(F.broadcast(att))
        .select(
            "bin",
            "n_t",
            "n_c",
            "matched",
            "gap_micro",
            "att_micro",
            "n_treated_unmatched",
        )
    )


ORACLE_CEM = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
d0 AS (SELECT min(day) AS d0 FROM ev),
per_user AS (
  SELECT CASE WHEN user_id % {DID_TREAT_MOD} = 0 THEN 1 ELSE 0 END AS treated,
         CAST(sum(CASE WHEN date_diff('day', d0, day) < {DID_CUT_DAYS}
                  THEN 1 ELSE 0 END) // {CEM_BIN_WIDTH} AS BIGINT) AS bin,
         CAST(CASE WHEN (1000000 * sum(CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS}
                                       THEN cents ELSE 0 END)) >= 0
              THEN (1000000 * sum(CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS}
                                  THEN cents ELSE 0 END))
                   // sum(CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS}
                          THEN 1 ELSE 0 END)
              ELSE -((-(1000000 * sum(CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS}
                                      THEN cents ELSE 0 END)))
                     // sum(CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS}
                            THEN 1 ELSE 0 END)) END AS BIGINT) AS y_micro
  FROM ev CROSS JOIN d0
  GROUP BY user_id
  HAVING sum(CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS}
             THEN 1 ELSE 0 END) > 0
),
strata AS (
  SELECT bin,
         CAST(sum(treated) AS BIGINT) AS n_t,
         CAST(sum(1 - treated) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN treated = 1 THEN y_micro ELSE 0 END) AS BIGINT) AS sy_t,
         CAST(sum(CASE WHEN treated = 0 THEN y_micro ELSE 0 END) AS BIGINT) AS sy_c
  FROM per_user GROUP BY bin
),
matched AS (
  SELECT *,
         CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END AS matched,
         CASE WHEN n_t > 0 AND n_c > 0 THEN
           CAST(CASE WHEN (sy_t * n_c - sy_c * n_t) >= 0
                THEN (sy_t * n_c - sy_c * n_t) // (n_t * n_c)
                ELSE -((-(sy_t * n_c - sy_c * n_t)) // (n_t * n_c)) END AS BIGINT)
         END AS gap_micro
  FROM strata
),
att AS (
  SELECT CAST(CASE WHEN coalesce(sum(CASE WHEN matched = 1 THEN n_t * gap_micro END), 0) >= 0
              THEN coalesce(sum(CASE WHEN matched = 1 THEN n_t * gap_micro END), 0)
                   // nullif(sum(CASE WHEN matched = 1 THEN n_t END), 0)
              ELSE -((-coalesce(sum(CASE WHEN matched = 1 THEN n_t * gap_micro END), 0))
                     // nullif(sum(CASE WHEN matched = 1 THEN n_t END), 0)) END AS BIGINT)
           AS att_micro,
         CAST(coalesce(sum(CASE WHEN matched = 0 THEN n_t END), 0) AS BIGINT)
           AS n_treated_unmatched
  FROM matched
)
SELECT bin, n_t, n_c, matched, gap_micro, att_micro, n_treated_unmatched
FROM matched CROSS JOIN att
"""


# -- Theil-Sen robust trend estimator ----------------------------------------------


def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend over daily event volume — the median of all
    pairwise slopes, the breakdown-point-29% alternative to OLS that one
    outage day cannot drag (the OLS slope rides along as the contrast
    column).  The estimator family the battery lacked: robust REGRESSION
    (MAD covers robust scale, Spearman robust association).

    Exactness: slopes are rationals (Δcount/Δdays) with day-grid
    denominators, so distinct slopes differ by ≥ 1/(D·(D−1)) — far above
    double rounding — making the double-keyed ORDER a total order both
    engines agree on (ties broken on the integer pair); the median
    element's value is then floored from ITS integers (sign-split for
    the trunc-vs-floor divide), never from an accumulated float.  OLS is
    the exact rational (nΣxy−ΣxΣy)/(nΣxx−(Σx)²), same floor.

    Scale shape: pairs are built on the |days| PRE-AGGREGATE, never the
    events — C(D,2) rows for D days (435 here; a year is ~66k) — so the
    quadratic stage costs nothing at any event volume; the one data-sized
    operation is the daily count."""
    ev = read_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy(F.datediff(F.to_date("ts"), F.col("d0")).alias("x"))
        .agg(F.count(F.lit(1)).alias("y"))
        .transform(lineage_cut)  # reused by pairs (both sides) + OLS
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            (F.col("yb") - F.col("ya")).cast("long").alias("num"),
            (F.col("xb") - F.col("xa")).cast("long").alias("den"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy(const_part(F.col("num"))).orderBy(
            (F.col("num") / F.col("den")).asc(), "num", "den"
        )
    )
    k_row = pairs.agg(((F.count(F.lit(1)) + 1) / 2).cast("long").alias("k"))
    median = (
        pairs.withColumn("rn", rn)
        .crossJoin(F.broadcast(k_row))
        .filter(F.col("rn") == F.col("k"))
        .select(
            F.expr(
                "cast(case when num >= 0 then (1000000 * num) div den"
                " else -((1000000 * -num) div den) end as bigint)"
            ).alias("theil_sen_micro_per_day")
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        mom.crossJoin(F.broadcast(median))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "n_days",
            "n_pairs",
            "theil_sen_micro_per_day",
            F.expr(
                "cast(case when (n_days * sxy - sx * sy) >= 0"
                " then (1000000 * (n_days * sxy - sx * sy))"
                "      div (n_days * sxx - sx * sx)"
                " else -((1000000 * -(n_days * sxy - sx * sy))"
                "        div (n_days * sxx - sx * sx)) end as bigint)"
            ).alias("ols_micro_per_day"),
        )
    )


ORACLE_THEIL_SEN = """
WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
d0 AS (SELECT min(day) AS d0 FROM ev),
daily AS (
  SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM ev CROSS JOIN d0 GROUP BY 1
),
pairs AS (
  SELECT b.y - a.y AS num, b.x - a.x AS den
  FROM daily a JOIN daily b ON a.x < b.x
),
k_row AS (SELECT (count(*) + 1) // 2 AS k, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
median AS (
  SELECT CAST(CASE WHEN num >= 0 THEN (1000000 * num) // den
              ELSE -((1000000 * -num) // den) END AS BIGINT)
           AS theil_sen_micro_per_day,
         n_pairs
  FROM (SELECT num, den,
               row_number() OVER (ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn
        FROM pairs)
  CROSS JOIN k_row
  WHERE rn = k
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily
)
SELECT n_days, n_pairs, theil_sen_micro_per_day,
       CAST(CASE WHEN (n_days * sxy - sx * sy) >= 0
            THEN (1000000 * (n_days * sxy - sx * sy)) // (n_days * sxx - sx * sx)
            ELSE -((1000000 * -(n_days * sxy - sx * sy)) // (n_days * sxx - sx * sx))
            END AS BIGINT) AS ols_micro_per_day
FROM mom CROSS JOIN median
"""


# -- difference-in-differences panel estimator ------------------------------------
# (DID_CUT_DAYS / DID_TREAT_MOD defined with the CEM section above)


def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the OBSERVATIONAL-panel causal
    estimator, completing the causal trio: `events_ab_lift` (randomized
    readout), `events_ab_cuped` (variance reduction), and now the
    design for when you could NOT randomize: an exposed cohort vs a
    control cohort, before vs after an intervention date, with
    DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) differencing away
    both the stable cohort gap and the common time shock (the
    parallel-trends identification).

    Exactness: the four cell means are exact integer rationals
    (Σcents / n); the estimate is their alternating sum over the common
    denominator n_TPost·n_TPre·n_CPost·n_CPre — DECIMAL(38)/HUGEINT
    products, floored ONCE to micro-cents.  One scan → four-cell
    aggregation (map-side combined), 1-row finisher broadcast back onto
    the 4-row cell table — the whole estimator costs a groupBy at any
    scale."""
    ev = read_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    cells = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            F.when(F.col("user_id") % DID_TREAT_MOD == 0, "treated")
            .otherwise("control")
            .alias("grp"),
            F.when(
                F.datediff(F.to_date("ts"), F.col("d0")) >= DID_CUT_DAYS, "post"
            )
            .otherwise("pre")
            .alias("period"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("grp", "period")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )
    d = "cast({} as decimal(38,0))"
    # conditional 1-row reduce (a pivot would reorder columns; keep explicit)
    one = cells.agg(
        *[
            F.sum(
                F.when(
                    (F.col("grp") == g) & (F.col("period") == p), F.col(c)
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"{a}_{g[0]}{p}")
            for g in ("treated", "control")
            for p in ("pre", "post")
            for a, c in (("n", "n_events"), ("s", "sum_cents"))
        ]
    )
    num = (
        f"({d.format('s_tpost')} * n_tpre - {d.format('s_tpre')} * n_tpost)"
        f" * n_cpre * n_cpost"
        f" - ({d.format('s_cpost')} * n_cpre - {d.format('s_cpre')} * n_cpost)"
        f" * n_tpre * n_tpost"
    )
    den = f"{d.format('n_tpost')} * n_tpre * n_cpost * n_cpre"
    did = one.select(
        F.expr(
            f"cast(case when ({num}) >= 0"
            f" then (1000000 * ({num})) div ({den})"
            f" else -((1000000 * -({num})) div ({den})) end as bigint)"
        ).alias("did_micro_cents")
    )
    return (
        cells.crossJoin(F.broadcast(did))
        .select(
            "grp",
            "period",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
            F.expr("(1000000 * sum_cents) div n_events").alias(
                "mean_micro_cents"
            ),
            "did_micro_cents",
        )
    )


ORACLE_DID = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
d0 AS (SELECT min(day) AS d0 FROM ev),
cells AS (
  SELECT CASE WHEN user_id % {DID_TREAT_MOD} = 0 THEN 'treated'
              ELSE 'control' END AS grp,
         CASE WHEN date_diff('day', d0, day) >= {DID_CUT_DAYS} THEN 'post'
              ELSE 'pre' END AS period,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM ev CROSS JOIN d0
  GROUP BY 1, 2
),
one AS (
  SELECT
    CAST(sum(CASE WHEN grp = 'treated' AND period = 'pre' THEN n_events ELSE 0 END) AS HUGEINT) AS n_tpre,
    CAST(sum(CASE WHEN grp = 'treated' AND period = 'pre' THEN sum_cents ELSE 0 END) AS HUGEINT) AS s_tpre,
    CAST(sum(CASE WHEN grp = 'treated' AND period = 'post' THEN n_events ELSE 0 END) AS HUGEINT) AS n_tpost,
    CAST(sum(CASE WHEN grp = 'treated' AND period = 'post' THEN sum_cents ELSE 0 END) AS HUGEINT) AS s_tpost,
    CAST(sum(CASE WHEN grp = 'control' AND period = 'pre' THEN n_events ELSE 0 END) AS HUGEINT) AS n_cpre,
    CAST(sum(CASE WHEN grp = 'control' AND period = 'pre' THEN sum_cents ELSE 0 END) AS HUGEINT) AS s_cpre,
    CAST(sum(CASE WHEN grp = 'control' AND period = 'post' THEN n_events ELSE 0 END) AS HUGEINT) AS n_cpost,
    CAST(sum(CASE WHEN grp = 'control' AND period = 'post' THEN sum_cents ELSE 0 END) AS HUGEINT) AS s_cpost
  FROM cells
),
did AS (
  SELECT CAST(CASE WHEN ((s_tpost * n_tpre - s_tpre * n_tpost) * n_cpre * n_cpost
                         - (s_cpost * n_cpre - s_cpre * n_cpost) * n_tpre * n_tpost) >= 0
              THEN (1000000 * ((s_tpost * n_tpre - s_tpre * n_tpost) * n_cpre * n_cpost
                               - (s_cpost * n_cpre - s_cpre * n_cpost) * n_tpre * n_tpost))
                   // (n_tpost * n_tpre * n_cpost * n_cpre)
              ELSE -((1000000 * -((s_tpost * n_tpre - s_tpre * n_tpost) * n_cpre * n_cpost
                                  - (s_cpost * n_cpre - s_cpre * n_cpost) * n_tpre * n_tpost))
                     // (n_tpost * n_tpre * n_cpost * n_cpre)) END AS BIGINT)
           AS did_micro_cents
  FROM one
)
SELECT grp, period, n_events, sum_cents,
       CAST(CASE WHEN sum_cents >= 0 THEN (1000000 * sum_cents) // n_events
            ELSE -((-(1000000 * sum_cents)) // n_events) END AS BIGINT)
         AS mean_micro_cents,
       did_micro_cents
FROM cells CROSS JOIN did
"""


# -- Kaplan-Meier survival over user lifetimes -----------------------------------


def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival estimate over user LIFETIMES —
    the censored time-to-event family the stats battery lacked: lifetime
    L = last_day − first_day per user, a CHURN event if the user's last
    activity precedes the observation end, RIGHT-CENSORED otherwise
    (still active when the data stops — dropping those users, the naive
    churn-rate mistake, biases survival down; KM is exactly the fix).
    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with censored-at-t subjects at risk for
    events at t (the standard convention).

    Shape: ONE user-keyed aggregation (first/last day — the retention
    op's shuffle), then the whole estimator runs on |distinct lifetimes|
    rows: per-lifetime (d, c) counts, the at-risk ladder as a
    DESC-ordered window cumsum, and the survival product as an
    ASC-ordered window sum of logs.  Determinism: both window sums run
    over the SAME total order (lifetime), so the float log accumulation
    order is engine-identical — ln/exp are libm-identical — and the
    floored micro-nat / bp grids hash exactly (the bigram-xent
    argument).  Steps where dᵢ = nᵢ drive S to 0: ln output NULLs, bp
    output 0, both engines alike."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    horizon = ev.agg(F.max("day").alias("end_day"))
    subj = span.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t"),
        (F.col("last_day") < F.col("end_day")).cast("int").alias("churned"),
    )
    steps = subj.groupBy("t").agg(
        F.sum("churned").cast("long").alias("d"),
        F.sum(1 - F.col("churned")).cast("long").alias("c"),
    )
    w_desc = Window.partitionBy(const_part(F.col("t"))).orderBy(F.desc("t"))
    w_asc = (
        Window.partitionBy(const_part(F.col("t")))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laddered = steps.withColumn(
        "n_at_risk", F.sum(F.col("d") + F.col("c")).over(w_desc)
    )
    term = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.log(1.0 - F.col("d") / F.col("n_at_risk")),
    )  # d == n: survival hits zero; NULL marks -inf
    cum = laddered.withColumn("lnS", F.sum(term).over(w_asc)).withColumn(
        "hit_zero",
        F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(w_asc),
    )
    return (
        cum.filter(F.col("d") > 0)
        .select(
            "t",
            "n_at_risk",
            "d",
            "c",
            F.when(
                F.col("hit_zero") == 0,
                F.floor(F.lit(-1e6) * F.col("lnS")).cast("long"),
            ).alias("neg_ln_s_micro"),
            F.when(F.col("hit_zero") == 1, F.lit(0))
            .otherwise(F.floor(F.lit(10000) * F.exp(F.col("lnS"))))
            .cast("long")
            .alias("surv_bp"),
        )
    )


ORACLE_KAPLAN_MEIER = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
span AS (
  SELECT user_id, min(day) AS first_day, max(day) AS last_day
  FROM ev GROUP BY user_id
),
horizon AS (SELECT max(day) AS end_day FROM ev),
subj AS (
  SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS t,
         CASE WHEN last_day < end_day THEN 1 ELSE 0 END AS churned
  FROM span CROSS JOIN horizon
),
steps AS (
  SELECT t, CAST(sum(churned) AS BIGINT) AS d,
         CAST(sum(1 - churned) AS BIGINT) AS c
  FROM subj GROUP BY t
),
laddered AS (
  SELECT *, sum(d + c) OVER (ORDER BY t DESC) AS n_at_risk FROM steps
),
cum AS (
  SELECT *,
         sum(CASE WHEN d < n_at_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk) END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnS,
         max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
  FROM laddered
)
SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d, c,
       CASE WHEN hit_zero = 0 THEN CAST(floor(-1e6 * lnS) AS BIGINT) END
         AS neg_ln_s_micro,
       CAST(CASE WHEN hit_zero = 1 THEN 0
                 ELSE floor(10000 * exp(lnS)) END AS BIGINT) AS surv_bp
FROM cum WHERE d > 0
"""


# -- AMS (tug-of-war) F2 frequency-moment sketch --------------------------------

AMS_D = 8  # independent estimators


def _ams_sign(j: int) -> F.Column:
    """±1 four-wise-ish hash sign for estimator j: md5 parity of (j:key) —
    deterministic, engine-portable (the CMS column-hash convention)."""
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(j), F.col("user_id"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    return F.lit(1) - 2 * h


def ams_xs(ev: DataFrame) -> DataFrame:
    """The AMS accumulator row: X_j = Σ_events sign_j(user) for all
    {AMS_D} estimators in ONE map-side pass — 8 conditional sums, no
    explode, no per-key state, 1-row output.  Associative and
    commutative, so the SAME aggregation runs as a complete-mode
    streaming aggregation with ONE state row (streaming_ams_f2)."""
    return ev.agg(
        *[F.sum(_ams_sign(j)).cast("long").alias(f"x{j}") for j in range(AMS_D)]
    )


def ams_finish(xs: DataFrame, ev: DataFrame) -> DataFrame:
    """Shared estimate/evidence finisher: E[X_j²] = F2 (Alon-Matias-
    Szegedy), median of the {AMS_D} squares as the robust estimate, with
    the exact second moment (the row you would NOT compute at 100 TB)
    and the |error| in bp riding along."""
    rows = xs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"x{j}").alias("x")
                    )
                    for j in range(AMS_D)
                ]
            )
        ).alias("s")
    ).select(F.col("s.j").cast("int").alias("j"), F.col("s.x").alias("x"))
    est = rows.withColumn("x2", F.col("x") * F.col("x"))
    rn = F.row_number().over(
        Window.partitionBy(const_part(F.col("x2"))).orderBy("x2", "j")
    )
    med = (
        est.withColumn("rn", rn)
        .filter(F.col("rn").isin(AMS_D // 2, AMS_D // 2 + 1))
        .agg(F.expr("sum(x2) div 2").alias("f2_med_est"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    )
    return (
        est.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(exact))
        .select(
            "j",
            "x",
            "x2",
            "f2_med_est",
            "exact_f2",
            F.expr("(10000 * abs(f2_med_est - exact_f2)) div exact_f2").alias(
                "abs_err_bp"
            ),
        )
    )


def events_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war sketch for the SECOND FREQUENCY MOMENT F2 = Σ c_u²
    (Alon, Matias & Szegedy 1996) — the moment sketch that completes the
    synopsis quartet: point frequency (count-min), distinct count
    (HLL/KMV/theta), quantiles (DDSketch/histogram), and now moments.
    F2 is the self-join size / skew statistic: it prices every user-keyed
    shuffle join and Gini-style imbalance check, and this sketch answers
    it from {AMS_D} integers — NO per-user state at any scale, unlike the
    exact Σc² which needs the full user rollup.

    Shape: ONE map-side pass accumulates all {AMS_D} signed sums
    (conditional sums, not an explode — zero row blowup), the finisher
    runs on 8 rows, and the exact F2 rides along as at-SF ground truth
    with |err| bp.  Median-of-squares is the textbook variance-reduction;
    the estimate is unbiased per estimator (E[X²] = F2), pinned in tests
    by exact python sign replay."""
    ev = read_table(spark, sf_dir, "events").select("user_id")
    return ams_finish(ams_xs(ev), ev)


ORACLE_AMS_F2 = f"""
WITH ev AS (SELECT user_id FROM events),
xs AS (
  SELECT j,
         CAST(sum(1 - 2 * (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                  CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2)) AS BIGINT) AS x
  FROM ev CROSS JOIN (VALUES {", ".join(f"({j})" for j in range(AMS_D))}) t(j)
  GROUP BY j
),
est AS (SELECT CAST(j AS INTEGER) AS j, x, x * x AS x2 FROM xs),
med AS (
  SELECT CAST(sum(x2) // 2 AS BIGINT) AS f2_med_est
  FROM (SELECT x2, row_number() OVER (ORDER BY x2, j) AS rn FROM est)
  WHERE rn IN ({AMS_D // 2}, {AMS_D // 2 + 1})
),
exact AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2
  FROM (SELECT count(*) AS c FROM ev GROUP BY user_id)
)
SELECT j, x, x2, f2_med_est, exact_f2,
       (10000 * abs(f2_med_est - exact_f2)) // exact_f2 AS abs_err_bp
FROM est CROSS JOIN med CROSS JOIN exact
"""


PATH_LEN = 3  # first k event types define the journey prefix


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the frequency table of session-opening paths
    (first 3 event types per 30-min session, `a>b>c`) — what funnels are
    fit FROM: unlike :func:`events_funnel`'s fixed step list, this
    discovers which orderings actually occur.

    Determinism note: the path is built by POSITION PIVOT — one
    ``min(when(rn=k, type))`` per slot + null-skipping concat_ws — not
    ``collect_list``, whose intra-group order is partitioning-dependent
    (the classic Spark nondeterminism trap; pinned here because the
    oracle hash would catch any drift).  Shape: the same single user-keyed
    window shuffle as sessionization (flag → running sum → session key),
    one (user, session) re-agg, then a tiny path rollup — output is
    bounded by |types|^k."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_id = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    slots = [
        F.min(
            F.when(F.col("rn") == k, F.col("event_type"))
        ).alias(f"p{k}")
        for k in range(1, PATH_LEN + 1)
    ]
    per_session = (
        with_id.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= PATH_LEN)
        .groupBy("user_id", "session_seq")
        .agg(*slots)
    )
    return (
        per_session.select(
            F.concat_ws(">", *[F.col(f"p{k}") for k in range(1, PATH_LEN + 1)]).alias(
                "path"
            )
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


ORACLE_SESSION_PATHS = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
ranked AS (
  SELECT user_id, session_seq, event_type,
         row_number() OVER (PARTITION BY user_id, session_seq
                            ORDER BY ts, event_id) AS rn
  FROM numbered
),
per_session AS (
  SELECT user_id, session_seq,
         {", ".join(f"min(CASE WHEN rn = {k} THEN event_type END) AS p{k}" for k in range(1, PATH_LEN + 1))}
  FROM ranked WHERE rn <= {PATH_LEN}
  GROUP BY user_id, session_seq
)
SELECT concat_ws('>', {", ".join(f"p{k}" for k in range(1, PATH_LEN + 1))}) AS path,
       count(*) AS n_sessions
FROM per_session GROUP BY path
"""


# -- multi-touch attribution with exponential time decay ------------------------------

ATTR_WINDOW_H = 24  # touches within 24h before the purchase get credit


def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch time-decay attribution — the generalization of
    :func:`events_asof_attribution`'s last-touch model: every non-purchase
    touch in the 24 h before a purchase gets credit ∝ 2^(-Δhours), shares
    normalized per purchase, then rolled up per touch type.

    All-integer exactness: decay uses DISCRETE hour buckets, so the weight
    is the integer 2^(23-Δh), the per-purchase normalizer is an integer
    sum, and each touch's share is integer-floor basis points — no float
    anywhere, engine-identical by construction.

    Scale shape: ONE equi-join keyed on user_id with the range predicate
    on top (same never-cartesian posture as ``interval_overlap_orders``;
    per-user fan-out is bounded by touches-per-24h), one window keyed on
    the purchase id for the normalizer, one tiny rollup.  At 100 TB the
    join shuffles both sides once on user_id and everything downstream is
    combiner-friendly."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    touches = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        us.alias("t_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        us.alias("p_us"),
    )
    dh = F.expr(f"(p_us - t_us) div {3600 * 1_000_000}")
    joined = (
        purchases.join(touches, purchases["p_user"] == touches["t_user"])
        .filter((F.col("t_us") <= F.col("p_us")) & (dh < ATTR_WINDOW_H))
        .select(
            "purchase_id",
            "touch_type",
            F.pow(F.lit(2.0), (F.lit(ATTR_WINDOW_H - 1) - dh))
            .cast("long")
            .alias("w"),
        )
    )
    norm = Window.partitionBy("purchase_id")
    credited = joined.select(
        "touch_type",
        F.expr("10000 * w").alias("w4"),
        F.sum("w").over(norm).alias("total_w"),
    ).select("touch_type", F.expr("w4 div total_w").alias("credit_bp"))
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_bp").cast("bigint").alias("total_credit_bp"),
    )


ORACLE_MULTITOUCH = f"""
WITH touches AS (
  SELECT user_id AS t_user, event_type AS touch_type, epoch_us(ts) AS t_us
  FROM events WHERE event_type != 'purchase'
),
purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
joined AS (
  SELECT purchase_id, touch_type,
         CAST(2 ** ({ATTR_WINDOW_H - 1} - (p_us - t_us) // {3600 * 1_000_000}) AS BIGINT) AS w
  FROM purchases JOIN touches ON p_user = t_user
  WHERE t_us <= p_us AND (p_us - t_us) // {3600 * 1_000_000} < {ATTR_WINDOW_H}
),
credited AS (
  SELECT touch_type,
         (10000 * w) // sum(w) OVER (PARTITION BY purchase_id) AS credit_bp
  FROM joined
)
SELECT touch_type, count(*) AS n_touches,
       CAST(sum(credit_bp) AS BIGINT) AS total_credit_bp
FROM credited GROUP BY touch_type
"""


# -- Markov transition matrix over per-user event sequences ---------------------------


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each user's
    time-ordered event sequence, count (from_type → to_type) steps and turn
    them into row-normalized transition probabilities — the "what happens
    next" model behind next-event prediction, anomaly scoring (improbable
    transitions), and session simulation.

    Plan shape: ONE shuffle keyed on ``user_id`` for the ``lead`` window
    (sequences are built inside each user's partition — no global sort), then
    the transition groupBy, which combines map-side because the key space is
    |event_types|² (tiny).  Per-row-type totals ride a second window over the
    already-aggregated matrix (≤ |types|² rows), not the raw events.  At
    100 TB: the only scan-sized shuffle is the sequence window; skewed users
    are bounded by per-user event counts, and the output is O(|types|²)
    regardless of input size.  Probabilities are emitted in basis points
    (floor) so batch/oracle replays hash identically.
    """
    ev = read_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(seq).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_tot = Window.partitionBy("from_type")
    return steps.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.floor(
            F.lit(10000) * F.col("n_transitions") / F.sum("n_transitions").over(row_tot)
        )
        .cast("bigint")
        .alias("p_bp"),
    )


ORACLE_MARKOV = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
mat AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       CAST(floor(10000 * n_transitions /
                  sum(n_transitions) OVER (PARTITION BY from_type)) AS BIGINT) AS p_bp
FROM mat
"""


# -- DAU / WAU stickiness ----------------------------------------------------------

WAU_DAYS = 7


def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness per day — the product-health headline trio:
    daily active users, trailing-{WAU_DAYS}-day active users (EXACT
    distinct, not a sum of DAUs — users active on several days count
    once), and stickiness = DAU/WAU in bp (the "how habitual is usage"
    ratio every growth team tracks).

    Exactness + shape: activity collapses to distinct (user, day) pairs
    (ONE scan-sized shuffle with map-side distinct); WAU(d) joins the
    day spine against pairs in (d−{WAU_DAYS}, d] (i.e. the {WAU_DAYS}
    days d−{WAU_DAYS}+1 .. d) — a range predicate on
    an already-tiny table (pairs ≤ users×days), then an exact
    count_distinct per day.  At 100 TB the trailing-distinct becomes the
    textbook sliding-HLL — implemented as :func:`events_dau_wau_hll`,
    which carries this exact form as its ride-along truth and pins the
    estimate error within the HLL 3σ bound.  Integers throughout."""
    ev = read_table(spark, sf_dir, "events")
    pairs = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .transform(lineage_cut)
    )
    days = pairs.select("day").distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        days.alias("d")
        .join(
            pairs.alias("p"),
            (F.col("p.day") <= F.col("d.day"))
            & (F.col("p.day") > F.date_sub(F.col("d.day"), WAU_DAYS)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("p.user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.expr("CAST((10000 * dau) DIV wau AS BIGINT)").alias(
                "stickiness_bp"
            ),
        )
    )


ORACLE_DAU_WAU = f"""
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM pairs),
dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day),
wau AS (
  SELECT d.day, count(DISTINCT p.user_id) AS wau
  FROM days d JOIN pairs p
    ON p.day <= d.day AND p.day > d.day - {WAU_DAYS}
  GROUP BY d.day
)
SELECT strftime(a.day, '%Y-%m-%d') AS day, a.dau, w.wau,
       CAST((10000 * a.dau) // w.wau AS BIGINT) AS stickiness_bp
FROM dau a JOIN wau w ON a.day = w.day
"""


def events_dau_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DAU/WAU on MERGEABLE per-day HLL sketches — the
    100 TB form :func:`events_dau_wau` names itself the oracle for: one
    64-register sketch per day (map-only build, combiner-friendly max),
    and WAU(d) is a register-wise max over the trailing {WAU_DAYS} daily
    sketches — the rollup touches {WAU_DAYS}·64 register rows per day,
    never the events.  The exact trailing-distinct twin rides along so
    the output itself carries the estimate-vs-truth relative error in bp
    (pytest pins it within the 3σ HLL standard-error bound for m=64);
    sketch math is byte-identical to sketch_hll_mergeable's contract
    (md5 60-bit hash, trailing-zero rank via log2(w & −w), exact integer
    harmonic denominator, one float divide + floor per estimate)."""
    from mongraph_spark.queries.relational import HLL_M, hll_base, hll_estimate

    ev = read_table(spark, sf_dir, "events")
    day_regs = (
        hll_base(
            ev.select(
                F.to_date("ts").cast("string").alias("event_type"), "user_id"
            )
        )
        .groupBy(F.to_date("event_type").alias("day"), "reg")
        .agg(F.max("rho").alias("r"))
        .transform(lineage_cut)  # feeds the DAU estimate + every window slot
    )
    days = day_regs.select("day").distinct()
    # daily/weekly actives sit squarely in the 2.5m-5m bias region for
    # m=64, so linear counting extends to 5m (the HLL++ correction range)
    lc_limit = 500 * HLL_M
    dau_est = hll_estimate(day_regs, ["day"], lc_limit_x100=lc_limit).select(
        "day", F.col("est_x100").alias("dau_est_x100")
    )
    wau_regs = (
        days.alias("d")
        .join(
            day_regs.alias("p"),
            (F.col("p.day") <= F.col("d.day"))
            & (F.col("p.day") > F.date_sub(F.col("d.day"), WAU_DAYS)),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("p.reg").alias("reg"))
        .agg(F.max("p.r").alias("r"))
    )
    wau_est = hll_estimate(wau_regs, ["day"], lc_limit_x100=lc_limit).select(
        "day", F.col("est_x100").alias("wau_est_x100")
    )
    pairs = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = pairs.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    wau = (
        days.alias("d")
        .join(
            pairs.alias("p"),
            (F.col("p.day") <= F.col("d.day"))
            & (F.col("p.day") > F.date_sub(F.col("d.day"), WAU_DAYS)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("p.user_id").alias("wau"))
    )
    return (
        dau_est.join(wau_est, "day")
        .join(dau, "day")
        .join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "dau_est_x100",
            "wau_est_x100",
            F.expr(
                "CAST((100 * abs(dau_est_x100 - 100 * dau)) DIV dau AS BIGINT)"
            ).alias("dau_err_bp"),
            F.expr(
                "CAST((100 * abs(wau_est_x100 - 100 * wau)) DIV wau AS BIGINT)"
            ).alias("wau_err_bp"),
            F.expr(
                "CAST((10000 * dau_est_x100) DIV wau_est_x100 AS BIGINT)"
            ).alias("stickiness_est_bp"),
        )
    )


def _oracle_dau_wau_hll() -> str:
    from mongraph_spark.queries.relational import HLL_M, HLL_NUM, HLL_WBITS

    def est(src: str) -> str:
        return f"""(
  SELECT day,
         CAST(CASE WHEN floor({HLL_NUM * 2!r} / harm_int) <= {500 * HLL_M}
                    AND v_zero > 0
                   THEN floor({100.0 * HLL_M} * ln({float(HLL_M)} / v_zero))
                   ELSE floor({HLL_NUM * 2!r} / harm_int) END AS BIGINT) AS est_x100
  FROM (
    SELECT day,
           CAST({HLL_M} - count(*) AS BIGINT) AS v_zero,
           CAST(sum(CAST(pow(2.0, {HLL_WBITS + 1} - r) AS BIGINT))
                + ({HLL_M} - count(*)) * {2 ** (HLL_WBITS + 1)} AS BIGINT)
             AS harm_int
    FROM {src} GROUP BY day
  )
)"""

    return f"""
WITH base AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h,
         user_id
  FROM events
),
rho_t AS (
  SELECT day, h % {HLL_M} AS reg, CAST(floor(h / {HLL_M}) AS BIGINT) AS w,
         user_id
  FROM base
),
day_regs AS MATERIALIZED (
  SELECT day, reg,
         max(CASE WHEN w = 0 THEN {HLL_WBITS + 1}
                  ELSE CAST(log2(CAST(w & (-w) AS DOUBLE)) + 1 AS BIGINT)
             END) AS r
  FROM rho_t GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM day_regs),
wau_regs AS (
  SELECT d.day, p.reg, max(p.r) AS r
  FROM days d JOIN day_regs p
    ON p.day <= d.day AND p.day > d.day - {WAU_DAYS}
  GROUP BY 1, 2
),
dau_est AS {est('day_regs')},
wau_est AS {est('wau_regs')},
pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day),
wau AS (
  SELECT d.day, count(DISTINCT p.user_id) AS wau
  FROM days d JOIN pairs p
    ON p.day <= d.day AND p.day > d.day - {WAU_DAYS}
  GROUP BY d.day
)
SELECT strftime(a.day, '%Y-%m-%d') AS day, a.dau, w.wau,
       de.est_x100 AS dau_est_x100, we.est_x100 AS wau_est_x100,
       CAST((100 * abs(de.est_x100 - 100 * a.dau)) // a.dau AS BIGINT)
         AS dau_err_bp,
       CAST((100 * abs(we.est_x100 - 100 * w.wau)) // w.wau AS BIGINT)
         AS wau_err_bp,
       CAST((10000 * de.est_x100) // we.est_x100 AS BIGINT)
         AS stickiness_est_bp
FROM dau a
JOIN wau w ON a.day = w.day
JOIN dau_est de ON a.day = de.day
JOIN wau_est we ON a.day = we.day
"""


ORACLE_DAU_WAU_HLL = _oracle_dau_wau_hll()


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen per event type — the classic "did the
    level shift, and when" monitoring statistic: over the daily count
    series x_1..x_n, CUSUM_k = Σ_{i≤k}(x_i − μ) peaks (in absolute
    value) at the most likely changepoint.  Scored in EXACT integers by
    clearing the mean's denominator: S_k = n·P_k − k·T (P_k prefix sum,
    T total, n days) = n·CUSUM_k — same argmax, no float anywhere.
    Reports per type: the changepoint day (earliest day at the max, a
    deterministic tie-break), max |S_k|, and the normalized peak in bp
    of n·T (scale-free comparability across types).

    Scale shape: daily counts are one (type, day) agg; the prefix sum is
    a type-partitioned window over ≤ n_days rows per type; the argmax is
    a second tiny agg.  At 100 TB the windowed series stays (types ×
    days)-sized — scan-dominated, like every screen in this family."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return _cusum_finish(daily)


def _cusum_finish(daily: DataFrame) -> DataFrame:
    """CUSUM finishing over a (event_type, day, x) daily-count table —
    shared by the batch op and its streaming twin (the twin's rollup is
    maintained by the stream; the screen itself is this batch pass)."""
    wtot = Window.partitionBy("event_type")
    wcum = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = daily.select(
        "event_type",
        "day",
        F.sum("x").over(wcum).alias("p"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("k"),
        F.sum("x").over(wtot).alias("t"),
        F.count(F.lit(1)).over(wtot).alias("n"),
    ).withColumn("s", F.col("n") * F.col("p") - F.col("k") * F.col("t"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.min(
                F.struct(
                    (-F.abs(F.col("s"))).alias("neg_abs_s"), F.col("day").alias("day")
                )
            ).alias("best"),
            F.max("n").alias("n_days"),
            F.max("t").alias("total_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("best.day"), "yyyy-MM-dd").alias("cp_day"),
            (-F.col("best.neg_abs_s")).cast("long").alias("s_abs_max"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total_events").cast("long").alias("total_events"),
            F.expr("CAST((10000 * -best.neg_abs_s) DIV (n_days * total_events) AS BIGINT)")
            .alias("peak_bp"),
        )
    )


ORACLE_CUSUM = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         sum(x) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS p,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         sum(x) OVER (PARTITION BY event_type) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
s AS (
  SELECT event_type, day, n * p - k * t AS s, n, t FROM scored
),
best AS (
  SELECT event_type, day, abs(s) AS abs_s, n, t,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(s) DESC, day ASC) AS rn
  FROM s
)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS cp_day,
       CAST(abs_s AS BIGINT) AS s_abs_max,
       CAST(n AS BIGINT) AS n_days,
       CAST(t AS BIGINT) AS total_events,
       CAST((10000 * abs_s) // (n * t) AS BIGINT) AS peak_bp
FROM best WHERE rn = 1
"""


# -- session-level type co-occurrence ----------------------------------------------


def events_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis at the SESSION level: which event types
    co-occur inside the same 30-minute session, with lift — the signal
    behind "users who view in a session also purchase in it" product
    analytics, and the session-scoped complement of
    events_markov_transitions (which orders steps; this asks only
    whether they share a session).

    Exactness: lift numerator/denominator stay integers until ONE
    floored division — lift_bp = ⌊10⁴·n_ab·n_sessions/(n_a·n_b)⌋
    evaluated as chained 64-bit integer ops in both engines.  Scale
    shape: sessionization is the shared user-keyed lag window; distinct
    (session, type) collapses the scan; the pair self-join is keyed on
    the session id with per-session fanout ≤ |types|² = 25; marginals
    broadcast back onto the ≤25-row matrix."""
    ev = read_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.lag("ts").over(seq).cast("timestamp"))
    ) / 60_000_000
    newsess = F.when(
        gap_min.isNull() | (gap_min > SESSION_GAP_MIN), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(newsess).over(
            seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("sess_seq"),
    ).select(
        F.concat_ws("#", "user_id", "sess_seq").alias("session_id"),
        "event_type",
    ).distinct()
    ns = sess.agg(F.count_distinct("session_id").alias("n_sessions"))
    per_type = sess.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    a = sess.select("session_id", F.col("event_type").alias("type_a"))
    b = sess.select("session_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "session_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = per_type.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    tb = per_type.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(ns))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.expr(
                "CAST((10000 * n_ab * n_sessions) DIV (n_a * n_b) AS BIGINT)"
            ).alias("lift_bp"),
        )
    )


ORACLE_SESSION_COOC = f"""
WITH seqd AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 60000000.0
                   > {SESSION_GAP_MIN}
              THEN 1 ELSE 0 END AS newsess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT DISTINCT user_id || '#' || CAST(sum(newsess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
           AS session_id,
         event_type
  FROM seqd
),
ns AS (SELECT count(DISTINCT session_id) AS n_sessions FROM sess),
per_type AS (SELECT event_type, count(*) AS n_t FROM sess GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
  FROM sess a JOIN sess b
    ON a.session_id = b.session_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       CAST((10000 * p.n_ab * ns.n_sessions) // (ta.n_t * tb.n_t) AS BIGINT)
         AS lift_bp
FROM pairs p
JOIN per_type ta ON p.type_a = ta.event_type
JOIN per_type tb ON p.type_b = tb.event_type, ns
"""


# -- multi-window SLO burn rate ----------------------------------------------------

SLO_TARGET_BP = 2500  # error budget: 25% of events may be errors
SLO_SLOW_HOURS = 6  # slow window length (fast window = 1 hour)
SLO_FAST_THRESH_BP = 12000  # page when fast burn > 1.2x ...
SLO_SLOW_THRESH_BP = 10000  # ... AND slow burn > 1.0x (multiwindow policy)


def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn rate — the SRE alerting arithmetic
    (Google SRE workbook ch. 5): per hour, the error ratio relative to
    the SLO target over a 1-hour fast window and a {SLO_SLOW_HOURS}-hour
    rolling slow window; a page fires only when BOTH exceed their
    thresholds (fast catches the spike, slow filters the blip).  Emits
    every hour with both burn rates and the page flag.

    Exactness: burn_bp = (10⁸·errors) div (total·target_bp) — pure
    integer arithmetic from hourly counts; the rolling slow window sums
    integers over {SLO_SLOW_HOURS} hourly rows.  Scale shape: ONE hourly
    rollup collapses the scan; the rolling window runs over |hours| rows
    (time-ordered, partition by stream/shard at 100 TB — the
    hypertable-rollup note)."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errors"),
    )
    w = (
        Window.partitionBy(const_part(F.col("hour")))
        .orderBy("hour")
        .rowsBetween(-(SLO_SLOW_HOURS - 1), Window.currentRow)
    )
    rolled = hourly.select(
        "hour",
        "total",
        "errors",
        F.sum("total").over(w).alias("slow_total"),
        F.sum("errors").over(w).alias("slow_errors"),
    )
    fast = F.expr(
        f"CAST((100000000 * errors) DIV (total * {SLO_TARGET_BP}) AS BIGINT)"
    )
    slow = F.expr(
        f"CAST((100000000 * slow_errors) DIV (slow_total * {SLO_TARGET_BP}) AS BIGINT)"
    )
    return rolled.select(
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        "total",
        "errors",
        fast.alias("fast_burn_bp"),
        slow.alias("slow_burn_bp"),
        (
            (fast > SLO_FAST_THRESH_BP) & (slow > SLO_SLOW_THRESH_BP)
        ).alias("page"),
    )


ORACLE_SLO_BURN = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS errors
  FROM events GROUP BY 1
),
rolled AS (
  SELECT hour, total, errors,
         sum(total) OVER (ORDER BY hour ROWS BETWEEN {SLO_SLOW_HOURS - 1}
                          PRECEDING AND CURRENT ROW) AS slow_total,
         sum(errors) OVER (ORDER BY hour ROWS BETWEEN {SLO_SLOW_HOURS - 1}
                           PRECEDING AND CURRENT ROW) AS slow_errors
  FROM hourly
)
SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour,
       CAST(total AS BIGINT) AS total, errors,
       CAST((100000000 * errors) // (total * {SLO_TARGET_BP}) AS BIGINT)
         AS fast_burn_bp,
       CAST((100000000 * slow_errors) // (slow_total * {SLO_TARGET_BP}) AS BIGINT)
         AS slow_burn_bp,
       (100000000 * errors) // (total * {SLO_TARGET_BP}) > {SLO_FAST_THRESH_BP}
         AND (100000000 * slow_errors) // (slow_total * {SLO_TARGET_BP})
             > {SLO_SLOW_THRESH_BP} AS page
FROM rolled
"""


# -- Markov sequence surprise ------------------------------------------------------

SURPRISE_TOP = 25  # most improbable user journeys reported


def events_markov_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-anomaly scoring from the Markov model: every user's
    journey is scored by the mean surprisal of its transitions,
    −log₂ p(to|from), against the population transition matrix — the
    "this user's clickstream doesn't look like anyone's" detector the
    transition matrix exists to power (bots replay improbable paths;
    broken clients loop).  Top-{SURPRISE_TOP} most surprising users, with
    their step counts.

    Exactness: per-step surprisal floors to integer CENTIBITS before any
    summation — log₂ of a ratio of exact integer counts is one IEEE op on
    identical operands (the bigram-xent policy), and everything after is
    integer sums/divisions.  No smoothing needed: every transition a user
    took is, by construction, in the population matrix (p > 0).

    Scale shape: ONE user-keyed lead window builds steps (the shared
    sequence shuffle), the |types|² matrix broadcasts back, and the
    per-user rollup is a second keyed agg; top-{SURPRISE_TOP} is a
    TakeOrdered, no global sort."""
    ev = read_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(seq).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    mat = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    row_tot = Window.partitionBy("from_type")
    mat = mat.withColumn("n_from", F.sum("n_pair").over(row_tot))
    scored = steps.join(F.broadcast(mat), ["from_type", "to_type"]).select(
        "user_id",
        F.floor(F.lit(100) * F.log2(F.col("n_from") / F.col("n_pair")))
        .cast("long")
        .alias("cb"),
    )
    per_user = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum("cb").alias("total_cb"),
    )
    return (
        per_user.select(
            "user_id",
            "n_steps",
            F.expr("CAST(total_cb DIV n_steps AS BIGINT)").alias(
                "mean_surprise_cb"
            ),
        )
        .orderBy(F.desc("mean_surprise_cb"), F.asc("user_id"))
        .limit(SURPRISE_TOP)
    )


ORACLE_MARKOV_SURPRISE = f"""
WITH steps AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
st AS (SELECT * FROM steps WHERE to_type IS NOT NULL),
mat AS (
  SELECT from_type, to_type, count(*) AS n_pair,
         sum(count(*)) OVER (PARTITION BY from_type) AS n_from
  FROM st GROUP BY from_type, to_type
),
per_user AS (
  SELECT s.user_id, count(*) AS n_steps,
         sum(CAST(floor(100 * log2(CAST(m.n_from AS DOUBLE) / m.n_pair))
                  AS BIGINT)) AS total_cb
  FROM st s JOIN mat m
    ON s.from_type = m.from_type AND s.to_type = m.to_type
  GROUP BY s.user_id
)
SELECT user_id, n_steps,
       CAST(total_cb // n_steps AS BIGINT) AS mean_surprise_cb
FROM per_user
ORDER BY mean_surprise_cb DESC, user_id ASC LIMIT {SURPRISE_TOP}
"""


# -- watermark late-data audit ----------------------------------------------------

LATE_BUCKETS_MIN = (0, 1, 5, 15, 60)  # lateness histogram edges, minutes


def events_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy audit: treating event_id as ARRIVAL order, how late
    does each event arrive relative to the maximum event time already seen
    (its disorder), bucketed into the watermark-delay bands an engineer
    actually chooses between (on-time, <1 min, <5, <15, <60, ≥60)?  This
    is the measurement that justifies a `withWatermark` setting — the
    companion every watermarked query in the streaming suite needs: the
    n-minute delay keeps exactly the rows this table says it keeps.

    Scale shape: disorder = running max(ts) over arrival order, ONE window
    whose natural production key is the ingest partition (here the single
    replay stream, so the window is global at this SF — at 100 TB you
    partition by kafka-partition/shard id, which is how arrival order is
    even defined); the histogram is a tiny agg.  All-integer (epoch
    micros), exact oracle.

    The synthetic events file is emitted in perfect event-time order, so
    arrival = event time + a DETERMINISTIC md5 transit delay of 0-120 s
    (the md5-uniform idiom used across the suite) — the jittered replay a
    watermark audit actually runs against."""
    ev = read_table(spark, sf_dir, "events").select(
        # NTZ parquet ts -> TIMESTAMP under the session's UTC zone (lossless)
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 120_000_000
    )
    ev = ev.withColumn("arrival_us", F.col("us") + jitter)
    w = Window.partitionBy(const_part(F.col("event_id"))).orderBy(
        "arrival_us", "event_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    late_us = F.greatest(
        F.max("us").over(w) - F.col("us"), F.lit(0)
    )  # first row: null max -> greatest(null,0)=0
    edges = [m * 60_000_000 for m in LATE_BUCKETS_MIN]
    bucket = F.when(late_us <= edges[0], F.lit("on_time"))
    for lo, m in zip(edges[1:], LATE_BUCKETS_MIN[1:]):
        bucket = bucket.when(late_us < lo, F.lit(f"lt_{m}m"))
    bucket = bucket.otherwise(F.lit(f"ge_{LATE_BUCKETS_MIN[-1]}m"))
    return (
        ev.select(bucket.alias("lateness"), late_us.alias("late_us"))
        .groupBy("lateness")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_us").cast("long").alias("max_late_us"),
        )
    )


def _oracle_late_audit() -> str:
    edges = [m * 60_000_000 for m in LATE_BUCKETS_MIN]
    whens = [f"WHEN late_us <= {edges[0]} THEN 'on_time'"]
    for lo, m in zip(edges[1:], LATE_BUCKETS_MIN[1:]):
        whens.append(f"WHEN late_us < {lo} THEN 'lt_{m}m'")
    case = "CASE " + " ".join(whens) + f" ELSE 'ge_{LATE_BUCKETS_MIN[-1]}m' END"
    return f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS us,
         epoch_us(ts) + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           % 120000000 AS arrival_us
  FROM events
), lat AS (
  SELECT greatest(coalesce(max(us) OVER (ORDER BY arrival_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), us) - us, 0)
         AS late_us
  FROM ev
)
SELECT {case} AS lateness, count(*) AS n_events,
       CAST(max(late_us) AS BIGINT) AS max_late_us
FROM lat GROUP BY 1
"""


ORACLE_LATE_AUDIT = _oracle_late_audit()


# -- A/B conversion lift with Wilson intervals -----------------------------------

AB_CONV_MIN_PURCHASES = 14  # 'converted' = at least this many purchases

# One shared SQL text for the Wilson 95% bounds: Spark (F.expr) and DuckDB
# parse the IDENTICAL expression tree over (p DOUBLE, n DOUBLE), so every
# IEEE op — including the sqrt — evaluates bit-identically in both engines
# and the bp floor cannot straddle.  z = 1.96, z^2 = 3.8416.
_WILSON = {
    "lo": (
        "((p + 3.8416 / (2 * n)) - 1.96 * sqrt(p * (1 - p) / n"
        " + 3.8416 / (4 * n * n))) / (1 + 3.8416 / n)"
    ),
    "hi": (
        "((p + 3.8416 / (2 * n)) + 1.96 * sqrt(p * (1 - p) / n"
        " + 3.8416 / (4 * n * n))) / (1 + 3.8416 / n)"
    ),
}


CUPED_PRE_DAYS = 15  # pre-experiment covariate window


def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., the technique
    every large experimentation platform runs): the post-period metric
    y (purchases after day {CUPED_PRE_DAYS}) is adjusted by the
    PRE-period covariate x (all events in the first {CUPED_PRE_DAYS}
    days) — ŷ = y − θ(x − x̄) with θ = Cov(x,y)/Var(x) — which removes
    the between-user variance that pre-dated the experiment and shrinks
    the CI without biasing the contrast (E[ŷ_A − ŷ_B] = E[y_A − y_B]
    because assignment is independent of x).  Arms are the same
    md5(user)%2 buckets as :func:`events_ab_lift`.

    Exact integers end to end: θ clears denominators as
    θ_micro = ±(10⁶·|n·Sxy − Sx·Sy|) div (n·Sxx − Sx²) (sign-symmetric
    truncation — identical in Spark DIV and DuckDB // for positive
    divisors), the per-user adjustment is scaled by n to stay integral
    (A_u = 10⁶·n·y_u − θ_micro·(n·x_u − Sx)), and arm means divide at
    the very end.  DECIMAL(38)/HUGEINT accumulation so no SF overflows.
    Each row also carries ρ²_bp — the guaranteed variance-reduction
    fraction (Var(ŷ) = (1−ρ²)·Var(y)) that justifies the adjustment.

    Scale shape: one user-keyed aggregate builds (x, y); the moment
    rollup is a 1-row reduce; the adjustment is map-only; the arm rollup
    is 2 keys.  Scan-bound at any scale."""
    ev = read_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    per_user = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.to_date("ts") < F.date_add("d0", CUPED_PRE_DAYS)).cast("long")
            ).alias("x"),
            F.sum(
                (
                    (F.to_date("ts") >= F.date_add("d0", CUPED_PRE_DAYS))
                    & (F.col("event_type") == "purchase")
                ).cast("long")
            ).alias("y"),
        )
        .select(
            (
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
                .cast("long") % 2
            ).alias("arm"),
            "x",
            "y",
        )
        .transform(lineage_cut)  # feeds the moment reduce AND the adjustment
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    ).select(
        "n", "sx", "sy",
        F.expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy")
        .alias("covn"),
        F.expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
        .alias("varxn"),
        F.expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy")
        .alias("varyn"),
    ).select(
        "n", "sx",
        F.expr(
            "CAST(CASE WHEN covn < 0 "
            "THEN -((CAST(1000000 AS DECIMAL(38,0)) * (-covn)) DIV varxn) "
            "ELSE (CAST(1000000 AS DECIMAL(38,0)) * covn) DIV varxn END AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0)) * covn * covn) "
            "DIV (varxn * varyn) AS BIGINT)"
        ).alias("rho2_bp"),
    )
    adj = per_user.crossJoin(F.broadcast(mom)).select(
        "arm",
        "y",
        F.expr(
            "CAST(1000000 AS DECIMAL(38,0)) * n * y "
            "- CAST(theta_micro AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * x - sx)"
        ).alias("a_u"),
        "n",
        "theta_micro",
        "rho2_bp",
    )
    return (
        adj.groupBy("arm", "n", "theta_micro", "rho2_bp")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("y").cast("long").alias("sum_y"),
            F.sum("a_u").alias("sa"),
        )
        .select(
            "arm",
            F.col("n_users").cast("long").alias("n_users"),
            "sum_y",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_y) DIV n_users AS BIGINT)"
            ).alias("mean_y_micro"),
            F.expr(
                "CAST(CASE WHEN sa < 0 "
                "THEN -((-sa) DIV (CAST(n AS DECIMAL(38,0)) * n_users)) "
                "ELSE sa DIV (CAST(n AS DECIMAL(38,0)) * n_users) END AS BIGINT)"
            ).alias("mean_adj_micro"),
            "theta_micro",
            "rho2_bp",
        )
    )


ORACLE_AB_CUPED = f"""
WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
pu AS (
  SELECT user_id,
         sum(CASE WHEN CAST(ts AS DATE) < d0.d0 + {CUPED_PRE_DAYS}
                  THEN 1 ELSE 0 END) AS x,
         sum(CASE WHEN CAST(ts AS DATE) >= d0.d0 + {CUPED_PRE_DAYS}
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events, d0 GROUP BY user_id
),
armed AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
         CAST(x AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
  FROM pu
),
mom AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM armed
),
th AS (
  SELECT n, sx,
         n * sxy - sx * sy AS covn,
         n * sxx - sx * sx AS varxn,
         n * syy - sy * sy AS varyn
  FROM mom
),
th2 AS (
  SELECT n, sx,
         CAST(CASE WHEN covn < 0
              THEN -((CAST(1000000 AS HUGEINT) * (-covn)) // varxn)
              ELSE (CAST(1000000 AS HUGEINT) * covn) // varxn END AS BIGINT)
           AS theta_micro,
         CAST((CAST(10000 AS HUGEINT) * covn * covn) // (varxn * varyn)
              AS BIGINT) AS rho2_bp
  FROM th
),
adj AS (
  SELECT a.arm, a.y,
         CAST(1000000 AS HUGEINT) * t.n * a.y
           - CAST(t.theta_micro AS HUGEINT) * (t.n * a.x - t.sx) AS a_u,
         t.n, t.theta_micro, t.rho2_bp
  FROM armed a, th2 t
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST((CAST(1000000 AS HUGEINT) * sum(y)) // count(*) AS BIGINT)
         AS mean_y_micro,
       CAST(CASE WHEN sum(a_u) < 0
            THEN -((-sum(a_u)) // (CAST(max(n) AS HUGEINT) * count(*)))
            ELSE sum(a_u) // (CAST(max(n) AS HUGEINT) * count(*)) END AS BIGINT)
         AS mean_adj_micro,
       CAST(max(theta_micro) AS BIGINT) AS theta_micro,
       CAST(max(rho2_bp) AS BIGINT) AS rho2_bp
FROM adj
GROUP BY arm
"""


def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test readout: users split into two deterministic arms
    (md5(user_id) % 2 — the hash-bucket assignment real experiment
    platforms use), conversion = heavy purchaser (≥ 14 purchase events),
    and per arm the conversion rate with its Wilson 95% interval — the
    standard small-sample-safe proportion CI (never leaves [0,1], unlike
    the normal approximation).  Two rows; overlap of the intervals IS the
    significance read.

    Scale shape: one user-keyed aggregate (purchases per user — combiner-
    friendly), a map-only arm/conversion stamp, then a 2-row rollup.  At
    100 TB this is scan-bound; the CI arithmetic is constant work."""
    ev = read_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purch"
            )
        )
        .select(
            (
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
                .cast("long") % 2
            ).alias("arm"),
            (F.col("n_purch") >= AB_CONV_MIN_PURCHASES).cast("long").alias("conv"),
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"),
    )
    base = arms.withColumn("n", F.col("n_users").cast("double")).withColumn(
        "p", F.col("n_converted") / F.col("n_users")
    )
    return base.select(
        "arm",
        "n_users",
        "n_converted",
        F.floor(F.lit(10000) * F.col("p")).cast("long").alias("rate_bp"),
        F.floor(F.lit(10000) * F.expr(_WILSON["lo"])).cast("long").alias("wilson_lo_bp"),
        F.floor(F.lit(10000) * F.expr(_WILSON["hi"])).cast("long").alias("wilson_hi_bp"),
    )


ORACLE_AB_LIFT = f"""
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {AB_CONV_MIN_PURCHASES} THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_converted
  FROM per_user GROUP BY arm
), base AS (
  SELECT arm, n_users, n_converted,
         CAST(n_users AS DOUBLE) AS n,
         n_converted / CAST(n_users AS DOUBLE) AS p
  FROM arms
)
SELECT arm, n_users, n_converted,
       CAST(floor(10000 * p) AS BIGINT) AS rate_bp,
       CAST(floor(10000 * ({_WILSON["lo"]})) AS BIGINT) AS wilson_lo_bp,
       CAST(floor(10000 * ({_WILSON["hi"]})) AS BIGINT) AS wilson_hi_bp
FROM base
"""


# -- gaps-and-islands: consecutive-day activity streaks --------------------------


def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity-streak histogram — the gaps-and-islands
    pattern (streaks, uptime runs, consecutive-login badges) done the
    scalable way: day_index minus a per-user row_number is constant within
    a run of consecutive days, so islands fall out of ONE user-partitioned
    window plus a groupBy, never a self-join on adjacent days.

    Distributed shape: distinct (user, day) is a combiner-friendly
    aggregate; the window and the island rollup share the user_id shuffle
    key (one exchange feeds both); the histogram is a tiny final agg.  The
    arithmetic is all integer (epoch-day index), so the oracle is exact.
    At 100 TB the user-keyed window partitions are bounded by days-per-
    user, not event volume — no skew beyond the activity calendar."""
    ev = read_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp")
        ).cast("long").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = activity.withColumn("rn", F.row_number().over(w)).select(
        "user_id", "d", (F.col("d") - F.col("rn")).alias("island")
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("streak_len").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.count_distinct("user_id").alias("n_users"),
    )


ORACLE_ACTIVITY_STREAKS = """
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d
  FROM events
), islands AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
  FROM activity
), streaks AS (
  SELECT user_id, island, count(*) AS streak_len
  FROM islands GROUP BY user_id, island
)
SELECT streak_len, count(*) AS n_streaks, count(DISTINCT user_id) AS n_users
FROM streaks GROUP BY streak_len
"""


# -- seasonal (hour-of-day) anomaly detection -------------------------------------

SEASONAL_BASELINE_DAYS = 21  # weeks 1-3 train the per-(type, hour) baseline
SEASONAL_Z2 = 9  # flag |z| > 3, tested as z^2 > 9 in exact integer arithmetic


def _seasonal_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (day, hr, event_type, n, is_base) grid — the shared input of
    the batch sweep and the streaming twin's baseline (zero-filled cells
    matter: a quiet hour must train the baseline as 0, not be absent)."""
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("int").alias("hr"),
        "event_type",
    )
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day"), "d0"
    ).crossJoin(spark.range(24).select(F.col("id").cast("int").alias("hr")))
    grid = spine.crossJoin(ev.select("event_type").distinct())
    hourly = ev.groupBy("day", "hr", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        F.broadcast(grid)
        .join(hourly, ["day", "hr", "event_type"], "left")
        .select(
            "day",
            "hr",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            (F.col("day") < F.date_add("d0", SEASONAL_BASELINE_DAYS)).alias(
                "is_base"
            ),
        )
    )


def _seasonal_baseline(dense: DataFrame) -> DataFrame:
    """Per-(event_type, hour) integer moment sums over the baseline days."""
    return (
        dense.filter("is_base")
        .groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum("n").alias("bs"),
            F.sum(F.col("n") * F.col("n")).alias("bss"),
        )
    )


def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: learn a per-(event_type,
    hour-of-day) mean/variance of DAILY HOURLY COUNTS over the first
    {SEASONAL_BASELINE_DAYS} days, then flag every later (type, day, hour)
    cell whose count deviates by more than 3 sigma — the "traffic at 3am
    looks like 3pm" monitor that a flat threshold (events_threshold_anomaly)
    cannot express because normal load itself swings by hour of day.

    Exactness: the z-test runs entirely in integers via cross-multiplication
    — with n = baseline days, s = sum of counts, ss = sum of squares, x =
    observed count, ``z^2 > Z2  <=>  (n*x - s)^2 > Z2*(n*ss - s^2)`` — so
    both engines agree bit-for-bit with no float epsilon (same idiom as the
    PSI/chi-square family).  Zero-variance baselines degenerate correctly:
    any deviation flags, and ``z2_bp`` is NULL (division impossible).

    Scale shape: ONE count aggregation over the scan (map-side combine,
    key space |types| x days x 24), densified against a day x hour x type
    grid built from a 1-row bounds agg (grid is broadcast — missing cells
    MUST count as zero or quiet hours can never be anomalous); the baseline
    is a second agg over the tiny dense table and broadcasts back.  At
    100 TB nothing but the first agg touches the scan.  n*ss stays within
    int64 up to ~1e6 events per (type, hour) cell; beyond that promote the
    two quadratic terms to DECIMAL(38,0) (documented, not needed at any
    test SF)."""
    dense = _seasonal_dense(spark, sf_dir)
    base = _seasonal_baseline(dense)
    dev = F.col("bn") * F.col("n") - F.col("bs")  # n*x - s
    var_t = F.col("bn") * F.col("bss") - F.col("bs") * F.col("bs")  # n*ss - s^2
    return (
        dense.filter(~F.col("is_base"))
        .join(F.broadcast(base), ["event_type", "hr"])
        .filter(dev * dev > F.lit(SEASONAL_Z2) * var_t)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "hr",
            "n",
            F.floor(F.lit(10000) * F.col("bs") / F.col("bn"))
            .cast("bigint")
            .alias("base_mean_bp"),
            F.expr(
                "CAST(10000 * (bn*n - bs) * (bn*n - bs) DIV "
                "nullif(bn*bss - bs*bs, 0) AS BIGINT)"
            ).alias("z2_bp"),
        )
    )


ORACLE_SEASONAL_ANOMALY = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr, event_type
  FROM events
), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
spine AS (
  SELECT CAST(d0 + CAST(i AS INT) AS DATE) AS day, d0
  FROM b, UNNEST(range(0, CAST(d1 - d0 AS BIGINT) + 1)) AS t(i)
),
grid AS (
  SELECT s.day, s.d0, CAST(h.h AS INT) AS hr, ty.event_type
  FROM spine s, UNNEST(range(0, 24)) AS h(h),
       (SELECT DISTINCT event_type FROM ev) ty
),
hourly AS (
  SELECT day, hr, event_type, count(*) AS n FROM ev GROUP BY day, hr, event_type
),
dense AS (
  SELECT g.day, g.hr, g.event_type,
         CAST(coalesce(h.n, 0) AS BIGINT) AS n,
         g.day < g.d0 + {SEASONAL_BASELINE_DAYS} AS is_base
  FROM grid g LEFT JOIN hourly h
    ON g.day = h.day AND g.hr = h.hr AND g.event_type = h.event_type
),
base AS (
  SELECT event_type, hr, count(*) AS bn, sum(n) AS bs, sum(n * n) AS bss
  FROM dense WHERE is_base GROUP BY event_type, hr
)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.hr, d.n,
       CAST(floor(10000 * bs / bn) AS BIGINT) AS base_mean_bp,
       CAST((10000 * (bn*n - bs) * (bn*n - bs)) //
            nullif(bn*bss - bs*bs, 0) AS BIGINT) AS z2_bp
FROM dense d JOIN base b ON d.event_type = b.event_type AND d.hr = b.hr
WHERE NOT d.is_base
  AND (bn*n - bs) * (bn*n - bs) > {SEASONAL_Z2} * (bn*bss - bs*bs)
"""


# -- user activity concentration (Gini + Pareto share) ----------------------------


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration profile of the user base: the exact Gini
    coefficient of per-user event counts plus the top-decile share — the
    "do 10% of users generate 80% of traffic" measurement that sizes
    per-key skew mitigation (salting thresholds, hot-key caches) and
    flags bot cohorts when concentration jumps.

    Exactness: with users ranked ascending by count (ties on user_id),
    Gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) — every term an integer, one
    floor at the end, so both engines agree bit-for-bit.  Top-decile
    share counts the ⌊n/10⌋ highest-ranked users' events, same integer
    policy.

    Scale shape: ONE groupBy collapses the scan to a row per user; the
    rank window runs over per-user rows (documented global-window note:
    at 10⁹ users partition by a count-bucket prefix and prefix-sum block
    totals — the running-sum two-level scan); everything after is a
    1-row aggregate."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy(const_part(F.col("x"))).orderBy("x", "user_id")
    ranked = per_user.select(
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy(const_part(F.col("x")))
        ).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_users"),
        F.sum("x").alias("total_events"),
        F.expr(
            "CAST((10000 * (2 * sum(i * x) - (max(n) + 1) * sum(x))) "
            "DIV (max(n) * sum(x)) AS BIGINT)"
        ).alias("gini_bp"),
        F.expr(
            "CAST((10000 * sum(CASE WHEN i > n - n DIV 10 THEN x ELSE 0 END)) "
            "DIV sum(x) AS BIGINT)"
        ).alias("top_decile_bp"),
    )


ORACLE_USER_GINI = """
WITH per_user AS (
  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
         count(*) OVER () AS n
  FROM per_user
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(sum(x) AS BIGINT) AS total_events,
       CAST((10000 * (2 * sum(i * x) - (max(n) + 1) * sum(x)))
            // (max(n) * sum(x)) AS BIGINT) AS gini_bp,
       CAST((10000 * sum(CASE WHEN i > n - n // 10 THEN x ELSE 0 END))
            // sum(x) AS BIGINT) AS top_decile_bp
FROM ranked
"""


# -- inter-arrival burstiness ------------------------------------------------------

BURST_MIN_EVENTS = 20  # users below this have too few gaps to classify


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: the squared coefficient of
    variation of per-user gap times — CV² ≈ 1 is Poisson (memoryless)
    traffic, ≪ 1 periodic (heartbeats, cron), ≫ 1 bursty (sessions,
    retries, bots).  The statistic capacity planning and bot triage read
    off the event stream, per type.

    Exactness: gaps are integer microseconds from ONE per-user lag
    window; CV² cross-multiplies to integers — cv2_bp = 1e4·(n·Σg² −
    (Σg)²)/(Σg)² — with a single truncating division (Σg² in
    DECIMAL38/HUGEINT: microsecond squares overflow int64 past ~2-hour
    gaps).  Classification thresholds compare the same integers.

    Scale shape: one user-keyed window (the sequence shuffle every
    per-user op here shares), a per-(type, user) gap aggregate, then a
    per-type rollup of user CV²s.  Users under {BURST_MIN_EVENTS}
    events are excluded (documented small-sample rule)."""
    ev = read_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(seq).cast("timestamp"))
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    per_user = (
        gaps.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").alias("sg"),
            F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("sgg"),
        )
        .filter(F.col("n") >= BURST_MIN_EVENTS - 1)
        .withColumn(
            "cv2_bp",
            F.expr(
                "CAST((CAST(10000 AS DECIMAL(38,0)) * (n * sgg - CAST(sg AS DECIMAL(38,0)) * sg)) "
                "div (CAST(sg AS DECIMAL(38,0)) * sg) AS BIGINT)"
            ),
        )
    )
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("n_gaps"),
        F.expr("CAST(floor(avg(cv2_bp)) AS BIGINT)").alias("mean_cv2_bp"),
        F.sum((F.col("cv2_bp") > 20000).cast("long")).alias("n_bursty"),
        F.sum((F.col("cv2_bp") < 5000).cast("long")).alias("n_periodic"),
    )


ORACLE_BURSTINESS = f"""
WITH gaps AS (
  SELECT user_id, event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS g
  FROM events
),
per_user AS (
  SELECT user_id, event_type, count(*) AS n,
         sum(g) AS sg, sum(CAST(g AS HUGEINT) * g) AS sgg,
         CAST((CAST(10000 AS HUGEINT) * (count(*) * sum(CAST(g AS HUGEINT) * g)
               - CAST(sum(g) AS HUGEINT) * sum(g)))
              // (CAST(sum(g) AS HUGEINT) * sum(g)) AS BIGINT) AS cv2_bp
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id, event_type
  HAVING count(*) >= {BURST_MIN_EVENTS - 1}
)
SELECT event_type, count(*) AS n_users,
       CAST(sum(n) AS BIGINT) AS n_gaps,
       CAST(floor(avg(cv2_bp)) AS BIGINT) AS mean_cv2_bp,
       CAST(sum(CASE WHEN cv2_bp > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_bursty,
       CAST(sum(CASE WHEN cv2_bp < 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_periodic
FROM per_user GROUP BY event_type
"""


HOLT_HORIZON = 3  # h-step-ahead forecasts emitted past the last observed day


def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (double exponential
    smoothing) over daily event value — the FORECASTING leg of the
    time-series battery (EWMA smooths level only; CUSUM detects breaks;
    Theil–Sen fits one global slope; Holt tracks a time-varying level AND
    trend and extrapolates).  α = β = 1/2:

        forecast_t = l_{t-1} + b_{t-1}
        l_t = (l_{t-1} + b_{t-1} + y_t) / 2
        b_t = (b_{t-1} + (l_t - l_{t-1})) / 2

    with the classical init l_0 = y_0, b_0 = y_1 − y_0, plus
    {HOLT_HORIZON} out-of-sample forecasts l_T + h·b_T past the last day.

    Integer-exact across engines: the recursion runs on exact cents with
    per-step floor-halving — ``shiftright(x, 1)`` in Spark and ``x // 2``
    in DuckDB are BOTH floor division by 2 for signed BIGINT (the trend
    can go negative), so every (level, trend) state is bit-identical; no
    float ever enters.  A true recursion cannot be a window expression,
    but the DAILY series is a bounded pre-aggregate (|days| rows — the
    Theil–Sen argument), so Spark folds it with ONE ``aggregate`` HOF over
    the collected array and DuckDB replays it as a recursive CTE.

    Scale shape: one scan-sized map-side-combined daily rollup, then all
    recursion work happens on |days| rows on one executor — O(30), not
    O(events).  Precondition: ≥ 2 observed days (the init needs y_1)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    return holt_finish(daily)


def holt_finish(daily: DataFrame) -> DataFrame:
    """The Holt recursion + horizon finisher over a (day, y) frame —
    shared verbatim by the batch op and the streaming twin (the twin's
    daily rollup is maintained by the stream; the forecast finisher is a
    batch read of that state table)."""
    arr = daily.agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a"))
    lp = "shiftright(acc.l + acc.b + x.y, 1)"  # l_t, floor-halved
    row = (
        "named_struct("
        "'t', acc.t, "
        "'actual_cents', x.y, "
        "'forecast_cents', acc.l + acc.b, "
        f"'level_cents', {lp}, "
        f"'trend_cents', shiftright(acc.b + {lp} - acc.l, 1))"
    )
    future = ", ".join(
        "named_struct("
        f"'t', acc.t - 1 + {h}L, "
        "'actual_cents', cast(null as bigint), "
        f"'forecast_cents', acc.l + {h}L * acc.b, "
        "'level_cents', acc.l, "
        "'trend_cents', acc.b)"
        for h in range(1, HOLT_HORIZON + 1)
    )
    trace = arr.select(
        F.expr(
            f"""
            aggregate(
              slice(a, 2, size(a) - 1),
              named_struct(
                't', cast(1 as bigint),
                'l', a[0].y,
                'b', a[1].y - a[0].y,
                'rows', cast(array() as array<struct<
                  t: bigint, actual_cents: bigint, forecast_cents: bigint,
                  level_cents: bigint, trend_cents: bigint>>)),
              (acc, x) -> named_struct(
                't', acc.t + 1L,
                'l', {lp},
                'b', shiftright(acc.b + {lp} - acc.l, 1),
                'rows', concat(acc.rows, array({row}))),
              acc -> concat(acc.rows, array({future}))
            )
            """
        ).alias("rows")
    )
    return trace.select(F.explode("rows").alias("r")).select(
        F.col("r.t").alias("t"),
        F.col("r.actual_cents").alias("actual_cents"),
        F.col("r.forecast_cents").alias("forecast_cents"),
        (F.col("r.actual_cents") - F.col("r.forecast_cents")).alias("err_cents"),
        F.col("r.level_cents").alias("level_cents"),
        F.col("r.trend_cents").alias("trend_cents"),
    )


ORACLE_HOLT = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t, y
  FROM (SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1)
),
mx AS (SELECT max(t) AS maxt FROM daily),
r(t, l, b, fc, actual) AS (
  SELECT CAST(0 AS BIGINT),
         (SELECT y FROM daily WHERE t = 0),
         (SELECT y FROM daily WHERE t = 1) - (SELECT y FROM daily WHERE t = 0),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  UNION ALL
  SELECT d.t,
         CAST((r.l + r.b + d.y) >> 1 AS BIGINT),
         CAST((r.b + ((r.l + r.b + d.y) >> 1) - r.l) >> 1 AS BIGINT),
         CAST(r.l + r.b AS BIGINT),
         d.y
  FROM r JOIN daily d ON d.t = r.t + 1
)
SELECT t, actual AS actual_cents, fc AS forecast_cents,
       CAST(actual - fc AS BIGINT) AS err_cents,
       l AS level_cents, b AS trend_cents
FROM r WHERE t >= 1
UNION ALL
SELECT mx.maxt + h, CAST(NULL AS BIGINT),
       CAST(r.l + h * r.b AS BIGINT), CAST(NULL AS BIGINT), r.l, r.b
FROM r CROSS JOIN mx
CROSS JOIN (VALUES {", ".join(f"({h})" for h in range(1, HOLT_HORIZON + 1))}) hs(h)
WHERE r.t = mx.maxt
"""


HW_PERIOD = 7  # weekly additive seasonality over the daily rollup
HW_HORIZON = 7  # one full season of out-of-sample forecasts

_SLOTS = ["sa", "sb", "sc", "sd", "se", "sf", "sg"]  # rotating season ring


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive triple exponential smoothing over daily event
    value — the SEASONAL leg the Holt pair can't express (Holt's trend
    chases the weekly cycle up and down; Holt–Winters factors it into a
    {HW_PERIOD}-slot seasonal ring and forecasts level + trend + season).
    α = β = γ = 1/2, period m = {HW_PERIOD}:

        forecast_t = l_{{t-1}} + b_{{t-1}} + s_{{t-m}}
        l_t = ((y_t − s_{{t-m}}) + (l_{{t-1}} + b_{{t-1}})) / 2
        b_t = (b_{{t-1}} + (l_t − l_{{t-1}})) / 2
        s_t = ((y_t − l_t) + s_{{t-m}}) / 2

    with the classical two-season init l_0 = mean(y_0..y_6),
    b_0 = (mean(y_7..y_13) − mean(y_0..y_6)) / m, s_i = y_i − l_0, the
    recursion consuming y_7 onward, plus {HW_HORIZON} out-of-sample
    forecasts l_T + h·b_T + s_{{T+h−m}}.

    Integer-exact across engines: the recursion runs on exact cents with
    per-step floor-halving (``shiftright`` in Spark ≡ ``>>`` in DuckDB for
    signed BIGINT — the Holt parity already pinned); the init's /7 and
    /49 are sign-split floor divisions.  The seasonal state is an
    EXPLICIT 7-field ring rotated each step (head = the slot the current
    step consumes), so both engines carry bit-identical state with no
    array support needed in the recursive CTE.

    Scale shape: identical to Holt — one map-side-combined daily rollup,
    then all recursion work on |days| rows on one executor; O(30) state,
    not O(events).  Precondition: ≥ 2m = 14 observed days."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    return holt_winters_finish(daily)


def _fdiv(x: str, d: int) -> str:
    """Floor division by a positive constant as a SQL expression (Spark
    ``div`` and DuckDB ``//`` both truncate toward zero on BIGINT)."""
    return f"(if(({x}) >= 0, ({x}) div {d}, -((-({x}) + {d - 1}) div {d})))"


def holt_winters_finish(daily: DataFrame) -> DataFrame:
    """The Holt–Winters recursion + horizon finisher over a (day, y)
    frame — shared verbatim by the batch op and the streaming twin."""
    m = HW_PERIOD
    arr = daily.agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a"))
    s1 = "(" + " + ".join(f"a[{i}].y" for i in range(m)) + ")"
    s2 = "(" + " + ".join(f"a[{i}].y" for i in range(m, 2 * m)) + ")"
    l0 = _fdiv(s1, m)
    b0 = _fdiv(f"{s2} - {s1}", m * m)
    init_season = ", ".join(
        f"'{slot}', a[{i}].y - {l0}" for i, slot in enumerate(_SLOTS)
    )
    lp = "shiftright((x.y - acc.sa) + acc.l + acc.b, 1)"  # l_t
    bp = f"shiftright(acc.b + {lp} - acc.l, 1)"  # b_t
    sp = f"shiftright((x.y - {lp}) + acc.sa, 1)"  # s_t
    row = (
        "named_struct("
        "'t', acc.t + 1L, "
        "'actual_cents', x.y, "
        "'forecast_cents', acc.l + acc.b + acc.sa, "
        f"'level_cents', {lp}, "
        f"'trend_cents', {bp}, "
        f"'season_cents', {sp})"
    )
    rotate = ", ".join(
        f"'{_SLOTS[i]}', acc.{_SLOTS[i + 1]}" for i in range(m - 1)
    )
    future = ", ".join(
        "named_struct("
        f"'t', acc.t + {h}L, "
        "'actual_cents', cast(null as bigint), "
        f"'forecast_cents', acc.l + {h}L * acc.b + acc.{_SLOTS[h - 1]}, "
        "'level_cents', acc.l, "
        "'trend_cents', acc.b, "
        f"'season_cents', acc.{_SLOTS[h - 1]})"
        for h in range(1, HW_HORIZON + 1)
    )
    trace = arr.select(
        F.expr(
            f"""
            aggregate(
              slice(a, {m + 1}, size(a) - {m}),
              named_struct(
                't', cast({m - 1} as bigint),
                'l', {l0},
                'b', {b0},
                {init_season},
                'rows', cast(array() as array<struct<
                  t: bigint, actual_cents: bigint, forecast_cents: bigint,
                  level_cents: bigint, trend_cents: bigint,
                  season_cents: bigint>>)),
              (acc, x) -> named_struct(
                't', acc.t + 1L,
                'l', {lp},
                'b', {bp},
                {rotate},
                'sg', {sp},
                'rows', concat(acc.rows, array({row}))),
              acc -> concat(acc.rows, array({future}))
            )
            """
        ).alias("rows")
    )
    return trace.select(F.explode("rows").alias("r")).select(
        F.col("r.t").alias("t"),
        F.col("r.actual_cents").alias("actual_cents"),
        F.col("r.forecast_cents").alias("forecast_cents"),
        (F.col("r.actual_cents") - F.col("r.forecast_cents")).alias("err_cents"),
        F.col("r.level_cents").alias("level_cents"),
        F.col("r.trend_cents").alias("trend_cents"),
        F.col("r.season_cents").alias("season_cents"),
    )


def _oracle_holt_winters() -> str:
    m = HW_PERIOD

    def fdiv(x: str, d: int) -> str:
        return (
            f"(CASE WHEN ({x}) >= 0 THEN ({x}) // {d} "
            f"ELSE -((-({x}) + {d - 1}) // {d}) END)"
        )

    lp = "((d.y - r.sa + r.l + r.b) >> 1)"
    bp = f"((r.b + {lp} - r.l) >> 1)"
    sp = f"((d.y - {lp} + r.sa) >> 1)"
    base_season = ",\n         ".join(
        f"(SELECT y FROM daily WHERE t = {i}) - i.l0 AS {slot}"
        for i, slot in enumerate(_SLOTS)
    )
    shift = ", ".join(f"r.{_SLOTS[i + 1]}" for i in range(m - 1))
    season_case = " ".join(
        f"WHEN {h} THEN r.{_SLOTS[h - 1]}" for h in range(1, HW_HORIZON + 1)
    )
    return f"""
WITH RECURSIVE daily AS (
  SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t, y
  FROM (SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1)
),
mx AS (SELECT max(t) AS maxt FROM daily),
init AS (
  -- CASTs: DuckDB sum(BIGINT) is HUGEINT, which pandas renders as float —
  -- pin every derived state column back to BIGINT
  SELECT CAST({fdiv(f"sum(CASE WHEN t < {m} THEN y END)", m)} AS BIGINT) AS l0,
         CAST({fdiv(f"sum(CASE WHEN t >= {m} AND t < {2 * m} THEN y END)"
               f" - sum(CASE WHEN t < {m} THEN y END)", m * m)} AS BIGINT) AS b0
  FROM daily
),
r(t, l, b, sa, sb, sc, sd, se, sf, sg, fc, actual, season) AS (
  SELECT CAST({m - 1} AS BIGINT), i.l0, i.b0,
         {base_season},
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM init i
  UNION ALL
  SELECT d.t,
         CAST({lp} AS BIGINT),
         CAST({bp} AS BIGINT),
         {shift},
         CAST({sp} AS BIGINT),
         CAST(r.l + r.b + r.sa AS BIGINT),
         d.y,
         CAST({sp} AS BIGINT)
  FROM r JOIN daily d ON d.t = r.t + 1
)
SELECT t, actual AS actual_cents, fc AS forecast_cents,
       CAST(actual - fc AS BIGINT) AS err_cents,
       l AS level_cents, b AS trend_cents, season AS season_cents
FROM r WHERE t >= {m}
UNION ALL
SELECT mx.maxt + h, CAST(NULL AS BIGINT),
       CAST(r.l + h * r.b + CASE h {season_case} END AS BIGINT),
       CAST(NULL AS BIGINT), r.l, r.b,
       CAST(CASE h {season_case} END AS BIGINT)
FROM r CROSS JOIN mx
CROSS JOIN (VALUES {", ".join(f"({h})" for h in range(1, HW_HORIZON + 1))}) hs(h)
WHERE r.t = mx.maxt
"""


ORACLE_HOLT_WINTERS = _oracle_holt_winters()


BACKTEST_H = 7  # hold-out horizon: the last season of observed days


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST over the daily-value series — the evaluation leg
    the forecasting battery needs before anyone trusts a forecast: hold
    out the last {BACKTEST_H} observed days, fit every model on the
    train prefix only, score the hold-out.  Four models, exactly the
    production ladder: naive (last train value), seasonal naive
    (same-weekday last train week — the standard benchmark MASE scales
    against), Holt (level+trend), Holt–Winters (level+trend+season; both
    recursions shared bit-for-bit with their standalone ops).

    Metrics, integer-exact: MAE as the raw |error| cents sum over the
    horizon, and MASE in floored bp via cross-multiplication —
    ``(10⁴·Σ|err|·(n_train−1)) div (Σ_train|y_t−y_{{t−1}}|·h)`` — the
    Hyndman & Koehler scale-free form, no float anywhere.

    Scale shape: the same one daily rollup as Holt/HW; every fold and
    error sum runs on the |days| array on one executor (O(30), not
    O(events)).  Precondition: ≥ 21 observed days (14 for the HW init +
    the hold-out)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    return backtest_finish(daily)


def backtest_finish(daily: DataFrame) -> DataFrame:
    """The four-model fit + hold-out scoring over a (day, y) frame —
    shared verbatim by the batch op and the streaming twin."""
    m, h = HW_PERIOD, BACKTEST_H
    arr = daily.agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a"))
    n = "size(a)"
    # Holt fold over the train prefix (consumes a[1] .. a[n-8])
    lp = "shiftright(acc.l + acc.b + x.y, 1)"
    holt = f"""aggregate(
        slice(a, 2, {n} - {h + 1}),
        named_struct('l', a[0].y, 'b', a[1].y - a[0].y),
        (acc, x) -> named_struct('l', {lp},
                                 'b', shiftright(acc.b + {lp} - acc.l, 1)))"""
    # Holt-Winters fold over the train prefix (consumes a[7] .. a[n-8])
    s1 = "(" + " + ".join(f"a[{i}].y" for i in range(m)) + ")"
    s2 = "(" + " + ".join(f"a[{i}].y" for i in range(m, 2 * m)) + ")"
    l0, b0 = _fdiv(s1, m), _fdiv(f"{s2} - {s1}", m * m)
    init_season = ", ".join(
        f"'{slot}', a[{i}].y - {l0}" for i, slot in enumerate(_SLOTS)
    )
    wlp = "shiftright((x.y - acc.sa) + acc.l + acc.b, 1)"
    rotate = ", ".join(f"'{_SLOTS[i]}', acc.{_SLOTS[i + 1]}" for i in range(m - 1))
    hw = f"""aggregate(
        slice(a, {m + 1}, {n} - {h + m}),
        named_struct('l', {l0}, 'b', {b0}, {init_season}),
        (acc, x) -> named_struct(
            'l', {wlp},
            'b', shiftright(acc.b + {wlp} - acc.l, 1),
            {rotate},
            'sg', shiftright((x.y - {wlp}) + acc.sa, 1)))"""
    # in-sample naive denominator: sum |y_t - y_{t-1}| over the train prefix
    denom = f"""aggregate(sequence(1, {n} - {h + 1}), 0L,
                          (s, i) -> s + abs(a[i].y - a[i - 1].y))"""
    staged = arr.select(
        "a",
        F.expr(holt).alias("hs"),
        F.expr(hw).alias("ws"),
        F.expr(denom).alias("d"),
        F.expr(n).cast("long").alias("n_days"),
    )
    season_case = " ".join(
        f"WHEN {k} THEN ws.{_SLOTS[k]}" for k in range(h)
    )
    errs = {
        "naive": f"a[{n} - {h + 1}].y",
        "seasonal_naive": f"a[{n} - {h + m} + k].y",
        "holt": "hs.l + (k + 1L) * hs.b",
        "holt_winters": f"ws.l + (k + 1L) * ws.b + (CASE k {season_case} END)",
    }
    rows = ", ".join(
        f"""named_struct('model', '{name}',
                         'mae_total_cents', aggregate(
                             sequence(0, {h - 1}), 0L,
                             (s, k) -> s + abs(a[{n} - {h} + k].y - ({fc}))))"""
        for name, fc in errs.items()
    )
    return (
        staged.select(
            F.expr(f"explode(array({rows}))").alias("r"), "d", "n_days"
        )
        .select(
            F.col("r.model").alias("model"),
            F.col("r.mae_total_cents").alias("mae_total_cents"),
            F.expr(
                f"(10000 * r.mae_total_cents * (n_days - {h + 1}))"
                f" div (d * {h})"
            )
            .cast("long")
            .alias("mase_bp"),
            (F.col("n_days") - F.lit(h)).cast("long").alias("n_train"),
            F.lit(h).cast("long").alias("n_test"),
        )
    )


def _oracle_forecast_backtest() -> str:
    m, h = HW_PERIOD, BACKTEST_H

    def fdiv(x: str, d: int) -> str:
        return (
            f"(CASE WHEN ({x}) >= 0 THEN ({x}) // {d} "
            f"ELSE -((-({x}) + {d - 1}) // {d}) END)"
        )

    lp = "((r.l + r.b + d.y) >> 1)"
    wlp = "((d.y - r.sa + r.l + r.b) >> 1)"
    shift = ", ".join(f"r.{_SLOTS[i + 1]}" for i in range(m - 1))
    base_season = ",\n         ".join(
        f"(SELECT y FROM daily WHERE t = {i}) - i.l0 AS {slot}"
        for i, slot in enumerate(_SLOTS)
    )
    season_case = " ".join(f"WHEN {k} THEN w.{_SLOTS[k]}" for k in range(h))
    return f"""
WITH RECURSIVE daily AS (
  SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t, y
  FROM (SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1)
),
mx AS (SELECT max(t) + 1 AS n FROM daily),
init AS (
  SELECT CAST({fdiv(f"sum(CASE WHEN t < {m} THEN y END)", m)} AS BIGINT) AS l0,
         CAST({fdiv(f"sum(CASE WHEN t >= {m} AND t < {2 * m} THEN y END)"
               f" - sum(CASE WHEN t < {m} THEN y END)", m * m)} AS BIGINT) AS b0
  FROM daily
),
rh(t, l, b) AS (
  SELECT CAST(0 AS BIGINT), (SELECT y FROM daily WHERE t = 0),
         (SELECT y FROM daily WHERE t = 1) - (SELECT y FROM daily WHERE t = 0)
  UNION ALL
  SELECT d.t, CAST({lp} AS BIGINT),
         CAST((r.b + {lp} - r.l) >> 1 AS BIGINT)
  FROM rh r JOIN daily d ON d.t = r.t + 1
  WHERE d.t <= (SELECT n - {h + 1} FROM mx)
),
rw(t, l, b, sa, sb, sc, sd, se, sf, sg) AS (
  SELECT CAST({m - 1} AS BIGINT), i.l0, i.b0,
         {base_season}
  FROM init i
  UNION ALL
  SELECT d.t, CAST({wlp} AS BIGINT),
         CAST((r.b + {wlp} - r.l) >> 1 AS BIGINT),
         {shift},
         CAST((d.y - {wlp} + r.sa) >> 1 AS BIGINT)
  FROM rw r JOIN daily d ON d.t = r.t + 1
  WHERE d.t <= (SELECT n - {h + 1} FROM mx)
),
hstate AS (SELECT l, b FROM rh WHERE t = (SELECT n - {h + 1} FROM mx)),
wstate AS (SELECT * FROM rw WHERE t = (SELECT n - {h + 1} FROM mx)),
denom AS (
  SELECT CAST(sum(abs(d1.y - d0.y)) AS BIGINT) AS d
  FROM daily d1 JOIN daily d0 ON d0.t = d1.t - 1
  WHERE d1.t <= (SELECT n - {h + 1} FROM mx)
),
test AS (
  SELECT t - (SELECT n - {h} FROM mx) AS k, y FROM daily
  WHERE t >= (SELECT n - {h} FROM mx)
),
errs AS (
  SELECT 'naive' AS model,
         CAST(sum(abs(test.y - (SELECT y FROM daily
                                WHERE t = (SELECT n - {h + 1} FROM mx))))
              AS BIGINT) AS mae_total_cents
  FROM test
  UNION ALL
  SELECT 'seasonal_naive',
         CAST(sum(abs(test.y - sn.y)) AS BIGINT)
  FROM test JOIN daily sn ON sn.t = (SELECT n - {h + m} FROM mx) + test.k
  UNION ALL
  SELECT 'holt', CAST(sum(abs(test.y - (hs.l + (test.k + 1) * hs.b))) AS BIGINT)
  FROM test CROSS JOIN hstate hs
  UNION ALL
  SELECT 'holt_winters',
         CAST(sum(abs(test.y - (w.l + (test.k + 1) * w.b
                                + CASE test.k {season_case} END))) AS BIGINT)
  FROM test CROSS JOIN wstate w
)
SELECT e.model, e.mae_total_cents,
       CAST((10000 * e.mae_total_cents * ((SELECT n - {h + 1} FROM mx)))
            // (denom.d * {h}) AS BIGINT) AS mase_bp,
       CAST((SELECT n - {h} FROM mx) AS BIGINT) AS n_train,
       CAST({h} AS BIGINT) AS n_test
FROM errs e CROSS JOIN denom
"""


ORACLE_FORECAST_BACKTEST = _oracle_forecast_backtest()


def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control (the multiple-testing step-up every
    experimentation platform runs when it scores many metrics at once)
    over 50 hypotheses — one per (event_type × user-cohort) cell — with
    EXACT sign-test p-values, so no normal approximation and no float
    ever crosses the engines:

    - statistic: s = number of days the cell's daily mean value exceeds
      the corpus-wide mean (integer cross-multiplication on exact cents;
      a day the cell has no events counts as not-above, making every
      hypothesis an n-trial test with the SAME n = total distinct days —
      uniform n is what lets p-values be compared by numerator alone);
    - p-value: the exact binomial tail P(Bin(n,1/2) ≥ s) as the integer
      pair (tail = Σ_{k≥s} C(n,k), 2ⁿ) — C(n,k) built by the
      multiplicative recurrence inside ONE ``aggregate`` HOF (every
      intermediate division is exact); BIGINT-safe for n ≤ 52, far above
      the 30-day span (the oracle replays it as a recursive CTE);
    - step-up: rank cells by p ascending (deterministic tie-break), find
      the largest rank i with p_(i) ≤ α·i/m — cross-multiplied as
      ``1000·tail ≤ i·2ⁿ`` for α = 0.05, m = 50 — and reject every rank
      at or below it.

    Scale shape: one scan-sized daily rollup (map-side combined), the
    recurrence runs on |cells| rows against a length-n sequence, the
    step-up is one window + one scalar max — nothing is per-event."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    g = ev.agg(
        F.sum(cents).alias("g_sum"),
        F.count(F.lit(1)).alias("g_cnt"),
        F.countDistinct(F.to_date("ts")).alias("nd"),
    )
    cell_day = (
        ev.groupBy(
            "event_type",
            F.pmod(F.col("user_id"), F.lit(10)).alias("cohort"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.sum(cents).alias("ds"), F.count(F.lit(1)).alias("dc"))
    )
    cells = (
        cell_day.crossJoin(F.broadcast(g))
        .groupBy("event_type", "cohort")
        .agg(
            F.sum(
                (F.col("ds") * F.col("g_cnt") > F.col("g_sum") * F.col("dc"))
                .cast("long")
            ).alias("s_above"),
            F.first("nd").alias("nd"),
        )
    )
    # exact binomial tail: fold k = 1..n, carrying C(n,k) and the partial
    # tail; the k = 0 term (C = 1) seeds the tail when s == 0
    tail = F.expr(
        """
        aggregate(
          sequence(1L, nd),
          named_struct('c', cast(1 as bigint),
                       'tl', cast(if(s_above <= 0, 1, 0) as bigint)),
          (acc, k) -> named_struct(
            'c', acc.c * (nd - k + 1) div k,
            'tl', acc.tl + if(k >= s_above, acc.c * (nd - k + 1) div k, cast(0 as bigint))),
          acc -> acc.tl)
        """
    )
    scored = cells.select(
        "event_type", "cohort", "s_above", "nd", tail.alias("p_num")
    )
    w = Window.partitionBy(const_part(F.col("p_num"))).orderBy(
        "p_num", "event_type", "cohort"
    )
    two_n = F.expr("shiftleft(cast(1 as bigint), cast(nd as int))")
    ranked = (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("p_den", two_n)
        .withColumn(
            "passes",
            F.lit(1000) * F.col("p_num") <= F.col("rk") * F.col("p_den"),
        )
    )
    kmax = ranked.agg(
        F.coalesce(F.max(F.when(F.col("passes"), F.col("rk"))), F.lit(0)).alias(
            "kmax"
        )
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            "cohort",
            F.col("s_above").cast("long").alias("s_above"),
            F.col("p_num").cast("long").alias("p_num"),
            F.col("p_den").cast("long").alias("p_den"),
            F.col("rk").cast("long").alias("bh_rank"),
            (F.col("rk") <= F.col("kmax")).cast("long").alias("rejected"),
        )
    )


ORACLE_BH = """
WITH RECURSIVE g AS (
  SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS g_sum,
         CAST(count(*) AS BIGINT) AS g_cnt,
         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd
  FROM events
),
cell_day AS (
  SELECT event_type, user_id % 10 AS cohort, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ds,
         CAST(count(*) AS BIGINT) AS dc
  FROM events GROUP BY 1, 2, 3
),
cells AS (
  SELECT event_type, cohort,
         CAST(sum(CASE WHEN ds * (SELECT g_cnt FROM g) > (SELECT g_sum FROM g) * dc
                       THEN 1 ELSE 0 END) AS BIGINT) AS s_above
  FROM cell_day GROUP BY 1, 2
),
binom(k, c, tl) AS (
  SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         c * ((SELECT nd FROM g) - k) / (k + 1),
         tl + c * ((SELECT nd FROM g) - k) / (k + 1)
  FROM binom WHERE k < (SELECT nd FROM g)
),
scored AS (
  SELECT c.event_type, c.cohort, c.s_above,
         -- tail = 2^n - (partial sum below s) = sum_{k>=s} C(n,k)
         (SELECT CAST(sum(b.c) AS BIGINT) FROM binom b
          WHERE b.k >= c.s_above) AS p_num
  FROM cells c
),
ranked AS (
  SELECT event_type, cohort, s_above, p_num,
         CAST(row_number() OVER (ORDER BY p_num, event_type, cohort) AS BIGINT)
           AS bh_rank
  FROM scored
),
kmax AS (
  SELECT coalesce(max(CASE WHEN 1000 * p_num
                                <= bh_rank * (CAST(1 AS BIGINT) << (SELECT nd FROM g))
                           THEN bh_rank END), 0) AS kmax
  FROM ranked
)
SELECT event_type, cohort, s_above, p_num,
       CAST(CAST(1 AS BIGINT) << (SELECT nd FROM g) AS BIGINT) AS p_den,
       bh_rank,
       CAST(CASE WHEN bh_rank <= (SELECT kmax FROM kmax) THEN 1 ELSE 0 END AS BIGINT)
         AS rejected
FROM ranked
"""


def stats_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis — the experiment-DESIGN half the stats battery
    was missing (CUPED/lift/DiD measure after the fact; this sizes the
    experiment before it): per event type, the required per-arm sample
    size to detect an absolute +2pp lift in the conversion rate (share of
    events with value > 100) at α = 0.05 two-sided, 80% power, via the
    standard two-proportion formula

        n = ceil( (z_α·√(2·p̄·q̄) + z_β·√(p₁q₁ + p₂q₂))² / δ² )

    with p̄ the pooled rate under H₁ and FIXED z constants (1.96, 0.8416)
    — the textbook values, so the only data-dependent input is p₁.

    Cross-engine exactness: p₁ = hi/n is one IEEE double division, and
    every subsequent op (±, ×, √) is exactly rounded per IEEE-754 and
    applied in the SAME order in the oracle, so the double result — and
    its ceil — is bit-identical (this is the cosine-family argument;
    unlike log/exp, sqrt IS correctly rounded).

    Scale shape: one conditional aggregate per event type — a single
    map-side-combined pass."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("value") > 100.0).cast("long")).alias("n_hi"),
    )
    p1 = F.col("n_hi") / F.col("n_events")
    p2 = F.least(p1 + F.lit(0.02), F.lit(1.0))
    pbar = (p1 + p2) / F.lit(2.0)
    za, zb, delta = F.lit(1.96), F.lit(0.8416), F.lit(0.02)
    root = za * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar)) + zb * F.sqrt(
        p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2)
    )
    n_req = F.ceil(root * root / (delta * delta)).cast("long")
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_hi").cast("long").alias("n_hi"),
        F.floor(F.lit(10000) * p1).cast("long").alias("p1_bp"),
        n_req.alias("n_required_per_arm"),
    )


ORACLE_AB_POWER = """
WITH agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
  FROM events GROUP BY 1
),
p AS (SELECT *, CAST(n_hi AS DOUBLE) / n_events AS p1 FROM agg),
p2t AS (SELECT *, least(p1 + 0.02, 1.0) AS p2 FROM p),
pb AS (SELECT *, (p1 + p2) / 2.0 AS pbar FROM p2t),
-- root*root, never pow(x, 2): pow is not guaranteed correctly rounded,
-- while *, /, sqrt are — the cross-engine exactness argument
rt AS (
  SELECT *, 1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
            + 0.8416 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)) AS root
  FROM pb
)
SELECT event_type, n_events, n_hi,
       CAST(floor(10000 * p1) AS BIGINT) AS p1_bp,
       CAST(ceil(root * root / (0.02 * 0.02)) AS BIGINT) AS n_required_per_arm
FROM rt
"""


def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval per event type for the conversion
    rate (share of events with value > 100) — the READ-OUT companion to
    :func:`stats_ab_power`'s design-time sizing: the Wilson interval is
    the binomial CI that behaves at extreme rates and small n (never
    escapes [0,1], no add-2 hack), which is why it's the standard for
    dashboard error bars.

        center = p̂ + z²/2n,  half = z·√(p̂(1−p̂)/n + z²/4n²),
        (lo, hi) = (center ∓ half) / (1 + z²/n),  z = 1.96

    Cross-engine exactness: the ab_power argument — one double division
    for p̂, then ±, ×, /, √ (all IEEE exactly-rounded) applied in the
    SAME textual order in the oracle, so the doubles are bit-identical
    and the ppm floors hash exactly.

    Scale shape: one conditional aggregate per event type — a single
    map-side-combined pass; the interval math is per-group scalar."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("value") > 100.0).cast("long")).alias("n_hi"),
    )
    n = F.col("n_events").cast("double")
    p = F.col("n_hi").cast("double") / n
    z = F.lit(1.96)
    z2 = z * z
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_hi").cast("long").alias("n_hi"),
        F.floor(F.lit(1000000.0) * p).cast("long").alias("p_hat_ppm"),
        F.floor(F.lit(1000000.0) * ((center - half) / denom))
        .cast("long")
        .alias("wilson_lo_ppm"),
        F.floor(F.lit(1000000.0) * ((center + half) / denom))
        .cast("long")
        .alias("wilson_hi_ppm"),
    )


ORACLE_WILSON_CI = """
WITH agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
  FROM events GROUP BY 1
),
p AS (
  SELECT *, CAST(n_events AS DOUBLE) AS n,
         CAST(n_hi AS DOUBLE) / CAST(n_events AS DOUBLE) AS phat
  FROM agg
),
parts AS (
  SELECT *,
         1.0 + (1.96 * 1.96) / n AS denom,
         phat + (1.96 * 1.96) / (2.0 * n) AS center,
         1.96 * sqrt(phat * (1.0 - phat) / n
                     + (1.96 * 1.96) / (4.0 * n * n)) AS half
  FROM p
)
SELECT event_type, n_events, n_hi,
       CAST(floor(1000000.0 * phat) AS BIGINT) AS p_hat_ppm,
       CAST(floor(1000000.0 * ((center - half) / denom)) AS BIGINT) AS wilson_lo_ppm,
       CAST(floor(1000000.0 * ((center + half) / denom)) AS BIGINT) AS wilson_hi_ppm
FROM parts
"""


def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type — the parametric
    two-sample companion the battery was missing (Mann–Whitney is the
    rank test; Welch is THE default mean-comparison since equal-variance
    Student is never safe on production metrics): arms are the user-id
    parity cohorts (the BH split's coarsest rung), statistic

        t = (m̄_a − m̄_b) / √(s²_a/n_a + s²_b/n_b)

    with Welch–Satterthwaite degrees of freedom

        ν = (s²_a/n_a + s²_b/n_b)² /
            ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1)).

    Cross-engine exactness: the moment sums are EXACT BIGINTs on the
    cents grid (Σv, Σv² — v ≤ 10⁵ cents ⇒ Σv² ≤ 10¹⁰·n, BIGINT-safe far
    past this SF), and the finisher is a fixed scalar tree of IEEE
    exactly-rounded ops (±, ×, /, √ — never pow) applied in the SAME
    textual order in the oracle, so the doubles are bit-identical and
    the ppm/milli floors hash exactly (the ab_power/wilson_ci argument).

    Scale shape: ONE map-side-combined conditional aggregate per event
    type; the t/ν math is per-group scalar."""
    ev = read_table(spark, sf_dir, "events")
    agg = welch_moments(ev)
    return welch_finish(agg)


def welch_moments(ev: DataFrame) -> DataFrame:
    """The test's ENTIRE sufficient statistic: per event type, exact
    BIGINT moment sums (n, Σv, Σv²) for each user-parity arm — six
    mergeable counters per group, which is what lets the streaming twin
    maintain them as O(|types|) state."""
    cents = F.round(F.col("value") * 100).cast("long")
    arm_a = F.pmod(F.col("user_id"), F.lit(2)) == 0
    return ev.groupBy("event_type").agg(
        F.sum(arm_a.cast("long")).alias("n_a"),
        F.sum(F.when(arm_a, cents).otherwise(0)).alias("s_a"),
        F.sum(F.when(arm_a, cents * cents).otherwise(0)).alias("q_a"),
        F.sum((~arm_a).cast("long")).alias("n_b"),
        F.sum(F.when(~arm_a, cents).otherwise(0)).alias("s_b"),
        F.sum(F.when(~arm_a, cents * cents).otherwise(0)).alias("q_b"),
    )


def welch_finish(agg: DataFrame) -> DataFrame:
    """The fixed scalar IEEE tree (t statistic + Satterthwaite ν) over the
    moment sums — shared verbatim by the streaming twin so batch and
    stream are equal by construction."""
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("s_a").cast("double") / na
    mb = F.col("s_b").cast("double") / nb
    va = (F.col("q_a").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("q_b").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    se2a = va / na
    se2b = vb / nb
    se2 = se2a + se2b
    t = (ma - mb) / F.sqrt(se2)
    df = se2 * se2 / (
        se2a * se2a / (na - F.lit(1.0)) + se2b * se2b / (nb - F.lit(1.0))
    )
    return agg.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.floor(F.lit(1000.0) * (ma - mb)).cast("long").alias("mean_diff_millicents"),
        F.floor(F.lit(1000000.0) * t).cast("long").alias("t_stat_ppm"),
        F.floor(F.lit(1000.0) * df).cast("long").alias("welch_df_milli"),
    )


ORACLE_WELCH_TTEST = """
WITH agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_a,
         CAST(sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q_a,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0
                       ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS s_b,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0
                       ELSE CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS q_b
  FROM events GROUP BY 1
),
m AS (
  SELECT *,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb
  FROM agg
),
v AS (
  SELECT *,
         (CAST(q_a AS DOUBLE) - na * ma * ma) / (na - 1.0) / na AS se2a,
         (CAST(q_b AS DOUBLE) - nb * mb * mb) / (nb - 1.0) / nb AS se2b
  FROM m
),
s AS (SELECT *, se2a + se2b AS se2 FROM v)
SELECT event_type, n_a, n_b,
       CAST(floor(1000.0 * (ma - mb)) AS BIGINT) AS mean_diff_millicents,
       CAST(floor(1000000.0 * ((ma - mb) / sqrt(se2))) AS BIGINT) AS t_stat_ppm,
       CAST(floor(1000.0 * (se2 * se2 / (se2a * se2a / (na - 1.0)
                                          + se2b * se2b / (nb - 1.0)))) AS BIGINT)
         AS welch_df_milli
FROM s
"""


def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene's test with the MEDIAN center — the
    robust default) for equality of variances between the user-parity
    arms, per event type: Welch answers "do the means differ?", this
    answers "do the SPREADS differ?" — the diagnostic run before trusting
    any equal-variance assumption, and a metric drift alarm in its own
    right (a variance shift with a stable mean is invisible to the t).

        z_ij = |v_ij − median_i|,  W = (N−k)/(k−1) ·
               Σ n_i (z̄_i − z̄)² / Σ_ij (z_ij − z̄_i)²   (k = 2)

    Cross-engine exactness: the center is the LOWER median — the
    ((n+1) div 2)-th order statistic on the cents grid, an exact integer
    in both engines (row_number over equal cents is tie-arbitrary but
    the VALUE at rank k is well-defined) — so every z is an exact
    BIGINT, the moment sums are exact, and the W finisher is the same
    fixed IEEE tree argument as Welch, floored once onto ppm.

    Scale shape: one rank window per (type, arm) — the sort every order
    statistic pays, partitioned so no global pass — then one map-side-
    combined aggregate; the F math is per-group scalar."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w_ord = Window.partitionBy("event_type", "arm").orderBy("cents")
    w_arm = Window.partitionBy("event_type", "arm")
    ranked = base.withColumn("rn", F.row_number().over(w_ord)).withColumn(
        "cnt", F.count(F.lit(1)).over(w_arm)
    )
    med = ranked.withColumn(
        "med",
        F.max(
            F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("cents"))
        ).over(w_arm),
    )
    z = med.select(
        "event_type",
        "arm",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("z"),
    )
    a = F.col("arm") == 0
    agg = z.groupBy("event_type").agg(
        F.sum(a.cast("long")).alias("n_a"),
        F.sum(F.when(a, F.col("z")).otherwise(0)).alias("s_a"),
        F.sum(F.when(a, F.col("z") * F.col("z")).otherwise(0)).alias("q_a"),
        F.max(F.when(a, F.col("med"))).alias("med_a_cents"),
        F.sum((~a).cast("long")).alias("n_b"),
        F.sum(F.when(~a, F.col("z")).otherwise(0)).alias("s_b"),
        F.sum(F.when(~a, F.col("z") * F.col("z")).otherwise(0)).alias("q_b"),
        F.max(F.when(~a, F.col("med"))).alias("med_b_cents"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    zba = F.col("s_a").cast("double") / na
    zbb = F.col("s_b").cast("double") / nb
    zb = (F.col("s_a") + F.col("s_b")).cast("double") / nn
    between = na * (zba - zb) * (zba - zb) + nb * (zbb - zb) * (zbb - zb)
    within = (F.col("q_a").cast("double") - na * zba * zba) + (
        F.col("q_b").cast("double") - nb * zbb * zbb
    )
    w_stat = (nn - F.lit(2.0)) * between / within
    return agg.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("med_a_cents").cast("long").alias("med_a_cents"),
        F.col("med_b_cents").cast("long").alias("med_b_cents"),
        F.floor(F.lit(1000000.0) * w_stat).cast("long").alias("bf_w_ppm"),
    )


ORACLE_BROWN_FORSYTHE = """
WITH base AS (
  SELECT event_type, user_id % 2 AS arm,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, arm
                               ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY event_type, arm) AS cnt
  FROM base
),
med AS (
  SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN cents END)
              OVER (PARTITION BY event_type, arm) AS med
  FROM ranked
),
z AS (SELECT event_type, arm, med, abs(cents - med) AS z FROM med),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN z ELSE 0 END) AS BIGINT) AS s_a,
         CAST(sum(CASE WHEN arm = 0 THEN z * z ELSE 0 END) AS BIGINT) AS q_a,
         CAST(max(CASE WHEN arm = 0 THEN med END) AS BIGINT) AS med_a_cents,
         CAST(sum(CASE WHEN arm = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 0 THEN 0 ELSE z END) AS BIGINT) AS s_b,
         CAST(sum(CASE WHEN arm = 0 THEN 0 ELSE z * z END) AS BIGINT) AS q_b,
         CAST(max(CASE WHEN arm = 1 THEN med END) AS BIGINT) AS med_b_cents
  FROM z GROUP BY 1
),
m AS (
  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS zba,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS zbb,
         CAST(s_a + s_b AS DOUBLE)
           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS zb
  FROM agg
),
f AS (
  SELECT *,
         na * (zba - zb) * (zba - zb) + nb * (zbb - zb) * (zbb - zb)
           AS between_ss,
         (CAST(q_a AS DOUBLE) - na * zba * zba)
           + (CAST(q_b AS DOUBLE) - nb * zbb * zbb) AS within_ss
  FROM m
)
SELECT event_type, n_a, n_b, med_a_cents, med_b_cents,
       CAST(floor(1000000.0 * (((na + nb) - 2.0) * between_ss / within_ss))
            AS BIGINT) AS bf_w_ppm
FROM f
"""


def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB chart decimation (Steinarsson's Largest-Triangle-Three-Buckets
    — the downsample Grafana/Timescale use when min/max bars aren't
    enough, because it preserves the SHAPE of the series: per bucket it
    keeps the point forming the largest triangle with its neighbor
    buckets).  This is the PARALLEL fixed-anchor variant: both anchors
    are the neighbor buckets' average points (the sequential original
    chains on the previously selected point, which would serialize the
    scan; the paper's own evaluation shows the averaged variant tracks
    it closely) — so every bucket's argmax is independent and the whole
    op is two windows + one join, no recursion.

    Exactness: the triangle-area comparison is cleared of BOTH anchor
    divisions — for candidate (x, y) with left bucket (n_p, Sx_p, Sy_p)
    and right (n_n, Sx_n, Sy_n),

        2·Area·n_p²·n_n = |(Sx_p·n_n − Sx_n·n_p)·(y·n_p − Sy_p)
                           − (Sx_p − x·n_p)·(Sy_n·n_p − Sy_p·n_n)|

    an exact DECIMAL(38)/HUGEINT integer, so the per-bucket argmax (ties
    → earliest x) is bit-identical cross-engine.  x is the HOUR INDEX
    from the series start (epoch differences — timezone cancels), y the
    hourly cents sum.

    Scale shape: the hourly rollup is the data-sized reduction (one
    map-side-combined pass); everything after runs on |series|×|hours|
    rows with per-series windows — at 100 TB you downsample thousands of
    series, each bounded, never one unpartitioned window."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return lttb_finish(hourly)


def lttb_finish(hourly: DataFrame) -> DataFrame:
    """The decimation itself over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin, whose state is exactly this rollup."""
    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    pts = (
        hourly.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "x",
            (
                (
                    F.unix_timestamp("hour")
                    - F.min(F.unix_timestamp("hour")).over(w_all)
                )
                / F.lit(3600)
            ).cast("long"),
        )
    )
    beff = F.least(F.lit(12), F.col("m") - 2)
    lab = pts.withColumn(
        "b",
        F.when(F.col("rn") == 1, F.lit(-1).cast("long"))
        .when(F.col("rn") == F.col("m"), beff.cast("long"))
        .otherwise(F.expr("((rn - 2) * least(12, m - 2)) div (m - 2)")),
    )
    bk = lab.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    w_b = Window.partitionBy("event_type").orderBy("b")
    # fresh join-key names: lab and nbr share lineage (both derive from the
    # rollup), and the streaming twin's memory-sink view makes Spark's
    # attribute dedup refuse the ambiguous self-join otherwise
    nbr = bk.select(
        F.col("event_type").alias("nbr_event_type"),
        F.col("b").alias("nbr_b"),
        F.lag("n").over(w_b).alias("np"),
        F.lag("sx").over(w_b).alias("sxp"),
        F.lag("sy").over(w_b).alias("syp"),
        F.lead("n").over(w_b).alias("nn"),
        F.lead("sx").over(w_b).alias("sxn"),
        F.lead("sy").over(w_b).alias("syn"),
    )

    def d(c):
        return c.cast("decimal(38,0)")

    a2 = F.abs(
        (d(F.col("sxp")) * F.col("nn") - d(F.col("sxn")) * F.col("np"))
        * (d(F.col("y")) * F.col("np") - F.col("syp"))
        - (d(F.col("sxp")) - d(F.col("x")) * F.col("np"))
        * (d(F.col("syn")) * F.col("np") - d(F.col("syp")) * F.col("nn"))
    )
    w_pick = Window.partitionBy("event_type", "b").orderBy(
        F.desc("a2"), F.asc("x")
    )
    picked = (
        lab.filter((F.col("rn") > 1) & (F.col("rn") < F.col("m")))
        .join(
            nbr,
            (F.col("event_type") == F.col("nbr_event_type"))
            & (F.col("b") == F.col("nbr_b")),
        )
        .drop("nbr_event_type", "nbr_b")
        .withColumn("a2", a2)
        .withColumn("pr", F.row_number().over(w_pick))
        .withColumn(
            "n_candidates",
            F.count(F.lit(1)).over(Window.partitionBy("event_type", "b")),
        )
        .filter(F.col("pr") == 1)
        .select(
            "event_type",
            F.col("b").cast("long").alias("slot"),
            "hour",
            F.col("y").cast("long").alias("y_cents"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
    )
    ends = lab.filter((F.col("rn") == 1) | (F.col("rn") == F.col("m"))).select(
        "event_type",
        F.col("b").cast("long").alias("slot"),
        "hour",
        F.col("y").cast("long").alias("y_cents"),
        F.lit(1).cast("long").alias("n_candidates"),
    )
    return picked.unionByName(ends)


ORACLE_LTTB = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT event_type, hour, y,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m,
         CAST((CAST(epoch(hour) AS BIGINT)
               - min(CAST(epoch(hour) AS BIGINT))
                   OVER (PARTITION BY event_type)) / 3600 AS BIGINT) AS x
  FROM hourly
),
lab AS (
  SELECT *,
         CASE WHEN rn = 1 THEN CAST(-1 AS BIGINT)
              WHEN rn = m THEN CAST(least(12, m - 2) AS BIGINT)
              ELSE CAST(((rn - 2) * least(12, m - 2)) // (m - 2) AS BIGINT)
         END AS b
  FROM pts
),
bk AS (
  SELECT event_type, b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
  FROM lab GROUP BY 1, 2
),
nbr AS (
  SELECT event_type, b,
         lag(n) OVER w AS np, lag(sx) OVER w AS sxp, lag(sy) OVER w AS syp,
         lead(n) OVER w AS nn, lead(sx) OVER w AS sxn, lead(sy) OVER w AS syn
  FROM bk WINDOW w AS (PARTITION BY event_type ORDER BY b)
),
cand AS (
  SELECT l.event_type, l.b, l.hour, l.x, l.y,
         abs( (CAST(nb.sxp AS HUGEINT) * nb.nn - CAST(nb.sxn AS HUGEINT) * nb.np)
              * (CAST(l.y AS HUGEINT) * nb.np - nb.syp)
            - (CAST(nb.sxp AS HUGEINT) - CAST(l.x AS HUGEINT) * nb.np)
              * (CAST(nb.syn AS HUGEINT) * nb.np - CAST(nb.syp AS HUGEINT) * nb.nn)
         ) AS a2
  FROM lab l JOIN nbr nb ON l.event_type = nb.event_type AND l.b = nb.b
  WHERE l.rn > 1 AND l.rn < l.m
),
picked AS (
  SELECT event_type, b, hour, x, y,
         row_number() OVER (PARTITION BY event_type, b
                            ORDER BY a2 DESC, x ASC) AS pr,
         count(*) OVER (PARTITION BY event_type, b) AS n_candidates
  FROM cand
)
SELECT event_type, b AS slot, hour, CAST(y AS BIGINT) AS y_cents,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM picked WHERE pr = 1
UNION ALL
SELECT event_type, b AS slot, hour, CAST(y AS BIGINT) AS y_cents,
       CAST(1 AS BIGINT) AS n_candidates
FROM lab WHERE rn = 1 OR rn = m
"""


# -- Sample autocorrelation function --------------------------------------------

ACF_LAGS = (1, 2, 3, 6, 12, 24)


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation (ACF) of each event type's hourly cents
    series at the standard chart lags — the first thing a forecaster
    reads before choosing a model (Holt vs Holt-Winters vs nothing), and
    the residual-whiteness check after fitting one.

        acf(ℓ) = Σ_{t≤n−ℓ}(y_t−ȳ)(y_{t+ℓ}−ȳ) / Σ_{t≤n}(y_t−ȳ)²

    Fully integer-exact: clearing the mean's 1/n with n² turns both sums
    into exact DECIMAL(38)/HUGEINT products of (n·y_t − S) terms, and the
    single ppm division is sign-split so both engines truncate toward
    zero identically (the numerator is the only signed quantity).  The
    series index is the HOUR OFFSET from each series' start (epoch
    difference — timezone cancels); a silent hour simply contributes no
    pair at lags that would need it (inner join on t+ℓ).

    Scale shape: the hourly rollup is the data-sized reduction (map-side
    combine); the lag self-join and moment sums run per (type, lag) on
    the bounded |types|×|hours| rollup — at 100 TB thousands of bounded
    series, never a global pass."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return acf_finish(hourly)


def acf_finish(hourly: DataFrame) -> DataFrame:
    """The ACF itself over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin, whose state is exactly this rollup."""
    spark = hourly.sparkSession
    w_all = Window.partitionBy("event_type")
    pts = hourly.select(
        "event_type",
        "y",
        (
            (
                F.unix_timestamp("hour")
                - F.min(F.unix_timestamp("hour")).over(w_all)
            )
            / 3600
        )
        .cast("long")
        .alias("t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("y").over(w_all).alias("s"),
    ).withColumn(
        "dev", F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")
    )
    den = pts.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_hours"),
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in ACF_LAGS])).alias("lag")
    )
    # distinct column names on the two sides: frame-object join conditions
    # (a["x"] == b["x"]) resolve ambiguously when the shared lineage has
    # been cut by lineage_cut (the streaming twin's state table)
    a = pts.select("event_type", "t", F.col("dev").alias("dev_a"))
    b = pts.select(
        F.col("event_type").alias("event_type_b"),
        F.col("t").alias("tb"),
        F.col("dev").alias("dev_b"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("event_type") == F.col("event_type_b"))
            & (F.col("tb") == F.col("t") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dev_a") * F.col("dev_b")).alias("num"),
        )
    )
    return (
        num.join(den, "event_type")
        .selectExpr(
            "event_type",
            "lag",
            "n_pairs",
            "n_hours",
            # sign-split so Spark div (trunc) and DuckDB // (floor) agree
            "CAST(CASE WHEN num >= 0"
            " THEN (CAST(1000000 AS DECIMAL(38,0)) * num) div den"
            " ELSE -((CAST(1000000 AS DECIMAL(38,0)) * (-num)) div den)"
            " END AS BIGINT) AS acf_ppm",
        )
    )


_ACF_IN = ", ".join(str(l) for l in ACF_LAGS)

ORACLE_ACF = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT event_type, y,
         CAST((CAST(epoch(hour) AS BIGINT)
               - min(CAST(epoch(hour) AS BIGINT))
                   OVER (PARTITION BY event_type)) / 3600 AS BIGINT) AS t,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(y) OVER (PARTITION BY event_type) AS s
  FROM hourly
),
dv AS (
  SELECT event_type, t, CAST(n AS HUGEINT) * y - s AS dev, n FROM pts
),
den AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n_hours,
         sum(dev * dev) AS den
  FROM dv GROUP BY 1
),
num AS (
  SELECT a.event_type, l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
         sum(a.dev * b.dev) AS num
  FROM dv a
  CROSS JOIN (SELECT unnest([{_ACF_IN}]) AS lag) l
  JOIN dv b ON a.event_type = b.event_type AND b.t = a.t + l.lag
  GROUP BY 1, 2
)
SELECT n.event_type, CAST(n.lag AS INT) AS lag, n.n_pairs, d.n_hours,
       CAST(CASE WHEN n.num >= 0
            THEN (1000000 * n.num) // d.den
            ELSE -((1000000 * (-n.num)) // d.den)
            END AS BIGINT) AS acf_ppm
FROM num n JOIN den d ON n.event_type = d.event_type
ORDER BY 1, 2
"""


# -- Wald-Wolfowitz runs test -----------------------------------------------------


def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test — is each event type's hourly series
    RANDOM around its mean, or does it clump?  The hypothesis-test
    companion to events_regime_segments (which reports the runs; this
    scores them): too FEW runs ⇒ positive serial dependence (bursts),
    too MANY ⇒ oscillation.

    Exactness: the above/below flag lives on the exact ppm-mean grid
    (the regime op's rule, shared), the run count R is the exact
    gaps-and-islands segment count, and the null moments clear every
    fraction — μ·n = n + 2·n₁·n₀ and σ²·n²(n−1) = 2n₁n₀(2n₁n₀ − n) —
    so z = (R − μ)/σ is IEEE computed from exact integers only, with
    the same expression tree in both engines; degenerate series (all
    one side) report NULL.

    Scale shape: identical to the regime op — hourly rollup, two
    ordered windows per type over the bounded rollup, a per-type scalar
    finisher."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    flagged = (
        hourly.withColumn("s", F.sum("y").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "mean_ppm",
            F.expr(
                "CASE WHEN s >= 0"
                " THEN (CAST(1000000 AS DECIMAL(38,0)) * s) div n"
                " ELSE -((CAST(1000000 AS DECIMAL(38,0)) * (-s)) div n) END"
            ),
        )
        .withColumn(
            "hi",
            (
                F.lit(1000000).cast("decimal(38,0)") * F.col("y")
                >= F.col("mean_ppm")
            ).cast("int"),
        )
    )
    w_reg = Window.partitionBy("event_type", "hi").orderBy("hour")
    isl = flagged.withColumn(
        "island", F.row_number().over(w_ord) - F.row_number().over(w_reg)
    )
    agg = isl.groupBy("event_type").agg(
        F.countDistinct("hi", "island").cast("long").alias("r_runs"),
        F.sum("hi").cast("long").alias("n1"),
        F.sum(1 - F.col("hi")).cast("long").alias("n0"),
    )
    return agg.selectExpr(
        "event_type",
        "n1 + n0 AS n_hours",
        "n1 AS n_hi",
        "r_runs",
        # z from exact integers: mu = 1 + 2 n1 n0 / n ; var = 2n1n0(2n1n0-n)/(n^2(n-1))
        "CASE WHEN n1 = 0 OR n0 = 0 OR n1 + n0 < 2 THEN NULL ELSE"
        " (CAST(r_runs * (n1 + n0) - ((n1 + n0) + 2*n1*n0) AS DOUBLE)"
        "  / CAST(n1 + n0 AS DOUBLE))"
        " / SQRT(CAST(2*n1*n0 AS DOUBLE) * CAST(2*n1*n0 - (n1+n0) AS DOUBLE)"
        "   / (CAST(n1+n0 AS DOUBLE) * CAST(n1+n0 AS DOUBLE)"
        "      * CAST(n1+n0-1 AS DOUBLE))) END AS z",
    )


ORACLE_RUNS_TEST = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
flagged AS (
  SELECT event_type, hour,
         CASE WHEN CAST(1000000 AS HUGEINT) * y >=
           (CASE WHEN sum(y) OVER w >= 0
            THEN (CAST(1000000 AS HUGEINT) * sum(y) OVER w) // count(*) OVER w
            ELSE -((CAST(1000000 AS HUGEINT) * (-(sum(y) OVER w))) // count(*) OVER w)
            END)
         THEN 1 ELSE 0 END AS hi
  FROM hourly
  WINDOW w AS (PARTITION BY event_type)
),
isl AS (
  SELECT event_type, hi,
         row_number() OVER (PARTITION BY event_type ORDER BY hour)
           - row_number() OVER (PARTITION BY event_type, hi ORDER BY hour)
           AS island
  FROM flagged
),
agg AS (
  SELECT event_type,
         CAST(count(DISTINCT (hi, island)) AS BIGINT) AS r_runs,
         CAST(sum(hi) AS BIGINT) AS n1,
         CAST(sum(1 - hi) AS BIGINT) AS n0
  FROM isl GROUP BY event_type
)
SELECT event_type, n1 + n0 AS n_hours, n1 AS n_hi, r_runs,
       CASE WHEN n1 = 0 OR n0 = 0 OR n1 + n0 < 2 THEN NULL ELSE
         (CAST(r_runs * (n1 + n0) - ((n1 + n0) + 2*n1*n0) AS DOUBLE)
          / CAST(n1 + n0 AS DOUBLE))
         / SQRT(CAST(2*n1*n0 AS DOUBLE) * CAST(2*n1*n0 - (n1+n0) AS DOUBLE)
           / (CAST(n1+n0 AS DOUBLE) * CAST(n1+n0 AS DOUBLE)
              * CAST(n1+n0-1 AS DOUBLE))) END AS z
FROM agg ORDER BY event_type
"""


# -- Cohort LTV curve -------------------------------------------------------------


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime-value curve by acquisition cohort — the
    growth-team readout behind every payback-period decision (the
    battery's retention_cohorts counts SURVIVORS; this accumulates
    REVENUE): users are cohorted by first-seen week, revenue is bucketed
    by week-age since acquisition, and each (cohort, age) cell carries
    the cohort's cumulative cents per acquired user.

    Exactness: cohort and age are integer epoch-week arithmetic
    (``floor(epoch/604800)`` — timezone-free, both engines share it),
    revenue is exact cents, the running total is an integer prefix
    window, and per-user LTV is ONE div against the cohort's exact user
    count.

    Scale shape: one user-level first-seen rollup (map-side combine),
    one broadcast-joined week-age bucketing, the (cohort × age) rollup
    is bounded by weeks², and the prefix window runs per cohort over
    that bounded grid."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    week = (F.unix_timestamp("ts") / F.lit(604800)).cast("long")
    first = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    sized = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    aged = (
        ev.select("user_id", week.alias("w"), cents.alias("cents"))
        .join(first, "user_id")
        .select(
            "cohort_week",
            (F.col("w") - F.col("cohort_week")).alias("age_weeks"),
            "cents",
        )
        .groupBy("cohort_week", "age_weeks")
        .agg(F.sum("cents").alias("week_cents"))
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        aged.withColumn("cum_cents", F.sum("week_cents").over(w_cum))
        .join(F.broadcast(sized), "cohort_week")
        .selectExpr(
            "cohort_week",
            "age_weeks",
            "CAST(n_users AS BIGINT) AS n_users",
            "CAST(cum_cents AS BIGINT) AS cum_cents",
            "CAST(CASE WHEN cum_cents >= 0 THEN cum_cents div n_users"
            " ELSE -((-cum_cents) div n_users) END AS BIGINT)"
            " AS ltv_cents_per_user",
        )
    )


ORACLE_COHORT_LTV = """
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
first AS (
  SELECT user_id, min(w) AS cohort_week FROM ev GROUP BY user_id
),
sized AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
  FROM first GROUP BY cohort_week
),
aged AS (
  SELECT f.cohort_week, e.w - f.cohort_week AS age_weeks,
         CAST(sum(e.cents) AS BIGINT) AS week_cents
  FROM ev e JOIN first f USING (user_id)
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_week, age_weeks,
         sum(week_cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum_cents
  FROM aged
)
SELECT c.cohort_week, c.age_weeks, s.n_users,
       CAST(c.cum_cents AS BIGINT) AS cum_cents,
       CAST(CASE WHEN c.cum_cents >= 0 THEN c.cum_cents // s.n_users
            ELSE -((-c.cum_cents) // s.n_users) END AS BIGINT)
         AS ltv_cents_per_user
FROM cum c JOIN sized s USING (cohort_week)
ORDER BY cohort_week, age_weeks
"""


# -- Split-conformal forecast intervals -------------------------------------------

CONF_TRAIN_FRAC_PCT = 70  # calibration split (by day index, per series)
CONF_ALPHA_PCT = 10  # 90% nominal coverage


def events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around a seasonal-naive daily
    forecast — the DISTRIBUTION-FREE uncertainty wrapper modern
    forecasting pipelines put on any point model (finite-sample coverage
    guarantee, no residual-normality assumption): calibrate q̂ = the
    ⌈(1−α)(m+1)⌉-th smallest |residual| on the first 70% of days, then
    audit empirical coverage of ŷ ± q̂ on the held-out tail.  The
    battery's forecast_backtest scores point accuracy; this scores the
    INTERVAL the consumer actually acts on.

    Exactness: residuals are integer cents (|y_t − y_{t−7}|), q̂ is an
    exact ORDER STATISTIC (rank window + index filter — no interpolated
    percentile), the conformal index ⌈(1−α)(m+1)⌉ is integer
    arithmetic, and coverage is one ppm div.  A series whose calibration
    tail is too short (m < the index) reports NULL q̂/coverage rather
    than a silently-clamped quantile.

    Scale shape: daily rollup (map-side combine), per-type ordered
    windows over the bounded |types|×|days| rollup (lag-7, row_number),
    one rank window over the per-type calibration residuals, a per-type
    finisher — the forecast-family shape."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents).alias("y"))
    return conformal_finish(daily)


def conformal_finish(daily: DataFrame) -> DataFrame:
    """The calibration + audit over a (event_type, day, y) rollup —
    shared verbatim by the streaming twin, whose state is exactly this
    rollup."""
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    base = (
        daily.withColumn("t", F.row_number().over(w_ord))
        .withColumn("n_days", F.count(F.lit(1)).over(w_all))
        .withColumn("pred", F.lag("y", 7).over(w_ord))
        .filter(F.col("pred").isNotNull())
        .withColumn("resid", F.abs(F.col("y") - F.col("pred")))
        .withColumn(
            "is_cal",
            F.col("t") <= (F.col("n_days") * CONF_TRAIN_FRAC_PCT) / 100,
        )
    )
    cal = base.filter(F.col("is_cal"))
    w_rank = Window.partitionBy("event_type").orderBy("resid", "t")
    m = cal.groupBy("event_type").agg(F.count(F.lit(1)).alias("m_cal"))
    # conformal index k = ceil((1-alpha)(m+1)) on the integer grid
    k = m.withColumn(
        "k",
        F.expr(
            f"CAST(-((-(100 - {CONF_ALPHA_PCT}) * (m_cal + 1)) div 100)"
            " AS BIGINT)"
        ),
    )
    qhat = (
        cal.withColumn("r", F.row_number().over(w_rank))
        .join(k, "event_type")
        .filter(F.col("r") == F.col("k"))
        .select("event_type", F.col("resid").alias("qhat_cents"))
    )
    test = base.filter(~F.col("is_cal"))
    cov = (
        test.join(qhat, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (F.col("resid") <= F.col("qhat_cents")).cast("long")
            ).cast("long").alias("n_covered"),
            F.max("qhat_cents").cast("long").alias("qhat_cents"),
        )
    )
    return (
        cov.join(k.select("event_type", "m_cal", "k"), "event_type")
        .selectExpr(
            "event_type",
            "CAST(m_cal AS BIGINT) AS m_cal",
            "qhat_cents",  # NULL when m_cal < k (calibration too short)
            "n_test",
            "CAST(CASE WHEN qhat_cents IS NOT NULL AND n_test > 0"
            " THEN (1000000 * n_covered) div n_test END AS BIGINT)"
            " AS coverage_ppm",
        )
    )


ORACLE_CONFORMAL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, y,
         row_number() OVER w AS t,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         lag(y, 7) OVER w AS pred
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
resid AS (
  SELECT event_type, t, abs(y - pred) AS resid,
         t <= (n_days * {CONF_TRAIN_FRAC_PCT}) / 100 AS is_cal
  FROM base WHERE pred IS NOT NULL
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS m_cal,
         CAST(-((-(100 - {CONF_ALPHA_PCT}) * (count(*) + 1)) // 100) AS BIGINT) AS k
  FROM resid WHERE is_cal GROUP BY event_type
),
qhat AS (
  SELECT r.event_type, r.resid AS qhat_cents
  FROM (SELECT event_type, resid,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY resid, t) AS rnk
        FROM resid WHERE is_cal) r
  JOIN m ON m.event_type = r.event_type AND r.rnk = m.k
),
cov AS (
  SELECT t.event_type,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN t.resid <= q.qhat_cents THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
         CAST(max(q.qhat_cents) AS BIGINT) AS qhat_cents
  FROM resid t LEFT JOIN qhat q ON t.event_type = q.event_type
  WHERE NOT t.is_cal
  GROUP BY t.event_type
)
SELECT m.event_type, m.m_cal, cov.qhat_cents, cov.n_test,
       CAST(CASE WHEN cov.qhat_cents IS NOT NULL AND cov.n_test > 0
            THEN (1000000 * cov.n_covered) // cov.n_test END AS BIGINT)
         AS coverage_ppm
FROM m JOIN cov ON m.event_type = cov.event_type
ORDER BY m.event_type
"""


# -- Regime segmentation (gaps-and-islands) ---------------------------------------


def events_regime_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above/below-mean regime segmentation of each event type's hourly
    cents series — the gaps-and-islands readout behind burst/lull
    analysis: how many contiguous high-activity runs, how long do they
    last, what fraction of hours are high?  (The battery's burstiness
    scalar summarizes inter-arrival CV; this surfaces the RUNS.)

    Exactness: the regime threshold is the series mean ON THE PPM GRID
    (hi ⇔ 10⁶·y ≥ mean_ppm = (10⁶·S) div n, exact floor both engines
    share), and the island id is the classic difference of two
    row_numbers — pure integer window arithmetic.

    Scale shape: hourly rollup (map-side combine), two ordered windows
    per type over the bounded |types|×|hours| rollup, a per-type
    finisher — the partitioned-prefix family shape."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return regime_finish(hourly)


def regime_finish(hourly: DataFrame) -> DataFrame:
    """The segmentation over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin, whose state is exactly this rollup."""
    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    flagged = (
        hourly.withColumn("s", F.sum("y").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "mean_ppm",
            F.expr(
                "CASE WHEN s >= 0"
                " THEN (CAST(1000000 AS DECIMAL(38,0)) * s) div n"
                " ELSE -((CAST(1000000 AS DECIMAL(38,0)) * (-s)) div n) END"
            ),
        )
        .withColumn(
            "hi",
            (
                F.lit(1000000).cast("decimal(38,0)") * F.col("y")
                >= F.col("mean_ppm")
            ).cast("int"),
        )
    )
    w_reg = Window.partitionBy("event_type", "hi").orderBy("hour")
    isl = flagged.withColumn(
        "island", F.row_number().over(w_ord) - F.row_number().over(w_reg)
    )
    runs = isl.groupBy("event_type", "hi", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.max(F.when(F.col("hi") == 1, F.col("run_len"))).cast("long")
            .alias("longest_hi_run"),
            F.max(F.when(F.col("hi") == 0, F.col("run_len"))).cast("long")
            .alias("longest_lo_run"),
            F.sum(F.when(F.col("hi") == 1, F.col("run_len")).otherwise(0))
            .cast("long").alias("n_hi_hours"),
        )
    )


ORACLE_REGIME = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
flagged AS (
  SELECT event_type, hour, y,
         CASE WHEN CAST(1000000 AS HUGEINT) * y >=
           (CASE WHEN sum(y) OVER w >= 0
            THEN (CAST(1000000 AS HUGEINT) * sum(y) OVER w) // count(*) OVER w
            ELSE -((CAST(1000000 AS HUGEINT) * (-(sum(y) OVER w))) // count(*) OVER w)
            END)
         THEN 1 ELSE 0 END AS hi
  FROM hourly
  WINDOW w AS (PARTITION BY event_type)
),
isl AS (
  SELECT event_type, hi,
         row_number() OVER (PARTITION BY event_type ORDER BY hour)
           - row_number() OVER (PARTITION BY event_type, hi ORDER BY hour)
           AS island
  FROM flagged
),
runs AS (
  SELECT event_type, hi, island, count(*) AS run_len
  FROM isl GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(max(CASE WHEN hi = 1 THEN run_len END) AS BIGINT) AS longest_hi_run,
       CAST(max(CASE WHEN hi = 0 THEN run_len END) AS BIGINT) AS longest_lo_run,
       CAST(sum(CASE WHEN hi = 1 THEN run_len ELSE 0 END) AS BIGINT) AS n_hi_hours
FROM runs GROUP BY event_type
ORDER BY event_type
"""


# -- Lorenz concentration curve ---------------------------------------------------


def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of user spend concentration — the CURVE behind the
    battery's scalar Gini (events_user_gini): users sorted by total
    cents ascending, cumulative spend share at each population decile.
    The readout capacity planning and abuse teams actually look at ("the
    top decile carries X% of volume"), not just the summary coefficient.

    Exactness: per-user totals are exact cents; deciles are ``ntile(10)``
    over the fully-deterministic (total, user_id) order both engines
    share; each decile's cumulative share is ONE div on the ppm grid
    against the exact grand total.

    Scale shape: per-user rollup (map-side combine), one total-order
    window over the |users| rollup (the same price every rank op pays —
    pre-bucket by range at 100 TB), a 10-row finisher."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(F.sum(cents).alias("total"))
    return lorenz_finish(per_user)


def lorenz_finish(per_user: DataFrame) -> DataFrame:
    """The curve over a (user_id, total) rollup — shared verbatim by the
    streaming twin, whose state is exactly this rollup."""
    w_ord = Window.partitionBy(const_part(F.col("total"))).orderBy(
        "total", "user_id"
    )
    decile = per_user.withColumn("decile", F.ntile(10).over(w_ord))
    per_dec = decile.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("total").cast("long").alias("dec_cents"),
    )
    w_cum = Window.partitionBy(const_part(F.col("decile"))).orderBy(
        "decile"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(const_part(F.col("decile")))
    return (
        per_dec.withColumn("cum_cents", F.sum("dec_cents").over(w_cum))
        .withColumn("grand", F.sum("dec_cents").over(w_all))
        .selectExpr(
            "decile",
            "n_users",
            "cum_cents",
            "CAST(CASE WHEN cum_cents >= 0"
            " THEN (1000000 * cum_cents) div grand"
            " ELSE -((1000000 * (-cum_cents)) div grand) END AS BIGINT)"
            " AS cum_share_ppm",
        )
    )


ORACLE_LORENZ = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
  FROM events GROUP BY user_id
),
dec AS (
  SELECT ntile(10) OVER (ORDER BY total, user_id) AS decile, total
  FROM per_user
),
per_dec AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(total) AS BIGINT) AS dec_cents
  FROM dec GROUP BY decile
)
SELECT decile, n_users,
       CAST(sum(dec_cents) OVER w AS BIGINT) AS cum_cents,
       CAST(CASE WHEN sum(dec_cents) OVER w >= 0
            THEN (1000000 * sum(dec_cents) OVER w)
                 // (sum(dec_cents) OVER ())
            ELSE -((1000000 * (-(sum(dec_cents) OVER w)))
                 // (sum(dec_cents) OVER ())) END AS BIGINT) AS cum_share_ppm
FROM per_dec
WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY decile
"""


# -- STL-lite seasonal decomposition ----------------------------------------------

STL_HALF_WINDOW = 12  # centered moving-average half-width (25-row window)


def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal–trend decomposition of each event type's hourly
    cents series — the classical additive decomposition every monitoring
    dashboard draws (y = trend + seasonal + remainder), as one
    moving-average pass instead of STL's loess iterations: trend = the
    25-row centered moving average (edges use the partial window),
    seasonal(h) = the mean detrended value at hour-of-day h.

    Exactness: the trend lives on the ppm grid — trend_ppm =
    (10⁶·Σwindow) div count (exact floor both engines share), detrended
    = 10⁶·y − trend_ppm stays integer, and the per-hour-of-day seasonal
    mean is ONE sign-split div.  Row-position windows (not calendar
    hours), so silent hours compress the window — documented, identical
    in both engines.

    Output: the 24-row seasonal profile per type (n observations,
    seasonal_ppm) — the artifact a dashboard overlays — keyed
    (event_type, hour_of_day).

    Scale shape: hourly rollup (map-side combine), one ordered window
    per type over the bounded |types|×|hours| rollup, one
    hour-of-day aggregation — the partitioned-prefix shape of the
    Holt/ACF family."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return stl_finish(hourly)


def stl_finish(hourly: DataFrame) -> DataFrame:
    """The decomposition over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin, whose state is exactly this rollup."""
    w_ma = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-STL_HALF_WINDOW, STL_HALF_WINDOW)
    )
    det = (
        hourly.withColumn("w_sum", F.sum("y").over(w_ma))
        .withColumn("w_cnt", F.count(F.lit(1)).over(w_ma))
        .withColumn(
            "trend_ppm",
            F.expr(
                "CASE WHEN w_sum >= 0"
                " THEN (CAST(1000000 AS DECIMAL(38,0)) * w_sum) div w_cnt"
                " ELSE -((CAST(1000000 AS DECIMAL(38,0)) * (-w_sum)) div w_cnt)"
                " END"
            ),
        )
        .withColumn(
            "det",
            F.lit(1000000).cast("decimal(38,0)") * F.col("y") - F.col("trend_ppm"),
        )
        .withColumn("hod", F.hour("hour").cast("int"))
    )
    return (
        det.groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("det").alias("det_sum"),
        )
        .selectExpr(
            "event_type",
            "hod AS hour_of_day",
            "n_obs",
            "CAST(CASE WHEN det_sum >= 0 THEN det_sum div n_obs"
            " ELSE -((-det_sum) div n_obs) END AS BIGINT) AS seasonal_ppm",
        )
    )


ORACLE_STL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
det AS (
  SELECT event_type, hour, y,
         sum(y) OVER w AS w_sum, count(*) OVER w AS w_cnt,
         CAST(hour(hour) AS INT) AS hod
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {STL_HALF_WINDOW} PRECEDING
                        AND {STL_HALF_WINDOW} FOLLOWING)
),
scored AS (
  SELECT event_type, hod,
         CAST(1000000 AS HUGEINT) * y
           - (CASE WHEN w_sum >= 0
              THEN (CAST(1000000 AS HUGEINT) * w_sum) // w_cnt
              ELSE -((CAST(1000000 AS HUGEINT) * (-w_sum)) // w_cnt) END)
           AS det
  FROM det
)
SELECT event_type, hod AS hour_of_day,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(CASE WHEN sum(det) >= 0 THEN sum(det) // count(*)
            ELSE -((-sum(det)) // count(*)) END AS BIGINT) AS seasonal_ppm
FROM scored GROUP BY 1, 2
ORDER BY event_type, hour_of_day
"""


# -- Friedman test ----------------------------------------------------------------


def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the non-parametric repeated-measures ANOVA: do the
    event types differ in daily cents volume once the DAY-level variation
    is blocked out?  Each day is a complete block (types with no events
    that day enter at 0 — the grid is day×type by construction), values
    are ranked WITHIN the day, and the statistic compares the per-type
    rank sums; the k-related-samples sibling of the battery's
    Kruskal–Wallis (independent samples).

    Exactness: the within-block tie-averaged rank stays doubled-integer
    (2·r̄ = 2·rank() + tiecount − 1, the house rank pattern), and the
    tie-corrected statistic clears every fraction:

        Q = (k−1)·[Σ_j D_j² − n²k(k+1)²] / [Σ_{{ij}} (2r_ij)² − nk(k+1)²]

    with D_j the doubled per-type rank sums — numerator and denominator
    are exact integers (numerator ≥ 0 by Cauchy–Schwarz), ONE sign-free
    ppm floor at the end, NULL when every block is fully tied (the
    statistic is undefined).

    Scale shape: daily rollup (map-side combine), a broadcast day×type
    grid completion, ranking windows partitioned BY DAY over the bounded
    |days|×|types| grid — never a global order — and one 1-row
    aggregation."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.sum(cents).alias("y"))
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    full = grid.join(daily, ["day", "event_type"], "left").na.fill(0, ["y"])
    w_rank = Window.partitionBy("day").orderBy("y")
    w_tie = Window.partitionBy("day", "y")
    ranked = full.withColumn(
        "r2", 2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1
    )
    per_type = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("d_j"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    sums = ranked.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("sum_r2sq")
    )
    agg = per_type.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n_blocks").cast("long").alias("n"),
        F.sum(F.col("d_j") * F.col("d_j")).cast("long").alias("sum_dj_sq"),
    ).crossJoin(F.broadcast(sums))
    return agg.selectExpr(
        "k",
        "n AS n_blocks",
        "CAST(k - 1 AS BIGINT) AS df",
        "CAST(CASE WHEN sum_r2sq = n * k * (k+1) * (k+1) THEN NULL ELSE"
        " (1000000 * (k-1) * (sum_dj_sq - n*n*k*(k+1)*(k+1)))"
        " div (sum_r2sq - n*k*(k+1)*(k+1)) END AS BIGINT) AS q_ppm",
    )


ORACLE_FRIEDMAN = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT d.day, t.event_type, coalesce(x.y, 0) AS y
  FROM (SELECT DISTINCT day FROM daily) d
  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
  LEFT JOIN daily x ON x.day = d.day AND x.event_type = t.event_type
),
ranked AS (
  SELECT day, event_type, y,
         2 * rank() OVER (PARTITION BY day ORDER BY y)
           + count(*) OVER (PARTITION BY day, y) - 1 AS r2
  FROM grid
),
per_type AS (
  SELECT event_type, CAST(sum(r2) AS BIGINT) AS d_j,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY event_type
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(max(n_blocks) AS BIGINT) AS n,
         CAST(sum(d_j * d_j) AS BIGINT) AS sum_dj_sq,
         (SELECT CAST(sum(r2 * r2) AS BIGINT) FROM ranked) AS sum_r2sq
  FROM per_type
)
SELECT k, n AS n_blocks, CAST(k - 1 AS BIGINT) AS df,
       CAST(CASE WHEN sum_r2sq = n * k * (k+1) * (k+1) THEN NULL ELSE
         (1000000 * (k-1) * (sum_dj_sq - n*n*k*(k+1)*(k+1)))
         // (sum_r2sq - n*k*(k+1)*(k+1)) END AS BIGINT) AS q_ppm
FROM agg
"""


# -- Mann-Kendall trend test ------------------------------------------------------

MK_Z_CRIT_PPM = 1_959_964  # two-sided 5% normal critical value, ppm grid


def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test over each event type's hourly cents series
    — the standard NON-parametric monotonic-trend detector (no linearity
    or normality assumed; the hypothesis-test companion to the battery's
    Theil–Sen slope estimator): S = Σ_{i<j} sign(y_j − y_i), with the
    tie-corrected variance Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) over
    tie-group sizes t, and the continuity-corrected normal score
    z = (S ∓ 1)/√Var.

    Exactness: S, both variance terms, and the tie-group sizes are exact
    integers (pairwise sign sums — no means, no squares of data values);
    only the final z is IEEE, computed from those exact integers with the
    identical expression in both engines, and the trend CALL is made on
    the exact-integer ppm grid (|z|·10⁶ vs MK_Z_CRIT_PPM) so the
    classification can never drift.

    Scale shape: hourly rollup first (map-side combine), then the i<j
    pair join runs per type over the BOUNDED |types|×|hours| rollup —
    O(|hours|²) per series with |hours| fixed by the retention window,
    never a raw-event pass; at 100 TB thousands of bounded series run in
    parallel."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return mann_kendall_finish(hourly)


def mann_kendall_finish(hourly: DataFrame) -> DataFrame:
    """The test over a (event_type, hour, y) rollup — shared verbatim by
    the streaming twin, whose state is exactly this rollup."""
    a = hourly.select(
        "event_type", F.col("hour").alias("h1"), F.col("y").alias("y1")
    )
    b = hourly.select(
        "event_type", F.col("hour").alias("h2"), F.col("y").alias("y2")
    )
    sgn = (
        F.when(F.col("y2") > F.col("y1"), F.lit(1))
        .when(F.col("y2") < F.col("y1"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s_stat = (
        a.join(b, "event_type")
        .filter(F.col("h1") < F.col("h2"))
        .groupBy("event_type")
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    ties = (
        hourly.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("_ng"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie_term"),
            F.sum(F.col("t")).cast("long").alias("n_hours"),
        )
        .drop("_ng")
    )
    base = s_stat.join(ties, "event_type").withColumn(
        "var18",
        (
            F.col("n_hours") * (F.col("n_hours") - 1) * (2 * F.col("n_hours") + 5)
            - F.col("tie_term")
        ).cast("long"),
    )
    return base.selectExpr(
        "event_type",
        "n_hours",
        "s_stat",
        "var18",
        "CASE WHEN var18 > 0 AND s_stat <> 0 THEN"
        " (CAST(s_stat AS DOUBLE) - CAST(SIGN(s_stat) AS DOUBLE))"
        " / SQRT(CAST(var18 AS DOUBLE) / 18.0) ELSE 0.0 END AS z",
        f"CASE WHEN var18 > 0 AND s_stat <> 0 AND"
        f" CAST(FLOOR(ABS((CAST(s_stat AS DOUBLE) - CAST(SIGN(s_stat) AS DOUBLE))"
        f" / SQRT(CAST(var18 AS DOUBLE) / 18.0)) * 1000000) AS BIGINT)"
        f" >= {MK_Z_CRIT_PPM}"
        f" THEN (CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END)"
        f" ELSE 'none' END AS trend",
    )


ORACLE_MANN_KENDALL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.hour < b.hour
  GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(sum(t) AS BIGINT) AS n_hours
  FROM (SELECT event_type, y, count(*) AS t FROM hourly GROUP BY 1, 2)
  GROUP BY 1
),
base AS (
  SELECT s.event_type, n_hours, s_stat,
         CAST(n_hours * (n_hours - 1) * (2 * n_hours + 5) - tie_term
              AS BIGINT) AS var18
  FROM s JOIN ties ON s.event_type = ties.event_type
)
SELECT event_type, n_hours, s_stat, var18,
       CASE WHEN var18 > 0 AND s_stat <> 0 THEN
         (CAST(s_stat AS DOUBLE) - CAST(SIGN(s_stat) AS DOUBLE))
         / SQRT(CAST(var18 AS DOUBLE) / 18.0) ELSE 0.0 END AS z,
       CASE WHEN var18 > 0 AND s_stat <> 0 AND
         CAST(FLOOR(ABS((CAST(s_stat AS DOUBLE) - CAST(SIGN(s_stat) AS DOUBLE))
           / SQRT(CAST(var18 AS DOUBLE) / 18.0)) * 1000000) AS BIGINT)
           >= {MK_Z_CRIT_PPM}
         THEN (CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END)
         ELSE 'none' END AS trend
FROM base ORDER BY event_type
"""


# -- Croston intermittent-demand forecasting --------------------------------------

CROSTON_THRESHOLD = 300.0  # "demand" = daily cents of events with value >= this


def events_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method — THE forecaster for INTERMITTENT demand (series
    that are mostly zero with occasional spikes: spare parts, rare
    high-value events), which plain exponential smoothing systematically
    underforecasts right after each zero run.  Croston decomposes the
    series into smoothed nonzero demand SIZE z and smoothed inter-demand
    INTERVAL p, forecasting z/p per period; here over each event type's
    daily total of high-value (value ≥ CROSTON_THRESHOLD) cents — a
    genuinely intermittent 2-6-demand-days-in-30 series at sf0.01.

    α = 1/2 on both smoothers, exactly the Holt family's integer ring:
    every update is ``shiftright(x, 1)`` ≡ ``x // 2`` on nonnegative
    BIGINTs, so the whole recursion state is bit-identical cross-engine;
    the only division is the final (10⁶·z) div p.  The zero-demand grid
    comes free: the rollup runs over ALL events' (type, day) cells with
    the threshold inside the sum, so silent-demand days appear as d=0
    without a gapfill join.  A true recursion cannot be a window, but
    the daily series is a bounded pre-aggregate — Spark folds it with
    ONE aggregate HOF per type, DuckDB replays it as a recursive CTE
    (the Holt/Holt-Winters pattern).

    Scale shape: one map-side-combined rollup; recursion on |days| rows
    per type."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(
            F.when(F.col("value") >= CROSTON_THRESHOLD, cents).otherwise(0)
        ).alias("d")
    )
    return croston_finish(daily)


def croston_finish(daily: DataFrame) -> DataFrame:
    """The Croston fold over a (event_type, day, d) demand rollup —
    shared verbatim by the streaming twin, whose state is exactly this
    rollup."""
    arr = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "d"))).alias("a")
    )
    # fold state: z/p the smoothers, q = periods since last demand BEFORE
    # the current one, seen = init flag
    step = (
        "named_struct("
        "'z', CASE WHEN x.d > 0 THEN IF(acc.seen = 1,"
        " shiftright(acc.z + x.d, 1), x.d) ELSE acc.z END, "
        "'p', CASE WHEN x.d > 0 THEN IF(acc.seen = 1,"
        " shiftright(acc.p + acc.q + 1, 1), acc.q + 1) ELSE acc.p END, "
        "'q', CASE WHEN x.d > 0 THEN 0L ELSE acc.q + 1 END, "
        "'seen', CASE WHEN x.d > 0 THEN 1 ELSE acc.seen END)"
    )
    folded = arr.selectExpr(
        "event_type",
        "size(a) AS n_days",
        "size(filter(a, x -> x.d > 0)) AS n_demand_days",
        f"aggregate(a, named_struct('z', 0L, 'p', 0L, 'q', 0L, 'seen', 0),"
        f" (acc, x) -> {step}) AS s",
    )
    return folded.selectExpr(
        "event_type",
        "CAST(n_days AS BIGINT) AS n_days",
        "CAST(n_demand_days AS BIGINT) AS n_demand_days",
        "CASE WHEN s.seen = 1 THEN s.z END AS z_cents",
        "CASE WHEN s.seen = 1 THEN s.p END AS p_periods",
        "CASE WHEN s.seen = 1 THEN"
        " CAST((CAST(1000000 AS DECIMAL(38,0)) * s.z) div s.p AS BIGINT)"
        " END AS forecast_microcents",
    )


ORACLE_CROSTON = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN value >= {CROSTON_THRESHOLD}
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
  FROM daily
),
rec AS (
  SELECT event_type, CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS z,
         CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS q, 0 AS seen
  FROM (SELECT DISTINCT event_type FROM daily)
  UNION ALL
  SELECT r.event_type, r.t + 1,
         CASE WHEN s.d > 0 THEN CASE WHEN r.seen = 1
              THEN (r.z + s.d) // 2 ELSE s.d END ELSE r.z END,
         CASE WHEN s.d > 0 THEN CASE WHEN r.seen = 1
              THEN (r.p + r.q + 1) // 2 ELSE r.q + 1 END ELSE r.p END,
         CASE WHEN s.d > 0 THEN 0 ELSE r.q + 1 END,
         CASE WHEN s.d > 0 THEN 1 ELSE r.seen END
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.t = r.t + 1
),
fin AS (
  SELECT r.event_type, r.z, r.p, r.seen
  FROM rec r
  JOIN (SELECT event_type, max(t) AS mt FROM rec GROUP BY 1) m
    ON r.event_type = m.event_type AND r.t = m.mt
),
counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_demand_days
  FROM daily GROUP BY 1
)
SELECT c.event_type, c.n_days, c.n_demand_days,
       CASE WHEN f.seen = 1 THEN f.z END AS z_cents,
       CASE WHEN f.seen = 1 THEN f.p END AS p_periods,
       CASE WHEN f.seen = 1
            THEN CAST((CAST(1000000 AS HUGEINT) * f.z) // f.p AS BIGINT)
       END AS forecast_microcents
FROM counts c JOIN fin f ON c.event_type = f.event_type
"""


# -- Hampel rolling-median despiking ---------------------------------------------

HAMPEL_HALF = 3          # window = 3 each side + center = 7 points
HAMPEL_K_E4 = 44478      # 3 * 1.4826 (the MAD-to-sigma constant) on the e4 grid


def events_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over each event type's hourly cents series — the
    robust despiking pass (rolling MEDIAN ± k·MAD) monitoring pipelines
    run before feeding a forecaster: unlike a z-score window, one
    outlier cannot inflate its own rejection threshold, because both the
    center and the scale are medians.

    Exactness: the rolling window is materialized as a per-row ARRAY
    (7 points; truncated at the series edges — defined semantics), the
    center is the LOWER median (sorted array element (n+1) div 2), the
    scale the lower median of |x−med| over the same array, and the flag
    compares 10⁴·|x−med| > K_e4·mad in pure integers (K_e4 folds the
    3·1.4826 Gaussian consistency constant onto the e4 grid).  Every
    step is an integer array HOF both engines evaluate identically —
    no float anywhere.

    Scale shape: hourly rollup (map-side combine), ONE bounded rolling
    window per series (7-row frame, series-partitioned), per-row HOFs;
    the report is a per-type rollup of the flags."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return hampel_finish(hourly)


def hampel_finish(hourly: DataFrame) -> DataFrame:
    """The despiking scan over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin, whose state is exactly this rollup."""
    w_roll = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-HAMPEL_HALF, HAMPEL_HALF)
    )
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    arr = hourly.withColumn("win", F.collect_list("y").over(w_roll)).withColumn(
        "t", F.row_number().over(w_ord)
    )
    med_of = (
        lambda a: F.element_at(
            F.array_sort(a), ((F.size(a) + 1) / 2).cast("int")
        )
    )
    scored = (
        arr.withColumn("med", med_of(F.col("win")))
        .withColumn(
            "mad",
            med_of(F.transform(F.col("win"), lambda v: F.abs(v - F.col("med")))),
        )
        .withColumn("dev", F.abs(F.col("y") - F.col("med")))
        .withColumn(
            "is_outlier",
            (F.lit(10000) * F.col("dev") > F.lit(HAMPEL_K_E4) * F.col("mad")).cast(
                "int"
            ),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("is_outlier").cast("long").alias("n_outliers"),
        F.max(F.when(F.col("is_outlier") == 1, F.col("dev"))).cast("long").alias(
            "max_outlier_dev_cents"
        ),
        F.sum(F.when(F.col("is_outlier") == 1, F.col("t")).otherwise(0))
        .cast("long")
        .alias("outlier_t_sum"),
    )


ORACLE_HAMPEL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
arr AS (
  SELECT event_type, y,
         list(y) OVER (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN {HAMPEL_HALF} PRECEDING
                                AND {HAMPEL_HALF} FOLLOWING) AS win,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS t
  FROM hourly
),
med AS (
  SELECT *,
         list_sort(win)[CAST((len(win) + 1) // 2 AS INT)] AS med
  FROM arr
),
scored AS (
  SELECT *,
         list_sort(list_transform(win, v -> abs(v - med)))
           [CAST((len(win) + 1) // 2 AS INT)] AS mad,
         abs(y - med) AS dev
  FROM med
),
flagged AS (
  SELECT *,
         CASE WHEN 10000 * dev > {HAMPEL_K_E4} * mad THEN 1 ELSE 0 END
           AS is_outlier
  FROM scored
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(is_outlier) AS BIGINT) AS n_outliers,
       CAST(max(CASE WHEN is_outlier = 1 THEN dev END) AS BIGINT)
         AS max_outlier_dev_cents,
       CAST(sum(CASE WHEN is_outlier = 1 THEN t ELSE 0 END) AS BIGINT)
         AS outlier_t_sum
FROM flagged GROUP BY event_type
"""


# -- Page-Hinkley drift detection -------------------------------------------------

# drift alarm when the normalized PH score exceeds 2% of the series total
PH_ALARM_PPM = 20000


def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detector over each event type's hourly cents
    series — the classic sequential test for an UPWARD mean shift: track
    U_t = Σ(x_i − x̄_i), the cumulative deviation from the INCREMENTAL
    mean, and alarm when U_t climbs λ above its running minimum (CUSUM,
    which this battery has, tests against a FIXED reference mean; PH's
    self-updating mean is what monitoring pipelines run when no
    calibration window exists).

    Exactness: the incremental mean is defined ON THE PPM GRID —
    mean_ppm_t = (10⁶·S_t) div t, an exact floor both engines share — so
    every deviation, prefix sum U_t, running minimum, and the PH score
    ph_t = U_t − min_{i≤t}U_i are exact integers.  The alarm threshold
    is scale-free: drift_score = 10⁶·ph_max / (10⁶·mean grid · n) — i.e.
    normalized by the series total — so the same PH_ALARM_PPM bar reads
    identically at sf0.01 and at 100 TB.

    Scale shape: hourly rollup (map-side combine), then three per-type
    ordered windows over the bounded |types|×|hours| rollup — the same
    partitioned-prefix shape as the Holt/forecast family."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cents).alias("y"))
    return page_hinkley_finish(hourly)


def page_hinkley_finish(hourly: DataFrame) -> DataFrame:
    """The detector over a (event_type, hour, y) rollup — shared verbatim
    by the streaming twin, whose state is exactly this rollup."""
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = (
        hourly.withColumn("t", F.row_number().over(w_ord))
        .withColumn("s", F.sum("y").over(w_cum))
        .withColumn(
            "mean_ppm",
            F.expr(
                "CASE WHEN s >= 0"
                " THEN (CAST(1000000 AS DECIMAL(38,0)) * s) div t"
                " ELSE -((CAST(1000000 AS DECIMAL(38,0)) * (-s)) div t) END"
            ),
        )
        .withColumn(
            "dev", F.lit(1000000).cast("decimal(38,0)") * F.col("y") - F.col("mean_ppm")
        )
        .withColumn("u", F.sum("dev").over(w_cum))
        .withColumn("m", F.min("u").over(w_cum))
        .withColumn("ph", F.col("u") - F.col("m"))
    )
    w_type = Window.partitionBy("event_type")
    scored = pref.withColumn("ph_max_w", F.max("ph").over(w_type))
    agg = scored.groupBy("event_type").agg(
        F.max("t").cast("long").alias("n_hours"),
        # the series TOTAL is the FINAL prefix sum (s at t = n_hours), not
        # max(s): they agree only when every hourly value is non-negative —
        # a series with negative hours would otherwise normalize by the
        # wrong (larger) quantity.  t is a row_number, so max_by is exact.
        F.max_by("s", "t").cast("decimal(38,0)").alias("total"),
        F.max("ph").alias("ph_max"),
        F.min(F.when(F.col("ph") == F.col("ph_max_w"), F.col("t")))
        .cast("long")
        .alias("ph_argmax_t"),
    )
    # drift_score is defined only for a POSITIVE series total (the scale
    # anchor); a zero/negative total yields NULL score and no alarm rather
    # than a sign-flipped ratio
    return agg.selectExpr(
        "event_type",
        "n_hours",
        "ph_argmax_t",
        "CAST(ph_max div 1000000 AS BIGINT) AS ph_max_cents",
        "CAST(CASE WHEN total > 0 THEN"
        " (CAST(1000000 AS DECIMAL(38,0)) * ph_max)"
        " div (CAST(1000000 AS DECIMAL(38,0)) * total) END AS BIGINT)"
        " AS drift_score_ppm",
        f"CAST(CASE WHEN total > 0 AND (CAST(1000000 AS DECIMAL(38,0)) * ph_max)"
        f" div (CAST(1000000 AS DECIMAL(38,0)) * total) >= {PH_ALARM_PPM}"
        f" THEN 1 ELSE 0 END AS INT) AS alarmed",
    )


ORACLE_PAGE_HINKLEY = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pref AS (
  SELECT event_type, y,
         row_number() OVER w AS t,
         sum(y) OVER w AS s
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
dev AS (
  SELECT *,
         CASE WHEN s >= 0 THEN (CAST(1000000 AS HUGEINT) * s) // t
              ELSE -((CAST(1000000 AS HUGEINT) * (-s)) // t) END AS mean_ppm
  FROM pref
),
u AS (
  SELECT *,
         sum(CAST(1000000 AS HUGEINT) * y - mean_ppm)
           OVER (PARTITION BY event_type ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
  FROM dev
),
ph AS (
  SELECT *,
         u - min(u) OVER (PARTITION BY event_type ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM u
),
scored AS (
  SELECT *, max(ph) OVER (PARTITION BY event_type) AS ph_max_w FROM ph
),
agg AS (
  SELECT event_type,
         CAST(max(t) AS BIGINT) AS n_hours,
         max_by(s, t) AS total,  -- FINAL prefix sum, not max(s)
         max(ph) AS ph_max,
         CAST(min(CASE WHEN ph = ph_max_w THEN t END) AS BIGINT) AS ph_argmax_t
  FROM scored GROUP BY event_type
)
SELECT event_type, n_hours, ph_argmax_t,
       CAST(ph_max // 1000000 AS BIGINT) AS ph_max_cents,
       CAST(CASE WHEN total > 0 THEN
              (1000000 * ph_max) // (CAST(1000000 AS HUGEINT) * total)
            END AS BIGINT) AS drift_score_ppm,
       CAST(CASE WHEN total > 0
                  AND (1000000 * ph_max) // (CAST(1000000 AS HUGEINT) * total)
                      >= {PH_ALARM_PPM} THEN 1 ELSE 0 END AS INT) AS alarmed
FROM agg
ORDER BY event_type
"""


QUERIES = {
    "events_holt_trend": events_holt_trend,
    "events_autocorrelation": events_autocorrelation,
    "events_page_hinkley": events_page_hinkley,
    "events_hampel_filter": events_hampel_filter,
    "events_croston": events_croston,
    "events_mann_kendall": events_mann_kendall,
    "stats_friedman": stats_friedman,
    "events_stl_decompose": events_stl_decompose,
    "events_lorenz_curve": events_lorenz_curve,
    "events_regime_segments": events_regime_segments,
    "events_conformal_interval": events_conformal_interval,
    "events_cohort_ltv": events_cohort_ltv,
    "stats_runs_test": stats_runs_test,
    "stats_welch_ttest": stats_welch_ttest,
    "stats_brown_forsythe": stats_brown_forsythe,
    "events_lttb_downsample": events_lttb_downsample,
    "events_holt_winters": events_holt_winters,
    "events_forecast_backtest": events_forecast_backtest,
    "stats_benjamini_hochberg": stats_benjamini_hochberg,
    "stats_ab_power": stats_ab_power,
    "stats_wilson_ci": stats_wilson_ci,
    "events_burstiness": events_burstiness,
    "events_markov_surprise": events_markov_surprise,
    "events_slo_burn_rate": events_slo_burn_rate,
    "events_session_cooccurrence": events_session_cooccurrence,
    "events_dau_wau": events_dau_wau,
    "events_dau_wau_hll": events_dau_wau_hll,
    "events_cusum_changepoint": events_cusum_changepoint,
    "events_ab_cuped": events_ab_cuped,
    "events_user_gini": events_user_gini,
    "events_tumbling_window": events_tumbling_window,
    "events_funnel": events_funnel,
    "events_pivot_daily": events_pivot_daily,
    "events_minmax_downsample": events_minmax_downsample,
    "events_gapfill_hourly": events_gapfill_hourly,
    "events_sessionization": events_sessionization,
    "events_json_props": events_json_props,
    "events_hourly_top_type": events_hourly_top_type,
    "events_asof_attribution": events_asof_attribution,
    "events_hypertable_rollup": events_hypertable_rollup,
    "events_incremental_rollup": events_incremental_rollup,
    "events_retention_cohorts": events_retention_cohorts,
    "events_threshold_anomaly": events_threshold_anomaly,
    "events_heavy_hitters": events_heavy_hitters,
    "store_snapshot_diff": store_snapshot_diff,
    "events_ohlc_bars": events_ohlc_bars,
    "events_markov_transitions": events_markov_transitions,
    "events_multitouch_attribution": events_multitouch_attribution,
    "events_ewma_hourly": events_ewma_hourly,
    "events_session_paths": events_session_paths,
    "events_cumulative_users": events_cumulative_users,
    "events_count_min": events_count_min,
    "events_ams_f2": events_ams_f2,
    "events_kaplan_meier": events_kaplan_meier,
    "events_did": events_did,
    "events_theil_sen": events_theil_sen,
    "events_cem_att": events_cem_att,
    "events_activity_streaks": events_activity_streaks,
    "events_late_data_audit": events_late_data_audit,
    "events_ab_lift": events_ab_lift,
    "events_seasonal_anomaly": events_seasonal_anomaly,
}

ORACLES = {
    "stats_benjamini_hochberg": ORACLE_BH,
    "stats_welch_ttest": ORACLE_WELCH_TTEST,
    "stats_brown_forsythe": ORACLE_BROWN_FORSYTHE,
    "events_lttb_downsample": ORACLE_LTTB,
    "stats_ab_power": ORACLE_AB_POWER,
    "stats_wilson_ci": ORACLE_WILSON_CI,
    "events_tumbling_window": ORACLE_TUMBLING,
    "events_funnel": ORACLE_FUNNEL,
    "events_pivot_daily": ORACLE_PIVOT_DAILY,
    "events_minmax_downsample": ORACLE_MINMAX_DOWNSAMPLE,
    "events_gapfill_hourly": ORACLE_GAPFILL,
    "events_sessionization": ORACLE_SESSIONS,
    "events_json_props": ORACLE_JSON,
    "events_hourly_top_type": ORACLE_HOURLY_TOP,
    "events_asof_attribution": ORACLE_ASOF,
    "events_hypertable_rollup": ORACLE_HYPERTABLE,
    "events_incremental_rollup": ORACLE_INCREMENTAL,
    "events_retention_cohorts": ORACLE_RETENTION,
    "events_threshold_anomaly": ORACLE_THRESHOLD_ANOMALY,
    "events_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "store_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "events_ohlc_bars": ORACLE_OHLC,
    "events_markov_transitions": ORACLE_MARKOV,
    "events_multitouch_attribution": ORACLE_MULTITOUCH,
    "events_ewma_hourly": ORACLE_EWMA,
    "events_holt_trend": ORACLE_HOLT,
    "events_autocorrelation": ORACLE_ACF,
    "events_page_hinkley": ORACLE_PAGE_HINKLEY,
    "events_hampel_filter": ORACLE_HAMPEL,
    "events_croston": ORACLE_CROSTON,
    "events_mann_kendall": ORACLE_MANN_KENDALL,
    "stats_friedman": ORACLE_FRIEDMAN,
    "events_stl_decompose": ORACLE_STL,
    "events_lorenz_curve": ORACLE_LORENZ,
    "events_regime_segments": ORACLE_REGIME,
    "events_conformal_interval": ORACLE_CONFORMAL,
    "events_cohort_ltv": ORACLE_COHORT_LTV,
    "stats_runs_test": ORACLE_RUNS_TEST,
    "events_holt_winters": ORACLE_HOLT_WINTERS,
    "events_forecast_backtest": ORACLE_FORECAST_BACKTEST,
    "events_session_paths": ORACLE_SESSION_PATHS,
    "events_cumulative_users": ORACLE_CUMULATIVE_USERS,
    "events_count_min": ORACLE_COUNT_MIN,
    "events_ams_f2": ORACLE_AMS_F2,
    "events_kaplan_meier": ORACLE_KAPLAN_MEIER,
    "events_did": ORACLE_DID,
    "events_theil_sen": ORACLE_THEIL_SEN,
    "events_cem_att": ORACLE_CEM,
    "events_activity_streaks": ORACLE_ACTIVITY_STREAKS,
    "events_late_data_audit": ORACLE_LATE_AUDIT,
    "events_ab_lift": ORACLE_AB_LIFT,
    "events_seasonal_anomaly": ORACLE_SEASONAL_ANOMALY,
    "events_user_gini": ORACLE_USER_GINI,
    "events_burstiness": ORACLE_BURSTINESS,
    "events_markov_surprise": ORACLE_MARKOV_SURPRISE,
    "events_slo_burn_rate": ORACLE_SLO_BURN,
    "events_session_cooccurrence": ORACLE_SESSION_COOC,
    "events_dau_wau": ORACLE_DAU_WAU,
    "events_dau_wau_hll": ORACLE_DAU_WAU_HLL,
    "events_cusum_changepoint": ORACLE_CUSUM,
    "events_ab_cuped": ORACLE_AB_CUPED,
}
