"""Structured Streaming twins of the batch analytics.

A *twin* is the streaming version of one batch op: on this finite dataset
a replay with ``trigger(availableNow=True)`` must return exactly the batch
op's rows.  The oracle checks that: a twin whose answer is its batch op's
answer shares that op's oracle by reference (``TWIN_OF``), and
tests/test_streaming.py compares the two DataFrames.  The serving shape
is per-arrival ingest analytics: cheap stream state at ingest, the
analysis re-run on read.  A twin has one of three shapes:

- **Rollup** (``_rollup``).  The stream keeps a watermarked window
  rollup: per hour or per day, per event type or in total, by default the
  integer-cents sum as ``y``, complete-mode into a memory sink.  The batch
  op's own finisher runs over the sink table.  The rollup is the
  finisher's entire input, so state is bounded by |types| x |windows| and
  a refresh never replays raw events.  Integer cents keep the sum exact
  under any micro-batch split.  A finisher that self-joins its input gets
  a ``lineage_cut`` of the rollup first: through the memory-sink view the
  shared attribute ids defeat Spark's self-join dedup.
- **Arrival replay** (``_replay``).  The corpus is staged as a few parquet
  files and replayed one file per micro-batch.  A ``foreachBatch``
  function folds each arrival into a log, an index or a store, and the
  batch op's finisher reads what accumulated.  Every pair or document is
  decided exactly once across batches, so the union over batches is the
  batch op's output.
- **Bespoke.**  Operators whose stream itself is the point: sliding and
  session windows, stream-stream joins, dedup within a watermark,
  ``applyInPandasWithState``, sketches whose state store is the sketch,
  and views fed by the store's change feed.  Each is written out, with its
  own oracle SQL where no batch op shares it.

Scale notes: watermarks bound state (late events beyond the watermark are
dropped at the source); ``run_to_table`` sizes the state partitions from
the input; scratch files live under ``sparkutil.scratch_dir`` and state
tables under ``sparkutil.scratch_table``, both removed at process exit.
The memory sink is test-only: a real deployment writes to kafka/delta with
checkpointing.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import warnings

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mongraph_spark.queries import corpus as corpus_ops
from mongraph_spark.queries import dedup as dedup_ops
from mongraph_spark.queries import events as events_ops
from mongraph_spark.queries import inference as inference_ops
from mongraph_spark.queries import quality as quality_ops
from mongraph_spark.queries import relational as relational_ops
from mongraph_spark.queries import similarity as similarity_ops
from mongraph_spark.sparkutil import (
    const_part,
    lineage_cut,
    normalize_event_ts,
    read_table,
    scale_out,
    scratch_dir,
    scratch_table,
    warehouse_dir,
)

_sink_seq = itertools.count(1)

def _events_schema(sf_dir: str) -> T.StructType:
    """Streaming file sources require an explicit schema, and the right type
    for ``ts`` depends on how the generator wrote it: TIMESTAMP(NANOS)
    scans as a long (under nanosAsLong) and needs ns→µs conversion, while
    TIMESTAMP(MICROS) scans as a proper timestamp.  Hardcoding either is a
    silent 1000× timeline distortion when the data flips (it did, between
    rounds) — so probe the parquet footer and build the schema to match;
    ``normalize_event_ts`` then converts only when the scan produced a long.
    """
    is_nanos = False
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.exists(path):
        try:
            import pyarrow.parquet as pq

            ts_type = pq.read_schema(path).field("ts").type
            is_nanos = str(ts_type) == "timestamp[ns]"
        except (OSError, KeyError, ValueError, ImportError) as exc:
            warnings.warn(
                f"events.parquet footer probe failed ({exc!r}); assuming "
                "TIMESTAMP(MICROS) ts — if the data is TIMESTAMP(NANOS) the "
                "stream timeline will be off by 1000x",
                stacklevel=2,
            )
    else:
        # Non-local sf_dir (s3://, hdfs://): the local-path probe can't see
        # the footer.  Don't silently guess — warn so the caller verifies
        # the ts unit through their store's own footer inspection.
        warnings.warn(
            f"cannot probe {path!r} locally (non-local sf_dir?); assuming "
            "TIMESTAMP(MICROS) ts — verify the parquet ts unit out-of-band",
            stacklevel=2,
        )
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if is_nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


@contextlib.contextmanager
def _state_partitioning(spark: SparkSession, sf_dir: str):
    """Size the streaming state partitioning from the input, not the session.

    ``spark.sql.shuffle.partitions`` is baked into a streaming query's state
    layout at start.  Stateful-operator tasks carry a fixed runner cost
    (state-store commit + the Arrow/pandas state protocol worker), so tiny
    inputs on many partitions pay ~32 fixed costs to process a few MB
    (measured 9.4s → 3.6s at sf0.1 going 32 → 8).  Target ≥ ~4 MB of input
    per state partition, floor 8 (keep real parallelism), no upper clamp —
    a 100 TB stream gets the many thousands of state partitions it needs.
    """
    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        nbytes = 0
    target = max(8, nbytes // (4 << 20) + 1)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file source needs a directory; point it at sf_dir and glob-filter
    # down to the events file
    raw = (
        spark.readStream.schema(_events_schema(sf_dir))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_event_ts(raw)


# state-store metrics of the most recent run_to_table execution
# (stateOperators from the final progress event): list of dicts with
# operatorName / numRowsTotal / memoryUsedBytes.  Evidence channel for the
# watermark-bounds-state claim — see tools/stress.py (same_keys shape).
LAST_STATE_METRICS: list[dict] = []


def run_to_table(
    stream_df: DataFrame, sf_dir: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a finite replay (availableNow) into a memory sink, with the
    state partitions sized from ``sf_dir``'s events, and return the sink's
    rows.  The returned frame holds the sink itself, not its name: the
    sink's view is dropped, so the rows live only as long as the frame."""
    name = f"mg_stream_sink_{next(_sink_seq)}"
    with _state_partitioning(stream_df.sparkSession, sf_dir):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    global LAST_STATE_METRICS
    try:
        prog = q.lastProgress or {}
        LAST_STATE_METRICS = [
            {
                "operatorName": so.get("operatorName"),
                "numRowsTotal": so.get("numRowsTotal"),
                "memoryUsedBytes": so.get("memoryUsedBytes"),
            }
            for so in (prog.get("stateOperators") or [])
        ]
    except Exception:  # pragma: no cover — metrics are evidence, not output
        LAST_STATE_METRICS = []
    spark = stream_df.sparkSession
    out = spark.table(name)  # analyzed now: the plan references the sink
    spark.catalog.dropTempView(name)
    return out


# -- arrival replay: staged files, one per micro-batch, into foreachBatch --------

# the (doc_id, text) arrivals most corpus twins stage
_DOC_TEXT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _arrivals(spark: SparkSession, staging: str, schema) -> DataFrame:
    """The staged parquet files under ``staging`` as a stream that reads
    one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )


def _replay(spark: SparkSession, staging: str, schema, process) -> None:
    """Replay the staged arrivals to the end, each file a micro-batch
    handed to ``process(batch_df, batch_id)``."""
    q = (
        _arrivals(spark, staging, schema)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# -- tumbling window with watermark -------------------------------------------------


def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    # exact distinct isn't available on streams (approx_count_distinct is the
    # streaming answer but can't be oracle-checked); count + sum only here
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    out = run_to_table(agg, sf_dir)
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (sliding) windows: width 2 h, slide 30 min — each event
    lands in exactly 4 windows, the moving-average shape that tumbling
    windows can't express.  State cost is 4× the tumbling equivalent (one
    state row per open window per key), still watermark-bounded; the sum is
    integer cents so the 4-way re-emission can't drift.
    """
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    cents = F.round(F.col("value") * 100).cast("long")
    agg = ev.groupBy(
        F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_cents"),
    )
    out = run_to_table(agg, sf_dir)
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )


# each event belongs to the 4 windows starting at bucket(ts) - k*30min,
# k = 0..3 — the standard set-expansion equivalence for sliding windows
ORACLE_STREAM_SLIDING = """
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
         AS window_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events, unnest(range(0, 4)) AS t(k)
GROUP BY 1, 2
"""


# -- session windows (gap-based) -------------------------------------------------------


def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = run_to_table(agg, sf_dir)
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )


# -- custom stateful operator: per-user running totals via applyInPandasWithState -------

_STATE_SCHEMA = "total LONG, total_value DOUBLE"
_OUT_SCHEMA = "user_id LONG, total_events LONG, total_value DOUBLE"


def _count_events(key, pdf_iter, state: GroupState):
    total = 0
    total_value = 0.0
    if state.exists:
        total, total_value = state.get
    for pdf in pdf_iter:
        total += len(pdf)
        total_value += float(pdf["value"].sum())
    state.update((total, total_value))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_events": [total], "total_value": [total_value]}
    )


def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState: arbitrary per-key state (the escape hatch for
    operators session_window can't express)."""
    ev = events_stream(spark, sf_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_table(counted, sf_dir, "update")
    # with multiple micro-batches the sink holds one row per update; keep the last
    return out.groupBy("user_id").agg(
        F.max("total_events").alias("total_events"),
        F.round(F.max("total_value"), 2).alias("total_value"),
    )


# -- streaming dedup: dropDuplicatesWithinWatermark ---------------------------------


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id: the stream carries every event
    twice (the file source reads the events file once per glob alias — the
    at-least-once delivery scenario), and dropDuplicatesWithinWatermark must
    restore exactly-once counts.

    State holds one key per event_id *within the watermark horizon only* —
    the point of the WithinWatermark variant: unbounded streams get bounded
    dedup state (vs dropDuplicates, whose state grows forever).
    """
    raw = (
        spark.readStream.schema(_events_schema(sf_dir))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    doubled = normalize_event_ts(raw.unionByName(raw)).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    out = run_to_table(agg, sf_dir)
    return out


ORACLE_STREAM_DEDUP = """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
"""


ORACLE_STREAM_TUMBLING = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""

ORACLE_STREAM_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged
GROUP BY user_id
"""

ORACLE_STREAM_STATEFUL = """
SELECT user_id, count(*) AS total_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
"""

# -- stream-stream interval join ----------------------------------------------------


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: every purchase paired with each click by
    the same user in the preceding 30 minutes.  Both sides carry watermarks
    and the join condition is time-bounded in BOTH directions — that pair of
    constraints is what lets Spark evict join state (an unbounded-range
    stream-stream join would buffer forever).  The joined stream lands in
    the sink in append mode; the compact per-user rollup happens on the sink
    table (chaining a streaming agg behind a stream-stream join needs
    allowMultipleStatefulOperators — the sink-side rollup is the portable
    pattern)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = run_to_table(joined, sf_dir, "append")
    return out.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("p_value"), 2).alias("attributed_value"),
    )


ORACLE_STREAM_JOIN = """
SELECT c.user_id, count(*) AS n_pairs,
       round(sum(p.value), 2) AS attributed_value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


# -- streaming MERGE INTO: foreachBatch -> copy-on-write store ----------------------


def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink: per-user running totals continuously MERGEd
    into the copy-on-write parquet store (sources/merge.py) via
    ``foreachBatch`` — the portable "streaming MERGE INTO" pattern (the
    same shape Delta/Iceberg sinks use: the aggregation runs in update
    mode, each micro-batch emits only the keys whose totals changed, and
    the batch-side MERGE replaces exactly those rows).

    Scale shape: state is the per-user aggregate (watermark-free running
    totals — key-bounded, not time-bounded); the store-side cost per batch
    is one key-anti-join rewrite, and totals are integer counts/cents so
    replay order can't perturb the final table.  The final read is the
    store's pinned current version — what a downstream consumer would see."""
    from mongraph_spark.sources import merge as merge_store

    root = scratch_dir(spark, sf_dir, "stream_merge_store")

    ev = events_stream(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_cents"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_store.upsert(batch_df.sparkSession, root, batch_df, key="user_id")

    with _state_partitioning(spark, sf_dir):
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return merge_store.read_current(spark, root)


ORACLE_STREAM_MERGE = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id
"""


def streaming_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the conversion-funnel
    question the inner join can't answer: which clicks did NOT convert
    within 30 minutes?  Outer stream-stream joins need the same two-sided
    time bound, but additionally the unmatched side is emitted only when
    the WATERMARK passes the click's join-window end (the state-eviction
    point — before that, a matching purchase could still arrive).  A
    finite availableNow replay therefore NEVER emits the null rows for
    clicks near the end of the stream (their eviction watermark is never
    reached), so the report is restricted to clicks whose join window is
    fully closed by the final watermark — c_ts < max(ts) − 1 h − 30 min,
    minus one margin minute because eviction is strict and the watermark is
    tracked in truncated milliseconds —
    the "results are final only past the watermark" contract every outer
    streaming join carries; the oracle applies the same cutoff.

    Per-user rollup on the sink table: clicks, converted clicks, and the
    conversion rate in floored basis points."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    )
    out = run_to_table(joined, sf_dir, "append")

    # The join's GLOBAL watermark is the min over both input watermarks,
    # and each is computed on its filtered stream — so the closed-window
    # cutoff must use the LESSER of the two types' max event times.
    # Second-truncated so the ns (DuckDB) and µs (Spark) views agree
    # exactly; strict < plus a margin minute (eviction is strict and the
    # watermark is ms-truncated) keeps the boundary engine-consistent.
    ev_b = read_table(spark, sf_dir, "events")
    cutoff = ev_b.agg(
        (
            F.date_trunc(
                "second",
                F.least(
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                ),
            )
            - F.expr("INTERVAL 91 MINUTES")
        ).alias("cut")
    )
    per_click = (
        out.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_ts") < F.col("cut"))
        .groupBy("c_user", "c_id")
        .agg(F.max(F.col("p_ts").isNotNull().cast("long")).alias("converted"))
    )
    return per_click.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("converted").alias("n_converted"),
        F.floor(F.lit(10000) * F.sum("converted") / F.count(F.lit(1)))
        .cast("long")
        .alias("conversion_bp"),
    )


ORACLE_STREAM_OUTER = """
WITH clicks AS (
  SELECT user_id, ts AS c_ts, event_id AS c_id FROM events
  WHERE event_type = 'click'
    AND ts < (SELECT date_trunc('second', least(
                    max(CASE WHEN event_type = 'click' THEN ts END),
                    max(CASE WHEN event_type = 'purchase' THEN ts END)))
                  - INTERVAL 91 MINUTE FROM events)
),
purchases AS (
  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
),
per_click AS (
  SELECT c.user_id, c.c_id,
         max(CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
  FROM clicks c LEFT JOIN purchases p
    ON c.user_id = p.user_id
   AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
  GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_clicks,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST(floor(10000 * sum(converted) / count(*)) AS BIGINT) AS conversion_bp
FROM per_click
GROUP BY user_id
"""


def streaming_threshold_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_threshold_anomaly``: the
    per-type p99 control limits are computed BATCH-side from the reference
    table (the production pattern — thresholds refresh on a slow cadence,
    the stream only probes them), broadcast into a stream-static join,
    and anomalous events are counted per tumbling hour window.

    Stream-static joins keep NO state for the static side (it is re-read /
    re-broadcast per micro-batch); window state is watermark-bounded.  The
    finite availableNow replay must equal the batch SQL — the oracle."""

    thr = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.99)), 2).alias("p99"))
    )
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    flagged = ev.join(F.broadcast(thr), "event_type").filter(
        F.col("value") > F.col("p99")
    )
    agg = flagged.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_anomalies")
    )
    out = run_to_table(agg, sf_dir)
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n_anomalies"
    )


ORACLE_STREAM_ANOMALY = """
WITH thr AS (
  SELECT event_type, round(quantile_cont(value, 0.99), 2) AS p99
  FROM events GROUP BY event_type
)
SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start, e.event_type,
       count(*) AS n_anomalies
FROM events e JOIN thr t ON e.event_type = t.event_type
WHERE e.value > t.p99
GROUP BY 1, 2
"""


# -- streaming Markov transition counts (stateful, batch-equal twin) ------------------

_MKV_STATE = "last_type STRING, last_us LONG, last_eid LONG"
_MKV_OUT = "from_type STRING, to_type STRING, n LONG"


def _transition_counts(key, pdf_iter, state: GroupState):
    """Per-user transition counting with ONE event of state: the previous
    (type, ts, event_id).  Each micro-batch sorts its own slice (micro-
    batches are small; the stream source delivers batches in time order),
    chains it onto the carried last event, and emits the batch's partial
    (from,to) counts — the sink aggregates partials, so state stays O(1)
    per user regardless of stream length."""
    import collections

    parts = [pdf for pdf in pdf_iter]
    if not parts:
        return
    pdf = pd.concat(parts).sort_values(["us", "event_id"])
    types = list(pdf["event_type"])
    counts: collections.Counter = collections.Counter()
    prev = state.get[0] if state.exists else None
    for t in types:
        if prev is not None:
            counts[(prev, t)] += 1
        prev = t
    last = pdf.iloc[-1]
    state.update((str(last["event_type"]), int(last["us"]), int(last["event_id"])))
    if counts:
        ks = list(counts)
        yield pd.DataFrame(
            {
                "from_type": [k[0] for k in ks],
                "to_type": [k[1] for k in ks],
                "n": [counts[k] for k in ks],
            }
        )


def streaming_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_markov_transitions``: the transition
    matrix maintained INCREMENTALLY — per-user state is one event (the
    last seen), each micro-batch emits partial pair counts, the sink
    sums partials, and the row-normalized basis points are computed over
    the final table.  The batch twin is the oracle: same matrix, same
    floors (pinned in tests/test_streaming.py).

    At scale this is the production shape for sequence models over
    unbounded streams: O(1) state per key (vs the batch window's full
    shuffle of history), partial counts combine associatively, and the
    normalizing pass runs over the |types|² aggregate, never the stream."""
    ev = events_stream(spark, sf_dir).withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    counted = ev.groupBy("user_id").applyInPandasWithState(
        _transition_counts,
        outputStructType=_MKV_OUT,
        stateStructType=_MKV_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_table(counted, sf_dir, "append")
    mat = out.groupBy("from_type", "to_type").agg(
        F.sum("n").alias("n_transitions")
    )
    row_tot = Window.partitionBy("from_type")
    return mat.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        F.floor(
            F.lit(10000) * F.col("n_transitions") / F.sum("n_transitions").over(row_tot)
        )
        .cast("bigint")
        .alias("p_bp"),
    )


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``sketch_hll_mergeable``: per-event_type
    HyperLogLog registers maintained INCREMENTALLY by a complete-mode
    streaming aggregation — max(rho) is associative and commutative, so
    Structured Streaming's state store IS the sketch: O(scopes ×
    registers) state forever, regardless of stream volume, and each
    micro-batch folds its events into the registers map-side before the
    state update.  The final micro-batch's register table feeds the same
    merge/estimate arithmetic as the batch op, so the streaming answer is
    REGISTER-EXACTLY the batch answer (shared ORACLE_HLL; equality pinned
    in tests/test_streaming.py).

    This is the production shape for live distinct-user dashboards at
    100 TB/day: no count(distinct) over history, no per-user state — the
    register vector is the whole memory."""
    from mongraph_spark.queries.relational import hll_finish, hll_register_table

    ev = events_stream(spark, sf_dir).select("event_type", "user_id")
    regs_stream = hll_register_table(ev)
    regs = run_to_table(regs_stream, sf_dir)

    batch_ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_finish(regs, batch_ev)




# -- streaming seasonal anomaly (batch-baseline twin) ---------------------------------


def streaming_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_seasonal_anomaly``: the
    per-(type, hour-of-day) baseline moments train BATCH-side over the
    zero-filled first-{queries.events.SEASONAL_BASELINE_DAYS}-day grid
    (shared builder — bit-identical moments), the stream maintains the
    watermarked hourly rollup, and the exact integer z²-gate runs over the
    continuously-updated rollup table (the alerting-layer pattern: slow
    baseline refresh, fast stream probe).

    Semantic delta vs the batch sweep, by construction of streams: an hour
    with ZERO events produces no stream row, so unusually-QUIET cells
    cannot fire here — the twin flags over-active cells only (oracle
    carries the same ``n > 0`` restriction; the batch sweep owns quiet-
    hour detection).  State: watermark-bounded window counts, O(types ×
    open windows)."""
    from mongraph_spark.queries.events import (
        SEASONAL_BASELINE_DAYS,
        SEASONAL_Z2,
        _seasonal_baseline,
        _seasonal_dense,
    )

    base = _seasonal_baseline(_seasonal_dense(spark, sf_dir))
    d0 = read_table(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_to_table(agg, sf_dir)
    cells = out.select(
        "event_type",
        F.to_date("w.start").alias("day"),
        F.hour("w.start").cast("int").alias("hr"),
        F.col("n").cast("bigint").alias("n"),
    )
    dev = F.col("bn") * F.col("n") - F.col("bs")
    var_t = F.col("bn") * F.col("bss") - F.col("bs") * F.col("bs")
    return (
        cells.join(F.broadcast(base), ["event_type", "hr"])
        .crossJoin(F.broadcast(d0))
        .filter(F.col("day") >= F.date_add("d0", SEASONAL_BASELINE_DAYS))
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


# -- rollup twins: a watermarked window rollup + the batch op's finisher ----------


def _rollup(
    spark: SparkSession,
    sf_dir: str,
    grain: str,
    *,
    by_type: bool = True,
    measure=None,
    watermark: str = "1 day",
    date: bool = True,
) -> DataFrame:
    """The rollup twins' stream: events watermarked by ``watermark``,
    grouped per 1-``grain`` window (and per event type unless ``by_type``
    is false), aggregated by ``measure`` (default: the integer-cents sum as
    ``y``), complete-mode into a memory sink.  Returns the sink as
    ``([event_type,] <grain>, <measure>)``; a daily window start is a date
    unless ``date`` is false."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    types = ["event_type"] if by_type else []
    if measure is None:
        measure = F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    out = run_to_table(
        ev.groupBy(F.window("ts", f"1 {grain}").alias("w"), *types).agg(measure),
        sf_dir,
    )
    start = F.col("w.start")
    if grain == "day" and date:
        start = F.to_date(start)
    return out.select(*types, start.alias(grain), out.columns[-1])


def streaming_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_lttb_downsample``."""
    return events_ops.lttb_finish(_rollup(spark, sf_dir, "hour"))


def streaming_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_stl_decompose``."""
    return events_ops.stl_finish(_rollup(spark, sf_dir, "hour"))


def streaming_regime_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_regime_segments``."""
    return events_ops.regime_finish(_rollup(spark, sf_dir, "hour"))


def streaming_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_mann_kendall`` (self-joining finisher)."""
    return events_ops.mann_kendall_finish(lineage_cut(_rollup(spark, sf_dir, "hour")))


def streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_page_hinkley``."""
    return events_ops.page_hinkley_finish(_rollup(spark, sf_dir, "hour"))


def streaming_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_autocorrelation`` (self-joining finisher)."""
    return events_ops.acf_finish(lineage_cut(_rollup(spark, sf_dir, "hour")))


def streaming_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_hampel_filter``."""
    return events_ops.hampel_finish(_rollup(spark, sf_dir, "hour"))


def streaming_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_hurst_exponent`` (self-joining finisher)."""
    return inference_ops.hurst_finish(lineage_cut(_rollup(spark, sf_dir, "hour")))


def streaming_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_permutation_entropy``."""
    return inference_ops.perm_entropy_finish(_rollup(spark, sf_dir, "hour"))


def streaming_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_cross_correlation`` (self-joining finisher)."""
    return inference_ops.ccf_finish(lineage_cut(_rollup(spark, sf_dir, "hour")))


def streaming_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``stats_granger_causality`` (self-joining finisher)."""
    return inference_ops.granger_finish(lineage_cut(_rollup(spark, sf_dir, "hour")))


def streaming_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``stats_dickey_fuller`` (self-joining finisher)."""
    return inference_ops.dickey_fuller_finish(
        lineage_cut(_rollup(spark, sf_dir, "hour"))
    )


def streaming_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``stats_kendall_tau`` (self-joining finisher)."""
    return inference_ops.kendall_finish(lineage_cut(_rollup(spark, sf_dir, "hour")))


def streaming_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_holt_trend`` (daily totals)."""
    return events_ops.holt_finish(_rollup(spark, sf_dir, "day", by_type=False))


def streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_holt_winters`` (daily totals)."""
    return events_ops.holt_winters_finish(_rollup(spark, sf_dir, "day", by_type=False))


def streaming_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_forecast_backtest`` (daily totals)."""
    return events_ops.backtest_finish(_rollup(spark, sf_dir, "day", by_type=False))


def streaming_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_cusum_changepoint`` (daily counts as ``x``)."""
    return events_ops._cusum_finish(
        _rollup(spark, sf_dir, "day", measure=F.count(F.lit(1)).alias("x"))
    )


def streaming_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_croston`` (daily high-value cents as ``d``)."""
    cents = F.round(F.col("value") * 100).cast("long")
    high = F.when(F.col("value") >= events_ops.CROSTON_THRESHOLD, cents).otherwise(0)
    daily = _rollup(
        spark, sf_dir, "day", measure=F.sum(high).alias("d"), watermark="2 days"
    )
    return events_ops.croston_finish(daily)


def streaming_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_conformal_interval`` (self-joining finisher)."""
    daily = _rollup(spark, sf_dir, "day", watermark="2 days", date=False)
    return events_ops.conformal_finish(lineage_cut(daily))


def streaming_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup twin of ``events_theta_forecast`` (self-joining finisher)."""
    return inference_ops.theta_finish(lineage_cut(_rollup(spark, sf_dir, "day")))


def streaming_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twin of ``events_lorenz_curve``: per-user running cents totals (one
    state row per user, no window), and the batch op's decile curve
    (``lorenz_finish``) over them."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total")
    )
    out = run_to_table(agg, sf_dir)
    return events_ops.lorenz_finish(out.select("user_id", "total"))


def streaming_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.stats_welch_ttest`` — the live
    A/B readout: the stream maintains the test's ENTIRE sufficient
    statistic (per event type, six exact BIGINT moment counters — n, Σv,
    Σv² per parity arm, ``welch_moments`` shared verbatim), so state is
    O(|types|) rows REGARDLESS of event volume — the state store IS the
    sufficient statistic, and the Welch t + Satterthwaite ν finisher
    (``welch_finish``, shared verbatim) re-runs on read.  A dashboard
    refreshing mid-experiment pays the O(|types|) finisher, never a
    history replay."""
    out = run_to_table(events_ops.welch_moments(events_stream(spark, sf_dir)), sf_dir)
    return events_ops.welch_finish(out)


def streaming_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.corpus.corpus_gopher_rules`` — the
    filter-at-ingest shape: every arriving document is scored against the
    frozen Gopher rule battery the moment it lands (map-only — the rules
    are pure column expressions, so the scorer carries ZERO streaming
    state), and the per-doc flag rows append to a log table.  The funnel
    report is the batch finisher over the accumulated flags: rule
    decisions are per-doc predicates, so the union over batches IS the
    batch op's funnel (its own SQL oracle checks that exactly).

    This is the production crawl-intake shape: reject/score at ingest,
    keep the per-doc decisions queryable for rule-tuning reviews, never
    rescan the corpus to re-total the funnel."""
    from mongraph_spark.queries.corpus import GOPHER_RULES, gopher_flags, gopher_funnel
    from mongraph_spark.queries.text import STOPWORDS  # noqa: F401 (rule dep)

    base = scratch_dir(spark, sf_dir, "stream_gopher")
    staging = os.path.join(base, "arrivals")
    flags_dir = os.path.join(base, "flags")
    read_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        4, "doc_id"
    ).write.parquet(staging)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        gopher_flags(batch_df).write.mode("append").parquet(flags_dir)

    _replay(spark, staging, _DOC_TEXT, process)
    return gopher_funnel(spark.read.parquet(flags_dir), GOPHER_RULES)


def streaming_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.corpus.corpus_soft_dedup`` — SoftDeDup
    weights maintained INCREMENTALLY at ingest: exact-duplicate cluster
    state is one row per distinct text hash ``(h, c, t)`` (count and the
    shared token length — exact duplicates share the same text, hence the
    same t), and every micro-batch folds its arrivals in with ONE
    ``merge_into`` on the CoW store (matched ⇒ c += batch count;
    unmatched ⇒ insert).  The sampling weight of every member of cluster
    h is always current as 1/c — the crawl-side shape where duplicates
    keep arriving and the trainer reads weights, never rescans.

    State model: |distinct texts| rows in a bucketed CoW table — the
    merge rewrites only the buckets containing the batch's hashes (the
    store's partition-scoped contract), so per-batch cost tracks the
    batch, not the corpus.  The final report (per cluster size:
    clusters, docs, raw tokens, effective bp tokens = c·floor(10000·t/c))
    reads the state table alone and must equal the batch op — checked by
    that op's own SQL oracle."""
    from mongraph_spark.queries.dedup import dup_corpus
    from mongraph_spark.sources import merge as merge_store

    base = scratch_dir(spark, sf_dir, "stream_soft")
    staging = os.path.join(base, "arrivals")
    state_root = os.path.join(base, "clusters")

    dup_corpus(spark, sf_dir).repartition(4, "doc_id").write.parquet(staging)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = (
            batch_df.select(
                F.md5("text").alias("h"),
                F.size(F.split(F.col("text"), " ")).alias("t"),
            )
            .groupBy("h", "t")
            .agg(F.count(F.lit(1)).alias("c"))
            .select("h", "c", "t")
        )
        if merge_store.current_version(state_root) is None:
            merge_store.init_table(batch, state_root, key="h", n_buckets=STATE_BUCKETS)
        else:
            merge_store.merge_into(
                s,
                state_root,
                batch,
                when_matched_set={"c": "c + src_c"},
            )

    _replay(spark, staging, _DOC_TEXT, process)
    state = merge_store.read_current(spark, state_root).drop("__bucket")
    return (
        state.groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("c").cast("long").alias("n_docs"),
            F.sum(F.col("c") * F.col("t")).cast("long").alias("raw_tokens"),
            F.sum(
                F.col("c") * F.floor(F.lit(10000) * F.col("t") / F.col("c"))
            )
            .cast("long")
            .alias("eff_tokens_bp"),
        )
        .withColumnRenamed("c", "cluster_size")
    )


# -- streaming count-min sketch twin -------------------------------------------------


def streaming_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_count_min``: the d×w cell counts are a
    plain SUM aggregation — associative and commutative — so a
    complete-mode streaming aggregation maintains the sketch
    incrementally with O(d·w) state forever (the HLL-twin argument with
    sum in place of max).  Every micro-batch pre-aggregates its events
    into cell partials map-side; the state store holds exactly the 256
    counters.  The final register table feeds the same heavy-hitter
    probe as the batch op, so the streaming answer is CELL-EXACTLY the
    batch answer (shared SQL oracle; equality pinned in tests)."""
    from mongraph_spark.queries.events import cms_finish, cms_sketch

    ev = events_stream(spark, sf_dir).select("user_id")
    sketch = run_to_table(cms_sketch(ev), sf_dir)
    batch_ev = read_table(spark, sf_dir, "events").select("user_id")
    return cms_finish(sketch, batch_ev)


# -- streaming DDSketch quantile twin --------------------------------------------------


def streaming_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``sketch_ddsketch_quantiles``, over the events
    stream's ``value`` column: the (octave, sub-bucket) cell counts are a
    plain COUNT aggregation — associative and commutative — so a
    complete-mode streaming aggregation maintains the log-scaled sketch
    incrementally with O(#buckets) state forever (the HLL/count-min
    argument, with DDSketch's range-free bucketing in place of hashing).
    Each micro-batch bins its events map-side (integer-exact: octave via
    binary-string length, no libm) and folds them into at most ~16·64
    cells; the state store IS the sketch.  The estimate finisher
    (`dd_estimate`) is SHARED with the batch op, and the exact discrete
    percentile rides along from a batch read as at-SF ground truth — the
    row a 100 TB deployment would not compute, kept here so the <1/17
    relative-error guarantee stays pinned.  This is the production shape
    for live latency/value dashboards: p50/p90/p99 served from a
    constant-size synopsis, no sort, no history replay."""
    from mongraph_spark.queries.relational import (
        dd_binned,
        dd_estimate,
        dd_exact,
        dd_targets,
    )

    # One-cent domain floor: DDSketch is defined on positive reals, and
    # sf0.1 events contain rows with round(value*100)=0 whose bucket
    # (e=0, m=-16) sits outside the [0, DD_SUB) sub-bucket contract (and a
    # negative cent would diverge on bin() between engines).  Clamp at the
    # source — mirrored in ORACLE_STREAM_DDSKETCH — exactly as
    # corpus_ccnet_sketch_cutoffs does.
    ev = events_stream(spark, sf_dir).select(
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(1)).alias(
            "cents"
        )
    )
    agg = dd_binned(ev).groupBy("e", "m").agg(F.count(F.lit(1)).alias("c"))
    sketch = run_to_table(agg, sf_dir)
    batch = read_table(spark, sf_dir, "events").select(
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(1)).alias(
            "cents"
        )
    )
    targets = dd_targets(batch.agg(F.count(F.lit(1)).alias("n")))
    est = dd_estimate(sketch, targets, "est_cents")
    exact = dd_exact(batch, targets)
    n_buckets = sketch.agg(F.count(F.lit(1)).alias("n_buckets"))
    return (
        est.join(exact, "p")
        .crossJoin(F.broadcast(n_buckets))
        .select(
            F.col("p").cast("long").alias("p"),
            "est_cents",
            "exact_cents",
            F.expr("(10000 * (exact_cents - est_cents)) div exact_cents").alias(
                "rel_err_bp"
            ),
            F.col("n_buckets").cast("long").alias("n_buckets"),
        )
    )


_DD_PCTS, _DD_SUB = relational_ops.DD_PCTS, relational_ops.DD_SUB

ORACLE_STREAM_DDSKETCH = f"""
WITH o AS (
  SELECT greatest(CAST(round(value * 100) AS BIGINT), 1) AS cents FROM events
), binned AS (
  SELECT cents, e,
         (cents * {_DD_SUB}) // (1::BIGINT << CAST(e AS INTEGER)) - {_DD_SUB} AS m
  FROM (SELECT cents, CAST(length(bin(cents)) - 1 AS BIGINT) AS e FROM o)
), direct AS (
  SELECT e, m, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2
), targets AS (
  SELECT p, (p * n + 99) // 100 AS target
  FROM (VALUES {", ".join(f"({p})" for p in _DD_PCTS)}) t(p)
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM o)
), est_d AS (
  SELECT p,
         (({_DD_SUB} + bid % {_DD_SUB}) * (1::BIGINT << CAST(bid // {_DD_SUB} AS INTEGER))) // {_DD_SUB} AS est_cents
  FROM (
    SELECT t.p, min(s.e * {_DD_SUB} + s.m) AS bid
    FROM (SELECT e, m, sum(c) OVER (ORDER BY e, m) AS cum FROM direct) s
    CROSS JOIN targets t
    WHERE s.cum >= t.target
    GROUP BY t.p
  )
), exact AS (
  SELECT t.p, r.cents AS exact_cents
  FROM (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM o) r
  JOIN targets t ON r.rn = t.target
), nb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM direct
)
SELECT CAST(d.p AS BIGINT) AS p, d.est_cents, x.exact_cents,
       (10000 * (x.exact_cents - d.est_cents)) // x.exact_cents AS rel_err_bp,
       nb.n_buckets
FROM est_d d JOIN exact x ON d.p = x.p
CROSS JOIN nb
"""


# -- streaming AMS F2 moment-sketch twin -------------------------------------------------


def streaming_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_ams_f2``: the signed sums X_j are
    associative and commutative, so a complete-mode streaming aggregation
    maintains the tug-of-war sketch with EXACTLY ONE state row (8
    columns) forever — the smallest state footprint any stateful twin can
    have, answering the self-join-size/skew question live without a
    per-user rollup.  Every micro-batch folds its events into the signed
    sums map-side; the finisher is SHARED with the batch op, so the
    streaming answer is register-exactly the batch answer (shared SQL
    oracle; equality pinned in tests)."""
    from mongraph_spark.queries.events import ams_finish, ams_xs

    ev = events_stream(spark, sf_dir).select("user_id")
    xs = run_to_table(ams_xs(ev), sf_dir)
    batch_ev = read_table(spark, sf_dir, "events").select("user_id")
    return ams_finish(xs, batch_ev)


# -- streaming CCNet quality-scoring twin ----------------------------------------------


def streaming_ccnet_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``corpus_ccnet_buckets`` — reference-LM quality
    scoring in the INGEST path, extending the ingest quadruple: exact
    spans, near-dup Jaccard, vector similarity, and now perplexity
    filtering.  The CCNet contract is frozen-model by definition (the
    reference LM trains on the curated slice offline, not on the stream),
    so the model tables are built ONCE batch-side (`ccnet_model`) and
    persisted; each arriving micro-batch of documents is scored against
    them with the SHARED pure scorer (`ccnet_score` — two LEFT joins +
    broadcast vocab + per-doc re-agg, a pure function of (doc, model))
    and appended to the scored store.  ZERO streaming state: scoring is
    per-document, so unlike every aggregation twin there is no state
    store at all — the cheapest possible ingest operator.  The tercile
    bucketing is the served finisher (`ccnet_finish`; a rank cannot
    stream — the leaderboard argument), run over the accumulated scores,
    making the final table EXACTLY the batch op's (shared SQL oracle;
    collect-equality pinned in tests)."""
    from mongraph_spark.queries.corpus import ccnet_finish, ccnet_model, ccnet_score

    base = scratch_dir(spark, sf_dir, "stream_ccnet")
    staging = os.path.join(base, "arrivals")
    model_dir = os.path.join(base, "model")
    scored_dir = os.path.join(base, "scored")

    docs = read_table(spark, sf_dir, "documents")
    # freeze the reference model once (curated slice is static)
    c_bg, c_ctx, vocab = ccnet_model(docs)
    # few, right-sized files: every micro-batch re-reads these three tables,
    # so 3×32 shuffle-partition shards would mean hundreds of file opens per
    # replay (model size is vocab-bounded — single-digit MB at any SF here)
    c_bg.coalesce(4).write.parquet(os.path.join(model_dir, "c_bg"))
    c_ctx.coalesce(1).write.parquet(os.path.join(model_dir, "c_ctx"))
    vocab.coalesce(1).write.parquet(os.path.join(model_dir, "vocab"))

    # stage the corpus as 4 arrival batches (one checkpoint, 4 filtered writes)
    batched = docs.withColumn(
        "arrival",
        F.ntile(4).over(
            Window.partitionBy(const_part(F.col("doc_id"))).orderBy("doc_id")
        ),
    ).transform(lineage_cut)
    for i in range(1, 5):
        batched.filter(F.col("arrival") == i).drop("arrival").coalesce(1).write.mode(
            "append"
        ).parquet(staging)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        mb = s.read.parquet(os.path.join(model_dir, "c_bg"))
        mx = s.read.parquet(os.path.join(model_dir, "c_ctx"))
        mv = s.read.parquet(os.path.join(model_dir, "vocab"))
        ccnet_score(batch_df, mb, mx, mv).write.mode("append").parquet(scored_dir)

    _replay(spark, staging, spark.read.parquet(staging).schema, process)
    return ccnet_finish(spark.read.parquet(scored_dir))


# -- streaming hourly top-type twin ----------------------------------------------------


def streaming_hourly_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_hourly_top_type``: the per-(hour, type)
    counts are the watermark-bounded streaming aggregation (the live
    leaderboard's hot path); the per-hour winner is the rank post-pass
    over the continuously maintained counts — a RANKING cannot stream
    incrementally (a late row can dethrone a winner), which is exactly
    why production leaderboards are 'streamed counts + served rank', the
    split this twin demonstrates.  Batch-equality pinned; shared SQL
    oracle."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = run_to_table(agg, sf_dir)
    from pyspark.sql import Window as W

    hourly = out.select(F.col("w.start").alias("hour"), "event_type", "n")
    wr = W.partitionBy("hour").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        hourly.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("hour", F.col("event_type").alias("top_type"), "n")
    )


# -- streaming SLO burn-rate twin ------------------------------------------------------


def streaming_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_slo_burn_rate``: the per-hour
    total/error counts are watermark-bounded window aggregations
    maintained by the stream (the alerting pipeline's hot path); the
    {queries.events.SLO_SLOW_HOURS}-hour rolling slow window and the
    dual-threshold page flag run as the post-pass over the continuously
    updated hourly table — burn arithmetic identical to the batch op
    (shared SQL oracle, batch-equality pinned)."""
    from mongraph_spark.queries.events import (
        SLO_FAST_THRESH_BP,
        SLO_SLOW_HOURS,
        SLO_SLOW_THRESH_BP,
        SLO_TARGET_BP,
    )

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errors"),
    )
    out = run_to_table(agg, sf_dir)
    hourly = out.select(F.col("w.start").alias("hour"), "total", "errors")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(const_part(F.col("hour")))
        .orderBy("hour")
        .rowsBetween(-(SLO_SLOW_HOURS - 1), W.currentRow)
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
        ((fast > SLO_FAST_THRESH_BP) & (slow > SLO_SLOW_THRESH_BP)).alias(
            "page"
        ),
    )


# -- streaming span dedup: incremental gram index over arriving documents -----------


def _fresh_state_table(spark: SparkSession, name: str) -> None:
    """Reset a warehouse-backed state table so each run starts empty; a
    leftover warehouse dir from a dead session has lost its catalog bucket
    spec, so it is cleared too (same hygiene as graphs.tpch.bucketed_edges)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(os.path.join(warehouse_dir(spark), name.lower()), ignore_errors=True)


STATE_BUCKETS = 8


def _append_bucketed(df: DataFrame, tab: str, key: str, n: int = STATE_BUCKETS) -> None:
    """Append a micro-batch's rows into a bucketed+sorted state table: the
    repartition bounds the append to exactly ``n`` files per batch, and the
    bucket spec is what lets every later probe join read the accumulated
    index IN PLACE (no index-side Exchange — pinned by
    test_streaming_dedup_index_probe_is_bucketed)."""
    (
        df.repartition(n, key)
        .write.mode("append")
        .bucketBy(n, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(tab)
    )


def streaming_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries.dedup.dedup_span_exact — exact
    substring-span dedup in the INGEST path: documents arrive in
    micro-batches and each batch is matched, the moment it lands, against
    the accumulated corpus via an incrementally-maintained positioned-gram
    index, then its own grams join the index.  Union of all batch outputs
    must equal the batch detector on the full corpus — which is exactly
    what the oracle (the batch op's own SQL) checks.

    Per micro-batch (``foreachBatch``):
    1. positioned {SPAN_GRAM}-grams of the arriving docs;
    2. CROSS hits = batch grams ⋈ index grams (gram-keyed — only matching
       gram mass shuffles), pair-normalized so the lower doc_id is always
       ``id_a`` (arrival order is irrelevant to the result);
    3. INTRA hits = batch self-join (id_a < id_b) — pairs landing in the
       same batch, which the index can't see yet;
    4. shared diagonal RLE (queries.dedup.spans_from_hits) → spans
       appended to the result log;
    5. batch grams appended to the index.
    Every unordered pair is matched exactly once: cross when the later doc
    arrives, intra when both share a batch — so the union over batches is
    the batch detector's output, with per-arrival latency of one
    gram-keyed join against the index instead of a corpus rescan.

    State model (documented cost, like the stream-stream joins in
    COVERAGE's state table): the gram index IS the state and grows with
    the accumulated corpus — inherent to ingest-path span dedup (the
    index is the queryable artifact, stored as a table, not in executor
    state).  The index is a BUCKETED+sorted warehouse table keyed on
    ``gram`` ({STATE_BUCKETS} buckets locally; sized to cluster cores at
    scale), so the per-batch probe join reads the accumulated index in
    place — only the arriving batch's grams shuffle, never the index
    (plan-pinned by test_streaming_dedup_index_probe_is_bucketed).  At
    100 TB the index is additionally df-capped and md5-keyed
    (dedup_span_capped's form)."""
    from mongraph_spark.queries.dedup import (
        MIN_SPAN,
        SPAN_GRAM,
        _positioned_grams,
        span_corpus,
        spans_from_hits,
    )

    base = scratch_dir(spark, sf_dir, "stream_span")
    staging = os.path.join(base, "arrivals")
    out_dir = os.path.join(base, "spans")
    idx_tab = scratch_table(spark, sf_dir, "mg_ss_gram_idx")
    _fresh_state_table(spark, idx_tab)

    # stage the corpus as 4 arrival files in ONE map-side job: a hash
    # split into exactly 4 partitions writes one part file each — no
    # global-order window, no checkpoint, no per-arrival rescan (the
    # output is a SET; which batch a doc lands in only moves a pair
    # between the cross and intra legs, both of which are exercised)
    span_corpus(spark, sf_dir).repartition(4, "doc_id").write.parquet(staging)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        # (measured: widening the 1-file batch here HURTS — the gram
        # explode is I/O-cheap, unlike streaming_lsh_dedup's md5 minhash,
        # so the extra text shuffle costs more than the parallelism buys)
        grams_b = batch_df.select(
            "doc_id",
            F.posexplode(
                _positioned_grams(F.split(F.col("text"), " "), SPAN_GRAM)
            ).alias("pos", "gram"),
        ).transform(lineage_cut)  # feeds cross join, intra join, index append
        a = grams_b.select(
            F.col("doc_id").alias("id_x"), F.col("pos").alias("px"), "gram"
        )
        intra = (
            a.join(
                grams_b.select(
                    F.col("doc_id").alias("id_y"), F.col("pos").alias("py"), "gram"
                ),
                "gram",
            )
            .filter(F.col("id_x") < F.col("id_y"))
            .select(
                F.col("id_x").alias("id_a"),
                F.col("id_y").alias("id_b"),
                F.col("px").alias("pa"),
                F.col("py").alias("pb"),
            )
        )
        hits = intra
        if s.catalog.tableExists(idx_tab):
            idx = s.table(idx_tab).select(
                F.col("doc_id").alias("id_y"), F.col("pos").alias("py"), "gram"
            )
            lo_first = F.col("id_y") < F.col("id_x")  # normalize: lower id is a
            cross = a.join(idx, "gram").select(
                F.when(lo_first, F.col("id_y")).otherwise(F.col("id_x")).alias("id_a"),
                F.when(lo_first, F.col("id_x")).otherwise(F.col("id_y")).alias("id_b"),
                F.when(lo_first, F.col("py")).otherwise(F.col("px")).alias("pa"),
                F.when(lo_first, F.col("px")).otherwise(F.col("py")).alias("pb"),
            )
            hits = hits.unionByName(cross)
        spans = spans_from_hits(
            hits.withColumn("diag", F.col("pa") - F.col("pb")),
            SPAN_GRAM,
            MIN_SPAN,
        )
        spans.write.mode("append").parquet(out_dir)
        _append_bucketed(grams_b, idx_tab, "gram")

    _replay(spark, staging, _DOC_TEXT, process)
    return spark.read.parquet(out_dir)


def streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries.dedup.dedup_ngram_jaccard — MinHash-LSH
    NEAR-dup detection in the INGEST path (the crawl-pipeline shape:
    every arriving document is checked against the accumulated corpus the
    moment it lands, without rescanning it).  streaming_span_dedup is the
    exact-substring sibling; this is the band-bucket/Jaccard one.

    Per micro-batch (``foreachBatch``):
    1. shingle the arriving docs, fold minhash signatures into band keys
       (queries.dedup._banded_sigs — the batch op's own machinery),
       flattened to ONE join column ``band_cell`` = band_index ':'
       band_key (a pair must collide within the same band, and the single
       column is what the state table buckets on);
    2. CROSS candidates = batch band rows ⋈ accumulated band index on
       ``band_cell`` — the index side reads its buckets IN PLACE, only
       the batch's band mass shuffles — normalized so the lower doc_id
       is always ``id_a``;
    3. INTRA candidates = batch band self-join (pairs sharing a batch,
       which the index can't see yet); distinct over 2∪3 (a pair can
       collide in several bands);
    4. exact-Jaccard verify (integer 5·common ≥ 4·union, floor-bp score —
       identical to the batch op) with the shingles RECOMPUTED on demand
       for only the candidate doc_ids, read from the arrivals log with
       the candidate id set broadcast into the scan: per-batch verify
       cost is O(|candidates|), never a rescan of anything accumulated
       (cross candidates can only involve already-arrived docs, so the
       arrivals log always contains every candidate's text);
    5. the batch's band rows are appended to the state table — the ONLY
       state append per batch.
    Every unordered pair is matched exactly once — cross when the later
    doc arrives, intra when both share a batch — so the union over
    batches IS dedup_ngram_jaccard's output, checked by that op's own SQL
    oracle (same batch-equal contract as streaming_span_dedup).

    State model: the band index alone IS the state (bucketed+sorted
    warehouse table on ``band_cell`` — the side every batch probes reads
    its buckets in place, plan-pinned by
    test_streaming_dedup_index_probe_is_bucketed).  Round 9 DROPPED the
    separate shingle store the r7/r8 versions maintained: it was a second
    growing state table appended every batch and union-read every batch,
    yet its only consumer was the candidate-restricted lookup —
    recomputing shingles for the O(|candidates|) verify set straight from
    the raw corpus (which the lake stores anyway at 100 TB) costs one
    cheap HOF over a broadcast-pruned scan and removes one state append +
    one growing read per batch.  Together with widening the 1-file batch
    before the minhash stage (the dominant cost was 12 md5s per shingle
    on ONE stranded core) the warm 4-batch wall measured 12.1 → ~7.5 s
    at sf0.1."""
    from mongraph_spark.queries.dedup import (
        N_BANDS,
        _banded_sigs,
        _shingles,
        dup_corpus,
    )

    base = scratch_dir(spark, sf_dir, "stream_lsh")
    staging = os.path.join(base, "arrivals")
    out_dir = os.path.join(base, "pairs")
    band_tab = scratch_table(spark, sf_dir, "mg_lsh_band_idx")
    _fresh_state_table(spark, band_tab)

    # same one-job hash-split staging as streaming_span_dedup (the output
    # is a set; arrival composition is irrelevant)
    dup_corpus(spark, sf_dir, drop_last=2).repartition(4, "doc_id").write.parquet(
        staging
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        # an arriving micro-batch is ONE staged file = 1 input split, which
        # strands the md5-minhash compute on a single core while the rest
        # of the cluster idles — widen it first (no-op once batches are
        # wider than the cluster; measured at sf0.1: the per-batch sig
        # stage is the dominant cost without this)
        batch_df = scale_out(batch_df)
        shingled_b = batch_df.select(
            "doc_id", _shingles(F.split(F.col("text"), " ")).alias("shingles")
        )  # input to bl only — the verify reads the arrivals log instead
        bl = (
            _banded_sigs(shingled_b)
            .select(
                "doc_id",
                F.explode(
                    F.array(
                        *[
                            F.concat_ws(":", F.lit(b), F.col(f"band{b}"))
                            for b in range(N_BANDS)
                        ]
                    )
                ).alias("band_cell"),
            )
            .transform(lineage_cut)  # feeds intra, cross, index append
        )
        cands = (
            bl.select("band_cell", F.col("doc_id").alias("id_a"))
            .join(bl.select("band_cell", F.col("doc_id").alias("id_b")), "band_cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        if s.catalog.tableExists(band_tab):
            # the cross leg stays a SEPARATE join so the accumulated index
            # keeps its bucketed-in-place scan (unioning it with the batch
            # side would strip the bucket property and re-shuffle the whole
            # index every batch — plan-pinned by
            # test_streaming_dedup_index_probe_is_bucketed)
            idx = s.table(band_tab).select(
                "band_cell", F.col("doc_id").alias("id_y")
            )
            lo_first = F.col("id_y") < F.col("doc_id")  # normalize: lower id is a
            cross = (
                bl.join(idx, "band_cell")
                .select(
                    F.when(lo_first, F.col("id_y")).otherwise(F.col("doc_id")).alias("id_a"),
                    F.when(lo_first, F.col("doc_id")).otherwise(F.col("id_y")).alias("id_b"),
                )
            )
            cands = cands.unionByName(cross)
        cands = lineage_cut(cands.distinct())  # feeds need + verify
        # verify only what the bands surfaced: the candidate id set is
        # band-collision-sized, so it broadcasts into a scan of the
        # arrivals log (every candidate has arrived by construction) and
        # the shingles are recomputed for just those docs — no shingle
        # state table at all (per-batch verify cost O(|candidates|))
        need = (
            cands.select(F.col("id_a").alias("doc_id"))
            .unionByName(cands.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        lookup = (
            s.read.parquet(staging)
            .join(F.broadcast(need), "doc_id")
            .select(
                "doc_id", _shingles(F.split(F.col("text"), " ")).alias("shingles")
            )
            .transform(lineage_cut)  # feeds BOTH sides of the verify
            # join — without this the arrivals scan + shingle HOF run twice
        )
        sa = lookup.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
        sb = lookup.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
        n_common = F.size(F.array_intersect("sh_a", "sh_b"))
        union_sz = F.size("sh_a") + F.size("sh_b") - n_common
        verified = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("n_common", n_common)
            .withColumn("union_sz", union_sz)
            .filter(5 * F.col("n_common") >= 4 * F.col("union_sz"))
            .select(
                "id_a",
                "id_b",
                "n_common",
                F.floor(F.lit(10000) * F.col("n_common") / F.col("union_sz"))
                .cast("long")
                .alias("jaccard_bp"),
            )
        )
        verified.write.mode("append").parquet(out_dir)
        _append_bucketed(bl, band_tab, "band_cell")

    _replay(spark, staging, _DOC_TEXT, process)
    return spark.read.parquet(out_dir)


def streaming_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of quality.ivm_agg_delta: the aggregate view
    V(source) = (count, sum_chars) maintained CONTINUOUSLY from the CoW
    store's CDC change feed — the "materialized view subscribed to a
    change stream" shape (Delta CDF → streaming agg → MERGE INTO view)
    every warehouse-adjacent pipeline runs.

    The same 3-version history is replayed as a change STREAM, consumed
    DIRECTLY from the store's first-class STREAMING change feed
    (``sources.merge.stream_changes`` — the commit-offset Python data
    source; round 11 retires the per-commit spool-copy loop a file
    source needed): each commit arrives as its own micro-batch whose CDF
    rows collapse to signed contributions (insert/update_postimage →
    +1·chars, delete/update_preimage → −1·chars — commutative, so
    micro-batch boundaries can NEVER change the result), the stream
    aggregates them in update mode, and each micro-batch MERGEs the
    changed groups' running Δ onto the V0 baseline in a view store keyed
    by source.  The final table must equal the full recompute from the
    store's current version — emitted per group as ``identity_holds``,
    checked by the SAME oracle as the batch twin.

    Scale shape: streaming state is one (Δcount, Δsum) pair per GROUP
    (group-bounded, not row-bounded — the state-size table's best class);
    per batch the sink rewrites only changed groups' buckets.  At 100 TB
    the CDC feed is the store's commit log, and view refresh cost tracks
    the change rate, never the base — the entire point of IVM."""
    from mongraph_spark.sources import merge as merge_store

    root = quality_ops.ivm_build_history(spark, sf_dir, tag="shared")

    def rv(n: int) -> DataFrame:
        return merge_store.read_version(spark, root, n).drop("__bucket")

    v0, v2 = rv(0), rv(2)
    view0 = v0.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).transform(lineage_cut)
    view_root = root + "_view"
    shutil.rmtree(view_root, ignore_errors=True)
    merge_store.init_table(view0, view_root, key="source", n_buckets=4)

    # the store's own STREAMING change feed is the source: one commit per
    # micro-batch (commits_per_trigger=1), CDF rows collapsing to signed
    # group contributions inside the stream
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    changes = merge_store.stream_changes(spark, root, since_version=0).select(
        "source",
        sign.cast("long").alias("dc"),
        (sign * F.col("n_chars")).cast("long").alias("dch"),
    )
    dv = changes.groupBy("source").agg(
        F.sum("dc").alias("dd"), F.sum("dch").alias("dsc")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merged = (
            batch_df.join(view0, "source", "left")
            .na.fill(0, ["n_docs", "sum_chars"])
            .select(
                "source",
                (F.col("n_docs") + F.col("dd")).cast("long").alias("n_docs"),
                (F.col("sum_chars") + F.col("dsc")).cast("long").alias("sum_chars"),
            )
        )
        merge_store.upsert(batch_df.sparkSession, view_root, merged, key="source")

    with _state_partitioning(spark, sf_dir):
        # processAllAvailable (not availableNow): the Python-data-source
        # JVM wrapper snapshots ONE rate-limited latestOffset under
        # availableNow, which would stop after the first commit; the
        # drain-then-stop pattern honors the commit-per-trigger cadence
        q = dv.writeStream.foreachBatch(sink).outputMode("update").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    maintained = (
        merge_store.read_current(spark, view_root)
        .drop("__bucket")
        .select(
            "source",
            F.col("n_docs").alias("n_docs_maintained"),
            F.col("sum_chars").alias("sum_chars_maintained"),
        )
    )
    base = view0.select(
        "source",
        F.col("n_docs").alias("n_docs_v0"),
        F.col("sum_chars").alias("sum_chars_v0"),
    )
    full = v2.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_full"),
        F.sum("n_chars").cast("long").alias("sum_chars_full"),
    )
    out = (
        base.join(full, "source", "full_outer")
        .join(maintained, "source", "left")
        .na.fill(
            0,
            [
                "n_docs_v0",
                "sum_chars_v0",
                "n_docs_full",
                "sum_chars_full",
                "n_docs_maintained",
                "sum_chars_maintained",
            ],
        )
    )
    return out.select(
        "source",
        "n_docs_v0",
        "sum_chars_v0",
        (F.col("n_docs_maintained") - F.col("n_docs_v0"))
        .cast("long")
        .alias("d_docs"),
        (F.col("sum_chars_maintained") - F.col("sum_chars_v0"))
        .cast("long")
        .alias("d_chars"),
        "n_docs_maintained",
        "sum_chars_maintained",
        "n_docs_full",
        "sum_chars_full",
        (
            (F.col("n_docs_maintained") == F.col("n_docs_full"))
            & (F.col("sum_chars_maintained") == F.col("sum_chars_full"))
        ).alias("identity_holds"),
    ).filter((F.col("n_docs_v0") != 0) | (F.col("n_docs_full") != 0))


def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``quality.store_scd2_history``: the SCD Type 2
    dimension maintained CONTINUOUSLY from the store's change feed — the
    "dimension subscribed to CDC" shape every warehouse runs, where each
    arriving commit closes the affected keys' current intervals and
    opens the new ones, instead of re-deriving the whole dimension from
    history.

    Per micro-batch (one commit's CDF rows, replayed in commit order):
    1. the affected keys' CURRENT dimension rows are appended to the
       closed-interval log with ``_valid_to`` = this commit's version
       (a broadcast semi-join against the batch's bounded key set);
    2. opens (insert/update_postimage) MERGE into the current-state
       table (replace-by-key);
    3. deletes MERGE with ``when_matched_delete`` — both mutations are
       the store's own bucket-scoped distributed ops, so per-batch cost
       tracks the commit's change set, never the dimension size.
    The final dimension = closed log ∪ current table, aggregated
    identically to the batch op and checked by ITS oracle — batch-equal
    by construction.

    State model: the current-state table holds exactly one row per LIVE
    key (the dimension's natural size) and the closed log is append-only
    — at 100 TB both are what the warehouse stores anyway."""
    from mongraph_spark.sources import merge as merge_store

    root = quality_ops.ivm_build_history(spark, sf_dir, tag="shared")
    cur_tab = root + "_scd2cur"
    log_dir = root + "_scd2log"
    for d in (cur_tab, log_dir):
        shutil.rmtree(d, ignore_errors=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df = lineage_cut(batch_df)  # 4 consumers below
        ver = batch_df.agg(F.max("_commit_version")).collect()[0][0]
        if ver is None:
            return
        opens = batch_df.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("doc_id", "source", "n_chars", F.lit(int(ver)).alias("_valid_from"))
        if merge_store.current_version(cur_tab) is not None:
            aff = batch_df.select("doc_id").distinct()
            closing = (
                merge_store.read_current(s, cur_tab)
                .drop("__bucket")
                .join(F.broadcast(aff), "doc_id")
                .withColumn("_valid_to", F.lit(int(ver)).cast("long"))
            )
            closing.write.mode("append").parquet(log_dir)
            # ONE store commit per micro-batch (r13, VERDICT r12 order
            # #3): opens and deletes used to be TWO commits (an upsert +
            # a matched-delete MERGE behind a has-deletes probe job) —
            # fused into a single MERGE whose source carries deletes as
            # _valid_from = -1 sentinels (opens always have the commit's
            # version >= 1 here, so the sentinel can't collide).  Clause
            # order does the rest: matched sentinels DELETE, matched
            # opens REPLACE whole-row (the upsert semantics, spelled as
            # per-column src_ SETs), unmatched opens INSERT.  A delete
            # always matches by CDF construction (the key existed at the
            # preceding version and commits replay in order), so the
            # sentinel can never reach the insert branch.
            # sentinel typed EXACTLY like opens' F.lit(int(ver)) (int32):
            # a wider literal would widen the union and make the merge
            # stage INT64 files under the table's int32 schema
            dels = batch_df.filter(F.col("_change_type") == "delete").select(
                "doc_id",
                "source",
                "n_chars",
                F.lit(-1).alias("_valid_from"),
            )
            merge_store.merge_into(
                s,
                cur_tab,
                opens.unionByName(dels),
                when_matched_set={
                    "source": "src_source",
                    "n_chars": "src_n_chars",
                    "_valid_from": "src__valid_from",
                },
                when_matched_delete="src__valid_from = -1",
                insert_not_matched=True,
            )
        else:
            merge_store.init_table(opens, cur_tab, key="doc_id", n_buckets=8)

    with _state_partitioning(spark, sf_dir):
        # the store's streaming change feed, one commit per micro-batch —
        # GUARANTEED by the commit-offset source (a file source with
        # maxFilesPerTrigger=1 could split a multi-file commit mid-batch,
        # which would close intervals at a half-applied version).
        # processAllAvailable, not availableNow: see streaming_ivm_agg.
        q = (
            merge_store.stream_changes(spark, root, since_version=-1)
            .writeStream.foreachBatch(process)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    cur = (
        merge_store.read_current(spark, cur_tab)
        .drop("__bucket")
        .withColumn("_valid_to", F.lit(None).cast("long"))
    )
    try:
        closed = spark.read.parquet(log_dir).select(*cur.columns)
        dim = closed.unionByName(cur)
    except Exception:  # no interval ever closed (log dir empty)
        dim = cur
    return dim.groupBy("_valid_from", "_valid_to").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    ).select(
        F.col("_valid_from").alias("valid_from"),
        F.coalesce(F.col("_valid_to"), F.lit(-1)).cast("long").alias("valid_to"),
        F.col("_valid_to").isNull().alias("is_current"),
        "n_intervals",
        "sum_chars",
    )


def streaming_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries.similarity.ann_ivf — IVF vector-index
    maintenance in the INGEST path (the FAISS operational contract: the
    coarse quantizer is TRAINED ONCE, on the first arrival batch, then
    FROZEN; every arriving vector is assigned map-side to its cell and
    appended to the inverted lists, so the index is queryable the moment a
    batch lands — no retraining, no corpus rescans).  Completes the
    ingest-path triple: exact spans (streaming_span_dedup), near-dup
    Jaccard (streaming_lsh_dedup), vector similarity (this).

    Per micro-batch (``foreachBatch``):
    1. first batch only: train the quantizer — IVF seeds + one Lloyd
       iteration over THIS batch's vectors (similarity._ivf_centroids,
       the batch op's own machinery) — and persist it;
    2. assign the batch's vectors against the frozen broadcast quantizer
       (similarity._ivf_lists: one broadcast join, map-only — per-batch
       cost is O(batch·K), never O(corpus)) and append to the lists store.
    Query time = the shared probe/score/top-k finisher
    (similarity._ivf_probe_score) over the ACCUMULATED lists.

    The oracle replays exactly this contract in SQL (ORACLE_IVF_FROZEN:
    Lloyd training restricted to the first ntile(4) arrival group, lists
    over the full corpus) — so what is hash-checked is the twin's
    frozen-quantizer semantics, not batch ann_ivf's full-corpus training.
    Quantizer staleness as the corpus grows is the documented trade of
    train-once indexes; its recall cost is ann_recall_curve's subject.

    State model: the lists store IS the state — a table, bucketed by cell
    at 100 TB so query-time probes prune to nprobe buckets; state grows
    with the indexed corpus because the index is itself the product (same
    framing as the dedup twins' band/gram stores)."""
    from mongraph_spark.queries.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        _ivf_centroids,
        _ivf_lists,
        _ivf_probe_score,
    )

    base = scratch_dir(spark, sf_dir, "stream_ivf")
    staging = os.path.join(base, "arrivals")
    cent_dir = os.path.join(base, "quantizer")
    lists_dir = os.path.join(base, "inverted_lists")

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    batched = emb.withColumn(
        "arrival",
        F.ntile(4).over(
            Window.partitionBy(const_part(F.col("vec_id"))).orderBy("vec_id")
        ),
    ).transform(lineage_cut)  # staged once; 4 filtered writes
    for i in range(1, 5):
        batched.filter(F.col("arrival") == i).drop("arrival").coalesce(
            1
        ).write.mode("append").parquet(staging)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if not os.path.isdir(cent_dir):
            # train-once: seeds + one Lloyd iteration over the FIRST batch
            _ivf_centroids(
                batch_df.select("vec_id", F.col("vec").alias("embedding"))
            ).write.parquet(cent_dir)
        cents = s.read.parquet(cent_dir)
        _ivf_lists(batch_df.select("vec_id", "vec"), cents).write.mode(
            "append"
        ).parquet(lists_dir)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )
    _replay(spark, staging, schema, process)

    lists = spark.read.parquet(lists_dir)
    cents = spark.read.parquet(cent_dir)
    queries = lists.filter(F.col("c_id") < N_QUERIES).select(
        F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
    )
    scored = _ivf_probe_score(lists, queries, cents, IVF_NPROBE)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_bp", "rank")
    )


def streaming_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.corpus_kl_drift`` — the
    drift-monitor-at-ingest shape: arriving documents are tokenized in
    the micro-batch (map-only), and the stream maintains ONE
    per-(token) pair-of-count rows as its state (the divergence's ENTIRE
    input — the vocabulary rollup); the KL/JS finisher
    (``kl_from_counts``, shared verbatim) re-runs on read over the
    continuously-updated counts.  A drift poll pays one bounded
    vocab-size pass, never a corpus rescan.  Fully batch-equal, checked
    by the batch op's own oracle."""
    from mongraph_spark.queries.inference import kl_from_counts

    base = scratch_dir(spark, sf_dir, "stream_kl")
    staging = os.path.join(base, "arrivals")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs.repartition(4, "doc_id").write.parquet(staging)
    stream = _arrivals(spark, staging, docs.schema)
    grp = F.when(
        F.substring("source", 4, 10).cast("int") < 10, F.lit("a")
    ).otherwise(F.lit("b"))
    tok = stream.select(
        grp.alias("grp"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum((F.col("grp") == "a").cast("long")).alias("ca"),
        F.sum((F.col("grp") == "b").cast("long")).alias("cb"),
    )
    out = run_to_table(counts, sf_dir)
    return kl_from_counts(out)


QUERIES = {
    "streaming_theta_forecast": streaming_theta_forecast,
    "streaming_granger_causality": streaming_granger_causality,
    "streaming_kendall_tau": streaming_kendall_tau,
    "streaming_dickey_fuller": streaming_dickey_fuller,
    "streaming_kl_drift": streaming_kl_drift,
    "streaming_hurst_exponent": streaming_hurst_exponent,
    "streaming_permutation_entropy": streaming_permutation_entropy,
    "streaming_cross_correlation": streaming_cross_correlation,
    "streaming_lsh_dedup": streaming_lsh_dedup,
    "streaming_ann_ivf": streaming_ann_ivf,
    "streaming_ivm_agg": streaming_ivm_agg,
    "streaming_scd2_history": streaming_scd2_history,
    "streaming_span_dedup": streaming_span_dedup,
    "streaming_slo_burn_rate": streaming_slo_burn_rate,
    "streaming_hourly_top_type": streaming_hourly_top_type,
    "streaming_count_min": streaming_count_min,
    "streaming_ddsketch_quantiles": streaming_ddsketch_quantiles,
    "streaming_ccnet_score": streaming_ccnet_score,
    "streaming_ams_f2": streaming_ams_f2,
    "streaming_seasonal_anomaly": streaming_seasonal_anomaly,
    "streaming_cusum_changepoint": streaming_cusum_changepoint,
    "streaming_holt_trend": streaming_holt_trend,
    "streaming_welch_ttest": streaming_welch_ttest,
    "streaming_lttb_downsample": streaming_lttb_downsample,
    "streaming_page_hinkley": streaming_page_hinkley,
    "streaming_mann_kendall": streaming_mann_kendall,
    "streaming_stl_decompose": streaming_stl_decompose,
    "streaming_regime_segments": streaming_regime_segments,
    "streaming_lorenz_curve": streaming_lorenz_curve,
    "streaming_conformal_interval": streaming_conformal_interval,
    "streaming_autocorrelation": streaming_autocorrelation,
    "streaming_hampel_filter": streaming_hampel_filter,
    "streaming_croston": streaming_croston,
    "streaming_holt_winters": streaming_holt_winters,
    "streaming_forecast_backtest": streaming_forecast_backtest,
    "streaming_gopher_rules": streaming_gopher_rules,
    "streaming_soft_dedup": streaming_soft_dedup,
    "streaming_hll_distinct": streaming_hll_distinct,
    "streaming_tumbling_window": streaming_tumbling_window,
    "streaming_markov_transitions": streaming_markov_transitions,
    "streaming_sliding_window": streaming_sliding_window,
    "streaming_merge_upsert": streaming_merge_upsert,
    "streaming_click_purchase_join": streaming_click_purchase_join,
    "streaming_session_counts": streaming_session_counts,
    "streaming_stateful_user_totals": streaming_stateful_user_totals,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_threshold_anomaly": streaming_threshold_anomaly,
    "streaming_click_purchase_outer": streaming_click_purchase_outer,
}

# twin -> the batch op whose oracle (and answer) it shares
TWIN_OF = {
    "streaming_theta_forecast": "events_theta_forecast",
    "streaming_granger_causality": "stats_granger_causality",
    "streaming_kendall_tau": "stats_kendall_tau",
    "streaming_dickey_fuller": "stats_dickey_fuller",
    "streaming_kl_drift": "corpus_kl_drift",
    "streaming_hurst_exponent": "events_hurst_exponent",
    "streaming_permutation_entropy": "events_permutation_entropy",
    "streaming_cross_correlation": "events_cross_correlation",
    "streaming_lsh_dedup": "dedup_ngram_jaccard",
    "streaming_ivm_agg": "ivm_agg_delta",
    "streaming_scd2_history": "store_scd2_history",
    "streaming_span_dedup": "dedup_span_exact",
    "streaming_slo_burn_rate": "events_slo_burn_rate",
    "streaming_hourly_top_type": "events_hourly_top_type",
    "streaming_count_min": "events_count_min",
    "streaming_ccnet_score": "corpus_ccnet_buckets",
    "streaming_ams_f2": "events_ams_f2",
    "streaming_cusum_changepoint": "events_cusum_changepoint",
    "streaming_holt_trend": "events_holt_trend",
    "streaming_welch_ttest": "stats_welch_ttest",
    "streaming_lttb_downsample": "events_lttb_downsample",
    "streaming_page_hinkley": "events_page_hinkley",
    "streaming_mann_kendall": "events_mann_kendall",
    "streaming_stl_decompose": "events_stl_decompose",
    "streaming_regime_segments": "events_regime_segments",
    "streaming_lorenz_curve": "events_lorenz_curve",
    "streaming_conformal_interval": "events_conformal_interval",
    "streaming_autocorrelation": "events_autocorrelation",
    "streaming_hampel_filter": "events_hampel_filter",
    "streaming_croston": "events_croston",
    "streaming_holt_winters": "events_holt_winters",
    "streaming_forecast_backtest": "events_forecast_backtest",
    "streaming_gopher_rules": "corpus_gopher_rules",
    "streaming_soft_dedup": "corpus_soft_dedup",
    "streaming_hll_distinct": "sketch_hll_mergeable",
    "streaming_markov_transitions": "events_markov_transitions",
}

_BATCH_ORACLES = {
    **corpus_ops.ORACLES,
    **dedup_ops.ORACLES,
    **events_ops.ORACLES,
    **inference_ops.ORACLES,
    **quality_ops.ORACLES,
    **relational_ops.ORACLES,
}

ORACLES = {
    **{twin: _BATCH_ORACLES[op] for twin, op in TWIN_OF.items()},
    "streaming_ann_ivf": similarity_ops.ORACLE_IVF_FROZEN,
    "streaming_ddsketch_quantiles": ORACLE_STREAM_DDSKETCH,
    "streaming_seasonal_anomaly": events_ops.ORACLE_SEASONAL_ANOMALY.rstrip()
    + "\n  AND d.n > 0\n",
    "streaming_threshold_anomaly": ORACLE_STREAM_ANOMALY,
    "streaming_click_purchase_outer": ORACLE_STREAM_OUTER,
    "streaming_tumbling_window": ORACLE_STREAM_TUMBLING,
    "streaming_sliding_window": ORACLE_STREAM_SLIDING,
    "streaming_merge_upsert": ORACLE_STREAM_MERGE,
    "streaming_click_purchase_join": ORACLE_STREAM_JOIN,
    "streaming_session_counts": ORACLE_STREAM_SESSIONS,
    "streaming_stateful_user_totals": ORACLE_STREAM_STATEFUL,
    "streaming_dedup_events": ORACLE_STREAM_DEDUP,
}
