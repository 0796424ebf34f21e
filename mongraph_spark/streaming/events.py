"""Structured Streaming realizations of the event analytics (SURVEY.md §2.7
extension scope): readStream → watermark → window / session_window /
applyInPandasWithState → sink.

Each operator here is the *same logic* as its batch twin in
queries/events.py; on this finite dataset a replay with
``trigger(availableNow=True)`` must produce identical results, which is what
the oracle checks (and tests/test_streaming.py asserts against the batch
DataFrames directly).

Scale notes: watermarks bound state (late events beyond 1 hour are dropped
at the source); session_window and the stateful counter both keyed by
user_id so state partitions horizontally; memory sink is test-only — a real
deployment writes to kafka/delta with checkpointing.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import warnings

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mongraph_spark.sparkutil import (
    const_part,
    lineage_cut,
    normalize_event_ts,
    scale_out,
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


def run_to_table(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a finite replay (availableNow) into a memory sink and return
    the sink table."""
    name = f"mg_stream_sink_{next(_sink_seq)}"
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
    return stream_df.sparkSession.table(name)


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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(counted, output_mode="update")
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(joined, output_mode="append")
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
    import shutil
    import tempfile

    from mongraph_spark.sources import merge as merge_store

    # app-id-namespaced root: concurrent sessions (gate + bench) must not
    # race on one store dir (same isolation as store_snapshot_diff)
    root = os.path.join(
        tempfile.gettempdir(),
        f"mg_stream_merge_store_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(root, ignore_errors=True)

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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(joined, output_mode="append")
    from mongraph_spark.sparkutil import read_table

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
    from mongraph_spark.sparkutil import read_table

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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(counted, output_mode="append")
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
    with _state_partitioning(spark, sf_dir):
        regs = run_to_table(regs_stream, output_mode="complete")
    from mongraph_spark.sparkutil import read_table

    batch_ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_finish(regs, batch_ev)


from mongraph_spark.queries.events import ORACLE_MARKOV as ORACLE_STREAM_MARKOV  # noqa: E402
from mongraph_spark.queries.relational import ORACLE_HLL as ORACLE_STREAM_HLL  # noqa: E402


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
    from mongraph_spark.sparkutil import read_table

    base = _seasonal_baseline(_seasonal_dense(spark, sf_dir))
    d0 = read_table(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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


def _oracle_stream_seasonal() -> str:
    from mongraph_spark.queries.events import ORACLE_SEASONAL_ANOMALY

    return ORACLE_SEASONAL_ANOMALY.rstrip() + "\n  AND d.n > 0\n"


# -- streaming CUSUM changepoint twin -------------------------------------------------


def streaming_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_cusum_changepoint``: the
    stream maintains the watermarked per-(type, day) count rollup; the
    CUSUM screen itself (integer S_k = n·P_k − k·T, earliest-day argmax)
    is the SHARED batch finisher over the continuously-updated rollup
    table — the monitoring deployment shape (cheap stream state, the
    level-shift scan re-runs on read).  Fully batch-equal: the batch op's
    daily counts also carry no zero-fill, so the two rollups are
    identical by construction.  State: O(types × days-in-watermark)."""
    from mongraph_spark.queries.events import _cusum_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("x")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    daily = out.select(
        "event_type", F.to_date("w.start").alias("day"), F.col("x")
    )
    return _cusum_finish(daily)


def _oracle_stream_cusum() -> str:
    from mongraph_spark.queries.events import ORACLE_CUSUM

    return ORACLE_CUSUM


def streaming_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_holt_trend``: the stream
    maintains the watermarked per-day cents rollup — the forecast's
    ENTIRE sufficient statistic, O(days) state — and the Holt recursion +
    horizon finisher (``holt_finish``, shared verbatim) re-runs on read
    over the continuously-updated rollup table.  The live-dashboard
    forecasting shape: cheap associative stream state, an O(|days|)
    finisher per refresh, never a history replay.  Fully batch-equal (the
    batch op's daily rollup also carries no zero-fill), checked by the
    batch op's own recursive-CTE oracle."""
    from mongraph_spark.queries.events import holt_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    daily = out.select(F.to_date("w.start").alias("day"), "y")
    return holt_finish(daily)


def _oracle_stream_holt() -> str:
    from mongraph_spark.queries.events import ORACLE_HOLT

    return ORACLE_HOLT


def streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_holt_winters`` — the same
    watermarked per-day cents rollup as the Holt twin (the seasonal
    forecast's ENTIRE sufficient statistic, O(days) state) with the
    Holt–Winters recursion + horizon finisher (``holt_winters_finish``,
    shared verbatim) re-run on read over the continuously-updated rollup.
    The live-dashboard seasonal-forecast shape: cheap associative stream
    state, an O(|days|) finisher per refresh, never a history replay.
    Fully batch-equal, checked by the batch op's recursive-CTE oracle."""
    from mongraph_spark.queries.events import holt_winters_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    daily = out.select(F.to_date("w.start").alias("day"), "y")
    return holt_winters_finish(daily)


def _oracle_stream_holt_winters() -> str:
    from mongraph_spark.queries.events import ORACLE_HOLT_WINTERS

    return ORACLE_HOLT_WINTERS


def streaming_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_forecast_backtest`` — the
    nightly-model-review shape: the stream maintains the same watermarked
    daily rollup (the ENTIRE sufficient statistic for every model in the
    ladder), and the backtest — hold out the trailing season, fit
    naive/seasonal-naive/Holt/Holt–Winters on the prefix, score MAE +
    MASE — re-runs as an O(|days|) finisher over the continuously-updated
    state.  Model selection stays current as data arrives without ever
    replaying history; fully batch-equal (shared finisher), checked by
    the batch op's own oracle."""
    from mongraph_spark.queries.events import backtest_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    daily = out.select(F.to_date("w.start").alias("day"), "y")
    return backtest_finish(daily)


def _oracle_stream_forecast_backtest() -> str:
    from mongraph_spark.queries.events import ORACLE_FORECAST_BACKTEST

    return ORACLE_FORECAST_BACKTEST


def streaming_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.stats_welch_ttest`` — the live
    A/B readout: the stream maintains the test's ENTIRE sufficient
    statistic (per event type, six exact BIGINT moment counters — n, Σv,
    Σv² per parity arm, ``welch_moments`` shared verbatim), so state is
    O(|types|) rows REGARDLESS of event volume — the state store IS the
    sufficient statistic, and the Welch t + Satterthwaite ν finisher
    (``welch_finish``, shared verbatim) re-runs on read.  A dashboard
    refreshing mid-experiment pays the O(|types|) finisher, never a
    history replay.  Fully batch-equal, checked by the batch op's own
    oracle."""
    from mongraph_spark.queries.events import welch_finish, welch_moments

    ev = events_stream(spark, sf_dir)
    agg = welch_moments(ev)
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    return welch_finish(out)


def _oracle_stream_welch() -> str:
    from mongraph_spark.queries.events import ORACLE_WELCH_TTEST

    return ORACLE_WELCH_TTEST


def streaming_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_lttb_downsample`` — the
    live-chart decimation shape: the stream maintains the watermarked
    per-(type, hour) cents rollup (the decimation's ENTIRE input,
    O(|series|·|hours|) state), and the parallel fixed-anchor LTTB pick
    (``lttb_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A dashboard refresh pays the bounded
    finisher — two windows + one join over hours — never a raw-event
    replay.  Fully batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import lttb_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select("event_type", F.col("w.start").alias("hour"), "y")
    return lttb_finish(hourly)


def _oracle_stream_lttb() -> str:
    from mongraph_spark.queries.events import ORACLE_LTTB

    return ORACLE_LTTB


def streaming_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_stl_decompose`` — the
    live dashboard-decomposition shape: the stream maintains the
    watermarked per-(type, hour) cents rollup (the decomposition's
    ENTIRE input, bounded |types|×|hours| state), and the moving-average
    trend + hour-of-day seasonal scan (``stl_finish``, shared verbatim)
    re-runs on read over the continuously-updated rollup.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import stl_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select("event_type", F.col("w.start").alias("hour"), "y")
    return stl_finish(hourly)


def _oracle_stream_stl() -> str:
    from mongraph_spark.queries.events import ORACLE_STL

    return ORACLE_STL


def streaming_regime_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_regime_segments`` — the
    live burst-monitor shape: the stream maintains the watermarked
    per-(type, hour) cents rollup, and the gaps-and-islands segmentation
    re-runs on read over the continuously-updated rollup
    (``regime_finish``, shared verbatim).  Fully batch-equal, checked by
    the batch op's oracle."""
    from mongraph_spark.queries.events import regime_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select("event_type", F.col("w.start").alias("hour"), "y")
    return regime_finish(hourly)


def streaming_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_lorenz_curve`` — the
    live concentration-monitor shape: the stream maintains per-user
    running cents totals (one state row per user — the
    stateful_user_totals state class), and the decile curve
    (``lorenz_finish``, shared verbatim) re-runs on read over the
    continuously-updated totals.  Fully batch-equal, checked by the
    batch op's own oracle."""
    from mongraph_spark.queries.events import lorenz_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    return lorenz_finish(out.select("user_id", "total"))


def streaming_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_conformal_interval`` —
    the live uncertainty-monitor shape: the stream maintains the
    watermarked per-(type, day) cents rollup, and the split-conformal
    calibration + coverage audit (``conformal_finish``, shared verbatim)
    re-runs on read over the continuously-updated rollup.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import conformal_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "2 days")
    agg = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    # the finisher self-joins its input (calibration rank vs test
    # audit); through the memory-sink view the shared attribute ids
    # conflict — cut the BOUNDED rollup's lineage (the acf-twin fix)
    daily = out.select(
        "event_type", F.col("w.start").alias("day"), "y"
    ).transform(lineage_cut)
    return conformal_finish(daily)


def _oracle_stream_conformal() -> str:
    from mongraph_spark.queries.events import ORACLE_CONFORMAL

    return ORACLE_CONFORMAL


def _oracle_stream_lorenz() -> str:
    from mongraph_spark.queries.events import ORACLE_LORENZ

    return ORACLE_LORENZ


def _oracle_stream_regime() -> str:
    from mongraph_spark.queries.events import ORACLE_REGIME

    return ORACLE_REGIME


def streaming_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_mann_kendall`` — the
    live trend-monitor shape: the stream maintains the watermarked
    per-(type, hour) cents rollup (the test's ENTIRE input, bounded
    |types|×|hours| state), and the pairwise-sign scan
    (``mann_kendall_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A monitoring poll pays the bounded
    per-type pair join, never a raw-event replay.  Fully batch-equal,
    checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import mann_kendall_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    # the finisher self-joins its input; through the memory-sink view the
    # shared attribute ids defeat Spark's self-join dedup — a lineage cut
    # of the BOUNDED rollup detaches the lineage (the acf-twin pattern)
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return mann_kendall_finish(hourly)


def _oracle_stream_mann_kendall() -> str:
    from mongraph_spark.queries.events import ORACLE_MANN_KENDALL

    return ORACLE_MANN_KENDALL


def streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_page_hinkley`` — the
    live-drift-monitor shape: the stream maintains the watermarked
    per-(type, hour) cents rollup (O(|types|·|hours|) state — the
    detector's ENTIRE input), and the Page–Hinkley scan
    (``page_hinkley_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A monitoring poll pays three bounded
    per-type prefix windows, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import page_hinkley_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select("event_type", F.col("w.start").alias("hour"), "y")
    return page_hinkley_finish(hourly)


def _oracle_stream_page_hinkley() -> str:
    from mongraph_spark.queries.events import ORACLE_PAGE_HINKLEY

    return ORACLE_PAGE_HINKLEY


def streaming_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_autocorrelation`` — the
    live seasonality readout: the stream maintains the watermarked
    per-(type, hour) cents rollup (the ACF's ENTIRE input), and the lag
    correlation scan (``acf_finish``, shared verbatim) re-runs on read
    over the continuously-updated rollup.  A dashboard poll pays the
    bounded per-series lag joins, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import acf_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    # the finisher self-joins its input; through the memory-sink view the
    # shared attribute ids defeat Spark's self-join dedup (the lttb twin's
    # rename workaround) — a local checkpoint of the BOUNDED rollup state
    # (|types|x|hours| rows) detaches the lineage cleanly instead
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return acf_finish(hourly)


def _oracle_stream_acf() -> str:
    from mongraph_spark.queries.events import ORACLE_ACF

    return ORACLE_ACF


def streaming_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_hampel_filter`` — the
    live-despiking shape: the stream maintains the watermarked
    per-(type, hour) cents rollup, and the rolling-median Hampel scan
    (``hampel_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A monitoring poll pays one bounded
    7-row rolling window per series, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.events import hampel_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select("event_type", F.col("w.start").alias("hour"), "y")
    return hampel_finish(hourly)


def _oracle_stream_hampel() -> str:
    from mongraph_spark.queries.events import ORACLE_HAMPEL

    return ORACLE_HAMPEL


def streaming_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.events.events_croston`` — the
    intermittent-demand forecast maintained at ingest: the stream keeps
    the watermarked per-(type, day) HIGH-VALUE cents rollup (threshold
    applied inside the streaming aggregate, so silent-demand days carry
    d=0 state rows exactly as the batch grid does), and the Croston fold
    (``croston_finish``, shared verbatim) re-runs on read over O(|days|)
    state per type.  Fully batch-equal, checked by the batch op's own
    oracle."""
    from mongraph_spark.queries.events import CROSTON_THRESHOLD, croston_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "2 days")
    cents = F.round(F.col("value") * 100).cast("long")
    agg = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.sum(
            F.when(F.col("value") >= CROSTON_THRESHOLD, cents).otherwise(0)
        ).alias("d")
    )
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    daily = out.select(
        "event_type", F.to_date(F.col("w.start")).alias("day"), "d"
    )
    return croston_finish(daily)


def _oracle_stream_croston() -> str:
    from mongraph_spark.queries.events import ORACLE_CROSTON

    return ORACLE_CROSTON


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
    import shutil
    import tempfile

    from mongraph_spark.queries.corpus import GOPHER_RULES, gopher_flags
    from mongraph_spark.queries.text import STOPWORDS  # noqa: F401 (rule dep)

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_gopher_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "arrivals")
    flags_dir = os.path.join(base, "flags")
    from mongraph_spark.sparkutil import read_table

    read_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        4, "doc_id"
    ).write.parquet(staging)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        gopher_flags(batch_df).write.mode("append").parquet(flags_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from mongraph_spark.queries.corpus import gopher_funnel

    return gopher_funnel(spark.read.parquet(flags_dir), GOPHER_RULES)


def _oracle_stream_gopher() -> str:
    from mongraph_spark.queries.corpus import ORACLE_GOPHER

    return ORACLE_GOPHER


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
    import shutil
    import tempfile

    from mongraph_spark.queries.dedup import dup_corpus
    from mongraph_spark.sources import merge as merge_store

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_soft_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "arrivals")
    state_root = os.path.join(base, "clusters")

    dup_corpus(spark, sf_dir).repartition(4, "doc_id").write.parquet(staging)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

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

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
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


def _oracle_stream_soft_dedup() -> str:
    from mongraph_spark.queries.corpus import ORACLE_SOFT_DEDUP

    return ORACLE_SOFT_DEDUP


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
    from mongraph_spark.sparkutil import read_table

    ev = events_stream(spark, sf_dir).select("user_id")
    with _state_partitioning(spark, sf_dir):
        sketch = run_to_table(cms_sketch(ev), output_mode="complete")
    batch_ev = read_table(spark, sf_dir, "events").select("user_id")
    return cms_finish(sketch, batch_ev)


def _oracle_stream_cms() -> str:
    from mongraph_spark.queries.events import ORACLE_COUNT_MIN

    return ORACLE_COUNT_MIN


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
    from mongraph_spark.sparkutil import read_table

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
    with _state_partitioning(spark, sf_dir):
        sketch = run_to_table(agg, output_mode="complete")
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


from mongraph_spark.queries.relational import DD_PCTS as _DD_PCTS  # noqa: E402
from mongraph_spark.queries.relational import DD_SUB as _DD_SUB  # noqa: E402

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
    from mongraph_spark.sparkutil import read_table

    ev = events_stream(spark, sf_dir).select("user_id")
    with _state_partitioning(spark, sf_dir):
        xs = run_to_table(ams_xs(ev), output_mode="complete")
    batch_ev = read_table(spark, sf_dir, "events").select("user_id")
    return ams_finish(xs, batch_ev)


def _oracle_stream_ams() -> str:
    from mongraph_spark.queries.events import ORACLE_AMS_F2

    return ORACLE_AMS_F2


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
    import shutil
    import tempfile

    from mongraph_spark.queries.corpus import ccnet_finish, ccnet_model, ccnet_score
    from mongraph_spark.sparkutil import read_table

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_ccnet_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
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

    schema = spark.read.parquet(staging).schema

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        mb = s.read.parquet(os.path.join(model_dir, "c_bg"))
        mx = s.read.parquet(os.path.join(model_dir, "c_ctx"))
        mv = s.read.parquet(os.path.join(model_dir, "vocab"))
        ccnet_score(batch_df, mb, mx, mv).write.mode("append").parquet(scored_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ccnet_finish(spark.read.parquet(scored_dir))


def _oracle_stream_ccnet() -> str:
    from mongraph_spark.queries.corpus import ORACLE_CCNET_BUCKETS

    return ORACLE_CCNET_BUCKETS


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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    from pyspark.sql import Window as W

    hourly = out.select(F.col("w.start").alias("hour"), "event_type", "n")
    wr = W.partitionBy("hour").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        hourly.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("hour", F.col("event_type").alias("top_type"), "n")
    )


def _oracle_stream_hourly_top() -> str:
    from mongraph_spark.queries.events import ORACLE_HOURLY_TOP

    return ORACLE_HOURLY_TOP


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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
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


def _oracle_stream_slo() -> str:
    from mongraph_spark.queries.events import ORACLE_SLO_BURN

    return ORACLE_SLO_BURN


# -- streaming span dedup: incremental gram index over arriving documents -----------


def _state_table_name(prefix: str, spark: SparkSession, sf_dir: str) -> str:
    import re

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    raw = f"{prefix}_{spark.sparkContext.applicationId}_{sf_tag}"
    return re.sub(r"\W", "_", raw)


def _fresh_state_table(spark: SparkSession, name: str) -> None:
    """Reset a warehouse-backed state table so each run starts empty; a
    leftover warehouse dir from a dead session has lost its catalog bucket
    spec, so it is cleared too (same hygiene as graphs.tpch.bucketed_edges)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    leftover = os.path.join(warehouse, name.lower())
    if os.path.exists(leftover):
        shutil.rmtree(leftover)


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
    import shutil
    import tempfile

    from mongraph_spark.queries.dedup import (
        MIN_SPAN,
        SPAN_GRAM,
        _positioned_grams,
        span_corpus,
        spans_from_hits,
    )

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_span_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "arrivals")
    out_dir = os.path.join(base, "spans")
    idx_tab = _state_table_name("mg_ss_gram_idx", spark, sf_dir)
    _fresh_state_table(spark, idx_tab)

    # stage the corpus as 4 arrival files in ONE map-side job: a hash
    # split into exactly 4 partitions writes one part file each — no
    # global-order window, no checkpoint, no per-arrival rescan (the
    # output is a SET; which batch a doc lands in only moves a pair
    # between the cross and intra legs, both of which are exercised)
    span_corpus(spark, sf_dir).repartition(4, "doc_id").write.parquet(staging)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

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

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def _oracle_stream_span() -> str:
    from mongraph_spark.queries.dedup import ORACLE_SPAN_EXACT

    return ORACLE_SPAN_EXACT


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
    import shutil
    import tempfile

    from mongraph_spark.queries.dedup import (
        N_BANDS,
        _banded_sigs,
        _shingles,
        dup_corpus,
    )

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_lsh_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "arrivals")
    out_dir = os.path.join(base, "pairs")
    band_tab = _state_table_name("mg_lsh_band_idx", spark, sf_dir)
    _fresh_state_table(spark, band_tab)

    # same one-job hash-split staging as streaming_span_dedup (the output
    # is a set; arrival composition is irrelevant)
    dup_corpus(spark, sf_dir, drop_last=2).repartition(4, "doc_id").write.parquet(
        staging
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
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

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def _oracle_stream_lsh() -> str:
    from mongraph_spark.queries.dedup import ORACLE_JACCARD

    return ORACLE_JACCARD


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
    import shutil

    from mongraph_spark.queries.quality import ivm_build_history
    from mongraph_spark.sources import merge as merge_store

    root = ivm_build_history(spark, sf_dir, tag="shared")

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
    import shutil

    from mongraph_spark.queries.quality import ivm_build_history
    from mongraph_spark.sources import merge as merge_store

    root = ivm_build_history(spark, sf_dir, tag="shared")
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


def _oracle_stream_scd2() -> str:
    from mongraph_spark.queries.quality import ORACLE_SCD2

    return ORACLE_SCD2


def _oracle_stream_ivm() -> str:
    from mongraph_spark.queries.quality import ORACLE_IVM_AGG

    return ORACLE_IVM_AGG


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
    import shutil
    import tempfile

    from mongraph_spark.queries.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        _ivf_centroids,
        _ivf_lists,
        _ivf_probe_score,
    )
    from mongraph_spark.sparkutil import read_table

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_ivf_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
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

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )

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

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

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


def _oracle_stream_ivf() -> str:
    from mongraph_spark.queries.similarity import ORACLE_IVF_FROZEN

    return ORACLE_IVF_FROZEN


def streaming_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.events_hurst_exponent`` —
    the live long-memory monitor: the stream maintains the watermarked
    per-(type, hour) cents rollup (the R/S analysis' ENTIRE input,
    bounded |types|×|hours| state), and the block-rescaled-range scan
    (``hurst_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A monitoring poll pays bounded
    per-(type, scale, block) windows, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import hurst_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    # hurst_finish joins the rollup against its own per-type hour counts;
    # lineage_cut detaches the memory-sink lineage (the acf pattern)
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return hurst_finish(hourly)


def _oracle_stream_hurst() -> str:
    from mongraph_spark.queries.inference import ORACLE_HURST

    return ORACLE_HURST


def streaming_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.events_permutation_entropy``
    — the live complexity monitor: the stream maintains the watermarked
    per-(type, hour) cents rollup, and the ordinal-pattern entropy scan
    (``perm_entropy_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A poll pays two lead() windows plus a
    ≤6-row histogram per series, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import perm_entropy_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select("event_type", F.col("w.start").alias("hour"), "y")
    return perm_entropy_finish(hourly)


def _oracle_stream_perm_entropy() -> str:
    from mongraph_spark.queries.inference import ORACLE_PERM_ENTROPY

    return ORACLE_PERM_ENTROPY


def streaming_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.events_cross_correlation`` —
    the live lead/lag monitor between the two highest-revenue streams:
    the stream maintains the watermarked per-(type, hour) cents rollup,
    and the per-lag Pearson scan (``ccf_finish``, shared verbatim)
    re-runs on read over the continuously-updated rollup.  A poll pays
    13 bounded hour-grid equi-joins, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import ccf_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    # ccf_finish self-joins the rollup (x vs y legs + the top-2 ranking);
    # lineage_cut detaches the memory-sink lineage (the acf pattern)
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return ccf_finish(hourly)


def _oracle_stream_ccf() -> str:
    from mongraph_spark.queries.inference import ORACLE_CCF

    return ORACLE_CCF


def streaming_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.events_theta_forecast`` —
    the forecast-at-ingest shape: the stream maintains the watermarked
    per-(type, day) cents rollup (the method's ENTIRE input, bounded
    |types|×|days| state), and the theta combination (``theta_finish``,
    shared verbatim — exact micro-grid trend fit + shiftright SES fold)
    re-runs on read over the continuously-updated rollup.  A forecast
    poll pays one bounded per-type fold, never a raw-event replay.
    Fully batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import theta_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    # theta_finish joins the rollup against its own per-type trend fit;
    # lineage_cut detaches the memory-sink lineage (the acf pattern)
    daily = out.select(
        "event_type", F.col("w.start").cast("date").alias("day"), "y"
    ).transform(lineage_cut)
    return theta_finish(daily)


def _oracle_stream_theta() -> str:
    from mongraph_spark.queries.inference import ORACLE_THETA

    return ORACLE_THETA


def streaming_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.stats_granger_causality`` —
    the live does-A-predict-B monitor: the stream maintains the
    watermarked per-(type, hour) cents rollup (bounded |types|×|hours|
    state, the test's ENTIRE input), and the lag-1 Granger F-test
    (``granger_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A poll pays two bounded hour-grid
    joins + one 1-row moment aggregate, never a raw-event replay.
    Fully batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import granger_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return granger_finish(hourly)


def _oracle_stream_granger() -> str:
    from mongraph_spark.queries.inference import ORACLE_GRANGER

    return ORACLE_GRANGER


def streaming_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.stats_dickey_fuller`` — the
    live stationarity monitor: the stream maintains the watermarked
    per-(type, hour) cents rollup, and the DF regression
    (``dickey_fuller_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A poll pays one bounded hour-grid join
    + one per-type moment aggregate, never a raw-event replay.  Fully
    batch-equal, checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import dickey_fuller_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return dickey_fuller_finish(hourly)


def _oracle_stream_df() -> str:
    from mongraph_spark.queries.inference import ORACLE_DICKEY_FULLER

    return ORACLE_DICKEY_FULLER


def streaming_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``queries.inference.stats_kendall_tau`` — the
    live rank-dependence monitor: the stream maintains the watermarked
    per-(type, hour) cents rollup, and the τ-b pair count
    (``kendall_finish``, shared verbatim) re-runs on read over the
    continuously-updated rollup.  A poll pays the bounded |hours|²
    pair self-join, never a raw-event replay.  Fully batch-equal,
    checked by the batch op's own oracle."""
    from mongraph_spark.queries.inference import kendall_finish

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(agg, output_mode="complete")
    hourly = out.select(
        "event_type", F.col("w.start").alias("hour"), "y"
    ).transform(lineage_cut)
    return kendall_finish(hourly)


def _oracle_stream_kendall() -> str:
    from mongraph_spark.queries.inference import ORACLE_KENDALL_TAU

    return ORACLE_KENDALL_TAU


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
    import shutil
    import tempfile

    from mongraph_spark.queries.inference import kl_from_counts
    from mongraph_spark.sparkutil import read_table

    app_id = spark.sparkContext.applicationId
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"mg_stream_kl_{app_id}_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "arrivals")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs.repartition(4, "doc_id").write.parquet(staging)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
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
    with _state_partitioning(spark, sf_dir):
        out = run_to_table(counts, output_mode="complete")
    return kl_from_counts(out)


def _oracle_stream_kl() -> str:
    from mongraph_spark.queries.inference import ORACLE_KL_DRIFT

    return ORACLE_KL_DRIFT


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

ORACLES = {
    "streaming_theta_forecast": _oracle_stream_theta(),
    "streaming_granger_causality": _oracle_stream_granger(),
    "streaming_kendall_tau": _oracle_stream_kendall(),
    "streaming_dickey_fuller": _oracle_stream_df(),
    "streaming_kl_drift": _oracle_stream_kl(),
    "streaming_hurst_exponent": _oracle_stream_hurst(),
    "streaming_permutation_entropy": _oracle_stream_perm_entropy(),
    "streaming_cross_correlation": _oracle_stream_ccf(),
    "streaming_lsh_dedup": _oracle_stream_lsh(),
    "streaming_ann_ivf": _oracle_stream_ivf(),
    "streaming_ivm_agg": _oracle_stream_ivm(),
    "streaming_scd2_history": _oracle_stream_scd2(),
    "streaming_span_dedup": _oracle_stream_span(),
    "streaming_slo_burn_rate": _oracle_stream_slo(),
    "streaming_hourly_top_type": _oracle_stream_hourly_top(),
    "streaming_count_min": _oracle_stream_cms(),
    "streaming_ddsketch_quantiles": ORACLE_STREAM_DDSKETCH,
    "streaming_ccnet_score": _oracle_stream_ccnet(),
    "streaming_ams_f2": _oracle_stream_ams(),
    "streaming_seasonal_anomaly": _oracle_stream_seasonal(),
    "streaming_cusum_changepoint": _oracle_stream_cusum(),
    "streaming_holt_trend": _oracle_stream_holt(),
    "streaming_welch_ttest": _oracle_stream_welch(),
    "streaming_lttb_downsample": _oracle_stream_lttb(),
    "streaming_page_hinkley": _oracle_stream_page_hinkley(),
    "streaming_mann_kendall": _oracle_stream_mann_kendall(),
    "streaming_stl_decompose": _oracle_stream_stl(),
    "streaming_regime_segments": _oracle_stream_regime(),
    "streaming_lorenz_curve": _oracle_stream_lorenz(),
    "streaming_conformal_interval": _oracle_stream_conformal(),
    "streaming_autocorrelation": _oracle_stream_acf(),
    "streaming_hampel_filter": _oracle_stream_hampel(),
    "streaming_croston": _oracle_stream_croston(),
    "streaming_holt_winters": _oracle_stream_holt_winters(),
    "streaming_forecast_backtest": _oracle_stream_forecast_backtest(),
    "streaming_gopher_rules": _oracle_stream_gopher(),
    "streaming_soft_dedup": _oracle_stream_soft_dedup(),
    "streaming_hll_distinct": ORACLE_STREAM_HLL,
    "streaming_threshold_anomaly": ORACLE_STREAM_ANOMALY,
    "streaming_markov_transitions": ORACLE_STREAM_MARKOV,
    "streaming_click_purchase_outer": ORACLE_STREAM_OUTER,
    "streaming_tumbling_window": ORACLE_STREAM_TUMBLING,
    "streaming_sliding_window": ORACLE_STREAM_SLIDING,
    "streaming_merge_upsert": ORACLE_STREAM_MERGE,
    "streaming_click_purchase_join": ORACLE_STREAM_JOIN,
    "streaming_session_counts": ORACLE_STREAM_SESSIONS,
    "streaming_stateful_user_totals": ORACLE_STREAM_STATEFUL,
    "streaming_dedup_events": ORACLE_STREAM_DEDUP,
}
