"""Structured Streaming twins must equal their batch realizations on a
finite replay (availableNow)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from mongraph_spark.queries import (
    collect_suites,
    corpus,
    dedup,
    events,
    inference,
    quality,
    relational,
)
from mongraph_spark.queries.events import events_tumbling_window
from mongraph_spark.sparkutil import read_table
from mongraph_spark.streaming.events import (
    ORACLES,
    QUERIES,
    TWIN_OF,
    streaming_stateful_user_totals,
    streaming_tumbling_window,
)

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df, *keys):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


def test_streaming_tumbling_equals_batch(spark):
    stream = streaming_tumbling_window(spark, SF_DIR)
    batch = events_tumbling_window(spark, SF_DIR).drop("n_users")
    assert _sorted_rows(stream, "window_start", "event_type") == _sorted_rows(
        batch, "window_start", "event_type"
    )


def test_stream_sinks_are_not_left_registered(spark):
    """A memory sink's view is dropped once its frame is analyzed: three
    runs leave no ``mg_stream_sink_*`` in the session, and every returned
    frame still reads all its rows."""
    outs = [streaming_tumbling_window(spark, SF_DIR) for _ in range(3)]
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("mg_stream_sink_")]
    assert sinks == []
    want = events_tumbling_window(spark, SF_DIR).count()
    assert want > 0 and [o.count() for o in outs] == [want] * 3


def test_stateful_totals_equal_batch_groupby(spark):
    stream = streaming_stateful_user_totals(spark, SF_DIR)
    ev = read_table(spark, SF_DIR, "events")
    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert _sorted_rows(stream, "user_id") == _sorted_rows(batch, "user_id")


def test_streaming_dedup_restores_exact_counts(spark):
    """The doubled (at-least-once) stream deduped on event_id must equal the
    batch per-type aggregate of the original events."""
    from mongraph_spark.streaming.events import streaming_dedup_events

    stream = streaming_dedup_events(spark, SF_DIR)
    ev = read_table(spark, SF_DIR, "events")
    batch = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    assert _sorted_rows(stream, "event_type") == _sorted_rows(batch, "event_type")


def test_streaming_markov_equals_batch(spark):
    from mongraph_spark.queries.events import events_markov_transitions
    from mongraph_spark.streaming.events import streaming_markov_transitions

    sf = "/root/testdata/sf0.001"
    batch = sorted(map(tuple, events_markov_transitions(spark, sf).collect()))
    stream = sorted(map(tuple, streaming_markov_transitions(spark, sf).collect()))
    assert stream == batch


def test_streaming_hll_equals_batch(spark):
    """The streaming register store must reproduce the batch sketch
    REGISTER-EXACTLY (max-rho is associative), so every derived column —
    harmonics, raw and corrected estimates — is equal, not just close."""
    from mongraph_spark.queries.relational import sketch_hll_mergeable
    from mongraph_spark.streaming.events import streaming_hll_distinct

    stream = streaming_hll_distinct(spark, SF_DIR)
    batch = sketch_hll_mergeable(spark, SF_DIR)
    assert _sorted_rows(stream, "scope") == _sorted_rows(batch, "scope")


def test_streaming_seasonal_anomaly_equals_batch_active_cells(spark):
    """The seasonal twin must equal the batch sweep restricted to observed
    (n > 0) cells — the only delta a stream can't see is an absent row."""
    from mongraph_spark.queries.events import events_seasonal_anomaly
    from mongraph_spark.streaming.events import streaming_seasonal_anomaly

    batch = events_seasonal_anomaly(spark, SF_DIR).filter(F.col("n") > 0)
    stream = streaming_seasonal_anomaly(spark, SF_DIR)
    keys = ("event_type", "day", "hr")
    assert _sorted_rows(stream, *keys) == _sorted_rows(batch, *keys)


def test_streaming_ddsketch_equals_batch_buckets(spark):
    """Count cells are associative: the stream-maintained (e, m) bucket
    table must be CELL-exactly the batch binning of the same events, and
    every reported quantile must honor DDSketch's <1/17 relative-error
    guarantee (≤600 bp on the integer grid)."""
    from mongraph_spark.queries.relational import dd_binned
    from mongraph_spark.streaming.events import streaming_ddsketch_quantiles

    out = streaming_ddsketch_quantiles(spark, SF_DIR)
    rows = out.collect()
    assert {r["p"] for r in rows} == {50, 90, 99}
    for r in rows:
        # lower-edge estimate: always ≤ exact, within one bucket ratio
        assert 0 <= r["rel_err_bp"] <= 600, r
        assert r["est_cents"] <= r["exact_cents"]
    # O(#buckets) state: the sketch is tiny regardless of input volume
    assert all(r["n_buckets"] <= 16 * 64 for r in rows)
    # cell-exact twin: rebuild the stream's bucket table batch-side
    ev = read_table(spark, SF_DIR, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    batch_cells = (
        dd_binned(ev).groupBy("e", "m").agg(F.count(F.lit(1)).alias("c"))
    )
    # the estimate path consumed the stream sketch already; re-derive the
    # stream cells the same way the op did to compare state content
    from mongraph_spark.streaming.events import events_stream, run_to_table

    sev = events_stream(spark, SF_DIR).select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    agg = dd_binned(sev).groupBy("e", "m").agg(F.count(F.lit(1)).alias("c"))
    stream_cells = run_to_table(agg, SF_DIR)
    assert _sorted_rows(stream_cells, "e", "m") == _sorted_rows(
        batch_cells, "e", "m"
    )


def test_streaming_count_min_equals_batch(spark):
    """Sum cells are associative: the stream-maintained sketch must be
    CELL-exactly the batch sketch, hence identical probe results."""
    from mongraph_spark.queries.events import events_count_min
    from mongraph_spark.streaming.events import streaming_count_min

    batch = events_count_min(spark, SF_DIR)
    stream = streaming_count_min(spark, SF_DIR)
    assert _sorted_rows(stream, "user_id") == _sorted_rows(batch, "user_id")


def test_streaming_slo_burn_equals_batch(spark):
    from mongraph_spark.queries.events import events_slo_burn_rate
    from mongraph_spark.streaming.events import streaming_slo_burn_rate

    batch = events_slo_burn_rate(spark, SF_DIR)
    stream = streaming_slo_burn_rate(spark, SF_DIR)
    assert _sorted_rows(stream, "hour") == _sorted_rows(batch, "hour")


def test_streaming_hourly_top_equals_batch(spark):
    from mongraph_spark.queries.events import events_hourly_top_type
    from mongraph_spark.streaming.events import streaming_hourly_top_type

    batch = events_hourly_top_type(spark, SF_DIR)
    stream = streaming_hourly_top_type(spark, SF_DIR)
    assert _sorted_rows(stream, "hour") == _sorted_rows(batch, "hour")


def test_streaming_cusum_equals_batch(spark):
    """The CUSUM twin's rollup is maintained by the stream but the screen
    is the shared batch finisher — results must be row-identical."""
    from mongraph_spark.queries.events import events_cusum_changepoint
    from mongraph_spark.streaming.events import streaming_cusum_changepoint

    batch = events_cusum_changepoint(spark, SF_DIR)
    stream = streaming_cusum_changepoint(spark, SF_DIR)
    assert _sorted_rows(stream, "event_type") == _sorted_rows(batch, "event_type")


def test_streaming_ccnet_equals_batch(spark):
    """Scoring under a frozen model is a pure function of (doc, model), so
    the streamed scores — accumulated over 4 arrival micro-batches — must
    reproduce the batch op's tercile report EXACTLY (no tolerance), and
    the twin must use zero streaming state (foreachBatch, no aggregation
    before the sink)."""
    from mongraph_spark.queries.corpus import corpus_ccnet_buckets
    from mongraph_spark.streaming.events import streaming_ccnet_score

    stream = streaming_ccnet_score(spark, SF_DIR)
    batch = corpus_ccnet_buckets(spark, SF_DIR)
    keys = ("lang", "bucket")
    assert _sorted_rows(stream, *keys) == _sorted_rows(batch, *keys)


BATCH_QUERIES, BATCH_ORACLES = collect_suites(
    corpus, dedup, events, inference, quality, relational
)

ROLLUP_TWINS = [
    # hourly, per event type
    "streaming_lttb_downsample",
    "streaming_stl_decompose",
    "streaming_regime_segments",
    "streaming_mann_kendall",
    "streaming_page_hinkley",
    "streaming_autocorrelation",
    "streaming_hampel_filter",
    "streaming_hurst_exponent",
    "streaming_permutation_entropy",
    "streaming_cross_correlation",
    "streaming_granger_causality",
    "streaming_dickey_fuller",
    "streaming_kendall_tau",
    # daily totals
    "streaming_holt_trend",
    "streaming_holt_winters",
    "streaming_forecast_backtest",
    # daily, per event type
    "streaming_cusum_changepoint",
    "streaming_croston",
    "streaming_conformal_interval",
    "streaming_theta_forecast",
]


@pytest.mark.parametrize("twin", [*ROLLUP_TWINS, "streaming_lorenz_curve"])
def test_rollup_twin_equals_batch_op(spark, twin):
    """A rollup twin's stream-maintained rollup feeds its batch op's own
    finisher, so it returns the batch op's schema and rows exactly."""
    stream = QUERIES[twin](spark, SF_DIR)
    batch = BATCH_QUERIES[TWIN_OF[twin]](spark, SF_DIR)
    assert stream.schema.simpleString() == batch.schema.simpleString()
    assert sorted(map(tuple, stream.collect()), key=repr) == sorted(
        map(tuple, batch.collect()), key=repr
    )


def test_twin_oracles_are_their_batch_ops_oracles():
    """A twin that shares its batch op's answer shares the oracle object
    itself, not a copy that could drift."""
    for twin, op in TWIN_OF.items():
        assert ORACLES[twin] is BATCH_ORACLES[op], twin


def test_only_sparkutil_names_the_temp_dir():
    """One scratch-dir rule: every scratch path comes from
    sparkutil.scratch_dir/scratch_path, whose root is removed at exit."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = [
        str(path.relative_to(root))
        for path in sorted(root.glob("mongraph_spark/**/*.py"))
        if path.name != "sparkutil.py" and "gettempdir" in path.read_text()
    ]
    assert offenders == []


_SCRATCH_RUN = """
import os, sys
sys.path.insert(0, {repo!r})
from mongraph_spark.sparkutil import get_spark, scratch_path, warehouse_dir
from mongraph_spark.streaming.events import streaming_span_dedup

spark = get_spark("scratch-at-exit", cpus=1)
streaming_span_dedup(spark, {sf!r}).collect()
print(os.path.isdir(scratch_path(spark, {sf!r}, "stream_span")))
print(sorted(os.listdir(warehouse_dir(spark))))
print(spark.sparkContext.applicationId)
"""


def test_scratch_is_removed_at_exit(tmp_path):
    """A process that ran a scratch-using twin leaves nothing behind: its
    scratch root under the temp dir and its state tables' warehouse
    directories go when it exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", _SCRATCH_RUN.format(repo=repo, sf=SF_DIR)],
        cwd=tmp_path,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    had_scratch, tables, app_id = run.stdout.strip().splitlines()[-3:]
    tag = re.sub(r"\W", "_", app_id).lower()
    # the run did make both kinds of scratch
    assert had_scratch == "True"
    assert tag in tables
    left = [p for p in os.listdir(tempfile.gettempdir()) if app_id in p]
    warehouse = tmp_path / "spark-warehouse"
    if warehouse.exists():
        left += [p for p in os.listdir(warehouse) if tag in p.lower()]
    assert left == []
