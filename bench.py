"""Benchmark harness: runs the headline (core) queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
$SPARK_GRAFT_CPUS defaults to the cores this process may use.

Prints one JSON line per query as measured, then the detail lines (first
pass, best-of-3, anchors), then — LAST, so a tail-buffered log capture
always holds them complete — a compact summary {"metric", "value", "unit",
"sf", "n_queries"} followed by the bare {query: best-of-3 wall} map.
(Round 2's single fat line lost its front, including "value", to such a
tail buffer.)

Each query is materialized with the noop writer (full execution, no driver
collect overhead) after a warm-up of the session.

Measurement order: the PERMANENT anchor set is measured FIRST, right after
the fixed warmup — before the rotating 50-query window — so the
longitudinal anchor series is taken from the same JVM position every
round and can never be inflated by whatever the current window happens to
contain (the r11 4.2× phantom-regression artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from mongraph_spark.sparkutil import DEFAULT_SF_DIR, get_spark  # noqa: E402


# The PERMANENT cross-round anchor set (VERDICT r9 "what's missing" #5):
# ~15 queries spanning TPC-H, graph, dedup, ANN, text, events, streaming,
# store, and corpus that NEVER rotate, so round-over-round performance is
# measurable like-for-like even as the 50-slot core window rotates for
# evidence coverage.  Grow-only: adding an anchor is fine, renaming or
# removing one breaks the longitudinal series.
ANCHOR_QUERIES = [
    "q1_pricing_summary",      # TPC-H scan+agg
    "q3_shipping_priority",    # TPC-H 3-way join
    "q18_large_orders",        # TPC-H heavy join/agg
    "populate_enrich",         # the flagship graph populate join
    "g8_shortest_paths",       # bounded BFS traversal
    "graph_pagerank",          # iterative graph analytics
    "dedup_exact",             # hash-groupBy dedup
    "dedup_minhash_lsh",       # band-bucket near-dup
    "ann_cosine_topk_bucketed",  # LSH-bucketed ANN
    "text_bm25_topk",          # text ranking
    "events_sessionization",   # ordered-window sessionize
    "events_hypertable_rollup",  # multi-grain rollup
    "streaming_lsh_dedup",     # streaming + bucketed index probe
    "store_merge_into",        # CoW store MERGE lifecycle
    "corpus_gopher_rules",     # corpus quality battery
    # grown r12 (grow-only; VERDICT r11 order #2): the two expensive
    # families the set didn't cover — a converging driver-side iterator
    # and a CoW store lifecycle with churn
    "er_golden_record",        # iterative ER fixpoint (pointer doubling)
    "store_row_tracking",      # store init + trickle upsert + compact
]


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("bench")
    # warm up the JVM + parquet footers once, outside the timings, and make
    # sure the build-once graph store exists (the reference's benchmarks also
    # measure queries against an already-populated store, not store ETL)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from mongraph_spark.graphs import tpch

    tpch.materialized_graph(spark, sf_dir)
    # warm the reusable Python UDF workers (pandas import ~1.5s/worker is
    # one-time per session, not per-query cost)
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").write.format("noop").mode(
        "overwrite"
    ).save()

    # ANCHORS FIRST, from a clean position (VERDICT r11 order #2): in r11
    # the anchors were measured AFTER the 3×50 window in the same JVM, so
    # a heavier window inflated sub-second anchors up to 4.2× with zero
    # code change (JIT/GC depth) and a day went to disproving a phantom
    # regression.  Measuring every anchor before the rotating window makes
    # the longitudinal series independent of window composition; anchors
    # that also sit in the window are simply measured twice (~20 s, cheap
    # insurance against a measurement-position artifact).
    all_qs = {**entrymod.extended_queries(), **entrymod.queries()}
    # one untimed pass of the whole anchor set first: the JVM's C2/codegen
    # warmth at measurement time is then a FIXED function of the anchor
    # set itself (the tpch_ratio protocol's shape), not of JVM age — the
    # first anchors-first cut skipped this and recorded pagerank 8.6 s vs
    # the ratio tool's 3.0 s for the same query, pure cold-JIT inflation
    for name in ANCHOR_QUERIES:
        materialize(all_qs[name](spark, sf_dir))
    anchors: dict[str, float] = {}
    for name in ANCHOR_QUERIES:
        fn = all_qs[name]
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        anchors[name] = round(best, 3)

    # three timed passes per query, keep the min: steady-state throughput.
    # Best-of-2 let a one-off JIT/GC transient land in the published number
    # (r4's unpivot_lineitem_measures recorded 7.4 s vs 0.71 s warm); with
    # three passes a single hiccup can never be the reported value.
    timings: dict[str, float] = {}
    pass1: dict[str, float] = {}  # first-pass (cold-plan) protocol, recorded
    # alongside best-of-3 so the warm/cold gap is measured, not assumed
    # (VERDICT r6 "what's wrong" #1: the two protocols differed 78.9 vs 91.0)
    for name, fn in entrymod.queries().items():
        best = None
        for i in range(3):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            if i == 0:
                pass1[name] = round(dt, 3)
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        # ONE small JSON line per query, emitted AS MEASURED (VERDICT r12
        # order #2): the single fat headline_queries_wall_detail line
        # outgrew the driver's tail-buffered log capture in r12 and was
        # front-truncated, which emptied PERF_r12's per-query comparison.
        # Per-query lines are individually tiny, so the tail buffer always
        # holds complete parseable lines for however many queries fit.
        # The fat detail lines and the compact total below are KEPT
        # unchanged — this is an addition, not a protocol change; the
        # timed region and methodology are untouched.
        print(
            json.dumps({"q": name, "wall": timings[name], "pass1": pass1[name]}),
            flush=True,
        )

    total = round(sum(timings.values()), 3)
    # Two SEPARATE detail lines, pass1 first: the driver's tail-buffered log
    # capture keeps the END of stdout, and r7's single combined line lost the
    # first 38 best-of-3 entries to the buffer (VERDICT r7 "what's wrong" #1).
    # With pass1 emitted first, any truncation eats pass1's front while the
    # best-of-3 detail and the compact summary always survive intact.
    print(
        json.dumps(
            {
                "metric": "headline_queries_pass1_detail",
                "queries_pass1": pass1,
                "pass1_total": round(sum(pass1.values()), 3),
                "sf": sf_of(sf_dir),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_detail",
                "queries": timings,
                "sf": sf_of(sf_dir),
            }
        )
    )
    # the fixed anchor line: diffable round-over-round (grow-only set)
    print(
        json.dumps(
            {
                "metric": "anchor_queries_wall",
                "queries": anchors,
                "anchor_total": round(sum(anchors.values()), 3),
                "sf": sf_of(sf_dir),
            }
        )
    )
    sys.stdout.flush()
    # the compact total, then the bare {query: best-of-3 wall} map: the two
    # last lines survive tail-buffer truncation intact, so the per-query
    # comparison no longer depends on the detail lines above fitting in it
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf_of(sf_dir),
                "n_queries": len(timings),
            }
        )
    )
    print(json.dumps(timings, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
