"""Scale stress for registered queries: time each one at 1x and Nx.

    python tools/stress.py --repl N [--sf-dir D] QUERY...

QUERY is a name from ``__spark_entry__._all()`` (or one of ``VARIANTS``).
Before any timing, the tables the picked queries read (``PLAN``) are
replicated N times into ``.stress/<shape>/``; every other base table is
linked in unchanged.  Each query then runs against the base tables and
against its shape's copy in one warm ``get_spark`` session, and prints one
JSON line::

    {"query", "shape", "repl", "tables", "1x": {...}, "<N>x": {...}, "wall_ratio"}

Each scale holds ``wall_s``, output ``rows`` and the stage totals of the
run's own jobs (jobs, stages, tasks, executor ms, input/shuffle/spill
bytes).  The jobs are found by a per-run job tag through
``statusTracker().getJobIdsForTag`` -> ``statusStore().lastStageAttempt``;
a tag rather than a job group because a streaming query's micro-batch
thread inherits tags but sets its own group.  Streaming twins also report
their state-store ``state_rows`` and ``state_bytes``.

A replication shape is a growth claim; each replica ``r`` of a row gets:

- ``fresh``: new row ids, new entity keys, and (for r > 0) new content —
  disjoint copies, so the work should grow linearly.
- ``dups``: as ``fresh``, but the first ``DUP_COPIES`` replicas keep their
  content: a bounded duplicate density (every duplicated document has
  ``DUP_COPIES`` copies) instead of one N-way duplicate class per row.
- ``same_keys``: new row ids only; users, types, timestamps and text
  repeat, so state bounded by keys or windows should stay flat.

Keys are offset by ``r * STRIDE``, which clears every natural key up to
sf1 and stays far below the graph store's 10^12 collection-code base for
N <= 64.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import Observation, functions as F  # noqa: E402

from mongraph_spark.sparkutil import DEFAULT_SF_DIR, get_spark, read_table  # noqa: E402

WORK = os.path.join(ROOT, ".stress")
STRIDE = 10**7
DUP_COPIES = 4


def _tagged_text(r) -> dict:
    # tag every >= 4-letter word with the replica: most shingles become new
    text = F.regexp_replace("text", r"(\w{4,})", F.concat(F.lit("$1x"), r.cast("string")))
    return {"text": text, "n_chars": F.length(text)}


# table -> (row id, entity keys, content rewrite of a fresh replica r)
TABLES = {
    "documents": ("doc_id", (), _tagged_text),
    # a per-replica rotation of the dimensions: new points with the same
    # norms and in-replica similarities (planted near-dups stay near)
    "embeddings": ("vec_id", (), lambda r: {
        "embedding": F.concat(
            F.slice("embedding", r % F.size("embedding") + 1, F.size("embedding")),
            F.slice("embedding", F.lit(1), r % F.size("embedding")),
        ),
    }),
    "events": ("event_id", ("user_id",), None),
    "customer": (None, ("c_custkey",), None),
    "supplier": (None, ("s_suppkey",), None),
    # a new brand per replica: entity-resolution blocks multiply, block
    # size stays fixed
    "part": (None, ("p_partkey",), lambda r: {
        "p_brand": F.concat_ws("_", "p_brand", r.cast("string")),
    }),
    "orders": (None, ("o_orderkey", "o_custkey"), None),
    "lineitem": (None, ("l_orderkey", "l_partkey", "l_suppkey"), None),
}


def fresh(table: str, r, verbatim: int = 1) -> dict:
    row_id, keys, rewrite = TABLES[table]
    cols = {c: F.col(c) + r * STRIDE for c in filter(None, (row_id, *keys))}
    for c, expr in (rewrite(r) if rewrite else {}).items():
        cols[c] = F.when(r < verbatim, F.col(c)).otherwise(expr)
    return cols


def dups(table: str, r) -> dict:
    return fresh(table, r, verbatim=DUP_COPIES)


def same_keys(table: str, r) -> dict:
    row_id = TABLES[table][0]
    return {row_id: F.col(row_id) + r * STRIDE} if row_id else {}


SHAPES = {"fresh": fresh, "dups": dups, "same_keys": same_keys}

# The tables the graph store is built from (nation and region are shared).
GRAPH = ("customer", "supplier", "part", "orders", "lineitem")

# shape -> tables the queries read -> queries
PLAN_BY_SHAPE = {
    "fresh": {
        GRAPH: "graph_louvain_refine graph_eigenvector_centrality "
        "graph_triangle_count graph_kcore",
        ("lineitem", "orders"): "graph_betweenness_landmarks",
        ("orders",): "band_join_close_prices customer_rfm_segments",
        ("customer", "orders"): "ivm_join_delta stats_ks_test stats_chi2_independence",
        ("part",): "er_golden_record",
        ("events",): "stats_bradley_terry events_binseg_changepoint "
        "stats_granger_causality stats_kendall_tau stats_dickey_fuller "
        "events_user_gini events_burstiness events_markov_surprise "
        "events_slo_burn_rate events_session_cooccurrence events_seasonal_anomaly "
        "events_markov_transitions events_multitouch_attribution "
        "events_activity_streaks sketch_hll_mergeable",
        ("embeddings",): "ann_srp_lsh ann_srp_multiprobe ann_srp_band_curve ann_ivf "
        "ann_matryoshka_curve embedding_pca_power embedding_pq_codebooks "
        "dedup_semdedup dedup_semdedup_hier corpus_semantic_decon "
        "dedup_semdedup_scaledK dedup_semdedup_hier_scaledK",
    },
    "dups": {
        ("documents",): "dedup_clusters dedup_prefix_filter dedup_bbit_minhash_curve "
        "dedup_span_exact dedup_span_trim corpus_span_decontamination "
        "corpus_ccnet_buckets corpus_cluster_split corpus_dsir_weights "
        "corpus_ngram_novelty corpus_heaps_law corpus_boilerplate_lines "
        "corpus_common_token_ratio corpus_bigram_xent text_bpe_train "
        "text_winnowing text_tfidf_topterms text_collocations "
        "pipeline_curation_funnel pipeline_length_batches mm_shard_packing mm_tar_index",
    },
    "same_keys": {
        ("events",): "streaming_tumbling_window streaming_sliding_window "
        "streaming_session_counts streaming_stateful_user_totals "
        "streaming_dedup_events streaming_hll_distinct streaming_count_min "
        "streaming_slo_burn_rate streaming_hourly_top_type "
        "streaming_seasonal_anomaly streaming_markov_transitions "
        "streaming_ddsketch_quantiles streaming_theta_forecast "
        "streaming_click_purchase_join streaming_click_purchase_outer",
        ("documents",): "streaming_kl_drift streaming_scd2_history",
    },
}

# query -> (shape, tables it reads)
PLAN = {
    q: (shape, tables)
    for shape, by_tables in PLAN_BY_SHAPE.items()
    for tables, names in by_tables.items()
    for q in names.split()
}


def _replica_seeds(base_ids: list[int], repl: int) -> list[int]:
    return [i + r * STRIDE for r in range(repl) for i in base_ids]


def _semdedup_scaled_k(spark, sf_dir: str, repl: int):
    # K grows with the corpus: 16 flat seeds per replica band holds the
    # cell size |c| at its 1x value, the linear regime of the sum |c|^2
    # pair cost (the registered fixed-K query is quadratic by design)
    from mongraph_spark.queries.dedup import semdedup_report

    return semdedup_report(spark, sf_dir, _replica_seeds([10 * (j + 1) for j in range(16)], repl))


def _semdedup_hier_scaled_k(spark, sf_dir: str, repl: int):
    # the same 16 cells per band, trained coarse -> fine: one coarse seed
    # per band and 16 fine cells each, O(N*(K1+K2)*d) assignment flops
    # instead of the flat O(N*K*d)
    from mongraph_spark.queries.dedup import semdedup_hier_report

    return semdedup_hier_report(spark, sf_dir, _replica_seeds([10], repl), sub_k=16)


# the only named queries outside the registry: scaled-K semdedup needs the
# replication factor to place its seeds
VARIANTS = {
    "dedup_semdedup_scaledK": _semdedup_scaled_k,
    "dedup_semdedup_hier_scaledK": _semdedup_hier_scaled_k,
}


def replicated(spark, sf_dir: str, table: str, repl: int, shape: str = "fresh"):
    """``table`` under ``sf_dir`` as ``repl`` replicas of the given shape."""
    r = F.col("_r")
    df = read_table(spark, sf_dir, table)
    df = df.select("*", F.explode(F.sequence(F.lit(0), F.lit(repl - 1))).alias("_r"))
    return df.withColumns(SHAPES[shape](table, r)).drop("_r")


def _write_single_file(df, path: str) -> None:
    """Land ``df`` as ONE parquet file at ``path``, the base-table layout
    (the streaming sources glob a file named ``events.parquet`` and size
    their state partitions from it).  Small row groups keep the file
    splittable across tasks."""
    tmp = path + ".tmp"
    df.repartition(1).write.mode("overwrite").option("parquet.block.size", 4 << 20).parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet"))
    shutil.move(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)


def _graph_cache(stress_dir: str) -> str:
    # the graph store caches by directory basename; a stale cache from an
    # earlier run would hide this run's replication
    cache = os.environ.get("MONGRAPH_GRAPH_CACHE", os.path.join(ROOT, ".graph_cache"))
    return os.path.join(cache, os.path.basename(stress_dir))


def build(spark, sf_dir: str, shape: str, tables: set[str], repl: int) -> str:
    """Write ``.stress/<shape>/``: ``tables`` replicated, the rest linked."""
    out = os.path.join(WORK, shape)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(_graph_cache(out), ignore_errors=True)
    os.makedirs(out)
    # the replicas keep events.ts a TIMESTAMP that both the batch reader
    # and the streaming footer probe accept
    ts_conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(ts_conf)
    spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
    try:
        for name in sorted(os.listdir(sf_dir)):
            table, path = name.removesuffix(".parquet"), os.path.join(out, name)
            if table in tables:
                _write_single_file(replicated(spark, sf_dir, table, repl, shape), path)
            else:
                os.symlink(os.path.abspath(os.path.join(sf_dir, name)), path)
    finally:
        spark.conf.set(ts_conf, prev)
    return out


def stage_totals(spark, tag: str) -> dict:
    """Stage metrics of every job that carried ``tag``, from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = jsc.statusTracker(), jsc.statusStore()
    out = dict(jobs=0, stages=0, tasks=0, executor_ms=0, input_bytes=0,
               shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
    for job in tracker.getJobIdsForTag(tag):
        out["jobs"] += 1
        info = spark.sparkContext.statusTracker().getJobInfo(job)
        for sid in info.stageIds if info else []:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                # past spark.ui.retainedStages the store evicts by completion
                # time, so skipped stages (which have none) go first
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_ms"] += s.executorRunTime()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def measure(spark, tag: str, fn) -> tuple[object, dict]:
    """Run ``fn()`` with every job it starts tagged ``tag``; return its
    result and ``{"wall_s", **stage_totals}``."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        wall = time.perf_counter() - t0
        sc.removeJobTag(tag)
    return out, {"wall_s": round(wall, 2), **stage_totals(spark, tag)}


def resolve(names: list[str]) -> dict:
    """name -> ``fn(spark, sf_dir, repl)``; exits on a name that is not
    registered or has no replication shape in ``PLAN``."""
    import __spark_entry__ as entrymod

    registry = entrymod._all()[0]
    unknown = [q for q in names if q not in registry and q not in VARIANTS]
    unplanned = [q for q in names if q not in PLAN]
    if unknown or unplanned:
        raise SystemExit(f"not registered: {unknown}; no replication shape in PLAN: {unplanned}")
    return {
        q: VARIANTS.get(q) or (lambda spark, d, repl, fn=registry[q]: fn(spark, d))
        for q in names
    }


def run_query(spark, fn, sf_dir: str, repl: int, tag: str) -> dict:
    """Build and fully execute one query (noop sink); rows are counted by
    an observation in the same pass."""
    from mongraph_spark.streaming import events as se

    def execute():
        df = fn(spark, sf_dir, repl)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        return obs.get["rows"]

    se.LAST_STATE_METRICS = []
    rows, rec = measure(spark, tag, execute)
    rec["rows"] = rows
    if se.LAST_STATE_METRICS:
        rec["state_rows"] = sum(m.get("numRowsTotal") or 0 for m in se.LAST_STATE_METRICS)
        rec["state_bytes"] = sum(m.get("memoryUsedBytes") or 0 for m in se.LAST_STATE_METRICS)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repl", type=int, default=16)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    fns = resolve(args.queries)
    spark = get_spark("stress")
    need: dict[str, set[str]] = {}
    for q in args.queries:
        shape, tables = PLAN[q]
        need.setdefault(shape, set()).update(tables)
    from mongraph_spark.graphs import tpch

    try:
        t0 = time.perf_counter()
        dirs = {s: build(spark, args.sf_dir, s, t, args.repl) for s, t in need.items()}
        print(json.dumps({"build_s": round(time.perf_counter() - t0, 1),
                          "replicated": {s: sorted(t) for s, t in need.items()}}), flush=True)
        for q in args.queries:
            shape, tables = PLAN[q]
            line = {"query": q, "shape": shape, "repl": args.repl, "tables": list(tables)}
            # an untimed 1x pass first, so neither timed run pays the
            # session's first compile of this query's code paths
            runs = (("warm", args.sf_dir, 1), ("1x", args.sf_dir, 1),
                    (f"{args.repl}x", dirs[shape], args.repl))
            for scale, d, k in runs:
                if tables == GRAPH:
                    tpch.materialized_graph(spark, d)  # store build outside the timing
                line[scale] = run_query(spark, fns[q], d, k, f"stress-{q}-{scale}")
            del line["warm"]
            base = line["1x"]["wall_s"]
            line["wall_ratio"] = round(line[f"{args.repl}x"]["wall_s"] / base, 2) if base else None
            print(json.dumps(line), flush=True)
    finally:
        for shape in need:
            shutil.rmtree(os.path.join(WORK, shape), ignore_errors=True)
            shutil.rmtree(_graph_cache(os.path.join(WORK, shape)), ignore_errors=True)


if __name__ == "__main__":
    main()
