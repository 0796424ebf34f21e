"""Cost probes for the copy-on-write store at N x the documents table.

    python tools/store_probe.py [--repl N] [--sf-dir D] SCENARIO...

Prints one JSON line per scenario.  Every timed step reports ``wall_s``
and the stage totals of its own jobs (``tools/stress.py``'s ``measure``);
the replicated input is ``stress.replicated`` with fresh keys.

- ``lifecycle``: init + trickle upsert + compact + full read, plain and
  with row tracking, at 1x and Nx.
- ``constraint``: a CHECK constraint's per-upsert enforcement overhead
  (best of 3, it probes the update batch only), ALTER's one validation
  scan, and how fast a violating batch is rejected.
- ``dv``: DELETE by deletion vectors against copy-on-write DELETE (wall
  and bytes each version adds), and the read cost with vectors pending and
  after compaction materializes them.
- ``skip``: ``read_where`` planning-time file pruning against the same
  range filter over ``read_current``, on a ``cluster_by`` compacted
  table of N x 250k rows.
- ``occ``: a bucket-disjoint upsert racing a compaction, under claim-first
  (``failfast``) and ``rebase`` commits; and a shallow clone's wall.
- ``band_index``: one micro-batch's candidate probe against the streaming
  LSH twin's bucketed band index at 1x and Nx accumulated replicas, with
  broadcast joins off (the sort-merge regime of a large arriving batch).
  The index is read in place, so only the batch side should shuffle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongraph_spark.sources import merge as M  # noqa: E402
from mongraph_spark.sparkutil import DEFAULT_SF_DIR, get_spark, lineage_cut  # noqa: E402
from tools.stress import STRIDE, WORK, measure, replicated  # noqa: E402

PROBE_DIR = os.path.join(WORK, "store_probe")


def _docs(spark, sf_dir: str, repl: int):
    """The replicated documents as store rows, materialized outside any timing."""
    docs = replicated(spark, sf_dir, "documents", repl).select("doc_id", "source", "n_chars")
    return lineage_cut(docs, eager=True)


def _root(tag: str) -> str:
    root = os.path.join(PROBE_DIR, tag)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _store(spark, sf_dir: str, repl: int, tag: str) -> tuple[str, dict]:
    """A 16-bucket documents store with ~64 small files per bucket dir, so
    compaction has real work."""
    root, docs = _root(tag), _docs(spark, sf_dir, repl).repartition(64)
    _, rec = measure(spark, f"probe-build-{tag}",
                     lambda: M.init_table(docs, root, key="doc_id", n_buckets=16))
    return root, rec


def _best_of(spark, tag: str, fn, n: int = 3) -> dict:
    return min((measure(spark, f"{tag}-{i}", fn)[1] for i in range(n)), key=lambda r: r["wall_s"])


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def lifecycle(spark, sf_dir: str, repl: int) -> dict:
    out = {}
    for row_tracking in (False, True):
        arm = out["row_tracking" if row_tracking else "plain"] = {}
        # an untimed 1x pass first: the session's first store commit pays
        # one-time compile costs that would otherwise bias the 1x arm
        for scale, k in (("warm", 1), ("1x", 1), (f"{repl}x", repl)):
            docs, root = _docs(spark, sf_dir, k), _root("lifecycle")

            def run():
                M.init_table(docs, root, key="doc_id", n_buckets=32, row_tracking=row_tracking)
                trickle = docs.filter(F.col("doc_id") % 997 == 0)
                M.upsert(spark, root, trickle.withColumn("n_chars", F.col("n_chars") + 1),
                         key="doc_id")
                M.compact(spark, root)
                M.read_current(spark, root, with_row_ids=row_tracking).write.format(
                    "noop"
                ).mode("overwrite").save()

            arm[scale] = measure(spark, f"probe-lifecycle-{row_tracking}-{scale}", run)[1]
        del arm["warm"]
    return out


def constraint(spark, sf_dir: str, repl: int) -> dict:
    root, build = _store(spark, sf_dir, repl, "constraint")
    # a ~1% slice across all buckets, pinned: the WRITE is timed, not its lineage
    batch = lineage_cut(
        _docs(spark, sf_dir, repl)
        .filter(F.col("doc_id") % 100 == 7)
        .withColumn("n_chars", F.col("n_chars") + 1),
        eager=True,
    )

    def upsert():
        M.upsert(spark, root, batch, key="doc_id")

    def reject():
        try:
            M.upsert(spark, root, batch.withColumn("n_chars", F.lit(-1)), key="doc_id")
        except M.ConstraintViolation:
            return
        raise AssertionError("violation not caught")

    # warm-up: the first upsert pays cold-JVM costs and consolidates the
    # fragmented build's touched buckets, which would bias the first arm
    upsert()
    plain = _best_of(spark, "probe-upsert-plain", upsert)
    _, alter = measure(spark, "probe-alter",
                       lambda: M.add_check_constraint(spark, root, "chars_nonneg", "n_chars >= 0"))
    constrained = _best_of(spark, "probe-upsert-constrained", upsert)
    _, rejected = measure(spark, "probe-reject", reject)
    return {
        "table_rows": M.read_current(spark, root).count(),
        "batch_rows": batch.count(),
        "build": build,
        "upsert_plain": plain,
        "upsert_constrained": constrained,
        "enforcement_overhead_s": round(constrained["wall_s"] - plain["wall_s"], 2),
        "alter_validation_scan": alter,
        "violating_batch_reject": rejected,
    }


def dv(spark, sf_dir: str, repl: int) -> dict:
    def doomed():
        # sparse, every bucket: ~0.2% of rows spread over all ids
        return (F.col("doc_id") % 499) == 7

    def read_all(root: str, tag: str) -> dict:
        return measure(spark, tag, lambda: M.read_current(spark, root).agg(
            F.count(F.lit(1)), F.sum("n_chars")).collect())[1]

    out = {}
    root, out["build"] = _store(spark, sf_dir, repl, "dv_cow")
    out["read_clean"] = read_all(root, "probe-read-clean")
    ver, out["cow_delete"] = measure(spark, "probe-cow-delete",
                                     lambda: M.delete_where(spark, root, doomed()))
    out["cow_version_bytes"] = _tree_bytes(os.path.join(root, ver))

    root, _ = _store(spark, sf_dir, repl, "dv_mor")
    ver, out["dv_delete"] = measure(spark, "probe-dv-delete",
                                    lambda: M.delete_where_dv(spark, root, doomed()))
    out["dv_version_bytes"] = _tree_bytes(os.path.join(root, ver))
    out["read_pending"] = read_all(root, "probe-read-pending")
    (_, compacted), out["compact_materialize"] = measure(
        spark, "probe-dv-compact", lambda: M.compact(spark, root, max_files_per_bucket=1))
    out["compacted_buckets"] = len(compacted)
    out["read_materialized"] = read_all(root, "probe-read-materialized")
    return out


def skip(spark, sf_dir: str, repl: int) -> dict:
    rows, buckets, files = 250_000 * repl, 16, 8
    root = _root("skip")
    # v spreads uniformly over [0, rows*10): a 1% range is selective and
    # no clustering comes for free
    df = spark.range(rows).select(
        "id", (F.col("id") * 10 + F.pmod(F.xxhash64("id"), F.lit(10))).alias("v"))
    _, init = measure(spark, "probe-skip-init", lambda: M.init_table(
        df.repartition(buckets * files), root, key="id", n_buckets=buckets))
    (_, compacted), cluster = measure(spark, "probe-skip-cluster", lambda: M.compact(
        spark, root, max_files_per_bucket=files, cluster_by="v"))

    lo, hi = 0, rows // 10

    def pruned():
        return M.read_where(spark, root, "v", lo, hi)

    def full():
        return M.read_current(spark, root).filter((F.col("v") >= lo) & (F.col("v") <= hi))

    pruned().count(), full().count()  # warm footers and JIT for both paths
    n_pruned, read_where = measure(spark, "probe-read-where", lambda: pruned().count())
    n_full, full_filter = measure(spark, "probe-full-filter", lambda: full().count())
    assert n_pruned == n_full, (n_pruned, n_full)
    return {
        "rows": rows,
        "n_compacted_buckets": len(compacted),
        "init": init,
        "cluster_compact": cluster,
        "range_rows": n_pruned,
        "files_scanned_read_where": len(pruned().inputFiles()),
        "files_scanned_full": len(full().inputFiles()),
        "read_where": read_where,
        "full_filter": full_filter,
    }


def _race(spark, root: str, occ: str) -> dict:
    """Compact (slow) and a bucket-disjoint one-row upsert (fast) in two
    threads: the upsert's commit latency and the compaction's wall."""
    out: dict = {}
    batch = spark.createDataFrame(
        [(555_000_111, "stress", 1)], "doc_id long, source string, n_chars long")

    def compacter():
        t0 = time.perf_counter()
        _, buckets = M.compact(spark, root, max_files_per_bucket=1, occ=occ)
        out["compact_s"] = round(time.perf_counter() - t0, 2)
        out["compacted_buckets"] = len(buckets)

    def upserter():
        time.sleep(0.5)  # let the compaction get going first
        t0 = time.perf_counter()
        M.commit_with_retry(lambda: M.upsert(spark, root, batch, key="doc_id"),
                            max_retries=1000, backoff_s=0.1)
        out["upsert_latency_s"] = round(time.perf_counter() - t0, 2)

    threads = [threading.Thread(target=compacter), threading.Thread(target=upserter)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    if any(t.is_alive() for t in threads) or len(out) < 3:
        raise RuntimeError(f"race did not complete: {out}")
    return out


def occ(spark, sf_dir: str, repl: int) -> dict:
    out = {}
    for mode in ("failfast", "rebase"):
        root, build = _store(spark, sf_dir, repl, f"occ_{mode}")
        out.setdefault("build", build)
        out[mode] = _race(spark, root, mode)
    clone = _root("occ_clone")
    t0 = time.perf_counter()
    M.shallow_clone(root, clone)
    out["shallow_clone_s"] = round(time.perf_counter() - t0, 4)
    out["clone_rows"] = M.read_current(spark, clone).count()
    return out


def band_index(spark, sf_dir: str, repl: int) -> dict:
    from mongraph_spark.queries.dedup import N_BANDS, _banded_sigs, _shingles, dup_corpus
    from mongraph_spark.streaming.events import _append_bucketed, _fresh_state_table

    shingled = dup_corpus(spark, sf_dir, drop_last=2).select(
        "doc_id", _shingles(F.split(F.col("text"), " ")).alias("shingles"))
    cells = F.array(*[F.concat_ws(":", F.lit(b), F.col(f"band{b}")) for b in range(N_BANDS)])
    batch = lineage_cut(
        _banded_sigs(shingled).select("doc_id", F.explode(cells).alias("band_cell")), eager=True)
    tab = "probe_band_index"
    _fresh_state_table(spark, tab)

    def probe() -> int:
        idx = spark.table(tab).select("band_cell", F.col("doc_id").alias("id_y"))
        return batch.join(idx, "band_cell").filter(F.col("id_y") != F.col("doc_id")).count()

    out = {"batch_rows": batch.count()}
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        done = 0
        for scale, upto in (("1x", 1), (f"{repl}x", repl)):
            # the accumulated index: replicas with shifted doc ids and the
            # same band keys, appended one per batch as the twin does
            for i in range(done, upto):
                shifted = batch.select((F.col("doc_id") + (i + 1) * STRIDE).alias("doc_id"),
                                       "band_cell")
                _append_bucketed(shifted, tab, "band_cell")
            done = upto
            probe()  # first pass reads the new files' footers
            candidates, rec = measure(spark, f"probe-band-{scale}", probe)
            out[scale] = {"candidates": candidates, **rec}
    finally:
        spark.conf.set(threshold, prev)
        spark.sql(f"DROP TABLE IF EXISTS {tab}")
    return out


SCENARIOS = {f.__name__: f for f in (lifecycle, constraint, dv, skip, occ, band_index)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repl", type=int, default=16)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("scenarios", nargs="+", choices=sorted(SCENARIOS))
    args = ap.parse_args()
    spark = get_spark("store_probe")
    try:
        for name in args.scenarios:
            t0 = time.perf_counter()
            out = SCENARIOS[name](spark, args.sf_dir, args.repl)
            print(json.dumps({"scenario": name, "repl": args.repl,
                              "total_s": round(time.perf_counter() - t0, 1), **out}), flush=True)
    finally:
        shutil.rmtree(PROBE_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
