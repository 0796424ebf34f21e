"""store_cdc: the copy-on-write store's write path with a change-feed
consumer alongside.

A documents table keyed on ``doc_id`` is initialized from seeded rows.  One
closed-loop client issues a fixed pattern of commits (trickle upsert,
``merge_into`` with update/delete/insert, ``compact``, ``delete_where``)
with two point reads after each.  A commit
that changes rows completes when the long-running ``stream_changes``
consumer has applied its version, so the commit latency includes the
change becoming visible downstream.  The consumer's ``foreachBatch`` folds
signed per-``source`` row counts and char sums on the Spark driver.

Checks: every ``read_point`` and the final ``read_current`` against a
Python model of the same seeded ops, and the folded counts against the
final per-source aggregate (the incremental-view identity).
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from collections import defaultdict

import datagen
from workload import Context, Op

N_DOCS = 3000
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
COMMITS = ["upsert", "merge", "compact", "delete"]
READS_PER_COMMIT = 2
CYCLE = [k for c in COMMITS for k in [c] + ["read"] * READS_PER_COMMIT]
VISIBLE_TIMEOUT_S = 60.0
DELETE_MARK = "__del__"
SIGN = {"insert": 1, "update_postimage": 1, "delete": -1, "update_preimage": -1}


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class StoreCdc:
    name = "store_cdc"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        rng = random.Random(ctx.seed)
        self.base = [datagen.doc_row(rng, i) for i in range(N_DOCS)]
        self.query = None
        self.cv = threading.Condition()
        self.applied = -1
        self.applied_at: dict[int, float] = {}
        self.fold: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        self.commit_stats: list[dict] = []  # per row-changing commit
        self.fold_errors: list[str] = []

    # -- set-up and the consumer -------------------------------------------------

    def setup(self, rep: int) -> None:
        """One initialization of the table from the seeded rows."""
        from mongraph_spark.sources import merge

        self.root = os.path.join(self.ctx.work, f"store{rep}", "documents")
        df = self.spark.createDataFrame(self.base, SCHEMA)
        merge.init_table(df, self.root, key="doc_id")
        self.model = {r[0]: r for r in self.base}
        self.next_id = N_DOCS
        self.rng = random.Random(self.ctx.seed * 7919 + 2)

    def _apply_batch(self, batch_df, batch_id) -> None:
        from pyspark.sql import functions as F

        try:
            rows = batch_df.groupBy("source", "_change_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c"),
                F.max("_commit_version").alias("v"),
            ).collect()
        except Exception as exc:  # keep the reason; the run reports it
            self.fold_errors.append(repr(exc))
            raise
        now = time.perf_counter()
        with self.cv:
            top = self.applied
            for r in rows:
                acc = self.fold[r.source]
                acc[0] += SIGN[r._change_type] * r.n
                acc[1] += SIGN[r._change_type] * r.c
                top = max(top, r.v)
            if top > self.applied:
                self.applied = top
                self.applied_at[top] = now
            self.cv.notify_all()

    def _wait_applied(self, version: int) -> float:
        with self.cv:
            if not self.cv.wait_for(lambda: self.applied >= version, VISIBLE_TIMEOUT_S):
                raise TimeoutError(f"change feed did not apply version {version}")
            return self.applied_at.get(version, time.perf_counter())

    def warm(self) -> None:
        from mongraph_spark.sources import merge

        # The consumer starts after the initial version, whose rows are
        # folded in here: streaming that 3,000-row snapshot would add
        # seconds to every run, and no timed commit waits for it.
        with self.cv:
            for r in self.base:
                acc = self.fold[r[3]]
                acc[0] += 1
                acc[1] += r[4]
            self.applied = 0
        stream = merge.stream_changes(self.spark, self.root, since_version=0)
        self.query = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", os.path.join(self.ctx.work, "cdf_checkpoint"))
            .start()
        )
        if not (self._commit("upsert")() and self._read()()):
            raise RuntimeError("warm-up commit or read does not match the model")
        self.commit_stats.clear()

    # -- requests ----------------------------------------------------------------------

    def _live(self, k: int) -> list[int]:
        return self.rng.sample(sorted(self.model), k)

    def _new_rows(self, k: int) -> list[tuple]:
        rows = []
        for _ in range(k):
            rows.append(datagen.doc_row(self.rng, self.next_id))
            self.next_id += 1
        return rows

    def _commit(self, kind: str):
        from pyspark.sql import functions as F

        from mongraph_spark.sources import merge

        spark, root, model = self.spark, self.root, self.model
        if kind == "upsert":
            rows = [datagen.doc_row(self.rng, i) for i in self._live(3)] + self._new_rows(2)

            def mutate():
                return merge.upsert(spark, root, spark.createDataFrame(rows, SCHEMA), key="doc_id")

            def expect():
                model.update({r[0]: r for r in rows})
        elif kind == "merge":
            doomed = self._live(2)
            changed = [datagen.doc_row(self.rng, i)
                       for i in self._live(4) if i not in doomed][:2]
            rows = ([(i, "", DELETE_MARK, "", 0) for i in doomed]
                    + changed + self._new_rows(2))
            sets = {c: f"src_{c}" for c in ("text", "lang", "source", "n_chars")}

            def mutate():
                return merge.merge_into(
                    spark, root, spark.createDataFrame(rows, SCHEMA),
                    when_matched_set=sets,
                    when_matched_delete=f"src_lang = '{DELETE_MARK}'",
                )

            def expect():
                for i in doomed:
                    del model[i]
                model.update({r[0]: r for r in rows if r[2] != DELETE_MARK})
        elif kind == "delete":
            doomed = self._live(3)
            rows = [model[i] for i in doomed]

            def mutate():
                return merge.delete_where(spark, root, F.col("doc_id").isin(doomed))

            def expect():
                for i in doomed:
                    del model[i]
        else:
            rows = []

            def mutate():
                return merge.compact(spark, root)[0]

            def expect():
                pass

        def commit():
            t0 = time.perf_counter()
            version = int(mutate().split("_")[1])
            t1 = time.perf_counter()
            expect()
            if rows:  # a compaction changes no row, so the feed has nothing to apply
                t_vis = self._wait_applied(version)
                self.commit_stats.append({
                    "kind": kind, "commit_ms": (t1 - t0) * 1000.0,
                    "visible_ms": (t_vis - t0) * 1000.0,
                })
            if self.ctx.tracer.active_req is not None:
                files, size = _dir_bytes(os.path.join(root, f"v_{version:05d}"))
                user = sum(len(str(v).encode()) for r in rows for v in r)
                self.ctx.tracer.note("merge.files", files=files, bytes=size, user=user)
            return True

        return commit

    def _read(self):
        from mongraph_spark.sources import merge

        ids = sorted(self.model)
        # mostly live keys, some never written
        key = self.rng.choice(ids) if self.rng.random() < 0.8 else self.next_id + 1000
        want = [self.model[key]] if key in self.model else []

        def read():
            got = [tuple(r) for r in merge.read_point(self.spark, self.root, key).collect()]
            return got == want

        return read

    cycle = CYCLE

    def ops(self):
        i = 0
        while True:
            kind = CYCLE[i % len(CYCLE)]
            if kind == "read":
                yield Op(kind, "read", self._read())
            else:
                yield Op(kind, "commit", self._commit(kind))
            i += 1

    # -- checks and figures ------------------------------------------------------------

    def verify(self) -> list[str]:
        from pyspark.sql import functions as F

        from mongraph_spark.sources import merge

        errors = list(self.fold_errors)
        current = merge.read_current(self.spark, self.root)
        if sorted(tuple(r) for r in current.collect()) != sorted(self.model.values()):
            errors.append("read_current differs from the model")
        agg = {
            r.source: [r.n, r.c]
            for r in current.groupBy("source").agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c")).collect()
        }
        with self.cv:
            fold = {s: v for s, v in self.fold.items() if v != [0, 0]}
        if fold != agg:
            errors.append("folded change counts differ from the per-source aggregate")
        return errors

    def detail(self, records) -> dict:
        from mongraph_spark.sources import merge

        commit_ms = [c["commit_ms"] for c in self.commit_stats]
        return {
            "commit_p50_ms": statistics.median(commit_ms),
            "cdc_visible_p50_ms": statistics.median(c["visible_ms"] for c in self.commit_stats),
            "space_amp": _dir_bytes(self.root)[1] / merge.describe(self.root)["current_bytes"],
        }

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
