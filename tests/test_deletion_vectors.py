"""Deletion vectors (merge-on-read DELETE) on the CoW store.

Reference parity: the reference's removeNode/removeRelationships delete
eagerly (src/extendDocument.coffee:280-330); deletion vectors are the
lakehouse form — logical deletion now, physical rewrite at maintenance
time — required once a delete may touch every bucket of a 100 TB table.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from mongraph_spark.sources import merge as M


def _tbl(spark, tmp_path, n=16, buckets=4, name="t"):
    root = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"n{i}", 10 * i) for i in range(n)], "id long, s string, v long"
    )
    M.init_table(df, root, key="id", n_buckets=buckets)
    return root


def _ids(spark, root):
    return sorted(r.id for r in M.read_current(spark, root).select("id").collect())


def test_dv_delete_masks_without_rewrite(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    v0_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(root, "v_00000"))
        for f in fs
        if f.endswith(".parquet")
    }
    ver = M.delete_where_dv(spark, root, F.col("v") >= 100)
    assert ver == "v_00001"
    # logical view masks the rows...
    assert _ids(spark, root) == list(range(10))
    # ...but NO data file was rewritten: the new manifest references the
    # SAME physical files
    man = M._read_manifest(root, ver)
    referenced = {
        os.path.join(dp, f)
        for b, rel in man.items()
        for dp, _, fs in [
            (os.path.join(root, rel), None, os.listdir(os.path.join(root, rel)))
        ]
        for f in fs
        if f.endswith(".parquet")
    }
    assert referenced <= v0_files
    assert M._read_dv(root, ver)  # sidecar exists
    assert M._read_commit(root, ver)["op"] == "delete_dv"
    # point lookup honors the vector
    assert M.read_point(spark, root, 12).count() == 0
    assert M.read_point(spark, root, 3).count() == 1
    # describe surfaces the pending vectors
    assert M.describe(root)["pending_deletion_vectors"]


def test_dv_noop_and_null_predicate(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    cur = M.current_version(root)
    assert M.delete_where_dv(spark, root, F.col("v") > 10**9) == cur
    assert not [f for f in os.listdir(root) if f.endswith(".claim")]
    # NULL predicate rows are kept (SQL DELETE semantics)
    M.upsert(
        spark,
        root,
        spark.createDataFrame([(99, None, None)], "id long, s string, v long"),
        key="id",
    )
    M.delete_where_dv(spark, root, F.col("v") >= 150)
    got = _ids(spark, root)
    assert 99 in got and 15 not in got


def test_dv_upsert_resurrects_and_clears(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    M.delete_where_dv(spark, root, F.col("id") < 8)  # kill ids 0-7
    assert _ids(spark, root) == list(range(8, 16))
    # re-insert id 3: the upsert rewrites its bucket from a DV-applied
    # base and CLEARS that bucket's vectors, so 3 lives again — and the
    # other deleted ids in the same bucket stay dead (materialized)
    M.upsert(
        spark,
        root,
        spark.createDataFrame([(3, "back", 333)], "id long, s string, v long"),
        key="id",
    )
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert got[3] == 333
    assert set(got) == {3} | set(range(8, 16))
    # vectors for the rewritten bucket are gone from the new sidecar
    b3 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(3).cast("long")), F.lit(4)).alias("b")
    ).collect()[0]["b"]
    assert str(b3) not in M._read_dv(root, M.current_version(root))


def test_dv_compact_materializes(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    # fragment every bucket so compact has work everywhere
    for i in (16, 17, 18, 19):
        M.upsert(
            spark,
            root,
            spark.createDataFrame([(i, f"n{i}", 10 * i)], "id long, s string, v long"),
            key="id",
        )
    M.delete_where_dv(spark, root, F.col("id") % 2 == 0)
    before = _ids(spark, root)
    ver, compacted = M.compact(spark, root)
    assert compacted
    assert _ids(spark, root) == before  # logically identical
    # compacted buckets' vectors are cleared; the physical files no longer
    # carry the deleted keys at all
    dv = M._read_dv(root, ver)
    for b in compacted:
        assert b not in dv
    man = M._read_manifest(root, ver)
    raw = spark.read.parquet(
        *[os.path.join(root, man[b]) for b in compacted]
    )
    assert raw.filter(F.col("id") % 2 == 0).count() == 0


def test_dv_time_travel_and_restore(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    M.delete_where_dv(spark, root, F.col("id") >= 12)  # v1
    M.delete_where_dv(spark, root, F.col("id") < 4)    # v2
    assert sorted(
        r.id for r in M.read_version(spark, root, 0).select("id").collect()
    ) == list(range(16))
    assert sorted(
        r.id for r in M.read_version(spark, root, 1).select("id").collect()
    ) == list(range(12))
    assert _ids(spark, root) == list(range(4, 12))
    # restore to v1 brings v1's vector state back (ids 0-3 live again)
    M.restore(root, version=1)
    assert _ids(spark, root) == list(range(12))


def test_dv_shallow_clone_carries_vectors(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    M.delete_where_dv(spark, root, F.col("id") % 3 == 0)
    dst = str(tmp_path / "clone")
    M.shallow_clone(root, dst)
    expect = [i for i in range(16) if i % 3 != 0]
    assert _ids(spark, dst) == expect
    # clone evolves independently: deleting more on the clone leaves the
    # source untouched
    M.delete_where_dv(spark, dst, F.col("id") == 1)
    assert 1 not in _ids(spark, dst)
    assert 1 in _ids(spark, root)


def test_dv_vacuum_keeps_referenced_vector_dirs(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    M.delete_where_dv(spark, root, F.col("id") == 0)  # v1 writes dv files
    # several data versions on top so v1 falls outside keep_last — keyed
    # AWAY from id 0's bucket so its vector (hence v1's dv files) stays
    # referenced by the current sidecar
    b0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(0).cast("long")), F.lit(4)).alias("b")
    ).collect()[0]["b"]
    picked = [
        (i, int(r.b))
        for i, r in enumerate(
            spark.range(20, 60)
            .select(F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"))
            .collect(),
            start=20,
        )
        if int(r.b) != b0
    ][:3]
    assert len(picked) == 3
    for i, _ in picked:
        M.upsert(
            spark,
            root,
            spark.createDataFrame([(i, "x", i)], "id long, s string, v long"),
            key="id",
        )
    removed = M.vacuum(root, keep_last=1)
    # v1's dir holds dv files the CURRENT sidecar still references (bucket
    # of id 0 was never rewritten) — it must survive
    assert "v_00001" not in removed
    assert 0 not in _ids(spark, root)


def test_dv_rebase_conflict_on_vector_overlap(spark, tmp_path):
    """A staged rebase upsert must CONFLICT when an intervening delete_dv
    touched its buckets — committing would clear the newer vectors."""
    root = _tbl(spark, tmp_path)
    snapshot = M.current_version(root)
    meta = M._read_meta(root)
    deduped = spark.createDataFrame([(0, "z", 1)], "id long, s string, v long")
    # intervening vector delete on id 0's bucket lands AFTER the rebase
    # writer's snapshot
    M.delete_where_dv(spark, root, F.col("id") == 4)  # same bucket iff hash collides
    # force the general case: delete the exact bucket our upsert touches
    M.delete_where_dv(spark, root, F.col("id") == 0)
    with pytest.raises(M.CommitConflict):
        M._upsert(spark, root, deduped, "id", None, "rebase", meta, snapshot)
    # the failed rebase left no staging behind
    staging = os.path.join(root, M._STAGING)
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_failfast_snapshot_rebased_under_claim(spark, tmp_path, monkeypatch):
    """A commit landing in the gap between a fail-fast writer's snapshot
    read and its claim must NOT be lost: the writer re-bases its snapshot
    on the claim's predecessor (_claim_base), so the intervening writer's
    buckets survive into the new manifest.  Before the fix, the stale
    pre-claim manifest silently overwrote them and the flip check could
    not catch it (it compares against the claim's predecessor, which the
    intervening commit IS)."""
    root = _tbl(spark, tmp_path)
    real_next = M._next_version
    fired = {}

    def racing_next(r):
        if r == root and not fired:
            fired["x"] = True
            # a competing writer FULLY COMMITS inside the gap (its own
            # claim goes through the un-intercepted path via `fired`)
            M.upsert(
                spark,
                root,
                spark.createDataFrame([(50, "race", 1)], "id long, s string, v long"),
                key="id",
            )
        return real_next(r)

    monkeypatch.setattr(M, "_next_version", racing_next)
    M.upsert(
        spark,
        root,
        spark.createDataFrame([(60, "mine", 2)], "id long, s string, v long"),
        key="id",
    )
    got = {r.id: r.s for r in M.read_current(spark, root).collect()}
    assert got.get(50) == "race" and got.get(60) == "mine"


def test_dv_model_based_random_op_sequences(spark, tmp_path):
    """Hypothesis-style model check (deterministic seeds, no JVM-in-
    hypothesis flakiness): random interleavings of upsert / vector delete
    / CoW delete / compact / restore are replayed against a plain python
    dict model; after every op the store's logical view must equal the
    model exactly.  This is the property the per-path pins cannot give:
    vectors composing with every other mutation in ANY order."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        root = str(tmp_path / f"m{seed}")
        init = [(i, f"n{i}", 10 * i) for i in range(20)]
        M.init_table(
            spark.createDataFrame(init, "id long, s string, v long"),
            root,
            key="id",
            n_buckets=4,
        )
        model = {i: (f"n{i}", 10 * i) for i in range(20)}
        snapshots = {0: dict(model)}
        for step in range(8):
            op = rng.choice(["upsert", "dv", "cow", "compact", "dv", "upsert"])
            if op == "upsert":
                ks = rng.sample(range(0, 30), 3)
                rows = [(k, f"u{step}", 1000 + step) for k in ks]
                M.upsert(
                    spark,
                    root,
                    spark.createDataFrame(rows, "id long, s string, v long"),
                    key="id",
                )
                for k in ks:
                    model[k] = (f"u{step}", 1000 + step)
            elif op == "dv":
                m = rng.choice([3, 5, 7])
                r = rng.randrange(m)
                M.delete_where_dv(spark, root, F.col("id") % m == r)
                model = {k: v for k, v in model.items() if k % m != r}
            elif op == "cow":
                cut = rng.randrange(0, 3000)
                M.delete_where(spark, root, F.col("v") >= cut)
                model = {k: v for k, v in model.items() if v[1] < cut}
            else:
                M.compact(spark, root)
            n = int(M.current_version(root).split("_")[1])
            snapshots[n] = dict(model)
            got = {
                r.id: (r.s, r.v)
                for r in M.read_current(spark, root).collect()
            }
            assert got == model, (seed, step, op)
        # time travel agrees with every recorded model snapshot
        for n, snap in snapshots.items():
            got = {
                r.id: (r.s, r.v)
                for r in M.read_version(spark, root, n).collect()
            }
            assert got == snap, (seed, n)


def test_dv_threaded_disjoint_with_rebase_upsert(spark, tmp_path):
    """A vector delete and a bucket-disjoint rebase upsert running
    concurrently both commit (delete_dv is bucket-scoped in the conflict
    matrix), and the final state reflects both."""
    import threading

    root = _tbl(spark, tmp_path, n=16, buckets=4)
    # pick an upsert key whose bucket differs from id 0's
    b0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(0).cast("long")), F.lit(4)).alias("b")
    ).collect()[0]["b"]
    other = next(
        int(r.id)
        for r in spark.range(100, 160)
        .withColumn("b", F.pmod(F.xxhash64(F.col("id")), F.lit(4)))
        .collect()
        if r.b != b0
    )
    errs: list[Exception] = []

    def deleter():
        try:
            M.delete_where_dv(spark, root, F.col("id") == 0)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    def upserter():
        batch = spark.createDataFrame(
            [(other, "up", 1)], "id long, s string, v long"
        )
        try:
            M.upsert(spark, root, batch, key="id", occ="rebase")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=deleter)
    t2 = threading.Thread(target=upserter)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = {r.id: r.s for r in M.read_current(spark, root).collect()}
    assert 0 not in got and got.get(other) == "up"


def test_dv_read_where_and_as_of(spark, tmp_path):
    import time

    root = _tbl(spark, tmp_path)
    t0 = time.time()
    M._set_commit_ts(root, "v_00000", t0 - 100)
    M.delete_where_dv(spark, root, F.col("v") >= 100)
    M._set_commit_ts(root, "v_00001", t0 - 50)
    got = sorted(
        r.id for r in M.read_where(spark, root, "v", 0, 10**9).select("id").collect()
    )
    assert got == list(range(10))
    assert (
        M.read_as_of(spark, root, t0 - 75).count() == 16  # pre-delete
        and M.read_as_of(spark, root, t0 - 25).count() == 10
    )


def test_read_point_with_vectors_runs_two_jobs(spark, tmp_path, spark_jobs):
    """The vector's footers count its rows on the driver, so a point read
    in a vectored bucket is the read plus the vector's broadcast."""
    root = _tbl(spark, tmp_path)
    M.delete_where_dv(spark, root, F.col("v") >= 100)
    for key, want in [(12, 0), (3, 1), (9, 1)]:
        n, jobs = spark_jobs(lambda: len(M.read_point(spark, root, key).collect()))
        assert n == want, key
        assert len(jobs) == 2, (key, jobs)


def test_timestamp_keys_stay_deleted_off_utc(spark, tmp_path, monkeypatch):
    """Deleted timestamp keys stay hidden when the process's local zone is
    not the session's UTC: keys are compared by Spark, never as Python
    datetimes."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        root = str(tmp_path / "ts")
        df = spark.range(16).selectExpr("timestamp_seconds(id * 3600) AS ts", "id AS v")
        M.init_table(df, root, key="ts", n_buckets=4)
        M.delete_where_dv(spark, root, F.col("v") >= 10)
        live = sorted(r.v for r in M.read_current(spark, root).collect())
        assert live == list(range(10))
        assert M.read_point(spark, root, "1970-01-01 12:00:00").count() == 0
        assert M.read_point(spark, root, "1970-01-01 03:00:00").count() == 1
    finally:
        monkeypatch.undo()
        time.tzset()
