"""Round-13 pins: the broadcast size gate on the r12 ER / eigenvector
per-round attaches (VERDICT r12 order #1 — an unconditional F.broadcast
hint on a data-sized frame is a job-killer at cluster scale), exercised
by forcing the cap below the fixture sizes so the co-partitioned
fallback path runs and must produce IDENTICAL results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mongraph_spark import sparkutil
from mongraph_spark.queries.graph_analytics import EIG_GRID, eig_step_builder
from mongraph_spark.queries.inference import golden_from_blocked

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture()
def low_broadcast_cap(monkeypatch):
    """Force every gated hint onto the unhinted (shuffle-join) path."""
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_ROW_CAP", "0")
    yield


def test_maybe_broadcast_gates_on_row_count(spark, monkeypatch):
    df = spark.range(10)
    hinted = sparkutil.maybe_broadcast(df, 10)
    # a hinted frame is a NEW plan node (ResolvedHint); same object back
    # means no hint was attached
    assert hinted is not df
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_ROW_CAP", "5")
    assert sparkutil.maybe_broadcast(df, 10) is df
    assert sparkutil.maybe_broadcast(df, 5) is not df


def test_golden_labels_identical_without_broadcast(spark, low_broadcast_cap):
    # hand-built duplicate groups: two chained-match blocks; the gated
    # fallback (plain joins) must reach the same fixpoint labels and
    # survivorship rows as the broadcast path
    rows = [
        ("b1", 1, "widget alpha", 4, "t1", 100),
        ("b1", 2, "widget alphb", 5, "t2", 200),
        ("b1", 3, "widget alphc", 6, "t1", 150),
        ("b2", 7, "gadget one", 2, "t3", 300),
        ("b2", 8, "gadget onee", 3, "t3", 250),
        ("b3", 9, "lonely item", 1, "t4", 50),
    ]
    blocked = spark.createDataFrame(
        rows,
        "block_key string, key long, name string, psize long, ptype string,"
        " price_cents long",
    )
    got = {
        r["entity_id"]: (r["n_members"], r["canonical_name"], r["max_price_cents"])
        for r in golden_from_blocked(blocked).collect()
    }
    assert got == {1: (3, "widget alpha", 200), 7: (2, "gadget one", 300)}


def test_eig_step_identical_without_broadcast(spark, low_broadcast_cap):
    # same hand graph as the round-12 pin: path 1-2-3, one step from the
    # all-G start must still give {G/2, G, G/2} on the unhinted path
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node_id long")
    und = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    cached = []
    step = eig_step_builder(nodes, und, cached)
    x0 = nodes.select("node_id", F.lit(EIG_GRID).cast("long").alias("score"))
    got = {r["node_id"]: r["score"] for r in step(x0).collect()}
    assert got == {1: EIG_GRID // 2, 2: EIG_GRID, 3: EIG_GRID // 2}
    for c in cached:
        c.unpersist()


def test_lineage_cut_reliable_mode(spark, monkeypatch, tmp_path):
    # forcing the cluster path on the local session: the cut must go
    # through a reliable checkpoint() into SPARK_GRAFT_CHECKPOINT_DIR and
    # produce the same rows (pregel loops and the store commit path ride
    # this switch on any non-local master)
    from mongraph_spark import pregel

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    cut = sparkutil.lineage_cut(spark.range(5))
    assert sorted(r["id"] for r in cut.collect()) == [0, 1, 2, 3, 4]
    assert os.path.exists(ckdir) and os.listdir(ckdir)
    # a full pregel loop through the reliable path reaches the same state
    state0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    out, rounds = pregel.iterate(
        state0,
        lambda s: s.select("k", (F.col("v") + 1).alias("v")),
        max_rounds=3,
    )
    assert rounds == 3
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, 13), (2, 23)}


def test_pregel_releases_dead_loop_states(spark):
    # r13: every eager lineage_cut used to pin its blocks until session
    # GC (+7 persisted RDDs per 6-round loop execution, measured); the
    # loop now releases each dead state as soon as the next one is
    # materialized.  After the loop only the FINAL state may remain
    # pinned — and it must still be fully usable.
    from mongraph_spark import pregel

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    out, rounds = pregel.iterate(
        spark.createDataFrame([(1, 0), (2, 10)], "k long, v long"),
        lambda s: s.select("k", (F.col("v") + 1).alias("v")),
        max_rounds=5,
    )
    after = sc._jsc.getPersistentRDDs().size()
    assert rounds == 5
    # 5 rounds + initial cut = 6 states; all but the final one released
    assert after - before <= 1, (before, after)
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, 5), (2, 15)}


def test_release_cut_removes_reliable_checkpoint_files(spark, monkeypatch, tmp_path):
    # a released reliable cut drops its checkpoint directory too, not only
    # its cached blocks: after a 3-round loop the checkpoint dir holds the
    # final state's files and nothing from the initial cut or rounds 1-2.
    # The session keeps the first checkpoint dir it was given, so compare
    # the rdd-* entries of whichever dir is live before and after.
    from mongraph_spark import pregel

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    sc = spark.sparkContext

    def rdd_dirs() -> set[str]:
        ckdir = sc.getCheckpointDir()
        if ckdir is None:
            return set()
        local = ckdir.removeprefix("file:")
        return {d for d in os.listdir(local) if d.startswith("rdd-")}

    before = rdd_dirs()
    out, rounds = pregel.iterate(
        spark.createDataFrame([(1, 0), (2, 10)], "k long, v long"),
        lambda s: s.select("k", (F.col("v") + 1).alias("v")),
        max_rounds=3,
    )
    assert rounds == 3
    final = out._jdf.queryExecution().analyzed().rdd().getCheckpointFile().get()
    assert rdd_dirs() - before == {final.rsplit("/", 1)[-1]}
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, 3), (2, 13)}


def test_srp_int_vecs_guard_raises_out_of_bound(spark):
    # the BIGINT dot folds are only exact while |component| <= 100
    # (64·(100·10⁶)² = 6.4e17 < 2⁶³); the grid transform must fail
    # LOUDLY on a violating fixture instead of silently wrapping int64
    # (ANSI is off).  Hand fixtures legitimately use components up to 5
    # (test_srp_identical_vectors_top_pair), so the guard sits at the
    # documented headroom bound, not at 1.
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    from mongraph_spark.queries.inference import _srp_int_vecs

    ok = spark.createDataFrame(
        [(1, [0.5, -1.0, 5.0, 99.9])], "vec_id long, embedding array<double>"
    )
    rows = _srp_int_vecs(ok).collect()
    assert rows[0]["xv"] == [500000, -1000000, 5000000, 99900000]
    bad = spark.createDataFrame(
        [(2, [0.5, 100.0000001])], "vec_id long, embedding array<double>"
    )
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)) as ei:
        _srp_int_vecs(bad).collect()
    assert "SRP micro-grid bound violated" in str(ei.value)


def test_er_golden_record_full_op_low_cap_matches_default(spark):
    # the full declared query at sf0.001, run once with the default cap
    # (broadcast attaches) and once with cap 0 (shuffle attaches): result
    # rows must be identical — the gate is placement-only
    from mongraph_spark.queries.inference import er_golden_record

    base = sorted(
        tuple(r) for r in er_golden_record(spark, SF_SMOKE).collect()
    )
    old = os.environ.get("SPARK_GRAFT_BROADCAST_ROW_CAP")
    os.environ["SPARK_GRAFT_BROADCAST_ROW_CAP"] = "0"
    try:
        gated = sorted(
            tuple(r) for r in er_golden_record(spark, SF_SMOKE).collect()
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_BROADCAST_ROW_CAP", None)
        else:
            os.environ["SPARK_GRAFT_BROADCAST_ROW_CAP"] = old
    assert gated == base and len(base) > 0
