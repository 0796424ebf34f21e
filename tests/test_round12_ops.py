"""Round-12 pins: the shared eigenvector step builder (VERDICT r11
order #6), the SRP tuning sheets' deterministic input cap (order #1),
and the cap's no-op behavior below threshold."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongraph_spark.queries.graph_analytics import (
    EIG_GRID,
    eig_step_builder,
    louvain_converge_from,
    louvain_refine_from,
)
from mongraph_spark.queries.inference import (
    SRP_SHEET_CAP,
    _srp_sheet_sample,
)


def test_eig_shared_step_hand_values(spark):
    # path graph 1-2-3 (symmetrized): from the all-G start, contributions
    # are deg(v)*G, max = 2G, so one grid-renorm step gives
    # {1: G/2, 2: G, 3: G/2} — exact integers, no float renorm.
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node_id long")
    und = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    cached = []
    step = eig_step_builder(nodes, und, cached)
    x0 = nodes.select("node_id", F.lit(EIG_GRID).cast("long").alias("score"))
    got = {r["node_id"]: r["score"] for r in step(x0).collect()}
    assert got == {1: EIG_GRID // 2, 2: EIG_GRID, 3: EIG_GRID // 2}
    # a second application from that state: contributions 1000,1000,1000
    # -> all renorm to G (the 2-cycle the lazy walk exists to break)
    got2 = {r["node_id"]: r["score"] for r in step(step(x0)).collect()}
    assert got2 == {1: EIG_GRID, 2: EIG_GRID, 3: EIG_GRID}
    for c in cached:
        c.unpersist()


def test_eig_both_variants_route_through_shared_step():
    # the pair must not re-grow private step closures (the drift the
    # unification removed): neither function body defines its own step
    import inspect

    from mongraph_spark.queries import graph_analytics as G

    for fn in (G.graph_eigenvector_centrality, G.graph_eigenvector_converged):
        src = inspect.getsource(fn)
        assert "eig_step_builder(" in src
        assert "def step" not in src


def test_louvain_refine_hand_graph(spark):
    # two triangles {1,2,3} + {4,5,6} bridged by 3-4 (m = 7); labels put
    # node 3 in the wrong community (C10 = {3,4,5,6}, C1 = {1,2}).  Hand
    # arithmetic: moving 3 to C1 has gain*2m^2 = 2*7*(2-1) - 3*(4-7) = 23
    # (the ONLY positive, guard-allowed move), Q goes 24/196 -> 70/196.
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "part_a long, part_b long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 10), (4, 10), (5, 10), (6, 10)],
        "node_id long, label long",
    )
    row = louvain_refine_from(labels, pairs).collect()[0]
    assert row["n_moved"] == 1
    assert row["gain_total_2m2"] == 23
    assert row["q_before_micro"] == (1_000_000 * 24) // 196
    assert row["q_after_micro"] == (1_000_000 * 70) // 196
    assert row["q_after_micro"] > row["q_before_micro"]


def test_louvain_refine_fixed_point_when_labels_optimal(spark):
    # already-optimal labels: no strictly-positive guard-allowed move
    # exists, the sweep is a no-op and Q is unchanged (n_moved = 0).
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "part_a long, part_b long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node_id long, label long",
    )
    row = louvain_refine_from(labels, pairs).collect()[0]
    assert row["n_moved"] == 0
    assert row["gain_total_2m2"] == 0
    assert row["q_before_micro"] == row["q_after_micro"]


def test_louvain_converged_reaches_fixed_point(spark):
    # bridged triangles with one mislabeled node: sweep 1 makes the
    # single gain-23 move, sweep 2 selects nothing (absorbing fixed
    # point) -> rounds_run = 1, and Q_after equals the single-sweep pin.
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "part_a long, part_b long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 10), (4, 10), (5, 10), (6, 10)],
        "node_id long, label long",
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    row = louvain_converge_from(labels, pairs).collect()[0]
    # adj, deg and the final labels stay cut; every dead sweep state is freed
    assert persisted().size() - before <= 3
    assert row["rounds_run"] == 1
    assert row["n_moved_total"] == 1
    assert row["q_after_micro"] == (1_000_000 * 70) // 196
    # already-optimal labels: zero sweeps run
    opt = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node_id long, label long",
    )
    before = persisted().size()
    row0 = louvain_converge_from(opt, pairs).collect()[0]
    assert persisted().size() - before <= 3
    assert row0["rounds_run"] == 0
    assert row0["n_moved_total"] == 0
    assert row0["q_before_micro"] == row0["q_after_micro"]


def test_srp_sheet_sample_identity_below_cap(spark):
    # N <= cap: the threshold cap*2^32/N >= 2^32 exceeds every md5 coin,
    # so the sample is the identity — sheet outputs at test SFs are
    # unchanged by the governor.
    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    assert _srp_sheet_sample(emb).count() == 100


def test_srp_sheet_sample_caps_large_inputs(spark):
    # N = 4*cap: expected kept = cap (binomial, sd ~ 62); the clamp is
    # what bounds the sheets' Theta(N^2/2^bits) candidate volume at any
    # corpus size.
    n = SRP_SHEET_CAP * 4
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("embedding"),
    )
    kept = _srp_sheet_sample(emb).count()
    assert abs(kept - SRP_SHEET_CAP) < 6 * 62  # far tail guard only
    # determinism: same input -> identical sample
    kept2 = _srp_sheet_sample(emb).count()
    assert kept == kept2
