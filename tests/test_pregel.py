"""Shared iterative-loop utility (pregel.iterate): contract pins for the
checkpoint cadence / convergence behavior all five graph loops now share
(VERDICT r4 #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongraph_spark import pregel

SF = "/root/testdata/sf0.001"


def _inc(df):
    return df.select((F.col("v") + 1).alias("v"))


def test_fixed_rounds_and_value(spark):
    df0 = spark.range(3).select(F.col("id").alias("v"))
    out, rounds = pregel.iterate(df0, _inc, max_rounds=5, checkpoint_every=2)
    assert rounds == 5
    assert sorted(r.v for r in out.collect()) == [5, 6, 7]


def test_zero_rounds_returns_checkpointed_initial(spark):
    df0 = spark.range(2).select(F.col("id").alias("v"))
    out, rounds = pregel.iterate(df0, _inc, max_rounds=0)
    assert rounds == 0
    assert sorted(r.v for r in out.collect()) == [0, 1]


def test_convergence_stops_early(spark):
    # state: v capped at 3; converged when max(v) == 3
    def step(df):
        return df.select(F.least(F.col("v") + 1, F.lit(3)).alias("v"))

    def converged(df):
        return df.agg(F.max("v").alias("m")).first()["m"] == 3

    df0 = spark.range(1).select(F.lit(0).alias("v"))
    out, rounds = pregel.iterate(
        df0, step, max_rounds=50, checkpoint_every=1, converged=converged
    )
    assert rounds == 3
    assert out.first()["v"] == 3


def test_invalid_args_raise(spark):
    df0 = spark.range(1).select(F.col("id").alias("v"))
    with pytest.raises(ValueError):
        pregel.iterate(df0, _inc, max_rounds=-1)
    with pytest.raises(ValueError):
        pregel.iterate(df0, _inc, max_rounds=1, checkpoint_every=0)


def test_release_restores_unpersist_logger_level(spark):
    """Releasing dead loop states mutes MapPartitionsRDD's unpersist WARN
    only around the call: the logger's level after iterate equals its
    level before, so the warning stays live for the rest of the session."""
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    name = "org.apache.spark.rdd.MapPartitionsRDD"

    def level() -> str:
        return log4j.LogManager.getLogger(name).getLevel().toString()

    original = log4j.LogManager.getLogger(name).getLevel()
    log4j.core.config.Configurator.setLevel(name, log4j.Level.WARN)
    try:
        df0 = spark.range(3).select(F.col("id").alias("v"))
        out, rounds = pregel.iterate(df0, _inc, max_rounds=3)
        assert rounds == 3
        assert level() == "WARN"
    finally:
        log4j.core.config.Configurator.setLevel(name, original)


def test_lineage_is_bounded_by_checkpoint_cadence(spark):
    """After N rounds at cadence k, the returned plan must hang off a
    checkpoint scan with at most one group (k rounds) of joins above it —
    never the full N-round chain (the lineage-replay scale bug class)."""
    nodes = spark.range(50).select(F.col("id").alias("node_id"))
    edges = spark.range(49).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )

    def step(labels):
        nbr = (
            labels.join(edges, labels["node_id"] == edges["src"])
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min("label").alias("nbr"))
        )
        return labels.join(nbr, "node_id", "left").select(
            "node_id", F.least("label", F.coalesce("nbr", "label")).alias("label")
        )

    out, rounds = pregel.iterate(
        nodes.select("node_id", F.col("node_id").alias("label")),
        step,
        max_rounds=12,
        checkpoint_every=3,
    )
    assert rounds == 12
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the state is checkpointed: its plan is a bare materialized scan,
    # not 12 rounds x 2 joins of lineage
    assert plan.count("Join") == 0, plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan


def test_graph_queries_share_the_loop():
    """The iterative graph families, Bradley–Terry and k-means route
    through pregel.iterate — no residual hand-rolled driver loops
    (source-level pin)."""
    import inspect

    from mongraph_spark.queries import graph_analytics as ga
    from mongraph_spark.queries import inference, similarity

    for fn in (
        ga.graph_pagerank,
        ga.pagerank_until_convergence,
        ga.graph_connected_components,
        ga.connected_components_until_convergence,
        ga._kcore_degree_hist,
        ga._lpa_labels_from,  # the loop carrier behind label_propagation/modularity
        ga.graph_ppr_seeded,
        ga.louvain_converge_from,
        ga.graph_ktruss,
        ga.graph_random_walks,
        inference.bt_from_wins,
        similarity.embedding_kmeans,
    ):
        src = inspect.getsource(fn)
        assert "pregel.iterate(" in src, fn.__name__
        assert "for _ in range" not in src.replace("for _ in range(group)", ""), fn.__name__


def test_no_local_checkpoint_outside_lineage_cut():
    """Every lineage cut goes through sparkutil.lineage_cut, the one place
    that picks local or reliable checkpointing for the deployment."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for path in sorted([*root.glob("mongraph_spark/**/*.py"), *root.glob("tools/**/*.py")]):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "sparkutil.py":
            cut = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "lineage_cut"
            )
            allowed = {id(n) for n in ast.walk(cut)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "localCheckpoint"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []
