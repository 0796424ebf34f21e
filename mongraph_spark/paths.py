"""Iterative BFS shortest path (reference ``shortestPathTo``, SURVEY.md G8).

The reference delegates to Neo4j's ``shortestPath(a-[:t*..15]->b)`` with a
hard 15-hop bound (reference src/extendDocument.coffee:352-366,
``levelDeepness = 15`` at :359) and takes whichever single path Neo4j
returns.  Spark realization: frontier-expansion via self-joins on the edges
DataFrame — one Spark job per hop, exactly how GraphFrames implements BFS
under the hood (join-based message passing).

Determinism (the oracle hash-compares): among equal-length paths we pin the
lexicographically-smallest node-id sequence, which `F.min` over the path
array gives directly (Spark arrays order lexicographically).

Scale notes: the frontier is re-keyed on the join key each hop; ``visited``
pruning is a broadcastable anti-join at moderate frontier sizes.  The
single-pair search cuts each hop's frontier once and reads both the target
hit and the frontier size from it in one aggregate, so no hop recomputes an
earlier one and 15-hop plans don't blow up the optimizer.  For all-pairs /
landmark workloads you'd switch to a Pregel-style aggregate-messages loop
over the same edges DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongraph_spark.catalog import GraphStore, local_df
from mongraph_spark.sparkutil import lineage_cut, release_cut

LEVEL_DEEPNESS = 15  # reference src/extendDocument.coffee:359


def _directed_edges(edges: DataFrame, types: list[str] | None, direction: str) -> DataFrame:
    e = edges.select("src", "dst", "type")
    if types is not None:
        e = e.filter(F.col("type").isin(types) if len(types) > 1 else F.col("type") == types[0])
    if direction == "outgoing":
        return e.select("src", "dst")
    if direction == "incoming":
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # both: traverse each edge in either direction
    return e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def shortest_path(
    store: GraphStore,
    src_node_id: int,
    dst_node_id: int,
    types: list[str] | None = None,
    direction: str = "outgoing",
    max_hops: int = LEVEL_DEEPNESS,
) -> list[int] | None:
    """Return the node-id sequence of one shortest path, or None.

    The reference's query is directed (``a-[…]->b``); ``direction`` mirrors
    the traversal options for completeness.

    Each hop's frontier is cut once; one aggregate over the cut reads both
    the path to the target (if reached) and the frontier size.  The cuts are
    released before returning.
    """
    if src_node_id == dst_node_id:
        return [src_node_id]
    spark = store.spark
    edges = _directed_edges(store.edges_df(), types, direction)
    dst = F.lit(int(dst_node_id))

    seed = [(int(src_node_id), [int(src_node_id)])]
    frontier = local_df(spark, seed, "node long, path array<long>")
    visited = frontier.select("node")
    cuts = []
    try:
        for _ in range(max_hops):
            expanded = (
                frontier.join(edges, frontier["node"] == edges["src"], "inner")
                .select(
                    F.col("dst").alias("node"),
                    F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                )
                # smallest path per node → deterministic tie-breaking
                .groupBy("node")
                .agg(F.min("path").alias("path"))
                .join(visited, on="node", how="left_anti")
            )
            frontier = lineage_cut(expanded, eager=False)
            cuts.append(frontier)
            # the first action over the lazy cut materializes it
            probe = frontier.agg(
                F.count(F.lit(1)).alias("size"),
                F.min(F.when(F.col("node") == dst, F.col("path"))).alias("hit"),
            ).first()
            if probe.hit is not None:
                return [int(x) for x in probe.hit]
            if probe.size == 0:
                return None
            # frontier nodes are distinct and unvisited (grouped, anti-joined)
            visited = visited.unionByName(frontier.select("node"))
        return None
    finally:
        for cut in cuts:
            release_cut(cut)


def shortest_paths_from(
    store: GraphStore,
    src_node_ids: DataFrame,
    dst_pred,
    types: list[str] | None = None,
    direction: str = "outgoing",
    max_hops: int = LEVEL_DEEPNESS,
) -> DataFrame:
    """Batch BFS: one shortest path per source node to the first node
    satisfying ``dst_pred`` (a Column over node ids via the nodes DF).

    Returns ``origin long, node long, path array<long>, hops int`` — one row
    per origin (the deterministic-minimum shortest path).  This is the
    distributed variant used by oracle-checked queries: all origins advance
    together, so the hop count of Spark jobs is bounded by the BFS depth,
    not by the number of origins.
    """
    spark = store.spark
    edges = _directed_edges(store.edges_df(), types, direction)
    targets = store.nodes_df().filter(dst_pred).select(F.col("node_id").alias("node"))

    frontier = src_node_ids.select(
        F.col("node_id").alias("origin"),
        F.col("node_id").alias("node"),
        F.array(F.col("node_id")).cast("array<long>").alias("path"),
    )
    visited = frontier.select("origin", "node")
    done = None

    for hop in range(1, max_hops + 1):
        expanded = (
            frontier.join(edges, frontier["node"] == edges["src"], "inner")
            .select(
                "origin",
                F.col("dst").alias("node"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            )
            .groupBy("origin", "node")
            .agg(F.min("path").alias("path"))
            .join(visited, on=["origin", "node"], how="left_anti")
            .transform(lineage_cut, eager=False)
        )
        hits = (
            expanded.join(targets, on="node", how="left_semi")
            .groupBy("origin")
            .agg(F.min("path").alias("path"))
            .withColumn("hops", F.lit(hop))
        )
        done = hits if done is None else done.unionByName(hits)
        # origins that found a target stop expanding
        frontier = expanded.join(hits.select("origin"), on="origin", how="left_anti")
        # frontier rows are distinct and unvisited (grouped, anti-joined)
        visited = visited.unionByName(frontier.select("origin", "node"))
        if frontier.isEmpty():
            break
    if done is None:
        return local_df(spark, [], "origin long, path array<long>, hops int")
    return done.groupBy("origin").agg(
        F.min_by("path", "hops").alias("path"), F.min("hops").alias("hops")
    )
