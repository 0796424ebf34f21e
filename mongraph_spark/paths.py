"""Shortest paths by BFS (reference ``shortestPathTo``, SURVEY.md G8).

The reference delegates to Neo4j's ``shortestPath(a-[:t*..15]->b)`` with a
hard 15-hop bound (reference src/extendDocument.coffee:352-366,
``levelDeepness = 15`` at :359).  Among equal-length paths both searches
here pin the lexicographically-smallest node-id sequence (the oracle
hash-compares).

``shortest_path`` (one pair: the per-document request) keeps its frontier
and visited set on the driver and runs one capped ``frontier ⋈ edges``
collect per hop; on a ``MutableCatalog`` that is a broadcast plus the
collect, two jobs and no shuffle.  A hop past ``OLTP_COLLECT_CAP`` rows
raises.  ``shortest_paths_from`` is the batch BFS for many origins or larger
frontiers: a DataFrame loop whose job count grows with depth, not origins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongraph_spark.catalog import GraphStore, local_df
from mongraph_spark.sparkutil import OLTP_COLLECT_CAP, bounded_collect, lineage_cut
from mongraph_spark.traversal import types_condition

LEVEL_DEEPNESS = 15  # reference src/extendDocument.coffee:359


def _directed_edges(edges: DataFrame, types: list[str] | None, direction: str) -> DataFrame:
    """The ``src, dst`` pairs a hop expands along, as SQL text."""
    if types is not None:
        edges = edges.filter(types_condition(types))
    if direction == "outgoing":
        return edges.selectExpr("src", "dst")
    reverse = edges.selectExpr("dst AS src", "src AS dst")
    if direction == "incoming":
        return reverse
    # both: traverse each edge in either direction
    return edges.selectExpr("src", "dst").unionByName(reverse)


# the frontier shipped each hop, named for a USING join on the edges' src
_FRONTIER = T.StructType([T.StructField("src", T.LongType(), False)])


def shortest_path(
    store: GraphStore,
    src_node_id: int,
    dst_node_id: int,
    types: list[str] | None = None,
    direction: str = "outgoing",
    max_hops: int = LEVEL_DEEPNESS,
) -> list[int] | None:
    """Return the node-id sequence of one shortest path, or None.

    ``direction`` mirrors the traversal options and cypher's arrow.  The
    frontier (``{node: path}``) and the visited set live on the driver; each
    hop collects ``frontier ⋈ edges`` once (at most ``OLTP_COLLECT_CAP``
    rows) and keeps the smallest path per newly reached node.
    """
    if src_node_id == dst_node_id:
        return [src_node_id]
    edges = _directed_edges(store.edges_df(), types, direction)
    src, dst = int(src_node_id), int(dst_node_id)
    frontier, visited = {src: [src]}, {src}
    for _ in range(max_hops):
        nodes = local_df(store.spark, [(n,) for n in frontier], _FRONTIER)
        pairs = bounded_collect(
            nodes.join(edges, "src"),
            cap=OLTP_COLLECT_CAP,  # looked up per call, so a test can lower it
            context="shortest_path hop",
        )
        reached: dict[int, list[int]] = {}
        for s, d in pairs:
            if d in visited:
                continue
            path = frontier[s] + [d]
            if d not in reached or path < reached[d]:
                reached[d] = path
        if dst in reached:
            return reached[dst]
        if not reached:
            return None
        visited.update(reached)
        frontier = reached
    return None


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
