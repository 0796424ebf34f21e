"""Parquet snapshot/restore for the engine's stores (SURVEY.md §1.4: the
mutability plan is Arrow/driver staging + versioned parquet snapshots).

The reference's "sources" are live MongoDB/Neo4j connections; this engine's
durable form is a parquet directory layout:

    <root>/nodes.parquet            (partitioned by _collection)
    <root>/edges.parquet            (partitioned by type, sorted by src)
    <root>/documents/<collection>.parquet

``save_catalog`` snapshots a MutableCatalog; ``load_bulk`` re-opens any
snapshot as a fully-distributed BulkGraph (the 100 TB read path: partition
pruning on type/_collection, row-group skipping on sorted src).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from mongraph_spark.catalog import BulkGraph, MutableCatalog


def save_catalog(catalog: MutableCatalog, root: str) -> None:
    """Write ``catalog`` under ``root``.  A collection without a schema is
    skipped when it is empty; one holding documents raises before anything
    is written, so a refused save never leaves a half-written store."""
    frames = catalog.frame_collections()
    for coll in catalog.collection_names():
        if coll not in frames and next(iter(catalog.iter_documents(coll)), None) is not None:
            raise ValueError(
                f"save_catalog: collection {coll!r} holds documents but has no schema; "
                "register it with a schema before saving"
            )
    nodes = catalog.nodes_df()
    edges = catalog.edges_df()
    nodes.repartition(1).sortWithinPartitions("node_id").write.mode("overwrite").partitionBy(
        "_collection"
    ).parquet(f"{root}/nodes.parquet")
    edges.repartition("type").sortWithinPartitions("src", "dst").write.mode(
        "overwrite"
    ).partitionBy("type").parquet(f"{root}/edges.parquet")
    for coll in frames:
        catalog.documents_df(coll).write.mode("overwrite").parquet(
            f"{root}/documents/{coll}.parquet"
        )


def load_bulk(spark: SparkSession, root: str) -> BulkGraph:
    nodes = spark.read.parquet(f"{root}/nodes.parquet")
    edges = spark.read.parquet(f"{root}/edges.parquet")
    documents = {}
    docs_dir = f"{root}/documents"
    if os.path.isdir(docs_dir):
        for entry in sorted(os.listdir(docs_dir)):
            if entry.endswith(".parquet"):
                documents[entry[: -len(".parquet")]] = spark.read.parquet(
                    f"{docs_dir}/{entry}"
                )
    return BulkGraph(spark, nodes, edges, documents)
