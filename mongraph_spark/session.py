"""Mongraph engine session (reference ``mongraph.init``, src/mongraph.coffee:9-48).

Owns the catalog, config, and collection registry.  Two modes:

- OLTP/document mode (``Mongraph(spark)``): a :class:`MutableCatalog` backs
  the reference's full document+graph API (save / traverse / populate /
  delete with read-your-writes).
- Bulk/analytics mode (``Mongraph.from_dataframes``): wraps pre-existing
  nodes/edges/document DataFrames (parquet at any scale); the same planner
  operators run fully distributed.
"""

from __future__ import annotations

import hashlib
import itertools
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from mongraph_spark.catalog import BulkGraph, GraphStore, MutableCatalog
from mongraph_spark.document import Document, MongraphError, created_at_seconds
from mongraph_spark.node import Node, Relationship
from mongraph_spark.paths import LEVEL_DEEPNESS, shortest_path as bfs_shortest_path
from mongraph_spark.populate import attach_endpoint_documents, filtered_documents, relationships
from mongraph_spark.schema import CollectionSchema
from mongraph_spark.sparkutil import bounded_collect
from mongraph_spark.traversal import TraversalQuery

# reference defaults (src/mongraph.coffee:17-27)
DEFAULT_OPTIONS: dict[str, Any] = {
    "cacheNodes": True,
    "loadMongoDBRecords": True,
    "extendSchemaWithMongoosePlugin": True,
    "cacheAttachedNodes": True,
    "storeDocumentInGraphDatabase": False,  # hard-false TODO in reference (:18)
    "relationships": {
        "storeTimestamp": True,
        "storeIDsInRelationship": True,  # forced true (reference :24)
        "bidirectional": False,
        "storeInDocument": False,
    },
}


def _merge_options(user: dict | None) -> dict:
    out = {k: (dict(v) if isinstance(v, dict) else v) for k, v in DEFAULT_OPTIONS.items()}
    for k, v in (user or {}).items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k].update(v)
        else:
            out[k] = v
    # storeIDsInRelationship "must be true as long it's needed for mongraph
    # to work" (reference src/mongraph.coffee:24)
    out["relationships"]["storeIDsInRelationship"] = True
    return out


class Mongraph:
    def __init__(self, spark: SparkSession, **options: Any) -> None:
        if spark is None:
            raise MongraphError("a SparkSession handle is required")  # reference :36-37
        self.spark = spark
        self.options = _merge_options(options)
        self.catalog = MutableCatalog(spark)
        self.store: GraphStore = self.catalog
        self._schemas: dict[str, CollectionSchema] = {}
        self._oid_seq = itertools.count(1)
        # rel_id <-> mirror rel_id pairing for relationships.bidirectional,
        # so deletes matched on one direction also remove the mirror row
        self._mirror_rels: dict[int, int] = {}

    # -- bulk/analytics construction -------------------------------------------

    @classmethod
    def from_dataframes(
        cls,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        documents: dict[str, DataFrame] | None = None,
        **options: Any,
    ) -> "Mongraph":
        eng = cls(spark, **options)
        eng.store = BulkGraph(spark, nodes, edges, documents)
        return eng

    # -- registry ---------------------------------------------------------------

    def register_collection(self, schema: CollectionSchema) -> CollectionSchema:
        self._schemas[schema.name] = schema
        self.catalog.register_collection(schema.name, schema.spark_schema())
        return schema

    def schema_of(self, collection: str) -> CollectionSchema:
        sch = self._schemas.get(collection)
        if sch is None:
            sch = CollectionSchema(name=collection)
            self._schemas[collection] = sch
            self.catalog.register_collection(collection)
        return sch

    # -- document lifecycle ------------------------------------------------------

    def new_object_id(self) -> str:
        """Deterministic-per-session 24-hex id (ObjectId shape,
        reference test/tests.coffee:29)."""
        n = next(self._oid_seq)
        return hashlib.md5(f"oid:{id(self)}:{n}".encode()).hexdigest()[:24]

    def create_document(self, collection: str, data: dict[str, Any]) -> Document:
        self.schema_of(collection)
        return Document(self, collection, dict(data))

    def save_document(self, doc: Document, sync_node: bool = True) -> Document:
        """The pre-save hook pipeline (reference
        src/mongraphMongoosePlugin.coffee:43-61): persist document, force-create
        mirror node, sync ``dataForNode()`` props (undefined keys deleted),
        re-index."""
        sch = self.schema_of(doc._collection)
        if "_id" not in doc.data:
            doc.data["_id"] = self.new_object_id()
        doc.is_new = False
        if (
            sync_node
            and sch.graph_enabled
            and sch.hook_enabled("findAndConnectCorrespondingNode")
        ):
            node = self.find_or_create_node(doc, create=True)
            props = doc.data_for_node() or {}
            self.catalog.upsert_node(node.id, node._id, doc._collection, props)
            node.data = {**props, "_id": node._id, "_collection": doc._collection}
        self.catalog.upsert_document(doc._collection, doc.data)
        return doc

    def remove_document(self, doc: Document) -> None:
        """Cascade: doc + mirror node + edges
        (reference src/mongraphMongoosePlugin.coffee:34-41)."""
        sch = self.schema_of(doc._collection)
        nid = doc.get_node_id()
        if nid is not None and sch.graph_enabled and sch.hook_enabled("removeCorrespondingNode"):
            self.catalog.delete_node(nid, include_relationships=True)
        self.catalog.delete_document(doc._collection, doc._id)

    def find_document(self, collection: str, _id: str) -> dict | None:
        return self.catalog.get_document(collection, _id)

    def find_documents(self, collection: str, condition: dict | None = None) -> list[Document]:
        from mongraph_spark.mongo_expr import mongo_match

        return [
            Document(self, collection, d)
            for d in self.catalog.iter_documents(collection)
            if mongo_match(d, condition)
        ]

    def find_one(self, collection: str, condition: dict | None = None) -> Document | None:
        docs = self.find_documents(collection, condition)
        return docs[0] if docs else None

    def find_df(self, collection: str, condition: dict | None = None) -> DataFrame:
        """Distributed find: the Mongo-predicate subset compiled to a Column
        filter over the collection DataFrame (works on both store flavors;
        Catalyst pushes the resulting predicate into the scan)."""
        return filtered_documents(self.store, collection, condition)

    # -- node mirroring ------------------------------------------------------------

    def find_or_create_node(
        self, doc: Document, create: bool = False, force_reload: bool = False
    ) -> Node | None:
        nid = doc.get_node_id()
        if nid is not None and not force_reload:
            row = self.catalog.get_node(nid)
            if row is not None:
                return Node(row["node_id"], row["_id"], row["_collection"], row["props"])
        row = self.catalog.find_node_by_document(doc._collection, doc._id)
        if row is None:
            if not create:
                return None
            node_id = self.catalog.next_node_id()
            props = doc.data_for_node() or {}
            row = self.catalog.upsert_node(node_id, doc._id, doc._collection, props)
        doc.data["_node_id"] = row["node_id"]
        self.catalog.upsert_document(doc._collection, doc.data)
        return Node(row["node_id"], row["_id"], row["_collection"], row["props"])

    # -- edges ----------------------------------------------------------------------

    def create_edge(
        self, from_doc: Document, to_doc: Document, type_: str, attributes: dict[str, Any]
    ) -> Relationship:
        a = self.find_or_create_node(from_doc, create=True)
        b = self.find_or_create_node(to_doc, create=True)
        attrs = dict(attributes)
        rel_opts = self.options["relationships"]
        _from = f"{from_doc._collection}:{from_doc._id}"
        _to = f"{to_doc._collection}:{to_doc._id}"
        created = created_at_seconds() if rel_opts["storeTimestamp"] else None
        row = self.catalog.insert_edge(
            a.id, b.id, type_, attrs, _from=_from, _to=_to, _created_at=created
        )
        if rel_opts.get("bidirectional"):
            # Our interpretation of the declared option (reference
            # src/mongraph.coffee:25 declares relationships.bidirectional but
            # never consumes it — two-way edges there exist only via explicit
            # createRelationshipBetween): every created edge gets a reverse
            # mirror row.  The pairing is remembered so a traversal-matched
            # DELETE of either direction also removes its mirror.
            mirror = self.catalog.insert_edge(
                b.id, a.id, type_, attrs, _from=_to, _to=_from, _created_at=created
            )
            self._mirror_rels[row["rel_id"]] = mirror["rel_id"]
            self._mirror_rels[mirror["rel_id"]] = row["rel_id"]
        rel = Relationship(
            row["rel_id"], a.id, b.id, type_, attrs, _from, _to, row["_created_at"]
        )
        rel.from_ = from_doc.data
        rel.to = to_doc.data
        return rel

    def delete_edges(self, tq: TraversalQuery) -> int:
        rel_ids = tq.matching_rel_ids(self.store)
        if self._mirror_rels:
            # bidirectional mode: a match on one direction deletes both rows
            rel_ids = list(rel_ids)
            rel_ids += [
                self._mirror_rels[r] for r in rel_ids if r in self._mirror_rels
            ]
            rel_ids = list(dict.fromkeys(rel_ids))
            for r in rel_ids:
                self._mirror_rels.pop(r, None)
        return self.catalog.delete_edges(rel_ids)

    # -- read path: traversal + populate ----------------------------------------------

    def collect_relationships(
        self,
        tq: TraversalQuery,
        load_documents: bool = True,
        where_document: dict | None = None,
        collections: list[str] | None = None,
        reference_id: str | None = None,
        max_rows: int | None = None,
    ) -> list[Relationship]:
        """Materialize a traversal as Relationship objects (the OLTP surface).

        ``max_rows`` overrides the default OLTP collect cap for intentional
        large collects — the reference API returns all rows unconditionally,
        so callers who really want that pass an explicit bound instead of
        silently OOMing the driver.  Every read has one shape: the matched
        edges are collected first (capped), then their endpoint documents
        arrive through ONE batched lookup per touched collection
        (populate.attach_endpoint_documents), never a per-row lookup pair.
        ``where_document`` and ``collections`` ride on that lookup, and the
        rows whose endpoints fail them are dropped on the driver; so the cap
        counts the edges the traversal matched, before the document
        predicate.  On a MutableCatalog the whole read runs no Spark job.
        """
        from mongraph_spark.sparkutil import OLTP_COLLECT_CAP

        rows = bounded_collect(
            tq.apply(self.store.edges_df()),
            cap=max_rows if max_rows is not None else OLTP_COLLECT_CAP,
            context="Mongraph.collect_relationships",
        )
        if not load_documents:
            return relationships(rows)
        rows, docs = attach_endpoint_documents(
            self.store, rows, where_document, collections, reference_id
        )
        return relationships(rows, docs)

    # -- shortest path ------------------------------------------------------------------

    def shortest_path(
        self,
        src_node_id: int,
        dst_node_id: int,
        types: list[str] | None = None,
        *,
        direction: str = "outgoing",
        max_hops: int = LEVEL_DEEPNESS,
    ) -> list[int] | None:
        return bfs_shortest_path(self.store, src_node_id, dst_node_id, types, direction, max_hops)

    # -- raw cypher-subset passthrough ----------------------------------------------------

    def query_graph(self, cypher_query: str, options: dict | None = None, cb: Callable | None = None):
        from mongraph_spark.cypher_mini import execute_cypher

        if options is None:
            options = {}
        # mutate the caller's dict: the reference hands breadcrumbs back
        # through the options object (debug.cypher[], src/extendDocument.coffee:484-486)
        options.setdefault("debug", {}).setdefault("cypher", []).append(cypher_query)
        result = execute_cypher(self, cypher_query, options)
        if cb is not None:
            cb(None, result, options)
        return result

    # -- stats used by tests ---------------------------------------------------------------

    def count_nodes(self) -> int:
        return self.catalog.node_count()

    def count_edges(self) -> int:
        return self.catalog.edge_count()
