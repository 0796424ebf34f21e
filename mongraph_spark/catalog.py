"""Mutable document/graph catalog over immutable DataFrames.

The reference is an OLTP-ish mutable store (save / update / remove with
cascades — reference src/mongraphMongoosePlugin.coffee:34-61).  Spark
DataFrames are immutable, so mutability lives in a small driver-side staging
layer (plain Python rows), and Spark DataFrames are *derived views* rebuilt
lazily when a version counter moves.  Reads therefore always see their own
writes; the analytic operators never know the difference.

Each view is built by :func:`local_df`: the staged rows are type-checked
against the view's schema and shipped to the JVM once as an Arrow table.
Spark keeps that as a ``LocalRelation`` with real size statistics, so a scan
starts no Python worker, joins against a view plan as broadcast hash joins,
and Catalyst folds filters and projections over it on the driver.  Above
``spark.sql.execution.arrow.localRelationThreshold`` Spark itself keeps the
Arrow batches as an RDD instead, which still needs no Python worker.  The
catalog keeps each node and edge row's verified tuple, so a rebuild after a
write type-checks only the rows that write staged.

Two store flavors share one read interface:

- :class:`MutableCatalog` — driver-side staging, for the reference's OLTP
  surface (fixture-scale; every mutation is O(1) driver work).
- :class:`BulkGraph` — wraps pre-existing DataFrames (parquet scans, the
  derived TPC-H graph, 100 TB tables).  Mutations are rejected; traversal /
  populate / BFS run fully distributed.

At cluster scale the staging layer would be replaced by a transactional table
format (Delta/Iceberg); the interface below is deliberately format-agnostic.
"""

from __future__ import annotations

import itertools
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("_id", T.StringType(), False),
        T.StructField("_collection", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("rel_id", T.LongType(), False),
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("_from", T.StringType(), True),
        T.StructField("_to", T.StringType(), True),
        T.StructField("_created_at", T.LongType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _stringify_props(props: dict[str, Any] | None) -> dict[str, str] | None:
    if props is None:
        return None
    out = {}
    for k, v in props.items():
        if v is None:
            continue
        if isinstance(v, bool):
            out[k] = "true" if v else "false"
        else:
            out[k] = str(v)
    return out


def _node_tuple(r: dict[str, Any]) -> tuple:
    return (r["node_id"], r["_id"], r["_collection"], _stringify_props(r["props"]))


def _edge_tuple(r: dict[str, Any]) -> tuple:
    return (
        r["rel_id"],
        r["src"],
        r["dst"],
        r["type"],
        r["_from"],
        r["_to"],
        r["_created_at"],
        _stringify_props(r["props"]),
    )


def _arrow_value(dtype: T.DataType) -> Callable[[Any], Any] | None:
    """Converter from a value the Spark type verifier accepted to one
    ``pyarrow.array`` accepts, or None where the two already agree.

    They differ only on structs: Spark also takes a positional tuple or an
    object's attributes, Arrow takes a mapping alone."""
    if isinstance(dtype, T.StructType):
        names = dtype.fieldNames()
        subs = [_arrow_value(f.dataType) for f in dtype.fields]

        def struct(v):
            if v is None:
                return None
            if isinstance(v, Row) and hasattr(v, "__fields__"):
                v = v.asDict()
            if isinstance(v, dict):
                vals = [v.get(n) for n in names]
            elif isinstance(v, (tuple, list)):
                vals = list(v)
            else:
                vals = [getattr(v, n, None) for n in names]
            return {n: (c(x) if c else x) for n, c, x in zip(names, subs, vals)}

        return struct
    if isinstance(dtype, T.ArrayType):
        elem = _arrow_value(dtype.elementType)
        return None if elem is None else (lambda v: None if v is None else [elem(x) for x in v])
    if isinstance(dtype, T.MapType):
        key, val = _arrow_value(dtype.keyType), _arrow_value(dtype.valueType)
        if key is None and val is None:
            return None
        key, val = key or (lambda x: x), val or (lambda x: x)
        return lambda v: None if v is None else [(key(k), val(x)) for k, x in v.items()]
    return None


def local_df(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order, a
    ``StructType`` or a DDL string), shipped to the JVM as one Arrow table.

    Every row first passes PySpark's own type verifier, the check
    ``createDataFrame`` applies to Python rows: Arrow alone would silently
    coerce ``2.5`` into a ``long`` column, or accept a null in a
    non-nullable one."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = T._make_type_verifier(schema)
    rows = list(rows)
    for row in rows:
        verify(row)
    return _arrow_df(spark, rows, schema)


def _arrow_df(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """The Arrow half of :func:`local_df`, for rows already verified."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(schema.fields):
        convert = _arrow_value(field.dataType)
        values = [r[i] for r in rows] if convert is None else [convert(r[i]) for r in rows]
        columns.append(pa.array(values, type=arrow_schema.field(i).type))
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema=schema)


class GraphStore:
    """Read interface every operator is written against."""

    spark: SparkSession

    def nodes_df(self) -> DataFrame:
        raise NotImplementedError

    def edges_df(self) -> DataFrame:
        raise NotImplementedError

    def documents_df(self, collection: str) -> DataFrame:
        raise NotImplementedError

    def collection_names(self) -> list[str]:
        raise NotImplementedError

    def frame_collections(self) -> list[str]:
        """The collections ``documents_df`` can build a frame for."""
        return self.collection_names()


class BulkGraph(GraphStore):
    """Immutable store over existing DataFrames (the scale path)."""

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        documents: dict[str, DataFrame] | None = None,
    ) -> None:
        self.spark = spark
        self._nodes = nodes
        self._edges = edges
        self._documents = dict(documents or {})

    def nodes_df(self) -> DataFrame:
        return self._nodes

    def edges_df(self) -> DataFrame:
        return self._edges

    def documents_df(self, collection: str) -> DataFrame:
        return self._documents[collection]

    def collection_names(self) -> list[str]:
        return list(self._documents)


class MutableCatalog(GraphStore):
    """Driver-side staging store with derived, versioned Spark views.

    Documents are Python dicts keyed by ``_id``; nodes/edges are dicts keyed
    by ``node_id`` / ``rel_id``.  ``*_df()`` rebuilds a Spark DataFrame only
    when the corresponding version counter has moved since the last build
    (read-your-writes without re-shipping unchanged data).
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._docs: dict[str, dict[str, dict[str, Any]]] = {}
        self._doc_schemas: dict[str, T.StructType] = {}
        self._nodes: dict[int, dict[str, Any]] = {}
        self._edges: dict[int, dict[str, Any]] = {}
        # (collection, _id) -> node_id of the document's one mirror node
        # (find_or_create_node keeps it one; a re-upsert re-points the key)
        self._node_by_doc: dict[tuple[str, str], int] = {}
        self._node_seq = itertools.count(1)  # tests assert _node_id > 0
        self._rel_seq = itertools.count(1)
        self._version = {"nodes": 0, "edges": 0}
        self._doc_version: dict[str, int] = {}
        self._df_cache: dict[str, tuple[int, DataFrame]] = {}
        # view -> key -> (staged row dict, its verified view tuple); a
        # rebuild verifies only rows whose dict is new since the last build
        self._verified: dict[str, dict[int, tuple[dict, tuple]]] = {"nodes": {}, "edges": {}}

    # -- registration -------------------------------------------------------

    def register_collection(self, name: str, schema: T.StructType | None = None) -> None:
        self._docs.setdefault(name, {})
        self._doc_version.setdefault(name, 0)
        if schema is not None:
            self._doc_schemas[name] = schema

    def collection_names(self) -> list[str]:
        return list(self._docs)

    def frame_collections(self) -> list[str]:
        return [c for c in self._docs if c in self._doc_schemas]

    # -- document mutations --------------------------------------------------

    def upsert_document(self, collection: str, doc: dict[str, Any]) -> dict[str, Any]:
        self.register_collection(collection)
        self._docs[collection][doc["_id"]] = doc
        self._doc_version[collection] += 1
        return doc

    def get_document(self, collection: str, _id: str) -> dict[str, Any] | None:
        return self._docs.get(collection, {}).get(_id)

    def delete_document(self, collection: str, _id: str) -> None:
        if self._docs.get(collection, {}).pop(_id, None) is not None:
            self._doc_version[collection] += 1

    def iter_documents(self, collection: str) -> Iterable[dict[str, Any]]:
        return self._docs.get(collection, {}).values()

    # -- node mutations ------------------------------------------------------

    def next_node_id(self) -> int:
        return next(self._node_seq)

    def upsert_node(
        self, node_id: int, _id: str, collection: str, props: dict[str, Any] | None = None
    ) -> dict[str, Any]:
        row = {
            "node_id": node_id,
            "_id": _id,
            "_collection": collection,
            "props": dict(props or {}),
        }
        old = self._nodes.get(node_id)
        if old is not None:
            self._unindex_node(old)
        self._nodes[node_id] = row
        self._node_by_doc[(collection, _id)] = node_id
        self._version["nodes"] += 1
        return row

    def get_node(self, node_id: int) -> dict[str, Any] | None:
        return self._nodes.get(node_id)

    def find_node_by_document(self, collection: str, _id: str) -> dict[str, Any] | None:
        node_id = self._node_by_doc.get((collection, _id))
        return None if node_id is None else self._nodes[node_id]

    def _unindex_node(self, row: dict[str, Any]) -> None:
        key = (row["_collection"], row["_id"])
        if self._node_by_doc.get(key) == row["node_id"]:
            del self._node_by_doc[key]

    def delete_node(self, node_id: int, include_relationships: bool = True) -> None:
        row = self._nodes.pop(node_id, None)
        if row is not None:
            self._unindex_node(row)
            self._version["nodes"] += 1
        if include_relationships:
            doomed = [
                rid for rid, e in self._edges.items() if e["src"] == node_id or e["dst"] == node_id
            ]
            for rid in doomed:
                del self._edges[rid]
            if doomed:
                self._version["edges"] += 1

    def node_count(self) -> int:
        return len(self._nodes)

    # -- edge mutations ------------------------------------------------------

    def next_rel_id(self) -> int:
        return next(self._rel_seq)

    def insert_edge(
        self,
        src: int,
        dst: int,
        type_: str,
        props: dict[str, Any] | None = None,
        _from: str | None = None,
        _to: str | None = None,
        _created_at: int | None = None,
    ) -> dict[str, Any]:
        rid = self.next_rel_id()
        row = {
            "rel_id": rid,
            "src": src,
            "dst": dst,
            "type": type_,
            "_from": _from,
            "_to": _to,
            "_created_at": _created_at,
            "props": dict(props or {}),
        }
        self._edges[rid] = row
        self._version["edges"] += 1
        return row

    def delete_edges(self, rel_ids: Iterable[int]) -> int:
        n = 0
        for rid in list(rel_ids):
            if self._edges.pop(rid, None) is not None:
                n += 1
        if n:
            self._version["edges"] += 1
        return n

    def get_edge(self, rel_id: int) -> dict[str, Any] | None:
        return self._edges.get(rel_id)

    def iter_edges(self) -> Iterable[dict[str, Any]]:
        return self._edges.values()

    def edge_count(self) -> int:
        return len(self._edges)

    # -- derived Spark views --------------------------------------------------

    def nodes_df(self) -> DataFrame:
        return self._cached_df("nodes", self._version["nodes"], self._build_nodes_df)

    def edges_df(self) -> DataFrame:
        return self._cached_df("edges", self._version["edges"], self._build_edges_df)

    def documents_df(self, collection: str) -> DataFrame:
        key = f"docs:{collection}"
        version = self._doc_version.get(collection, 0)
        return self._cached_df(key, version, lambda: self._build_docs_df(collection))

    def _cached_df(self, key: str, version: int, builder) -> DataFrame:
        hit = self._df_cache.get(key)
        if hit is not None and hit[0] == version:
            return hit[1]
        df = builder()
        self._df_cache[key] = (version, df)
        return df

    def _staged_view(
        self, view: str, staged: dict[int, dict], schema: T.StructType, to_tuple
    ) -> DataFrame:
        """``local_df`` over staged rows, type-checking only the rows added
        or replaced since the last build (an upsert stores a new dict)."""
        last, kept = self._verified[view], {}
        verify = None
        for key, row in staged.items():
            hit = last.get(key)
            if hit is None or hit[0] is not row:
                verify = verify or T._make_type_verifier(schema)
                hit = (row, to_tuple(row))
                verify(hit[1])
            kept[key] = hit
        self._verified[view] = kept
        return _arrow_df(self.spark, [t for _, t in kept.values()], schema)

    def _build_nodes_df(self) -> DataFrame:
        return self._staged_view("nodes", self._nodes, NODE_SCHEMA, _node_tuple)

    def _build_edges_df(self) -> DataFrame:
        return self._staged_view("edges", self._edges, EDGE_SCHEMA, _edge_tuple)

    def _build_docs_df(self, collection: str) -> DataFrame:
        docs = list(self._docs.get(collection, {}).values())
        schema = self._doc_schemas.get(collection)
        if schema is None:
            raise ValueError(
                f"collection {collection!r} needs an explicit schema to derive a DataFrame"
            )
        rows = [tuple(d.get(f.name) for f in schema.fields) for d in docs]
        return local_df(self.spark, rows, schema)
