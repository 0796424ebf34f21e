"""Populate: the cross-store document lookups (SURVEY.md §2.4).

The reference loads, per graph result row, each endpoint document with an
N+1 ``findOne`` (reference src/processtools.coffee:119-256) and *drops the
whole relationship row* when an endpoint fails the document predicate or the
collection filter.  A per-document read has one shape here: collect the
traversal's edges, then :func:`attach_endpoint_documents` looks up their
endpoint documents, one batched ``_id IN (...)`` lookup per touched
collection, not one per row.  A ``where.document`` or ``collection`` option
rides on the same lookup as a pass flag, and rows whose endpoints fail are
dropped on the driver.  On a catalog view the edge collect and every lookup
fold into the views' ``LocalRelation``s and run no Spark job.  The plans are
SQL text (``filter(str)``, ``selectExpr``): ``_id``s enter through
``sparkutil.sql_string``.

:func:`semi_populate` is the same drop rule as a declarative plan, for
DataFrame callers: two left-semi joins of the edges against the
predicate-filtered ``(collection, _id)`` keys, the predicate pushed into each
document scan.  :func:`enrich_edges` is the typed join form for homogeneous
bulk edge sets.  The reference document itself is exempt from the predicate
(reference src/processtools.coffee:171,194,201).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongraph_spark.catalog import GraphStore
from mongraph_spark.mongo_expr import mongo_to_column
from mongraph_spark.node import Relationship
from mongraph_spark.sparkutil import bounded_collect, sql_string


def split_locator(col: Column) -> tuple[Column, Column]:
    """Split a ``"<collection>:<_id>"`` composite (extractCollectionAndId,
    reference src/processtools.coffee:56-57); the ``_id`` of a locator
    without ``:`` is null (``getItem`` raises there under ANSI)."""
    parts = F.split(col, ":", 2)
    return parts.getItem(0), F.get(parts, 1)


def with_endpoint_locators(edges: DataFrame) -> DataFrame:
    fc, fi = split_locator(F.col("_from"))
    tc, ti = split_locator(F.col("_to"))
    return (
        edges.withColumn("_from_collection", fc)
        .withColumn("_from_id", fi)
        .withColumn("_to_collection", tc)
        .withColumn("_to_id", ti)
    )


def document_predicate(df: DataFrame, where_document: dict[str, Any] | None) -> Column | None:
    """A Mongo predicate over ``df``'s documents as one Column, or None.  A
    predicate on a field the frame lacks matches nothing, as in Mongo, and
    is never an analysis error."""
    if not where_document:
        return None
    cols = set(df.columns)

    def resolve(field: str) -> Column:
        if field.split(".")[0] not in cols:
            return F.lit(None).cast("string")
        return F.col(field)

    return mongo_to_column(where_document, resolver=resolve)


def filtered_documents(
    store: GraphStore,
    collection: str,
    where_document: dict[str, Any] | None,
    reference_id: str | None = None,
) -> DataFrame:
    """``collection``'s documents matching a Mongo predicate (compiled to a
    Column filter Catalyst pushes into the scan); ``reference_id``'s
    document always matches."""
    df = store.documents_df(collection)
    pred = document_predicate(df, where_document)
    if pred is None:
        return df
    if reference_id is not None:
        # the anchor document always survives the predicate
        pred = pred | (F.col("_id") == F.lit(reference_id))
    return df.filter(pred)


def semi_populate(
    store: GraphStore,
    edges: DataFrame,
    where_document: dict[str, Any] | None = None,
    collections: list[str] | None = None,
    reference_id: str | None = None,
) -> DataFrame:
    """Distributed drop-semantics populate: keep only edges whose *both*
    endpoints exist in their (predicate-filtered) collections.

    ``collections`` restricts which collections may appear at the non-anchor
    endpoint (the reference's ``options.collection`` skip,
    src/processtools.coffee:173,196) — endpoints in other collections fail,
    and so do endpoints in a collection the store has no frame for.

    Plan shape: exactly two left-semi joins (one per endpoint side) against a
    single union of (collection, _id) key pairs — not one join per collection.
    Semi joins keep the edge schema intact; the key-pair side is two narrow
    columns, so it broadcasts cheaply even when document tables are huge.
    """
    e = with_endpoint_locators(edges)
    frames = store.frame_collections()
    touched = [c for c in collections or frames if c in frames]

    keys: DataFrame | None = None
    for coll in touched:
        part = filtered_documents(store, coll, where_document, reference_id).select(
            F.lit(coll).alias("__coll"), F.col("_id").alias("__doc_id")
        )
        keys = part if keys is None else keys.unionByName(part)
    if keys is None:
        return edges.limit(0)

    for side in ("_from", "_to"):
        cond = (F.col(f"{side}_collection") == keys["__coll"]) & (
            F.col(f"{side}_id") == keys["__doc_id"]
        )
        if reference_id is not None:
            # the anchor document endpoint always survives
            anchor_side = e.filter(F.col(f"{side}_id") == F.lit(reference_id))
            e = anchor_side.unionByName(
                e.filter(F.col(f"{side}_id") != F.lit(reference_id)).join(
                    keys, cond, "left_semi"
                )
            )
        else:
            e = e.join(keys, cond, "left_semi")
    return e.drop("_from_collection", "_from_id", "_to_collection", "_to_id")


def attach_endpoint_documents(
    store: GraphStore,
    rows: list,
    where_document: dict[str, Any] | None = None,
    collections: list[str] | None = None,
    reference_id: str | None = None,
) -> tuple[list, dict[str, str]]:
    """Look up the endpoint documents of collected edge ``rows``: one
    batched lookup per touched collection, the replacement for the
    reference's per-relationship ``findOne`` pair
    (src/processtools.coffee:184-212).

    Returns the rows kept and ``{"<collection>:<_id>": doc_json}`` for every
    ``_from``/``_to`` locator whose document exists.  Each lookup is one
    ``_id IN (...)`` filter plus a ``to_json(struct(...))`` projection over
    the collection's frame: over a catalog view Catalyst folds both into the
    ``LocalRelation`` and the collect runs no Spark job; over a bulk store
    it is one filtered scan.  A locator without a ``:``, a missing document
    and a collection the store has no frame for all leave the endpoint
    unpopulated (``None``), as a failed point lookup would.  A duplicate
    ``_id`` raises instead of fanning the edge out; the collect is capped at
    the number of ids asked for.

    With ``where_document`` or ``collections`` the lookup also projects
    whether each document passes, and a row is kept only when both its
    endpoints pass: the drop rule of :func:`semi_populate`.  An endpoint
    passes when its ``_id`` is ``reference_id`` (the anchor, in any
    collection), or when its document exists in a collection with a frame,
    listed in ``collections`` (all of them when None) and matches
    ``where_document``.  With no such collection no row is kept.
    """
    check = bool(where_document or collections)
    frames = store.frame_collections()
    touched = {c for c in collections or frames if c in frames}
    if check and not touched:
        return [], {}
    wanted: dict[str, set[str]] = {}
    for r in rows:
        for loc in (r._from, r._to):
            coll, sep, _id = (loc or "").partition(":")
            if sep:
                wanted.setdefault(coll, set()).add(_id)
    docs: dict[str, str] = {}
    passed: set[str] = set()
    for coll in wanted.keys() & set(frames):
        ids = wanted[coll]
        d = store.documents_df(coll)
        lookup = d.filter(f"_id IN ({', '.join(sql_string(i) for i in sorted(ids))})")
        fields = ", ".join("`" + c.replace("`", "``") + "`" for c in d.columns)
        flag = "false"
        if check and coll in touched:
            pred = document_predicate(d, where_document)
            flag = "true"
            if pred is not None:
                # longer than every field name: it replaces no field, and
                # the struct of the fields leaves it out
                flag = "__pass" + "_" * max(len(c) for c in d.columns)
                lookup = lookup.withColumn(flag, pred)
        found = bounded_collect(
            lookup.selectExpr("_id", f"to_json(struct({fields}))", flag),
            cap=len(ids),
            context=f"attach_endpoint_documents({coll!r})",
        )
        for _id, doc, ok in found:
            loc = f"{coll}:{_id}"
            if loc in docs:
                raise RuntimeError(f"collection {coll!r} holds _id {_id!r} twice")
            docs[loc] = doc
            if ok:
                passed.add(loc)
    if check:

        def passes(loc: str | None) -> bool:
            _, sep, _id = (loc or "").partition(":")
            return bool(sep) and (_id == reference_id or loc in passed)

        rows = [r for r in rows if passes(r._from) and passes(r._to)]
    return rows, docs


def relationships(rows: list, docs: dict[str, str] | None = None) -> list[Relationship]:
    """Relationship objects for collected edge rows; with ``docs`` (from
    :func:`attach_endpoint_documents`) each carries its endpoint documents."""
    out = []
    for r in rows:
        rel = Relationship(
            r.rel_id, r.src, r.dst, r.type, dict(r.props or {}), r._from, r._to, r._created_at
        )
        if docs is not None:
            rel.from_ = json.loads(docs[r._from]) if r._from in docs else None
            rel.to = json.loads(docs[r._to]) if r._to in docs else None
        out.append(rel)
    return out


def enrich_edges(
    store: GraphStore,
    edges: DataFrame,
    from_collection: str,
    to_collection: str,
    where_from: dict[str, Any] | None = None,
    where_to: dict[str, Any] | None = None,
    reference_id: str | None = None,
    from_prefix: str = "from_",
    to_prefix: str = "to_",
) -> DataFrame:
    """Typed enrichment join for homogeneous edge sets: attach both endpoint
    documents' columns (prefixed).  Inner joins ⇒ reference drop semantics
    (an endpoint failing its predicate drops the whole edge row).

    Per-side predicates generalize the reference's single ``where.document``
    (pass the same dict to both for exact reference behavior)."""
    e = with_endpoint_locators(edges).filter(
        (F.col("_from_collection") == from_collection)
        & (F.col("_to_collection") == to_collection)
    )
    fdocs = filtered_documents(store, from_collection, where_from, reference_id)
    tdocs = filtered_documents(store, to_collection, where_to, reference_id)
    fdocs = fdocs.select([F.col(c).alias(f"{from_prefix}{c}") for c in fdocs.columns])
    tdocs = tdocs.select([F.col(c).alias(f"{to_prefix}{c}") for c in tdocs.columns])
    out = e.join(fdocs, e["_from_id"] == fdocs[f"{from_prefix}_id"], "inner")
    out = out.join(tdocs, out["_to_id"] == tdocs[f"{to_prefix}_id"], "inner")
    return out.drop("_from_collection", "_from_id", "_to_collection", "_to_id")
