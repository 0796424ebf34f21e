"""TraversalQuery IR + planner: 1-hop graph queries as DataFrame plans.

This is the engine's realization of the reference's core operator
``queryRelationships`` (reference src/extendDocument.coffee:64-120): a 1-hop
Cypher match with direction / type / end-node / predicate / count options.
Here the "Cypher" never exists — the options *are* the logical plan, compiled
straight to SQL-text filters on the edges DataFrame (node ids through
``int()``, types through ``sparkutil.sql_string``).  Catalyst then pushes the
filters into the scan (at scale: partition-prune on ``type``, min/max skip
on ``src``/``dst``).

Direction semantics (reference src/extendDocument.coffee:103-104):
``incoming`` → edges whose ``dst`` is the anchor; ``outgoing`` → ``src`` is
the anchor; ``both`` → either side, each edge row matched once (Cypher
``-[r]-`` returns one row per edge even when both endpoints are the anchor).

Count semantics (reference src/extendDocument.coffee:74-77,
test/tests.coffee:523-531): ``count='r'|'a'|'*'`` → row count,
``count_distinct='a'`` → exact distinct other-endpoint count.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongraph_spark.catalog import GraphStore
from mongraph_spark.mongo_expr import cypher_where_to_sql, mongo_to_column
from mongraph_spark.sparkutil import sql_string

WILDCARD_TYPES = ("*", ":", "", None)


def parse_types(type_of_relationship: str | list[str] | None) -> list[str] | None:
    """Normalize the reference's type argument: ``'*'``/``':'``/empty → all
    types; ``'LOVE|KNOW'`` union strings split on ``'|'``
    (reference src/extendDocument.coffee:71, README.md:82)."""
    if type_of_relationship in WILDCARD_TYPES:
        return None
    if isinstance(type_of_relationship, (list, tuple)):
        return list(type_of_relationship)
    s = str(type_of_relationship).lstrip(":")
    if s in ("", "*"):
        return None
    return s.split("|")


def types_condition(types: list[str]) -> str:
    """``type = <t>`` or ``type IN (...)`` as SQL text, each type through
    ``sql_string``; Catalyst folds the literals, so a scan partitioned on
    ``type`` still prunes."""
    lits = ", ".join(sql_string(t) for t in types)
    return f"type = {lits}" if len(types) == 1 else f"type IN ({lits})"


@dataclass
class TraversalQuery:
    """Logical plan for a 1-hop relationship query."""

    anchor: int | None = None  # anchor node_id; None = any (queryGraph over all)
    direction: str = "both"  # incoming | outgoing | both
    types: list[str] | None = None  # None = wildcard
    end_node: int | None = None  # pin the other endpoint
    where_relationship: str | dict | None = None  # cypher-ish string or mongo dict
    action: str = "RETURN"  # RETURN | DELETE
    count: str | None = None  # 'r' | 'a' | '*'
    count_distinct: str | None = None  # 'a'
    debug: dict = field(default_factory=dict)

    # -- plan construction ----------------------------------------------------

    def edge_predicate(self) -> str | None:
        """The anchor, end-node and type conditions as SQL text (None when
        there are none).  Node ids enter through ``int()`` and types through
        ``sql_string``, so nothing else reaches the parser."""
        conds: list[str] = []
        nid = None if self.anchor is None else int(self.anchor)
        if nid is not None:
            if self.direction == "incoming":
                conds.append(f"dst = {nid}")
            elif self.direction == "outgoing":
                conds.append(f"src = {nid}")
            else:
                conds.append(f"(src = {nid} OR dst = {nid})")
        if self.end_node is not None:
            other = int(self.end_node)
            if self.direction == "incoming":
                conds.append(f"src = {other}")
            elif self.direction == "outgoing":
                conds.append(f"dst = {other}")
            elif nid is not None:
                conds.append(
                    f"((src = {nid} AND dst = {other}) OR (src = {other} AND dst = {nid}))"
                )
            else:
                conds.append(f"(src = {other} OR dst = {other})")
        if self.types is not None:
            conds.append(types_condition(self.types))
        return " AND ".join(conds) or None

    def _relationship_where(self) -> Column:
        w = self.where_relationship
        if isinstance(w, dict):
            return mongo_to_column(w, resolver=lambda f: F.col("props")[f])
        sql = cypher_where_to_sql(str(w), {"r": "props"})
        self.debug.setdefault("where", []).append(sql)
        return F.expr(sql)

    def apply(self, edges: DataFrame) -> DataFrame:
        """Compile to a DataFrame over ``edges``; adds an ``other`` column
        holding the non-anchor endpoint's node_id (Cypher's ``b``).

        The plan is SQL text (``filter(str)``, ``selectExpr``), not nested
        ``F.*`` Columns: in classic PySpark every ``F.*`` call is a few py4j
        round trips, which is most of a per-document request's planning.
        Only ``where.relationship`` keeps its Column (or ``F.expr``) form,
        as its own filter, which Catalyst merges with the first."""
        pred = self.edge_predicate()
        out = edges if pred is None else edges.filter(pred)
        if self.where_relationship is not None:
            out = out.filter(self._relationship_where())
        other = "dst"
        if self.anchor is not None:
            other = f"CASE WHEN src = {int(self.anchor)} THEN dst ELSE src END"
        return out.selectExpr("*", f"CAST({other} AS BIGINT) AS other")

    # -- execution -------------------------------------------------------------

    def run(self, store: GraphStore) -> DataFrame:
        df = self.apply(store.edges_df())
        if self.count_distinct is not None:
            return df.selectExpr("count(DISTINCT other) AS count")
        if self.count is not None:
            return df.selectExpr("count(1) AS count")
        return df

    def matching_rel_ids(self, store: GraphStore) -> list[int]:
        """Collect matched edge ids — the write-back set for DELETE actions
        (OLTP path: the MutableCatalog needs driver-side ids; the collect is
        bounded by the per-document edge fan-out, and hard-capped so a hub
        node can't silently pull an unbounded id list onto the driver)."""
        from mongraph_spark.sparkutil import bounded_collect

        rows = bounded_collect(
            self.apply(store.edges_df()).selectExpr("rel_id"),
            context="TraversalQuery.matching_rel_ids",
        )
        return [r.rel_id for r in rows]

    def surviving_edges(self, edges: DataFrame) -> DataFrame:
        """Distributed DELETE write-back (reference DELETE semantics,
        src/extendDocument.coffee:303-349, at bulk scale): the surviving edge
        set is the input anti-joined against the matched set — no ids ever
        reach the driver, and writing this DataFrame back IS the delete.
        Catalyst collapses the match-then-anti-join into a single negated
        filter scan when the predicate is deterministic (no shuffle at all)."""
        matched = self.apply(edges).selectExpr("rel_id")
        return edges.join(matched, "rel_id", "left_anti")
