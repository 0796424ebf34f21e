"""Parser + executor for the *closed* Cypher subset the reference emits.

The reference never exposes general Cypher from its own API — every string it
generates (or its tests feed through ``queryGraph``) matches one of five
productions (SURVEY.md §3.4; templates at reference
src/extendDocument.coffee:92-109, :344-348, :360-364; test/tests.coffee:21,
:248).  This module parses exactly those shapes into the engine's
TraversalQuery / BFS plans — documented as a subset, not full Cypher.

Grammar (whitespace-insensitive):

  query      := START starts (MATCH match)? (WHERE rawexpr)? action ';'?
  starts     := ident '=' 'node(' ids | '*' ')' (',' ident '=' 'node(' ids ')')*
  match      := onehop | optdelete | shortest
  onehop     := '('a')' arrow '('b')'            # arrow embeds [r], [r:T], [r:T|U]
  optdelete  := ('OPTIONAL MATCH')? a '-[r?]-' '()'
  shortest   := ident '=' 'shortestPath(' a arrow_varlen b ')'
  action     := 'RETURN' parts | 'DELETE' parts
  parts      := ident (',' ident)* | 'count(' ('distinct'? ident | '*' ) ')'
"""

from __future__ import annotations

import re
from typing import Any

from mongraph_spark.paths import LEVEL_DEEPNESS
from mongraph_spark.populate import attach_endpoint_documents, relationships
from mongraph_spark.sparkutil import OLTP_COLLECT_CAP, bounded_collect

_START_ITEM = re.compile(
    r"(?P<ident>[a-zA-Z_]\w*)\s*=\s*node\(\s*(?P<ids>\*|[\d\s,]+)\s*\)", re.I
)
_REL_PATTERN = re.compile(
    r"(?P<left><-|-)\s*\[\s*(?P<rident>[a-zA-Z_]\w*)?\s*(?P<q>\?)?\s*"
    r"(?::(?P<types>[\w|]+))?\s*(?P<varlen>\*(?:\.\.(?P<maxhops>\d+))?)?\s*\]\s*(?P<right>->|-)"
)
_SHORTEST = re.compile(
    r"(?P<pident>[a-zA-Z_]\w*)\s*=\s*shortestPath\(\s*(?P<inner>.+?)\s*\)", re.I
)
_ACTION = re.compile(r"\b(?P<action>RETURN|DELETE)\b\s*(?P<parts>.+?);?\s*$", re.I | re.S)
_COUNT = re.compile(r"count\(\s*(?P<distinct>distinct\s+)?(?P<arg>\*|[a-zA-Z_]\w*)\s*\)", re.I)
_WHERE = re.compile(r"\bWHERE\b(?P<expr>.+?)(?=\bRETURN\b|\bDELETE\b)", re.I | re.S)
_MATCH = re.compile(r"\b(?:OPTIONAL\s+)?MATCH\b(?P<body>.+?)(?=\bWHERE\b|\bRETURN\b|\bDELETE\b)", re.I | re.S)


class CypherSubsetError(ValueError):
    pass


def parse(cypher: str) -> dict[str, Any]:
    """Parse into a plan dict; raises CypherSubsetError outside the subset."""
    q: dict[str, Any] = {
        "starts": {},
        "direction": None,
        "types": None,
        "optional": False,
        "shortest": False,
        "max_hops": None,
        "where": None,
        "action": None,
        "parts": [],
        "count": None,
        "count_distinct": None,
    }
    if not re.search(r"\bSTART\b", cypher, re.I):
        raise CypherSubsetError(f"unsupported cypher (no START): {cypher!r}")
    for m in _START_ITEM.finditer(cypher):
        ids = m.group("ids")
        if ids.strip() == "*":
            q["starts"][m.group("ident")] = "*"
        else:
            q["starts"][m.group("ident")] = [int(x) for x in re.findall(r"\d+", ids)]

    mm = _MATCH.search(cypher)
    if mm:
        body = mm.group("body").strip()
        q["optional"] = bool(re.search(r"OPTIONAL\s+MATCH", cypher, re.I))
        sp = _SHORTEST.search(body)
        if sp:
            q["shortest"] = True
            body = sp.group("inner")
        rel = _REL_PATTERN.search(body)
        if rel is None:
            raise CypherSubsetError(f"unsupported MATCH pattern: {body!r}")
        left, right = rel.group("left"), rel.group("right")
        if left == "<-" and right == "-":
            q["direction"] = "incoming"
        elif left == "-" and right == "->":
            q["direction"] = "outgoing"
        else:
            q["direction"] = "both"
        if rel.group("types"):
            q["types"] = rel.group("types").split("|")
        if rel.group("varlen"):
            q["max_hops"] = int(rel.group("maxhops") or 15)
        # endpoint identifiers around the arrow, e.g. (a)<-[r]-(b) or n-[r?]-()
        pre = body[: rel.start()].strip().strip("()")
        post = body[rel.end():].strip().strip("()")
        q["left_ident"] = pre.split()[-1] if pre else None
        q["right_ident"] = post.split()[0] if post else None
        q["rel_ident"] = rel.group("rident")

    wm = _WHERE.search(cypher)
    if wm:
        q["where"] = wm.group("expr").strip()

    am = _ACTION.search(cypher)
    if am is None:
        raise CypherSubsetError(f"no RETURN/DELETE action: {cypher!r}")
    q["action"] = am.group("action").upper()
    parts_str = am.group("parts").strip()
    cm = _COUNT.search(parts_str)
    if cm:
        if cm.group("distinct"):
            q["count_distinct"] = cm.group("arg")
        else:
            q["count"] = cm.group("arg")
    else:
        q["parts"] = [p.strip() for p in parts_str.split(",")]
    return q


def cypher_to_dataframe(engine, cypher: str):
    """Compile a subset 1-hop RETURN query to its DataFrame plan (the
    distributed path — no collection; bulk stores use this)."""
    from mongraph_spark.traversal import TraversalQuery

    q = parse(cypher)
    if q["shortest"] or q["action"] != "RETURN" or q["count"] or q["count_distinct"]:
        raise CypherSubsetError("cypher_to_dataframe only handles 1-hop RETURN queries")
    anchor = end_node = None
    li, ri = q.get("left_ident"), q.get("right_ident")
    if li in q["starts"] and q["starts"][li] != "*":
        anchor = q["starts"][li][0]
    if ri in q["starts"] and q["starts"][ri] != "*":
        end_node = q["starts"][ri][0]
    tq = TraversalQuery(
        anchor=anchor,
        direction=q["direction"] or "both",
        types=q["types"],
        end_node=end_node,
        where_relationship=q["where"],
    )
    return tq.apply(engine.store.edges_df())


def execute_cypher(engine, cypher: str, options: dict | None = None):
    """Run a parsed subset query against the engine's store."""
    from pyspark.sql import functions as F

    from mongraph_spark.traversal import TraversalQuery

    options = options or {}
    q = parse(cypher)
    store = engine.store
    edges = store.edges_df()

    # -- node-universe count: START n=node(*) RETURN count(n) ----------------
    if q["action"] == "RETURN" and (q["count"] or q["count_distinct"]) and q["direction"] is None:
        ident = q["count"] or q["count_distinct"]
        if ident in q["starts"] or ident == "*":
            ids = q["starts"].get(ident, "*")
            ndf = store.nodes_df()
            if ids != "*" and ids is not None:
                ndf = ndf.filter(F.col("node_id").isin(ids))
            return ndf.count()
        raise CypherSubsetError(f"cannot count unbound identifier {ident!r}")

    # -- shortestPath -----------------------------------------------------------
    if q["shortest"]:
        left_ids = q["starts"].get(q.get("left_ident") or "a")
        right_ids = q["starts"].get(q.get("right_ident") or "b")
        if not left_ids or not right_ids or left_ids == "*" or right_ids == "*":
            raise CypherSubsetError("shortestPath needs two pinned start nodes")
        hops = LEVEL_DEEPNESS if q["max_hops"] is None else q["max_hops"]
        return engine.shortest_path(
            left_ids[0], right_ids[0], q["types"], direction=q["direction"], max_hops=hops
        )

    # -- delete-node template: START n=node(ids) [OPTIONAL] MATCH n-[r?]-() DELETE n, r
    if q["action"] == "DELETE" and q["parts"]:
        anchor_ident = q.get("left_ident")
        ids = None
        for ident, val in q["starts"].items():
            if val != "*":
                ids = val
                anchor_ident = ident
                break
        deleted = {"nodes": 0, "relationships": 0}
        if ids is None:
            raise CypherSubsetError("DELETE requires pinned start nodes")
        delete_nodes = anchor_ident in q["parts"]
        delete_rels = q.get("rel_ident") in q["parts"] if q.get("rel_ident") else False
        for nid in ids:
            if delete_rels:
                tq = TraversalQuery(anchor=nid, direction="both")
                deleted["relationships"] += engine.delete_edges(tq)
            if delete_nodes:
                engine.catalog.delete_node(nid, include_relationships=False)
                deleted["nodes"] += 1
        return deleted

    # -- 1-hop traversal ---------------------------------------------------------
    anchor = None
    end_node = None
    li, ri = q.get("left_ident"), q.get("right_ident")
    if li in q["starts"] and q["starts"][li] != "*":
        anchor = q["starts"][li][0]
    if ri in q["starts"] and q["starts"][ri] != "*":
        end_node = q["starts"][ri][0]
    tq = TraversalQuery(
        anchor=anchor,
        direction=q["direction"] or "both",
        types=q["types"],
        end_node=end_node,
        where_relationship=q["where"],
        count=("r" if q["count"] else None),
        count_distinct=("other" if q["count_distinct"] else None),
    )
    if q["count"] or q["count_distinct"]:
        return int(tq.run(store).collect()[0]["count"])
    if q["action"] == "DELETE":
        return engine.delete_edges(tq)

    rows = bounded_collect(
        tq.apply(edges),
        cap=options.get("maxRows", OLTP_COLLECT_CAP),
        context="Mongraph.queryGraph",
    )
    # ONE batched lookup per touched collection after the collect — not a
    # find_document pair per collected row (the reference's N+1 populate
    # anti-pattern, src/processtools.coffee:184-212, solved by construction).
    if not options.get("loadDocuments", True):
        return relationships(rows)
    return relationships(*attach_endpoint_documents(store, rows))
