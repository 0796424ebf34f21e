"""Mini-Cypher subset: every production the reference emits (SURVEY.md §3.4)
parses and executes with reference semantics."""

from __future__ import annotations

import pytest

from mongraph_spark.cypher_mini import CypherSubsetError, parse


def test_parse_onehop_outgoing():
    q = parse("START a = node(1) MATCH (a)-[r:knows]->(b) RETURN r;")
    assert q["starts"] == {"a": [1]}
    assert q["direction"] == "outgoing"
    assert q["types"] == ["knows"]
    assert q["action"] == "RETURN"


def test_parse_onehop_incoming_union_types():
    q = parse("START a = node(7) MATCH (a)<-[r:LOVE|KNOW]-(b) RETURN r;")
    assert q["direction"] == "incoming"
    assert q["types"] == ["LOVE", "KNOW"]


def test_parse_onehop_both_with_endnode():
    q = parse("START a = node(1), b = node(2) MATCH (a)-[r]-(b) RETURN r;")
    assert q["direction"] == "both"
    assert q["types"] is None
    assert q["starts"]["b"] == [2]


def test_parse_count_forms():
    assert parse("START n=node(*) RETURN count(n);")["count"] == "n"
    q = parse("START a = node(3) MATCH (a)-[r]-(b) RETURN count(distinct a);")
    assert q["count_distinct"] == "a"


def test_parse_delete_node_template():
    q = parse("START n = node(5) OPTIONAL MATCH n-[r]-() DELETE n, r;")
    assert q["action"] == "DELETE"
    assert q["optional"] is True
    assert q["parts"] == ["n", "r"]


def test_parse_test_cleanup_template():
    q = parse("START n = node(1, 2, 3) MATCH n-[r?]-() DELETE n, r;")
    assert q["starts"]["n"] == [1, 2, 3]
    assert q["action"] == "DELETE"


def test_parse_shortest_path():
    q = parse(
        "START a = node(1), b = node(9) "
        "MATCH path = shortestPath(a-[:knows*..15]->b) RETURN path;"
    )
    assert q["shortest"] is True
    assert q["types"] == ["knows"]
    assert q["max_hops"] == 15


def test_parse_where_passthrough():
    q = parse(
        "START a = node(1) MATCH (a)-[r:visits]->(b) "
        "WHERE r.category! = 'x' RETURN r;"
    )
    assert q["where"] == "r.category! = 'x'"


def test_out_of_subset_raises():
    with pytest.raises(CypherSubsetError):
        parse("MATCH (a)-[r]->(b) RETURN r")  # no START
    with pytest.raises(CypherSubsetError):
        parse("START a = node(1) MATCH (a)-->(b) RETURN r")  # pattern outside subset


# -- execution against the fixture graph --------------------------------------


def test_execute_count_all_nodes(engine):
    assert engine.query_graph("START n=node(*) RETURN count(n);") == 6


def test_execute_onehop(engine):
    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    rels = engine.query_graph(f"START a = node({nid}) MATCH (a)-[r:visits]->(b) RETURN r;")
    assert sorted(r.to["name"] for r in rels) == ["Bar", "Pub"]


def test_execute_where(engine):
    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    rels = engine.query_graph(
        f"START a = node({nid}) MATCH (a)-[r:knows]-(b) WHERE r.since! = 'months' RETURN r;"
    )
    assert len(rels) == 1
    assert rels[0].from_["name"] == "zoe"


def test_execute_shortest_path(engine):
    d = engine.fixture_docs
    a, z = d["alice"].get_node_id(), d["zoe"].get_node_id()
    path = engine.query_graph(
        f"START a = node({a}), b = node({z}) "
        f"MATCH path = shortestPath(a-[:knows*..15]->b) RETURN path;"
    )
    assert path == [a, d["bob"].get_node_id(), z]


def test_execute_shortest_path_honours_max_hops(engine):
    """``*..N`` bounds the search: alice reaches zoe in two hops, not one."""
    d = engine.fixture_docs
    a, z = d["alice"].get_node_id(), d["zoe"].get_node_id()
    query = "START a = node({}), b = node({}) MATCH p = shortestPath(a-[:knows*..{}]->b) RETURN p;"
    assert engine.query_graph(query.format(a, z, 1)) is None
    assert engine.query_graph(query.format(a, z, 2)) == [a, d["bob"].get_node_id(), z]


def test_execute_shortest_path_honours_direction(engine):
    """The arrow picks the edge direction: against the arrows alice reaches
    zoe in one hop (zoe->alice); undirected, charles reaches alice through
    bob, where the outgoing search goes through zoe."""
    d = engine.fixture_docs
    a, b, c, z = (d[n].get_node_id() for n in ("alice", "bob", "charles", "zoe"))
    query = "START a = node({}), b = node({}) MATCH p = shortestPath(a{}b) RETURN p;"
    assert engine.query_graph(query.format(a, z, "<-[:knows*..15]-")) == [a, z]
    assert engine.query_graph(query.format(c, a, "-[:knows*..15]->")) == [c, z, a]
    assert engine.query_graph(query.format(c, a, "-[:knows*..15]-")) == [c, b, a]


def test_execute_delete_node_template(engine):
    d = engine.fixture_docs
    nid = d["bob"].get_node_id()
    nodes_before, edges_before = engine.count_nodes(), engine.count_edges()
    result = engine.query_graph(f"START n = node({nid}) OPTIONAL MATCH n-[r]-() DELETE n, r;")
    assert engine.count_nodes() == nodes_before - 1
    assert engine.count_edges() == edges_before - 3
    assert result["nodes"] == 1


def test_debug_breadcrumbs(engine):
    opts: dict = {}
    engine.query_graph("START n=node(*) RETURN count(n);", opts)
    assert opts["debug"]["cypher"] == ["START n=node(*) RETURN count(n);"]


def test_execute_collect_is_capped(engine):
    """A hub-node queryGraph must fail loudly past the OLTP collect cap —
    never silently pull an unbounded edge list onto the driver
    (VERDICT r4 #2; cap plumbed through options['maxRows'])."""
    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    with pytest.raises(RuntimeError, match="collect cap"):
        engine.query_graph(
            f"START a = node({nid}) MATCH (a)-[r]-(b) RETURN r;",
            {"maxRows": 1},
        )


def test_execute_document_loads_are_one_join_not_per_row(engine, monkeypatch):
    """Endpoint documents arrive via ONE batched lookup per collection
    (populate.attach_endpoint_documents), never a find_document pair per
    collected relationship — the reference's N+1 populate anti-pattern
    (src/processtools.coffee:184-212) must not be reproduced."""
    calls = {"find_document": 0, "attach": 0}
    orig_find = engine.find_document

    def counting_find(collection, _id):
        calls["find_document"] += 1
        return orig_find(collection, _id)

    monkeypatch.setattr(engine, "find_document", counting_find)

    import mongraph_spark.cypher_mini as cm

    orig_attach = cm.attach_endpoint_documents

    def counting_attach(store, rows):
        calls["attach"] += 1
        return orig_attach(store, rows)

    monkeypatch.setattr(cm, "attach_endpoint_documents", counting_attach)

    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    rels = engine.query_graph(f"START a = node({nid}) MATCH (a)-[r]-(b) RETURN r;")
    assert len(rels) == 4  # bob<-knows, zoe->knows, visits bar+pub
    assert all(r.from_ is not None and r.to is not None for r in rels)
    assert calls["find_document"] == 0
    assert calls["attach"] == 1


def test_execute_load_documents_false_skips_join(engine):
    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    rels = engine.query_graph(
        f"START a = node({nid}) MATCH (a)-[r:visits]->(b) RETURN r;",
        {"loadDocuments": False},
    )
    assert len(rels) == 2
    assert all(r.from_ is None and r.to is None for r in rels)
