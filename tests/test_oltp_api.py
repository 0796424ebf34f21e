"""Behavioral contract ported from the reference suite
(reference test/tests.coffee; expected answers pinned in FIXTURES.md §2)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from mongraph_spark.catalog import MutableCatalog
from mongraph_spark.document import MongraphError, NoGraphabilityError
from mongraph_spark.schema import CollectionSchema, FieldSpec


def names(rels, side):
    return sorted((getattr(r, side) or {}).get("name") for r in rels)


# -- traversal basics (tests.coffee:504-543) ---------------------------------


def test_all_relationships_knows(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.all_relationships("knows")
    assert len(rels) == 2


def test_incoming_relationships(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.incoming_relationships("knows")
    assert len(rels) == 1
    assert rels[0].from_["name"] == "zoe"
    assert rels[0].data["since"] == "months"


def test_outgoing_relationships(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.outgoing_relationships("knows")
    assert len(rels) == 1
    assert rels[0].to["name"] == "bob"
    assert rels[0].data["since"] == "years"


def test_wildcard_and_union_types(engine):
    alice = engine.fixture_docs["alice"]
    assert len(alice.all_relationships("*")) == 4  # 2 knows + 2 visits
    assert len(alice.all_relationships("knows|visits")) == 4
    assert len(alice.all_relationships("visits")) == 2


def test_relationships_between(engine):
    d = engine.fixture_docs
    rels = d["alice"].all_relationships_between(d["bob"], "knows")
    assert len(rels) == 1
    # A->B plus B->A yields 2 rows (tests.coffee:535-543)
    d["bob"].create_relationship_to(d["alice"], "knows")
    rels = d["alice"].all_relationships_between(d["bob"], "knows")
    assert len(rels) == 2


def test_incoming_from_outgoing_to(engine):
    d = engine.fixture_docs
    assert len(d["alice"].outgoing_relationships_to(d["bob"], "knows")) == 1
    assert len(d["alice"].incoming_relationships_from(d["bob"], "knows")) == 0
    assert len(d["alice"].incoming_relationships_from(d["zoe"], "knows")) == 1


# -- counts (tests.coffee:523-531) --------------------------------------------


def test_count_forms_invariant(engine):
    d = engine.fixture_docs
    # add parallel + bidirectional edges so the inequality is strict
    d["alice"].create_relationship_between(d["bob"], "knows")
    count_star = d["alice"].query_relationships("*", {"count": "*"})
    count_a = d["alice"].query_relationships("*", {"count": "a"})
    count_distinct = d["alice"].query_relationships("*", {"countDistinct": "a"})
    assert count_distinct < count_a <= count_star


# -- populate options (tests.coffee:566-604) -----------------------------------


def test_collection_filter(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.outgoing_relationships("*", {"collection": "locations"})
    assert names(rels, "to") == ["Bar", "Pub"]


def test_document_predicate_regex(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.outgoing_relationships(
        "*", {"where": {"document": {"name": re.compile(r"^[A-Z]")}}}
    )
    assert names(rels, "to") == ["Bar", "Pub"]


def test_document_predicate_drops_row(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.outgoing_relationships("*", {"where": {"document": {"name": "Bar"}}})
    # bob fails the predicate -> knows edge dropped; alice exempt as reference
    assert len(rels) == 1
    assert rels[0].to["name"] == "Bar"


def test_load_documents_false(engine):
    alice = engine.fixture_docs["alice"]
    rels = alice.outgoing_relationships("*", {"loadDocuments": False})
    assert len(rels) == 3  # bob + bar + pub
    assert all(r.from_ is None and r.to is None for r in rels)


# -- relationship predicate (tests.coffee:756-764) -------------------------------


def test_relationship_where_string(engine):
    d = engine.fixture_docs
    d["alice"].create_relationship_to(d["bob"], "plays", {"instrument": "guitar"})
    d["alice"].create_relationship_to(d["zoe"], "plays", {"instrument": "drums"})
    rels = d["alice"].query_relationships(
        "plays", {"where": {"relationship": "r.instrument = 'guitar'"}}
    )
    assert len(rels) == 1
    assert rels[0].to["name"] == "bob"


def test_relationship_where_null_tolerant(engine):
    d = engine.fixture_docs
    # `r.since! = 'years'` must not error on edges lacking the property
    rels = d["alice"].query_relationships(
        "*", {"where": {"relationship": "r.since! = 'years'"}}
    )
    assert len(rels) == 1


# -- shortest path (tests.coffee:624-648) ------------------------------------------


def test_shortest_path(engine):
    d = engine.fixture_docs
    path = d["alice"].shortest_path_to(d["zoe"], "knows")
    assert [p["name"] for p in path] == ["alice", "bob", "zoe"]


def test_shortest_path_with_predicate(engine):
    d = engine.fixture_docs
    path = d["alice"].shortest_path_to(
        d["zoe"], "knows", {"where": {"document": {"name": re.compile("o")}}}
    )
    assert [p["name"] for p in path] == ["bob", "zoe"]


def test_shortest_path_no_route(engine):
    d = engine.fixture_docs
    # visits edges only go alice->locations; no knows path zoe->bar
    assert d["zoe"].shortest_path_to(d["bar"], "knows") is None


def test_shortest_path_releases_its_hop_cuts(engine, spark):
    """The search leaves no persisted RDD behind, whether it found a route
    or ran out of frontier."""
    d = engine.fixture_docs

    def persisted():
        # by id, not count: the context cleaner may free an earlier test's
        # RDDs while the search runs
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    before = persisted()
    assert d["alice"].shortest_path_to(d["zoe"], "knows") is not None
    assert d["zoe"].shortest_path_to(d["bar"], "knows") is None
    assert persisted() - before == set()


# -- creation semantics (tests.coffee:419-430) ---------------------------------------


def test_create_relationship_between_two_edges(engine):
    d = engine.fixture_docs
    before = engine.count_edges()
    d["charles"].create_relationship_between(d["bar"], "likes")
    assert engine.count_edges() == before + 2
    assert len(d["charles"].incoming_relationships("likes")) == 1
    assert len(d["charles"].outgoing_relationships("likes")) == 1


def test_edge_bookkeeping_columns(engine):
    d = engine.fixture_docs
    rel = d["alice"].outgoing_relationships("knows")[0]
    assert rel._from == f"people:{d['alice']._id}"
    assert rel._to == f"people:{d['bob']._id}"
    assert rel._created_at is not None and rel._created_at > 0


# -- deletes + cascade (tests.coffee:114-130, G11-G15) --------------------------------


def test_remove_relationships(engine):
    d = engine.fixture_docs
    d["alice"].remove_relationships("knows")
    assert len(d["alice"].all_relationships("knows")) == 0
    assert len(d["alice"].all_relationships("visits")) == 2  # untouched


def test_remove_relationships_to(engine):
    d = engine.fixture_docs
    d["bob"].remove_relationships_to(d["zoe"], "knows")
    assert len(d["bob"].outgoing_relationships_to(d["zoe"], "knows")) == 0
    assert len(d["bob"].outgoing_relationships_to(d["charles"], "knows")) == 1


def test_remove_node_cascade_conservation(engine):
    d = engine.fixture_docs
    nodes_before, edges_before = engine.count_nodes(), engine.count_edges()
    d["bob"].remove()  # bob has 3 knows edges
    assert engine.count_nodes() == nodes_before - 1
    assert engine.count_edges() == edges_before - 3
    assert engine.find_document("people", d["bob"]._id) is None


def test_remove_node_keeps_document(engine):
    d = engine.fixture_docs
    d["alice"].remove_node()
    assert d["alice"].get_node_id() is None
    assert engine.find_document("people", d["alice"]._id) is not None


# -- mirror node lifecycle (tests.coffee:306, :379-394) ---------------------------------


def test_node_ids_positive_and_stable(engine):
    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    assert nid is not None and nid > 0
    assert d["alice"].get_node().id == nid  # stable across calls


def test_unsaved_document_refuses_node(engine):
    doc = engine.create_document("people", {"name": "ghost"})
    with pytest.raises(MongraphError):
        doc.find_corresponding_node()


def test_node_accessors(engine):
    d = engine.fixture_docs
    node = d["alice"].get_node()
    assert node.get_collection_name() == "people"
    assert node.get_mongo_id() == d["alice"]._id
    assert node.get_document(engine)["name"] == "alice"


# -- prop sync / flattening (tests.coffee:650-718) ----------------------------------------


def test_data_for_node_flattening(engine):
    msg = engine.create_document(
        "messages",
        {"message": {"title": "hello", "content": "secret"}, "from": "alice", "my_id": 7},
    ).save()
    data = msg.data_for_node()
    assert data == {"message.title": "hello", "from": "alice", "my_id": 7}
    assert msg.data_for_node(index=True) == {"message.title": "hello", "my_id": 7}


def test_data_for_node_none_when_nothing_opted_in(engine):
    loc = engine.fixture_docs["bar"]
    assert loc.data_for_node() is None  # tests.coffee:652-653


def test_prop_sync_on_save_and_unset(engine):
    msg = engine.create_document(
        "messages", {"message": {"title": "t1", "content": "c"}, "from": "a", "my_id": 1}
    ).save()
    node = engine.catalog.get_node(msg.get_node_id())
    assert node["props"]["message.title"] == "t1"
    # delete a field -> node key removed on next save (plugin :56-58)
    msg.update(unset=["message.title"])
    node = engine.catalog.get_node(msg.get_node_id())
    assert "message.title" not in node["props"]
    assert node["props"]["from"] == "a"


def test_index_graph_errors(engine):
    bar = engine.fixture_docs["bar"]  # locations: nothing opted in
    with pytest.raises(MongraphError):
        bar.index_graph()
    alice = engine.fixture_docs["alice"]
    alice.remove_node()
    with pytest.raises(MongraphError):
        alice.index_graph()


# -- denormalization M9 (tests.coffee:720-736) ----------------------------------------------


def test_apply_graph_relationships(engine):
    alice = engine.fixture_docs["alice"]
    grouped = alice.apply_graph_relationships()
    assert sorted(grouped) == ["knows", "visits"]
    assert len(grouped["knows"]) == 2
    assert len(grouped["visits"]) == 2
    entry = grouped["visits"][0]
    assert entry["from"]["collection"] == "people"
    assert entry["to"]["collection"] == "locations"
    # persisted into the document
    stored = engine.find_document("people", alice._id)
    assert sorted(stored["_relationships"]) == ["knows", "visits"]


# -- graphability opt-outs (tests.coffee:313-364) --------------------------------------------


def test_graphability_false(engine):
    engine.register_collection(CollectionSchema(name="plain", graphability=False))
    doc = engine.create_document("plain", {"name": "x"}).save()
    assert doc.get_node_id() is None
    with pytest.raises(NoGraphabilityError):
        doc.create_relationship_to(engine.fixture_docs["alice"], "t")
    with pytest.raises(NoGraphabilityError):
        doc.all_relationships()


def test_graphability_hook_disabled(engine):
    engine.register_collection(
        CollectionSchema(
            name="halfgraph",
            fields={"name": FieldSpec(type=str)},
            graphability={"findAndConnectCorrespondingNode": False},
        )
    )
    doc = engine.create_document("halfgraph", {"name": "x"}).save()
    assert doc.get_node_id() is None  # save hook skipped


# -- virtuals (tests.coffee:64, :635-639) ------------------------------------------------------


def test_virtual_fields(engine):
    assert engine.fixture_docs["alice"].virtual("fullname") == "alice a."


# -- callback trio (SURVEY §7 hard part 5) -----------------------------------------------------


def test_callback_trio(engine):
    alice = engine.fixture_docs["alice"]
    seen = {}

    def cb(err, rels, options):
        seen["err"], seen["rels"], seen["options"] = err, rels, options

    alice.all_relationships("knows", cb=cb)
    assert seen["err"] is None
    assert len(seen["rels"]) == 2
    assert "debug" in seen["options"]


# -- distributed find + cypher->DataFrame (bulk path) ---------------------------


def test_find_df_distributed(engine):
    import re as _re

    df = engine.find_df("people", {"name": {"$regex": "^[ab]"}})
    assert sorted(r.name for r in df.collect()) == ["alice", "bob"]
    # predicate on a missing field matches nothing, never errors
    assert engine.find_df("people", {"nope": "x"}).count() == 0


def test_cypher_to_dataframe(engine):
    from mongraph_spark.cypher_mini import cypher_to_dataframe

    d = engine.fixture_docs
    nid = d["alice"].get_node_id()
    df = cypher_to_dataframe(
        engine, f"START a = node({nid}) MATCH (a)-[r:visits]->(b) RETURN r;"
    )
    assert df.count() == 2
    assert set(r.type for r in df.collect()) == {"visits"}


# -- relationships.bidirectional option (reference src/mongraph.coffee:25,
# -- behavior mirrored from test/tests.coffee:419-430) --------------------------


def test_bidirectional_edges(spark):
    from mongraph_spark import Mongraph
    from mongraph_spark.schema import CollectionSchema, FieldSpec

    eng = Mongraph(spark, relationships={"bidirectional": True})
    eng.register_collection(
        CollectionSchema(name="people", fields={"name": FieldSpec(type=str, graph=True)})
    )
    a = eng.create_document("people", {"name": "a"}).save()
    b = eng.create_document("people", {"name": "b"}).save()
    a.create_relationship_to(b, "knows")
    # one logical edge, stored as two directed rows
    assert eng.count_edges() == 2
    assert len(a.outgoing_relationships("knows")) == 1
    assert len(a.incoming_relationships("knows")) == 1
    assert len(b.outgoing_relationships("knows")) == 1
    assert len(b.incoming_relationships("knows")) == 1
    # default engine stays unidirectional
    eng2 = Mongraph(spark)
    eng2.register_collection(
        CollectionSchema(name="people", fields={"name": FieldSpec(type=str, graph=True)})
    )
    c = eng2.create_document("people", {"name": "c"}).save()
    d = eng2.create_document("people", {"name": "d"}).save()
    c.create_relationship_to(d, "knows")
    assert eng2.count_edges() == 1
    assert len(c.incoming_relationships("knows")) == 0


def test_bidirectional_delete_removes_mirror(spark):
    """Deleting relationships matched in ONE direction must also remove the
    mirror rows created by relationships.bidirectional — no orphaned
    reverse edges."""
    from mongraph_spark import Mongraph
    from mongraph_spark.schema import CollectionSchema, FieldSpec

    eng = Mongraph(spark, relationships={"bidirectional": True})
    eng.register_collection(
        CollectionSchema(name="people", fields={"name": FieldSpec(type=str, graph=True)})
    )
    a = eng.create_document("people", {"name": "a"}).save()
    b = eng.create_document("people", {"name": "b"}).save()
    c = eng.create_document("people", {"name": "c"}).save()
    a.create_relationship_to(b, "knows")
    a.create_relationship_to(c, "likes")
    assert eng.count_edges() == 4  # two logical edges, two mirror rows

    # matched as a->b outgoing only; the b->a mirror must go too
    a.remove_relationships_to(b, "knows")
    assert eng.count_edges() == 2
    assert len(b.outgoing_relationships("knows")) == 0
    assert len(a.incoming_relationships("knows")) == 0
    # the unrelated bidirectional pair survives intact
    assert len(a.outgoing_relationships("likes")) == 1
    assert len(c.outgoing_relationships("likes")) == 1


def test_bounded_collect_cap(spark):
    """The OLTP point-op surface hard-caps driver-side collects: under the
    cap everything comes back; over it the guard raises instead of pulling
    an unbounded row set onto the driver (VERDICT r3 #6)."""
    import pytest

    from mongraph_spark.sparkutil import bounded_collect

    df = spark.range(100)
    assert len(bounded_collect(df, cap=100)) == 100
    with pytest.raises(RuntimeError, match="collect cap"):
        bounded_collect(df, cap=10, context="test")
    # the cap is pushed into the plan as a limit, not filtered driver-side
    assert "GlobalLimit 11" in df.limit(11)._jdf.queryExecution().optimizedPlan().toString()


# -- derived views: Arrow local relations ------------------------------------------------------


def _views(cat, collection="people"):
    return {
        "nodes": cat.nodes_df(),
        "edges": cat.edges_df(),
        "documents": cat.documents_df(collection),
    }


def _plan_and_lineage(df):
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.toRdd().toDebugString()


def test_views_are_local_relations(engine):
    """Every catalog view is a LocalRelation: no Python worker re-reads it."""
    for name, df in _views(engine.catalog).items():
        plan, lineage = _plan_and_lineage(df)
        assert plan.startswith("LocalRelation"), (name, plan)
        assert "PythonRDD" not in lineage, (name, lineage)


def _shuffle_bytes(spark, job_ids) -> int:
    """Shuffle bytes read plus written by the stages of ``job_ids``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = 0
    for job in job_ids:
        info = sc.statusTracker().getJobInfo(job)
        for stage in info.stageIds if info else []:
            s = store.lastStageAttempt(stage)
            total += s.shuffleReadBytes() + s.shuffleWriteBytes()
    return total


def test_route_runs_two_jobs_per_hop_and_no_shuffle(engine, spark_jobs):
    """On a catalog a hop is the frontier's broadcast plus one collect of
    ``frontier ⋈ edges``: a 2-hop route runs at most 4 jobs and shuffles
    nothing."""
    d = engine.fixture_docs
    path, jobs = spark_jobs(lambda: d["alice"].shortest_path_to(d["zoe"], "knows"))
    assert [p["name"] for p in path] == ["alice", "bob", "zoe"]
    assert 1 <= len(jobs) <= 2 * 2, jobs
    assert _shuffle_bytes(engine.spark, jobs) == 0


def test_route_hop_past_the_collect_cap_raises(engine, monkeypatch):
    """A hop whose expansion exceeds the collect cap fails loudly; it never
    returns a path built from a truncated expansion.  alice's first hop
    reaches one node (bob), the second two (charles, zoe)."""
    from mongraph_spark import paths

    d = engine.fixture_docs
    a, z = d["alice"].get_node_id(), d["zoe"].get_node_id()
    monkeypatch.setattr(paths, "OLTP_COLLECT_CAP", 1)
    assert engine.shortest_path(a, d["bob"].get_node_id(), ["knows"]) is not None
    with pytest.raises(RuntimeError, match="OLTP collect cap"):
        engine.shortest_path(a, z, ["knows"])
    monkeypatch.setattr(paths, "OLTP_COLLECT_CAP", 2)
    assert engine.shortest_path(a, z, ["knows"]) == [a, d["bob"].get_node_id(), z]


def test_populated_reads_run_no_spark_job(engine, spark_jobs):
    """On a catalog the edge collect and the endpoint lookups fold into the
    views' LocalRelations: a populated browse runs no Spark job at all, with
    a where.document or collection option too (it rides on the lookup)."""
    d = engine.fixture_docs
    alice = d["alice"]
    reads = {
        "out": (lambda: alice.outgoing_relationships(), ["Bar", "Pub", "bob"]),
        "in": (lambda: alice.incoming_relationships(), ["alice"]),
        "all": (lambda: alice.all_relationships(), ["Bar", "Pub", "alice", "bob"]),
        "to": (lambda: alice.outgoing_relationships_to(d["bob"]), ["bob"]),
        "where": (
            lambda: alice.outgoing_relationships("*", {"where": {"document": {"name": "Bar"}}}),
            ["Bar"],
        ),
        "collection": (
            lambda: alice.outgoing_relationships("*", {"collection": "locations"}),
            ["Bar", "Pub"],
        ),
    }
    for name, (read, to_names) in reads.items():
        rels, jobs = spark_jobs(read)
        assert names(rels, "to") == to_names, name
        assert all(r.from_ is not None for r in rels), name
        assert jobs == [], (name, jobs)


def test_outgoing_browse_makes_few_py4j_calls(engine, monkeypatch):
    """A browse's plans are SQL text, not nested F.* Columns (each F.* call
    is a few py4j round trips): an outgoing browse on the fixture, views
    built, makes at most 60 gateway calls.  Releases of Java objects are
    not counted: py4j sends them whenever Python frees a handle, so they
    mostly belong to earlier work."""
    alice = engine.fixture_docs["alice"]
    alice.outgoing_relationships()
    client = engine.spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            calls.append(command.split("\n", 2)[:2])
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    rels = alice.outgoing_relationships()
    monkeypatch.undo()
    assert names(rels, "to") == ["Bar", "Pub", "bob"]
    assert len(calls) <= 60, calls


def test_typed_traversal_prunes_type_partitions(engine, tmp_path):
    """Types enter the plan as hex-cast literals; Catalyst folds them, so a
    typed traversal over edges partitioned by type still prunes."""
    from mongraph_spark.catalog import BulkGraph
    from mongraph_spark.traversal import TraversalQuery

    spark, cat = engine.spark, engine.catalog
    cat.edges_df().write.partitionBy("type").parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))
    bulk = BulkGraph(spark, cat.nodes_df(), edges)
    for types in (["visits"], ["visits", "plays"]):
        df = TraversalQuery(anchor=engine.fixture_docs["alice"].get_node_id(), types=types).apply(
            bulk.edges_df()
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*type#\d+ (=|IN) \(?visits", plan), plan
        assert sorted(r.type for r in df.collect()) == ["visits", "visits"]


def test_view_rebuild_verifies_only_changed_rows(engine, monkeypatch):
    """After one insert_edge the edges view rebuild type-checks that one
    row, not the whole view; a mistyped row staged after a build still
    raises at the next build."""
    cat, d = engine.catalog, engine.fixture_docs
    cat.edges_df()
    checked = []
    make = T._make_type_verifier

    def counting(dtype, *args, **kwargs):
        verify = make(dtype, *args, **kwargs)
        if not isinstance(dtype, T.StructType):
            return verify

        def check(obj):
            checked.append(obj)
            return verify(obj)

        return check

    monkeypatch.setattr(T, "_make_type_verifier", counting)
    a, z = d["alice"].get_node_id(), d["zoe"].get_node_id()
    cat.insert_edge(a, z, "knows", {"since": "today"})
    assert cat.edges_df().count() == 8
    assert [row[1:4] for row in checked] == [(a, z, "knows")]
    cat.delete_edges([1])
    cat.edges_df()
    assert len(checked) == 1
    cat.insert_edge(a, z, 3)
    with pytest.raises(TypeError):
        cat.edges_df()
    with pytest.raises(TypeError):
        cat.edges_df()


def test_bulk_populated_read_runs_one_job_per_collection(engine, tmp_path, spark_jobs):
    """On a bulk store a populated read is the edge collect plus one
    ``_id IN`` lookup per touched collection.  Each table here is one
    parquet file, so each collect is one job (a multi-partition source adds
    bounded_collect's take scale-up jobs on top)."""
    from mongraph_spark import Mongraph

    spark, cat = engine.spark, engine.catalog
    frames = {"nodes": cat.nodes_df(), "edges": cat.edges_df()}
    frames.update({c: cat.documents_df(c) for c in cat.frame_collections()})
    for name, df in frames.items():
        df.coalesce(1).write.parquet(str(tmp_path / name))
    read = {name: spark.read.parquet(str(tmp_path / name)) for name in frames}
    docs = {c: read[c] for c in cat.frame_collections()}
    bulk = Mongraph.from_dataframes(spark, read["nodes"], read["edges"], docs)
    nid = engine.fixture_docs["alice"].get_node_id()
    rels, jobs = spark_jobs(
        lambda: bulk.query_graph(f"START a = node({nid}) MATCH (a)-[r]->(b) RETURN r;")
    )
    assert names(rels, "to") == ["Bar", "Pub", "bob"]
    assert names(rels, "from_") == ["alice"] * 3
    assert 1 <= len(jobs) <= 1 + 2, jobs  # the edges, then people and locations


def test_schemaless_collection_leaves_populated_reads_working(engine):
    """A collection created without a schema has no frame.  Populated reads
    and document predicates on other collections keep working: they only
    look at the collections a frame can be built for."""
    engine.create_document("scratchpad", {"note": "x"}).save()
    alice = engine.fixture_docs["alice"]
    assert names(alice.outgoing_relationships(), "to") == ["Bar", "Pub", "bob"]
    assert names(alice.all_relationships("knows"), "from_") == ["alice", "zoe"]
    where = {"where": {"document": {"name": "Bar"}}}
    assert names(alice.outgoing_relationships("*", where), "to") == ["Bar"]
    assert names(alice.outgoing_relationships("*", {"collection": "scratchpad"}), "to") == []


def test_locator_without_collection_reads_unpopulated(engine):
    """An edge whose _to has no ':' keeps its row unpopulated and fails a
    document predicate; splitting it no longer raises INVALID_ARRAY_INDEX
    under ANSI."""
    alice, bob = engine.fixture_docs["alice"], engine.fixture_docs["bob"]
    engine.catalog.insert_edge(
        alice.get_node_id(), bob.get_node_id(), "odd", _from=f"people:{alice._id}", _to="nocolon"
    )
    (rel,) = alice.outgoing_relationships("odd")
    assert rel.from_["name"] == "alice" and rel.to is None
    assert alice.outgoing_relationships("odd", {"where": {"document": {"name": "bob"}}}) == []


def test_endpoint_lookup_rejects_duplicate_ids(spark):
    """A document frame holding one _id twice fails the lookup loudly
    instead of fanning the edge out into two rows."""
    from pyspark.sql import Row

    from mongraph_spark.catalog import BulkGraph
    from mongraph_spark.populate import attach_endpoint_documents

    docs = spark.createDataFrame([("a", 1), ("a", 2)], "_id string, n long")
    store = BulkGraph(spark, None, None, {"c": docs})
    with pytest.raises(RuntimeError, match="twice"):
        attach_endpoint_documents(store, [Row(_from="c:a", _to="c:missing")])


_TYPED = T.StructType(
    [T.StructField("_id", T.StringType(), False), T.StructField("n", T.LongType(), True)]
)


@pytest.mark.parametrize(
    "doc", [{"_id": "a", "n": 2.5}, {"_id": "a", "n": True}, {"_id": None, "n": 1}]
)
def test_view_build_rejects_mistyped_rows(spark, doc):
    """The row check createDataFrame applies to Python rows still runs:
    Arrow alone would store 2.5 or True as a long, or a null _id."""
    cat = MutableCatalog(spark)
    cat.register_collection("c", _TYPED)
    cat.upsert_document("c", doc)
    with pytest.raises((TypeError, ValueError)):
        cat.documents_df("c")


def test_view_build_keeps_exact_values(spark):
    cat = MutableCatalog(spark)
    cat.register_collection("c", _TYPED)
    cat.upsert_document("c", {"_id": "a", "n": 2**62 + 1})
    cat.upsert_document("c", {"_id": "b", "n": None})
    assert sorted(cat.documents_df("c").collect()) == [("a", 2**62 + 1), ("b", None)]


_PEOPLE = T.StructType(
    [
        T.StructField("_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField(
            "addr",
            T.StructType(
                [T.StructField("city", T.StringType()), T.StructField("zip", T.LongType())]
            ),
            True,
        ),
        T.StructField("tags", T.ArrayType(T.StructType([T.StructField("t", T.StringType())]))),
        T.StructField(
            "links", T.MapType(T.StringType(), T.StructType([T.StructField("w", T.LongType())]))
        ),
        T.StructField("_node_id", T.LongType(), True),
    ]
)


def _filled_catalog(spark, n=40):
    cat = MutableCatalog(spark)
    cat.register_collection("people", _PEOPLE)
    for i in range(1, n + 1):
        # structs arrive as dicts or positional tuples, like createDataFrame takes them
        addr = {"city": f"c{i % 3}", "zip": i} if i % 2 else (f"c{i % 3}", i)
        tags = [("t",)] * (i % 3) if i % 2 else None
        links = {f"p{i + 1}": (i,)} if i % 2 else {f"p{i + 1}": {"w": i}}
        doc = {"_id": f"p{i}", "name": f"n{i}", "addr": addr, "tags": tags, "links": links}
        cat.upsert_document("people", dict(doc, _node_id=i))
        cat.upsert_node(i, f"p{i}", "people", {"name": f"n{i}", "odd": bool(i % 2)})
    for i in range(1, n):
        cat.insert_edge(i, i + 1, "knows", {"w": i}, _from=f"p{i}", _to=f"p{i + 1}", _created_at=i)
    return cat


def test_views_fall_back_to_arrow_rdd_above_threshold(spark):
    """Above localRelationThreshold Spark keeps the Arrow batches as an RDD:
    the same rows, still with no Python worker behind them."""
    conf = "spark.sql.execution.arrow.localRelationThreshold"
    expected = {k: sorted(df.collect()) for k, df in _views(_filled_catalog(spark)).items()}
    first = expected["documents"][0]
    assert (first.addr.city, first.tags, first.links) == ("c1", [("t",)], {"p2": (1,)})
    before = spark.conf.get(conf)
    spark.conf.set(conf, "1024")
    try:
        views = _views(_filled_catalog(spark))
        for name, df in views.items():
            plan, lineage = _plan_and_lineage(df)
            assert not plan.startswith("LocalRelation"), (name, plan)
            assert "PythonRDD" not in lineage, (name, lineage)
            assert sorted(df.collect()) == expected[name], name
    finally:
        spark.conf.set(conf, before)


def test_node_lookup_index_matches_scan(engine):
    """find_node_by_document answers from a (collection, _id) index; it
    agrees with a full scan of the nodes after save, remove_node and remove."""
    cat = engine.catalog
    d = dict(engine.fixture_docs)

    def check():
        scan = {(r._collection, r._id): r.node_id for r in cat.nodes_df().collect()}
        for doc in d.values():
            row = cat.find_node_by_document(doc._collection, doc._id)
            assert (row and row["node_id"]) == scan.get((doc._collection, doc._id)), doc._id

    check()
    d["eve"] = engine.create_document("people", {"name": "eve"}).save()
    assert cat.find_node_by_document("people", d["eve"]._id) is not None
    check()
    d["alice"].remove_node()
    assert cat.find_node_by_document("people", d["alice"]._id) is None
    check()
    d["bob"].remove()
    assert cat.find_node_by_document("people", d["bob"]._id) is None
    check()
