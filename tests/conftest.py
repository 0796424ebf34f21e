"""Shared fixtures: one SparkSession per test run + the reference's
deterministic micro-graph (reference test/tests.coffee:95-113, FIXTURES.md)."""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mongraph_spark import Mongraph
from mongraph_spark.schema import CollectionSchema, FieldSpec
from mongraph_spark.sparkutil import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mongraph-tests")
    yield s


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)``: ``fn()`` and the ids of the Spark jobs it
    started, read by job tag."""
    sc = spark.sparkContext

    def run(fn):
        tag = f"jobs-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            out = fn()
        finally:
            sc.removeJobTag(tag)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return out, list(jsc.statusTracker().getJobIdsForTag(tag))

    return run


@pytest.fixture()
def engine(spark):
    """Fresh engine with the alice/bob/charles/zoe fixture graph:

    knows: alice->bob{since:years}, zoe->alice{since:months}, bob->charles,
           charles->zoe, bob->zoe; visits: alice->bar, alice->pub.
    """
    eng = Mongraph(spark)
    eng.register_collection(
        CollectionSchema(
            name="people",
            fields={"name": FieldSpec(type=str, graph=True)},
            virtuals={"fullname": lambda d: f"{d['name']} {d['name'][0]}."},
        )
    )
    eng.register_collection(
        CollectionSchema(
            name="locations",
            fields={
                "name": FieldSpec(type=str),
                "lon": FieldSpec(type=float),
                "lat": FieldSpec(type=float),
            },
        )
    )
    eng.register_collection(
        CollectionSchema(
            name="messages",
            fields={
                "message": FieldSpec(
                    fields={
                        "title": FieldSpec(type=str, graph=True, index=True),
                        "content": FieldSpec(type=str),
                    }
                ),
                "from": FieldSpec(type=str, graph=True),
                "my_id": FieldSpec(type=int, graph=True, index=True),
            },
        )
    )
    docs = {}
    for n in ["alice", "bob", "charles", "zoe"]:
        docs[n] = eng.create_document("people", {"name": n}).save()
    docs["bar"] = eng.create_document(
        "locations", {"name": "Bar", "lon": 52.51, "lat": 13.49}
    ).save()
    docs["pub"] = eng.create_document("locations", {"name": "Pub", "lon": 40.0, "lat": 10.0}).save()

    docs["alice"].create_relationship_to(docs["bob"], "knows", {"since": "years"})
    docs["zoe"].create_relationship_to(docs["alice"], "knows", {"since": "months"})
    docs["bob"].create_relationship_to(docs["charles"], "knows")
    docs["charles"].create_relationship_to(docs["zoe"], "knows")
    docs["bob"].create_relationship_to(docs["zoe"], "knows")
    docs["alice"].create_relationship_to(docs["bar"], "visits")
    docs["alice"].create_relationship_to(docs["pub"], "visits")
    eng.fixture_docs = docs
    return eng
