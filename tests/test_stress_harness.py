"""Registry drift guard for tools/stress.py, with no Spark job: a renamed
query or table fails here instead of on the next stress run."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from conftest import SF_ORACLE
from tools import stress

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_importing_the_tools_starts_no_session():
    code = (
        "import tools.stress, tools.store_probe\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=120)


def test_every_planned_query_resolves_in_the_registry():
    registry = entrymod._all()[0]
    assert set(stress.VARIANTS) <= set(stress.PLAN)
    assert not set(stress.VARIANTS) & set(registry)
    unknown = [q for q in stress.PLAN if q not in registry and q not in stress.VARIANTS]
    assert not unknown, unknown
    for shape, tables in stress.PLAN.values():
        assert shape in stress.SHAPES
        assert set(tables) <= set(stress.TABLES), tables


def test_every_replicated_table_and_key_exists():
    for table, (row_id, keys, _) in stress.TABLES.items():
        path = os.path.join(SF_ORACLE, f"{table}.parquet")
        assert os.path.isfile(path), path
        columns = pq.read_schema(path).names
        for col in filter(None, (row_id, *keys)):
            assert col in columns, (table, col)
