"""bulk_graph: eleven registered graph queries over the build-once graph
store (``graphs.tpch``), on TPC-H-shaped tables generated from the seed.

One pass runs each query once and collects its rows.  An untimed warm pass
pins a fingerprint per query (row count plus an order-independent row
hash) and checks it against the query's DuckDB oracle; the rows of every
timed run must then have the pinned fingerprint, which is computed after
the run's timer stopped.  (Checking the timed runs' own rows, rather than
materializing them with the noop writer and re-running every query in a
check pass, saves that pass: a run must stay short.)
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import statistics
from concurrent.futures import Future, ThreadPoolExecutor
from decimal import Decimal

import datagen
from workload import Context, Op

SCAN_QUERIES = [
    "populate_enrich", "populate_semi_regex", "g1_traversal_forms",
    "g_delete_survivors", "m9_denormalize", "g8_shortest_paths",
    "g9_cypher_onehop", "doc_find_predicates",
]
# graph_eigenvector_centrality is left out: at ~3 s warm and ~4.5 s cold it
# alone would add a quarter to every run, and the three loops kept already
# drive pregel.iterate.
LOOP_QUERIES = ["graph_pagerank", "graph_cc_converged", "graph_kcore"]
QUERIES = SCAN_QUERIES + LOOP_QUERIES
CHECK_THREADS = 4
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _norm(v) -> str:
    """Engine-neutral value text: DuckDB and Spark may disagree on the
    integer/float type of a number and on its last float digits."""
    if isinstance(v, bool) or v is None:
        return str(v)
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.6g}"
    return str(v)


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    digest = hashlib.sha1("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), digest


def _oracle_fingerprints(sf_dir: str) -> dict[str, tuple[int, str]]:
    import duckdb

    from mongraph_spark.queries import graph, graph_analytics

    oracles = {**graph.ORACLES, **graph_analytics.ORACLES}
    con = duckdb.connect(config={"threads": 2})
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in QUERIES:
            cur = con.execute(oracles[q])
            out[q] = fingerprint([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def prepare(seed: int, work: str) -> Future:
    """Write the seeded tables and start the DuckDB oracles in the
    background.  Neither needs a Spark session, so they overlap its start
    (the graph_kcore oracle alone takes about nine seconds)."""
    sf_dir = os.path.join(work, "tables", "sfbench")
    datagen.write_tpch(seed, sf_dir)
    pool = ThreadPoolExecutor(1)
    try:
        return pool.submit(_oracle_fingerprints, sf_dir)
    finally:
        pool.shutdown(wait=False)


class BulkGraph:
    name = "bulk_graph"

    def __init__(self, ctx: Context) -> None:
        from mongraph_spark.queries import graph, graph_analytics

        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = os.path.join(ctx.work, "tables", "sfbench")
        self.oracle_future = ctx.prepared  # query -> DuckDB fingerprint
        self.oracle: dict[str, tuple[int, str]] = {}
        registry = {**graph.QUERIES, **graph_analytics.QUERIES}
        self.fns = {q: registry[q] for q in QUERIES}
        self.pinned: dict[str, tuple[int, str]] = {}

    def setup(self, rep: int) -> None:
        """One build of the graph store into a fresh cache directory."""
        from mongraph_spark.graphs import tpch

        os.environ["MONGRAPH_GRAPH_CACHE"] = os.path.join(self.ctx.work, f"graph_cache{rep}")
        tpch.materialized_graph(self.spark, self.sf_dir)
        if rep == 0:
            # The oracles may outlast the session start; let them finish
            # within the first, cold set-up, which the median leaves out,
            # so that they slow no later set-up.
            self.oracle = self.oracle_future.result()

    def _collect(self, q: str) -> tuple[list[str], list]:
        df = self.fns[q](self.spark, self.sf_dir)
        return df.columns, df.collect()

    def _spark_fingerprint(self, q: str) -> tuple[int, str]:
        return fingerprint(*self._collect(q))

    def _spark_fingerprints(self) -> dict[str, tuple[int, str]]:
        """Every query's fingerprint, from a pass run CHECK_THREADS queries
        at a time (untimed)."""
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            return dict(zip(QUERIES, pool.map(self._spark_fingerprint, QUERIES)))

    def warm(self) -> None:
        """The untimed first pass, checked against the DuckDB oracles."""
        got = self._spark_fingerprints()
        for q in QUERIES:
            if got[q] != self.oracle[q]:
                raise RuntimeError(f"{q}: Spark {got[q]} differs from its DuckDB oracle {self.oracle[q]}")
            if got[q][0] == 0:
                raise RuntimeError(f"{q}: returns no rows on the generated tables")
        self.pinned = got

    cycle = QUERIES

    def ops(self):
        while True:
            for q in QUERIES:
                yield Op(q, "loop" if q in LOOP_QUERIES else "scan",
                         functools.partial(self._collect, q),
                         lambda out, q=q: fingerprint(*out) == self.pinned[q])

    def verify(self) -> list[str]:
        return []  # every timed run's rows were checked

    def detail(self, records) -> dict:
        by_q = {q: [r.ms for r in records if r.kind == q] for q in QUERIES}
        return {"pass_s": sum(statistics.median(v) for v in by_q.values()) / 1000.0}

    def close(self) -> None:
        pass
