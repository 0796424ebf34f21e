"""Graph analytics over the derived property graph (north-star scope:
"GraphX for graph analytics" — GraphX has no Python API, so these are
GraphFrames-style join-based computations over the node/edge DataFrames,
which is exactly what GraphX/GraphFrames compile to underneath).

- degree distribution: one groupBy over edges (map-side combine).
- PageRank: the Pregel pattern as DataFrame joins — contributions =
  ranks ⋈ edges, grouped by dst; a fixed 3-iteration unroll keeps the
  oracle expressible as chained SQL CTEs (no recursion).  At scale each
  iteration is one shuffle keyed on node id; lineage is cut by the
  materialized edge store being a parquet scan, and a production loop
  would cut lineage every few iterations (see pregel.iterate).

Float policy: ranks are floored to 1e-4 basis points — double error from
engine-dependent sum order is ~1e-12, vastly below the grid, so the hash
compare is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark import pregel
from mongraph_spark.catalog import local_df
from mongraph_spark.graphs import tpch
from mongraph_spark.sparkutil import (
    const_part,
    lineage_cut,
    maybe_broadcast,
    release_cut,
)

DAMPING = 0.85
N_ITER = 3


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = tpch.bulk_engine(spark, sf_dir)
    e = eng.store.edges_df()
    out_deg = e.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("node_id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    deg = out_deg.join(in_deg, "node_id", "full_outer").select(
        "node_id",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
    )
    # distribution: how many nodes have each (total degree) value
    return (
        deg.withColumn("degree", F.col("out_deg") + F.col("in_deg"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


ORACLE_DEGREE = tpch.oracle_with(
    """SELECT degree, count(*) AS n_nodes FROM (
  SELECT coalesce(o.out_deg, 0) + coalesce(i.in_deg, 0) AS degree
  FROM (SELECT src AS node_id, count(*) AS out_deg FROM g_edges GROUP BY src) o
  FULL OUTER JOIN (SELECT dst AS node_id, count(*) AS in_deg FROM g_edges GROUP BY dst) i
    ON o.node_id = i.node_id
) GROUP BY degree"""
)


def _pagerank_ranks_summary(ranks: DataFrame) -> DataFrame:
    """Aggregate rank shape per collection (top ranks are dominated by dims):
    node count, min/max/sum of rank in basis points."""
    coll = (F.col("node_id") / F.lit(10**12)).cast("long")
    return (
        ranks.withColumn("coll_code", coll)
        .groupBy("coll_code")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.floor(F.lit(10000) * F.min("rank")).cast("long").alias("min_rank_bp"),
            F.floor(F.lit(10000) * F.max("rank")).cast("long").alias("max_rank_bp"),
            F.floor(F.lit(10000) * F.sum("rank")).cast("long").alias("sum_rank_bp"),
        )
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = tpch.bulk_engine(spark, sf_dir)
    e = eng.store.edges_df().select("src", "dst")
    nodes = eng.store.nodes_df().select("node_id")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # normalize once outside the loop: each iteration is then ONE join + one
    # aggregation instead of two joins (at scale: persist e_norm partitioned
    # on src so every iteration's join reuses the same partitioning)
    e_norm = e.join(out_deg, "src").persist()
    try:

        def step(ranks):
            contribs = (
                ranks.join(e_norm, ranks["node_id"] == e_norm["src"], "inner")
                .select(F.col("dst").alias("node_id"), (F.col("rank") / F.col("out_deg")).alias("c"))
                .groupBy("node_id")
                .agg(F.sum("c").alias("contrib"))
            )
            return nodes.join(contribs, "node_id", "left").select(
                "node_id",
                (F.lit(1 - DAMPING) + F.lit(DAMPING) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
            )

        # one lazy chain of N_ITER rounds; the loop's trailing checkpoint
        # materializes before unpersist, so the caller's action never
        # replays the iterations against a gone cache
        ranks, _ = pregel.iterate(
            nodes.select("node_id", F.lit(1.0).alias("rank")),
            step,
            max_rounds=N_ITER,
            checkpoint_every=N_ITER,
        )
    finally:
        e_norm.unpersist()
    return _pagerank_ranks_summary(ranks)


# Convergence-loop constants shared by the Spark loop AND its SQL replay
# oracle (_pagerank_converged_oracle): both engines must stop at the same
# round by construction.
PR_CONV_TOL_BP = 1.0
PR_CONV_MAX_ITER = 50
PR_CONV_CHECK_EVERY = 2


def pagerank_until_convergence(
    spark: SparkSession,
    sf_dir: str,
    tol_bp: float = PR_CONV_TOL_BP,
    max_iter: int = PR_CONV_MAX_ITER,
    check_every: int = PR_CONV_CHECK_EVERY,
):
    """Production PageRank loop: iterate until max |Δrank| over a checkpoint
    group < tol_bp/10000.  ``check_every`` rounds run as ONE lazy chain
    between eager ``lineage_cut``s — lineage stays bounded at
    ``check_every`` joins, and the per-round driver-action overhead (the
    dominant cost of small iterations; at scale, the scheduler round-trip)
    is amortized across the group.  The delta test rides the checkpointed
    group output (old rank carried through the round join — no extra join).

    Returns ``(ranks DataFrame, iterations run)``.  The fixed-unroll
    :func:`graph_pagerank` stays as the oracle-expressible variant.  Loop
    mechanics (initial checkpoint, cadence, convergence-probe contract) are
    :func:`mongraph_spark.pregel.iterate`'s — shared with CC/k-core/LPA/PPR.
    """
    eng = tpch.bulk_engine(spark, sf_dir)
    e = eng.store.edges_df().select("src", "dst")
    nodes = eng.store.nodes_df().select("node_id")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e_norm = e.join(out_deg, "src").persist()
    tol = tol_bp / 10000.0

    def one_round(ranks):
        contribs = (
            ranks.join(e_norm, ranks["node_id"] == e_norm["src"], "inner")
            .select(F.col("dst").alias("node_id"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node_id")
            .agg(F.sum("c").alias("contrib"))
        )
        return ranks.select("node_id", F.col("rank").alias("old_rank")).join(
            contribs, "node_id", "left"
        ).select(
            "node_id",
            (
                F.lit(1 - DAMPING) + F.lit(DAMPING) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
            "old_rank",
        )

    def converged(cur):
        # old_rank here is the LAST round's previous rank: the per-round
        # delta shrinks monotonically under damping, so last-round delta
        # is the group's tightest bound — the correct stop signal
        delta = (
            cur.agg(F.max(F.abs(F.col("rank") - F.col("old_rank"))).alias("d"))
            .first()["d"]
        )
        return delta is not None and delta < tol

    try:
        ranks, iters = pregel.iterate(
            nodes.select("node_id", F.lit(1.0).alias("rank")),
            lambda s: one_round(s.select("node_id", "rank")),
            max_rounds=max_iter,
            checkpoint_every=check_every,
            converged=converged,
        )
        ranks = ranks.select("node_id", "rank")
    finally:
        e_norm.unpersist()
    return ranks, iters


def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: converged ranks + the round the loop actually
    stopped at (``rounds_run``) — hash-checked end to end.  The oracle
    REPLAYS the convergence rule in SQL rather than pinning a recorded
    round count: it unrolls the full {PR_CONV_MAX_ITER}-round horizon,
    computes each checkpoint-group delta (max |rank_k − rank_(k−1)| at
    every round k divisible by {PR_CONV_CHECK_EVERY} — exactly the probe
    :func:`mongraph_spark.pregel.iterate` runs on the checkpointed group
    output), and selects ranks at the FIRST round whose delta drops below
    tol.  Both engines therefore stop at the same round by construction,
    for any data; the loop mechanics themselves stay additionally pinned
    by tests/test_graph_convergence.py."""
    ranks, iters = pagerank_until_convergence(spark, sf_dir)
    return _pagerank_ranks_summary(ranks).withColumn(
        "rounds_run", F.lit(iters).cast("long")
    )


def _pagerank_unroll(n_rounds: int) -> str:
    """Shared fixed-depth unroll: CTEs nodes0/outdeg/r0..r{n}.

    Every multiply-referenced CTE is MATERIALIZED: DuckDB otherwise
    inlines CTE bodies per reference, so a deep unroll whose rounds are
    re-referenced by delta probes re-evaluates the whole chain per
    reference (quadratic work) and re-opens the backing parquet files
    per round (fd exhaustion at 50 rounds)."""
    body = """
nodes0 AS MATERIALIZED (SELECT node_id FROM g_nodes),
edges0 AS MATERIALIZED (SELECT src, dst FROM g_edges),
outdeg AS MATERIALIZED (SELECT src, count(*) AS out_deg FROM edges0 GROUP BY src),
r0 AS (SELECT node_id, 1.0 AS rank FROM nodes0)"""
    prev = "r0"
    for k in range(1, n_rounds + 1):
        body += f""",
c{k} AS (
  SELECT e.dst AS node_id, sum(r.rank / d.out_deg) AS contrib
  FROM {prev} r JOIN edges0 e ON r.node_id = e.src
  JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r{k} AS MATERIALIZED (
  SELECT n.node_id, {1 - DAMPING} + {DAMPING} * coalesce(c.contrib, 0.0) AS rank
  FROM nodes0 n LEFT JOIN c{k} c ON n.node_id = c.node_id
)"""
        prev = f"r{k}"
    return body.lstrip(",\n")


_SUMMARY_SELECT = """SELECT CAST(node_id // 1000000000000 AS BIGINT) AS coll_code,
       count(*) AS n_nodes,
       CAST(floor(10000 * min(rank)) AS BIGINT) AS min_rank_bp,
       CAST(floor(10000 * max(rank)) AS BIGINT) AS max_rank_bp,
       CAST(floor(10000 * sum(rank)) AS BIGINT) AS sum_rank_bp"""


def _pagerank_oracle() -> str:
    return tpch.oracle_with(
        f"{_SUMMARY_SELECT}\nFROM r{N_ITER}\nGROUP BY 1",
        extra_ctes=_pagerank_unroll(N_ITER),
    )


ORACLE_PAGERANK = _pagerank_oracle()


def _pagerank_converged_oracle() -> str:
    """SQL replay of pregel.iterate's convergence detection (see
    graph_pagerank_converged docstring): after every group of
    PR_CONV_CHECK_EVERY rounds the loop probes max |Δrank| of the group's
    LAST round against tol and stops on the first pass; rounds_run caps at
    PR_CONV_MAX_ITER."""
    tol = PR_CONV_TOL_BP / 10000.0
    checks = list(
        range(PR_CONV_CHECK_EVERY, PR_CONV_MAX_ITER + 1, PR_CONV_CHECK_EVERY)
    )
    deltas = "\nUNION ALL\n".join(
        f"SELECT {k} AS k, max(abs(a.rank - b.rank)) AS d"
        f" FROM r{k} a JOIN r{k - 1} b ON a.node_id = b.node_id"
        for k in checks
    )
    ranks_all = "\nUNION ALL\n".join(
        f"SELECT {k} AS k, node_id, rank FROM r{k}" for k in checks
    )
    body = f"""{_pagerank_unroll(PR_CONV_MAX_ITER)},
deltas AS (
{deltas}
),
chosen AS (
  SELECT CAST(coalesce(min(k), {PR_CONV_MAX_ITER}) AS BIGINT) AS rounds_run
  FROM deltas WHERE d < {tol!r}
),
ranks_all AS (
{ranks_all}
)"""
    return tpch.oracle_with(
        f"""{_SUMMARY_SELECT},
       ch.rounds_run
FROM ranks_all ra, chosen ch
WHERE ra.k = ch.rounds_run
GROUP BY 1, ch.rounds_run""",
        extra_ctes=body,
    )


ORACLE_PAGERANK_CONVERGED = _pagerank_converged_oracle()


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation (the GraphX/GraphFrames
    algorithm as DataFrame joins): label(v) starts as v's id; each round every
    node takes the min of its own and its neighbors' labels; fixed-point on
    the geo subgraph (in_region/located_in edges) is reached in 4 rounds
    (component diameter: customer-nation-region-nation-customer).

    Result: one component per region — count + min label per component.
    At scale each round is one shuffle keyed on node id; production loops
    checkpoint every few rounds (see paths.py BFS) and stop on a converged
    count, not a fixed unroll (fixed here so the oracle is plain CTEs).
    """
    eng = tpch.bulk_engine(spark, sf_dir)
    e = (
        eng.store.edges_df()
        .filter(F.col("type").isin("in_region", "located_in"))
        .select("src", "dst")
    )
    # undirected adjacency: each edge contributes both directions
    adj = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = adj.select(F.col("src").alias("node_id")).distinct()

    def step(labels):
        neighbor_min = (
            labels.join(adj, labels["node_id"] == adj["src"])
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return labels.join(neighbor_min, "node_id", "left").select(
            "node_id",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )

    labels, _ = pregel.iterate(
        nodes.select("node_id", F.col("node_id").alias("label")),
        step,
        max_rounds=N_CC_ROUNDS,
        checkpoint_every=N_CC_ROUNDS,
    )
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


N_CC_ROUNDS = 4


def connected_components_until_convergence(
    spark: SparkSession, sf_dir: str, max_rounds: int = 50
):
    """Production CC loop: min-label propagation until a round changes ZERO
    labels, with an eager ``lineage_cut`` per round for bounded lineage
    (the changed-count test materializes each round anyway).  Returns
    ``(labels DataFrame, rounds run)`` where rounds includes the final
    no-change round that proves the fixed point.
    """
    eng = tpch.bulk_engine(spark, sf_dir)
    e = (
        eng.store.edges_df()
        .filter(F.col("type").isin("in_region", "located_in"))
        .select("src", "dst")
    )
    adj = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    def step(labels):
        labels = labels.select("node_id", "label")
        neighbor_min = (
            labels.join(adj, labels["node_id"] == adj["src"])
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return (
            labels.select("node_id", F.col("label").alias("old_label"))
            .join(neighbor_min, "node_id", "left")
            .select(
                "node_id",
                F.least("old_label", F.coalesce("nbr_label", "old_label")).alias("label"),
                "old_label",
            )
        )

    def converged(cur):
        return cur.filter(F.col("label") != F.col("old_label")).count() == 0

    try:
        nodes = adj.select(F.col("src").alias("node_id")).distinct()
        labels, rounds = pregel.iterate(
            nodes.select("node_id", F.col("node_id").alias("label")),
            step,
            max_rounds=max_rounds,
            checkpoint_every=1,
            converged=converged,
        )
        labels = labels.select("node_id", "label")
    finally:
        adj.unpersist()
    return labels, rounds


def graph_cc_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper for the convergence-stop CC (rows-only check; the
    fixed-unroll :func:`graph_connected_components` carries the SQL oracle —
    at the fixed point both must produce identical components, which
    tests/test_graph_convergence.py asserts)."""
    labels, _ = connected_components_until_convergence(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def _cc_oracle() -> str:
    body = """
geo AS (
  SELECT src, dst FROM g_edges WHERE type IN ('in_region', 'located_in')
),
adj AS (
  SELECT src, dst FROM geo UNION ALL SELECT dst AS src, src AS dst FROM geo
),
cc_nodes AS (SELECT DISTINCT src AS node_id FROM adj),
l0 AS (SELECT node_id, node_id AS label FROM cc_nodes)"""
    prev = "l0"
    for k in range(1, N_CC_ROUNDS + 1):
        body += f""",
nm{k} AS (
  SELECT a.dst AS node_id, min(l.label) AS nbr_label
  FROM {prev} l JOIN adj a ON l.node_id = a.src
  GROUP BY a.dst
),
l{k} AS (
  SELECT l.node_id, least(l.label, coalesce(n.nbr_label, l.label)) AS label
  FROM {prev} l LEFT JOIN nm{k} n ON l.node_id = n.node_id
)"""
        prev = f"l{k}"
    return tpch.oracle_with(
        f"SELECT label AS component, count(*) AS n_nodes FROM {prev} GROUP BY label",
        extra_ctes=body.lstrip(",\n"),
    )


ORACLE_CC = _cc_oracle()


def graph_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern mining: 2-paths through an order node ⇒ part pairs co-occurring
    in one order (the triangle/motif-counting join shape — this graph is
    multipartite, so 2-paths are its densest motif).

    Built as ONE basket aggregation + a map-side combination explode
    (r13, VERDICT r12 order #8 — the pairs build had become the dominant
    phase of the Louvain family): ``collect_set`` per order replaces the
    DISTINCT **and** the self-join — the old shape scanned the contains
    list twice and shuffled it twice (distinct + join) plus a broadcast;
    this shape scans once and shuffles once, then emits each basket's
    sorted ``C(k,2)`` combinations map-side (array_sort ⇒ part_a < part_b
    by construction, collect_set ⇒ per-order dedup).  Result rows are
    identical to the self-join form (the DuckDB oracles keep it).

    At 100 TB the per-order fan-in is the classic skew risk (hot orders
    explode quadratically) — bounded here because order size is bounded
    (≤7 lines ⇒ ≤21 pairs); unbounded inputs would cap or salt per-key
    fan-out before the basket aggregation.
    """
    eng = tpch.bulk_engine(spark, sf_dir)
    contains = (
        eng.store.edges_df()
        .filter(F.col("type") == "contains")
        .select(F.col("src").alias("order_id"), F.col("dst").alias("part_id"))
    )
    baskets = contains.groupBy("order_id").agg(
        F.array_sort(F.collect_set("part_id")).alias("parts")
    )
    pair = F.explode(
        F.flatten(
            F.expr(
                "transform(parts, (x, i) -> transform("
                "slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS part_a, y AS part_b)))"
            )
        )
    )
    return (
        baskets.select(pair.alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


ORACLE_COPURCHASE = tpch.oracle_with(
    """SELECT part_a, part_b, n_orders FROM (
  SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
  FROM (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') a
  JOIN (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2
) WHERE n_orders >= 2"""
)


N_PPR_ITER = 3


def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set (the 5 region nodes), the
    recommendation/similarity primitive global PageRank can't express:
    restart mass returns to the SEEDS each round
    (``r = (1-d)·s + d·W·r`` with ``s`` uniform over seeds, zero
    elsewhere), so rank measures proximity to the seed set.  Undirected
    adjacency (both edge directions), 3-round unroll so the oracle is
    plain CTEs; the production convergence loop is
    :func:`pagerank_until_convergence` with the same round body.

    Scale shape: identical to :func:`graph_pagerank` — normalize degrees
    once, one join + one node-keyed aggregation per round — plus a
    broadcast 1-row seed count.  Output: per-collection rank mass in
    floored basis points (seeded mass concentrates in the geo subgraph,
    which is the point)."""
    eng = tpch.bulk_engine(spark, sf_dir)
    e = eng.store.edges_df().select("src", "dst")
    adj = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = eng.store.nodes_df().select("node_id")
    out_deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    adj_norm = adj.join(out_deg, "src").persist()
    try:
        is_seed = ((F.col("node_id") / F.lit(10**12)).cast("long") == 1).cast("long")
        seeded = nodes.select("node_id", is_seed.alias("seed"))
        n_seeds = seeded.agg(F.sum("seed").alias("n_seeds"))  # 1 row
        base = seeded.crossJoin(F.broadcast(n_seeds)).select(
            "node_id", (F.col("seed") / F.col("n_seeds")).alias("s")
        )
        def step(ranks):
            contribs = (
                ranks.join(adj_norm, ranks["node_id"] == adj_norm["src"], "inner")
                .select(
                    F.col("dst").alias("node_id"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("node_id")
                .agg(F.sum("c").alias("contrib"))
            )
            return base.join(contribs, "node_id", "left").select(
                "node_id",
                (
                    F.lit(1 - DAMPING) * F.col("s")
                    + F.lit(DAMPING) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
                "s",
            )

        ranks, _ = pregel.iterate(
            base.select("node_id", F.col("s").alias("rank"), "s"),
            step,
            max_rounds=N_PPR_ITER,
            checkpoint_every=N_PPR_ITER,
        )
    finally:
        adj_norm.unpersist()
    return _pagerank_ranks_summary(ranks.select("node_id", "rank"))


def _ppr_oracle() -> str:
    body = """
adj AS (
  SELECT src, dst FROM g_edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM g_edges
),
outdeg AS (SELECT src, count(*) AS out_deg FROM adj GROUP BY src),
seeds AS (
  SELECT node_id,
         CASE WHEN CAST(node_id // 1000000000000 AS BIGINT) = 1 THEN 1 ELSE 0 END AS seed
  FROM g_nodes
),
base AS (
  SELECT node_id, seed / (SELECT sum(seed) FROM seeds) AS s FROM seeds
),
p0 AS (SELECT node_id, s AS rank, s FROM base)"""
    prev = "p0"
    for k in range(1, N_PPR_ITER + 1):
        body += f""",
pc{k} AS (
  SELECT a.dst AS node_id, sum(r.rank / d.out_deg) AS contrib
  FROM {prev} r JOIN adj a ON r.node_id = a.src
  JOIN outdeg d ON a.src = d.src
  GROUP BY a.dst
),
p{k} AS (
  SELECT b.node_id, {1 - DAMPING} * b.s + {DAMPING} * coalesce(c.contrib, 0.0) AS rank, b.s
  FROM base b LEFT JOIN pc{k} c ON b.node_id = c.node_id
)"""
        prev = f"p{k}"
    return tpch.oracle_with(
        f"""SELECT CAST(node_id // 1000000000000 AS BIGINT) AS coll_code,
       count(*) AS n_nodes,
       CAST(floor(10000 * min(rank)) AS BIGINT) AS min_rank_bp,
       CAST(floor(10000 * max(rank)) AS BIGINT) AS max_rank_bp,
       CAST(floor(10000 * sum(rank)) AS BIGINT) AS sum_rank_bp
FROM {prev}
GROUP BY 1""",
        extra_ctes=body.lstrip("\n"),
    )


ORACLE_PPR = _ppr_oracle()


def graph_degree_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged evidence row: degree histogram + co-purchase pair mining as a
    tagged union, so both perennials ride ONE driver correctness row instead
    of falling off the 50-slot window edge (same merged-evidence pattern as
    ``text_metrics``).  Both legs derive from the same edge-store scan; the
    union adds no shuffle beyond what each leg already does."""
    deg = graph_degree_distribution(spark, sf_dir).select(
        F.lit("degree").alias("tag"),
        F.col("degree").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("n_nodes").cast("long").alias("n"),
    )
    pairs = graph_copurchase_pairs(spark, sf_dir).select(
        F.lit("copurchase").alias("tag"),
        F.col("part_a").cast("long").alias("a"),
        F.col("part_b").cast("long").alias("b"),
        F.col("n_orders").cast("long").alias("n"),
    )
    return deg.unionByName(pairs)


ORACLE_DEGREE_COPURCHASE = tpch.oracle_with(
    """SELECT 'degree' AS tag, CAST(degree AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,
       CAST(n_nodes AS BIGINT) AS n FROM (
  SELECT degree, count(*) AS n_nodes FROM (
    SELECT coalesce(o.out_deg, 0) + coalesce(i.in_deg, 0) AS degree
    FROM (SELECT src AS node_id, count(*) AS out_deg FROM g_edges GROUP BY src) o
    FULL OUTER JOIN (SELECT dst AS node_id, count(*) AS in_deg FROM g_edges GROUP BY dst) i
      ON o.node_id = i.node_id
  ) GROUP BY degree
)
UNION ALL
SELECT 'copurchase' AS tag, CAST(part_a AS BIGINT) AS a, CAST(part_b AS BIGINT) AS b,
       CAST(n_orders AS BIGINT) AS n FROM (
  SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
  FROM (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') a
  JOIN (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2
) WHERE n_orders >= 2"""
)


def graph_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity by neighbor-set Jaccard — the "customers who bought
    X also bought Y" recommendation primitive: for every co-purchased part
    pair, |orders(A) ∩ orders(B)| / |orders(A) ∪ orders(B)| in floored
    basis points.

    Scale shape: the intersection counts ARE the bounded-fanout co-purchase
    pair table (one inverted-list self-join, already skew-bounded by basket
    size); per-part neighbor counts broadcast onto it; union size is
    inclusion-exclusion arithmetic — no second pass over the edge data.
    Only pairs with ≥ 2 shared orders survive (the support floor that keeps
    the pair table sparse at scale)."""
    baskets = (
        tpch.bulk_engine(spark, sf_dir)
        .store.edges_df()
        .filter(F.col("type") == "contains")
        .select(F.col("src").alias("order_id"), F.col("dst").alias("part_id"))
        .distinct()
    )
    per_part = baskets.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_part"))
    pairs = graph_copurchase_pairs(spark, sf_dir)  # part_a < part_b, n_orders >= 2
    pa = per_part.select(F.col("part_id").alias("part_a"), F.col("n_part").alias("n_a"))
    pb = per_part.select(F.col("part_id").alias("part_b"), F.col("n_part").alias("n_b"))
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("n_orders").alias("n_shared"),
            F.floor(
                F.lit(10000) * F.col("n_orders")
                / (F.col("n_a") + F.col("n_b") - F.col("n_orders"))
            )
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


ORACLE_NODE_SIMILARITY = tpch.oracle_with(
    """SELECT part_a, part_b, n_shared,
       CAST(floor(10000.0 * n_shared / (ca.n_a + cb.n_b - n_shared)) AS BIGINT)
         AS jaccard_bp
FROM (
  SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_shared
  FROM baskets a JOIN baskets b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
) p
JOIN (SELECT part_id, count(*) AS n_a FROM baskets GROUP BY part_id) ca
  ON ca.part_id = p.part_a
JOIN (SELECT part_id, count(*) AS n_b FROM baskets GROUP BY part_id) cb
  ON cb.part_id = p.part_b""",
    extra_ctes="""baskets AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
)""",
)


def graph_two_hop_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop traversal (customer -[placed]-> order -[contains]-> part) over
    the *bucketed* edge store: the contains side joins on its bucket column
    (``src``), so the lineitem-scale edge partition is read in place — no
    shuffle of the big side (tests/test_storage_and_plans.py pins the plan).

    Output: distribution of distinct-part fanout per customer.
    """
    e = tpch.bucketed_edges(spark, sf_dir)
    placed = e.filter(F.col("type") == "placed").select(
        F.col("src").alias("cust"), F.col("dst").alias("order_id")
    )
    contains = e.filter(F.col("type") == "contains").select(
        F.col("src").alias("order_id"), F.col("dst").alias("part_id")
    )
    # merge hint: sort-merge join honors bucketing (broadcast would dodge the
    # demonstration and is wrong at real scale anyway — both sides are facts)
    two_hop = placed.hint("merge").join(contains, "order_id")
    per_cust = two_hop.groupBy("cust").agg(
        F.count_distinct("part_id").alias("n_parts")
    )
    return per_cust.groupBy("n_parts").agg(F.count(F.lit(1)).alias("n_customers"))


ORACLE_TWO_HOP = tpch.oracle_with(
    """SELECT n_parts, count(*) AS n_customers FROM (
  SELECT p.src AS cust, count(DISTINCT c.dst) AS n_parts
  FROM (SELECT src, dst FROM g_edges WHERE type = 'placed') p
  JOIN (SELECT src, dst FROM g_edges WHERE type = 'contains') c
    ON p.dst = c.src
  GROUP BY p.src
) GROUP BY n_parts"""
)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the co-purchase
    graph, by degree-ordered orientation (the MapReduce-era standard for
    triangle counting at scale): orient every undirected edge from the
    (degree, id)-smaller endpoint to the larger, enumerate wedges only at
    each node's out-neighbors, and close them against the undirected edge
    set.  Orientation bounds every out-degree by O(sqrt(2m)) regardless of
    how skewed the raw degree distribution is — the wedge self-join can't
    quadratically explode on a hot node, which is exactly what kills the
    naive neighbor self-join at 100 TB.

    The DuckDB oracle uses the a<b<c ordered 3-way join instead (same
    count, simpler SQL); both count each triangle exactly once.
    """
    # edges feeds deg (2x), the orientation join, both wedge sides, the
    # closure semi-join and the edge count — 7 references; without the
    # checkpoint the copurchase self-join subtree compiled 7x over
    # (146 Exchanges in the formatted plan)
    edges = (
        graph_copurchase_pairs(spark, sf_dir)
        .select("part_a", "part_b")
        .transform(lineage_cut)
    )
    deg = (
        edges.select(F.col("part_a").alias("node"))
        .unionAll(edges.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(lineage_cut)
    )
    # orientation: u -> v  iff  (deg(u), u) < (deg(v), v); deg is small
    # (one row per part) -> broadcast both endpoint lookups
    da = deg.select(F.col("node").alias("part_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("part_b"), F.col("deg").alias("deg_b"))
    with_deg = edges.join(F.broadcast(da), "part_a").join(F.broadcast(db), "part_b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("part_a") < F.col("part_b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
        F.when(a_first, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
    )
    o1 = oriented.select("src", F.col("dst").alias("v"))
    o2 = oriented.select("src", F.col("dst").alias("w"))
    wedges = (
        o1.join(o2, "src")
        .filter(F.col("v") < F.col("w"))
        .select(F.col("v").alias("part_a"), F.col("w").alias("part_b"))
    )
    # three 1-row aggregates cross-joined back together: the whole thing is
    # ONE lazy plan (no driver actions); the repeated pair-graph subtrees
    # dedup via ReusedExchange
    tri = wedges.join(edges, ["part_a", "part_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nw = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges")
    )
    return (
        ne.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(nw))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 4).alias(
                "clustering_coeff"
            ),
        )
    )


ORACLE_TRIANGLES = tpch.oracle_with(
    """SELECT CAST((SELECT count(*) FROM cop) AS BIGINT) AS n_edges,
       CAST((SELECT count(*)
             FROM cop e1 JOIN cop e2 ON e2.part_a = e1.part_b
             JOIN cop e3 ON e3.part_a = e1.part_a AND e3.part_b = e2.part_b)
            AS BIGINT) AS n_triangles,
       CAST((SELECT sum(deg * (deg - 1) // 2)
             FROM (SELECT node, count(*) AS deg FROM
                   (SELECT part_a AS node FROM cop
                    UNION ALL SELECT part_b FROM cop) GROUP BY 1))
            AS BIGINT) AS n_wedges,
       round(3.0 * (SELECT count(*)
             FROM cop e1 JOIN cop e2 ON e2.part_a = e1.part_b
             JOIN cop e3 ON e3.part_a = e1.part_a AND e3.part_b = e2.part_b)
             / (SELECT sum(deg * (deg - 1) // 2)
                FROM (SELECT node, count(*) AS deg FROM
                      (SELECT part_a AS node FROM cop
                       UNION ALL SELECT part_b FROM cop) GROUP BY 1)),
             4) AS clustering_coeff""",
    extra_ctes="""cop AS (
  SELECT part_a, part_b FROM (
    SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
    FROM (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') a
    JOIN (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') b
      ON a.order_id = b.order_id AND a.part_id < b.part_id
    GROUP BY 1, 2
  ) WHERE n_orders >= 2
)""",
)


KCORE_K = 2
N_PEEL_ROUNDS = 3


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling of the co-purchase graph (k=2): repeatedly drop nodes
    with degree < k and the edges touching them — the standard graph
    densification/degeneracy step before community or motif work.  Each
    round is one degree aggregation + one semi-join per endpoint, all keyed
    on node id.  The pair graph is eagerly cut FIRST so the
    rounds peel a materialized edge list instead of replaying the
    co-purchase self-join lineage N times (the same replay bug BENCHNOTES
    measured in the label-propagation loop).  Fixed ``N_PEEL_ROUNDS`` unroll
    keeps the DuckDB oracle plain chained CTEs; output = degree histogram of
    the surviving core (empty if the graph dissolves).
    """
    return _kcore_degree_hist(spark, sf_dir, N_PEEL_ROUNDS)


def _kcore_degree_hist(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    def step(edges):
        deg = (
            edges.select(F.col("part_a").alias("node"))
            .unionAll(edges.select(F.col("part_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= KCORE_K).select("node")
        return edges.join(
            keep.select(F.col("node").alias("part_a")), "part_a", "left_semi"
        ).join(keep.select(F.col("node").alias("part_b")), "part_b", "left_semi")

    # initial checkpoint = pregel's contract: the peel rounds must never
    # replay the copurchase self-join lineage (the replay bug BENCHNOTES
    # measured in the LPA loop)
    # cadence 1: each peel round references its edge frame THREE times
    # (both degree unions + the semi-join base), so fusing rounds compiles
    # ~3^k copies of the earlier rounds — materializing per round measured
    # 3.15 -> 2.46 s at sf0.1 with identical output
    edges, _ = pregel.iterate(
        graph_copurchase_pairs(spark, sf_dir).select("part_a", "part_b"),
        step,
        max_rounds=rounds,
        checkpoint_every=1,
    )
    survivors = (
        edges.select(F.col("part_a").alias("node"))
        .unionAll(edges.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return survivors.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))


def _kcore_oracle() -> str:
    # MATERIALIZED on every multiply-referenced CTE: each peel round reads
    # the previous edge set three times and its core twice, so DuckDB's
    # per-reference inlining re-ran the whole chain per reference
    body = """e0 AS MATERIALIZED (
  SELECT part_a, part_b FROM (
    SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
    FROM (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') a
    JOIN (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') b
      ON a.order_id = b.order_id AND a.part_id < b.part_id
    GROUP BY 1, 2
  ) WHERE n_orders >= 2
)"""
    prev = "e0"
    for r in range(1, N_PEEL_ROUNDS + 1):
        body += f""",
d{r} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT part_a AS node FROM {prev} UNION ALL SELECT part_b FROM {prev}
  ) GROUP BY node
),
k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT e.part_a, e.part_b FROM {prev} e
  WHERE e.part_a IN (SELECT node FROM k{r})
    AND e.part_b IN (SELECT node FROM k{r})
)"""
        prev = f"e{r}"
    return tpch.oracle_with(
        f"""SELECT deg, count(*) AS n_nodes FROM (
  SELECT node, count(*) AS deg FROM (
    SELECT part_a AS node FROM {prev} UNION ALL SELECT part_b FROM {prev}
  ) GROUP BY node
) GROUP BY deg""",
        extra_ctes=body,
    )


ORACLE_KCORE = _kcore_oracle()


def graph_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the contains edges: for each
    co-purchased part pair, support count, directional confidence, and
    lift — the A-priori output for pair-size itemsets (larger itemsets
    iterate the same join against the frequent set).

    All ratios are floored basis points over exact integer counts, evaluated
    in the SAME double-arithmetic shape as the oracle SQL (cast to double at
    the first multiply), so neither re-aggregation order nor int-vs-double
    evaluation differences can perturb the hash.  Scale shape: the pair
    counts come from the bounded-fanout basket self-join
    (:func:`graph_copurchase_pairs`); per-part counts and the basket total
    are map-side-combined aggregates, broadcast onto the pair table."""
    eng = tpch.bulk_engine(spark, sf_dir)
    baskets = (
        eng.store.edges_df()
        .filter(F.col("type") == "contains")
        .select(F.col("src").alias("order_id"), F.col("dst").alias("part_id"))
        .distinct()
    )
    n_baskets = baskets.select(
        F.count_distinct("order_id").alias("n_total")
    )  # 1 row
    per_part = baskets.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_part"))
    pairs = graph_copurchase_pairs(spark, sf_dir)  # part_a < part_b, n_orders >= 2
    pa = per_part.select(F.col("part_id").alias("part_a"), F.col("n_part").alias("n_a"))
    pb = per_part.select(F.col("part_id").alias("part_b"), F.col("n_part").alias("n_b"))
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            F.col("n_orders").alias("support"),
            F.floor(F.lit(10000) * F.col("n_orders") / F.col("n_a"))
            .cast("long")
            .alias("conf_a_to_b_bp"),
            F.floor(F.lit(10000) * F.col("n_orders") / F.col("n_b"))
            .cast("long")
            .alias("conf_b_to_a_bp"),
            # Same evaluation shape as the oracle (10000.0 * s * t, chained
            # double multiplies, then one divide): an exact-int64 numerator
            # here would floor differently past 2^53 and overflow at extreme
            # scale, so both engines go double at the same point.
            F.floor(
                F.lit(10000.0) * F.col("n_orders") * F.col("n_total")
                / (F.col("n_a") * F.col("n_b"))
            )
            .cast("long")
            .alias("lift_bp"),
        )
    )


ORACLE_ASSOC = tpch.oracle_with(
    """SELECT part_a, part_b, support,
       CAST(floor(10000.0 * support / n_a) AS BIGINT) AS conf_a_to_b_bp,
       CAST(floor(10000.0 * support / n_b) AS BIGINT) AS conf_b_to_a_bp,
       CAST(floor(10000.0 * support * n_total / (n_a * n_b)) AS BIGINT) AS lift_bp
FROM (
  SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS support
  FROM baskets a JOIN baskets b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2
) p
JOIN (SELECT part_id, count(*) AS n_a FROM baskets GROUP BY part_id) ca
  ON ca.part_id = p.part_a
JOIN (SELECT part_id, count(*) AS n_b FROM baskets GROUP BY part_id) cb
  ON cb.part_id = p.part_b
CROSS JOIN (SELECT count(DISTINCT order_id) AS n_total FROM baskets)
WHERE support >= 2""",
    extra_ctes="""baskets AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
)""",
)


N_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA) over the
    co-purchase pair graph: every node starts in its own community; each
    round a node adopts the most frequent label among its neighbors, ties
    broken by the smallest label — the deterministic-synchronous variant,
    so a fixed unroll is exactly reproducible in SQL (asynchronous LPA is
    order-dependent and un-oracle-able).

    Scale shape: each round is one node-keyed join + one (node,label)
    groupBy + one per-node top-1 window (window input = distinct neighbor
    labels per node, bounded by degree, NOT the corpus).  A production
    loop would cut lineage every few rounds like the CC loop; the
    3-round unroll keeps lineage trivial and the oracle plain CTEs.
    Result: communities of size ≥ 2 with their member count (label =
    smallest attracting node id).
    """
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node_id, label) after the fixed synchronous-LPA unroll — shared by
    the community rollup and the modularity scorer."""
    pairs = (
        graph_copurchase_pairs(spark, sf_dir)
        .select("part_a", "part_b")
        .transform(lineage_cut)
    )
    return _lpa_labels_from(pairs)


def _lpa_labels_from(pairs: DataFrame) -> DataFrame:
    """LPA over an already-materialized (part_a, part_b) pair frame.

    Callers that also consume ``pairs`` directly (modularity, the Louvain
    pair) checkpoint it ONCE and pass it here — the copurchase self-join
    used to execute twice per such query (once standalone, once inside
    this function), ~2.5 s each at sf0.1.
    """
    adj = (
        pairs.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        )
        # every unrolled round joins against adj: without this checkpoint
        # the union re-executes once per round inside the fused lazy plan
        .transform(lineage_cut)
    )
    from pyspark.sql import Window

    def step(labels):
        votes = (
            labels.join(adj, labels["node_id"] == adj["src"])
            .groupBy(F.col("dst").alias("node_id"), "label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        w = Window.partitionBy("node_id").orderBy(
            F.col("n_votes").desc(), F.col("label").asc()
        )
        # winners IS the next label frame: adj is symmetrized, so every
        # node has >=1 neighbor and receives >=1 vote — the defensive
        # left-join-back-to-labels the oracle spells out is the identity
        # here, and dropping it halves the fused plan per round (each
        # round referenced `labels` twice, so the N-round unroll compiled
        # 2^N copies of the initial state's subtree)
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node_id", "label")
        )

    labels, _ = pregel.iterate(
        adj.select(F.col("src").alias("node_id"))
        .distinct()
        .select("node_id", F.col("node_id").alias("label")),
        step,
        max_rounds=N_LPA_ROUNDS,
        checkpoint_every=N_LPA_ROUNDS,
    )
    return labels


def _lpa_body() -> tuple[str, str]:
    # MATERIALIZED on every multiply-referenced CTE: the modularity tail
    # references cop 6x and the final labels 7x, and DuckDB inlining the
    # contains self-join per reference spilled past its allocator at sf0.1
    # under memory pressure (same class as the r7 graph_itemsets3 fix)
    body = """
cop AS MATERIALIZED (
  SELECT part_a, part_b FROM (
    SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
    FROM (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') a
    JOIN (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') b
      ON a.order_id = b.order_id AND a.part_id < b.part_id
    GROUP BY 1, 2
  ) WHERE n_orders >= 2
),
lpa_adj AS MATERIALIZED (
  SELECT part_a AS src, part_b AS dst FROM cop
  UNION ALL SELECT part_b AS src, part_a AS dst FROM cop
),
lp0 AS MATERIALIZED (SELECT DISTINCT src AS node_id, src AS label FROM lpa_adj)"""
    prev = "lp0"
    for k in range(1, N_LPA_ROUNDS + 1):
        body += f""",
vt{k} AS (
  SELECT a.dst AS node_id, l.label, count(*) AS n_votes
  FROM {prev} l JOIN lpa_adj a ON l.node_id = a.src
  GROUP BY 1, 2
),
wn{k} AS (
  SELECT node_id, label AS new_label FROM (
    SELECT node_id, label,
           row_number() OVER (PARTITION BY node_id ORDER BY n_votes DESC, label ASC) AS rn
    FROM vt{k}
  ) WHERE rn = 1
),
lp{k} AS MATERIALIZED (
  SELECT l.node_id, coalesce(w.new_label, l.label) AS label
  FROM {prev} l LEFT JOIN wn{k} w ON l.node_id = w.node_id
)"""
        prev = f"lp{k}"
    return body.lstrip("\n"), prev


def _lpa_oracle() -> str:
    body, last = _lpa_body()
    return tpch.oracle_with(
        f"""SELECT label AS community, count(*) AS n_members
FROM {last} GROUP BY label HAVING count(*) >= 2""",
        extra_ctes=body,
    )


ORACLE_LPA = _lpa_oracle()


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the co-purchase graph
    — the number that says whether the detected communities are REAL:
    Q = Σ_c (e_c/m − (d_c/2m)²), compared against 0 (random).  Each row
    carries BOTH the global Q (``modularity_micro``, identical on every
    row) and that community's own contribution (``q_c_micro`` =
    (4m·e_c − d_c²)/4m², negative for communities sparser than random) so
    weak communities are visible individually.  Scored in exact integer
    arithmetic: Q·4m² = Σ_c (4m·e_c − d_c²), one float division + floor at
    the very end (micro-units), identical cross-engine.

    Scale shape: the labels come from the shared fixed-unroll LPA
    (checkpointed once, used three times); intra-community edge counting
    is ONE join of the edge list against the label map on each endpoint
    (label map broadcasts when small, co-partitions otherwise); degree
    and membership sums are label-keyed aggs.  Nothing iterates here —
    modularity is a pure post-pass over (edges ⋈ labels)."""
    # pairs feeds LPA, deg (via adj), intra, and m — one materialization
    pairs = (
        graph_copurchase_pairs(spark, sf_dir)
        .select("part_a", "part_b")
        .transform(lineage_cut)
    )
    labels = lineage_cut(_lpa_labels_from(pairs))
    adj = pairs.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    memb = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    dsum = (
        labels.join(deg, "node_id")
        .groupBy("label")
        .agg(F.sum("d").alias("d_c"))
    )
    la = labels.select(F.col("node_id").alias("part_a"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("node_id").alias("part_b"), F.col("label").alias("lab_b"))
    intra = (
        pairs.join(la, "part_a")
        .join(lb, "part_b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    mm = pairs.agg(F.count(F.lit(1)).alias("m"))
    per_c = (
        dsum.join(intra, "label", "left")
        .join(memb, "label")
        .crossJoin(F.broadcast(mm))
        .select(
            "label",
            "n_members",
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias("intra_edges"),
            F.col("d_c").cast("bigint").alias("degree_sum"),
            "m",
        )
    )
    qn = per_c.agg(
        F.sum(
            F.lit(4) * F.col("m") * F.col("intra_edges")
            - F.col("degree_sum") * F.col("degree_sum")
        ).alias("qn")
    )
    return (
        per_c.filter(F.col("n_members") >= 2)
        .crossJoin(F.broadcast(qn))
        .select(
            F.col("label").alias("community"),
            "n_members",
            "intra_edges",
            "degree_sum",
            F.floor(
                F.lit(1_000_000.0) * F.col("qn") / (F.lit(4) * F.col("m") * F.col("m"))
            )
            .cast("long")
            .alias("modularity_micro"),
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.lit(4) * F.col("m") * F.col("intra_edges")
                    - F.col("degree_sum") * F.col("degree_sum")
                )
                / (F.lit(4) * F.col("m") * F.col("m"))
            )
            .cast("long")
            .alias("q_c_micro"),
        )
    )


def _modularity_oracle() -> str:
    body, last = _lpa_body()
    tail = f"""
SELECT d.label AS community, mb.n_members,
       CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
       CAST(d.d_c AS BIGINT) AS degree_sum,
       CAST(floor(1000000.0 * qn.qn / (4 * mm.m * mm.m)) AS BIGINT)
         AS modularity_micro,
       CAST(floor(1000000.0 * (4 * mm.m * coalesce(i.e_c, 0) - d.d_c * d.d_c)
                  / (4 * mm.m * mm.m)) AS BIGINT)
         AS q_c_micro
FROM (SELECT l.label, sum(dg.d) AS d_c
      FROM {last} l JOIN (SELECT src AS node_id, count(*) AS d
                          FROM lpa_adj GROUP BY src) dg
        ON l.node_id = dg.node_id
      GROUP BY l.label) d
JOIN (SELECT label, count(*) AS n_members FROM {last} GROUP BY label) mb
  ON d.label = mb.label
LEFT JOIN (SELECT la.label, count(*) AS e_c
           FROM cop c JOIN {last} la ON c.part_a = la.node_id
                      JOIN {last} lb ON c.part_b = lb.node_id
           WHERE la.label = lb.label GROUP BY la.label) i
  ON d.label = i.label,
(SELECT count(*) AS m FROM cop) mm,
(SELECT sum(4 * mx.m * coalesce(i2.e_c, 0) - d2.d_c * d2.d_c) AS qn
 FROM (SELECT l.label, sum(dg.d) AS d_c
       FROM {last} l JOIN (SELECT src AS node_id, count(*) AS d
                           FROM lpa_adj GROUP BY src) dg
         ON l.node_id = dg.node_id
       GROUP BY l.label) d2
 LEFT JOIN (SELECT la.label, count(*) AS e_c
            FROM cop c JOIN {last} la ON c.part_a = la.node_id
                       JOIN {last} lb ON c.part_b = lb.node_id
            WHERE la.label = lb.label GROUP BY la.label) i2
   ON d2.label = i2.label,
 (SELECT count(*) AS m FROM cop) mx) qn
WHERE mb.n_members >= 2"""
    return tpch.oracle_with(tail.lstrip("\n"), extra_ctes=body)


ORACLE_MODULARITY = _modularity_oracle()


# -- Louvain-style one-level refinement over the LPA labels ---------------------------


def graph_louvain_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Louvain local-move refinement sweep (Blondel et al. 2008,
    public) over the LPA communities — completes the community-detection
    pair the way pagerank/eigenvector pair fixed-depth with converged:
    LPA gives fast labels, the Louvain move step then improves the thing
    we actually score, modularity.

    Semantics (deterministic-synchronous, the only SQL-replayable form —
    classic Louvain is sequential and order-dependent): for every node i
    with current community A, the modularity gain of moving to a
    NEIGHBOR community B is evaluated in exact integers scaled by 2m²,

        Δ(i, A→B)·2m² = 2m·(k_iB − k_iA') − k_i·(Σ_B − Σ_A'),

    with k_iC = edges from i into C, A' = A∖{i}, Σ_C = degree sum of C —
    the standard unweighted Louvain ΔQ, no floats anywhere.  Each node
    picks its best strictly-positive-gain target (ties: smallest
    community label), and all moves apply SIMULTANEOUSLY, restricted to
    target < current label — the symmetric-swap guard that makes a
    synchronous sweep safe (two adjacent nodes cannot trade communities
    in one round; the distributed-Louvain literature uses coloring for
    the same reason).

    Output: ONE summary row — nodes moved, per-move gain total (exact,
    ×2m² units), and global modularity BEFORE and AFTER the sweep in
    micro-units (same 4m²-scaled integer sum + one final float floor as
    :func:`graph_modularity`), so the ΔQ > 0 claim is carried by the
    result itself.

    Scale shape: the gain table is ONE join of the symmetrized edge list
    against the label map (k_iC is a (node, neighbor-label) count — rows
    bounded by Σ degree, not N²), Σ_C / k_i are label-/node-keyed aggs
    joined back by key, the per-node argmax is a degree-bounded window,
    and both modularity scores are the established (edges ⋈ labels)
    post-pass.  Nothing iterates; a full Louvain level would loop this
    sweep with the same bounded per-round cost."""
    pairs = (
        graph_copurchase_pairs(spark, sf_dir)
        .select("part_a", "part_b")
        .transform(lineage_cut)
    )
    labels = lineage_cut(_lpa_labels_from(pairs))
    return louvain_refine_from(labels, pairs)


def _louvain_frames(
    pairs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(adj, deg, mm) — the symmetrized edge list, per-node degrees and
    the 1-row edge count every Louvain stage shares."""
    adj = pairs.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_i")
    )
    mm = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    return adj, deg, mm


def _louvain_moves(
    labels: DataFrame, adj: DataFrame, deg: DataFrame, mm: DataFrame
) -> DataFrame:
    """ONE synchronous Louvain move sweep's selected moves — (node_id,
    new_label, gain_2m2) — shared verbatim by the single-sweep and
    converged ops (the eig_step_builder discipline: the pair differs
    only in looping, never in the step)."""
    sigma = (
        labels.join(deg, "node_id")
        .groupBy("label")
        .agg(F.sum("k_i").cast("bigint").alias("sigma"))
    )
    # k_iC: edges from each node into each NEIGHBOR community (incl. own)
    nbr_lab = labels.select(
        F.col("node_id").alias("dst"), F.col("label").alias("nbr_label")
    )
    k_ic = (
        adj.join(nbr_lab, "dst")
        .groupBy(F.col("src").alias("node_id"), "nbr_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k_ic"))
    )
    cur = (
        labels.join(deg, "node_id")
        .join(sigma, "label")
        .select(
            "node_id",
            F.col("label").alias("cur_label"),
            "k_i",
            F.col("sigma").alias("sigma_cur"),
        )
    )
    own = k_ic.join(
        cur.select("node_id", F.col("cur_label").alias("nbr_label")),
        ["node_id", "nbr_label"],
    ).select("node_id", F.col("k_ic").alias("k_own"))
    sig_t = sigma.select(
        F.col("label").alias("nbr_label"), F.col("sigma").alias("sigma_tgt")
    )
    gains = (
        k_ic.join(cur, "node_id")
        .filter(F.col("nbr_label") != F.col("cur_label"))
        .join(own, "node_id", "left")
        .join(sig_t, "nbr_label")
        .crossJoin(F.broadcast(mm))
        .select(
            "node_id",
            "cur_label",
            "nbr_label",
            (
                F.lit(2) * F.col("m")
                * (F.col("k_ic") - F.coalesce(F.col("k_own"), F.lit(0)))
                - F.col("k_i")
                * (F.col("sigma_tgt") - (F.col("sigma_cur") - F.col("k_i")))
            )
            .cast("bigint")
            .alias("gain_2m2"),
        )
    )
    w = Window.partitionBy("node_id").orderBy(
        F.desc("gain_2m2"), F.asc("nbr_label")
    )
    return (
        gains.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("gain_2m2") > 0)
            & (F.col("nbr_label") < F.col("cur_label"))  # swap guard
        )
        .select(
            "node_id",
            F.col("nbr_label").alias("new_label"),
            "gain_2m2",
        )
    )


def _louvain_q_scaled(
    lbl: DataFrame, pairs: DataFrame, deg: DataFrame, mm: DataFrame
) -> DataFrame:
    """Σ_c (4m·e_c − d_c²) — the exact 4m²-scaled modularity sum."""
    la = lbl.select(
        F.col("node_id").alias("part_a"), F.col("label").alias("lab_a")
    )
    lb = lbl.select(
        F.col("node_id").alias("part_b"), F.col("label").alias("lab_b")
    )
    intra = (
        pairs.join(la, "part_a")
        .join(lb, "part_b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    dsum = (
        lbl.join(deg, "node_id")
        .groupBy("label")
        .agg(F.sum("k_i").cast("bigint").alias("d_c"))
    )
    return (
        dsum.join(intra, "label", "left")
        .crossJoin(F.broadcast(mm))
        .agg(
            F.sum(
                F.lit(4) * F.col("m")
                * F.coalesce("e_c", F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("bigint")
            .alias("qn")
        )
    )


def louvain_refine_from(labels: DataFrame, pairs: DataFrame) -> DataFrame:
    """One synchronous Louvain move sweep over a (node_id, label) frame
    and an undirected (part_a, part_b) edge frame — factored so
    known-value pins can feed hand graphs (see graph_louvain_refine for
    semantics)."""
    adj, deg, mm = _louvain_frames(pairs)
    # deg feeds sigma/cur inside the move step AND both modularity scores;
    # moves feeds the summary, the label apply, and (through it) the after
    # score.  Without these two checkpoints the whole move-selection
    # subtree (k_iC join + window argmax) compiled three times over —
    # 288 Exchanges / 126 SortMergeJoins in the formatted plan.
    deg = lineage_cut(deg)
    moves = lineage_cut(_louvain_moves(labels, adj, deg, mm))
    new_labels = labels.join(moves, "node_id", "left").select(
        "node_id", F.coalesce("new_label", "label").alias("label")
    )
    summary = moves.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moved"),
        F.coalesce(F.sum("gain_2m2"), F.lit(0))
        .cast("bigint")
        .alias("gain_total_2m2"),
    )
    qb = _louvain_q_scaled(labels, pairs, deg, mm)
    qa = _louvain_q_scaled(new_labels, pairs, deg, mm)
    return (
        summary.crossJoin(F.broadcast(qb.select(F.col("qn").alias("qn_before"))))
        .crossJoin(F.broadcast(qa.select(F.col("qn").alias("qn_after"))))
        .crossJoin(F.broadcast(mm))
        .selectExpr(
            "n_moved",
            "gain_total_2m2",
            "CAST(FLOOR(1000000.0 * qn_before / (4 * m * m)) AS BIGINT)"
            " AS q_before_micro",
            "CAST(FLOOR(1000000.0 * qn_after / (4 * m * m)) AS BIGINT)"
            " AS q_after_micro",
        )
    )


def _louvain_sweep_ctes(src: str, sfx: str) -> str:
    """One sweep's CTE group (suffix-namespaced, chained on ``src``
    labels) — the SQL twin of :func:`_louvain_moves` + the label apply;
    shared by the single-sweep and converged oracles exactly like the
    Spark pair shares the move step."""
    return f""",
lv{sfx}_sigma AS MATERIALIZED (
  SELECT l.label, CAST(sum(dg.d) AS BIGINT) AS sigma
  FROM {src} l JOIN lv_deg dg ON l.node_id = dg.node_id
  GROUP BY l.label
),
lv{sfx}_kic AS MATERIALIZED (
  SELECT a.src AS node_id, nl.label AS nbr_label,
         CAST(count(*) AS BIGINT) AS k_ic
  FROM lpa_adj a JOIN {src} nl ON a.dst = nl.node_id
  GROUP BY 1, 2
),
lv{sfx}_cur AS MATERIALIZED (
  SELECT l.node_id, l.label AS cur_label, dg.d AS k_i, s.sigma AS sigma_cur
  FROM {src} l JOIN lv_deg dg ON l.node_id = dg.node_id
  JOIN lv{sfx}_sigma s ON l.label = s.label
),
lv{sfx}_own AS (
  SELECT k.node_id, k.k_ic AS k_own
  FROM lv{sfx}_kic k JOIN lv{sfx}_cur c
    ON k.node_id = c.node_id AND k.nbr_label = c.cur_label
),
lv{sfx}_gains AS MATERIALIZED (
  SELECT k.node_id, c.cur_label, k.nbr_label,
         CAST(2 * mm.m * (k.k_ic - coalesce(o.k_own, 0))
              - c.k_i * (st.sigma - (c.sigma_cur - c.k_i)) AS BIGINT)
           AS gain_2m2
  FROM lv{sfx}_kic k
  JOIN lv{sfx}_cur c ON k.node_id = c.node_id
  LEFT JOIN lv{sfx}_own o ON k.node_id = o.node_id
  JOIN lv{sfx}_sigma st ON k.nbr_label = st.label
  CROSS JOIN (SELECT count(*) AS m FROM cop) mm
  WHERE k.nbr_label <> c.cur_label
),
lv{sfx}_moves AS MATERIALIZED (
  SELECT node_id, nbr_label AS new_label, gain_2m2 FROM (
    SELECT node_id, cur_label, nbr_label, gain_2m2,
           row_number() OVER (PARTITION BY node_id
                              ORDER BY gain_2m2 DESC, nbr_label ASC) AS rn
    FROM lv{sfx}_gains
  ) WHERE rn = 1 AND gain_2m2 > 0 AND nbr_label < cur_label
),
lv{sfx}_new AS MATERIALIZED (
  SELECT l.node_id, coalesce(mv.new_label, l.label) AS label
  FROM {src} l LEFT JOIN lv{sfx}_moves mv ON l.node_id = mv.node_id
)"""


def _louvain_q_sub(labels_cte: str) -> str:
    """Scalar subquery: Σ_c (4m·e_c − d_c²) over a labels CTE."""
    return f"""(SELECT sum(4 * mx.m * coalesce(i.e_c, 0) - d.d_c * d.d_c) AS qn
      FROM (SELECT l.label, sum(dg.d) AS d_c FROM {labels_cte} l JOIN lv_deg dg
              ON l.node_id = dg.node_id GROUP BY l.label) d
      LEFT JOIN (SELECT la.label, count(*) AS e_c
                 FROM cop c JOIN {labels_cte} la ON c.part_a = la.node_id
                            JOIN {labels_cte} lb ON c.part_b = lb.node_id
                 WHERE la.label = lb.label GROUP BY la.label) i
        ON d.label = i.label, (SELECT count(*) AS m FROM cop) mx)"""


_LOUVAIN_DEG_CTE = """,
lv_deg AS MATERIALIZED (
  SELECT src AS node_id, CAST(count(*) AS BIGINT) AS d
  FROM lpa_adj GROUP BY src
)"""


def _louvain_refine_oracle() -> str:
    body, last = _lpa_body()
    tail = f"""
SELECT CAST(mv.n_moved AS BIGINT) AS n_moved,
       CAST(mv.gain_total_2m2 AS BIGINT) AS gain_total_2m2,
       CAST(floor(1000000.0 * qb.qn / (4 * mm.m * mm.m)) AS BIGINT)
         AS q_before_micro,
       CAST(floor(1000000.0 * qa.qn / (4 * mm.m * mm.m)) AS BIGINT)
         AS q_after_micro
FROM (SELECT count(*) AS n_moved, coalesce(sum(gain_2m2), 0) AS gain_total_2m2
      FROM lv_moves) mv,
     (SELECT count(*) AS m FROM cop) mm,
     {_louvain_q_sub(last)} qb,
     {_louvain_q_sub("lv_new")} qa"""
    extra = _LOUVAIN_DEG_CTE + _louvain_sweep_ctes(last, "")
    return tpch.oracle_with(tail.lstrip("\n"), extra_ctes=body + extra)


ORACLE_LOUVAIN_REFINE = _louvain_refine_oracle()


# -- Louvain refinement run to the no-move fixed point --------------------------------

LOUVAIN_MAX_SWEEPS = 4


def graph_louvain_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`graph_louvain_refine`'s sweep LOOPED to its data-dependent
    stop — the converged companion (the pagerank/eigenvector pairing
    pattern): synchronous move sweeps repeat until a sweep selects ZERO
    moves (the fixed point — moves are a deterministic function of the
    labels, so a zero-move state is absorbing) or the
    {LOUVAIN_MAX_SWEEPS}-sweep cap.  ``rounds_run`` (the number of
    sweeps that moved something) is part of the oracle-checked row, so
    both engines must stop at the same sweep.

    The oracle UNROLLS the full cap: because the fixed point is
    absorbing, unrolling past convergence is the identity on labels and
    contributes zero moves — rounds_run = Σ_k 1[moves_k ≠ ∅] replays
    the stop rule with no conditional SQL (the
    graph_pagerank_converged discipline).

    Each sweep is ONE job: ``pregel.iterate`` cuts the new labels and the
    sweep's move count rides that cut as an ``Observation``; the loop
    stops after the first sweep that moved nothing.  All gain arithmetic
    is the shared :func:`_louvain_moves` step in exact integers."""
    pairs = (
        graph_copurchase_pairs(spark, sf_dir)
        .select("part_a", "part_b")
        .transform(lineage_cut)
    )
    labels = lineage_cut(_lpa_labels_from(pairs))
    return louvain_converge_from(labels, pairs)


def louvain_converge_from(labels: DataFrame, pairs: DataFrame) -> DataFrame:
    """Sweep-to-fixed-point over hand-suppliable frames (see
    graph_louvain_converged)."""
    adj, deg, mm = _louvain_frames(pairs)
    adj = lineage_cut(adj)
    deg = lineage_cut(deg)
    qb = _louvain_q_scaled(labels, pairs, deg, mm)
    moved: list[Observation] = []

    def sweep(cur: DataFrame) -> DataFrame:
        moved.append(Observation())
        return (
            cur.join(_louvain_moves(cur, adj, deg, mm), "node_id", "left")
            # moves hold at most one row per node, so this counts them
            .observe(moved[-1], F.count("new_label").alias("n"))
            .select("node_id", F.coalesce("new_label", "label").alias("label"))
        )

    cur, _ = pregel.iterate(
        labels,
        sweep,
        max_rounds=LOUVAIN_MAX_SWEEPS,
        converged=lambda _: moved[-1].get["n"] == 0,
    )
    counts = [obs.get["n"] for obs in moved]
    rounds_run = sum(1 for n in counts if n)
    n_moved_total = sum(counts)
    qa = _louvain_q_scaled(cur, pairs, deg, mm)
    return (
        qb.select(F.col("qn").alias("qn_before"))
        .crossJoin(F.broadcast(qa.select(F.col("qn").alias("qn_after"))))
        .crossJoin(F.broadcast(mm))
        .selectExpr(
            f"CAST({rounds_run} AS BIGINT) AS rounds_run",
            f"CAST({n_moved_total} AS BIGINT) AS n_moved_total",
            "CAST(FLOOR(1000000.0 * qn_before / (4 * m * m)) AS BIGINT)"
            " AS q_before_micro",
            "CAST(FLOOR(1000000.0 * qn_after / (4 * m * m)) AS BIGINT)"
            " AS q_after_micro",
        )
    )


def _louvain_converged_oracle() -> str:
    body, last = _lpa_body()
    extra = _LOUVAIN_DEG_CTE
    src = last
    for k in range(1, LOUVAIN_MAX_SWEEPS + 1):
        extra += _louvain_sweep_ctes(src, str(k))
        src = f"lv{k}_new"
    move_counts = " + ".join(
        f"(SELECT count(*) FROM lv{k}_moves)"
        for k in range(1, LOUVAIN_MAX_SWEEPS + 1)
    )
    round_flags = " + ".join(
        f"(CASE WHEN (SELECT count(*) FROM lv{k}_moves) > 0 THEN 1 ELSE 0 END)"
        for k in range(1, LOUVAIN_MAX_SWEEPS + 1)
    )
    tail = f"""
SELECT CAST({round_flags} AS BIGINT) AS rounds_run,
       CAST({move_counts} AS BIGINT) AS n_moved_total,
       CAST(floor(1000000.0 * qb.qn / (4 * mm.m * mm.m)) AS BIGINT)
         AS q_before_micro,
       CAST(floor(1000000.0 * qa.qn / (4 * mm.m * mm.m)) AS BIGINT)
         AS q_after_micro
FROM (SELECT count(*) AS m FROM cop) mm,
     {_louvain_q_sub(last)} qb,
     {_louvain_q_sub(src)} qa"""
    return tpch.oracle_with(tail.lstrip("\n"), extra_ctes=body + extra)


ORACLE_LOUVAIN_CONVERGED = _louvain_converged_oracle()


# -- HITS hubs & authorities (bipartite customer → supplier) --------------------------

HITS_TOPK = 20


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities) on the customer→supplier
    bipartite purchase graph: a customer is a good HUB if it buys from good
    suppliers; a supplier a good AUTHORITY if good hubs buy from it.

    Exactness-by-construction: HITS is linear (auth = AᵀA·…·h₀), so
    per-round L2 normalization only rescales — the RANKING after k sweeps
    is identical without it.  We therefore iterate UNNORMALIZED: h₀ = 1 and
    every subsequent score is an integer sum of integer scores, i.e. the
    whole computation stays in exact BIGINT arithmetic — no float, no
    engine-dependent summation order, no basis-point flooring needed (cf.
    the module's float policy for pagerank, which damps with 0.85 and so
    cannot use this trick).  Two full sweeps + a final authority half-sweep;
    magnitudes grow by ~(avg degree)² per sweep, ~1e12 at 100 TB degrees —
    still far inside int64.

    Scale shape: each half-sweep is ONE shuffle keyed on the edge endpoint
    (contributions = scores ⋈ edges, grouped by the other endpoint), the
    same join-based Pregel posture as :func:`graph_pagerank`, driven
    through :func:`mongraph_spark.pregel.iterate` for bounded lineage.
    Output: top-20 hubs and top-20 authorities (exact scores, ties broken
    on key)."""
    orders = tpch.read_table(spark, sf_dir, "orders")
    lineitem = tpch.read_table(spark, sf_dir, "lineitem")
    # materialize the edge list ONCE: every half-sweep references it twice
    # and the loop runs several jobs — without the barrier each job would
    # replay the orders⋈lineitem distinct (the dominant shuffle)
    edges = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], "inner"
        )
        .select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .distinct()
        .transform(lineage_cut)
    )

    def full_sweep(hubs: DataFrame) -> DataFrame:
        auth = (
            hubs.join(edges, hubs["node_id"] == edges["src"])
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("score").alias("score"))
        )
        return (
            auth.join(edges, auth["node_id"] == edges["dst"])
            .groupBy(F.col("src").alias("node_id"))
            .agg(F.sum("score").alias("score"))
        )

    h0 = edges.select("src").distinct().select(
        F.col("src").alias("node_id"), F.lit(1).cast("bigint").alias("score")
    )
    hubs, _ = pregel.iterate(h0, full_sweep, max_rounds=2, checkpoint_every=2)
    auth_final = (
        hubs.join(edges, hubs["node_id"] == edges["src"])
        .groupBy(F.col("dst").alias("node_id"))
        .agg(F.sum("score").alias("score"))
    )

    def topk(df: DataFrame, role: str) -> DataFrame:
        return (
            df.orderBy(F.desc("score"), "node_id")
            .limit(HITS_TOPK)
            .select(
                F.lit(role).alias("role"),
                F.col("node_id").cast("bigint").alias("node_key"),
                F.col("score").cast("bigint").alias("score"),
            )
        )

    return topk(hubs, "hub").unionByName(topk(auth_final, "auth"))


CLOSENESS_K = 8  # landmark count
CLOSENESS_HOPS = 4


def graph_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark closeness — the scalable stand-in for all-pairs closeness
    centrality: multi-source BFS from K=8 landmark suppliers over the
    undirected customer↔supplier purchase graph, reporting each landmark's
    reach and total distance within 4 hops (the landmark-distance sketch
    of Potamias et al.; exact closeness needs N BFS runs, landmarks need
    K).  Reach/sum-of-distances stay INTEGERS — no float normalization,
    engine-exact.

    Scale shape: the frontier state is (landmark, node, dist) ≤ K·N rows;
    each hop is ONE shuffle (state ⋈ adjacency grouped by the far
    endpoint, min-dist combiner), driven through
    :func:`mongraph_spark.pregel.iterate` for bounded lineage — identical
    posture to connected components, ×K landmarks carried in the key.
    Node ids are parity-encoded (2c / 2s+1) so the two key spaces can't
    collide."""
    state = _landmark_state(spark, sf_dir)
    return state.groupBy("lm").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
    )


def _landmark_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lm, node_id, dist) within CLOSENESS_HOPS of the K landmarks —
    the shared multi-source-BFS state under closeness AND harmonic
    centrality (see graph_closeness_landmarks for the loop contract)."""
    orders = tpch.read_table(spark, sf_dir, "orders")
    lineitem = tpch.read_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("c"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("s"),
        )
        .distinct()
        # materialized once: the adjacency is referenced by every BFS hop
        .transform(lineage_cut)
    )
    adj = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    landmarks = (
        pairs.select("s").distinct().orderBy("s").limit(CLOSENESS_K)
        .select(F.col("s").alias("lm"))
    )
    state0 = landmarks.select(
        "lm", F.col("lm").alias("node_id"), F.lit(0).cast("int").alias("dist")
    )

    def hop(state):
        expanded = (
            state.join(adj, state["node_id"] == adj["src"])
            .select("lm", F.col("dst").alias("node_id"), (F.col("dist") + 1).alias("dist"))
        )
        return (
            state.unionByName(expanded)
            .groupBy("lm", "node_id")
            .agg(F.min("dist").alias("dist"))
        )

    state, _ = pregel.iterate(
        state0, hop, max_rounds=CLOSENESS_HOPS, checkpoint_every=2
    )
    return state


HARMONIC_TOPK = 20


def graph_harmonic_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark HARMONIC centrality — closeness' disconnected-robust
    sibling (Boldi–Vigna: H(v) = Σ 1/d(u,v), unreachable terms contribute
    0 instead of poisoning the sum): per NODE, the integer-exact score
    Σ_landmarks (10⁶ div d) over the shared K-source BFS distances, top
    {HARMONIC_TOPK} with (score DESC, node_id ASC) tie-break.  Landmarks
    themselves are excluded as targets (their d=0 self-term is undefined
    and their scores are landmark-count artifacts, not centrality).

    Scale shape: REUSES :func:`_landmark_state` (state ≤ K·N rows, one
    shuffle per hop); the score is one node-keyed agg of integer
    divisions and the top-k is a TakeOrdered, no global sort."""
    state = _landmark_state(spark, sf_dir)
    lms = state.filter(F.col("dist") == 0).select(F.col("node_id").alias("lm_node"))
    scored = (
        state.filter(F.col("dist") > 0)
        .join(lms, state["node_id"] == lms["lm_node"], "left_anti")
        .groupBy("node_id")
        .agg(
            F.sum(F.expr("1000000 DIV dist")).cast("long").alias("h_micro"),
            F.count(F.lit(1)).cast("long").alias("n_landmarks_reaching"),
        )
    )
    top = scored.orderBy(F.desc("h_micro"), F.asc("node_id")).limit(HARMONIC_TOPK)
    # rank within the already-taken top-k ({HARMONIC_TOPK} rows post-limit)
    w = Window.partitionBy(const_part(F.col("node_id"))).orderBy(
        F.desc("h_micro"), F.asc("node_id")
    )
    return top.select(
        "node_id",
        "h_micro",
        "n_landmarks_reaching",
        F.row_number().over(w).cast("long").alias("rk"),
    )


def _closeness_oracle() -> str:
    body = f"""
pairs AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
adj AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs),
landmarks AS (SELECT DISTINCT s AS lm FROM pairs ORDER BY s LIMIT {CLOSENESS_K}),
d0 AS (SELECT lm, lm AS node_id, 0 AS dist FROM landmarks)"""
    prev = "d0"
    for k in range(1, CLOSENESS_HOPS + 1):
        body += f""",
d{k} AS (
  SELECT lm, node_id, min(dist) AS dist FROM (
    SELECT lm, node_id, dist FROM {prev}
    UNION ALL
    SELECT p.lm, a.dst AS node_id, p.dist + 1 AS dist
    FROM {prev} p JOIN adj a ON p.node_id = a.src
  ) GROUP BY lm, node_id
)"""
        prev = f"d{k}"
    return f"""
WITH {body.lstrip()}
SELECT lm, count(*) AS n_reached, CAST(sum(dist) AS BIGINT) AS sum_dist
FROM {prev} GROUP BY lm
"""


ORACLE_CLOSENESS = _closeness_oracle()


def _harmonic_oracle() -> str:
    # same unroll as the closeness oracle; final select scores per NODE
    closeness = _closeness_oracle()
    prev = f"d{CLOSENESS_HOPS}"
    head, _, _ = closeness.rpartition("SELECT lm, count(*)")
    return f"""{head}
SELECT node_id, h_micro, n_landmarks_reaching,
       CAST(row_number() OVER (ORDER BY h_micro DESC, node_id ASC) AS BIGINT)
         AS rk
FROM (
  SELECT node_id,
         CAST(sum(1000000 // dist) AS BIGINT) AS h_micro,
         CAST(count(*) AS BIGINT) AS n_landmarks_reaching
  FROM {prev}
  WHERE dist > 0 AND node_id NOT IN (SELECT lm FROM landmarks)
  GROUP BY node_id
)
ORDER BY h_micro DESC, node_id ASC
LIMIT {HARMONIC_TOPK}
"""


ORACLE_HARMONIC = _harmonic_oracle()


WALK_STEPS = 4


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the purchase graph — the corpus
    generator for node2vec/DeepWalk-style graph embeddings: one
    {WALK_STEPS}-step walk per customer, where step t at node v picks
    neighbor rank ``md5(walk:step:v) mod degree(v)`` — no RNG state, so
    walks are reproducible under any partitioning/replay (the same
    lineage argument as the md5 sampling ops; true node2vec's p/q bias
    only reweights this choice).

    Scale shape: the adjacency is ranked ONCE (row_number per src — one
    shuffle) and checkpointed; each step is one equi-join of the frontier
    against (src, rank), cut by ``pregel.iterate`` — walks stay one row
    each, so the frontier is |seeds| rows at every step, NOT multiplied by
    degree.  Output: the walk string per seed (the "sentences" a skip-gram
    trainer consumes)."""
    orders = tpch.read_table(spark, sf_dir, "orders")
    lineitem = tpch.read_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("c"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("s"),
        )
        .distinct()
    )
    adj = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    ranked = (
        adj.withColumn("rk", F.row_number().over(w))
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .transform(lineage_cut)
    )
    # (node, degree) — nodes << edges, so this side broadcasts; resolving the
    # neighbor RANK before touching the edge list turns each step into a
    # point equi-join on (src, rk) instead of a join-all-neighbors-then-
    # filter (which materialized |walkers|·deg rows per step).  Measured
    # warm at sf0.1: 5.9 s -> 3.2 s for the 4-step walk.  At walker counts
    # past broadcast size, drop the F.broadcast below and both sides
    # shuffle once on the composite (src, rk) key — still never
    # |walkers|·deg rows.
    degs = lineage_cut(ranked.select("src", "deg").distinct())
    # the step number rides the state, so each step is a pure function of it
    step = F.col("step") + 1
    pick = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("walk_id"), step, F.col("cur"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.col("deg")
        + 1
    )

    def walk(state: DataFrame) -> DataFrame:
        picked = state.join(
            F.broadcast(degs), state["cur"] == degs["src"]
        ).select("walk_id", "cur", "path", step.alias("step"), pick.alias("pick"))
        # walkers (one row per seed) broadcast against the checkpointed
        # edge ranking: each step is a map-only pass over `ranked`, no
        # per-step shuffle of the edge list
        return F.broadcast(picked).join(
            ranked,
            (picked["cur"] == ranked["src"]) & (picked["pick"] == ranked["rk"]),
        ).select(
            "walk_id",
            F.col("dst").alias("cur"),
            F.concat_ws(">", "path", F.col("dst")).alias("path"),
            "step",
        )

    start = pairs.select("c").distinct().select(
        F.col("c").alias("walk_id"),
        F.col("c").alias("cur"),
        F.col("c").cast("string").alias("path"),
        F.lit(0).alias("step"),
    )
    state, _ = pregel.iterate(start, walk, max_rounds=WALK_STEPS)
    return state.select(
        "walk_id", "path", F.col("cur").cast("bigint").alias("final_node")
    )


def _walks_oracle() -> str:
    body = """
pairs AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
adj AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs),
ranked AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
         count(*) OVER (PARTITION BY src) AS deg
  FROM adj
),
w0 AS (SELECT c AS walk_id, c AS cur, CAST(c AS VARCHAR) AS path
       FROM (SELECT DISTINCT c FROM pairs))"""
    prev = "w0"
    for step in range(1, WALK_STEPS + 1):
        body += f""",
w{step} AS (
  SELECT s.walk_id, r.dst AS cur, s.path || '>' || CAST(r.dst AS VARCHAR) AS path
  FROM {prev} s JOIN ranked r ON s.cur = r.src
  AND r.rk = ('0x' || substr(md5(CAST(s.walk_id AS VARCHAR) || ':{step}:' || CAST(s.cur AS VARCHAR)), 1, 8))::BIGINT % r.deg + 1
)"""
        prev = f"w{step}"
    return f"""
WITH {body.lstrip()}
SELECT walk_id, path, CAST(cur AS BIGINT) AS final_node FROM {prev}
"""


ORACLE_WALKS = _walks_oracle()


def _hits_oracle() -> str:
    return f"""
WITH e AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src, CAST(l_suppkey AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
h0 AS (SELECT DISTINCT src AS node_id, CAST(1 AS BIGINT) AS score FROM e),
a1 AS (SELECT e.dst AS node_id, sum(h.score) AS score FROM h0 h JOIN e ON h.node_id = e.src GROUP BY e.dst),
h1 AS (SELECT e.src AS node_id, sum(a.score) AS score FROM a1 a JOIN e ON a.node_id = e.dst GROUP BY e.src),
a2 AS (SELECT e.dst AS node_id, sum(h.score) AS score FROM h1 h JOIN e ON h.node_id = e.src GROUP BY e.dst),
h2 AS (SELECT e.src AS node_id, sum(a.score) AS score FROM a2 a JOIN e ON a.node_id = e.dst GROUP BY e.src),
a3 AS (SELECT e.dst AS node_id, sum(h.score) AS score FROM h2 h JOIN e ON h.node_id = e.src GROUP BY e.dst)
SELECT 'hub' AS role, node_id AS node_key, CAST(score AS BIGINT) AS score
FROM (SELECT * FROM h2 ORDER BY score DESC, node_id LIMIT {HITS_TOPK})
UNION ALL
SELECT 'auth' AS role, node_id AS node_key, CAST(score AS BIGINT) AS score
FROM (SELECT * FROM a3 ORDER BY score DESC, node_id LIMIT {HITS_TOPK})
"""


ORACLE_HITS = _hits_oracle()


# -- per-edge triangle support (the k-truss building block) ----------------------


def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support histogram over the co-purchase graph:
    for every edge (a, b), the number of triangles it participates in
    (= connected common neighbors), rolled up as (support, n_edges) — the
    building block of k-truss decomposition and the standard edge-strength
    signal for community pruning.

    Scale shape: ONE common-neighbor self-join of the symmetric edge list
    keyed on the shared endpoint (Σ deg² candidate wedges, the same bound
    as Adamic-Adar), then a semi-join against the edge set to keep only
    CLOSED wedges — never enumerating triangles per edge.  The invariant
    Σ support = 3 × triangle count is pinned against
    :func:`graph_triangle_count` in tests.  All integer arithmetic."""
    pairs = graph_copurchase_pairs(spark, sf_dir).select("part_a", "part_b")
    sym = pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v")).union(
        pairs.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    # wedges through z anchored at edge (a, b): neighbors z of a ...
    wedges = pairs.join(
        sym.select(F.col("u").alias("part_a"), F.col("v").alias("z")), "part_a"
    ).filter(F.col("z") != F.col("part_b"))
    # ... closed iff (b, z) is also an edge (canonical order for the probe)
    closed = wedges.join(
        pairs.select(
            F.col("part_a").alias("blo"), F.col("part_b").alias("bhi")
        ),
        (F.least("part_b", "z") == F.col("blo"))
        & (F.greatest("part_b", "z") == F.col("bhi")),
        "left_semi",
    )
    support = closed.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("support")
    )
    # edges in no triangle have support 0 — keep them in the histogram
    all_edges = pairs.join(support, ["part_a", "part_b"], "left").select(
        F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )
    return all_edges.groupBy("support").agg(F.count(F.lit(1)).alias("n_edges"))


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the co-purchase graph:
    cc(v) = 2·t(v) / (d(v)·(d(v)−1)) where t(v) counts triangles through
    v — the node-level "how clique-like is my neighborhood" signal that
    complements the edge-level :func:`graph_edge_support` (same wedge
    machinery, anchored at the CENTER node instead of an edge).  Exact
    integers end to end: cc_bp = (20000·t) DIV (d·(d−1)), nodes with
    d < 2 excluded (coefficient undefined).

    Scale shape: one neighbor-pair self-join of the symmetric edge list
    keyed on the center node (Σ deg² wedges — the triangle-counting
    bound), closed-ness via ONE semi-join against the canonical edge set,
    then two node-keyed aggs.  Σ triangles = 3 × global triangle count is
    pinned in tests against the independent count."""
    pairs = graph_copurchase_pairs(spark, sf_dir).select(
        "part_a", "part_b"
    ).transform(lineage_cut)  # feeds sym twice + the closed-ness probe
    sym = pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v")).union(
        pairs.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nbr_pairs = (
        sym.select("u", F.col("v").alias("z1"))
        .join(sym.select("u", F.col("v").alias("z2")), "u")
        .filter(F.col("z1") < F.col("z2"))
    )
    closed = nbr_pairs.join(
        pairs.select(F.col("part_a").alias("z1"), F.col("part_b").alias("z2")),
        ["z1", "z2"],
        "left_semi",
    )
    tri = closed.groupBy("u").agg(F.count(F.lit(1)).alias("t"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, "u", "left")
        .select(
            F.col("u").alias("node_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            F.expr("CAST((20000 * coalesce(t, 0)) DIV (d * (d - 1)) AS BIGINT)").alias(
                "cc_bp"
            ),
        )
    )


ORACLE_EDGE_SUPPORT = tpch.oracle_with(
    """SELECT support, count(*) AS n_edges FROM (
  SELECT e.part_a, e.part_b,
         CAST(count(CASE WHEN c.blo IS NOT NULL THEN 1 END) AS BIGINT) AS support
  FROM pairs e
  LEFT JOIN sym s ON s.u = e.part_a AND s.v <> e.part_b
  LEFT JOIN (SELECT part_a AS blo, part_b AS bhi FROM pairs) c
    ON c.blo = least(e.part_b, s.v) AND c.bhi = greatest(e.part_b, s.v)
  GROUP BY e.part_a, e.part_b
) GROUP BY support""",
    extra_ctes="""contains_el AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
),
pairs AS (
  SELECT a.part_id AS part_a, b.part_id AS part_b
  FROM contains_el a JOIN contains_el b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (
  SELECT part_a AS u, part_b AS v FROM pairs
  UNION ALL SELECT part_b, part_a FROM pairs
)""",
)


ORACLE_CLUSTERING_COEFF = tpch.oracle_with(
    """SELECT d.u AS node_id,
       CAST(d.d AS BIGINT) AS degree,
       CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
       CAST((20000 * coalesce(t.t, 0)) // (d.d * (d.d - 1)) AS BIGINT) AS cc_bp
FROM (SELECT u, count(*) AS d FROM sym GROUP BY u) d
LEFT JOIN (
  SELECT n.u, count(*) AS t
  FROM (SELECT a.u, a.v AS z1, b.v AS z2
        FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v) n
  JOIN pairs p ON p.part_a = n.z1 AND p.part_b = n.z2
  GROUP BY n.u
) t ON d.u = t.u
WHERE d.d >= 2""",
    extra_ctes="""contains_el AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
),
pairs AS (
  SELECT a.part_id AS part_a, b.part_id AS part_b
  FROM contains_el a JOIN contains_el b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (
  SELECT part_a AS u, part_b AS v FROM pairs
  UNION ALL SELECT part_b, part_a FROM pairs
)""",
)


# -- k-truss peeling --------------------------------------------------------------

KTRUSS_K = 4  # edges must sit in >= K-2 triangles to survive
KTRUSS_ROUNDS = 6  # peel rounds — reaches the fixed point on every test SF


def _truss_support(edges: DataFrame) -> DataFrame:
    """(part_a, part_b, support) over the CURRENT edge set — the
    edge_support wedge-join shape, parametrized by survivor set."""
    sym = edges.select(F.col("part_a").alias("u"), F.col("part_b").alias("v")).union(
        edges.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    wedges = edges.join(
        sym.select(F.col("u").alias("part_a"), F.col("v").alias("z")), "part_a"
    ).filter(F.col("z") != F.col("part_b"))
    closed = wedges.join(
        edges.select(F.col("part_a").alias("blo"), F.col("part_b").alias("bhi")),
        (F.least("part_b", "z") == F.col("blo"))
        & (F.greatest("part_b", "z") == F.col("bhi")),
        "left_semi",
    )
    support = closed.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("support")
    )
    return edges.join(support, ["part_a", "part_b"], "left").select(
        "part_a",
        "part_b",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )


def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K}-truss peeling over the co-purchase graph — the cohesive-subgraph
    extraction one level above triangle counting: repeatedly delete every
    edge in fewer than {K}−2 triangles (support recomputed on survivors
    each round, since peeling breaks other edges' triangles) until the
    remaining edges form the {K}-truss core.  Reports the edge count per
    peel round — the convergence curve an analyst reads to pick K.

    Scale shape: each round is ONE wedge self-join + closed-wedge
    semi-join on the shrinking survivor set (Σ deg² candidates — the
    graph_edge_support bound), with the survivor set cut between rounds
    by ``pregel.iterate`` (rounds cannot be fused anyway because round r's
    support depends on r−1's deletions) and its size observed on the same
    job.  Peeling
    converges when a round deletes nothing; the fixed {R}-round unroll is
    what a SQL oracle can express, and the final count equals the fixed
    point on this corpus (pinned in tests)."""
    counts: list[Observation] = []

    def observed(e: DataFrame) -> DataFrame:
        counts.append(Observation())
        return e.observe(counts[-1], F.count(F.lit(1)).alias("n_edges"))

    def peel(e: DataFrame) -> DataFrame:
        return observed(
            _truss_support(e)
            .filter(F.col("support") >= KTRUSS_K - 2)
            .select("part_a", "part_b")
        )

    final, _ = pregel.iterate(
        observed(graph_copurchase_pairs(spark, sf_dir).select("part_a", "part_b")),
        peel,
        max_rounds=KTRUSS_ROUNDS,
    )
    # every round's edge count was observed as its cut materialized
    rows = [(r, obs.get["n_edges"]) for r, obs in enumerate(counts)]
    release_cut(final)
    return local_df(spark, rows, "round BIGINT, n_edges BIGINT")


graph_ktruss.__doc__ = graph_ktruss.__doc__.replace("{K}", str(KTRUSS_K)).replace(
    "{R}", str(KTRUSS_ROUNDS)
)


def _ktruss_oracle() -> str:
    body = """
e0 AS MATERIALIZED (SELECT part_a, part_b FROM cop)"""
    for r in range(1, KTRUSS_ROUNDS + 1):
        p = f"e{r - 1}"
        body += f""",
e{r} AS MATERIALIZED (
  SELECT part_a, part_b FROM (
    SELECT e.part_a, e.part_b,
           count(CASE WHEN c.blo IS NOT NULL THEN 1 END) AS sup
    FROM {p} e
    LEFT JOIN (SELECT part_a AS u, part_b AS v FROM {p}
               UNION ALL SELECT part_b, part_a FROM {p}) s
      ON s.u = e.part_a AND s.v <> e.part_b
    LEFT JOIN (SELECT part_a AS blo, part_b AS bhi FROM {p}) c
      ON c.blo = least(e.part_b, s.v) AND c.bhi = greatest(e.part_b, s.v)
    GROUP BY e.part_a, e.part_b
  ) WHERE sup >= {KTRUSS_K - 2}
)"""
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, count(*) AS n_edges FROM e{r}"
        for r in range(KTRUSS_ROUNDS + 1)
    )
    return tpch.oracle_with(
        unions,
        extra_ctes="""contains_el AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
),
cop AS (
  SELECT a.part_id AS part_a, b.part_id AS part_b
  FROM contains_el a JOIN contains_el b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),"""
        + body.lstrip(),
    )


ORACLE_KTRUSS = _ktruss_oracle()


# -- frequent 3-itemsets (Apriori level 3) -----------------------------------------

ITEMSET3_MIN_SUPPORT = 2  # the synthetic baskets max out at support 2 for triples


def graph_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level 3 — the iteration graph_association_rules' docstring
    promises: frequent part TRIPLES with support ≥ {ITEMSET3_MIN_SUPPORT}
    and the (pair → third item) confidence that turns them into
    next-item recommendations a pair model cannot express.

    A-priori pruning, distributed: baskets are first restricted to parts
    that appear in ANY frequent pair (downward closure says no other part
    can be in a frequent triple — the prune that keeps the triple join
    from cubing the raw basket), then ONE three-way self-join per order
    with a < b < c enumerates candidate triples, and a count agg applies
    the support threshold.  Confidence divides by the (a,b) pair support
    via one broadcast join against the frequent-pair table.  At 100 TB
    the per-order fanout is C(n_frequent_items_in_order, 3) — the prune
    plus a per-order frequent-item cap (documented standard practice)
    bounds it; every join is order-keyed, no shuffle of enumerated
    triples before their map-side-combining count."""
    eng = tpch.bulk_engine(spark, sf_dir)
    contains = (
        eng.store.edges_df()
        .filter(F.col("type") == "contains")
        .select(F.col("src").alias("order_id"), F.col("dst").alias("part_id"))
    )
    pairs = graph_copurchase_pairs(spark, sf_dir)  # part_a < part_b, support >= 2
    freq_items = (
        pairs.select(F.col("part_a").alias("part_id"))
        .union(pairs.select(F.col("part_b")))
        .distinct()
    )
    # pruned baskets as sorted arrays + map-side C(k,3) combination
    # explode (r13 — the same basket-aggregation rewrite as
    # graph_copurchase_pairs): the old shape scanned the pruned list
    # three times and shuffled it through two order-keyed joins;
    # collect_set folds the per-order DISTINCT into one exchange and
    # the sorted-array transforms emit each ordered triple exactly once
    # with zero joins.  Per-order fan-out is C(k,3), k <= order size.
    b2 = contains.join(F.broadcast(freq_items), "part_id").select(
        "order_id", "part_id"
    )
    baskets3 = b2.groupBy("order_id").agg(
        F.array_sort(F.collect_set("part_id")).alias("parts")
    )
    triple = F.explode(
        F.flatten(
            F.flatten(
                F.expr(
                    "transform(parts, (x, i) -> transform("
                    "slice(parts, i + 2, size(parts)), (y, j) -> transform("
                    "slice(parts, i + j + 3, size(parts)),"
                    " z -> struct(x AS pa, y AS pb, z AS pc))))"
                )
            )
        )
    )
    triples = (
        baskets3.select(triple.alias("t"))
        .select("t.pa", "t.pb", "t.pc")
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= ITEMSET3_MIN_SUPPORT)
    )
    ab = pairs.select(
        F.col("part_a").alias("pa"),
        F.col("part_b").alias("pb"),
        F.col("n_orders").alias("n_ab"),
    )
    return triples.join(F.broadcast(ab), ["pa", "pb"]).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("pc").alias("part_c"),
        "support",
        F.floor(F.lit(10000) * F.col("support") / F.col("n_ab"))
        .cast("long")
        .alias("conf_ab_to_c_bp"),
    )


ORACLE_ITEMSETS3 = tpch.oracle_with(
    f"""SELECT t.pa AS part_a, t.pb AS part_b, t.pc AS part_c, t.support,
       CAST(floor(10000 * t.support / p.n_orders) AS BIGINT) AS conf_ab_to_c_bp
FROM (
  SELECT a.part_id AS pa, b.part_id AS pb, c.part_id AS pc,
         count(*) AS support
  FROM b2 a JOIN b2 b ON a.order_id = b.order_id AND a.part_id < b.part_id
            JOIN b2 c ON a.order_id = c.order_id AND b.part_id < c.part_id
  GROUP BY 1, 2, 3 HAVING count(*) >= {ITEMSET3_MIN_SUPPORT}
) t JOIN cop p ON t.pa = p.part_a AND t.pb = p.part_b""",
    extra_ctes="""contains_el AS MATERIALIZED (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
),
cop AS MATERIALIZED (
  SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
  FROM contains_el a JOIN contains_el b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
freq_items AS MATERIALIZED (
  SELECT DISTINCT part_id FROM (
    SELECT part_a AS part_id FROM cop UNION SELECT part_b FROM cop
  )
),
b2 AS MATERIALIZED (
  SELECT e.order_id, e.part_id FROM contains_el e
  JOIN freq_items f ON e.part_id = f.part_id
)""",
)


# -- bipartite squares (C4) clustering ---------------------------------------------


SQ_SAMPLE_PCT = 10  # md5 node-sample rate for the wedge-heavy side


def graph_bipartite_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite clustering via 4-cycles — triangles cannot exist in a
    bipartite graph, so its cohesion statistic is the SQUARE (Latapy et
    al.): customer pairs sharing ≥2 suppliers close a C4.  Reports, per
    side, the number of same-side pairs with ≥1 common neighbor (paths),
    pairs with ≥2 (squares, i.e. C4-closed), total C4 count
    (Σ C(cn,2)), and the closure ratio in bp — the bipartite analog of
    the triangle clustering coefficient.

    Side asymmetry is the whole scale story: wedges are keyed on the
    OPPOSITE side, so each side costs Σ_w deg(w)² over the other side's
    nodes — the supplier-side census rides the many cheap customer hubs
    (exact), while the customer-side census rides ~1k supplier hubs of
    degree ~|customers|/|suppliers| and explodes quadratically (measured
    28.5 s at sf0.1, 250M wedge rows).  The production answer (Latapy's
    recommendation for web-scale bipartite graphs) is a NODE SAMPLE on
    the heavy side: a deterministic md5 {SQ_SAMPLE_PCT}%-sample of
    customers, pair stats computed within the sample (closure_bp is the
    pair-closure estimator; counts are within-sample counts).  The
    ``sample_bp`` column carries the rate (10000 = exact census) so the
    reader knows which regime each row is.  Deterministic md5 sampling =
    engine-portable, repartition-stable, oracle-replicated exactly.

    Scale shape: one common-neighbor self-join per side keyed on the
    shared endpoint, wedge mass ∝ sample_rate² on the sampled side;
    grouped to (pair, cn) with map-side combine, then a 2-row rollup.
    All integer; C(cn,2) = cn·(cn−1) div 2 exact."""
    orders = tpch.read_table(spark, sf_dir, "orders")
    lineitem = tpch.read_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            F.col("l_suppkey").cast("long").alias("s"),
        )
        .distinct()
        .transform(lineage_cut)
    )

    def side(base: DataFrame, key: str, other: str, name: str, bp: int) -> DataFrame:
        a = base.select(F.col(key).alias("u"), F.col(other).alias("w"))
        b = base.select(F.col(key).alias("v"), F.col(other).alias("w"))
        cn = (
            a.join(b, "w")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("cn"))
        )
        return cn.agg(
            F.lit(name).alias("side"),
            F.lit(bp).cast("long").alias("sample_bp"),
            F.count(F.lit(1)).alias("n_pairs_connected"),
            F.sum((F.col("cn") >= 2).cast("long")).alias("n_pairs_squared"),
            F.sum(F.expr("cn * (cn - 1) DIV 2")).alias("n_squares"),
            F.expr(
                "CAST((10000 * sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END)) "
                "DIV count(1) AS BIGINT)"
            ).alias("closure_bp"),
        )

    c_hash = F.conv(F.substring(F.md5(F.col("c").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    sampled = pairs.filter(c_hash % 100 < SQ_SAMPLE_PCT)
    return side(
        sampled, "c", "s", "customer", SQ_SAMPLE_PCT * 100
    ).unionByName(side(pairs, "s", "c", "supplier", 10000))


ORACLE_BIPARTITE_SQ = f"""
WITH el AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c, CAST(l_suppkey AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
els AS (
  SELECT c, s FROM el
  WHERE ('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8))::BIGINT % 100
        < {SQ_SAMPLE_PCT}
),
ccn AS (
  SELECT a.c AS u, b.c AS v, count(*) AS cn
  FROM els a JOIN els b ON a.s = b.s AND a.c < b.c
  GROUP BY 1, 2
),
scn AS (
  SELECT a.s AS u, b.s AS v, count(*) AS cn
  FROM el a JOIN el b ON a.c = b.c AND a.s < b.s
  GROUP BY 1, 2
)
SELECT 'customer' AS side, CAST({SQ_SAMPLE_PCT * 100} AS BIGINT) AS sample_bp,
       count(*) AS n_pairs_connected,
       CAST(sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_squared,
       CAST(sum(cn * (cn - 1) // 2) AS BIGINT) AS n_squares,
       CAST((10000 * sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         AS closure_bp
FROM ccn
UNION ALL
SELECT 'supplier', CAST(10000 AS BIGINT), count(*),
       CAST(sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(cn * (cn - 1) // 2) AS BIGINT),
       CAST((10000 * sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
FROM scn
"""


# -- degree assortativity ----------------------------------------------------------


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — Newman's r: the
    Pearson correlation of endpoint degrees over edges.  Positive = hubs
    attach to hubs (social-network-like), negative = hub-and-spoke
    (infrastructure-like); the single number that says which skew
    mitigations the graph ops here will actually face.

    Exactness: all five correlation sums are exact integers over the
    directed edge incidence (each undirected edge counted both ways, the
    standard symmetrization); the one float step is the final
    sqrt+divide on exact integer operands — identical IEEE ops in both
    engines (the zipf-fit float policy), emitted in floored micro-units.

    Scale shape: ONE degree agg + ONE edge⋈degree join on each endpoint
    (degree table broadcasts) + a 1-row moment aggregate.  Nothing
    iterates; cost is the two broadcast joins over the edge list."""
    pairs = graph_copurchase_pairs(spark, sf_dir).select("part_a", "part_b")
    sym = pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v")).union(
        pairs.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    e = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    s = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return s.select(
        F.col("m").cast("bigint").alias("n_directed_edges"),
        F.expr(
            "CAST(floor(1000000.0 * (m * sxy - sx * sy) "
            "/ (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) "
            "* sqrt(CAST(m * syy - sy * sy AS DOUBLE)))) AS BIGINT)"
        ).alias("assortativity_micro"),
    )


ORACLE_ASSORTATIVITY = tpch.oracle_with(
    """SELECT CAST(m AS BIGINT) AS n_directed_edges,
       CAST(floor(1000000.0 * (m * sxy - sx * sy)
            / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))) AS BIGINT)
         AS assortativity_micro
FROM (
  SELECT count(*) AS m, sum(dx * dy) AS sxy, sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dx) AS sxx, sum(dy * dy) AS syy
  FROM (
    SELECT du.d AS dx, dv.d AS dy
    FROM sym e
    JOIN (SELECT u AS node, count(*) AS d FROM sym GROUP BY u) du
      ON e.u = du.node
    JOIN (SELECT u AS node, count(*) AS d FROM sym GROUP BY u) dv
      ON e.v = dv.node
  )
)""",
    extra_ctes="""contains_el AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
),
cop AS (
  SELECT a.part_id AS part_a, b.part_id AS part_b
  FROM contains_el a JOIN contains_el b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (
  SELECT part_a AS u, part_b AS v FROM cop
  UNION ALL SELECT part_b, part_a FROM cop
)""",
)


# -- Adamic-Adar link prediction -------------------------------------------------

AA_HUB_CAP = 50  # common neighbors above this degree are skipped (hub exclusion)
AA_TOP = 100


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph: for part
    pairs NOT yet co-purchased, score Σ_z 1/ln(deg(z)) over their common
    neighbors z — rare shared neighbors count more than hubs — and emit
    the top 100 predicted links.  The standard link-prediction baseline
    (friend suggestion, next-basket recommendation).

    Engine-deterministic: each 1/ln(deg) term is floored to basis points
    BEFORE summation, so the score is an exact integer sum (no float
    accumulation-order exposure across engines or Spark partitionings).

    Scale shape: candidates come from ONE self-join of the symmetric edge
    list keyed on the common neighbor — Σ deg(z)² pairs, with hubs above
    deg 50 excluded as intermediates (their terms are the smallest, and
    the cap is what bounds the quadratic fan-out at 100 TB; same cap in
    the oracle).  Existing edges drop via a left-anti join, the head is
    TakeOrderedAndProject — never a global sort."""
    pairs = graph_copurchase_pairs(spark, sf_dir)
    sym = pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v")).union(
        pairs.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("z")).agg(F.count(F.lit(1)).alias("deg_z"))
    thru = deg.filter((F.col("deg_z") >= 2) & (F.col("deg_z") <= AA_HUB_CAP))
    nbrs = sym.select(F.col("v").alias("z"), F.col("u").alias("p")).join(thru, "z")
    cand = (
        nbrs.select("z", F.col("p").alias("part_a"), "deg_z")
        .join(nbrs.select("z", F.col("p").alias("part_b")), "z")
        .filter(F.col("part_a") < F.col("part_b"))
    )
    scored = (
        cand.join(pairs.select("part_a", "part_b"), ["part_a", "part_b"], "left_anti")
        .withColumn(
            "term_bp", F.floor(F.lit(10000.0) / F.log(F.col("deg_z"))).cast("long")
        )
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("term_bp").cast("long").alias("aa_bp"),
        )
    )
    return scored.orderBy(
        F.desc("aa_bp"), F.asc("part_a"), F.asc("part_b")
    ).limit(AA_TOP)


ORACLE_ADAMIC_ADAR = tpch.oracle_with(
    f"""SELECT part_a, part_b, n_common, aa_bp FROM (
  SELECT c.part_a, c.part_b, count(*) AS n_common,
         CAST(sum(CAST(floor(10000.0 / ln(deg_z)) AS BIGINT)) AS BIGINT) AS aa_bp
  FROM (
    SELECT n1.p AS part_a, n2.p AS part_b, n1.z, n1.deg_z
    FROM nbrs n1 JOIN nbrs n2 ON n1.z = n2.z AND n1.p < n2.p
  ) c
  LEFT JOIN pairs e ON e.part_a = c.part_a AND e.part_b = c.part_b
  WHERE e.part_a IS NULL
  GROUP BY c.part_a, c.part_b
)
ORDER BY aa_bp DESC, part_a, part_b
LIMIT {AA_TOP}""",
    extra_ctes=f"""contains_el AS (
  SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains'
),
pairs AS (
  SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
  FROM contains_el a JOIN contains_el b
    ON a.order_id = b.order_id AND a.part_id < b.part_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (
  SELECT part_a AS u, part_b AS v FROM pairs
  UNION ALL SELECT part_b, part_a FROM pairs
),
degs AS (
  SELECT u AS z, count(*) AS deg_z FROM sym GROUP BY u
  HAVING count(*) >= 2 AND count(*) <= {AA_HUB_CAP}
),
nbrs AS (
  SELECT s.v AS z, s.u AS p, d.deg_z FROM sym s JOIN degs d ON s.v = d.z
)""",
)


# -- landmark betweenness (fixed-point Brandes) ----------------------------------

BETW_K = 4  # landmark sources
BETW_HOPS = 4  # BFS depth (layers 0..4); backward pass runs 3..1
BETW_SCALE = 1_000_000  # delta fixed-point scale


def graph_betweenness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark betweenness centrality — Brandes' dependency accumulation
    run from {BETW_K} landmark sources over the undirected customer↔supplier
    purchase graph (the standard sampled estimator: exact betweenness needs
    all-N sources, Brandes-on-landmarks needs K; Riondato-Kornaropoulos
    sampling bounds apply).  Completes the centrality family next to
    degree / pagerank / HITS / closeness — betweenness is the broker
    measure none of those capture.

    Forward pass: per-landmark BFS layers 0..{BETW_HOPS} carrying σ
    (shortest-path counts: σ(w) = Σ σ(v) over predecessors — exact
    integers).  Backward pass: δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) over
    successors one layer deeper, held in {BETW_SCALE} fixed point with the
    per-edge term ``(σ_v·(SCALE+δ_w)) div σ_w`` evaluated in
    DECIMAL(38,0)/HUGEINT — truncating division of non-negative integers,
    identical in both engines, so the driver hash is exact (same
    fixed-point-per-round contract as embedding_pca_power).  bc(v) sums
    δ over landmarks; landmarks themselves are excluded (Brandes s≠v).

    Scale shape: each forward hop is ONE shuffle (frontier ⋈ adjacency,
    σ-sum combiner, anti-join against the checkpointed visited set); each
    backward layer is ONE shuffle (layer ⋈ adj ⋈ deeper-δ by (lm, node)).
    State is ≤ K·N rows throughout — the multi-source-BFS posture of
    graph_closeness_landmarks with σ/δ riding the key.  The layer tables
    are what bound the cost: K·N rows each, never edges×layers."""
    orders = tpch.read_table(spark, sf_dir, "orders")
    lineitem = tpch.read_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("c"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("s"),
        )
        .distinct()
        .transform(lineage_cut)
    )
    adj = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    landmarks = (
        pairs.select("s").distinct().orderBy("s").limit(BETW_K)
        .select(F.col("s").alias("lm"))
    )
    l0 = landmarks.select(
        "lm", F.col("lm").alias("node"), F.lit(1).cast("bigint").alias("sigma")
    ).transform(lineage_cut)
    layers = [l0]
    visited = lineage_cut(l0.select("lm", "node"))
    # not pregel.iterate: the backward pass reads every layer, and iterate
    # releases each round's state once the next one is cut
    for _ in range(BETW_HOPS):
        frontier = layers[-1]
        nxt = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .groupBy("lm", F.col("dst").alias("node2"))
            .agg(F.sum("sigma").alias("sigma"))
            .select("lm", F.col("node2").alias("node"), "sigma")
            .join(visited, ["lm", "node"], "left_anti")
            .transform(lineage_cut)
        )
        layers.append(nxt)
        visited = lineage_cut(visited.unionByName(nxt.select("lm", "node")))
    # backward: delta held in BETW_SCALE fixed point, deepest layer = 0
    delta = layers[BETW_HOPS].select(
        "lm", "node", "sigma", F.expr("CAST(0 AS DECIMAL(38,0))").alias("delta")
    )
    deltas = []
    for d in range(BETW_HOPS - 1, 0, -1):
        layer = layers[d]
        contrib = (
            layer.join(adj, layer["node"] == adj["src"])
            .select("lm", "node", "sigma", F.col("dst").alias("wnode"))
            .join(
                delta.select(
                    "lm",
                    F.col("node").alias("wnode"),
                    F.col("sigma").alias("wsigma"),
                    F.col("delta").alias("wdelta"),
                ),
                ["lm", "wnode"],
            )
            .groupBy("lm", "node")
            .agg(
                F.sum(
                    F.expr(
                        f"(CAST(sigma AS DECIMAL(38,0)) * ({BETW_SCALE} + wdelta)) "
                        f"div wsigma"
                    )
                ).alias("dsum")
            )
        )
        delta = (
            layer.join(contrib, ["lm", "node"], "left")
            .select(
                "lm",
                "node",
                "sigma",
                F.expr("CAST(coalesce(dsum, 0) AS DECIMAL(38,0))").alias("delta"),
            )
            .transform(lineage_cut)
        )
        deltas.append(delta)
    alld = deltas[0]
    for d in deltas[1:]:
        alld = alld.unionByName(d)
    return (
        alld.groupBy("node")
        .agg(
            F.expr("CAST(sum(delta) AS DECIMAL(38,0))").alias("dsum"),
            F.count(F.lit(1)).alias("n_landmarks"),
        )
        .filter(F.col("dsum") > 0)
        .select(
            F.col("node").alias("node_id"),
            F.expr("CAST(dsum AS BIGINT)").alias("bc_e6"),
            "n_landmarks",
        )
    )


def _betweenness_oracle() -> str:
    body = f"""
pairs AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
adj AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs
),
landmarks AS (SELECT DISTINCT s AS lm FROM pairs ORDER BY s LIMIT {BETW_K}),
l0 AS MATERIALIZED (
  SELECT lm, lm AS node, CAST(1 AS BIGINT) AS sigma FROM landmarks
),
vis0 AS MATERIALIZED (SELECT lm, node FROM l0)"""
    for d in range(1, BETW_HOPS + 1):
        body += f""",
l{d} AS MATERIALIZED (
  SELECT l.lm, a.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
  FROM l{d - 1} l JOIN adj a ON l.node = a.src
  WHERE NOT EXISTS (SELECT 1 FROM vis{d - 1} p
                    WHERE p.lm = l.lm AND p.node = a.dst)
  GROUP BY l.lm, a.dst
),
vis{d} AS MATERIALIZED (
  SELECT lm, node FROM vis{d - 1} UNION ALL SELECT lm, node FROM l{d}
)"""
    body += f""",
dl{BETW_HOPS} AS MATERIALIZED (
  SELECT lm, node, sigma, CAST(0 AS HUGEINT) AS delta FROM l{BETW_HOPS}
)"""
    for d in range(BETW_HOPS - 1, 0, -1):
        body += f""",
dl{d} AS MATERIALIZED (
  SELECT l.lm, l.node, l.sigma,
         coalesce(sum((CAST(l.sigma AS HUGEINT) * ({BETW_SCALE} + w.delta))
                      // w.sigma), 0) AS delta
  FROM l{d} l
  LEFT JOIN adj a ON a.src = l.node
  LEFT JOIN dl{d + 1} w ON w.lm = l.lm AND w.node = a.dst
  GROUP BY l.lm, l.node, l.sigma
)"""
    unions = "\nUNION ALL ".join(
        f"SELECT lm, node, delta FROM dl{d}" for d in range(1, BETW_HOPS)
    )
    return f"""
WITH {body.lstrip()}
SELECT node AS node_id, CAST(sum(delta) AS BIGINT) AS bc_e6,
       count(*) AS n_landmarks
FROM ({unions})
GROUP BY node
HAVING sum(delta) > 0
"""


ORACLE_BETWEENNESS = _betweenness_oracle()


# -- diameter lower bound (double-sweep BFS) --------------------------------------

DIAM_HOPS = 6  # per-sweep BFS cap (graph diameter at any tested SF is < 6)


def graph_diameter_double_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter lower bound by the double-sweep heuristic (Magnien-
    Latapy-Habib): BFS from a fixed seed, take the farthest node u
    (deterministic tie-break on node id), BFS again from u — u's
    eccentricity is the classic tight diameter lower bound (exact on
    trees, near-exact on small-world graphs).  The topology summary the
    other landmark ops assume: it justifies their hop caps.

    Scale shape: two single-source min-dist BFS runs driven through
    ``pregel.iterate`` (state = (node, dist), one shuffle per hop —
    the closeness posture with K=1), each capped at {DIAM_HOPS} hops;
    the argmax handoff is a 1-row broadcast.  All integers."""
    orders = tpch.read_table(spark, sf_dir, "orders")
    lineitem = tpch.read_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("c"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("s"),
        )
        .distinct()
        .transform(lineage_cut)
    )
    adj = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )

    def bfs(seed: DataFrame) -> DataFrame:
        state0 = seed.select(
            F.col("node").alias("node_id"), F.lit(0).cast("int").alias("dist")
        )

        def hop(state: DataFrame) -> DataFrame:
            expanded = state.join(adj, state["node_id"] == adj["src"]).select(
                F.col("dst").alias("node_id"), (F.col("dist") + 1).alias("dist")
            )
            return (
                state.unionByName(expanded)
                .groupBy("node_id")
                .agg(F.min("dist").alias("dist"))
            )

        out, _ = pregel.iterate(state0, hop, max_rounds=DIAM_HOPS, checkpoint_every=2)
        return out

    seed1 = pairs.select(F.min("s").alias("node"))
    s1 = bfs(seed1)
    far1 = s1.orderBy(F.desc("dist"), F.asc("node_id")).limit(1)
    s2 = bfs(far1.select(F.col("node_id").alias("node")))
    sum1 = s1.agg(
        F.max("dist").alias("ecc_seed"), F.count(F.lit(1)).alias("n_reached_seed")
    )
    sum2 = s2.agg(
        F.max("dist").alias("diameter_lb"), F.count(F.lit(1)).alias("n_reached_far")
    )
    return (
        sum1.crossJoin(far1.select(F.col("node_id").alias("far_node")))
        .crossJoin(sum2)
        .select(
            "ecc_seed", "n_reached_seed", "far_node", "diameter_lb", "n_reached_far"
        )
    )


def _diameter_oracle() -> str:
    def chain(tag: str, seed_sql: str) -> str:
        out = f""",
{tag}0 AS MATERIALIZED (SELECT {seed_sql} AS node_id, 0 AS dist)"""
        for k in range(1, DIAM_HOPS + 1):
            out += f""",
{tag}{k} AS MATERIALIZED (
  SELECT node_id, min(dist) AS dist FROM (
    SELECT node_id, dist FROM {tag}{k - 1}
    UNION ALL
    SELECT a.dst AS node_id, p.dist + 1 AS dist
    FROM {tag}{k - 1} p JOIN adj a ON p.node_id = a.src
  ) GROUP BY node_id
)"""
        return out

    body = f"""
pairs AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
adj AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs
)"""
    body += chain("sa", "(SELECT min(s) FROM pairs)")
    body += f""",
far AS MATERIALIZED (
  SELECT node_id FROM sa{DIAM_HOPS} ORDER BY dist DESC, node_id ASC LIMIT 1
)"""
    body += chain("sb", "(SELECT node_id FROM far)")
    return f"""
WITH {body.lstrip()}
SELECT (SELECT max(dist) FROM sa{DIAM_HOPS}) AS ecc_seed,
       (SELECT count(*) FROM sa{DIAM_HOPS}) AS n_reached_seed,
       (SELECT node_id FROM far) AS far_node,
       (SELECT max(dist) FROM sb{DIAM_HOPS}) AS diameter_lb,
       (SELECT count(*) FROM sb{DIAM_HOPS}) AS n_reached_far
"""


ORACLE_DIAMETER = _diameter_oracle()


RICH_CLUB_KS = [2, 4, 8, 16]


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-purchase graph (Colizza et al.
    2006): for each degree threshold k, take the subgraph induced by
    nodes with degree > k and measure how densely THEY interconnect —
    φ(k) = 2·E_k / (N_k·(N_k−1)) — the standard probe for whether hubs
    form an elite core (φ rising with k) or avoid each other.  Reported
    in exact floored basis points alongside N_k, E_k, and the full
    graph's edge count for context.

    Scale shape: degrees are one aggregation over the (checkpointed)
    pair list; each threshold's E_k is the pair list SEMI-JOINED against
    the high-degree node set on both endpoints (broadcast — hub sets are
    small by definition); the φ arithmetic runs on |K| rows.  No
    quadratic stage anywhere — the subgraph is counted, never
    materialized as pairs²."""
    pairs = (
        graph_copurchase_pairs(spark, sf_dir)
        .select("part_a", "part_b")
        .transform(lineage_cut)  # feeds degrees + |K| edge counts
    )
    adj = pairs.select(F.col("part_a").alias("node_id")).unionByName(
        pairs.select(F.col("part_b").alias("node_id"))
    )
    deg = adj.groupBy("node_id").agg(F.count(F.lit(1)).alias("d"))
    m_row = pairs.agg(F.count(F.lit(1)).cast("long").alias("m_total"))
    out = None
    for k in RICH_CLUB_KS:
        rich = deg.filter(F.col("d") > k).select("node_id")
        nk = rich.agg(F.count(F.lit(1)).cast("long").alias("n_k"))
        ek = (
            pairs.join(
                F.broadcast(rich.select(F.col("node_id").alias("part_a"))),
                "part_a",
                "left_semi",
            )
            .join(
                F.broadcast(rich.select(F.col("node_id").alias("part_b"))),
                "part_b",
                "left_semi",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
        )
        row = (
            nk.crossJoin(ek)
            .crossJoin(F.broadcast(m_row))
            .select(
                F.lit(k).cast("long").alias("k"),
                "n_k",
                "e_k",
                F.when(
                    F.col("n_k") >= 2,
                    F.expr("(10000 * 2 * e_k) div (n_k * (n_k - 1))"),
                )
                .cast("long")
                .alias("phi_bp"),
                "m_total",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _rich_club_oracle() -> str:
    rows = []
    for k in RICH_CLUB_KS:
        rows.append(
            f"""SELECT {k} AS k,
  (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > {k}) AS n_k,
  (SELECT CAST(count(*) AS BIGINT) FROM cop c
   WHERE c.part_a IN (SELECT node_id FROM deg WHERE d > {k})
     AND c.part_b IN (SELECT node_id FROM deg WHERE d > {k})) AS e_k,
  CAST(CASE WHEN (SELECT count(*) FROM deg WHERE d > {k}) >= 2 THEN
    (10000 * 2 * (SELECT count(*) FROM cop c
                  WHERE c.part_a IN (SELECT node_id FROM deg WHERE d > {k})
                    AND c.part_b IN (SELECT node_id FROM deg WHERE d > {k})))
    // ((SELECT count(*) FROM deg WHERE d > {k})
        * ((SELECT count(*) FROM deg WHERE d > {k}) - 1))
  END AS BIGINT) AS phi_bp,
  (SELECT CAST(count(*) AS BIGINT) FROM cop) AS m_total"""
        )
    body = "\nUNION ALL\n".join(rows)
    extra = """cop AS MATERIALIZED (
  SELECT part_a, part_b FROM (
    SELECT a.part_id AS part_a, b.part_id AS part_b, count(*) AS n_orders
    FROM (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') a
    JOIN (SELECT DISTINCT src AS order_id, dst AS part_id FROM g_edges WHERE type = 'contains') b
      ON a.order_id = b.order_id AND a.part_id < b.part_id
    GROUP BY 1, 2
  ) WHERE n_orders >= 2
),
deg AS MATERIALIZED (
  SELECT node_id, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT part_a AS node_id FROM cop
    UNION ALL SELECT part_b AS node_id FROM cop
  ) GROUP BY node_id
)"""
    return tpch.oracle_with(body, extra_ctes=extra)


ORACLE_RICH_CLUB = _rich_club_oracle()


# -- Eigenvector centrality (integer-grid power iteration) -------------------------

EIG_ROUNDS = 6
EIG_GRID = 1000


def eig_step_builder(
    nodes: DataFrame, und: DataFrame, cached: list
) -> "callable":
    """ONE grid-renormalized power-iteration step — x' = (G · Σ_{u∼v} x_u)
    div max — shared by the eigenvector pair (VERDICT r11 order #6: the
    fixed-depth and converged loops duplicated this verbatim and could
    drift).  The two registered shapes differ ONLY in the adjacency frame
    (`graph_eigenvector_converged` adds self-loops for the lazy walk) and
    the stop rule; the step itself is identical by construction now.

    Each round's contribution frame is persisted and appended to `cached`
    (caller unpersists): it is consumed TWICE per round — the broadcast
    1-row max ACTION, then the checkpoint materialization — and persisting
    it halves the per-round work (measured ~2.2× at sf0.1)."""
    # broadcast the (node-count-bounded, already-persisted) contribution
    # frame into the nodes left join: the planner otherwise picks a
    # SortMergeJoin that re-shuffles BOTH sides every round (the cached
    # aggregate's partitioning is hidden behind its AQE subplan), i.e.
    # 2 extra Exchanges + 2 Sorts per round for a frame that is read from
    # cache anyway.  SIZE-GATED on the measured node count (once per
    # query, invariant across rounds): broadcasts are driver-built and
    # hard-capped at 8 GB / 512 M rows, so on a billions-of-nodes graph
    # the unconditional hint would kill the job — above the cap the
    # attach runs unhinted and the planner shuffle-joins.  Placement
    # choice only; the DECIMAL integer sums are order-free, so the result
    # is identical either way (pinned by the forced-low-cap r13 test).
    n_nodes = nodes.count()

    def step(x: DataFrame) -> DataFrame:
        c = (
            x.join(und, x["node_id"] == und["src"])
            .select(F.col("dst").alias("node_id"), "score")
            .groupBy("node_id")
            .agg(F.sum("score").cast("decimal(38,0)").alias("c"))
            .persist()
        )
        cached.append(c)
        m = c.agg(F.max("c").alias("m"))  # 1 row by construction: hint stays
        return (
            nodes.join(maybe_broadcast(c, n_nodes), "node_id", "left")
            .crossJoin(F.broadcast(m))
            .selectExpr(
                "node_id",
                f"CAST((CAST({EIG_GRID} AS DECIMAL(38,0)) * coalesce(c, 0))"
                " div m AS BIGINT) AS score",
            )
        )

    return step


def graph_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality on the UNDIRECTED graph — "you matter if
    your neighbors matter", the recursive-importance score PageRank damps
    and HITS splits; the classic readout for influence in a symmetrized
    relationship graph.

    Exactness WITHOUT float normalization: the textbook power iteration
    renormalizes by the L2 norm each round (a global float reduction
    whose summation order no two engines share).  Here each round
    renormalizes onto the INTEGER GRID instead — x' = (G·Σ_{u∼v}x_u) div
    max — so every score is an exact integer in [0, G], the per-round
    max is an exact integer aggregate, and the whole iteration is
    engine-order-independent by construction.  The grid quantization
    (≤1/G relative per round) is the defined semantic, shared verbatim
    with the SQL unroll oracle.  Unlike HITS' unnormalized BIGINT trick
    (bounded to 2 sweeps by overflow), the grid renorm keeps magnitudes
    CONSTANT — any depth, any scale, same 64-bit arithmetic.

    Scale shape: one symmetrize + distinct, then per round ONE join
    keyed on src + one map-side-combined agg + a broadcast 1-row max —
    bounded lineage via pregel.iterate's checkpoint cadence."""
    eng = tpch.bulk_engine(spark, sf_dir)
    e = eng.store.edges_df().select("src", "dst")
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    nodes = eng.store.nodes_df().select("node_id")
    cached: list[DataFrame] = []
    step = eig_step_builder(nodes, und, cached)

    try:
        x0 = nodes.select("node_id", F.lit(EIG_GRID).cast("long").alias("score"))
        x, _ = pregel.iterate(
            x0, step, max_rounds=EIG_ROUNDS, checkpoint_every=1
        )  # the per-round broadcast-max ACTION re-executes any
        # un-checkpointed prefix of the chain; materializing every round
        # measured ~2x faster than cadence 2 at sf0.1 (16.9 -> 8.1 s)
    finally:
        und.unpersist()
        for c in cached:
            c.unpersist()
    coll = (F.col("node_id") / F.lit(10**12)).cast("long")
    return (
        x.withColumn("coll_code", coll)
        .groupBy("coll_code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
            F.sum("score").cast("long").alias("sum_score"),
        )
    )


def _eigenvector_oracle() -> str:
    body = """
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM g_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM g_edges
  )
),
x0 AS (SELECT node_id, CAST(1000 AS BIGINT) AS score FROM g_nodes)"""
    prev = "x0"
    for k in range(1, EIG_ROUNDS + 1):
        body += f""",
c{k} AS (
  SELECT u.dst AS node_id, CAST(sum(x.score) AS HUGEINT) AS c
  FROM {prev} x JOIN und u ON x.node_id = u.src
  GROUP BY u.dst
),
m{k} AS (SELECT max(c) AS m FROM c{k}),
x{k} AS MATERIALIZED (
  SELECT n.node_id,
         CAST((CAST({EIG_GRID} AS HUGEINT) * coalesce(c.c, 0)) // m.m AS BIGINT)
           AS score
  FROM g_nodes n LEFT JOIN c{k} c ON n.node_id = c.node_id CROSS JOIN m{k} m
)"""
        prev = f"x{k}"
    return tpch.oracle_with(
        f"""SELECT CAST(node_id // 1000000000000 AS BIGINT) AS coll_code,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM x{EIG_ROUNDS}
GROUP BY 1""",
        extra_ctes=body.lstrip(",\n"),
    )


ORACLE_EIGENVECTOR = _eigenvector_oracle()


# -- Eigenvector centrality, data-dependent stop ------------------------------------

EIG_CONV_MAX_ITER = 12
EIG_TOPK = 20


def graph_eigenvector_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality run to a DATA-DEPENDENT stop — the
    production companion to the fixed-depth :func:`graph_eigenvector_centrality`
    (kept as the bounded-cost variant), with the stop round hash-checked
    end to end (``rounds_run``).

    Two deliberate departures from the textbook loop, both measured on
    this graph's spectrum:

    1. **Lazy walk (A+I)**: the TPC-H relationship graph is bipartite-ish
       (customers↔orders↔items), so plain power iteration 2-cycles — the
       per-round score delta PLATEAUS near 960/1000 forever.  Self-loops
       shift the spectrum (same leading eigenvector, eigenvalues +1) and
       make the iteration aperiodic.
    2. **Top-K ATTRACTOR stop, not vector-norm stop**: even shifted,
       λ₂/λ₁ ≈ 0.95 here, so max|Δscore| ≤ tol would take >100 rounds —
       the raw vector converges slowly, but the RANKING consumers read
       settles fast.  And because the integer-grid renorm makes each
       round a deterministic map on a finite lattice, the attractor can
       be a 2-CYCLE even with self-loops (measured at sf0.1: consecutive
       top-20 sets fully disjoint forever, at both 10³ and 10⁶ grids —
       flooring breaks the spectral argument that A+I kills period 2).
       The loop therefore stops at the first round whose
       top-{EIG_TOPK} node SET equals the set from TWO rounds earlier —
       detecting period-1 AND period-2 attractors (a 1-step-stable
       ranking is 2-step-stable by transitivity); measured round 4 at
       sf0.01 and round 4 at sf0.1 vs the 12-round cap.

    The oracle REPLAYS the stop rule (unrolls the full cap, compares
    each top-K set against the set two rounds back, picks the first
    stable pair), so both engines stop at the same round by
    construction — the graph_pagerank_converged pattern.

    Returns the top-K rows (rank, node_id, score) at the stop round plus
    ``rounds_run``.  Exactness: scores are exact integers on the
    {EIG_GRID} grid (see graph_eigenvector_centrality); set compares and
    rank tiebreaks are over exact integers.  Scale shape: per round ONE
    src-keyed join + map-side-combined agg + broadcast 1-row max; the
    convergence probe is a {EIG_TOPK}-row TakeOrdered (no global sort),
    compared driver-side against the previous probe."""
    eng = tpch.bulk_engine(spark, sf_dir)
    e = eng.store.edges_df().select("src", "dst")
    nodes = eng.store.nodes_df().select("node_id")
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(
            nodes.select(
                F.col("node_id").alias("src"), F.col("node_id").alias("dst")
            )
        )
        .distinct()
        .persist()
    )

    cached: list[DataFrame] = []
    step = eig_step_builder(nodes, und, cached)

    hist: list[list[int]] = []

    def converged(cur) -> bool:
        top = [
            r["node_id"]
            for r in cur.orderBy(F.desc("score"), "node_id")
            .limit(EIG_TOPK)
            .collect()
        ]
        # round k's set vs round k-2's: hist holds rounds 1..k-1 here
        stable = len(hist) >= 2 and set(top) == set(hist[-2])
        hist.append(top)
        return stable

    try:
        x0 = nodes.select("node_id", F.lit(EIG_GRID).cast("long").alias("score"))
        x, iters = pregel.iterate(
            x0,
            step,
            max_rounds=EIG_CONV_MAX_ITER,
            checkpoint_every=1,
            converged=converged,
        )
    finally:
        und.unpersist()
        for c in cached:
            c.unpersist()
    w = Window.partitionBy(const_part(F.col("node_id"))).orderBy(
        F.desc("score"), "node_id"
    )
    return (
        x.orderBy(F.desc("score"), "node_id")
        .limit(EIG_TOPK)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("rounds_run", F.lit(iters).cast("long"))
        .select("rank", "node_id", "score", "rounds_run")
    )


def _eigenvector_converged_oracle() -> str:
    """SQL replay of graph_eigenvector_converged's stop rule: unroll the
    full {EIG_CONV_MAX_ITER}-round lazy-walk horizon, compute each round's
    top-{EIG_TOPK} set, and pick the FIRST round k >= 3 whose set equals
    round k-2's (symmetric-difference count 0 — the period-1/period-2
    attractor test); cap at the bound."""
    body = """
undl AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM g_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM g_edges
    UNION ALL
    SELECT node_id AS src, node_id AS dst FROM g_nodes
  )
),
x0 AS (SELECT node_id, CAST(1000 AS BIGINT) AS score FROM g_nodes)"""
    prev = "x0"
    for k in range(1, EIG_CONV_MAX_ITER + 1):
        body += f""",
c{k} AS (
  SELECT u.dst AS node_id, CAST(sum(x.score) AS HUGEINT) AS c
  FROM {prev} x JOIN undl u ON x.node_id = u.src
  GROUP BY u.dst
),
m{k} AS (SELECT max(c) AS m FROM c{k}),
x{k} AS MATERIALIZED (
  SELECT n.node_id,
         CAST((CAST({EIG_GRID} AS HUGEINT) * coalesce(c.c, 0)) // m.m AS BIGINT)
           AS score
  FROM g_nodes n LEFT JOIN c{k} c ON n.node_id = c.node_id CROSS JOIN m{k} m
),
top{k} AS MATERIALIZED (
  SELECT node_id, score,
         row_number() OVER (ORDER BY score DESC, node_id) AS rnk
  FROM x{k} QUALIFY rnk <= {EIG_TOPK}
)"""
        prev = f"x{k}"
    sames = "\nUNION ALL\n".join(
        f"SELECT {k} AS k,"
        f" (SELECT count(*) FROM (SELECT node_id FROM top{k}"
        f"   EXCEPT SELECT node_id FROM top{k - 2}))"
        f" + (SELECT count(*) FROM (SELECT node_id FROM top{k - 2}"
        f"   EXCEPT SELECT node_id FROM top{k})) AS d"
        for k in range(3, EIG_CONV_MAX_ITER + 1)
    )
    tops_all = "\nUNION ALL\n".join(
        f"SELECT {k} AS k, rnk, node_id, score FROM top{k}"
        for k in range(3, EIG_CONV_MAX_ITER + 1)
    )
    body += f""",
sames AS (
{sames}
),
chosen AS (
  SELECT CAST(coalesce(min(k), {EIG_CONV_MAX_ITER}) AS BIGINT) AS rounds_run
  FROM sames WHERE d = 0
),
tops_all AS (
{tops_all}
)"""
    return tpch.oracle_with(
        f"""SELECT CAST(t.rnk AS BIGINT) AS rank, t.node_id, t.score, ch.rounds_run
FROM tops_all t CROSS JOIN chosen ch
WHERE t.k = ch.rounds_run
ORDER BY t.rnk""",
        extra_ctes=body.lstrip(",\n"),
    )


ORACLE_EIGENVECTOR_CONVERGED = _eigenvector_converged_oracle()


QUERIES = {
    "graph_eigenvector_centrality": graph_eigenvector_centrality,
    "graph_eigenvector_converged": graph_eigenvector_converged,
    "graph_rich_club": graph_rich_club,
    # degree_distribution + copurchase_pairs ride the merged
    # graph_degree_copurchase row (functions kept for internal callers)
    "graph_degree_copurchase": graph_degree_copurchase,
    "graph_kcore": graph_kcore,
    "graph_pagerank": graph_pagerank,
    "graph_ppr_seeded": graph_ppr_seeded,
    "graph_pagerank_converged": graph_pagerank_converged,
    "graph_connected_components": graph_connected_components,
    "graph_cc_converged": graph_cc_converged,
    "graph_two_hop_bucketed": graph_two_hop_bucketed,
    "graph_node_similarity": graph_node_similarity,
    "graph_triangle_count": graph_triangle_count,
    "graph_label_propagation": graph_label_propagation,
    "graph_association_rules": graph_association_rules,
    "graph_hits": graph_hits,
    "graph_closeness_landmarks": graph_closeness_landmarks,
    "graph_betweenness_landmarks": graph_betweenness_landmarks,
    "graph_diameter_double_sweep": graph_diameter_double_sweep,
    "graph_modularity": graph_modularity,
    "graph_louvain_refine": graph_louvain_refine,
    "graph_louvain_converged": graph_louvain_converged,
    "graph_ktruss": graph_ktruss,
    "graph_assortativity": graph_assortativity,
    "graph_itemsets3": graph_itemsets3,
    "graph_bipartite_squares": graph_bipartite_squares,
    "graph_random_walks": graph_random_walks,
    "graph_adamic_adar": graph_adamic_adar,
    "graph_edge_support": graph_edge_support,
    "graph_clustering_coefficient": graph_clustering_coefficient,
    "graph_harmonic_landmarks": graph_harmonic_landmarks,
}

ORACLES = {
    "graph_rich_club": ORACLE_RICH_CLUB,
    "graph_triangle_count": ORACLE_TRIANGLES,
    "graph_kcore": ORACLE_KCORE,
    "graph_degree_copurchase": ORACLE_DEGREE_COPURCHASE,
    "graph_pagerank": ORACLE_PAGERANK,
    "graph_ppr_seeded": ORACLE_PPR,
    # the converged variant's oracle replays the convergence rule itself in
    # SQL (group-delta probe over the full unrolled horizon), so the
    # data-dependent iteration depth is hash-checked, not just rows-only
    "graph_pagerank_converged": ORACLE_PAGERANK_CONVERGED,
    "graph_connected_components": ORACLE_CC,
    # the converged CC reaches the same fixed point the 4-round unroll proves,
    # so it shares the full value-hash oracle
    "graph_cc_converged": ORACLE_CC,
    "graph_two_hop_bucketed": ORACLE_TWO_HOP,
    "graph_node_similarity": ORACLE_NODE_SIMILARITY,
    "graph_label_propagation": ORACLE_LPA,
    "graph_association_rules": ORACLE_ASSOC,
    "graph_hits": ORACLE_HITS,
    "graph_eigenvector_centrality": ORACLE_EIGENVECTOR,
    "graph_eigenvector_converged": ORACLE_EIGENVECTOR_CONVERGED,
    "graph_closeness_landmarks": ORACLE_CLOSENESS,
    "graph_betweenness_landmarks": ORACLE_BETWEENNESS,
    "graph_diameter_double_sweep": ORACLE_DIAMETER,
    "graph_modularity": ORACLE_MODULARITY,
    "graph_louvain_refine": ORACLE_LOUVAIN_REFINE,
    "graph_louvain_converged": ORACLE_LOUVAIN_CONVERGED,
    "graph_ktruss": ORACLE_KTRUSS,
    "graph_assortativity": ORACLE_ASSORTATIVITY,
    "graph_itemsets3": ORACLE_ITEMSETS3,
    "graph_bipartite_squares": ORACLE_BIPARTITE_SQ,
    "graph_random_walks": ORACLE_WALKS,
    "graph_adamic_adar": ORACLE_ADAMIC_ADAR,
    "graph_edge_support": ORACLE_EDGE_SUPPORT,
    "graph_clustering_coefficient": ORACLE_CLUSTERING_COEFF,
    "graph_harmonic_landmarks": ORACLE_HARMONIC,
}
