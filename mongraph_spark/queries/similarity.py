"""Similarity search over the ``embeddings`` table (array<float>, 64-dim):
brute-force cosine top-k as the exactness baseline, and a bucketed (LSH-style
sign-partition) variant as the scale path.

Engine-independence of floats: dot products are computed in float64 with a
fixed left-to-right accumulation order in BOTH engines (Spark ``aggregate``
over ``zip_with``; DuckDB ``list_sum`` preserves list order), similarities
are floored to integer basis points before ranking, and ranking ties break
on vec_id — so the driver's value hash is stable.

Scale notes: the query side is tiny (K anchors) and is broadcast against the
corpus — a map-only pass, no shuffle for scoring; top-k per query is one
window over a pre-filtered candidate set.  The bucketed variant prunes the
corpus by sign-pattern partition before scoring (the IVF/LSH pattern: probe
only matching cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark import pregel
from mongraph_spark.sparkutil import const_part, lineage_cut, read_table

N_QUERIES = 5  # anchors: the N smallest vec_ids
TOP_K = 10


def _scored_pairs(spark: SparkSession, sf_dir: str, bucketed: bool) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # norms once per SIDE, not per pair (the _semdedup_finish hoist): the
    # K·N scored pairs reuse N+K precomputed sqrt-norms — bit-identical
    # math, the same doubles divided in the same order as the oracle's
    # per-pair formula
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").cast("array<double>").alias("c_vec")
    ).withColumn(
        "c_sn",
        F.sqrt(
            F.expr(
                "aggregate(transform(c_vec, xc -> xc * xc), CAST(0.0 AS DOUBLE), (accc, vc) -> accc + vc)"
            )
        ),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_vec")
    ).withColumn(
        "q_sn",
        F.sqrt(
            F.expr(
                "aggregate(transform(q_vec, xq -> xq * xq), CAST(0.0 AS DOUBLE), (accq, vq) -> accq + vq)"
            )
        ),
    )
    if bucketed:
        # sign-pattern of the first 3 dims = 8 coarse cells; probe same cell only
        def bucket(vec: str) -> F.Column:
            return F.concat(
                *[
                    F.when(F.element_at(F.col(vec), i + 1) >= 0, F.lit("1")).otherwise(
                        F.lit("0")
                    )
                    for i in range(3)
                ]
            )

        corpus = corpus.withColumn("bk", bucket("c_vec"))
        queries = queries.withColumn("bk", bucket("q_vec"))
        # query side is tiny — broadcast it; scoring is then map-only
        joined = corpus.join(F.broadcast(queries), "bk")
    else:
        joined = corpus.crossJoin(F.broadcast(queries))
    # fixed-order float64 dot product + norms (identical accumulation in DuckDB)
    dot = F.expr(
        "aggregate(zip_with(q_vec, c_vec, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return joined.select(
        "q_id",
        "c_id",
        F.floor(F.lit(10000) * dot / (F.col("q_sn") * F.col("c_sn"))).cast("long").alias("cos_bp"),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_pairs(spark, sf_dir, bucketed=False).filter(
        F.col("q_id") != F.col("c_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_bp", "rank")
    )


def ann_cosine_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_pairs(spark, sf_dir, bucketed=True).filter(
        F.col("q_id") != F.col("c_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_bp", "rank")
    )


_DOT_SQL = """
list_sum(list_transform(range(1, len(q_vec) + 1), i -> q_vec[i] * c_vec[i]))
"""

_ORACLE_SCORE_BASE = f"""
corpus AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings
),
queries AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id < {N_QUERIES}
)"""


def _oracle_topk(bucket_filter: str) -> str:
    return f"""
WITH {_ORACLE_SCORE_BASE},
scored AS (
  SELECT q_id, c_id,
         CAST(floor(10000 * {_DOT_SQL.strip()}
           / (sqrt(list_sum(list_transform(q_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(c_vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM queries JOIN corpus ON q_id <> c_id {bucket_filter}
)
SELECT q_id, c_id, cos_bp, rank FROM (
  SELECT q_id, c_id, cos_bp,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


_BUCKET_SQL = (
    "AND (CASE WHEN q_vec[1] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN q_vec[2] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN q_vec[3] >= 0 THEN '1' ELSE '0' END) = "
    "(CASE WHEN c_vec[1] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN c_vec[2] >= 0 THEN '1' ELSE '0' END || "
    "CASE WHEN c_vec[3] >= 0 THEN '1' ELSE '0' END)"
)

ORACLE_TOPK = _oracle_topk("")
ORACLE_TOPK_BUCKETED = _oracle_topk(_BUCKET_SQL)


# -- IVF index: seeded coarse quantizer + one Lloyd step + multi-probe ---------------
#
# The inverted-file (IVF) scale path for ANN: train a small coarse quantizer,
# assign every corpus vector to its nearest cell (the inverted lists), then
# answer queries by probing only the nprobe nearest cells.  At 100 TB the
# corpus-to-centroid assignment is a map-only pass (centroids broadcast), the
# inverted lists are a partitioned/bucketed table keyed by cell, and each
# query touches nprobe cells instead of the full corpus.
#
# Engine-portability of the "training": seeds are fixed vec_ids; the single
# Lloyd refinement quantizes centroid coordinates to integer basis points
# before any distance is computed, so both engines measure distances against
# bit-identical centroids with fixed-order float accumulation.

IVF_CELLS = 8
IVF_SEED_IDS = [10 * (i + 1) for i in range(IVF_CELLS)]  # vec_ids 10..80
IVF_NPROBE = 2

_SQ_DIST = (
    "aggregate(zip_with({v}, {c}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, d) -> acc + d)"
)


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """(cell, c_vec): seeds refined by one Lloyd iteration, bp-quantized."""
    seeds = emb.filter(F.col("vec_id").isin(IVF_SEED_IDS)).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").cast("array<double>").alias("s_vec"),
    )
    # cell number = rank of the seed id (0..K-1), deterministic
    seeds = seeds.withColumn(
        "cell",
        F.row_number().over(
            Window.partitionBy(const_part(F.col("seed_id"))).orderBy("seed_id")
        )
        - 1,
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    # assignment pass 1: nearest seed (fixed-order accumulation; ties -> cell)
    d = F.expr(_SQ_DIST.format(v="vec", c="s_vec"))
    assigned = (
        vecs.crossJoin(F.broadcast(seeds))
        .withColumn("dist", d)
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("dist", "cell")).alias("cell"))
        .join(vecs, "vec_id")
    )
    # Lloyd step: per-cell mean per dimension, quantized to integer bp so the
    # (engine-dependent) float summation order cannot leak into comparisons
    per_dim = (
        assigned.select("cell", F.posexplode("vec").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.floor(F.lit(10000) * F.avg("v")).cast("long").alias("c_bp"))
    )
    return (
        per_dim.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c_bp"))).alias("sv"))
        .select(
            "cell",
            F.transform("sv", lambda s: s["c_bp"] / F.lit(10000.0)).alias("c_vec"),
        )
    )


def _ivf_lists(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Inverted lists: every vector -> its refined cell (map-only at scale)."""
    d = F.expr(_SQ_DIST.format(v="vec", c="c_vec"))
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("dist", d)
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("dist", "cell")).alias("cell"))
        .join(vecs, "vec_id")
        .select(F.col("vec_id").alias("c_id"), "cell", F.col("vec").alias("c_vec"))
    )


def _ivf_scored(vecs: DataFrame, centroids: DataFrame, max_probe: int) -> DataFrame:
    """(q_id, c_id, cos_bp, probe_rank) for every candidate within the
    ``max_probe`` nearest cells of each query.  ``probe_rank`` is the rank
    of the candidate's cell in the query's probe order, so any smaller
    nprobe is a pure filter on this one scored set (probe sets are nested
    by construction) — the shared pass :func:`ann_recall_curve` sweeps."""
    lists = _ivf_lists(vecs, centroids)
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    return _ivf_probe_score(lists, queries, centroids, max_probe)


def _ivf_probe_score(
    lists: DataFrame, queries: DataFrame, centroids: DataFrame, max_probe: int
) -> DataFrame:
    """Query-time path over PREBUILT inverted lists (shared by the batch ops
    and the streaming ingest twin, whose lists accumulate incrementally)."""
    qd = F.expr(_SQ_DIST.format(v="q_vec", c="c_vec"))
    wq = Window.partitionBy("q_id").orderBy("qdist", "cell")
    # per-side sqrt-norms hoisted out of the probe×list pair stage (the
    # _semdedup_finish pattern): each list vector's norm is computed once,
    # not once per probing query — bit-identical doubles either way
    qn = F.expr(
        "aggregate(transform(q_vec, xq -> xq * xq), CAST(0.0 AS DOUBLE), (accq, vq) -> accq + vq)"
    )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("qdist", qd)
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= max_probe)
        .select("q_id", "q_vec", F.sqrt(qn).alias("q_sn"), "cell", "probe_rank")
    )
    dot = F.expr(
        "aggregate(zip_with(q_vec, c_vec, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cn = F.expr(
        "aggregate(transform(c_vec, xc -> xc * xc), CAST(0.0 AS DOUBLE), (accc, vc) -> accc + vc)"
    )
    return (
        F.broadcast(probes)
        .join(lists.withColumn("c_sn", F.sqrt(cn)), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.floor(F.lit(10000) * dot / (F.col("q_sn") * F.col("c_sn")))
            .cast("long")
            .alias("cos_bp"),
            "probe_rank",
        )
    )


def ann_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    scored = _ivf_scored(vecs, centroids, nprobe)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_bp", "rank")
    )


_IDS_SQL = ", ".join(str(i) for i in IVF_SEED_IDS)
_SQ_DIST_SQL = "list_sum(list_transform(range(1, len({v}) + 1), i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"

def _oracle_ivf(nprobe: int = IVF_NPROBE) -> str:
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vec AS s_vec
  FROM vecs WHERE vec_id IN ({_IDS_SQL})
),
assign1 AS (
  SELECT vec_id, cell, vec FROM (
    SELECT v.vec_id, s.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='s.s_vec')}, s.cell) AS rk
    FROM vecs v CROSS JOIN seeds s
  ) WHERE rk = 1
),
per_dim AS (
  SELECT cell, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM assign1, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell, d
),
centroids AS (
  SELECT cell, list(c_bp / 10000.0 ORDER BY dim) AS c_vec
  FROM per_dim GROUP BY cell
),
lists AS (
  SELECT vec_id AS c_id, cell, vec AS c_vec FROM (
    SELECT v.vec_id, c.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN centroids c
  ) WHERE rk = 1
),
probes AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT v.vec_id AS q_id, v.vec AS q_vec, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE rk <= {nprobe}
),
scored AS (
  SELECT p.q_id, l.c_id,
         CAST(floor(10000 * list_sum(list_transform(range(1, len(p.q_vec) + 1), i -> p.q_vec[i] * l.c_vec[i]))
           / (sqrt(list_sum(list_transform(p.q_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(l.c_vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM probes p JOIN lists l ON p.cell = l.cell AND p.q_id <> l.c_id
)
SELECT q_id, c_id, cos_bp, rank FROM (
  SELECT q_id, c_id, cos_bp,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


ORACLE_IVF = _oracle_ivf()


def _oracle_ivf_frozen(nprobe: int = IVF_NPROBE) -> str:
    """SQL replay of streaming_ann_ivf's frozen-quantizer contract: Lloyd
    training restricted to the FIRST ntile(4) arrival group (what the twin
    saw when it trained), inverted lists over the full accumulated corpus."""
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
train AS (
  SELECT vec_id, vec FROM (
    SELECT vec_id, vec, ntile(4) OVER (ORDER BY vec_id) AS arrival FROM vecs
  ) WHERE arrival = 1
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vec AS s_vec
  FROM train WHERE vec_id IN ({_IDS_SQL})
),
assign1 AS (
  SELECT vec_id, cell, vec FROM (
    SELECT v.vec_id, s.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='s.s_vec')}, s.cell) AS rk
    FROM train v CROSS JOIN seeds s
  ) WHERE rk = 1
),
per_dim AS (
  SELECT cell, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM assign1, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell, d
),
centroids AS (
  SELECT cell, list(c_bp / 10000.0 ORDER BY dim) AS c_vec
  FROM per_dim GROUP BY cell
),
lists AS (
  SELECT vec_id AS c_id, cell, vec AS c_vec FROM (
    SELECT v.vec_id, c.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN centroids c
  ) WHERE rk = 1
),
probes AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT v.vec_id AS q_id, v.vec AS q_vec, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE rk <= {nprobe}
),
scored AS (
  SELECT p.q_id, l.c_id,
         CAST(floor(10000 * list_sum(list_transform(range(1, len(p.q_vec) + 1), i -> p.q_vec[i] * l.c_vec[i]))
           / (sqrt(list_sum(list_transform(p.q_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(l.c_vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM probes p JOIN lists l ON p.cell = l.cell AND p.q_id <> l.c_id
)
SELECT q_id, c_id, cos_bp, rank FROM (
  SELECT q_id, c_id, cos_bp,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


ORACLE_IVF_FROZEN = _oracle_ivf_frozen()


# -- vector aggregation: per-label centroids via posexplode + groupBy -----------------
#
# The scalable shape for element-wise vector aggregation: explode to
# (label, dim, value) rows (narrow), aggregate per (label, dim) with map-side
# partial sums, reassemble ordered arrays with array_agg over a sorted
# struct.  One shuffle keyed on (label, dim) — no driver-side math.


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # report a stable projection: first 4 centroid dims + norm, in basis points
    agg = per_dim.filter(F.col("dim") < 4).select(
        "label",
        "dim",
        F.floor(F.lit(10000) * F.col("s") / F.col("n")).cast("long").alias("centroid_bp"),
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return agg.join(counts, "label").select("label", "dim", "centroid_bp", "n_vectors")


ORACLE_CENTROIDS = """
WITH exploded AS (
  SELECT label, d - 1 AS dim, CAST(embedding[d] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(d)
), per_dim AS (
  SELECT label, dim, sum(v) AS s, count(*) AS n
  FROM exploded GROUP BY label, dim
), counts AS (
  SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label
)
SELECT p.label, p.dim,
       CAST(floor(10000 * p.s / p.n) AS BIGINT) AS centroid_bp,
       c.n_vectors
FROM per_dim p JOIN counts c ON p.label = c.label
WHERE p.dim < 4
"""


COV_DIMS = 8  # leading dims profiled; 100 TB note: same plan at any width


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diagnostics: the sample covariance matrix of the
    leading ``COV_DIMS`` dimensions in ONE pass — the statistic behind
    whitening, PCA seeding, and anisotropy checks on an embedding corpus
    (collapsed/correlated dimensions show up immediately).

    Scale shape: ``covar_samp`` is a single-pass mergeable moment aggregate
    (map-side partials, one 1-row result for all 36 cells), then a trivial
    driver-free ``stack`` to long form.  At 100 TB the same plan covers any
    dimensionality — cells grow as d², rows never re-scan.  Values rounded
    to 6dp in both engines (same policy as the corr queries)."""
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        *[
            F.col("embedding")[i].cast("double").alias(f"d{i}")
            for i in range(COV_DIMS)
        ]
    )
    cells = [
        F.round(F.covar_samp(f"d{i}", f"d{j}"), 6).alias(f"c_{i}_{j}")
        for i in range(COV_DIMS)
        for j in range(i, COV_DIMS)
    ]
    one = dims.agg(*cells)
    stack_args = ", ".join(
        f"{i}L, {j}L, c_{i}_{j}"
        for i in range(COV_DIMS)
        for j in range(i, COV_DIMS)
    )
    n_cells = COV_DIMS * (COV_DIMS + 1) // 2
    return one.selectExpr(
        f"stack({n_cells}, {stack_args}) as (dim_i, dim_j, cov)"
    )


ORACLE_COVARIANCE = "\nUNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS dim_i, CAST({j} AS BIGINT) AS dim_j, "
    f"round(covar_samp(CAST(embedding[{i + 1}] AS DOUBLE), "
    f"CAST(embedding[{j + 1}] AS DOUBLE)), 6) AS cov FROM embeddings"
    for i in range(COV_DIMS)
    for j in range(i, COV_DIMS)
)


# -- full k-means (multi-round Lloyd, bp-quantized) -----------------------------------

KMEANS_ROUNDS = 3


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd k-means over the embeddings ({KMEANS_ROUNDS} rounds, K=8,
    deterministic seeds) — the clustering :func:`ann_ivf` truncates at one
    refinement, run to the shape production quantizer training uses.

    Cross-engine exactness by CENTROID QUANTIZATION: after every round the
    new centroids are floored to integer basis points BEFORE any distance
    is computed against them, so both engines always measure against
    bit-identical centroids and the (engine-dependent) float summation
    order inside the mean can perturb a coordinate by at most one bp grid
    cell — which the floor absorbs unless a mean sits exactly on a cell
    edge.  Assignment ties break on cell id.  Each round is one broadcast
    cross-join assignment (map-only, centroids are K rows) + one
    (cell, dim)-keyed mean — the standard distributed Lloyd step, with
    the K-row centroid state cut each round by ``pregel.iterate``; at
    100 TB you run exactly this with K in the thousands and the
    assignment still map-side.

    Output: per-cell membership count + the first 4 centroid coordinates
    in bp (the :func:`embedding_centroids` evidence shape)."""
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    seeds = emb.filter(F.col("vec_id").isin(IVF_SEED_IDS)).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    centroids = seeds.withColumn(
        "cell",
        F.row_number().over(
            Window.partitionBy(const_part(F.col("seed_id"))).orderBy("seed_id")
        )
        - 1,
    ).select("cell", "c_vec")
    d = F.expr(_SQ_DIST.format(v="vec", c="c_vec"))

    def assign_and_average(centroids: DataFrame) -> tuple[DataFrame, DataFrame]:
        assigned = (
            vecs.crossJoin(F.broadcast(centroids))
            .withColumn("dist", d)
            .groupBy("vec_id")
            .agg(F.min_by("cell", F.struct("dist", "cell")).alias("cell"))
            .join(vecs, "vec_id")
        )
        per_dim = (
            assigned.select("cell", F.posexplode("vec").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.floor(F.lit(10000) * F.avg("v")).cast("long").alias("c_bp"))
        )
        return assigned, per_dim

    def lloyd_round(centroids: DataFrame) -> DataFrame:
        _, per_dim = assign_and_average(centroids)
        return per_dim.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c_bp"))),
                lambda s: s["c_bp"] / F.lit(10000.0),
            ).alias("c_vec")
        )

    # the last round's centroids are never read: only its assignment and
    # integer bp means are, so the loop stops one round early
    centroids, _ = pregel.iterate(
        centroids, lloyd_round, max_rounds=KMEANS_ROUNDS - 1
    )
    assigned, per_dim = assign_and_average(centroids)
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    # head dims come from the last round's INTEGER bp table directly — a
    # bp/1e4*1e4 round-trip through double can land one grid cell low
    head = per_dim.filter(F.col("dim") < 4)
    return counts.join(head, "cell").select("cell", "n_vectors", "dim", "c_bp")


def _kmeans_oracle() -> str:
    body = f"""
vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vec AS c_vec
  FROM vecs WHERE vec_id IN ({_IDS_SQL})
)"""
    prev = "c0"
    for r in range(1, KMEANS_ROUNDS + 1):
        body += f""",
a{r} AS (
  SELECT vec_id, cell, vec FROM (
    SELECT v.vec_id, c.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN {prev} c
  ) WHERE rk = 1
),
pd{r} AS (
  SELECT cell, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM a{r}, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell, d
),
c{r} AS (
  SELECT cell, list(c_bp / 10000.0 ORDER BY dim) AS c_vec FROM pd{r} GROUP BY cell
)"""
        prev = f"c{r}"
    return f"""
WITH {body.lstrip()}
SELECT a.cell, a.n_vectors, h.dim, h.c_bp
FROM (SELECT cell, count(*) AS n_vectors FROM a{KMEANS_ROUNDS} GROUP BY cell) a
JOIN (SELECT cell, dim, c_bp FROM pd{KMEANS_ROUNDS} WHERE dim < 4) h
  ON a.cell = h.cell
"""


ORACLE_KMEANS = _kmeans_oracle()


# -- IVF recall vs the exact answer ---------------------------------------------------


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} of the IVF index against the exact brute-force answer —
    the number every ANN deployment must publish before anyone trusts it:
    per query, how many of the true top-{K} neighbors the nprobe-bounded
    index actually returned.  Both sides are this module's own operators
    (same scoring, same deterministic tie-breaks), so the report isolates
    exactly the loss introduced by inverted-list pruning.

    Shape: the two result sets are {N_QUERIES}·{K} rows each — the
    comparison join is driver-trivial no matter how big the corpus was;
    the cost IS the two retrievals, which keep their own documented scale
    shapes.  Recall is integer-floor basis points (10000·hits div K)."""
    brute = ann_cosine_topk(spark, sf_dir).select("q_id", "c_id")
    ivf = ann_ivf(spark, sf_dir).select("q_id", "c_id", F.lit(1).alias("hit"))
    return (
        brute.join(ivf, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            F.expr(f"(10000 * n_hits) div {TOP_K}").cast("bigint").alias("recall_bp"),
        )
    )


ORACLE_RECALL = f"""
WITH brute AS (SELECT q_id, c_id FROM ({ORACLE_TOPK})),
ivf AS (SELECT q_id, c_id, 1 AS hit FROM ({ORACLE_IVF}))
SELECT b.q_id, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hits,
       CAST((10000 * sum(coalesce(i.hit, 0))) // {TOP_K} AS BIGINT) AS recall_bp
FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
GROUP BY b.q_id
"""


RECALL_CURVE_PROBES = [1, 2, 4]


def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} as a CURVE over nprobe ∈ {RECALL_CURVE_PROBES} — the
    accuracy/cost tradeoff sheet an IVF deployment tunes against
    (:func:`ann_recall_report` is the single-config row; this sweeps the
    knob).  Per (nprobe, query): hits against the exact brute-force
    top-{K} and floor-bp recall; recall is monotone non-decreasing in
    nprobe by construction (probe sets are nested), pinned in tests.

    Shape: ONE brute-force truth retrieval (checkpointed) and ONE IVF
    index build + scoring pass at max(nprobe) (checkpointed) — probe sets
    are nested, so every smaller curve point is a pure ``probe_rank``
    filter over the shared scored set, exactly the one-candidate-build
    sweep :func:`dedup_threshold_curve` uses; per-point work is then a
    {N_QUERIES}·pool-row window + a {N_QUERIES}·{K}-row join."""
    brute = (
        ann_cosine_topk(spark, sf_dir)
        .select("q_id", "c_id")
        .transform(lineage_cut)
    )
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    centroids = _ivf_centroids(emb)
    scored = _ivf_scored(
        vecs, centroids, max(RECALL_CURVE_PROBES)
    ).transform(lineage_cut)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    out = None
    for nprobe in RECALL_CURVE_PROBES:
        ivf = (
            scored.filter(F.col("probe_rank") <= nprobe)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "c_id", F.lit(1).alias("hit"))
        )
        part = (
            brute.join(ivf, ["q_id", "c_id"], "left")
            .groupBy("q_id")
            .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"))
            .select(
                F.lit(nprobe).cast("long").alias("nprobe"),
                "q_id",
                "n_hits",
                F.expr(f"(10000 * n_hits) div {TOP_K}")
                .cast("bigint")
                .alias("recall_bp"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_recall_curve() -> str:
    parts = []
    for nprobe in RECALL_CURVE_PROBES:
        parts.append(
            f"""SELECT CAST({nprobe} AS BIGINT) AS nprobe, b.q_id,
       CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hits,
       CAST((10000 * sum(coalesce(i.hit, 0))) // {TOP_K} AS BIGINT) AS recall_bp
FROM (SELECT q_id, c_id FROM ({ORACLE_TOPK})) b
LEFT JOIN (SELECT q_id, c_id, 1 AS hit FROM ({_oracle_ivf(nprobe)})) i
  ON b.q_id = i.q_id AND b.c_id = i.c_id
GROUP BY b.q_id"""
        )
    return "\nUNION ALL\n".join(parts)


ORACLE_RECALL_CURVE = _oracle_recall_curve()


# -- maximal marginal relevance (diversified top-k) ------------------------------

MMR_POOL = 20  # candidate pool = top-20 by query relevance
MMR_K = 5  # diversified picks
MMR_REL_W, MMR_DIV_W = 7, 3  # lambda = 0.7, scaled x10 to stay integer


def ann_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval: from the top-20 candidates by
    cosine relevance to the anchor (vec_id 0), greedily pick 5 results
    maximizing  7·rel − 3·max_sim(candidate, already-picked)  — the
    diversified top-k used to de-redundify RAG context windows and search
    results.

    Engine-deterministic: relevance and pairwise similarity are floored to
    integer basis points BEFORE the greedy loop, so selection compares
    integers only (ties break on vec_id) and the oracle unrolls the same
    5 greedy steps as chained SQL CTEs.

    Scale shape: the DISTRIBUTED work is the relevance top-20
    (TakeOrderedAndProject over a broadcast-query map-only scan) and the
    20×20 pairwise-sim join; the greedy loop itself is inherently
    sequential over ≤20+380 collected integer rows — a bounded_collect
    (provably ≤ pool² rows), not a scale risk.  At 100 TB only the pool
    scan grows; the MMR step is unchanged."""
    from mongraph_spark.sparkutil import bounded_collect

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    anchor = corpus.filter(F.col("c_id") == 0).select(
        F.col("c_vec").alias("q_vec")
    )
    dot_q = F.expr(
        "aggregate(zip_with(q_vec, c_vec, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v)"
    )
    qn = F.expr(
        "aggregate(transform(q_vec, x -> x * x), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    )
    cn = F.expr(
        "aggregate(transform(c_vec, x -> x * x), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    )
    pool = (
        corpus.filter(F.col("c_id") != 0)
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_id",
            "c_vec",
            F.floor(F.lit(10000) * dot_q / (F.sqrt(qn) * F.sqrt(cn)))
            .cast("long")
            .alias("rel_bp"),
        )
        .orderBy(F.desc("rel_bp"), F.asc("c_id"))
        .limit(MMR_POOL)
    )
    a = pool.select(F.col("c_id").alias("a_id"), F.col("c_vec").alias("q_vec"))
    b = pool.select(F.col("c_id").alias("b_id"), "c_vec")
    psim = (
        a.join(F.broadcast(b), a.a_id != b.b_id)
        .select(
            "a_id",
            "b_id",
            F.floor(F.lit(10000) * dot_q / (F.sqrt(qn) * F.sqrt(cn)))
            .cast("long")
            .alias("sim_bp"),
        )
    )
    pool_rows = bounded_collect(pool.select("c_id", "rel_bp"), context="mmr_pool")
    sim_rows = bounded_collect(psim, context="mmr_pairs")
    rel = {r.c_id: r.rel_bp for r in pool_rows}
    sim = {(r.a_id, r.b_id): r.sim_bp for r in sim_rows}
    picked: list[tuple] = []
    selected: list[int] = []
    for step in range(1, MMR_K + 1):
        best = None
        for cid, r in sorted(rel.items()):
            if cid in selected:
                continue
            if not selected:
                score = MMR_REL_W * r
            else:
                score = MMR_REL_W * r - MMR_DIV_W * max(
                    sim[(cid, s)] for s in selected
                )
            if best is None or score > best[1]:
                best = (cid, score)
        picked.append((step, best[0], rel[best[0]], best[1]))
        selected.append(best[0])
    return spark.createDataFrame(
        picked, "step int, c_id long, rel_bp long, mmr_x10 long"
    )


def _oracle_mmr() -> str:
    dot = (
        "list_sum(list_transform(range(1, len(q_vec) + 1), i -> q_vec[i] * c_vec[i]))"
    )
    head = f"""
WITH corpus AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings
),
anchor AS (SELECT c_vec AS q_vec FROM corpus WHERE c_id = 0),
pool AS (
  SELECT c_id, c_vec,
         CAST(floor(10000 * {dot}
           / (sqrt(list_sum(list_transform(q_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(c_vec, x -> x * x))))) AS BIGINT) AS rel_bp
  FROM corpus CROSS JOIN anchor WHERE c_id <> 0
  ORDER BY rel_bp DESC, c_id LIMIT {MMR_POOL}
),
psim AS (
  SELECT p1.c_id AS a_id, p2.c_id AS b_id,
         CAST(floor(10000 * list_sum(list_transform(range(1, len(p1.c_vec) + 1),
                                                    i -> p1.c_vec[i] * p2.c_vec[i]))
           / (sqrt(list_sum(list_transform(p1.c_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(p2.c_vec, x -> x * x))))) AS BIGINT)
           AS sim_bp
  FROM pool p1 JOIN pool p2 ON p1.c_id <> p2.c_id
),
sel1 AS (SELECT c_id, rel_bp, CAST({MMR_REL_W} * rel_bp AS BIGINT) AS mmr
         FROM pool ORDER BY rel_bp DESC, c_id LIMIT 1),
selall1 AS (SELECT c_id FROM sel1)"""
    stages = []
    for t in range(2, MMR_K + 1):
        stages.append(f""",
cand{t} AS (
  SELECT p.c_id, p.rel_bp,
         CAST({MMR_REL_W} * p.rel_bp - {MMR_DIV_W} * max(s.sim_bp) AS BIGINT) AS mmr
  FROM pool p JOIN psim s ON s.a_id = p.c_id
  WHERE s.b_id IN (SELECT c_id FROM selall{t - 1})
    AND p.c_id NOT IN (SELECT c_id FROM selall{t - 1})
  GROUP BY p.c_id, p.rel_bp
),
sel{t} AS (SELECT c_id, rel_bp, mmr FROM cand{t} ORDER BY mmr DESC, c_id LIMIT 1),
selall{t} AS (SELECT c_id FROM selall{t - 1} UNION ALL SELECT c_id FROM sel{t})""")
    finals = ["SELECT 1 AS step, c_id, rel_bp, mmr AS mmr_x10 FROM sel1"] + [
        f"SELECT {t}, c_id, rel_bp, mmr FROM sel{t}" for t in range(2, MMR_K + 1)
    ]
    return head + "".join(stages) + "\n" + "\nUNION ALL ".join(finals)


# -- top principal component (fixed-point power iteration) ----------------------

PCA_ROUNDS = 48  # converges to cos>0.996 on this corpus's lam1/lam2=1.07 gap
PCA_XQ = 1000  # embedding fixed-point scale (|x| <= ~0.6 -> |x_q| <= 600)
PCA_VSCALE = 1_000_000  # eigenvector fixed-point scale


def _pca_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-centered scatter matrix S[i,j] = Σ_v (x_i - m_i)(x_j - m_j) in
    EXACT integer arithmetic: embeddings quantize to {PCA_XQ} fixed point,
    the mean is floor(Σx / n) (computed identically in both engines), and
    centering expands algebraically — S = Sxx - m_i·Sx_j - m_j·Sx_i +
    n·m_i·m_j — so no second pass over the vectors is needed."""
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    ).select(
        "vec_id", "i", F.floor(F.lit(PCA_XQ) * F.col("x")).cast("bigint").alias("x")
    )
    nrow = emb.agg(F.count(F.lit(1)).alias("n"))
    mm = (
        ex.groupBy("i")
        .agg(F.sum("x").alias("sx"))
        .crossJoin(F.broadcast(nrow))
        .select("i", "sx", F.floor(F.col("sx") / F.col("n")).cast("bigint").alias("m"), "n")
    )
    sxx = (
        ex.alias("a")
        .join(ex.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("sxx"))
    )
    mi = mm.select(F.col("i"), F.col("m").alias("mi"), F.col("sx").alias("sxi"), "n")
    mj = mm.select(F.col("i").alias("j"), F.col("m").alias("mj"), F.col("sx").alias("sxj"))
    return (
        sxx.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (
                F.col("sxx")
                - F.col("mi") * F.col("sxj")
                - F.col("mj") * F.col("sxi")
                + F.col("n") * F.col("mi") * F.col("mj")
            ).alias("s"),
        )
    )


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power iteration —
    the anisotropy/whitening diagnostic (and PCA-seeding primitive) run the
    way a cluster actually runs it: the scatter matrix is ONE d²-cell
    aggregation over the scan, and each of the {PCA_ROUNDS} matvec rounds
    touches only the d²-row S and the d-row vector — never the corpus
    again.

    Cross-engine exactness mirrors embedding_kmeans' centroid-quantization
    proof: S is exact integers (see :func:`_pca_scatter`), and after every
    matvec the vector renormalizes by its MAX-ABS component (an exact
    integer max, unlike an L2 norm) and requantizes to {PCA_VSCALE} fixed
    point via sign·(scale·|w| div mx) — truncating division written
    sign-symmetrically because Spark's DIV truncates toward zero while
    DuckDB's // floors.  Matvec accumulation runs in DECIMAL(38,0) /
    HUGEINT so no SF can overflow.  Output: per-dim loadings (v_e6), the
    dominant eigenvalue of S (lam_scatter = max|S·v|/scale), and its share
    of trace(S) in basis points (= explained-variance ratio of PC1).

    Scale shape at 100 TB: the corpus is touched exactly twice (Sx and
    Sxx — both map-side-combining aggs keyed on (i,j) with d² keys); the
    iteration is driver-coordinated over d²-row joins driven through
    pregel.iterate with bounded lineage, exactly the CC/pagerank posture.
    d=64 here; the same plan serves d in the thousands (S is 10⁶ rows).
    Convergence is governed by (λ2/λ1)^rounds — this synthetic corpus is
    near-isotropic (λ1/λ2 ≈ 1.07), hence {PCA_ROUNDS} rounds (verified
    cos > 0.996 against numpy eigh in tests); a production corpus with a
    real dominant direction converges in a handful, and a genuinely flat
    spectrum calls for block power iteration / Lanczos, which compose
    from this same matvec primitive."""
    s = lineage_cut(_pca_scatter(spark, sf_dir))
    dims = s.select(F.col("i")).distinct()
    v0 = dims.select("i", F.lit(PCA_VSCALE).cast("bigint").alias("v"))

    def matvec(v: DataFrame) -> DataFrame:
        return (
            s.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * v")).alias("w")
            )
        )

    def step(v: DataFrame) -> DataFrame:
        w = matvec(v)
        mx = w.agg(F.max(F.abs("w")).alias("mx"))
        return w.crossJoin(F.broadcast(mx)).select(
            "i",
            F.expr(
                f"CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END "
                f"* ((CAST({PCA_VSCALE} AS DECIMAL(38,0)) * abs(w)) div nullif(mx, 0)) "
                f"AS BIGINT)"
            ).alias("v"),
        )

    # cadence 2 measured best at sf0.1: the per-round plan nests a 1-row
    # broadcast (max-abs renorm), so longer lazy groups grow analysis
    # cost faster than they save checkpoint jobs (6 rounds/group was
    # ~8% slower than 2)
    v, _ = pregel.iterate(
        v0, step, max_rounds=PCA_ROUNDS, checkpoint_every=1
    )  # per-round broadcast-max action: checkpoint every round (see eigenvector)
    w9 = matvec(v)
    lam = w9.agg(F.max(F.abs("w")).alias("mx"))
    trace = s.filter(F.col("i") == F.col("j")).agg(F.sum("s").alias("tr"))
    return (
        v.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(trace))
        .select(
            F.col("i").alias("dim"),
            F.col("v").alias("v_e6"),
            F.expr(f"CAST(mx div {PCA_VSCALE} AS BIGINT)").alias("lam_scatter"),
            F.expr(
                f"CAST((CAST(10000 AS DECIMAL(38,0)) * mx) "
                f"div (CAST(tr AS DECIMAL(38,0)) * {PCA_VSCALE}) AS BIGINT)"
            ).alias("ev_bp"),
        )
    )


def _pca_oracle() -> str:
    body = f"""
ex AS MATERIALIZED (
  SELECT vec_id, CAST(d - 1 AS INT) AS i,
         CAST(floor({PCA_XQ} * CAST(embedding[d] AS DOUBLE)) AS BIGINT) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(d)
),
nrow AS (SELECT count(*) AS n FROM embeddings),
mm AS (
  SELECT i, sum(x) AS sx,
         CAST(floor(sum(x) / (SELECT n FROM nrow)) AS BIGINT) AS m
  FROM ex GROUP BY i
),
s AS MATERIALIZED (
  SELECT a_i AS i, a_j AS j,
         sxx - mi.m * mj.sx - mj.m * mi.sx
             + (SELECT n FROM nrow) * mi.m * mj.m AS s
  FROM (
    SELECT a.i AS a_i, b.i AS a_j, sum(a.x * b.x) AS sxx
    FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i
  ) JOIN mm mi ON a_i = mi.i JOIN mm mj ON a_j = mj.i
),
v0 AS (SELECT DISTINCT i, CAST({PCA_VSCALE} AS BIGINT) AS v FROM s)"""
    prev = "v0"
    for r in range(1, PCA_ROUNDS + 1):
        body += f""",
w{r} AS MATERIALIZED (
  SELECT s.i, sum(CAST(s.s AS HUGEINT) * v.v) AS w
  FROM s JOIN {prev} v ON s.j = v.i GROUP BY s.i
),
v{r} AS MATERIALIZED (
  SELECT i, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END)
         * ((CAST({PCA_VSCALE} AS HUGEINT) * abs(w))
            // nullif((SELECT max(abs(w)) FROM w{r}), 0)) AS BIGINT) AS v
  FROM w{r}
)"""
        prev = f"v{r}"
    return f"""
WITH {body.lstrip()},
wfin AS (
  SELECT s.i, sum(CAST(s.s AS HUGEINT) * v.v) AS w
  FROM s JOIN {prev} v ON s.j = v.i GROUP BY s.i
),
fin AS (SELECT max(abs(w)) AS mx FROM wfin),
tr AS (SELECT sum(s) AS tr FROM s WHERE i = j)
SELECT CAST(v.i AS INT) AS dim, v.v AS v_e6,
       CAST(mx // {PCA_VSCALE} AS BIGINT) AS lam_scatter,
       CAST((CAST(10000 AS HUGEINT) * mx)
            // (CAST(tr AS HUGEINT) * {PCA_VSCALE}) AS BIGINT) AS ev_bp
FROM {prev} v, fin, tr
"""


ORACLE_PCA = _pca_oracle()


# -- cosine range search --------------------------------------------------------

RANGE_TAU_BP = 2500  # similarity threshold (basis points)


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (threshold) similarity search — the OTHER retrieval contract
    next to top-k: return EVERY corpus vector with cosine ≥ τ of each
    query, however many there are (dedup-candidate pulls, "all sufficiently
    similar" compliance scans, radius joins).  Exact scoring with the
    module's fixed-order float accumulation and integer-bp flooring; the
    result-set size is data-dependent by design — per-query counts ride
    along so callers can see saturation.

    Scale shape: identical to the brute-force scorer (query side broadcast,
    map-only scoring, NO shuffle of the corpus), except no top-k window at
    all — the threshold filter pushes into the scan projection, so the
    only post-scan data is the matches themselves.  At 100 TB you put the
    same threshold on the IVF/LSH pruned candidate set (the dedup ops in
    queries/dedup.py are exactly that composition)."""
    scored = _scored_pairs(spark, sf_dir, bucketed=False).filter(
        F.col("q_id") != F.col("c_id")
    )
    matches = scored.filter(F.col("cos_bp") >= RANGE_TAU_BP)
    per_q = matches.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_matches"))
    return matches.join(per_q, "q_id").select(
        "q_id", "c_id", "cos_bp", "n_matches"
    )


ORACLE_RANGE = f"""
WITH {_ORACLE_SCORE_BASE},
scored AS (
  SELECT q_id, c_id,
         CAST(floor(10000 * {_DOT_SQL.strip()}
           / (sqrt(list_sum(list_transform(q_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(c_vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM queries JOIN corpus ON q_id <> c_id
),
matches AS (SELECT * FROM scored WHERE cos_bp >= {RANGE_TAU_BP})
SELECT m.q_id, m.c_id, m.cos_bp, p.n_matches
FROM matches m JOIN (
  SELECT q_id, count(*) AS n_matches FROM matches GROUP BY q_id
) p ON m.q_id = p.q_id
"""


# -- product quantization codebooks ---------------------------------------------

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (PQ_M * PQ_SUB = 64)
PQ_K = 16  # codes per subspace -> 4 bits/subspace, 4 bytes/vector total
PQ_SEED_IDS = [10 * (i + 1) for i in range(PQ_K)]  # deterministic seeds 10..160


def _pq_train(spark: SparkSession, sf_dir: str):
    """(codebook, codes): the trained per-subspace codebook (m, code, c_sv)
    and every vector's assignment (vec_id, m, code, distort_micro) —
    shared by the codebook report and the ADC search."""
    emb = read_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    subs = F.array(*[F.slice(arr, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
    sv = emb.select("vec_id", F.posexplode(subs).alias("m", "sv"))
    seeds = (
        sv.filter(F.col("vec_id").isin(PQ_SEED_IDS))
        .select(
            "m",
            (
                F.row_number().over(
                    Window.partitionBy("m").orderBy("vec_id")
                )
                - 1
            ).alias("code"),
            F.col("sv").alias("c_sv"),
        )
    )
    d = F.expr(_SQ_DIST.format(v="sv", c="c_sv"))
    a1 = (
        sv.join(F.broadcast(seeds), "m")
        .withColumn("dist", d)
        .groupBy("vec_id", "m")
        .agg(F.min_by("code", F.struct("dist", "code")).alias("code"))
        .join(sv, ["vec_id", "m"])
    )
    per_dim = (
        a1.select("m", "code", F.posexplode("sv").alias("dim", "v"))
        .groupBy("m", "code", "dim")
        .agg(F.floor(F.lit(10000) * F.avg("v")).cast("long").alias("c_bp"))
    )
    cb = per_dim.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c_bp"))),
            lambda s: s["c_bp"] / F.lit(10000.0),
        ).alias("c_sv")
    )
    codes = (
        sv.join(F.broadcast(cb), "m")
        .withColumn("dist", d)
        .groupBy("vec_id", "m")
        .agg(
            F.min_by("code", F.struct("dist", "code")).alias("code"),
            F.floor(F.lit(1_000_000) * F.min("dist")).cast("long").alias(
                "distort_micro"
            ),
        )
    )
    return cb, codes


def embedding_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization training + assignment — THE memory-scale path
    for billion-vector ANN (Jégou et al.): split each vector into {PQ_M}
    subspaces of {PQ_SUB} dims, learn a tiny per-subspace codebook
    ({PQ_K} codes = {PQ_BITS} bits), and store each vector as {PQ_M} code
    ids ({PQ_BYTES} bytes here vs 256 float bytes).  Reports the codebook
    quality a
    deployment reviews before committing: per-(subspace, code) occupancy
    and summed quantization distortion.

    Training mirrors embedding_kmeans' engine-exactness contract, per
    subspace: fixed seed vectors, ONE Lloyd refinement whose centroid
    coordinates are floored to integer basis points BEFORE any distance
    is measured, fixed-order float accumulation for distances, ties break
    on code id, and per-row distortion floors to integer micro-units so
    the final sums are exact integer arithmetic.

    Scale shape: subvector explode is map-only (N·{PQ_M} rows); both
    assignment passes are broadcast joins against ≤{PQ_M}·{PQ_K} codebook
    rows (map-only, no shuffle of the corpus); the Lloyd mean and the
    final rollup are (m, code[, dim])-keyed aggs with ≤{PQ_M}·{PQ_K}·
    {PQ_SUB} keys — map-side combine collapses everything.  At 100 TB
    this is exactly the plan, with K in the hundreds and a handful of
    Lloyd rounds."""
    _, a2 = _pq_train(spark, sf_dir)
    return a2.groupBy("m", "code").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("distort_micro").alias("sum_distort_micro"),
    )


# derive the storage-cost figures from the actual constants so the
# docstring cannot drift when PQ_K / PQ_M are tuned
embedding_pq_codebooks.__doc__ = embedding_pq_codebooks.__doc__.replace(
    "{PQ_BITS}", str(PQ_K.bit_length() - 1)
).replace("{PQ_BYTES}", str(PQ_M * (PQ_K.bit_length() - 1) // 8))


def _pq_oracle_body() -> str:
    sub_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, l[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}] AS sv "
        f"FROM base"
        for m in range(PQ_M)
    )
    ids = ", ".join(str(i) for i in PQ_SEED_IDS)
    return f"""
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l FROM embeddings),
sv AS MATERIALIZED (
  {sub_selects}
),
seeds AS MATERIALIZED (
  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
         sv AS c_sv
  FROM sv WHERE vec_id IN ({ids})
),
a1 AS MATERIALIZED (
  SELECT vec_id, m, code, sv FROM (
    SELECT v.vec_id, v.m, s.code, v.sv,
           row_number() OVER (PARTITION BY v.vec_id, v.m
             ORDER BY {_SQ_DIST_SQL.format(v="v.sv", c="s.c_sv")}, s.code) AS rk
    FROM sv v JOIN seeds s ON v.m = s.m
  ) WHERE rk = 1
),
pd AS (
  SELECT m, code, d - 1 AS dim,
         CAST(floor(10000 * avg(sv[d])) AS BIGINT) AS c_bp
  FROM a1, UNNEST(range(1, {PQ_SUB} + 1)) AS t(d)
  GROUP BY m, code, d
),
cb AS MATERIALIZED (
  SELECT m, code, list(c_bp / 10000.0 ORDER BY dim) AS c_sv
  FROM pd GROUP BY m, code
),
a2 AS MATERIALIZED (
  SELECT vec_id, m, code,
         CAST(floor(1000000 * dist) AS BIGINT) AS distort_micro
  FROM (
    SELECT v.vec_id, v.m, c.code,
           {_SQ_DIST_SQL.format(v="v.sv", c="c.c_sv")} AS dist,
           row_number() OVER (PARTITION BY v.vec_id, v.m
             ORDER BY {_SQ_DIST_SQL.format(v="v.sv", c="c.c_sv")}, c.code) AS rk
    FROM sv v JOIN cb c ON v.m = c.m
  ) WHERE rk = 1
)"""


ORACLE_PQ = f"""
WITH {_pq_oracle_body().lstrip()}
SELECT m, code, count(*) AS n_vectors,
       CAST(sum(distort_micro) AS BIGINT) AS sum_distort_micro
FROM a2 GROUP BY m, code
"""


PQ_ADC_K = 10  # retrieved neighbors per query


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ retrieval by Asymmetric Distance Computation — the query path the
    PQ index exists for: per query, compute ONE tiny distance table (its
    distance to each of the {PQ_M}×{PQ_K} codebook cells, floored to
    integer micro-units), then score every corpus vector as the INTEGER
    SUM of {PQ_M} table lookups over its stored codes — the raw corpus
    vectors are never touched at query time.  Top-{PQ_ADC_K} per query,
    ties on vec_id.

    Exactness: the only float work is the Q×M×K-cell distance table
    (fixed-order accumulation, floored before use); the per-candidate
    score is then a sum of integers — engine-exact regardless of how the
    lookup join schedules.

    Recall caveat, measured: this synthetic corpus is near-isotropic —
    PQ's worst case (nothing to quantize onto) — so ADC recall@10 vs the
    exact L2 answer is 0.18, bit-identical to an independent numpy
    replication of the same pipeline (tests pin both); real embedding
    corpora with cluster structure sit far higher at the same code rate.

    Scale shape at 100 TB: the codes table (4 bytes/vector here) is the
    ONLY corpus-sized input; the distance table broadcasts (Q·{PQ_M}·
    {PQ_K} rows), scoring is a broadcast-join + (q, vec)-keyed partial
    sum that combines map-side to {PQ_M} terms per pair, and top-k is a
    per-query window.  Composing with the IVF cell filter (probe lists)
    bounds the candidate set exactly as production IVF-PQ does."""
    cb, codes = _pq_train(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    subs = F.array(*[F.slice(arr, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
    qsub = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.posexplode(subs).alias("m", "qv")
    )
    qd = qsub.join(F.broadcast(cb), "m").select(
        "q_id",
        "m",
        "code",
        F.floor(F.lit(1_000_000) * F.expr(_SQ_DIST.format(v="qv", c="c_sv")))
        .cast("long")
        .alias("d_micro"),
    )
    adc = (
        codes.join(F.broadcast(qd), ["m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
        .filter(F.col("q_id") != F.col("vec_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_micro"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_ADC_K)
        .select("q_id", F.col("vec_id").alias("c_id"), "adc_micro", "rank")
    )


ORACLE_PQ_ADC = f"""
WITH {_pq_oracle_body().lstrip()},
qd AS MATERIALIZED (
  SELECT q.vec_id AS q_id, c.m, c.code,
         CAST(floor(1000000 * {_SQ_DIST_SQL.format(v="q.sv", c="c.c_sv")})
              AS BIGINT) AS d_micro
  FROM sv q JOIN cb c ON q.m = c.m
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT qd.q_id, a2.vec_id, CAST(sum(qd.d_micro) AS BIGINT) AS adc_micro
  FROM a2 JOIN qd ON a2.m = qd.m AND a2.code = qd.code
  WHERE qd.q_id <> a2.vec_id
  GROUP BY qd.q_id, a2.vec_id
)
SELECT q_id, vec_id AS c_id, adc_micro, rank FROM (
  SELECT q_id, vec_id, adc_micro,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_micro ASC, vec_id ASC) AS rank
  FROM adc
) WHERE rank <= {PQ_ADC_K}
"""


# -- IVF-PQ composed retrieval ----------------------------------------------------


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS production architecture, composed from this
    module's own two oracle-checked structures: the IVF coarse quantizer
    prunes the corpus to the nprobe={nprobe} nearest cells' inverted
    lists, and PQ asymmetric distance scores ONLY those candidates from
    their stored codes (integer table-lookup sums — raw vectors never
    touched at query time).  Exactly ann_pq_adc_topk's scoring under
    ann_ivf's pruning; at 100 TB this is the shape that serves
    billion-vector search from RAM.

    Scale: candidate set = nprobe/|cells| of the corpus per query; the
    cells and codes tables are the only corpus-sized inputs, both built
    map-only with broadcast centroids/codebooks; scoring joins broadcast
    the (q, cell) probe list and the Q·M·K distance table."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    d = F.expr(_SQ_DIST.format(v="vec", c="c_vec"))
    cells = (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("dist", d)
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("dist", "cell")).alias("cell"))
        .select(F.col("vec_id").alias("c_id"), "cell")
    )
    wq = Window.partitionBy("q_id").orderBy("qdist", "cell")
    probes = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("qdist", F.expr(_SQ_DIST.format(v="q_vec", c="c_vec")))
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= IVF_NPROBE)
        .select("q_id", "cell")
    )
    cb, codes = _pq_train(spark, sf_dir)
    arr = F.col("embedding").cast("array<double>")
    subs = F.array(*[F.slice(arr, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
    qsub = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.posexplode(subs).alias("m", "qv")
    )
    qd = qsub.join(F.broadcast(cb), "m").select(
        "q_id",
        "m",
        "code",
        F.floor(F.lit(1_000_000) * F.expr(_SQ_DIST.format(v="qv", c="c_sv")))
        .cast("long")
        .alias("d_micro"),
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
    )
    adc = (
        F.broadcast(cand)
        .join(codes.withColumnRenamed("vec_id", "c_id"), "c_id")
        .join(F.broadcast(qd), ["q_id", "m", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_micro"), F.asc("c_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_ADC_K)
        .select("q_id", "c_id", "adc_micro", "rank")
    )


ann_ivfpq_topk.__doc__ = ann_ivfpq_topk.__doc__.replace("{nprobe}", str(IVF_NPROBE))


ORACLE_IVFPQ = f"""
WITH {_pq_oracle_body().lstrip()},
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
iseeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vec AS s_vec
  FROM vecs WHERE vec_id IN ({_IDS_SQL})
),
iassign1 AS (
  SELECT vec_id, cell, vec FROM (
    SELECT v.vec_id, s.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='s.s_vec')}, s.cell) AS rk
    FROM vecs v CROSS JOIN iseeds s
  ) WHERE rk = 1
),
ipd AS (
  SELECT cell, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM iassign1, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell, d
),
icent AS (
  SELECT cell, list(c_bp / 10000.0 ORDER BY dim) AS c_vec
  FROM ipd GROUP BY cell
),
icells AS MATERIALIZED (
  SELECT vec_id AS c_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN icent c
  ) WHERE rk = 1
),
iprobes AS MATERIALIZED (
  SELECT q_id, cell FROM (
    SELECT v.vec_id AS q_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM vecs v CROSS JOIN icent c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE rk <= {IVF_NPROBE}
),
qd AS MATERIALIZED (
  SELECT q.vec_id AS q_id, c.m, c.code,
         CAST(floor(1000000 * {_SQ_DIST_SQL.format(v="q.sv", c="c.c_sv")})
              AS BIGINT) AS d_micro
  FROM sv q JOIN cb c ON q.m = c.m
  WHERE q.vec_id < {N_QUERIES}
),
cand AS MATERIALIZED (
  SELECT p.q_id, l.c_id FROM iprobes p JOIN icells l ON p.cell = l.cell
  WHERE p.q_id <> l.c_id
),
adc AS (
  SELECT cand.q_id, cand.c_id, CAST(sum(qd.d_micro) AS BIGINT) AS adc_micro
  FROM cand
  JOIN a2 ON a2.vec_id = cand.c_id
  JOIN qd ON qd.q_id = cand.q_id AND qd.m = a2.m AND qd.code = a2.code
  GROUP BY cand.q_id, cand.c_id
)
SELECT q_id, c_id, adc_micro, rank FROM (
  SELECT q_id, c_id, adc_micro,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_micro ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {PQ_ADC_K}
"""


# -- Matryoshka truncation-recall curve ----------------------------------------------

MATRYOSHKA_DIMS = [4, 8, 16, 32, 64]  # 64 = full width (the truth row)


def ann_matryoshka_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation sweep (Kusupati et al. 2022, MRL): recall@K
    of TRUNCATED-dimension cosine retrieval against the full-width exact
    truth, one row per prefix width — the curve that prices the #1
    serving-cost knob (embedding width) on YOUR corpus before anyone
    ships a truncated index.  Same queries, K, integer-bp scoring, and
    (cos_bp DESC, c_id) tie-break as :func:`ann_cosine_topk`, so the
    full-width row is pinned at recall 10000 by construction.

    Distributed shape: ONE broadcast cross join scores every (query,
    candidate) pair at ALL widths in a single pass (prefix slices of one
    array column — no rescan per width), a stack to long form, and one
    (q_id, dim)-keyed window for the per-width top-K.  At 100 TB the
    candidate scan stays the brute-force baseline's single pass; widths
    multiply only the per-row arithmetic, never the shuffle.  Scores are
    floored integer bp (null-guarded to -20000: DuckDB sorts NULL first
    on DESC, Spark last — a zero-norm prefix must not diverge engines).
    A width with ZERO hits emits no row (both engines drop the empty
    group identically — at sf0.1 the 4-wide prefix of these random
    vectors recalls nothing, and its absent row says so)."""
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    corpus = vecs.select(F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"))
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    pairs = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("q_id") != F.col("c_id")
    )

    def cos_bp(d: int):
        q, c = f"slice(q_vec, 1, {d})", f"slice(c_vec, 1, {d})"
        expr = (
            f"floor(10000 * aggregate(zip_with({q}, {c}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p) / "
            f"(sqrt(aggregate(transform({q}, x -> x * x), CAST(0.0 AS DOUBLE), (a2, p) -> a2 + p)) * "
            f"sqrt(aggregate(transform({c}, x -> x * x), CAST(0.0 AS DOUBLE), (a3, p) -> a3 + p))))"
        )
        return F.coalesce(F.expr(expr).cast("long"), F.lit(-20000))

    scored = pairs.select(
        "q_id", "c_id", *[cos_bp(d).alias(f"s{d}") for d in MATRYOSHKA_DIMS]
    )
    n_dims = len(MATRYOSHKA_DIMS)
    stack_args = ", ".join(f"{d}L, s{d}" for d in MATRYOSHKA_DIMS)
    long = scored.selectExpr(
        "q_id", "c_id", f"stack({n_dims}, {stack_args}) AS (dim, cos_bp)"
    )
    w = Window.partitionBy("q_id", "dim").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    topk = (
        long.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .transform(lineage_cut)
    )
    full = MATRYOSHKA_DIMS[-1]
    truth = topk.filter(F.col("dim") == full).select("q_id", "c_id")
    nq = queries.agg(F.count(F.lit(1)).alias("n_q"))
    return (
        topk.join(truth, ["q_id", "c_id"], "left_semi")
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(F.broadcast(nq))
        .select(
            "dim",
            "n_hits",
            F.expr(f"CAST((10000 * n_hits) DIV (n_q * {TOP_K}) AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )


def _oracle_matryoshka() -> str:
    def cos_sql(d: int) -> str:
        q, c = f"q_vec[1:{d}]", f"c_vec[1:{d}]"
        return (
            f"coalesce(CAST(floor(10000 * list_sum(list_transform(range(1, {d} + 1),"
            f" i -> q_vec[i] * c_vec[i]))"
            f" / (sqrt(list_sum(list_transform({q}, x -> x * x)))"
            f" * sqrt(list_sum(list_transform({c}, x -> x * x))))) AS BIGINT), -20000)"
        )

    per_dim = "\n  UNION ALL\n".join(
        f"  SELECT q_id, c_id, CAST({d} AS BIGINT) AS dim, {cos_sql(d)} AS cos_bp FROM pairs"
        for d in MATRYOSHKA_DIMS
    )
    full = MATRYOSHKA_DIMS[-1]
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings
),
queries AS MATERIALIZED (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
pairs AS MATERIALIZED (
  SELECT q_id, q_vec, c_id, c_vec FROM queries CROSS JOIN corpus WHERE q_id <> c_id
),
long AS MATERIALIZED (
{per_dim}
),
topk AS MATERIALIZED (
  SELECT q_id, c_id, dim, rank FROM (
    SELECT q_id, c_id, dim,
           row_number() OVER (PARTITION BY q_id, dim
                              ORDER BY cos_bp DESC, c_id) AS rank
    FROM long
  ) WHERE rank <= {TOP_K}
),
truth AS (SELECT q_id, c_id FROM topk WHERE dim = {full}),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM queries)
SELECT t.dim, CAST(count(*) AS BIGINT) AS n_hits,
       CAST((10000 * count(*)) // (nq.n_q * {TOP_K}) AS BIGINT) AS recall_bp
FROM topk t SEMI JOIN truth u ON t.q_id = u.q_id AND t.c_id = u.c_id
CROSS JOIN nq
GROUP BY t.dim, nq.n_q
"""


ORACLE_MATRYOSHKA = _oracle_matryoshka()


QUERIES = {
    "ann_matryoshka_curve": ann_matryoshka_curve,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_range_search": ann_range_search,
    "embedding_pq_codebooks": embedding_pq_codebooks,
    "embedding_pca_power": embedding_pca_power,
    "ann_recall_report": ann_recall_report,
    "ann_recall_curve": ann_recall_curve,
    "embedding_kmeans": embedding_kmeans,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_cosine_topk_bucketed": ann_cosine_topk_bucketed,
    "ann_ivf": ann_ivf,
    "embedding_centroids": embedding_centroids,
    "embedding_covariance": embedding_covariance,
    "ann_mmr_diversified": ann_mmr_diversified,
}

ORACLES = {
    "ann_matryoshka_curve": ORACLE_MATRYOSHKA,
    "ann_ivfpq_topk": ORACLE_IVFPQ,
    "ann_pq_adc_topk": ORACLE_PQ_ADC,
    "ann_range_search": ORACLE_RANGE,
    "embedding_pq_codebooks": ORACLE_PQ,
    "embedding_pca_power": ORACLE_PCA,
    "ann_recall_report": ORACLE_RECALL,
    "ann_recall_curve": ORACLE_RECALL_CURVE,
    "embedding_kmeans": ORACLE_KMEANS,
    "ann_cosine_topk": ORACLE_TOPK,
    "ann_cosine_topk_bucketed": ORACLE_TOPK_BUCKETED,
    "ann_ivf": ORACLE_IVF,
    "embedding_centroids": ORACLE_CENTROIDS,
    "embedding_covariance": ORACLE_COVARIANCE,
    "ann_mmr_diversified": _oracle_mmr(),
}
