"""End-of-pipeline training-data operators: what a 100 TB corpus build does
AFTER near-dup pair generation — cluster the pairs, pick one canonical
document per cluster, deterministically sample/split what survives, and
quantize embeddings for storage.

These compose the dedup machinery (mongraph_spark.queries.dedup: LSH
band-bucket candidate pairs) into the actual corpus-reduction steps:

- clustering = fixed-K min-label propagation over the pair graph (dup
  clusters are tiny — planted pairs here, shallow chains in real corpora —
  so K rounds reach the fixed point; both engines run the SAME K rounds,
  so the check is exact regardless of convergence).
- canonical selection = one window row_number per cluster (keep the
  longest member, tie-break lowest id) — a single shuffle keyed on the
  cluster label.
- sampling / splitting = pure column expressions on md5 prefixes: no rng
  state, reproducible on any engine, any partitioning, any scale (the
  property that matters for training-data lineage).
- quantization = per-vector int8 with a per-vector scale, all arithmetic
  forced to float64 so Spark and DuckDB agree bit-for-bit.

Scale notes: no driver materialization anywhere; the only shuffles are the
LSH band join (uniform md5 keys), K label-propagation aggregations (keyed
on node id), and one window per cluster.  Sampling/splitting/quantization
are map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark.queries.dedup import (
    _banded_sigs,
    _oracle_cands_sql,
    _pairs_from_banded,
    _oracle_corpus_droplast,
    _oracle_minhash_sig_sql,
    _ORACLE_SHINGLES,
    _shingled_corpus,
    dup_corpus,
)
from mongraph_spark.sparkutil import const_part, lineage_cut, read_table

N_CLUSTER_ROUNDS = 4  # planted dup clusters have diameter 1; 4 covers chains


# -- cluster the near-dup pairs, then report the cluster-size histogram ---------


def _cluster_labels(shingled: DataFrame) -> DataFrame:
    """Min-label propagation over the LSH pair graph: every corpus doc gets
    ``cluster_id`` = min doc_id reachable within N_CLUSTER_ROUNDS hops
    (singletons keep their own id).  Same join shape as
    graph_analytics.graph_connected_components — one shuffle per round.

    The pair graph is materialized ONCE behind an eager ``lineage_cut``
    before the loop: without it each propagation round replays the whole
    minhash + band self-join lineage (measured 16.7 s → ~4 s at sf0.1), and
    at 100 TB it would replay the corpus's dominant shuffle K times.  The
    band cache backing the pair join is released as soon as the checkpoint
    is cut."""
    banded = _banded_sigs(shingled).persist()
    try:
        pairs = _pairs_from_banded(banded)
        adj = pairs.unionByName(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        ).transform(lineage_cut)
    finally:
        banded.unpersist()
    return _cluster_labels_from_pairs(shingled, adj)


def _cluster_labels_from_pairs(shingled: DataFrame, adj: DataFrame) -> DataFrame:
    """The propagation loop alone, over a PREBUILT symmetric adjacency —
    lets callers that also need the raw pair set (e.g. the leakage meter in
    :func:`corpus_cluster_split`) build candidates once instead of paying
    the LSH band join twice."""
    labels = shingled.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(N_CLUSTER_ROUNDS):
        neighbor_min = (
            labels.join(adj, labels["doc_id"] == adj["id_a"])
            .groupBy(F.col("id_b").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
    return labels


def _oracle_cluster_ctes() -> str:
    """corpus → shingles → minhash sig → banded → cands → K propagation
    rounds, mirroring _cluster_labels on the same generated CTE chain the
    dedup oracles use.  Every round reads the previous labels twice, so
    the adjacency and each round are MATERIALIZED: DuckDB otherwise
    inlines a CTE per reference and re-runs the chain 2^K times."""
    body = f"""adj AS MATERIALIZED (
  SELECT id_a, id_b FROM cands UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM cands
),
l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM shingled)"""
    prev = "l0"
    for k in range(1, N_CLUSTER_ROUNDS + 1):
        body += f""",
nm{k} AS (
  SELECT a.id_b AS doc_id, min(l.label) AS nbr_label
  FROM {prev} l JOIN adj a ON l.doc_id = a.id_a
  GROUP BY a.id_b
),
l{k} AS MATERIALIZED (
  SELECT l.doc_id, least(l.label, coalesce(n.nbr_label, l.label)) AS label
  FROM {prev} l LEFT JOIN nm{k} n ON l.doc_id = n.doc_id
)"""
        prev = f"l{k}"
    return body, prev


# -- merged evidence row: clusters + canonical member in one propagation run ----


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster stats AND canonical selection from ONE label-propagation run:
    per cluster, its size plus the kept member (most tokens, tie lowest
    doc_id).  The standalone histogram/keep-best queries each rerun the
    propagation; fusing them halves the dominant shuffle work — the same
    fusion a production dedup job does (one pass: label, size, elect)."""
    shingled = _shingled_corpus(spark, sf_dir, drop_last=1).persist()
    try:
        labels = _cluster_labels(shingled)
        corpus = dup_corpus(spark, sf_dir, drop_last=1).select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
        )
        member = labels.join(corpus, "doc_id")
        w = Window.partitionBy("label").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        return (
            member.withColumn("rk", F.row_number().over(w))
            .withColumn(
                "cluster_size",
                F.count(F.lit(1)).over(Window.partitionBy("label")),
            )
            .filter(F.col("rk") == 1)
            .select(
                F.col("label").alias("cluster_id"),
                F.col("cluster_size").cast("long"),
                F.col("doc_id").alias("kept_doc_id"),
                F.col("n_tokens").alias("kept_n_tokens"),
            )
        )
    finally:
        shingled.unpersist()


def _oracle_dedup_clusters() -> str:
    ctes, final = _oracle_cluster_ctes()
    return f"""
WITH {_oracle_corpus_droplast(1)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()},
{ctes}
SELECT label AS cluster_id, cluster_size, doc_id AS kept_doc_id,
       n_tokens AS kept_n_tokens
FROM (
  SELECT l.doc_id, l.label,
         len(string_split(c.text, ' ')) AS n_tokens,
         row_number() OVER (PARTITION BY l.label
                            ORDER BY len(string_split(c.text, ' ')) DESC, l.doc_id ASC) AS rk,
         CAST(count(*) OVER (PARTITION BY l.label) AS BIGINT) AS cluster_size
  FROM {final} l JOIN corpus c ON l.doc_id = c.doc_id
) WHERE rk = 1
"""


ORACLE_DEDUP_CLUSTERS = _oracle_dedup_clusters()


# -- leakage-free split construction: assign splits at cluster granularity ------

TRAIN_PCT, VAL_PCT = 80, 10  # test = remainder


def _md5_bucket(col: str) -> F.Column:
    """Deterministic 0-99 bucket from the md5 of a column — the same pure-
    function-of-the-row split rule sample_and_split uses, applicable to any
    id-typed column (doc ids AND cluster labels)."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 100
    )


def _split_of(col: str) -> F.Column:
    b = _md5_bucket(col)
    return (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def corpus_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE train/val/test construction — the REPAIR operator for
    what ``corpus_split_leakage`` measures: hash-splitting per DOCUMENT
    puts the two sides of a near-dup pair in different splits with
    probability ~2·p·(1−p), leaking answers from train into test.  The fix
    every serious corpus release ships: assign splits at near-dup-CLUSTER
    granularity — split = md5-bucket of the cluster LABEL, so every member
    of a cluster (hence every verified near-dup pair, pairs being
    intra-cluster by construction of the propagation over the candidate
    graph) lands in ONE split.  Output is the movement bill — the
    (doc-level split → cluster-level split) matrix; off-diagonal cells are
    the docs the repair moved — with the before/after leakage meter
    (verified cross-split pair counts under each rule) carried on every
    row: ``leaked_pairs_cluster_split`` is structurally 0.

    Scale shape: candidates are built ONCE (checkpointed LSH pair graph —
    the corpus's dominant shuffle) and shared by the propagation loop and
    the Jaccard verifier; split derivation is a pure map (no assignment
    table, no join); the matrix and the leakage meter are tiny rollups.
    Singleton docs never move: their cluster label IS their doc_id, so the
    two rules agree — the movement bill is bounded by the dup mass, not
    the corpus."""
    shingled = _shingled_corpus(spark, sf_dir, drop_last=1).persist()
    try:
        banded = _banded_sigs(shingled).persist()
        try:
            pairs = lineage_cut(_pairs_from_banded(banded))
        finally:
            banded.unpersist()
        adj = pairs.unionByName(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
        labels = _cluster_labels_from_pairs(shingled, adj)
        assigned = labels.select(
            "doc_id",
            _split_of("doc_id").alias("doc_split"),
            _split_of("label").alias("cluster_split"),
        ).transform(lineage_cut)  # reread by the matrix + both pair joins

        sa = shingled.select(
            F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
        )
        sb = shingled.select(
            F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
        )
        j = pairs.join(sa, "id_a").join(sb, "id_b")
        n_common = F.size(F.array_intersect("sh_a", "sh_b"))
        union_sz = F.size("sh_a") + F.size("sh_b") - n_common
        verified = j.filter(5 * n_common >= 4 * union_sz).select("id_a", "id_b")

        av = assigned.select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_split").alias("da"),
            F.col("cluster_split").alias("ca"),
        )
        bv = assigned.select(
            F.col("doc_id").alias("id_b"),
            F.col("doc_split").alias("db"),
            F.col("cluster_split").alias("cb"),
        )
        leaked = (
            verified.join(av, "id_a")
            .join(bv, "id_b")
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("da") != F.col("db"), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias("leaked_pairs_doc_split"),
                F.coalesce(
                    F.sum(F.when(F.col("ca") != F.col("cb"), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias("leaked_pairs_cluster_split"),
            )
        )
        return (
            assigned.groupBy("doc_split", "cluster_split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .crossJoin(F.broadcast(leaked))
        )
    finally:
        shingled.unpersist()


def _oracle_cluster_split() -> str:
    ctes, final = _oracle_cluster_ctes()
    split_case = (
        "CASE WHEN ('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT % 100 < "
        f"{TRAIN_PCT} THEN 'train' "
        "WHEN ('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT % 100 < "
        f"{TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END"
    )
    return f"""
WITH {_oracle_corpus_droplast(1)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()},
{ctes},
assigned AS (
  SELECT doc_id,
         {split_case.format(c="doc_id")} AS doc_split,
         {split_case.format(c="label")} AS cluster_split
  FROM {final}
),
ver AS (
  SELECT id_a, id_b FROM cands
  JOIN shingled sa ON sa.doc_id = id_a
  JOIN shingled sb ON sb.doc_id = id_b
  WHERE 5 * len(list_intersect(sa.shingles, sb.shingles))
        >= 4 * (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles)))
),
leaked AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN a.doc_split <> b.doc_split THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS leaked_pairs_doc_split,
    CAST(coalesce(sum(CASE WHEN a.cluster_split <> b.cluster_split THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS leaked_pairs_cluster_split
  FROM ver
  JOIN assigned a ON a.doc_id = ver.id_a
  JOIN assigned b ON b.doc_id = ver.id_b
)
SELECT doc_split, cluster_split, CAST(count(*) AS BIGINT) AS n_docs,
       leaked_pairs_doc_split, leaked_pairs_cluster_split
FROM assigned CROSS JOIN leaked
GROUP BY 1, 2, 4, 5
"""


ORACLE_CLUSTER_SPLIT = _oracle_cluster_split()


# -- deterministic stratified sampling ------------------------------------------

# per-language keep rates in basis points: downsample the dominant language,
# keep more of the rarer ones (the standard corpus-balancing move)
STRATA_RATES_BP = {"en": 4000, "zh": 8000, "es": 8000, "de": 8000, "fr": 8000}
DEFAULT_RATE_BP = 2500
HASH_SPACE = 1 << 32  # md5 first 8 hex chars


def _doc_hash() -> F.Column:
    """Uniform deterministic hash in [0, 2^32): first 8 hex chars of
    md5(doc_id).  No RNG, no partitioning dependence — the sample is a pure
    function of the row, reproducible across engines and re-runs (what
    training-data lineage requires; Bernoulli via rand(seed) is NOT stable
    under repartitioning)."""
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-Bernoulli sample with per-language rates; reports per-language
    totals vs sampled counts (the operator itself is the ``kept`` filter —
    map-only, no shuffle until the audit aggregation)."""
    docs = read_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE_BP)
    for lang, bp in STRATA_RATES_BP.items():
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    # integer compare: keep  ⇔  h * 10000 < rate_bp * 2^32  (no float rounding)
    kept = (_doc_hash() * 10000) < (rate.cast("long") * HASH_SPACE)
    return (
        docs.withColumn("kept", kept.cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_sampled"),
        )
    )


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {bp}" for lang, bp in STRATA_RATES_BP.items()
    )
    return f"CASE {whens} ELSE {DEFAULT_RATE_BP} END"


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * 10000
                          < ({_rate_case_sql()})::BIGINT * {HASH_SPACE}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
"""


# -- deterministic train/val/test split (TRAIN_PCT/VAL_PCT defined above) --------


def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by md5 bucket (80/10/10).
    Split membership is a pure function of doc_id — stable across runs,
    engines, and repartitioning, and disjointness is structural (one bucket,
    one range).  Reports per-(lang, split) counts + char volume."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = _doc_hash() % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


ORACLE_TRAIN_SPLIT = f"""
SELECT lang,
       CASE WHEN b < {TRAIN_PCT} THEN 'train'
            WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
  FROM documents
)
GROUP BY 1, 2
"""


# -- merged evidence row: sample + split in one audit ----------------------------


def sample_and_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified hash-sampling AND train/val/test assignment audited in one
    per-(lang, split) result: total docs, sampled docs, char volume.  Both
    operators are pure functions of the row (md5 buckets — stable under
    repartitioning, the training-lineage requirement); one map-only pass,
    one tiny aggregation."""
    docs = read_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE_BP)
    for lang, bp in STRATA_RATES_BP.items():
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    kept = (_doc_hash() * 10000) < (rate.cast("long") * HASH_SPACE)
    bucket = _doc_hash() % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.withColumn("kept", kept.cast("int")).withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


ORACLE_SAMPLE_SPLIT = f"""
SELECT lang,
       CASE WHEN b < {TRAIN_PCT} THEN 'train'
            WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN h * 10000 < rate_bp * {HASH_SPACE} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b,
         ({_rate_case_sql()})::BIGINT AS rate_bp
  FROM documents
)
GROUP BY 1, 2
"""


# -- int8 embedding quantization -------------------------------------------------


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (q_i = floor(127·x_i/scale),
    scale = max|x|): the standard storage/ANN compression step.  All
    arithmetic is forced to float64 — float32 inputs convert exactly, and
    IEEE double ops are engine-deterministic, so the checksums hash-match.
    Map-only: zero shuffles at any scale."""
    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(as_double, F.abs))
    q = F.transform(
        as_double, lambda x: F.floor(F.lit(127.0) * x / F.col("scale")).cast("long")
    )
    return (
        emb.withColumn("scale", scale)
        .filter(F.col("scale") > 0)  # zero vectors are unquantizable; drop
        .withColumn("q", q)
        .select(
            "vec_id",
            "label",
            F.floor(F.lit(10000) * F.col("scale")).cast("long").alias("scale_bp"),
            F.aggregate(
                "q", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("q_sum"),
            F.array_min("q").cast("long").alias("q_min"),
            F.array_max("q").cast("long").alias("q_max"),
        )
    )


ORACLE_QUANTIZE = """
SELECT vec_id, label,
       CAST(floor(10000 * scale) AS BIGINT) AS scale_bp,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_min(q) AS BIGINT) AS q_min,
       CAST(list_max(q) AS BIGINT) AS q_max
FROM (
  SELECT vec_id, label, scale,
         list_transform(embedding, x -> CAST(floor(127.0 * CAST(x AS DOUBLE) / scale) AS BIGINT)) AS q
  FROM (
    SELECT vec_id, label, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
    FROM embeddings
  ) WHERE scale > 0
)
"""


# -- sequence packing: GPT-style concat-and-chunk --------------------------------

CHUNK_TOKENS = 128  # fixed training-sequence length (tokens per chunk)


def pipeline_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing, the LLM-pretraining layout step:
    within each source, documents are concatenated in doc_id order and cut
    into fixed ``CHUNK_TOKENS`` sequences; each doc reports the chunk range
    it lands in.  ``first_chunk = floor(tokens_before / C)`` is a running sum
    — ONE window partitioned by ``source``, so the shuffle is keyed on
    source and every partition packs independently (the global-order variant
    would serialize the corpus through one partition; per-source packing is
    also what training actually wants, since sources are sampled
    independently).  A single giant source would make one hot partition —
    production splits such a source into deterministic sub-shards
    (hash(doc_id) % k) first; at this corpus's source fan-out the plain
    window is the right plan."""
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    w = Window.partitionBy("source").orderBy("doc_id")
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("first_chunk", (cum_before / CHUNK_TOKENS).cast("long"))
        .withColumn(
            "last_chunk",
            ((cum_before + F.col("n_tokens") - 1) / CHUNK_TOKENS).cast("long"),
        )
        .withColumn("n_chunks_spanned", F.col("last_chunk") - F.col("first_chunk") + 1)
    )


ORACLE_PACK_CHUNKS = f"""
SELECT doc_id, source, n_tokens,
       CAST(cum_before // {CHUNK_TOKENS} AS BIGINT) AS first_chunk,
       CAST((cum_before + n_tokens - 1) // {CHUNK_TOKENS} AS BIGINT) AS last_chunk,
       CAST((cum_before + n_tokens - 1) // {CHUNK_TOKENS}
            - cum_before // {CHUNK_TOKENS} + 1 AS BIGINT) AS n_chunks_spanned
FROM (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens,
         coalesce(sum(len(string_split(text, ' '))) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM documents
)
"""


# -- per-source quality cap -------------------------------------------------------

SOURCE_CAP = 15  # keep at most this many docs per source, best-quality first


def pipeline_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing by retention cap: keep the top ``SOURCE_CAP`` docs
    per source ranked by quality (tie-break doc_id), so no single crawl
    domain dominates the mixture.  One window shuffle keyed on ``source``;
    ranking reuses the oracle-checked quality score (text.with_quality) so
    the cap and the quality filter can't drift apart.  Reports the per-source
    audit: total vs kept docs, kept-token volume, and the quality floor the
    cap imposed."""
    from mongraph_spark.queries.text import with_quality

    docs = with_quality(read_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(F.desc("quality_bp"), F.asc("doc_id"))
    ranked = docs.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= SOURCE_CAP
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long").alias(
            "kept_tokens"
        ),
        F.min(F.when(kept, F.col("quality_bp"))).cast("long").alias("kept_quality_floor"),
    )


def _oracle_source_cap() -> str:
    from mongraph_spark.queries.text import oracle_quality_sql

    return f"""
WITH q AS ({oracle_quality_sql(", source")}),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY quality_bp DESC, doc_id ASC) AS rk
  FROM q
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rk <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk <= {SOURCE_CAP} THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(min(CASE WHEN rk <= {SOURCE_CAP} THEN quality_bp END) AS BIGINT) AS kept_quality_floor
FROM r
GROUP BY source
"""


ORACLE_SOURCE_CAP = _oracle_source_cap()


# -- deterministic global training order -------------------------------------------

SHUFFLE_SEED = "epoch0"
ORDER_TOPN = 50


def pipeline_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: sort key =
    md5(seed ++ doc_id), so the epoch order is a pure function of the row
    (reshuffling an epoch = changing the seed string; no RNG state, no
    partitioning dependence).  The audit returns the first 50 documents of
    the epoch with their rank.

    Distributed shape: orderBy + limit compiles to TakeOrderedAndProject —
    per-partition top-k then a k-sized merge, NO global sort and no
    single-reducer window.  The full epoch materialization at scale is
    ``df.orderBy(key).write...`` (range-partitioned total sort: sampled
    bounds, one shuffle, files emerge globally ordered) — the rank column
    here exists only for the 50-row audit and is computed after the limit,
    where the window input is 50 rows, not the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string")))
    top = (
        docs.select("doc_id", "source", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(ORDER_TOPN)
    )
    # 50 rows post-limit: single tiny task
    w = Window.partitionBy(const_part(F.col("shuffle_key"))).orderBy("shuffle_key")
    return top.withColumn("pos", F.row_number().over(w).cast("long")).select(
        "pos", "doc_id", "source", "shuffle_key"
    )


ORACLE_TRAINING_ORDER = f"""
SELECT row_number() OVER (ORDER BY shuffle_key) AS pos, doc_id, source, shuffle_key
FROM (
  SELECT doc_id, source,
         md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
ORDER BY shuffle_key
LIMIT {ORDER_TOPN}
"""


# -- overlapping chunking (RAG / context-window prep) ------------------------------

CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (overlap = W - S)


def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap — the RAG/embedding prep step
    (chunk i covers tokens [i·S, i·S+W); n_chunks = 1 if n ≤ W else
    ⌈(n−W)/S⌉+1, so every token is covered and the tail is never an
    orphan).  Audit: per-source chunk counts, emitted token volume, and the
    expansion premium the overlap costs (basis points, exact integers).

    Map-only twice over: per-doc chunk count AND emitted-token total are
    closed-form column expressions (``F.aggregate`` over the chunk-index
    sequence — no explode, so no row expansion at all), and the only
    shuffle is the final per-source audit.  The real emit would
    posexplode ``array_to_string(slice(words, i*S+1, W), ' ')`` per chunk
    — same index arithmetic, rows instead of sums."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    n_chunks = F.when(n <= CHUNK_W, F.lit(1)).otherwise(
        F.ceil((n - CHUNK_W) / F.lit(float(CHUNK_S))).cast("long") + 1
    )
    emitted = F.aggregate(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.least(F.lit(CHUNK_W), n - i * CHUNK_S).cast("long"),
    )
    per_doc = docs.select(
        "source",
        n.cast("long").alias("n_tokens"),
        n_chunks.alias("n_chunks"),
        emitted.alias("emitted_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").cast("long").alias("n_chunks"),
        F.sum("emitted_tokens").cast("long").alias("emitted_tokens"),
        F.floor(
            F.lit(10000) * F.sum("emitted_tokens") / F.sum("n_tokens")
        ).cast("long").alias("expansion_bp"),
    )


ORACLE_CHUNK_OVERLAP = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(words) AS BIGINT) AS n_tokens,
         CASE WHEN len(words) <= {CHUNK_W} THEN 1
              ELSE CAST(ceil((len(words) - {CHUNK_W}) / {CHUNK_S}.0) AS BIGINT) + 1
         END AS n_chunks
  FROM (SELECT source, string_split(text, ' ') AS words FROM documents)
), with_emit AS (
  SELECT source, n_tokens, n_chunks,
         (SELECT CAST(sum(least({CHUNK_W}, n_tokens - i * {CHUNK_S})) AS BIGINT)
          FROM unnest(range(0, n_chunks)) AS t(i)) AS emitted_tokens
  FROM per_doc
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(emitted_tokens) AS BIGINT) AS emitted_tokens,
       CAST(floor(10000.0 * sum(emitted_tokens) / sum(n_tokens)) AS BIGINT)
         AS expansion_bp
FROM with_emit
GROUP BY source
"""


def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card manifest: the per-(split, source) summary table every
    training-data release ships — document counts, token and char volume,
    language coverage, mean document length — computed in ONE scan + one
    aggregation.  Split assignment reuses the md5 bucket function (pure
    row function, stable under repartitioning), token counts the shared
    whitespace tokenizer; mean tokens is an integer floor of two exact
    sums, so the card is engine-exact.

    At 100 TB this is the cheapest possible shape: map-only derivation,
    map-side-combined aggregate over ~|splits|×|sources| groups."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = _doc_hash() % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    n_toks = F.size(F.split(F.lower("text"), r"\s+"))
    return (
        docs.select(
            split.alias("split"),
            "source",
            "lang",
            n_toks.alias("n_toks"),
            "n_chars",
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
            F.floor(F.sum("n_toks") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_tokens"),
        )
    )


ORACLE_DATASET_CARD = f"""
SELECT split, source,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs,
       CAST(floor(sum(n_toks) / count(*)) AS BIGINT) AS mean_tokens
FROM (
  SELECT CASE WHEN b < {TRAIN_PCT} THEN 'train'
              WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         source, lang, n_chars,
         len(string_split_regex(lower(text), '\\s+')) AS n_toks
  FROM (
    SELECT source, lang, n_chars, text,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
    FROM documents
  )
)
GROUP BY 1, 2
"""


# -- weighted sampling without replacement (Efraimidis-Spirakis A-ES) ----------------

WSAMPLE_K = 10  # docs kept per source (25-250 docs/source in the synthetic corpus)


def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per source, by the
    Efraimidis-Spirakis A-ES key trick: each doc draws a deterministic
    uniform u ∈ (0,1) (md5-derived — same lineage argument as
    :func:`sample_and_split`: a pure function of the row, stable under
    repartitioning and across engines, unlike ``rand(seed)``) and scores
    ``key = ln(u) / w`` with weight w = n_chars; the k LARGEST keys per
    group are exactly a weighted sample without replacement (Efraimidis &
    Spirakis 2006, via the Gumbel-max equivalence).

    Plan shape: map-only key computation, then ONE window shuffle keyed on
    ``source`` for the per-group top-k — identical posture to
    :func:`pipeline_source_cap`.  At 100 TB this is the standard way to
    draw quality-weighted subcorpora: no global sort, no rejection loop,
    no resampling pass; heavily-weighted docs are more likely kept but
    every doc has nonzero probability.  Ties (impossible in practice with
    64-bit uniforms) break on doc_id for replay stability."""
    docs = read_table(spark, sf_dir, "documents")
    u = (_doc_hash() + F.lit(0.5)) / F.lit(float(HASH_SPACE))
    key = F.log(u) / F.col("n_chars")  # n_chars >= 1 in this corpus
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), "doc_id")
    return (
        docs.select("source", "doc_id", "n_chars", key.alias("es_key"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= WSAMPLE_K)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


ORACLE_WSAMPLE = f"""
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(rank AS INT) AS rank
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rank
  FROM (
    SELECT source, doc_id, n_chars,
           ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
              / {float(HASH_SPACE)}) / n_chars AS es_key
    FROM documents
  )
)
WHERE rank <= {WSAMPLE_K}
"""


# -- cross-source score calibration (quantile normalization) -------------------------


def pipeline_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-doc score ACROSS heterogeneous
    sources — the fix for "source A's quality scorer is systematically
    harsher than source B's": map each doc's within-source percent-rank
    onto the GLOBAL score distribution, so a doc at its source's median
    gets the corpus-median score regardless of the source's own scale.

    Two-piece plan, both scale-clean: (1) the global calibration curve is
    ONE exact-percentile aggregation over the pooled scores (101-point
    grid, a single reduce to one row, then posexplode to a 101-row dim —
    at 100 TB swap ``percentile`` for ``approx_percentile`` and keep the
    shape); (2) docs get their within-source percent_rank from one window
    shuffle keyed on ``source``, snap to the nearest grid point
    (explicit half-up floor so both engines round identically), and
    broadcast-join the 101-row curve.  Output is the bounded
    (source × grid-point) histogram of calibrated scores."""
    docs = read_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    fracs = [i / 100.0 for i in range(101)]
    grid = (
        docs.agg(
            F.percentile("n_chars", F.array(*[F.lit(x) for x in fracs])).alias("qs")
        )
        .select(F.posexplode("qs").alias("grid_idx", "cal_score_raw"))
        .select("grid_idx", F.round("cal_score_raw", 2).alias("cal_score"))
    )
    w = Window.partitionBy("source").orderBy("n_chars")
    ranked = docs.select(
        "source",
        F.floor(F.percent_rank().over(w) * 100 + F.lit(0.5))
        .cast("int")
        .alias("grid_idx"),
    )
    return (
        ranked.join(F.broadcast(grid), "grid_idx")
        .groupBy("source", "grid_idx", "cal_score")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_CALIBRATION = """
WITH grid AS (
  SELECT unnest(generate_series(0, 100)) AS grid_idx,
         unnest(quantile_cont(n_chars, [x / 100.0 FOR x IN generate_series(0, 100)])) AS cal_score_raw
  FROM documents
),
ranked AS (
  SELECT source,
         CAST(floor(percent_rank() OVER (PARTITION BY source ORDER BY n_chars) * 100 + 0.5) AS INT) AS grid_idx
  FROM documents
)
SELECT r.source, r.grid_idx, round(g.cal_score_raw, 2) AS cal_score, count(*) AS n_docs
FROM ranked r JOIN grid g ON r.grid_idx = g.grid_idx
GROUP BY 1, 2, 3
"""


# -- deterministic multi-epoch shuffle -------------------------------------------

N_EPOCHS = 3
EPOCH_HEAD = 10  # rows surfaced per epoch (the evidence slice)


def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training shuffle: each epoch orders the
    corpus by md5(epoch || ':' || doc_id), so every epoch is a DIFFERENT
    but fully REPRODUCIBLE permutation — resume-safe training order
    without materializing a seed table.  Surfaces the first 10 docs of
    each of 3 epochs.

    Distributed shape: the per-epoch head compiles to
    TakeOrderedAndProject (a per-partition top-k + k-row merge, NO global
    sort); the position stamp is a window over the 10 surviving rows.  At
    100 TB a full epoch materialization doesn't sort either: the shuffle
    key's first bytes ARE the shard assignment, so writers hash-bucket by
    key prefix and sort only within shards — noted here, same semantics."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    heads = []
    for epoch in range(N_EPOCHS):
        key = F.md5(F.concat(F.lit(str(epoch)), F.lit(":"), F.col("doc_id").cast("string")))
        heads.append(
            docs.select(F.lit(epoch).alias("epoch"), "doc_id", key.alias("k"))
            .orderBy("k")
            .limit(EPOCH_HEAD)
        )
    union = heads[0]
    for h in heads[1:]:
        union = union.unionByName(h)
    w = Window.partitionBy("epoch").orderBy("k")
    return union.select(
        "epoch", F.row_number().over(w).alias("pos"), "doc_id"
    )


ORACLE_EPOCH_SHUFFLE = f"""
WITH keyed AS (
  SELECT e.epoch, d.doc_id,
         md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS k
  FROM documents d
  CROSS JOIN (SELECT unnest(range({N_EPOCHS})) AS epoch) e
), ranked AS (
  SELECT epoch, doc_id,
         row_number() OVER (PARTITION BY epoch ORDER BY k) AS pos
  FROM keyed
)
SELECT CAST(epoch AS INT) AS epoch, CAST(pos AS INT) AS pos, doc_id
FROM ranked WHERE pos <= {EPOCH_HEAD}
"""


# -- length-bucketed batch packing -----------------------------------------------

BATCH_SIZE = 32  # sequences per training batch
LEN_BUCKETS = (16, 32, 64, 128, 256, 512)  # pow2 bucket edges; >512 truncates


def pipeline_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch packing with padding-waste accounting: assign
    every document to the smallest power-of-two token bucket that holds it
    (overflow truncates at {max}), shuffle deterministically inside each
    bucket (md5 order — the stable-under-repartitioning idiom of
    sample_and_split), cut {B}-sequence batches, and report per bucket how
    many tokens dynamic padding wastes (batch_size x max_len - sum_len per
    batch) — the measurement that justifies length bucketing to a training
    team: fill_bp is the fraction of the padded tensor that is real data.
    (Bucket edges 16..512 pow2; overflow truncates at 512; batches of 32.)

    Scale shape: token counts and bucket assignment are map-only column
    expressions; the ONLY shuffle is the per-bucket window (6 partitions
    at any scale — at 100 TB sub-salt the window key by
    ``md5 div batch-aligned block`` so one bucket is not one task, then
    batch ids stay deterministic because the salt is itself the order
    key's prefix).  All integers end-to-end."""
    docs = read_table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.col("text"), " "))
    bucket = F.lit(LEN_BUCKETS[-1])
    for edge in reversed(LEN_BUCKETS):
        bucket = F.when(ntok <= edge, edge).otherwise(bucket)
    eff = F.least(ntok, F.lit(LEN_BUCKETS[-1]))
    base = docs.select(
        "doc_id",
        bucket.cast("bigint").alias("bucket"),
        eff.cast("bigint").alias("eff_len"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    batched = base.select(
        "bucket",
        "eff_len",
        F.expr(f"CAST((row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1) DIV {BATCH_SIZE} AS BIGINT)").alias("batch_id"),
    )
    per_batch = batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_seq"),
        F.max("eff_len").alias("max_len"),
        F.sum("eff_len").alias("sum_len"),
    )
    return (
        per_batch.groupBy("bucket")
        .agg(
            F.sum("n_seq").alias("n_docs"),
            F.count(F.lit(1)).alias("n_batches"),
            F.sum(F.col("n_seq") * F.col("max_len") - F.col("sum_len")).alias(
                "waste_tokens"
            ),
            F.sum("sum_len").alias("data_tokens"),
            F.sum(F.col("n_seq") * F.col("max_len")).alias("padded_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_batches",
            "waste_tokens",
            F.expr(
                "CAST((10000 * data_tokens) DIV padded_tokens AS BIGINT)"
            ).alias("fill_bp"),
        )
    )


def _length_batches_oracle() -> str:
    cases = " ".join(
        f"WHEN ntok <= {e} THEN {e}" for e in LEN_BUCKETS[:-1]
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(CASE {cases} ELSE {LEN_BUCKETS[-1]} END AS BIGINT) AS bucket,
         CAST(least(ntok, {LEN_BUCKETS[-1]}) AS BIGINT) AS eff_len,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM (SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents)
), batched AS (
  SELECT bucket, eff_len,
         (row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1)
           // {BATCH_SIZE} AS batch_id
  FROM base
), per_batch AS (
  SELECT bucket, batch_id, count(*) AS n_seq, max(eff_len) AS max_len,
         sum(eff_len) AS sum_len
  FROM batched GROUP BY bucket, batch_id
)
SELECT bucket,
       CAST(sum(n_seq) AS BIGINT) AS n_docs,
       count(*) AS n_batches,
       CAST(sum(n_seq * max_len - sum_len) AS BIGINT) AS waste_tokens,
       CAST((10000 * sum(sum_len)) // sum(n_seq * max_len) AS BIGINT) AS fill_bp
FROM per_batch GROUP BY bucket
"""


ORACLE_LENGTH_BATCHES = _length_batches_oracle()


def pipeline_length_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights that reshape the corpus's length distribution to
    UNIFORM over the pow2 token buckets — the distribution-matching
    companion to corpus_mixture_weights (which balances sources): train-
    time resampling by these weights makes every length bucket equally
    likely, and the effective sample size (Kish: (Σw)²/Σw²) quantifies
    how much corpus the reweighting effectively discards — the number
    that says whether to reweight or to go collect more long documents.

    All integer: weight_bp = ⌊10⁴·n_total/(B·n_b)⌋ per bucket, and the
    ESS sums run over per-bucket integer products (weights are constant
    within a bucket, so the doc-level sums collapse to bucket-level
    arithmetic — no per-doc pass beyond the bucket count agg).  Scale
    shape: ONE map-only bucket assignment + a B-key count agg; everything
    after is B-row arithmetic."""
    docs = read_table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.col("text"), " "))
    bucket = F.lit(LEN_BUCKETS[-1])
    for edge in reversed(LEN_BUCKETS):
        bucket = F.when(ntok <= edge, edge).otherwise(bucket)
    per_b = docs.select(bucket.cast("bigint").alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_b.agg(
        F.sum("n_docs").alias("n_total"), F.count(F.lit(1)).alias("n_buckets")
    )
    weighted = per_b.crossJoin(F.broadcast(tot)).withColumn(
        "weight_bp",
        F.expr("CAST((10000 * n_total) DIV (n_buckets * n_docs) AS BIGINT)"),
    )
    ess = weighted.agg(
        F.expr(
            "CAST((sum(n_docs * weight_bp) * sum(n_docs * weight_bp)) "
            "DIV sum(n_docs * weight_bp * weight_bp) AS BIGINT)"
        ).alias("ess_docs")
    )
    return weighted.crossJoin(F.broadcast(ess)).select(
        "bucket", "n_docs", "weight_bp", "ess_docs"
    )


ORACLE_LENGTH_MATCHING = f"""
WITH per_b AS (
  SELECT bucket, count(*) AS n_docs FROM (
    SELECT CAST(CASE {' '.join(f"WHEN ntok <= {e} THEN {e}" for e in LEN_BUCKETS[:-1])}
                ELSE {LEN_BUCKETS[-1]} END AS BIGINT) AS bucket
    FROM (SELECT len(string_split(text, ' ')) AS ntok FROM documents)
  ) GROUP BY bucket
),
tot AS (SELECT sum(n_docs) AS n_total, count(*) AS n_buckets FROM per_b),
weighted AS (
  SELECT bucket, n_docs,
         CAST((10000 * n_total) // (n_buckets * n_docs) AS BIGINT) AS weight_bp
  FROM per_b, tot
),
ess AS (
  SELECT CAST((sum(n_docs * weight_bp) * sum(n_docs * weight_bp))
              // sum(n_docs * weight_bp * weight_bp) AS BIGINT) AS ess_docs
  FROM weighted
)
SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs, weight_bp, ess_docs
FROM weighted, ess
"""


FUNNEL_Q_MIN = 5000  # quality gate (corpus median ~5765 at sf0.01)


def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel — the suite's own operators composed
    the way a training-data pipeline actually chains them, with the
    per-stage yield a curation review reads: raw crawl (the dup-planted
    corpus) → near-dup canonical selection (LSH clusters, keep-best; exact
    dups are the J=1 case so no separate exact stage) → quality gate
    (quality_bp ≥ {FUNNEL_Q_MIN}) → train split (md5 bucket).  Docs AND
    tokens per stage: token yield is what the training budget consumes,
    and the two can diverge (keep-best preferentially KEEPS long docs).

    One pass: all stage flags are cumulative booleans on one labeled
    corpus, so the whole funnel is the clustering pipeline + ONE
    conditional aggregate + a 4-row stack — no per-stage rescans.  Scale
    shape inherits dedup_clusters' (checkpointed LSH pair graph) and
    sample_and_split's (md5) postures."""
    from mongraph_spark.queries.text import with_quality

    shingled = _shingled_corpus(spark, sf_dir, drop_last=1).persist()
    try:
        labels = _cluster_labels(shingled)
        corpus = with_quality(dup_corpus(spark, sf_dir, drop_last=1)).select(
            "doc_id", "n_tokens", "quality_bp"
        )
        member = labels.join(corpus, "doc_id")
        w = Window.partitionBy("label").orderBy(
            F.desc("n_tokens"), F.asc("doc_id")
        )
        staged = (
            member.withColumn("rk", F.row_number().over(w))
            .withColumn("s_canon", F.col("rk") == 1)
            .withColumn(
                "s_quality",
                F.col("s_canon") & (F.col("quality_bp") >= FUNNEL_Q_MIN),
            )
            .withColumn(
                "s_train",
                F.col("s_quality") & (_doc_hash() % 100 < TRAIN_PCT),
            )
        )
        agg = staged.agg(
            F.count(F.lit(1)).alias("d0"),
            F.sum("n_tokens").alias("t0"),
            F.sum(F.col("s_canon").cast("long")).alias("d1"),
            F.sum(F.when(F.col("s_canon"), F.col("n_tokens")).otherwise(0)).alias("t1"),
            F.sum(F.col("s_quality").cast("long")).alias("d2"),
            F.sum(F.when(F.col("s_quality"), F.col("n_tokens")).otherwise(0)).alias("t2"),
            F.sum(F.col("s_train").cast("long")).alias("d3"),
            F.sum(F.when(F.col("s_train"), F.col("n_tokens")).otherwise(0)).alias("t3"),
        )
        out = agg.selectExpr(
            "stack(4, 0L, 'raw', d0, t0, 1L, 'canonical', d1, t1, "
            "2L, 'quality', d2, t2, 3L, 'train', d3, t3) "
            "AS (stage_idx, stage, n_docs, n_tokens)"
        ).selectExpr(
            "stage_idx",
            "stage",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
        )
        # materialize before the persisted input is released
        rows = lineage_cut(out)
        return rows
    finally:
        shingled.unpersist()


def _oracle_curation_funnel() -> str:
    from mongraph_spark.queries.text import _STOP_SQL

    ctes, final = _oracle_cluster_ctes()
    return f"""
WITH {_oracle_corpus_droplast(1)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()},
{ctes},
qual AS (
  SELECT doc_id, n_tokens,
         CAST(floor(CASE WHEN n_tokens < 5 THEN 0 ELSE
           (least(10000, n_tokens * 100) * 5
            + least(10000, CAST(floor(10000.0 * chars_adj / (8 * n_tokens)) AS BIGINT)) * 3
            + (10000 - least(10000, CAST(floor(10000.0 * stop_hits * 5 / n_tokens) AS BIGINT))) * 2) / 10.0
         END) AS BIGINT) AS quality_bp
  FROM (
    SELECT doc_id, len(words) AS n_tokens,
           length(text) - (len(words) - 1) AS chars_adj,
           len(list_filter(words, w -> w IN ('{_STOP_SQL}'))) AS stop_hits
    FROM (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS words
          FROM corpus)
  )
),
staged AS (
  SELECT q.doc_id, q.n_tokens,
         row_number() OVER (PARTITION BY l.label
                            ORDER BY q.n_tokens DESC, q.doc_id ASC) = 1 AS s_canon,
         q.quality_bp
  FROM {final} l JOIN qual q ON l.doc_id = q.doc_id
),
flags AS (
  SELECT n_tokens, s_canon,
         s_canon AND quality_bp >= {FUNNEL_Q_MIN} AS s_quality,
         s_canon AND quality_bp >= {FUNNEL_Q_MIN}
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 < {TRAIN_PCT} AS s_train
  FROM staged
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
         count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM flags
  UNION ALL
  SELECT 1, 'canonical', CAST(sum(CASE WHEN s_canon THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN s_canon THEN n_tokens ELSE 0 END) AS BIGINT) FROM flags
  UNION ALL
  SELECT 2, 'quality', CAST(sum(CASE WHEN s_quality THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN s_quality THEN n_tokens ELSE 0 END) AS BIGINT) FROM flags
  UNION ALL
  SELECT 3, 'train', CAST(sum(CASE WHEN s_train THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN s_train THEN n_tokens ELSE 0 END) AS BIGINT) FROM flags
)
"""


ORACLE_CURATION_FUNNEL = _oracle_curation_funnel()


# -- rendezvous (HRW) sharding: consistent assignment under shard-count change -------
#
# The incremental-reshard primitive (Thaler & Ravishankar, HRW hashing):
# doc d goes to argmax_s md5(d ':' s).  When the shard count grows n → n+1,
# a doc moves IFF the new shard's hash beats all n old ones — probability
# exactly 1/(n+1) — so a reshard rewrites ~1/(n+1) of a 100 TB corpus
# instead of (n-1)/n under mod-n hashing.  The operator assigns every
# document under n=8 and n=9 and reports, per target shard, how many stayed
# vs arrived — the movement bill a real reshard would pay, with balance
# evidence riding along.
#
# Engine-deterministic: the argmax is over md5 hex strings (lexicographic
# string max, identical in both engines), resolved as a greatest() +
# first-match CASE chain — map-only per row, no explode, no shuffle until
# the final 9-group count.  Scale shape: one scan + one tiny agg; the
# assignment column itself is what a writer would partitionBy.

RV_SHARDS_OLD = 8
RV_SHARDS_NEW = 9


def _rv_shard(n: int) -> F.Column:
    hs = [
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{s}")))
        for s in range(n)
    ]
    g = F.greatest(*hs)
    expr = F.lit(None).cast("long")
    for s in range(n - 1, -1, -1):
        expr = F.when(hs[s] == g, F.lit(s).cast("long")).otherwise(expr)
    return expr


def pipeline_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    assigned = docs.select(
        "doc_id",
        _rv_shard(RV_SHARDS_OLD).alias("s_old"),
        _rv_shard(RV_SHARDS_NEW).alias("s_new"),
    )
    by_new = assigned.groupBy(F.col("s_new").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_at9"),
        F.sum((F.col("s_old") == F.col("s_new")).cast("long")).alias("stayed"),
        F.sum((F.col("s_old") != F.col("s_new")).cast("long")).alias("arrived"),
    )
    by_old = assigned.groupBy(F.col("s_old").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_at8")
    )
    return (
        by_new.join(by_old, "shard", "left")
        .select(
            "shard",
            F.coalesce(F.col("n_at8"), F.lit(0)).alias("n_at8"),
            "n_at9",
            "stayed",
            "arrived",
        )
    )


def _oracle_rendezvous() -> str:
    def shard_sql(n: int) -> str:
        hs = [f"md5(CAST(doc_id AS VARCHAR) || ':{s}')" for s in range(n)]
        g = f"greatest({', '.join(hs)})"
        cases = " ".join(f"WHEN {hs[s]} = {g} THEN {s}" for s in range(n))
        return f"CAST(CASE {cases} END AS BIGINT)"

    return f"""
WITH assigned AS (
  SELECT doc_id,
         {shard_sql(RV_SHARDS_OLD)} AS s_old,
         {shard_sql(RV_SHARDS_NEW)} AS s_new
  FROM documents
), by_new AS (
  SELECT s_new AS shard,
         CAST(count(*) AS BIGINT) AS n_at9,
         CAST(sum(CASE WHEN s_old = s_new THEN 1 ELSE 0 END) AS BIGINT) AS stayed,
         CAST(sum(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT) AS arrived
  FROM assigned GROUP BY 1
), by_old AS (
  SELECT s_old AS shard, CAST(count(*) AS BIGINT) AS n_at8 FROM assigned GROUP BY 1
)
SELECT n.shard, COALESCE(o.n_at8, 0) AS n_at8, n.n_at9, n.stayed, n.arrived
FROM by_new n LEFT JOIN by_old o ON n.shard = o.shard
"""


ORACLE_RENDEZVOUS = _oracle_rendezvous()


# -- k-anonymity report: privacy risk of a quasi-identifier release -------------------

K_ANON_K = 5
_K_ANON_LEVELS = [
    # (level label, QI columns besides the balance bin, bin width in cents)
    ("L0_nation_segment_bal100", ["nation", "segment"], 10_000),
    ("L1_nation_segment_bal1000", ["nation", "segment"], 100_000),
    ("L2_segment_bal1000", ["segment"], 100_000),
]


def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of a quasi-identifier release — the data-governance
    gate a training-data pipeline runs before publishing user-derived
    tables (Sweeney 2002: a row is re-identifiable when its QI equivalence
    class has fewer than k members).  Three rungs of a generalization
    ladder over customer quasi-identifiers (nation × segment × account-
    balance bin, then a coarser bin, then nation dropped) are audited in
    one pass each: class count, extreme class sizes, rows violating k=5
    (the rows suppression would remove), the suppression rate, and the
    discernibility metric DM = Σ|c|² over published classes + |suppressed|
    · n (Bayardo & Agrawal 2005) — the standard utility cost that lets an
    operator pick the cheapest rung that reaches k.

    Integer discipline: balance bins are trunc-division of exact cents
    (oracle sign-split to match Spark's ``div``); every metric is an
    integer count or a floored bp ratio.

    Scale shape: per rung ONE map-side-combined groupBy on low-cardinality
    QI columns followed by a |classes|-row aggregate — no joins, no
    windows; at 100 TB this is three scan-bound passes (or one shared scan
    with a grouping-sets rewrite if the ladder grows)."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    outs = []
    for label, qi, binsz in _K_ANON_LEVELS:
        classes = (
            cust.select(*qi, F.expr(f"cents div {binsz}").alias("bal_bin"))
            .groupBy(*qi, "bal_bin")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        outs.append(
            classes.agg(
                F.lit(label).alias("level"),
                F.sum("sz").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.min("sz").cast("long").alias("min_class"),
                F.max("sz").cast("long").alias("max_class"),
                F.sum((F.col("sz") < K_ANON_K).cast("long"))
                .cast("long")
                .alias("n_small_classes"),
                F.sum(F.when(F.col("sz") < K_ANON_K, F.col("sz")).otherwise(0))
                .cast("long")
                .alias("n_rows_suppressed"),
                F.sum(
                    F.when(
                        F.col("sz") >= K_ANON_K, F.col("sz") * F.col("sz")
                    ).otherwise(0)
                )
                .cast("long")
                .alias("dm_published"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "level",
        "n_rows",
        "n_classes",
        "min_class",
        "max_class",
        "n_small_classes",
        "n_rows_suppressed",
        F.expr("(10000 * n_rows_suppressed) div n_rows")
        .cast("long")
        .alias("suppression_bp"),
        (F.col("dm_published") + F.col("n_rows_suppressed") * F.col("n_rows"))
        .cast("long")
        .alias("discernibility"),
        (F.col("n_small_classes") == 0).cast("long").alias("is_k_anonymous"),
    )


def _oracle_k_anonymity() -> str:
    parts = []
    for label, qi, binsz in _K_ANON_LEVELS:
        qi_sql = ", ".join(qi)
        parts.append(
            f"""
  SELECT '{label}' AS level, sz FROM (
    SELECT count(*) AS sz FROM (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CASE WHEN cents >= 0 THEN cents // {binsz}
                  ELSE -((-cents) // {binsz}) END AS bal_bin
      FROM (SELECT *, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer)
    ) GROUP BY {qi_sql}, bal_bin
  )"""
        )
    union = " UNION ALL ".join(parts)
    return f"""
WITH classes AS ({union})
SELECT level,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(sz) AS BIGINT) AS min_class,
       CAST(max(sz) AS BIGINT) AS max_class,
       CAST(sum(CASE WHEN sz < {K_ANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_classes,
       CAST(sum(CASE WHEN sz < {K_ANON_K} THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_suppressed,
       CAST((10000 * sum(CASE WHEN sz < {K_ANON_K} THEN sz ELSE 0 END))
            // sum(sz) AS BIGINT) AS suppression_bp,
       CAST(sum(CASE WHEN sz >= {K_ANON_K} THEN sz * sz ELSE 0 END)
            + sum(CASE WHEN sz < {K_ANON_K} THEN sz ELSE 0 END) * sum(sz)
            AS BIGINT) AS discernibility,
       CAST(CASE WHEN sum(CASE WHEN sz < {K_ANON_K} THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS is_k_anonymous
FROM classes GROUP BY level
"""


ORACLE_K_ANONYMITY = _oracle_k_anonymity()


L_DIV_L = 2  # distinct-l threshold; o_orderstatus has 3 values


def pipeline_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the sensitive-attribute half the k-anonymity
    gate misses (Machanavajjhala et al. 2007): a class can hold ≥ k
    members yet still disclose, when every member shares one sensitive
    value (homogeneity attack).  The released view joins the customer
    quasi-identifiers (same generalization ladder as
    :func:`pipeline_k_anonymity`) with each customer's ORDER STATUS as
    the sensitive attribute; per rung we audit distinct-l (every class
    needs ≥ {L_DIV_L} distinct statuses), the rows in violating classes,
    and the worst-class disclosure probability — max over classes of the
    dominant status share, in floored bp (the adversary's best
    posterior; entropy-l needs log so the DISTINCT + max-share pair is
    the engine-portable audit).

    Scale shape: one customer⋈orders join (broadcast-eligible dims at
    this SF; key-partitioned at 100 TB), then per rung ONE
    (QI, status)-grouped count re-aggregated to classes — no windows, no
    per-class scans."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
    )
    release = orders.join(cust, "custkey")
    outs = []
    for label, qi, binsz in _K_ANON_LEVELS:
        qs = release.select(
            *qi, F.expr(f"cents div {binsz}").alias("bal_bin"), "status"
        )
        per_status = qs.groupBy(*qi, "bal_bin", "status").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        classes = per_status.groupBy(*qi, "bal_bin").agg(
            F.sum("cnt").alias("sz"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_cnt"),
        )
        outs.append(
            classes.agg(
                F.lit(label).alias("level"),
                F.sum("sz").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.sum((F.col("n_distinct") < L_DIV_L).cast("long"))
                .cast("long")
                .alias("n_classes_violating"),
                F.sum(
                    F.when(F.col("n_distinct") < L_DIV_L, F.col("sz")).otherwise(0)
                )
                .cast("long")
                .alias("n_rows_at_risk"),
                F.max(
                    F.expr("(10000 * max_cnt) div sz")
                )
                .cast("long")
                .alias("worst_disclosure_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "is_l_diverse", (F.col("n_classes_violating") == 0).cast("long")
    )


def _oracle_l_diversity() -> str:
    parts = []
    for label, qi, binsz in _K_ANON_LEVELS:
        qi_sql = ", ".join(qi)
        parts.append(
            f"""
  SELECT '{label}' AS level, sz, n_distinct, max_cnt FROM (
    SELECT sum(cnt) AS sz, count(*) AS n_distinct, max(cnt) AS max_cnt FROM (
      SELECT {qi_sql}, bal_bin, status, count(*) AS cnt FROM (
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CASE WHEN cents >= 0 THEN cents // {binsz}
                    ELSE -((-cents) // {binsz}) END AS bal_bin,
               o_orderstatus AS status
        FROM orders
        JOIN (SELECT *, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer) ON o_custkey = c_custkey
      ) GROUP BY {qi_sql}, bal_bin, status
    ) GROUP BY {qi_sql}, bal_bin
  )"""
        )
    union = " UNION ALL ".join(parts)
    return f"""
WITH classes AS ({union})
SELECT level,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN n_distinct < {L_DIV_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_violating,
       CAST(sum(CASE WHEN n_distinct < {L_DIV_L} THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(max((10000 * max_cnt) // sz) AS BIGINT) AS worst_disclosure_bp,
       CAST(CASE WHEN sum(CASE WHEN n_distinct < {L_DIV_L} THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS is_l_diverse
FROM classes GROUP BY level
"""


ORACLE_L_DIVERSITY = _oracle_l_diversity()


T_CLOSE_T_BP = 2000  # t = 0.20 — max allowed EMD(class, global) in basis points


def pipeline_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the release-governance ladder
    (Li, Li & Venkatasubramanian 2007): k-anonymity bounds class SIZE,
    l-diversity bounds sensitive-value VARIETY, but a class whose status
    distribution merely SKEWS far from the corpus-wide distribution still
    leaks (skewness attack: 90% 'F' in a class vs 25% globally updates the
    adversary's posterior massively even with all 3 values present).
    t-closeness requires EMD(class distribution, global distribution) ≤ t
    for every class; for an unordered categorical sensitive attribute the
    EMD with unit ground distance IS the total-variation distance
    ½·Σ_v |p_class(v) − p_global(v)|.

    Exact across engines: with cnt_v the class's status-v count, sz the
    class size, gcnt_v the global count and N the release size,
    ½·Σ|cnt_v/sz − gcnt_v/N| = Σ_v |cnt_v·N − gcnt_v·sz| / (2·sz·N) —
    an integer numerator.  Statuses ABSENT from a class contribute
    gcnt_v·sz each, folded in without a domain cross-join as
    (N − Σ_present gcnt_v)·sz.  Reported floored to bp; every comparison
    against t is on the integer bp value.  Worst case 10⁴·2·sz·N ≤
    2·10⁴·N² ≈ 4.5·10¹⁴ at sf0.1 — BIGINT-safe.

    Scale shape: the same one customer⋈orders release join as the k/l
    audits, a 3-row global-distribution broadcast onto the (QI, status)
    counts, then per rung ONE class re-aggregate — no windows, no
    per-class scans, no domain cross-join."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
    )
    release = orders.join(cust, "custkey")
    glob = release.groupBy("status").agg(F.count(F.lit(1)).alias("gcnt"))
    total = release.agg(F.count(F.lit(1)).alias("N"))
    outs = []
    for label, qi, binsz in _K_ANON_LEVELS:
        qs = release.select(
            *qi, F.expr(f"cents div {binsz}").alias("bal_bin"), "status"
        )
        per_status = (
            qs.groupBy(*qi, "bal_bin", "status")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .join(F.broadcast(glob), "status")
            .crossJoin(F.broadcast(total))
        )
        # class size / present-mass via a window PARTITIONED on the class
        # key (same shuffle the class groupBy needs anyway — no join-back)
        w = Window.partitionBy(*qi, "bal_bin")
        classes = (
            per_status.withColumn("sz", F.sum("cnt").over(w))
            .withColumn("g_present", F.sum("gcnt").over(w))
            .groupBy(*qi, "bal_bin", "sz", "g_present", "N")
            .agg(
                F.sum(
                    F.abs(F.col("cnt") * F.col("N") - F.col("gcnt") * F.col("sz"))
                ).alias("s1")
            )
            .select(
                "sz",
                F.expr(
                    "(10000 * (s1 + (N - g_present) * sz)) div (2 * sz * N)"
                ).alias("tv_bp"),
            )
        )
        outs.append(
            classes.agg(
                F.lit(label).alias("level"),
                F.sum("sz").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.max("tv_bp").cast("long").alias("worst_emd_bp"),
                F.sum((F.col("tv_bp") > T_CLOSE_T_BP).cast("long"))
                .cast("long")
                .alias("n_classes_violating"),
                F.sum(
                    F.when(F.col("tv_bp") > T_CLOSE_T_BP, F.col("sz")).otherwise(0)
                )
                .cast("long")
                .alias("n_rows_at_risk"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "is_t_close", (F.col("n_classes_violating") == 0).cast("long")
    )


def _oracle_t_closeness() -> str:
    parts = []
    for label, qi, binsz in _K_ANON_LEVELS:
        qi_sql = ", ".join(qi)
        parts.append(
            f"""
  SELECT '{label}' AS level, sz,
         (10000 * (s1 + (N - g_present) * sz)) // (2 * sz * N) AS tv_bp
  FROM (
    SELECT sz, g_present, N,
           sum(abs(cnt * N - gcnt * sz)) AS s1
    FROM (
      SELECT {qi_sql}, bal_bin, status, cnt,
             sum(cnt) OVER (PARTITION BY {qi_sql}, bal_bin) AS sz,
             sum(gcnt) OVER (PARTITION BY {qi_sql}, bal_bin) AS g_present,
             gcnt, N
      FROM (
        SELECT {qi_sql}, bal_bin, status, count(*) AS cnt FROM release
        GROUP BY {qi_sql}, bal_bin, status
      ) JOIN gdist USING (status) CROSS JOIN total
    ) GROUP BY {qi_sql}, bal_bin, sz, g_present, N
  )"""
        )
        # re-bin per rung: bal_bin differs, so each part re-derives it inline
        parts[-1] = parts[-1].replace(
            "FROM release",
            f"""FROM (
          SELECT nation, segment,
                 CASE WHEN cents >= 0 THEN cents // {binsz}
                      ELSE -((-cents) // {binsz}) END AS bal_bin,
                 status
          FROM release)""",
        )
    union = " UNION ALL ".join(parts)
    return f"""
WITH release AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         o_orderstatus AS status
  FROM orders JOIN customer ON o_custkey = c_custkey
),
gdist AS (SELECT status, count(*) AS gcnt FROM release GROUP BY status),
total AS (SELECT count(*) AS N FROM release),
classes AS ({union})
SELECT level,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(max(tv_bp) AS BIGINT) AS worst_emd_bp,
       CAST(sum(CASE WHEN tv_bp > {T_CLOSE_T_BP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_violating,
       CAST(sum(CASE WHEN tv_bp > {T_CLOSE_T_BP} THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(CASE WHEN sum(CASE WHEN tv_bp > {T_CLOSE_T_BP} THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS is_t_close
FROM classes GROUP BY level
"""


ORACLE_T_CLOSENESS = _oracle_t_closeness()


PSEUDO_SALT = "mg_release_2026_08"  # production rotates this per data release


# email-shaped PII; lowercase char classes only (the corpus is normalized
# lowercase) so both regex engines match identical spans
PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[.][a-z][a-z]+"


def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit — the compliance pass every training-data
    pipeline runs before release: find email-shaped spans, replace them
    with a fixed token, and account for every byte removed (the audit
    trail reviewers sign off on).  Completes the governance battery
    (k-anonymity / l-diversity / t-closeness / pseudonymization audit
    the QUASI-identifiers; this scrubs the DIRECT identifiers).

    The corpus has no natural emails, so the op is self-calibrating:
    deterministic email PII is INJECTED into doc_id % 10 == 2 documents
    first (``contact: user<id>@example.com``), making expected counts
    exact — a scrubber that misses spans or over-matches shifts every
    audited number.

    Exactness: match counts via regexp count/extract-all (identical
    simple-char-class spans in both engines), bytes-removed =
    length(before) − length(after) + redactions·len(token), all exact
    integers on the per-source rollup.

    Scale shape: pure per-row column expressions (regex in the JVM /
    vectorized engine, no UDF), one map-side-combined rollup — the
    cheapest possible shape for a full-corpus pass."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lower("text").alias("text")
    )
    with_pii = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 2,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.col("text")),
    )
    scrubbed = with_pii.select(
        "source",
        F.regexp_count("text", F.lit(PII_EMAIL_RE)).alias("n_hits"),
        F.length("text").alias("len_before"),
        F.length(
            F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]")
        ).alias("len_after"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_hits") > 0).cast("long")).cast("long")
            .alias("n_docs_with_pii"),
            F.sum("n_hits").cast("long").alias("n_redactions"),
            (
                F.sum(F.col("len_before") - F.col("len_after"))
                + F.sum("n_hits") * F.length(F.lit("[EMAIL]"))
            ).cast("long").alias("chars_removed"),
        )
    )


ORACLE_PII_SCRUB = f"""
WITH with_pii AS (
  SELECT source,
         CASE WHEN doc_id % 10 = 2
              THEN lower(text) || ' contact: user' || CAST(doc_id AS VARCHAR)
                   || '@example.com'
              ELSE lower(text) END AS text
  FROM documents
),
scrubbed AS (
  SELECT source,
         len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_hits,
         length(text) AS len_before,
         length(regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'))
           AS len_after
  FROM with_pii
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii,
       CAST(sum(n_hits) AS BIGINT) AS n_redactions,
       CAST(sum(len_before - len_after) + sum(n_hits) * length('[EMAIL]')
            AS BIGINT) AS chars_removed
FROM scrubbed GROUP BY source ORDER BY source
"""


def pipeline_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-token pseudonymization with a referential-integrity audit —
    the governance step between :func:`pipeline_k_anonymity` (measure the
    risk) and release: replace the linking key everywhere with a keyed
    hash token so analysts can still JOIN, but no raw identifier leaves
    the pipeline (GDPR Art. 4(5) pseudonymization; the salt rotates per
    release so tokens don't link ACROSS releases).

    The audit proves the two properties that make a pseudonymized release
    usable, per market segment: (1) referential integrity — the
    customer↔orders join cardinality through TOKENS equals the raw-key
    join exactly; (2) injectivity — distinct token count equals distinct
    key count on both sides (a token collision would silently merge two
    people; md5-128 makes one astronomically unlikely, and this CHECKS
    instead of assuming).

    Scale shape: tokenization is a map-only column expression; the audit
    is the same key-shuffled join the release's consumers will run, plus
    two map-side distinct-count aggregates.  No window, no driver work."""
    tok = "md5(concat('{salt}:', cast({key} as string)))"
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ckey"),
        F.expr(tok.format(salt=PSEUDO_SALT, key="c_custkey")).alias("ctok"),
        F.col("c_mktsegment").alias("segment"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("okey"),
        F.expr(tok.format(salt=PSEUDO_SALT, key="o_custkey")).alias("otok"),
    )
    raw = (
        cust.join(orders, cust["ckey"] == orders["okey"])
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders_raw_join"))
    )
    via_tok = (
        cust.join(orders, cust["ctok"] == orders["otok"])
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders_token_join"))
    )
    inj = (
        cust.agg(
            F.countDistinct("ckey").cast("long").alias("n_keys"),
            F.countDistinct("ctok").cast("long").alias("n_tokens"),
        )
        .crossJoin(
            orders.agg(
                F.countDistinct("okey").cast("long").alias("n_order_keys"),
                F.countDistinct("otok").cast("long").alias("n_order_tokens"),
            )
        )
        .select(
            "n_keys",
            "n_tokens",
            (
                (F.col("n_keys") == F.col("n_tokens"))
                & (F.col("n_order_keys") == F.col("n_order_tokens"))
            )
            .cast("long")
            .alias("collision_free"),
        )
    )
    per_seg = cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    return (
        per_seg.join(raw, "segment")
        .join(via_tok, "segment")
        .crossJoin(F.broadcast(inj))
        .select(
            "segment",
            "n_customers",
            "n_orders_raw_join",
            "n_orders_token_join",
            (F.col("n_orders_raw_join") == F.col("n_orders_token_join"))
            .cast("long")
            .alias("joins_equal"),
            "n_keys",
            "n_tokens",
            "collision_free",
        )
    )


ORACLE_PSEUDONYMIZE = f"""
WITH cust AS (
  SELECT c_custkey AS ckey,
         md5('{PSEUDO_SALT}:' || CAST(c_custkey AS VARCHAR)) AS ctok,
         c_mktsegment AS segment
  FROM customer
),
ords AS (
  SELECT o_custkey AS okey,
         md5('{PSEUDO_SALT}:' || CAST(o_custkey AS VARCHAR)) AS otok
  FROM orders
),
raw AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n_orders_raw_join
  FROM cust JOIN ords ON ckey = okey GROUP BY segment
),
via_tok AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n_orders_token_join
  FROM cust JOIN ords ON ctok = otok GROUP BY segment
),
inj AS (
  SELECT (SELECT CAST(count(DISTINCT ckey) AS BIGINT) FROM cust) AS n_keys,
         (SELECT CAST(count(DISTINCT ctok) AS BIGINT) FROM cust) AS n_tokens,
         (SELECT CAST(count(DISTINCT okey) AS BIGINT) FROM ords) AS n_order_keys,
         (SELECT CAST(count(DISTINCT otok) AS BIGINT) FROM ords) AS n_order_tokens
),
per_seg AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n_customers FROM cust GROUP BY segment
)
SELECT p.segment, p.n_customers, r.n_orders_raw_join, v.n_orders_token_join,
       CAST(r.n_orders_raw_join = v.n_orders_token_join AS BIGINT) AS joins_equal,
       i.n_keys, i.n_tokens,
       CAST(i.n_keys = i.n_tokens AND i.n_order_keys = i.n_order_tokens AS BIGINT)
         AS collision_free
FROM per_seg p JOIN raw r USING (segment) JOIN via_tok v USING (segment)
CROSS JOIN inj i
"""


def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (lang × source) — THE multilingual
    tokenizer-quality metric (subword units per whitespace word; a
    tokenizer trained on English typically shows 2-3× fertility on
    under-represented scripts, which silently inflates those languages'
    compute cost and truncation rate): for every cell, document count,
    byte mass, whitespace-word count, the corpus's BPE-ish subword
    estimate (``ceil(len(word)/4)`` — the same unit text_token_counts
    reports per-document), and the derived ratios on the ppm grid —
    fertility = subwords/word and bytes/subword (the compression-rate
    read).  Integer-exact end to end: counts are BIGINTs, ratios are
    floored cross-multiplications, no float crosses the engines.

    Scale shape: one map-only pass computes per-document counts inside
    higher-order functions (no explode — a 10k-word doc contributes ONE
    row to the shuffle, not 10k), then one map-side-combined aggregate
    over |lang × source| cells."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    n_words = F.size(words)
    n_subwords = F.aggregate(
        F.transform(
            words, lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per_doc = docs.select(
        "lang",
        "source",
        F.octet_length("text").cast("long").alias("n_bytes"),
        n_words.cast("long").alias("n_words"),
        n_subwords.alias("n_subwords"),
    )
    agg = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_subwords").cast("long").alias("total_subwords"),
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "total_bytes",
        "total_words",
        "total_subwords",
        # integer `div`, never a double division: the ppm numerators pass
        # 2^53 long before BIGINT overflows at corpus scale
        F.expr("total_subwords * 1000000 div total_words").alias("fertility_ppm"),
        F.expr("total_bytes * 1000000 div total_subwords").alias(
            "bytes_per_subword_ppm"
        ),
    )


ORACLE_TOKENIZER_FERTILITY = """
WITH per_doc AS (
  SELECT lang, source,
         CAST(strlen(text) AS BIGINT) AS n_bytes,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
                  w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
           AS n_subwords
  FROM documents
),
agg AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         CAST(sum(n_words) AS BIGINT) AS total_words,
         CAST(sum(n_subwords) AS BIGINT) AS total_subwords
  FROM per_doc GROUP BY 1, 2
)
SELECT lang, source, n_docs, total_bytes, total_words, total_subwords,
       CAST(total_subwords * 1000000 // total_words AS BIGINT) AS fertility_ppm,
       CAST(total_bytes * 1000000 // total_subwords AS BIGINT)
         AS bytes_per_subword_ppm
FROM agg
"""


# -- Stratified k-fold split --------------------------------------------------------

KFOLD_K = 5


def pipeline_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment over the corpus — the eval-split
    primitive behind cross-validation and held-out decontamination
    checks: every (lang × source) stratum is spread across all K folds
    so each fold is a miniature of the corpus (a plain hash split leaves
    small strata entirely inside one fold, biasing per-language evals).

    Determinism: within each stratum, docs are ordered by
    md5('fold:' || doc_id) (the registry's seedless-shuffle idiom) and
    fold = (rank − 1) mod K — reproducible anywhere, no seed table, and
    per-stratum fold sizes differ by ≤ 1 BY CONSTRUCTION (round-robin
    over a total order), which the audit columns surface.

    Scale shape: one rank window per stratum (stratum-partitioned — at
    100 TB thousands of independent strata, no global pass) and one
    map-side-combined audit rollup; the fold stamp itself would be
    written out as a column, never shuffled again."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    key = F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang", "source").orderBy(key, "doc_id")
    assigned = docs.withColumn(
        "fold", ((F.row_number().over(w) - 1) % KFOLD_K).cast("int")
    )
    return (
        assigned.groupBy("fold", "lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn(
            "stratum_total",
            F.sum("n_docs").over(Window.partitionBy("lang", "source")).cast("long"),
        )
        .selectExpr(
            "fold",
            "lang",
            "source",
            "n_docs",
            "stratum_total",
            "CAST((1000000 * n_docs) div stratum_total AS BIGINT) AS share_ppm",
        )
    )


ORACLE_STRATIFIED_KFOLD = f"""
WITH assigned AS (
  SELECT lang, source,
         CAST((row_number() OVER (
             PARTITION BY lang, source
             ORDER BY md5('fold:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1) % {KFOLD_K} AS INT) AS fold
  FROM documents
),
agg AS (
  SELECT fold, lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM assigned GROUP BY 1, 2, 3
)
SELECT fold, lang, source, n_docs,
       CAST(sum(n_docs) OVER (PARTITION BY lang, source) AS BIGINT)
         AS stratum_total,
       CAST((1000000 * n_docs)
            // sum(n_docs) OVER (PARTITION BY lang, source) AS BIGINT)
         AS share_ppm
FROM agg
"""


QUERIES = {
    "pipeline_stratified_kfold": pipeline_stratified_kfold,
    "pipeline_k_anonymity": pipeline_k_anonymity,
    "pipeline_tokenizer_fertility": pipeline_tokenizer_fertility,
    "pipeline_l_diversity": pipeline_l_diversity,
    "pipeline_t_closeness": pipeline_t_closeness,
    "pipeline_pseudonymize": pipeline_pseudonymize,
    "pipeline_pii_scrub": pipeline_pii_scrub,
    "pipeline_rendezvous_shards": pipeline_rendezvous_shards,
    "pipeline_curation_funnel": pipeline_curation_funnel,
    "pipeline_length_matching": pipeline_length_matching,
    "pipeline_length_batches": pipeline_length_batches,
    "dedup_clusters": dedup_clusters,
    "corpus_cluster_split": corpus_cluster_split,
    "sample_and_split": sample_and_split,
    # cluster_stats + keep_best ride the merged dedup_clusters row;
    # sample_stratified + train_split_assign ride sample_and_split

    "embedding_quantize_int8": embedding_quantize_int8,
    "pipeline_pack_chunks": pipeline_pack_chunks,
    "pipeline_source_cap": pipeline_source_cap,
    "pipeline_training_order": pipeline_training_order,
    "pipeline_chunk_overlap": pipeline_chunk_overlap,
    "pipeline_dataset_card": pipeline_dataset_card,
    "pipeline_weighted_sample": pipeline_weighted_sample,
    "pipeline_score_calibration": pipeline_score_calibration,
    "pipeline_epoch_shuffle": pipeline_epoch_shuffle,
}

ORACLES = {
    "pipeline_stratified_kfold": ORACLE_STRATIFIED_KFOLD,
    "pipeline_k_anonymity": ORACLE_K_ANONYMITY,
    "pipeline_tokenizer_fertility": ORACLE_TOKENIZER_FERTILITY,
    "pipeline_l_diversity": ORACLE_L_DIVERSITY,
    "pipeline_t_closeness": ORACLE_T_CLOSENESS,
    "pipeline_pseudonymize": ORACLE_PSEUDONYMIZE,
    "pipeline_pii_scrub": ORACLE_PII_SCRUB,
    "pipeline_rendezvous_shards": ORACLE_RENDEZVOUS,
    "pipeline_length_batches": ORACLE_LENGTH_BATCHES,
    "pipeline_length_matching": ORACLE_LENGTH_MATCHING,
    "pipeline_curation_funnel": ORACLE_CURATION_FUNNEL,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "corpus_cluster_split": ORACLE_CLUSTER_SPLIT,
    "sample_and_split": ORACLE_SAMPLE_SPLIT,

    "embedding_quantize_int8": ORACLE_QUANTIZE,
    "pipeline_pack_chunks": ORACLE_PACK_CHUNKS,
    "pipeline_source_cap": ORACLE_SOURCE_CAP,
    "pipeline_training_order": ORACLE_TRAINING_ORDER,
    "pipeline_chunk_overlap": ORACLE_CHUNK_OVERLAP,
    "pipeline_dataset_card": ORACLE_DATASET_CARD,
    "pipeline_weighted_sample": ORACLE_WSAMPLE,
    "pipeline_score_calibration": ORACLE_CALIBRATION,
    "pipeline_epoch_shuffle": ORACLE_EPOCH_SHUFFLE,
}
