"""Full-text relevance search over the ``documents`` table: BM25 top-k.

The classic inverted-index scorer re-expressed as two scan-level passes —
no inverted index is materialized because at corpus scale the index IS a
(term, doc) shuffle, and for a bounded query-term set the tf counts are
computable map-side per document:

1. ``tf`` projection: one narrow map-only pass computing per-doc term
   frequencies for the fixed query terms (``F.filter`` over the token
   array — no explode, so no (term, doc) shuffle exists anywhere).
2. corpus stats: ONE single-row aggregate (N, total tokens, per-term
   document frequencies) from that projection, broadcast back with a 1×1
   cross join.
3. scoring: map-only BM25 over the same projection + broadcast stats;
   global top-k via orderBy+limit, which Spark executes as
   TakeOrderedAndProject (per-partition heaps merged on the driver — never
   a global sort).

The narrow tf projection is eagerly cut (``lineage_cut``) so passes 2 and 3
share one corpus scan instead of re-reading the text column twice — the
same narrow-table checkpoint trade the simhash/fingerprint suites measure
in COVERAGE.md; the checkpointed table is (k+2) integers per doc, ~1e-4 of
corpus bytes.

Determinism note: IDF uses the Robertson–Sparck-Jones *rational* form
without the log — ``(N - df + 0.5) / (df + 0.5)`` — because both engines'
IEEE double add/mul/div are bit-deterministic while libm ``ln`` is not
guaranteed correctly rounded; the ranking is order-equivalent for a fixed
query (log is monotone) and the value hash stays engine-stable.  Per-term
contributions are summed in fixed query-term order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark.sparkutil import lineage_cut, read_table, scale_out

QUERY_TERMS = ["scan", "merge", "window", "shuffle"]
BM25_K1 = 1.2
BM25_B = 0.75
TOP_K = 25


def _tf_projection(docs: DataFrame) -> DataFrame:
    # SQL lambdas with unique variable names, NOT sibling Python lambdas:
    # PySpark 4.1 resolves same-arity Python lambdas in one projection to a
    # single body (see tests/test_spark_pitfalls.py)
    cols = [
        F.col("doc_id"),
        F.size(F.col("words")).cast("long").alias("dl"),
    ]
    for i, term in enumerate(QUERY_TERMS):
        cols.append(
            F.expr(
                f"cast(size(filter(words, w{i} -> w{i} = '{term}')) as long)"
            ).alias(f"tf_{i}")
        )
    return docs.withColumn(
        "words", F.split(F.lower(F.col("text")), r"\s+")
    ).select(*cols)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    tf = lineage_cut(_tf_projection(docs))
    stats_aggs = [
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    ]
    for i in range(len(QUERY_TERMS)):
        stats_aggs.append(
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).cast("double").alias(f"df_{i}")
        )
    stats = tf.agg(*stats_aggs)
    scored = tf.crossJoin(F.broadcast(stats))
    # fixed-order sum of per-term BM25 contributions (rational IDF, see module doc)
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
    )
    score = F.lit(0.0)
    for i in range(len(QUERY_TERMS)):
        idf = (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        tf_i = F.col(f"tf_{i}").cast("double")
        score = score + idf * (tf_i * (BM25_K1 + 1.0)) / (tf_i + norm)
    return (
        scored.select(
            "doc_id",
            F.floor(F.lit(10000.0) * score).cast("long").alias("score_bp"),
        )
        .orderBy(F.desc("score_bp"), F.asc("doc_id"))
        .limit(TOP_K)
    )


def _oracle_bm25() -> str:
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(words, w -> w = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(QUERY_TERMS)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(QUERY_TERMS))
    )
    score_terms = " + ".join(
        f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * {BM25_K1 + 1.0})"
        f" / (CAST(tf_{i} AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / (sum_dl / n_docs)))"
        for i in range(len(QUERY_TERMS))
    )
    return f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words FROM documents)
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) AS sum_dl,
         {df_cols}
  FROM tf
)
SELECT doc_id,
       CAST(floor(10000.0 * (0.0 + {score_terms})) AS BIGINT) AS score_bp
FROM tf CROSS JOIN stats
ORDER BY score_bp DESC, doc_id ASC
LIMIT {TOP_K}
"""


ORACLE_BM25 = _oracle_bm25()


# -- TF-IDF top terms: the inverted-index shuffle, bounded per doc ----------------

TFIDF_TOP = 3


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF — the full inverted-index pattern
    (BM25 above deliberately avoids it for a FIXED query-term set; this is
    the open-vocabulary case where the (term, doc) shuffle is the point).

    Distributed shape: explode tokens → ONE (doc, term) combiner-friendly
    count → per-term document frequencies (vocabulary-sized, broadcast here;
    at 100 TB vocabulary outgrows broadcast and this becomes a term-keyed
    sort-merge join — same plan minus the hint) → per-doc top-3 via one
    window keyed on doc_id.  IDF is the Robertson rational form
    (N − df + 0.5)/(df + 0.5): add/mul/div are IEEE-deterministic where
    libm ``ln`` is not, and the ranking is order-equivalent."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    )
    tf = tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.floor(
                F.lit(10000.0)
                * F.col("tf").cast("double")
                * (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            .cast("long")
            .alias("score_bp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_bp"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP)
        .select("doc_id", F.col("rk").cast("long"), "term", "tf", "score_bp")
    )


ORACLE_TFIDF = f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
), scored AS (
  SELECT doc_id, term, tf,
         CAST(floor(10000.0 * CAST(tf AS DOUBLE)
                    * ((SELECT CAST(count(*) AS DOUBLE) FROM documents) - df + 0.5)
                    / (df + 0.5)) AS BIGINT) AS score_bp
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, rk, term, tf, score_bp FROM (
  SELECT doc_id, term, tf, score_bp,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score_bp DESC, term ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOP}
"""


# -- Hybrid retrieval: lexical ⊕ dense branches fused with RRF --------------------
#
# The RAG-standard retrieval primitive (Elasticsearch/Vespa "hybrid query"):
# for each anchor document, retrieve similar documents by
#   (a) LEXICAL more-like-this — the anchor's top-3 TF-IDF terms scored
#       against the corpus with rational-IDF BM25 (same constants and
#       determinism contract as text_bm25_topk above), and
#   (b) DENSE cosine over the embeddings table (same fixed-order float64
#       dot product as the ann_* suite),
# then fuse the two top-L candidate lists with reciprocal-rank fusion:
# rrf(c) = Σ_branch 1/(K + rank_branch(c)), a rank-only combiner that needs
# no score normalization across branches (Cormack et al., SIGIR 2009).
#
# Engine determinism: per-term BM25 contributions are floored to integer
# basis points BEFORE the per-(q,c) sum (integer addition is order-free,
# where a grouped double sum is not), cosine is floored to bp as in the
# ann_* suite, and RRF is computed as floor(1e9/(K+rank)) integer parts-
# per-billion — every ranking key is an exact integer in both engines.
#
# Scale shape: each branch is the established bounded-retrieval plan (one
# explode+combine tf pass / one broadcast-query scoring pass, per-anchor
# top-L via window or TakeOrdered); fusion then touches only
# N_anchors × 2L rows — independent of corpus size, so the fuse stage is
# a broadcast-sized full-outer join at any scale.

RRF_K = 60
RRF_SCALE = 1_000_000_000
HY_ANCHORS = 5  # anchors: the N smallest doc_ids (1:1 with vec_ids)
HY_TERMS = 3  # lexical query terms per anchor (its top TF-IDF terms)
HY_L = 50  # per-branch retrieval depth
HY_TOP = 10  # fused results kept per anchor


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    emb = read_table(spark, sf_dir, "embeddings")
    # candidate universe: ids present in BOTH stores (id-keyed equijoin —
    # co-partitioned at scale, never broadcast: embeddings are corpus-sized)
    uni = docs.join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id").select(
        "doc_id", "text"
    )

    # ---- lexical branch: tf/df over the universe, anchor top-terms, BM25 ----
    tf = (
        uni.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .transform(lineage_cut)  # shared by dl, df, anchor terms, scoring
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    stats = uni.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).crossJoin(
        dl.agg(F.sum("dl").cast("double").alias("sum_dl"))
    )

    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    anchor_terms = (
        tf.filter(F.col("doc_id") < HY_ANCHORS)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("doc_id").alias("q_id"),
            "term",
            F.floor(F.lit(10000.0) * F.col("tf").cast("double") * idf)
            .cast("long")
            .alias("tscore_bp"),
        )
    )
    w_at = Window.partitionBy("q_id").orderBy(F.desc("tscore_bp"), F.asc("term"))
    anchor_terms = (
        anchor_terms.withColumn("a_rk", F.row_number().over(w_at))
        .filter(F.col("a_rk") <= HY_TERMS)
        .select("q_id", "term")
    )

    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / (F.col("sum_dl") / F.col("n_docs"))
    )
    contrib = (
        F.lit(10000.0)
        * ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0))
        / (F.col("tf").cast("double") + norm)
    )
    lex_scored = (
        tf.join(F.broadcast(anchor_terms), "term")  # anchor term set: ≤ N×3 rows
        .filter(F.col("doc_id") != F.col("q_id"))
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq.join(F.broadcast(anchor_terms.select("term").distinct()), "term")), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "q_id",
            F.col("doc_id").alias("c_id"),
            F.floor(contrib).cast("long").alias("contrib_bp"),
        )
        .groupBy("q_id", "c_id")
        .agg(F.sum("contrib_bp").alias("lex_bp"))
    )
    w_lex = Window.partitionBy("q_id").orderBy(F.desc("lex_bp"), F.asc("c_id"))
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))
        .filter(F.col("lex_rank") <= HY_L)
        .select("q_id", "c_id", "lex_rank")
    )

    # ---- dense branch: fixed-order float64 cosine, broadcast anchors ----
    # per-side sqrt-norms hoisted out of the K·N pair stage (the
    # _semdedup_finish pattern) — bit-identical doubles either way
    cn = F.expr(
        "aggregate(transform(c_vec, xc -> xc * xc), CAST(0.0 AS DOUBLE), (accc, vc) -> accc + vc)"
    )
    qn = F.expr(
        "aggregate(transform(q_vec, xq -> xq * xq), CAST(0.0 AS DOUBLE), (accq, vq) -> accq + vq)"
    )
    corpus = (
        emb.join(uni.select(F.col("doc_id").alias("vec_id")), "vec_id")
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").cast("array<double>").alias("c_vec"),
        )
        .withColumn("c_sn", F.sqrt(cn))
    )
    queries = (
        emb.filter(F.col("vec_id") < HY_ANCHORS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("q_vec"),
        )
        .withColumn("q_sn", F.sqrt(qn))
    )
    dot = F.expr(
        "aggregate(zip_with(q_vec, c_vec, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    dense_scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.floor(F.lit(10000) * dot / (F.col("q_sn") * F.col("c_sn")))
            .cast("long")
            .alias("cos_bp"),
        )
    )
    w_den = Window.partitionBy("q_id").orderBy(F.desc("cos_bp"), F.asc("c_id"))
    dense = (
        dense_scored.withColumn("dense_rank", F.row_number().over(w_den).cast("long"))
        .filter(F.col("dense_rank") <= HY_L)
        .select("q_id", "c_id", "dense_rank")
    )

    # ---- RRF fusion over the N×2L candidate rows (corpus-size-independent) ----
    fused = (
        lex.join(dense, ["q_id", "c_id"], "full_outer")
        .select(
            "q_id",
            "c_id",
            F.coalesce(F.col("lex_rank"), F.lit(-1)).alias("lex_rank"),
            F.coalesce(F.col("dense_rank"), F.lit(-1)).alias("dense_rank"),
            (
                F.coalesce(
                    F.floor(F.lit(RRF_SCALE) / (F.lit(RRF_K) + F.col("lex_rank"))),
                    F.lit(0),
                )
                + F.coalesce(
                    F.floor(F.lit(RRF_SCALE) / (F.lit(RRF_K) + F.col("dense_rank"))),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("rrf_ppb"),
        )
    )
    w_f = Window.partitionBy("q_id").orderBy(F.desc("rrf_ppb"), F.asc("c_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rank") <= HY_TOP)
        .select("q_id", "c_id", "lex_rank", "dense_rank", "rrf_ppb", "fused_rank")
    )


ORACLE_HYBRID_RRF = f"""
WITH uni AS (
  SELECT d.doc_id, d.text FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term FROM uni
  ) GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
), dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         (SELECT CAST(sum(dl) AS DOUBLE) FROM dl) AS sum_dl
  FROM uni
), anchor_terms AS (
  SELECT q_id, term FROM (
    SELECT tf.doc_id AS q_id, tf.term,
           CAST(floor(10000.0 * CAST(tf.tf AS DOUBLE)
                      * ((s.n_docs - f.df + 0.5) / (f.df + 0.5))) AS BIGINT) AS tscore_bp,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY floor(10000.0 * CAST(tf.tf AS DOUBLE)
                                             * ((s.n_docs - f.df + 0.5) / (f.df + 0.5))) DESC,
                                       tf.term ASC) AS a_rk
    FROM tf JOIN dfreq f USING (term) CROSS JOIN stats s
    WHERE tf.doc_id < {HY_ANCHORS}
  ) WHERE a_rk <= {HY_TERMS}
), lex_scored AS (
  SELECT a.q_id, tf.doc_id AS c_id,
         CAST(sum(CAST(floor(
           10000.0
           * ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0})
           / (CAST(tf.tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B}
              + {BM25_B} * CAST(dl.dl AS DOUBLE) / (s.sum_dl / s.n_docs)))
         ) AS BIGINT)) AS BIGINT) AS lex_bp
  FROM tf
  JOIN anchor_terms a USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq f ON f.term = tf.term
  CROSS JOIN stats s
  WHERE tf.doc_id <> a.q_id
  GROUP BY 1, 2
), lex AS (
  SELECT q_id, c_id, lex_rank FROM (
    SELECT q_id, c_id,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY lex_bp DESC, c_id ASC) AS BIGINT) AS lex_rank
    FROM lex_scored
  ) WHERE lex_rank <= {HY_L}
), dense_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         CAST(floor(10000 * list_sum(list_transform(range(1, len(q.q_vec) + 1),
                                                    i -> q.q_vec[i] * c.c_vec[i]))
           / (sqrt(list_sum(list_transform(q.q_vec, x -> x * x)))
              * sqrt(list_sum(list_transform(c.c_vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS q_vec
        FROM embeddings WHERE vec_id < {HY_ANCHORS}) q
  JOIN (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS c_vec
        FROM embeddings e JOIN uni u ON e.vec_id = u.doc_id) c
    ON q.vec_id <> c.vec_id
), dense AS (
  SELECT q_id, c_id, dense_rank FROM (
    SELECT q_id, c_id,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_bp DESC, c_id ASC) AS BIGINT) AS dense_rank
    FROM dense_scored
  ) WHERE dense_rank <= {HY_L}
), fused AS (
  SELECT COALESCE(l.q_id, d.q_id) AS q_id,
         COALESCE(l.c_id, d.c_id) AS c_id,
         COALESCE(l.lex_rank, -1) AS lex_rank,
         COALESCE(d.dense_rank, -1) AS dense_rank,
         CAST(COALESCE(CAST(floor({RRF_SCALE} / ({RRF_K} + l.lex_rank)) AS BIGINT), 0)
            + COALESCE(CAST(floor({RRF_SCALE} / ({RRF_K} + d.dense_rank)) AS BIGINT), 0)
           AS BIGINT) AS rrf_ppb
  FROM lex l FULL OUTER JOIN dense d ON l.q_id = d.q_id AND l.c_id = d.c_id
)
SELECT q_id, c_id, lex_rank, dense_rank, rrf_ppb, fused_rank FROM (
  SELECT q_id, c_id, lex_rank, dense_rank, rrf_ppb,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY rrf_ppb DESC, c_id ASC) AS BIGINT) AS fused_rank
  FROM fused
) WHERE fused_rank <= {HY_TOP}
"""


QUERIES = {
    "text_bm25_topk": text_bm25_topk,
    "text_tfidf_topterms": text_tfidf_topterms,
    "search_hybrid_rrf": search_hybrid_rrf,
}

ORACLES = {
    "text_bm25_topk": ORACLE_BM25,
    "text_tfidf_topterms": ORACLE_TFIDF,
    "search_hybrid_rrf": ORACLE_HYBRID_RRF,
}
