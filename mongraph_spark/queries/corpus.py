"""Corpus-hygiene operators for training-data builds: test-set
decontamination, repetition filtering, and source-mixture rebalancing.

These complete the pipeline story (dedup -> quality -> decontaminate ->
rebalance -> split -> export) with the three checks every large-scale
pretraining pipeline runs:

- **decontaminate_splits** — the n-gram-overlap decontamination used for
  held-out/eval hygiene: a test document is contaminated if it shares ANY
  word shingle with any train document.  Distributed shape: explode
  distinct shingles per doc, ONE shuffle keyed on the shingle, a semi-join
  of test shingles against the distinct train-shingle set, then per-doc /
  per-lang rollups.  Shingle keys are near-uniform text n-grams; at 100 TB
  you'd hash them to 64-bit first (smaller shuffle rows) and bloom-filter
  the probe side — both noted inline, neither changes the semantics.
- **repetition_filter** — Gopher-style intra-document repetition metrics:
  top-2-gram frequency fraction and distinct-token ratio, flagging docs
  that are mostly repeated content.  The gram count is a combiner-friendly
  (doc, gram) aggregation (partial aggs absorb the skew of repetitive
  docs), followed by a per-doc max — no windows over the exploded table.
- **source_mixture_weights** — per-source token counts and the resampling
  weight that would equalize the token mixture across sources (weight =
  uniform-share / actual-share).  One aggregation + a broadcast 1-row
  total: the scalar-subquery plan at any scale.

All three are pure built-in-function column pipelines (no Python UDFs) and
all three carry exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark.queries.dedup import _shingles
from mongraph_spark.queries.pipeline import TRAIN_PCT, VAL_PCT, _doc_hash
from mongraph_spark.sparkutil import const_part, lineage_cut, read_table, scale_out

TEST_LO = TRAIN_PCT + VAL_PCT  # md5 bucket >= 90 -> test split


def _labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    return docs.withColumn("bucket", _doc_hash() % 100)


def decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language contamination report: of the test-split documents, how
    many share at least one 5-word shingle with any train-split document.
    (Production decontamination uses 13-grams; the synthetic docs are short,
    so the shingle width is 5 — the plan is identical.)"""
    labeled = _labeled_docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    sh = labeled.select(
        "doc_id", "bucket", F.explode(_shingles(words, n=5)).alias("shingle")
    )
    # at 100 TB: .select(F.xxhash64("shingle")) here to shrink shuffle rows,
    # and let AQE build a bloom filter from the train side
    train_sh = sh.filter(F.col("bucket") < TRAIN_PCT).select("shingle").distinct()
    hits = (
        sh.filter(F.col("bucket") >= TEST_LO)
        .join(train_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        labeled.filter(F.col("bucket") >= TEST_LO)
        .join(hits, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(F.coalesce("contaminated", F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
    )


ORACLE_DECONTAMINATE = f"""
WITH labeled AS (
  SELECT doc_id, lang, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
  FROM documents
), sh AS (
  SELECT doc_id, b,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(words) - 5, 0) + 2),
           i -> array_to_string(words[i:i+4], ' ')
         ))) AS shingle
  FROM (SELECT doc_id, b, string_split(text, ' ') AS words FROM labeled)
), train_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE b < {TRAIN_PCT}
), hits AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN train_sh t USING (shingle)
  WHERE s.b >= {TEST_LO}
)
SELECT lang, count(*) AS n_test_docs,
       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated
FROM labeled l LEFT JOIN hits h ON l.doc_id = h.doc_id
WHERE l.b >= {TEST_LO}
GROUP BY lang
"""


# -- Gopher-style repetition metrics ---------------------------------------------

TOP_GRAM_FRAC_MAX = 0.1  # flag if one 2-gram is >10% of all 2-grams
DISTINCT_RATIO_MIN = 0.5  # flag if <50% of tokens are distinct


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language repetition report: docs whose top 2-gram fraction or
    distinct-token ratio crosses the Gopher-style thresholds."""
    docs = _labeled_docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        "lang",
        words.alias("words"),
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    # 2-grams as zip(words[:-1], words[1:]) — structurally empty for 1-token
    # docs, no index arithmetic to guard
    two_grams = F.zip_with(
        F.slice(F.col("words"), 1, F.col("n_tokens") - 1),
        F.slice(F.col("words"), 2, F.col("n_tokens") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = base.select("doc_id", F.explode(two_grams).alias("gram"))
    per_doc = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_grams"))
    )
    flagged = (
        F.col("top_cnt") / F.col("n_grams") > TOP_GRAM_FRAC_MAX
    ) | (F.col("n_distinct") / F.col("n_tokens") < DISTINCT_RATIO_MIN)
    return (
        base.join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
            F.round(F.avg(F.col("n_distinct") / F.col("n_tokens")), 3).alias(
                "avg_distinct_ratio"
            ),
        )
    )


ORACLE_REPETITION = f"""
WITH base AS (
  SELECT doc_id, lang, words, len(words) AS n_tokens,
         len(list_distinct(words)) AS n_distinct
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
), grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(words), 1)),
           i -> array_to_string(words[i:i+1], ' ')
         )) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
), per_doc AS (
  SELECT doc_id, max(cnt) AS top_cnt, CAST(sum(cnt) AS BIGINT) AS n_grams
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2)
  GROUP BY 1
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN (CAST(top_cnt AS DOUBLE) / n_grams > {TOP_GRAM_FRAC_MAX})
                       OR (CAST(n_distinct AS DOUBLE) / n_tokens < {DISTINCT_RATIO_MIN})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(avg(CAST(n_distinct AS DOUBLE) / n_tokens), 3) AS avg_distinct_ratio
FROM base LEFT JOIN per_doc USING (doc_id)
GROUP BY lang
"""


# -- source mixture rebalancing ---------------------------------------------------


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counts + the resampling weight that would equalize
    the token mixture across sources: weight = (total/n_sources)/n_tokens."""
    docs = read_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    totals = stats.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return stats.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("total_tokens")
            / F.col("n_sources")
            / F.col("n_tokens"),
            4,
        ).alias("weight"),
    )


ORACLE_MIXTURE = """
WITH stats AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
), totals AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, count(*) AS n_sources
  FROM stats
)
SELECT source, n_docs, n_tokens,
       round(CAST(total_tokens AS DOUBLE) / n_sources / n_tokens, 4) AS weight
FROM stats, totals
"""


# -- pairwise source-overlap matrix (cross-source contamination map) ---------------


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between sources: for every source pair, how
    many distinct 5-word shingles they share, plus the Jaccard in basis
    points — the cross-source contamination map that decides whether two
    crawls are independent enough to mix, and the corpus-level twin of the
    per-document near-dup checks.

    Distributed shape: ONE shuffle keyed on the shingle builds the
    shingle → distinct-source inverted list; pairs explode per shingle
    bounded by |sources|² (a handful), never by corpus size; per-source
    distinct totals ride the same shingled scan.  At 100 TB hash shingles
    to 64-bit first (noted in decontaminate_splits too)."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    sh = docs.select(
        "source", F.explode(_shingles(words, n=5)).alias("shingle")
    ).distinct()
    per_source = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    # shingle -> sorted distinct sources; emit each unordered pair once
    inv = sh.groupBy("shingle").agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    pairs = inv.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("srcs"),
                        lambda a: F.transform(
                            F.col("srcs"), lambda b: F.struct(a.alias("sa"), b.alias("sb"))
                        ),
                    )
                ),
                lambda p: p["sa"] < p["sb"],
            )
        ).alias("p")
    ).select(F.col("p.sa").alias("source_a"), F.col("p.sb").alias("source_b"))
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_grams")
    )
    ga = per_source.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    gb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        shared.join(F.broadcast(ga), "source_a")
        .join(F.broadcast(gb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_grams",
            F.floor(
                F.lit(10000)
                * F.col("n_shared_grams")
                / (F.col("grams_a") + F.col("grams_b") - F.col("n_shared_grams"))
            ).cast("long").alias("jaccard_bp"),
        )
    )


ORACLE_SOURCE_OVERLAP = """
WITH sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source,
           unnest(list_distinct(list_transform(
             range(1, greatest(len(words) - 5, 0) + 2),
             i -> array_to_string(words[i:i+4], ' ')
           ))) AS shingle
    FROM (SELECT source, string_split(text, ' ') AS words FROM documents)
  )
), per_source AS (
  SELECT source, count(*) AS n_grams FROM sh GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_grams
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(n_shared_grams AS BIGINT) AS n_shared_grams,
       CAST(floor(10000.0 * n_shared_grams
                  / (ga.n_grams + gb.n_grams - n_shared_grams)) AS BIGINT)
         AS jaccard_bp
FROM shared
JOIN per_source ga ON ga.source = source_a
JOIN per_source gb ON gb.source = source_b
"""


def common_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring without the cross-engine log(): per doc,
    the mean corpus frequency of its tokens ("commonness", the integer-safe
    stand-in for unigram perplexity — gibberish/noise docs score low, they
    are full of corpus-rare tokens) and the hapax count (tokens occurring
    exactly once corpus-wide, the classic OCR/mojibake tell).  CCNet-style
    pipelines drop the bottom tail of exactly this ranking before training.

    Distributed shape: ONE token-keyed shuffle to build the vocabulary
    count table, then the doc-token table joins it on the token key (at
    100 TB: hash tokens to 64-bit first to shrink shuffle rows; the vocab
    side is Zipf-skewed but the join key is the token itself, so AQE's
    skew split handles the hot stopword partitions), one per-doc re-agg,
    and a broadcast 1-row total.  Score arithmetic is the same
    double-evaluation shape in both engines (1e9 * sum / (n*total)):
    exact-int inputs, one cast point, floored."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))  # 1 row, broadcast
    per_doc = (
        tok.join(counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_tok").alias("sum_counts"),
            F.sum((F.col("n_tok") == 1).cast("long")).alias("n_hapax"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "n_hapax",
        F.floor(
            F.lit(1_000_000_000.0) * F.col("sum_counts")
            / (F.col("n_tokens") * F.col("n_total"))
        )
        .cast("long")
        .alias("commonness_bp"),
    )


ORACLE_COMMON_TOKEN = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS n_tok FROM tok GROUP BY token),
total AS (SELECT count(*) AS n_total FROM tok),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(c.n_tok) AS sum_counts,
         sum(CASE WHEN c.n_tok = 1 THEN 1 ELSE 0 END) AS n_hapax
  FROM tok t JOIN counts c USING (token) GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_hapax AS BIGINT) AS n_hapax,
       CAST(floor(1000000000.0 * sum_counts / (n_tokens * n_total)) AS BIGINT)
         AS commonness_bp
FROM per_doc CROSS JOIN total
"""


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate leakage across train/val/test boundaries — the
    contamination class exact-shingle decontamination misses: a test doc
    that is a fuzzy copy of a train doc still leaks the answer.  Pairs come
    from the SAME LSH band machinery as the dedup suite (planted-dup
    corpus), are verified at Jaccard ≥ 0.8, then each side picks up its
    md5-bucket split; the report counts pairs per (split_a, split_b) cell —
    off-diagonal cells are the leakage budget a release must justify.

    Scale shape: identical to ``dedup_ngram_jaccard`` (banded candidates →
    exact verify) plus a map-only split derivation — the split is a pure
    function of doc_id, so no join against an assignment table is needed."""
    from mongraph_spark.queries.dedup import (
        _lsh_candidate_pairs,
        _shingled_corpus,
    )

    shingled = _shingled_corpus(spark, sf_dir, drop_last=2).persist()
    cands = _lsh_candidate_pairs(shingled)
    sa = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    j = cands.join(sa, "id_a").join(sb, "id_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.size("sh_a") + F.size("sh_b") - n_common
    verified = j.filter(5 * n_common >= 4 * union_sz).select("id_a", "id_b")

    def split_of(id_col: str) -> F.Column:
        bucket = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long") % 100
        return (
            F.when(bucket < TRAIN_PCT, F.lit("train"))
            .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    return (
        verified.select(
            split_of("id_a").alias("split_a"), split_of("id_b").alias("split_b")
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _oracle_split_leakage() -> str:
    from mongraph_spark.queries.dedup import (
        _ORACLE_SHINGLES,
        _oracle_cands_sql,
        _oracle_corpus_droplast,
        _oracle_minhash_sig_sql,
    )

    split_case = (
        "CASE WHEN ('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT % 100 < "
        f"{TRAIN_PCT} THEN 'train' "
        "WHEN ('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT % 100 < "
        f"{TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END"
    )
    return f"""
WITH {_oracle_corpus_droplast(2)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()}
SELECT {split_case.format(c="id_a")} AS split_a,
       {split_case.format(c="id_b")} AS split_b,
       count(*) AS n_pairs
FROM cands
JOIN shingled sa ON sa.doc_id = id_a
JOIN shingled sb ON sb.doc_id = id_b
WHERE 5 * len(list_intersect(sa.shingles, sb.shingles))
      >= 4 * (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
GROUP BY 1, 2
"""


# -- Zipf fit: corpus health check on the rank-frequency curve -----------------------

ZIPF_TOP_N = 500


def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of log(freq) = a + b·log(rank) over the top-N
    vocabulary — the Zipf-law slope every corpus health check reads: natural
    text sits near b ≈ −1; template/boilerplate-heavy crawls flatten the
    head, OCR noise fattens the tail.  Closed-form normal equations over
    the ranked counts (no solver, no iteration): b = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²), a = ȳ − b·x̄.

    Distributed shape: ONE token-keyed count (the same shuffle the
    unigram-LM scorer pays), a top-N TakeOrdered by (count desc, token) —
    no global sort — then rank assignment and the five fit sums on N rows
    (bounded, post-limit; partitioned literal window).  log/ln is
    IEEE-identical across engines (both delegate to libm), and the fit is
    emitted in floored micro-units so the hash compare stays exact."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .orderBy(F.desc("n_tok"), F.asc("token"))
        .limit(ZIPF_TOP_N)
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy(const_part(F.col("token"))).orderBy(
            F.desc("n_tok"), F.asc("token")
        )  # N rows post-limit
    )
    xy = top.select(
        F.log(rank.cast("double")).alias("x"), F.log(F.col("n_tok").cast("double")).alias("y")
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        F.floor(slope * 1_000_000).cast("long").alias("slope_micro"),
        F.floor(intercept * 1_000_000).cast("long").alias("intercept_micro"),
    )


ORACLE_ZIPF = f"""
WITH top AS (
  SELECT token, count(*) AS n_tok
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  GROUP BY token ORDER BY n_tok DESC, token LIMIT {ZIPF_TOP_N}
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY n_tok DESC, token) AS DOUBLE)) AS x,
         ln(CAST(n_tok AS DOUBLE)) AS y
  FROM top
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(floor(1000000 * (n * sxy - sx * sy) / (n * sxx - sx * sx)) AS BIGINT)
         AS slope_micro,
       CAST(floor(1000000 * (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n) AS BIGINT)
         AS intercept_micro
FROM s
"""


# -- Heaps-law vocabulary growth -----------------------------------------------------

HEAPS_POINTS = 10  # corpus deciles sampled for the growth curve


def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct vocabulary V(n)
    against cumulative token count n at each corpus decile (doc_id ingest
    order), plus the fitted V = k·n^β in log-log closed form — natural
    text sits near β ≈ 0.5; β drifting toward 0 means the source is
    exhausted (same saturation story corpus_ngram_novelty tells at the
    document level, here at the vocabulary level), β near 1 flags
    machine-generated or ID-heavy text.  The companion statistic to
    corpus_zipf_fit (Heaps and Zipf exponents are duals).

    Scale shape: vocabulary first-occurrence is ``min(doc_id)`` grouped by
    WORD (one token-keyed shuffle, min-combine — the decontaminate/novelty
    posture); everything after runs on ONE ROW PER DOC (new-word count +
    token count), where the running sums ride a single window ordered by
    doc_id.  That window is global over docs — fine to ~10⁸ docs; beyond
    that, partition by a doc_id block prefix and prefix-sum the per-block
    totals (documented, the standard two-level scan).  The {HEAPS_POINTS}
    curve points and the log-log fit are post-aggregation scalars (the
    zipf_fit float-determinism pattern: ln over exact integers, floored
    micro-units)."""
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    new_words = (
        words.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    per_doc = (
        docs.select(
            "doc_id", F.size(F.split(F.lower("text"), r"\s+")).alias("n_tok")
        )
        .join(new_words, "doc_id", "left")
        .select(
            "doc_id", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new")
        )
    )
    wdoc = Window.partitionBy(const_part(F.col("doc_id"))).orderBy("doc_id")
    wcum = wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = per_doc.select(
        F.row_number().over(wdoc).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy(const_part(F.col("doc_id")))
        ).alias("nd"),
        F.sum("n_tok").over(wcum).alias("cum_tokens"),
        F.sum("n_new").over(wcum).alias("cum_vocab"),
    )
    points = (
        curve.groupBy(
            F.expr(f"CAST(({HEAPS_POINTS} * (rn - 1)) DIV nd AS BIGINT)").alias(
                "decile"
            )
        )
        .agg(
            F.max_by("cum_tokens", "rn").alias("cum_tokens"),
            F.max_by("cum_vocab", "rn").alias("cum_vocab"),
        )
    )
    # log points quantize to integer micro-units BEFORE the fit sums, so the
    # sums are EXACT integers in both engines — with a saturated vocabulary
    # the slope sits at ~0 and raw float-sum ordering noise flips the floor's
    # sign (observed at sf0.001); integer sums make the fit order-free.
    xq = F.floor(F.lit(1_000_000) * F.log(F.col("cum_tokens").cast("double"))).cast(
        "long"
    )
    yq = F.floor(F.lit(1_000_000) * F.log(F.col("cum_vocab").cast("double"))).cast(
        "long"
    )
    fit = points.select(xq.alias("x"), yq.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # beta is a ratio of exact integers (the 1e6 scales cancel); the single
    # IEEE division + floor is identical cross-engine
    beta_micro = F.floor(
        F.lit(1_000_000.0)
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    ).cast("long")
    logk_micro = F.floor(
        (
            F.col("sy")
            - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.col("sx")
        )
        / F.col("n")
    ).cast("long")
    return points.crossJoin(
        F.broadcast(
            fit.select(
                beta_micro.alias("beta_micro"), logk_micro.alias("logk_micro")
            )
        )
    ).select("decile", "cum_tokens", "cum_vocab", "beta_micro", "logk_micro")


ORACLE_HEAPS = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents
),
new_words AS (
  SELECT doc_id, count(*) AS n_new FROM (
    SELECT w, min(doc_id) AS doc_id FROM words GROUP BY w
  ) GROUP BY doc_id
),
per_doc AS (
  SELECT d.doc_id, len(string_split_regex(lower(d.text), '\\s+')) AS n_tok,
         coalesce(n.n_new, 0) AS n_new
  FROM documents d LEFT JOIN new_words n ON d.doc_id = n.doc_id
),
curve AS (
  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
         count(*) OVER () AS nd,
         sum(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         sum(n_new) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
  FROM per_doc
),
points AS MATERIALIZED (
  SELECT ({HEAPS_POINTS} * (rn - 1)) // nd AS decile,
         max_by(cum_tokens, rn) AS cum_tokens,
         max_by(cum_vocab, rn) AS cum_vocab
  FROM curve GROUP BY 1
),
xy AS (
  SELECT CAST(floor(1000000 * ln(CAST(cum_tokens AS DOUBLE))) AS BIGINT) AS x,
         CAST(floor(1000000 * ln(CAST(cum_vocab AS DOUBLE))) AS BIGINT) AS y
  FROM points
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(cum_vocab AS BIGINT) AS cum_vocab,
       CAST(floor(1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)) AS BIGINT)
         AS beta_micro,
       CAST(floor((sy - 1.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
            AS BIGINT) AS logk_micro
FROM points, s
"""


# -- bigram-LM cross-entropy scoring ------------------------------------------------


def corpus_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order LM quality scoring: train an add-one-smoothed bigram
    model ON the corpus, then score every doc by its mean bits-per-bigram
    cross-entropy  H(d) = -mean log2 (c(w1,w2)+1)/(c(w1·)+V)  — the CCNet
    recipe (perplexity under a corpus LM) one order above
    :func:`common_token_ratio`'s unigram commonness: it additionally
    catches shuffled/spliced text whose unigrams are ordinary but whose
    ADJACENCIES are improbable.

    Distributed shape: the model IS two aggregations of the bigram table
    (counts keyed on the pair; context counts = the same table re-grouped
    by w1 — no second scan), scoring is two equi-joins back onto the
    per-doc bigrams and one per-doc re-agg; vocabulary size rides a
    broadcast 1-row cross join.  At 100 TB the model tables are capped by
    vocabulary (hash the pair to 64-bit to shrink shuffle width, AQE skew
    split on stopword-headed contexts), exactly like the unigram op.
    Emitted in floored CENTIBITS: double log2/summation-order slack across
    engines is ~1e-10 bit, eight orders below the 0.01-bit grid."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = docs.select("doc_id", words.alias("words"), F.size(words).alias("n"))
    pairs = F.zip_with(
        F.slice(F.col("words"), 1, F.col("n") - 1),
        F.slice(F.col("words"), 2, F.col("n") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    c_bg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    c_ctx = c_bg.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    vocab = (
        base.select(F.explode("words").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    lp = F.log2((F.col("c_bg") + 1) / (F.col("c_ctx") + F.col("v")))
    return (
        bg.join(c_bg, ["w1", "w2"])
        .join(c_ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(F.lit(-100.0) * F.avg(lp)).cast("long").alias("xent_cb"),
        )
    )


ORACLE_BIGRAM_XENT = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
bg AS (
  SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words), 1))) AS i
        FROM base)
),
c_bg AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY w1, w2),
c_ctx AS (SELECT w1, sum(c_bg) AS c_ctx FROM c_bg GROUP BY w1),
vocab AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(words) AS w FROM base))
SELECT doc_id, count(*) AS n_bigrams,
       CAST(floor(-100.0 * avg(log2((c.c_bg + 1) / (x.c_ctx + vocab.v)))) AS BIGINT)
         AS xent_cb
FROM bg JOIN c_bg c USING (w1, w2) JOIN c_ctx x USING (w1) CROSS JOIN vocab
GROUP BY doc_id
"""


# -- UniMax per-language budget allocation (water-fill under an epoch cap) -------

UNIMAX_EPOCH_CAP = 2  # no language repeats more than 2 epochs
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 3, 2  # budget B = 1.5 x corpus tokens


def corpus_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023) — THE principled
    multilingual sampling allocator, vs ``corpus_mixture_weights``' plain
    equalizer: given a total token budget B and a per-language epoch cap
    E, water-fill the budget as uniformly as possible subject to
    alloc_i ≤ E·n_i.  Low-resource languages are upsampled exactly to the
    cap (never past it — the overfitting guard), and the remainder pools
    in the high-resource languages.  Closed form, NO iteration: with
    languages sorted by cap ascending, language at rank r (of N, cumsum
    C_r) is capped iff cap_r·(N−r+1) < B−C_{r−1} — each row decides
    itself from a window cumsum, then one tiny capped-mass reduce sets
    the shared water line (B−ΣC*)/(N−n_capped).  Greedy-correctness: the
    per-step fair share only RISES as capped languages leave the pool,
    so the ascending scan's decisions are globally consistent.

    ALL-integer arithmetic (token counts, cross-multiplied comparisons,
    div for the water line and the epochs grid) — exact cross-engine
    hashes.  Scale shape: one per-language token count (the corpus scan),
    then every window/join runs on N_LANG rows — at 100 TB the allocator
    costs one aggregation, the same shape DSIR/mixture ops pay.  Here
    (E=2, B=1.5×corpus) the four smaller languages pin to 2 epochs and
    the dominant one absorbs the remaining budget below 1 epoch — the
    canonical UniMax picture."""
    docs = read_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens")
    )
    return unimax_allocate(stats)


def unimax_allocate(
    stats: DataFrame,
    epoch_cap: int = UNIMAX_EPOCH_CAP,
    budget_num: int = UNIMAX_BUDGET_NUM,
    budget_den: int = UNIMAX_BUDGET_DEN,
) -> DataFrame:
    """The water-fill core over a (lang, n_tokens) frame — separated so the
    hypothesis property test can drive it with arbitrary corpora against
    an independent greedy reference (the same contract the BPE trainer
    has)."""
    caps = stats.select(
        "lang",
        "n_tokens",
        (F.lit(epoch_cap) * F.col("n_tokens")).alias("cap_tokens"),
    )
    totals = caps.agg(
        F.expr(
            f"(sum(n_tokens) * {budget_num}) div {budget_den}"
        ).alias("budget"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    w = Window.partitionBy(const_part(F.col("cap_tokens"))).orderBy(
        "cap_tokens", "lang"
    )
    ranked = (
        caps.withColumn("r", F.row_number().over(w))
        .withColumn("cum", F.sum("cap_tokens").over(w))
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "is_capped",
            (
                F.col("cap_tokens") * (F.col("n_langs") - F.col("r") + 1)
                < F.col("budget") - (F.col("cum") - F.col("cap_tokens"))
            ).cast("int"),
        )
    )
    capped_mass = ranked.agg(
        F.coalesce(
            F.sum(F.when(F.col("is_capped") == 1, F.col("cap_tokens"))), F.lit(0)
        ).alias("capped_tokens"),
        F.coalesce(F.sum("is_capped"), F.lit(0)).alias("n_capped"),
    )
    water = F.expr(
        "(budget - capped_tokens) div nullif(n_langs - n_capped, 0)"
    )
    alloc = F.when(F.col("is_capped") == 1, F.col("cap_tokens")).otherwise(
        F.coalesce(water, F.col("cap_tokens"))
    )
    return (
        ranked.crossJoin(F.broadcast(capped_mass))
        .withColumn("alloc_tokens", alloc.cast("long"))
        .select(
            "lang",
            "n_tokens",
            F.col("cap_tokens").cast("long").alias("cap_tokens"),
            "is_capped",
            "alloc_tokens",
            F.expr("(10000 * alloc_tokens) div n_tokens").alias("epochs_bp"),
        )
    )


ORACLE_UNIMAX = f"""
WITH stats AS (
  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
caps AS (
  SELECT lang, n_tokens, {UNIMAX_EPOCH_CAP} * n_tokens AS cap_tokens FROM stats
),
totals AS (
  SELECT CAST((sum(n_tokens) * {UNIMAX_BUDGET_NUM}) // {UNIMAX_BUDGET_DEN} AS BIGINT)
           AS budget,
         count(*) AS n_langs
  FROM caps
),
ranked AS (
  SELECT lang, n_tokens, cap_tokens,
         row_number() OVER (ORDER BY cap_tokens, lang) AS r,
         sum(cap_tokens) OVER (ORDER BY cap_tokens, lang) AS cum,
         budget, n_langs,
         CASE WHEN cap_tokens * (n_langs - row_number() OVER (ORDER BY cap_tokens, lang) + 1)
                   < budget - (sum(cap_tokens) OVER (ORDER BY cap_tokens, lang) - cap_tokens)
              THEN 1 ELSE 0 END AS is_capped
  FROM caps CROSS JOIN totals
),
mass AS (
  SELECT CAST(coalesce(sum(CASE WHEN is_capped = 1 THEN cap_tokens END), 0) AS BIGINT)
           AS capped_tokens,
         CAST(coalesce(sum(is_capped), 0) AS BIGINT) AS n_capped
  FROM ranked
)
SELECT lang, n_tokens, CAST(cap_tokens AS BIGINT) AS cap_tokens, is_capped,
       CAST(CASE WHEN is_capped = 1 THEN cap_tokens
                 ELSE coalesce((budget - capped_tokens) // nullif(n_langs - n_capped, 0),
                               cap_tokens) END AS BIGINT) AS alloc_tokens,
       CAST((10000 * (CASE WHEN is_capped = 1 THEN cap_tokens
                      ELSE coalesce((budget - capped_tokens) // nullif(n_langs - n_capped, 0),
                                    cap_tokens) END)) // n_tokens AS BIGINT) AS epochs_bp
FROM ranked CROSS JOIN mass
"""


# -- CCNet-style cross-domain LM filter: curated-slice model, tercile buckets ----

CCNET_REF_SOURCES = ["src0", "src1", "src2", "src3"]  # the 'curated' slice
CCNET_DD_SUB = 256  # cutoff-sketch sub-buckets per octave: <1/257 rel. error


def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL CCNet filter shape (Wenzek et al. 2020), which
    :func:`corpus_bigram_xent` approximates with a self-trained model: the
    LM is trained per-language on a CURATED reference slice only (CCNet:
    Wikipedia; here: sources src0–src3), every document is scored under
    its language's reference model — so text that doesn't look like the
    curated domain scores high even if it is self-consistent — and each
    language is cut into CCNet's head/middle/tail perplexity terciles.
    The report is the filter-config artifact a release records: per
    (lang, bucket) doc/char volume, the bucket's xent ceiling (the
    threshold a production filter would pin), and how many curated-slice
    docs landed there (they should concentrate in the head — the model
    recognizing its own domain).

    Distributed shape: model = two aggregations of the REFERENCE bigram
    table keyed (lang, w1, w2) — strictly smaller than the self-trained
    op's; scoring = two LEFT equi-joins (unseen bigrams/contexts hit the
    add-one floor, coalesce(·, 0)) + a broadcast 5-row vocab join + one
    per-doc re-agg.  The tercile ntile is a per-language sort — fine here,
    and at 100 TB you swap it for two quantile cutoffs read off the
    mergeable DDSketch synopsis (`dd_estimate`) and a map-side CASE: the
    bucketing becomes scan-shaped at the cost of <1/17 boundary error.
    Per-doc xent in floored CENTIBITS (the proven cross-engine grid)."""
    docs = read_table(spark, sf_dir, "documents")
    c_bg, c_ctx, vocab = ccnet_model(docs)
    scored = ccnet_score(docs, c_bg, c_ctx, vocab)
    return ccnet_finish(scored)


def _ccnet_bigrams(docs: DataFrame) -> DataFrame:
    """Per-doc bigram table (doc keys + w1/w2) — map-side explode."""
    words = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        words.alias("words"),
        F.size(words).alias("n"),
    )
    pairs = F.zip_with(
        F.slice(F.col("words"), 1, F.col("n") - 1),
        F.slice(F.col("words"), 2, F.col("n") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return base.select(
        "doc_id", "lang", "source", "n_chars", F.explode(pairs).alias("p")
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
    )


def ccnet_model(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the per-language reference LM on the curated slice: bigram
    counts, context counts, and vocab size — the three tables a frozen
    CCNet model IS."""
    is_ref = F.col("source").isin(CCNET_REF_SOURCES)
    bg_ref = _ccnet_bigrams(docs.filter(is_ref))
    c_bg = bg_ref.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    c_ctx = c_bg.groupBy("lang", "w1").agg(F.sum("c_bg").alias("c_ctx"))
    vocab = (
        docs.filter(is_ref)
        .select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("lang")
        .agg(F.count_distinct("w").alias("v"))
    )
    return c_bg, c_ctx, vocab


def ccnet_score(
    docs: DataFrame, c_bg: DataFrame, c_ctx: DataFrame, vocab: DataFrame
) -> DataFrame:
    """Score documents under a frozen reference model: two LEFT equi-joins
    (unseen bigrams/contexts hit the add-one floor) + a broadcast vocab
    join + one per-doc re-agg.  Pure function of (doc, model) — the
    property that makes the streaming twin batch-equal."""
    bg = _ccnet_bigrams(docs)
    lp = F.log2(
        (F.coalesce(F.col("c_bg"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.col("v"))
    )
    return (
        bg.join(c_bg, ["lang", "w1", "w2"], "left")
        .join(c_ctx, ["lang", "w1"], "left")
        .join(F.broadcast(vocab), "lang")
        .groupBy("doc_id", "lang", "source", "n_chars")
        .agg(F.floor(F.lit(-100.0) * F.avg(lp)).cast("long").alias("xent_cb"))
    )


def ccnet_finish(scored: DataFrame) -> DataFrame:
    """Tercile bucketing + per-(lang, bucket) rollup — the served finisher
    (a rank cannot stream; at 100 TB swap the ntile for DDSketch cutoffs)."""
    is_ref = F.col("source").isin(CCNET_REF_SOURCES)
    t = F.ntile(3).over(Window.partitionBy("lang").orderBy("xent_cb", "doc_id"))
    bucketed = scored.withColumn(
        "bucket",
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_ref.cast("int")).cast("long").alias("n_ref_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("xent_cb").alias("max_xent_cb"),
    )


_ORACLE_CCNET_SCORED = f"""base AS (
  SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS words
  FROM documents
),
bg AS (
  SELECT doc_id, lang, source, n_chars, words[i] AS w1, words[i + 1] AS w2
  FROM (SELECT doc_id, lang, source, n_chars, words,
               unnest(range(1, greatest(len(words), 1))) AS i
        FROM base)
),
c_bg AS (
  SELECT lang, w1, w2, count(*) AS c_bg FROM bg
  WHERE source IN ({", ".join(f"'{s}'" for s in CCNET_REF_SOURCES)})
  GROUP BY 1, 2, 3
),
c_ctx AS (SELECT lang, w1, sum(c_bg) AS c_ctx FROM c_bg GROUP BY 1, 2),
vocab AS (
  SELECT lang, count(DISTINCT w) AS v
  FROM (SELECT lang, unnest(words) AS w FROM base
        WHERE source IN ({", ".join(f"'{s}'" for s in CCNET_REF_SOURCES)}))
  GROUP BY 1
),
scored AS (
  SELECT b.doc_id, b.lang, b.source, b.n_chars,
         CAST(floor(-100.0 * avg(log2(
           (coalesce(c.c_bg, 0) + 1) / (coalesce(x.c_ctx, 0) + v.v)
         ))) AS BIGINT) AS xent_cb
  FROM bg b
  LEFT JOIN c_bg c ON b.lang = c.lang AND b.w1 = c.w1 AND b.w2 = c.w2
  LEFT JOIN c_ctx x ON b.lang = x.lang AND b.w1 = x.w1
  JOIN vocab v ON b.lang = v.lang
  GROUP BY 1, 2, 3, 4
)"""

ORACLE_CCNET_BUCKETS = f"""
WITH {_ORACLE_CCNET_SCORED},
bucketed AS (
  SELECT *,
         CASE ntile(3) OVER (PARTITION BY lang ORDER BY xent_cb, doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
  FROM scored
)
SELECT lang, bucket, count(*) AS n_docs,
       CAST(sum(CASE WHEN source IN ({", ".join(f"'{s}'" for s in CCNET_REF_SOURCES)})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ref_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(xent_cb) AS max_xent_cb
FROM bucketed
GROUP BY 1, 2
"""

ORACLE_CCNET_SKETCH = f"""
WITH {_ORACLE_CCNET_SCORED},
bm AS (
  SELECT lang, doc_id, xent_cb, e,
         (cents * {CCNET_DD_SUB}) // (1::BIGINT << CAST(e AS INTEGER)) - {CCNET_DD_SUB} AS m
  FROM (SELECT lang, doc_id, xent_cb, cents,
               CAST(length(bin(cents)) - 1 AS BIGINT) AS e
        FROM (SELECT lang, doc_id, xent_cb, greatest(xent_cb, 1) AS cents
              FROM scored))
),
sk AS (SELECT lang, e, m, CAST(count(*) AS BIGINT) AS c FROM bm GROUP BY 1, 2, 3),
tg AS (
  SELECT lang, p, (p * n + 99) // 100 AS target
  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY 1)
  CROSS JOIN (VALUES (33), (67)) t(p)
),
cum AS (
  SELECT lang, e, m, sum(c) OVER (PARTITION BY lang ORDER BY e, m) AS cum FROM sk
),
cuts AS (
  SELECT lang, p,
         (({CCNET_DD_SUB} + bid % {CCNET_DD_SUB})
          * (1::BIGINT << CAST(bid // {CCNET_DD_SUB} AS INTEGER))) // {CCNET_DD_SUB} AS cut
  FROM (SELECT t.lang, t.p, min(s.e * {CCNET_DD_SUB} + s.m) AS bid
        FROM cum s JOIN tg t ON s.lang = t.lang AND s.cum >= t.target
        GROUP BY 1, 2)
),
cw AS (
  SELECT lang,
         CAST(min(CASE WHEN p = 33 THEN cut END) AS BIGINT) AS cut33,
         CAST(min(CASE WHEN p = 67 THEN cut END) AS BIGINT) AS cut67
  FROM cuts GROUP BY 1
),
exact AS (
  SELECT doc_id,
         CASE ntile(3) OVER (PARTITION BY lang ORDER BY xent_cb, doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_exact
  FROM scored
),
assigned AS (
  SELECT s.lang,
         CASE WHEN s.xent_cb <= cw.cut33 THEN 'head'
              WHEN s.xent_cb <= cw.cut67 THEN 'middle'
              ELSE 'tail' END AS bucket,
         x.bucket_exact, cw.cut33, cw.cut67
  FROM scored s JOIN cw ON s.lang = cw.lang JOIN exact x ON s.doc_id = x.doc_id
)
SELECT lang, bucket, count(*) AS n_docs,
       CAST(sum(CASE WHEN bucket <> bucket_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       cut33, cut67
FROM assigned
GROUP BY 1, 2, 5, 6
"""


# -- CCNet terciles from the DDSketch synopsis: the 100 TB bucketing path --------
# (CCNET_DD_SUB defined with the CCNet constants above)


def corpus_ccnet_sketch_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path ``corpus_ccnet_buckets``' docstring promises, made a
    MEASURED operator (the way ``dedup_span_capped`` closed the span
    family's prose-only claim): per-language tercile CUTOFFS read off a
    DDSketch synopsis of the xent distribution instead of the exact ntile
    sort.  The sketch is one (lang, octave, sub-bucket) aggregation —
    O(langs × ~buckets) rows regardless of corpus size — and bucketing
    becomes a map-side CASE against two broadcast cutoffs: the per-language
    SORT disappears from the plan, which is the difference between a
    shuffle-and-sort of every score at 100 TB and a scan.  The price is
    DDSketch's <1/17 relative error AT THE BOUNDARY only, and the operator
    REPORTS it: per (lang, bucket) doc counts under sketch cutoffs, the
    count that moved vs the exact terciles (n_moved), and the cutoffs a
    production filter config would pin.  The sketch granularity is THE
    DDSketch accuracy knob, and this op demonstrates sizing it to the
    value scale: xent centibits concentrate in one octave (~450–600 cb,
    CV ≈ 5%), where the quantile suite's 16 sub-buckets (<1/17 error,
    ±30 cb) would swallow both tercile boundaries — so the cutoff sketch
    uses {CCNET_DD_SUB} sub-buckets per octave (<1/{CCNET_DD_SUB + 1}
    relative error, ±2 cb here), still only O(octaves×{CCNET_DD_SUB})
    synopsis rows.  Integer-exact end to end (xent centibits, integer
    bucket decode)."""
    docs = read_table(spark, sf_dir, "documents")
    # reused by the sketch, the exact terciles, and the assignment
    scored = lineage_cut(ccnet_score(docs, *ccnet_model(docs)))
    binned = scored.select(
        "lang",
        "doc_id",
        "xent_cb",
        F.greatest(F.col("xent_cb"), F.lit(1)).alias("cents"),
    ).withColumn(
        "e", (F.length(F.expr("bin(cents)")) - 1).cast("long")
    ).withColumn(
        "m",
        F.expr(
            f"(cents * {CCNET_DD_SUB}) div shiftleft(cast(1 as bigint), cast(e as int))"
            f" - {CCNET_DD_SUB}"
        ),
    )
    sk = binned.groupBy("lang", "e", "m").agg(F.count(F.lit(1)).alias("c"))
    nl = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tg = nl.select(
        "lang",
        F.explode(F.array(F.lit(33), F.lit(67))).alias("p"),
        "n",
    ).select(
        "lang", "p", F.expr("(p * n + 99) div 100").alias("target")
    )
    cum = sk.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("lang").orderBy("e", "m"))
    )
    decode = F.expr(
        f"((({CCNET_DD_SUB} + bid % {CCNET_DD_SUB})"
        f" * shiftleft(cast(1 as bigint), cast(bid div {CCNET_DD_SUB} as int)))"
        f" div {CCNET_DD_SUB})"
    )
    cuts = (
        cum.join(F.broadcast(tg), "lang")
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("lang", "p")
        .agg(F.min(F.col("e") * CCNET_DD_SUB + F.col("m")).alias("bid"))
        .select("lang", "p", decode.alias("cut"))
    )
    cw = cuts.groupBy("lang").agg(
        F.min(F.when(F.col("p") == 33, F.col("cut"))).cast("long").alias("cut33"),
        F.min(F.when(F.col("p") == 67, F.col("cut"))).cast("long").alias("cut67"),
    )
    t = F.ntile(3).over(Window.partitionBy("lang").orderBy("xent_cb", "doc_id"))
    exact = scored.select(
        "doc_id",
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket_exact"),
    )
    assigned = (
        scored.join(F.broadcast(cw), "lang")
        .join(exact, "doc_id")
        .withColumn(
            "bucket",
            F.when(F.col("xent_cb") <= F.col("cut33"), F.lit("head"))
            .when(F.col("xent_cb") <= F.col("cut67"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )
    return (
        assigned.groupBy("lang", "bucket", "cut33", "cut67")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("bucket") != F.col("bucket_exact")).cast("int"))
            .cast("long")
            .alias("n_moved"),
        )
        .select("lang", "bucket", "n_docs", "n_moved", "cut33", "cut67")
    )


# -- CCNet-style cross-domain LM filter: curated-slice model, tercile buckets ----

SEG_WORDS = 5  # pseudo-line width (the docs carry no newlines)
BP_MIN_DOCS = 2  # a segment seen in >= 2 distinct docs is boilerplate


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate report: split every document into
    non-overlapping 5-word segments (the corpus has no newlines, so fixed
    word windows stand in for lines), mark a segment as boilerplate when
    its exact text occurs in >= 2 DISTINCT documents, and report how much
    of each source the line-dedup pass would strip — the RefinedWeb /
    CCNet line-level dedup step that removes navigation chrome, cookie
    banners, and licence footers before model training.

    Distributed shape: ONE explode scan; segment->distinct-doc counts are
    one combiner-friendly aggregation keyed on the segment; the verdict
    rejoins on the same segment key (AQE broadcasts the surviving
    boilerplate set when it is small, as here); the report is a tiny
    per-source rollup.  At 100 TB: xxhash64 the segment first (64-bit
    shuffle keys), and keep the rejoin a semi-join so the wide text never
    travels twice — both noted, neither changes semantics.  Never
    all-pairs: cost is O(total segments), not O(docs^2)."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_segs = F.floor((F.size(words) + F.lit(SEG_WORDS - 1)) / F.lit(SEG_WORDS))
    segs = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_segs.cast("int")),
                lambda i: F.array_join(
                    F.slice(words, (i - 1) * SEG_WORDS + 1, SEG_WORDS), " "
                ),
            )
        ).alias("seg"),
    )
    bp = (
        segs.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BP_MIN_DOCS)
        .select("seg")
    )
    flagged = segs.join(bp.withColumn("is_bp", F.lit(1)), "seg", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.coalesce("is_bp", F.lit(0))).cast("long").alias("n_boilerplate"),
            F.floor(
                F.lit(10000)
                * F.sum(F.coalesce("is_bp", F.lit(0)))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("bp_ratio_bp"),
        )
    )


ORACLE_BOILERPLATE = f"""
WITH segs AS (
  SELECT doc_id, source,
         array_to_string(
           words[(i - 1) * {SEG_WORDS} + 1 : (i - 1) * {SEG_WORDS} + {SEG_WORDS}],
           ' ') AS seg
  FROM (
    SELECT doc_id, source, words,
           unnest(range(1, CAST(floor((len(words) + {SEG_WORDS - 1}) / {SEG_WORDS})
                               AS BIGINT) + 1)) AS i
    FROM (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents)
  )
), bp AS (
  SELECT seg FROM segs GROUP BY seg
  HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}
)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_segments,
       CAST(sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       CAST(floor(10000 * sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)
                  / count(*)) AS BIGINT) AS bp_ratio_bp
FROM segs s LEFT JOIN bp b ON s.seg = b.seg
GROUP BY source
"""


# -- C4-style sequential filter funnel -------------------------------------------

MIN_CHARS = 150
MIN_WORDS = 40
MIN_DISTINCT_RATIO = 0.40


def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality-filter funnel: apply the standard pretraining
    document filters IN SEQUENCE (min chars -> min words -> distinct-token
    ratio -> language -> stopword presence) and report, per stage, how
    many documents survive the cumulative filter and how many that stage
    alone drops — the acceptance report every corpus build publishes.

    Distributed shape: all five predicates are computed in ONE scan as
    column expressions, the funnel is a single 5-sum aggregate (map-side
    partials, 1-row shuffle), and the 5-row output is an unpivot of that
    aggregate — no per-rule rescans, no Python.  The same plan at 100 TB
    is scan-bound, which is the floor."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)) / n_words
    p1 = F.col("n_chars") >= MIN_CHARS
    p2 = p1 & (n_words >= MIN_WORDS)
    p3 = p2 & (distinct_ratio >= MIN_DISTINCT_RATIO)
    p4 = p3 & (F.col("lang") == "en")
    p5 = p4 & F.array_contains(words, "the")
    agg = docs.agg(
        F.count(F.lit(1)).alias("s0"),
        *[
            F.sum(p.cast("long")).alias(f"s{i}")
            for i, p in enumerate([p1, p2, p3, p4, p5], start=1)
        ],
    )
    rules = ["min_chars", "min_words", "distinct_ratio", "lang_en", "has_stopword"]
    stacked = agg.select(
        F.expr(
            "stack(5, "
            + ", ".join(
                f"{i}, '{rules[i - 1]}', s{i - 1}, s{i}" for i in range(1, 6)
            )
            + ") as (stage, rule, entered, survivors)"
        )
    )
    return stacked.select(
        F.col("stage").cast("int").alias("stage"),
        "rule",
        F.col("entered").cast("long").alias("entered"),
        F.col("survivors").cast("long").alias("survivors"),
        (F.col("entered") - F.col("survivors")).cast("long").alias("dropped"),
    )


ORACLE_FILTER_FUNNEL = f"""
WITH flags AS (
  SELECT n_chars >= {MIN_CHARS} AS p1,
         n_chars >= {MIN_CHARS} AND len(words) >= {MIN_WORDS} AS p2,
         n_chars >= {MIN_CHARS} AND len(words) >= {MIN_WORDS}
           AND len(list_distinct(words)) / len(words) >= {MIN_DISTINCT_RATIO} AS p3,
         n_chars >= {MIN_CHARS} AND len(words) >= {MIN_WORDS}
           AND len(list_distinct(words)) / len(words) >= {MIN_DISTINCT_RATIO}
           AND lang = 'en' AS p4,
         n_chars >= {MIN_CHARS} AND len(words) >= {MIN_WORDS}
           AND len(list_distinct(words)) / len(words) >= {MIN_DISTINCT_RATIO}
           AND lang = 'en' AND list_contains(words, 'the') AS p5
  FROM (SELECT n_chars, lang, string_split(text, ' ') AS words FROM documents)
), agg AS (
  SELECT count(*) AS s0,
         CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
         CAST(sum(CASE WHEN p5 THEN 1 ELSE 0 END) AS BIGINT) AS s5
  FROM flags
)
SELECT 1 AS stage, 'min_chars' AS rule, s0 AS entered, s1 AS survivors,
       s0 - s1 AS dropped FROM agg
UNION ALL SELECT 2, 'min_words', s1, s2, s1 - s2 FROM agg
UNION ALL SELECT 3, 'distinct_ratio', s2, s3, s2 - s3 FROM agg
UNION ALL SELECT 4, 'lang_en', s3, s4, s3 - s4 FROM agg
UNION ALL SELECT 5, 'has_stopword', s4, s5, s4 - s5 FROM agg
"""


# -- n-gram novelty curve ---------------------------------------------------------

NOVELTY_N = 5  # shingle width, shared with decontaminate
NOVELTY_DECILES = 10


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty curve: for every document, the fraction of its
    distinct {NOVELTY_N}-word shingles never seen in any EARLIER document
    (by doc_id ingest order), rolled up per source × corpus decile — the
    diminishing-returns measurement behind "how much new text does the
    next crawl batch actually add?" and the saturation signal dataset
    curation uses to stop ingesting a source.

    Scale shape: NO shingle-keyed join anywhere — both per-doc counts are
    independent aggregations.  ``n_novel(d)`` = how many shingles have
    ``min(doc_id) = d``, which falls straight out of the first-occurrence
    groupBy re-grouped by its min (shingle shuffle #1, map-side min
    combine, then a doc-keyed rollup of ALREADY-distinct shingles);
    ``n_shingles(d)`` is a map-only per-doc array size.  The original
    formulation joined first-occurrences back to the exploded shingle
    table — measured at 64× sf0.1 that join was 58.7 s / 920 MB of
    shuffle; this shape is the same answer with the scan-sized shuffle
    paid ONCE.  Integer arithmetic throughout.  At 100 TB, shingles
    shrink to ``xxhash64`` before shuffle #1 (same note as
    decontaminate)."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    shingled = docs.select(
        "doc_id",
        "source",
        F.array_distinct(_shingles(words, n=NOVELTY_N)).alias("shs"),
    )
    novel = (
        shingled.select("doc_id", F.explode("shs").alias("shingle"))
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    per_doc = (
        shingled.select("doc_id", "source", F.size("shs").alias("n_shingles"))
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
    )
    wsrc = Window.partitionBy("source")
    ranked = per_doc.select(
        "source",
        "n_shingles",
        "n_novel",
        F.row_number().over(wsrc.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wsrc).alias("nd"),
    )
    return (
        ranked.groupBy(
            "source",
            F.expr(f"CAST(({NOVELTY_DECILES} * (rn - 1)) DIV nd AS BIGINT)").alias(
                "decile"
            ),
        )
        .agg(
            F.sum("n_shingles").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            "source",
            "decile",
            "n_shingles",
            "n_novel",
            F.expr("CAST((10000 * n_novel) DIV n_shingles AS BIGINT)").alias(
                "novelty_bp"
            ),
        )
    )


ORACLE_NOVELTY = f"""
WITH shingled AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(words) - {NOVELTY_N}, 0) + 2),
           i -> array_to_string(words[i:i+{NOVELTY_N - 1}], ' ')
         )) AS shs
  FROM (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents)
), novel AS (
  SELECT doc_id, count(*) AS n_novel FROM (
    SELECT shingle, min(doc_id) AS doc_id
    FROM (SELECT doc_id, unnest(shs) AS shingle FROM shingled)
    GROUP BY shingle
  ) GROUP BY doc_id
), per_doc AS (
  SELECT s.doc_id, s.source, len(s.shs) AS n_shingles,
         coalesce(n.n_novel, 0) AS n_novel
  FROM shingled s LEFT JOIN novel n ON s.doc_id = n.doc_id
), ranked AS (
  SELECT source, n_shingles, n_novel,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS nd
  FROM per_doc
)
SELECT source,
       CAST(({NOVELTY_DECILES} * (rn - 1)) // nd AS BIGINT) AS decile,
       CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
       CAST(sum(n_novel) AS BIGINT) AS n_novel,
       CAST((10000 * sum(n_novel)) // sum(n_shingles) AS BIGINT) AS novelty_bp
FROM ranked GROUP BY source, decile
"""


# -- DSIR: hashed-n-gram importance resampling weights --------------------------------

DSIR_BUCKETS = 512


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how target-like its hashed-unigram distribution is.  Target here =
    the English slice (the Wikipedia-proxy role); raw = the whole corpus.
    Per md5-hash bucket b, the log-likelihood ratio
    λ_b = ln(p_target(b) / p_raw(b)) (add-one smoothed) is floored to an
    integer MICRO-NAT — the engines' last-ulp ``ln`` slack (~1e-10 µnat)
    sits six orders below the grid — and a document's importance is the
    exact integer Σ tokens λ_bucket(token).  DSIR selects by RANK, not
    sign: add-one smoothing over the mostly-empty hash buckets shifts
    every λ by ln((t_r+B)/(t_t+B)) − ln(t_r/t_t) (measured ≈ −0.03
    nat/token on this corpus — target mass is diluted more than raw mass
    because t_t < t_r), so "score > 0" would select nothing.  The audit
    therefore reports, per language, how many docs beat the CORPUS-MEAN
    importance — decided by the exact integer cross-product
    score·N > Σscores, no float division — and the en slice must
    dominate, which the tests pin.

    Scale shape: the "model" is two aggregations of one token explode
    (shuffle width = DSIR_BUCKETS, corpus-independent) broadcast back as a
    512-row table; scoring is a map-side broadcast join + one doc-keyed
    sum; the per-lang rollup is a 5-row agg.  This is THE cheap
    quality-targeting pass production pipelines run before expensive
    scoring: one corpus scan trains the model, one scan scores 100 TB, no
    pairwise anything.  Bucket hashing is the same md5-prefix arithmetic
    as pipeline.py's samplers — no RNG, partition-count-independent."""
    docs = read_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % DSIR_BUCKETS
            ).alias("b"),
        )
        .transform(lineage_cut)
    )
    counts_r = tok.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    counts_t = tok.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("c_t")
    )
    totals = tok.agg(
        F.count(F.lit(1)).alias("t_r"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_t"),
    )
    lam = (
        counts_r.join(counts_t, "b", "left")
        .na.fill(0, ["c_t"])
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.floor(
                F.lit(1_000_000)
                * F.log(
                    ((F.col("c_t") + 1) * (F.col("t_r") + DSIR_BUCKETS))
                    / ((F.col("c_r") + 1) * (F.col("t_t") + DSIR_BUCKETS))
                )
            )
            .cast("long")
            .alias("lam"),
        )
    )
    perdoc = (
        tok.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum("lam").alias("score"))
    )
    corpus_tot = perdoc.agg(
        F.sum("score").alias("s_all"), F.count(F.lit(1)).alias("n_all")
    )
    return (
        perdoc.crossJoin(F.broadcast(corpus_tot))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("score") * F.col("n_all") > F.col("s_all"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_above_mean"),
            F.sum("score").cast("long").alias("sum_score_micro"),
            F.max("score").cast("long").alias("max_score_micro"),
        )
    )


ORACLE_DSIR = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, lang,
         ('0x' || substr(md5(w), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
),
cr AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM tok GROUP BY b),
ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c_t FROM tok WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t_r,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_t
  FROM tok
),
lam AS (
  SELECT cr.b,
         CAST(floor(1000000 * ln(
           ((coalesce(ct.c_t, 0) + 1) * (tot.t_r + {DSIR_BUCKETS}))
           / ((cr.c_r + 1) * (tot.t_t + {DSIR_BUCKETS})))) AS BIGINT) AS lam
  FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tot
),
perdoc AS MATERIALIZED (
  SELECT t.doc_id, t.lang, CAST(sum(l.lam) AS BIGINT) AS score
  FROM tok t JOIN lam l ON t.b = l.b
  GROUP BY t.doc_id, t.lang
),
corpus_tot AS (
  SELECT CAST(sum(score) AS BIGINT) AS s_all, CAST(count(*) AS BIGINT) AS n_all
  FROM perdoc
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score * n_all > s_all THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above_mean,
       CAST(sum(score) AS BIGINT) AS sum_score_micro,
       CAST(max(score) AS BIGINT) AS max_score_micro
FROM perdoc CROSS JOIN corpus_tot GROUP BY lang
"""


GOPHER_RULES = [
    # (name, per-doc pass predicate over the counter columns) — applied in
    # this order for the cumulative funnel; all integer comparisons
    ("word_count_50_100k", "w >= 50 AND w <= 100000"),
    ("mean_word_len_3_10", "10000 * chars_adj >= 30000 * w AND 10000 * chars_adj <= 100000 * w"),
    ("hash_ratio_le_10pct", "10 * hashes <= w"),
    ("ellipsis_ratio_le_30pct", "10 * ell <= 3 * w"),
    ("alpha_word_ratio_ge_80pct", "10 * alpha_words >= 8 * w"),
    ("stopword_presence_ge_2", "n_stop_distinct >= 2"),
]


def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NAMED Gopher quality-filter battery (Rae et al. 2021, table A1
    — the rule set production LLM pipelines cite by name, where
    text_quality is a generic score): word-count bounds, mean-word-length
    bounds, symbol-to-word ratios (#, ellipsis), alphabetic-word ratio,
    and minimum stopword presence, applied as a CUMULATIVE funnel in
    documented order.  Per rule: docs entering, marginal failures (docs
    the rule rejects regardless of order — what a rule-tuning review
    reads), cumulative survivors, and surviving tokens (the number the
    training budget consumes).

    Exactness: every predicate is an integer cross-multiplication (no
    ratio ever materializes); counters come from one regexp_count pass
    (JVM regex ≡ DuckDB RE2 on these patterns).

    Scale shape: ONE scan computes all per-doc counters and rule
    booleans; the funnel is a single conditional aggregate to ONE row,
    then a |rules|-row stack — no per-stage rescans, no joins."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_funnel(gopher_flags(docs), GOPHER_RULES)


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher counters + rule booleans + cumulative-funnel flags —
    map-only column expressions, shared verbatim by the batch op and the
    streaming ingest scorer (which appends these rows per micro-batch)."""
    from mongraph_spark.queries.text import STOPWORDS

    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    flags = docs.select(
        F.regexp_count("text", F.lit(r"[^ ]+")).alias("w"),
        (F.length("text") - (F.regexp_count("text", F.lit(r"[^ ]+")) - 1)).alias(
            "chars_adj"
        ),
        F.regexp_count("text", F.lit(r"#")).alias("hashes"),
        F.regexp_count("text", F.lit(r"\.\.\.")).alias("ell"),
        F.size(
            F.filter(
                F.split(F.col("text"), " "),
                lambda x: x.rlike("[a-zA-Z]"),
            )
        ).alias("alpha_words"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.split(F.lower(F.col("text")), " ")), stop_arr
            )
        ).alias("n_stop_distinct"),
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
    )
    cum = None
    for i, (name, pred) in enumerate(GOPHER_RULES):
        flags = flags.withColumn(f"r{i}", F.expr(pred))
        cum = F.col(f"r{i}") if cum is None else (cum & F.col(f"r{i}"))
        flags = flags.withColumn(f"c{i}", cum)
    return flags.select(
        "n_tokens",
        *[c for i in range(len(GOPHER_RULES)) for c in (f"r{i}", f"c{i}")],
    )


def gopher_funnel(flags: DataFrame, rules) -> DataFrame:
    """ONE conditional aggregate over the flag rows → |rules|-row stack."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for i in range(len(rules)):
        aggs.append(
            F.sum((~F.col(f"r{i}")).cast("long")).cast("long").alias(f"fail{i}")
        )
        aggs.append(F.sum(F.col(f"c{i}").cast("long")).cast("long").alias(f"surv{i}"))
        aggs.append(
            F.sum(F.when(F.col(f"c{i}"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias(f"tok{i}")
        )
    one = flags.agg(*aggs)
    stack = ", ".join(
        f"{i}L, '{name}', fail{i}, surv{i}, tok{i}"
        for i, (name, _) in enumerate(rules)
    )
    return one.select(
        F.expr(
            f"stack({len(rules)}, {stack})"
            " as (rule_order, rule, n_fail_marginal, n_survivors, tokens_surviving)"
        ),
        F.col("n_docs"),
    ).select(
        "rule_order", "rule", "n_docs", "n_fail_marginal", "n_survivors",
        "tokens_surviving",
    )


def _oracle_gopher() -> str:
    cum_terms, rows = [], []
    for i, (name, pred) in enumerate(GOPHER_RULES):
        cum_terms.append(f"({pred})")
        cum = " AND ".join(cum_terms)
        rows.append(
            f"SELECT {i} AS rule_order, '{name}' AS rule,"
            f" (SELECT n_docs FROM one) AS n_docs,"
            f" (SELECT CAST(sum(CASE WHEN NOT ({pred}) THEN 1 ELSE 0 END) AS BIGINT)"
            f"  FROM flags) AS n_fail_marginal,"
            f" (SELECT CAST(sum(CASE WHEN {cum} THEN 1 ELSE 0 END) AS BIGINT)"
            f"  FROM flags) AS n_survivors,"
            f" (SELECT CAST(sum(CASE WHEN {cum} THEN n_tokens ELSE 0 END) AS BIGINT)"
            f"  FROM flags) AS tokens_surviving"
        )
    union = " UNION ALL ".join(rows)
    from mongraph_spark.queries.text import STOPWORDS as _SW
    stop_sql = "', '".join(_SW)
    return f"""
WITH flags AS (
  SELECT len(regexp_extract_all(text, '[^ ]+')) AS w,
         length(text) - (len(regexp_extract_all(text, '[^ ]+')) - 1) AS chars_adj,
         len(regexp_extract_all(text, '#')) AS hashes,
         len(regexp_extract_all(text, '\\.\\.\\.')) AS ell,
         len(list_filter(string_split(text, ' '),
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha_words,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                            ['{stop_sql}'])) AS n_stop_distinct,
         len(string_split(lower(text), ' ')) AS n_tokens
  FROM documents
),
one AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM flags)
{union}
"""


ORACLE_GOPHER = _oracle_gopher()


def corpus_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup (He et al. 2024, "SoftDedup: an Efficient Data
    Reweighting Method for Speeding Up Language Model Pre-training"):
    instead of REMOVING duplicates, down-weight every document by its
    commonness — a doc appearing in an exact-duplicate cluster of size c
    trains with sampling weight 1/c, so the corpus keeps its full
    diversity while duplicated mass stops dominating the loss.  The
    hard-dedup twins (:func:`mongraph_spark.queries.dedup.dedup_exact`)
    drop all-but-one; this op reports what reweighting preserves.

    Same planted corpus as dedup_exact (identical copies at +ID_SHIFT) so
    cluster sizes are known truth.  Per cluster size: clusters, docs, raw
    tokens, and the effective (weighted) tokens in floored bp —
    ``Σ floor(10000·tokens_d / c)`` — plus each tier's share of the
    soft-deduped training budget.

    Exactness: weights never materialize as floats — every effective
    quantity is an integer floor of tokens·10000/c.

    Scale shape: one md5-keyed window for cluster sizes (the dedup_exact
    shuffle), then a |distinct sizes|-row aggregate; no joins, no
    quadratic stage."""
    from mongraph_spark.queries.dedup import dup_corpus

    corpus = dup_corpus(spark, sf_dir)  # identical copies: clusters of 2
    toks = corpus.select(
        F.md5("text").alias("h"),
        F.size(F.split(F.col("text"), " ")).alias("t"),
    )
    w = Window.partitionBy("h")
    sized = toks.withColumn("c", F.count(F.lit(1)).over(w)).select(
        "c",
        "t",
        F.floor(F.lit(10000) * F.col("t") / F.col("c")).cast("long").alias("eff_bp"),
        (F.row_number().over(w.orderBy("t")) == 1).cast("long").alias("is_first"),
    )
    return (
        sized.groupBy("c")
        .agg(
            F.sum("is_first").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("raw_tokens"),
            F.sum("eff_bp").cast("long").alias("eff_tokens_bp"),
        )
        .withColumnRenamed("c", "cluster_size")
    )


ORACLE_SOFT_DEDUP = """
WITH corpus AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
  FROM documents
),
sized AS (
  SELECT count(*) OVER (PARTITION BY md5(text)) AS c,
         len(string_split(text, ' ')) AS t
  FROM corpus
)
SELECT c AS cluster_size,
       CAST(count(*) / c AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS raw_tokens,
       CAST(sum(CAST(floor(10000 * t / c) AS BIGINT)) AS BIGINT) AS eff_tokens_bp
FROM sized GROUP BY c
"""


QUERIES = {
    "corpus_gopher_rules": corpus_gopher_rules,
    "corpus_soft_dedup": corpus_soft_dedup,
    "corpus_dsir_weights": corpus_dsir_weights,
    "corpus_ngram_novelty": corpus_ngram_novelty,
    "corpus_decontaminate": decontaminate_splits,
    "corpus_repetition_filter": repetition_filter,
    "corpus_mixture_weights": source_mixture_weights,
    "corpus_source_overlap": source_overlap_matrix,
    "corpus_common_token_ratio": common_token_ratio,
    "corpus_split_leakage": split_leakage,
    "corpus_zipf_fit": corpus_zipf_fit,
    "corpus_heaps_law": corpus_heaps_law,
    "corpus_bigram_xent": corpus_bigram_xent,
    "corpus_ccnet_buckets": corpus_ccnet_buckets,
    "corpus_unimax_budget": corpus_unimax_budget,
    "corpus_ccnet_sketch_cutoffs": corpus_ccnet_sketch_cutoffs,
    "corpus_boilerplate_lines": boilerplate_lines,
    "corpus_filter_funnel": filter_funnel,
}

ORACLES = {
    "corpus_gopher_rules": ORACLE_GOPHER,
    "corpus_soft_dedup": ORACLE_SOFT_DEDUP,
    "corpus_dsir_weights": ORACLE_DSIR,
    "corpus_ngram_novelty": ORACLE_NOVELTY,
    "corpus_decontaminate": ORACLE_DECONTAMINATE,
    "corpus_repetition_filter": ORACLE_REPETITION,
    "corpus_mixture_weights": ORACLE_MIXTURE,
    "corpus_source_overlap": ORACLE_SOURCE_OVERLAP,
    "corpus_common_token_ratio": ORACLE_COMMON_TOKEN,
    "corpus_split_leakage": _oracle_split_leakage(),
    "corpus_zipf_fit": ORACLE_ZIPF,
    "corpus_heaps_law": ORACLE_HEAPS,
    "corpus_bigram_xent": ORACLE_BIGRAM_XENT,
    "corpus_ccnet_buckets": ORACLE_CCNET_BUCKETS,
    "corpus_unimax_budget": ORACLE_UNIMAX,
    "corpus_ccnet_sketch_cutoffs": ORACLE_CCNET_SKETCH,
    "corpus_boilerplate_lines": ORACLE_BOILERPLATE,
    "corpus_filter_funnel": ORACLE_FILTER_FUNNEL,
}
