"""Text-analysis operators over the ``documents`` table (training-data
pipeline scope): token counting, quality scoring, language-ID heuristic,
document fingerprinting.  All pure column expressions (JVM-side, zero UDFs)
with DuckDB oracles replicating the same definitions.

The synthetic corpus is a uniform word salad (no real language signal), so
language-ID is checked as *the operator's own deterministic output* — the
n-gram/function-word heuristic computed identically in both engines — not
against the synthetic ``lang`` label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark.queries.dedup import _shingles, dup_corpus
from mongraph_spark.sparkutil import lineage_cut, read_table, scale_out

# function words whose density signals English-like text
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _words(col: str = "text"):
    return F.split(F.lower(F.col(col)), r"\s+")


# -- token counting: whitespace tokens + a BPE-ish subword regex count ---------


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(_words()).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        # BPE-ish: count alphanumeric runs of <=4 chars as one unit each,
        # longer runs as ceil(len/4) units (crude subword estimate)
        F.aggregate(
            F.transform(
                _words(), lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_subwords"),
    )


ORACLE_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
       length(text) AS n_chars_measured,
       CAST(list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
                               w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
FROM documents
"""


# -- quality scoring: length / mean word length / stopword ratio ----------------


def with_quality(docs: DataFrame) -> DataFrame:
    """Append the quality columns (n_tokens, mean_word_len_bp, stopword_bp,
    quality_bp) to ``docs``, keeping its existing columns — the reusable form
    consumed by pipeline.source-cap ranking as well as :func:`text_quality`.
    Map-only: pure column expressions over the ``text`` column."""
    words = _words()
    n_tokens = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    chars_adj = F.length("text") - (n_tokens - 1)  # chars excluding separators
    mwl_bp = F.floor(F.lit(10000) * chars_adj / (8 * n_tokens))
    len_bp = F.least(F.lit(10000), n_tokens * 100)
    stop_bp = F.least(F.lit(10000), F.floor(F.lit(10000) * stop_hits * 5 / n_tokens))
    quality_bp = F.when(n_tokens < 5, F.lit(0)).otherwise(
        (len_bp * 5 + F.least(F.lit(10000), mwl_bp) * 3 + (10000 - stop_bp) * 2) / 10
    )
    return (
        docs.withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_word_len_bp",
            F.floor(F.lit(10000) * chars_adj / F.col("n_tokens")).cast("long"),
        )
        .withColumn(
            "stopword_bp",
            F.floor(F.lit(10000) * stop_hits / F.col("n_tokens")).cast("long"),
        )
        .withColumn("quality_bp", F.floor(quality_bp).cast("long"))
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scores are *integer basis points* (0..10000 per component): the whole
    pipeline is integer arithmetic + floor, so the result is bit-identical in
    any engine — float rounding-mode differences can't flip a value hash."""
    docs = read_table(spark, sf_dir, "documents")
    return with_quality(docs).select(
        "doc_id", "n_tokens", "mean_word_len_bp", "stopword_bp", "quality_bp"
    )


_STOP_SQL = "', '".join(STOPWORDS)


def oracle_quality_sql(extra_cols: str = "") -> str:
    """DuckDB replica of :func:`with_quality`.  ``extra_cols`` (e.g.
    ``", source"``) carries additional document columns through the CTE chain
    so composing oracles (pipeline source cap) can rank within them."""
    return f"""
WITH t AS (
  SELECT doc_id{extra_cols},
         string_split_regex(lower(text), '\\s+') AS words,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id{extra_cols},
         len(words) AS n_tokens,
         n_chars - (len(words) - 1) AS chars_adj,
         len(list_filter(words, w -> w IN ('{_STOP_SQL}'))) AS stop_hits
  FROM t
), b AS (
  SELECT doc_id{extra_cols}, n_tokens,
         CAST(floor(10000.0 * chars_adj / (8 * n_tokens)) AS BIGINT) AS mwl_bp,
         least(10000, n_tokens * 100) AS len_bp,
         least(10000, CAST(floor(10000.0 * stop_hits * 5 / n_tokens) AS BIGINT)) AS stop_bp,
         CAST(floor(10000.0 * chars_adj / n_tokens) AS BIGINT) AS mean_word_len_bp,
         CAST(floor(10000.0 * stop_hits / n_tokens) AS BIGINT) AS stopword_bp
  FROM m
)
SELECT doc_id{extra_cols}, n_tokens, mean_word_len_bp, stopword_bp,
       CAST(floor(CASE WHEN n_tokens < 5 THEN 0 ELSE
         (len_bp * 5 + least(10000, mwl_bp) * 3 + (10000 - stop_bp) * 2) / 10.0
       END) AS BIGINT) AS quality_bp
FROM b
"""


ORACLE_QUALITY = oracle_quality_sql()


# -- language ID: function-word density heuristic --------------------------------


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold check is exact integer math (20*hits >= n_tokens ⇔
    ratio >= 0.05), signal in integer basis points — engine-independent."""
    docs = read_table(spark, sf_dir, "documents")
    words = _words()
    n_tokens = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return docs.select(
        "doc_id",
        F.floor(F.lit(10000) * stop_hits / n_tokens).cast("long").alias("en_signal_bp"),
        F.when(20 * stop_hits >= n_tokens, "en").otherwise("und").alias("predicted_lang"),
    )


ORACLE_LANG_ID = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w IN ('{_STOP_SQL}'))) AS stop_hits,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id,
       CAST(floor(10000.0 * stop_hits / n_tokens) AS BIGINT) AS en_signal_bp,
       CASE WHEN 20 * stop_hits >= n_tokens THEN 'en' ELSE 'und' END AS predicted_lang
FROM t
"""


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation of the language-ID heuristic against the
    corpus's labeled ``lang`` column — the confusion matrix + per-class
    precision/recall every filter model must publish before it gates a
    pipeline (the text-side sibling of ann_recall_report and
    dedup_recall_report): each (actual, predicted) cell with count, and
    the predicted class's precision / actual class's recall in floored
    basis points.

    Labels beyond 'en' all map to the heuristic's 'und', so the matrix
    also shows WHICH non-English labels leak into 'en' (stopword false
    hits).  Shape: the predictor is map-only (same scan as text_lang_id);
    the matrix is a ≤ |langs|·2 count agg, marginals ride two tiny
    windows over it.  All integers."""
    docs = read_table(spark, sf_dir, "documents")
    words = _words()
    n_tokens = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    labeled = docs.select(
        F.col("lang").alias("actual"),
        F.when(20 * stop_hits >= n_tokens, "en").otherwise("und").alias(
            "predicted"
        ),
    )
    cells = labeled.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    return cells.select(
        "actual",
        "predicted",
        "n",
        F.expr("CAST((10000 * n) DIV sum(n) OVER (PARTITION BY predicted) AS BIGINT)").alias(
            "precision_bp"
        ),
        F.expr("CAST((10000 * n) DIV sum(n) OVER (PARTITION BY actual) AS BIGINT)").alias(
            "recall_bp"
        ),
    )


ORACLE_LANGID_CONFUSION = f"""
WITH labeled AS (
  SELECT lang AS actual,
         CASE WHEN 20 * len(list_filter(string_split_regex(lower(text), '\\s+'),
                                        w -> w IN ('{_STOP_SQL}')))
                   >= len(string_split_regex(lower(text), '\\s+'))
              THEN 'en' ELSE 'und' END AS predicted
  FROM documents
),
cells AS (
  SELECT actual, predicted, count(*) AS n FROM labeled GROUP BY 1, 2
)
SELECT actual, predicted, n,
       CAST((10000 * n) // sum(n) OVER (PARTITION BY predicted) AS BIGINT)
         AS precision_bp,
       CAST((10000 * n) // sum(n) OVER (PARTITION BY actual) AS BIGINT)
         AS recall_bp
FROM cells
"""


# -- fingerprinting: whole-doc hash + minimum shingle hash (winnowing-style) -----


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    words = F.split(normalized, " ")
    # _shingles = zip_with form (per-ROW evaluation; the index-transform
    # captures `words` and re-splits per element — the winnowing bug class);
    # array_distinct inside it cannot change an array_min
    shingles = _shingles(words)
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("doc_hash"),
        F.array_min(F.transform(shingles, F.md5)).alias("min_shingle_hash"),
    )


ORACLE_FINGERPRINT = """
WITH t AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), s AS (
  SELECT doc_id, norm,
         string_split(norm, ' ') AS words
  FROM t
)
SELECT doc_id,
       md5(norm) AS doc_hash,
       list_min(list_transform(
         range(1, greatest(len(words) - 3, 0) + 2),
         i -> md5(array_to_string(words[i:i+2], ' '))
       )) AS min_shingle_hash
FROM s
"""


# -- regex content scan (the PII-detection shape) --------------------------------

# word-boundary patterns chosen to be identical in Java regex (Spark) and
# RE2 (DuckDB): literal alternation + \b, no lookaround
SCAN_TERM_PATTERN = r"\b(table|key)\b"
SCAN_EMAIL_PATTERN = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"


# -- merged evidence rows ---------------------------------------------------------
#
# One scan computing every per-document text metric (tokens / quality /
# lang-ID / fingerprint) — the shape a production corpus profiler actually
# runs: a single map-only projection, not four passes.  The standalone
# queries stay registered for the extended gate.


def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    words = _words()
    n_tokens = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    chars_adj = F.length("text") - (n_tokens - 1)
    mwl_bp = F.floor(F.lit(10000) * chars_adj / (8 * n_tokens))
    len_bp = F.least(F.lit(10000), n_tokens * 100)
    stop_bp = F.least(F.lit(10000), F.floor(F.lit(10000) * stop_hits * 5 / n_tokens))
    quality_bp = F.when(n_tokens < 5, F.lit(0)).otherwise(
        (len_bp * 5 + F.least(F.lit(10000), mwl_bp) * 3 + (10000 - stop_bp) * 2) / 10
    )
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    nwords = F.split(normalized, " ")
    shingles = _shingles(nwords)  # zip_with form — see text_fingerprint note
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.aggregate(
            F.transform(
                _words(), lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_subwords"),
        F.floor(F.lit(10000) * chars_adj / n_tokens).cast("long").alias("mean_word_len_bp"),
        F.floor(F.lit(10000) * stop_hits / n_tokens).cast("long").alias("stopword_bp"),
        F.floor(quality_bp).cast("long").alias("quality_bp"),
        F.floor(F.lit(10000) * stop_hits / n_tokens).cast("long").alias("en_signal_bp"),
        F.when(20 * stop_hits >= n_tokens, "en").otherwise("und").alias("predicted_lang"),
        F.md5(normalized).alias("doc_hash"),
        F.array_min(F.transform(shingles, F.md5)).alias("min_shingle_hash"),
    )


ORACLE_TEXT_METRICS = f"""
SELECT a.doc_id, a.n_tokens, a.n_chars_measured, a.n_subwords,
       b.mean_word_len_bp, b.stopword_bp, b.quality_bp,
       c.en_signal_bp, c.predicted_lang,
       d.doc_hash, d.min_shingle_hash
FROM ({ORACLE_TOKEN_COUNTS}) a
JOIN ({ORACLE_QUALITY}) b USING (doc_id)
JOIN ({ORACLE_LANG_ID}) c USING (doc_id)
JOIN ({ORACLE_FINGERPRINT}) d USING (doc_id)
"""


def text_scan_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex content scan + PII-shape redaction in one per-document pass:
    per-doc pattern hit counts (the detection side) plus the redacted-text
    audit columns (count, length, fingerprint).  Map-only JVM codegen —
    zero shuffles at any scale; the per-lang rollup of the standalone scan
    query is just an aggregation of these rows."""
    docs = read_table(spark, sf_dir, "documents")
    term_hits = F.size(F.regexp_extract_all("text", F.lit(SCAN_TERM_PATTERN), F.lit(0)))
    email_hits = F.size(
        F.regexp_extract_all("text", F.lit(SCAN_EMAIL_PATTERN), F.lit(0))
    )
    masked = F.regexp_replace(
        F.regexp_replace("text", F.lit(SCAN_EMAIL_PATTERN), F.lit("[EMAIL]")),
        F.lit(SCAN_TERM_PATTERN),
        F.lit("[TERM]"),
    )
    return docs.select(
        "doc_id",
        "lang",
        term_hits.cast("long").alias("term_hits"),
        email_hits.cast("long").alias("email_hits"),
        (term_hits + email_hits).cast("long").alias("n_redactions"),
        F.length(masked).cast("long").alias("n_chars_redacted"),
        F.md5(masked).alias("redacted_hash"),
    )


ORACLE_SCAN_REDACT = f"""
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(text, '{SCAN_TERM_PATTERN}')) AS BIGINT) AS term_hits,
       CAST(len(regexp_extract_all(text, '{SCAN_EMAIL_PATTERN}')) AS BIGINT) AS email_hits,
       CAST(len(regexp_extract_all(text, '{SCAN_TERM_PATTERN}'))
            + len(regexp_extract_all(text, '{SCAN_EMAIL_PATTERN}')) AS BIGINT) AS n_redactions,
       CAST(length(masked) AS BIGINT) AS n_chars_redacted,
       md5(masked) AS redacted_hash
FROM (
  SELECT doc_id, lang, text,
         regexp_replace(regexp_replace(text, '{SCAN_EMAIL_PATTERN}', '[EMAIL]', 'g'),
                        '{SCAN_TERM_PATTERN}', '[TERM]', 'g') AS masked
  FROM documents
)
"""


# -- winnowing fingerprints (MOSS-style local document sketches) -------------------

WINNOW_K = 3  # words per shingle
WINNOW_W = 4  # shingle hashes per winnowing window


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    ``K``-word shingle, slide a ``W``-hash window over the hash sequence,
    keep each window's minimum — guaranteeing at least one fingerprint per
    ``W`` consecutive shingles, so local similarity is detectable at a
    ``1/W`` storage footprint (vs min-hash, which is global-only).

    All per-document work is closed-form array expressions (transform /
    slice / array_min) inside whole-stage codegen — no explode, no UDF, no
    row expansion.  Only the per-source audit shuffles: the distinct-
    fingerprint count explodes ONLY the winnowed minima (≤ n_shingles/1,
    typically ~1/W of them), not the shingle stream.  Output per source:
    docs, shingle volume, per-doc fingerprint volume, corpus-distinct
    fingerprints (the dedup-index size this source would cost)."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    words = F.split(normalized, " ")
    # ORDERED k-grams via chained zip_with over shifted slices — the
    # per-row-evaluated idiom (dedup._shingles, minus its array_distinct:
    # winnowing's sliding window needs the gram SEQUENCE).  The
    # index-transform form (`transform(sequence(...), i -> md5(concat_ws(
    # slice(words, i+1, K))))`) captures `words` in its lambda, so the
    # split re-evaluates PER GRAM — O(n²) per doc, the same
    # CollapseProject/lambda-capture class as the window-side bug below.
    # Short docs (< K words) zip the shorter shifted slices as nulls and
    # concat_ws skips them: same single truncated gram as before.
    n_grams = F.greatest(F.size(words) - WINNOW_K + 1, F.lit(1))
    gram_text = F.slice(words, 1, n_grams)
    for _k in range(2, WINNOW_K + 1):
        gram_text = F.zip_with(
            gram_text, F.slice(words, _k, n_grams), lambda a, b: F.concat_ws(" ", a, b)
        )
    grams = F.transform(gram_text, lambda g: F.md5(g))  # lambda-var-only: safe
    # HARD materialization barrier before the window pass: referencing the
    # `grams` expression inside the `wins` lambda lets CollapseProject
    # inline the whole md5 transform into EVERY window position — O(n²)
    # md5 per document in an interpreted expression tree (measured 388 s
    # for the sf0.1 scan; a plain two-select split gets re-collapsed and
    # stays ~270 s).  The eager lineage_cut cuts the projection chain
    # so the gram pass runs ONCE (total ~5 s) — the same fingerprint-once
    # pattern dedup.py uses, and the honest production shape too: a MOSS
    # index build materializes its fingerprint table anyway.
    with_grams = lineage_cut(docs.select("source", grams.alias("grams")))
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("grams") - WINNOW_W, F.lit(0))),
        lambda j: F.array_min(F.slice("grams", j + 1, WINNOW_W)),
    )
    per_doc = with_grams.select(
        "source",
        F.size("grams").cast("long").alias("n_grams"),
        F.array_distinct(wins).alias("fps"),
    )
    sums = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum(F.size("fps")).cast("long").alias("total_fps"),
    )
    corpus = (
        per_doc.select("source", F.explode("fps").alias("fp"))
        .groupBy("source")
        .agg(F.count_distinct("fp").alias("corpus_distinct_fps"))
    )
    return sums.join(corpus, "source")


ORACLE_WINNOWING = f"""
WITH t AS (
  SELECT doc_id, source,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), s AS (
  SELECT doc_id, source, string_split(norm, ' ') AS words FROM t
), g AS (
  SELECT doc_id, source,
         list_transform(
           range(1, greatest(len(words) - {WINNOW_K}, 0) + 2),
           i -> md5(array_to_string(words[i:i+{WINNOW_K - 1}], ' '))
         ) AS grams
  FROM s
), wdoc AS (
  SELECT doc_id, source, CAST(len(grams) AS BIGINT) AS n_grams,
         list_distinct(list_transform(
           range(1, greatest(len(grams) - {WINNOW_W}, 0) + 2),
           j -> list_min(grams[j:j+{WINNOW_W - 1}])
         )) AS fps
  FROM g
), per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_grams) AS BIGINT) AS total_grams,
         CAST(sum(len(fps)) AS BIGINT) AS total_fps
  FROM wdoc GROUP BY source
), corpus AS (
  SELECT source, CAST(count(DISTINCT fp) AS BIGINT) AS corpus_distinct_fps
  FROM (SELECT source, unnest(fps) AS fp FROM wdoc) GROUP BY source
)
SELECT p.source, n_docs, total_grams, total_fps, corpus_distinct_fps
FROM per_source p JOIN corpus c ON p.source = c.source
"""


WINNOW_PAIR_MAX_DF = 10  # stop-fingerprints: shared by more docs are dropped
WINNOW_PAIR_MIN_BP = 5000  # report pairs sharing a majority of fingerprints


def text_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism-pair detection over winnowing fingerprints — what MOSS
    does with the fingerprints :func:`text_winnowing` audits: explode each
    doc's winnowed minima, self-join on the fingerprint key, and report
    pairs whose shared-fingerprint CONTAINMENT (shared / smaller side)
    clears 50%.  Runs on the planted near-dup corpus (verbatim copy minus
    the last word) so the evidence row proves detection, not absence.

    Scale guards, both load-bearing at 100 TB: (1) the join key is the
    fingerprint, and STOP-fingerprints (document frequency >
    {WINNOW_PAIR_MAX_DF}) are dropped before the self-join — boilerplate
    shared by thousands of docs would otherwise contribute O(df²) pairs
    (MOSS's own common-code filter); (2) the pair aggregation is keyed on
    the (a,b) id pair, so candidate volume is bounded by Σ df² over
    SURVIVING fingerprints, never |docs|².  Same candidate-generation
    posture as the LSH dedup family, but fingerprint-local: shared
    PASSAGES, not global similarity."""
    corpus = dup_corpus(spark, sf_dir, drop_last=1)
    words = F.split(F.col("text"), " ")
    n_grams = F.greatest(F.size(words) - WINNOW_K + 1, F.lit(1))
    gram_text = F.slice(words, 1, n_grams)
    for _k in range(2, WINNOW_K + 1):
        gram_text = F.zip_with(
            gram_text, F.slice(words, _k, n_grams), lambda a, b: F.concat_ws(" ", a, b)
        )
    grams = F.transform(gram_text, lambda g: F.md5(g))
    with_grams = lineage_cut(corpus.select("doc_id", grams.alias("grams")))
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("grams") - WINNOW_W, F.lit(0))),
        lambda j: F.array_min(F.slice("grams", j + 1, WINNOW_W)),
    )
    per_doc = with_grams.select("doc_id", F.array_distinct(wins).alias("fps"))
    fp_tab = per_doc.select("doc_id", F.explode("fps").alias("fp"))
    df_ok = (
        fp_tab.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_PAIR_MAX_DF)
        .select("fp")
    )
    kept = fp_tab.join(df_ok, "fp")
    a = kept.select(F.col("doc_id").alias("id_a"), "fp")
    b = kept.select(F.col("doc_id").alias("id_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = per_doc.select("doc_id", F.size("fps").alias("nf"))
    return (
        shared.join(sizes.withColumnsRenamed({"doc_id": "id_a", "nf": "nf_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "nf": "nf_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.floor(
                F.lit(10000) * F.col("n_shared") / F.least("nf_a", "nf_b")
            )
            .cast("bigint")
            .alias("containment_bp"),
        )
        .filter(F.col("containment_bp") >= WINNOW_PAIR_MIN_BP)
    )


def _oracle_winnowing_pairs() -> str:
    from mongraph_spark.queries.dedup import _oracle_corpus_droplast

    return f"""
WITH {_oracle_corpus_droplast(1)},
s AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
g AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(words) - {WINNOW_K}, 0) + 2),
           i -> md5(array_to_string(words[i:i+{WINNOW_K - 1}], ' '))
         ) AS grams
  FROM s
),
wdoc AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(grams) - {WINNOW_W}, 0) + 2),
           j -> list_min(grams[j:j+{WINNOW_W - 1}])
         )) AS fps
  FROM g
),
fp_tab AS (SELECT doc_id, unnest(fps) AS fp FROM wdoc),
df_ok AS (SELECT fp FROM fp_tab GROUP BY fp HAVING count(*) <= {WINNOW_PAIR_MAX_DF}),
kept AS (SELECT t.doc_id, t.fp FROM fp_tab t JOIN df_ok USING (fp)),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(fps) AS nf FROM wdoc)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(floor(10000 * n_shared / least(sa.nf, sb.nf)) AS BIGINT) AS containment_bp
FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE floor(10000 * n_shared / least(sa.nf, sb.nf)) >= {WINNOW_PAIR_MIN_BP}
"""


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-word bigrams ranked by LIFT — how much
    more often the pair co-occurs than its unigram frequencies predict (the
    integer-safe stand-in for PMI, which needs a cross-engine log()).  The
    keyphrase-extraction primitive (RAKE/PMI family) every corpus-analysis
    pass runs.

    Distributed shape: one explode → bigram-keyed count (map-side combined,
    Zipf-skew absorbed by partial aggs), per-word counts joined onto the
    support-filtered pair table WITHOUT a broadcast hint — a real
    vocabulary (10M-1B types with typos) does not fit a broadcast, so the
    join strategy is left to AQE: it broadcasts when the measured vocab is
    small and shuffles on the word key when it is not (the support filter
    has already shrunk the pair side).  A broadcast 1-row total, then a
    deterministic top-50 by (lift, support, pair) via TakeOrdered — no
    global sort.  Support ≥ 5 filters hapax noise; lift arithmetic is the
    shared double-shape (cast at the first multiply, one divide, floor)."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    # Adjacent-pair bigrams via zip_with of the two shifted slices (the
    # repetition_filter idiom): the word array is evaluated per ROW.  The
    # index-transform alternative (`transform(sequence(...), i -> split(
    # text)[i])`) re-evaluates the split lambda-captured expression PER
    # ELEMENT — the same CollapseProject inlining class as the winnowing
    # bug, measured ~2× slower here.  zip_with of equal-length slices is
    # structurally empty for 1-word docs (no sequence(1,0) descending trap).
    words_col = F.split(F.lower("text"), r"\s+")
    base = docs.select(words_col.alias("ws"), F.size(words_col).alias("n"))
    two = F.zip_with(
        F.slice(F.col("ws"), 1, F.col("n") - 1),
        F.slice(F.col("ws"), 2, F.col("n") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bigrams = base.select(F.explode(two).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    unigrams = docs.select(F.explode(words_col).alias("w"))
    pair_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    word_counts = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    n_total = bigrams.agg(F.count(F.lit(1)).alias("n_total"))
    c1 = word_counts.select(F.col("w").alias("w1"), F.col("n_w").alias("n_1"))
    c2 = word_counts.select(F.col("w").alias("w2"), F.col("n_w").alias("n_2"))
    return (
        pair_counts.filter(F.col("n_pair") >= 5)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.col("n_pair").alias("support"),
            F.floor(
                F.lit(10000.0) * F.col("n_pair") * F.col("n_total")
                / (F.col("n_1") * F.col("n_2"))
            )
            .cast("long")
            .alias("lift_bp"),
        )
        .orderBy(F.desc("lift_bp"), F.desc("support"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


ORACLE_COLLOCATIONS = """
WITH words AS (
  SELECT string_split_regex(lower(text), '\\s+') AS ws FROM documents
),
bigrams AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM words, unnest(range(1, len(ws))) AS t(i)
),
unigrams AS (SELECT unnest(ws) AS w FROM words),
pair_counts AS (SELECT w1, w2, count(*) AS n_pair FROM bigrams GROUP BY w1, w2),
word_counts AS (SELECT w, count(*) AS n_w FROM unigrams GROUP BY w),
total AS (SELECT count(*) AS n_total FROM bigrams)
SELECT w1, w2, n_pair AS support,
       CAST(floor(10000.0 * n_pair * n_total / (c1.n_w * c2.n_w)) AS BIGINT) AS lift_bp
FROM pair_counts
JOIN word_counts c1 ON c1.w = w1
JOIN word_counts c2 ON c2.w = w2
CROSS JOIN total
WHERE n_pair >= 5
ORDER BY lift_bp DESC, support DESC, w1 ASC, w2 ASC
LIMIT 50
"""


# -- BPE merge-list tokenization --------------------------------------------------

# An ordered BPE merge list, as a trained tokenizer ships it (training runs
# offline; inference — applying merges in order, all occurrences per step —
# is the corpus-scale job).  Pairs chosen for the corpus's English-like
# character distribution; later merges build on earlier outputs.
BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("s", "t"), ("a", "r"), ("o", "r"), ("a", "t"), ("r", "o"),
    ("l", "e"), ("c", "h"), ("in", "g"), ("b", "a"), ("ba", "t"),
    ("bat", "ch"),
]


def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenizer inference — not the ceil(len/4) subword estimate
    of text_token_counts: space out every character, then apply the
    {n}-entry ordered merge list exactly as BPE inference does (each merge
    rewrites ALL current occurrences of its pair before the next merge
    runs), and count the resulting subword units.  Reports per-source
    token economics: fertility (BPE tokens per whitespace word) is THE
    number a training-data team budgets context length with.

    Distributed shape: the whole tokenizer is a chain of {n} literal
    ``replace`` calls on one projected column — map-only, whole-stage
    codegen, zero shuffles before the per-source rollup, and
    embarrassingly scan-bound at 100 TB.  Word boundaries need no
    sentinel: the char-spacing doubles original spaces, so a merge pair
    (single interior space) can never match across words."""
    docs = read_table(spark, sf_dir, "documents")
    spaced = F.regexp_replace(F.lower("text"), "(.)", "$1 ")
    merged = spaced
    for a, b in BPE_MERGES:
        merged = F.call_function("replace", merged, F.lit(f"{a} {b}"), F.lit(f"{a}{b}"))
    n_words = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    n_bpe = F.size(F.split(F.trim(merged), r"\s+"))
    per_doc = docs.select(
        "source",
        n_words.cast("bigint").alias("n_words"),
        n_bpe.cast("bigint").alias("n_bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe").alias("n_bpe_tokens"),
        F.expr("CAST((10000 * sum(n_bpe)) DIV sum(n_words) AS BIGINT)").alias(
            "fertility_bp"
        ),
    )


def _bpe_oracle() -> str:
    merged = "regexp_replace(lower(text), '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        merged = f"replace({merged}, '{a} {b}', '{a}{b}')"
    return f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_words,
         CAST(len(string_split_regex(trim({merged}), '\\s+')) AS BIGINT) AS n_bpe
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST((10000 * sum(n_bpe)) // sum(n_words) AS BIGINT) AS fertility_bp
FROM per_doc GROUP BY source
"""


ORACLE_BPE = _bpe_oracle()


BPE_TRAIN_ROUNDS = 6


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterative loop
    that *learns* the merge list :func:`text_bpe_tokenize` only applies:
    start from the char-spaced corpus, and for BPE_TRAIN_ROUNDS rounds (a) count every
    adjacent symbol pair corpus-wide, (b) take the most frequent pair
    (ties: count DESC, then pair ASC — a total order, so the argmax is
    engine-independent), (c) rewrite all its occurrences into one symbol.
    This is the real "train a tokenizer on the corpus you just cleaned"
    step of a training-data pipeline, run where the corpus lives instead
    of funneling 100 TB through a single-node trainer.

    Distributed shape: each round is ONE corpus scan → map-side-combined
    pair count (shuffle width = |distinct pairs|, vocabulary-bounded, not
    corpus-bounded) → ``TakeOrderedAndProject(1)`` for the argmax (per-
    partition top-1 + driver merge — never a global sort) → a map-only
    literal ``replace`` rewrite, cut (``lineage_cut``) so round k+1 scans the
    merged text rather than a k-deep expression chain.  Only the single
    winning pair ever reaches the driver (1 row/round).  At a production
    32k-merge vocabulary you batch the top-J non-conflicting pairs per
    scan (J ~ hundreds) to amortize passes; the per-round algebra is
    unchanged.  Overlap semantics (``replace`` = leftmost non-overlapping)
    are identical in Spark and DuckDB, so the oracle replays training
    exactly — merges, counts, and the post-merge corpus token total.

    Output: one row per learned merge — rank, the pair, its count at
    selection time, and the corpus token count after applying it (strictly
    decreasing; pinned in tests)."""
    docs = read_table(spark, sf_dir, "documents")
    # spread the corpus across the cluster ONCE before the loop: the source
    # is a single small parquet split, and without this every round's pair
    # explode runs on one task (with the Observation fold below: 10.7→4.0 s
    # warm at sf0.1; the checkpoint preserves the partitioning for all rounds)
    state = (
        docs.select(F.regexp_replace(F.lower("text"), "(.)", "$1 ").alias("t"))
        .repartition(spark.sparkContext.defaultParallelism)
        .transform(lineage_cut, eager=False)
    )
    learned = bpe_train_merges(state, BPE_TRAIN_ROUNDS)
    return spark.createDataFrame(
        learned,
        "merge_rank INT, w1 STRING, w2 STRING, pair_count BIGINT, n_tokens_after BIGINT",
    )


def bpe_train_merges(
    state: DataFrame, rounds: int
) -> list[tuple[int, str, str, int, int]]:
    """The training core over an explicit corpus (column ``t``, char-spaced
    lowercase): property-tested set-equal to an independent single-process
    BPE trainer over random corpora (tests/test_property_based.py).  Stops
    early when no adjacent pair remains (degenerate corpora — all docs a
    single symbol)."""
    learned: list[tuple[int, str, str, int, int]] = []
    # not pregel.iterate: each round's rewrite needs the pair this round's
    # collect picked, and iterate's step only builds a plan
    for rank in range(1, rounds + 1):
        toks = F.split(F.col("t"), " ")
        n = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        rows = (
            state.select(F.explode(pairs).alias("p"))
            .filter((F.col("p.w1") != "") & (F.col("p.w2") != ""))
            .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "w1", "w2")
            .limit(1)
            .collect()
        )
        if not rows:
            break
        best = rows[0]
        # fold the post-merge token count into the checkpoint job itself
        # (Observation rides the materialization — 2 jobs/round, not 3)
        obs = Observation(f"bpe_{id(state)}_r{rank}")
        state = (
            state.select(
                F.call_function(
                    "replace",
                    F.col("t"),
                    F.lit(f"{best['w1']} {best['w2']}"),
                    F.lit(best["w1"] + best["w2"]),
                ).alias("t")
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.size(F.filter(F.split("t", " "), lambda x: x != ""))),
                    F.lit(0),
                ).alias("n"),
            )
            .transform(lineage_cut)
        )
        n_after = obs.get["n"]
        learned.append((rank, best["w1"], best["w2"], int(best["c"]), int(n_after)))
    return learned


# session-scoped memo of the learned merge list, keyed by (app, corpus).
# LEGITIMATE to cache: the merges are a pure function of the immutable
# parquet input, and for text_bpe_apply the training is input SCAFFOLDING
# (the operator under test is the encode), exactly like the shared IVM
# history fixture.  text_bpe_train does NOT use this memo — its measured
# cost is the training loop itself.
_BPE_MERGE_CACHE: dict[tuple[str, str], list[tuple[int, str, str, int, int]]] = {}


def _bpe_learned_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int, int]]:
    import os as _os

    key = (spark.sparkContext.applicationId, _os.path.normpath(sf_dir))
    if key not in _BPE_MERGE_CACHE:
        docs = read_table(spark, sf_dir, "documents")
        state = (
            docs.select(F.regexp_replace(F.lower("text"), "(.)", "$1 ").alias("t"))
            .repartition(spark.sparkContext.defaultParallelism)
            .transform(lineage_cut, eager=False)
        )
        _BPE_MERGE_CACHE[key] = bpe_train_merges(state, BPE_TRAIN_ROUNDS)
    return _BPE_MERGE_CACHE[key]


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer loop CLOSED: encode the corpus with the merge list
    :func:`text_bpe_train` just learned from it — train on the cleaned
    corpus, tokenize the same corpus, report what the tokenizer bought.
    (:func:`text_bpe_tokenize` applies a FIXED merge list; this one applies
    the LEARNED one, so the output shifts when the corpus does.)

    Per source: doc count, whitespace words, BPE tokens under the learned
    merges, fertility (BPE tokens per word, floor bp) and chars-per-token
    (floor bp) — the compression number that decides how many documents fit
    a context window.

    Distributed shape: training is the memoized scaffold (one driver-side
    merge list, ≤{BPE_TRAIN_ROUNDS} entries); the encode is a chain of
    {BPE_TRAIN_ROUNDS} literal ``replace`` calls on one projected column —
    map-only, whole-stage codegen, zero shuffles before the per-source
    rollup, scan-bound at 100 TB.  Token counting matches the trainer's own
    metric exactly (split on single space, drop empties), so
    ``n_bpe_tokens`` summed over sources equals the trainer's final
    ``n_tokens_after`` — pinned in tests."""
    learned = _bpe_learned_merges(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    merged = F.regexp_replace(F.lower("text"), "(.)", "$1 ")
    for _rank, w1, w2, _c, _n in learned:
        merged = F.call_function(
            "replace", merged, F.lit(f"{w1} {w2}"), F.lit(w1 + w2)
        )
    per_doc = docs.select(
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("bigint").alias(
            "n_words"
        ),
        F.size(F.filter(F.split(merged, " "), lambda x: x != ""))
        .cast("bigint")
        .alias("n_bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe").alias("n_bpe_tokens"),
        F.expr("CAST((10000 * sum(n_bpe)) DIV sum(n_words) AS BIGINT)").alias(
            "fertility_bp"
        ),
        F.expr("CAST((10000 * sum(n_chars)) DIV sum(n_bpe) AS BIGINT)").alias(
            "chars_per_token_bp"
        ),
    )


def _bpe_apply_oracle() -> str:
    # the train chain's s{R} already holds the fully-encoded text per doc;
    # reuse it (MATERIALIZED, same reasoning as the train oracle) and roll
    # up per source — no n{r} count CTEs needed here.
    body = """s0 AS MATERIALIZED (
  SELECT doc_id, regexp_replace(lower(text), '(.)', '\\1 ', 'g') AS t
  FROM documents
)"""
    prev = "s0"
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        body += f""",
b{r} AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT l[d] AS w1, l[d + 1] AS w2
    FROM (SELECT string_split(t, ' ') AS l FROM {prev}),
         UNNEST(range(1, len(l))) AS r(d)
  ) WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2 ORDER BY c DESC, w1, w2 LIMIT 1
),
s{r} AS MATERIALIZED (
  SELECT doc_id,
         replace(t, (SELECT w1 || ' ' || w2 FROM b{r}),
                    (SELECT w1 || w2 FROM b{r})) AS t
  FROM {prev}
)"""
        prev = f"s{r}"
    return f"""WITH {body},
per_doc AS (
  SELECT d.source,
         CAST(len(d.text) AS BIGINT) AS n_chars,
         CAST(len(string_split_regex(trim(lower(d.text)), '\\s+')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(s.t, ' '), x -> x <> '')) AS BIGINT) AS n_bpe
  FROM documents d JOIN {prev} s ON d.doc_id = s.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST((10000 * sum(n_bpe)) // sum(n_words) AS BIGINT) AS fertility_bp,
       CAST((10000 * sum(n_chars)) // sum(n_bpe) AS BIGINT) AS chars_per_token_bp
FROM per_doc GROUP BY source
"""


ORACLE_BPE_APPLY = _bpe_apply_oracle()


def _bpe_train_oracle() -> str:
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the round
    # chain (s_k referencing b_k referencing s_{k-1}, twice via the scalar
    # subqueries) would otherwise re-expand exponentially in the round count
    # (measured: >120 s at sf0.001 inlined, sub-second materialized).
    body = """s0 AS MATERIALIZED (
  SELECT doc_id, regexp_replace(lower(text), '(.)', '\\1 ', 'g') AS t
  FROM documents
)"""
    prev = "s0"
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        body += f""",
b{r} AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT l[d] AS w1, l[d + 1] AS w2
    FROM (SELECT string_split(t, ' ') AS l FROM {prev}),
         UNNEST(range(1, len(l))) AS r(d)
  ) WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2 ORDER BY c DESC, w1, w2 LIMIT 1
),
s{r} AS MATERIALIZED (
  SELECT doc_id,
         replace(t, (SELECT w1 || ' ' || w2 FROM b{r}),
                    (SELECT w1 || w2 FROM b{r})) AS t
  FROM {prev}
),
n{r} AS MATERIALIZED (
  SELECT CAST(sum(len(list_filter(string_split(t, ' '), x -> x <> ''))) AS BIGINT)
         AS n_tokens_after
  FROM s{r}
)"""
        prev = f"s{r}"
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, w1, w2, c AS pair_count,"
        f" (SELECT n_tokens_after FROM n{r}) AS n_tokens_after FROM b{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return f"WITH {body}\n{selects}"


ORACLE_BPE_TRAIN = _bpe_train_oracle()


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade + Flesch reading ease per source — the
    readability feature corpus-quality filters score on (Gopher/CCNet
    pipelines gate on FK-style proxies): words = non-space runs,
    sentences = terminal-punctuation runs (clamped ≥1 per doc), syllables
    ≈ vowel GROUPS (the standard cheap proxy — a vowel run is one
    nucleus), all via one regexp_count pass per doc (JVM regex and
    DuckDB RE2 agree on these character-class patterns; parity pinned by
    the oracle hash).

    Exactness: both scores are single exact rationals over per-source
    sums — FK·10³ = (390·W² + 11800·Y·S − 15590·S·W)/(S·W), FRE·10³ =
    (206835·S·W − 1015·W² − 84600·Y·S)/(S·W) — floored ONCE (trunc both
    engines; FK can go negative on trivial text).  BIGINT holds to ~10⁸
    words per source (W² term); swap to DECIMAL(38) past that.

    Scale shape: one scan with map-side-combined per-source sums; the
    score arithmetic runs on |sources| rows.  No joins, no windows."""
    docs = read_table(spark, sf_dir, "documents").select(
        "source",
        F.regexp_count("text", F.lit(r"[^ ]+")).alias("w"),
        F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)).alias("s"),
        F.regexp_count(F.lower("text"), F.lit(r"[aeiou]+")).alias("y"),
    )
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("s").cast("long").alias("sentences"),
        F.sum("y").cast("long").alias("syllables"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.expr(
            "(390 * words * words + 11800 * syllables * sentences"
            " - 15590 * sentences * words) div (sentences * words)"
        )
        .cast("long")
        .alias("fk_grade_mb"),
        F.expr(
            "(206835 * sentences * words - 1015 * words * words"
            " - 84600 * syllables * sentences) div (sentences * words)"
        )
        .cast("long")
        .alias("fre_mb"),
    )


ORACLE_READABILITY = """
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '[^ ]+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(lower(text), '[aeiou]+')) AS y
  FROM documents
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS words,
         CAST(sum(s) AS BIGINT) AS sentences,
         CAST(sum(y) AS BIGINT) AS syllables
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, words, sentences, syllables,
       CAST(CASE WHEN (390 * words * words + 11800 * syllables * sentences
                       - 15590 * sentences * words) >= 0
            THEN (390 * words * words + 11800 * syllables * sentences
                  - 15590 * sentences * words) // (sentences * words)
            ELSE -((-(390 * words * words + 11800 * syllables * sentences
                      - 15590 * sentences * words)) // (sentences * words))
            END AS BIGINT) AS fk_grade_mb,
       CAST(CASE WHEN (206835 * sentences * words - 1015 * words * words
                       - 84600 * syllables * sentences) >= 0
            THEN (206835 * sentences * words - 1015 * words * words
                  - 84600 * syllables * sentences) // (sentences * words)
            ELSE -((-(206835 * sentences * words - 1015 * words * words
                      - 84600 * syllables * sentences)) // (sentences * words))
            END AS BIGINT) AS fre_mb
FROM agg
"""


MSTTR_W = 25  # tokens per segment


def text_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: MSTTR (mean segmental type-token
    ratio, Johnson 1944) next to the raw TTR it corrects — raw TTR falls
    mechanically with document length (types saturate; the Heaps-law
    effect corpus_heaps_law measures), so corpora of different document
    lengths can't be compared on it; fixed-size segments make the ratio
    length-free.  Segments are non-overlapping {MSTTR_W}-token chunks
    (only FULL chunks count — the standard MSTTR contract; the tail is
    reported as dropped tokens, no silent truncation).

    Exactness: per-chunk distinct counts are integers; both ratios are
    single exact rationals floored once to bp.  Engine parity: Spark
    ``slice``/``array_distinct`` ≡ DuckDB 1-based inclusive list slicing
    /``list_distinct`` (verified semantics, hash-pinned).

    Scale shape: one scan, all chunk work inside per-row HOFs (no
    explode), one map-side-combined per-source aggregate."""
    w = MSTTR_W
    words = F.split(F.lower(F.col("text")), " ")
    n_tokens = F.size(words)
    n_chunks = F.expr(f"size(split(lower(text), ' ')) div {w}")
    chunk_distinct_sum = F.expr(
        f"aggregate(transform(sequence(0, size(split(lower(text), ' ')) div {w} - 1),"
        f" i -> size(array_distinct(slice(split(lower(text), ' '), i * {w} + 1, {w})))),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "source",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_types"),
        n_chunks.alias("n_chunks"),
        F.when(n_chunks > 0, chunk_distinct_sum).otherwise(0).alias("chunk_types"),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.sum("n_types").cast("long").alias("types"),
            F.sum("n_chunks").cast("long").alias("chunks"),
            F.sum("chunk_types").cast("long").alias("chunk_types"),
        )
        .select(
            "source",
            "n_docs",
            "tokens",
            "chunks",
            F.expr("(10000 * types) div tokens").cast("long").alias("raw_ttr_bp"),
            F.expr(f"(10000 * chunk_types) div ({w} * chunks)")
            .cast("long")
            .alias("msttr_bp"),
            (F.col("tokens") - F.lit(w) * F.col("chunks"))
            .cast("long")
            .alias("tail_tokens_dropped"),
        )
    )


ORACLE_MSTTR = f"""
WITH per_doc AS (
  SELECT source,
         string_split(lower(text), ' ') AS wl
  FROM documents
),
m AS (
  SELECT source,
         len(wl) AS n_tokens,
         len(list_distinct(wl)) AS n_types,
         len(wl) // {MSTTR_W} AS n_chunks,
         CASE WHEN len(wl) // {MSTTR_W} > 0 THEN
           list_sum(list_transform(range(len(wl) // {MSTTR_W}),
             i -> CAST(len(list_distinct(
                    wl[i * {MSTTR_W} + 1 : i * {MSTTR_W} + {MSTTR_W}]
                  )) AS BIGINT)))
         ELSE 0 END AS chunk_types
  FROM per_doc
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       CAST(sum(n_chunks) AS BIGINT) AS chunks,
       CAST((10000 * sum(n_types)) // sum(n_tokens) AS BIGINT) AS raw_ttr_bp,
       CAST((10000 * sum(chunk_types)) // ({MSTTR_W} * sum(n_chunks)) AS BIGINT)
         AS msttr_bp,
       CAST(sum(n_tokens) - {MSTTR_W} * sum(n_chunks) AS BIGINT)
         AS tail_tokens_dropped
FROM m GROUP BY source
"""


# -- RAKE keyword extraction -------------------------------------------------------

RAKE_TOP_K = 20


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) over the corpus — the
    phrase-level keyword extractor the battery's word-level TF-IDF and
    bigram-lift collocations don't cover: candidate phrases are the
    maximal stopword-free word runs, a word scores deg/freq (deg = Σ
    lengths of phrases containing it — long-phrase members beat isolated
    frequent words), and a phrase scores the sum of its word scores.

    Exactness: word scores are floored ONTO THE PPM GRID individually —
    (10⁶·deg) div freq, exact integers both engines — so a phrase score
    is a SUM OF INTEGERS (order-independent) and the top-K order
    (score, occurrences, phrase) is total.  Phrase assembly is
    order-pinned (sorted by word position), never a collect_list racing
    partitions.

    Scale shape: one explode → stopword-prefix-sum windows per doc (doc-
    partitioned), two map-side-combined aggregations (word stats, phrase
    counts), a broadcast-joined rescore of the DISTINCT phrase
    vocabulary, and a TakeOrdered top-K — no global sort of the corpus."""
    docs = scale_out(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word"),
    ).filter(F.length("word") > 0)
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.withColumn(
        "grp", F.sum(F.col("word").isin(STOPWORDS).cast("int")).over(w_doc)
    ).filter(~F.col("word").isin(STOPWORDS))
    phrases = marked.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("phrase_len"),
    )
    word_stats = (
        marked.join(phrases.select("doc_id", "grp", "phrase_len"), ["doc_id", "grp"])
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("phrase_len").alias("deg"),
        )
        .selectExpr(
            "word",
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * deg) div freq AS BIGINT)"
            " AS word_score_ppm",
        )
    )
    phrase_counts = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    rescored = (
        phrase_counts.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(word_stats, "word")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("word_score_ppm").cast("long").alias("score_ppm"))
    )
    return rescored.orderBy(
        F.desc("score_ppm"), F.desc("n_occurrences"), "phrase"
    ).limit(RAKE_TOP_K)


ORACLE_RAKE = f"""
WITH toks AS (
  SELECT doc_id, t.word, t.pos
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS word,
                       generate_subscripts(string_split(lower(text), ' '), 1) AS pos) t
  WHERE length(t.word) > 0
),
marked AS (
  SELECT doc_id, word, pos,
         sum(CASE WHEN word IN ('{_STOP_SQL}') THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM toks
),
nonstop AS (
  SELECT * FROM marked WHERE word NOT IN ('{_STOP_SQL}')
),
phrases AS (
  SELECT doc_id, grp,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         count(*) AS phrase_len
  FROM nonstop GROUP BY 1, 2
),
word_stats AS (
  SELECT n.word,
         CAST((1000000 * CAST(sum(p.phrase_len) AS HUGEINT)) // count(*) AS BIGINT)
           AS word_score_ppm
  FROM nonstop n JOIN phrases p ON n.doc_id = p.doc_id AND n.grp = p.grp
  GROUP BY n.word
),
phrase_counts AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM phrases GROUP BY 1
),
rescored AS (
  SELECT pc.phrase, pc.n_occurrences,
         CAST(sum(ws.word_score_ppm) AS BIGINT) AS score_ppm
  FROM phrase_counts pc,
       LATERAL (SELECT unnest(string_split(pc.phrase, ' ')) AS word) pw
  JOIN word_stats ws ON pw.word = ws.word
  GROUP BY 1, 2
)
SELECT phrase, n_occurrences, score_ppm
FROM rescored
ORDER BY score_ppm DESC, n_occurrences DESC, phrase
LIMIT {RAKE_TOP_K}
"""


# -- TextRank keyword centrality --------------------------------------------------

TR_ROUNDS = 5  # power-iteration depth (grid renorm keeps magnitudes constant)
TR_GRID = 1000  # integer score grid
TR_MIN_LEN = 5  # content-word proxy: tokens shorter than this are skipped
TR_TOPK = 20


def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank-style keyword extraction (Mihalcea & Tarau 2004, the
    graph sibling of this battery's frequency-based RAKE): build the
    corpus word CO-OCCURRENCE graph (adjacent content tokens, window 2,
    undirected) and rank words by power-iteration centrality — a word
    matters when it co-occurs with words that matter, which surfaces
    hub terms plain counts miss.

    Exactness: the iteration renormalizes onto the INTEGER GRID each
    round (x' = (G·Σ_{u∼v}x_u) div max — the eigenvector-centrality
    house pattern: every score an exact integer in [0, G], magnitudes
    constant at any depth, engine-order-independent), and the top-K cut
    is a fully-ordered (score DESC, word ASC) LIMIT both engines share.
    Simplifications vs the paper, stated: unweighted unique-pair edges
    and undamped iteration — the grid renorm plays the damping's
    numerical role.

    Scale shape: tokenize + adjacent-pair explode is one map-only pass;
    the graph is vocabulary-sized (orders below corpus size); each round
    is ONE join keyed on src + a map-side-combined agg + a broadcast
    1-row max — the bounded-lineage iterate shape shared with the graph
    battery."""
    from mongraph_spark import pregel

    docs = read_table(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), r"\s+").alias("ws")
    )
    bigr = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    edges = bigr.filter(
        (F.length("w1") >= TR_MIN_LEN)
        & (F.length("w2") >= TR_MIN_LEN)
        & (F.col("w1") != F.col("w2"))
    )
    und = (
        edges.select("w1", "w2")
        .union(edges.select(F.col("w2").alias("w1"), F.col("w1").alias("w2")))
        .distinct()
        .persist()
    )
    nodes = und.select(F.col("w1").alias("w")).distinct()

    def step(x):
        c = (
            x.join(und, x["w"] == und["w1"])
            .select(F.col("w2").alias("w"), "score")
            .groupBy("w")
            .agg(F.sum("score").cast("decimal(38,0)").alias("c"))
        )
        m = c.agg(F.max("c").alias("m"))
        return (
            nodes.join(c, "w", "left")
            .crossJoin(F.broadcast(m))
            .selectExpr(
                "w",
                f"CAST((CAST({TR_GRID} AS DECIMAL(38,0)) * coalesce(c, 0))"
                " div m AS BIGINT) AS score",
            )
        )

    try:
        x0 = nodes.select("w", F.lit(TR_GRID).cast("long").alias("score"))
        x, _ = pregel.iterate(
            x0, step, max_rounds=TR_ROUNDS, checkpoint_every=1
        )  # per-round broadcast-max action: checkpoint every round (see eigenvector)
    finally:
        und.unpersist()
    return (
        x.orderBy(F.col("score").desc(), F.col("w").asc())
        .limit(TR_TOPK)
        .select(F.col("w").alias("word"), "score")
    )


def _textrank_oracle() -> str:
    body = """WITH words AS (
  SELECT string_split_regex(lower(text), '\\s+') AS ws FROM documents
),
bigr AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM words, unnest(range(1, len(ws))) AS t(i)
),
edges AS (
  SELECT w1, w2 FROM bigr
  WHERE length(w1) >= {minlen} AND length(w2) >= {minlen} AND w1 <> w2
),
und AS MATERIALIZED (
  SELECT DISTINCT w1, w2 FROM (
    SELECT w1, w2 FROM edges UNION ALL SELECT w2 AS w1, w1 AS w2 FROM edges
  )
),
nodes AS (SELECT DISTINCT w1 AS w FROM und),
x0 AS (SELECT w, CAST({grid} AS BIGINT) AS score FROM nodes)"""
    prev = "x0"
    for k in range(1, TR_ROUNDS + 1):
        body += f""",
c{k} AS (
  SELECT u.w2 AS w, CAST(sum(x.score) AS HUGEINT) AS c
  FROM {prev} x JOIN und u ON x.w = u.w1
  GROUP BY u.w2
),
m{k} AS (SELECT max(c) AS m FROM c{k}),
x{k} AS MATERIALIZED (
  SELECT n.w,
         CAST((CAST({{grid}} AS HUGEINT) * coalesce(c.c, 0)) // m.m AS BIGINT)
           AS score
  FROM nodes n LEFT JOIN c{k} c ON n.w = c.w CROSS JOIN m{k} m
)"""
        prev = f"x{k}"
    body += f"""
SELECT w AS word, score FROM x{TR_ROUNDS}
ORDER BY score DESC, w ASC
LIMIT {{topk}}"""
    return body.format(minlen=TR_MIN_LEN, grid=TR_GRID, topk=TR_TOPK)


ORACLE_TEXTRANK = _textrank_oracle()


QUERIES = {
    "text_textrank_keywords": text_textrank_keywords,
    "text_rake_keywords": text_rake_keywords,
    "text_readability": text_readability,
    "text_msttr": text_msttr,
    "text_bpe_train": text_bpe_train,
    "text_bpe_apply": text_bpe_apply,
    "text_bpe_tokenize": text_bpe_tokenize,
    "text_langid_confusion": text_langid_confusion,
    "text_winnowing_pairs": text_winnowing_pairs,
    "text_metrics": text_metrics,
    "text_scan_redact": text_scan_redact,
    "text_token_counts": text_token_counts,
    # pattern_scan + pii_redact ride the merged text_scan_redact row
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_winnowing": text_winnowing,
    "text_collocations": text_collocations,
}

ORACLES = {
    "text_textrank_keywords": ORACLE_TEXTRANK,
    "text_rake_keywords": ORACLE_RAKE,
    "text_readability": ORACLE_READABILITY,
    "text_msttr": ORACLE_MSTTR,
    "text_bpe_train": ORACLE_BPE_TRAIN,
    "text_bpe_apply": ORACLE_BPE_APPLY,
    "text_bpe_tokenize": ORACLE_BPE,
    "text_langid_confusion": ORACLE_LANGID_CONFUSION,
    "text_winnowing_pairs": _oracle_winnowing_pairs(),
    "text_metrics": ORACLE_TEXT_METRICS,
    "text_scan_redact": ORACLE_SCAN_REDACT,
    "text_token_counts": ORACLE_TOKEN_COUNTS,
    "text_quality": ORACLE_QUALITY,
    "text_lang_id": ORACLE_LANG_ID,
    "text_fingerprint": ORACLE_FINGERPRINT,
    "text_winnowing": ORACLE_WINNOWING,
    "text_collocations": ORACLE_COLLOCATIONS,
}
