"""Deduplication operators over ``documents`` (training-data pipeline scope):
exact (hash-groupBy), n-gram Jaccard (inverted shingle index), MinHash+LSH
(band-bucket join), SimHash (hash-nibble majority vote).

The synthetic corpus has no duplicates, so each query builds a deterministic
*duplication corpus* in-query: the documents unioned with perturbed copies
(doc_id shifted by +1,000,000; exact copies or copies with the last K words
dropped).  The operators must then find exactly those planted duplicates —
which the DuckDB oracle verifies end-to-end.

Engine-independence: every hash is md5 (identical in Spark and DuckDB) and
MinHash takes the *lexicographic minimum of hex digests* — an order statistic
on strings, no integer conversion needed, so signatures are portable.

Scale notes: all shapes here are the 100 TB patterns — no pairwise cross
join anywhere.  Exact dedup is one hash-groupBy; Jaccard goes through an
inverted index (explode shingles → self-join on shingle → per-pair counts);
MinHash/LSH reduces the candidate space to band-bucket collisions before any
per-pair work; SimHash compares only within 16-bit prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark.sparkutil import const_part, lineage_cut, read_table, scale_out

ID_SHIFT = 1_000_000

# -- shared corpus builders ----------------------------------------------------


def _norm(col: str = "text") -> Column:
    return F.regexp_replace(F.trim(F.lower(F.col(col))), r"\s+", " ")


def dup_corpus(spark: SparkSession, sf_dir: str, drop_last: int = 0) -> DataFrame:
    """documents ∪ copies (id+1M), copies missing their last ``drop_last``
    words — deterministic near-duplicates for the operators to find."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", _norm().alias("text")
    )
    words = F.split(F.col("text"), " ")
    copy_text = (
        F.concat_ws(" ", F.slice(words, 1, F.greatest(F.size(words) - drop_last, F.lit(1))))
        if drop_last
        else F.col("text")
    )
    copies = docs.select(
        (F.col("doc_id") + ID_SHIFT).alias("doc_id"), copy_text.alias("text")
    )
    # the md5/shingle work downstream is compute-bound; don't let a 2-split
    # scan of a small file strand it on 2 cores (no-op at real scale)
    return scale_out(docs.unionByName(copies))


_ORACLE_CORPUS_EXACT = """
corpus AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
  FROM documents
)"""


def _oracle_corpus_droplast(k: int) -> str:
    return f"""
corpus AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(words[1:greatest(len(words) - {k}, 1)], ' ')
  FROM (SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS words
        FROM documents)
)"""


def _shingles(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles as chained ``zip_with`` over the n shifted
    slices — NOT the index-transform form (``transform(sequence(...),
    i -> slice(words, i+1, n))``), whose lambda CAPTURES ``words`` so
    CollapseProject re-evaluates the tokenization per shingle ELEMENT
    (O(n²) per doc; the winnowing-bug class — measured 16.4 s vs 3.5 s
    warm at 64× sf0.1 for this exact expression).  zip_with's inputs are
    evaluated per ROW.  Short docs (< n words) produce the same single
    truncated shingle as before: the shorter shifted slices zip as nulls
    and ``concat_ws`` skips them."""
    size_guard = F.greatest(F.size(words) - n + 1, F.lit(1))
    acc = F.slice(words, 1, size_guard)
    for k in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(words, k, size_guard), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


# The shingles, the LSH bands and the candidate pairs are each read more
# than once downstream (one band self-join per band; both pair sides), so
# their CTEs are MATERIALIZED: DuckDB otherwise inlines a CTE per reference.
_ORACLE_SHINGLES = """
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(words) - 3, 0) + 2),
           i -> array_to_string(words[i:i+2], ' ')
         )) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)
)"""


# -- exact dedup: one hash-groupBy ------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dup_corpus(spark, sf_dir, drop_last=0)
    hashed = corpus.select("doc_id", F.md5("text").alias("h"))
    return (
        hashed.groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
        .select("keep_id", "group_size")
    )


ORACLE_EXACT = f"""
WITH {_ORACLE_CORPUS_EXACT}
SELECT min(doc_id) AS keep_id, count(*) AS group_size
FROM (SELECT doc_id, md5(text) AS h FROM corpus)
GROUP BY h HAVING count(*) > 1
"""


# -- MinHash + LSH: band-bucket join ------------------------------------------------

N_HASHES = 12
N_BANDS = 4  # 3 rows per band


def _minhash_sig(shingles_col: str) -> list[Column]:
    """k independent min-hashes: lexicographic min of seeded md5 hex digests.
    String order statistics are engine-portable (no integer conversion).
    (Measured alternative: one md5 + per-seed ``translate`` alphabet
    permutations is ~2x SLOWER — JVM md5 beats per-char string rewriting.)

    NOTE: built with SQL-level lambdas (``F.expr``) with *unique* variable
    names, not the Python lambda API — PySpark 4.1's Python HOF lambdas
    mis-resolve when several sibling ``transform``s appear in one projection
    (all siblings silently get one lambda body; see tests/test_spark_pitfalls.py).
    """
    return [
        F.expr(
            f"array_min(transform({shingles_col}, "
            f"s{i} -> md5(concat('seed{i}:', s{i}))))"
        ).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]


def _shingled_corpus(spark: SparkSession, sf_dir: str, drop_last: int) -> DataFrame:
    corpus = dup_corpus(spark, sf_dir, drop_last=drop_last)
    return corpus.select(
        "doc_id", _shingles(F.split(F.col("text"), " ")).alias("shingles")
    )


def _banded_sigs(shingled: DataFrame) -> DataFrame:
    """doc_id + one md5 band key per LSH band (k minhashes folded per band)."""
    sig = shingled.select("doc_id", *_minhash_sig("shingles"))
    rows_per_band = N_HASHES // N_BANDS
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", *band_cols)


def _pairs_from_banded(banded: DataFrame) -> DataFrame:
    """Self-join the (already materialized) band table on (band_index, key)."""
    bands_long = banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias(
            "bidx", "bk"
        ),
    )
    lhs = bands_long.select("bidx", "bk", F.col("doc_id").alias("id_a"))
    rhs = bands_long.select("bidx", "bk", F.col("doc_id").alias("id_b"))
    return (
        lhs.join(rhs, ["bidx", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _lsh_candidate_pairs(shingled: DataFrame) -> DataFrame:
    """Candidate pair ⇔ identical minhash signature in ANY band.

    Signatures are computed once and persisted (k minhashes per doc, tiny),
    never recomputed per band.  At scale the band self-join is the only
    shuffle: keyed on uniform md5 band hashes (no skew).  Iterative callers
    that consume the pair graph more than once should instead materialize
    ``_pairs_from_banded(_banded_sigs(...))`` behind a checkpoint (see
    pipeline._cluster_labels) so the join isn't replayed per iteration."""
    return _pairs_from_banded(_banded_sigs(shingled).persist())


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingled = _shingled_corpus(spark, sf_dir, drop_last=1).persist()
    return _lsh_candidate_pairs(shingled)


def _oracle_minhash_sig_sql() -> str:
    mh = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> md5('seed{i}:' || s))) AS mh{i}"
        for i in range(N_HASHES)
    )
    return f"sig AS (\n  SELECT doc_id,\n         {mh}\n  FROM shingled\n)"


def _oracle_lsh_sql() -> str:
    rows_per_band = N_HASHES // N_BANDS
    bands = ",\n         ".join(
        "md5("
        + " || '|' || ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + f") AS band{b}"
        for b in range(N_BANDS)
    )
    per_band = "\n  UNION ALL\n  ".join(
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a "
        f"JOIN banded b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(N_BANDS)
    )
    return (
        f"banded AS MATERIALIZED (\n  SELECT doc_id,\n         {bands}\n  FROM sig\n)\n"
        f"SELECT DISTINCT id_a, id_b FROM (\n  {per_band}\n)"
    )


ORACLE_MINHASH = f"""
WITH {_oracle_corpus_droplast(1)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_lsh_sql()}
"""


# -- n-gram Jaccard near-dup: LSH candidates -> exact verify -----------------------
#
# The naive inverted-index self-join is quadratic under hot shingles (this
# corpus has a ~30-word vocabulary, so 3-shingles repeat across thousands of
# docs).  The scalable pipeline — identical at 100 TB — is: LSH band-bucket
# candidates first, then exact Jaccard only on candidate pairs.


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, shingled: DataFrame | None = None
) -> DataFrame:
    # callers that already materialized the shingled corpus (the recall
    # bake-off scores several methods over ONE build) pass it in; the
    # standalone query builds and persists its own
    if shingled is None:
        shingled = _shingled_corpus(spark, sf_dir, drop_last=2).persist()
    cands = _lsh_candidate_pairs(shingled)
    sa = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    j = cands.join(sa, "id_a").join(sb, "id_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.size("sh_a") + F.size("sh_b") - n_common
    return (
        j.withColumn("n_common", n_common)
        .withColumn("union_sz", union_sz)
        # jaccard >= 0.8  ⇔  5 * common >= 4 * union   (exact integer compare)
        .filter(5 * F.col("n_common") >= 4 * F.col("union_sz"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.floor(F.lit(10000) * F.col("n_common") / F.col("union_sz"))
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


def _oracle_cands_sql() -> str:
    rows_per_band = N_HASHES // N_BANDS
    bands = ",\n         ".join(
        "md5("
        + " || '|' || ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + f") AS band{b}"
        for b in range(N_BANDS)
    )
    per_band = "\n    UNION ALL\n    ".join(
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a "
        f"JOIN banded b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(N_BANDS)
    )
    return (
        f"banded AS MATERIALIZED (\n  SELECT doc_id,\n         {bands}\n  FROM sig\n),\n"
        f"cands AS MATERIALIZED (\n  SELECT DISTINCT id_a, id_b FROM (\n    {per_band}\n  )\n)"
    )


ORACLE_JACCARD = f"""
WITH {_oracle_corpus_droplast(2)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()}
SELECT id_a, id_b,
       len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
       CAST(floor(10000.0 * len(list_intersect(sa.shingles, sb.shingles))
         / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))))
         AS BIGINT) AS jaccard_bp
FROM cands
JOIN shingled sa ON sa.doc_id = id_a
JOIN shingled sb ON sb.doc_id = id_b
WHERE 5 * len(list_intersect(sa.shingles, sb.shingles))
      >= 4 * (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT detection over the same LSH candidates: containment
    C = |A∩B| / min(|A|,|B|) catches a short document embedded inside a
    longer one — a duplicate class Jaccard misses by construction (the big
    union drives J below any threshold while C stays ~1).  Boilerplate
    wrappers, quote-posts, and template-padded pages are exactly this
    shape in web corpora.

    Same scale posture as :func:`dedup_ngram_jaccard`: LSH band buckets
    generate the candidates (never all-pairs), exact set arithmetic only on
    the candidate pairs, and the ≥0.8 threshold is an exact integer
    comparison (5·common ≥ 4·min) so no float crosses the engines."""
    shingled = _shingled_corpus(spark, sf_dir, drop_last=2).persist()
    cands = _lsh_candidate_pairs(shingled)
    sa = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    j = cands.join(sa, "id_a").join(sb, "id_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    min_sz = F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        j.withColumn("n_common", n_common)
        .withColumn("min_sz", min_sz)
        .filter(5 * F.col("n_common") >= 4 * F.col("min_sz"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.floor(F.lit(10000) * F.col("n_common") / F.col("min_sz"))
            .cast("long")
            .alias("containment_bp"),
        )
    )


ORACLE_CONTAINMENT = f"""
WITH {_oracle_corpus_droplast(2)},
{_ORACLE_SHINGLES},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()}
SELECT id_a, id_b,
       len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
       CAST(floor(10000.0 * len(list_intersect(sa.shingles, sb.shingles))
         / least(len(sa.shingles), len(sb.shingles)))
         AS BIGINT) AS containment_bp
FROM cands
JOIN shingled sa ON sa.doc_id = id_a
JOIN shingled sb ON sb.doc_id = id_b
WHERE 5 * len(list_intersect(sa.shingles, sb.shingles))
      >= 4 * least(len(sa.shingles), len(sb.shingles))
"""


# -- SimHash: per-nibble majority vote over word hashes -------------------------------

SIMHASH_LEN = 32  # md5 hex nibbles


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint at nibble granularity: bit i = (mean of the i-th
    md5 nibble over words) >= 7.5; near-dup ⇔ same 16-bit prefix bucket and
    Hamming distance <= 3 on the 32-bit string."""
    corpus = dup_corpus(spark, sf_dir, drop_last=1)
    words = corpus.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    hashed = words.select("doc_id", F.md5("w").alias("h"))
    # integer-exact majority vote per nibble: avg >= 7.5  ⇔  2*sum >= 15*count
    sum_aggs = [
        F.sum(
            F.expr(f"instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1")
        ).alias(f"s{i}")
        for i in range(SIMHASH_LEN)
    ]
    per_doc = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"), *sum_aggs)
    bits = F.concat(
        *[
            F.when(2 * F.col(f"s{i}") >= 15 * F.col("nw"), F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIMHASH_LEN)
        ]
    )
    # pack the 32-bit fingerprint into a long: Hamming distance becomes
    # bit_count(xor) — two JVM intrinsics per pair instead of splitting both
    # fingerprints into 32-element string arrays and zip-comparing them
    # (the candidate set is quadratic in bucket size, so per-pair cost is
    # the term that explodes at scale)
    # materialize the fingerprint table ONCE before the self-join: Spark
    # plans the two join sides as independent subtrees (no ReusedExchange
    # for self-joins through a projection), so without this barrier the
    # 33-aggregate fingerprint stage runs twice (measured ~2x end-to-end)
    fp = per_doc.select(
        "doc_id", F.conv(bits, 2, 10).cast("long").alias("fp")
    ).transform(lineage_cut)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    # prefix bucket join (high 16 bits) keeps this linear-ish; then exact filter
    cand = a.join(
        b,
        (F.shiftright("fp_a", 16) == F.shiftright("fp_b", 16))
        & (F.col("id_a") < F.col("id_b")),
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def _oracle_simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) AS s{i}"
        for i in range(SIMHASH_LEN)
    )
    bits = " || ".join(
        f"CASE WHEN 2 * s{i} >= 15 * nw THEN '1' ELSE '0' END" for i in range(SIMHASH_LEN)
    )
    return f"""hashed AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM corpus
), per_doc AS (
  SELECT doc_id, count(*) AS nw,
         {sums}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT doc_id, {bits} AS fp FROM per_doc
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_filter(range(1, {SIMHASH_LEN + 1}),
           i -> substr(a.fp, i, 1) <> substr(b.fp, i, 1))) AS hamming
FROM fp a JOIN fp b
  ON substr(a.fp, 1, 16) = substr(b.fp, 1, 16) AND a.doc_id < b.doc_id
WHERE len(list_filter(range(1, {SIMHASH_LEN + 1}),
          i -> substr(a.fp, i, 1) <> substr(b.fp, i, 1))) <= 3"""


ORACLE_SIMHASH = f"""
WITH {_oracle_corpus_droplast(1)},
{_oracle_simhash_sql()}
"""


# -- embedding-cosine near-dup: sign-LSH buckets -> exact cosine verify -----------------

SIGN_BITS = 6  # 2^6 = 64 cells
COS_THRESHOLD_BP = 9000
ZERO_TAIL = 8  # planted near-dups: copies with the last 8 dims zeroed


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection by embedding cosine: candidates from a
    random-hyperplane (sign-pattern) LSH bucket join, then exact cosine on
    candidates only — the vector twin of MinHash+LSH.

    The synthetic vectors have no near-dups, so the corpus is embeddings ∪
    copies (vec_id+1M) with the last ``ZERO_TAIL`` dims zeroed — same
    direction on the leading dims (cosine ≈ sqrt(1 - tail_energy) ≥ 0.9),
    and the sign pattern over the first ``SIGN_BITS`` dims is unchanged, so
    every planted pair collides in its bucket.

    Scale notes: one shuffle keyed on the 6-bit bucket; per-bucket work is
    quadratic in bucket size, so at 100 TB you widen SIGN_BITS (more
    hyperplanes → smaller cells) exactly like raising MinHash band count;
    random signs are uniform, so buckets don't skew.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    n_dims = F.size("vec")
    copies = vecs.select(
        (F.col("vec_id") + ID_SHIFT).alias("vec_id"),
        F.transform(
            "vec",
            lambda v, i: F.when(i < n_dims - ZERO_TAIL, v).otherwise(F.lit(0.0)),
        ).alias("vec"),
    )
    corpus = scale_out(vecs.unionByName(copies))
    bucket = F.concat(
        *[
            F.when(F.element_at("vec", i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIGN_BITS)
        ]
    )
    # same self-join barrier as dedup_simhash: materialize the bucketed
    # vectors once so the copy-synthesis + sign projection isn't replayed
    # per join side (O(corpus) storage, not quadratic)
    # sqrt-norm computed once per VECTOR inside the checkpoint (the
    # _semdedup_finish hoist) — the quadratic within-bucket pair stage
    # then reuses it on both sides; bit-identical doubles either way
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(vec, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    bucketed = corpus.select(
        "vec_id", "vec", norm.alias("sn"), bucket.alias("bk")
    ).transform(lineage_cut)
    a = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("sn").alias("sn_a"), "bk"
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("sn").alias("sn_b"), "bk"
    )
    pairs = a.join(b, "bk").filter(F.col("id_a") < F.col("id_b"))
    dot = F.expr(
        "aggregate(zip_with(vec_a, vec_b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.floor(F.lit(10000) * dot / (F.col("sn_a") * F.col("sn_b")))
            .cast("long")
            .alias("cos_bp"),
        )
        .filter(F.col("cos_bp") >= COS_THRESHOLD_BP)
    )


def _oracle_embedding_cosine() -> str:
    sign = " || ".join(
        f"CASE WHEN vec[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(SIGN_BITS)
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
corpus AS (
  SELECT vec_id, vec FROM vecs
  UNION ALL
  SELECT vec_id + {ID_SHIFT},
         list_transform(range(1, len(vec) + 1),
                        i -> CASE WHEN i <= len(vec) - {ZERO_TAIL} THEN vec[i] ELSE 0.0 END)
  FROM vecs
),
bucketed AS (
  SELECT vec_id, vec, {sign} AS bk FROM corpus
)
SELECT id_a, id_b, cos_bp FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(10000 * list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * b.vec[i]))
           / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
              * sqrt(list_sum(list_transform(b.vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM bucketed a JOIN bucketed b ON a.bk = b.bk AND a.vec_id < b.vec_id
) WHERE cos_bp >= {COS_THRESHOLD_BP}
"""


ORACLE_EMBEDDING_COSINE = _oracle_embedding_cosine()


# -- semantic cross-split decontamination (embedding-level leakage) ----------------

# md5-bucket split bounds, the same 80/10/10 rule the pipeline split ops use
# (literals here: pipeline.py imports this module, so importing back would cycle)
SEM_TRAIN_LT, SEM_VAL_LT = 80, 90


def corpus_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC cross-split decontamination — the third leg of the decon
    triple: ``corpus_span_decontamination`` catches exact substring leaks,
    ``corpus_split_leakage`` catches lexical near-dups, and this catches
    what both miss — an eval doc that is a PARAPHRASE-level copy of a
    train doc (same embedding direction, no shared n-gram required).  The
    planted corpus is the embedding suite's (vecs ∪ tail-zeroed copies —
    guaranteed near-dup mass); splits are md5 buckets of vec_id, so a
    copy's split is independent of its original's and a fixed fraction of
    planted pairs crosses the train→eval boundary.  Candidates come from
    the same sign-pattern LSH bucket join as ``dedup_embedding_cosine``,
    RESTRICTED to train × (val ∪ test) before the quadratic stage — the
    decon direction is the only one scored.  One row per flagged eval
    doc: its split, best train match (max cosine, tie lowest train id),
    and how many train docs implicate it — the quarantine list an eval
    release ships with.

    Scale shape: identical to the dedup op (bucket join, per-cell
    quadratic bounded by SIGN_BITS), with the train×eval restriction
    cutting the pair space ~5× further; the per-eval-doc window is keyed
    on the flagged set only (tiny).  Cites the planted-copy construction
    at dedup.py:488."""
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    n_dims = F.size("vec")
    copies = vecs.select(
        (F.col("vec_id") + ID_SHIFT).alias("vec_id"),
        F.transform(
            "vec",
            lambda v, i: F.when(i < n_dims - ZERO_TAIL, v).otherwise(F.lit(0.0)),
        ).alias("vec"),
    )
    corpus = scale_out(vecs.unionByName(copies))
    bucket = F.concat(
        *[
            F.when(F.element_at("vec", i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIGN_BITS)
        ]
    )
    b100 = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(b100 < SEM_TRAIN_LT, F.lit("train"))
        .when(b100 < SEM_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # sqrt-norm once per vector inside the checkpoint (the _semdedup_finish
    # hoist) — the train×eval pair stage reuses it; bit-identical doubles
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(vec, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    bucketed = corpus.select(
        "vec_id", "vec", norm.alias("sn"), bucket.alias("bk"), split.alias("split")
    ).transform(lineage_cut)  # one build feeds both join sides
    train = bucketed.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_id"), F.col("vec").alias("vec_a"),
        F.col("sn").alias("sn_a"), "bk"
    )
    ev = bucketed.filter(F.col("split") != "train").select(
        F.col("vec_id").alias("eval_id"),
        F.col("split").alias("eval_split"),
        F.col("vec").alias("vec_b"),
        F.col("sn").alias("sn_b"),
        "bk",
    )
    pairs = train.join(ev, "bk")
    dot = F.expr(
        "aggregate(zip_with(vec_a, vec_b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    flagged = pairs.select(
        "eval_id",
        "eval_split",
        "train_id",
        F.floor(F.lit(10000) * dot / (F.col("sn_a") * F.col("sn_b")))
        .cast("long")
        .alias("cos_bp"),
    ).filter(F.col("cos_bp") >= COS_THRESHOLD_BP)
    w = Window.partitionBy("eval_id").orderBy(F.desc("cos_bp"), F.asc("train_id"))
    return (
        flagged.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_train_matches",
            F.count(F.lit(1)).over(Window.partitionBy("eval_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "eval_id",
            "eval_split",
            F.col("train_id").alias("best_train_id"),
            F.col("cos_bp").alias("best_cos_bp"),
            F.col("n_train_matches").cast("long").alias("n_train_matches"),
        )
    )


def _oracle_semantic_decon() -> str:
    sign = " || ".join(
        f"CASE WHEN vec[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(SIGN_BITS)
    )
    split_case = (
        "CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 < "
        f"{SEM_TRAIN_LT} THEN 'train' "
        "WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 < "
        f"{SEM_VAL_LT} THEN 'val' ELSE 'test' END"
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
corpus AS (
  SELECT vec_id, vec FROM vecs
  UNION ALL
  SELECT vec_id + {ID_SHIFT},
         list_transform(range(1, len(vec) + 1),
                        i -> CASE WHEN i <= len(vec) - {ZERO_TAIL} THEN vec[i] ELSE 0.0 END)
  FROM vecs
),
bucketed AS (
  SELECT vec_id, vec, {sign} AS bk, {split_case} AS split FROM corpus
),
flagged AS (
  SELECT b.vec_id AS eval_id, b.split AS eval_split, a.vec_id AS train_id,
         CAST(floor(10000 * list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * b.vec[i]))
           / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
              * sqrt(list_sum(list_transform(b.vec, x -> x * x))))) AS BIGINT) AS cos_bp
  FROM bucketed a JOIN bucketed b ON a.bk = b.bk
  WHERE a.split = 'train' AND b.split <> 'train'
)
SELECT eval_id, eval_split, best_train_id, best_cos_bp, n_train_matches FROM (
  SELECT eval_id, eval_split, train_id AS best_train_id, cos_bp AS best_cos_bp,
         row_number() OVER (PARTITION BY eval_id ORDER BY cos_bp DESC, train_id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY eval_id) AS BIGINT) AS n_train_matches
  FROM flagged WHERE cos_bp >= {COS_THRESHOLD_BP}
) WHERE rn = 1
"""


ORACLE_SEMANTIC_DECON = _oracle_semantic_decon()


# -- passage-level exact dedup (the CCNet paragraph-hash move) ---------------------

PASSAGE_WORDS = 10


def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: CCNet-style paragraph-hash removal, on
    fixed-width 10-word passages (the synthetic corpus has no paragraph
    marks; the plan is identical).  Every passage keeps only its globally
    FIRST occurrence — ordered by (doc_id, idx) — and the audit reports, per
    origin half of the planted-duplicate corpus, how many passages survive.

    Distributed shape: posexplode to (doc, idx, passage), ONE shuffle keyed
    on the passage (near-uniform text keys), row_number to pick the first
    occurrence, then a tiny rollup.  At 100 TB you'd key the shuffle on
    xxhash64(passage) instead of the string (smaller shuffle rows, same
    semantics); reassembling surviving text is the same exchange re-keyed by
    doc — no extra shuffle class."""
    corpus = dup_corpus(spark, sf_dir, drop_last=0)
    words = F.split(F.col("text"), " ")
    n_pass = F.ceil(F.size(words) / PASSAGE_WORDS).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS)
        ),
    )
    exploded = corpus.select(
        "doc_id", F.posexplode(passages).alias("idx", "passage")
    )
    w = Window.partitionBy("passage").orderBy("doc_id", "idx")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    origin = F.when(F.col("doc_id") < ID_SHIFT, "orig").otherwise("copy")
    return (
        ranked.groupBy(origin.alias("origin"))
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )


ORACLE_PASSAGES = f"""
WITH {_ORACLE_CORPUS_EXACT},
idxed AS (
  SELECT doc_id, words,
         unnest(range(0, CAST(ceil(len(words) / {PASSAGE_WORDS}.0) AS BIGINT))) AS idx
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)
),
ranked AS (
  SELECT doc_id, idx,
         row_number() OVER (
           PARTITION BY array_to_string(
             words[idx * {PASSAGE_WORDS} + 1 : idx * {PASSAGE_WORDS} + {PASSAGE_WORDS}], ' ')
           ORDER BY doc_id, idx) AS rn
  FROM idxed
)
SELECT CASE WHEN doc_id < {ID_SHIFT} THEN 'orig' ELSE 'copy' END AS origin,
       count(*) AS n_passages,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked
GROUP BY 1
"""


# -- prefix-filter set-similarity join (PPJoin-style, exact, no LSH) -------------


def dedup_prefix_filter(
    spark: SparkSession, sf_dir: str, shingled: DataFrame | None = None
) -> DataFrame:
    """Exact set-similarity self-join by PREFIX FILTERING (the
    AllPairs/PPJoin family): order each document's distinct tokens by
    ascending global document frequency, keep only the first
    n − ⌈0.8·n⌉ + 1 (the 'prefix'), and generate candidates ONLY from
    shared prefix tokens — any pair with token-Jaccard ≥ 0.8 MUST share a
    prefix token (pigeonhole on the ⌈0.8·n⌉ overlap requirement), so
    unlike MinHash-LSH this has ZERO false negatives while still never
    going all-pairs.  Candidates are then verified with the exact integer
    threshold 5·|∩| ≥ 4·|∪|.

    Scale shape: document frequencies are one token-keyed aggregation;
    the per-doc ordering window is bounded by tokens-per-doc; the
    candidate join keys on the RARE tokens (ascending df makes prefixes
    selective, the algorithm's whole point — hot tokens never become join
    keys); verification touches candidate pairs only.  At 100 TB the
    prefix join is the designed bottleneck and stays ∝ Σ prefix postings².

    Complements `dedup_minhash_lsh`/`dedup_ngram_jaccard` (probabilistic
    recall) with the exact-recall alternative every dedup bake-off needs.
    Sets are the 3-word SHINGLES (same representation as the LSH ops):
    unigram token sets are degenerate on a shared-vocabulary corpus
    (every doc resembles every doc), shingles are selective — and the
    recall/answer is directly comparable to `dedup_ngram_jaccard`.
    """
    if shingled is None:
        shingled = _shingled_corpus(spark, sf_dir, drop_last=2)
    # the exploded posting list feeds FOUR branches (df, per-doc ordering,
    # candidate join, verification) — materialize it once or every branch
    # replays the corpus normalization + shingle build from the scan
    toks = shingled.select(
        "doc_id", F.explode("shingles").alias("token")
    ).transform(lineage_cut)
    ntok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    ordered = (
        toks.join(dfreq, "token")
        .join(ntok, "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    # candidate keys are xxhash64(shingle): 8-byte shuffle keys instead of
    # wide strings.  Output-neutral: a hash collision can only ADD a
    # candidate, and verification below compares exact token sets — any
    # true >= 0.8 pair still shares an exact prefix token (the theorem),
    # so the final pair set is identical to the all-strings plan.
    prefix = ordered.filter(
        F.col("rn") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", F.xxhash64("token").alias("tk"), "n")
    # PPJoin length filter, also output-neutral by theorem: J(A,B) >= 0.8
    # forces 5*min(|A|,|B|) >= 4*max(|A|,|B|) — kills cross-length pairs
    # BEFORE the distinct/verify stages ever see them.
    cands = (
        prefix.select(F.col("doc_id").alias("id_a"), "tk", F.col("n").alias("na"))
        .join(
            prefix.select(F.col("doc_id").alias("id_b"), "tk", F.col("n").alias("nb")),
            "tk",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (5 * F.least("na", "nb") >= 4 * F.greatest("na", "nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verification joins the candidate pairs to the (small, broadcastable)
    # per-doc shingle ARRAYS and intersects JVM-side — one array_intersect
    # per candidate instead of re-shuffling the half-million-row posting
    # list twice (the same verify shape as dedup_ngram_jaccard)
    sa = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    j = cands.join(sa, "id_a").join(sb, "id_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.size("sh_a") + F.size("sh_b") - n_common
    return (
        j.withColumn("n_common", n_common.cast("long"))
        .withColumn("union_sz", union_sz)
        .filter(5 * F.col("n_common") >= 4 * F.col("union_sz"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.floor(F.lit(10000) * F.col("n_common") / F.col("union_sz"))
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


ORACLE_PREFIX_FILTER = f"""
WITH {_oracle_corpus_droplast(2)},
{_ORACLE_SHINGLES},
toks AS (
  SELECT doc_id, unnest(shingles) AS token FROM shingled
),
ntok AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
dfreq AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
ordered AS (
  SELECT t.doc_id, t.token, n.n,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token) AS rn
  FROM toks t JOIN dfreq d USING (token) JOIN ntok n USING (doc_id)
),
prefix AS (
  SELECT doc_id, token FROM ordered WHERE rn <= n - (4 * n + 4) // 5 + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b ON a.token = b.token AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.id_a
  JOIN toks tb ON tb.doc_id = c.id_b AND ta.token = tb.token
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.n_common,
       CAST(floor(10000.0 * i.n_common / (na.n + nb.n - i.n_common)) AS BIGINT)
         AS jaccard_bp
FROM inter i
JOIN ntok na ON na.doc_id = i.id_a
JOIN ntok nb ON nb.doc_id = i.id_b
WHERE 5 * i.n_common >= 4 * (na.n + nb.n - i.n_common)
"""


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO duplicates WHOM: the verified near-dup pairs rolled up to a
    (source, source) matrix — the diagnostic a corpus team reads before
    deciding which crawls/dumps to drop or down-weight (cross-source
    cells = shared upstream content, e.g. two crawls of the same sites;
    diagonal cells = within-source template duplication).  Pair sources
    resolve through the planted-copy id scheme (id ≥ {ID_SHIFT} → base
    doc id − {ID_SHIFT}); cells are canonical (least/greatest) so the
    symmetric matrix is stored once.

    Scale shape: input is the (already bounded) verified-pair output of
    :func:`dedup_ngram_jaccard`; two doc_id-keyed joins attach sources
    (dim side prunable to ids in pairs — at 100 TB a semi-join first);
    the rollup is |sources|²-keyed with map-side combine."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")

    def base(c: str) -> Column:
        return F.when(
            F.col(c) >= ID_SHIFT, F.col(c) - ID_SHIFT
        ).otherwise(F.col(c))

    j = (
        pairs.withColumn("ba", base("id_a"))
        .withColumn("bb", base("id_b"))
        .join(
            docs.select(F.col("doc_id").alias("ba"), F.col("source").alias("sa")),
            "ba",
        )
        .join(
            docs.select(F.col("doc_id").alias("bb"), F.col("source").alias("sb")),
            "bb",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _oracle_source_matrix() -> str:
    return f"""
WITH fl AS ({ORACLE_JACCARD}),
m AS (
  SELECT CASE WHEN id_a >= {ID_SHIFT} THEN id_a - {ID_SHIFT} ELSE id_a END AS ba,
         CASE WHEN id_b >= {ID_SHIFT} THEN id_b - {ID_SHIFT} ELSE id_b END AS bb
  FROM fl
)
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       count(*) AS n_pairs
FROM m
JOIN documents da ON da.doc_id = m.ba
JOIN documents db ON db.doc_id = m.bb
GROUP BY 1, 2
"""


# -- exact substring-span dedup (suffix-array-class, distributed) -----------------

SPAN_GRAM = 8  # tokens per seed gram
MIN_SPAN = 20  # report maximal duplicated spans of at least this many tokens
SPAN_ID_SHIFT = 2_000_000
CHIM_HEAD = 15  # chimera head tokens from its own base doc (< MIN_SPAN on purpose)
CHIM_START = 11  # 1-based start of the window copied from the partner doc
CHIM_SPAN = 40  # tokens copied from the partner (>= MIN_SPAN -> must be found)


def _positioned_grams(words: Column, k: int) -> Column:
    """All FULL k-token grams in document order — element i (0-based) is
    the gram starting at token i+1.  Chained ``zip_with`` over shifted
    slices (the `_shingles` anti-capture shape: inputs evaluate per ROW,
    not per element), no ``array_distinct`` (positions matter here), and
    the truncated tail grams are sliced off (span arithmetic needs every
    gram to cover exactly k tokens)."""
    n_full = F.greatest(F.size(words) - k + 1, F.lit(0))
    guard = F.greatest(n_full, F.lit(1))
    acc = F.slice(words, 1, guard)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(words, j, guard), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.slice(acc, 1, n_full)


def span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ chimera docs (id+2M): each chimera is {CHIM_HEAD} head
    tokens from its own base doc followed by an exact {CHIM_SPAN}-token
    window (tokens {CHIM_START}..{CHIM_START}+{CHIM_SPAN}-1) copied from
    the NEXT doc — a duplicated span inside an otherwise-distinct
    document, the exact shape suffix-array dedup exists for.  The head
    stays below MIN_SPAN so each chimera's only reportable partner is the
    window's source."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", _norm().alias("text")
    )
    wd = F.split(F.col("d.text"), " ")
    wp = F.split(F.col("p.text"), " ")
    chim = (
        docs.alias("d")
        .join(docs.alias("p"), F.col("p.doc_id") == F.col("d.doc_id") + 1)
        .select(
            (F.col("d.doc_id") + SPAN_ID_SHIFT).alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(
                    F.slice(wd, 1, CHIM_HEAD), F.slice(wp, CHIM_START, CHIM_SPAN)
                ),
            ).alias("text"),
        )
    )
    return scale_out(docs.unionByName(chim))


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans across otherwise-distinct
    documents — the dedup mode real pretraining corpora run (the
    suffix-array / ≥50-token-overlap family of Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): find every MAXIMAL span
    of ≥ {MIN_SPAN} tokens that appears verbatim in two documents, with
    its position in both, so a trim pass can cut the copy.

    Distributed shape (NO suffix array, nothing driver-side): a
    positioned {SPAN_GRAM}-token gram inverted index; matching grams
    between two docs land on DIAGONALS (pos_a − pos_b constant across a
    shared span), so maximal spans are runs of consecutive gram starts
    per (id_a, id_b, diagonal) — classic gaps-and-islands run-length
    encoding (island = pos − row_number over the diagonal), one window
    partitioned by (pair, diagonal).  A duplicated span of L ≥ {MIN_SPAN}
    tokens contains exactly L−{SPAN_GRAM}+1 consecutive matching grams,
    so recall is 100% by construction — no banding, no probability.

    Scale: the gram self-join shuffles only MATCHING gram hits (never
    all-pairs); joining on the literal gram string keeps the result
    exact-by-equality (a production 100 TB run keys on a 128-bit gram
    hash to narrow the shuffle — collision odds ~2⁻¹²⁸ — and drops
    ubiquitous boilerplate grams by df-cap the way text_winnowing_pairs
    caps fingerprints; both engines here share the uncapped exact form).
    The RLE window is bounded by matches-per-diagonal, and every stage
    is gram/pair-keyed — linear in total matching-gram mass."""
    return span_pairs(span_corpus(spark, sf_dir), SPAN_GRAM, MIN_SPAN)


def span_pairs(corpus: DataFrame, k: int, min_span: int) -> DataFrame:
    """The detection core on an arbitrary (doc_id, text) DataFrame —
    exposed separately so property-based tests can drive it against a
    brute-force reference on random corpora (tests/test_property_based)."""
    grams = corpus.select(
        "doc_id",
        F.posexplode(_positioned_grams(F.split(F.col("text"), " "), k)).alias(
            "pos", "gram"
        ),
    ).transform(lineage_cut)  # feeds both sides of the self-join
    a = grams.select(
        F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"), "gram"
    )
    b = grams.select(
        F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    return spans_from_hits(hits, k, min_span)


def spans_from_hits(hits: DataFrame, k: int, min_span: int) -> DataFrame:
    """Diagonal gaps-and-islands RLE over matching-gram hits
    ``(id_a, id_b, pa, pb, diag)`` → maximal spans.  Shared by the batch
    detectors and the streaming twin (whose hits come from an incremental
    gram index instead of a single self-join)."""
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = hits.withColumn("island", F.col("pa") - F.row_number().over(w))
    return (
        runs.groupBy("id_a", "id_b", "diag", "island")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.min("pa").alias("pa0"),
            F.min("pb").alias("pb0"),
        )
        .filter(F.col("n_grams") + k - 1 >= min_span)
        .select(
            "id_a",
            "id_b",
            (F.col("pa0") + 1).cast("long").alias("start_a"),
            (F.col("pb0") + 1).cast("long").alias("start_b"),
            (F.col("n_grams") + k - 1).cast("long").alias("span_tokens"),
        )
    )


# shared CTE prefix (normalized token lists + chimera corpus) and span body,
# reused by the trim pass's oracle
_SPAN_CORPUS_CTES = f"""nd AS MATERIALIZED (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           AS words
  FROM documents
),
span_corpus AS MATERIALIZED (
  SELECT doc_id, words FROM nd
  UNION ALL
  SELECT d.doc_id + {SPAN_ID_SHIFT},
         d.words[1:{CHIM_HEAD}] || p.words[{CHIM_START}:{CHIM_START + CHIM_SPAN - 1}]
  FROM nd d JOIN nd p ON p.doc_id = d.doc_id + 1
)"""

_SPAN_BODY_CTES = f"""grams AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(words) - {SPAN_GRAM - 1}, 0) + 1)) AS i,
         words
  FROM span_corpus
),
gstr AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(words[i:i + {SPAN_GRAM - 1}], ' ') AS gram
  FROM grams
),
hits AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM gstr a JOIN gstr b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
runs AS (
  SELECT id_a, id_b, diag, pa, pb,
         pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa)
           AS island
  FROM hits
)"""

_SPAN_BODY_SELECT = f"""SELECT id_a, id_b,
       CAST(min(pa) + 1 AS BIGINT) AS start_a,
       CAST(min(pb) + 1 AS BIGINT) AS start_b,
       CAST(count(*) + {SPAN_GRAM - 1} AS BIGINT) AS span_tokens
FROM runs
GROUP BY id_a, id_b, diag, island
HAVING count(*) + {SPAN_GRAM - 1} >= {MIN_SPAN}"""

# standalone statement form (embeddable parenthesized, as the trim oracle
# does with `sp AS ({...})`) and the merged-CTE-chain form for the direct
# oracle — a leading WITH after the corpus CTE list is a syntax error
_SPAN_BODY_SQL = f"WITH {_SPAN_BODY_CTES}\n{_SPAN_BODY_SELECT}"

ORACLE_SPAN_EXACT = (
    f"WITH {_SPAN_CORPUS_CTES},\n{_SPAN_BODY_CTES}\n{_SPAN_BODY_SELECT}"
)


def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRIM pass over :func:`dedup_span_exact`'s findings — what a
    production pipeline actually does with detected spans (cut the copy,
    keep the original): every reported span is removed from the
    HIGHER-id document (the keep-lowest convention dedup_exact uses for
    whole docs), and the trimmed text is rebuilt token-exactly.
    Overlapping spans need no merge step: removal is a positional
    anti-join, so the union of covered positions falls out of the join
    itself.  Output per trimmed doc: raw span count, token counts
    before/removed, and the rebuilt text (hash-compared cross-engine —
    the strongest possible equality for a rewrite op).

    Scale shape: spans are the (bounded) detector output, checkpointed
    once; the anti-join keys on doc_id with per-doc fanout = that doc's
    interval count; text rebuild is one doc-keyed agg whose in-group sort
    is bounded by document length.  Nothing global anywhere."""
    spans = lineage_cut(dedup_span_exact(spark, sf_dir))
    ivals = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
    )
    toks = (
        span_corpus(spark, sf_dir)
        .join(ivals.select("doc_id").distinct(), "doc_id")  # trimmed docs only
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok"))
        .withColumn("pos", (F.col("p0") + 1).cast("long"))
    )
    kept = toks.alias("t").join(
        ivals.alias("v"),
        (F.col("t.doc_id") == F.col("v.doc_id"))
        & (F.col("t.pos") >= F.col("v.s"))
        & (F.col("t.pos") <= F.col("v.e")),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text_trimmed"),
    )
    stats = ivals.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    before = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens_before"))
    return (
        stats.join(before, "doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            "n_tokens_before",
            (F.col("n_tokens_before") - F.coalesce("n_after", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
            F.coalesce("text_trimmed", F.lit("")).alias("text_trimmed"),
        )
    )


ORACLE_SPAN_TRIM = f"""
WITH {_SPAN_CORPUS_CTES},
sp AS ({_SPAN_BODY_SQL.strip()}),
ivals AS MATERIALIZED (
  SELECT id_b AS doc_id, start_b AS s, start_b + span_tokens - 1 AS e FROM sp
),
toks AS MATERIALIZED (
  SELECT c.doc_id, unnest(range(1, len(c.words) + 1)) AS pos, c.words
  FROM span_corpus c JOIN (SELECT DISTINCT doc_id FROM ivals) d
    ON c.doc_id = d.doc_id
),
tok1 AS MATERIALIZED (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, words[pos] AS tok FROM toks
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok1 t
  WHERE NOT EXISTS (
    SELECT 1 FROM ivals v
    WHERE v.doc_id = t.doc_id AND t.pos >= v.s AND t.pos <= v.e
  )
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_after,
         string_agg(tok, ' ' ORDER BY pos) AS text_trimmed
  FROM kept GROUP BY doc_id
),
stats AS (SELECT doc_id, count(*) AS n_spans FROM ivals GROUP BY doc_id),
before AS (SELECT doc_id, count(*) AS n_tokens_before FROM tok1 GROUP BY doc_id)
SELECT s.doc_id, s.n_spans, b.n_tokens_before,
       CAST(b.n_tokens_before - coalesce(r.n_after, 0) AS BIGINT)
         AS n_tokens_removed,
       coalesce(r.text_trimmed, '') AS text_trimmed
FROM stats s
JOIN before b ON s.doc_id = b.doc_id
LEFT JOIN rebuilt r ON s.doc_id = r.doc_id
"""


def corpus_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL decontamination — the eval-leakage scan frontier labs
    actually run before training: find every verbatim span of
    ≥ {MIN_SPAN} tokens shared between a TRAIN document and an EVAL
    document (train/eval assigned by the pipeline's md5-bucket split, so
    the scan is a pure function of the data), and report per eval doc how
    contaminated it is: distinct train docs touching it, span count, and
    the longest leaked span.  Doc-level decontamination
    (corpus.decontamination) misses exactly this case — an eval answer
    embedded inside an otherwise-different train doc; the span machinery
    from :func:`dedup_span_exact` (positioned grams → diagonal RLE) is
    what catches it.  Runs over the chimera corpus so planted cross-split
    spans exist to find; on the raw corpus the true answer is empty and
    the oracle proves that too.

    Scale shape: identical to dedup_span_exact, with the self-join
    replaced by a train×eval gram join (strictly smaller); the per-eval
    rollup is one keyed agg.  At 100 TB the eval side is tiny, so the
    gram join broadcasts the eval postings — a map-only scan of the
    train corpus."""
    from mongraph_spark.queries.pipeline import TRAIN_PCT

    # SPAN_TRAIN_PCT mirrors pipeline.TRAIN_PCT (module-level import would
    # be circular — pipeline imports dedup); the assert pins the mirror
    assert TRAIN_PCT == SPAN_TRAIN_PCT
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    docs = span_corpus(spark, sf_dir).withColumn(
        "split",
        F.when(bucket < SPAN_TRAIN_PCT, F.lit("train")).otherwise(F.lit("eval")),
    )
    grams = docs.select(
        "doc_id",
        "split",
        F.posexplode(_positioned_grams(F.split(F.col("text"), " "), SPAN_GRAM)).alias(
            "pos", "gram"
        ),
    ).transform(lineage_cut)
    tr = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_id"), F.col("pos").alias("pt"), "gram"
    )
    ev = grams.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_id"), F.col("pos").alias("pe"), "gram"
    )
    hits = tr.join(ev, "gram").select(
        "train_id", "eval_id", "pt", "pe", (F.col("pt") - F.col("pe")).alias("diag")
    )
    w = Window.partitionBy("train_id", "eval_id", "diag").orderBy("pt")
    spans = (
        hits.withColumn("island", F.col("pt") - F.row_number().over(w))
        .groupBy("train_id", "eval_id", "diag", "island")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .filter(F.col("n_grams") + SPAN_GRAM - 1 >= MIN_SPAN)
        .select(
            "train_id",
            "eval_id",
            (F.col("n_grams") + SPAN_GRAM - 1).alias("span_tokens"),
        )
    )
    return spans.groupBy("eval_id").agg(
        F.count_distinct("train_id").cast("long").alias("n_train_docs"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
    )


SPAN_TRAIN_PCT = 80  # = pipeline.TRAIN_PCT (asserted in the function)

ORACLE_SPAN_DECONTAM = f"""
WITH {_SPAN_CORPUS_CTES},
tagged AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < {SPAN_TRAIN_PCT}
              THEN 'train' ELSE 'eval' END AS split,
         words
  FROM span_corpus
),
grams AS (
  SELECT doc_id, split,
         unnest(range(1, greatest(len(words) - {SPAN_GRAM - 1}, 0) + 1)) AS i,
         words
  FROM tagged
),
gstr AS MATERIALIZED (
  SELECT doc_id, split, i - 1 AS pos,
         array_to_string(words[i:i + {SPAN_GRAM - 1}], ' ') AS gram
  FROM grams
),
hits AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, t.pos AS pt, e.pos AS pe,
         t.pos - e.pos AS diag
  FROM gstr t JOIN gstr e ON t.gram = e.gram
  WHERE t.split = 'train' AND e.split = 'eval'
),
runs AS (
  SELECT train_id, eval_id, diag, pt,
         pt - row_number() OVER (PARTITION BY train_id, eval_id, diag ORDER BY pt)
           AS island
  FROM hits
),
spans AS (
  SELECT train_id, eval_id, count(*) + {SPAN_GRAM - 1} AS span_tokens
  FROM runs
  GROUP BY train_id, eval_id, diag, island
  HAVING count(*) + {SPAN_GRAM - 1} >= {MIN_SPAN}
)
SELECT eval_id,
       CAST(count(DISTINCT train_id) AS BIGINT) AS n_train_docs,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
FROM spans
GROUP BY eval_id
"""


# -- df-capped span dedup (the production knob, measured) ----------------------------
#
# dedup_span_exact's docstring documents the 100 TB move: drop ubiquitous
# boilerplate grams by df-cap and key the shuffle on a gram HASH instead of
# the gram string.  This variant RUNS that form against a corpus with
# planted boilerplate (a license header prepended to every third doc) and
# reports the tradeoff as data: shuffle mass dropped, quadratic pair
# blowup avoided, and recall on the planted true spans.

BOILER_HEADER = (
    "license notice this document is distributed under the creative commons "
    "attribution share alike license version four all rights reserved see "
    "terms of use for details"
)  # 28 tokens >= MIN_SPAN, so uncapped detection would pair EVERY two carriers
BOILER_MOD = 3  # every third doc carries the header
SPAN_DF_CAP = 8  # keep grams appearing in at most this many docs


def span_boiler_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`span_corpus` (chimera plants = rare true spans) with the
    license header prepended to every ``doc_id % BOILER_MOD == 0`` doc —
    high-df boilerplate grams shared by a third of the corpus."""
    return span_corpus(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % BOILER_MOD == 0,
            F.concat(F.lit(BOILER_HEADER + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )


def span_pairs_capped(
    corpus: DataFrame, k: int, min_span: int, df_cap: int
) -> tuple[DataFrame, DataFrame]:
    """Df-capped, hash-keyed span detection: positioned grams are keyed by
    md5(gram) (128-bit, cross-engine deterministic — the gram STRING never
    enters the shuffle), grams occurring in more than ``df_cap`` documents
    are dropped BEFORE the self-join (each such gram contributes O(df²)
    hit rows — the quadratic term boilerplate injects), and the surviving
    hits run the same diagonal RLE as :func:`span_pairs`.

    Returns ``(spans, gram_stats)`` where gram_stats is one row:
    total gram occurrences, occurrences dropped by the cap, and distinct
    docs carrying a dropped gram."""
    grams = corpus.select(
        "doc_id",
        F.posexplode(_positioned_grams(F.split(F.col("text"), " "), k)).alias(
            "pos", "gram"
        ),
    ).select("doc_id", "pos", F.md5("gram").alias("gh"))
    # ONE gram-keyed shuffle: collect each gram's occurrence list and its
    # doc-frequency together, then expand hit pairs MAP-SIDE inside the
    # (cap-bounded) group — replaces the df-count agg + join-back + a×b
    # self-join (three passes over the full gram mass) of the naive form.
    # After the cap no group spans more than df_cap docs, so the expansion
    # is O(df_cap²)-bounded per gram — the skew guard IS the bound.
    occ = (
        grams.groupBy("gh")
        .agg(
            F.collect_list(F.struct("doc_id", "pos")).alias("occs"),
            F.countDistinct("doc_id").alias("gram_df"),
        )
        .transform(lineage_cut)  # feeds gram_stats AND the hit expansion
    )
    gram_stats = occ.agg(
        F.sum(F.size("occs")).cast("long").alias("n_gram_occurrences"),
        F.sum(F.when(F.col("gram_df") > df_cap, F.size("occs")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_occ_dropped"),
    )
    hits = (
        occ.filter(F.col("gram_df") <= df_cap)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(occs, a -> transform(occs, b -> "
                    "struct(a.doc_id AS id_a, b.doc_id AS id_b, "
                    "a.pos AS pa, b.pos AS pb)))), p -> p.id_a < p.id_b)"
                )
            ).alias("h")
        )
        .select(
            "h.id_a",
            "h.id_b",
            "h.pa",
            "h.pb",
            (F.col("h.pa") - F.col("h.pb")).alias("diag"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = hits.withColumn("island", F.col("pa") - F.row_number().over(w))
    spans = (
        runs.groupBy("id_a", "id_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.min("pa").alias("pa0"))
        .filter(F.col("n_grams") + k - 1 >= min_span)
        .select(
            "id_a",
            "id_b",
            (F.col("n_grams") + k - 1).cast("long").alias("span_tokens"),
        )
    )
    return spans, gram_stats


def dedup_span_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of span dedup, measured on planted boilerplate:
    run :func:`span_pairs_capped` (df-cap {SPAN_DF_CAP}, md5 gram keys)
    over :func:`span_boiler_corpus` and report ONE summary row —

    - ``n_docs`` / ``n_boiler_docs``: corpus size and header carriers;
    - ``n_gram_occurrences`` / ``n_occ_dropped``: total positioned-gram
      shuffle mass and the share the cap removed (every dropped
      occurrence would otherwise fan out ~df ways in the self-join);
    - ``boiler_pairs_avoided`` = C(n_boiler_docs, 2): the quadratic pair
      count the header ALONE would have injected uncapped (the header is
      {MIN_SPAN}+ tokens, so every carrier pair would report a span);
    - ``n_true_pairs`` / ``n_pairs_found`` / ``n_full_found``: planted
      chimera pairs; those detected with any ≥{MIN_SPAN}-token span;
      those whose detected span still covers the full {CHIM_SPAN}-token
      plant (a mid-window gram over the cap splits a run — the
      recall/efficiency tradeoff made visible);
    - ``recall_bp`` = 10000·found/true.

    The oracle replays cap, hash-keying, RLE, and every count in SQL.
    At 100 TB: the df-count is one gram-keyed agg (mergeable), the cap is
    the skew guard (no gram key fans out more than df_cap ways), and the
    md5 key fixes shuffle width regardless of gram length."""
    corpus = span_boiler_corpus(spark, sf_dir)
    spans, gram_stats = span_pairs_capped(corpus, SPAN_GRAM, MIN_SPAN, SPAN_DF_CAP)
    spans = lineage_cut(spans)

    counts = corpus.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("doc_id") % BOILER_MOD == 0).cast("long"))
        .cast("long")
        .alias("n_boiler_docs"),
        F.sum((F.col("doc_id") >= SPAN_ID_SHIFT).cast("long"))
        .cast("long")
        .alias("n_true_pairs"),
    )
    planted = spans.filter(
        (F.col("id_b") >= SPAN_ID_SHIFT)
        & (F.col("id_a") == F.col("id_b") - SPAN_ID_SHIFT + 1)
    )
    found = planted.agg(
        F.countDistinct("id_b").cast("long").alias("n_pairs_found"),
        F.countDistinct(F.when(F.col("span_tokens") >= CHIM_SPAN, F.col("id_b")))
        .cast("long")
        .alias("n_full_found"),
    )
    return (
        counts.join(gram_stats)
        .join(found)
        .select(
            "n_docs",
            "n_boiler_docs",
            "n_gram_occurrences",
            "n_occ_dropped",
            (F.col("n_boiler_docs") * (F.col("n_boiler_docs") - 1) / 2)
            .cast("long")
            .alias("boiler_pairs_avoided"),
            "n_true_pairs",
            "n_pairs_found",
            "n_full_found",
            F.floor(F.lit(10000) * F.col("n_pairs_found") / F.col("n_true_pairs"))
            .cast("long")
            .alias("recall_bp"),
        )
    )


ORACLE_SPAN_CAPPED = f"""
WITH {_SPAN_CORPUS_CTES},
boiler AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % {BOILER_MOD} = 0
              THEN string_split('{BOILER_HEADER}', ' ') || words
              ELSE words END AS words
  FROM span_corpus
),
grams AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(words) - {SPAN_GRAM - 1}, 0) + 1)) AS i,
         words
  FROM boiler
),
ghash AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(words[i:i + {SPAN_GRAM - 1}], ' ')) AS gh
  FROM grams
),
dfreq AS MATERIALIZED (
  SELECT gh, count(DISTINCT doc_id) AS gram_df FROM ghash GROUP BY gh
),
gram_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_gram_occurrences,
         CAST(sum(CASE WHEN d.gram_df > {SPAN_DF_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_occ_dropped
  FROM ghash g JOIN dfreq d ON g.gh = d.gh
),
keep AS MATERIALIZED (
  SELECT g.doc_id, g.pos, g.gh
  FROM ghash g JOIN dfreq d ON g.gh = d.gh
  WHERE d.gram_df <= {SPAN_DF_CAP}
),
hits AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM keep a JOIN keep b ON a.gh = b.gh AND a.doc_id < b.doc_id
),
runs AS (
  SELECT id_a, id_b, diag, pa,
         pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa)
           AS island
  FROM hits
),
spans AS MATERIALIZED (
  SELECT id_a, id_b, count(*) + {SPAN_GRAM - 1} AS span_tokens
  FROM runs
  GROUP BY id_a, id_b, diag, island
  HAVING count(*) + {SPAN_GRAM - 1} >= {MIN_SPAN}
),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN doc_id % {BOILER_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler_docs,
         CAST(sum(CASE WHEN doc_id >= {SPAN_ID_SHIFT} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pairs
  FROM span_corpus
),
found AS (
  SELECT CAST(count(DISTINCT id_b) AS BIGINT) AS n_pairs_found,
         CAST(count(DISTINCT CASE WHEN span_tokens >= {CHIM_SPAN} THEN id_b END)
              AS BIGINT) AS n_full_found
  FROM spans
  WHERE id_b >= {SPAN_ID_SHIFT} AND id_a = id_b - {SPAN_ID_SHIFT} + 1
)
SELECT c.n_docs, c.n_boiler_docs, g.n_gram_occurrences, g.n_occ_dropped,
       CAST(c.n_boiler_docs * (c.n_boiler_docs - 1) / 2 AS BIGINT)
         AS boiler_pairs_avoided,
       c.n_true_pairs, f.n_pairs_found, f.n_full_found,
       CAST(floor(10000.0 * f.n_pairs_found / c.n_true_pairs) AS BIGINT)
         AS recall_bp
FROM counts c, gram_stats g, found f
"""


DEDUP_THRESHOLDS_BP = [7000, 8000, 9000]


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold tuning sheet — pair yield and planted-truth hits as a
    CURVE over the Jaccard cutoff ∈ {DEDUP_THRESHOLDS_BP} bp (the dedup
    sibling of ann_recall_curve's nprobe sweep): ONE LSH candidate build
    + ONE exact intersection pass, then each threshold is a pure filter
    over the scored pairs, so the whole curve costs one pipeline run.
    Per threshold: candidate pairs passing, planted pairs passing
    (id ↔ id+1M whose true Jaccard clears the SAME cutoff — the keyed
    truth join, never all-pairs), and the hit count.  Monotone
    non-increasing in the threshold by construction (pinned).

    Exact integers: cutoff test is 10⁴·|∩| ≥ t_bp·|∪| — no float
    crosses the engines.  Scale: inherits dedup_ngram_jaccard's shapes;
    the sweep adds only per-threshold filters of the bounded scored
    set."""
    shingled = lineage_cut(_shingled_corpus(spark, sf_dir, drop_last=2))
    cands = _lsh_candidate_pairs(shingled)
    sa = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("c"),
            (F.size("sh_a") + F.size("sh_b") - inter).alias("u"),
        )
        .transform(lineage_cut)  # one scoring pass feeds every threshold
    )
    truth = (
        sa.join(sb, F.col("id_b") == F.col("id_a") + ID_SHIFT)
        .select(
            "id_a",
            "id_b",
            inter.alias("c"),
            (F.size("sh_a") + F.size("sh_b") - inter).alias("u"),
        )
        .transform(lineage_cut)
    )
    out = None
    for t in DEDUP_THRESHOLDS_BP:
        found = scored.filter(10000 * F.col("c") >= t * F.col("u")).select(
            "id_a", "id_b"
        )
        tr = truth.filter(10000 * F.col("c") >= t * F.col("u")).select("id_a", "id_b")
        part = (
            found.agg(F.count(F.lit(1)).alias("n_pairs"))
            .crossJoin(tr.agg(F.count(F.lit(1)).alias("n_truth")))
            .crossJoin(
                found.join(tr, ["id_a", "id_b"], "left_semi").agg(
                    F.count(F.lit(1)).alias("n_hit")
                )
            )
            .select(
                F.lit(t).cast("long").alias("threshold_bp"),
                "n_pairs",
                "n_truth",
                "n_hit",
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_threshold_curve() -> str:
    parts = []
    for t in DEDUP_THRESHOLDS_BP:
        parts.append(
            f"""SELECT CAST({t} AS BIGINT) AS threshold_bp,
       (SELECT count(*) FROM sc
        WHERE 10000 * c >= {t} * u) AS n_pairs,
       (SELECT count(*) FROM tr
        WHERE 10000 * c >= {t} * u) AS n_truth,
       (SELECT count(*) FROM sc s JOIN tr t2
          ON s.id_a = t2.id_a AND s.id_b = t2.id_b
        WHERE 10000 * s.c >= {t} * s.u
          AND 10000 * t2.c >= {t} * t2.u) AS n_hit"""
        )
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH {_oracle_corpus_droplast(2).strip().lstrip(",")},
{_ORACLE_SHINGLES.strip()},
{_oracle_minhash_sig_sql()},
{_oracle_cands_sql()},
sc AS MATERIALIZED (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS c,
         len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles)) AS u
  FROM cands c
  JOIN shingled sa ON sa.doc_id = c.id_a
  JOIN shingled sb ON sb.doc_id = c.id_b
),
tr AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.shingles, b.shingles)) AS c,
         len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)) AS u
  FROM shingled a JOIN shingled b ON b.doc_id = a.doc_id + {ID_SHIFT}
)
{body}
"""


# -- cross-method recall report ---------------------------------------------------


def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method bake-off on the planted ground truth: the corpus carries a
    drop-2-words near-duplicate copy of every document (id ↔ id+1M), so
    TRUTH = the planted pairs whose shingle-Jaccard actually clears 0.8 —
    computable with ONE keyed join, no all-pairs.  Each dedup method's
    found-pair set is then scored against it: pairs found, truth pairs
    hit, recall in basis points.  Prefix filtering is exact-by-theorem
    (recall must be 10000 — also pytest-pinned); MinHash-LSH's measured
    recall quantifies the banding trade-off the same way
    ``ann_recall_report`` quantifies IVF probe counts.

    Scale shape: both found-sets are the (already bounded) outputs of the
    underlying operators; truth is a key-equi join; the scoring is three
    tiny aggregates.  This is the evaluation harness a production dedup
    pipeline runs on seeded canaries after every config change.

    The shingled corpus is built and checkpointed ONCE and threaded
    through BOTH method branches and the truth join — the bake-off costs
    one shingle build, not three (the methods' own builds are for their
    standalone registrations)."""
    shingled = lineage_cut(_shingled_corpus(spark, sf_dir, drop_last=2))
    a = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        a.join(b, F.col("id_b") == F.col("id_a") + ID_SHIFT)
        .filter(5 * inter >= 4 * union)
        .select("id_a", "id_b")
    )

    def score(method: str, found: DataFrame) -> DataFrame:
        found = found.select("id_a", "id_b").distinct()
        n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
        n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
        n_hit = found.join(truth, ["id_a", "id_b"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        return (
            n_found.crossJoin(n_truth)
            .crossJoin(n_hit)
            .select(
                F.lit(method).alias("method"),
                "n_found",
                "n_truth",
                "n_hit",
                F.floor(F.lit(10000) * F.col("n_hit") / F.col("n_truth"))
                .cast("long")
                .alias("recall_bp"),
            )
        )

    return score(
        "prefix_filter", dedup_prefix_filter(spark, sf_dir, shingled=shingled)
    ).unionByName(
        score(
            "minhash_lsh_jaccard",
            dedup_ngram_jaccard(spark, sf_dir, shingled=shingled),
        )
    )


def _oracle_recall_report() -> str:
    truth = f"""
truth AS (
  WITH {_oracle_corpus_droplast(2)},
  {_ORACLE_SHINGLES}
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shingled a JOIN shingled b ON b.doc_id = a.doc_id + {ID_SHIFT}
  WHERE 5 * len(list_intersect(a.shingles, b.shingles))
        >= 4 * (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)))
)"""
    return f"""
WITH {truth.strip()},
fp AS ({ORACLE_PREFIX_FILTER}),
fl AS ({ORACLE_JACCARD})
SELECT method, n_found, n_truth, n_hit,
       CAST(floor(10000.0 * n_hit / n_truth) AS BIGINT) AS recall_bp
FROM (
  SELECT 'prefix_filter' AS method,
         (SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM fp)) AS n_found,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM fp) f
            JOIN truth t ON f.id_a = t.id_a AND f.id_b = t.id_b) AS n_hit
  UNION ALL
  SELECT 'minhash_lsh_jaccard',
         (SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM fl)),
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM fl) f
            JOIN truth t ON f.id_a = t.id_a AND f.id_b = t.id_b)
)
"""


# -- SemDeDup: k-means-pruned semantic dedup -----------------------------------------

SEMDEDUP_ROUNDS = 2
SEMDEDUP_K = 16  # K controls the within-cluster quadratic: Σ|c|² pair work
SEMDEDUP_SEED_IDS = [10 * (i + 1) for i in range(SEMDEDUP_K)]  # vec_ids 10..160


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal where the
    candidate space is pruned by CLUSTERING, not hashing — k-means the
    embedding corpus, compare pairs only WITHIN a cluster, and in each
    duplicate pair keep the member LEAST similar to its cluster centroid
    (the paper's keep rule: retain the less-prototypical example; ties on
    centroid-similarity keep the smaller id).  The third pruning geometry
    in this module's vector-dedup family, complementing sign-pattern LSH
    (:func:`dedup_embedding_cosine`, fixed random planes) and banded
    MinHash: clusters adapt to the corpus's density, so a production
    pipeline trains K to its duplicate scale instead of re-tuning hash
    widths.

    Same planted corpus as the LSH twin (copies at +ID_SHIFT with the
    tail zeroed, cosine >= 0.9 to their originals) so the two operators'
    recall is directly comparable on identical truth.

    Cross-engine exactness: centroids are bp-quantized every Lloyd round
    (the :func:`similarity.embedding_kmeans` contract), and both the
    pairwise cosine and the centroid-similarity rank are integer floored
    bp, so the keep/drop decision is bit-identical in both engines.

    Scale shape: clustering is SEMDEDUP_ROUNDS broadcast-assign passes (K
    rows broadcast, map-only) + a (cell, dim)-keyed mean; the pair stage
    shuffles once on cell and is quadratic only within a cluster —
    Σ|c|² work, the quantity SEMDEDUP_K controls (paper runs K ~ 10⁵ on
    web scale so |c| stays ~10³ — the blowup knob is explicit, like
    SIGN_BITS / band count; K=8→16 + the norm hoist below measured
    14.6→5.4 s warm at sf0.1 by halving Σ|c|² and cutting 2/3 of its
    flops).  Vector norms are hoisted out of the quadratic stage (one
    sqrt-aggregate per vector, not two per pair).  The keep rule is a
    per-pair predicate (no iterative connected components), so dedup is
    one more cluster-keyed pass."""
    return semdedup_report(spark, sf_dir, SEMDEDUP_SEED_IDS)


def _semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted near-dup copies (+ID_SHIFT, tail zeroed) — the
    shared truth corpus of the vector-dedup family."""
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    n_dims = F.size("vec")
    copies = vecs.select(
        (F.col("vec_id") + ID_SHIFT).alias("vec_id"),
        F.transform(
            "vec",
            lambda v, i: F.when(i < n_dims - ZERO_TAIL, v).otherwise(F.lit(0.0)),
        ).alias("vec"),
    )
    return lineage_cut(vecs.unionByName(copies))


def semdedup_report(
    spark: SparkSession, sf_dir: str, seed_ids: list[int]
) -> DataFrame:
    """The SemDeDup core with an explicit seed set — K = len(seed_ids) is
    the Σ|c|² knob; ``tools/stress.py dedup_semdedup_scaledK`` drives this
    with K scaled ∝ corpus size to demonstrate the documented linear
    regime (fixed-K is quadratic by construction).  FLAT Lloyd assignment: O(N·K·d) map-side
    flops per round — with K ∝ N this itself turns quadratic at the next
    scale rung, which is what :func:`semdedup_hier_report` (IVF-style
    coarse→fine training, O(N·(K₁+K₂)·d)) is for."""
    from mongraph_spark.queries.similarity import _SQ_DIST

    corpus = _semdedup_corpus(spark, sf_dir)
    seeds = corpus.filter(F.col("vec_id").isin(seed_ids)).select(
        F.col("vec_id").alias("seed_id"), F.col("vec").alias("c_vec")
    )
    centroids = seeds.withColumn(
        "cell",
        F.row_number().over(
            Window.partitionBy(const_part(F.col("seed_id"))).orderBy("seed_id")
        )
        - 1,
    ).select("cell", "c_vec")
    d = F.expr(_SQ_DIST.format(v="vec", c="c_vec"))
    assigned = None
    for _ in range(SEMDEDUP_ROUNDS):
        assigned = (
            corpus.crossJoin(F.broadcast(centroids))
            .withColumn("dist", d)
            .groupBy("vec_id")
            .agg(F.min_by("cell", F.struct("dist", "cell")).alias("cell"))
            .join(corpus, "vec_id")
        )
        per_dim = (
            assigned.select("cell", F.posexplode("vec").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.floor(F.lit(10000) * F.avg("v")).cast("long").alias("c_bp"))
        )
        centroids = per_dim.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c_bp"))),
                lambda s: s["c_bp"] / F.lit(10000.0),
            ).alias("c_vec")
        )
    return _semdedup_finish(assigned, centroids)


def _semdedup_finish(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Shared SemDeDup pair stage + per-cell report over an assignment
    (vec_id, cell, vec) and its centroids (cell, c_vec) — the quadratic-
    within-cluster half, identical under any clustering strategy."""

    def _cos_bp(u: str, v: str):
        dot = F.expr(
            f"aggregate(zip_with({u}, {v}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
        )
        nu = F.expr(
            f"aggregate(transform({u}, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
        )
        nv = F.expr(
            f"aggregate(transform({v}, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
        )
        return F.floor(F.lit(10000) * dot / (F.sqrt(nu) * F.sqrt(nv))).cast("long")

    # norms once per VECTOR, not per pair: the pair stage is the quadratic
    # part, so hoisting the two sqrt-aggregates out of it cuts ~2/3 of its
    # flops (bit-identical math — same doubles, multiplied in the same
    # order as the oracle's per-pair formula)
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(vec, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
        )
    )
    scored = (
        assigned.join(centroids, "cell")
        .select(
            "cell",
            "vec_id",
            "vec",
            norm.alias("nrm"),
            _cos_bp("vec", "c_vec").alias("cs_bp"),
        )
        .transform(lineage_cut)
    )
    a = scored.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
        F.col("cs_bp").alias("cs_a"),
    )
    b = scored.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("cs_bp").alias("cs_b"),
    )
    pair_dot = F.expr(
        "aggregate(zip_with(vec_a, vec_b, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
    )
    pair_cos = F.floor(
        F.lit(10000) * pair_dot / (F.col("nrm_a") * F.col("nrm_b"))
    ).cast("long")
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= COS_THRESHOLD_BP)
        .select("cell", "id_a", "id_b", "cs_a", "cs_b")
        .transform(lineage_cut)
    )
    # keep rule: the pair member with the smaller (cs_bp, vec_id) survives;
    # given id_a < id_b that collapses to: b drops when cs_a <= cs_b, a
    # drops when cs_b < cs_a
    dropped = (
        dup.filter(F.col("cs_a") <= F.col("cs_b"))
        .select("cell", F.col("id_b").alias("vec_id"))
        .unionByName(
            dup.filter(F.col("cs_b") < F.col("cs_a")).select(
                "cell", F.col("id_a").alias("vec_id")
            )
        )
        .distinct()
    )
    nvec = scored.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    dstats = dup.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.sum(
            F.when(F.col("id_b") == F.col("id_a") + ID_SHIFT, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_planted_pairs"),
    )
    dr = dropped.groupBy("cell").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        nvec.join(dstats, "cell", "left")
        .join(dr, "cell", "left")
        .na.fill(0, ["n_dup_pairs", "n_planted_pairs", "n_dropped"])
    )


def semdedup_hier_report(
    spark: SparkSession, sf_dir: str, coarse_ids: list[int], sub_k: int = 16
) -> DataFrame:
    """IVF-style hierarchical SemDeDup training — the two-level shape the
    paper's K ~ 10⁵ web-scale runs actually use (faiss coarse quantizer +
    per-list fine cells): a coarse quantizer of K₁ = len(coarse_ids)
    cells assigns every vector map-side, each coarse cell trains
    ``sub_k`` fine cells from its own members (deterministic seeds: the
    sub_k smallest vec_ids per cell), and vectors compare only against
    their OWN cell's sub-centroids.  Assignment cost O(N·(K₁+sub_k)·d)
    versus the flat path's O(N·K₁·sub_k·d) for the same effective cell
    count — with K ∝ N the FLAT assignment itself turns quadratic, which
    is the next wall after the pair stage is tamed (measured at 16×:
    flat K=256 assignment alone 13.3 s).  Both levels are broadcast
    joins — map-only flops, no shuffle beyond the argmin groupBy the
    flat path also pays; the sub-seed pick is one rank-k window keyed on
    the coarse cell (at true scale: sample per cell instead of ranking).
    The quadratic pair stage + keep rule are the shared
    :func:`_semdedup_finish` — identical dedup semantics."""
    from mongraph_spark.queries.similarity import _SQ_DIST

    corpus = _semdedup_corpus(spark, sf_dir)
    d = F.expr(_SQ_DIST.format(v="vec", c="c_vec"))

    def bp_mean(assigned: DataFrame, keys: list[str]) -> DataFrame:
        """The flat path's bp-quantized centroid update, per key tuple."""
        per_dim = (
            assigned.select(*keys, F.posexplode("vec").alias("dim", "v"))
            .groupBy(*keys, "dim")
            .agg(F.floor(F.lit(10000) * F.avg("v")).cast("long").alias("c_bp"))
        )
        return per_dim.groupBy(*keys).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c_bp"))),
                lambda s: s["c_bp"] / F.lit(10000.0),
            ).alias("c_vec")
        )

    # level 1: coarse quantizer, same SEMDEDUP_ROUNDS Lloyd shape as flat
    seeds = corpus.filter(F.col("vec_id").isin(coarse_ids)).select(
        F.col("vec_id").alias("seed_id"), F.col("vec").alias("c_vec")
    )
    coarse = seeds.withColumn(
        "cell0",
        F.row_number().over(
            Window.partitionBy(const_part(F.col("seed_id"))).orderBy("seed_id")
        )
        - 1,
    ).select("cell0", "c_vec")
    assign1 = None
    for _ in range(SEMDEDUP_ROUNDS):
        assign1 = (
            corpus.crossJoin(F.broadcast(coarse))
            .withColumn("dist", d)
            .groupBy("vec_id")
            .agg(F.min_by("cell0", F.struct("dist", "cell0")).alias("cell0"))
            .join(corpus, "vec_id")
        )
        coarse = bp_mean(assign1, ["cell0"])
    assign1 = lineage_cut(assign1)  # feeds level-2 rounds

    # level 2: per-cell fine cells, seeded deterministically and refined
    # with the SAME number of Lloyd rounds (without refinement the raw
    # rank-k seeds cost ~24% planted recall — measured, hence this loop)
    w = Window.partitionBy("cell0").orderBy("vec_id")
    subs = (
        assign1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= sub_k)
        .select(
            "cell0", (F.col("rn") - 1).alias("sub"), F.col("vec").alias("c_vec")
        )
    )
    assign2 = None
    for _ in range(SEMDEDUP_ROUNDS):
        assign2 = (
            assign1.join(F.broadcast(subs), "cell0")
            .withColumn("dist", d)
            .groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct("cell0", "sub"), F.struct("dist", "cell0", "sub")
                ).alias("cs")
            )
            .select(
                "vec_id", F.col("cs.cell0").alias("cell0"), F.col("cs.sub").alias("sub")
            )
            .join(corpus, "vec_id")
        )
        subs = bp_mean(assign2, ["cell0", "sub"])
    assigned = assign2.select(
        "vec_id", (F.col("cell0") * 100000 + F.col("sub")).alias("cell"), "vec"
    )
    centroids = subs.select(
        (F.col("cell0") * 100000 + F.col("sub")).alias("cell"), "c_vec"
    )
    return _semdedup_finish(assigned, centroids)


def _oracle_semdedup() -> str:
    from mongraph_spark.queries.similarity import _SQ_DIST_SQL

    _IDS_SQL = ", ".join(str(i) for i in SEMDEDUP_SEED_IDS)

    def cos_sql(u: str, v: str) -> str:
        return (
            f"CAST(floor(10000 * list_sum(list_transform(range(1, len({u}) + 1),"
            f" i -> {u}[i] * {v}[i]))"
            f" / (sqrt(list_sum(list_transform({u}, x -> x * x)))"
            f" * sqrt(list_sum(list_transform({v}, x -> x * x))))) AS BIGINT)"
        )

    body = f"""vecs AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
corpus AS MATERIALIZED (
  SELECT vec_id, vec FROM vecs
  UNION ALL
  SELECT vec_id + {ID_SHIFT},
         list_transform(range(1, len(vec) + 1),
                        i -> CASE WHEN i <= len(vec) - {ZERO_TAIL} THEN vec[i] ELSE 0.0 END)
  FROM vecs
),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vec AS c_vec
  FROM corpus WHERE vec_id IN ({_IDS_SQL})
)"""
    prev = "c0"
    for r in range(1, SEMDEDUP_ROUNDS + 1):
        body += f""",
a{r} AS MATERIALIZED (
  SELECT vec_id, cell, vec FROM (
    SELECT v.vec_id, c.cell, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell) AS rk
    FROM corpus v CROSS JOIN {prev} c
  ) WHERE rk = 1
),
pd{r} AS MATERIALIZED (
  SELECT cell, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM a{r}, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell, d
),
c{r} AS MATERIALIZED (
  SELECT cell, list(c_bp / 10000.0 ORDER BY dim) AS c_vec FROM pd{r} GROUP BY cell
)"""
        prev = f"c{r}"
    last = SEMDEDUP_ROUNDS
    return f"""WITH {body},
scored AS MATERIALIZED (
  SELECT a.cell, a.vec_id, a.vec, {cos_sql('a.vec', 'c.c_vec')} AS cs_bp
  FROM a{last} a JOIN c{last} c ON a.cell = c.cell
),
dup AS MATERIALIZED (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         a.cs_bp AS cs_a, b.cs_bp AS cs_b
  FROM scored a JOIN scored b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cos_sql('a.vec', 'b.vec')} >= {COS_THRESHOLD_BP}
),
dropped AS (
  SELECT DISTINCT cell, vec_id FROM (
    SELECT cell, id_b AS vec_id FROM dup WHERE cs_a <= cs_b
    UNION ALL
    SELECT cell, id_a FROM dup WHERE cs_b < cs_a
  )
)
SELECT s.cell, s.n_vectors,
       CAST(coalesce(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(coalesce(d.n_planted_pairs, 0) AS BIGINT) AS n_planted_pairs,
       CAST(coalesce(r.n_dropped, 0) AS BIGINT) AS n_dropped
FROM (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM scored GROUP BY cell) s
LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs,
                  CAST(sum(CASE WHEN id_b = id_a + {ID_SHIFT} THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_planted_pairs
           FROM dup GROUP BY cell) d ON s.cell = d.cell
LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_dropped
           FROM dropped GROUP BY cell) r ON s.cell = r.cell
"""


ORACLE_SEMDEDUP = _oracle_semdedup()


# The registered hierarchical run: 4 coarse cells x 4 fine = the same 16
# effective cells as the flat query, so the two reports are directly
# comparable (and the recall-parity pytest pin compares exactly these).
HIER_COARSE_IDS = SEMDEDUP_SEED_IDS[:4]
HIER_SUB_K = 4


def dedup_semdedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style hierarchical SemDeDup as a first-class oracle query —
    the two-level trainer :func:`semdedup_hier_report` documents (coarse
    quantizer -> per-cell fine cells, assignment O(N*(K1+K2)*d) versus
    flat O(N*K1*K2*d)), run at the same 16 effective cells as
    :func:`dedup_semdedup` (4 coarse x 4 fine).  Every stage is
    replicated in the DuckDB oracle: both Lloyd levels with bp-quantized
    centroid updates, the deterministic rank-k sub-seed pick, the
    composed (cell0, sub) cell ids, and the shared pair stage + keep
    rule — so the hash checks the TRAINER, not just the report shape.

    Measured at 16x corpus (tools/stress.py --repl 16
    dedup_semdedup_hier_scaledK dedup_semdedup_scaledK): hierarchical 18.5 s
    vs flat scaled-K 27.0 s with planted recall at parity (pytest pin
    test_semdedup_hier_matches_flat_recall)."""
    return semdedup_hier_report(spark, sf_dir, HIER_COARSE_IDS, sub_k=HIER_SUB_K)


def _oracle_semdedup_hier() -> str:
    from mongraph_spark.queries.similarity import _SQ_DIST_SQL

    ids = ", ".join(str(i) for i in HIER_COARSE_IDS)

    def cos_sql(u: str, v: str) -> str:
        return (
            f"CAST(floor(10000 * list_sum(list_transform(range(1, len({u}) + 1),"
            f" i -> {u}[i] * {v}[i]))"
            f" / (sqrt(list_sum(list_transform({u}, x -> x * x)))"
            f" * sqrt(list_sum(list_transform({v}, x -> x * x))))) AS BIGINT)"
        )

    body = f"""vecs AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
corpus AS MATERIALIZED (
  SELECT vec_id, vec FROM vecs
  UNION ALL
  SELECT vec_id + {ID_SHIFT},
         list_transform(range(1, len(vec) + 1),
                        i -> CASE WHEN i <= len(vec) - {ZERO_TAIL} THEN vec[i] ELSE 0.0 END)
  FROM vecs
),
k0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell0, vec AS c_vec
  FROM corpus WHERE vec_id IN ({ids})
)"""
    prev = "k0"
    for r in range(1, SEMDEDUP_ROUNDS + 1):
        body += f""",
l1a{r} AS MATERIALIZED (
  SELECT vec_id, cell0, vec FROM (
    SELECT v.vec_id, c.cell0, v.vec,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='v.vec', c='c.c_vec')}, c.cell0) AS rk
    FROM corpus v CROSS JOIN {prev} c
  ) WHERE rk = 1
),
l1pd{r} AS MATERIALIZED (
  SELECT cell0, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM l1a{r}, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell0, d
),
k{r} AS MATERIALIZED (
  SELECT cell0, list(c_bp / 10000.0 ORDER BY dim) AS c_vec FROM l1pd{r} GROUP BY cell0
)"""
        prev = f"k{r}"
    last = SEMDEDUP_ROUNDS
    body += f""",
s0 AS MATERIALIZED (
  SELECT cell0, rn - 1 AS sub, vec AS c_vec FROM (
    SELECT cell0, vec,
           row_number() OVER (PARTITION BY cell0 ORDER BY vec_id) AS rn
    FROM l1a{last}
  ) WHERE rn <= {HIER_SUB_K}
)"""
    sprev = "s0"
    for r in range(1, SEMDEDUP_ROUNDS + 1):
        body += f""",
l2a{r} AS MATERIALIZED (
  SELECT vec_id, cell0, sub, vec FROM (
    SELECT a.vec_id, a.cell0, s.sub, a.vec,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY {_SQ_DIST_SQL.format(v='a.vec', c='s.c_vec')}, s.sub) AS rk
    FROM l1a{last} a JOIN {sprev} s ON a.cell0 = s.cell0
  ) WHERE rk = 1
),
l2pd{r} AS MATERIALIZED (
  SELECT cell0, sub, d - 1 AS dim, CAST(floor(10000 * avg(vec[d])) AS BIGINT) AS c_bp
  FROM l2a{r}, UNNEST(range(1, len(vec) + 1)) AS t(d)
  GROUP BY cell0, sub, d
),
s{r} AS MATERIALIZED (
  SELECT cell0, sub, list(c_bp / 10000.0 ORDER BY dim) AS c_vec
  FROM l2pd{r} GROUP BY cell0, sub
)"""
        sprev = f"s{r}"
    return f"""WITH {body},
scored AS MATERIALIZED (
  SELECT a.cell0 * 100000 + a.sub AS cell, a.vec_id, a.vec,
         {cos_sql('a.vec', 's.c_vec')} AS cs_bp
  FROM l2a{last} a JOIN s{last} s ON a.cell0 = s.cell0 AND a.sub = s.sub
),
dup AS MATERIALIZED (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         a.cs_bp AS cs_a, b.cs_bp AS cs_b
  FROM scored a JOIN scored b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cos_sql('a.vec', 'b.vec')} >= {COS_THRESHOLD_BP}
),
dropped AS (
  SELECT DISTINCT cell, vec_id FROM (
    SELECT cell, id_b AS vec_id FROM dup WHERE cs_a <= cs_b
    UNION ALL
    SELECT cell, id_a FROM dup WHERE cs_b < cs_a
  )
)
SELECT s.cell, s.n_vectors,
       CAST(coalesce(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(coalesce(d.n_planted_pairs, 0) AS BIGINT) AS n_planted_pairs,
       CAST(coalesce(r.n_dropped, 0) AS BIGINT) AS n_dropped
FROM (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM scored GROUP BY cell) s
LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs,
                  CAST(sum(CASE WHEN id_b = id_a + {ID_SHIFT} THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_planted_pairs
           FROM dup GROUP BY cell) d ON s.cell = d.cell
LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_dropped
           FROM dropped GROUP BY cell) r ON s.cell = r.cell
"""


ORACLE_SEMDEDUP_HIER = _oracle_semdedup_hier()


def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup — the storage/dataset dedup
    technique fixed-size chunking can't match: chunk boundaries are
    picked by the CONTENT (a rolling word-trigram hash — cut after word
    i when md5's last hex nibble is '0', mean chunk ≈ 16 words), so an
    edit or truncation shifts only the chunks it touches while every
    other boundary re-synchronizes — unlike fixed windows, where one
    inserted word re-frames the whole tail.  The planted corpus is
    exactly that case: each doc's copy is truncated by 3 words
    (``dup_corpus(drop_last=3)``), and CDC still dedupes every chunk
    except the trailing one.

    Report per occurrence-count cluster: distinct chunks, chunks seen in
    ≥2 docs, total vs distinct word mass — the dedup-savings ledger, all
    integer.

    Cross-engine exactness: the boundary rule is md5 (identical hex in
    both engines) and both sides build chunks from explicit cut-position
    arrays (0-based HOFs in Spark, 1-based list lambdas in DuckDB — the
    convention mapping is the whole oracle).

    Scale shape: chunking is map-only per document (one HOF pass, no
    explode until the chunk list is final); the ledger is one
    (hash, wlen)-grouped count + a |cluster sizes| re-aggregate — the
    exact-dedup shuffle shape at chunk granularity."""
    corpus = dup_corpus(spark, sf_dir, drop_last=3)
    chunks = (
        corpus.withColumn("w", F.split(F.col("text"), " "))
        .withColumn(
            "cuts",
            F.expr(
                """
                if(size(w) >= 4,
                   filter(sequence(2, size(w) - 2),
                          i -> substring(md5(concat_ws(' ', w[i-2], w[i-1], w[i])),
                                         32, 1) = '0'),
                   cast(array() as array<int>))
                """
            ),
        )
        .withColumn(
            "starts",
            F.expr("concat(array(0), transform(cuts, b -> b + 1))"),
        )
        .withColumn(
            "ends",
            F.expr("concat(transform(cuts, b -> b + 1), array(size(w)))"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    """
                    transform(
                      sequence(0, size(starts) - 1),
                      j -> named_struct(
                        'h', md5(array_join(slice(
                              w,
                              element_at(starts, j + 1) + 1,
                              element_at(ends, j + 1) - element_at(starts, j + 1)),
                            ' ')),
                        'wlen', element_at(ends, j + 1) - element_at(starts, j + 1)))
                    """
                )
            ).alias("c"),
        )
        .select("doc_id", F.col("c.h").alias("h"), F.col("c.wlen").alias("wlen"))
    )
    occ = chunks.groupBy("h", "wlen").agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("doc_id").alias("d"),
    )
    return (
        occ.groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("d") >= 2).cast("long")).cast("long").alias(
                "n_multi_doc_chunks"
            ),
            F.sum(F.col("c") * F.col("wlen")).cast("long").alias("total_words"),
            F.sum("wlen").cast("long").alias("distinct_words"),
        )
        .withColumnRenamed("c", "cluster_size")
        .withColumn("cluster_size", F.col("cluster_size").cast("long"))
    )


ORACLE_CDC_CHUNKING = f"""
WITH {_oracle_corpus_droplast(3)},
worded AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM corpus
),
cutset AS (
  SELECT doc_id, w,
         CASE WHEN len(w) >= 4 THEN
           list_filter(range(3, len(w)),
                       p -> substr(md5(w[p-2] || ' ' || w[p-1] || ' ' || w[p]),
                                   32, 1) = '0')
         ELSE [] END AS cuts
  FROM worded
),
bounded AS (
  SELECT doc_id, w,
         list_concat([1], list_transform(cuts, p -> p + 1)) AS starts,
         list_concat(cuts, [len(w)]) AS ends
  FROM cutset
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(w[starts[j] : ends[j]], ' ')) AS h,
         ends[j] - starts[j] + 1 AS wlen
  FROM bounded, unnest(range(1, len(starts) + 1)) AS t(j)
),
occ AS (
  SELECT h, wlen, count(*) AS c, count(DISTINCT doc_id) AS d
  FROM chunks GROUP BY h, wlen
)
SELECT CAST(c AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_doc_chunks,
       CAST(sum(c * wlen) AS BIGINT) AS total_words,
       CAST(sum(wlen) AS BIGINT) AS distinct_words
FROM occ GROUP BY c
"""


# -- Bloom-filter dedup prefilter -------------------------------------------------

BLOOM_M = 1 << 18  # filter size in bits
BLOOM_K = 3  # hash functions (disjoint md5 hex windows)


def _bloom_positions(text_col):
    """The K bit positions of a document's content hash — three DISJOINT
    8-hex windows of the md5, each mod m.  Pure column expressions both
    engines evaluate identically."""
    h = F.md5(text_col)
    return [
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % BLOOM_M
        for i in range(BLOOM_K)
    ]


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership PREFILTER for exact dedup — the
    ingest-side gate a 100 TB pipeline runs before any join: an arriving
    batch is checked against a Bloom filter of the accumulated corpus's
    content hashes, and only the (tiny) candidate fraction pays the
    exact verify; definite-new docs are admitted with ZERO shuffle.

    Model: index side = the corpus; probe side = half re-submitted
    verbatim (true duplicates — every one MUST be caught: a Bloom filter
    has no false negatives) and half perturbed (novel — caught only by a
    false positive).  The filter is m = 2^18 bits, k = 3 positions from
    disjoint md5 windows; membership = ALL k positions set, counted by a
    semi-join of probe positions against the distinct set-bit relation
    (the set-bit RELATION is the semantic model — a physical deployment
    packs it into 4 KB of longs and broadcasts it, which is exactly why
    the admit path is shuffle-free at scale).

    Hash-asserted: probe/candidate/true-dup/false-positive counts and
    the observed FP rate in ppm — k=3 windows on 2^18 bits at this fill
    factor give a small but nonzero expected FP count, so the pipeline's
    false-positive VERIFY stage is exercised, not vacuous."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", _norm().alias("text")
    )
    # probe batch: %10==0 re-submitted verbatim (dup), %10==5 perturbed (new)
    probe = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 5).select(
                "doc_id", F.concat(F.col("text"), F.lit(" zq")).alias("text")
            )
        )
    )
    bits = None
    for i, pos in enumerate(_bloom_positions(F.col("text"))):
        part = docs.select(pos.alias("bit"))
        bits = part if bits is None else bits.unionByName(part)
    bits = bits.distinct()
    probe_pos = probe.select(
        "doc_id",
        F.explode(F.array(*_bloom_positions(F.col("text")))).alias("bit"),
    )
    hits = (
        probe_pos.join(bits, "bit")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_K)
        .select("doc_id")
    )
    cand = probe.join(hits, "doc_id")
    corpus_hashes = docs.select(F.md5("text").alias("h")).distinct()
    verified = cand.join(
        corpus_hashes, F.md5(cand["text"]) == corpus_hashes["h"], "left"
    ).select("doc_id", F.col("h").isNotNull().alias("is_dup"))
    return verified.agg(
        F.lit(probe.count()).cast("long").alias("n_probe"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_true_dup"),
        F.sum((~F.col("is_dup")).cast("long")).cast("long").alias("n_false_pos"),
    ).selectExpr(
        "n_probe",
        "n_candidates",
        "n_true_dup",
        "n_false_pos",
        "CAST((1000000 * n_false_pos) div n_probe AS BIGINT) AS fp_ppm",
    )


ORACLE_BLOOM_PREFILTER = f"""
WITH docs AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS text
  FROM documents
),
probe AS (
  SELECT doc_id, text FROM docs WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, text || ' zq' FROM docs WHERE doc_id % 10 = 5
),
bits AS (
  SELECT DISTINCT bit FROM (
    SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT % {BLOOM_M} AS bit FROM docs
    UNION ALL
    SELECT ('0x' || substr(md5(text), 9, 8))::BIGINT % {BLOOM_M} FROM docs
    UNION ALL
    SELECT ('0x' || substr(md5(text), 17, 8))::BIGINT % {BLOOM_M} FROM docs
  )
),
probe_pos AS (
  SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % {BLOOM_M} AS bit FROM probe
  UNION ALL
  SELECT doc_id, ('0x' || substr(md5(text), 9, 8))::BIGINT % {BLOOM_M} FROM probe
  UNION ALL
  SELECT doc_id, ('0x' || substr(md5(text), 17, 8))::BIGINT % {BLOOM_M} FROM probe
),
hits AS (
  SELECT doc_id FROM probe_pos JOIN bits USING (bit)
  GROUP BY doc_id HAVING count(*) = {BLOOM_K}
),
verified AS (
  SELECT p.doc_id,
         md5(p.text) IN (SELECT DISTINCT md5(text) FROM docs) AS is_dup
  FROM probe p JOIN hits USING (doc_id)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM probe) AS n_probe,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_false_pos,
       CAST((1000000 * sum(CASE WHEN is_dup THEN 0 ELSE 1 END))
            // (SELECT count(*) FROM probe) AS BIGINT) AS fp_ppm
FROM verified
"""


# -- b-bit minhash accuracy curve ----------------------------------------------------

BBIT_LEVELS = [1, 2, 4, 8, 16]


def dedup_bbit_minhash_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash accuracy sheet (Li & König 2010, public) — the
    storage/accuracy knob behind every production minhash deployment:
    keeping only the lowest b bits of each of the {N_HASHES} minhashes
    shrinks signatures 128/b-fold, at the cost of chance collisions the
    estimator must debias: with C = 2^−b,
    Ĵ = (p̂ − C) / (1 − C) = (matches·2^b − k) / (k·(2^b − 1)).

    Per b ∈ {BBIT_LEVELS}: mean |Ĵ − J| and mean Ĵ over the PLANTED
    truth pairs (id ↔ id+{ID_SHIFT}, the dedup family's keyed ground
    truth — one equi-join, never all-pairs), against the exact shingle
    Jaccard.  Error is monotone non-increasing in b in expectation; the
    b=16 row is the (practically) unbiased reference.

    Exactness: b-bit values are exact integers from the md5 hex tails
    (engine-portable); matches are exact counts; Ĵ, J and the error are
    per-pair IEEE expressions over exact integers, floored to ppm BEFORE
    the sum (order-free); means use FLOOR(sum/n) in doubles (NOT integer
    div — Spark's div truncates toward zero while DuckDB's // floors, and
    low-b sums go negative).

    Scale shape: ONE signature build + ONE keyed truth join
    (checkpointed); each curve point is a column expression over the
    bounded pair set."""
    shingled = _shingled_corpus(spark, sf_dir, drop_last=1).persist()
    sig = shingled.select("doc_id", *_minhash_sig("shingles"))
    sa = shingled.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    siga = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"ma{i}") for i in range(N_HASHES)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"mb{i}") for i in range(N_HASHES)],
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    pairs = (
        sa.join(sb, F.col("id_b") == F.col("id_a") + ID_SHIFT)
        .join(siga, "id_a")
        .join(sigb, "id_b")
        .select(
            inter.alias("c"),
            (F.size("sh_a") + F.size("sh_b") - inter).alias("u"),
            *[
                F.conv(F.substring(F.col(f"m{s}{i}"), 29, 4), 16, 10)
                .cast("long")
                .alias(f"{s}{i}")
                for s in ("a", "b")
                for i in range(N_HASHES)
            ],
        )
        .transform(lineage_cut)  # one build feeds every b
    )
    out = None
    for b in BBIT_LEVELS:
        mask = (1 << b) - 1
        matches = " + ".join(
            f"CASE WHEN (a{i} & {mask}) = (b{i} & {mask}) THEN 1 ELSE 0 END"
            for i in range(N_HASHES)
        )
        est = (
            f"((CAST(({matches}) AS DOUBLE) * {1 << b} - {N_HASHES})"
            f" / ({N_HASHES}.0 * {(1 << b) - 1}))"
        )
        true_j = "(CAST(c AS DOUBLE) / u)"
        part = pairs.selectExpr(
            f"CAST(FLOOR(1000000 * {est}) AS BIGINT) AS est_ppm",
            f"CAST(FLOOR(1000000 * ABS({est} - {true_j})) AS BIGINT) AS err_ppm",
        ).selectExpr(
            f"CAST({b} AS BIGINT) AS b",
            "est_ppm",
            "err_ppm",
        ).groupBy("b").agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr(
                "CAST(FLOOR(CAST(sum(err_ppm) AS DOUBLE) / count(1)) AS BIGINT)"
            ).alias("mean_abs_err_ppm"),
            F.expr(
                "CAST(FLOOR(CAST(sum(est_ppm) AS DOUBLE) / count(1)) AS BIGINT)"
            ).alias("mean_est_ppm"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_bbit_curve() -> str:
    points = []
    for b in BBIT_LEVELS:
        mask = (1 << b) - 1
        matches = " + ".join(
            f"CASE WHEN (('0x' || substr(sa.mh{i}, 29, 4))::BIGINT & {mask})"
            f" = (('0x' || substr(sb.mh{i}, 29, 4))::BIGINT & {mask})"
            " THEN 1 ELSE 0 END"
            for i in range(N_HASHES)
        )
        est = (
            f"((CAST(({matches}) AS DOUBLE) * {1 << b} - {N_HASHES})"
            f" / ({N_HASHES}.0 * {(1 << b) - 1}))"
        )
        points.append(
            f"""SELECT CAST({b} AS BIGINT) AS b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(FLOOR(CAST(sum(CAST(FLOOR(1000000 * ABS({est}
         - (CAST(t.c AS DOUBLE) / t.u))) AS BIGINT)) AS DOUBLE) / count(*))
         AS BIGINT) AS mean_abs_err_ppm,
       CAST(FLOOR(CAST(sum(CAST(FLOOR(1000000 * {est}) AS BIGINT)) AS DOUBLE)
         / count(*)) AS BIGINT) AS mean_est_ppm
FROM tr t
JOIN sig sa ON sa.doc_id = t.id_a
JOIN sig sb ON sb.doc_id = t.id_b"""
        )
    body = "\nUNION ALL\n".join(points)
    return f"""
WITH {_oracle_corpus_droplast(1).strip().lstrip(",")},
{_ORACLE_SHINGLES.strip()},
{_oracle_minhash_sig_sql()},
tr AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.shingles, b.shingles)) AS c,
         len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)) AS u
  FROM shingled a JOIN shingled b ON b.doc_id = a.doc_id + {ID_SHIFT}
)
{body}
ORDER BY b
"""


ORACLE_BBIT_CURVE = _oracle_bbit_curve()


QUERIES = {
    "dedup_bbit_minhash_curve": dedup_bbit_minhash_curve,
    "dedup_bloom_prefilter": dedup_bloom_prefilter,
    "dedup_semdedup": dedup_semdedup,
    "dedup_semdedup_hier": dedup_semdedup_hier,
    "dedup_cdc_chunking": dedup_cdc_chunking,
    "dedup_exact": dedup_exact,
    "dedup_passages": dedup_passages,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "corpus_semantic_decon": corpus_semantic_decon,
    "dedup_prefix_filter": dedup_prefix_filter,
    "dedup_source_matrix": dedup_source_matrix,
    "dedup_span_exact": dedup_span_exact,
    "dedup_span_trim": dedup_span_trim,
    "dedup_span_capped": dedup_span_capped,
    "corpus_span_decontamination": corpus_span_decontamination,
    "dedup_recall_report": dedup_recall_report,
    "dedup_threshold_curve": dedup_threshold_curve,
}

ORACLES = {
    "dedup_bbit_minhash_curve": ORACLE_BBIT_CURVE,
    "dedup_bloom_prefilter": ORACLE_BLOOM_PREFILTER,
    "dedup_semdedup": ORACLE_SEMDEDUP,
    "dedup_semdedup_hier": ORACLE_SEMDEDUP_HIER,
    "dedup_cdc_chunking": ORACLE_CDC_CHUNKING,
    "dedup_exact": ORACLE_EXACT,
    "dedup_passages": ORACLE_PASSAGES,
    "dedup_ngram_jaccard": ORACLE_JACCARD,
    "dedup_containment": ORACLE_CONTAINMENT,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_simhash": ORACLE_SIMHASH,
    "dedup_embedding_cosine": ORACLE_EMBEDDING_COSINE,
    "corpus_semantic_decon": ORACLE_SEMANTIC_DECON,
    "dedup_prefix_filter": ORACLE_PREFIX_FILTER,
    "dedup_source_matrix": _oracle_source_matrix(),
    "dedup_span_exact": ORACLE_SPAN_EXACT,
    "dedup_span_trim": ORACLE_SPAN_TRIM,
    "dedup_span_capped": ORACLE_SPAN_CAPPED,
    "corpus_span_decontamination": ORACLE_SPAN_DECONTAM,
    "dedup_recall_report": _oracle_recall_report(),
    "dedup_threshold_curve": _oracle_threshold_curve(),
}
