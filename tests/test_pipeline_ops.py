"""Invariants of the corpus-pipeline operators that the value-hash oracle
can't express: split disjointness/stability, sampling determinism, cluster
containment, quantization range bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongraph_spark.queries.dedup import _shingled_corpus, ID_SHIFT
from mongraph_spark.queries.pipeline import (
    _cluster_labels,
    embedding_quantize_int8,
    N_CLUSTER_ROUNDS,
    sample_stratified,
    train_split_assign,
)
from mongraph_spark.sparkutil import read_table

SF = "/root/testdata/sf0.001"


def test_split_partitions_the_corpus(spark):
    """train/val/test counts must add up to the corpus exactly — membership
    is a partition, not a sample."""
    docs = read_table(spark, SF, "documents")
    total = docs.count()
    agg = train_split_assign(spark, SF)
    assert agg.agg(F.sum("n_docs")).first()[0] == total
    splits = {r.split for r in agg.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}


def test_sampling_is_deterministic_and_bounded(spark):
    a = {(r.lang, r.n_docs, r.n_sampled) for r in sample_stratified(spark, SF).collect()}
    b = {(r.lang, r.n_docs, r.n_sampled) for r in sample_stratified(spark, SF).collect()}
    assert a == b
    for _, n_docs, n_sampled in a:
        assert 0 <= n_sampled <= n_docs


def test_cluster_labels_contain_planted_pairs(spark):
    """Every planted near-dup copy (doc_id + ID_SHIFT) that LSH pairs with
    its original must share the original's cluster label (min-id wins)."""
    shingled = _shingled_corpus(spark, SF, drop_last=1).persist()
    try:
        labels = _cluster_labels(shingled)
        rows = {r.doc_id: r.label for r in labels.collect()}
    finally:
        shingled.unpersist()
    n_planted_merged = sum(
        1
        for doc_id, label in rows.items()
        if doc_id >= ID_SHIFT and label == doc_id - ID_SHIFT
    )
    # the LSH recall on drop-last-1 copies is high; require most merged
    n_copies = sum(1 for d in rows if d >= ID_SHIFT)
    assert n_planted_merged >= 0.8 * n_copies
    # labels are canonical: every label is itself a member and <= its doc
    assert all(label <= doc_id and label in rows for doc_id, label in rows.items())


def test_quantization_bounds_and_scale(spark):
    q = embedding_quantize_int8(spark, SF)
    bad = q.filter(
        (F.col("q_max") > 127) | (F.col("q_min") < -128) | (F.col("scale_bp") <= 0)
    )
    assert bad.count() == 0
    # at least one dim hits the scale: q_max == 127 or q_min == -128/-127 band
    hit = q.filter((F.col("q_max") == 127) | (F.col("q_min") <= -127))
    assert hit.count() == q.count()
