"""Invariants and plan pins for the round-2 operators: BM25 search, sequence
packing, per-source caps, PII redaction, SCD2 intervals, deciles, salted
join equivalence, k-core convergence, min/max downsampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongraph_spark.queries.graph_analytics import (
    KCORE_K,
    N_PEEL_ROUNDS,
    _kcore_degree_hist,
)
from mongraph_spark.queries.pipeline import (
    CHUNK_TOKENS,
    SOURCE_CAP,
    pipeline_pack_chunks,
    pipeline_source_cap,
)
from mongraph_spark.queries.relational import (
    salted_revenue_by_priority,
    scd2_priority_history,
    window_customer_deciles,
)
from mongraph_spark.queries.search import QUERY_TERMS, text_bm25_topk
from mongraph_spark.queries.text import (
    SCAN_EMAIL_PATTERN,
    SCAN_TERM_PATTERN,
    text_scan_redact,
)
from mongraph_spark.queries.events import events_minmax_downsample
from mongraph_spark.sparkutil import read_table

SF = "/root/testdata/sf0.001"


# -- BM25 -------------------------------------------------------------------------


def test_bm25_topk_plan_and_ordering(spark):
    df = text_bm25_topk(spark, SF)
    # global top-k must be a TakeOrderedAndProject (per-partition heaps),
    # never a total Sort
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    scores = [r.score_bp for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) > 0


def test_bm25_top_doc_actually_contains_a_query_term(spark):
    top = text_bm25_topk(spark, SF).first()
    text = (
        read_table(spark, SF, "documents")
        .filter(F.col("doc_id") == top.doc_id)
        .first()
        .text.lower()
    )
    assert any(t in text.split() for t in QUERY_TERMS)
    assert top.score_bp > 0


# -- sequence packing ---------------------------------------------------------------


def test_pack_chunks_is_contiguous_per_source(spark):
    rows = pipeline_pack_chunks(spark, SF).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for docs in by_source.values():
        docs.sort(key=lambda r: r.doc_id)
        # first doc starts at chunk 0; token-offset chain matches exactly
        cum = 0
        for r in docs:
            assert r.first_chunk == cum // CHUNK_TOKENS
            assert r.last_chunk == (cum + r.n_tokens - 1) // CHUNK_TOKENS
            assert r.n_chunks_spanned == r.last_chunk - r.first_chunk + 1
            cum += r.n_tokens
        total_chunks = max(r.last_chunk for r in docs) + 1
        assert total_chunks == -(-cum // CHUNK_TOKENS)  # == ceil(total / C)


def test_pack_chunks_window_is_partitioned_by_source(spark):
    plan = pipeline_pack_chunks(spark, SF)._jdf.queryExecution().executedPlan().toString()
    # the packing window must shuffle on source, not collapse to 1 partition
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


# -- per-source cap -----------------------------------------------------------------


def test_source_cap_bounds(spark):
    for r in pipeline_source_cap(spark, SF).collect():
        assert 0 <= r.n_kept <= min(SOURCE_CAP, r.n_docs)
        if r.n_docs >= SOURCE_CAP:
            assert r.n_kept == SOURCE_CAP
        assert (r.kept_quality_floor is None) == (r.n_kept == 0)


# -- PII redaction ------------------------------------------------------------------


def test_pii_redaction_masks_everything(spark):
    """Re-applying the scan patterns to the masked text must find nothing —
    the redacted corpus check an audit would run."""
    docs = read_table(spark, SF, "documents")
    masked = F.regexp_replace(
        F.regexp_replace("text", F.lit(SCAN_EMAIL_PATTERN), F.lit("[EMAIL]")),
        F.lit(SCAN_TERM_PATTERN),
        F.lit("[TERM]"),
    )
    residue = docs.select(
        F.size(F.regexp_extract_all(masked, F.lit(SCAN_TERM_PATTERN), F.lit(0))).alias("t"),
        F.size(F.regexp_extract_all(masked, F.lit(SCAN_EMAIL_PATTERN), F.lit(0))).alias("e"),
    ).agg(F.sum("t").alias("t"), F.sum("e").alias("e")).first()
    assert residue.t == 0 and residue.e == 0
    # and the operator counted at least one redaction somewhere
    total = text_scan_redact(spark, SF).agg(F.sum("n_redactions")).first()[0]
    assert total > 0


# -- SCD2 ---------------------------------------------------------------------------


def test_scd2_intervals_chain_without_overlap(spark):
    rows = scd2_priority_history(spark, SF).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for hist in by_cust.values():
        hist.sort(key=lambda r: (r.valid_from, r.valid_to or "9999"))
        # exactly one open (current) interval per customer
        assert sum(1 for r in hist if r.valid_to is None) == 1
        assert hist[-1].valid_to is None
        for prev, nxt in zip(hist, hist[1:]):
            assert prev.valid_to == nxt.valid_from  # contiguous chain
            assert prev.valid_from <= nxt.valid_from


def test_scd2_consecutive_islands_change_priority(spark):
    rows = scd2_priority_history(spark, SF).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    # runs are maximal: two adjacent intervals never share a priority unless
    # separated by a different one in calendar order (same valid_from ties
    # are impossible: islands split on strictly increasing (date, key))
    for hist in by_cust.values():
        hist.sort(key=lambda r: (r.valid_from, r.valid_to or "9999"))
        for prev, nxt in zip(hist, hist[1:]):
            if prev.valid_to == nxt.valid_from and prev.valid_from != nxt.valid_from:
                assert prev.priority != nxt.priority or prev.valid_to != prev.valid_from


# -- deciles ------------------------------------------------------------------------


def test_deciles_partition_customers_evenly(spark):
    rows = window_customer_deciles(spark, SF).collect()
    n_cust = read_table(spark, SF, "orders").select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in rows) == n_cust
    sizes = [r.n_customers for r in rows]
    assert max(sizes) - min(sizes) <= 1  # ntile fairness
    assert {r.decile for r in rows} == set(range(1, 11))


# -- salted join equivalence ---------------------------------------------------------


def test_salted_revenue_matches_plain_join(spark):
    salted = {
        (r.priority, r.n_lines, r.revenue_cents)
        for r in salted_revenue_by_priority(spark, SF).collect()
    }
    li = read_table(spark, SF, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("rev_cents"),
    )
    orders = read_table(spark, SF, "orders")
    plain = {
        (r.priority, r.n_lines, r.revenue_cents)
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
        .collect()
    }
    assert salted == plain


# -- k-core ------------------------------------------------------------------------


def test_kcore_is_converged_at_fixed_unroll(spark):
    """One extra peel round must not change the histogram — the fixed unroll
    the oracle checks has already reached the k-core fixed point here."""
    a = {(r.deg, r.n_nodes) for r in _kcore_degree_hist(spark, SF, N_PEEL_ROUNDS).collect()}
    b = {
        (r.deg, r.n_nodes)
        for r in _kcore_degree_hist(spark, SF, N_PEEL_ROUNDS + 1).collect()
    }
    assert a == b
    # at the fixed point every surviving node has degree >= k
    assert all(deg >= KCORE_K for deg, _ in a)


# -- min/max downsample --------------------------------------------------------------


def test_minmax_downsample_invariants(spark):
    rows = events_minmax_downsample(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_events >= 1
        assert r.min_value_cents <= r.max_value_cents
        if r.n_events == 1:
            assert r.first_event_id == r.last_event_id
