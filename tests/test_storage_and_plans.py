"""Storage round-trip + physical-plan quality assertions.

The plan tests pin the scale-critical properties: anchored traversals must
push filters into the parquet scan (partition pruning on type, min/max skip
on src), and populate joins against dimension collections must broadcast.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mongraph_spark.graphs import tpch
from mongraph_spark.populate import enrich_edges
from mongraph_spark.sources.parquet_store import load_bulk, save_catalog
from mongraph_spark.traversal import TraversalQuery

SF = "/root/testdata/sf0.001"


# -- snapshot / restore -------------------------------------------------------------


def test_catalog_snapshot_roundtrip(engine, spark, tmp_path):
    root = str(tmp_path / "snap")
    save_catalog(engine.catalog, root)
    bulk = load_bulk(spark, root)
    assert bulk.nodes_df().count() == engine.count_nodes()
    assert bulk.edges_df().count() == engine.count_edges()
    assert sorted(bulk.collection_names()) == sorted(engine.catalog.collection_names())
    # graph reads work distributed over the snapshot
    alice_nid = engine.fixture_docs["alice"].get_node_id()
    tq = TraversalQuery(anchor=alice_nid, direction="outgoing", types=["visits"])
    assert tq.apply(bulk.edges_df()).count() == 2
    # documents round-trip with their schema
    people = bulk.documents_df("people")
    assert people.filter(F.col("name") == "alice").count() == 1


def test_save_catalog_checks_every_collection_before_writing(engine, spark, tmp_path):
    """An empty collection without a schema is skipped; one holding
    documents is refused, by name, before any file is written."""
    engine.catalog.register_collection("empty_scratch")
    root = tmp_path / "snap"
    save_catalog(engine.catalog, str(root))
    assert "empty_scratch" not in load_bulk(spark, str(root)).collection_names()
    engine.create_document("scratchpad", {"note": "x"}).save()
    refused = tmp_path / "refused"
    with pytest.raises(ValueError, match="'scratchpad'"):
        save_catalog(engine.catalog, str(refused))
    assert not refused.exists()


# -- physical plan quality -----------------------------------------------------------


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_anchored_traversal_pushes_filters(spark):
    eng = tpch.bulk_engine(spark, SF)
    tq = TraversalQuery(anchor=3 * 10**12 + 1, direction="outgoing", types=["placed"])
    plan = _plan_of(tq.apply(eng.store.edges_df()))
    # type filter must become partition pruning of the materialized store
    assert re.search(r"PartitionFilters: \[.*type.*\]", plan), plan
    # src filter must reach the scan as a data filter (row-group min/max skip)
    assert re.search(r"PushedFilters: \[.*EqualTo\(src", plan), plan


def test_nodes_scan_prunes_collection_partitions(spark):
    eng = tpch.bulk_engine(spark, SF)
    df = eng.store.nodes_df().filter(F.col("_collection") == "region")
    plan = _plan_of(df)
    assert re.search(r"PartitionFilters: \[.*_collection.*\]", plan), plan


def test_populate_enrich_broadcasts_dimensions(spark):
    eng = tpch.bulk_engine(spark, SF)
    placed = eng.store.edges_df().filter(F.col("type") == "placed")
    out = enrich_edges(
        eng.store,
        placed,
        from_collection="customer",
        to_collection="orders",
        where_from={"c_mktsegment": "BUILDING"},
    )
    plan = _plan_of(out)
    assert "BroadcastHashJoin" in plan, plan


def test_count_aggregate_is_partial(spark):
    """Count plans must show map-side partial aggregation."""
    eng = tpch.bulk_engine(spark, SF)
    tq = TraversalQuery(anchor=3 * 10**12 + 1, direction="both")
    plan = _plan_of(tq.apply(eng.store.edges_df()).agg(F.count(F.lit(1)).alias("c")))
    assert "partial_count" in plan, plan


def test_bucketed_edge_join_skips_big_side_shuffle(spark):
    """The bucketed edge store must let src-keyed joins read buckets in
    place: the contains (lineitem-scale) side shows a bucketed scan with NO
    Exchange between scan and join; only the probe side is exchanged."""
    from mongraph_spark.queries.graph_analytics import graph_two_hop_bucketed

    df = graph_two_hop_bucketed(spark, SF)
    plan = _plan_of(df)
    assert "SortMergeJoin" in plan, plan
    assert re.search(r"Bucketed: true", plan), plan
    # exactly one side of the join gets shuffled into bucket-compatible
    # partitioning; the bucketed side never does
    join_block = plan[plan.index("SortMergeJoin"):]
    n_exchanges = len(re.findall(r"Exchange hashpartitioning\(\S*src|Exchange hashpartitioning\(\S*order_id", join_block))
    assert n_exchanges <= 1, plan


# -- ingestion sources ---------------------------------------------------------------


def test_read_documents_csv_derives_id(spark, tmp_path):
    from mongraph_spark.sources.ingest import read_documents

    src = tmp_path / "docs.csv"
    src.write_text("name,score\nx,1\ny,2\n")
    df = read_documents(spark, str(src), fmt="csv")
    rows = {r.name: r for r in df.collect()}
    assert set(rows) == {"x", "y"}
    assert all(re.fullmatch(r"[a-f0-9]{24}", r._id) for r in rows.values())
    # deterministic: same content -> same _id
    df2 = read_documents(spark, str(src), fmt="csv")
    assert {r._id for r in df2.collect()} == {r._id for r in df.collect()}


# -- pipeline ops: column pruning + shuffle budget --------------------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sampling_and_split_prune_scan_columns(spark):
    """The deterministic sample/split operators must not widen the documents
    scan: text (the fat column) stays unread, and the only shuffle is the
    final audit aggregation."""
    from mongraph_spark.queries.pipeline import sample_stratified, train_split_assign

    sf = "/root/testdata/sf0.001"
    p = _executed_plan(sample_stratified(spark, sf))
    assert "doc_id:bigint,lang:string" in p and "text" not in p.split("ReadSchema:")[1].split("\n")[0]
    assert p.count("Exchange") <= 2  # partial agg -> one shuffle (AQE may add a coalesce read)

    p = _executed_plan(train_split_assign(spark, sf))
    first_read = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" not in first_read and "source" not in first_read
    assert p.count("Exchange") <= 2


def test_quantization_is_map_only(spark):
    """int8 quantization must be a pure scan->project pipeline: zero
    exchanges at any scale."""
    from mongraph_spark.queries.pipeline import embedding_quantize_int8

    p = _executed_plan(embedding_quantize_int8(spark, "/root/testdata/sf0.001"))
    assert p.count("Exchange") == 0


# -- salted join: skew-resistant placement ----------------------------------------


def test_salted_join_row_identical_and_splits_hot_key(spark):
    """salted_join must be row-identical to the plain join, and the hot key
    must actually scatter across salts (placement property)."""
    from mongraph_spark.sparkutil import salted_join

    # 10k facts, 90% on one hot key
    facts = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("attr"))

    plain = facts.join(dim, "k").select("k", "payload", "attr")
    salted = salted_join(facts, dim, "k", n_salts=16).select("k", "payload", "attr")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    # placement: the hot key's rows spread over (nearly) all 16 salts
    n_salts_hot = (
        facts.withColumn("_salt", F.pmod(F.xxhash64(*facts.columns), F.lit(16)))
        .filter(F.col("k") == 7)
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_salts_hot >= 12

    # left join preserves unmatched facts exactly once
    dim_holes = dim.filter(F.col("k") < 50)
    plain_l = facts.join(dim_holes, "k", "left").select("k", "payload", "attr")
    salted_l = salted_join(facts, dim_holes, "k", n_salts=8, how="left").select(
        "k", "payload", "attr"
    )
    assert sorted(map(tuple, plain_l.fillna(-1).collect())) == sorted(
        map(tuple, salted_l.fillna(-1).collect())
    )


def test_salted_join_survives_salt_name_collision_and_map_columns(spark):
    """A pre-existing ``_salt`` column on either input must come through the
    join intact (the helper picks a fresh name), and map-typed fact columns
    must not break the xxhash64 salt (maps are unhashable in Spark)."""
    from mongraph_spark.sparkutil import salted_join

    facts = spark.range(200).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("payload"),
        (F.col("id") * 2).alias("_salt"),  # user column named _salt
        F.create_map(F.lit("a"), F.col("id")).alias("attrs"),  # map-typed
    )
    dim = spark.range(5).select(F.col("id").alias("k"), (F.col("id") + 100).alias("v"))

    out = salted_join(facts, dim, "k", n_salts=8)
    assert "_salt" in out.columns and "attrs" in out.columns
    plain = facts.join(dim, "k")
    key = lambda r: (r["k"], r["payload"], r["_salt"], r["v"])
    assert sorted(map(key, out.collect())) == sorted(map(key, plain.collect()))
    # the user's _salt values are untouched
    assert all(r["_salt"] == r["payload"] * 2 for r in out.collect())


def test_salted_join_key_only_facts_falls_back_to_plain(spark):
    """When nothing but the key is hashable, salting cannot scatter a hot
    key — the helper must fall back to the plain join, still row-identical."""
    from mongraph_spark.sparkutil import salted_join

    facts = spark.range(100).select(
        (F.col("id") % 3).alias("k"),
        F.create_map(F.lit("x"), F.col("id")).alias("m"),
    )
    dim = spark.range(3).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    out = salted_join(facts, dim, "k")
    assert out.count() == 100


def test_adaptive_salted_join_picks_by_histogram(spark):
    """adaptive_salted_join buys salting only when the profiled key
    histogram says skew: a planted hot key flips it on (8x dim replication
    visible in the plan), a uniform key keeps the plain join — and both
    paths stay row-identical to the plain join (VERDICT r3 #8)."""
    from mongraph_spark.sparkutil import adaptive_salted_join

    dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("attr"))

    # 90% of facts on one hot key: max/avg ratio ~ 90 >> 4, and the hot
    # key clears the (test-scaled) absolute floor
    skewed = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    joined, used = adaptive_salted_join(
        skewed, dim, "k", n_salts=8, min_hot_rows=1_000
    )
    assert used is True

    # the same relative skew below the DEFAULT absolute floor must NOT
    # salt: a hot key of a few thousand rows cannot straggle a task, and
    # the ratio-only gate used to buy the 8x dim replication for nothing
    # (measured on TPC-H lineitem: max 17 rows vs mean 4.1 -> ratio 4.17)
    _, used_tiny = adaptive_salted_join(skewed, dim, "k", n_salts=8)
    assert used_tiny is False
    plain = skewed.join(dim, "k").select("k", "payload", "attr")
    assert sorted(map(tuple, joined.select("k", "payload", "attr").collect())) == sorted(
        map(tuple, plain.collect())
    )

    # uniform keys: max/avg ratio ~ 1 < 4 -> plain join, no salt column
    uniform = spark.range(10_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("payload")
    )
    joined_u, used_u = adaptive_salted_join(uniform, dim, "k", n_salts=8)
    assert used_u is False
    assert "explode" not in joined_u._jdf.queryExecution().optimizedPlan().toString().lower()


def test_adaptive_salted_join_profile_is_memoized(spark, monkeypatch):
    """The skew profile is a property of the facts plan — re-joining the
    same facts DataFrame must NOT pay a second histogram scan (ADVICE r4:
    construction was fully eager on every call)."""
    import mongraph_spark.sparkutil as su

    dim = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("attr"))
    facts = spark.range(5_000).select((F.col("id") % 50).alias("k"), F.col("id").alias("p"))

    memo = su.salt_profiles(spark)
    memo.clear()
    joined1, used1 = su.adaptive_salted_join(facts, dim, "k")
    assert len(memo) == 1

    # second call on the same plan: decision must come from the memo —
    # a groupBy would mean a second profile scan
    def no_groupby(*a, **k):
        raise AssertionError("profile re-ran for an already-profiled plan")

    monkeypatch.setattr(type(facts), "groupBy", no_groupby)
    joined2, used2 = su.adaptive_salted_join(facts, dim, "k")
    assert used2 == used1
    monkeypatch.undo()
    assert joined2.count() == joined1.count()


def test_salt_profiles_drop_the_oldest_past_the_cap(spark, monkeypatch):
    import mongraph_spark.sparkutil as su

    monkeypatch.setattr(su, "_SALT_PROFILES_PER_SESSION", 1)
    memo = su.salt_profiles(spark)
    memo.clear()
    dim = spark.range(10).select(F.col("id").alias("k"))
    for mod in (10, 7):
        su.adaptive_salted_join(spark.range(100).select((F.col("id") % mod).alias("k")), dim, "k")
    (kept,) = memo
    later = spark.range(100).select((F.col("id") % 7).alias("k"))
    assert kept[0] == later.semanticHash()


def test_salt_profiles_are_per_session(spark, monkeypatch):
    """A second session profiles the same plan again: it does not see the
    first session's skew decisions (the data behind a plan may have moved)."""
    import mongraph_spark.sparkutil as su

    def facts_of(session):
        return session.range(5_000).select((F.col("id") % 50).alias("k"))

    dim = spark.range(50).select(F.col("id").alias("k"))
    su.adaptive_salted_join(facts_of(spark), dim, "k")
    assert len(su.salt_profiles(spark)) >= 1

    other = spark.newSession()
    assert su.salt_profiles(other) == {}
    profiled = []
    orig = type(dim).groupBy

    def counting_groupby(self, *a, **k):
        profiled.append(a)
        return orig(self, *a, **k)

    monkeypatch.setattr(type(dim), "groupBy", counting_groupby)
    su.adaptive_salted_join(facts_of(other), other.range(50).select(F.col("id").alias("k")), "k")
    assert ("k",) in profiled  # the key histogram ran in this session
    assert len(su.salt_profiles(other)) == 1


def test_kmv_small_regime_is_exact(spark):
    """With fewer distinct keys than K the sketch saw every key, so the
    estimate must BE the exact pool count, not (K-1)/h_max (ADVICE r4)."""
    import duckdb

    from mongraph_spark.queries.relational import KMV_K

    n_keys = 40  # << KMV_K
    assert n_keys < KMV_K
    df = spark.range(2_000).select((F.col("id") % n_keys).alias("custkey"))
    hashes = (
        df.select(F.md5(F.col("custkey").cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )
    frac = F.conv(F.substring(F.max("h"), 1, 15), 16, 10).cast("double") / F.lit(
        float(16**15)
    )
    est = hashes.agg(
        F.when(F.count(F.lit(1)) < KMV_K, F.count(F.lit(1)))
        .otherwise(F.floor(F.lit(KMV_K - 1) / frac))
        .cast("long")
        .alias("est"),
        F.count(F.lit(1)).alias("k_used"),
    ).first()
    assert est.k_used == n_keys
    assert est.est == n_keys  # exact, not the biased (K-1)/h_max ≈ larger

    # and the oracle-side CASE agrees
    con = duckdb.connect()
    got = con.execute(
        f"""
        WITH hashes AS (
          SELECT DISTINCT md5(CAST(r % {n_keys} AS VARCHAR)) AS h
          FROM range(2000) t(r) ORDER BY h LIMIT {KMV_K}
        )
        SELECT CAST(CASE WHEN count(*) < {KMV_K} THEN count(*)
                 ELSE floor(({KMV_K} - 1) /
                 (CAST(('0x' || substr(max(h), 1, 15)) AS UBIGINT) / {float(16**15)})) END AS BIGINT)
        FROM hashes
        """
    ).fetchone()[0]
    assert got == n_keys
