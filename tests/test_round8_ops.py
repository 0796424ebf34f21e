"""Round-8 operators: rebase OCC (Delta-style serializability matrix for
the CoW store) and time-based VACUUM retention + orphan GC.

Reference parity: the store generalizes the reference's per-document
save/remove write path (src/mongraphMongoosePlugin.coffee:43-61) to bulk
transactional mutations; concurrency and retention have no reference
analog — they are the operational surface a shared 100 TB table needs."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from mongraph_spark.sources import merge as M


def _base(spark, n=40):
    return spark.createDataFrame(
        [(i, f"name{i}", 0) for i in range(n)], "id long, name string, rev long"
    )


def _bucket_of(spark, ids, n_buckets=4):
    """id -> bucket under the store's hash (evaluated by Spark itself, so
    the test never re-implements xxhash64)."""
    df = spark.createDataFrame([(i,) for i in ids], "id long").select(
        "id", M._bucket_expr("id", n_buckets).alias("b")
    )
    return {r.id: str(r.b) for r in df.collect()}


def _pick_disjoint_and_overlapping(spark, n_buckets=4):
    """Three ids: a, b in different buckets; c in a's bucket."""
    buckets = _bucket_of(spark, range(64), n_buckets)
    by_bucket: dict[str, list[int]] = {}
    for i, b in buckets.items():
        by_bucket.setdefault(b, []).append(i)
    two = [v for v in by_bucket.values() if len(v) >= 2]
    assert len(by_bucket) >= 2 and two
    a, c = two[0][0], two[0][1]
    b = next(v[0] for k, v in by_bucket.items() if k != buckets[a])
    return a, b, c


# -- rebase OCC: disjoint-key writers commit without recompute -----------------


def test_rebase_disjoint_stale_snapshot_commits(spark, tmp_path):
    """Writer B computed against v0; writer A commits v1 touching OTHER
    buckets; B's staged commit must REBASE onto v1 (no CommitConflict) and
    the final table must equal both batches applied."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    meta_v0 = M._read_meta(root)

    # A commits normally (advances to v1)
    a_batch = spark.createDataFrame(
        [(ida, "A", 1)], "id long, name string, rev long"
    )
    M.upsert(spark, root, a_batch, key="id", order_col="rev")
    assert M.current_version(root) == "v_00001"

    # B replays a stale-snapshot commit: deduped batch + snapshot v0
    b_batch = spark.createDataFrame(
        [(idb, "B", 1)], "id long, name string, rev long"
    )
    ver = M._upsert(
        spark, root, b_batch, "id", "rev", "rebase",
        meta_v0, "v_00000",
    )
    assert ver == "v_00002" and M.current_version(root) == "v_00002"
    got = {
        r.id: r.name
        for r in M.read_current(spark, root)
        .filter(F.col("id").isin(ida, idb))
        .collect()
    }
    assert got == {ida: "A", idb: "B"}
    # commit records carry the write sets the classification read
    rec1 = M._read_commit(root, "v_00001")
    rec2 = M._read_commit(root, "v_00002")
    assert rec1["op"] == rec2["op"] == "upsert"
    assert not set(rec1["buckets"]) & set(rec2["buckets"])


def test_rebase_overlapping_buckets_conflicts(spark, tmp_path):
    """Same-bucket intervening upsert ⇒ typed CommitConflict naming the
    overlap; the staged dir and the claim must both be cleaned up."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, _, idc = _pick_disjoint_and_overlapping(spark)  # same bucket
    meta_v0 = M._read_meta(root)
    M.upsert(
        spark, root,
        spark.createDataFrame([(ida, "A", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    b_batch = spark.createDataFrame(
        [(idc, "C", 1)], "id long, name string, rev long"
    )
    with pytest.raises(M.CommitConflict, match="overlapping buckets"):
        M._upsert(
            spark, root, b_batch, "id", "rev", "rebase",
            meta_v0, "v_00000",
        )
    assert M.current_version(root) == "v_00001"  # nothing committed
    assert not os.path.exists(M._claim_path(root, "v_00002"))  # claim released
    staging = os.path.join(root, M._STAGING)
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_rebase_whole_table_and_meta_changes_conflict(spark, tmp_path):
    """The rest of the matrix: an intervening restore (whole-table write)
    conflicts; an add_column (committed as a metadata-only version since
    r9, but still a schema change) is caught by the fingerprint; an
    intervening version with NO commit record conflicts."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    meta_v0 = M._read_meta(root)
    M.upsert(
        spark, root,
        spark.createDataFrame([(ida, "A", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    M.restore(root, version=0)  # v2: op=restore, buckets="*"
    batch = spark.createDataFrame(
        [(idb, "B", 1)], "id long, name string, rev long"
    )
    with pytest.raises(M.CommitConflict, match="whole-table write set"):
        M._upsert(
            spark, root, batch, "id", "rev", "rebase",
            meta_v0, "v_00000",
        )

    # meta fingerprint: add_column after the snapshot read
    meta_now = M._read_meta(root)
    M.add_column(root, "flag", "long", 7)
    with pytest.raises(M.CommitConflict, match="metadata changed"):
        M._upsert(
            spark, root, batch, "id", "rev", "rebase",
            meta_now, M.current_version(root),
        )

    # unknown write set: strip a commit record
    root2 = str(tmp_path / "tbl2")
    M.init_table(_base(spark), root2, key="id", n_buckets=4)
    meta2 = M._read_meta(root2)
    M.upsert(
        spark, root2,
        spark.createDataFrame([(ida, "A", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    os.unlink(os.path.join(root2, "v_00001", M._COMMIT))
    with pytest.raises(M.CommitConflict, match="no commit record"):
        M._upsert(
            spark, root2, batch, "id", "rev", "rebase",
            meta2, "v_00000",
        )


def test_rebase_threaded_disjoint_writers_both_commit(spark, tmp_path):
    """THE contract VERDICT r7 #7 asks for: two live writers upserting
    disjoint keys in occ="rebase" mode BOTH commit — no CommitConflict
    surfaces, no whole-closure retry, exactly one version per writer, and
    the final state equals both batches applied."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    errs: list[Exception] = []

    def writer(i, tag):
        batch = spark.createDataFrame(
            [(i, tag, 1)], "id long, name string, rev long"
        )
        try:
            M.upsert(spark, root, batch, key="id", order_col="rev", occ="rebase")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(ida, "A"))
    t2 = threading.Thread(target=writer, args=(idb, "B"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert M.current_version(root) == "v_00002"
    got = {
        r.id: r.name
        for r in M.read_current(spark, root)
        .filter(F.col("id").isin(ida, idb))
        .collect()
    }
    assert got == {ida: "A", idb: "B"}
    # every other row untouched
    assert M.read_current(spark, root).count() == 40


def test_rebase_intervening_compact_is_safe(spark, tmp_path):
    """compact is content-preserving re-layout: a writer whose snapshot
    predates a compaction rebases onto it without conflict."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=2)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark, n_buckets=2)
    meta_v0 = M._read_meta(root)
    # fragment a bucket with trickle upserts, then compact (v3)
    for rev in (1, 2):
        M.upsert(
            spark, root,
            spark.createDataFrame(
                [(ida, f"A{rev}", rev)], "id long, name string, rev long"
            ),
            key="id", order_col="rev",
        )
    ver, compacted = M.compact(spark, root, max_files_per_bucket=1)
    assert compacted, "fixture must actually compact"
    snap_before_compact = f"v_{int(ver.split('_')[1]) - 1:05d}"
    meta_now = M._read_meta(root)
    assert M._meta_fingerprint(meta_now) == M._meta_fingerprint(meta_v0)
    batch = spark.createDataFrame(
        [(idb, "B", 9)], "id long, name string, rev long"
    )
    out = M._upsert(
        spark, root, batch, "id", "rev", "rebase",
        meta_now, snap_before_compact,
    )
    assert M.current_version(root) == out
    got = {
        r.id: r.name
        for r in M.read_current(spark, root)
        .filter(F.col("id").isin(ida, idb))
        .collect()
    }
    assert got == {ida: "A2", idb: "B"}


# -- time-based VACUUM retention + orphan GC ------------------------------------


NOW = 1_000_000.0
OLD = 500.0  # far outside any window anchored at NOW


def _retention_fixture(spark, tmp_path):
    """v0 init → v1 rebucket (full rewrite) → v2 upsert → v3 upsert, tag
    "checkpoint" at v2; v0/v1/v2 aged out of the window."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=16)
    M.rebucket(spark, root, n_buckets=4)  # v1: references ONLY v1 dirs
    M.upsert(
        spark, root,
        spark.createDataFrame([(1, "one", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    M.create_tag(root, "checkpoint")  # at v2
    M.upsert(
        spark, root,
        spark.createDataFrame([(2, "two", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    for v in ("v_00000", "v_00001", "v_00002"):
        # age via the commit record — the ONE clock _commit_ts reads
        # (manifest mtime no longer moves the window)
        M._set_commit_ts(root, v, OLD)
    return root


def test_vacuum_retention_age_sharing_and_tags(spark, tmp_path):
    root = _retention_fixture(spark, tmp_path)
    before = M.read_current(spark, root).drop("__bucket").collect()
    out = M.vacuum_retention(root, retention_s=1000.0, now=NOW)
    # v0: old, unreferenced after the rebucket ⇒ removed.  v1: old but
    # structurally shared (v3's manifest still points untouched buckets at
    # v1 dirs) ⇒ retained.  v2: old but tagged ⇒ retained.  v3: current.
    assert out["removed"] == ["v_00000"]
    assert out["retained"] == ["v_00001", "v_00002", "v_00003"]
    assert not os.path.isdir(os.path.join(root, "v_00000"))
    # current read identical post-vacuum; tag still readable
    after = M.read_current(spark, root).drop("__bucket").collect()
    assert sorted(before) == sorted(after)
    assert M.read_tag(spark, root, "checkpoint").count() == 40
    # time travel to the vacuumed version now fails
    with pytest.raises(Exception):
        M.read_version(spark, root, 0).count()


def test_vacuum_retention_tag_alone_retains(spark, tmp_path):
    """Tag retention isolated: the same fixture minus the tag removes v2
    only if nothing references it — prove the tag is load-bearing by
    deleting it and re-running."""
    root = _retention_fixture(spark, tmp_path)
    M.vacuum_retention(root, retention_s=1000.0, now=NOW)
    assert os.path.isdir(os.path.join(root, "v_00002"))
    os.unlink(os.path.join(root, "_tags", "checkpoint"))
    out = M.vacuum_retention(root, retention_s=1000.0, now=NOW)
    # v2 is still referenced by v3's manifest (structural sharing), so it
    # survives even untagged — but the retained set recomputes honestly
    assert "v_00002" in out["retained"]
    # windowed retention: with an enormous window nothing is ever removed
    out2 = M.vacuum_retention(root, retention_s=NOW, now=NOW)
    assert out2["removed"] == []


def test_vacuum_retention_orphan_gc_and_crash_safety(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)

    # aged crashed writer: claimed v1, wrote junk, died
    os.makedirs(os.path.join(root, "v_00001"))
    with open(M._claim_path(root, "v_00001"), "w") as fh:
        json.dump({"pid": 0}, fh)
    os.utime(os.path.join(root, "v_00001"), (OLD, OLD))
    os.utime(M._claim_path(root, "v_00001"), (OLD, OLD))
    # aged claim with NO dir (crashed before first write)
    with open(M._claim_path(root, "v_00002"), "w") as fh:
        json.dump({"pid": 0}, fh)
    os.utime(M._claim_path(root, "v_00002"), (OLD, OLD))
    # aged stale-takeover marker + tmp file + staging dir
    for name in ("v_00001.claim.stale.99", "_CURRENT.tmp"):
        with open(os.path.join(root, name), "w") as fh:
            fh.write("x")
        os.utime(os.path.join(root, name), (OLD, OLD))
    os.makedirs(os.path.join(root, M._STAGING, "up_dead"))
    os.utime(os.path.join(root, M._STAGING, "up_dead"), (OLD, OLD))

    # FRESH in-flight writer: claim + staged dir inside the window — the
    # crash-safety contract says vacuum must NOT touch them
    os.makedirs(os.path.join(root, "v_00003"))
    with open(M._claim_path(root, "v_00003"), "w") as fh:
        json.dump({"pid": 1}, fh)
    os.makedirs(os.path.join(root, M._STAGING, "up_live"))

    out = M.vacuum_retention(root, retention_s=1000.0, now=NOW)
    assert out["orphans_removed"] == [
        "_CURRENT.tmp",
        "_staging/up_dead",
        "v_00001",
        "v_00001.claim.stale.99",
        "v_00002.claim",
    ]
    assert not os.path.exists(M._claim_path(root, "v_00001"))
    assert not os.path.exists(M._claim_path(root, "v_00002"))
    # fresh writer untouched
    assert os.path.isdir(os.path.join(root, "v_00003"))
    assert os.path.exists(M._claim_path(root, "v_00003"))
    assert os.path.isdir(os.path.join(root, M._STAGING, "up_live"))
    # current version itself is always retained
    assert out["retained"] == ["v_00000"]
    assert M.read_current(spark, root).count() == 40


# -- streaming dedup twins: bucketed state probe reads buckets in place ---------


def test_streaming_dedup_index_probe_is_bucketed(spark):
    """VERDICT r7 #3: the dedup twins' accumulated index is a bucketed
    warehouse table, and the per-batch probe join must read it IN PLACE —
    a bucketed scan with NO Exchange on the index side; only the arriving
    batch is exchanged into the matching partitioning.  Built exactly the
    twin's way: several micro-batch appends through _append_bucketed."""
    import re

    from pyspark.sql import functions as F

    from mongraph_spark.streaming.events import (
        STATE_BUCKETS,
        _append_bucketed,
        _fresh_state_table,
    )

    tab = "test_probe_band_idx"
    _fresh_state_table(spark, tab)
    for b in range(3):  # three accumulated micro-batches
        rows = [(i + 10_000 * b, f"cell{i % 500}") for i in range(5_000)]
        _append_bucketed(
            spark.createDataFrame(rows, "doc_id long, band_cell string"),
            tab,
            "band_cell",
        )
    # bucket spec registered and respected across appends
    assert spark.table(tab).count() == 15_000
    probe = spark.createDataFrame(
        [(99_991, "cell1"), (99_992, "cell2")], "doc_id long, band_cell string"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the accumulated index dwarfs any batch at scale — disable the
        # local-size broadcast shortcut so the plan shows the scale shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = probe.join(
            spark.table(tab).select("band_cell", F.col("doc_id").alias("id_y")),
            "band_cell",
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert re.search(r"Bucketed: true", plan), plan
    # only the probe side is exchanged; the index side reads its buckets
    n_ex = len(re.findall(r"Exchange hashpartitioning\(band_cell", plan))
    assert n_ex == 1, plan
    # and the exchange lands on STATE_BUCKETS partitions (bucket-compatible)
    assert f"hashpartitioning(band_cell#" in plan
    assert f", {STATE_BUCKETS})" in plan, plan
    spark.sql(f"DROP TABLE IF EXISTS {tab}")


# -- round-8 new operators: hand-computed pins on crafted inputs ----------------


def test_holt_trend_replays_recursion(spark, tmp_path):
    """Five crafted days (one with a big drop so the trend goes NEGATIVE)
    replayed exactly in Python with floor-halving — pins the per-step grid
    estimator, the init, the error column, and the 3 horizon rows."""
    import datetime

    from mongraph_spark.queries.events import HOLT_HORIZON, events_holt_trend

    days = [100, 200, 260, 40, 90]  # cents
    rows = [
        (i * 10 + 1, datetime.datetime(2024, 1, d + 1, 12, 0), 7, "click", c / 100.0, "{}")
        for d, c in enumerate(days)
        for i, c in [(d, c)]
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.t: (r.actual_cents, r.forecast_cents, r.err_cents, r.level_cents, r.trend_cents)
        for r in events_holt_trend(spark, str(tmp_path)).collect()
    }

    # python replay with floor-halving (// 2 floors in python — same as >> 1)
    y = days
    l, b = y[0], y[1] - y[0]
    exp = {}
    for t in range(1, len(y)):
        fc = l + b
        l2 = (l + b + y[t]) >> 1
        b2 = (b + l2 - l) >> 1
        exp[t] = (y[t], fc, y[t] - fc, l2, b2)
        l, b = l2, b2
    for h in range(1, HOLT_HORIZON + 1):
        exp[len(y) - 1 + h] = (None, l + h * b, None, l, b)
    assert got == exp
    # trend actually went negative somewhere (the floor-halving sign case)
    assert any(v[4] < 0 for v in exp.values())


def test_k_anonymity_crafted_classes(spark, tmp_path):
    """Crafted customers: at the finest rung one class of 2 (violates k=5)
    and one of 6; the coarser bal bin merges them into one k-anonymous
    class of 8 — pins class counting, suppression, DM, and the ladder."""
    from mongraph_spark.queries.pipeline import pipeline_k_anonymity

    rows = [(i, f"c{i}", 1, "BUILDING", 150.0 if i < 2 else 950.0) for i in range(8)]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey long, "
        "c_mktsegment string, c_acctbal double"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    got = {r.level: r.asDict() for r in pipeline_k_anonymity(spark, str(tmp_path)).collect()}
    l0 = got["L0_nation_segment_bal100"]
    # bins at 100-width: 150 -> bin 1 (class of 2), 950 -> bin 9 (class of 6)
    assert l0["n_classes"] == 2 and l0["min_class"] == 2 and l0["max_class"] == 6
    assert l0["n_small_classes"] == 1 and l0["n_rows_suppressed"] == 2
    assert l0["suppression_bp"] == 2500  # 2/8
    assert l0["discernibility"] == 36 + 2 * 8  # 6² published + 2·n
    assert l0["is_k_anonymous"] == 0
    l1 = got["L1_nation_segment_bal1000"]
    # 1000-width bin merges both into bin 0: one class of 8, k holds
    assert l1["n_classes"] == 1 and l1["is_k_anonymous"] == 1
    assert l1["n_rows_suppressed"] == 0 and l1["discernibility"] == 64


def test_fellegi_sunter_weights_exact(spark, tmp_path):
    """Crafted part file: one block of three records — two true duplicates
    (name edit distance ≤ 4, all fields agree) and one stranger — replayed
    with python Fractions over the add-one-smoothed FS estimator."""
    from fractions import Fraction

    from mongraph_spark.queries.relational import er_fellegi_sunter

    rows = [
        (1, "ivory navy widget", "B1", "STD", 5, 100.0),
        (2, "ivory navi widget", "B1", "STD", 5, 100.5),  # dup of 1
        (3, "completely different thing widget", "B1", "ALT", 9, 950.0),
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size long, p_retailprice double"
    ).write.parquet(str(tmp_path / "part.parquet"))
    out = {
        (r.g_type, r.g_size, r.g_cont): r.asDict()
        for r in er_fellegi_sunter(spark, str(tmp_path)).collect()
    }
    # pairs: (1,2) all-agree + labeled match; (1,3), (2,3) all-disagree
    assert out[(1, 1, 1)]["n_pairs"] == 1
    assert out[(1, 1, 1)]["n_labeled_matches"] == 1
    assert out[(0, 0, 0)]["n_pairs"] == 2
    assert out[(0, 0, 0)]["n_labeled_matches"] == 0
    # replay: U=3 pairs, M=1 match; per field a_i=1 (agreeing matches),
    # b_i=1 (agreeing pairs); add-one smoothing floored to the ppm grid
    # (the operator's documented estimator), clamp >= 1 ppm
    U, M = 3, 1
    a = b = 1
    m_ag = max(1_000_000 * (a + 1) // (M + 2), 1)
    u_ag = max(1_000_000 * (b + 1) // (U + 2), 1)
    m_dis = max(1_000_000 * (M - a + 1) // (M + 2), 1)
    u_dis = max(1_000_000 * (U - b + 1) // (U + 2), 1)
    w_all_agree = int(10000 * Fraction(m_ag**3, u_ag**3))
    w_all_disagree = int(10000 * Fraction(m_dis**3, u_dis**3))
    assert out[(1, 1, 1)]["weight_bp"] == w_all_agree
    assert out[(0, 0, 0)]["weight_bp"] == w_all_disagree
    assert out[(1, 1, 1)]["fs_class"] == "match"
    assert out[(0, 0, 0)]["fs_class"] == "non_match"


def test_streaming_holt_equals_batch(spark):
    """The streaming twin's rollup + shared finisher must reproduce the
    batch op EXACTLY (same recursion over the same daily sufficient
    statistic) — the strongest twin contract in the suite."""
    from mongraph_spark.queries.events import events_holt_trend
    from mongraph_spark.streaming.events import streaming_holt_trend

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in events_holt_trend(spark, sf).collect()}
    stream = {tuple(r) for r in streaming_holt_trend(spark, sf).collect()}
    assert batch == stream and len(batch) > 0


def test_pseudonymize_crafted_integrity(spark, tmp_path):
    """Crafted customers/orders: tokens must preserve the join exactly and
    be collision-free; a customer with no orders and an order with a
    dangling key exercise both join edges."""
    from mongraph_spark.queries.pipeline import pipeline_pseudonymize

    spark.createDataFrame(
        [(1, "BUILDING"), (2, "BUILDING"), (3, "AUTOMOBILE")],
        "c_custkey long, c_mktsegment string",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2), (13, 99)],  # 99: dangling key
        "o_orderkey long, o_custkey long",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {r.segment: r.asDict() for r in
           pipeline_pseudonymize(spark, str(tmp_path)).collect()}
    b = got["BUILDING"]
    assert b["n_customers"] == 2
    assert b["n_orders_raw_join"] == 3 == b["n_orders_token_join"]
    assert b["joins_equal"] == 1 and b["collision_free"] == 1
    assert b["n_keys"] == 3 and b["n_tokens"] == 3
    # AUTOMOBILE has a customer but no orders -> inner join drops it
    assert "AUTOMOBILE" not in got


def test_semdedup_hier_matches_flat_recall(spark):
    """The IVF-style two-level trainer must find (essentially) the same
    planted near-dup pairs as the flat trainer at the same effective cell
    count — the assignment strategy changes the COST, not the dedup
    semantics (shared pair stage + keep rule)."""
    from pyspark.sql import functions as F

    from mongraph_spark.queries.dedup import (
        SEMDEDUP_SEED_IDS,
        semdedup_hier_report,
        semdedup_report,
    )

    sf = "/root/testdata/sf0.01"
    flat = semdedup_report(spark, sf, SEMDEDUP_SEED_IDS)
    hier = semdedup_hier_report(spark, sf, SEMDEDUP_SEED_IDS[:4], sub_k=4)
    f = flat.agg(
        F.sum("n_planted_pairs").alias("p"), F.sum("n_vectors").alias("n")
    ).first()
    h = hier.agg(
        F.sum("n_planted_pairs").alias("p"), F.sum("n_vectors").alias("n")
    ).first()
    assert h.n == f.n  # every vector assigned exactly once in both
    assert f.p > 0
    # same effective cell count (4x4 == 16): recall within 5% of flat
    assert h.p >= 0.95 * f.p, (h.p, f.p)


def test_readability_crafted_grades(spark, tmp_path):
    """Crafted docs with hand-countable words/sentences/vowel-groups pin
    the FK and FRE integer grids exactly."""
    from fractions import Fraction

    from mongraph_spark.queries.text import text_readability

    # "aa bb. cc dd ee!"  -> w=5? no: words = non-space runs
    docs = [
        (1, "the cat sat. it ran!", "web"),   # w=5, s=2, y: e,a,a,i,a -> groups
        (2, "zzz", "web"),                     # w=1, s=0->1, y=0
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    row = text_readability(spark, str(tmp_path)).first()
    # hand counts: doc1 words=5 ("the","cat","sat.","it","ran!"), sents=2,
    # vowel groups: the(1) cat(1) sat(1) it(1) ran(1) = 5; doc2: w=1,s=1,y=0
    W, S, Y = 5 + 1, 2 + 1, 5 + 0
    assert (row.words, row.sentences, row.syllables) == (W, S, Y)
    fk = Fraction(390 * W * W + 11800 * Y * S - 15590 * S * W, S * W)
    fre = Fraction(206835 * S * W - 1015 * W * W - 84600 * Y * S, S * W)

    def trunc(fr):
        return int(fr) if fr >= 0 else -int(-fr)

    assert row.fk_grade_mb == trunc(fk)
    assert row.fre_mb == trunc(fre)


def test_gopher_rules_crafted_funnel(spark, tmp_path):
    """Crafted docs exercise each rule's marginal failure and the
    cumulative funnel order."""
    from mongraph_spark.queries.text import STOPWORDS

    from mongraph_spark.queries.corpus import corpus_gopher_rules

    good = "the quick brown foxes jumped over lazy dogs rivers of " * 6  # 60 words, mean len ~4, stopwords {the, of}
    short = "the a of"  # fails word_count
    hashy = ("the a of and to in is it " + "# " * 30) * 3  # hash ratio fails
    docs = [(1, good.strip(), "web"), (2, short, "web"), (3, hashy.strip(), "web")]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {r.rule: r.asDict() for r in corpus_gopher_rules(spark, str(tmp_path)).collect()}
    assert rows["word_count_50_100k"]["n_docs"] == 3
    assert rows["word_count_50_100k"]["n_fail_marginal"] == 1  # short
    assert rows["hash_ratio_le_10pct"]["n_fail_marginal"] == 1  # hashy
    # funnel: short dies at rule 0; hashy survives word count (104 words)
    # then dies at the hash rule; good survives everything
    assert rows["word_count_50_100k"]["n_survivors"] == 2
    assert rows["hash_ratio_le_10pct"]["n_survivors"] == 1
    assert rows["stopword_presence_ge_2"]["n_survivors"] == 1
    assert rows["stopword_presence_ge_2"]["tokens_surviving"] == 60


def test_streaming_gopher_equals_batch(spark):
    """The ingest scorer's accumulated flags + shared funnel finisher must
    reproduce the batch funnel EXACTLY (per-doc predicates are batch-
    independent, so the union over batches is the batch answer)."""
    from mongraph_spark.queries.corpus import corpus_gopher_rules
    from mongraph_spark.streaming.events import streaming_gopher_rules

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in corpus_gopher_rules(spark, sf).collect()}
    stream = {tuple(r) for r in streaming_gopher_rules(spark, sf).collect()}
    assert batch == stream and len(batch) == 6


def test_merge_into_rebase_disjoint_and_claim_release(spark, tmp_path):
    """merge_into occ="rebase": two threaded disjoint-key merges both
    commit without conflict; and the fail-fast nothing-to-do path must
    RELEASE its eagerly-claimed version (pre-r8 it leaked the claim,
    wedging the table until the TTL)."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    errs: list[Exception] = []

    def writer(i, tag):
        src = spark.createDataFrame(
            [(i, tag, 1)], "id long, name string, rev long"
        )
        try:
            M.merge_into(
                spark, root, src,
                when_matched_set={"name": "src_name", "rev": "rev + 1"},
                occ="rebase",
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(ida, "MA"))
    t2 = threading.Thread(target=writer, args=(idb, "MB"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert M.current_version(root) == "v_00002"
    got = {
        r.id: (r.name, r.rev)
        for r in M.read_current(spark, root)
        .filter(F.col("id").isin(ida, idb))
        .collect()
    }
    assert got == {ida: ("MA", 1), idb: ("MB", 1)}

    # nothing-to-do (source keys hash to a bucket the table does not even
    # have, inserts suppressed): the eager claim must be released —
    # pre-r8 it leaked, wedging the table until the TTL.  Build a table
    # whose manifest holds ONE bucket, then merge a key from another.
    root2 = str(tmp_path / "tbl2")
    M.init_table(
        spark.createDataFrame([(ida, "only", 0)], "id long, name string, rev long"),
        root2, key="id", n_buckets=4,
    )
    empty_src = spark.createDataFrame(
        [(idb, "zz", 0)], "id long, name string, rev long"  # different bucket
    )
    out = M.merge_into(spark, root2, empty_src, insert_not_matched=False)
    assert out == "v_00000"  # no new version
    assert not os.path.exists(M._claim_path(root2, "v_00001"))
    # and a follow-up commit succeeds immediately (no stale-claim wait)
    M.upsert(
        spark, root2,
        spark.createDataFrame([(ida, "after", 2)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    assert M.current_version(root2) == "v_00001"


def test_read_as_of_timestamp_travel(spark, tmp_path):
    """TIMESTAMP AS OF: picks the latest version committed <= ts from the
    commit records; refuses a ts before the first commit; a ts whose TRUE
    target was vacuumed raises VersionVacuumedError instead of silently
    answering from a staler survivor (the Delta contract), while a ts
    that unambiguously maps to a survivor still works."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    M.upsert(
        spark, root,
        spark.createDataFrame([(1, "v1", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    M.upsert(
        spark, root,
        spark.createDataFrame([(1, "v2", 2)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    # pin deterministic commit times into the records
    for n, ts in ((0, 100.0), (1, 200.0), (2, 300.0)):
        path = os.path.join(root, f"v_{n:05d}", M._COMMIT)
        rec = json.load(open(path))
        rec["ts"] = ts
        json.dump(rec, open(path, "w"))
    name_at = lambda ts: (  # noqa: E731
        M.read_as_of(spark, root, ts).filter(F.col("id") == 1).first().name
    )
    assert name_at(150.0) == "name1"  # v0
    assert name_at(200.0) == "v1"     # inclusive boundary
    assert name_at(1e12) == "v2"      # far future -> current
    with pytest.raises(ValueError, match="committed at or before"):
        M.read_as_of(spark, root, 50.0)
    # vacuumed-target contract: v1's dir is unreferenced (v2 rewrote the
    # same bucket), so vacuum removes it AND tombstones its commit time;
    # a ts whose TRUE target is the vacuumed v1 must ERROR, not silently
    # answer from the staler v0 — while the tombstone keeps every ts that
    # truly maps to a survivor answering exactly
    removed = M.vacuum(root, keep_last=1)
    assert removed == ["v_00001"]
    with pytest.raises(M.VersionVacuumedError, match="vacuumed"):
        name_at(200.0)
    with pytest.raises(M.VersionVacuumedError, match="vacuumed"):
        name_at(250.0)  # anywhere inside [v1.ts, v2.ts)
    assert name_at(150.0) == "name1"  # v0: tombstone proves v1.ts=200 > 150
    assert name_at(1e12) == "v2"      # current always survives
    # a version deleted OUTSIDE the vacuum API (no tombstone) falls back to
    # the conservative refusal for any ts it might have owned
    import shutil

    os.unlink(os.path.join(root, M._TOMBSTONES))
    shutil.rmtree(os.path.join(root, "v_00000"), ignore_errors=True)
    with pytest.raises(ValueError):  # nothing known <= 150 anymore
        name_at(150.0)
    with pytest.raises(M.VersionVacuumedError, match="missing"):
        name_at(250.0)  # best known = none survive below v2; v1 unknown gap


def test_neyman_sample_draws_exact_allocation(spark):
    """The draw must fill every stratum's allocation exactly and be
    reproducible run-to-run (rank-by-salted-hash has no rng state)."""
    from pyspark.sql import functions as F

    from mongraph_spark.queries.relational import (
        NEYMAN_BUDGET,
        stats_neyman_sample,
    )

    sf = "/root/testdata/sf0.01"
    a = stats_neyman_sample(spark, sf)
    rows = {r.priority: r.asDict() for r in a.collect()}
    assert all(v["n_drawn"] == v["alloc_neyman"] for v in rows.values())
    assert sum(v["alloc_neyman"] for v in rows.values()) == NEYMAN_BUDGET
    assert all(v["n_drawn"] <= v["n_rows"] for v in rows.values())
    b = {r.priority: r.asDict() for r in stats_neyman_sample(spark, sf).collect()}
    assert rows == b  # deterministic draw


def test_abc_analysis_crafted_pareto(spark, tmp_path):
    """Crafted revenues with a hand-computable Pareto split: one dominant
    part (60%), one mid (25%), two small ones — classes land A/B/C with
    deterministic boundary handling."""
    from mongraph_spark.queries.relational import window_abc_analysis

    rows = [
        (1, 60.0), (1, 0.0),   # part 1: 6000 cents
        (2, 25.0),              # part 2: 2500
        (3, 10.0),              # part 3: 1000
        (4, 5.0),               # part 4: 500
    ]
    spark.createDataFrame(
        rows, "l_partkey long, l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {r.abc_class: r.asDict() for r in
           window_abc_analysis(spark, str(tmp_path)).collect()}
    # cum shares: p1 60% (A), p2 85% (B), p3 95% (C), p4 100% (C)
    assert got["A"]["n_parts"] == 1 and got["A"]["class_cents"] == 6000
    assert got["B"]["n_parts"] == 1 and got["B"]["class_cents"] == 2500
    assert got["C"]["n_parts"] == 2 and got["C"]["class_cents"] == 1500
    assert got["A"]["share_bp"] == 6000
    assert got["B"]["share_bp"] == 2500
    assert got["C"]["share_bp"] == 1500


def test_rich_club_invariants(spark):
    """Structural invariants of the rich-club report on the real derived
    graph: thresholds nest (n_k non-increasing), edge counts bounded by
    the clique and the graph, phi on the bp grid and defined iff n_k>=2."""
    from mongraph_spark.queries.graph_analytics import graph_rich_club

    rows = sorted(
        (r.asDict() for r in graph_rich_club(spark, "/root/testdata/sf0.01").collect()),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [2, 4, 8, 16]
    for a, b in zip(rows, rows[1:]):
        assert b["n_k"] <= a["n_k"]
        assert b["e_k"] <= a["e_k"]
    for r in rows:
        assert r["e_k"] <= r["n_k"] * (r["n_k"] - 1) // 2
        assert r["e_k"] <= r["m_total"]
        if r["n_k"] >= 2:
            assert 0 <= r["phi_bp"] <= 10000
        else:
            assert r["phi_bp"] is None


def test_msttr_crafted_segments(spark, tmp_path):
    """Hand-computed MSTTR on crafted docs: a repetitive doc scores low,
    a diverse one high; the tail below one segment is dropped and
    reported; raw TTR shows the length bias MSTTR removes."""
    from mongraph_spark.queries.text import MSTTR_W, text_msttr

    rep = " ".join(["aa bb cc dd ee"] * 10)  # 50 tokens, 5 types
    div = " ".join(f"w{i}" for i in range(55))  # 55 tokens, all distinct
    spark.createDataFrame(
        [(1, rep, "rep"), (2, div, "div")],
        "doc_id long, text string, source string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r.asDict() for r in text_msttr(spark, str(tmp_path)).collect()}
    assert MSTTR_W == 25
    r = got["rep"]
    # 50 tokens -> 2 chunks, each with 5 distinct types
    assert (r["tokens"], r["chunks"], r["tail_tokens_dropped"]) == (50, 2, 0)
    assert r["msttr_bp"] == 10000 * 10 // 50   # (5+5)/(25*2)
    assert r["raw_ttr_bp"] == 10000 * 5 // 50
    d = got["div"]
    # 55 tokens -> 2 full chunks (25 distinct each), 5-token tail dropped
    assert (d["tokens"], d["chunks"], d["tail_tokens_dropped"]) == (55, 2, 5)
    assert d["msttr_bp"] == 10000
    assert d["raw_ttr_bp"] == 10000
