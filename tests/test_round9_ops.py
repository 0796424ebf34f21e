"""Round-9 store hardening: add_column serialized through the claim
protocol (TOCTOU fix), rebase OCC extended to delete_where and compact,
the unified commit clock (vacuum_retention and read_as_of share
_commit_ts), vacuum tombstones + the VersionVacuumedError contract, and
the enforced retention floor.

Reference parity: the store generalizes the reference's per-document
save/remove write path (src/mongraphMongoosePlugin.coffee:43-61); the
concurrency/retention surface has no reference analog — it is the
operational contract a shared 100 TB table needs."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from mongraph_spark.sources import merge as M


def _base(spark, n=40):
    return spark.createDataFrame(
        [(i, f"name{i}", 0) for i in range(n)], "id long, name string, rev long"
    )


def _bucket_of(spark, ids, n_buckets=4):
    df = spark.createDataFrame([(i,) for i in ids], "id long").select(
        "id", M._bucket_expr("id", n_buckets).alias("b")
    )
    return {r.id: str(r.b) for r in df.collect()}


def _pick_disjoint_and_overlapping(spark, n_buckets=4):
    buckets = _bucket_of(spark, range(64), n_buckets)
    by_bucket: dict[str, list[int]] = {}
    for i, b in buckets.items():
        by_bucket.setdefault(b, []).append(i)
    two = [v for v in by_bucket.values() if len(v) >= 2]
    assert len(by_bucket) >= 2 and two
    a, c = two[0][0], two[0][1]
    b = next(v[0] for k, v in by_bucket.items() if k != buckets[a])
    return a, b, c


# -- add_column commits as a version (TOCTOU fix) ------------------------------


def test_add_column_commits_as_version(spark, tmp_path):
    """ADD COLUMN claims and commits a metadata-only version: same data,
    op='add_column' commit record, added_in == its own version number."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    M.add_column(root, "quality", "double", 1.0)
    assert M.current_version(root) == "v_00001"
    rec = M._read_commit(root, "v_00001")
    assert rec["op"] == "add_column" and rec["buckets"] == "*"
    # manifest references v0's data untouched; no claim left behind
    assert set(M._read_manifest(root, "v_00001").values()) == set(
        M._read_manifest(root, "v_00000").values()
    )
    assert not os.path.exists(M._claim_path(root, "v_00001"))
    meta = M._read_meta(root)
    assert meta["added"] == [{"name": "quality", "added_in": 1, "default": 1.0}]
    cur = M.read_current(spark, root)
    assert cur.filter(F.col("quality") == 1.0).count() == 40
    # duplicate add releases its claim and leaves no half-version
    with pytest.raises(ValueError, match="already exists"):
        M.add_column(root, "quality", "double", 2.0)
    assert M.current_version(root) == "v_00001"
    assert not os.path.isdir(os.path.join(root, "v_00002"))
    assert not os.path.exists(M._claim_path(root, "v_00002"))


def test_add_column_waits_for_live_claim_holder(spark, tmp_path):
    """The TOCTOU pin: with a live writer holding the next-version claim
    (fail-fast mode claims before compute), add_column can no longer slip
    its meta change under the writer — it BLOCKS on the claim and lands
    AFTER the writer's version, so added_in exceeds the writer's version
    and the writer's files (written without the column) correctly read as
    default-filled."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)

    claim = M._claim_path(root, "v_00001")
    with open(claim, "w") as fh:
        fh.write("{}")  # simulated in-flight fail-fast writer

    landed = {}

    def adder():
        M.add_column(root, "flag", "long", 7)
        landed["at"] = M.current_version(root)

    t = threading.Thread(target=adder)
    t.start()
    time.sleep(1.0)
    assert "at" not in landed  # still blocked on the live claim
    # the writer commits v1 the fail-fast way: dir + manifest + record + flip
    os.makedirs(os.path.join(root, "v_00001"))
    M._write_manifest(root, "v_00001", M._read_manifest(root, "v_00000"))
    M._write_commit(root, "v_00001", "upsert", ["0"])
    M._flip(root, "v_00001")
    t.join(timeout=30)
    assert landed["at"] == "v_00002"
    meta = M._read_meta(root)
    assert meta["added"][0]["added_in"] == 2  # strictly AFTER the writer


# -- delete_where occ="rebase" --------------------------------------------------


def test_delete_rebase_disjoint_zero_recompute(spark, tmp_path):
    """A staged DELETE rebases over an intervening bucket-disjoint upsert
    whose rows do NOT match the predicate: both commit, no recompute."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark, 64), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)

    results = {}

    def deleter():
        results["del"] = M.delete_where(
            spark, root, F.col("id") == ida, occ="rebase"
        )

    def upserter():
        results["up"] = M.upsert(
            spark,
            root,
            spark.createDataFrame(
                [(idb, "B", 1)], "id long, name string, rev long"
            ),
            key="id",
            order_col="rev",
            occ="rebase",
        )

    t1 = threading.Thread(target=deleter)
    t2 = threading.Thread(target=upserter)
    t1.start(), t2.start()
    t1.join(120), t2.join(120)
    assert {results["del"], results["up"]} == {"v_00001", "v_00002"}
    cur = M.read_current(spark, root)
    assert cur.filter(F.col("id") == ida).count() == 0
    assert cur.filter(F.col("id") == idb).first().name == "B"
    assert cur.count() == 63  # 64 - ida deleted; idb updated in place
    # staging fully cleaned
    staging = os.path.join(root, M._STAGING)
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_delete_rebase_predicate_recheck_conflicts(spark, tmp_path):
    """Bucket-disjointness is NOT sufficient for DELETE: an intervening
    upsert in ANOTHER bucket that inserts a row MATCHING the predicate
    must conflict the staged delete (the serial order would delete it)."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    meta_v0 = M._read_meta(root)

    # plant a doomed row in ida's bucket so the delete has a write set
    M.upsert(
        spark, root,
        spark.createDataFrame(
            [(ida, "doomed-a", 1)], "id long, name string, rev long"
        ),
        key="id", order_col="rev",
    )
    snapshot = M.current_version(root)
    meta = M._read_meta(root)

    # stage the delete against `snapshot`, then let an intervening writer
    # insert ANOTHER doomed row in a DIFFERENT bucket
    M.upsert(
        spark, root,
        spark.createDataFrame(
            [(idb, "doomed-b", 1)], "id long, name string, rev long"
        ),
        key="id", order_col="rev",
    )
    with pytest.raises(M.CommitConflict, match="matching the DELETE"):
        M._delete_where(
            spark, root, F.col("name").startswith("doomed"), "rebase", meta, snapshot
        )
    # whole-closure retry against the advanced snapshot deletes BOTH
    M.delete_where(
        spark, root, F.col("name").startswith("doomed"), occ="rebase"
    )
    assert (
        M.read_current(spark, root)
        .filter(F.col("name").startswith("doomed"))
        .count()
        == 0
    )
    assert meta_v0 is not None  # silence linters; fixture parity with r8


def test_delete_rebase_noop_and_legacy_paths(spark, tmp_path):
    """No matching rows ⇒ no version, no claim; results identical to the
    fail-fast delete on the same data."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    out = M.delete_where(spark, root, F.col("id") == -1, occ="rebase")
    assert out == "v_00000" and M.current_version(root) == "v_00000"
    assert not os.path.exists(M._claim_path(root, "v_00001"))
    v = M.delete_where(spark, root, F.col("id") < 5, occ="rebase")
    assert v == "v_00001"
    assert M.read_current(spark, root).count() == 35
    rec = M._read_commit(root, "v_00001")
    assert rec["op"] == "delete" and rec["buckets"] != "*"


# -- compact occ="rebase" --------------------------------------------------------


def _fragment(spark, root, ids):
    for i in ids:
        M.upsert(
            spark, root,
            spark.createDataFrame(
                [(i, f"frag{i}", 9)], "id long, name string, rev long"
            ),
            key="id", order_col="rev",
        )


def test_compact_rebase_skips_overwritten_bucket(spark, tmp_path):
    """Per-bucket commit rule: a bucket rewritten AFTER the compaction read
    it is SKIPPED (the newer writer's files stay), the untouched planned
    buckets still commit, and content is bit-identical throughout."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    _fragment(spark, root, [ida, idb])  # both buckets now fragmented
    meta = M._read_meta(root)
    snapshot = M.current_version(root)
    manifest = M._read_manifest(root, snapshot)
    bmap = _bucket_of(spark, [ida, idb])
    b_a, b_b = bmap[ida], bmap[idb]
    plan = {
        b: 1
        for b, rel in manifest.items()
        if b in (b_a, b_b)
    }
    assert len(plan) == 2
    before = sorted(
        map(tuple, M.read_current(spark, root).drop("__bucket").collect())
    )
    # intervening writer rewrites ida's bucket AFTER the (simulated) read
    M.upsert(
        spark, root,
        spark.createDataFrame(
            [(ida, "newer", 10)], "id long, name string, rev long"
        ),
        key="id", order_col="rev",
    )
    ver, committed = M._compact(spark, root, meta, snapshot, lambda _snap: plan, "rebase")
    assert committed == sorted([b_b])  # ida's bucket skipped, idb's committed
    cur = M.read_current(spark, root)
    assert cur.filter(F.col("id") == ida).first().name == "newer"  # winner kept
    after_minus = sorted(
        map(
            tuple,
            cur.filter(F.col("id") != ida).drop("__bucket").collect(),
        )
    )
    want = [t for t in before if t[0] != ida]
    assert after_minus == want
    # the skipped bucket's staged files were pruned from the version dir
    vdir = os.path.join(root, ver)
    staged_buckets = {
        d.split("=", 1)[1] for d in os.listdir(vdir) if d.startswith("__bucket=")
    }
    assert b_a not in staged_buckets
    # idb's bucket is now exactly 1 file
    man = M._read_manifest(root, ver)
    d = os.path.join(root, man[b_b])
    assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1


def test_compact_rebase_does_not_block_disjoint_upsert(spark, tmp_path):
    """The r9 order's threaded pin: a LONG compaction in rebase mode holds
    no claim during its Spark job, so a concurrent disjoint-bucket upsert
    commits immediately instead of serializing behind it; the compaction
    then commits its still-valid buckets."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark, 64), root, key="id", n_buckets=4)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    _fragment(spark, root, [ida])  # fragment only ida's bucket
    # precondition: the bucket really is fragmented, else the plan is empty
    man = M._read_manifest(root, M.current_version(root))
    b_a = _bucket_of(spark, [ida])[ida]
    d = os.path.join(root, man[b_a])
    assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) > 1
    results: dict = {}

    def compacter():
        results["cp"] = M.compact(
            spark, root, max_files_per_bucket=1, occ="rebase"
        )

    def upserter():
        results["up"] = M.upsert(
            spark, root,
            spark.createDataFrame(
                [(idb, "B", 1)], "id long, name string, rev long"
            ),
            key="id", order_col="rev",
        )

    t1 = threading.Thread(target=compacter)
    t2 = threading.Thread(target=upserter)
    t1.start(), t2.start()
    t1.join(120), t2.join(120)
    ver_cp, committed = results["cp"]
    assert results["up"] is not None and committed  # both landed
    cur = M.read_current(spark, root)
    assert cur.filter(F.col("id") == idb).first().name == "B"
    assert cur.filter(F.col("id") == ida).first().name == f"frag{ida}"
    assert cur.count() == 64


def test_compact_rebase_all_skipped_is_noop(spark, tmp_path):
    """Every planned bucket lost its race ⇒ no version, claim released."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    ida, _, _ = _pick_disjoint_and_overlapping(spark)
    _fragment(spark, root, [ida])
    meta = M._read_meta(root)
    snapshot = M.current_version(root)
    b_a = _bucket_of(spark, [ida])[ida]
    plan = {b_a: 1}
    M.upsert(  # rewrites ida's bucket after the read
        spark, root,
        spark.createDataFrame(
            [(ida, "newer", 10)], "id long, name string, rev long"
        ),
        key="id", order_col="rev",
    )
    cur_before = M.current_version(root)
    out, committed = M._compact(spark, root, meta, snapshot, lambda _snap: plan, "rebase")
    assert out == cur_before and committed == []
    next_claim = M._claim_path(
        root, M._version_name(int(cur_before.split("_")[1]) + 1)
    )
    assert not os.path.exists(next_claim)
    staging = os.path.join(root, M._STAGING)
    assert not os.path.isdir(staging) or os.listdir(staging) == []


# -- shallow clone ---------------------------------------------------------------


def test_shallow_clone_zero_copy_and_isolation(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    M.init_table(_base(spark), src, key="id", n_buckets=4)
    ver = M.shallow_clone(src, dst)
    assert ver == "v_00000"
    # zero data files in the clone's v0; reads resolve to the source files
    v0 = os.path.join(dst, "v_00000")
    assert not any(f.endswith(".parquet") for f in os.listdir(v0))
    assert M.read_current(spark, dst).count() == 40
    # clone mutations are invisible to the source, and vice versa
    M.upsert(
        spark, dst,
        spark.createDataFrame([(1, "clone", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    M.delete_where(spark, dst, F.col("id") == 2)
    M.upsert(
        spark, src,
        spark.createDataFrame([(3, "src", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    src_rows = {r.id: r.name for r in M.read_current(spark, src).collect()}
    dst_rows = {r.id: r.name for r in M.read_current(spark, dst).collect()}
    assert src_rows[1] == "name1" and src_rows[3] == "src" and 2 in src_rows
    assert dst_rows[1] == "clone" and dst_rows[3] == "name3" and 2 not in dst_rows
    # rebase OCC works on the clone too (meta carries key + buckets)
    ida, idb, _ = _pick_disjoint_and_overlapping(spark)
    M.upsert(
        spark, dst,
        spark.createDataFrame([(ida, "A", 2)], "id long, name string, rev long"),
        key="id", order_col="rev", occ="rebase",
    )
    assert M.read_current(spark, dst).filter(F.col("id") == ida).first().name == "A"
    # vacuum on the clone never touches the source's files
    M.vacuum(dst, keep_last=1)
    assert M.read_current(spark, src).count() == 40  # src fully readable
    assert M.read_current(spark, dst).count() == 39  # 40 - deleted id 2


def test_shallow_clone_refuses_evolved_table_and_existing_dst(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    M.init_table(_base(spark), src, key="id", n_buckets=4)
    M.shallow_clone(src, dst)
    with pytest.raises(ValueError, match="already has a table"):
        M.shallow_clone(src, dst)
    src2 = str(tmp_path / "src2")
    M.init_table(_base(spark), src2, key="id", n_buckets=4)
    M.add_column(src2, "quality", "double", 1.0)
    with pytest.raises(ValueError, match="evolved columns"):
        M.shallow_clone(src2, str(tmp_path / "dst2"))


# -- drop_column -------------------------------------------------------------------


def test_drop_column_projects_away_and_compaction_materializes(spark, tmp_path):
    import pyarrow.parquet as pq

    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    M.drop_column(root, "rev")
    rec = M._read_commit(root, "v_00001")
    assert rec["op"] == "drop_column" and rec["buckets"] == "*"
    cur = M.read_current(spark, root)
    assert "rev" not in cur.columns and cur.count() == 40
    # v0's files still physically carry the column (metadata-only drop) …
    man = M._read_manifest(root, M.current_version(root))
    some_dir = os.path.join(root, next(iter(man.values())))
    f = next(x for x in os.listdir(some_dir) if x.endswith(".parquet"))
    assert "rev" in pq.read_schema(os.path.join(some_dir, f)).names
    # … and compaction materializes the drop for the buckets it rewrites
    ver, compacted = M.compact(spark, root, max_files_per_bucket=1)
    man2 = M._read_manifest(root, ver)
    for b in compacted:
        d = os.path.join(root, man2[b])
        for x in os.listdir(d):
            if x.endswith(".parquet"):
                assert "rev" not in pq.read_schema(os.path.join(d, x)).names
    # reincarnation: the dropped name comes back TYPE-CHANGED (long →
    # string) and not one stale value resurrects — every pre-re-add file
    # reads the new default, and the old physical incarnation is pruned
    # out of the scan (a decode of long-as-string would error loudly)
    M.add_column(root, "rev", "string", "fresh")
    reborn = M.read_current(spark, root)
    assert reborn.schema["rev"].dataType.simpleString() == "string"
    assert reborn.filter(F.col("rev") == "fresh").count() == 40
    M.add_column(root, "flag", "long", 3)
    assert M.read_current(spark, root).filter(F.col("flag") == 3).count() == 40
    # and the tombstone is gone from meta
    assert "rev" not in (M._read_meta(root).get("dropped") or [])
    # the key is not droppable; a missing column raises
    with pytest.raises(ValueError, match="table key"):
        M.drop_column(root, "id")
    with pytest.raises(ValueError, match="no column"):
        M.drop_column(root, "nope")
    # time travel reads through the CURRENT schema (documented contract):
    # after the reincarnation, v0 reads rev AS THE NEW INCARNATION —
    # string-typed, default-filled, no stale long bytes
    v0 = M.read_version(spark, root, 0)
    assert v0.schema["rev"].dataType.simpleString() == "string"
    assert v0.filter(F.col("rev") == "fresh").count() == 40


# -- streaming soft-dedup twin ----------------------------------------------------


def test_streaming_soft_dedup_equals_batch(spark):
    """The merge_into-maintained cluster state must reproduce the batch
    op's report exactly (same SQL oracle; equality pinned here too)."""
    from mongraph_spark.queries.corpus import corpus_soft_dedup
    from mongraph_spark.streaming.events import streaming_soft_dedup

    sf = "/root/testdata/sf0.001"
    batch = sorted(map(tuple, corpus_soft_dedup(spark, sf).collect()))
    stream = sorted(map(tuple, streaming_soft_dedup(spark, sf).collect()))
    assert stream == batch and batch  # non-empty and identical


# -- unified commit clock + retention floor -------------------------------------


def test_vacuum_retention_floor_enforced(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    with pytest.raises(ValueError, match="CLAIM_TTL_S"):
        M.vacuum_retention(root, retention_s=1.0)
    # force overrides the window floor, but the claim-TTL orphan floor holds
    with open(M._claim_path(root, "v_00001"), "w") as fh:
        fh.write("{}")  # fresh claim: a possibly-live writer
    out = M.vacuum_retention(root, retention_s=1.0, force=True)
    assert out["orphans_removed"] == []
    assert os.path.exists(M._claim_path(root, "v_00001"))


def test_vacuum_and_read_as_of_share_one_clock(spark, tmp_path):
    """The r8 VERDICT's 'What's wrong #1': manifest mtime must NOT move
    the retention window.  Shift every manifest's mtime far into the past
    (simulating a read-repair/backup rewrite) — with commit-record time
    authoritative, nothing leaves the window and read_as_of agrees."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    M.upsert(
        spark, root,
        spark.createDataFrame([(1, "v1", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    for v in ("v_00000", "v_00001"):
        os.utime(os.path.join(root, v, M._MANIFEST), (500.0, 500.0))
    out = M.vacuum_retention(root, retention_s=3600.0)
    assert out["removed"] == []  # commit records are recent — mtime is noise
    # and as-of travel on the same clock still reaches v0
    ts0 = M._commit_ts(root, "v_00000")
    assert M.read_as_of(spark, root, ts0).count() == 40


# -- t-closeness: the skewness-attack audit -------------------------------------


def test_t_closeness_crafted_distributions(spark, tmp_path):
    """Crafted release with hand-computed total-variation EMDs: three
    L0 classes — (3O,1F) tv=5/16, (4O) tv=9/16 (status F absent: the
    no-domain-cross-join fold), (8F) tv=7/16 against the global (7O,9F)
    — and the coarser rung merging the first two into a (7O,1F) class
    at tv=7/16.  Pins the exact bp values, the violation counts at
    t=0.20, and the absent-status contribution."""
    from mongraph_spark.queries.pipeline import pipeline_t_closeness

    cust = [
        (1, 1, "BUILDING", 150.0),   # L0 bin 1
        (2, 1, "BUILDING", 950.0),   # L0 bin 9
        (3, 1, "BUILDING", 1950.0),  # L0 bin 19; L1 bin 1
    ]
    spark.createDataFrame(
        cust, "c_custkey long, c_nationkey long, c_mktsegment string, "
        "c_acctbal double"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    orders = (
        [(10 + i, 1, "O") for i in range(3)]
        + [(13, 1, "F")]
        + [(20 + i, 2, "O") for i in range(4)]
        + [(30 + i, 3, "F") for i in range(8)]
    )
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r.level: r.asDict()
        for r in pipeline_t_closeness(spark, str(tmp_path)).collect()
    }
    l0 = got["L0_nation_segment_bal100"]
    # tv in bp: 3125 = 10000*5/16, 5625 = 9/16, 4375 = 7/16
    assert l0["n_rows"] == 16 and l0["n_classes"] == 3
    assert l0["worst_emd_bp"] == 5625
    assert l0["n_classes_violating"] == 3  # all exceed t = 2000 bp
    assert l0["n_rows_at_risk"] == 16 and l0["is_t_close"] == 0
    l1 = got["L1_nation_segment_bal1000"]
    # classes: {cust1+cust2} = (7O,1F) tv=7/16, {cust3} = (8F) tv=7/16
    assert l1["n_classes"] == 2 and l1["worst_emd_bp"] == 4375
    l2 = got["L2_segment_bal1000"]  # nation constant: same classes as L1
    assert l2["n_classes"] == 2 and l2["worst_emd_bp"] == 4375


def test_t_closeness_identical_distribution_is_zero(spark, tmp_path):
    """A class whose status distribution EQUALS the global one has EMD 0
    and passes any t — the audit's fixed point."""
    from mongraph_spark.queries.pipeline import pipeline_t_closeness

    cust = [(1, 1, "AUTO", 150.0), (2, 1, "AUTO", 950.0)]
    spark.createDataFrame(
        cust, "c_custkey long, c_nationkey long, c_mktsegment string, "
        "c_acctbal double"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    orders = [
        (1, 1, "O"), (2, 1, "F"),
        (3, 2, "O"), (4, 2, "F"),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r.level: r.asDict()
        for r in pipeline_t_closeness(spark, str(tmp_path)).collect()
    }
    for lvl in got.values():
        assert lvl["worst_emd_bp"] == 0 and lvl["is_t_close"] == 1


# -- Holt–Winters: seasonal triple exponential smoothing -------------------------


def _hw_replay(y, m=7, horizon=7):
    """Pure-python floor-halving replay of the Holt–Winters recursion."""
    l = sum(y[:m]) // m  # daily sums positive in the crafted series
    b = (sum(y[m : 2 * m]) - sum(y[:m])) // (m * m)
    season = [y[i] - l for i in range(m)]
    exp = {}
    for t in range(m, len(y)):
        sa = season[0]
        fc = l + b + sa
        l2 = ((y[t] - sa) + l + b) >> 1
        b2 = (b + l2 - l) >> 1
        s2 = ((y[t] - l2) + sa) >> 1
        exp[t] = (y[t], fc, y[t] - fc, l2, b2, s2)
        l, b = l2, b2
        season = season[1:] + [s2]
    for h in range(1, horizon + 1):
        fc = l + h * b + season[h - 1]
        exp[len(y) - 1 + h] = (None, fc, None, l, b, season[h - 1])
    return exp


def test_holt_winters_crafted_seasonal_series(spark, tmp_path):
    """A planted weekly cycle + linear trend, replayed exactly in python:
    pins the init (l0, b0, s_0..s_6), the rotating ring, the floor-halving
    (negative seasonals exercise the sign case), and the 7-step horizon."""
    import datetime as dt

    from mongraph_spark.queries.events import events_holt_winters

    # 21 days: value = 1000 + 10*t + planted weekly wave (some negative offsets)
    wave = [300, -200, 50, 0, -120, 260, -90]
    y = [1000 + 10 * t + wave[t % 7] for t in range(21)]
    rows = [
        (t, dt.datetime(2024, 3, 1 + t, 12, 0, 0), 1, "view", y[t] / 100.0, "{}")
        for t in range(21)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.t: (
            r.actual_cents,
            r.forecast_cents,
            r.err_cents,
            r.level_cents,
            r.trend_cents,
            r.season_cents,
        )
        for r in events_holt_winters(spark, str(tmp_path)).collect()
    }
    exp = {
        t: (a, fc, e, l, b, s)
        for t, (a, fc, e, l, b, s) in _hw_replay(y).items()
    }
    assert got == exp
    # the planted wave must surface: some seasonal state is negative
    assert any(v[5] < 0 for v in exp.values())


def test_streaming_holt_winters_equals_batch(spark):
    """Twin contract: the streamed rollup + shared finisher reproduces the
    batch op exactly."""
    from mongraph_spark.queries.events import events_holt_winters
    from mongraph_spark.streaming.events import streaming_holt_winters

    sf = "/root/testdata/sf0.001"
    batch = sorted(map(tuple, events_holt_winters(spark, sf).collect()))
    stream = sorted(map(tuple, streaming_holt_winters(spark, sf).collect()))
    assert stream == batch and batch


# -- read_point: the O(one-bucket-file) OLTP get path ----------------------------


def test_read_point_scans_exactly_one_file(spark, tmp_path):
    """The manifest IS the index: a point read's scan set is ONE bucket
    file while the full read touches all buckets; values match a filtered
    full read, including through a multi-version manifest."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    M.upsert(
        spark, root,
        spark.createDataFrame([(7, "seven2", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    def bucket_dirs(df):
        return {f.rsplit("/", 1)[0] for f in df.inputFiles()}

    full = M.read_current(spark, root)
    assert len(bucket_dirs(full)) >= 4  # every bucket dir scanned
    hit = M.read_point(spark, root, 7)
    assert len(bucket_dirs(hit)) == 1  # one bucket dir only
    assert [(r.id, r.name) for r in hit.collect()] == [(7, "seven2")]
    # a key routed to an untouched bucket resolves to its v0 file
    other = M.read_point(spark, root, 3)
    assert len(bucket_dirs(other)) == 1
    assert [(r.id, r.name) for r in other.collect()] == [(3, "name3")]
    # absent key: empty, recorded schema
    miss = M.read_point(spark, root, 999999)
    assert miss.count() == 0
    assert [f.name for f in miss.schema.fields if f.name != "__bucket"] == [
        "id", "name", "rev"
    ]


def test_read_point_schema_evolution_fill(spark, tmp_path):
    """Point reads honor metadata-only ADD COLUMN: a key in a pre-evolution
    bucket file reads the recorded default."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    M.add_column(root, "quality", "double", 2.5)
    hit = M.read_point(spark, root, 5)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["quality"] == 2.5


# -- Wilson score interval ---------------------------------------------------------


def test_wilson_ci_crafted_exact(spark, tmp_path):
    """Known counts replayed in python doubles with the operator's exact
    op order; also pins the interval's defining properties (contains
    p-hat, stays inside [0,1] even at an extreme rate)."""
    import datetime as dt
    import math

    from mongraph_spark.queries.events import stats_wilson_ci

    # type 'a': 3 of 4 above 100; type 'b': 0 of 3 above (extreme rate)
    vals = [("a", 150.0), ("a", 200.0), ("a", 250.0), ("a", 50.0),
            ("b", 10.0), ("b", 20.0), ("b", 30.0)]
    rows = [
        (i, dt.datetime(2024, 5, 1, 1 + i), 1, t, v, "{}")
        for i, (t, v) in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: r.asDict() for r in stats_wilson_ci(spark, str(tmp_path)).collect()}

    def wilson(n_hi, n_events):
        n = float(n_events)
        p = float(n_hi) / n
        z = 1.96
        z2 = z * z
        denom = 1.0 + z2 / n
        center = p + z2 / (2.0 * n)
        half = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        return (
            math.floor(1000000.0 * p),
            math.floor(1000000.0 * ((center - half) / denom)),
            math.floor(1000000.0 * ((center + half) / denom)),
        )

    for t, (hi, n) in {"a": (3, 4), "b": (0, 3)}.items():
        p_ppm, lo_ppm, hi_ppm = wilson(hi, n)
        assert got[t]["p_hat_ppm"] == p_ppm
        assert got[t]["wilson_lo_ppm"] == lo_ppm
        assert got[t]["wilson_hi_ppm"] == hi_ppm
        assert 0 <= got[t]["wilson_lo_ppm"] <= p_ppm
        assert p_ppm <= got[t]["wilson_hi_ppm"] <= 1000000
    # the zero-successes arm still gets a non-degenerate upper bound
    assert got["b"]["wilson_lo_ppm"] == 0 and got["b"]["wilson_hi_ppm"] > 0


# -- cluster_by compaction + manifest-stats file skipping -------------------------


def test_cluster_by_compact_records_stats_and_prunes(spark, tmp_path):
    """compact(cluster_by=) range-slices each bucket into sorted files and
    records their footer [min,max] in _stats.json; read_where then scans
    FEWER files for a selective range and exactly matches the filtered
    full read; an out-of-range probe scans zero files."""
    import json as _json

    root = str(tmp_path / "tbl")
    # value column v correlates 1:1 with id so planted ranges are known
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(400)], "id long, v long"
    ).repartition(16)
    M.init_table(df, root, key="id", n_buckets=4)
    ver, compacted = M.compact(spark, root, max_files_per_bucket=4, cluster_by="v")
    assert sorted(compacted) == ["0", "1", "2", "3"]
    with open(os.path.join(root, ver, M._STATS)) as fh:
        st = _json.load(fh)
    assert st["col"] == "v" and set(st["buckets"]) == {"0", "1", "2", "3"}
    # every bucket got multiple files with stats; ranges are non-degenerate
    n_files_total = sum(len(v) for v in st["buckets"].values())
    assert n_files_total >= 8
    for per_file in st["buckets"].values():
        assert len(per_file) >= 2
        for lo, hi in per_file.values():
            assert lo <= hi

    full = M.read_current(spark, root)
    narrow = M.read_where(spark, root, "v", 0, 200)
    assert len(narrow.inputFiles()) < len(full.inputFiles())
    exp = sorted(
        (r.id, r.v)
        for r in full.filter((F.col("v") >= 0) & (F.col("v") <= 200)).collect()
    )
    assert sorted((r.id, r.v) for r in narrow.collect()) == exp and exp
    # an empty range prunes EVERY file at planning time
    none = M.read_where(spark, root, "v", 10**9, 2 * 10**9)
    assert none.inputFiles() == [] and none.count() == 0
    # full range loses nothing
    assert M.read_where(spark, root, "v", 0, 4000).count() == 400


def test_read_where_without_stats_falls_back(spark, tmp_path):
    """No cluster_by ever ran: read_where still answers correctly by
    scanning everything (skipping is an optimization, not a dependency);
    pending add_column fills also take the safe unpruned path."""
    root = str(tmp_path / "tbl")
    M.init_table(_base(spark), root, key="id", n_buckets=4)
    got = M.read_where(spark, root, "id", 10, 19)
    assert got.count() == 10
    M.add_column(root, "q", "long", 5)
    with_fill = M.read_where(spark, root, "id", 10, 19)
    assert with_fill.count() == 10
    assert with_fill.filter(F.col("q") == 5).count() == 10


# -- forecast backtest -------------------------------------------------------------


def test_forecast_backtest_crafted_replay(spark, tmp_path):
    """Planted wave+trend series (30 days), fully replayed in python:
    exact MAE sums and MASE bp for all four models, and the sanity that
    the seasonal models beat plain naive on a seasonal series."""
    import datetime as dt

    from mongraph_spark.queries.events import events_forecast_backtest

    wave = [300, -200, 50, 0, -120, 260, -90]
    y = [1000 + 10 * t + wave[t % 7] for t in range(30)]
    rows = [
        (t, dt.datetime(2024, 3, 1, 12) + dt.timedelta(days=t), 1, "view",
         y[t] / 100.0, "{}")
        for t in range(30)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    n, h, m = 30, 7, 7
    train, test = y[: n - h], y[n - h :]
    # holt on train
    l, b = train[0], train[1] - train[0]
    for t in range(2, len(train)):
        l2 = (l + b + train[t]) >> 1
        b2 = (b + l2 - l) >> 1
        l, b = l2, b2
    hl, hb = l, b
    # holt-winters on train
    l = sum(train[:m]) // m
    b = (sum(train[m : 2 * m]) - sum(train[:m])) // (m * m)
    season = [train[i] - l for i in range(m)]
    for t in range(m, len(train)):
        sa = season[0]
        l2 = ((train[t] - sa) + l + b) >> 1
        b2 = (b + l2 - l) >> 1
        s2 = ((train[t] - l2) + sa) >> 1
        l, b = l2, b2
        season = season[1:] + [s2]
    d = sum(abs(train[i] - train[i - 1]) for i in range(1, len(train)))
    exp = {}
    fcs = {
        "naive": [train[-1]] * h,
        "seasonal_naive": [train[len(train) - m + k] for k in range(h)],
        "holt": [hl + (k + 1) * hb for k in range(h)],
        "holt_winters": [l + (k + 1) * b + season[k] for k in range(h)],
    }
    for model, fc in fcs.items():
        mae = sum(abs(test[k] - fc[k]) for k in range(h))
        exp[model] = (mae, (10000 * mae * (len(train) - 1)) // (d * h))
    got = {
        r.model: (r.mae_total_cents, r.mase_bp, r.n_train, r.n_test)
        for r in events_forecast_backtest(spark, str(tmp_path)).collect()
    }
    assert {k: v[:2] for k, v in got.items()} == exp
    assert all(v[2] == 23 and v[3] == 7 for v in got.values())
    # a seasonal series: the seasonal models dominate plain naive
    assert exp["holt_winters"][0] < exp["naive"][0]
    assert exp["seasonal_naive"][0] < exp["naive"][0]
    # MASE < 10000bp means "beats in-sample naive" — HW must clear it here
    assert exp["holt_winters"][1] < 10000


def test_streaming_forecast_backtest_equals_batch(spark):
    from mongraph_spark.queries.events import events_forecast_backtest
    from mongraph_spark.streaming.events import streaming_forecast_backtest

    sf = "/root/testdata/sf0.001"
    batch = sorted(map(tuple, events_forecast_backtest(spark, sf).collect()))
    stream = sorted(map(tuple, streaming_forecast_backtest(spark, sf).collect()))
    assert stream == batch and batch


# -- content-defined chunking dedup ------------------------------------------------


def test_cdc_chunking_crafted_resync(spark, tmp_path):
    """CDC's defining property on a crafted pair: the tail-truncated copy
    shares every chunk with the original except the trailing one(s) —
    boundaries re-synchronize because they depend only on local content.
    Replays the md5-trigram cut rule in python for exact parity."""
    import hashlib

    from mongraph_spark.queries.dedup import dedup_cdc_chunking

    words = [f"tok{i}" for i in range(200)]
    text = " ".join(words)

    def cuts_of(ws):
        return [
            i
            for i in range(2, len(ws) - 1)
            if hashlib.md5(
                (" ".join(ws[i - 2 : i + 1])).encode()
            ).hexdigest()[-1] == "0"
        ]

    def chunks_of(ws):
        cs = cuts_of(ws)
        starts = [0] + [c + 1 for c in cs]
        ends = [c + 1 for c in cs] + [len(ws)]
        return [" ".join(ws[s:e]) for s, e in zip(starts, ends)]

    orig = chunks_of(words)
    assert len(orig) >= 4  # the rule actually cuts on this vocabulary
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.cluster_size: r.asDict()
        for r in dedup_cdc_chunking(spark, str(tmp_path)).collect()
    }
    # dup_corpus(drop_last=3) plants doc 1 + its copy missing 3 words;
    # python replay of BOTH docs' chunk multisets gives the exact ledger
    copy = chunks_of(words[:-3])
    from collections import Counter

    occ = Counter()
    for ch in orig:
        occ[ch] += 1
    for ch in copy:
        occ[ch] += 1
    by_c = Counter(occ.values())
    assert {c: v["n_chunks"] for c, v in got.items()} == dict(by_c)
    # resync: all but the copy's last chunk also occur in the original
    assert all(ch in set(orig) for ch in copy[:-1])
    # word-mass conservation: totals equal both docs' word counts
    assert sum(v["total_words"] for v in got.values()) == 200 + 197
