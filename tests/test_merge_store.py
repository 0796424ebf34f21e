"""Copy-on-write parquet MERGE: version pointer, upsert semantics,
last-writer-wins, delete rewrite, reader isolation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mongraph_spark.sources.merge import (
    current_version,
    delete_where,
    init_table,
    read_current,
    upsert,
)


def _base(spark):
    return spark.createDataFrame(
        [(i, f"name{i}", 0) for i in range(100)], "id long, name string, rev long"
    )


def test_upsert_insert_and_replace(spark, tmp_path):
    root = str(tmp_path / "tbl")
    init_table(_base(spark), root)
    updates = spark.createDataFrame(
        [(5, "five-new", 1), (200, "brand-new", 1)], "id long, name string, rev long"
    )
    upsert(spark, root, updates, key="id", order_col="rev")
    cur = read_current(spark, root)
    assert cur.count() == 101
    rows = {r.id: r.name for r in cur.filter(F.col("id").isin(5, 200, 6)).collect()}
    assert rows == {5: "five-new", 200: "brand-new", 6: "name6"}


def test_upsert_last_writer_wins_within_batch(spark, tmp_path):
    root = str(tmp_path / "tbl")
    init_table(_base(spark), root)
    updates = spark.createDataFrame(
        [(7, "older", 1), (7, "newer", 2)], "id long, name string, rev long"
    )
    upsert(spark, root, updates, key="id", order_col="rev")
    got = read_current(spark, root).filter(F.col("id") == 7).collect()
    assert len(got) == 1 and got[0].name == "newer"


def test_versions_advance_and_delete(spark, tmp_path):
    root = str(tmp_path / "tbl")
    assert init_table(_base(spark), root) == "v_00000"
    v1 = upsert(
        spark,
        root,
        spark.createDataFrame([(1, "x", 1)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    assert v1 == "v_00001" and current_version(root) == "v_00001"
    v2 = delete_where(spark, root, F.col("id") < 50)
    assert v2 == "v_00002"
    cur = read_current(spark, root)
    assert cur.count() == 50 and cur.agg(F.min("id")).first()[0] == 50


def test_reader_pins_version_across_writes(spark, tmp_path):
    """A DataFrame opened before an upsert keeps reading its own version
    (immutable version dirs — no torn reads)."""
    root = str(tmp_path / "tbl")
    init_table(_base(spark), root)
    old_reader = read_current(spark, root)
    upsert(
        spark,
        root,
        spark.createDataFrame([(999, "late", 1)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    assert old_reader.count() == 100  # still v0
    assert read_current(spark, root).count() == 101
    # both version dirs exist on disk
    assert sorted(d for d in os.listdir(root) if d.startswith("v_")) == [
        "v_00000",
        "v_00001",
    ]


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: only TRUE-predicate rows go; a NULL predicate
    (comparison on a NULL column) must keep the row, not delete it."""
    root = str(tmp_path / "tbl")
    init_table(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 99)], "id long, score long"
        ),
        root,
    )
    delete_where(spark, root, F.col("score") > 50)
    got = sorted(r.id for r in read_current(spark, root).collect())
    assert got == [1, 2]  # id=2 (NULL score) survives; only id=3 deleted


def test_upsert_key_only_updates(spark, tmp_path):
    """A key-only update batch (no tie-break columns) must not raise on the
    empty-struct ordering path."""
    root = str(tmp_path / "tbl")
    init_table(spark.createDataFrame([(1,), (2,)], "id long"), root)
    upsert(
        spark,
        root,
        spark.createDataFrame([(2,), (2,), (3,)], "id long"),
        key="id",
    )
    got = sorted(r.id for r in read_current(spark, root).collect())
    assert got == [1, 2, 3]


# -- bucketed layout: partition-scoped copy-on-write (VERDICT r4 #5) ----------


def _bucket_dirs(root, ver):
    import os as _os

    return sorted(
        d for d in _os.listdir(_os.path.join(root, ver)) if d.startswith("__bucket=")
    )


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """An upsert of k keys must rewrite <= k bucket dirs; every untouched
    bucket in the new manifest still points at the PRIOR version's files."""
    import json as _json
    import os as _os

    root = str(tmp_path / "btbl")
    init_table(_base(spark), root, key="id", n_buckets=8)
    v0_buckets = _bucket_dirs(root, "v_00000")
    assert len(v0_buckets) == 8  # 100 keys cover all 8 buckets

    updates = spark.createDataFrame(
        [(5, "five-new", 1), (200, "brand-new", 1)], "id long, name string, rev long"
    )
    upsert(spark, root, updates, key="id", order_col="rev")

    # k=2 keys -> at most 2 rewritten bucket dirs in v_00001
    v1_buckets = _bucket_dirs(root, "v_00001")
    assert 1 <= len(v1_buckets) <= 2, v1_buckets

    with open(_os.path.join(root, "v_00001", "manifest.json")) as fh:
        manifest = _json.load(fh)
    assert len(manifest) == 8
    n_old = sum(1 for rel in manifest.values() if rel.startswith("v_00000/"))
    n_new = sum(1 for rel in manifest.values() if rel.startswith("v_00001/"))
    assert n_new == len(v1_buckets) and n_old == 8 - n_new

    # and the merged content is row-identical to the legacy full-rewrite
    cur = read_current(spark, root)
    assert cur.count() == 101
    rows = {r.id: r.name for r in cur.filter(F.col("id").isin(5, 200, 6)).collect()}
    assert rows == {5: "five-new", 200: "brand-new", 6: "name6"}


def test_bucketed_delete_rewrites_only_matching_buckets(spark, tmp_path):
    root = str(tmp_path / "btbl")
    init_table(_base(spark), root, key="id", n_buckets=8)
    # delete exactly one key: only its bucket is rewritten
    delete_where(spark, root, F.col("id") == 42)
    v1_buckets = _bucket_dirs(root, "v_00001")
    assert len(v1_buckets) == 1, v1_buckets
    cur = read_current(spark, root)
    assert cur.count() == 99
    assert cur.filter(F.col("id") == 42).count() == 0


def test_bucketed_time_travel_and_reader_isolation(spark, tmp_path):
    root = str(tmp_path / "btbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    old_reader = read_current(spark, root)
    upsert(
        spark,
        root,
        spark.createDataFrame([(999, "late", 1)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    assert old_reader.count() == 100  # still v0
    from mongraph_spark.sources.merge import read_version

    assert read_version(spark, root, 0).count() == 100
    assert read_version(spark, root, 1).count() == 101


def test_bucketed_upsert_key_mismatch_raises(spark, tmp_path):
    import pytest as _pytest

    root = str(tmp_path / "btbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    with _pytest.raises(ValueError, match="bucketed on"):
        upsert(spark, root, _base(spark), key="name")


def test_bucketed_table_can_empty_out(spark, tmp_path):
    """Deleting every row must leave a readable empty current version
    (schema comes from table metadata, not from parquet files)."""
    root = str(tmp_path / "btbl")
    init_table(
        spark.createDataFrame([(1, 5), (2, 9)], "id long, v long"), root,
        key="id", n_buckets=4,
    )
    delete_where(spark, root, F.lit(True))
    cur = read_current(spark, root)
    assert cur.count() == 0
    assert cur.columns == ["id", "v"]


# -- compaction: small-file maintenance (round 5) -----------------------------


def _bucket_file_counts(root, version=None):
    import json as _json
    import os as _os

    ver = version or current_version(root)
    with open(_os.path.join(root, ver, "manifest.json")) as fh:
        manifest = _json.load(fh)
    counts = {}
    for b, rel in manifest.items():
        d = _os.path.join(root, rel)
        counts[b] = sum(1 for f in _os.listdir(d) if f.endswith(".parquet"))
    return manifest, counts


def test_compact_reduces_files_and_preserves_content(spark, tmp_path):
    from mongraph_spark.sources.merge import compact

    root = str(tmp_path / "ctbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    # three trickle upserts -> every touched bucket accretes a file per merge
    for lo in (0, 10, 20):
        batch = spark.createDataFrame(
            [(i, f"name{i}", 1) for i in range(lo, lo + 10)],
            "id long, name string, rev long",
        )
        upsert(spark, root, batch, key="id", order_col="rev")
    before = read_current(spark, root).drop("__bucket")
    _, pre_counts = _bucket_file_counts(root)
    assert max(pre_counts.values()) > 1  # actually fragmented

    ver, compacted = compact(spark, root, max_files_per_bucket=1)
    assert compacted  # at least one bucket rewritten
    manifest, post_counts = _bucket_file_counts(root)
    assert all(n == 1 for n in post_counts.values())
    # untouched buckets (if any) are carried by reference, compacted ones
    # live in the new version dir
    for b in compacted:
        assert manifest[b].startswith(ver + "/")
    after = read_current(spark, root).drop("__bucket")
    assert sorted(map(tuple, after.collect())) == sorted(map(tuple, before.collect()))


def test_compact_noop_when_already_compact(spark, tmp_path):
    from mongraph_spark.sources.merge import compact

    root = str(tmp_path / "ctbl")
    init_table(_base(spark).repartition(1), root, key="id", n_buckets=4)
    cur = current_version(root)
    ver, compacted = compact(spark, root, max_files_per_bucket=1)
    assert ver == cur and compacted == []
    assert current_version(root) == cur  # pointer untouched on no-op


# -- metadata-only schema evolution (round 5) ---------------------------------


def test_add_column_is_metadata_only_and_readers_fill_default(spark, tmp_path):
    import os as _os

    from mongraph_spark.sources.merge import add_column

    root = str(tmp_path / "etbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    files_before = {
        d: sorted(_os.listdir(_os.path.join(root, "v_00000", d)))
        for d in _os.listdir(_os.path.join(root, "v_00000"))
        if d.startswith("__bucket=")
    }
    add_column(root, "quality", "double", 1.0)
    # no data file was touched
    files_after = {
        d: sorted(_os.listdir(_os.path.join(root, "v_00000", d)))
        for d in _os.listdir(_os.path.join(root, "v_00000"))
        if d.startswith("__bucket=")
    }
    assert files_after == files_before
    cur = read_current(spark, root)
    assert "quality" in cur.columns
    assert cur.filter(F.col("quality") == 1.0).count() == 100  # default fill


def test_evolved_upsert_mixes_physical_and_default_values(spark, tmp_path):
    from mongraph_spark.sources.merge import add_column

    root = str(tmp_path / "etbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    add_column(root, "quality", "double", 1.0)
    # batch WITH the column: explicit values (including one explicit NULL)
    updates = spark.createDataFrame(
        [(5, "five", 2, 0.25), (200, "new", 2, None)],
        "id long, name string, rev long, quality double",
    )
    upsert(spark, root, updates, key="id", order_col="rev")
    # batch WITHOUT the column: filled with the default
    upsert(
        spark,
        root,
        spark.createDataFrame([(300, "noq", 3)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    cur = read_current(spark, root)
    got = {r.id: r.quality for r in cur.filter(F.col("id").isin(5, 6, 200, 300)).collect()}
    assert got[5] == 0.25          # explicit value
    assert got[200] is None        # explicit NULL preserved (post-evolution file)
    assert got[6] == 1.0           # pre-evolution row reads the default
    assert got[300] == 1.0         # omitted column filled at write
    assert cur.count() == 102


def test_evolved_table_compaction_materializes_defaults(spark, tmp_path):
    from mongraph_spark.sources.merge import add_column, compact

    root = str(tmp_path / "etbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    add_column(root, "quality", "double", 1.0)
    upsert(
        spark,
        root,
        spark.createDataFrame([(1, "one", 2, 0.5)], "id long, name string, rev long, quality double"),
        key="id",
        order_col="rev",
    )
    before = sorted(map(tuple, read_current(spark, root).drop("__bucket").collect()))
    compact(spark, root, max_files_per_bucket=1)
    after = sorted(map(tuple, read_current(spark, root).drop("__bucket").collect()))
    assert after == before


# -- MERGE INTO (matched / not-matched clauses) -------------------------------


def test_merge_into_update_delete_insert(spark, tmp_path):
    from mongraph_spark.sources.merge import merge_into

    root = str(tmp_path / "mtbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    source = spark.createDataFrame(
        [(5, "five-src", 9), (7, "seven-src", 0), (500, "brand-new", 1)],
        "id long, name string, rev long",
    )
    # matched & src rev=0 -> DELETE; other matched -> rev=rev+1, name from src;
    # unmatched source -> INSERT
    merge_into(
        spark,
        root,
        source,
        when_matched_set={"rev": "rev + 1", "name": "src_name"},
        when_matched_delete="src_rev = 0",
    )
    cur = read_current(spark, root)
    assert cur.count() == 100  # 100 - 1 delete + 1 insert
    got = {r.id: (r.name, r.rev) for r in cur.filter(F.col("id").isin(5, 7, 500, 8)).collect()}
    assert got[5] == ("five-src", 1)   # updated: rev 0+1, src name
    assert 7 not in got                # deleted
    assert got[500] == ("brand-new", 1)  # inserted verbatim
    assert got[8] == ("name8", 0)      # untouched


def test_merge_into_insert_suppression_and_noop(spark, tmp_path):
    from mongraph_spark.sources.merge import merge_into

    root = str(tmp_path / "mtbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    source = spark.createDataFrame(
        [(3, "three-src", 5), (900, "ghost", 1)], "id long, name string, rev long"
    )
    merge_into(
        spark, root, source,
        when_matched_set={"name": "src_name"},
        insert_not_matched=False,
    )
    cur = read_current(spark, root)
    assert cur.count() == 100  # no insert
    assert cur.filter(F.col("id") == 900).count() == 0
    assert cur.filter(F.col("id") == 3).first().name == "three-src"


# -- VACUUM -------------------------------------------------------------------


def test_vacuum_respects_structural_sharing(spark, tmp_path):
    import os as _os

    from mongraph_spark.sources.merge import vacuum

    root = str(tmp_path / "vtbl")
    init_table(_base(spark), root, key="id", n_buckets=4)  # v0
    for i in range(3):  # v1..v3, each touching one key's bucket
        upsert(
            spark,
            root,
            spark.createDataFrame([(i, f"u{i}", 1)], "id long, name string, rev long"),
            key="id",
            order_col="rev",
        )
    before = sorted(map(tuple, read_current(spark, root).drop("__bucket").collect()))
    removed = vacuum(root, keep_last=1)
    # v0 must SURVIVE if the current manifest still references its buckets
    dirs = {d for d in _os.listdir(root) if d.startswith("v_")}
    assert "v_00003" in dirs
    cur_manifest_versions = {
        rel.split("/", 1)[0]
        for rel in __import__("json").load(
            open(_os.path.join(root, "v_00003", "manifest.json"))
        ).values()
    }
    assert cur_manifest_versions <= dirs  # every referenced dir still exists
    after = sorted(map(tuple, read_current(spark, root).drop("__bucket").collect()))
    assert after == before  # vacuum never changes visible data
    # intermediate versions whose dirs are fully superseded are gone
    for v in removed:
        assert v not in dirs


# -- tags + describe ----------------------------------------------------------


def test_tags_pin_versions_and_describe_reports_layout(spark, tmp_path):
    from mongraph_spark.sources.merge import create_tag, describe, read_tag

    root = str(tmp_path / "ttbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    create_tag(root, "baseline")
    upsert(
        spark, root,
        spark.createDataFrame([(1, "changed", 1)], "id long, name string, rev long"),
        key="id", order_col="rev",
    )
    create_tag(root, "after-fix")
    # tag reads pin their version regardless of later writes
    assert read_tag(spark, root, "baseline").filter(F.col("id") == 1).first().name == "name1"
    assert read_tag(spark, root, "after-fix").filter(F.col("id") == 1).first().name == "changed"
    d = describe(root)
    assert d["key"] == "id" and d["n_buckets"] == 4
    assert d["tags"] == {"baseline": "v_00000", "after-fix": "v_00001"}
    assert d["current_version"] == "v_00001"
    assert d["current_files"] > 0 and d["current_bytes"] > 0
    # structural sharing is visible: current manifest mixes v0 and v1 dirs
    assert set(d["buckets_by_version"]) == {"v_00000", "v_00001"}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no tag"):
        read_tag(spark, root, "missing")


def test_vacuum_retains_tagged_versions(spark, tmp_path):
    import os as _os

    from mongraph_spark.sources.merge import create_tag, read_tag, vacuum

    root = str(tmp_path / "tvtbl")
    init_table(_base(spark), root, key="id", n_buckets=2)
    create_tag(root, "keepme")  # pins v_00000
    # three full-ish rewrites so v0's dirs would otherwise be superseded
    for i in range(3):
        upsert(spark, root, _base(spark).withColumn("rev", F.lit(i + 1)),
               key="id", order_col="rev")
    vacuum(root, keep_last=1)
    dirs = {d for d in _os.listdir(root) if d.startswith("v_")}
    assert "v_00000" in dirs  # tag kept it alive
    assert read_tag(spark, root, "keepme").count() == 100


def test_restore_rolls_back_without_deleting_history(spark, tmp_path):
    """RESTORE writes a NEW version whose manifest points at the target's
    buckets: data equals the target, bad-write history stays on disk, and
    the restore composes with tags and survives further upserts."""
    import os as _os

    from mongraph_spark.sources.merge import create_tag, restore

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root)  # v0: 100 rows
    create_tag(root, "good")
    upsert(
        spark,
        root,
        spark.createDataFrame(
            [(i, "corrupt", 9) for i in range(50)], "id long, name string, rev long"
        ),
        key="id",
        order_col="rev",
    )  # v1: the bad write
    assert read_current(spark, root).filter(F.col("name") == "corrupt").count() == 50
    v2 = restore(root, tag="good")
    assert current_version(root) == v2
    cur = read_current(spark, root)
    assert cur.count() == 100
    assert cur.filter(F.col("name") == "corrupt").count() == 0
    # history preserved: the bad version dir still exists
    assert _os.path.isdir(_os.path.join(root, "v_00001"))
    # numeric-version form agrees and keeps advancing the log
    v3 = restore(root, version=1)
    assert v3 > v2
    assert read_current(spark, root).filter(F.col("name") == "corrupt").count() == 50
    restore(root, version=0)
    assert read_current(spark, root).count() == 100


def test_restore_rejects_vacuumed_target_and_bad_args(spark, tmp_path):
    import pytest as _pytest

    from mongraph_spark.sources.merge import restore, vacuum

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root)
    upsert(
        spark,
        root,
        spark.createDataFrame([(1, "a", 1)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    with _pytest.raises(ValueError):
        restore(root)  # neither arg
    with _pytest.raises(ValueError):
        restore(root, version=0, tag="x")  # both args
    with _pytest.raises(ValueError):
        restore(root, version=99)  # missing version


def test_rebucket_partition_evolution(spark, tmp_path):
    """REBUCKET: one full rewrite into the new bucket space; data
    identical; subsequent upserts scope to the NEW layout; restore
    refuses to cross the boundary."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from mongraph_spark.sources.merge import rebucket, restore

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    v_re = rebucket(spark, root, 16)
    cur = read_current(spark, root)
    assert cur.count() == 100
    assert {r.id for r in cur.collect()} == set(range(100))
    # manifest now spans the new bucket space
    with open(_os.path.join(root, v_re, "manifest.json")) as fh:
        mf = _json.load(fh)
    assert len(mf) > 4
    # upsert of one key touches exactly one NEW-layout bucket
    v2 = upsert(
        spark,
        root,
        spark.createDataFrame([(5, "rewritten", 9)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    with open(_os.path.join(root, v2, "manifest.json")) as fh:
        mf2 = _json.load(fh)
    changed = {b for b, rel in mf2.items() if rel.startswith(v2)}
    assert len(changed) == 1
    got = read_current(spark, root).filter(F.col("id") == 5).collect()
    assert got[0].name == "rewritten"
    # restore across the rebucket fence is refused
    with _pytest.raises(ValueError, match="rebucketed"):
        restore(root, version=0)
    # restore to a post-fence version still works
    restore(root, version=int(v_re.split("_")[1]))
    assert read_current(spark, root).filter(F.col("name") == "rewritten").count() == 0


def test_rebucket_commit_is_atomic_with_meta(spark, tmp_path):
    """The rebucket layout change commits meta WITH the pointer flip: the
    staged copy inside the version dir is authoritative, so a crash that
    loses the root _TABLE.json cache after the flip still leaves readers
    and writers on the new bucket count (read-repair), and a crashed
    writer's leftover next-version dir never wedges the retry."""
    import json as _json
    import os as _os

    from mongraph_spark.sources.merge import _read_meta, rebucket

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    rebucket(spark, root, 16)
    # simulate crash-after-flip-before-root-sync: drop the root cache
    _os.remove(_os.path.join(root, "_TABLE.json"))
    meta = _read_meta(root)
    assert meta["n_buckets"] == 16 and meta["bucketed_since"] == 1
    # read-repair restored the root cache atomically
    with open(_os.path.join(root, "_TABLE.json")) as fh:
        assert _json.load(fh)["n_buckets"] == 16
    # a crashed writer's uncommitted version dir (next version name) is
    # cleared on retry instead of tripping errorifexists forever
    leftover = _os.path.join(root, "v_00002")
    _os.makedirs(_os.path.join(leftover, "junk"))
    v2 = upsert(
        spark,
        root,
        spark.createDataFrame([(5, "retry", 9)], "id long, name string, rev long"),
        key="id",
        order_col="rev",
    )
    assert v2 == "v_00002"
    got = read_current(spark, root).filter(F.col("id") == 5).collect()
    assert got[0].name == "retry" and read_current(spark, root).count() == 100


def test_add_column_preserves_rebucket_fence(spark, tmp_path):
    """ADD COLUMN rewrites table meta; the bucketed_since restore fence
    from an earlier rebucket must survive that rewrite."""
    import pytest as _pytest

    from mongraph_spark.sources.merge import _read_meta, add_column, rebucket, restore

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    rebucket(spark, root, 8)
    add_column(root, "score", "long", 0)
    assert _read_meta(root).get("bucketed_since") == 1
    with _pytest.raises(ValueError, match="rebucketed"):
        restore(root, version=0)
    cur = read_current(spark, root)
    assert cur.filter(F.col("score") == 0).count() == 100


# -- optimistic concurrency (live-writer contract) ----------------------------


def test_live_writer_conflict_fails_fast(spark, tmp_path):
    """Two LIVE writers racing the same snapshot: the second one must get a
    typed CommitConflict at claim time (before spending compute), not
    clobber the first writer's in-flight version dir."""
    import pytest as _pytest

    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    # writer A begins: claims v_00001 (fresh claim, still uncommitted)
    ver_a = M._next_version(root)
    assert ver_a == "v_00001" and os.path.exists(M._claim_path(root, ver_a))
    # writer B races the same snapshot: typed conflict, fail-fast
    batch = spark.createDataFrame([(1, "b", 1)], "id long, name string, rev long")
    with _pytest.raises(M.CommitConflict, match="live writer holds claim"):
        upsert(spark, root, batch, key="id", order_col="rev")
    # A commits; B's clean retry recomputes against the ADVANCED snapshot
    a_rows = spark.createDataFrame([(2, "a", 1)], "id long, name string, rev long")
    a_rows.withColumn("__bucket", M._bucket_expr("id", 4)).write.mode(
        "overwrite"
    ).partitionBy("__bucket").parquet(os.path.join(root, ver_a))
    man = M._read_manifest(root, "v_00000")
    new_map = dict(man)
    new_map.update(M._written_buckets(root, ver_a))
    M._write_manifest(root, ver_a, new_map)
    M._flip(root, ver_a)
    assert not os.path.exists(M._claim_path(root, ver_a))  # claim released
    v2 = upsert(spark, root, batch, key="id", order_col="rev")
    assert v2 == "v_00002"
    got = {r.id: r.name for r in read_current(spark, root).filter(
        F.col("id").isin(1, 2)).collect()}
    assert got == {1: "b", 2: "a"}


def test_stale_claim_takeover(spark, tmp_path):
    """A crashed writer's claim (older than CLAIM_TTL_S) must not wedge the
    table: the next writer atomically takes the claim over, clears the dead
    writer's leftover dir, and commits."""
    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    claim = M._claim_path(root, "v_00001")
    with open(claim, "w") as fh:
        fh.write("{}")
    os.makedirs(os.path.join(root, "v_00001", "junk"))
    old = 10.0  # epoch 1970: way past any TTL
    os.utime(claim, (old, old))
    batch = spark.createDataFrame([(7, "takeover", 1)], "id long, name string, rev long")
    ver = upsert(spark, root, batch, key="id", order_col="rev")
    assert ver == "v_00001"
    assert not os.path.exists(claim)
    assert read_current(spark, root).filter(F.col("id") == 7).first().name == "takeover"


def test_snapshot_advance_detected_at_flip(spark, tmp_path):
    """Defense in depth: a flip whose target does not directly succeed the
    CURRENT pointer (snapshot advanced underneath) raises CommitConflict and
    discards the staged version instead of committing a lost update."""
    import pytest as _pytest

    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)  # current: v_00000
    os.makedirs(os.path.join(root, "v_00002"))
    with _pytest.raises(M.CommitConflict, match="snapshot advanced"):
        M._flip(root, "v_00002")
    assert current_version(root) == "v_00000"
    assert not os.path.isdir(os.path.join(root, "v_00002"))  # staged discarded


def test_commit_with_retry_concurrent_writers(spark, tmp_path):
    """Two genuinely concurrent writers under commit_with_retry: both
    mutations land (serialized by the claim; the loser re-runs against the
    winner's committed version), no lost update, version advances twice."""
    import threading

    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=4)
    errs = []

    def writer(lo, hi, tag):
        rows = [(i, f"{tag}{i}", 1) for i in range(lo, hi)]
        batch = spark.createDataFrame(rows, "id long, name string, rev long")
        try:
            M.commit_with_retry(
                lambda: upsert(spark, root, batch, key="id", order_col="rev"),
                max_retries=20,
                backoff_s=0.2,
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(0, 5, "w1_"))
    t2 = threading.Thread(target=writer, args=(50, 55, "w2_"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert current_version(root) == "v_00002"
    cur = read_current(spark, root)
    got = {r.id: r.name for r in cur.filter(F.col("id").isin(0, 4, 50, 54)).collect()}
    assert got == {0: "w1_0", 4: "w1_4", 50: "w2_50", 54: "w2_54"}
    assert cur.count() == 100  # upserts replaced, never duplicated


def test_first_upsert_creates_table_without_init(spark, tmp_path):
    """A mutator may be the table's FIRST writer (streaming sinks upsert
    into roots no init_table ever touched): the v0 claim must create the
    root rather than crash on a missing parent dir — the OCC-rework
    regression the sf0.1 full gate caught."""
    root = str(tmp_path / "fresh")
    updates = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    upsert(spark, root, updates, key="id")
    cur = read_current(spark, root)
    assert sorted((r.id, r.name) for r in cur.collect()) == [(1, "a"), (2, "b")]
    # and the claim was released: a second upsert commits v1 cleanly
    upsert(spark, root, spark.createDataFrame([(2, "b2")], "id long, name string"), key="id")
    assert {r.name for r in read_current(spark, root).filter("id = 2").collect()} == {"b2"}


# -- request job budgets, counted by job tag ------------------------------------


def test_read_point_is_one_job_through_schema_changes(spark, tmp_path, spark_jobs):
    """A point read runs only its read: the key's bucket hash folds on the
    driver and the scan passes the recorded schema (no footer-inference
    job).  So after a drop, an add and a rename too; the dropped column,
    which old files still carry, stays invisible and ``__bucket`` never
    surfaces."""
    from mongraph_spark.sources.merge import (
        add_column,
        drop_column,
        read_point,
        rename_column,
    )

    root = str(tmp_path / "tbl")
    init_table(
        spark.createDataFrame([(i, f"t{i}", 2 * i) for i in range(60)], "id long, txt string, n long"),
        root, key="id", n_buckets=4,
    )
    steps = [
        ("plain", lambda: None, {"id": 5, "txt": "t5", "n": 10}),
        ("drop", lambda: drop_column(root, "n"), {"id": 5, "txt": "t5"}),
        ("add", lambda: add_column(root, "extra", "string", "d"), {"id": 5, "txt": "t5", "extra": "d"}),
        ("rename", lambda: rename_column(root, "txt", "body"), {"id": 5, "body": "t5", "extra": "d"}),
    ]
    for name, change, want in steps:
        change()
        rows, jobs = spark_jobs(lambda: read_point(spark, root, 5).collect())
        assert [r.asDict() for r in rows] == [want], name
        assert len(jobs) == 1, (name, jobs)


def test_read_point_on_an_empty_bucket_runs_no_job(spark, tmp_path, spark_jobs):
    """A key whose bucket holds no file returns the recorded schema's empty
    frame, a local relation: no Spark job at all."""
    from mongraph_spark.sources.merge import read_point

    root = str(tmp_path / "tbl")
    init_table(_base(spark).limit(3), root, key="id", n_buckets=64)
    present = {d.split("=", 1)[1] for d in _bucket_dirs(root, current_version(root))}
    hashed = spark.range(100, 400).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(64)).alias("b")
    ).collect()
    key = next(r.id for r in hashed if str(r.b) not in present)
    rows, jobs = spark_jobs(lambda: read_point(spark, root, key).collect())
    assert rows == [] and jobs == []


def test_bucketed_upsert_job_budget(spark, tmp_path, spark_jobs):
    """A trickle upsert's base read passes the recorded schema: 6 jobs,
    one fewer than when the read inferred it from the footers."""
    root = str(tmp_path / "tbl")
    init_table(_base(spark), root, key="id", n_buckets=8)
    updates = spark.createDataFrame([(5, "x", 1), (500, "y", 1)], "id long, name string, rev long")
    _, jobs = spark_jobs(lambda: upsert(spark, root, updates, key="id"))
    assert len(jobs) <= 6, jobs
    got = {r.id: r.name for r in read_current(spark, root).filter(F.col("id").isin(5, 500)).collect()}
    assert got == {5: "x", 500: "y"}


def _small_table(spark, root):
    """16 rows over 4 buckets: the fixture the per-commit job pins and the
    rejection tests share."""
    init_table(
        spark.createDataFrame([(i, f"n{i}", 0) for i in range(16)], "id long, name string, rev long"),
        root, key="id", n_buckets=4,
    )


# Spark jobs per store request on the 16-row, 4-bucket fixture, counted by
# job tag and applied in this order on one table.
_STORE_JOBS = [
    ("upsert", 6),
    ("merge_into", 8),
    ("delete_where", 3),
    ("delete_where_dv", 1),
    ("compact", 3),
    ("add_column", 0),
    ("read_point", 1),
]



@pytest.mark.parametrize("occ", ["failfast", "rebase"])
def test_store_request_job_counts(spark, tmp_path, spark_jobs, occ):
    """Each commit and point read runs a fixed number of Spark jobs; the
    rebase mode computes the same rewrite, so it runs the same counts."""
    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    _small_table(spark, root)
    rows = "id long, name string, rev long"
    ops = {
        "upsert": lambda: M.upsert(
            spark, root, spark.createDataFrame([(3, "u", 1), (100, "new", 1)], rows),
            key="id", occ=occ,
        ),
        "merge_into": lambda: M.merge_into(
            spark, root, spark.createDataFrame([(4, "m", 2), (101, "ins", 2)], rows),
            when_matched_set={"name": "src_name"}, occ=occ,
        ),
        "delete_where": lambda: M.delete_where(spark, root, F.col("id") == 5, occ=occ),
        "compact": lambda: M.compact(spark, root, occ=occ),
        "read_point": lambda: M.read_point(spark, root, 7).collect(),
        "add_column": lambda: M.add_column(root, "extra", "long", 0),
        "delete_where_dv": lambda: M.delete_where_dv(spark, root, F.col("id") == 6),
    }
    got = [(op, len(spark_jobs(ops[op])[1])) for op, _ in _STORE_JOBS]
    assert got == _STORE_JOBS
    assert M.current_version(root) == "v_00006"
    ids = sorted(r.id for r in M.read_current(spark, root).collect())
    assert ids == sorted(set(range(16)) - {5, 6} | {100, 101})


@pytest.mark.parametrize("op", ["upsert", "merge_into", "delete_where", "compact"])
def test_unknown_occ_is_rejected(spark, tmp_path, op):
    """``occ`` is "failfast" or "rebase"; anything else raises before any
    claim or compute instead of silently meaning fail-fast."""
    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    _small_table(spark, root)
    batch = spark.createDataFrame([(3, "u", 1)], "id long, name string, rev long")
    call = {
        "upsert": lambda: M.upsert(spark, root, batch, key="id", occ="Rebase"),
        "merge_into": lambda: M.merge_into(spark, root, batch, occ="Rebase"),
        "delete_where": lambda: M.delete_where(spark, root, F.col("id") == 3, occ="Rebase"),
        "compact": lambda: M.compact(spark, root, occ="Rebase"),
    }[op]
    with pytest.raises(ValueError, match="occ"):
        call()
    assert M.current_version(root) == "v_00000"
    assert not [f for f in os.listdir(root) if f.endswith(".claim")]


def test_rejected_init_leaves_no_claim(spark, tmp_path):
    """An init_table that fails validation claims nothing: a corrected
    init on the same root commits v_00000."""
    from mongraph_spark.sources import merge as M

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, f"n{i}") for i in range(4)], "id long, name string")
    with pytest.raises(ValueError, match="row_tracking"):
        M.init_table(df, root, row_tracking=True)
    assert M.init_table(df, root, key="id", n_buckets=2, row_tracking=True) == "v_00000"
    assert M.read_current(spark, root).count() == 4


def test_only_commit_helpers_claim_and_flip():
    """Every version is claimed and flipped by the commit helpers, so each
    commit releases its claim on error in one place."""
    import ast
    import pathlib

    from mongraph_spark.sources import merge as M

    helpers = {"_claim_next", "_claim_first"}
    guarded = {"_next_version", "_claim_next", "_flip"}
    tree = ast.parse(pathlib.Path(M.__file__).read_text())
    offenders = [
        f"{fn.name}:{node.lineno}"
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name not in helpers
        for node in ast.walk(fn)
        if isinstance(node, ast.Name) and node.id in guarded
    ]
    assert offenders == []
