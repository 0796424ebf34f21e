"""Round-9 third sweep: CHECK constraints on the CoW store (Delta's
ALTER TABLE ADD CONSTRAINT / InvariantViolationException surface) and the
RESTORE driver query's invariants.

Reference parity: the reference trusts Mongoose schema validation on save
(src/mongraphMongoosePlugin.coffee:10-26); CHECK constraints are the
warehouse form — a declared invariant enforced on every write batch
before any file stages."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from mongraph_spark.sources import merge as M


def _tbl(spark, tmp_path, name="t"):
    root = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"n{i}", 10 * i) for i in range(8)], "id long, s string, v long"
    )
    M.init_table(df, root, key="id", n_buckets=4)
    return root


def _no_claims(root):
    return not [f for f in os.listdir(root) if f.endswith(".claim")]


def test_check_constraint_lifecycle(spark, tmp_path):
    """Add → enforce on upsert and merge → NULL passes (SQL three-valued
    CHECK) → alter rejected by existing data → drop re-opens the gate."""
    root = _tbl(spark, tmp_path)
    M.add_check_constraint(spark, root, "v_nonneg", "v >= 0")
    assert M.describe(root)["constraints"] == {"v_nonneg": "v >= 0"}
    # the ALTER committed as an auditable version
    assert M._read_commit(root, "v_00001")["op"] == "add_constraint"

    M.upsert(spark, root, spark.createDataFrame([(8, "x", 1)], "id long, s string, v long"), key="id")
    with pytest.raises(M.ConstraintViolation) as exc:
        M.upsert(spark, root, spark.createDataFrame([(9, "y", -1)], "id long, s string, v long"), key="id")
    assert exc.value.constraint == "v_nonneg"
    # NULL predicate passes — CHECK only rejects on FALSE
    M.upsert(spark, root, spark.createDataFrame([(10, "z", None)], "id long, s string, v long"), key="id")
    with pytest.raises(M.ConstraintViolation):
        M.merge_into(
            spark,
            root,
            spark.createDataFrame([(1, "n1", 0)], "id long, s string, v long"),
            when_matched_set={"v": "v - 999"},
        )
    # ALTER validates existing data first and records nothing on failure
    with pytest.raises(M.ConstraintViolation):
        M.add_check_constraint(spark, root, "v_big", "v > 1000")
    assert "v_big" not in M.describe(root)["constraints"]

    M.drop_check_constraint(root, "v_nonneg")
    assert M.describe(root)["constraints"] == {}
    M.upsert(spark, root, spark.createDataFrame([(9, "y", -1)], "id long, s string, v long"), key="id")
    got = {r.id: r.v for r in M.read_current(spark, root).collect()}
    assert got[9] == -1 and got[10] is None and got[1] == 10
    assert _no_claims(root)


def test_check_constraint_survives_schema_and_layout_commits(spark, tmp_path):
    """add_column / drop_column / compact / rebucket all carry the
    constraint set through their staged metas — a layout or schema commit
    must never silently drop the table's CHECK rules."""
    root = _tbl(spark, tmp_path)
    M.add_check_constraint(spark, root, "v_nonneg", "v >= 0")
    M.add_column(root, "w", "long", 7)
    assert M.describe(root)["constraints"] == {"v_nonneg": "v >= 0"}
    M.drop_column(root, "w")
    assert M.describe(root)["constraints"] == {"v_nonneg": "v >= 0"}
    M.compact(spark, root)
    assert M.describe(root)["constraints"] == {"v_nonneg": "v >= 0"}
    M.rebucket(spark, root, 8)
    assert M.describe(root)["constraints"] == {"v_nonneg": "v >= 0"}
    with pytest.raises(M.ConstraintViolation):
        M.upsert(spark, root, spark.createDataFrame([(9, "y", -1)], "id long, s string, v long"), key="id")


def test_rejected_merge_releases_claim_immediately(spark, tmp_path):
    """merge_into's fail-fast path claims BEFORE the constraint check and
    before its update expressions resolve; a rejected merge must release
    that claim so the very next writer commits instead of waiting out
    CLAIM_TTL_S."""
    root = _tbl(spark, tmp_path)
    M.add_check_constraint(spark, root, "v_nonneg", "v >= 0")
    with pytest.raises(M.ConstraintViolation):
        M.merge_into(
            spark,
            root,
            spark.createDataFrame([(1, "n1", 0)], "id long, s string, v long"),
            when_matched_set={"v": "-5"},
        )
    assert _no_claims(root)
    # immediate follow-up write succeeds without a conflict/wait
    ver = M.upsert(spark, root, spark.createDataFrame([(8, "x", 1)], "id long, s string, v long"), key="id")
    assert ver == "v_00002"
    # an update expression that does not resolve fails after the claim too
    with pytest.raises(AnalysisException):
        M.merge_into(
            spark,
            root,
            spark.createDataFrame([(1, "n1", 0)], "id long, s string, v long"),
            when_matched_set={"s": "no_such_col"},
        )
    assert _no_claims(root)
    ver = M.upsert(spark, root, spark.createDataFrame([(9, "y", 1)], "id long, s string, v long"), key="id")
    assert ver == "v_00003"


def test_add_constraint_conflicts_inflight_rebase(spark, tmp_path):
    """A rebase writer whose files were validated under the OLD rule set
    must not commit across an intervening add_constraint: the commit is
    whole-table scoped (classify) AND bumps the meta fingerprint — the
    staged rows may violate the new rule."""
    root = _tbl(spark, tmp_path)
    snap = M.current_version(root)
    fp_before = M._meta_fingerprint(M._read_meta(root))
    M.add_check_constraint(spark, root, "v_nonneg", "v >= 0")
    fp_after = M._meta_fingerprint(M._read_meta(root))
    assert fp_before != fp_after
    reason = M._classify_conflict(root, snap, M.current_version(root), {"0"})
    assert reason is not None and "add_constraint" in reason


def test_constraint_on_empty_table_and_validation_scan(spark, tmp_path):
    """Constraints can be declared before the first commit; the existing-
    data validation scan accepts a table whose rows all satisfy the rule
    and enforces from the very first write."""
    root = str(tmp_path / "empty")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "a", 5)], "id long, s string, v long")
    M.init_table(df.limit(0), root, key="id", n_buckets=4)
    M.add_check_constraint(spark, root, "v_nonneg", "v >= 0")
    with pytest.raises(M.ConstraintViolation):
        M.upsert(spark, root, df.withColumn("v", F.lit(-1)), key="id")
    M.upsert(spark, root, df, key="id")
    assert M.read_current(spark, root).count() == 1


def test_store_restore_query_invariants(spark):
    """The registered RESTORE query's own assertions, run at smoke SF:
    doc 2 resurrected, history intact, manifest identity (zero copy)."""
    from mongraph_spark.queries.quality import store_restore

    rows = store_restore(spark, "/root/testdata/sf0.001").collect()
    assert rows, "query returned nothing"
    for r in rows:
        assert r.final_version == 4
        assert r.doc2_rows_at_bad_v2 == 0
        assert r.manifest_identical == 1


def _events_df(spark, rows):
    """rows: (event_id, ts_str, user_id, event_type, value)"""
    return spark.createDataFrame(
        [(i, ts, u, t, v, None) for (i, ts, u, t, v) in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_welch_ttest_python_replay(spark, tmp_path):
    """Crafted two-arm series; python IEEE doubles replay the exact t and
    Satterthwaite df the query floors onto the ppm/milli grids (same op
    order — the cross-engine exactness argument, pinned in-process)."""
    import math

    from mongraph_spark.queries.events import stats_welch_ttest

    a = [100.0, 120.0, 90.0, 115.0]   # even user_ids
    b = [80.0, 70.0, 95.0]            # odd user_ids
    rows = [
        (i, f"2024-01-0{i+1} 00:00:00", 2 * i, "click", v)
        for i, v in enumerate(a)
    ] + [
        (10 + i, f"2024-01-1{i} 00:00:00", 2 * i + 1, "click", v)
        for i, v in enumerate(b)
    ]
    _events_df(spark, rows).write.parquet(str(tmp_path / "events.parquet"))
    got = stats_welch_ttest(spark, str(tmp_path)).collect()[0]

    ca = [round(v * 100) for v in a]
    cb = [round(v * 100) for v in b]
    na, nb = float(len(ca)), float(len(cb))
    ma = float(sum(ca)) / na
    mb = float(sum(cb)) / nb
    va = (float(sum(x * x for x in ca)) - na * ma * ma) / (na - 1.0)
    vb = (float(sum(x * x for x in cb)) - nb * mb * mb) / (nb - 1.0)
    se2a, se2b = va / na, vb / nb
    se2 = se2a + se2b
    t = (ma - mb) / math.sqrt(se2)
    df = se2 * se2 / (se2a * se2a / (na - 1.0) + se2b * se2b / (nb - 1.0))
    assert got.n_a == 4 and got.n_b == 3
    assert got.mean_diff_millicents == math.floor(1000.0 * (ma - mb))
    assert got.t_stat_ppm == math.floor(1000000.0 * t)
    assert got.welch_df_milli == math.floor(1000.0 * df)
    # Welch df lands strictly between min(n)-1 and n_a+n_b-2
    assert (min(na, nb) - 1) * 1000 <= got.welch_df_milli <= (na + nb - 2) * 1000


def test_streaming_welch_equals_batch(spark):
    """Twin equality at smoke SF: the stream's moment state + shared
    finisher reproduce the batch rows exactly."""
    from mongraph_spark.queries.events import stats_welch_ttest
    from mongraph_spark.streaming.events import streaming_welch_ttest

    sf = "/root/testdata/sf0.001"
    batch = {r.event_type: r.asDict() for r in stats_welch_ttest(spark, sf).collect()}
    stream = {r.event_type: r.asDict() for r in streaming_welch_ttest(spark, sf).collect()}
    assert batch == stream


def test_lttb_downsample_invariants_and_argmax(spark, tmp_path):
    """Planted hourly series: endpoints always kept, one point per bucket,
    and the picked interior point maximizes the EXACT integer triangle
    area against the fixed neighbor-average anchors (python replay with
    arbitrary-precision ints)."""
    from mongraph_spark.queries.events import events_lttb_downsample

    # 16 hourly points, values chosen so each bucket has a clear spike
    vals = [10, 11, 50, 12, 13, 60, 14, 15, 70, 16, 17, 80, 18, 19, 90, 20]
    rows = [
        (i, f"2024-01-01 {i:02d}:30:00", i, "click", float(v))
        for i, v in enumerate(vals)
    ]
    _events_df(spark, rows).write.parquet(str(tmp_path / "events.parquet"))
    out = events_lttb_downsample(spark, str(tmp_path)).collect()
    m = len(vals)
    beff = min(12, m - 2)
    slots = sorted(r.slot for r in out)
    assert slots == list(range(-1, beff + 1))  # endpoints + one per bucket
    by_slot = {r.slot: r for r in out}
    assert by_slot[-1].y_cents == 1000 and by_slot[beff].y_cents == 2000

    # python replay of the fixed-anchor argmax on exact ints
    pts = [(i, v * 100) for i, v in enumerate(vals)]  # (hour idx, cents)
    buckets = {-1: [pts[0]], beff: [pts[-1]]}
    for rn in range(2, m):  # 1-based interior rn in [2, m-1]
        b = (rn - 2) * beff // (m - 2)
        buckets.setdefault(b, []).append(pts[rn - 1])
    for b in range(beff):
        np_, sxp, syp = (
            len(buckets[b - 1]),
            sum(x for x, _ in buckets[b - 1]),
            sum(y for _, y in buckets[b - 1]),
        )
        nn, sxn, syn = (
            len(buckets[b + 1]),
            sum(x for x, _ in buckets[b + 1]),
            sum(y for _, y in buckets[b + 1]),
        )
        best = max(
            buckets[b],
            key=lambda p: (
                abs(
                    (sxp * nn - sxn * np_) * (p[1] * np_ - syp)
                    - (sxp - p[0] * np_) * (syn * np_ - syp * nn)
                ),
                -p[0],
            ),
        )
        assert by_slot[b].y_cents == best[1], f"bucket {b}"


def test_streaming_lttb_equals_batch(spark):
    """Twin equality at smoke SF: the stream's hourly rollup state +
    shared lttb_finish reproduce the batch decimation exactly."""
    from mongraph_spark.queries.events import events_lttb_downsample
    from mongraph_spark.streaming.events import streaming_lttb_downsample

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r.event_type, r.slot)  # noqa: E731
    batch = {key(r): r.asDict() for r in events_lttb_downsample(spark, sf).collect()}
    stream = {key(r): r.asDict() for r in streaming_lttb_downsample(spark, sf).collect()}
    assert batch == stream


def test_generated_column_lifecycle(spark, tmp_path):
    """GENERATED ALWAYS AS: read-side evaluation for pre-add files,
    write-side compute/validate, merge re-derivation, SET refusal, and
    physical materialization when a bucket is rewritten."""
    root = str(tmp_path / "gen")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    M.init_table(df, root, key="id", n_buckets=4)
    M.add_generated_column(spark, root, "v2", "long", "v * 2 + 7")
    assert M._read_commit(root, "v_00001")["op"] == "add_generated"
    # pre-add files evaluate the expression at read
    got = {r.id: r.v2 for r in M.read_current(spark, root).collect()}
    assert got == {1: 27, 2: 47, 3: 67}
    # omitted at write -> computed; carried correct -> validated ok
    M.upsert(spark, root, spark.createDataFrame([(4, "d", 40)], "id long, s string, v long"), key="id")
    M.upsert(spark, root, spark.createDataFrame([(5, "e", 50, 107)], "id long, s string, v long, v2 long"), key="id")
    # carried wrong -> rejected before staging
    with pytest.raises(M.ConstraintViolation) as exc:
        M.upsert(spark, root, spark.createDataFrame([(6, "f", 60, 999)], "id long, s string, v long, v2 long"), key="id")
    assert exc.value.constraint == "generated:v2"
    # merge updates re-derive from POST-update base values
    M.merge_into(
        spark,
        root,
        spark.createDataFrame([(1, "a", 10)], "id long, s string, v long"),
        when_matched_set={"v": "v + 100"},
    )
    got = {r.id: (r.v, r.v2) for r in M.read_current(spark, root).collect()}
    assert got[1] == (110, 227) and got[4] == (40, 87) and got[5] == (50, 107)
    # SET of a generated column refused BEFORE the claim (no wedge)
    with pytest.raises(ValueError):
        M.merge_into(
            spark,
            root,
            spark.createDataFrame([(1, "a", 10)], "id long, s string, v long"),
            when_matched_set={"v2": "1"},
        )
    assert _no_claims(root)
    # unresolvable expression fails fast, records nothing
    with pytest.raises(Exception):
        M.add_generated_column(spark, root, "bad", "long", "nope + 1")
    assert "bad" not in [c["name"] for c in M.describe(root)["added_columns"]]


def test_generated_column_materializes_on_rewrite(spark, tmp_path):
    """Any bucket rewrite (upsert absorbing the bucket, or compaction of a
    fragmented bucket) physically materializes the generated column via
    the _read_paths fill — the new files read correctly WITHOUT the fill
    (they are at a version >= added_in, so readers assume physical)."""
    root = str(tmp_path / "genmat")
    df = spark.createDataFrame(
        [(i, f"s{i}", 10 * i) for i in range(12)], "id long, s string, v long"
    )
    # fragment the buckets so compact has work to do
    M.init_table(df.repartition(6), root, key="id", n_buckets=2)
    M.add_generated_column(spark, root, "v2", "long", "v * 2 + 7")
    M.compact(spark, root)
    cur = M.current_version(root)
    paths = [
        str(tmp_path / "genmat" / rel)
        for rel in M._read_manifest(root, cur).values()
    ]
    raw = spark.read.parquet(*paths)  # NO fill applied: physical bytes only
    assert "v2" in raw.columns
    got = {r.id: r.v2 for r in raw.collect()}
    assert got == {i: 10 * i * 2 + 7 for i in range(12)}


def test_brown_forsythe_python_replay(spark, tmp_path):
    """Crafted arms with distinct spreads; python replays the lower
    medians (exact order statistics) and the W finisher in the same IEEE
    op order."""
    import math

    from mongraph_spark.queries.events import stats_brown_forsythe

    a = [10.0, 20.0, 30.0, 40.0]   # even user_ids, median(lower) = 20
    b = [24.0, 25.0, 26.0]         # odd user_ids, median = 25 (tight arm)
    rows = [
        (i, f"2024-01-0{i+1} 00:00:00", 2 * i, "click", v)
        for i, v in enumerate(a)
    ] + [
        (10 + i, f"2024-01-1{i} 00:00:00", 2 * i + 1, "click", v)
        for i, v in enumerate(b)
    ]
    _events_df(spark, rows).write.parquet(str(tmp_path / "events.parquet"))
    got = stats_brown_forsythe(spark, str(tmp_path)).collect()[0]
    assert got.med_a_cents == 2000 and got.med_b_cents == 2500

    ca, cb = [round(v * 100) for v in a], [round(v * 100) for v in b]
    za = [abs(c - 2000) for c in ca]
    zb_ = [abs(c - 2500) for c in cb]
    na, nb = float(len(za)), float(len(zb_))
    zba = float(sum(za)) / na
    zbb = float(sum(zb_)) / nb
    zb = float(sum(za) + sum(zb_)) / (na + nb)
    between = na * (zba - zb) * (zba - zb) + nb * (zbb - zb) * (zbb - zb)
    within = (float(sum(x * x for x in za)) - na * zba * zba) + (
        float(sum(x * x for x in zb_)) - nb * zbb * zbb
    )
    w = ((na + nb) - 2.0) * between / within
    assert got.bf_w_ppm == math.floor(1000000.0 * w)
    assert w > 1.0  # the spreads genuinely differ in this fixture


def test_new_ops_plans_stay_partitioned(spark):
    """Plan pins for the third-sweep ops: every window shuffles on its
    series/group key — no Exchange SinglePartition anywhere (the one
    operator shape that cannot survive a 100x scale-up)."""
    from mongraph_spark.queries.events import (
        events_lttb_downsample,
        stats_brown_forsythe,
        stats_welch_ttest,
    )
    from mongraph_spark.queries.pipeline import pipeline_tokenizer_fertility

    sf = "/root/testdata/sf0.001"
    for fn in (
        events_lttb_downsample,
        stats_brown_forsythe,
        stats_welch_ttest,
        pipeline_tokenizer_fertility,
    ):
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
