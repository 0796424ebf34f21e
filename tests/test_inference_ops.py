"""Known-value and edge-case pins for the statistical-inference sweep
(log-rank, Mood's median, Bartlett, Fisher exact, Bradley–Terry) —
complementing the oracle gate with hand-computable cohorts."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _subjects(spark, rows):
    return spark.createDataFrame(rows, "grp int, t long, observed int")


def test_logrank_identical_groups_z_zero(spark):
    from mongraph_spark.queries.inference import logrank_from_subjects

    # identical survival experience in both groups -> O1 == E1 exactly
    rows = []
    for g in (0, 1):
        rows += [(g, 1, 1), (g, 2, 1), (g, 3, 1), (g, 5, 0)]
    r = logrank_from_subjects(spark, _subjects(spark, rows)).collect()[0]
    assert r["o1"] == 3 and r["d_total"] == 6
    # per-t E1 = d_t * n1/nt = exactly half of d_t at every t
    assert r["e1_micro"] == 3_000_000
    assert abs(r["z"]) < 1e-6


def test_logrank_hand_computed_single_event(spark):
    from mongraph_spark.queries.inference import logrank_from_subjects

    # one event at t=1 in group 1; at-risk 2 vs 2 -> E1 = 0.5,
    # V = 1 * (2/4)(2/4)(4-1)/(4-1) = 0.25 -> z = (1-0.5)/0.5 = 1.0
    rows = [(1, 1, 1), (1, 9, 0), (0, 9, 0), (0, 9, 0)]
    r = logrank_from_subjects(spark, _subjects(spark, rows)).collect()[0]
    assert r["e1_micro"] == 500_000
    assert r["v_micro"] == 250_000
    assert abs(r["z"] - 1.0) < 1e-9
    assert r["chi2_ppm"] == 1_000_000


def test_logrank_censoring_reduces_at_risk(spark):
    from mongraph_spark.queries.inference import logrank_from_subjects

    # censor one group-0 subject BEFORE the t=2 event: at t=2 the ladder
    # must show 1 at risk in group 0, not 2 (censored-at-1 leaves after 1)
    rows = [(0, 1, 0), (0, 2, 1), (1, 2, 1), (1, 3, 0)]
    r = logrank_from_subjects(spark, _subjects(spark, rows)).collect()[0]
    # at t=2: d=2, n1=2, n0=1, nt=3 -> E1 = 2*2/3 = 4/3
    assert r["e1_micro"] == 1_333_333
    assert r["o1"] == 1 and r["d_total"] == 2


def test_fisher_tea_tasting_exact_p(spark):
    from mongraph_spark.queries.inference import fisher_from_counts

    # Fisher's lady-tasting-tea 2x2: n=8, r1=4, c1=4, n11=3
    # two-sided p = (16+1+16+1)/70 = 34/70 = 0.4857142857...
    counts = spark.createDataFrame(
        [(8, 4, 4, 3)], "n long, r1 long, c1 long, n11 long"
    )
    r = fisher_from_counts(counts).collect()[0]
    assert abs(r["p_two_sided"] - 34.0 / 70.0) < 1e-5
    assert r["p_ppm"] in (485713, 485714, 485715)  # nano-grid floor jitter


def test_fisher_extreme_table_small_p(spark):
    from mongraph_spark.queries.inference import fisher_from_counts

    # fully concentrated table: n=20, r1=10, c1=10, n11=10
    # p = pmf(10) + pmf(0) = 2/C(20,10) = 2/184756 = 1.0825e-5
    counts = spark.createDataFrame(
        [(20, 10, 10, 10)], "n long, r1 long, c1 long, n11 long"
    )
    r = fisher_from_counts(counts).collect()[0]
    assert abs(r["p_two_sided"] - 2.0 / 184756.0) < 1e-7
    assert r["p_ppm"] in (10, 11)


def test_fisher_independent_margins_p_near_one(spark):
    from mongraph_spark.queries.inference import fisher_from_counts

    # n11 at the mode -> every table is "as extreme" -> p = 1
    counts = spark.createDataFrame(
        [(100, 50, 50, 25)], "n long, r1 long, c1 long, n11 long"
    )
    r = fisher_from_counts(counts).collect()[0]
    assert r["p_ppm"] >= 999_990


def test_bradley_terry_two_player_ratio(spark):
    from mongraph_spark.queries.inference import bt_from_wins

    # a beats b 3-1: MM fixed point is s_a/s_b = 3 (75/25 after renorm);
    # 6 rounds from uniform land within a few ppm of the fixed point
    wins = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 1)], "winner string, loser string, w long"
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    rows = {r["event_type"]: r for r in bt_from_wins(wins).collect()}
    # the round loop frees every dead strength state: only the final one stays
    assert persisted().size() - before <= 1
    assert rows["a"]["rank"] == 1 and rows["b"]["rank"] == 2
    assert rows["a"]["wins"] == 3 and rows["a"]["n_duels"] == 4
    assert abs(rows["a"]["s_ppm"] - 750_000) < 2_000
    assert abs(rows["b"]["s_ppm"] - 250_000) < 2_000


def test_bradley_terry_symmetric_three_way(spark):
    from mongraph_spark.queries.inference import bt_from_wins

    # perfectly cyclic tournament -> uniform strengths survive every round
    wins = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 2), ("c", "a", 2)],
        "winner string, loser string, w long",
    )
    rows = {r["event_type"]: r for r in bt_from_wins(wins).collect()}
    for t in "abc":
        assert abs(rows[t]["s_ppm"] - 333_333) <= 1


def test_moods_median_counts_partition_n(spark):
    from mongraph_spark.queries.inference import stats_moods_median

    rows = stats_moods_median(spark, "/root/testdata/sf0.001").collect()
    n_total = rows[0]["n_total"]
    assert sum(r["n_hi"] + r["n_lo"] for r in rows) == n_total
    # lower-median rule: at most half the values are strictly above
    assert sum(r["n_hi"] for r in rows) * 2 <= n_total
    assert all(r["chi2_contrib_ppm"] >= 0 for r in rows)


def test_bartlett_statistic_nonnegative_and_c_above_one(spark):
    from mongraph_spark.queries.inference import stats_bartlett

    r = stats_bartlett(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["k"] == 5
    # M >= 0 by Jensen (ln of the pooled variance dominates); C > 1 always
    assert r["m_stat"] >= -1e-6
    assert r["c_factor"] > 1.0
    assert r["bartlett_ppm"] >= 0
    assert r["pooled_var_micro"] > 0


def test_logrank_query_end_to_end_counts(spark):
    from mongraph_spark.queries.inference import stats_logrank

    r = stats_logrank(spark, "/root/testdata/sf0.001").collect()[0]
    # every user is a subject exactly once
    assert r["n_click_first"] + r["n_other"] == 15
    assert r["o1"] <= r["d_total"] <= 15


def _hourly(spark, vals, typ="a"):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (typ, t0 + datetime.timedelta(hours=i), v) for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "event_type string, hour timestamp, y long")


def test_hurst_trending_vs_alternating(spark):
    from mongraph_spark.queries.inference import hurst_finish

    # perfectly trending series: R/S grows ~ linearly with m -> H near 1
    trend = hurst_finish(_hourly(spark, list(range(1, 129)))).collect()[0]
    assert trend["n_scales"] == 4
    assert trend["hurst_ppm"] > 900_000
    # strict alternation: maximally anti-persistent -> H near 0
    alt = hurst_finish(_hourly(spark, [0, 100] * 64)).collect()[0]
    assert alt["hurst_ppm"] < 300_000


def test_permutation_entropy_extremes(spark):
    from mongraph_spark.queries.inference import perm_entropy_finish

    # strictly increasing: ONE ordinal pattern -> entropy exactly 0
    inc = perm_entropy_finish(_hourly(spark, list(range(10)))).collect()[0]
    assert inc["n_patterns"] == 1
    assert inc["pe_micro"] == 0 and inc["pe_norm_ppm"] == 0
    # strict up/down alternation: exactly two patterns, each p = 1/2
    # -> pe = ln 2; per-term floor(0.5 ln 2 * 1e6) = 346573 twice
    alt = perm_entropy_finish(_hourly(spark, [0, 100] * 8)).collect()[0]
    assert alt["n_patterns"] == 2
    assert alt["pe_micro"] == 2 * 346573


def test_ccf_recovers_known_shift(spark):
    from mongraph_spark.queries.inference import ccf_finish

    # series b is series a delayed by 2 hours (quadratic, so only the
    # true alignment is a perfect linear match); a out-earns b so it is
    # type_a; the join pairs x(h) with y(h+lag) and y_b(h) = x(h-2),
    # so the peak sits at lag = +2 (y FOLLOWS x by two hours)
    xs = [t * t for t in range(1, 25)]
    a = _hourly(spark, [v * 10 for v in xs], typ="a")
    b = _hourly(spark, [0, 0] + [v for v in xs[:-2]], typ="b")
    r = {row["lag"]: row for row in ccf_finish(a.unionByName(b)).collect()}
    assert r[0]["type_a"] == "a" and r[0]["type_b"] == "b"
    best = max(r.values(), key=lambda row: (row["r_ppm"] or -10**9))
    assert best["lag"] == 2
    assert best["r_ppm"] >= 999_999


def test_theta_constant_series_flat_forecast(spark):
    import datetime

    from mongraph_spark.queries.inference import theta_finish

    t0 = datetime.date(2024, 1, 1)
    daily = spark.createDataFrame(
        [("a", t0 + datetime.timedelta(days=i), 5) for i in range(10)],
        "event_type string, day date, y long",
    )
    rows = theta_finish(daily).collect()
    assert len(rows) == 7
    for r in rows:
        # line fits exactly (a=5e6, b=0); Z == 5e6; SES stays 5e6;
        # combination stays 5e6 at every horizon
        assert r["ses_micro"] == 5_000_000
        assert r["linear_micro"] == 5_000_000
        assert r["forecast_micro"] == 5_000_000


def test_theta_linear_series_extrapolates(spark):
    import datetime

    from mongraph_spark.queries.inference import theta_finish

    t0 = datetime.date(2024, 1, 1)
    daily = spark.createDataFrame(
        [("a", t0 + datetime.timedelta(days=i), 100 * (i + 1)) for i in range(10)],
        "event_type string, day date, y long",
    )
    rows = {r["h"]: r for r in theta_finish(daily).collect()}
    # exact line y = 100t: a = 0, b = 100e6 -> linear leg continues it;
    # SES of Z (= the line value at t) converges to ~ramp-end minus one
    # step (alpha = 1/2 geometric tail); the combination is EXACTLY the
    # floor-half of (ses + linear) — the method's defining identity
    for h in range(1, 8):
        assert abs(rows[h]["linear_micro"] - 100_000_000 * (10 + h)) <= 200
        assert (
            rows[h]["forecast_micro"]
            == (rows[h]["ses_micro"] + rows[h]["linear_micro"]) // 2
        )
    # SES lags the final ramp value (1e9) by about one slope step
    assert 890_000_000 <= rows[1]["ses_micro"] <= 1_000_000_000


def test_binseg_step_series_exact_split(spark):
    from mongraph_spark.queries.inference import binseg_finish

    df = _hourly(spark, [0] * 10 + [100] * 10).select("hour", "y")
    rows = {(r["depth"], r["seg_lo"]): r for r in binseg_finish(df).collect()}
    top = rows[(1, 1)]
    # S=1000, n=20: gain = 1000^2/10 - 1000^2/20 = 50000 cents^2
    assert top["split_t"] == 10
    assert top["n_left"] == 10 and top["n_right"] == 10
    assert top["gain_cents2"] == 50_000
    # constant halves: zero gain everywhere, smallest-t tiebreak
    left = rows[(2, 1)]
    assert left["split_t"] == 1 and left["gain_cents2"] == 0
    right = rows[(2, 11)]
    assert right["split_t"] == 11 and right["gain_cents2"] == 0


def test_srp_identical_vectors_top_pair(spark):
    from mongraph_spark.queries.inference import srp_from_embeddings

    # vec 1 == vec 2 exactly; vec 3 is orthogonal-ish noise
    base = [float(i % 7 - 3) for i in range(64)]
    other = [float((i * 13) % 11 - 5) for i in range(64)]
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, other)],
        "vec_id long, embedding array<float>",
    )
    rows = srp_from_embeddings(spark, emb).collect()
    top = rows[0]
    # identical vectors share every band and have cosine exactly 1
    assert (top["vec_a"], top["vec_b"]) == (1, 2)
    assert top["n_shared_bands"] == 4
    assert top["cos_ppm"] in (999_999, 1_000_000)


def test_golden_record_hand_cluster(spark):
    from mongraph_spark.queries.inference import golden_from_blocked

    rows = [
        # one entity: three names within edit distance 4 of each other
        ("b1|widget", 10, "acme green widget", 3, "small", 100),
        ("b1|widget", 11, "acme greex widget", 5, "small", 250),
        ("b1|widget", 12, "acme greef widgex", 4, "large", 180),
        # a far-away name in the same block: stays a singleton (dropped)
        ("b1|widget", 13, "zzz totally different", 9, "large", 999),
        # another block entirely
        ("b2|gear", 20, "bolt gear", 1, "tiny", 50),
    ]
    blocked = spark.createDataFrame(
        rows,
        "block_key string, key long, name string, psize long,"
        " ptype string, price_cents long",
    )
    out = golden_from_blocked(blocked).collect()
    assert len(out) == 1
    g = out[0]
    assert g["entity_id"] == 10 and g["n_members"] == 3
    assert g["canonical_name"] == "acme green widget"  # name of min key
    assert g["max_price_cents"] == 250 and g["max_size"] == 5
    assert g["n_types"] == 2


def test_golden_record_chain_converges(spark):
    from mongraph_spark.queries.inference import golden_from_blocked

    # a CHAIN a-b-c-d-e (each adjacent pair within distance, ends far
    # apart) must still collapse to one entity via label propagation
    names = ["aaaaaa", "aaaabb", "aabbbb", "bbbbbb", "bbbbcc"]
    rows = [("blk|x", 100 + i, nm, 1, "t", 10) for i, nm in enumerate(names)]
    blocked = spark.createDataFrame(
        rows,
        "block_key string, key long, name string, psize long,"
        " ptype string, price_cents long",
    )
    out = golden_from_blocked(blocked).collect()
    assert len(out) == 1
    assert out[0]["entity_id"] == 100 and out[0]["n_members"] == 5


def test_golden_record_long_chain_converges(spark):
    # diameter-10 chain (the ADVICE r10 failure mode: a fixed 6-round
    # budget under-converges a >6-hop chain and splits one entity) —
    # pointer doubling must collapse it in <= ceil(log2(10)) + 1 rounds
    from mongraph_spark.queries.inference import (
        GOLDEN_CC_MAX_ROUNDS,
        golden_from_blocked,
    )

    base = list("aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")  # 40 chars
    names = []
    for i in range(41):  # name_i flips the first i chars; lev = |i - j|
        nm = base.copy()
        for j in range(i):
            nm[j] = "b"
        names.append("".join(nm))
    rows = [("blk|x", 100 + i, nm, 1, "t", 10) for i, nm in enumerate(names)]
    blocked = spark.createDataFrame(
        rows,
        "block_key string, key long, name string, psize long,"
        " ptype string, price_cents long",
    )
    golden, rounds = golden_from_blocked(blocked, with_rounds=True)
    out = golden.collect()
    # edges only where |i-j| <= 4 -> diameter ceil(40/4) = 10 hops
    assert len(out) == 1
    assert out[0]["entity_id"] == 100 and out[0]["n_members"] == 41
    # pointer doubling: O(log D) rounds, comfortably under the cap
    assert rounds <= GOLDEN_CC_MAX_ROUNDS


def test_kl_drift_identical_halves_zero(spark):
    from mongraph_spark.queries.inference import kl_from_grouped_tokens

    toks = [("a", w) for w in "x y z x y x".split()] + [
        ("b", w) for w in "x y z x y x".split()
    ]
    tok = spark.createDataFrame(toks, "grp string, token string")
    r = kl_from_grouped_tokens(tok).collect()[0]
    # identical distributions: every ln ratio is ln(1) = 0 exactly
    assert r["kl_ab_micro"] == 0 and r["kl_ba_micro"] == 0
    assert r["js_micro"] == 0
    assert r["vocab"] == 3 and r["n_tok_a"] == 6 and r["n_tok_b"] == 6


def test_kl_drift_hand_computed(spark):
    import math

    from mongraph_spark.queries.inference import kl_from_grouped_tokens

    # A = {x:3, y:1}, B = {x:1, y:3}; V=2, na=nb=4
    toks = [("a", w) for w in "x x x y".split()] + [
        ("b", w) for w in "x y y y".split()
    ]
    tok = spark.createDataFrame(toks, "grp string, token string")
    r = kl_from_grouped_tokens(tok).collect()[0]
    # smoothed p_x=4/6, p_y=2/6; q_x=2/6, q_y=4/6
    exp_kl = math.floor(1e6 * (4 / 6) * math.log(2)) + math.floor(
        1e6 * (2 / 6) * math.log(0.5)
    )
    assert r["kl_ab_micro"] == exp_kl
    assert r["kl_ab_micro"] == r["kl_ba_micro"]  # symmetric construction
    # JS bounded by ln 2
    assert 0 <= r["js_micro"] <= 693_148


def test_jarque_bera_symmetric_zero_skew(spark):
    # algebra pin mirroring the op's exact central-moment numerators:
    # symmetric data -> num3 == 0 -> skew exactly 0
    xs = [1, 2, 3]
    n = len(xs)
    s1, s2, s3 = sum(xs), sum(v * v for v in xs), sum(v**3 for v in xs)
    num3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1**3
    assert num3 == 0
    # and the end-to-end op returns one row per type with finite stats
    from mongraph_spark.queries.inference import stats_jarque_bera

    rows = stats_jarque_bera(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    assert all(r["jb_ppm"] >= 0 for r in rows)


def test_ljung_box_trend_vs_alternation(spark):
    from mongraph_spark.queries.inference import ljung_box_finish

    # a strong trend has massive positive autocorrelation at every lag
    trend = ljung_box_finish(_hourly(spark, list(range(1, 41)))).collect()[0]
    assert trend["k_lags"] == 12
    # white-noise-ish critical value chi2(12, .95) = 21.03 -> q_micro 21e6
    assert trend["q_micro"] > 21_030_000
    # strict alternation also fails whiteness (r_1 near -1) — the test is
    # two-sided in r, so Q is large here too
    alt = ljung_box_finish(_hourly(spark, [0, 100] * 20)).collect()[0]
    assert alt["q_micro"] > 21_030_000


def test_cohens_d_pooled_sd_algebra(spark):
    # identical groups -> d = 0 exactly (algebra pin on the micro grid)
    n1 = n2 = 4
    sx1 = sx2 = 10
    assert (sx1 * n2 - sx2 * n1) == 0
    from mongraph_spark.queries.inference import stats_cohens_d

    r = stats_cohens_d(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n1"] > 0 and r["n2"] > 0
    # |g| < |d| always (the correction shrinks toward 0) unless d == 0
    if r["d_ppm"] != 0:
        assert abs(r["g_ppm"]) <= abs(r["d_ppm"])
