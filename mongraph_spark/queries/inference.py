"""Statistical-inference sweep (round 10 continuation): survival
comparison, k-sample location/scale tests, exact contingency tests, and
pairwise-preference fitting — the hypothesis-test families the stats
battery still lacked.

Same contract as every other suite module: ``QUERIES`` maps names to
``(spark, sf_dir) -> DataFrame`` callables, ``ORACLES`` to DuckDB SQL
over the pre-registered parquet views.  Exactness discipline (the
battery's): every data-dependent aggregate is an exact integer /
DECIMAL(38) rational; IEEE doubles appear only in per-row or
ordered-window finishers whose expression trees are written identically
for both engines (ln/exp/sqrt are libm-identical here — the
Kaplan–Meier / bigram-xent precedent); float SUMS are never compared
raw — every per-row float summand is FLOORED to an explicit integer
grid (micro/nano) before summing, so the totals are exact integer sums
with no accumulation-order sensitivity at all (DuckDB's windowed float
sum is a segment tree — pairwise order — so even an "ordered" running
float sum diverges from Spark's sequential one at the last ulp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongraph_spark import pregel
from mongraph_spark.sparkutil import (
    const_part,
    lineage_cut,
    maybe_broadcast,
    read_table,
    scratch_dir,
)

# -- log-rank test ----------------------------------------------------------------


def stats_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test — does arriving via a CLICK change the
    time-to-first-purchase curve?  The hypothesis-test companion to
    ``events_kaplan_meier`` (KM estimates ONE survival curve; log-rank
    COMPARES two): subjects are users, the event is the FIRST purchase,
    t is measured in hours from the user's first activity, users who
    never purchase are right-censored at the observation end, and the
    group is whether the user's first-ever event was a click.

    At each distinct event time t (union grid over both groups) with
    d_t total events, n_1t / n_t at risk:  E_1 = Σ d_t·n_1t/n_t,
    V = Σ d_t·(n_1t/n_t)·(n_0t/n_t)·(n_t−d_t)/(n_t−1), and
    z = (O_1 − E_1)/√V,  χ² = z².

    Exactness: d/n/O are exact integers from two user-keyed
    aggregations; each per-t E/V summand is floored to the micro grid
    (an exact integer from an engine-identical per-row IEEE expression)
    so E₁ and V are exact integer sums — order-free — and z/χ² are IEEE
    finishers over those integers.

    Scale shape: ONE user-keyed aggregation (the retention shuffle)
    builds the subjects; everything after runs on the bounded
    |distinct t| grid (≤ observation hours) — per-group at-risk ladders
    are DESC window cumsums on that grid, never a raw-event pass."""
    ev = read_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer MICROSECOND epochs on both sides (unix_timestamp would
    # truncate to seconds while DuckDB's epoch() keeps the fraction —
    # boundary subjects would land in different hours)
    per_user = (
        ev.withColumn("first_type", F.first("event_type").over(w_first))
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("t0"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_micros(F.col("ts").cast("timestamp")),
                )
            ).alias("t_purchase"),
            F.first(
                F.when(F.col("first_type") == "click", 1).otherwise(0)
            ).alias("grp"),
        )
    )
    horizon = ev.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("t_end"))
    subj = per_user.crossJoin(F.broadcast(horizon)).select(
        "grp",
        F.when(
            F.col("t_purchase").isNotNull(),
            F.expr("(t_purchase - t0) div 3600000000"),
        )
        .otherwise(F.expr("(t_end - t0) div 3600000000"))
        .cast("long")
        .alias("t"),
        F.col("t_purchase").isNotNull().cast("int").alias("observed"),
    )
    return logrank_from_subjects(spark, subj)


def logrank_from_subjects(spark: SparkSession, subj: DataFrame) -> DataFrame:
    """The test over a (grp∈{0,1}, t, observed) subjects frame — factored
    so known-value pins can feed hand-built cohorts."""
    steps = subj.groupBy("grp", "t").agg(
        F.sum("observed").cast("long").alias("d"),
        F.sum(1 - F.col("observed")).cast("long").alias("c"),
    )
    grid = subj.select("t").distinct()
    both = grid.crossJoin(
        F.broadcast(spark.range(2).select(F.col("id").cast("int").alias("grp")))
    )
    ladder = (
        both.join(steps, ["grp", "t"], "left")
        .fillna(0, ["d", "c"])
        .withColumn(
            "n_at_risk",
            F.sum(F.col("d") + F.col("c")).over(
                Window.partitionBy("grp").orderBy(F.desc("t"))
            ),
        )
    )
    per_t = ladder.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_at_risk")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d0"),
        F.sum(F.when(F.col("grp") == 0, F.col("n_at_risk")).otherwise(0))
        .cast("long")
        .alias("n0"),
    )
    terms = per_t.filter(F.col("d1") + F.col("d0") > 0).select(
        "t",
        "d1",
        (F.col("d1") + F.col("d0")).alias("dt"),
        (F.col("n1") + F.col("n0")).alias("nt"),
        "n1",
        "n0",
    )
    # each per-t summand is floored to the micro grid BEFORE summing, so the
    # totals are exact integer sums — order-free (no global ordered window,
    # no engine-specific float accumulation order; DuckDB's windowed float
    # sum is a segment tree, so a raw running sum would differ at the ulp).
    # The 10^6·dt(·n1) products are built in DECIMAL(38,0) (HUGEINT in the
    # oracle) before the cast to DOUBLE: a raw BIGINT product wraps silently
    # in Spark (ANSI off) while DuckDB errors — the engines would diverge
    # instead of both failing at scale.
    e_term = F.floor(
        (F.lit(1_000_000).cast("decimal(38,0)") * F.col("dt") * F.col("n1"))
        .cast("double")
        / F.col("nt")
    ).cast("long")
    v_term = F.when(
        F.col("nt") > 1,
        F.floor(
            (F.lit(1_000_000).cast("decimal(38,0)") * F.col("dt")).cast("double")
            * (F.col("n1") / F.col("nt"))
            * (F.col("n0") / F.col("nt"))
            * (F.col("nt") - F.col("dt"))
            / (F.col("nt") - 1)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    tail = terms.groupBy().agg(
        F.sum(e_term).cast("long").alias("e1_micro_s"),
        F.sum(v_term).cast("long").alias("v_micro_s"),
        F.sum("d1").cast("long").alias("o1"),
        F.sum("dt").cast("long").alias("d_total"),
    )
    counts = subj.groupBy().agg(
        F.sum("grp").cast("long").alias("n_click_first"),
        F.sum(1 - F.col("grp")).cast("long").alias("n_other"),
    )
    # z/chi2 come FROM the integer micro grid — exact inputs, so the IEEE
    # finisher is engine-identical by construction
    return tail.crossJoin(F.broadcast(counts)).selectExpr(
        "n_click_first",
        "n_other",
        "o1",
        "d_total",
        "e1_micro_s AS e1_micro",
        "v_micro_s AS v_micro",
        "CASE WHEN v_micro_s > 0 THEN"
        " CAST(o1 * 1000000 - e1_micro_s AS DOUBLE)"
        " / (1000.0 * SQRT(CAST(v_micro_s AS DOUBLE))) END AS z",
        "CASE WHEN v_micro_s > 0 THEN CAST(FLOOR("
        " (CAST(o1 * 1000000 - e1_micro_s AS DOUBLE)"
        "  * CAST(o1 * 1000000 - e1_micro_s AS DOUBLE))"
        " / CAST(v_micro_s AS DOUBLE)) AS BIGINT) END AS chi2_ppm",
    )


ORACLE_LOGRANK = """
WITH ranked AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
per_user AS (
  SELECT user_id,
         min(epoch_us(ts)) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase,
         max(CASE WHEN rn = 1 AND event_type = 'click' THEN 1 ELSE 0 END) AS grp
  FROM ranked GROUP BY user_id
),
horizon AS (SELECT max(epoch_us(ts)) AS t_end FROM events),
subj AS (
  SELECT grp,
         CASE WHEN t_purchase IS NOT NULL
              THEN CAST((t_purchase - t0) // 3600000000 AS BIGINT)
              ELSE CAST((t_end - t0) // 3600000000 AS BIGINT) END AS t,
         CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM per_user CROSS JOIN horizon
),
steps AS (
  SELECT grp, t, CAST(sum(observed) AS BIGINT) AS d,
         CAST(sum(1 - observed) AS BIGINT) AS c
  FROM subj GROUP BY 1, 2
),
grid AS (SELECT DISTINCT t FROM subj),
bothg AS (SELECT t, g.grp FROM grid CROSS JOIN (VALUES (0), (1)) g(grp)),
ladder AS (
  SELECT b.t, b.grp, coalesce(s.d, 0) AS d,
         sum(coalesce(s.d, 0) + coalesce(s.c, 0))
           OVER (PARTITION BY b.grp ORDER BY b.t DESC) AS n_at_risk
  FROM bothg b LEFT JOIN steps s ON b.grp = s.grp AND b.t = s.t
),
per_t AS (
  SELECT t,
         CAST(sum(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN grp = 1 THEN n_at_risk ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN grp = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
         CAST(sum(CASE WHEN grp = 0 THEN n_at_risk ELSE 0 END) AS BIGINT) AS n0
  FROM ladder GROUP BY t
),
terms AS (
  SELECT t, d1, d1 + d0 AS dt, n1 + n0 AS nt, n1, n0
  FROM per_t WHERE d1 + d0 > 0
),
tail AS (
  SELECT
    CAST(sum(CAST(FLOOR(CAST(CAST(1000000 AS HUGEINT) * dt * n1 AS DOUBLE)
         / nt) AS BIGINT)) AS BIGINT) AS e1_micro_s,
    CAST(sum(CASE WHEN nt > 1 THEN
          CAST(FLOOR(CAST(CAST(1000000 AS HUGEINT) * dt AS DOUBLE)
               * (n1 / CAST(nt AS DOUBLE))
               * (n0 / CAST(nt AS DOUBLE)) * (nt - dt) / (nt - 1)) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS v_micro_s,
    CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(dt) AS BIGINT) AS d_total
  FROM terms
),
counts AS (
  SELECT CAST(sum(grp) AS BIGINT) AS n_click_first,
         CAST(sum(1 - grp) AS BIGINT) AS n_other
  FROM subj
)
SELECT n_click_first, n_other, o1, d_total,
       e1_micro_s AS e1_micro,
       v_micro_s AS v_micro,
       CASE WHEN v_micro_s > 0 THEN
         CAST(o1 * 1000000 - e1_micro_s AS DOUBLE)
         / (1000.0 * SQRT(CAST(v_micro_s AS DOUBLE))) END AS z,
       CASE WHEN v_micro_s > 0 THEN CAST(FLOOR(
         (CAST(o1 * 1000000 - e1_micro_s AS DOUBLE)
          * CAST(o1 * 1000000 - e1_micro_s AS DOUBLE))
         / CAST(v_micro_s AS DOUBLE)) AS BIGINT) END AS chi2_ppm
FROM tail CROSS JOIN counts
"""


# -- Mood's median test -----------------------------------------------------------


def stats_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test — are the k event types' value distributions
    centered on the SAME median?  The median-based k-sample location
    test (more outlier-robust than Kruskal–Wallis' rank sums, the
    battery's other k-sample test): count each type's observations
    above vs at-or-below the GRAND median and score the 2×k table.

    Exactness: the grand median is the exact UPPER median — the
    smallest cents value whose cumulative count reaches ⌈(N+1)/2⌉
    (the filter is cum·2 ≥ N+1, i.e. cum ≥ N/2+1 for even N; both
    engines apply the identical rule, computed on the bounded value
    histogram); all cell counts and margins are exact
    integers; each type's χ² contribution is a per-row IEEE expression
    over those integers, floored to ppm.

    Scale shape: one value-histogram aggregation (map-side combined),
    an ordered window over the bounded distinct-cents histogram for the
    median, then one per-(type) aggregation with the 1-row median
    broadcast into the scan."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hist = ev.select(cents.alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_ord = (
        Window.partitionBy(const_part(F.col("v")))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(const_part(F.col("v")))
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w_ord))
        .withColumn("n_total", F.sum("cnt").over(w_all))
        .filter(F.col("cum") * 2 >= F.col("n_total") + 1)
        .groupBy()
        .agg(
            F.min("v").alias("median_cents"),
            F.max("n_total").cast("long").alias("n_total"),
        )
    )
    per_type = (
        ev.select("event_type", cents.alias("x"))
        .crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("x") > F.col("median_cents")).cast("int"))
            .cast("long")
            .alias("n_hi"),
            F.sum((F.col("x") <= F.col("median_cents")).cast("int"))
            .cast("long")
            .alias("n_lo"),
            F.max("median_cents").alias("median_cents"),
            F.max("n_total").alias("n_total"),
        )
    )
    w_tot = Window.partitionBy(const_part(F.col("event_type")))
    return (
        per_type.withColumn("hi_total", F.sum("n_hi").over(w_tot))
        .withColumn("lo_total", F.sum("n_lo").over(w_tot))
        .selectExpr(
            "event_type",
            "n_hi",
            "n_lo",
            "median_cents",
            "n_total",
            "CAST(FLOOR(1000000 * ("
            " (CAST(n_hi AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * hi_total / n_total)"
            " * (CAST(n_hi AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * hi_total / n_total)"
            " / (CAST(n_hi + n_lo AS DOUBLE) * hi_total / n_total)"
            " + (CAST(n_lo AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * lo_total / n_total)"
            " * (CAST(n_lo AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * lo_total / n_total)"
            " / (CAST(n_hi + n_lo AS DOUBLE) * lo_total / n_total)"
            ")) AS BIGINT) AS chi2_contrib_ppm",
        )
    )


ORACLE_MOODS_MEDIAN = """
WITH vals AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x FROM events
),
hist AS (SELECT x AS v, count(*) AS cnt FROM vals GROUP BY x),
med AS (
  SELECT min(v) AS median_cents, CAST(max(n_total) AS BIGINT) AS n_total
  FROM (
    SELECT v,
           sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
           sum(cnt) OVER () AS n_total
    FROM hist
  ) WHERE cum * 2 >= n_total + 1
),
per_type AS (
  SELECT event_type,
         CAST(sum(CASE WHEN x > median_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         CAST(sum(CASE WHEN x <= median_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
         max(median_cents) AS median_cents,
         max(n_total) AS n_total
  FROM vals CROSS JOIN med
  GROUP BY event_type
),
tot AS (
  SELECT *, sum(n_hi) OVER () AS hi_total, sum(n_lo) OVER () AS lo_total
  FROM per_type
)
SELECT event_type, n_hi, n_lo, median_cents, n_total,
       CAST(FLOOR(1000000 * (
         (CAST(n_hi AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * hi_total / n_total)
         * (CAST(n_hi AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * hi_total / n_total)
         / (CAST(n_hi + n_lo AS DOUBLE) * hi_total / n_total)
         + (CAST(n_lo AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * lo_total / n_total)
         * (CAST(n_lo AS DOUBLE) - CAST(n_hi + n_lo AS DOUBLE) * lo_total / n_total)
         / (CAST(n_hi + n_lo AS DOUBLE) * lo_total / n_total)
       )) AS BIGINT) AS chi2_contrib_ppm
FROM tot
ORDER BY event_type
"""


# -- Bartlett's test --------------------------------------------------------------


def stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for variance homogeneity across the k event
    types — the NORMAL-theory scale test complementing the battery's
    Brown–Forsythe (which is robust but less powerful under normality):
    M = (N−k)·ln(S_p²) − Σ (n_i−1)·ln(S_i²), corrected by
    C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)).

    Exactness: per-type n, Σx, Σx² are exact integers (cents,
    DECIMAL(38)); each S_i² enters as the exact rational
    (n_i·Q_i − S_i²)/(n_i(n_i−1)) whose ln is computed as
    ln(num) − ln(den) from the exact integers and floored per type to
    the micro grid; the pooled SSE is carried on the same micro grid
    ((10⁶·num_i) div n_i) and 1/(n_i−1) on a pico grid — so every
    cross-type sum is an exact integer sum, order-free.

    Scale shape: ONE map-side-combined per-type moment aggregation over
    the raw scan; every subsequent row count is k (the type count)."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    mom = ev.select("event_type", cents.alias("x")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    per = mom.selectExpr(
        "event_type",
        "n",
        "CAST(n AS DECIMAL(38,0)) * q - s * s AS ssq_num",  # n(n-1) s_i^2
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * q - s * s))"
        " div CAST(n AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS sse_micro",
        # degenerate-group guards (single-row type → n-1 = 0 divisor;
        # constant-valued type → ln(0)): both terms contribute 0 rather
        # than NULL-in-Spark / error-in-DuckDB — the same explicit-guard
        # discipline as the Fisher step term and log-rank's nt > 1
        "CASE WHEN n > 1 THEN CAST(1000000000000 AS BIGINT) div (n - 1)"
        " ELSE CAST(0 AS BIGINT) END AS inv_pico",
        # (n_i - 1) * ln(s_i^2), floored per type to the micro grid so the
        # cross-type sum is an exact integer sum (order-free)
        "CASE WHEN n > 1 AND CAST(n AS DECIMAL(38,0)) * q - s * s > 0 THEN"
        " CAST(FLOOR(1000000 * CAST(n - 1 AS DOUBLE)"
        " * (LN(CAST(CAST(n AS DECIMAL(38,0)) * q - s * s AS DOUBLE))"
        "    - LN(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS ln_term_micro",
    )
    agg = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("sse_micro").alias("sse_micro_total"),
        F.sum("inv_pico").cast("long").alias("inv_pico_sum"),
        F.sum("ln_term_micro").cast("long").alias("ln_sum_micro"),
    )
    return agg.selectExpr(
        "k",
        "n_total",
        "CAST(sse_micro_total div CAST(n_total - k AS DECIMAL(38,0)) AS BIGINT)"
        " AS pooled_var_micro",
        # M = (N-k) ln(Sp^2) - sum terms, everything on the micro grid
        "CAST(n_total - k AS DOUBLE)"
        " * (LN(CAST(sse_micro_total div CAST(n_total - k AS DECIMAL(38,0)) AS DOUBLE))"
        "    - LN(1000000.0)) - CAST(ln_sum_micro AS DOUBLE) / 1e6 AS m_stat",
        "1.0 + (CAST(inv_pico_sum AS DOUBLE) / 1e12"
        " - 1.0 / CAST(n_total - k AS DOUBLE)) / (3.0 * CAST(k - 1 AS DOUBLE))"
        " AS c_factor",
        "CAST(FLOOR(1000000 *"
        " ((CAST(n_total - k AS DOUBLE)"
        "   * (LN(CAST(sse_micro_total div CAST(n_total - k AS DECIMAL(38,0)) AS DOUBLE))"
        "      - LN(1000000.0)) - CAST(ln_sum_micro AS DOUBLE) / 1e6)"
        "  / (1.0 + (CAST(inv_pico_sum AS DOUBLE) / 1e12"
        "     - 1.0 / CAST(n_total - k AS DOUBLE)) / (3.0 * CAST(k - 1 AS DOUBLE))))"
        " ) AS BIGINT) AS bartlett_ppm",
    )


ORACLE_BARTLETT = """
WITH mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS q
  FROM events GROUP BY event_type
),
per AS (
  SELECT event_type, n,
         CAST(n AS HUGEINT) * q - s * s AS ssq_num,
         (CAST(1000000 AS HUGEINT) * (CAST(n AS HUGEINT) * q - s * s))
           // CAST(n AS HUGEINT) AS sse_micro,
         CASE WHEN n > 1 THEN CAST(1000000000000 // (n - 1) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS inv_pico,
         CASE WHEN n > 1 AND CAST(n AS HUGEINT) * q - s * s > 0 THEN
           CAST(FLOOR(1000000 * CAST(n - 1 AS DOUBLE)
             * (LN(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE))
                - LN(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS ln_term_micro
  FROM mom
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
         sum(sse_micro) AS sse_micro_total,
         CAST(sum(inv_pico) AS BIGINT) AS inv_pico_sum,
         CAST(sum(ln_term_micro) AS BIGINT) AS ln_sum_micro
  FROM per
)
SELECT k, n_total,
       CAST(sse_micro_total // CAST(n_total - k AS HUGEINT) AS BIGINT)
         AS pooled_var_micro,
       CAST(n_total - k AS DOUBLE)
         * (LN(CAST(sse_micro_total // CAST(n_total - k AS HUGEINT) AS DOUBLE))
            - LN(1000000.0)) - CAST(ln_sum_micro AS DOUBLE) / 1e6 AS m_stat,
       1.0 + (CAST(inv_pico_sum AS DOUBLE) / 1e12
         - 1.0 / CAST(n_total - k AS DOUBLE)) / (3.0 * CAST(k - 1 AS DOUBLE))
         AS c_factor,
       CAST(FLOOR(1000000 *
         ((CAST(n_total - k AS DOUBLE)
           * (LN(CAST(sse_micro_total // CAST(n_total - k AS HUGEINT) AS DOUBLE))
              - LN(1000000.0)) - CAST(ln_sum_micro AS DOUBLE) / 1e6)
          / (1.0 + (CAST(inv_pico_sum AS DOUBLE) / 1e12
             - 1.0 / CAST(n_total - k AS DOUBLE)) / (3.0 * CAST(k - 1 AS DOUBLE))))
       ) AS BIGINT) AS bartlett_ppm
FROM agg
"""


# -- Fisher's exact test ----------------------------------------------------------

FISHER_LONG_CHARS = 300  # "long document" cut for the 2x2


def stats_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the 2×2 of (lang = 'en') × (n_chars ≥
    {FISHER_LONG_CHARS}) over documents — the small-count-safe
    alternative to the battery's χ² independence test (χ²'s normal
    approximation fails when expected cells are small; Fisher conditions
    on the margins and sums the exact hypergeometric tail).

    Two-sided p: with margins (r1, c1, n) fixed, the table is determined
    by k = n11 ∈ [max(0, r1+c1−n), min(r1, c1)];
    p = Σ_{k: pmf(k) ≤ pmf(n11)} pmf(k).  The pmf is evaluated in log
    space RELATIVE to the first feasible k via the exact recurrence
    pmf(k+1)/pmf(k) = (r1−k)(c1−k) / ((k+1)(n−r1−c1+k+1)) — every ratio
    is a ratio of exact integers, each log-step is floored to the micro
    grid so the prefix ladder is an exact INTEGER window cumsum, and
    the normalizing constant cancels in the final ratio, so no factorial
    is ever materialized.  Each floored step loses < 1 micro, so the tie
    rule admits anything within (kmax−kmin) micro of the observed
    log-pmf — the provable drift bound — keeping exact hypergeometric
    ties (opposite tail, maximal drift) included.

    Scale shape: one scan-sized 4-counter aggregation; the k-grid is
    min(r1, c1)+1 rows — bounded by the smaller margin, never by n."""
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("lang") == "en").cast("int")).cast("long").alias("r1"),
        F.sum((F.col("n_chars") >= FISHER_LONG_CHARS).cast("int"))
        .cast("long")
        .alias("c1"),
        F.sum(
            (
                (F.col("lang") == "en")
                & (F.col("n_chars") >= FISHER_LONG_CHARS)
            ).cast("int")
        )
        .cast("long")
        .alias("n11"),
    )
    return fisher_from_counts(counts)


def fisher_from_counts(counts_in: DataFrame) -> DataFrame:
    """The exact test over a 1-row (n, r1, c1, n11) margins frame —
    factored so known-value pins (e.g. the tea-tasting 4/4/3 table) can
    feed hand counts."""
    counts = counts_in.withColumn(
        "kmin", F.greatest(F.lit(0).cast("long"), F.col("r1") + F.col("c1") - F.col("n"))
    ).withColumn("kmax", F.least(F.col("r1"), F.col("c1")))
    grid = counts.select(
        "n", "r1", "c1", "n11", "kmin", "kmax",
        F.explode(F.sequence(F.col("kmin"), F.col("kmax"))).alias("k"),
    )
    # step(k) feeds L(k+1) only, so it is never NEEDED at k = kmax — but it
    # must not be EVALUATED there either (ln(0): Spark yields NULL, DuckDB
    # raises), so both sides guard it identically
    step = F.when(
        F.col("k") < F.col("kmax"),
        F.log((F.col("r1") - F.col("k")) * (F.col("c1") - F.col("k")))
        - F.log(
            (F.col("k") + 1)
            * (F.col("n") - F.col("r1") - F.col("c1") + F.col("k") + 1)
        ),
    ).cast("double")
    # the log-pmf ladder lives on an exact integer micro grid: each step is
    # floored per row (engine-identical IEEE from exact integers), then the
    # running sum is an INTEGER window cumsum — exact under any internal
    # summation order (DuckDB's windowed float sum is a segment tree, so a
    # raw float cumsum would diverge at the ulp)
    w_prev = (
        Window.partitionBy(const_part(F.col("k")))
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(const_part(F.col("k")))
    lev = (
        grid.withColumn(
            "stp_micro", F.floor(F.lit(1_000_000) * step).cast("long")
        )
        .withColumn(
            "lw_micro",
            F.coalesce(F.sum("stp_micro").over(w_prev), F.lit(0)).cast("long"),
        )
        .withColumn("lmax_micro", F.max("lw_micro").over(w_all))
        .withColumn(
            "lobs_micro",
            F.max(
                F.when(F.col("k") == F.col("n11"), F.col("lw_micro"))
            ).over(w_all),
        )
    )
    # weights on a nano grid (exp ≤ 1 by construction); each floored step
    # loses < 1 micro, so a ladder value drifts below its true log-pmf by
    # < (kmax − kmin) micro total — the tie slack is exactly that bound, so
    # exact hypergeometric ties (opposite tail, maximal drift) stay included
    weighted = lev.withColumn(
        "wgt_nano",
        F.floor(
            F.lit(1_000_000_000.0)
            * F.exp(
                (F.col("lw_micro") - F.col("lmax_micro")).cast("double") / 1e6
            )
        ).cast("long"),
    ).withColumn(
        "inc_nano",
        F.when(
            F.col("lw_micro")
            <= F.col("lobs_micro") + (F.col("kmax") - F.col("kmin")),
            F.col("wgt_nano"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return weighted.groupBy().agg(
        F.max("n").alias("n_docs"),
        F.max("r1").alias("n_en"),
        F.max("c1").alias("n_long"),
        F.max("n11").alias("n11"),
        F.sum("inc_nano").cast("long").alias("num_nano"),
        F.sum("wgt_nano").cast("long").alias("den_nano"),
    ).selectExpr(
        "n_docs",
        "n_en",
        "n_long",
        "n11",
        "CAST(num_nano AS DOUBLE) / CAST(den_nano AS DOUBLE) AS p_two_sided",
        "CAST((1000000 * num_nano) div den_nano AS BIGINT) AS p_ppm",
    )


ORACLE_FISHER = f"""
WITH counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         CAST(sum(CASE WHEN n_chars >= {FISHER_LONG_CHARS} THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN lang = 'en' AND n_chars >= {FISHER_LONG_CHARS}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n11
  FROM documents
),
bounds AS (
  SELECT *, greatest(CAST(0 AS BIGINT), r1 + c1 - n) AS kmin,
         least(r1, c1) AS kmax
  FROM counts
),
grid AS (
  SELECT b.*, CAST(unnest(generate_series(b.kmin, b.kmax)) AS BIGINT) AS k
  FROM bounds b
),
lev AS (
  SELECT *,
         CAST(coalesce(sum(CAST(FLOOR(1000000 * (CASE WHEN k < kmax THEN
                      LN(CAST((r1 - k) * (c1 - k) AS DOUBLE))
                      - LN(CAST((k + 1) * (n - r1 - c1 + k + 1) AS DOUBLE)) END))
                      AS BIGINT))
           OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS lw_micro
  FROM grid
),
lev2 AS (
  SELECT *, max(lw_micro) OVER () AS lmax_micro,
         max(CASE WHEN k = n11 THEN lw_micro END) OVER () AS lobs_micro
  FROM lev
),
weighted AS (
  SELECT *,
         CAST(FLOOR(1000000000.0
              * exp(CAST(lw_micro - lmax_micro AS DOUBLE) / 1e6)) AS BIGINT)
           AS wgt_nano,
         CASE WHEN lw_micro <= lobs_micro + (kmax - kmin) THEN
           CAST(FLOOR(1000000000.0
                * exp(CAST(lw_micro - lmax_micro AS DOUBLE) / 1e6)) AS BIGINT)
         ELSE 0 END AS inc_nano
  FROM lev2
)
SELECT max(n) AS n_docs, max(r1) AS n_en, max(c1) AS n_long, max(n11) AS n11,
       CAST(sum(inc_nano) AS DOUBLE) / CAST(sum(wgt_nano) AS DOUBLE)
         AS p_two_sided,
       CAST((1000000 * CAST(sum(inc_nano) AS BIGINT))
            // CAST(sum(wgt_nano) AS BIGINT) AS BIGINT) AS p_ppm
FROM weighted
"""


# -- Bradley-Terry pairwise preference --------------------------------------------

BT_ROUNDS = 6


def stats_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference-strength fitting over pairwise
    comparisons — the batch workhorse behind RLHF reward-model data
    audits (win matrices from preference pairs) and ranking-from-duels
    generally.  Comparisons are derived deterministically: within each
    (user, day), for every unordered pair of event types both present
    with UNEQUAL daily cents, the higher-cents type wins.

    The MM iteration (Hunter 2004, public) runs {BT_ROUNDS} rounds from
    uniform strengths:  s_i ← W_i / Σ_j n_ij/(s_i + s_j),  renormalized
    to Σ s = 1 each round.  Every round lives on an exact ppm integer
    grid (the repo's grid-renorm idiom, shared with
    pagerank/eigenvector): the inverse sum accumulates (n_ij·10¹²) div
    (s_i + s_j) exactly, the raw update is (W_i·10¹²) div that, and the
    renormalization is (raw·10⁶) div Σraw — so every state is an exact
    integer and the DuckDB oracle replays the identical rounds as
    unrolled CTEs.

    Scale shape: the comparison matrix build is the only scan-sized
    work (user-day rollup shuffle, then a bounded per-user-day type×type
    self-join — ≤ k² rows per user-day); the iteration runs on k(k−1)
    matrix rows with a 1-row total broadcast per round."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    ud = ev.groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(F.sum(cents).alias("y"))
    a = ud.select("user_id", "day", F.col("event_type").alias("ta"), F.col("y").alias("ya"))
    b = ud.select("user_id", "day", F.col("event_type").alias("tb"), F.col("y").alias("yb"))
    duels = a.join(b, ["user_id", "day"]).filter(F.col("ta") < F.col("tb")).filter(
        F.col("ya") != F.col("yb")
    )
    wins = duels.select(
        F.when(F.col("ya") > F.col("yb"), F.col("ta")).otherwise(F.col("tb")).alias("winner"),
        F.when(F.col("ya") > F.col("yb"), F.col("tb")).otherwise(F.col("ta")).alias("loser"),
    ).groupBy("winner", "loser").agg(F.count(F.lit(1)).cast("long").alias("w"))
    return bt_from_wins(wins)


def bt_from_wins(wins: DataFrame) -> DataFrame:
    """The MM fitting over a (winner, loser, w) duel matrix — factored so
    known-value pins can feed hand-built tournaments."""
    # symmetric comparison counts n_ij (i != j), plus per-type win totals
    n_ij = (
        wins.select(F.col("winner").alias("i"), F.col("loser").alias("j"), "w")
        .unionByName(
            wins.select(
                F.col("loser").alias("i"), F.col("winner").alias("j"), "w"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("w").cast("long").alias("n_ij"))
    )
    w_i = wins.groupBy(F.col("winner").alias("i")).agg(
        F.sum("w").cast("long").alias("wins")
    )
    types = n_ij.select(F.col("i").alias("event_type")).distinct()

    def mm_round(s: DataFrame) -> DataFrame:
        si = s.select(F.col("event_type").alias("i"), F.col("s_ppm").alias("si"))
        sj = s.select(F.col("event_type").alias("j"), F.col("s_ppm").alias("sj"))
        inv = (
            n_ij.join(si, "i")
            .join(sj, "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr(
                        "(CAST(n_ij AS DECIMAL(38,0)) * 1000000000000)"
                        " div CAST(si + sj AS DECIMAL(38,0))"
                    )
                ).alias("inv_sum")
            )
        )
        raw = inv.join(w_i, "i", "left").select(
            F.col("i").alias("event_type"),
            F.expr(
                "CASE WHEN inv_sum > 0 THEN"
                " (CAST(coalesce(wins, 0) AS DECIMAL(38,0)) * 1000000000000)"
                " div inv_sum ELSE CAST(0 AS DECIMAL(38,0)) END"
            ).alias("raw"),
        )
        total = raw.groupBy().agg(F.sum("raw").alias("tot"))
        # k-row state: collapse to ONE partition before materializing so the
        # per-round checkpoint writes 1 block, not |shuffle.partitions| files
        return (
            raw.crossJoin(F.broadcast(total))
            .selectExpr(
                "event_type",
                "CAST((raw * 1000000) div tot AS BIGINT) AS s_ppm",
            )
            .coalesce(1)
        )

    s, _ = pregel.iterate(
        types.withColumn("s_ppm", F.lit(1_000_000).cast("long")),
        mm_round,
        max_rounds=BT_ROUNDS,
    )
    w_rank = Window.partitionBy(const_part(F.col("event_type"))).orderBy(
        F.desc("s_ppm"), "event_type"
    )
    totals = n_ij.groupBy("i").agg(F.sum("n_ij").cast("long").alias("n_comparisons"))
    out = (
        s.join(totals, s.event_type == totals.i)
        .drop("i")
        .join(w_i.withColumnRenamed("i", "event_type"), "event_type", "left")
        .fillna(0, ["wins"])
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        # Σ_j n_ij already counts each duel involving i exactly once
        .select("event_type", "wins", F.col("n_comparisons").alias("n_duels"), "s_ppm", "rank")
    )
    return out


def _oracle_bradley_terry() -> str:
    rounds = []
    prev = "r0"
    for t in range(1, BT_ROUNDS + 1):
        rounds.append(f"""
inv{t} AS MATERIALIZED (
  SELECT m.i,
         sum((CAST(m.n_ij AS HUGEINT) * 1000000000000)
             // CAST(si.s_ppm + sj.s_ppm AS HUGEINT)) AS inv_sum
  FROM n_ij m
  JOIN {prev} si ON m.i = si.event_type
  JOIN {prev} sj ON m.j = sj.event_type
  GROUP BY m.i
),
raw{t} AS MATERIALIZED (
  SELECT i.i AS event_type,
         CASE WHEN i.inv_sum > 0 THEN
           (CAST(coalesce(w.wins, 0) AS HUGEINT) * 1000000000000) // i.inv_sum
         ELSE CAST(0 AS HUGEINT) END AS raw
  FROM inv{t} i LEFT JOIN w_i w ON i.i = w.i
),
r{t} AS MATERIALIZED (
  SELECT event_type,
         CAST((raw * 1000000) // (SELECT sum(raw) FROM raw{t}) AS BIGINT) AS s_ppm
  FROM raw{t}
)""".strip())
        prev = f"r{t}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH ud AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2, 3
),
duels AS (
  SELECT a.user_id, a.day,
         CASE WHEN a.y > b.y THEN a.event_type ELSE b.event_type END AS winner,
         CASE WHEN a.y > b.y THEN b.event_type ELSE a.event_type END AS loser
  FROM ud a JOIN ud b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  WHERE a.y <> b.y
),
wins AS (
  SELECT winner, loser, CAST(count(*) AS BIGINT) AS w
  FROM duels GROUP BY 1, 2
),
n_ij AS MATERIALIZED (
  SELECT i, j, CAST(sum(w) AS BIGINT) AS n_ij FROM (
    SELECT winner AS i, loser AS j, w FROM wins
    UNION ALL
    SELECT loser AS i, winner AS j, w FROM wins
  ) GROUP BY 1, 2
),
w_i AS MATERIALIZED (SELECT winner AS i, CAST(sum(w) AS BIGINT) AS wins FROM wins GROUP BY 1),
r0 AS MATERIALIZED (
  SELECT DISTINCT i AS event_type, CAST(1000000 AS BIGINT) AS s_ppm FROM n_ij
),
{rounds_sql},
totals AS (
  SELECT i, CAST(sum(n_ij) AS BIGINT) AS n_comparisons FROM n_ij GROUP BY i
)
SELECT s.event_type, CAST(coalesce(w.wins, 0) AS BIGINT) AS wins,
       CAST(t.n_comparisons AS BIGINT) AS n_duels, s.s_ppm,
       CAST(row_number() OVER (ORDER BY s.s_ppm DESC, s.event_type) AS INT) AS rank
FROM r{BT_ROUNDS} s
JOIN totals t ON s.event_type = t.i
LEFT JOIN w_i w ON s.event_type = w.i
ORDER BY s.event_type
"""


# -- Hurst exponent (rescaled-range analysis) -------------------------------------

HURST_SCALES = (8, 16, 32, 64)


def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per event type via R/S (rescaled-range) analysis —
    the long-memory diagnostic the time-series battery lacked (ACF sees
    fixed lags; Hurst summarizes ALL lags: H≈0.5 random walk, H>0.5
    persistent/trending, H<0.5 mean-reverting).  For each scale m the
    hourly cents series is cut into full m-hour blocks; each block's
    rescaled range is (max−min of the centered prefix sums)/σ; H is the
    log-log slope of the mean R/S against m.

    Exactness: within-block prefix deviations are kept integer by
    scaling by m (m·P_rel − rel·S_b); R/S is a per-block IEEE expression
    over exact integers floored to the micro grid; block means are exact
    integer divisions; the final slope is an exact integer least-squares
    over the ≤4 micro-floored (ln m, ln R/S) points.

    Scale shape: one hourly rollup, then all windows are partitioned by
    (type, scale, block) — thousands of bounded blocks in parallel, no
    global window, no raw-event second pass."""
    hourly = _hourly_cents(spark, sf_dir)
    return hurst_finish(hourly)


def _hourly_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))


def hurst_finish(hourly: DataFrame) -> DataFrame:
    """R/S analysis over a (event_type, hour, y) rollup — shared verbatim
    by the streaming twin (whose state is exactly this rollup)."""
    w_t = Window.partitionBy("event_type").orderBy("hour")
    w_n = Window.partitionBy("event_type")
    pts = hourly.withColumn("t", F.row_number().over(w_t)).withColumn(
        "n", F.count(F.lit(1)).over(w_n)
    )
    scales = F.explode(
        F.array(*[F.lit(m) for m in HURST_SCALES])
    ).alias("m")
    blk = (
        pts.select("event_type", "t", "n", "y", scales)
        .filter((F.col("t") - 1) / F.col("m") < F.floor(F.col("n") / F.col("m")))
        .withColumn("block", ((F.col("t") - 1) / F.col("m")).cast("long"))
    )
    w_blk = Window.partitionBy("event_type", "m", "block")
    w_blk_ord = w_blk.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev = (
        blk.withColumn("p_rel", F.sum("y").over(w_blk_ord))
        .withColumn("rel", F.row_number().over(w_blk.orderBy("t")))
        .withColumn("s_b", F.sum("y").over(w_blk))
        .withColumn(
            "cum_scaled", F.col("m") * F.col("p_rel") - F.col("rel") * F.col("s_b")
        )
    )
    per_block = dev.groupBy("event_type", "m", "block").agg(
        (F.max("cum_scaled") - F.min("cum_scaled")).cast("long").alias("r_scaled"),
        F.max("s_b").cast("decimal(38,0)").alias("s_b"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("q_b"),
    )
    rs = per_block.selectExpr(
        "event_type",
        "m",
        "CAST(m AS DECIMAL(38,0)) * q_b - s_b * s_b AS var_num",
        "r_scaled",
    ).filter("var_num > 0").selectExpr(
        "event_type",
        "m",
        "CAST(FLOOR(1000000 * CAST(r_scaled AS DOUBLE)"
        " / SQRT(CAST(var_num AS DOUBLE))) AS BIGINT) AS rs_micro",
    )
    per_scale = rs.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("rs_micro").cast("long").alias("rs_sum"),
    ).selectExpr(
        "event_type",
        "m",
        "rs_sum div n_blocks AS rs_mean_micro",
    ).filter("rs_mean_micro > 0")
    xy = per_scale.selectExpr(
        "event_type",
        "CAST(FLOOR(1000000 * LN(CAST(m AS DOUBLE))) AS BIGINT) AS x",
        "CAST(FLOOR(1000000 * (LN(CAST(rs_mean_micro AS DOUBLE))"
        " - LN(1000000.0))) AS BIGINT) AS y",
    )
    n_hours = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours")
    )
    reg = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scales"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return reg.join(n_hours, "event_type").selectExpr(
        "event_type",
        "n_hours",
        "n_scales",
        "CASE WHEN n_scales >= 2"
        " AND n_scales * sxx - sx * sx > 0 THEN"
        " CASE WHEN n_scales * sxy - sx * sy >= 0 THEN"
        "  CAST((1000000 * (n_scales * sxy - sx * sy))"
        "       div (n_scales * sxx - sx * sx) AS BIGINT)"
        " ELSE"
        "  -CAST((1000000 * (sx * sy - n_scales * sxy))"
        "        div (n_scales * sxx - sx * sx) AS BIGINT)"
        " END END AS hurst_ppm",
    )


_HURST_SCALES_SQL = ", ".join(str(m) for m in HURST_SCALES)

ORACLE_HURST = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
blk AS (
  SELECT p.event_type, p.t, p.y, m.m,
         CAST((p.t - 1) // m.m AS BIGINT) AS block
  FROM pts p CROSS JOIN (SELECT unnest([{_HURST_SCALES_SQL}]) AS m) m
  WHERE (p.t - 1) // m.m < p.n // m.m
),
dev AS (
  SELECT event_type, m, block,
         m * sum(y) OVER (PARTITION BY event_type, m, block ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - (row_number() OVER (PARTITION BY event_type, m, block ORDER BY t))
           * (sum(y) OVER (PARTITION BY event_type, m, block)) AS cum_scaled,
         sum(y) OVER (PARTITION BY event_type, m, block) AS s_b,
         y
  FROM blk
),
per_block AS (
  SELECT event_type, m, block,
         CAST(max(cum_scaled) - min(cum_scaled) AS BIGINT) AS r_scaled,
         CAST(max(s_b) AS HUGEINT) AS s_b,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q_b
  FROM dev GROUP BY 1, 2, 3
),
rs AS (
  SELECT event_type, m,
         CAST(FLOOR(1000000 * CAST(r_scaled AS DOUBLE)
              / SQRT(CAST(CAST(m AS HUGEINT) * q_b - s_b * s_b AS DOUBLE)))
           AS BIGINT) AS rs_micro
  FROM per_block
  WHERE CAST(m AS HUGEINT) * q_b - s_b * s_b > 0
),
per_scale AS (
  SELECT event_type, m,
         CAST(sum(rs_micro) // count(*) AS BIGINT) AS rs_mean_micro
  FROM rs GROUP BY 1, 2
),
xy AS (
  SELECT event_type,
         CAST(FLOOR(1000000 * LN(CAST(m AS DOUBLE))) AS BIGINT) AS x,
         CAST(FLOOR(1000000 * (LN(CAST(rs_mean_micro AS DOUBLE))
              - LN(1000000.0))) AS BIGINT) AS y
  FROM per_scale WHERE rs_mean_micro > 0
),
n_hours AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours FROM hourly GROUP BY 1
),
reg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_scales,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM xy GROUP BY 1
)
SELECT r.event_type, h.n_hours, r.n_scales,
       CASE WHEN n_scales >= 2 AND n_scales * sxx - sx * sx > 0 THEN
         CASE WHEN n_scales * sxy - sx * sy >= 0 THEN
           CAST((1000000 * (n_scales * sxy - sx * sy))
                // (n_scales * sxx - sx * sx) AS BIGINT)
         ELSE
           -CAST((1000000 * (sx * sy - n_scales * sxy))
                 // (n_scales * sxx - sx * sx) AS BIGINT)
         END END AS hurst_ppm
FROM reg r JOIN n_hours h ON r.event_type = h.event_type
ORDER BY 1
"""


# -- permutation entropy -----------------------------------------------------------


def events_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy per event type — the model-free
    complexity/irregularity score (Bandt–Pompe, public): slide a 3-hour
    window over the hourly cents series, rank the triple (ties broken by
    time order), and measure the entropy of the 6 ordinal patterns.
    Near ln(6): noise-like; near 0: rigidly ordered dynamics.

    Exactness: ordinal ranks are exact integer comparisons; pattern
    counts are exact; each −p·ln p term is floored to the micro grid per
    pattern (≤6 rows/type) so the entropy sum is an exact integer sum;
    the ln 6 normalizer enters as the same floored constant in both
    engines.

    Scale shape: hourly rollup, two lead() windows per type (bounded
    rollup), a ≤6-row-per-type histogram — no raw-event second pass."""
    hourly = _hourly_cents(spark, sf_dir)
    return perm_entropy_finish(hourly)


def perm_entropy_finish(hourly: DataFrame) -> DataFrame:
    """The entropy over a (event_type, hour, y) rollup — shared verbatim
    by the streaming twin."""
    w = Window.partitionBy("event_type").orderBy("hour")
    tri = (
        hourly.withColumn("y1", F.lead("y", 1).over(w))
        .withColumn("y2", F.lead("y", 2).over(w))
        .filter(F.col("y2").isNotNull())
    )
    r0 = (F.col("y1") < F.col("y")).cast("int") + (
        F.col("y2") < F.col("y")
    ).cast("int")
    r1 = (F.col("y") <= F.col("y1")).cast("int") + (
        F.col("y2") < F.col("y1")
    ).cast("int")
    r2 = (F.col("y") <= F.col("y2")).cast("int") + (
        F.col("y1") <= F.col("y2")
    ).cast("int")
    pat = tri.select(
        "event_type", (r0 * 9 + r1 * 3 + r2).alias("pattern")
    )
    counts = pat.groupBy("event_type", "pattern").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_type = Window.partitionBy("event_type")
    terms = counts.withColumn("n", F.sum("c").over(w_type)).selectExpr(
        "event_type",
        "n",
        "CAST(FLOOR(1000000 * (CAST(c AS DOUBLE) / n)"
        " * (LN(CAST(n AS DOUBLE)) - LN(CAST(c AS DOUBLE)))) AS BIGINT)"
        " AS term_micro",
    )
    return terms.groupBy("event_type").agg(
        F.max("n").alias("n_windows"),
        F.count(F.lit(1)).cast("long").alias("n_patterns"),
        F.sum("term_micro").cast("long").alias("pe_micro"),
    ).selectExpr(
        "event_type",
        "n_windows",
        "n_patterns",
        "pe_micro",
        "CAST((1000000 * pe_micro)"
        " div CAST(FLOOR(1000000 * LN(6.0)) AS BIGINT) AS BIGINT)"
        " AS pe_norm_ppm",
    )


ORACLE_PERM_ENTROPY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
tri AS (
  SELECT event_type, y,
         lead(y, 1) OVER (PARTITION BY event_type ORDER BY hour) AS y1,
         lead(y, 2) OVER (PARTITION BY event_type ORDER BY hour) AS y2
  FROM hourly
),
pat AS (
  SELECT event_type,
         ((CASE WHEN y1 < y THEN 1 ELSE 0 END)
          + (CASE WHEN y2 < y THEN 1 ELSE 0 END)) * 9
         + ((CASE WHEN y <= y1 THEN 1 ELSE 0 END)
            + (CASE WHEN y2 < y1 THEN 1 ELSE 0 END)) * 3
         + ((CASE WHEN y <= y2 THEN 1 ELSE 0 END)
            + (CASE WHEN y1 <= y2 THEN 1 ELSE 0 END)) AS pattern
  FROM tri WHERE y2 IS NOT NULL
),
counts AS (
  SELECT event_type, pattern, CAST(count(*) AS BIGINT) AS c
  FROM pat GROUP BY 1, 2
),
terms AS (
  SELECT event_type, sum(c) OVER (PARTITION BY event_type) AS n,
         CAST(FLOOR(1000000 * (CAST(c AS DOUBLE)
              / (sum(c) OVER (PARTITION BY event_type)))
              * (LN(CAST(sum(c) OVER (PARTITION BY event_type) AS DOUBLE))
                 - LN(CAST(c AS DOUBLE)))) AS BIGINT) AS term_micro
  FROM counts
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_windows,
       CAST(count(*) AS BIGINT) AS n_patterns,
       CAST(sum(term_micro) AS BIGINT) AS pe_micro,
       CAST((1000000 * CAST(sum(term_micro) AS BIGINT))
            // CAST(FLOOR(1000000 * LN(6.0)) AS BIGINT) AS BIGINT)
         AS pe_norm_ppm
FROM terms GROUP BY event_type
ORDER BY event_type
"""


# -- cross-correlation function ----------------------------------------------------

CCF_MAX_LAG = 6


def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the TWO highest-revenue event
    types' hourly series at lags −{CCF_MAX_LAG}..{CCF_MAX_LAG} — the
    lead/lag detector (does type A's spike precede type B's?), the
    two-series companion to the battery's single-series ACF.

    Exactness: the type pair is picked by exact integer revenue with a
    lexicographic tiebreak; per-lag Pearson moments (n, Σx, Σy, Σxy,
    Σx², Σy²) are exact DECIMAL(38) sums over the aligned hour grid;
    r is a per-lag IEEE expression over those integers (the product of
    the two variance terms would overflow the integer grid, so each gets
    its own √ in the identical tree), floored to ppm.

    Scale shape: one hourly rollup, a bounded |types|-row ranking, then
    each lag's alignment is an equi-join on the hour index over the
    bounded rollup — 13 bounded joins, no raw-event second pass."""
    hourly = _hourly_cents(spark, sf_dir)
    return ccf_finish(hourly)


def ccf_finish(hourly: DataFrame) -> DataFrame:
    """The CCF over a (event_type, hour, y) rollup — shared verbatim by
    the streaming twin.  Self-joins its input: twins must checkpoint."""
    w_rank = Window.partitionBy(const_part(F.col("event_type"))).orderBy(
        F.desc("tot"), "event_type"
    )
    top2 = (
        hourly.groupBy("event_type")
        .agg(F.sum("y").cast("long").alias("tot"))
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 2)
        .groupBy()
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("event_type"))).alias("type_a"),
            F.max(F.when(F.col("rk") == 2, F.col("event_type"))).alias("type_b"),
        )
    )
    hidx = F.expr(
        "unix_micros(CAST(hour AS TIMESTAMP)) div 3600000000"
    ).alias("h")
    xs = hourly.crossJoin(F.broadcast(top2)).filter(
        F.col("event_type") == F.col("type_a")
    ).select("type_a", "type_b", hidx, F.col("y").alias("x"))
    ys = hourly.crossJoin(F.broadcast(top2)).filter(
        F.col("event_type") == F.col("type_b")
    ).select(
        F.expr("unix_micros(CAST(hour AS TIMESTAMP)) div 3600000000").alias("hb"),
        F.col("y").alias("yv"),
    )
    lag_col = F.explode(
        F.sequence(F.lit(-CCF_MAX_LAG), F.lit(CCF_MAX_LAG))
    ).alias("lag")
    pairs = (
        xs.select("type_a", "type_b", "h", "x", lag_col)
        .join(ys, F.col("hb") == F.col("h") + F.col("lag"))
    )
    mom = pairs.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("yv").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("yv")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("yv").cast("decimal(38,0)") * F.col("yv")).alias("syy"),
    )
    return mom.selectExpr(
        "type_a",
        "type_b",
        "CAST(lag AS INT) AS lag",
        "n_pairs",
        "CASE WHEN n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0"
        " THEN CAST(FLOOR(1000000 * CAST(n_pairs * sxy - sx * sy AS DOUBLE)"
        "  / (SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE))"
        "     * SQRT(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) AS BIGINT)"
        " END AS r_ppm",
    )


ORACLE_CCF = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type,
         row_number() OVER (ORDER BY sum(y) DESC, event_type) AS rk
  FROM hourly GROUP BY event_type
),
top2 AS (
  SELECT max(CASE WHEN rk = 1 THEN event_type END) AS type_a,
         max(CASE WHEN rk = 2 THEN event_type END) AS type_b
  FROM ranked WHERE rk <= 2
),
xs AS (
  SELECT t.type_a, t.type_b,
         epoch_us(h.hour) // 3600000000 AS h, h.y AS x
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_a
),
ys AS (
  SELECT epoch_us(h.hour) // 3600000000 AS hb, h.y AS yv
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_b
),
pairs AS (
  SELECT x.type_a, x.type_b, l.lag, x.x, y.yv
  FROM xs x
  CROSS JOIN (SELECT unnest(generate_series(-{CCF_MAX_LAG}, {CCF_MAX_LAG})) AS lag) l
  JOIN ys y ON y.hb = x.h + l.lag
),
mom AS (
  SELECT type_a, type_b, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(yv) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * yv) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(yv AS HUGEINT) * yv) AS HUGEINT) AS syy
  FROM pairs GROUP BY 1, 2, 3
)
SELECT type_a, type_b, CAST(lag AS INT) AS lag, n_pairs,
       CASE WHEN n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
       THEN CAST(FLOOR(1000000 * CAST(n_pairs * sxy - sx * sy AS DOUBLE)
         / (SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
            * SQRT(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) AS BIGINT)
       END AS r_ppm
FROM mom
ORDER BY lag
"""


# -- theta-method forecast -----------------------------------------------------


THETA_HORIZON = 7


def events_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, the
    M3-competition winner; public) per event type over daily cents —
    the battery's third forecaster, between Holt (local trend) and the
    seasonal pair: the classical Theta(0,2) combination of (a) the
    linear-trend line and (b) SES over the theta=2 line Z_t = 2·y_t −
    L_t, averaged for each horizon step.

    Exactness: the trend fit (a, b) is exact integer least squares on
    the micro grid; Z_t is exact micro integers; SES with α = ½ is the
    Holt trick — per-step floor-halving via shiftright in Spark and
    // 2 in DuckDB (both floor division for signed integers), so every
    smoothing state is bit-identical; the combination is one more
    floor-halving.  A true recursion can't be a window expression, but
    the DAILY series is a bounded pre-aggregate, so Spark folds it with
    ONE aggregate HOF per type and DuckDB replays a recursive CTE.

    Scale shape: one map-side-combined daily rollup; recursion over
    |days| rows per type, thousands of types in parallel."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    return theta_finish(daily)


def theta_finish(daily: DataFrame) -> DataFrame:
    """Theta forecast over a (event_type, day, y) rollup — shared
    verbatim by a streaming twin's state read."""
    w_t = Window.partitionBy("event_type").orderBy("day")
    pts = daily.withColumn("t", F.row_number().over(w_t).cast("long"))
    reg = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y")).alias("sty"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
    ).filter(F.col("n") >= 2).selectExpr(
        "event_type",
        "n",
        # b_micro = sign-split (1e6 (n·sty − st·sy)) div (n·stt − st²)
        "CASE WHEN n * sty - st * sy >= 0 THEN"
        " CAST((1000000 * (n * sty - st * sy)) div (n * stt - st * st) AS BIGINT)"
        " ELSE -CAST((1000000 * (st * sy - n * sty)) div (n * stt - st * st) AS BIGINT)"
        " END AS b_micro",
        "st",
        "sy",
    ).selectExpr(
        "event_type",
        "n",
        "b_micro",
        # a_micro = sign-split (1e6·sy − b_micro·st) div n
        "CASE WHEN 1000000 * sy - b_micro * st >= 0 THEN"
        " CAST((1000000 * sy - CAST(b_micro AS DECIMAL(38,0)) * st) div n AS BIGINT)"
        " ELSE -CAST((CAST(b_micro AS DECIMAL(38,0)) * st - 1000000 * sy) div n AS BIGINT)"
        " END AS a_micro",
    )
    z = pts.join(reg, "event_type").withColumn(
        "z_micro",
        (
            F.lit(2_000_000).cast("long") * F.col("y")
            - (F.col("a_micro") + F.col("b_micro") * F.col("t"))
        ).cast("long"),
    )
    arr = z.groupBy("event_type", "n", "a_micro", "b_micro").agg(
        F.array_sort(F.collect_list(F.struct("t", "z_micro"))).alias("a")
    )
    future = ", ".join(
        "named_struct("
        f"'h', {h}, "
        f"'linear_micro', a_micro + b_micro * (n + {h}L), "
        "'ses_micro', acc.s, "
        f"'forecast_micro', shiftright(acc.s + a_micro + b_micro * (n + {h}L), 1))"
        for h in range(1, THETA_HORIZON + 1)
    )
    folded = arr.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
              slice(a, 2, size(a) - 1),
              named_struct('s', a[0].z_micro),
              (acc, x) -> named_struct('s', shiftright(acc.s + x.z_micro, 1)),
              acc -> array({future})
            )
            """
        ).alias("fc"),
    )
    out = folded.select(
        "event_type", F.explode("fc").alias("f")
    ).select(
        "event_type",
        F.col("f.h").cast("int").alias("h"),
        F.col("f.ses_micro").cast("long").alias("ses_micro"),
        F.col("f.linear_micro").cast("long").alias("linear_micro"),
        F.col("f.forecast_micro").cast("long").alias("forecast_micro"),
    )
    return out


def _oracle_theta() -> str:
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT event_type, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
  FROM daily
),
reg0 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS HUGEINT) AS st, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt
  FROM pts GROUP BY 1 HAVING count(*) >= 2
),
reg1 AS (
  SELECT event_type, n, st, sy,
         CASE WHEN n * sty - st * sy >= 0 THEN
           CAST((1000000 * (n * sty - st * sy)) // (n * stt - st * st) AS BIGINT)
         ELSE
           -CAST((1000000 * (st * sy - n * sty)) // (n * stt - st * st) AS BIGINT)
         END AS b_micro
  FROM reg0
),
reg AS (
  SELECT event_type, n, b_micro,
         CASE WHEN 1000000 * sy - CAST(b_micro AS HUGEINT) * st >= 0 THEN
           CAST((1000000 * sy - CAST(b_micro AS HUGEINT) * st) // n AS BIGINT)
         ELSE
           -CAST((CAST(b_micro AS HUGEINT) * st - 1000000 * sy) // n AS BIGINT)
         END AS a_micro
  FROM reg1
),
z AS (
  SELECT p.event_type, p.t, r.n, r.a_micro, r.b_micro,
         CAST(2000000 * p.y - (r.a_micro + r.b_micro * p.t) AS BIGINT) AS z_micro
  FROM pts p JOIN reg r ON p.event_type = r.event_type
),
ses AS (
  SELECT event_type, t, z_micro AS s FROM z WHERE t = 1
  UNION ALL
  SELECT z.event_type, z.t,
         CASE WHEN ses.s + z.z_micro >= 0 THEN (ses.s + z.z_micro) // 2
              ELSE -((-(ses.s + z.z_micro) + 1) // 2) END AS s
  FROM ses JOIN z ON z.event_type = ses.event_type AND z.t = ses.t + 1
),
fin AS (
  SELECT s.event_type, s.s, r.n, r.a_micro, r.b_micro
  FROM ses s JOIN reg r ON s.event_type = r.event_type AND s.t = r.n
),
horizons AS (SELECT unnest(generate_series(1, {THETA_HORIZON})) AS h)
SELECT f.event_type, CAST(h.h AS INT) AS h,
       CAST(f.s AS BIGINT) AS ses_micro,
       CAST(f.a_micro + f.b_micro * (f.n + h.h) AS BIGINT) AS linear_micro,
       CAST(CASE WHEN f.s + f.a_micro + f.b_micro * (f.n + h.h) >= 0
            THEN (f.s + f.a_micro + f.b_micro * (f.n + h.h)) // 2
            ELSE -((-(f.s + f.a_micro + f.b_micro * (f.n + h.h)) + 1) // 2)
            END AS BIGINT) AS forecast_micro
FROM fin f CROSS JOIN horizons h
ORDER BY 1, 2
"""


ORACLE_THETA = "WITH RECURSIVE " + _oracle_theta().split("WITH ", 1)[1]


# -- binary-segmentation changepoints ------------------------------------------------


def events_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary-segmentation changepoint detection over the GLOBAL
    hourly cents series — the multi-changepoint extension of the
    battery's single-split CUSUM: find the split maximizing the
    between-segment SSE reduction, then the best split inside each half
    (up to 3 changepoints / 4 segments).

    The split score at t within a segment is the between-class identity
    gain(t) = S_l²/n_l + S_r²/n_r − S²/n (maximizing it minimizes the
    within-segment SSE).  Exactness: prefix sums are exact integers;
    each candidate's score is a per-row IEEE expression over exact
    integers — identical trees give identical doubles, so the argmax
    (max over a (score, −t) struct: smallest t wins ties) is
    engine-deterministic; the reported gain is floored to micro.

    Scale shape: entirely on the bounded hourly rollup; level-2 halves
    are assigned by broadcasting the 1-ROW level-1 winner back into the
    rollup (never a driver collect); the documented-bounded global
    windows are the const_part pattern."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    return binseg_finish(hourly)


def binseg_finish(hourly: DataFrame) -> DataFrame:
    """Depth-2 segmentation over a (hour, y) rollup — factored so
    known-value pins can feed hand-built step series."""
    w_ord = (
        Window.partitionBy(const_part(F.col("hour")))
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(const_part(F.col("hour")))
    pts = (
        hourly.withColumn("t", F.row_number().over(
            Window.partitionBy(const_part(F.col("hour"))).orderBy("hour")
        ).cast("long"))
        .withColumn("p", F.sum("y").over(w_ord).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn("s", F.sum("y").over(w_all).cast("long"))
        .select("t", "y", "p", "n", "s")
    )
    score = (
        "CAST(p AS DOUBLE) * CAST(p AS DOUBLE) / CAST(t AS DOUBLE)"
        " + CAST(s - p AS DOUBLE) * CAST(s - p AS DOUBLE) / CAST(n - t AS DOUBLE)"
    )
    gain = f"({score}) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    best1 = (
        pts.filter("t < n")
        .selectExpr("t", "n", "s", f"{score} AS sc", f"{gain} AS gn")
        .groupBy()
        .agg(F.max(F.struct(F.col("sc"), (-F.col("t")).alias("nt"), F.col("t"), F.col("gn"))).alias("b"))
        .select(
            F.col("b.t").alias("t1"),
            F.col("b.gn").alias("gain1"),
        )
    )
    lv1 = pts.crossJoin(F.broadcast(best1))
    halves = lv1.selectExpr(
        "CASE WHEN t <= t1 THEN 'L' ELSE 'R' END AS half",
        "t",
        "t1",
        "gain1",
        "y",
        "p",
        "n",
        "s",
    )
    w_half = Window.partitionBy("half")
    hpts = (
        halves.withColumn("h_lo", F.min("t").over(w_half))
        .withColumn("h_hi", F.max("t").over(w_half))
        .withColumn("h_n", F.count(F.lit(1)).over(w_half).cast("long"))
        .withColumn("h_p0", (F.col("p") - F.col("y")).cast("long"))
    )
    # local prefix within the half: p_local = p − P(h_lo − 1); P(h_lo−1) =
    # min over half of (p − y) at the first row = min(h_p0 at t = h_lo)
    base = hpts.withColumn(
        "p_base", F.min(F.when(F.col("t") == F.col("h_lo"), F.col("h_p0"))).over(w_half)
    ).withColumn("p_loc", (F.col("p") - F.col("p_base")).cast("long")).withColumn(
        "s_loc",
        F.max(F.when(F.col("t") == F.col("h_hi"), F.col("p") - F.col("p_base"))).over(
            w_half
        ).cast("long"),
    ).withColumn("t_loc", (F.col("t") - F.col("h_lo") + 1).cast("long"))
    score2 = (
        "CAST(p_loc AS DOUBLE) * CAST(p_loc AS DOUBLE) / CAST(t_loc AS DOUBLE)"
        " + CAST(s_loc - p_loc AS DOUBLE) * CAST(s_loc - p_loc AS DOUBLE)"
        "   / CAST(h_n - t_loc AS DOUBLE)"
    )
    gain2 = (
        f"({score2}) - CAST(s_loc AS DOUBLE) * CAST(s_loc AS DOUBLE)"
        " / CAST(h_n AS DOUBLE)"
    )
    best2 = (
        base.filter("t_loc < h_n")
        .selectExpr(
            "half", "h_lo", "h_hi", "h_n", "t", f"{score2} AS sc", f"{gain2} AS gn"
        )
        .groupBy("half")
        .agg(
            F.max(
                F.struct(F.col("sc"), (-F.col("t")).alias("nt"), F.col("t"), F.col("gn"))
            ).alias("b"),
            F.min("h_lo").cast("long").alias("seg_lo"),
            F.max("h_hi").cast("long").alias("seg_hi"),
            F.max("h_n").cast("long").alias("seg_n"),
        )
        .selectExpr(
            "2 AS depth",
            "seg_lo",
            "seg_hi",
            "b.t AS split_t",
            "b.t - seg_lo + 1 AS n_left",
            "seg_hi - b.t AS n_right",
            "CAST(FLOOR(b.gn) AS BIGINT) AS gain_cents2",
        )
    )
    lvl1_row = pts.groupBy().agg(
        F.max("n").alias("n"), F.max("s").alias("s")
    ).crossJoin(F.broadcast(best1)).selectExpr(
        "1 AS depth",
        "CAST(1 AS BIGINT) AS seg_lo",
        "n AS seg_hi",
        "t1 AS split_t",
        "t1 AS n_left",
        "n - t1 AS n_right",
        "CAST(FLOOR(gain1) AS BIGINT) AS gain_cents2",
    )
    return lvl1_row.unionByName(best2)


ORACLE_BINSEG = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
),
pts AS (
  SELECT CAST(row_number() OVER (ORDER BY hour) AS BIGINT) AS t, y,
         CAST(sum(y) OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS p,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(y) OVER () AS BIGINT) AS s
  FROM hourly
),
sc1 AS (
  SELECT t, n, s,
         CAST(p AS DOUBLE) * CAST(p AS DOUBLE) / CAST(t AS DOUBLE)
         + CAST(s - p AS DOUBLE) * CAST(s - p AS DOUBLE) / CAST(n - t AS DOUBLE)
         AS sc,
         CAST(p AS DOUBLE) * CAST(p AS DOUBLE) / CAST(t AS DOUBLE)
         + CAST(s - p AS DOUBLE) * CAST(s - p AS DOUBLE) / CAST(n - t AS DOUBLE)
         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS gn
  FROM pts WHERE t < n
),
best1 AS (
  SELECT (max(struct_pack(sc := sc, nt := -t, t := t, gn := gn))).t AS t1,
         (max(struct_pack(sc := sc, nt := -t, t := t, gn := gn))).gn AS gain1
  FROM sc1
),
halves AS (
  SELECT CASE WHEN p.t <= b.t1 THEN 'L' ELSE 'R' END AS half,
         p.t, p.y, p.p, p.n, p.s, b.t1, b.gain1
  FROM pts p CROSS JOIN best1 b
),
hmeta AS (
  SELECT half, min(t) AS h_lo, max(t) AS h_hi,
         CAST(count(*) AS BIGINT) AS h_n
  FROM halves GROUP BY half
),
base AS (
  SELECT h.half, h.t, hm.h_lo, hm.h_hi, hm.h_n,
         h.p - (SELECT p - y FROM halves x
                WHERE x.half = h.half AND x.t = hm.h_lo) AS p_loc,
         (SELECT p FROM halves x WHERE x.half = h.half AND x.t = hm.h_hi)
         - (SELECT p - y FROM halves x
            WHERE x.half = h.half AND x.t = hm.h_lo) AS s_loc,
         h.t - hm.h_lo + 1 AS t_loc
  FROM halves h JOIN hmeta hm ON h.half = hm.half
),
sc2 AS (
  SELECT half, h_lo, h_hi, h_n, t,
         CAST(p_loc AS DOUBLE) * CAST(p_loc AS DOUBLE) / CAST(t_loc AS DOUBLE)
         + CAST(s_loc - p_loc AS DOUBLE) * CAST(s_loc - p_loc AS DOUBLE)
           / CAST(h_n - t_loc AS DOUBLE) AS sc,
         CAST(p_loc AS DOUBLE) * CAST(p_loc AS DOUBLE) / CAST(t_loc AS DOUBLE)
         + CAST(s_loc - p_loc AS DOUBLE) * CAST(s_loc - p_loc AS DOUBLE)
           / CAST(h_n - t_loc AS DOUBLE)
         - CAST(s_loc AS DOUBLE) * CAST(s_loc AS DOUBLE) / CAST(h_n AS DOUBLE)
           AS gn
  FROM base WHERE t_loc < h_n
),
best2 AS (
  SELECT 2 AS depth, min(h_lo) AS seg_lo, max(h_hi) AS seg_hi,
         (max(struct_pack(sc := sc, nt := -t, t := t, gn := gn))).t AS split_t,
         (max(struct_pack(sc := sc, nt := -t, t := t, gn := gn))).t
           - min(h_lo) + 1 AS n_left,
         max(h_hi) - (max(struct_pack(sc := sc, nt := -t, t := t, gn := gn))).t
           AS n_right,
         CAST(FLOOR((max(struct_pack(sc := sc, nt := -t, t := t, gn := gn))).gn)
              AS BIGINT) AS gain_cents2
  FROM sc2 GROUP BY half
),
lvl1 AS (
  SELECT 1 AS depth, CAST(1 AS BIGINT) AS seg_lo, max(n) AS seg_hi,
         max(t1) AS split_t, max(t1) AS n_left, max(n) - max(t1) AS n_right,
         CAST(FLOOR(max(gain1)) AS BIGINT) AS gain_cents2
  FROM pts CROSS JOIN best1
)
SELECT CAST(depth AS INT) AS depth, seg_lo, seg_hi, split_t, n_left, n_right,
       gain_cents2
FROM (SELECT * FROM lvl1 UNION ALL SELECT * FROM best2)
ORDER BY depth, seg_lo
"""


# -- signed-random-projection LSH over embeddings -----------------------------------

SRP_PLANES = 32  # 4 bands x 8 bits
SRP_BANDS = 4
SRP_BITS = SRP_PLANES // SRP_BANDS
SRP_TOP_K = 20


def ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection (SRP/hyperplane) LSH near-duplicate
    search over the DENSE embedding column — the vector-space sibling of
    the text battery's SimHash (which hashes shingle sets): each vector
    gets {SRP_PLANES} sign bits against Rademacher (±1) hyperplanes,
    banded {SRP_BANDS}×{SRP_BITS}; only same-band-value pairs are
    verified with the exact cosine, and the top-{SRP_TOP_K} by similarity
    (total tiebreak, TakeOrdered — never a global sort) are reported.  Charikar 2002 (public): P[bit
    agrees] = 1 − θ/π, so near-parallel vectors collide in some band
    with high probability while the expected candidate volume stays
    near-linear.

    Exactness: plane signs come from md5 parity (identical hex in both
    engines); embeddings are floored ONCE onto an integer micro grid, so
    every projection is an exact integer sum and every sign bit is an
    exact comparison; the verify cosine is a per-pair IEEE expression
    over exact DECIMAL(38) dot products, floored to ppm.

    Scale shape: the projection is a broadcast join against the
    {SRP_PLANES}×64-row plane table with map-side combine (a constant
    ~{SRP_PLANES}× map blow-up, linear in vectors, no shuffle growth);
    candidates come from band-bucket equi-joins — NEVER all-pairs — and
    only candidates pay the exact-cosine join."""
    emb = read_table(spark, sf_dir, "embeddings")
    return srp_from_embeddings(spark, emb)


def _srp_int_vecs(emb: DataFrame) -> DataFrame:
    """(vec_id, xv array<long>, nrm long) — the embedding floored ONCE
    onto the integer micro grid as an ARRAY, plus its exact squared norm.
    Every dot below is a sum of exact integer products, so the zip_with
    fold order is irrelevant (order-free by exactness).  One row per
    vector — the r11 replacement for the 64-rows-per-vector dims explode,
    which made every verify join carry 64× the rows.

    Arithmetic is 64-bit integer, NOT decimal: |xe| ≤ 100 ⇒ |xi| ≤ 10⁸ ⇒
    any 64-dim dot (and the squared norm) is ≤ 64·10¹⁶ = 6.4·10¹⁷ ≪
    2⁶³ ≈ 9.2·10¹⁸, and each element product ≤ 10¹⁶ fits too — exactly
    the same integers DECIMAL(38,0) produced, but through codegen'd long
    primitives instead of interpreted BigDecimal (the decimal fold was
    the dominant cost of every SRP verify pass).

    The |xe| ≤ 100 bound is GUARDED, not assumed (ADVICE r12): with ANSI
    off an int64 overflow wraps silently, so an out-of-range embedding
    would corrupt sign bits instead of erroring.  The grid transform
    raises on the first |component| > 100 — one branch per element,
    negligible next to the 32-plane dot folds it protects.  (100, not
    the exact 64·(B·10⁶)² < 2⁶³ edge at B≈379: a round number with 37×
    headroom; the real corpus max is 0.578 and hand fixtures use ≤5.)"""
    return emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, xe -> CASE WHEN abs(xe) > 100.0D THEN"
            " CAST(raise_error(concat('SRP micro-grid bound violated:"
            " |embedding component| = ', CAST(abs(xe) AS STRING),"
            " ' > 100.0 — BIGINT dot folds are only exact within the"
            " documented bound')) AS BIGINT)"
            " ELSE CAST(round(xe * 1000000) AS BIGINT) END)"
        ).alias("xv"),
    ).withColumn(
        "nrm",
        F.expr(
            "aggregate(xv, CAST(0 AS BIGINT),"
            " (accn, zn) -> accn + zn * zn)"
        ),
    )


def _srp_planes_arr(spark: SparkSession) -> DataFrame:
    """(j, sv array<int>) — each hyperplane's 64 Rademacher signs as an
    array (md5 parity, engine-portable; same string recipe as the
    per-(j, d) row form the oracle uses)."""
    return spark.range(SRP_PLANES).select(
        F.col("id").cast("int").alias("j"),
        F.expr(
            "transform(sequence(0, 63), dd -> CASE WHEN"
            " CAST(conv(substring(md5(concat(CAST(id AS STRING), '_',"
            " CAST(dd AS STRING))), 1, 2), 16, 10) AS INT) % 2 = 0"
            " THEN 1 ELSE -1 END)"
        ).alias("sv"),
    )


def _srp_bands(spark: SparkSession, ivecs: DataFrame, micro_bits: int) -> DataFrame:
    """(vec_id, band, band_val) signatures: one broadcast crossJoin against
    the {SRP_PLANES}-row plane-ARRAY table (N×{SRP_PLANES} rows — was
    N×{SRP_PLANES}×64 under the per-dim join), each projection an exact
    integer zip_with dot."""
    proj = ivecs.crossJoin(F.broadcast(_srp_planes_arr(spark))).select(
        "vec_id",
        "j",
        F.expr(
            "aggregate(zip_with(xv, sv, (xp, sp) -> xp * CAST(sp AS BIGINT)),"
            " CAST(0 AS BIGINT), (accp, zp) -> accp + zp)"
        ).alias("dot"),
    )
    return (
        proj.select(
            "vec_id",
            (F.col("j") / micro_bits).cast("int").alias("band"),
            F.expr(
                f"CASE WHEN dot >= 0 THEN shiftleft(CAST(1 AS BIGINT),"
                f" j % {micro_bits}) ELSE CAST(0 AS BIGINT) END"
            ).alias("bitval"),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("bitval").cast("long").alias("band_val"))
    )


def _srp_cos_ppm(cands: DataFrame, ivecs: DataFrame) -> DataFrame:
    """Exact-cosine verify over candidate pairs: ONE row per pair (array
    zip_with dot + precomputed per-vector norms), same exact integers —
    and therefore the same ppm floors — as the old 64-rows-per-pair dims
    join."""
    a = ivecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("xv").alias("xa"),
        F.col("nrm").alias("daa"),
    )
    b = ivecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("xv").alias("xb"),
        F.col("nrm").alias("dbb"),
    )
    return (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "dab",
            F.expr(
                "aggregate(zip_with(xa, xb, (pa, qb) -> pa * qb),"
                " CAST(0 AS BIGINT), (accd, zd) -> accd + zd)"
            ),
        )
        .drop("xa", "xb")
        .withColumn(
            "cos_ppm",
            F.expr(
                "CAST(FLOOR(1000000 * CAST(dab AS DOUBLE)"
                " / (SQRT(CAST(daa AS DOUBLE)) * SQRT(CAST(dbb AS DOUBLE))))"
                " AS BIGINT)"
            ),
        )
        .drop("dab", "daa", "dbb")
    )


def srp_from_embeddings(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """SRP top-K over a (vec_id, embedding) frame — factored so
    known-value pins can feed hand vectors."""
    ivecs = lineage_cut(_srp_int_vecs(emb))
    # both join sides read bands: checkpoint so the 32-plane projection
    # pass runs once, not twice
    bands = lineage_cut(_srp_bands(spark, ivecs, SRP_BITS))
    a = bands.select("band", "band_val", F.col("vec_id").alias("vec_a"))
    b = bands.select("band", "band_val", F.col("vec_id").alias("vec_b"))
    cands = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )
    scored = _srp_cos_ppm(cands, ivecs).select(
        "vec_a", "vec_b", "n_shared_bands", "cos_ppm"
    )
    # top-K by similarity with a total tiebreak — TakeOrdered, no global sort
    return scored.orderBy(
        F.desc("cos_ppm"), "vec_a", "vec_b"
    ).limit(SRP_TOP_K)


ORACLE_SRP = f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id, CAST(u.d - 1 AS INT) AS d,
         CAST(round(embedding[u.d] * 1000000) AS BIGINT) AS xi
  FROM embeddings, unnest(generate_series(1, 64)) u(d)
),
planes AS MATERIALIZED (
  SELECT CAST(j.j AS INT) AS j, CAST(d.d AS INT) AS d,
         CASE WHEN ('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_'
                    || CAST(d.d AS VARCHAR)), 1, 2))::INT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM unnest(generate_series(0, {SRP_PLANES - 1})) j(j)
  CROSS JOIN unnest(generate_series(0, 63)) d(d)
),
bits AS MATERIALIZED (
  SELECT dims.vec_id, planes.j // {SRP_BITS} AS band,
         CASE WHEN sum(planes.s * dims.xi) >= 0
              THEN CAST(1 AS BIGINT) << (planes.j % {SRP_BITS})
              ELSE 0 END AS bitval
  FROM dims JOIN planes ON dims.d = planes.d
  GROUP BY dims.vec_id, planes.j
),
bands AS MATERIALIZED (
  SELECT vec_id, CAST(band AS INT) AS band,
         CAST(sum(bitval) AS BIGINT) AS band_val
  FROM bits GROUP BY 1, 2
),
cands AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
dots AS (
  SELECT c.vec_a, c.vec_b, c.n_shared_bands,
         CAST(sum(CAST(da.xi AS HUGEINT) * db.xi) AS HUGEINT) AS dab,
         CAST(sum(CAST(da.xi AS HUGEINT) * da.xi) AS HUGEINT) AS daa,
         CAST(sum(CAST(db.xi AS HUGEINT) * db.xi) AS HUGEINT) AS dbb
  FROM cands c
  JOIN dims da ON da.vec_id = c.vec_a
  JOIN dims db ON db.vec_id = c.vec_b AND db.d = da.d
  GROUP BY 1, 2, 3
)
SELECT vec_a, vec_b, n_shared_bands,
       CAST(FLOOR(1000000 * CAST(dab AS DOUBLE)
            / (SQRT(CAST(daa AS DOUBLE)) * SQRT(CAST(dbb AS DOUBLE))))
         AS BIGINT) AS cos_ppm
FROM dots
ORDER BY cos_ppm DESC, vec_a, vec_b
LIMIT {SRP_TOP_K}
"""


# -- Granger causality (lag-1, F-test) ----------------------------------------------


def stats_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality test (lag 1) between the two highest-revenue
    event types' hourly series — the HYPOTHESIS-TEST companion to
    ``events_cross_correlation`` (CCF measures lead/lag association;
    Granger asks whether type A's past IMPROVES the prediction of type
    B beyond B's own past): restricted OLS y_t ~ y_{t-1} vs unrestricted
    y_t ~ y_{t-1} + x_{t-1},  F = (RSS_r − RSS_u) / (RSS_u / (n−3)).

    Exactness: the aligned (y_t, y_{t-1}, x_{t-1}) triples come from
    exact hour-grid equi-joins (the CCF alignment); all raw moments
    (n, Σ of each series, Σ of every product) are exact DECIMAL(38)
    sums; the OLS solve is closed-form on CENTERED numerators built from
    those integers (2-regressor Cramer's rule), evaluated as one
    identical IEEE expression tree per engine and floored to ppm.
    Degenerate guards: det > 0 and RSS_u > 0, else NULL on both sides.

    Scale shape: one hourly rollup (map-side combined), a bounded
    |types| ranking, two bounded hour-grid joins, ONE 1-row moment
    aggregate — no raw-event second pass."""
    return granger_finish(_hourly_cents(spark, sf_dir))


def granger_finish(hourly: DataFrame) -> DataFrame:
    """The Granger test over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin.  Self-joins its input: twins must
    checkpoint."""
    w_rank = Window.partitionBy(const_part(F.col("event_type"))).orderBy(
        F.desc("tot"), "event_type"
    )
    top2 = (
        hourly.groupBy("event_type")
        .agg(F.sum("y").cast("long").alias("tot"))
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 2)
        .groupBy()
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("event_type"))).alias("type_a"),
            F.max(F.when(F.col("rk") == 2, F.col("event_type"))).alias("type_b"),
        )
    )
    hidx = F.expr("unix_micros(CAST(hour AS TIMESTAMP)) div 3600000000")
    hb = hourly.crossJoin(F.broadcast(top2))
    ys = hb.filter(F.col("event_type") == F.col("type_b")).select(
        "type_a", "type_b", hidx.alias("h"), F.col("y").alias("yt")
    )
    y1 = hb.filter(F.col("event_type") == F.col("type_b")).select(
        (hidx + 1).alias("h"), F.col("y").alias("y1")
    )
    x1 = hb.filter(F.col("event_type") == F.col("type_a")).select(
        (hidx + 1).alias("h"), F.col("y").alias("x1")
    )
    tri = ys.join(y1, "h").join(x1, "h")
    d38 = "decimal(38,0)"
    mom = tri.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("yt").cast(d38)).alias("sy"),
        F.sum(F.col("y1").cast(d38)).alias("s1"),
        F.sum(F.col("x1").cast(d38)).alias("s2"),
        F.sum(F.col("yt").cast(d38) * F.col("yt")).alias("syy"),
        F.sum(F.col("y1").cast(d38) * F.col("y1")).alias("s11"),
        F.sum(F.col("x1").cast(d38) * F.col("x1")).alias("s22"),
        F.sum(F.col("y1").cast(d38) * F.col("yt")).alias("s1y"),
        F.sum(F.col("x1").cast(d38) * F.col("yt")).alias("s2y"),
        F.sum(F.col("y1").cast(d38) * F.col("x1")).alias("s12"),
    )
    # centered second moments, exact integer numerators (×n scaling):
    # Cxx = n·Σxx − Σx·Σx etc.; all double math below divides consistently
    finish = (
        "CAST(n AS DECIMAL(38,0)) * syy - sy * sy",  # Cyy
        "CAST(n AS DECIMAL(38,0)) * s11 - s1 * s1",  # C11
        "CAST(n AS DECIMAL(38,0)) * s22 - s2 * s2",  # C22
        "CAST(n AS DECIMAL(38,0)) * s1y - s1 * sy",  # C1y
        "CAST(n AS DECIMAL(38,0)) * s2y - s2 * sy",  # C2y
        "CAST(n AS DECIMAL(38,0)) * s12 - s1 * s2",  # C12
    )
    cyy, c11, c22, c1y, c2y, c12 = (f"CAST(({e}) AS DOUBLE)" for e in finish)
    det = f"({c11} * {c22} - {c12} * {c12})"
    rss_r = f"({cyy} - {c1y} * {c1y} / {c11})"
    b1 = f"(({c1y} * {c22} - {c2y} * {c12}) / {det})"
    b2 = f"(({c2y} * {c11} - {c1y} * {c12}) / {det})"
    rss_u = f"({cyy} - {b1} * {c1y} - {b2} * {c2y})"
    return mom.selectExpr(
        "type_a",
        "type_b",
        "n",
        f"CASE WHEN n > 3 AND {c11} > 0 AND {det} > 0 AND {rss_u} > 0 THEN"
        f" CAST(FLOOR(1000000 * ({rss_r} - {rss_u})"
        f" / ({rss_u} / CAST(n - 3 AS DOUBLE))) AS BIGINT) END AS f_ppm",
        f"CASE WHEN n > 3 AND {c11} > 0 AND {det} > 0 AND {rss_u} > 0 THEN"
        f" CAST(FLOOR(1000000 * {rss_u} / {rss_r}) AS BIGINT)"
        " END AS rss_ratio_ppm",
    )


ORACLE_GRANGER = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type,
         row_number() OVER (ORDER BY sum(y) DESC, event_type) AS rk
  FROM hourly GROUP BY event_type
),
top2 AS (
  SELECT max(CASE WHEN rk = 1 THEN event_type END) AS type_a,
         max(CASE WHEN rk = 2 THEN event_type END) AS type_b
  FROM ranked WHERE rk <= 2
),
ys AS (
  SELECT t.type_a, t.type_b, epoch_us(h.hour) // 3600000000 AS h, h.y AS yt
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_b
),
y1 AS (
  SELECT epoch_us(h.hour) // 3600000000 + 1 AS h, h.y AS y1
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_b
),
x1 AS (
  SELECT epoch_us(h.hour) // 3600000000 + 1 AS h, h.y AS x1
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_a
),
tri AS (
  SELECT ys.type_a, ys.type_b, ys.yt, y1.y1, x1.x1
  FROM ys JOIN y1 ON y1.h = ys.h JOIN x1 ON x1.h = ys.h
),
mom AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(yt) AS HUGEINT) AS sy,
         CAST(sum(y1) AS HUGEINT) AS s1,
         CAST(sum(x1) AS HUGEINT) AS s2,
         CAST(sum(CAST(yt AS HUGEINT) * yt) AS HUGEINT) AS syy,
         CAST(sum(CAST(y1 AS HUGEINT) * y1) AS HUGEINT) AS s11,
         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s22,
         CAST(sum(CAST(y1 AS HUGEINT) * yt) AS HUGEINT) AS s1y,
         CAST(sum(CAST(x1 AS HUGEINT) * yt) AS HUGEINT) AS s2y,
         CAST(sum(CAST(y1 AS HUGEINT) * x1) AS HUGEINT) AS s12
  FROM tri GROUP BY 1, 2
)
SELECT type_a, type_b, n,
       CASE WHEN n > 3
         AND CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE) > 0
         AND (CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
              - CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)) > 0
         AND RSSU.v > 0
       THEN CAST(FLOOR(1000000 * (
         (CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)
          - CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
            * CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE))
         - RSSU.v) / (RSSU.v / CAST(n - 3 AS DOUBLE))) AS BIGINT)
       END AS f_ppm,
       CASE WHEN n > 3
         AND CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE) > 0
         AND (CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
              - CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)) > 0
         AND RSSU.v > 0
       THEN CAST(FLOOR(1000000 * RSSU.v /
         (CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)
          - CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
            * CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE))) AS BIGINT)
       END AS rss_ratio_ppm
FROM mom,
LATERAL (
  SELECT CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)
         - ((CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
             * CAST(CAST(n AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
             - CAST(CAST(n AS HUGEINT) * s2y - s2 * sy AS DOUBLE)
             * CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE))
            / (CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
               * CAST(CAST(n AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
               - CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)
               * CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)))
           * CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
         - ((CAST(CAST(n AS HUGEINT) * s2y - s2 * sy AS DOUBLE)
             * CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
             - CAST(CAST(n AS HUGEINT) * s1y - s1 * sy AS DOUBLE)
             * CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE))
            / (CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
               * CAST(CAST(n AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
               - CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)
               * CAST(CAST(n AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)))
           * CAST(CAST(n AS HUGEINT) * s2y - s2 * sy AS DOUBLE) AS v
) RSSU
"""


# -- Dickey-Fuller unit-root test -----------------------------------------------------


def stats_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test (lag 0, with constant) per event
    type over the hourly cents series — the STATIONARITY screen the
    battery's forecasters (Holt, Theta) and autocorrelation readouts
    implicitly assume: regress Δy_t = α + β·y_{t−1} + ε and report the
    t-statistic of β̂ (strongly negative ⇒ mean-reverting; near 0 ⇒
    unit root, difference before modeling).

    Exactness: (y_{t−1}, Δy_t) pairs come from an exact hour-grid
    consecutive-hour join (gaps excluded on both engines identically);
    all moments are exact DECIMAL(38) sums; β̂ and the t-stat are per-type
    IEEE expressions over the centered integer numerators (identical
    trees), floored to ppm, with degenerate guards (n > 2, variance > 0,
    RSS > 0) on both sides.

    Scale shape: one hourly rollup, one self-join on the bounded hour
    grid, one map-side-combined per-type moment aggregation — |types|
    output rows, no raw-event second pass."""
    hourly = _hourly_cents(spark, sf_dir)
    return dickey_fuller_finish(hourly)


def dickey_fuller_finish(hourly: DataFrame) -> DataFrame:
    """The DF regression over a (event_type, hour, y) rollup — shared
    verbatim by the streaming twin."""
    hidx = F.expr("unix_micros(CAST(hour AS TIMESTAMP)) div 3600000000")
    cur = hourly.select("event_type", hidx.alias("h"), F.col("y").alias("yt"))
    prev = hourly.select(
        "event_type", (hidx + 1).alias("h"), F.col("y").alias("y1")
    )
    pairs = cur.join(prev, ["event_type", "h"]).select(
        "event_type", "y1", (F.col("yt") - F.col("y1")).alias("d")
    )
    d38 = "decimal(38,0)"
    mom = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y1").cast(d38)).alias("s1"),
        F.sum(F.col("d").cast(d38)).alias("sd"),
        F.sum(F.col("y1").cast(d38) * F.col("y1")).alias("s11"),
        F.sum(F.col("d").cast(d38) * F.col("d")).alias("sdd"),
        F.sum(F.col("y1").cast(d38) * F.col("d")).alias("s1d"),
    )
    c11 = "CAST(CAST(n AS DECIMAL(38,0)) * s11 - s1 * s1 AS DOUBLE)"
    c1d = "CAST(CAST(n AS DECIMAL(38,0)) * s1d - s1 * sd AS DOUBLE)"
    cdd = "CAST(CAST(n AS DECIMAL(38,0)) * sdd - sd * sd AS DOUBLE)"
    beta = f"({c1d} / {c11})"
    rss_num = f"({cdd} - {c1d} * {c1d} / {c11})"
    t_stat = (
        f"({beta} / SQRT({rss_num} / (CAST(n - 2 AS DOUBLE) * {c11})))"
    )
    return mom.selectExpr(
        "event_type",
        "n",
        f"CASE WHEN n > 2 AND {c11} > 0 THEN"
        f" CAST(FLOOR(1000000 * {beta}) AS BIGINT) END AS beta_ppm",
        f"CASE WHEN n > 2 AND {c11} > 0 AND {rss_num} > 0 THEN"
        f" CAST(FLOOR(1000000 * {t_stat}) AS BIGINT) END AS df_t_ppm",
    )


ORACLE_DICKEY_FULLER = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
cur AS (
  SELECT event_type, epoch_us(hour) // 3600000000 AS h, y AS yt FROM hourly
),
prev AS (
  SELECT event_type, epoch_us(hour) // 3600000000 + 1 AS h, y AS y1 FROM hourly
),
pairs AS (
  SELECT c.event_type, p.y1, c.yt - p.y1 AS d
  FROM cur c JOIN prev p ON p.event_type = c.event_type AND p.h = c.h
),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y1) AS HUGEINT) AS s1,
         CAST(sum(d) AS HUGEINT) AS sd,
         CAST(sum(CAST(y1 AS HUGEINT) * y1) AS HUGEINT) AS s11,
         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd,
         CAST(sum(CAST(y1 AS HUGEINT) * d) AS HUGEINT) AS s1d
  FROM pairs GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n > 2
         AND CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE) > 0
       THEN CAST(FLOOR(1000000 *
         (CAST(CAST(n AS HUGEINT) * s1d - s1 * sd AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE))) AS BIGINT)
       END AS beta_ppm,
       CASE WHEN n > 2
         AND CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE) > 0
         AND (CAST(CAST(n AS HUGEINT) * sdd - sd * sd AS DOUBLE)
              - CAST(CAST(n AS HUGEINT) * s1d - s1 * sd AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * s1d - s1 * sd AS DOUBLE)
              / CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)) > 0
       THEN CAST(FLOOR(1000000 *
         ((CAST(CAST(n AS HUGEINT) * s1d - s1 * sd AS DOUBLE)
           / CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE))
          / SQRT((CAST(CAST(n AS HUGEINT) * sdd - sd * sd AS DOUBLE)
                  - CAST(CAST(n AS HUGEINT) * s1d - s1 * sd AS DOUBLE)
                  * CAST(CAST(n AS HUGEINT) * s1d - s1 * sd AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE))
                 / (CAST(n - 2 AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)))))
         AS BIGINT)
       END AS df_t_ppm
FROM mom
ORDER BY event_type
"""


# -- Kendall's tau-b ------------------------------------------------------------------


def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between the two highest-revenue event types' hourly
    series — the RANK-based dependence measure completing the
    correlation trio (Pearson r in the CCF measures linear association,
    Spearman ρ monotone-via-ranks; τ counts concordant vs discordant
    PAIRS, the most outlier-robust of the three and the one with a
    direct probabilistic reading P(concordant) − P(discordant)).

    Pair-counting form with the standard tie treatment: over all hour
    pairs i < j, n_c = #{sgn(Δx)·sgn(Δy) > 0}, n_d = #{< 0}, t_x =
    #{Δx = 0, Δy ≠ 0}, t_y symmetric, and
    τ_b = (n_c − n_d) / (√(n_c+n_d+t_x) · √(n_c+n_d+t_y)).

    Exactness: all five pair classes are exact integer counts; τ_b is a
    1-row IEEE finisher over them (two separate √s — the identical-tree
    discipline), floored to ppm.

    Scale shape: the pair enumeration is a self-join of the BOUNDED
    aligned hour grid (|hours|² pairs — ~260k at a 30-day span,
    regardless of raw event volume); everything upstream is the one
    hourly rollup."""
    return kendall_finish(_hourly_cents(spark, sf_dir))


def kendall_finish(hourly: DataFrame) -> DataFrame:
    """τ-b over a (event_type, hour, y) rollup — shared verbatim by the
    streaming twin.  Self-joins its input: twins must checkpoint."""
    w_rank = Window.partitionBy(const_part(F.col("event_type"))).orderBy(
        F.desc("tot"), "event_type"
    )
    top2 = (
        hourly.groupBy("event_type")
        .agg(F.sum("y").cast("long").alias("tot"))
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 2)
        .groupBy()
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("event_type"))).alias("type_a"),
            F.max(F.when(F.col("rk") == 2, F.col("event_type"))).alias("type_b"),
        )
    )
    hidx = F.expr("unix_micros(CAST(hour AS TIMESTAMP)) div 3600000000")
    hb = hourly.crossJoin(F.broadcast(top2))
    xs = hb.filter(F.col("event_type") == F.col("type_a")).select(
        "type_a", "type_b", hidx.alias("h"), F.col("y").alias("x")
    )
    ys = hb.filter(F.col("event_type") == F.col("type_b")).select(
        hidx.alias("h"), F.col("y").alias("yv")
    )
    aligned = xs.join(ys, "h")
    a = aligned.select(
        "type_a", "type_b", F.col("h").alias("hi"),
        F.col("x").alias("xi"), F.col("yv").alias("yi"),
    )
    b = aligned.select(
        F.col("h").alias("hj"), F.col("x").alias("xj"), F.col("yv").alias("yj")
    )
    pairs = a.join(b, F.col("hi") < F.col("hj"))
    sx = F.signum((F.col("xi") - F.col("xj")).cast("double")).cast("int")
    sy = F.signum((F.col("yi") - F.col("yj")).cast("double")).cast("int")
    cls = pairs.select("type_a", "type_b", sx.alias("sx"), sy.alias("sy"))
    agg = cls.groupBy("type_a", "type_b").agg(
        F.sum((F.col("sx") * F.col("sy") > 0).cast("int")).cast("long").alias("nc"),
        F.sum((F.col("sx") * F.col("sy") < 0).cast("int")).cast("long").alias("nd"),
        F.sum(((F.col("sx") == 0) & (F.col("sy") != 0)).cast("int"))
        .cast("long")
        .alias("tx"),
        F.sum(((F.col("sy") == 0) & (F.col("sx") != 0)).cast("int"))
        .cast("long")
        .alias("ty"),
        F.sum(((F.col("sx") == 0) & (F.col("sy") == 0)).cast("int"))
        .cast("long")
        .alias("txy"),
    )
    return agg.selectExpr(
        "type_a",
        "type_b",
        "nc",
        "nd",
        "tx",
        "ty",
        "txy",
        "CASE WHEN nc + nd + tx > 0 AND nc + nd + ty > 0 THEN"
        " CAST(FLOOR(1000000 * CAST(nc - nd AS DOUBLE)"
        " / (SQRT(CAST(nc + nd + tx AS DOUBLE))"
        "    * SQRT(CAST(nc + nd + ty AS DOUBLE)))) AS BIGINT)"
        " END AS tau_b_ppm",
    )


ORACLE_KENDALL_TAU = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type,
         row_number() OVER (ORDER BY sum(y) DESC, event_type) AS rk
  FROM hourly GROUP BY event_type
),
top2 AS (
  SELECT max(CASE WHEN rk = 1 THEN event_type END) AS type_a,
         max(CASE WHEN rk = 2 THEN event_type END) AS type_b
  FROM ranked WHERE rk <= 2
),
xs AS (
  SELECT t.type_a, t.type_b, epoch_us(h.hour) // 3600000000 AS h, h.y AS x
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_a
),
ys AS (
  SELECT epoch_us(h.hour) // 3600000000 AS h, h.y AS yv
  FROM hourly h CROSS JOIN top2 t WHERE h.event_type = t.type_b
),
aligned AS (
  SELECT xs.type_a, xs.type_b, xs.h, xs.x, ys.yv
  FROM xs JOIN ys ON ys.h = xs.h
),
cls AS (
  SELECT a.type_a, a.type_b,
         CAST(sign(a.x - b.x) AS INT) AS sx,
         CAST(sign(a.yv - b.yv) AS INT) AS sy
  FROM aligned a JOIN aligned b ON a.h < b.h
),
agg AS (
  SELECT type_a, type_b,
         CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         CAST(sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(sum(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
         CAST(sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS txy
  FROM cls GROUP BY 1, 2
)
SELECT type_a, type_b, nc, nd, tx, ty, txy,
       CASE WHEN nc + nd + tx > 0 AND nc + nd + ty > 0 THEN
         CAST(FLOOR(1000000 * CAST(nc - nd AS DOUBLE)
           / (SQRT(CAST(nc + nd + tx AS DOUBLE))
              * SQRT(CAST(nc + nd + ty AS DOUBLE)))) AS BIGINT)
       END AS tau_b_ppm
FROM agg
"""


# -- SRP band-structure tuning curve ------------------------------------------------

SRP_CURVE_MICRO = 8  # finest sweep point: 8 bands x 4 bits (of the 32 planes)
SRP_CURVE_BANDS = [1, 2, 4, 8]
SRP_CURVE_TRUTH_PPM = 400_000  # "near pair" cut — the corpus' top ~60 at sf0.01

# The tuning sheets' scale governor: at FIXED band bits the bucket-join
# candidate volume is Θ(N²/2^bits), so an unbounded input would make the
# knob sheet itself a scale-killer (measured 53× wall at 16× input in
# round 11).  A tuning sheet doesn't need the full corpus — it needs a
# representative sample dense enough to rank the knob settings — so both
# sheets clamp their input to ≤ ~SRP_SHEET_CAP vectors via a DETERMINISTIC
# md5 coin per vec_id (engine-portable: the oracle applies the identical
# predicate, so the strict gate still holds).  Below the cap the predicate
# keeps every row (threshold ≥ 2^32 > any coin), so sf0.01/sf0.1 outputs
# are unchanged; above it the expected sample is SRP_SHEET_CAP and the
# sheet's work is O(cap²/2^bits) = bounded regardless of corpus size.
SRP_SHEET_CAP = 4096


def _srp_sheet_sample(emb: DataFrame) -> DataFrame:
    """Deterministic ≤~{SRP_SHEET_CAP}-vector sample: keep vec_id iff
    coin(vec_id) · N < {SRP_SHEET_CAP} · 2³², where the coin is the first
    8 md5 hex digits (uniform on [0, 2³²)).  Exact integer compare in
    DECIMAL(38,0) — no float threshold to diverge between engines."""
    n = emb.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_sheet_total")
    )
    return (
        emb.crossJoin(F.broadcast(n))
        .filter(
            F.expr(
                "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8),"
                " 16, 10) AS DECIMAL(38,0)) * n_sheet_total"
                f" < CAST({SRP_SHEET_CAP} AS DECIMAL(38,0)) * 4294967296"
            )
        )
        .drop("n_sheet_total")
    )


def _oracle_sheet_sample_cte() -> str:
    """The identical sample as a DuckDB CTE (`emb_s`)."""
    return f"""emb_s AS MATERIALIZED (
  SELECT * FROM embeddings
  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT::HUGEINT
        * (SELECT count(*) FROM embeddings)
        < CAST({SRP_SHEET_CAP} AS HUGEINT) * 4294967296
)"""


def ann_srp_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-candidate-volume CURVE over the SRP band structure —
    the knob sheet behind :func:`ann_srp_lsh`'s fixed {SRP_BANDS}×{SRP_BITS}
    choice (the dedup_threshold_curve / ann_recall_curve pattern: ONE
    candidate build, each sweep point a pure filter).  The same 32 sign
    bits banded 1×32 / 2×16 / 4×8 / 8×4: longer bands prune harder
    (collision prob p^bits) but miss more true near pairs — this op
    measures both sides so the 51× pruning claim carries its recall
    trade-off.

    One-build trick: band matching is CONJUNCTION of constituent
    micro-band matches, so candidates are generated ONCE at the finest
    granularity ({SRP_CURVE_MICRO} micro-bands of
    {SRP_PLANES // SRP_CURVE_MICRO} bits) with a per-pair matched-micro-band
    BITMAP; every coarser config's candidacy is a bitwise test over that
    bitmap (config b matches iff some aligned group of
    {SRP_CURVE_MICRO}//b micro-bands is all-matched).  Candidate sets
    nest (1×32 ⊆ 2×16 ⊆ 4×8 ⊆ 8×4), so counts are monotone in band
    count (pinned).  Recall is RELATIVE to the finest config's found set
    (exact all-pairs truth is the thing LSH exists to avoid; nesting
    makes relative recall well-defined).

    Exactness: sign bits / bitmaps / counts are exact integers on the
    established SRP machinery; the verify cosine is the same exact
    64-bit-integer-dots ppm floor; recall_bp is integer division, guarded
    for an empty reference set.

    Scale shape: ONE bucketed band join (never all-pairs) at the finest
    granularity + ONE exact-cosine verify over its candidates
    (checkpointed); each curve point is a filtered aggregate of that
    bounded scored set.  The input is clamped to the deterministic
    ≤~{SRP_SHEET_CAP}-vector md5 sample (:func:`_srp_sheet_sample`) —
    at fixed band bits the candidate volume is Θ(N²/2^bits), and a
    tuning sheet ranks knob settings on a sample, it doesn't need the
    corpus — so the sheet's cost is bounded at ANY corpus size."""
    emb = _srp_sheet_sample(read_table(spark, sf_dir, "embeddings"))
    micro_bits = SRP_PLANES // SRP_CURVE_MICRO
    ivecs = lineage_cut(_srp_int_vecs(emb))
    # both join sides read bands: without the checkpoint the 32-plane
    # projection pass compiles (and runs) twice inside the bucket join
    bands = lineage_cut(_srp_bands(spark, ivecs, micro_bits))
    a = bands.select("band", "band_val", F.col("vec_id").alias("vec_a"))
    b = bands.select("band", "band_val", F.col("vec_id").alias("vec_b"))
    cands = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), band)"))
            .cast("long")
            .alias("bitmap")
        )
    )
    scored = (
        _srp_cos_ppm(cands, ivecs)
        .select("bitmap", "cos_ppm")
        .transform(lineage_cut)  # one verify pass feeds every point
    )
    ref = scored.agg(
        F.count(F.when(F.col("cos_ppm") >= SRP_CURVE_TRUTH_PPM, 1))
        .cast("long")
        .alias("n_ref")
    )
    out = None
    for nb in SRP_CURVE_BANDS:
        group = SRP_CURVE_MICRO // nb
        mask = (1 << group) - 1
        cand = F.expr(
            " OR ".join(
                f"((shiftright(bitmap, {i * group}) & {mask}) = {mask})"
                for i in range(nb)
            )
        )
        part = (
            scored.agg(
                F.count(F.when(cand, 1)).cast("long").alias("n_candidates"),
                F.count(
                    F.when(cand & (F.col("cos_ppm") >= SRP_CURVE_TRUTH_PPM), 1)
                )
                .cast("long")
                .alias("n_found"),
            )
            .crossJoin(F.broadcast(ref))
            .selectExpr(
                f"CAST({nb} AS BIGINT) AS bands",
                f"CAST({SRP_PLANES // nb} AS BIGINT) AS bits_per_band",
                "n_candidates",
                "n_found",
                "CASE WHEN n_ref > 0 THEN (10000 * n_found) div n_ref END"
                " AS recall_bp",
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_srp_band_curve() -> str:
    micro_bits = SRP_PLANES // SRP_CURVE_MICRO
    points = []
    for nb in SRP_CURVE_BANDS:
        group = SRP_CURVE_MICRO // nb
        mask = (1 << group) - 1
        cand = " OR ".join(
            f"(((bitmap >> {i * group}) & {mask}) = {mask})" for i in range(nb)
        )
        points.append(
            f"""SELECT CAST({nb} AS BIGINT) AS bands,
       CAST({SRP_PLANES // nb} AS BIGINT) AS bits_per_band,
       (SELECT count(*) FROM scored WHERE {cand}) AS n_candidates,
       (SELECT count(*) FROM scored
        WHERE ({cand}) AND cos_ppm >= {SRP_CURVE_TRUTH_PPM}) AS n_found,
       CASE WHEN (SELECT n_ref FROM ref) > 0 THEN
         (10000 * (SELECT count(*) FROM scored
                   WHERE ({cand}) AND cos_ppm >= {SRP_CURVE_TRUTH_PPM}))
         // (SELECT n_ref FROM ref) END AS recall_bp"""
        )
    union = "\nUNION ALL\n".join(points)
    return f"""
WITH {_oracle_sheet_sample_cte()},
dims AS MATERIALIZED (
  SELECT vec_id, CAST(u.d - 1 AS INT) AS d,
         CAST(round(embedding[u.d] * 1000000) AS BIGINT) AS xi
  FROM emb_s, unnest(generate_series(1, 64)) u(d)
),
planes AS MATERIALIZED (
  SELECT CAST(j.j AS INT) AS j, CAST(d.d AS INT) AS d,
         CASE WHEN ('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_'
                    || CAST(d.d AS VARCHAR)), 1, 2))::INT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM unnest(generate_series(0, {SRP_PLANES - 1})) j(j)
  CROSS JOIN unnest(generate_series(0, 63)) d(d)
),
bits AS MATERIALIZED (
  SELECT dims.vec_id, planes.j // {micro_bits} AS band,
         CASE WHEN sum(planes.s * dims.xi) >= 0
              THEN CAST(1 AS BIGINT) << (planes.j % {micro_bits})
              ELSE 0 END AS bitval
  FROM dims JOIN planes ON dims.d = planes.d
  GROUP BY dims.vec_id, planes.j
),
bands AS MATERIALIZED (
  SELECT vec_id, CAST(band AS INT) AS band,
         CAST(sum(bitval) AS BIGINT) AS band_val
  FROM bits GROUP BY 1, 2
),
cands AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(sum(CAST(1 AS BIGINT) << a.band) AS BIGINT) AS bitmap
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
scored AS MATERIALIZED (
  SELECT c.bitmap,
         CAST(FLOOR(1000000 * CAST(sum(CAST(da.xi AS HUGEINT) * db.xi) AS DOUBLE)
              / (SQRT(CAST(sum(CAST(da.xi AS HUGEINT) * da.xi) AS DOUBLE))
                 * SQRT(CAST(sum(CAST(db.xi AS HUGEINT) * db.xi) AS DOUBLE))))
           AS BIGINT) AS cos_ppm
  FROM cands c
  JOIN dims da ON da.vec_id = c.vec_a
  JOIN dims db ON db.vec_id = c.vec_b AND db.d = da.d
  GROUP BY c.vec_a, c.vec_b, c.bitmap
),
ref AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ref FROM scored
  WHERE cos_ppm >= {SRP_CURVE_TRUTH_PPM}
)
{union}
ORDER BY bands
"""


ORACLE_SRP_BAND_CURVE = _oracle_srp_band_curve()


# -- SRP multi-probe LSH --------------------------------------------------------------


def ann_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH (Lv et al. 2007, public) — THE standard
    production recall knob that doesn't cost more hash tables: besides a
    vector's exact band value, probe the {SRP_BITS} neighboring buckets
    at Hamming distance 1 (each sign bit flipped once).  A pair becomes
    a candidate iff some band's signatures differ in ≤ 1 bit — strictly
    a superset of :func:`ann_srp_lsh`'s exact-match candidates, bought
    for a bounded ×({SRP_BITS}+1) probe blow-up instead of more tables.

    Output: one row per probe level — ``hamming_radius`` 0 (exact, the
    production op's set) and 1 (multi-probe) — with candidate volume,
    near-pair yield at the {SRP_CURVE_TRUTH_PPM}-ppm cosine cut, and the
    recall gain of radius 1 over radius 0 in bp (the knob sheet's money
    number).  Monotone by construction (nested sets).

    Exactness: probe values are exact integer XOR bit flips on the
    established md5-derived signatures; min-Hamming per pair is an exact
    integer aggregate; the verify cosine is the exact 64-bit-integer-dots
    ppm floor.

    Scale shape: probes explode each (vec, band) row into
    1+{SRP_BITS} rows (constant factor, map-only), the candidate join
    stays a band-bucket equi-join (never all-pairs), and ONE exact
    verify pass over the radius-1 superset feeds both probe levels.
    The input is clamped to the deterministic ≤~{SRP_SHEET_CAP}-vector
    md5 sample (:func:`_srp_sheet_sample`): at fixed band bits the
    probe-fanned candidate volume is Θ(9·N²/2^bits) — measured 53× wall
    at 16× input unclamped — and a knob sheet ranks probe settings on a
    sample, so its cost is bounded at ANY corpus size."""
    emb = _srp_sheet_sample(read_table(spark, sf_dir, "embeddings"))
    ivecs = lineage_cut(_srp_int_vecs(emb))
    # probes and exact both read bands: checkpoint so the projection
    # pass runs once, not twice
    bands = lineage_cut(_srp_bands(spark, ivecs, SRP_BITS))
    # probe side: the exact value (flip = 0) plus each 1-bit flip
    probes = bands.select(
        "vec_id",
        "band",
        F.explode(
            F.array(
                F.lit(0).cast("int"),
                *[F.lit(i).cast("int") for i in range(1, SRP_BITS + 1)],
            )
        ).alias("flip"),
        "band_val",
    ).select(
        F.col("vec_id").alias("vec_a"),
        "band",
        F.expr(
            "CAST(CASE WHEN flip = 0 THEN band_val ELSE"
            " band_val ^ shiftleft(CAST(1 AS BIGINT), flip - 1) END AS BIGINT)"
        ).alias("probe_val"),
        (F.col("flip") > 0).cast("int").alias("h"),
    )
    exact = bands.select(
        F.col("vec_id").alias("vec_b"),
        "band",
        F.col("band_val").alias("probe_val"),
    )
    cands = (
        probes.join(exact, ["band", "probe_val"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.min("h").cast("long").alias("min_hamming"))
    )
    scored = (
        _srp_cos_ppm(cands, ivecs)
        .select("min_hamming", "cos_ppm")
        .transform(lineage_cut)
    )
    out = None
    for radius in (0, 1):
        part = scored.filter(F.col("min_hamming") <= radius).agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.count(F.when(F.col("cos_ppm") >= SRP_CURVE_TRUTH_PPM, 1))
            .cast("long")
            .alias("n_found"),
        ).selectExpr(
            f"CAST({radius} AS BIGINT) AS hamming_radius",
            "n_candidates",
            "n_found",
        )
        out = part if out is None else out.unionByName(part)
    ref = scored.agg(
        F.count(F.when(F.col("cos_ppm") >= SRP_CURVE_TRUTH_PPM, 1))
        .cast("long")
        .alias("n_ref")
    )
    return out.crossJoin(F.broadcast(ref)).selectExpr(
        "hamming_radius",
        "n_candidates",
        "n_found",
        "CASE WHEN n_ref > 0 THEN (10000 * n_found) div n_ref END"
        " AS recall_vs_r1_bp",
    )


ORACLE_SRP_MULTIPROBE = f"""
WITH {_oracle_sheet_sample_cte()},
dims AS MATERIALIZED (
  SELECT vec_id, CAST(u.d - 1 AS INT) AS d,
         CAST(round(embedding[u.d] * 1000000) AS BIGINT) AS xi
  FROM emb_s, unnest(generate_series(1, 64)) u(d)
),
planes AS MATERIALIZED (
  SELECT CAST(j.j AS INT) AS j, CAST(d.d AS INT) AS d,
         CASE WHEN ('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_'
                    || CAST(d.d AS VARCHAR)), 1, 2))::INT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM unnest(generate_series(0, {SRP_PLANES - 1})) j(j)
  CROSS JOIN unnest(generate_series(0, 63)) d(d)
),
bits AS MATERIALIZED (
  SELECT dims.vec_id, planes.j // {SRP_BITS} AS band,
         CASE WHEN sum(planes.s * dims.xi) >= 0
              THEN CAST(1 AS BIGINT) << (planes.j % {SRP_BITS})
              ELSE 0 END AS bitval
  FROM dims JOIN planes ON dims.d = planes.d
  GROUP BY dims.vec_id, planes.j
),
bands AS MATERIALIZED (
  SELECT vec_id, CAST(band AS INT) AS band,
         CAST(sum(bitval) AS BIGINT) AS band_val
  FROM bits GROUP BY 1, 2
),
probes AS MATERIALIZED (
  SELECT b.vec_id AS vec_a, b.band,
         CAST(CASE WHEN f.f = 0 THEN b.band_val
              ELSE xor(b.band_val, CAST(1 AS BIGINT) << (f.f - 1)) END
           AS BIGINT) AS probe_val,
         CASE WHEN f.f > 0 THEN 1 ELSE 0 END AS h
  FROM bands b CROSS JOIN unnest(generate_series(0, {SRP_BITS})) f(f)
),
cands AS MATERIALIZED (
  SELECT p.vec_a, e.vec_id AS vec_b, CAST(min(p.h) AS BIGINT) AS min_hamming
  FROM probes p JOIN bands e
    ON e.band = p.band AND e.band_val = p.probe_val AND p.vec_a < e.vec_id
  GROUP BY 1, 2
),
scored AS MATERIALIZED (
  SELECT c.min_hamming,
         CAST(FLOOR(1000000 * CAST(sum(CAST(da.xi AS HUGEINT) * db.xi) AS DOUBLE)
              / (SQRT(CAST(sum(CAST(da.xi AS HUGEINT) * da.xi) AS DOUBLE))
                 * SQRT(CAST(sum(CAST(db.xi AS HUGEINT) * db.xi) AS DOUBLE))))
           AS BIGINT) AS cos_ppm
  FROM cands c
  JOIN dims da ON da.vec_id = c.vec_a
  JOIN dims db ON db.vec_id = c.vec_b AND db.d = da.d
  GROUP BY c.vec_a, c.vec_b, c.min_hamming
),
ref AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ref FROM scored
  WHERE cos_ppm >= {SRP_CURVE_TRUTH_PPM}
)
SELECT CAST(r.r AS BIGINT) AS hamming_radius,
       (SELECT count(*) FROM scored WHERE min_hamming <= r.r) AS n_candidates,
       (SELECT count(*) FROM scored
        WHERE min_hamming <= r.r AND cos_ppm >= {SRP_CURVE_TRUTH_PPM}) AS n_found,
       CASE WHEN (SELECT n_ref FROM ref) > 0 THEN
         (10000 * (SELECT count(*) FROM scored
                   WHERE min_hamming <= r.r
                     AND cos_ppm >= {SRP_CURVE_TRUTH_PPM}))
         // (SELECT n_ref FROM ref) END AS recall_vs_r1_bp
FROM unnest(generate_series(0, 1)) r(r)
ORDER BY hamming_radius
"""


# -- golden-record entity resolution ------------------------------------------------

GOLDEN_CC_MAX_ROUNDS = 12
GOLDEN_EDIT_MAX = 4


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record assembly — the MISSING third leg of the ER family
    (er_blocked_pairs generates candidates, er_fellegi_sunter scores
    them; this CLUSTERS matches into entities and survives one canonical
    record per entity, the MDM "golden record" shape): match edges are
    edit-distance ≤ {GOLDEN_EDIT_MAX} pairs inside the composite
    brand×noun blocks (the er_blocked_pairs rule, cited there), entities
    are connected components via POINTER-DOUBLED min-label propagation
    run to a data-dependent fixpoint (stop when no label changes; hard
    cap {GOLDEN_CC_MAX_ROUNDS} rounds, reported as ``rounds_run``), and
    survivorship keeps the lexicographically-first name, the max price
    and size, and the distinct-type count.

    Fixpoint, not a fixed unroll: each round takes the min over the
    1-hop neighbor labels AND label(label(v)) (pointer doubling), so a
    diameter-D match chain converges in O(log D) rounds instead of D —
    a fixed 6-round budget under-converged on >6-hop chains (possible
    inside a ~100-item block) and reported one entity as several.  The
    oracle REPLAYS the same stop rule (unrolls the full cap, picks the
    first round with zero label changes), so both engines stop at the
    same data-dependent round by construction.

    Exactness: labels are integer part keys, min-propagation is exact;
    survivorship fields are exact integers / struct-min strings.

    Scale shape: the edge build is the bounded within-block self-join;
    each propagation round is one join + min-aggregate on the |edges|
    frame plus a 1:1 self-join on the label table, checkpointed per
    round via pregel.iterate (the pagerank cadence) with a
    changed-count convergence probe on the checkpointed state;
    survivorship is one map-side-combined rollup."""
    part = read_table(spark, sf_dir, "part")
    blocked = part.select(
        F.concat_ws(
            "|", "p_brand", F.element_at(F.split("p_name", " "), -1)
        ).alias("block_key"),
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("name"),
        F.col("p_size").alias("psize"),
        F.col("p_type").alias("ptype"),
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("price_cents"),
    )
    golden, rounds = golden_from_blocked(blocked, with_rounds=True)
    return golden.withColumn("rounds_run", F.lit(rounds).cast("long"))


def golden_labels(blocked: DataFrame) -> tuple[DataFrame, int]:
    """Pointer-doubled min-label propagation to fixpoint over the
    blocked records: returns ``(labels (key, label), rounds_run)``.
    Convergence = zero labels changed in the round just run (labels are
    monotone non-increasing, so a no-change round is a global fixpoint
    and the stop round is well-defined for the SQL replay)."""
    a = blocked.select(
        "block_key", F.col("key").alias("key_a"), F.col("name").alias("name_a")
    )
    b = blocked.select(
        "block_key", F.col("key").alias("key_b"), F.col("name").alias("name_b")
    )
    matched = (
        a.join(b, "block_key")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.levenshtein("name_a", "name_b") <= GOLDEN_EDIT_MAX)
        .select("key_a", "key_b")
    )
    edges = lineage_cut(
        matched.unionByName(
            matched.select(
                F.col("key_b").alias("key_a"), F.col("key_a").alias("key_b")
            )
            # every propagation round joins against edges: without this
            # checkpoint the within-block self-join + levenshtein edge build
            # re-executes once per round inside each round's checkpoint
            # action; lineage_cut = reliable checkpoint on clusters
        ),
        eager=True,
    )

    # the label state and the per-round nbr/ptr attach frames are all
    # bounded by the blocked record count and carry exact integer labels
    # (min-propagation is order-independent), so broadcasting them
    # replaces the per-round sort-merge exchanges (measured 3.47 -> 2.26 s
    # for the 4-round fixpoint at sf0.1).  The hint is SIZE-GATED on the
    # measured record count (one cheap count of the blocked projection,
    # invariant across rounds): a broadcast is driver-built and hard-capped
    # at 8 GB / 512 M rows, so at billions of blocked records the
    # unconditional hint would kill the job — above the cap the joins run
    # unhinted and the planner picks a shuffle join.  Placement choice
    # only, values identical either way (pinned by the forced-low-cap
    # round-13 test).
    n_rec = blocked.count()

    def step(state: DataFrame) -> DataFrame:
        lab = state.select("key", "label")
        nbr = (
            edges.join(
                maybe_broadcast(
                    lab.select(
                        F.col("key").alias("key_b"), F.col("label").alias("nl")
                    ),
                    n_rec,
                ),
                "key_b",
            )
            .groupBy(F.col("key_a").alias("key"))
            .agg(F.min("nl").alias("nbr_min"))
        )
        # pointer doubling: label(label(v)) — labels are always some
        # record's key (mins over initial self-labels), so the self-join
        # is 1:1 on the unique key column
        ptr = lab.join(
            maybe_broadcast(
                lab.select(
                    F.col("key").alias("pk"), F.col("label").alias("ptr_label")
                ),
                n_rec,
            ),
            F.col("label") == F.col("pk"),
            "left",
        ).select("key", "ptr_label")
        return (
            lab.join(maybe_broadcast(nbr, n_rec), "key", "left")
            .join(maybe_broadcast(ptr, n_rec), "key", "left")
            .select(
                "key",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_min"), F.col("label")),
                    F.coalesce(F.col("ptr_label"), F.col("label")),
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
        )

    def converged(cur: DataFrame) -> bool:
        return (
            cur.filter(F.col("label") != F.col("old_label")).limit(1).count()
            == 0
        )

    labels0 = blocked.select("key", F.col("key").alias("label"))
    labels, rounds = pregel.iterate(
        labels0,
        step,
        max_rounds=GOLDEN_CC_MAX_ROUNDS,
        checkpoint_every=1,
        converged=converged,
    )
    return labels.select("key", "label"), rounds


def golden_from_blocked(
    blocked: DataFrame, with_rounds: bool = False
) -> DataFrame | tuple[DataFrame, int]:
    """Cluster + survive over a (block_key, key, name, psize, ptype,
    price_cents) records frame — factored so known-value pins can feed
    hand-built duplicate groups."""
    labels, rounds = golden_labels(blocked)
    ent = blocked.join(labels, "key")
    golden = (
        ent.groupBy(F.col("label").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(F.struct("key", "name")).alias("first_rec"),
            F.max("price_cents").cast("long").alias("max_price_cents"),
            F.max("psize").cast("long").alias("max_size"),
            F.count_distinct("ptype").cast("long").alias("n_types"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "entity_id",
            "n_members",
            F.col("first_rec.name").alias("canonical_name"),
            "max_price_cents",
            "max_size",
            "n_types",
        )
    )
    if with_rounds:
        return golden, rounds
    return golden


def _oracle_golden() -> str:
    """SQL replay of golden_labels' data-dependent stop: unroll the full
    {GOLDEN_CC_MAX_ROUNDS}-round cap with pointer doubling, count per-round
    label changes, and survive at the FIRST round with zero changes (the
    loop's exact probe) — capped at the same bound."""
    rounds = []
    prev = "l0"
    for t in range(1, GOLDEN_CC_MAX_ROUNDS + 1):
        rounds.append(f"""
l{t} AS MATERIALIZED (
  SELECT l.key,
         least(l.label,
               coalesce(min(nl.label), l.label),
               coalesce(min(pl.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN edges e ON e.key_a = l.key
  LEFT JOIN {prev} nl ON nl.key = e.key_b
  LEFT JOIN {prev} pl ON pl.key = l.label
  GROUP BY l.key, l.label
)""".strip())
        prev = f"l{t}"
    rounds_sql = ",\n".join(rounds)
    changes = "\nUNION ALL\n".join(
        f"SELECT {t} AS k, count(*) AS n FROM l{t} a"
        f" JOIN l{t - 1} b ON a.key = b.key AND a.label <> b.label"
        for t in range(1, GOLDEN_CC_MAX_ROUNDS + 1)
    )
    labels_all = "\nUNION ALL\n".join(
        f"SELECT {t} AS k, key, label FROM l{t}"
        for t in range(1, GOLDEN_CC_MAX_ROUNDS + 1)
    )
    return f"""
WITH blocked AS MATERIALIZED (
  SELECT p_brand || '|' || string_split(p_name, ' ')[-1] AS block_key,
         p_partkey AS key, p_name AS name, p_size AS psize, p_type AS ptype,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
),
matched AS MATERIALIZED (
  SELECT a.key AS key_a, b.key AS key_b
  FROM blocked a JOIN blocked b
    ON a.block_key = b.block_key AND a.key < b.key
  WHERE levenshtein(a.name, b.name) <= {GOLDEN_EDIT_MAX}
),
edges AS MATERIALIZED (
  SELECT key_a, key_b FROM matched
  UNION ALL
  SELECT key_b, key_a FROM matched
),
l0 AS MATERIALIZED (SELECT key, key AS label FROM blocked),
{rounds_sql},
changes AS (
{changes}
),
chosen AS (
  SELECT CAST(coalesce(min(k), {GOLDEN_CC_MAX_ROUNDS}) AS BIGINT) AS rounds_run
  FROM changes WHERE n = 0
),
labels_all AS (
{labels_all}
)
SELECT label AS entity_id,
       CAST(count(*) AS BIGINT) AS n_members,
       (min(struct_pack(k := e.key, nm := b.name))).nm AS canonical_name,
       CAST(max(b.price_cents) AS BIGINT) AS max_price_cents,
       CAST(max(b.psize) AS BIGINT) AS max_size,
       CAST(count(DISTINCT b.ptype) AS BIGINT) AS n_types,
       ch.rounds_run
FROM labels_all e
CROSS JOIN chosen ch
JOIN blocked b ON e.key = b.key
WHERE e.k = ch.rounds_run
GROUP BY label, ch.rounds_run
HAVING count(*) >= 2
ORDER BY entity_id
"""


# -- corpus KL/JS drift ---------------------------------------------------------------


def corpus_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between the two source HALVES of the
    corpus (src0–9 vs src10–19) — the distribution-shift audit a
    training-data pipeline runs between crawl snapshots or data sources:
    add-one-smoothed unigram distributions P and Q over the shared
    vocabulary, reported as both directed KLs and the symmetric,
    bounded Jensen–Shannon divergence.

    Exactness: token counts are exact; every ratio inside the lns is a
    ratio of exact integers ((c+1)·(n'+V) forms — the smoothing makes
    them strictly positive); each per-token term is floored to micro so
    the divergence totals are exact integer sums (order-free); the JS
    halving is floor-division in both engines.

    Scale shape: one token-keyed count shuffle (the unigram-LM shuffle),
    a full-outer merge of the two count columns on the token key, then
    one map-side-combined total — no per-token state beyond the count."""
    docs = read_table(spark, sf_dir, "documents")
    grp = F.when(
        F.substring("source", 4, 10).cast("int") < 10, F.lit("a")
    ).otherwise(F.lit("b"))
    tok = docs.select(
        grp.alias("grp"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
    )
    return kl_from_grouped_tokens(tok)


def kl_from_grouped_tokens(tok: DataFrame) -> DataFrame:
    """KL/JS over a (grp in 'a'/'b', token) frame — factored so
    known-value pins can feed hand token streams."""
    counts = (
        tok.groupBy("token")
        .agg(
            F.sum((F.col("grp") == "a").cast("long")).alias("ca"),
            F.sum((F.col("grp") == "b").cast("long")).alias("cb"),
        )
    )
    return kl_from_counts(counts)


def kl_from_counts(counts: DataFrame) -> DataFrame:
    """The divergence finisher over a (token, ca, cb) count rollup —
    shared verbatim by the streaming twin, whose state IS this rollup."""
    w_all = Window.partitionBy(const_part(F.col("token")))
    base = (
        counts.withColumn("na", F.sum("ca").over(w_all).cast("long"))
        .withColumn("nb", F.sum("cb").over(w_all).cast("long"))
        .withColumn("v", F.count(F.lit(1)).over(w_all).cast("long"))
    )
    terms = base.selectExpr(
        "na",
        "nb",
        "v",
        # p = (ca+1)/(na+V), q = (cb+1)/(nb+V); all ln args are exact ints
        "CAST(FLOOR(1000000 * (CAST(ca + 1 AS DOUBLE) / (na + v))"
        " * (LN(CAST(ca + 1 AS DOUBLE) * (nb + v))"
        "    - LN(CAST(cb + 1 AS DOUBLE) * (na + v)))) AS BIGINT) AS t_pq",
        "CAST(FLOOR(1000000 * (CAST(cb + 1 AS DOUBLE) / (nb + v))"
        " * (LN(CAST(cb + 1 AS DOUBLE) * (na + v))"
        "    - LN(CAST(ca + 1 AS DOUBLE) * (nb + v)))) AS BIGINT) AS t_qp",
        # p/m = 2(ca+1)(nb+V) / ((ca+1)(nb+V) + (cb+1)(na+V)) — integer args
        "CAST(FLOOR(1000000 * (CAST(ca + 1 AS DOUBLE) / (na + v))"
        " * (LN(2.0 * (CAST(ca + 1 AS DOUBLE) * (nb + v)))"
        "    - LN(CAST(ca + 1 AS DOUBLE) * (nb + v)"
        "         + CAST(cb + 1 AS DOUBLE) * (na + v)))) AS BIGINT) AS t_pm",
        "CAST(FLOOR(1000000 * (CAST(cb + 1 AS DOUBLE) / (nb + v))"
        " * (LN(2.0 * (CAST(cb + 1 AS DOUBLE) * (na + v)))"
        "    - LN(CAST(ca + 1 AS DOUBLE) * (nb + v)"
        "         + CAST(cb + 1 AS DOUBLE) * (na + v)))) AS BIGINT) AS t_qm",
    )
    return terms.groupBy().agg(
        F.max("v").alias("vocab"),
        F.max("na").alias("n_tok_a"),
        F.max("nb").alias("n_tok_b"),
        F.sum("t_pq").cast("long").alias("kl_ab_micro"),
        F.sum("t_qp").cast("long").alias("kl_ba_micro"),
        F.sum("t_pm").cast("long").alias("_pm"),
        F.sum("t_qm").cast("long").alias("_qm"),
    ).selectExpr(
        "vocab",
        "n_tok_a",
        "n_tok_b",
        "kl_ab_micro",
        "kl_ba_micro",
        "shiftright(_pm + _qm, 1) AS js_micro",
    )


ORACLE_KL_DRIFT = """
WITH tok AS (
  SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10
              THEN 'a' ELSE 'b' END AS grp,
         unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
counts AS (
  SELECT token,
         CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM tok GROUP BY token
),
base AS (
  SELECT *, sum(ca) OVER () AS na, sum(cb) OVER () AS nb,
         count(*) OVER () AS v
  FROM counts
),
terms AS (
  SELECT na, nb, v,
    CAST(FLOOR(1000000 * (CAST(ca + 1 AS DOUBLE) / (na + v))
      * (LN(CAST(ca + 1 AS DOUBLE) * (nb + v))
         - LN(CAST(cb + 1 AS DOUBLE) * (na + v)))) AS BIGINT) AS t_pq,
    CAST(FLOOR(1000000 * (CAST(cb + 1 AS DOUBLE) / (nb + v))
      * (LN(CAST(cb + 1 AS DOUBLE) * (na + v))
         - LN(CAST(ca + 1 AS DOUBLE) * (nb + v)))) AS BIGINT) AS t_qp,
    CAST(FLOOR(1000000 * (CAST(ca + 1 AS DOUBLE) / (na + v))
      * (LN(2.0 * (CAST(ca + 1 AS DOUBLE) * (nb + v)))
         - LN(CAST(ca + 1 AS DOUBLE) * (nb + v)
              + CAST(cb + 1 AS DOUBLE) * (na + v)))) AS BIGINT) AS t_pm,
    CAST(FLOOR(1000000 * (CAST(cb + 1 AS DOUBLE) / (nb + v))
      * (LN(2.0 * (CAST(cb + 1 AS DOUBLE) * (na + v)))
         - LN(CAST(ca + 1 AS DOUBLE) * (nb + v)
              + CAST(cb + 1 AS DOUBLE) * (na + v)))) AS BIGINT) AS t_qm
  FROM base
)
SELECT CAST(max(v) AS BIGINT) AS vocab,
       CAST(max(na) AS BIGINT) AS n_tok_a,
       CAST(max(nb) AS BIGINT) AS n_tok_b,
       CAST(sum(t_pq) AS BIGINT) AS kl_ab_micro,
       CAST(sum(t_qp) AS BIGINT) AS kl_ba_micro,
       CAST((CAST(sum(t_pm) AS BIGINT) + CAST(sum(t_qm) AS BIGINT)) // 2
            AS BIGINT) AS js_micro
FROM terms
"""


# -- store: row tracking ------------------------------------------------------------


def store_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking end to end, driver-verifiable — the Delta row-ID
    contract on the CoW store (stable row identity across updates and
    re-layouts, minted per commit, retired by DELETE, REISSUED on
    re-insert): v0 init with ``row_tracking=True`` (ids minted per md5
    bucket — bucket·capacity + in-bucket rank by doc_id, one window task
    per bucket; the oracle replays the same md5 arithmetic)
    → v1 upsert (docs 1–2 updated — ids INHERITED; docs 900001–900002
    inserted — ids minted in v1's namespace) → v2 compact (pure
    re-layout — every id carried verbatim) → v3 DELETE doc 3 (id
    retired) → v4 re-insert doc 3 (a NEW identity in v4's namespace, the
    resurrect-is-a-new-row rule).

    Ids live in the (commit version << 40) namespace, so grouping the final
    table by ``_row_id >> 40`` exposes exactly which commit minted each
    surviving row's identity — the oracle replays the whole protocol
    arithmetically.  Hash-asserted: per-epoch row counts, doc_id sums,
    and min/max ids (an id drift of ±1, a lost inherit, a compaction
    remint, or a resurrected identity all break the hash)."""
    from mongraph_spark.sources import merge as merge_store

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    root = scratch_dir(spark, sf_dir, "rowtrack")
    merge_store.init_table(docs, root, key="doc_id", n_buckets=8, row_tracking=True)
    updates = docs.filter(F.col("doc_id").isin(1, 2)).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    inserts = spark.createDataFrame(
        [(900001, "srcX", 11), (900002, "srcX", 22)],
        "doc_id long, source string, n_chars long",
    )
    merge_store.upsert(spark, root, updates.unionByName(inserts), key="doc_id")
    merge_store.compact(spark, root)
    merge_store.delete_where(spark, root, F.col("doc_id") == 3)
    merge_store.upsert(
        spark,
        root,
        docs.filter(F.col("doc_id") == 3).withColumn("source", F.lit("reborn")),
        key="doc_id",
    )
    cur = merge_store.read_current(spark, root, with_row_ids=True)
    return cur.selectExpr(
        "doc_id",
        "n_chars",
        "shiftright(_row_id, 40) AS id_epoch",
        "_row_id",
    ).groupBy("id_epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("_row_id").cast("long").alias("min_row_id"),
        F.max("_row_id").cast("long").alias("max_row_id"),
    )


ORACLE_ROW_TRACKING = """
WITH b0 AS (  -- the md5 mint bucket (n_buckets = 8), engine-portable
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS mb
  FROM documents
),
v0 AS (  -- init ids: bucket * (2^40 / 8) + in-bucket rank by doc_id
  SELECT doc_id, source, n_chars,
         CAST(mb * 137438953472
              + row_number() OVER (PARTITION BY mb ORDER BY doc_id)
           AS BIGINT) AS rid
  FROM b0
),
final AS (
  -- doc 3's ORIGINAL identity was deleted at v3; its v4 re-insert is a
  -- new row in v4's namespace (rank 1 of a 1-row batch)
  SELECT doc_id,
         n_chars + CASE WHEN doc_id IN (1, 2) THEN 1000 ELSE 0 END AS n_chars,
         CASE WHEN doc_id = 3 THEN 4 * 1099511627776 + 1 ELSE rid END AS rid
  FROM v0
  UNION ALL
  -- v1 inserts: rank by doc_id among the batch's NEW keys
  SELECT 900001, 11, 1 * 1099511627776 + 1
  UNION ALL
  SELECT 900002, 22, 1 * 1099511627776 + 2
)
SELECT rid // 1099511627776 AS id_epoch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(rid) AS BIGINT) AS min_row_id,
       CAST(max(rid) AS BIGINT) AS max_row_id
FROM final
GROUP BY 1
ORDER BY 1
"""


# -- Jarque-Bera normality test -----------------------------------------------------


def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test per event type — the moment-based
    normality screen (are the per-event cents values Gaussian enough for
    the normal-theory tests — Bartlett, Welch — to be trusted?):
    JB = n/6·(S² + (K−3)²/4) from sample skewness S and kurtosis K.

    Exactness: one pass collects exact Σx, Σx², Σx³, Σx⁴ in DECIMAL(38)
    (cents⁴ sums fit to ~sf1); the central-moment NUMERATORS are exact
    integer polynomials (n·s2−s1², n²·s3−3n·s1·s2+2·s1³, …) and S, K, JB
    are per-row IEEE expressions over those integers — identical trees in
    both engines — with ppm floors.

    Scale shape: ONE map-side-combined moment aggregation; everything
    after is |types| rows."""
    ev = read_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    d38 = "decimal(38,0)"
    mom = ev.select("event_type", x.alias("x")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("s1"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("s2"),
        F.sum(F.col("x").cast(d38) * F.col("x") * F.col("x")).alias("s3"),
        F.sum(
            F.col("x").cast(d38) * F.col("x") * F.col("x") * F.col("x")
        ).alias("s4"),
    )
    nums = mom.selectExpr(
        "event_type",
        "n",
        "CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS num2",
        "CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * s3"
        " - 3 * CAST(n AS DECIMAL(38,0)) * s1 * s2 + 2 * s1 * s1 * s1 AS num3",
        "CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " * CAST(n AS DECIMAL(38,0)) * s4"
        " - 4 * CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * s1 * s3"
        " + 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2"
        " - 3 * s1 * s1 * s1 * s1 AS num4",
    )
    # m2 = num2/n^2, m3 = num3/n^3, m4 = num4/n^4;
    # S = m3/m2^1.5, K = m4/m2^2 — the n powers collapse: S = num3/num2^1.5
    # * n^(3/2-3+... keep explicit doubles from the exact integers
    return nums.selectExpr(
        "event_type",
        "n",
        "CAST(FLOOR(1000000 * (CAST(num3 AS DOUBLE) / CAST(n AS DOUBLE)"
        " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))"
        " / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),"
        " 1.5)) AS BIGINT) AS skew_ppm",
        "CAST(FLOOR(1000000 * ((CAST(num4 AS DOUBLE) / CAST(n AS DOUBLE)"
        " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))"
        " / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),"
        " 2.0) - 3.0)) AS BIGINT) AS exkurt_ppm",
        "CAST(FLOOR(1000000 * CAST(n AS DOUBLE) / 6.0 * ("
        " POW((CAST(num3 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"
        "  / CAST(n AS DOUBLE))"
        "  / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),"
        "  1.5), 2.0)"
        " + POW((CAST(num4 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"
        "   / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))"
        "   / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),"
        "   2.0) - 3.0, 2.0) / 4.0)) AS BIGINT) AS jb_ppm",
    )


ORACLE_JARQUE_BERA = """
WITH mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS s2,
         CAST(sum(CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS s3,
         CAST(sum(CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS s4
  FROM events GROUP BY event_type
),
nums AS (
  SELECT event_type, n,
         CAST(n AS HUGEINT) * s2 - s1 * s1 AS num2,
         CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * s3
         - 3 * CAST(n AS HUGEINT) * s1 * s2 + 2 * s1 * s1 * s1 AS num3,
         CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * s4
         - 4 * CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * s1 * s3
         + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
         - 3 * s1 * s1 * s1 * s1 AS num4
  FROM mom
)
SELECT event_type, n,
       CAST(FLOOR(1000000 * (CAST(num3 AS DOUBLE) / CAST(n AS DOUBLE)
         / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
         / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),
         1.5)) AS BIGINT) AS skew_ppm,
       CAST(FLOOR(1000000 * ((CAST(num4 AS DOUBLE) / CAST(n AS DOUBLE)
         / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
         / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),
         2.0) - 3.0)) AS BIGINT) AS exkurt_ppm,
       CAST(FLOOR(1000000 * CAST(n AS DOUBLE) / 6.0 * (
         POW((CAST(num3 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
          / CAST(n AS DOUBLE))
          / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),
          1.5), 2.0)
         + POW((CAST(num4 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
           / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
           / POW(CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE),
           2.0) - 3.0, 2.0) / 4.0)) AS BIGINT) AS jb_ppm
FROM nums
ORDER BY event_type
"""


# -- Ljung-Box portmanteau test ------------------------------------------------------

LB_LAGS = 12


def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per event type — is the hourly cents
    series white noise ACROSS the first {LB_LAGS} lags jointly?  The
    whole-correlogram companion to events_autocorrelation (which reports
    each lag separately):  Q = n(n+2)·Σ_k r_k²/(n−k) ~ χ²(K).

    Exactness: each r_k is the exact rational num_k/den from the ACF's
    integer dev sums; each r_k²/(n−k) term is a per-row IEEE expression
    over those exact integers, floored to the micro grid, so the K-term
    sum is an exact integer sum; Q rides out as n(n+2)·Σ on the same
    grid.

    Scale shape: identical to the ACF — hourly rollup, {LB_LAGS} bounded
    per-type lag joins, one |types|-row finisher."""
    hourly = _hourly_cents(spark, sf_dir)
    return ljung_box_finish(hourly)


def ljung_box_finish(hourly: DataFrame) -> DataFrame:
    """The portmanteau test over a (event_type, hour, y) rollup —
    factored for known-value pins and a future streaming twin."""
    w_all = Window.partitionBy("event_type")
    w_t = Window.partitionBy("event_type").orderBy("hour")
    pts = (
        hourly.withColumn("s", F.sum("y").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn("t", F.row_number().over(w_t).cast("long"))
        .withColumn(
            "dev",
            (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")),
        )
    )
    den = pts.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_hours"),
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
    )
    a = pts.select("event_type", "t", F.col("dev").alias("da"))
    b = pts.select(
        F.col("event_type").alias("et_b"), F.col("t").alias("tb"),
        F.col("dev").alias("db"),
    )
    lag = F.explode(F.sequence(F.lit(1), F.lit(LB_LAGS))).alias("k")
    num = (
        a.select("event_type", "t", "da", lag)
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("tb") == F.col("t") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(F.sum(F.col("da") * F.col("db")).alias("num"))
    )
    terms = num.join(den, "event_type").selectExpr(
        "event_type",
        "n_hours",
        # r_k^2/(n-k) on the micro grid, from exact integers
        "CAST(FLOOR(1000000 * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " / CAST(n_hours - k AS DOUBLE)) AS BIGINT) AS term_micro",
    )
    return terms.groupBy("event_type").agg(
        F.max("n_hours").alias("n_hours"),
        F.count(F.lit(1)).cast("long").alias("k_lags"),
        F.sum("term_micro").cast("long").alias("sum_micro"),
    ).selectExpr(
        "event_type",
        "n_hours",
        "k_lags",
        "n_hours * (n_hours + 2) * sum_micro AS q_micro",
    )


ORACLE_LJUNG_BOX = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS t,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(y) OVER (PARTITION BY event_type) AS s
  FROM hourly
),
dv AS (
  SELECT event_type, CAST(t AS BIGINT) AS t,
         CAST(n AS HUGEINT) * y - s AS dev, n
  FROM pts
),
den AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n_hours,
         sum(dev * dev) AS den
  FROM dv GROUP BY 1
),
num AS (
  SELECT a.event_type, l.k, sum(a.dev * b.dev) AS num
  FROM dv a
  CROSS JOIN (SELECT unnest(generate_series(1, {LB_LAGS})) AS k) l
  JOIN dv b ON a.event_type = b.event_type AND b.t = a.t + l.k
  GROUP BY 1, 2
),
terms AS (
  SELECT n.event_type, d.n_hours,
         CAST(FLOOR(1000000 * (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE))
           * (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE))
           / CAST(d.n_hours - n.k AS DOUBLE)) AS BIGINT) AS term_micro
  FROM num n JOIN den d ON n.event_type = d.event_type
)
SELECT event_type, CAST(max(n_hours) AS BIGINT) AS n_hours,
       CAST(count(*) AS BIGINT) AS k_lags,
       CAST(max(n_hours) * (max(n_hours) + 2) * sum(term_micro) AS BIGINT)
         AS q_micro
FROM terms GROUP BY event_type
ORDER BY event_type
"""


# -- Cohen's d / Hedges' g effect size ------------------------------------------------


def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g between purchase and click event values —
    the EFFECT-SIZE companion to the battery's Welch t (significance
    says "different"; d says "by how much, in pooled-SD units"), with
    the small-sample g correction 1 − 3/(4·df − 1).

    Exactness: both groups' n/Σx/Σx² are exact; the pooled variance
    numerator (n−1)s² = (n·Σx² − (Σx)²)/n enters on an explicit micro
    grid per group so the pooled sum is exact; d and g are per-row IEEE
    over exact integers, floored to ppm.

    Scale shape: ONE two-group conditional-aggregation scan."""
    ev = read_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    d38 = "decimal(38,0)"
    grp = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", x.alias("x"))
        .groupBy()
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("n1"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("x")).otherwise(0).cast(d38)
            ).alias("sx1"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("x").cast(d38) * F.col("x"),
                ).otherwise(F.lit(0).cast(d38))
            ).alias("sq1"),
            F.sum((F.col("event_type") == "click").cast("long")).alias("n2"),
            F.sum(
                F.when(F.col("event_type") == "click", F.col("x")).otherwise(0).cast(d38)
            ).alias("sx2"),
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.col("x").cast(d38) * F.col("x"),
                ).otherwise(F.lit(0).cast(d38))
            ).alias("sq2"),
        )
    )
    # (n-1)s^2 per group on the micro grid: (1e6 (n sq - sx^2)) div n
    return grp.selectExpr(
        "n1",
        "n2",
        "CAST(sx1 div CAST(n1 AS DECIMAL(38,0)) AS BIGINT) AS mean1_cents",
        "CAST(sx2 div CAST(n2 AS DECIMAL(38,0)) AS BIGINT) AS mean2_cents",
        "CAST(FLOOR(1000000 *"
        " (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        "  - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / SQRT((CAST((1000000 * (CAST(n1 AS DECIMAL(38,0)) * sq1 - sx1 * sx1))"
        "         div CAST(n1 AS DECIMAL(38,0)) AS DOUBLE)"
        "       + CAST((1000000 * (CAST(n2 AS DECIMAL(38,0)) * sq2 - sx2 * sx2))"
        "         div CAST(n2 AS DECIMAL(38,0)) AS DOUBLE))"
        "      / 1e6 / CAST(n1 + n2 - 2 AS DOUBLE))) AS BIGINT) AS d_ppm",
        "CAST(FLOOR((1.0 - 3.0 / (4.0 * CAST(n1 + n2 - 2 AS DOUBLE) - 1.0))"
        " * 1000000 *"
        " (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        "  - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / SQRT((CAST((1000000 * (CAST(n1 AS DECIMAL(38,0)) * sq1 - sx1 * sx1))"
        "         div CAST(n1 AS DECIMAL(38,0)) AS DOUBLE)"
        "       + CAST((1000000 * (CAST(n2 AS DECIMAL(38,0)) * sq2 - sx2 * sx2))"
        "         div CAST(n2 AS DECIMAL(38,0)) AS DOUBLE))"
        "      / 1e6 / CAST(n1 + n2 - 2 AS DOUBLE))) AS BIGINT) AS g_ppm",
    )


ORACLE_COHENS_D = """
WITH grp AS (
  SELECT
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS sx1,
    CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)
             ELSE 0 END) AS HUGEINT) AS sq1,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN event_type = 'click'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS sx2,
    CAST(sum(CASE WHEN event_type = 'click'
             THEN CAST(round(value * 100) AS HUGEINT)
                  * CAST(round(value * 100) AS HUGEINT)
             ELSE 0 END) AS HUGEINT) AS sq2
  FROM events WHERE event_type IN ('purchase', 'click')
)
SELECT n1, n2,
       CAST(sx1 // CAST(n1 AS HUGEINT) AS BIGINT) AS mean1_cents,
       CAST(sx2 // CAST(n2 AS HUGEINT) AS BIGINT) AS mean2_cents,
       CAST(FLOOR(1000000 *
         (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / SQRT((CAST((1000000 * (CAST(n1 AS HUGEINT) * sq1 - sx1 * sx1))
                 // CAST(n1 AS HUGEINT) AS DOUBLE)
               + CAST((1000000 * (CAST(n2 AS HUGEINT) * sq2 - sx2 * sx2))
                 // CAST(n2 AS HUGEINT) AS DOUBLE))
              / 1e6 / CAST(n1 + n2 - 2 AS DOUBLE))) AS BIGINT) AS d_ppm,
       CAST(FLOOR((1.0 - 3.0 / (4.0 * CAST(n1 + n2 - 2 AS DOUBLE) - 1.0))
         * 1000000 *
         (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / SQRT((CAST((1000000 * (CAST(n1 AS HUGEINT) * sq1 - sx1 * sx1))
                 // CAST(n1 AS HUGEINT) AS DOUBLE)
               + CAST((1000000 * (CAST(n2 AS HUGEINT) * sq2 - sx2 * sx2))
                 // CAST(n2 AS HUGEINT) AS DOUBLE))
              / 1e6 / CAST(n1 + n2 - 2 AS DOUBLE))) AS BIGINT) AS g_ppm
FROM grp
"""


QUERIES = {
    "stats_logrank": stats_logrank,
    "stats_moods_median": stats_moods_median,
    "stats_bartlett": stats_bartlett,
    "stats_fisher_exact": stats_fisher_exact,
    "stats_bradley_terry": stats_bradley_terry,
    "events_hurst_exponent": events_hurst_exponent,
    "events_permutation_entropy": events_permutation_entropy,
    "events_cross_correlation": events_cross_correlation,
    "events_theta_forecast": events_theta_forecast,
    "events_binseg_changepoint": events_binseg_changepoint,
    "ann_srp_lsh": ann_srp_lsh,
    "ann_srp_band_curve": ann_srp_band_curve,
    "ann_srp_multiprobe": ann_srp_multiprobe,
    "stats_granger_causality": stats_granger_causality,
    "stats_kendall_tau": stats_kendall_tau,
    "stats_dickey_fuller": stats_dickey_fuller,
    "er_golden_record": er_golden_record,
    "corpus_kl_drift": corpus_kl_drift,
    "store_row_tracking": store_row_tracking,
    "stats_jarque_bera": stats_jarque_bera,
    "stats_ljung_box": stats_ljung_box,
    "stats_cohens_d": stats_cohens_d,
}

ORACLES = {
    "stats_logrank": ORACLE_LOGRANK,
    "stats_moods_median": ORACLE_MOODS_MEDIAN,
    "stats_bartlett": ORACLE_BARTLETT,
    "stats_fisher_exact": ORACLE_FISHER,
    "stats_bradley_terry": _oracle_bradley_terry(),
    "events_hurst_exponent": ORACLE_HURST,
    "events_permutation_entropy": ORACLE_PERM_ENTROPY,
    "events_cross_correlation": ORACLE_CCF,
    "events_theta_forecast": ORACLE_THETA,
    "events_binseg_changepoint": ORACLE_BINSEG,
    "ann_srp_lsh": ORACLE_SRP,
    "ann_srp_band_curve": ORACLE_SRP_BAND_CURVE,
    "ann_srp_multiprobe": ORACLE_SRP_MULTIPROBE,
    "stats_granger_causality": ORACLE_GRANGER,
    "stats_kendall_tau": ORACLE_KENDALL_TAU,
    "stats_dickey_fuller": ORACLE_DICKEY_FULLER,
    "er_golden_record": _oracle_golden(),
    "corpus_kl_drift": ORACLE_KL_DRIFT,
    "store_row_tracking": ORACLE_ROW_TRACKING,
    "stats_jarque_bera": ORACLE_JARQUE_BERA,
    "stats_ljung_box": ORACLE_LJUNG_BOX,
    "stats_cohens_d": ORACLE_COHENS_D,
}
