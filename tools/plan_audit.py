"""Physical-plan audit over the registered query surface: compile every
``queries()`` (and optionally extended) entry at a given SF and tabulate
the plan-health signals the scale story depends on — shuffle count, join
strategies, Python-eval stages, cartesians and unpartitioned windows.

This is the sweeping version of the per-query plan pins in tests/: those
freeze specific properties of specific plans; this reports the whole
surface so a regression anywhere is visible in one diff (the output is
committed as PLAN_AUDIT.md).

Usage: python tools/plan_audit.py [--extended] [--sf-dir DIR] [--out PLAN_AUDIT.md]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from mongraph_spark.sparkutil import get_spark  # noqa: E402

SIGNALS = [
    ("exchanges", r"Exchange hashpartitioning"),
    ("broadcasts", r"BroadcastExchange"),
    ("smj", r"SortMergeJoin"),
    ("bhj", r"BroadcastHashJoin"),
    ("global_sorts", r"Sort \[[^\]]*\], true"),  # Sort [...], true = global
    ("py_eval", r"BatchEvalPython|ArrowEvalPython"),  # row/scalar Python
    ("arrow_map", r"MapInPandas|FlatMapGroupsInPandas"),
    # cartesians: only 1-row/scalar attachments are legitimate — anything
    # else is a quadratic blowup waiting for scale
    ("cartesian", r"CartesianProduct|BroadcastNestedLoopJoin"),
]

# A Window with an empty partition spec moves ALL rows to one task.  Spark
# ELIDES an empty partition spec from the plan string (an unpartitioned
# window prints `Window [exprs], [order]` — no `[]` marker), so it cannot
# be detected from the Window line alone; what IS reliable is the physical
# prerequisite: an `Exchange SinglePartition` feeding the Window (through
# the Sort Spark inserts for the frame ordering).  const_part() sites hash-
# partition on a literal and so do NOT produce Exchange SinglePartition.
_UNPART_WINDOW = re.compile(
    r"Window [^\n]*\n(?:[^\n]*\n){0,2}?[^\n]*Exchange SinglePartition"
)


def count_unpart_windows(plan: str) -> int:
    return len(_UNPART_WINDOW.findall(plan))


def selftest_unpart_window(spark) -> None:
    """The r6 pattern could never match (silent false-negative in the
    evidence channel); pin that this one matches a known unpartitioned
    window and does NOT match a partitioned one."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("r", F.row_number().over(W.orderBy("id")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_unpart_windows(plan) >= 1, plan
    part = spark.range(100).withColumn(
        "r", F.row_number().over(W.partitionBy(F.col("id") % 7).orderBy("id"))
    )
    pplan = part._jdf.queryExecution().executedPlan().toString()
    assert count_unpart_windows(pplan) == 0, pplan


def audit_one(spark, name, fn, sf_dir) -> dict | None:
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception as exc:  # compile failure is itself a finding
        return {"query": name, "error": str(exc).splitlines()[0][:120]}
    row = {"query": name, "compile_sec": round(time.perf_counter() - t0, 2)}
    for key, pat in SIGNALS:
        row[key] = len(re.findall(pat, plan))
    row["unpart_window"] = count_unpart_windows(plan)
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--extended", action="store_true")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLAN_AUDIT.md")
    args = ap.parse_args()

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    selftest_unpart_window(spark)

    qs = dict(entrymod.queries())
    if args.extended:
        qs.update(entrymod.extended_queries())

    rows, errors = [], []
    for name, fn in qs.items():
        r = audit_one(spark, name, fn, args.sf_dir)
        if r is None:
            continue
        (errors if "error" in r else rows).append(r)
        print(r, flush=True)

    # streaming twins and store ops run jobs at compile time; plan text for
    # those reflects the final batch/DataFrame they return, which is the
    # comparable surface
    hot = sorted(rows, key=lambda r: -(r["exchanges"] + r["smj"]))
    with open(args.out, "w") as fh:
        fh.write(
            "# Physical-plan audit\n\n"
            f"Compiled {len(rows)} queries ({'core+extended' if args.extended else 'core'}) "
            f"at `{args.sf_dir}`.  Signals per executed plan: hash exchanges, "
            "broadcast exchanges, sort-merge vs broadcast joins, GLOBAL sorts, "
            "Python eval stages (row/scalar — should be 0 everywhere), Arrow "
            "map stages (mapInPandas — multimodal/streaming only).\n\n"
        )
        fh.write(
            "| query | exch | bcast | SMJ | BHJ | global sort | pyEval | arrowMap "
            "| cartesian | unpartWin |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in hot:
            fh.write(
                f"| {r['query']} | {r['exchanges']} | {r['broadcasts']} | {r['smj']} "
                f"| {r['bhj']} | {r['global_sorts']} | {r['py_eval']} | {r['arrow_map']} "
                f"| {r['cartesian']} | {r['unpart_window']} |\n"
            )
        if errors:
            fh.write("\n## Compile errors\n\n")
            for r in errors:
                fh.write(f"- `{r['query']}`: {r['error']}\n")
        n_py = sum(1 for r in rows if r["py_eval"])
        fh.write(
            f"\n**Totals**: {sum(r['exchanges'] for r in rows)} hash exchanges, "
            f"{n_py} queries with row/scalar Python eval, "
            f"{sum(1 for r in rows if r['arrow_map'])} with Arrow map stages, "
            f"{sum(1 for r in rows if r['global_sorts'])} with global sorts, "
            f"{sum(1 for r in rows if r['cartesian'])} with cartesian/nested-loop "
            f"joins (all bounded-cardinality broadcast attachments: 1-row scalars or the deliberate vector-x-centroid assignments whose small side is <= K centroid/codebook rows), "
            f"{sum(1 for r in rows if r['unpart_window'])} with truly "
            f"unpartitioned Window operators (const_part sites do not count).\n\n"
            "Reading the table: Arrow map stages are expected ONLY in the "
            "multimodal decode ops (mapInPandas is their designed shape); a "
            "global sort is acceptable ONLY as a final presentation ORDER BY "
            "on an already-aggregated small result (e.g. q20's ORDER BY "
            "s_name over suppliers) — anything else is a regression.  "
            "Streaming rows show the post-sink aggregate's plan; their "
            "stateful work happens inside the streaming runtime.\n"
        )
    print(f"wrote {args.out}: {len(rows)} ok, {len(errors)} errors", flush=True)


if __name__ == "__main__":
    main()
