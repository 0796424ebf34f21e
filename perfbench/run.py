"""Repository benchmark: one workload per invocation, in one process on
``local[<cores>]``.

    python3 perfbench/run.py --workload oltp_social --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run sets up the workload several
times (``setup_s`` is the median), warms it once untimed, then runs a
closed loop of operations for ``--seconds`` and checks every output.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the library's layers are wrapped and it carries the
per-layer metrics instead.  Both lists, with their units, are
``BENCHMARK.json``'s.  Earlier stdout lines give the workload's own
figures (per-class latencies, host facts).

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at the end; traced runs keep their spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WATCHDOG_S = 170
DRIVER_MEM_SHARE = 0.2  # of physical RAM
# Jobs and stages the status store keeps.  A traced run harvests every job
# at the end, so it keeps them all; an untraced run keeps few, so that the
# heap left after the run is the library's, not the UI's history.
RETAINED = {True: 100_000, False: 100}


def read_proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])  # steal, total


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(parts[1])].append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    end = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < end:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def host_env(work: str, trace: bool) -> dict:
    """Environment for a host-fit session whose files all stay in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_mem = f"{int(mem_kb * DRIVER_MEM_SHARE / 1024)}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        # Python workers import the library (the CDF data source needs it)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "MONGRAPH_GRAPH_CACHE": os.path.join(work, "graph_cache"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.ui.retainedJobs={RETAINED[trace]}",
            f"--conf spark.ui.retainedStages={RETAINED[trace]}",
            f"--conf spark.sql.ui.retainedExecutions={RETAINED[False]}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })
    return {"cpus": cpus, "driver_mem": driver_mem}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both the JVM
    and every process under it to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # already closed
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except Exception:
            proc.kill()
            proc.wait(10)
    wait_gone(kids, 20)


# -- metrics ---------------------------------------------------------------------


def class_latencies(records) -> dict:
    by = defaultdict(list)
    for r in records:
        by[r.cls].append(r.ms)
    out = {}
    for cls, xs in sorted(by.items()):
        out[f"{cls}_p50_ms"] = median(xs)
        out[f"{cls}_n"] = len(xs)
        if len(xs) >= 100:  # a tail needs at least ten samples beyond it
            out[f"{cls}_p90_ms"] = statistics.quantiles(xs, n=10)[-1]
    return out


def heap_after_gc_mb(jvm) -> float:
    """Each heap pool's usage as a full collection left it (total minus free
    would also count what other threads allocated since, in whole regions)."""
    jvm.java.lang.System.gc()
    used = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if pool.getType().name() == "HEAP" and after_gc is not None:
            used += after_gc.getUsed()
    return used / 2**20


def live_mem_mb(spark) -> tuple[float, list[float]]:
    """JVM heap still in use once collections stop freeing any, plus the
    Python driver's resident set: the memory the session holds on to.
    Spark's context cleaner drops broadcasts and shuffles only after a
    collection has found their handles unreachable, one at a time, so a
    single collection can leave a run's leftovers behind: collect every
    0.2 s until five readings in a row agree within a megabyte."""
    gc.collect()  # drop Python proxies, and with them the JVM objects they pin
    jvm = spark.sparkContext._jvm
    heap = [heap_after_gc_mb(jvm)]
    while len(heap) < 5 or (max(heap[-5:]) - min(heap[-5:]) >= 1.0 and len(heap) < 20):
        time.sleep(0.2)
        heap.append(heap_after_gc_mb(jvm))
    with open(f"/proc/{os.getpid()}/status") as fh:
        rss_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
    return heap[-1] + rss_kb / 1024.0, [round(h, 1) for h in heap]


def overhead_ratio(records) -> float:
    """Traced over untraced median latency, averaged over the op kinds that
    ran both ways (traced runs alternate occurrences of each kind)."""
    by = defaultdict(lambda: ([], []))
    for r in records:
        by[r.kind][0 if r.traced else 1].append(r.ms)
    ratios = [median(t) / median(u) for t, u in by.values() if t and u]
    return statistics.fmean(ratios) if ratios else 0.0


def layer_metrics(tracer, records, listener, cores, steal_ratio) -> dict:
    from bulk_graph import QUERIES

    overall, per_cls = tracer.spark_per_op(records, cores)
    m = {k: v for k, v in overall.items() if k.startswith("spark.")}
    m.update(tracer.layer_metrics(records))
    n_paths = len(tracer.spans_by_name("paths"))
    m["paths.jobs_per_call"] = overall.get("paths.jobs", 0) / n_paths if n_paths else 0.0
    m["tpch.store_build_s"] = median(
        [s.ms / 1000.0 for s in tracer.spans_by_name("tpch.store_build", "setup")])
    traced = [r for r in records if r.traced]
    for q in QUERIES:
        m[f"query.{q}.ms"] = median([r.ms for r in traced if r.kind == q])
    for op in ("upsert", "merge_into", "delete_where", "compact"):
        m[f"merge.commit_ms.{op}"] = median([s.ms for s in tracer.spans_by_name(f"merge.{op}")])
    files = tracer.spans_by_name("merge.files")
    user = sum(s.info["user"] for s in files)
    m["merge.files_per_commit"] = statistics.fmean([s.info["files"] for s in files]) if files else 0.0
    m["merge.bytes_written_per_user_byte"] = (
        sum(s.info["bytes"] for s in files) / user if user else 0.0)
    m["merge.read_point_ms"] = median([s.ms for s in tracer.spans_by_name("merge.read_point")])
    batches = listener.batches if listener is not None else []
    m["cdf.batches"] = len(batches)
    m["cdf.rows_per_batch"] = statistics.fmean([b["rows"] for b in batches]) if batches else 0.0
    for key, name in (("triggerExecution", "trigger_ms"), ("latestOffset", "latest_offset_ms"),
                      ("addBatch", "add_batch_ms")):
        m[f"cdf.{name}"] = statistics.fmean([b.get(key, 0) for b in batches]) if batches else 0.0
    m["host.steal_ratio"] = steal_ratio
    m["trace.overhead_ratio"] = overhead_ratio(records)
    return m, per_cls


# Which layers each workload must exercise (non-zero) and must bypass (zero)
# in a traced run.  A counter that contradicts this fails the run.
_MERGE = ["merge.commit_ms.upsert", "merge.commit_ms.merge_into",
          "merge.commit_ms.delete_where", "merge.commit_ms.compact",
          "merge.read_point_ms", "merge.files_per_commit"]
_CDF = ["cdf.batches", "cdf.trigger_ms", "cdf.add_batch_ms"]
_SPARK = ["spark.jobs_per_op", "spark.tasks_per_op", "spark.executor_ms_per_op"]
EXPECT = {
    "oltp_social": {
        "nonzero": _SPARK + [
            "catalog.view_requests", "catalog.view_builds", "catalog.view_build_ms",
            "catalog.node_lookup_ms", "traversal.calls", "traversal.plan_ms",
            "populate.calls", "sparkutil.collect_calls", "paths.calls",
            "paths.jobs_per_call", "paths.hops"],
        "zero": ["pregel.calls", "tpch.store_build_s"] + _MERGE + _CDF,
    },
    "bulk_graph": {
        "nonzero": _SPARK + [
            "traversal.calls", "populate.calls", "paths.calls", "paths.jobs_per_call",
            "pregel.calls", "pregel.rounds", "pregel.ms_per_round", "tpch.store_build_s"],
        "zero": ["catalog.view_requests", "catalog.view_builds"] + _MERGE + _CDF,
    },
    "store_cdc": {
        "nonzero": _SPARK + _MERGE + _CDF,
        "zero": ["catalog.view_requests", "traversal.calls", "populate.calls",
                 "paths.calls", "pregel.calls", "tpch.store_build_s"],
    },
}


def self_check(workload: str, m: dict) -> list[str]:
    exp = EXPECT[workload]
    errs = [f"{k} reads 0 on {workload}, which exercises it"
            for k in exp["nonzero"] if not m.get(k)]
    errs += [f"{k} reads {m[k]} on {workload}, which bypasses it"
             for k in exp["zero"] if m.get(k)]
    if workload == "bulk_graph":  # every query ran traced at least once
        errs += [f"{k} reads 0" for k in m if k.startswith("query.") and not m[k]]
    return errs


# -- the run ---------------------------------------------------------------------


def run_window(wl, tracer, seconds: float, trace: bool):
    """Closed loop: the next op starts when the previous one returned.  The
    window runs whole cycles of the workload's fixed op pattern until
    ``seconds`` have passed, so every run measures the same mix of kinds.
    A traced run also needs a kind that ran both traced and untraced (the
    first occurrence of each kind is traced, the next is not, and so on).
    Checking an op's output is neither in its latency nor in the window."""
    cycle = len(wl.cycle)
    min_cycles = 1 if not trace or len(set(wl.cycle)) < cycle else 2
    seen = defaultdict(int)
    records = []
    check_s = 0.0  # left out of the window
    t_start = time.perf_counter()
    deadline = t_start + seconds
    for req, op in enumerate(wl.ops()):
        if (req % cycle == 0 and req >= min_cycles * cycle
                and time.perf_counter() >= deadline):
            break
        traced = trace and seen[op.kind] % 2 == 0
        seen[op.kind] += 1
        with tracer.op(req, op.kind, op.cls, traced) as rec:
            try:
                out = op.fn()
            except Exception:
                print(f"op {req} ({op.kind}) raised:", file=sys.stderr)
                traceback.print_exc()
                out = None
        t = time.perf_counter()
        try:
            rec.ok = out is not None and bool(op.check(out))
        except Exception:
            traceback.print_exc()
        check_s += time.perf_counter() - t
        if not rec.ok:
            print(f"op {req} ({op.kind}) failed its check", file=sys.stderr)
        records.append(rec)
    return records, time.perf_counter() - t_start - check_s


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mongraph_spark", "__init__.py")):
        print(f"perfbench: no mongraph_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    host = host_env(work, bool(args.trace))

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)

    import pyspark
    from mongraph_spark.sparkutil import get_spark

    from tracer import CdfProgress, Tracer
    from workload import Context

    # a workload's Spark-free preparation overlaps the session start
    module = __import__(args.workload)
    prepare = getattr(module, "prepare", None)
    prepared = prepare(args.seed, work) if prepare else None

    steal0, total0 = read_proc_stat()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=host["cpus"])
    session_s = time.perf_counter() - t0
    app_id = spark.sparkContext.applicationId
    wl = None
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, args.seed, work, tracer, prepared)
        listener = None
        if args.workload == "store_cdc":
            listener = CdfProgress()
            spark.streams.addListener(listener)
        wl = getattr(module, "".join(p.title() for p in args.workload.split("_")))(ctx)
        tracer.install()  # before set-up, which tpch.store_build_s is taken from
        setup_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.phase("setup"):
                wl.setup(rep)
            setup_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        if listener is not None:
            listener.batches.clear()
        records, window_s = run_window(wl, tracer, args.seconds, bool(args.trace))
        tracer.uninstall()
        live_mb, heap_mb = live_mem_mb(spark)  # before the checks add their own
        t = time.perf_counter()
        check_errors = wl.verify()
        verify_s = time.perf_counter() - t
        for e in check_errors:
            print(f"check failed: {e}", file=sys.stderr)
        detail = {
            "op_p50_ms": median([r.ms for r in records]),
            **class_latencies(records), **wl.detail(records),
        }
        steal1, total1 = read_proc_stat()
        steal_ratio = (steal1 - steal0) / max(total1 - total0, 1)
        jvm = spark.sparkContext._gateway.proc.pid
        peak_rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm)) / 1024.0
        if args.trace:
            metrics, per_cls = layer_metrics(tracer, records, listener, host["cpus"], steal_ratio)
            problems = self_check(args.workload, metrics)
            for p in problems:
                print(f"trace self-check: {p}", file=sys.stderr)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            detail["spark_per_class"] = per_cls
            wanted = spec["per_layer"]
        else:
            problems = []
            metrics = {
                "setup_s": median(setup_s),
                "ops_per_s": len(records) / window_s,
                "live_mem_mb": live_mb,
            }
            wanted = spec["end_to_end"]
        missing = [w["name"] for w in wanted if w["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not computed: {missing}")
        failed_ops = sum(1 for r in records if not r.ok)
        facts = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": host["cpus"], "driver_mem": host["driver_mem"],
            "spark": pyspark.__version__, "python": platform.python_version(),
            "steal_ticks": steal1 - steal0, "total_ticks": total1 - total0,
            "host.steal_ratio": steal_ratio, "session_start_s": session_s,
            "setup_reps_s": setup_s, "warm_s": warm_s, "window_s": window_s,
            "verify_s": verify_s, "ops": len(records), "failed_ops": failed_ops,
            "failed_checks": len(check_errors), "peak_rss_mb": peak_rss_mb,
            "live_mem_mb": live_mb, "live_heap_mb": heap_mb,  # one per collection
        }
        print(json.dumps({"facts": facts}))
        print(json.dumps({"detail": detail}))
        # the end-of-run output check counts as one more attempted operation
        failed = failed_ops + (1 if check_errors else 0)
        summary = {
            "correct": failed == 0 and not problems,
            "attempted": len(records) + 1,
            "failed": failed,
            "metrics": {
                w["name"]: {"value": metrics[w["name"]], "unit": w["unit"]} for w in wanted
            },
        }
    finally:
        signal.alarm(0)
        try:
            if wl is not None:
                wl.close()
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            print(f"perfbench: session stopped in {time.perf_counter() - t:.1f} s", file=sys.stderr)
            # the library's own temp stores are named after the application
            for d in glob.glob(os.path.join(work, "tmp", f"mg_*_{app_id}*")):
                shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
