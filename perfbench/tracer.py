"""Spans, per-layer counters and Spark stage attribution, all from outside
the library.

The tracer wraps public functions and methods of the library at the name
the caller resolves at call time: class attributes for methods, and every
``mongraph_spark`` module that holds a reference to a wrapped function
(``from x import f`` copies the reference, so patching only ``x.f`` would
never fire).  Wrappers record nothing unless an operation chosen for
tracing is running, and they are removed again by :meth:`Tracer.uninstall`.

Each traced operation gets its own Spark job group; a wrapper that asks for
one (``own_group``) opens a child group for the duration of the call.
Stage metrics are harvested per job id from the status store once the run
is over: ``statusTracker().getJobIdsForGroup(g)`` ->
``statusStore().lastStageAttempt(stage)``.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    req: int | str  # the traced operation, or the phase (e.g. "setup")
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)
    group: str | None = None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


@dataclass
class OpRecord:
    req: int
    kind: str
    cls: str
    ms: float
    ok: bool
    traced: bool
    group: str | None = None


class CdfProgress(StreamingQueryListener):
    """Keeps the progress of every micro-batch that read rows.  Streaming
    jobs run on the stream execution thread and never carry the client's
    job group, so the change-feed layer is measured from query progress."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            self.batches.append({"rows": p.numInputRows, **dict(p.durationMs)})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.active_req: int | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._views: dict[tuple, object] = {}
        self._group_seq = 0

    # -- operations and spans -------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group, False)

    @contextmanager
    def op(self, req: int, kind: str, cls: str, traced: bool):
        """Run one workload operation; yields the record to fill in."""
        rec = OpRecord(req, kind, cls, 0.0, False, traced and self.enabled)
        if rec.traced:
            rec.group = f"pb-{req}"
            self._set_group(rec.group)
            self.active_req = req
            root = Span(req, f"op.{kind}", None, time.perf_counter(), group=rec.group)
            self.spans.append(root)
            self._stack = [len(self.spans) - 1]
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.ms = (time.perf_counter() - t0) * 1000.0
            if rec.traced:
                self.spans[self._stack[0]].t1 = time.perf_counter()
                self.active_req = None
                self._stack = []
                self._set_group(None)

    @contextmanager
    def span(self, name: str, own_group: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self.active_req, name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        if own_group:
            self._group_seq += 1
            sp.group = f"{prev_group}.{name}{self._group_seq}"
            self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if own_group:
                self._set_group(prev_group)

    @contextmanager
    def phase(self, name: str):
        """Let the wrappers record outside any operation, e.g. during
        set-up.  Their spans carry ``name`` as ``req``, so the per-op
        metrics leave them out."""
        if not self.enabled:
            yield
            return
        self.active_req = name
        try:
            yield
        finally:
            self.active_req = None
            self._stack = []

    def note(self, name: str, **info) -> None:
        """A zero-length span carrying figures the workload measured itself
        (e.g. the files a commit wrote)."""
        if self.active_req is None:
            return
        now = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(self.active_req, name, parent, now, now, info))

    # -- wrappers ------------------------------------------------------------------

    def _wrapper(self, name, fn, on_result=None, own_group=False, always=False):
        """``always``: also call ``on_result`` (with no span) outside traced
        ops, for state that untraced calls change."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.active_req is None:
                out = fn(*args, **kwargs)
                if always:
                    on_result(None, args, out)
                return out
            with tracer.span(name, own_group) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        return wrapper

    def wrap_method(self, cls, attr: str, name: str, on_result=None, own_group=False,
                    always=False):
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(name, orig, on_result, own_group, always))
        self._patches.append((cls, attr, orig))

    def wrap_function(self, module, attr: str, name: str, on_result=None, own_group=False):
        orig = getattr(module, attr)
        wrapped = self._wrapper(name, orig, on_result, own_group)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if modname.startswith("mongraph_spark") and mod.__dict__.get(attr) is orig:
                setattr(mod, attr, wrapped)
                self._patches.append((mod, attr, orig))

    def install(self) -> None:
        if not self.enabled:
            return
        from mongraph_spark import paths, populate, pregel, sparkutil
        from mongraph_spark.catalog import MutableCatalog
        from mongraph_spark.graphs import tpch
        from mongraph_spark.session import Mongraph
        from mongraph_spark.sources import merge
        from mongraph_spark.traversal import TraversalQuery

        def view(attr):
            def on_result(sp, args, out):
                # a view was (re)built when the catalog hands out a new frame
                key = (id(args[0]), attr, args[1:])
                if sp is not None:
                    sp.info["build"] = self._views.get(key) is not out
                self._views[key] = out  # a strong ref: ids are never reused
            return on_result

        for attr in ("edges_df", "nodes_df", "documents_df"):
            self.wrap_method(MutableCatalog, attr, "catalog.view", view(attr), always=True)
        self.wrap_method(MutableCatalog, "find_node_by_document", "catalog.node_lookup")
        for attr in ("apply", "run", "matching_rel_ids"):
            self.wrap_method(TraversalQuery, attr, f"traversal.{attr}")
        for attr in ("semi_populate", "attach_endpoint_documents", "enrich_edges"):
            self.wrap_function(populate, attr, "populate")

        def collected(sp, args, out):
            sp.info["rows"] = len(out)

        self.wrap_function(sparkutil, "bounded_collect", "sparkutil.collect", collected)

        def route(sp, args, out):
            sp.info["hops"] = len(out) - 1 if out else 0

        self.wrap_method(Mongraph, "shortest_path", "paths", route, own_group=True)
        self.wrap_function(paths, "shortest_paths_from", "paths", own_group=True)

        def rounds(sp, args, out):
            sp.info["rounds"] = out[1]

        self.wrap_function(pregel, "iterate", "pregel", rounds)
        self.wrap_function(tpch, "materialized_graph", "tpch.store_build")
        for attr in ("upsert", "merge_into", "delete_where", "compact", "read_point"):
            self.wrap_function(merge, attr, f"merge.{attr}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    # -- harvest -------------------------------------------------------------------

    def _wait_listeners(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # the bus drains within a second either way
            time.sleep(1.0)

    def stage_totals(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict(jobs=0, stages=0, tasks=0, executor_ms=0, shuffle_read=0,
                   shuffle_write=0, spill=0)
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else []:
                s = store.lastStageAttempt(stage)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["executor_ms"] += s.executorRunTime()
                out["shuffle_read"] += s.shuffleReadBytes()
                out["shuffle_write"] += s.shuffleWriteBytes()
                out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def spark_per_op(self, records, cores: int) -> tuple[dict, dict]:
        """Stage totals per traced op, overall and per op class."""
        self._wait_listeners()
        child_groups = defaultdict(list)
        for sp in self.op_spans():
            if sp.group and sp.parent is not None:
                child_groups[sp.req].append(sp.group)
        rows = []
        for rec in records:
            if not rec.traced:
                continue
            tot = defaultdict(int)
            for g in [rec.group] + child_groups[rec.req]:
                for k, v in self.stage_totals(g).items():
                    tot[k] += v
            rows.append((rec, tot))

        def summarize(sel):
            n = len(sel)
            if n == 0:
                return {}
            s = {k: sum(t[k] for _, t in sel) for k in sel[0][1]}
            wall_ms = sum(r.ms for r, _ in sel)
            return {
                "spark.jobs_per_op": s["jobs"] / n,
                "spark.stages_per_op": s["stages"] / n,
                "spark.tasks_per_op": s["tasks"] / n,
                "spark.executor_ms_per_op": s["executor_ms"] / n,
                "spark.shuffle_read_bytes_per_op": s["shuffle_read"] / n,
                "spark.shuffle_write_bytes_per_op": s["shuffle_write"] / n,
                "spark.spill_bytes_per_op": s["spill"] / n,
                "spark.executor_share": s["executor_ms"] / (wall_ms * cores) if wall_ms else 0.0,
            }

        by_cls = defaultdict(list)
        for rec, tot in rows:
            by_cls[rec.cls].append((rec, tot))
        paths_jobs = sum(
            self.stage_totals(sp.group)["jobs"] for sp in self.spans_by_name("paths")
            if sp.group
        )
        overall = summarize(rows)
        overall["paths.jobs"] = paths_jobs
        return overall, {c: summarize(v) for c, v in by_cls.items()}

    def layer_metrics(self, records) -> dict:
        """Per-layer counters from the spans of traced ops.  Counts are per
        traced op; times are mean milliseconds per call."""
        n_ops = sum(1 for r in records if r.traced) or 1

        spans = self.op_spans()

        def outermost(prefix):
            out = []
            for sp in spans:
                if not sp.name.startswith(prefix):
                    continue
                p = sp.parent
                nested = False
                while p is not None:
                    if self.spans[p].name.startswith(prefix):
                        nested = True
                        break
                    p = self.spans[p].parent
                if not nested:
                    out.append(sp)
            return out

        def mean(xs):
            return statistics.fmean(xs) if xs else 0.0

        views = self.spans_by_name("catalog.view")
        builds = [s for s in views if s.info.get("build")]
        lookups = self.spans_by_name("catalog.node_lookup")
        trav = outermost("traversal.")
        applies = self.spans_by_name("traversal.apply")
        pop = outermost("populate")
        coll = self.spans_by_name("sparkutil.collect")
        paths = outermost("paths")
        routes = [s for s in paths if "hops" in s.info]
        pregel = outermost("pregel")
        n_rounds = sum(s.info.get("rounds", 0) for s in pregel)
        return {
            "catalog.view_requests": len(views) / n_ops,
            "catalog.view_builds": len(builds) / n_ops,
            "catalog.view_hit_ratio": (len(views) - len(builds)) / len(views) if views else 0.0,
            "catalog.view_build_ms": mean([s.ms for s in builds]),
            "catalog.node_lookup_ms": mean([s.ms for s in lookups]),
            "traversal.calls": len(trav) / n_ops,
            "traversal.plan_ms": mean([s.ms for s in applies]),
            "populate.calls": len(pop) / n_ops,
            "populate.plan_ms": mean([s.ms for s in pop]),
            "sparkutil.collect_calls": len(coll) / n_ops,
            "sparkutil.collect_ms": mean([s.ms for s in coll]),
            "sparkutil.collect_rows": mean([s.info["rows"] for s in coll]),
            "paths.calls": len(paths) / n_ops,
            "paths.ms": mean([s.ms for s in paths]),
            "paths.hops": mean([s.info["hops"] for s in routes]),
            "pregel.calls": len(pregel) / n_ops,
            "pregel.rounds": n_rounds / len(pregel) if pregel else 0.0,
            "pregel.ms_per_round": sum(s.ms for s in pregel) / n_rounds if n_rounds else 0.0,
        }

    def op_spans(self) -> list[Span]:
        return [s for s in self.spans if isinstance(s.req, int)]

    def spans_by_name(self, name: str, phase: str | None = None) -> list[Span]:
        """Spans of traced operations, or of ``phase`` when given."""
        return [s for s in self.spans if s.name == name
                and (s.req == phase if phase else isinstance(s.req, int))]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "req": sp.req, "name": sp.name, "parent": sp.parent,
                    "t0": sp.t0, "t1": sp.t1, "group": sp.group, **sp.info,
                }) + "\n")
