"""Spans and Spark counters recorded from outside the package.

``Tracer.install`` wraps the package's public entry points by replacing
the module attribute each caller looks up (the package source is never
edited); ``Tracer.uninstall`` puts the originals back. Every span owns a
Spark job group, so the stage counters of each job (tasks, executor run
time, shuffle write, spill, GC) are attributed to the innermost span
that was open when the job ran.

Lazy plan functions (they return a DataFrame without running it) get an
extra ``.exec`` child span that materializes their output through a
``noop`` write, so a plan's execution cost is visible at its own boundary.
That is extra work the untraced run never does; it is part of the
reported tracing overhead.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError

SPARK_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "shuffle_write_bytes", "spill_bytes", "gc_s")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.active = False
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block. Outside an active traced
        phase this is a plain pass-through."""
        if not self.active:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            rec["spark"] = self._counters(f"perfbench-{sid}")
            if self.stack:
                parent = self.stack[-1]
                self.sc.setJobGroup(f"perfbench-{parent}",
                                    self.spans[parent]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def annotate(self, **attrs) -> None:
        """Add attributes to the innermost open span."""
        if self.active and self.stack:
            self.spans[self.stack[-1]].update(attrs)

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.sc.statusTracker().getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage never attempted or evicted
                    continue
                if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                    continue  # skipped stage (shuffle output reused)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    # -- patching ------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def wrap_call(self, owner, attr: str, name: str) -> None:
        """Eager entry point: one span around the call."""
        def wrapper(orig):
            def call(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return call
        self._patch(owner, attr, wrapper)

    def wrap_lazy(self, owner, attr: str, name_of) -> None:
        """Lazy plan function: a span around the plan build, then a child
        ``.exec`` span that runs the returned plan through ``noop``."""
        def wrapper(orig):
            def call(*a, **kw):
                name = name_of(*a, **kw)
                with self.span(name):
                    df = orig(*a, **kw)
                    if df is not None and self.active:
                        with self.span(name + ".exec"):
                            df.write.format("noop").mode("overwrite").save()
                return df
            return call
        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from adtk_spark.plans import incremental, router
        from adtk_spark.sources import catalog

        def rollup_name(df, tier="1m", *a, **kw):
            return "tiers.rollup_raw" if tier == "1m" else f"tiers.rollup_up_{tier}"

        self.wrap_call(incremental, "refresh_tiers", "incremental.refresh_tiers")
        self.wrap_call(incremental, "commit_with_lineage",
                       "lineage.commit_with_lineage")
        self.wrap_lazy(incremental, "rollup_raw", rollup_name)
        self.wrap_lazy(incremental, "rollup_up", rollup_name)
        self.wrap_lazy(incremental, "read_tier_latest",
                       lambda *a, **kw: "incremental.read_tier_latest")
        self.wrap_call(router, "route_from_catalog", "router.route_from_catalog")

        tracer = self

        def commit_wrapper(orig):
            def commit(cat, df, table, *a, **kw):
                with tracer.span("catalog.commit", table=table) as rec:
                    snap = orig(cat, df, table, *a, **kw)
                    if tracer.active:
                        rec.update(_dir_stats(
                            os.path.join(cat.root, table, f"snap={snap}")))
                    return snap
            return commit

        def read_range_wrapper(orig):
            def read_range(cat, spark, table, start=None, end=None):
                with tracer.span("catalog.read_range", table=table) as rec:
                    if tracer.active:  # two manifest loads of our own
                        rec["snapshots_read"] = len(
                            cat.snapshots_in_range(table, start, end))
                        rec["snapshots_live"] = len(cat.snapshots(table))
                    return orig(cat, spark, table, start, end)
            return read_range

        def pick_tier_wrapper(orig):
            def pick_tier(*a, **kw):
                name = orig(*a, **kw)
                tracer.annotate(served_by=name)
                return name
            return pick_tier

        self._patch(catalog.TierCatalog, "commit", commit_wrapper)
        self._patch(catalog.TierCatalog, "read_range", read_range_wrapper)
        self._patch(router, "pick_tier", pick_tier_wrapper)

    # -- reporting -----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its child spans
        (children never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}

    def by_name(self) -> dict[str, list[dict]]:
        out = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s)
        return out

    def dump(self) -> dict:
        selfs = self.self_times()
        return {"run": self.run_id,
                "spans": [{**s, "self_s": selfs[s["id"]]} for s in self.spans]}


def _dir_stats(path: str) -> dict:
    """Bytes, data files and rows of one committed snapshot directory."""
    nbytes = files = rows = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            nbytes += os.path.getsize(p)
            if n.endswith(".parquet"):
                files += 1
                rows += pq.read_metadata(p).num_rows
    return {"bytes_written": nbytes, "files": files, "rows": rows}
