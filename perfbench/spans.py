"""Span recorder for the traced run, and the patches that place spans
around calls into the package's layers.

Spans live in memory (name, start, end, parent, op id, attributes) and
are written out once, when the run ends. Nothing here changes what the
wrapped functions do: each patch times the call and returns its result.

Spark plans are lazy, so a plan-building call such as
``IngestLog.new_files_df`` or ``upsert_last_writer_wins`` returns in
microseconds and its work runs at the caller's next action. Such
results are tagged, and the first ``collect``/``localCheckpoint`` on a
tagged DataFrame is timed under the tag's span name.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


# spans whose Spark job-id range is recorded (phases and queries)
JOB_SPANS = {"pipeline.window", "pipeline.extract", "pipeline.transform", "pipeline.load", "queries.query"}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        # created on the main thread: pool threads that have no open span
        # of their own take the main thread's innermost span as parent
        self._main_stack: list[dict] = []
        self._local.stack = self._main_stack
        self._next_id = 0
        self._tags: dict[int, tuple[object, str]] = {}
        self._undo: list[tuple[object, str, object]] = []
        self._patched_classes: set[type] = set()

    # -- spans -----------------------------------------------------------------
    def _parent(self, stack: list[dict]) -> int | None:
        if stack:
            return stack[-1]["id"]
        try:
            return self._main_stack[-1]["id"]
        except IndexError:
            return None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid, self._next_id = self._next_id, self._next_id + 1
        rec = {"id": sid, "name": name, "parent": self._parent(stack),
               "op": self.op_id, "start": time.perf_counter(), "end": None, **attrs}
        if name in JOB_SPANS:
            rec["job_lo"] = self._max_job_id()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if name in JOB_SPANS:
                rec["job_hi"] = self._max_job_id()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def _max_job_id(self) -> int:
        # reduced on the JVM side: copying the id array into Python costs
        # one gateway round trip per retained job
        ids = self.sc._jsc.statusTracker().getJobIdsForGroup(None)
        return self.sc._jvm.java.util.Arrays.stream(ids).max().orElse(-1)

    def count_jobs(self) -> None:
        """Fill jobs/stages/tasks on job spans from their job-id range.
        Called between operations, outside the timed region: the status
        tracker sees jobs from every thread, with the UI disabled."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            if "job_hi" not in rec or "jobs" in rec:
                continue
            stages: set[int] = set()
            tasks = 0
            jobs = range(rec["job_lo"] + 1, rec["job_hi"] + 1)
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if s not in stages and si and si.numCompletedTasks > 0:
                        stages.add(s)
                        tasks += si.numCompletedTasks
            rec.update(jobs=len(jobs), stages=len(stages), tasks=tasks)

    # -- patches ---------------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._undo.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name):
        """Time every call of ``owner.attr``; ``name`` is a span name or a
        function of the call's arguments returning one."""
        def make(orig):
            def timed(*a, **k):
                with self.span(name(*a, **k) if callable(name) else name):
                    return orig(*a, **k)
            return timed
        self._patch(owner, attr, make)

    def tag_result(self, owner, attr: str, name: str):
        """Time the first action on the DataFrame ``owner.attr`` returns."""
        def make(orig):
            def tagged(*a, **k):
                df = orig(*a, **k)
                self._time_tagged_actions(type(df))
                self._tags[id(df)] = (df, name)
                return df
            return tagged
        self._patch(owner, attr, make)

    def _time_tagged_actions(self, cls) -> None:
        """Patch the concrete DataFrame class once (Spark Classic and
        Connect subclass ``pyspark.sql.DataFrame`` and override its
        actions)."""
        if cls in self._patched_classes:
            return
        self._patched_classes.add(cls)
        for attr in ("collect", "localCheckpoint"):
            def make(orig):
                def action(df, *a, **k):
                    tag = self._tags.pop(id(df), None)
                    if tag is None:
                        return orig(df, *a, **k)
                    with self.span(tag[1]):
                        return orig(df, *a, **k)
                return action
            self._patch(cls, attr, make)

    def install(self) -> None:
        """Place spans at every layer boundary the benchmark attributes."""
        from python_etl_pipeline_spark import pipeline
        from python_etl_pipeline_spark.sources import IngestLog, Warehouse

        self.wrap(pipeline.Pipeline, "run_full", "pipeline.window")
        for phase in ("extract", "transform", "load"):
            self.wrap(pipeline.Pipeline, f"run_{phase}", f"pipeline.{phase}")
        self.tag_result(IngestLog, "new_files_df", "ingest_log.check")
        self.wrap(IngestLog, "mark_processed_batch", "ingest_log.mark")
        for attr in ("overwrite", "append", "overwrite_partitions"):
            self.wrap(Warehouse, attr, lambda wh, df, layer, *a, **k: f"warehouse.{layer}.write")
        # the pipeline calls the plans through its own module namespace
        self.tag_result(pipeline, "upsert_last_writer_wins", "plans.merge")
        self.tag_result(pipeline, "incremental_append_antijoin", "plans.incremental")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self._patched_classes.clear()

    # -- reporting -------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_op(self, name: str) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["name"] == name:
                out.setdefault(s["op"], []).append(s)
        return out

    def dump(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self": selfs[s["id"]]} for s in self.spans], f)
