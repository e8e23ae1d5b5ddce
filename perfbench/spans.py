"""Span tracing from outside the engine, and Spark job attribution.

In a traced run the benchmark wraps the public callables of each engine
layer (``Changefeed.run``, ``frontier_steps`` as bound in the streaming
modules, the ``LakeTable`` commit/compact/read/alter methods and
``fold_feed_journal``). Each wrapper records a span (name, start, end,
parent) in memory and labels every Spark job the call launches: the job
group is set to the span id and the job description to the span name, and
both are restored on exit. Nothing under ``ticdc_spark/`` changes.

After the run, :func:`read_jobs` pulls every job and stage from Spark's
status store (it works with ``spark.ui.enabled=false``) and
:func:`attribute` joins them to spans by job group.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

from perfbench.stats import self_times, union_length

GROUP_PREFIX = "perfbench-"


def _wrap_targets():
    """(owner, attribute, span name) for every traced callable."""
    from ticdc_spark.sinks.lake import LakeTable
    from ticdc_spark.streaming import multi, pipeline

    targets = [
        (pipeline.Changefeed, "run", "streaming.run"),
        (multi.MultiTableChangefeed, "run", "streaming.run"),
        (pipeline, "frontier_steps", "sources.frontier"),
        (multi, "frontier_steps", "sources.frontier"),
        (multi, "fold_feed_journal", "sinks.journal.fold"),
        (LakeTable, "compact", "sinks.lake.compact"),
        (LakeTable, "read", "sinks.lake.read"),
        (LakeTable, "alter", "sinks.lake.alter"),
    ]
    for meth in ("bootstrap_base_group", "append_delta_files_group",
                 "append_delta", "merge"):
        targets.append((LakeTable, meth, "sinks.lake.commit"))
    return targets


class Tracer:
    """In-memory span recorder. ``install()`` patches the engine entry
    points; ``uninstall()`` puts the originals back."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list = []
        # time the wrappers spend on their own bookkeeping (label set/restore)
        self.bookkeeping_s = 0.0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        t0 = time.perf_counter()
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        self.sc.setLocalProperty("spark.job.description", name)
        stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.current_thread().name, "start": time.time()}
        spent = time.perf_counter() - t0
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += spent + time.perf_counter() - t1

    def _wrapper(self, name: str, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        for owner, attr, name in _wrap_targets():
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrapper(name, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark) -> list:
    """Every job in the status store, with its completed stages' metrics.
    Times are epoch seconds; executor times in seconds."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = []
    for k in range(jobs.size()):
        j = jobs.apply(k)
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        rec = {
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "description": _opt(j.description()),
            "submitted": sub.getTime() / 1000.0 if sub is not None else None,
            "completed": end.getTime() / 1000.0 if end is not None else None,
            "stages": [],
        }
        ids = j.stageIds()
        for i in range(ids.size()):
            try:
                sd = store.lastStageAttempt(ids.apply(i))
            except Exception:  # py4j surfaces NoSuchElementException: never ran
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier stage's output
            rec["stages"].append({
                "stage_id": sd.stageId(),
                "tasks": sd.numCompleteTasks(),
                "executor_s": sd.executorRunTime() / 1000.0,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "input_records": sd.inputRecords(),
                "output_bytes": sd.outputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "peak_exec_mem_bytes": sd.peakExecutionMemory(),
            })
        out.append(rec)
    return out


def attribute(spans: list, jobs: list, lo: float, hi: float) -> dict:
    """Join jobs submitted in [lo, hi] to spans. Returns the jobs per span
    id (own jobs only), the unlabeled jobs, and each span's self time."""
    by_id = {s["id"]: s for s in spans}
    own: dict = {}
    unlabeled = []
    for j in jobs:
        if j["submitted"] is None or not (lo <= j["submitted"] <= hi):
            continue
        g = j["group"] or ""
        sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
        if sid not in by_id:
            unlabeled.append(j)
            continue
        own.setdefault(sid, []).append(j)
    return {"own_jobs": own, "unlabeled": unlabeled, "self_s": self_times(spans)}


def subtree(spans: list, root_id: int) -> list:
    """Ids of ``root_id`` and every span nested below it."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids.get(sid, []))
    return out


def layer_totals(spans: list, att: dict, name: str, exclude: tuple = ()) -> dict:
    """Totals over every span called ``name``: calls, inclusive seconds,
    and the Spark work of the jobs in each span's subtree (minus subtrees
    rooted at spans named in ``exclude``). ``driver_s`` is wall time not
    covered by any of those jobs."""
    by_id = {s["id"]: s for s in spans}
    tot = {"calls": 0, "s": 0.0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0,
           "stages": 0, "tasks": 0, "executor_s": 0.0, "cpu_s": 0.0,
           "input_records": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0}
    for s in spans:
        if s["name"] != name:
            continue
        tot["calls"] += 1
        tot["s"] += s["end"] - s["start"]
        tot["self_s"] += att["self_s"][s["id"]]
        ids = set(subtree(spans, s["id"]))
        for sid in list(ids):
            if by_id[sid]["name"] in exclude and sid != s["id"]:
                ids -= set(subtree(spans, sid))
        intervals = []
        for sid in ids:
            for j in att["own_jobs"].get(sid, []):
                tot["jobs"] += 1
                if j["completed"] is not None:
                    intervals.append((max(j["submitted"], s["start"]),
                                      min(j["completed"], s["end"])))
                for st in j["stages"]:
                    tot["stages"] += 1
                    for k in ("tasks", "executor_s", "cpu_s", "input_records",
                              "output_bytes", "shuffle_read_bytes",
                              "shuffle_write_bytes", "spill_bytes"):
                        tot[k] += st[k]
                    tot["peak_exec_mem_bytes"] = max(tot["peak_exec_mem_bytes"],
                                                     st["peak_exec_mem_bytes"])
        intervals = [(a, b) for a, b in intervals if b > a]
        tot["driver_s"] += (s["end"] - s["start"]) - union_length(intervals)
    return tot
