"""The benchmark's tracer: spans around calls into the program's layers.

Installed only for a traced run (``--trace 1``). It wraps public functions
of ``horaedb_spark`` from outside, so the program itself is unchanged:

- each wrapped call becomes a span (name, start, end, parent span) kept in
  memory and summarized when the run ends; a layer's self time is its span
  minus the part its child spans cover;
- each span sets a Spark job group; when the run ends the per-job and
  per-stage metrics are read from the status store (populated with the UI
  off) and each job is given to its span by group, or, for jobs started on
  threads the span does not own, to the innermost span open when the job
  was submitted;
- py4j round trips are counted by wrapping the gateway client's
  ``send_command``;
- the time the tracer and the traced run's own measurements spend inside
  the timed loop is summed, as ``trace.overhead_ratio``; outside the loop
  (set-up, checks) nothing is charged.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from contextlib import contextmanager

_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused)?Exchange\b")


class Span(dict):
    """One traced call: ``name``, ``id``, ``parent``, ``t0``/``t1`` (epoch
    seconds), ``py4j`` (round trips inside it) and free-form attributes."""

    @property
    def dur(self) -> float:
        return self["t1"] - self["t0"]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: list[dict] = []
        self.overhead_s = 0.0
        self.measuring = False  # True while the timed loop runs
        self._local = threading.local()
        self._client_stack: list[Span] | None = None
        self._ids = 0
        self._lock = threading.Lock()
        self._py4j = 0
        self._patches: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        o0 = time.perf_counter()
        stack = self._stack()
        if not stack and self._client_stack is None:
            self._client_stack = stack  # the thread that opens operations
        # spans on other threads (HTTP handler, compaction pool) hang under
        # the client's innermost open span: one client, one operation at a time
        parent = stack[-1] if stack else (
            self._client_stack[-1] if self._client_stack else None)
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = Span(id=sid, parent=parent["id"] if parent else None, name=name,
                   group=f"perfbench-{sid}", **attrs)
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["py4j0"] = self._py4j
        self._charge(time.perf_counter() - o0)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            o1 = time.perf_counter()
            rec["py4j"] = self._py4j - rec.pop("py4j0")
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
            self._charge(time.perf_counter() - o1)

    def _charge(self, seconds: float) -> None:
        if not self.measuring:
            return
        with self._lock:  # spans close on several threads at once
            self.overhead_s += seconds

    def annotate(self, fn):
        """Run ``fn`` (bookkeeping the traced run alone does) and charge it
        to overhead."""
        o0 = time.perf_counter()
        try:
            fn()
        finally:
            self._charge(time.perf_counter() - o0)

    # -------------------------------------------------------------- patching

    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Replace ``owner.attr`` with a spanned passthrough. ``before(span,
        args)`` and ``after(span, args, result)`` record attributes around
        the call, charged to the tracer's overhead."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                if before is not None:
                    tracer.annotate(lambda: before(rec, args))
                out = orig(*args, **kwargs)
            if after is not None:
                tracer.annotate(lambda: after(rec, args, out))
            return out

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``uninstall``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            with tracer._lock:
                tracer._py4j += 1
            return orig(*args, **kwargs)

        self.replace(client, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- status store

    def read_jobs(self) -> None:
        """Per-job intervals and stage metrics from the status store, each
        job tagged with the span it belongs to."""
        jvm = self.sc._jvm
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        store = self.sc._jsc.sc().statusStore()
        stages = {}
        for s in as_java(store.stageList(
                None, False, False, self.sc._gateway.new_array(jvm.double, 0), None)):
            stages.setdefault(s.stageId(), {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "input_records": s.inputRecords(),
            })
        by_group = {sp["group"]: sp for sp in self.spans}
        for j in as_java(store.jobsList(None)):
            sub, end = j.submissionTime(), j.completionTime()
            if not sub.isDefined() or not end.isDefined():
                continue
            t0, t1 = sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0
            grp = j.jobGroup()
            span = by_group.get(grp.get()) if grp.isDefined() else None
            if span is None:
                span = self._innermost(t0)
            ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
            job = {"t0": t0, "t1": t1, "span": span["id"] if span else None}
            for key in ("tasks", "run_s", "shuffle_bytes", "spill_bytes",
                        "input_records"):
                job[key] = sum(stages[i][key] for i in ids if i in stages)
            self.jobs.append(job)

    def _innermost(self, t: float) -> Span | None:
        best = None
        for sp in self.spans:
            if sp["t0"] <= t <= sp["t1"] and (best is None or sp["t0"] >= best["t0"]):
                best = sp
        return best


# ------------------------------------------------------------------ analysis


class SpanTree:
    """Queries over finished spans and their jobs."""

    def __init__(self, tracer: Tracer):
        self.spans = {sp["id"]: sp for sp in tracer.spans}
        self.children: dict[int, list[Span]] = {}
        for sp in tracer.spans:
            if sp["parent"] is not None:
                self.children.setdefault(sp["parent"], []).append(sp)
        self.jobs_of: dict[int, list[dict]] = {}
        for job in tracer.jobs:
            if job["span"] is not None:
                self.jobs_of.setdefault(job["span"], []).append(job)

    def named(self, name: str, under: str | None = None) -> list[Span]:
        out = [sp for sp in self.spans.values() if sp["name"] == name]
        if under is not None:
            out = [sp for sp in out if self.ancestor(sp, under) is not None]
        return out

    def ancestor(self, sp: Span, name: str) -> Span | None:
        p = sp["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return self.spans[p]
            p = self.spans[p]["parent"]
        return None

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], ()))
        return out

    def jobs(self, sp: Span) -> list[dict]:
        return [j for s in self.subtree(sp) for j in self.jobs_of.get(s["id"], ())]

    def driver_gap(self, sp: Span) -> float:
        """Span wall minus the union of its jobs' intervals: time the
        driver worked with no Spark job running on its behalf."""
        ivs = sorted((max(j["t0"], sp["t0"]), min(j["t1"], sp["t1"]))
                     for j in self.jobs(sp))
        covered, end = 0.0, sp["t0"]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return max(0.0, sp.dur - covered)

    def self_time(self, sp: Span) -> float:
        kids = sorted((c["t0"], c["t1"]) for c in self.children.get(sp["id"], ()))
        covered, end = 0.0, sp["t0"]
        for a, b in kids:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return max(0.0, sp.dur - covered)


def exchanges_in(df) -> int:
    """Exchange nodes in the final executed plan of a finished query."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))
