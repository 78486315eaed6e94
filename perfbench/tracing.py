"""Benchmark-side tracing: spans around the calls into each layer.

Nothing here edits engine code.  ``Instrumentation`` wraps module
attributes and ``IndexSearcher`` methods for the length of a traced run
and restores them afterwards.  Spans stay in memory; the run reduces
them to per-layer metrics when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


def self_time(spans: list[Span], i: int) -> float:
    """Span i's duration minus the part of its interval its children cover."""
    s = spans[i]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans if c.parent == i
    )
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (s.end - s.start) - covered


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    enabled: bool = True
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def durations(self, name: str, parent_name: str | None = None) -> list[float]:
        return [
            s.end - s.start for s in self.spans
            if s.name == name and (
                parent_name is None
                or (s.parent is not None and self.spans[s.parent].name == parent_name)
            )
        ]


class Instrumentation:
    """Wraps layer entry points with spans; ``restore()`` undoes it."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []
        self.last_plan_df = None

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def span_wrap(self, owner, attr: str, name: str) -> None:
        tracer = self.tracer

        def wrapper(fn):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return wrapped

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from lucene_solr_8_7_0_spark.functions import wand
        from lucene_solr_8_7_0_spark.operators import build, deletes, merge
        from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
        from lucene_solr_8_7_0_spark.plans import planner

        self.span_wrap(build, "build_index", "build.build_index")
        self.span_wrap(deletes, "update_documents", "deletes.update_documents")
        self.span_wrap(deletes, "delete_documents", "deletes.delete_documents")
        self.span_wrap(merge, "add_documents", "merge.add_documents")
        self.span_wrap(merge, "merge_indexes", "merge.merge_indexes")
        self.span_wrap(IndexSearcher, "__init__", "search.open")
        self.span_wrap(IndexSearcher, "search", "search.search")
        self.span_wrap(IndexSearcher, "_rewrite", "search.rewrite")
        self.span_wrap(IndexSearcher, "_term_stats", "search.term_stats")
        self.span_wrap(IndexSearcher, "_dv_plan", "search.plan")
        self.span_wrap(IndexSearcher, "_merge", "search.merge")
        self.span_wrap(planner, "compile_query", "planner.compile")

        inst = self

        def capture_plan(fn):
            def wrapped(*a, **kw):
                with inst.tracer.span("search.plan"):
                    df = fn(*a, **kw)
                inst.last_plan_df = df
                return df
            return wrapped

        self._patch(IndexSearcher, "_run_segments", capture_plan)

        tracer = self.tracer

        def count_block(fn):
            def wrapped(*a, **kw):
                tracer.count("kernel.blocks_decoded")
                return fn(*a, **kw)
            return wrapped

        def count_term(fn):
            def wrapped(tp, *a, **kw):
                if tp.singleton_doc < 0:
                    # one doc-delta and one freq block per doc block
                    tracer.count("kernel.blocks_decoded",
                                 2 * (len(tp.doc_block_offsets) - 1))
                return fn(tp, *a, **kw)
            return wrapped

        self._patch(wand, "_decode_one_block", count_block)
        self._patch(wand, "decode_term_postings", count_term)

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


# ---- Spark dispatch counts -------------------------------------------------

def ungrouped_jobs(sc) -> set:
    """Ids of every known job submitted outside a job group."""
    return set(sc.statusTracker().getJobIdsForGroup(None))


def spark_counts(sc, jobs) -> dict:
    """Jobs, stages, tasks and failed tasks of the given job ids."""
    st = sc.statusTracker()
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (shuffle reuse): never ran
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def exchange_count(df) -> int:
    """Shuffle exchanges this query ran: ``ShuffleExchangeExec`` nodes in
    the final adaptive plan.  Cached relations are leaves here, so the
    exchanges that once built a cached docset are not counted."""
    n, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
        n += name == "ShuffleExchangeExec"
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return n


# ---- memory ------------------------------------------------------------------

def hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (Linux /proc walk)."""
    import os

    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
