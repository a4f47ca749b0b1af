"""Traced mode: spans around the calls into each engine layer, recorded
from the benchmark's own files by wrapping the layers' public functions.

Spans stay in memory; ``Tracer.report`` turns the spans of the statements
since the last ``mark`` into per-operation layer metrics. Spark's job,
stage, task and shuffle statistics are attributed per statement through a
job group, Catalyst phase times come from each action's ``QueryExecution``
tracker, and compile counts from ``CodegenMetrics`` deltas.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from stats import self_times
from workloads import GDS_ROWS

# GraphStore methods that write; ``_swap`` and ``compact`` are also counted.
STORE_WRITE_PREFIXES = ("create_", "merge_", "set_", "remove_", "delete_", "append_")
ACTIONS = ("collect", "count", "toPandas", "isEmpty", "localCheckpoint", "checkpoint")
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tl = threading.local()
        self.stmts: dict[int, dict] = {}
        self._mark = (1, 0, 0.0)
        self._seen_qe: set[int] = set()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "stmt": getattr(self._tl, "stmt", None),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def inside(self, prefix: str) -> bool:
        return any(s["name"].startswith(prefix) for s in self._stack())

    @contextmanager
    def statement(self, text: str):
        """One statement (Bolt) or one operation (in-process): spans opened
        on this thread until the next statement carry its id, and the Spark
        jobs it starts carry its job group."""
        sid = next(self._ids)
        self.stmts[sid] = {"text": text, "counts": Counter()}
        self._tl.stmt = sid
        self.spark.sparkContext.setJobGroup(f"graphbench-{sid}", text[:60])
        with self.span("statement"):
            yield self.stmts[sid]

    def count(self, key: str, n: float = 1) -> None:
        sid = getattr(self._tl, "stmt", None)
        if sid is not None:
            self.stmts[sid]["counts"][key] += n

    # -- installing the wrappers ---------------------------------------------
    def install(self) -> None:
        from docker_neo4j_spark.bolt import server as bolt_server
        from docker_neo4j_spark.cypher.session import Session
        from docker_neo4j_spark.operators import gds
        from docker_neo4j_spark.storage.store import GraphStore

        tracer = self

        def wrap(owner, attr, name, before=None):
            orig = getattr(owner, attr)

            @functools.wraps(orig)
            def traced(*a, **kw):
                if before:
                    before()
                with tracer.span(name):
                    return orig(*a, **kw)

            setattr(owner, attr, traced)

        run = Session.run

        @functools.wraps(run)
        def session_run(self_, cypher, parameters=None):
            if tracer._stack():
                with tracer.span("cypher.run"):
                    return run(self_, cypher, parameters)
            with tracer.statement(cypher), tracer.span("cypher.run"):
                return run(self_, cypher, parameters)

        Session.run = session_run
        for attr in dir(GraphStore):
            if attr.startswith(STORE_WRITE_PREFIXES):
                wrap(GraphStore, attr, f"storage.{attr}")
        wrap(GraphStore, "_swap", "storage._swap", before=lambda: self.count("storage.swaps"))
        wrap(GraphStore, "compact", "storage.compact",
             before=lambda: self.count("storage.compactions"))
        for _, kernel in GDS_ROWS:
            wrap(gds, kernel, f"operators.{kernel}")
        wrap(bolt_server, "pack", "bolt.pack")

        df_cls = type(self.spark.range(1))
        for attr in ACTIONS:
            self._wrap_action(df_cls, attr)
        self._wrap_iterator(df_cls)

    def _record_phases(self, df) -> None:
        """Catalyst phase times of the query an action ran, once per query."""
        qe = df._jdf.queryExecution()
        key = self.jvm.System.identityHashCode(qe)
        if key in self._seen_qe:
            return
        self._seen_qe.add(key)
        phases = qe.tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.count(f"spark.plan.{p}_ms", opt.get().durationMs())

    def _wrap_action(self, cls, attr) -> None:
        orig = getattr(cls, attr)
        tracer = self
        is_ckpt = "heckpoint" in attr

        @functools.wraps(orig)
        def traced(df, *a, **kw):
            if is_ckpt and tracer.inside("operators."):
                tracer.count("operators.checkpoints")
            with tracer.span(f"spark.{attr}"):
                out = orig(df, *a, **kw)
            tracer._record_phases(df)
            return out

        setattr(cls, attr, traced)

    def _wrap_iterator(self, cls) -> None:
        """``toLocalIterator`` runs its jobs while the caller iterates, so
        every ``next`` is a span of its own."""
        orig = cls.toLocalIterator
        tracer = self

        @functools.wraps(orig)
        def traced(df, *a, **kw):
            with tracer.span("spark.toLocalIterator"):
                it = iter(orig(df, *a, **kw))
            tracer._record_phases(df)

            def gen():
                while True:
                    with tracer.span("spark.next"):
                        row = next(it, StopIteration)
                    if row is StopIteration:
                        return
                    yield row

            return gen()

        cls.toLocalIterator = traced

    # -- reporting -----------------------------------------------------------
    def codegen(self) -> tuple[int, float]:
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return h.getCount(), h.getSnapshot().getMean()

    def mark(self) -> None:
        """Open a measured window: later reports cover only what follows."""
        self._mark = (next(self._ids), *self.codegen())

    def _spark_stats(self, sid: int) -> Counter:
        sc = self._jsc.sc()
        tracker, store = sc.statusTracker(), sc.statusStore()
        out = Counter()
        stages = set()
        for job in tracker.getJobIdsForGroup(f"graphbench-{sid}"):
            out["spark.exec.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info.isDefined():
                stages.update(info.get().stageIds())
        for stage in stages:
            sd = store.lastStageAttempt(stage)
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.exec.stages"] += 1
            out["spark.exec.tasks"] += sd.numCompleteTasks()
            out["spark.exec.run_ms"] += sd.executorRunTime()
            out["spark.exec.cpu_ms"] += sd.executorCpuTime() / 1e6
            out["spark.exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                out["spark.exec.sched_wait_ms"] += first.get().getTime() - sub.get().getTime()
        return out

    def report(self) -> dict:
        """Layer totals of each statement since ``mark``, plus the window's
        codegen deltas: ``{"stmts": [{"text", "counts", "ms"}, ...],
        "codegen": {"compiles", "mean_ms"}}``."""
        first_id, cg0, _ = self._mark
        cg1, cg_mean = self.codegen()
        by_stmt = defaultdict(list)
        for s in self.spans:
            if s["stmt"] is not None and s["stmt"] >= first_id:
                by_stmt[s["stmt"]].append(s)
        out = []
        for sid, rec in sorted(self.stmts.items()):
            if sid < first_id:
                continue
            counts = rec["counts"] + self._spark_stats(sid)
            ms = layer_ms(by_stmt.get(sid, []))
            out.append({"text": rec["text"], "counts": dict(counts), "ms": dict(ms)})
        return {"stmts": out, "codegen": {"compiles": cg1 - cg0, "mean_ms": cg_mean}}


def layer_ms(spans: list[dict]) -> Counter:
    """Milliseconds per layer from one statement's spans.

    ``server_ms`` is the engine-side time of the statement: its statement
    span plus the actions that ran after ``Session.run`` returned (a Bolt
    PULL iterates the result later, outside any other span)."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    ms = Counter()
    for s in spans:
        dur = (s["end"] - s["start"]) * 1e3
        name = s["name"]
        if name == "cypher.run":
            ms["cypher.run_ms"] += selfs[s["id"]] * 1e3
        elif name.startswith("storage.") and not _has_ancestor(s, by_id, "storage."):
            ms["storage.write_ms"] += dur
        elif name == "bolt.pack":
            ms["bolt.pack_ms"] += dur
        elif name.startswith("gds."):
            ms[f"operators.{name[4:]}_ms"] += dur
        if s["parent"] is None and (name == "statement" or name.startswith("spark.")):
            ms["server_ms"] += dur
    return ms


def _has_ancestor(span: dict, by_id: dict, prefix: str) -> bool:
    parent = by_id.get(span["parent"])
    while parent is not None:
        if parent["name"].startswith(prefix):
            return True
        parent = by_id.get(parent["parent"])
    return False
