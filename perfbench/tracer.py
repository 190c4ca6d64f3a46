"""Spans around calls into the program's layers, with Spark engine counters.

A traced run rebinds module attributes (``pipeline.build_star``,
``operators.dedup.connected_components``, ...) to wrappers that open a span:
name, start, end, parent span and run id. Each span also sets its own Spark
job group, so after the operation the engine counters of every job the span
ran can be read back per group through ``statusTracker()`` and
``statusStore().lastStageAttempt(stageId)``. Stages that only build a lazy
plan run no job: their compute shows up in the span whose action ran it.

Spans are kept in memory; counters are read after each root span closes,
outside any timed interval, and everything is written out at exit.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

ENGINE_FIELDS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spark = None
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[dict] = []
        self._bindings: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self._pending: list[dict] = []

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; a no-op while tracing is off."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._pending.append(sp)

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a wrapper that records span ``name``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._bindings.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._bindings:
            module, attr, orig = self._bindings.pop()
            setattr(module, attr, orig)

    # -- engine counters -----------------------------------------------------

    def collect(self) -> None:
        """Read engine counters for every span closed since the last call.

        Each stage is counted once, for the earliest job that listed it: a
        later job that reuses a shuffle lists the same stage id as skipped.
        """
        spans, self._pending = self._pending, []
        if not spans or self.spark is None:
            for sp in spans:
                sp["engine"] = dict.fromkeys(ENGINE_FIELDS, 0)
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = []
        for sp in spans:
            sp["engine"] = dict.fromkeys(ENGINE_FIELDS, 0)
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                jobs.append((jid, sp))
        for jid, sp in sorted(jobs, key=lambda j: j[0]):
            eng = sp["engine"]
            eng["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store or never ran
                    continue
                eng["tasks"] += st.numCompleteTasks()
                eng["failed_tasks"] += st.numFailedTasks()
                eng["executor_run_s"] += st.executorRunTime() / 1e3
                eng["executor_cpu_s"] += st.executorCpuTime() / 1e9
                eng["gc_s"] += st.jvmGcTime() / 1e3
                eng["input_bytes"] += st.inputBytes()
                eng["input_records"] += st.inputRecords()
                eng["output_bytes"] += st.outputBytes()
                eng["shuffle_write_bytes"] += st.shuffleWriteBytes()
                eng["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    # -- aggregation ---------------------------------------------------------

    def finished(self) -> list[dict]:
        """Closed spans with ``dur`` and ``self_s`` (duration minus the time
        covered by child spans; children of one span never overlap, as the
        client is a single thread)."""
        closed = [sp for sp in self.spans if "end" in sp]
        child = {}
        for sp in closed:
            if sp["parent"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        for sp in closed:
            sp["dur"] = sp["end"] - sp["start"]
            sp["self_s"] = sp["dur"] - child.get(sp["id"], 0.0)
        return closed

    def by_name(self, roots: set[int] | None = None) -> dict[str, dict]:
        """Per span name: call count, summed self time, summed engine
        counters (self only). ``roots`` limits the result to spans under
        the given root span ids."""
        closed = self.finished()
        parent = {sp["id"]: sp["parent"] for sp in closed}

        def root_of(i):
            while parent.get(i) is not None:
                i = parent[i]
            return i

        out: dict[str, dict] = {}
        for sp in closed:
            if roots is not None and root_of(sp["id"]) not in roots:
                continue
            agg = out.setdefault(
                sp["name"], {"calls": 0, "self_s": 0.0, **dict.fromkeys(ENGINE_FIELDS, 0)}
            )
            agg["calls"] += 1
            agg["self_s"] += sp["self_s"]
            for k in ENGINE_FIELDS:
                agg[k] += sp.get("engine", {}).get(k, 0)
        return out
