"""Spans and Spark counters for the benchmark's traced run.

Spans are recorded from the benchmark's own files around each call into an
engine layer; nothing inside ``ralf_spark`` is instrumented. A span that
asks for ``jobs`` runs its calls under a job group of its own, and on exit
reads that group's jobs back from Spark's status tracker and, per stage,
``statusStore().lastStageAttempt`` (both work with ``spark.ui.enabled``
false). Spans stay in memory until :meth:`Tracer.dump`.

A disabled tracer records nothing and sets no job group, so the untraced
run executes the same calls without the tracing cost.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "input_mb", "output_mb",
    "spill_mb",
)
PLAN_COUNTERS = ("exchanges", "broadcasts", "smj", "python_nodes",
                 "codegen_stages")
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    rid: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def job_counters(sc, job_ids) -> dict[str, float]:
    """Spark's per-stage task metrics summed over the stages of ``job_ids``
    that ran (skipped stages reuse earlier shuffle output and cost nothing)."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    out["jobs"] = float(len(job_ids))
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the status store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["input_mb"] += st.inputBytes() / MB
            out["output_mb"] += st.outputBytes() / MB
            out["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)
_CODEGEN = re.compile(r"\[codegen id : (\d+)\]")


def plan_shape(spark, df) -> dict[str, float]:
    """Operator counts of ``df``'s static physical plan (the plan the
    planner picks before adaptive re-optimisation, which is also the only
    one whose whole-stage-codegen boundaries are known before it runs),
    read from ``ralf_spark.plans.explain.explain_str``'s formatted output."""
    from ralf_spark.plans.explain import explain_str

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        text = explain_str(df)
    finally:
        spark.conf.set(key, prev)
    nodes = _NODE.findall(text)
    return {
        "exchanges": float(sum(n in ("Exchange", "ShuffleExchange")
                               for n in nodes)),
        "broadcasts": float(sum(n == "BroadcastExchange" for n in nodes)),
        "smj": float(sum(n == "SortMergeJoin" for n in nodes)),
        "python_nodes": float(sum("Python" in n or "Pandas" in n
                                  or "Arrow" in n for n in nodes)),
        "codegen_stages": float(len(set(_CODEGEN.findall(text)))),
    }


class Tracer:
    """Collects spans of one benchmark run.

    The client is single-threaded, but a streaming query calls back into
    the driver from its own thread while the client thread waits in the
    query; the open-span stack is shared and locked so the callback's span
    nests under the client's.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._open: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, rid: str = "", jobs: bool = False):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._open[-1] if self._open else None
            sp = Span(
                next(self._ids), name,
                rid or (parent.rid if parent else ""),
                parent.id if parent else None, time.perf_counter(),
            )
            self._open.append(sp)
            self.spans.append(sp)
        group = f"perfbench-span-{sp.id}"
        if jobs:
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            with self._lock:
                self._open.remove(sp)
            if jobs:
                self.sc.setLocalProperty(_GROUP, prev)
                self.add_group(sp, group)

    def add_group(self, sp: Span | None, group: str) -> None:
        """Add the counters of job group ``group``'s jobs to ``sp``."""
        if sp is None:
            return
        got = job_counters(
            self.sc, self.sc.statusTracker().getJobIdsForGroup(group))
        for k, v in got.items():
            sp.counters[k] = sp.counters.get(k, 0.0) + v

    def self_time(self, sp: Span) -> float:
        """``sp``'s duration minus the part its children's intervals cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == sp.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def dump(self, path: str, meta: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [{
            "id": s.id, "name": s.name, "rid": s.rid, "parent": s.parent,
            "start_s": s.start - t0, "end_s": s.end - t0, "dur_s": s.dur,
            "self_s": self.self_time(s), "counters": s.counters,
        } for s in self.spans]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": rows}, f, indent=1)
