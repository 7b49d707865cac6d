"""Spans and Spark-side counters for the traced run.

Everything here observes the engine from outside its package:

* ``Tracer`` keeps spans in memory (name, start, end, parent, operation
  id) and writes them out once, at the end of the run.
* ``SparkProbe`` reads Spark's live status store (jobs and stages of a job
  group: times, task counts, executor run/CPU time, shuffle and spill
  bytes) and, through a ``QueryExecutionListener`` registered over the
  py4j callback server, the Catalyst phase times and final physical plan
  of every action.
* ``layer_times`` splits one operation's wall into layer self times. They
  add up to the wall by construction; what the split could not place is
  measured by the caller against the JVM's own stamps.

Span clocks are ``time.time()`` seconds, the clock the JVM's
``currentTimeMillis`` stamps share.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op, attrs))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int,
            op: str, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, op, attrs))
        return len(self.spans) - 1

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    return max(iv[0], lo), min(iv[1], hi)


#: Catalyst work done when an action runs (analysis happens while the
#: DataFrame is built and stays in the build layer).
ACTION_PHASES = ("optimization", "planning")
_EXCHANGE = re.compile(r"^[\s:+|\-*]*(Exchange|BroadcastExchange)\b")


def count_exchanges(plan_string: str) -> int:
    """Exchange nodes in the final section of a physical plan string."""
    final = plan_string.split("== Initial Plan ==")[0]
    return sum(1 for line in final.splitlines() if _EXCHANGE.match(line))


class _ActionListener:
    """py4j-implemented ``QueryExecutionListener``: keeps a reference to
    each finished action's QueryExecution. The callback makes no calls
    back into the JVM (a nested call from the listener thread can
    deadlock against a Python thread waiting on that listener); the
    records are read on the caller's thread in ``drain``."""

    def __init__(self) -> None:
        self._raw: list[tuple] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        with self._lock:
            self._raw.append((func_name, qe, duration_ns))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self._lock:
            self._raw.append((func_name, None, 0))

    def drain(self) -> list[dict]:
        with self._lock:
            raw, self._raw = self._raw, []
        out = []
        for func_name, qe, duration_ns in raw:
            rec = {"action": func_name, "duration_s": duration_ns / 1e9,
                   "phases": {}, "exchanges": 0, "failed": qe is None}
            if qe is not None:
                it = qe.tracker().phases().iterator()
                while it.hasNext():
                    kv = it.next()
                    rec["phases"][kv._1()] = (kv._2().startTimeMs() / 1e3,
                                              kv._2().endTimeMs() / 1e3)
                rec["exchanges"] = count_exchanges(
                    qe.executedPlan().toString())
            out.append(rec)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads what Spark recorded about the jobs of one job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._listener: _ActionListener | None = None

    # -- QueryExecutionListener ------------------------------------------
    def listen(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _ActionListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def unlisten(self) -> None:
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(
                self._listener)
            self._listener = None

    def settle(self) -> None:
        """Wait until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def actions(self) -> list[dict]:
        return self._listener.drain() if self._listener else []

    # -- status store ----------------------------------------------------
    def group_jobs(self, group: str) -> list[dict]:
        """Jobs of a job group, each with the stage attempts that ran."""
        store = self._jsc.statusStore()
        no_tasks = self._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        jobs, seen = [], set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub = job.submissionTime()
            stages = []
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, no_tasks, False,
                                           no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    start, end = st.submissionTime(), st.completionTime()
                    if (st.status().toString() == "SKIPPED"
                            or start.isEmpty() or end.isEmpty()):
                        continue
                    stages.append({
                        "stage": sid,
                        "start": start.get().getTime() / 1e3,
                        "end": end.get().getTime() / 1e3,
                        "tasks": st.numTasks(),
                        "failed_tasks": st.numFailedTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "input_records": st.inputRecords(),
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.diskBytesSpilled(),
                    })
            jobs.append({
                "job": jid,
                "submitted": (sub.get().getTime() / 1e3
                              if not sub.isEmpty() else 0.0),
                "stages": stages,
            })
        return jobs


def add_spark_children(tracer: Tracer, parent: int, op: str,
                       stages: list[dict], actions: list[dict]) -> None:
    """Attach stage spans and Catalyst action-phase spans under ``parent``
    (clipped to it: JVM stamps have millisecond resolution)."""
    p = tracer.spans[parent]
    for st in stages:
        s, e = _clip((st["start"], st["end"]), p.start, p.end)
        if e > s:
            tracer.add("stage", s, e, parent, op, stage=st["stage"])
    for act in actions:
        for phase in ACTION_PHASES:
            if phase in act["phases"]:
                s, e = _clip(act["phases"][phase], p.start, p.end)
                if e > s:
                    tracer.add("plan", s, e, parent, op, phase=phase,
                               action=act["action"])


def layer_times(tracer: Tracer, root: int) -> dict[str, float]:
    """Exclusive split of an operation's wall into layers.

    Children of the root are phase spans (``build``, ``execute``, or the
    wrapped pipeline calls); their children are ``plan``, ``stage`` and
    ``collect`` spans. Time is attributed with priority stage > plan >
    collect > the phase's own self time, so overlapping stages (AQE runs
    query stages concurrently) are counted once and the layers add up to
    the wall. ``unattributed`` is root time outside every phase span.
    """
    r = tracer.spans[root]
    out: dict[str, float] = {}
    covered = []
    for ph in tracer.children(root):
        P = tracer.spans[ph]
        lo, hi = max(P.start, r.start), min(P.end, r.end)
        covered.append((lo, hi))
        kids = [tracer.spans[c] for c in tracer.children(ph)]
        taken: list[tuple[float, float]] = []
        for layer in ("stage", "plan", "collect"):
            ivs = [_clip((k.start, k.end), lo, hi) for k in kids if k.name == layer]
            before = union_length(taken)
            taken += ivs
            share = union_length(taken) - before
            key = {"stage": f"{P.name}.stages", "plan": f"{P.name}.plan",
                   "collect": f"{P.name}.collect"}[layer]
            out[key] = out.get(key, 0.0) + share
        key = f"{P.name}.self"
        out[key] = out.get(key, 0.0) + (hi - lo) - union_length(taken)
    out["unattributed"] = (r.end - r.start) - union_length(covered)
    return out
