"""Spans and Spark counts for the traced run.

A span (name, start, end, parent) is recorded around each call into a
package module's public functions: ``Tracer.instrument`` replaces the
named module attributes with wrappers, so the calls the program makes
itself (``cli._load_csvs`` calling ``transform_rides``, for instance)
are timed where they happen. Spans stay in memory and are written out
when the run ends. Spark-side facts are joined to spans afterwards:

- each span sets a Spark job group, so the local event log tags the
  jobs it ran; jobs run under another group (a streaming query's own
  run id) are attributed by submission time to the innermost open span;
- stages, tasks, shuffle-write, spill, output and input counts come
  from the event log, reduced after the session stops;
- Catalyst phase times and action durations come from a
  ``QueryExecutionListener`` registered through py4j;
- streaming progress comes from a ``StreamingQueryListener``.

With tracing off, ``Tracer.span`` does nothing, no function is wrapped
and no listener or event log is installed.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # wall clock, seconds
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.reduce
    jobs: list = field(default_factory=list)
    actions: list = field(default_factory=list)
    plans: list = field(default_factory=list)  # physical plans run

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "start": self.t0, "end": self.t1, "attrs": self.attrs,
            "jobs": [j["id"] for j in self.jobs],
        }


class _ActionListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self) -> None:
        self.records: list[dict] = []  # appended from py4j's callback thread

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java API)
        phases = {}
        start_ms = None
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            phases[kv._1()] = summary.durationMs() / 1000.0
            if kv._1() == "planning":
                start_ms = summary.startTimeMs()
        self.records.append(
            {
                "func": funcName,
                "seconds": durationNs / 1e9,
                "phases": phases,
                # the planning phase starts inside the action
                "at": (start_ms / 1000.0) if start_ms else time.time(),
            }
        )

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, enabled: bool, eventlog_dir: str | None = None) -> None:
        self.enabled = enabled
        self.eventlog_dir = eventlog_dir
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None
        self._actions: _ActionListener | None = None
        self._stream_listener = None
        self.progress: list[dict] = []
        self.session = None
        self._wrapped: list[tuple[object, str, object]] = []

    # -- installation ------------------------------------------------------

    def attach(self, spark) -> None:
        """Register the listeners on ``spark`` (tracing on only)."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.session = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self._actions = _ActionListener()
        spark._jsparkSession.listenerManager().register(self._actions)
        progress = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch": p.batchId,
                        "timestamp": p.timestamp,
                        "duration_ms": dict(p.durationMs),
                        "rows": p.numInputRows,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._stream_listener = Progress()
        spark.streams.addListener(self._stream_listener)

    def instrument(self, functions: dict[str, str]) -> None:
        """Wrap module functions in spans: ``{"cli.read_table":
        "wroclaw_bike_stats_spark.cli", ...}`` maps a span name, whose
        last part is the function, to the module that defines it.
        A caller that looks the function up on that module when it
        calls it goes through the wrapper; a module that bound the name
        at its own import time keeps calling the original."""
        if not self.enabled:
            return
        for name, module in functions.items():
            mod = importlib.import_module(module)
            attr = name.rsplit(".", 1)[1]
            orig = getattr(mod, attr)

            def wrapper(*a, _orig=orig, _name=name, **kw):
                with self.span(_name):
                    return _orig(*a, **kw)

            setattr(mod, attr, functools.wraps(orig)(wrapper))
            self._wrapped.append((mod, attr, orig))

    def detach(self) -> None:
        """Unwrap the instrumented functions, wait for queued listener
        callbacks, then unregister the listeners."""
        for mod, attr, orig in reversed(self._wrapped):
            setattr(mod, attr, orig)
        self._wrapped.clear()
        if not self.enabled or self.session is None:
            return
        last, quiet_since = -1, time.time()
        deadline = time.time() + 10
        while time.time() < deadline:
            n = len(self._actions.records) + len(self.progress)
            if n != last:
                last, quiet_since = n, time.time()
            elif time.time() - quiet_since > 0.5:
                break
            time.sleep(0.1)
        self.session._jsparkSession.listenerManager().unregister(self._actions)
        self.session.streams.removeListener(self._stream_listener)

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"perfbench-{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- reduction -------------------------------------------------------------

    def _innermost(self, at: float) -> Span | None:
        best = None
        for sp in self.spans:
            if sp.t0 <= at <= sp.t1 and (best is None or sp.t0 >= best.t0):
                best = sp
        return best

    def reduce(self) -> None:
        """Attach jobs (with stage/task/byte counts) and actions to spans.
        Call after the session has stopped, so the event log is closed."""
        if not self.enabled:
            return
        jobs, sql = read_event_log(self.eventlog_dir)
        for at, plan in sql:
            sp = self._innermost(at)
            if sp is not None:
                sp.plans.append(plan)
        for job in jobs:
            group = job["group"] or ""
            sp = None
            if group.startswith("perfbench-"):
                sp = self.spans[int(group.split("-", 1)[1])]
            elif job["submitted"] is not None:
                sp = self._innermost(job["submitted"])
            if sp is not None:
                sp.jobs.append(job)
        for rec in self._actions.records:
            sp = self._innermost(rec["at"])
            if sp is not None:
                sp.actions.append(rec)

    def subtree(self, sp: Span) -> list[Span]:
        """``sp`` and every span below it."""
        out, frontier = [sp], {sp.sid}
        for other in self.spans[sp.sid + 1:]:
            if other.parent in frontier:
                out.append(other)
                frontier.add(other.sid)
        return out

    def totals(self, spans: list[Span]) -> dict:
        """Spark counts summed over ``spans`` (each job and action is
        attached to exactly one span, so sums do not double count)."""
        t = dict.fromkeys(
            ["jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
             "output_bytes", "input_records", "actions", "action_s",
             "analysis_s", "optimization_s", "planning_s"], 0.0)
        for sp in spans:
            for j in sp.jobs:
                t["jobs"] += 1
                for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                          "output_bytes", "input_records"):
                    t[k] += j[k]
            for a in sp.actions:
                t["actions"] += 1
                t["action_s"] += a["seconds"]
                for ph in ("analysis", "optimization", "planning"):
                    t[f"{ph}_s"] += a["phases"].get(ph, 0.0)
        return t

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {"spans": [s.as_dict() for s in self.spans],
                 "streaming_progress": self.progress},
                f,
            )


def read_event_log(eventlog_dir: str) -> tuple[list[dict], list[tuple[float, str]]]:
    """Per-job counts from a Spark event log directory (job group,
    submission time, stages and tasks actually run, shuffle-write,
    spill, output bytes and input records), and the start time and
    physical plan text of every SQL execution."""
    jobs: dict[int, dict] = {}
    sql: list[tuple[float, str]] = []
    stage_job: dict[int, int] = {}
    paths = sorted(
        os.path.join(root, f) for root, _, files in os.walk(eventlog_dir) for f in files
        if not f.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    sql.append((ev["time"] / 1000.0, ev.get("physicalPlanDescription", "")))
                elif kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    sub = ev.get("Submission Time")
                    jobs[jid] = {
                        "id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": sub / 1000.0 if sub else None,
                        "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "output_bytes": 0, "input_records": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in jobs:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    j["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    j["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    j["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    return sorted(jobs.values(), key=lambda j: j["id"]), sql
