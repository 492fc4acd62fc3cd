"""Spans around the package's layer functions, and the Spark event log.

Spans are recorded from outside the package: each traced function is
replaced, at every name a caller looks it up by, with a wrapper that
records (id, parent, layer, start, end). Spans stay in memory until the
run ends. A span's self time is its duration minus the part of its
interval its child spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from collections import defaultdict

PKG = "gemini_data_wrangler_spark"
_MISSING = object()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def span(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append((sid, parent, layer, 0.0, 0.0))
            self._stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[sid] = (sid, parent, layer, t0, time.perf_counter())

        return wrapper

    def counter(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.counts[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    # -- installation ----------------------------------------------------
    def patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, value)

    def wrap_function(self, layer: str, module, name: str) -> None:
        """Wrap ``module.name`` and every package module global bound to
        the same function object (``from x import name`` copies)."""
        original = getattr(module, name)
        wrapper = self.span(layer, original)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.patch(mod, attr, wrapper)

    def wrap_module(self, layer: str, module) -> None:
        """Wrap every public function defined in ``module``."""
        for name, value in list(vars(module).items()):
            if (
                not name.startswith("_")
                and callable(value)
                and getattr(value, "__module__", None) == module.__name__
                and not isinstance(value, type)
            ):
                self.wrap_function(layer, module, name)

    def wrap_method(self, layer: str, cls, name: str) -> None:
        raw = cls.__dict__[name]
        if isinstance(raw, classmethod):
            self.patch(cls, name, classmethod(self.span(layer, raw.__func__)))
        else:
            self.patch(cls, name, self.span(layer, raw))

    def count_method(self, counter: str, cls, name: str) -> None:
        self.patch(cls, name, self.counter(counter, getattr(cls, name)))

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._patches):
            if value is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, value)
        self._patches.clear()


def self_times(spans) -> list[float]:
    """Self time of each span: duration minus the union of its children's
    intervals, clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _sid, parent, _layer, t0, t1 in spans:
        if parent is not None:
            children[parent].append((t0, t1))
    out = []
    for sid, _parent, _layer, t0, t1 in spans:
        covered, end = 0.0, t0
        for c0, c1 in sorted(children.get(sid, ())):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out.append((t1 - t0) - covered)
    return out


def layer_times(spans) -> tuple[dict[str, float], dict[str, float]]:
    """(total, self) seconds per layer; nested spans of one layer count
    once in the total."""
    by_id = {s[0]: s for s in spans}
    total: dict[str, float] = defaultdict(float)
    self_: dict[str, float] = defaultdict(float)
    for span, st in zip(spans, self_times(spans)):
        sid, parent, layer, t0, t1 = span
        self_[layer] += st
        # Count a span in its layer's total only if no ancestor shares the
        # layer, so recursion is not double-counted.
        p = parent
        while p is not None and by_id[p][2] != layer:
            p = by_id[p][1]
        if p is None:
            total[layer] += t1 - t0
    return dict(total), dict(self_)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

PLAN_PATTERNS = {
    "plan.exchanges": re.compile(r"(?<![A-Za-z])(?:Exchange|ReusedExchange)\b"),
    "plan.smj": re.compile(r"\bSortMergeJoin\b"),
    "plan.bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "plan.python_evals": re.compile(
        r"\b(?:BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
        r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonMapInArrow)\b"
    ),
    "plan.inmemory_scans": re.compile(r"\bInMemoryTableScan\b"),
}


EXEC_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.useful_task_ratio",
    "exec.executor_cpu_s", "exec.gc_s", "exec.spill_mb", "exec.scan_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", *PLAN_PATTERNS,
)


def final_plan(description: str) -> str:
    """The executed tree of a physical plan description: the AQE final plan
    when present, without the initial plan or the per-node details."""
    text = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return text


def event_log_lines(log_dir: str, app_id: str):
    """Lines of an application's event log: a single file, or the numbered
    ``events_N_<app>`` files of a rolling log, in order."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        paths = [single]
    else:
        roll = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        paths = sorted(
            (os.path.join(roll, f) for f in os.listdir(roll) if f.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(lines, groups: set[str]) -> dict[str, float]:
    """Executor-side totals over the jobs whose job group is in ``groups``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, str] = {}
    tot: dict[str, float] = dict.fromkeys(EXEC_KEYS, 0.0)
    useful = 0
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group not in groups:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            if props.get("spark.sql.execution.id") is not None:
                exec_group[int(props["spark.sql.execution.id"])] = group
            tot["exec.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_group:
                tot["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_group:
                continue
            m = ev.get("Task Metrics") or {}
            inp = m.get("Input Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tot["exec.tasks"] += 1
            records = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
            useful += records > 0
            tot["exec.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            tot["exec.spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            tot["exec.scan_mb"] += inp.get("Bytes Read", 0) / 1e6
            tot["exec.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            tot["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        elif kind in (_SQL_START, _SQL_UPDATE):
            plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    tot["exec.useful_task_ratio"] = useful / tot["exec.tasks"] if tot["exec.tasks"] else 0.0
    for eid in exec_group:
        tree = final_plan(plans.get(eid, ""))
        for key, pat in PLAN_PATTERNS.items():
            tot[key] += len(pat.findall(tree))
    return dict(tot)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms recorded by the query's planning
    tracker; a phase that has not run reads 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
