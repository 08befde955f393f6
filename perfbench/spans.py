"""Spans around the benchmark's calls into each layer, and the fold of
Spark's event log onto them.

A span is (id, name, start, end, parent, trace id). Spans of one operation
(a write step or a query) share a trace id. Spans are kept in memory and
written out once, at the end of a traced run.

Spark jobs are attributed to spans in two ways: every span sets the job
description ``span:<trace>/<id> <name>``, and jobs submitted from threads
that do not inherit it (the writer threads inside ``job.run``) fall to the
innermost span whose interval contains the job's submission time. The
benchmark drives one operation at a time, so the two agree.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    leaves the Spark job description alone."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self._next_trace = 1

    def new_trace(self) -> int:
        t = self._next_trace
        self._next_trace += 1
        return t

    @contextlib.contextmanager
    def span(self, name: str, trace: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else 0),
            "start": time.time(),
            "end": None,
        }
        self._next_id += 1
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"span:{sp['trace']}/{sp['id']} {name}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            outer = self._stack[-1] if self._stack else None
            sc.setJobDescription(
                f"span:{outer['trace']}/{outer['id']} {outer['name']}" if outer else None
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


# ------------------------------------------------------------ event log fold

PY_METRICS = {
    "time to start Python workers": "python_worker_start",
    "time to initialize Python workers": "python_worker_init",
    "time to run Python workers": "python_worker_run",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
}


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_event_log(path: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: executor run/CPU/GC seconds, shuffle and spill bytes,
    the busiest stage's task skew (max/median task time), stage intervals,
    Python-worker boundary metrics and files read by scans."""
    by_id = {s["id"]: s for s in spans}
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    sql_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_ivals: dict[int, list[tuple[float, float]]] = defaultdict(list)

    def walk_plan(node):
        for m in node.get("metrics", []):
            acc_names[m["accumulatorId"]] = m["name"]
        for ch in node.get("children", []):
            walk_plan(ch)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                sid = None
                if desc.startswith("span:"):
                    sid = int(desc.split()[0].split("/")[1])
                if sid not in by_id:
                    sp = _innermost(spans, e["Submission Time"] / 1000)
                    sid = sp["id"] if sp else None
                if sid is not None:
                    job_span[e["Job ID"]] = sid
                    for st in e.get("Stage IDs", []):
                        stage_span[st] = sid
            elif kind.endswith("SQLExecutionStart"):
                walk_plan(e.get("sparkPlanInfo", {}))
                sp = _innermost(spans, e["time"] / 1000)
                if sp:
                    sql_span[e["executionId"]] = sp["id"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk_plan(e.get("sparkPlanInfo", {}))
            elif kind.endswith("DriverAccumUpdates"):
                sid = sql_span.get(e["executionId"])
                if sid is None:
                    continue
                for acc_id, val in e["accumUpdates"]:
                    if acc_names.get(acc_id) == "number of files read":
                        out[sid]["files_read"] += val
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                if sid is None or "Task Metrics" not in e:
                    continue
                tm, ti = e["Task Metrics"], e["Task Info"]
                o = out[sid]
                o["executor_run_s"] += tm["Executor Run Time"] / 1e3
                o["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                o["gc_s"] += tm["JVM GC Time"] / 1e3
                sr = tm["Shuffle Read Metrics"]
                o["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                o["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                o["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                stage_tasks[e["Stage ID"]].append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
                for a in ti.get("Accumulables", []):
                    key = PY_METRICS.get(a.get("Name"))
                    if key and isinstance(a.get("Update"), (int, float, str)):
                        o[key] += float(a["Update"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = stage_span.get(info["Stage ID"])
                if sid is not None and info.get("Submission Time") and info.get("Completion Time"):
                    stage_ivals[sid].append(
                        (info["Submission Time"] / 1000, info["Completion Time"] / 1000)
                    )

    # task skew of each span's busiest stage
    stage_total: dict[int, tuple[float, int]] = {}
    for st, times in stage_tasks.items():
        sid = stage_span[st]
        tot = sum(times)
        if len(times) >= 2 and (sid not in stage_total or tot > stage_total[sid][0]):
            stage_total[sid] = (tot, st)
    for sid, (_, st) in stage_total.items():
        times = stage_tasks[st]
        med = statistics.median(times)
        out[sid]["task_skew"] = max(times) / med if med > 0 else 1.0
    for sid, iv in stage_ivals.items():
        sp = by_id[sid]
        clipped = [(max(s, sp["start"]), min(e, sp["end"])) for s, e in iv]
        out[sid]["stage_busy_s"] = _union_length([(s, e) for s, e in clipped if e > s])
    return {k: dict(v) for k, v in out.items()}

