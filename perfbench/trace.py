"""Spans around calls into the engine, and Spark's event log mapped onto them.

A span is (id, layer, name, start, end, parent).  Entering a span sets the
SparkContext job group to the span id, so every job, stage and task Spark
runs inside it carries the id in its properties; after the run the
uncompressed event log is parsed offline and each stage is charged to the
span (and so the layer) whose group it carries.  Spans live in memory and
are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

LAYERS = ("rollup", "store", "engine", "ewm", "window", "gorilla", "session")
GENERIC = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
           "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "self_s",
           "driver_only_s")

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """No-op unless given a SparkContext."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], f"{rec['layer']}.{rec['name']}")

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": f"span{len(self.spans)}", "layer": layer, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def _new_counts() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, PY_SENT: 0,
            PY_RETURNED: 0, "job_intervals": [], "py_stage_skews": []}


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor time, shuffle, spill,
    Python-worker bytes, job intervals and per-stage task skew of the stages
    that ran Python workers."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[tuple, str] = {}
    stage_tasks: dict[tuple, list] = {}
    stage_py: dict[tuple, int] = {}

    def g(name):
        return groups.setdefault(name, _new_counts())

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    job_group[ev["Job ID"]] = grp
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    g(grp)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    g(job_group[jid])["job_intervals"].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_group[key] = grp
                    g(grp)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                grp = stage_group.get(key)
                if grp is None:
                    continue
                c = g(grp)
                c["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                c["executor_run_s"] += run_ms / 1000.0
                c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                sr = tm.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                stage_tasks.setdefault(key, []).append(run_ms)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (PY_SENT, PY_RETURNED):
                        upd = int(acc.get("Update") or 0)
                        c[name] += upd
                        if name == PY_SENT:
                            stage_py[key] = stage_py.get(key, 0) + upd
    for key, sent in stage_py.items():
        times = stage_tasks.get(key, [])
        if sent > 0 and times:
            med = statistics.median(times)
            groups[stage_group[key]]["py_stage_skews"].append(
                max(times) / med if med > 0 else 1.0)
    return groups


def _union_len(intervals: list[tuple]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_rows(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """Each span with its own Spark counters and self time (duration minus
    the time its child spans cover)."""
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    rows = []
    for s in spans:
        dur = s["end"] - s["start"]
        c = groups.get(s["id"], _new_counts())
        covered = _union_len([
            (max(lo, s["start"]), min(hi, s["end"]))
            for lo, hi in c["job_intervals"] if hi > s["start"] and lo < s["end"]
        ])
        rows.append({
            **{k: v for k, v in s.items()},
            "duration_s": dur,
            "self_s": dur - _union_len(children.get(s["id"], [])),
            "driver_only_s": max(dur - covered, 0.0),
            **{k: v for k, v in c.items() if k != "job_intervals"},
        })
    return rows


def layer_totals(rows: list[dict]) -> dict[str, dict]:
    out = {layer: {k: 0.0 for k in GENERIC} for layer in LAYERS}
    for r in rows:
        t = out.setdefault(r["layer"], {k: 0.0 for k in GENERIC})
        for k in GENERIC:
            t[k] += r[k]
    return out


def write_spans(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r, default=str) + "\n")
