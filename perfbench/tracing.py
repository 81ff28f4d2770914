"""Spans around the benchmark's calls into each layer, Spark event-log
aggregation per span, and peak-RSS sampling from /proc.

Spans are recorded only in a traced run. Each span tags the Spark jobs it
launches with ``sparkContext.setJobGroup(<span id>)``; after the session
stops, the session's event log is read back and every task is charged to the
span whose group launched its job.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    leaves the job group alone, so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self.op_id = 0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(str(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(str(parent["id"]), parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"] and c["end"])
        covered = 0.0
        cur_s = cur_e = None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def descendants(self, span: dict) -> set[int]:
        ids = {span["id"]}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _aggregate() -> dict:
    return {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "gc_s": 0.0,
            "spill_bytes": 0, "scheduler_delay_s": 0.0, "stage_task_s": {},
            "actions": {}}


def read_event_log(log_dir: str) -> dict:
    """Per-job-group task aggregates from the (uncompressed) event logs in
    ``log_dir``: {group: {jobs, tasks, shuffle_write_bytes, gc_s,
    spill_bytes, scheduler_delay_s, stage_task_s, actions}}.
    ``stage_task_s`` holds each stage's task durations; ``actions`` maps a
    job's call site to the ids of the actions that launched it."""
    stage_group: dict[tuple[str, int], str] = {}
    groups: dict[str, dict] = {}

    def agg(group: str) -> dict:
        return groups.setdefault(group, _aggregate())

    for path, name in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    a = agg(group)
                    a["jobs"] += 1
                    # one action can launch several jobs; they share its
                    # SQL execution id
                    site = props.get("callSite.short") or ""
                    a["actions"].setdefault(site, set()).add(
                        props.get("spark.sql.execution.id", ev["Job ID"]))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(name, sid)] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((name, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    a = agg(group)
                    info = ev["Task Info"]
                    duration = info["Finish Time"] - info["Launch Time"]
                    a["tasks"] += 1
                    a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    a["gc_s"] += m["JVM GC Time"] / 1000
                    a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    # the UI's definition: wall time not spent deserializing,
                    # running, serializing the result or fetching it
                    delay = duration - m["Executor Deserialize Time"] - \
                        m["Executor Run Time"] - m["Result Serialization Time"] - \
                        info.get("Getting Result Time", 0)
                    a["scheduler_delay_s"] += max(0, delay) / 1000
                    a["stage_task_s"].setdefault(f"{name}:{ev['Stage ID']}", []).append(
                        duration / 1000)
    return groups


def _event_files(log_dir: str) -> list[tuple[str, str]]:
    """(path, application) of every event-log file: a single file per
    application, or a v2 directory of numbered ``events_<n>_`` parts."""
    out = []
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        if not os.path.isdir(path):
            out.append((path, app))
            continue
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        out += [(os.path.join(path, p), app) for p in parts]
    return out


def merge_groups(groups: dict, ids) -> dict:
    """Sum the aggregates of several span ids (a span and its children)."""
    out = _aggregate()
    for i in ids:
        g = groups.get(str(i))
        if g is None:
            continue
        for k, v in g.items():
            if k == "stage_task_s":
                out[k].update(v)
            elif k == "actions":
                for site, execs in v.items():
                    out[k].setdefault(site, set()).update(execs)
            else:
                out[k] += v
    return out


def _tree_hwm_kb(root: int) -> dict[int, int]:
    """Peak RSS (VmHWM, kept by the kernel) of ``root`` and of every
    descendant process, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            continue
    return out


class RssSampler:
    """Peak RSS of the driver JVM and its Python workers (the JVM's process
    tree): the sum of each process's kernel-kept high-water mark, polled on
    a background thread so that workers are seen before they exit."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid, kb in _tree_hwm_kb(self.jvm_pid).items():
            self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024
