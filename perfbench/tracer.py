"""Spans around the benchmark's calls into the engine, from outside it.

A span records name, start, end, parent span and operation id. Spans
stay in memory and are written out once, when the run ends. Each span
also sets a Spark job group (``pb<span id>``), so the Spark event log
attributes every job the span's calls launch — and through the job, its
stages and tasks — to that span. Jobs launched on threads the benchmark
does not own (the file-stream's micro-batch thread) carry another group;
they are attributed to the innermost span open when they were submitted.

Event-log aggregates per span (inclusive of child spans):

- ``jobs``, ``tasks``: counts;
- ``task_s``: summed task run time; ``cpu_util`` divides it by the
  span's wall times the core count (the share of task slots busy — it
  includes time a task waits on its Python worker, which the JVM's own
  CPU counter misses);
- ``shuffle_mb`` (bytes written to shuffle), ``spill_mb`` (disk spill),
  ``output_mb`` (bytes written by output tasks);
- ``job_s``: the union of the span's job intervals; ``driver_s`` is the
  span's wall minus that union — time the driver spent with no Spark job
  running.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        """Open a span. ``op=True`` starts a new operation id; other spans
        inherit the operation of their parent. Yields the span record (or
        a throwaway dict when tracing is off) so callers can attach
        counts."""
        if not self.enabled:
            yield dict(attrs)
            return
        parent = self._stack[-1] if self._stack else None
        if op:
            self._next_op += 1
            op_id = self._next_op
        else:
            op_id = self.spans[parent]["op"] if parent is not None else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op_id,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(f"pb{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is None:
                pass
            elif self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, span: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"] and s["name"] == name]

    # -- event-log attribution -------------------------------------------

    def attribute(self, eventlog_dir: str, cores: int) -> None:
        """Fold the event log written by the (stopped) session into the
        spans. Must run after ``spark.stop()``, which finalizes the log."""
        from analyze_eventlog import _iter_eventlog_lines

        logs = sorted(glob.glob(os.path.join(eventlog_dir, "*")))
        if not logs:
            raise RuntimeError(f"no Spark event log in {eventlog_dir}")
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for line in _iter_eventlog_lines(logs[-1]):
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[jid] = {"submit": e["Submission Time"] / 1000.0, "end": None, "group": group,
                             "tasks": 0, "task_s": 0.0, "shuffle": 0, "spill": 0, "output": 0}
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None:
                    continue
                j = jobs[jid]
                ti = e.get("Task Info") or {}
                tm = e.get("Task Metrics") or {}
                j["tasks"] += 1
                j["task_s"] += ((ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0)) / 1000.0
                j["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j["spill"] += tm.get("Disk Bytes Spilled", 0)
                j["output"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)

        own: dict[int, list[dict]] = {s["id"]: [] for s in self.spans}
        for j in jobs.values():
            sid = None
            if j["group"] and j["group"].startswith("pb") and j["group"][2:].isdigit():
                sid = int(j["group"][2:])
            else:
                open_ = [s for s in self.spans
                         if s["end"] is not None and s["start"] <= j["submit"] <= s["end"]]
                if open_:
                    sid = max(open_, key=lambda s: s["start"])["id"]
            if sid in own:
                own[sid].append(j)
        # inclusive: a span's jobs plus its descendants'
        incl = {sid: list(js) for sid, js in own.items()}
        for s in reversed(self.spans):  # children always follow parents
            if s["parent"] is not None:
                incl[s["parent"]].extend(incl[s["id"]])
        for s in self.spans:
            js = incl[s["id"]]
            wall = max((s["end"] or s["start"]) - s["start"], 1e-9)
            ivs = sorted((max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"]))
                         for j in js)
            covered, cur = 0.0, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            task_s = sum(j["task_s"] for j in js)
            s.update(
                jobs=len(js),
                tasks=sum(j["tasks"] for j in js),
                task_s=task_s,
                cpu_util=task_s / (wall * cores),
                shuffle_mb=sum(j["shuffle"] for j in js) / 1e6,
                spill_mb=sum(j["spill"] for j in js) / 1e6,
                output_mb=sum(j["output"] for j in js) / 1e6,
                job_s=covered,
                driver_s=wall - covered,
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
