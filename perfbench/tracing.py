"""Spans around the benchmark's calls into each module, and the parser
that attributes a Spark event log to them.

A span sets its id as the job-local property ``perfbench.span`` before
the module call, so every Spark job submitted inside it (and that job's
stages and tasks) carries the id in the event log. The log is written
uncompressed and read with stdlib ``json``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Spans:
    """Records a tree of named spans and tags Spark jobs with their id."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def __call__(self, name: str):
        sid = f"s{len(self.records)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(sid)
        self._set(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set(self._stack[-1] if self._stack else None)

    def _set(self, sid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, sid)

    def subtree(self, sid: str) -> set[str]:
        kids = defaultdict(list)
        for r in self.records:
            kids[r["parent"]].append(r["id"])
        out, todo = set(), [sid]
        while todo:
            s = todo.pop()
            out.add(s)
            todo.extend(kids[s])
        return out


# ------------------------------------------------------------- event log


def load_events(event_dir: str) -> list[dict]:
    """All events under ``event_dir`` in log order (Spark 4 writes a
    rolling directory ``eventlog_v2_*/events_<n>_*``)."""
    files = [
        f
        for f in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in f and not f.endswith(".crc")
    ]

    def order(path: str) -> tuple:
        base = os.path.basename(path)
        parts = base.split("_")
        return (int(parts[1]) if base.startswith("events_") else 0, base)

    events = []
    for f in sorted(files, key=order):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    """Per-span counts from one application's event log."""

    def __init__(self, events: list[dict]):
        self.job_span: dict[int, str | None] = {}
        self.stage_span: dict[int, str | None] = {}
        self.exec_span: dict[int, str | None] = {}
        self.plans: dict[int, list[dict]] = defaultdict(list)
        # accumulator id -> (node name, metric name, metric type)
        self.acc_meta: dict[int, tuple[str, str, str]] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROP)
                self.job_span[e["Job ID"]] = span
                for s in e["Stage IDs"]:
                    self.stage_span[s] = span
                eid = props.get("spark.sql.execution.id")
                if eid is not None and span is not None:
                    self.exec_span.setdefault(int(eid), span)
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                plan = e["sparkPlanInfo"]
                self.plans[e["executionId"]].append(plan)
                for node in _walk(plan):
                    for m in node.get("metrics", []):
                        self.acc_meta[m["accumulatorId"]] = (
                            node["nodeName"],
                            m["name"],
                            m["metricType"],
                        )
            elif kind == "SparkListenerTaskEnd":
                info, metrics = e["Task Info"], e.get("Task Metrics") or {}
                shuffle_w = metrics.get("Shuffle Write Metrics") or {}
                self.tasks.append(
                    {
                        "stage": e["Stage ID"],
                        "span": self.stage_span.get(e["Stage ID"]),
                        "run_ms": metrics.get("Executor Run Time", 0),
                        "gc_ms": metrics.get("JVM GC Time", 0),
                        "shuffle_write": shuffle_w.get("Shuffle Bytes Written", 0),
                        "spill": metrics.get("Memory Bytes Spilled", 0)
                        + metrics.get("Disk Bytes Spilled", 0),
                        "updates": {
                            a["ID"]: a.get("Update")
                            for a in info.get("Accumulables", [])
                        },
                    }
                )

    def _metric_sum(self, tasks, pred) -> float:
        """Sum of task updates of the SQL metrics matching ``pred(node,
        name)``, timing metrics in seconds and sizes in bytes."""
        total = 0.0
        for t in tasks:
            for aid, upd in t["updates"].items():
                meta = self.acc_meta.get(aid)
                if meta is None or not pred(meta[0], meta[1]):
                    continue
                try:
                    v = float(upd)
                except (TypeError, ValueError):
                    continue
                if meta[2] == "nsTiming":
                    v /= 1e9
                elif meta[2] == "timing":
                    v /= 1e3
                total += v
        return total

    def counts(self, spans: set[str], wall_s: float, cores: int, source_marker: str | None = None) -> dict:
        """Counts over the jobs tagged with any span id in ``spans``."""
        tasks = [t for t in self.tasks if t["span"] in spans]
        jobs = [j for j, s in self.job_span.items() if s in spans]
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t["run_ms"])
        skew = 1.0
        for runs in by_stage.values():
            if len(runs) >= 2 and max(runs) >= 50:
                skew = max(skew, max(runs) / max(statistics.median(runs), 1.0))
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        return {
            "jobs": len(jobs),
            "stages": len(by_stage),
            "tasks": len(tasks),
            "executor_run_s": run_s,
            "busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "task_skew": skew,
            "python_worker_s": self._metric_sum(
                tasks, lambda node, name: "python" in name.lower() and "time" in name.lower()
            ),
            "python_to_worker_mb": self._metric_sum(
                tasks, lambda node, name: name == "data sent to Python workers"
            )
            / 1e6,
            "python_rows_out": self._metric_sum(
                tasks,
                lambda node, name: node.startswith("ArrowEvalPython")
                and name == "number of output rows",
            ),
            "scan_passes": self.scan_passes(spans, source_marker) if source_marker else 0,
        }

    def scan_passes(self, spans: set[str], marker: str) -> int:
        """Source scans that ran: scan nodes over a path containing
        ``marker``, in the plans of the spans' SQL executions, whose
        output-row metric received task updates. A scan under a reused
        exchange runs once and is counted once."""
        accs: set[int] = set()
        for eid, span in self.exec_span.items():
            if span not in spans:
                continue
            for plan in self.plans[eid]:
                for node in _walk(plan):
                    if not node["nodeName"].startswith("Scan"):
                        continue
                    where = node.get("simpleString", "") + json.dumps(node.get("metadata", {}))
                    if marker not in where:
                        continue
                    for m in node.get("metrics", []):
                        if m["name"] == "number of output rows":
                            accs.add(m["accumulatorId"])
        ran = {
            aid
            for t in self.tasks
            for aid, upd in t["updates"].items()
            if aid in accs and float(upd or 0) > 0
        }
        return len(ran)
