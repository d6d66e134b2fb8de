"""Spans recorded around layer calls, and engine counters from a Spark event log.

Both are the benchmark's own instrumentation: spans wrap calls into the
package's public functions from outside, and the event log is read after the
session stops.  Nothing here runs inside the package.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans: name, start, end, parent and run id.  Written once,
    at the end of the run, with ``dump``."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def nesting_errors(spans: list[dict]) -> list[str]:
    """Spans that do not lie inside their parent's interval, or are unfinished."""
    by_id = {s["id"]: s for s in spans}
    errors = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            errors.append(f"span {s['id']} ({s['name']}) is not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errors.append(f"span {s['id']} ({s['name']}) has unknown parent {s['parent']}")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= (p["end"] or -1)):
            errors.append(f"span {s['id']} ({s['name']}) lies outside parent {p['id']} ({p['name']})")
    return errors


def job_counters(event_log: Path) -> dict[str, dict]:
    """Per job description: task seconds, GC seconds, shuffle bytes written,
    shuffle fetch-wait seconds, job count, and task skew (the largest max ÷
    median task time of a job's last stage).

    Jobs are attributed by the ``spark.job.description`` the benchmark sets
    before each call; tasks by the job that first listed their stage."""
    stage_job: dict[int, int] = {}
    job_label: dict[int, str] = {}
    tasks: list[dict] = []
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_label[jid] = props.get("spark.job.description") or "unlabelled"
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    out: dict[str, dict] = {}

    def bucket(label: str) -> dict:
        return out.setdefault(
            label,
            {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0, "fetch_wait_s": 0.0,
             "jobs": 0, "_stage_tasks": {}},
        )

    for jid, label in job_label.items():
        bucket(label)["jobs"] += 1
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        if jid is None:
            continue
        b = bucket(job_label[jid])
        m = ev.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        b["task_s"] += run_s
        b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        b["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0
        b["_stage_tasks"].setdefault((jid, ev["Stage ID"]), []).append(run_s)
    for b in out.values():
        last: dict[int, tuple[int, list[float]]] = {}
        for (jid, sid), runs in b.pop("_stage_tasks").items():
            if jid not in last or sid > last[jid][0]:
                last[jid] = (sid, runs)
        skews = [
            max(runs) / statistics.median(runs)
            for _, runs in last.values()
            if len(runs) > 1 and statistics.median(runs) > 0
        ]
        b["task_skew"] = max(skews) if skews else 1.0
    return out
