"""Tracing for the benchmark's traced run, all from outside the engine.

* ``Spans``: one span per pass, per slug call and its build / exec parts, and
  per direct layer call; kept in memory and written out at the end.
* ``read_event_log``: job, stage, task, shuffle and spill counters from an
  uncompressed Spark event log, attributed to a slug call by the call's time
  window (streaming micro-batch jobs run on the query's own thread, so job
  groups would miss them).
* ``ProgressListener``: micro-batch detail from a StreamingQueryListener.
* ``jvm_write_bytes``: bytes the Spark driver JVM wrote to storage (/proc/<pid>/io).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def record(self, name: str, pass_id, start: float, end: float,
               parent: str | None = None) -> None:
        self.spans.append({"name": name, "pass": pass_id, "parent": parent,
                           "start": start, "end": end})

    def self_times(self, pass_id) -> dict[str, float]:
        """Self time per span kind in one pass: duration minus the part of it
        its child spans cover (children never overlap here)."""
        mine = [s for s in self.spans if s["pass"] == pass_id]
        child = {}
        for s in mine:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in mine:
            kind = s["name"].split(":")[0]
            self_s = s["end"] - s["start"] - child.get(s["name"], 0.0)
            out[kind] = out.get(kind, 0.0) + self_s
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def jvm_write_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    return 0


def _iso_ms(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


class ProgressListener(StreamingQueryListener):
    """Keeps every query progress as a plain dict; callbacks arrive on a
    py4j thread, hence the lock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "id": str(p.id),
            "batch": p.batchId,
            "ts_ms": _iso_ms(p.timestamp),
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [(s.commitTimeMs, s.numRowsTotal) for s in p.stateOperators],
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def summary(self, lo_ms: float, hi_ms: float) -> dict[str, float]:
        """Micro-batch totals over progress events whose trigger started in
        [lo_ms, hi_ms)."""
        with self._lock:
            rows = [r for r in self.progress if lo_ms <= r["ts_ms"] < hi_ms]
        d = lambda r, k: r["duration_ms"].get(k, 0) / 1000.0  # noqa: E731
        last_state: dict[str, int] = {}
        for r in sorted(rows, key=lambda r: (r["id"], r["batch"])):
            if r["state"]:
                last_state[r["id"]] = sum(n for _, n in r["state"])
        return {
            "batches": len(rows),
            "input_rows": sum(r["input_rows"] for r in rows),
            "trigger_s": sum(d(r, "triggerExecution") for r in rows),
            "add_batch_s": sum(d(r, "addBatch") for r in rows),
            "commit_s": sum(d(r, "walCommit") + d(r, "commitOffsets") for r in rows),
            "state_commit_s": sum(c for r in rows for c, _ in r["state"]) / 1000.0,
            "state_rows": sum(last_state.values()),
        }


def read_event_log(log_dir: str) -> dict[str, list]:
    """Job submissions, completed stages and finished tasks from every event
    log file under ``log_dir`` (plain JSON lines; rolling or single file)."""
    jobs, stages, tasks = [], [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        stages.append(info["Submission Time"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append((
                        ev["Task Info"]["Launch Time"],
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                    ))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def counters_in(log: dict[str, list], lo_ms: float, hi_ms: float) -> dict[str, float]:
    """Counters of the work that started inside one time window."""
    inside = lambda t: lo_ms <= t < hi_ms  # noqa: E731
    tasks = [t for t in log["tasks"] if inside(t[0])]
    return {
        "jobs": sum(1 for t in log["jobs"] if inside(t)),
        "stages": sum(1 for t in log["stages"] if inside(t)),
        "tasks": len(tasks),
        "shuffle_write_mb": sum(t[1] for t in tasks) / 2**20,
        "spill_mb": sum(t[2] for t in tasks) / 2**20,
    }


def now_ms() -> float:
    return time.time() * 1000.0
