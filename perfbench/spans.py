"""Spans recorded around calls into engine layers, and the Spark event
log parsed with stdlib json.

A span is (name, start, end, parent, job): epoch seconds, the index
of the enclosing span, and the timed job it belongs to. Spans stay in
memory and are written out as one JSON file when the run ends. Spark
jobs are tied to spans by submission time, which is unambiguous
because the benchmark keeps one job outstanding at a time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job: int | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.time(), None, parent, job])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.time()

    def named(self, name: str) -> list[list]:
        return [s for s in self.spans if s[0] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(zip(("name", "start", "end", "parent", "job"), s))
                       for s in self.spans], f)


# ----------------------------------------------------------- event log

PY_RUN = "time to run Python workers"
PY_TO = "data sent to Python workers"
PY_FROM = "data returned from Python workers"


class EventLog:
    """Jobs (id -> submit/complete ms, stage ids) and tasks (stage id,
    duration, metrics, SQL accumulator updates) of one application."""

    def __init__(self, log_dir: str):
        paths = glob.glob(f"{log_dir}/*")
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {"start": ev["Submission Time"],
                                               "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.setdefault(ev["Stage ID"], []).append(_task(ev))

    def jobs_in(self, start: float, end: float) -> list[dict]:
        """Spark jobs submitted inside the epoch-second interval."""
        lo, hi = start * 1000, end * 1000
        return [j for j in self.jobs.values() if lo <= j["start"] <= hi]

    def span_metrics(self, start: float, end: float) -> dict:
        jobs = self.jobs_in(start, end)
        # a reused shuffle stage is listed (skipped) by later jobs too
        ids = {s for j in jobs for s in j["stages"]}
        stages = [self.tasks.get(s, []) for s in sorted(ids)]
        tasks = [t for st in stages for t in st]
        widest = max(stages, key=lambda st: sum(t["ms"] for t in st), default=[])
        durs = [t["ms"] for t in widest]
        return {
            "spark_jobs": len(jobs),
            "job_union_ms": _union_ms([(j["start"], j.get("end", j["start"]))
                                       for j in jobs]),
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "shuffle_write_ms": sum(t["shuffle_write_ns"] for t in tasks) / 1e6,
            "fetch_wait_ms": sum(t["fetch_wait_ms"] for t in tasks),
            "py_run_ms": sum(t["acc"].get(PY_RUN, 0) for t in tasks),
            "py_bytes_to": sum(t["acc"].get(PY_TO, 0) for t in tasks),
            "py_bytes_from": sum(t["acc"].get(PY_FROM, 0) for t in tasks),
            "task_max_over_p50": (max(durs) / max(statistics.median(durs), 1)
                                  if durs else 0.0),
        }


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    acc = {}
    for a in info.get("Accumulables", []):
        if a.get("Name") in (PY_RUN, PY_TO, PY_FROM):
            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update", 0))
    return {"ms": info["Finish Time"] - info["Launch Time"],
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
            "acc": acc}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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
