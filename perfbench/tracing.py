"""Spans, Spark event-log parsing and debug-timing capture.

Spans are recorded by the benchmark around its calls into the program's
public functions; they stay in memory and are written once, at exit. The
same spans give the end-to-end timings, so a run with ``--trace 0`` pays
only a list append per call.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import re
import time
from collections.abc import Iterator
from dataclasses import dataclass, field


class Tracer:
    """Nested spans ``(id, parent, name, start, end, attrs)``; wall-clock
    starts (epoch seconds) so they line up with Spark's event log."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "dur" in s]

    def durations(self, name: str) -> list[float]:
        return [s["dur"] for s in self.find(name)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# SPARK_GRAFT_DEBUG_TIMING marks printed by CrawlEngine.run_round
# ---------------------------------------------------------------------------

_MARK = re.compile(r"\[round\] (.+?): ([0-9.]+)s")


@contextlib.contextmanager
def captured_marks() -> Iterator[dict[str, float]]:
    """Capture the engine's ``[round] label: X.XXs`` lines printed to
    stdout inside the block; yields a dict filled with label → seconds
    (summed when a label repeats) when the block exits."""
    buf = io.StringIO()
    marks: dict[str, float] = {}
    try:
        with contextlib.redirect_stdout(buf):
            yield marks
    finally:
        for label, secs in _MARK.findall(buf.getvalue()):
            marks[label] = marks.get(label, 0.0) + float(secs)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class SparkEvents:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) epoch s
    # (launch epoch s, executor cpu s, shuffle bytes written, bytes spilled, failed)
    tasks: list[tuple[float, float, int, int, bool]] = field(default_factory=list)

    @classmethod
    def load(cls, log_dir: str) -> "SparkEvents":
        """Parse every event log in ``log_dir`` (read after the session
        stopped, so the files are complete)."""
        ev = cls()
        starts: dict[int, float] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        starts[e["Job ID"]] = e["Submission Time"] / 1000.0
                    elif kind == "SparkListenerJobEnd" and e["Job ID"] in starts:
                        ev.jobs.append((starts.pop(e["Job ID"]), e["Completion Time"] / 1000.0))
                    elif kind == "SparkListenerTaskEnd":
                        info, m = e["Task Info"], e.get("Task Metrics") or {}
                        ev.tasks.append((
                            info["Launch Time"] / 1000.0,
                            m.get("Executor CPU Time", 0) / 1e9,
                            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            bool(info.get("Failed")),
                        ))
        return ev

    def within(self, start: float, end: float) -> dict[str, float]:
        """Jobs and tasks started inside ``[start, end]`` plus the part of
        the interval with no Spark job running (driver-only time)."""
        jobs = [(max(s, start), min(e, end)) for s, e in self.jobs if start <= s <= end]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(jobs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        tasks = [t for t in self.tasks if start <= t[0] <= end]
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "driver_only_s": max(0.0, (end - start) - covered),
            "executor_cpu_s": sum(t[1] for t in tasks),
            "shuffle_write_bytes": sum(t[2] for t in tasks),
            "spill_bytes": sum(t[3] for t in tasks),
            "failed_tasks": sum(1 for t in tasks if t[4]),
        }
