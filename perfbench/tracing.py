"""Outside-in tracing for the benchmark: in-memory spans around the calls
into each engine module, Spark event-log accounting per query, and host
readings. Nothing here is written anywhere until the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Spans:
    """(layer, start, end) spans around the set-up and prep calls, kept in
    memory and written to the sidecar when the run ends. Queries carry
    their own start and end in the query records."""

    def __init__(self):
        self.items: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.items.append((layer, t0, time.perf_counter()))

    def durations(self, layer: str) -> list[float]:
        return [t1 - t0 for name, t0, t1 in self.items if name == layer]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job description: job count, stage/task counts, job intervals (ms
    epoch), task run time and shuffle bytes. Reads every application log in
    ``log_dir`` (one per SparkContext the run started)."""
    jobs: dict[tuple[str, int], dict] = {}
    stages: dict[tuple[str, int], dict] = {}
    for fname in sorted(os.listdir(log_dir)):
        app = fname
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[(app, ev["Job ID"])] = {
                        "desc": ev.get("Properties", {}).get("spark.job.description"),
                        "start": ev["Submission Time"],
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    }
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                    stages[(app, si["Stage ID"])] = {
                        "tasks": si.get("Number of Tasks", 0),
                        "run_ms": int(acc.get("internal.metrics.executorRunTime") or 0),
                        "sh_read": int(acc.get("internal.metrics.shuffle.read.remoteBytesRead") or 0)
                        + int(acc.get("internal.metrics.shuffle.read.localBytesRead") or 0),
                        "sh_write": int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0),
                    }
    per_desc: dict[str, dict] = {}
    for (app, _), job in jobs.items():
        if job["desc"] is None or "end" not in job:
            continue
        d = per_desc.setdefault(
            job["desc"],
            {"jobs": 0, "stages": 0, "tasks": 0, "intervals": [], "task_ms": 0, "sh_read": 0, "sh_write": 0},
        )
        d["jobs"] += 1
        d["intervals"].append((job["start"], job["end"]))
        for sid in job["stages"]:
            st = stages.get((app, sid))
            if st is None:  # skipped stage: its output was reused
                continue
            d["stages"] += 1
            d["tasks"] += st["tasks"]
            d["task_ms"] += st["run_ms"]
            d["sh_read"] += st["sh_read"]
            d["sh_write"] += st["sh_write"]
    return per_desc


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
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


# ---------------------------------------------------------------------------
# Host and process readings
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_flags() -> list[str]:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("flags"):
                return line.split(":", 1)[1].split()
    return []
