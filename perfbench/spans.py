"""Spans around calls into the program's layers, and per-span Spark
counters summed from the session's event log.

Each span runs under its own Spark job group (the span name), so every
job, stage and task the call starts is attributable to it.  Spans stay
in memory; ``EventLog.by_group`` reads the uncompressed, non-rolling
event log after the session stops and sums jobs, tasks, shuffle bytes
and records, spill, Python-worker bytes and round-robin scan-exchange
bytes per job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # the defaults (zstd, rolling) need the zstandard module to read
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name, interruptOnCancel=False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": t0,
                               "end": time.perf_counter(),
                               "parent": parent, "run": self.run_id})
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent, parent, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _exchange_bytes_ids(plan: dict, out: set) -> None:
    """Accumulator ids of 'shuffle bytes written' on round-robin
    exchanges (the scan fan-out repartition) anywhere in a plan."""
    if (plan.get("nodeName") == "Exchange"
            and "RoundRobinPartitioning" in plan.get("simpleString", "")):
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m["name"] == "shuffle bytes written")
    for child in plan.get("children", []):
        _exchange_bytes_ids(child, out)


_PY_BYTES = ("data sent to Python workers",
             "data returned from Python workers")


def by_group(log_dir: str) -> dict:
    """{job group: counters} from the one event log under ``log_dir``."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_group: dict = {}
    rr_ids: set = set()
    tasks: list = []
    out: dict = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind.endswith(("SQLExecutionStart",
                                "SQLAdaptiveExecutionUpdate")):
                _exchange_bytes_ids(ev["sparkPlanInfo"], rr_ids)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        g = out[stage_group.get(ev["Stage ID"])]
        g["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
        g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        for acc in ev["Task Info"].get("Accumulables", []):
            if acc.get("Name") in _PY_BYTES:
                g["py_bytes"] += float(acc.get("Update") or 0)
            elif acc.get("ID") in rr_ids:
                g["scan_exchange_bytes"] += float(acc.get("Update") or 0)
    return {k: dict(v) for k, v in out.items()}
