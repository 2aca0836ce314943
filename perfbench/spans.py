"""Spans recorded from outside the program, and Spark's counters per span.

Each span runs under its own Spark job group, so every job, stage and task
Spark logs for it can be attributed to it afterwards. Spans are kept in
memory and written out when the run ends. The counters come from Spark's own
event log (``spark.eventLog.enabled=true``, uncompressed), folded per job
group once the SparkContext has stopped and the log is complete.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

# additive Spark counters folded per job group
COUNTERS = ("cpu_s", "gc_s", "tasks", "shuffle_write_bytes", "spill_bytes",
            "python_bytes_sent", "python_bytes_received")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class Tracer:
    """Records (name, start, end, parent, run id, job group) per span."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        group = f"{self.run_id}:{next(self._ids)}:{name}"
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "group": group, **attrs}
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def _acc(info: dict, name: str) -> int:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a.get("Update") or 0)
    return 0


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: the additive COUNTERS over all its tasks, plus
    ``task_skew`` = max / median task run time in its heaviest stage (the
    stage with the largest summed run time)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    runs: dict[tuple[str, int], list[int]] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in e["Stage IDs"]:
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    c = groups.setdefault(g, dict.fromkeys(COUNTERS, 0))
                    c["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    c["gc_s"] += tm["JVM GC Time"] / 1e3
                    c["tasks"] += 1
                    c["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    c["spill_bytes"] += tm["Disk Bytes Spilled"]
                    c["python_bytes_sent"] += _acc(e["Task Info"], _PY_SENT)
                    c["python_bytes_received"] += _acc(e["Task Info"], _PY_RECV)
                    runs.setdefault((g, e["Stage ID"]), []).append(tm["Executor Run Time"])
    for (g, _sid), ms in runs.items():
        c = groups[g]
        if sum(ms) > c.get("_heaviest", -1):
            c["_heaviest"] = sum(ms)
            c["task_skew"] = max(ms) / max(statistics.median(ms), 1)
    for c in groups.values():
        c.pop("_heaviest", None)
        c.setdefault("task_skew", 0.0)
    return groups


def self_times(spans: list[dict], counters: dict[str, dict]) -> dict[str, dict]:
    """Median over iterations of each span's self figures: its duration and
    additive counters minus those of the spans it ``covers`` (the prefix it
    extends); task_skew is the span's own."""
    per: dict[str, list[dict]] = {}
    by_key = {(s["iter"], s["name"]): s for s in spans if "iter" in s}
    for s in spans:
        if "iter" not in s:
            continue
        c = counters.get(s["group"], dict.fromkeys(COUNTERS, 0) | {"task_skew": 0.0})
        row = {"s": s["dur_s"], "total_s": s["dur_s"], **c}
        for name in s.get("covers", ()):
            base = by_key[(s["iter"], name)]
            bc = counters.get(base["group"], dict.fromkeys(COUNTERS, 0))
            row["s"] -= base["dur_s"]
            for k in COUNTERS:
                row[k] -= bc[k]
        per.setdefault(s["name"], []).append(row)
    return {
        name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for name, rows in per.items()
    }
