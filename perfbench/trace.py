"""Per-layer counters from the Spark event log of a traced run.

The benchmark sets a job group around every public call it makes (see
``Tracer``); after the SparkContext stops, ``read_event_log`` folds the
log's job and task events into per-group totals: jobs, tasks, executor run
time, GC time, scheduler delay, bytes read, shuffle bytes written. Where a
call has to be split further, each job also carries the module of its
call site (``collect at .../operators/ops.py:483`` → ``ops``).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_MODULE_RE = re.compile(r"(\w+)\.py:\d+")


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    sched_delay_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    modules: dict = field(default_factory=lambda: defaultdict(int))  # jobs per call-site module

    def add_task(self, info: dict, m: dict) -> None:
        self.tasks += 1
        run = m.get("Executor Run Time", 0)
        self.run_ms += run
        self.gc_ms += m.get("JVM GC Time", 0)
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        self.sched_delay_ms += max(
            0,
            duration - run - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0),
        )
        self.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        self.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)


def _call_module(job_start: dict) -> str:
    site = job_start.get("Properties", {}).get("callSite.short") or ""
    if not site and job_start.get("Stage Infos"):
        site = job_start["Stage Infos"][0].get("Stage Name", "")
    m = _MODULE_RE.search(site)
    return m.group(1) if m else "unknown"


def read_event_log(event_dir: str) -> dict[str, GroupTotals]:
    """Group totals keyed by job group id (jobs outside any group under
    ``""``), plus the session-wide total under ``"*"``."""
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[int, str] = {}
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if not os.path.isfile(path) or name.endswith(".inprogress"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = ev.get("Properties", {}).get("spark.jobGroup.id") or ""
                    groups[g].jobs += 1
                    groups["*"].jobs += 1
                    groups[g].modules[_call_module(ev)] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    groups[stage_group.get(ev.get("Stage ID"), "")].add_task(info, m)
                    groups["*"].add_task(info, m)
    return groups


class Tracer:
    """Sets the job group of the calling thread around one public call.
    Disabled tracers do nothing, so untraced runs pay no tracing cost."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled

    def group(self, name: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(name, name)

    def clear(self) -> None:
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
