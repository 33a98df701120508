"""Spark event-log parser: per job group, what the jobs did.

The benchmark runs each op under its own ``setJobGroup`` id; each job's
``callSite.short`` names the Python line that issued it (PySpark's own
for ``collect``, the benchmark's for the rest, see
``spans.Tracer.tag_call_sites``). From one
uncompressed event log this module builds, per job group: job, stage
and task counts, job intervals, task metrics, the longest stage's task
times, executor time per call-site module, and the summed task updates
of chosen SQL metrics (e.g. a join node's "number of output rows").
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Group:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    first_submit: float | None = None  # seconds since the epoch
    job_spans: list = field(default_factory=list)  # [(start_s, end_s)]
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))
    module_run_s: dict = field(default_factory=lambda: defaultdict(float))
    sql_metric: dict = field(default_factory=lambda: defaultdict(int))

    def straggler_ratio(self) -> float:
        """max / median task time on the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        durs = max(self.stage_tasks.values(), key=sum)
        s = sorted(durs)
        med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2
        return s[-1] / med if med > 0 else 0.0


PROGRAM_PKG = "featuregenerator_spark/"


def module_of(call_site: str | None) -> str:
    """``collect at /src/featuregenerator_spark/sources/snapshots.py:301``
    -> ``sources/snapshots.py``; jobs called from outside the program
    map to ``other``."""
    i = call_site.find(PROGRAM_PKG) if call_site else -1
    if i < 0:
        return "other"
    return call_site[i + len(PROGRAM_PKG):].rsplit(":", 1)[0]


def _plan_metric_ids(plan: dict, node_pred, metric: str, out: set) -> None:
    if node_pred(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == metric:
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, node_pred, metric, out)


def log_files(event_dir: str) -> list[str]:
    """Event files under ``event_dir`` (Spark 4's rolling layout
    ``eventlog_v2_<app>/events_N_<app>`` or a single ``<app>`` file)."""
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))
    files += [
        p for p in glob.glob(os.path.join(event_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    return sorted(files)


def parse(
    paths: list[str],
    sql_nodes=lambda name: False,
    sql_metric: str = "number of output rows",
) -> dict[str, Group]:
    """Aggregate an event log per job group (``None`` for jobs run
    outside any group). ``sql_nodes(nodeName)`` selects the plan nodes
    whose ``sql_metric`` task updates are summed per group."""
    groups: dict = defaultdict(Group)
    stage_group: dict[int, str | None] = {}
    stage_module: dict[int, str] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    metric_ids: set = set()
    completed_stages: set = set()

    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of an unfinished log
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    job_group[jid] = gid
                    t = ev["Submission Time"] / 1000.0
                    job_start[jid] = t
                    g = groups[gid]
                    g.jobs += 1
                    if g.first_submit is None or t < g.first_submit:
                        g.first_submit = t
                    mod = module_of(props.get("callSite.short"))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                        stage_module[sid] = mod
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        groups[job_group[jid]].job_spans.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid not in completed_stages and sid in stage_group:
                        completed_stages.add(sid)
                        groups[stage_group[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in stage_group:
                        continue
                    g = groups[stage_group[sid]]
                    g.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    g.executor_run_s += run_s
                    g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g.stage_tasks[sid].append(run_s)
                    g.module_run_s[stage_module[sid]] += run_s
                    info = ev.get("Task Info") or {}
                    for acc in info.get("Accumulables", []):
                        if acc.get("ID") in metric_ids:
                            g.sql_metric[sql_metric] += int(acc.get("Update", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan = ev.get("sparkPlanInfo")
                    if plan:
                        _plan_metric_ids(plan, sql_nodes, sql_metric, metric_ids)
    return dict(groups)
