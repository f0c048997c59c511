"""Per-tag task metrics from a Spark event log.

The benchmark tags each traced step with ``setJobDescription``; every stage
a tagged job submits carries the tag in its properties, so task metrics
sum per tag without knowing the plan.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path


def _events(log_dir: Path):
    """Events of v1 single-file logs and v2 rolling-log directories."""
    for f in sorted(log_dir.rglob("*")):
        if (
            f.is_file()
            and not f.name.endswith(".inprogress")
            and not f.name.startswith("appstatus")
        ):
            for line in f.read_text(errors="replace").splitlines():
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def tag_metrics(log_dir: Path) -> dict[str, dict[str, float]]:
    """{tag: {task_cpu_s, gc_s, shuffle_write_bytes, spill_bytes,
    job_wall_s}} over the finished applications logged in ``log_dir``.
    ``job_wall_s`` is the union of the tag's job intervals: the time some
    Spark job of that tag was running."""
    tag_of_stage: dict[tuple[str, int], str] = {}
    job_tag: dict[tuple[str, int], str] = {}
    job_start: dict[tuple[str, int], int] = {}
    jobs: dict[str, list[tuple[int, int]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    app = ""
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = ev.get("App ID", "")
        elif kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get("spark.job.description") or ""
            job_tag[(app, ev["Job ID"])] = tag
            job_start[(app, ev["Job ID"])] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            key = (app, ev["Job ID"])
            if key in job_start:
                jobs[job_tag[key]].append((job_start[key], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            tag_of_stage[(app, sid)] = props.get("spark.job.description") or ""
        elif kind == "SparkListenerTaskEnd":
            tag = tag_of_stage.get((app, ev["Stage ID"]), "")
            tm = ev.get("Task Metrics") or {}
            a = out[tag]
            a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    for tag, iv in jobs.items():
        out[tag]["job_wall_s"] = _union_s(iv)
    return {t: dict(m) for t, m in out.items()}
