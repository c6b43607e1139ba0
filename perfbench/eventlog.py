"""Spark event-log parser: per-tag stage table and the stage-level
metrics of one tagged action.

The benchmark tags every action with ``SparkContext.setJobDescription``;
every job Spark (and AQE) submits for it carries that description, so
each completed stage is attributed to exactly one tag.  Skipped stages
never complete and are not counted.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict


def parse(path: str) -> dict:
    """Return ``{tag: {"jobs": n, "stages": [stage, ...]}}`` where a
    stage is ``{"id", "start", "end", "tasks": [run_s, ...],
    "shuffle_read", "shuffle_write_rows", "shuffle_write_bytes"}``;
    times are epoch seconds."""
    stage_tag: dict[int, str] = {}
    jobs = defaultdict(int)
    stages: dict[int, dict] = {}
    tasks = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(
                    "spark.job.description")
                if tag is None:
                    continue
                jobs[tag] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if info.get("Failed") or info.get("Killed"):
                    continue
                tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Completion Time" not in si or si.get("Failure Reason"):
                    continue
                stages[si["Stage ID"]] = {
                    "id": si["Stage ID"],
                    "start": si["Submission Time"] / 1e3,
                    "end": si["Completion Time"] / 1e3,
                }
    table: dict[str, dict] = {t: {"jobs": n, "stages": []}
                              for t, n in jobs.items()}
    for sid, st in sorted(stages.items()):
        tag = stage_tag.get(sid)
        if tag is None:
            continue
        ms = tasks.get(sid, [])
        rd = [m.get("Shuffle Read Metrics") or {} for m in ms]
        wr = [m.get("Shuffle Write Metrics") or {} for m in ms]
        st["tasks"] = [m.get("Executor Run Time", 0) / 1e3 for m in ms]
        st["shuffle_read"] = sum(r.get("Total Records Read", 0) for r in rd)
        st["shuffle_write_rows"] = sum(
            w.get("Shuffle Records Written", 0) for w in wr)
        st["shuffle_write_bytes"] = sum(
            w.get("Shuffle Bytes Written", 0) for w in wr)
        table[tag]["stages"].append(st)
    return table


def _union(intervals) -> float:
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


def _stage_group(sts, cores: int) -> dict:
    run = [t for s in sts for t in s["tasks"]]
    wall = _union((s["start"], s["end"]) for s in sts)
    task_s = sum(run)
    return {
        "wall_s": wall,
        "task_s": task_s,
        "tasks": len(run),
        "occupancy": task_s / (wall * cores) if wall > 0 else 0.0,
        "task_skew": (max(run) / statistics.median(run)
                      if run and statistics.median(run) > 0 else 0.0),
    }


def action_metrics(table: dict, actions: dict, cores: int) -> dict:
    """Stage metrics of one op made of the tagged ``actions``, a map
    from tag to the action's wall interval (epoch seconds): from the
    action call until its rows are on the driver, the answer check
    excluded.

    stage1 = stages that write shuffle output without reading any (the
    sketch build over the scan); stage2 = stages that read shuffle
    output (the merge, with extract fused in)."""
    sts = [s for t in actions for s in table.get(t, {"stages": []})["stages"]]
    s1 = [s for s in sts if s["shuffle_write_rows"] and not s["shuffle_read"]]
    s2 = [s for s in sts if s["shuffle_read"]]
    g1, g2 = _stage_group(s1, cores), _stage_group(s2, cores)
    out = {f"{name}.{k}": g[k]
           for name, g in (("stage1", g1), ("stage2", g2))
           for k in ("wall_s", "task_s", "tasks", "occupancy")}
    out["stage2.task_skew"] = g2["task_skew"]
    out["exchange.rows"] = sum(s["shuffle_write_rows"] for s in s1)
    out["exchange.bytes"] = sum(s["shuffle_write_bytes"] for s in s1)
    out["exchange.reduce_tasks"] = sum(len(s["tasks"]) for s in s2)
    out["driver.jobs"] = sum(table.get(t, {"jobs": 0})["jobs"]
                             for t in actions)
    out["driver.stages"] = len(sts)
    gap = 0.0
    for t, (a, b) in actions.items():
        gap += (b - a) - _union(
            (max(s["start"], a), min(s["end"], b))
            for s in table.get(t, {"stages": []})["stages"]
            if s["end"] > a and s["start"] < b)
    out["driver.gap_s"] = gap
    return out
