"""Fold a Spark event log into per-operation layer records.

The harness records, for every operation, the wall-clock window of each of
its phases (``build``, ``action``, and the ingest steps) and tags the Spark
jobs each phase starts with ``setJobGroup("op<i>.<phase>")``.  A job is
attributed to the phase whose group id it carries; a job started on a thread
the harness does not control (a streaming query's micro-batch thread sets
its own group) falls back to the phase whose window holds its submission
time.  Only uncompressed, non-rolling logs are read
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

MB = 1024 * 1024


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def fold(events: list[dict], ops: list[dict]) -> list[dict]:
    """One layer record per operation.

    ``ops[i]`` is ``{"op": int, "name": str, "phases": [{"phase": str,
    "group": str, "t0_ms": int, "t1_ms": int}, ...]}``.  Scopes:
    ``plans.*`` is the ``build`` phase; ``exec.jobs/stages/tasks/
    driver_gap_s`` are the ``action`` phase (for ingest operations, every
    phase that is not ``build``); task time, shuffle, spill, input, output,
    skew and failures cover every job of the operation, because jobs a plan
    function starts (Lloyd and init collects) are executor work too.
    """
    phase_of_group = {}
    windows = []
    for rec in ops:
        for ph in rec["phases"]:
            key = (rec["op"], ph["phase"])
            phase_of_group[ph["group"]] = key
            windows.append((ph["t0_ms"], ph["t1_ms"], key))

    job_phase: dict[int, tuple] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            key = phase_of_group.get(group)
            if key is None:
                t = e["Submission Time"]
                key = next((k for a, b, k in windows if a <= t <= b), None)
            if key is not None:
                job_phase[e["Job ID"]] = key
                for sid in e["Stage IDs"]:
                    # a reused stage is listed again (skipped) by later jobs;
                    # it ran in the first job that listed it
                    stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)

    per_phase: dict[tuple, dict] = defaultdict(lambda: {"jobs": 0, "stages": []})
    for job, key in job_phase.items():
        per_phase[key]["jobs"] += 1
    for sid, job in stage_job.items():
        if sid in stage_span and job in job_phase:
            per_phase[job_phase[job]]["stages"].append(sid)

    out = []
    for rec in ops:
        phases = {ph["phase"]: ph for ph in rec["phases"]}
        build = per_phase.get((rec["op"], "build"), {"jobs": 0, "stages": []})
        run_phases = [p for p in phases if p != "build"]
        run_jobs = sum(per_phase.get((rec["op"], p), {"jobs": 0})["jobs"] for p in run_phases)
        run_stages = [s for p in run_phases for s in per_phase.get((rec["op"], p), {"stages": []})["stages"]]
        all_stages = build["stages"] + run_stages
        run_wall = sum(phases[p]["t1_ms"] - phases[p]["t0_ms"] for p in run_phases)
        busy = sum(
            _union_ms([stage_span[s] for s in run_stages], phases[p]["t0_ms"], phases[p]["t1_ms"])
            for p in run_phases
        )
        run_ms = cpu_ns = sw = sr = spill = inp = outb = failed = 0
        skew, heaviest = 1.0, -1
        for s in all_stages:
            times = []
            for t in tasks.get(s, []):
                m = t.get("Task Metrics") or {}
                times.append(m.get("Executor Run Time", 0))
                cpu_ns += m.get("Executor CPU Time", 0)
                sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                spill += m.get("Disk Bytes Spilled", 0)
                inp += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                outb += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                failed += (t.get("Task End Reason") or {}).get("Reason") != "Success"
            run_ms += sum(times)
            if times and sum(times) > heaviest:
                heaviest = sum(times)
                med = statistics.median(times)
                skew = max(times) / med if med > 0 else 1.0
        n_tasks = sum(len(tasks.get(s, [])) for s in run_stages)
        b = phases.get("build")
        out.append({
            "op": rec["op"],
            "name": rec["name"],
            "plans.build_s": (b["t1_ms"] - b["t0_ms"]) / 1000 if b else 0.0,
            "plans.build_jobs": build["jobs"],
            "exec.action_s": run_wall / 1000,
            "exec.jobs": run_jobs,
            "exec.stages": len(run_stages),
            "exec.tasks": n_tasks,
            "exec.driver_gap_s": (run_wall - busy) / 1000,
            "exec.task_run_s": run_ms / 1000,
            "exec.task_cpu_s": cpu_ns / 1e9,
            "exec.cpu_ratio": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
            "exec.shuffle_write_mb": sw / MB,
            "exec.shuffle_read_mb": sr / MB,
            "exec.spill_mb": spill / MB,
            "exec.input_mb": inp / MB,
            "exec.output_mb": outb / MB,
            "exec.task_skew": skew,
            "exec.failed_tasks": failed,
            **{
                f"phase.{p}_jobs": per_phase.get((rec["op"], p), {"jobs": 0})["jobs"]
                for p in run_phases
            },
        })
    return out
