"""Spark event-log reader for the traced crawl run.

Reads the log of one application (a plain file, or the rolling
``eventlog_v2_*`` directory Spark 4 writes by default; the benchmark turns
compression off) and attributes every job to a crawl epoch and phase:

- a job in the epoch's job group (``epoch-<engine id>-<n>``) belongs to
  that epoch, and to the phase whose window holds its submission time;
- a job outside every epoch group that writes the metrics table or
  collects the bloom table is write-behind work (the metrics sink and the
  bloom broadcast rebuild, both started off the epoch's thread), counted
  while the crawl runs;
- any other job outside the groups (the commit's parallel table writes run
  on pool threads that carry no group) belongs to the epoch and phase
  window it was submitted in.

Phase windows are rebuilt from the epoch's start time and the durations
``run_epoch`` leaves in ``last_timings``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
STAGE_FIELDS = ("tasks", "cpu_s", "gc_s", "shuffle_b", "py_in_b", "py_out_b")


@dataclass
class Job:
    job_id: int
    group: str
    submit_s: float
    end_s: float = 0.0
    sql_id: int | None = None
    stages: list[int] = field(default_factory=list)


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    # rolling layout: events_<index>_<app id>[.<codec>], read in index order
    files = glob.glob(os.path.join(path, "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def find_log(log_dir: str) -> str:
    """The single application log (file or rolling directory) in log_dir."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {entries}")
    return os.path.join(log_dir, entries[0])


def read_log(path: str) -> tuple[dict[int, Job], dict[int, dict], dict[int, str]]:
    """Jobs by id, per-stage task totals, SQL execution plan text by id."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0))
    plans: dict[int, str] = {}
    for fname in _event_files(path):
        with open(fname) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id") or "",
                        submit_s=ev["Submission Time"] / 1000.0,
                        sql_id=int(sql) if sql is not None else None,
                        stages=list(ev.get("Stage IDs") or []),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_s = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_b"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        upd = acc.get("Update")
                        if not isinstance(upd, (int, str)):
                            continue
                        if acc.get("Name") == PY_IN:
                            st["py_in_b"] += int(upd)
                        elif acc.get("Name") == PY_OUT:
                            st["py_out_b"] += int(upd)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    return jobs, dict(stages), plans


def job_totals(job: Job, stages: dict[int, dict], owner: dict[int, int]) -> dict:
    """Task totals of the stages this job ran (a stage shared with an
    earlier job is skipped by Spark and counted only there)."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in job.stages:
        if owner.get(sid) == job.job_id and sid in stages:
            for k in STAGE_FIELDS:
                out[k] += stages[sid][k]
    return out


def busy_seconds(jobs: list[Job], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by at least one job's run interval."""
    spans = sorted(
        (max(j.submit_s, lo), min(j.end_s or hi, hi)) for j in jobs
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def is_write_behind(job: Job, plans: dict[int, str]) -> bool:
    plan = plans.get(job.sql_id, "") if job.sql_id is not None else ""
    writes_metrics = "InsertIntoHadoopFsRelationCommand" in plan and (
        "/data/metrics/" in plan
    )
    collects_blooms = "/data/blooms/" in plan and "InsertInto" not in plan
    return writes_metrics or collects_blooms


def attribute(log_path: str, epochs: list[dict], phases: tuple[str, ...],
              crawl_end_s: float) -> dict:
    """Per-phase and per-epoch totals for the crawl's epochs.

    ``epochs``: dicts with ``group``, ``start_s``, ``end_s`` and ``marks``
    (phase name -> seconds, in run_epoch order). ``crawl_end_s``: when the
    crawl's last ``flush_pending_metrics`` returned; write-behind jobs count
    from the first epoch's start to then. Every job counted in an epoch is
    counted in one of its phases, so the epoch totals are the sums of the
    phase totals. Returns ``{"phases": {phase: [per-epoch dict]},
    "epochs": [dict], "write_behind": dict}``.
    """
    jobs, stages, plans = read_log(log_path)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stages:
            owner.setdefault(sid, jid)
    groups = {e["group"]: i for i, e in enumerate(epochs)}
    windows = []
    for e in epochs:
        t, w = e["start_s"], []
        for ph in phases:
            w.append((ph, t, t + e["marks"][ph]))
            t += e["marks"][ph]
        windows.append(w)
    lo = epochs[0]["start_s"] if epochs else 0.0

    per_phase = {ph: [defaultdict(float) for _ in epochs] for ph in phases}
    per_epoch = [defaultdict(float) for _ in epochs]
    write_behind: dict = defaultdict(float)
    all_jobs = list(jobs.values())
    for job in all_jobs:
        tot = job_totals(job, stages, owner)
        idx = groups.get(job.group)
        if idx is not None and not (
            epochs[idx]["start_s"] <= job.submit_s < epochs[idx]["end_s"]
        ):
            # the group stays set on the driver thread after run_epoch
            # returns: later jobs of that thread are not the epoch's
            continue
        if idx is None:
            if is_write_behind(job, plans):
                if lo <= job.submit_s <= crawl_end_s:
                    write_behind["jobs"] += 1
                    write_behind["exec_cpu_s"] += tot["cpu_s"]
                continue
            idx = next(
                (i for i, e in enumerate(epochs)
                 if e["start_s"] <= job.submit_s < e["end_s"]),
                None,
            )
            if idx is None:
                continue
        per_epoch[idx]["jobs"] += 1
        per_epoch[idx]["tasks"] += tot["tasks"]
        per_epoch[idx]["gc_s"] += tot["gc_s"]
        ph = next(
            (name for name, a, b in windows[idx] if a <= job.submit_s < b),
            phases[-1],
        )
        acc = per_phase[ph][idx]
        acc["jobs"] += 1
        acc["exec_cpu_s"] += tot["cpu_s"]
        acc["shuffle_b"] += tot["shuffle_b"]
        acc["py_in_b"] += tot["py_in_b"]
        acc["py_out_b"] += tot["py_out_b"]
    for i, e in enumerate(epochs):
        for ph, a, b in windows[i]:
            per_phase[ph][i]["driver_s"] = max(
                0.0, e["marks"][ph] - busy_seconds(all_jobs, a, b))
        per_epoch[i]["driver_s"] = (e["end_s"] - e["start_s"]) - busy_seconds(
            all_jobs, e["start_s"], e["end_s"]
        )
    return {
        "phases": {ph: [dict(d) for d in v] for ph, v in per_phase.items()},
        "epochs": [dict(d) for d in per_epoch],
        "write_behind": dict(write_behind),
    }
