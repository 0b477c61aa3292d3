"""Per-layer tracing: spans around each timed call, job-group counts from
the status tracker, and a fold of the Spark event log by job group.

Every timed call runs under its own job group ``perfbench.<pass>.<layer>``;
the group is the join key between the benchmark's spans and Spark's jobs,
stages and tasks.
"""

from __future__ import annotations

import glob
import os
import time

FOLDED = (
    "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Span:
    """One timed public call: wall-clock interval plus its job group."""

    def __init__(self, layer: str, pass_no: int):
        self.layer = layer
        self.pass_no = pass_no
        self.group = f"perfbench.{pass_no}.{layer}"
        self.start = self.end = 0.0      # epoch seconds (joins the event log)
        self.wall_s = 0.0                # perf_counter duration
        self.counts: dict = {}
        self.extra: dict = {}
        self.error: str | None = None

    def as_dict(self) -> dict:
        return {
            "layer": self.layer, "pass": self.pass_no, "group": self.group,
            "start": self.start, "end": self.end, "wall_s": self.wall_s,
            "counts": self.counts, "extra": self.extra, "error": self.error,
        }


def timed(sc, span: Span, fn):
    """Run ``fn`` under the span's job group and time it."""
    sc.setJobGroup(span.group, span.layer, interruptOnCancel=False)
    span.start = time.time()
    t0 = time.perf_counter()
    try:
        return fn()
    finally:
        span.wall_s = time.perf_counter() - t0
        span.end = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def status_counts(sc, group: str, settle_s: float = 5.0) -> dict:
    """jobs / stages / tasks of a job group from the status tracker. The
    tracker is fed by the listener bus, so wait (bounded) until every job of
    the group reports a final status."""
    st = sc.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        jids = st.getJobIdsForGroup(group)
        infos = [st.getJobInfo(j) for j in jids]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stage_ids = {s for i in infos if i is not None for s in i.stageIds}
    stages = tasks = 0
    for sid in stage_ids:
        si = st.getStageInfo(sid)
        if si is not None and si.numCompletedTasks > 0:   # skipped stages ran no task
            stages += 1
            tasks += si.numCompletedTasks
    return {"jobs": len(jids), "stages": stages, "tasks": tasks}


def event_log_dir(root: str) -> str | None:
    dirs = sorted(glob.glob(os.path.join(root, "eventlog_v2_*")))
    return dirs[-1] if dirs else None


def fold_event_log(logdir: str) -> dict:
    """{job group: folded task metrics + job intervals} from a rolling,
    uncompressed event log."""
    from tools.stage_profile import read_events

    out: dict = {}
    stage_group: dict = {}
    job_group: dict = {}

    def g(name):
        return out.setdefault(name, {**{k: 0.0 for k in FOLDED}, "jobs": {}})

    for ev in read_events(logdir):
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                job_group[ev["Job ID"]] = grp
                g(grp)["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
        elif t == "SparkListenerJobEnd":
            grp = job_group.get(ev["Job ID"])
            if grp:
                g(grp)["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif t == "SparkListenerStageSubmitted":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                stage_group[ev["Stage Info"]["Stage ID"]] = grp
        elif t == "SparkListenerTaskEnd":
            grp = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not grp or not m:
                continue
            d = g(grp)
            d["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            d["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            d["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            d["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def attach_fold(spans: list, events_root: str) -> bool:
    """Add each span's folded task metrics and ``driver_s`` (as
    ``span["folded"]``); False when no event log was found."""
    logdir = event_log_dir(events_root)
    folded = fold_event_log(logdir) if logdir else {}
    for s in spans:
        f = folded.get(s["group"], {})
        s["folded"] = {k: f.get(k, 0.0) for k in FOLDED}
        s["folded"]["driver_s"] = driver_seconds(s, f.get("jobs", {}))
    return logdir is not None


def driver_seconds(span: dict, jobs: dict) -> float:
    """Part of the span's wall that none of its group's jobs cover."""
    ivs = sorted(
        (max(a, span["start"]), min(b if b is not None else span["end"], span["end"]))
        for a, b in jobs.values()
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (span["end"] - span["start"]) - covered)
