"""Per-layer attribution for traced passes.

Spans are recorded by the harness around its own calls into the engine
(pass -> step -> builder call, action call).  After a pass, outside the
timer, ``read_back`` pulls job and stage records from
the Spark REST API and ``layers`` folds them into per-layer sums for
that pass.  Every job is attributed through the Spark job group the
harness set for the builder or the action; a job submitted from another
thread carries no group and is attributed by the window it started in.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

MB = 1e6

# Per-layer metrics: name -> unit.  Order is the report's order.
LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.output_mb": "MB",
    "exec.storage_mb": "MB",
    "exec.cache_entries": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "pipeline.driver_s": "s",
    "operators.render_s": "s",
    "plans.lsh_candidates": "count",
    "plans.lsh_hits_per_candidate_ppm": "ppm",
    "trace.overhead_s": "s",
}


@dataclass
class Span:
    """A timed call: wall-clock bounds (epoch s) plus its job group."""

    group: str
    t0: float = 0.0
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class StepSpan:
    name: str
    build: Span
    action: Span
    render_s: float = 0.0
    error: str | None = None

    @property
    def t0(self) -> float:
        return self.build.t0

    @property
    def t1(self) -> float:
        return self.action.t1 if self.action.t1 else self.build.t1

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class PassSpan:
    index: int
    traced: bool
    wall: float = 0.0
    # Host CPU seconds run, and stolen by the hypervisor, during the
    # pass, summed over all CPUs.
    busy_s: float = 0.0
    steal_s: float = 0.0
    steps: list[StepSpan] = field(default_factory=list)
    cache_entries: int = 0
    storage_mb: float = 0.0
    jobs_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    coverage: list[str] = field(default_factory=list)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def read_back(spark) -> dict:
    """Job and stage records of the application so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    return {"jobs": _get(f"{base}/jobs"), "stages": _get(f"{base}/stages")}


# Job timestamps have millisecond resolution.
_SLACK = 0.002


def layers(p: PassSpan, rest: dict) -> None:
    """Fill ``p.layers`` and ``p.coverage`` from one pass's REST records."""
    phases: dict[str, Span] = {}
    for s in p.steps:
        phases[s.build.group] = s.build
        phases[s.action.group] = s.action
    lo = min(s.t0 for s in p.steps) - _SLACK
    hi = max(s.t1 for s in p.steps) + _SLACK

    jobs_of: dict[str, list[dict]] = {g: [] for g in phases}
    for j in rest["jobs"]:
        start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if start is None or not lo <= start <= hi:
            continue
        j = dict(j, _t0=start, _t1=end or start)
        group = j.get("jobGroup")
        if group not in phases:
            group = next(
                (g for g, sp in phases.items() if sp.t0 - _SLACK <= start <= sp.t1 + _SLACK),
                None,
            )
        if group is not None:
            jobs_of[group].append(j)

    stages: dict[int, list[dict]] = {}
    for st in rest["stages"]:
        stages.setdefault(st["stageId"], []).append(st)

    acc = dict.fromkeys(LAYER_UNITS, 0.0)
    seen: set[tuple[int, int]] = set()
    for s in p.steps:
        jb, ja = jobs_of[s.build.group], jobs_of[s.action.group]
        acc["plans.build_s"] += s.build.dur
        acc["plans.build_jobs"] += len(jb)
        acc["exec.action_s"] += s.action.dur
        acc["exec.jobs"] += len(jb) + len(ja)
        step_jobs = [(j["_t0"], j["_t1"]) for j in jb + ja]
        jobs_s = _union(step_jobs, s.t0, s.t1)
        p.jobs_s += jobs_s
        acc["exec.driver_gap_s"] += s.wall - jobs_s
        if ja:
            first_job = min(j["_t0"] for j in ja)
            acc["catalyst.plan_s"] += max(0.0, first_job - s.action.t0)
        if s.render_s:
            acc["operators.render_s"] += s.render_s
            acc["pipeline.driver_s"] += s.action.dur - jobs_s - s.render_s
        for j in jb + ja:
            for sid in j["stageIds"]:
                for st in stages.get(sid, ()):
                    key = (sid, st["attemptId"])
                    if key in seen or st["status"] == "SKIPPED":
                        continue
                    seen.add(key)
                    acc["exec.stages"] += 1
                    acc["exec.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    acc["exec.task_s"] += st["executorRunTime"] / 1e3
                    acc["exec.cpu_s"] += st["executorCpuTime"] / 1e9
                    acc["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    acc["exec.shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                    acc["exec.shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                    acc["exec.spill_mb"] += st["diskBytesSpilled"] / MB
                    acc["exec.output_mb"] += st["outputBytes"] / MB
                    acc["sources.input_mb"] += st["inputBytes"] / MB
                    acc["sources.input_rows"] += st["inputRecords"]
        # Coverage: the two calls make up the step, and every job the
        # step owns ran inside the step's window.
        if s.wall > 0 and abs(s.wall - s.build.dur - s.action.dur) > 0.05 * s.wall:
            p.coverage.append(f"{s.name}: builder+action cover "
                              f"{(s.build.dur + s.action.dur) / s.wall:.1%} of step wall")
        outside = [t for t in step_jobs if t[0] < s.t0 - _SLACK or t[1] > s.t1 + _SLACK]
        if outside:
            p.coverage.append(f"{s.name}: {len(outside)} jobs outside the step window")
        if s.render_s and acc["pipeline.driver_s"] < 0:
            p.coverage.append(f"{s.name}: jobs + render exceed the run wall")
    acc["exec.cache_entries"] = p.cache_entries
    acc["exec.storage_mb"] = p.storage_mb
    p.layers = acc


def self_times(p: PassSpan) -> dict[str, float]:
    """Self time per span kind, summed over the pass: each span's wall
    minus the part its children cover (jobs are the leaves)."""
    steps = sum(s.wall for s in p.steps)
    calls = sum(s.build.dur + s.action.dur for s in p.steps)
    return {
        "pass": p.wall - steps,
        "step": steps - calls,
        "builder+action": calls - p.jobs_s,
        "jobs": p.jobs_s,
    }
