"""Traced-run tooling, all on the benchmark's side of the package boundary.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  computes each span's self time when the run ends. In a traced run every
  span also sets a Spark job group, and on exit reads its job, stage and
  task counts from the status tracker.
- ``event_log_confs`` / ``parse_event_log`` enable an uncompressed,
  non-rolling event log for one SparkContext and fold it into per-job-group
  CPU, shuffle, spill, GC, scheduler-delay and Python-worker numbers.
- ``progress_row`` flattens a ``StreamingQueryProgress``.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    group: str | None = None
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the package's layers. Disabled, ``span``
    only yields, so the untraced run pays one generator per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.sc = None  # set when a SparkContext exists

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = self.start(name)
        try:
            yield sp
        finally:
            self.finish(sp)

    def start(self, name: str) -> Span:
        """Open a span as a child of the innermost open one. ``span`` is
        the usual form; ``start``/``finish`` serve phases whose
        boundaries are observed inside a call rather than around it."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            next(self._ids),
            name,
            time.perf_counter(),
            parent.span_id if parent else None,
            self.run_id,
        )
        if self.sc is not None:
            sp.group = f"{self.run_id}/{sp.span_id}/{name}"
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.remove(sp)
        sc = self.sc
        if sc is not None:
            parent = self._stack[-1] if self._stack else None
            if parent is not None and parent.group is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.counts = status_counts(sc, sp.group)
        self.spans.append(sp)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals
        (children of one span never overlap: the benchmark is one
        thread)."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        return {sp.span_id: sp.duration - child[sp.span_id] for sp in self.spans}

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for sp in self.spans:
            out[sp.name].append(sp)
        return out

    def dump(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(
                    json.dumps(
                        {
                            "run_id": sp.run_id,
                            "span_id": sp.span_id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "self_s": selfs[sp.span_id],
                            "job_group": sp.group,
                            **sp.counts,
                        }
                    )
                    + "\n"
                )


def status_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks a job group ran, from the status tracker.
    Skipped stages (reused shuffle output) are not counted."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


# -- event log -----------------------------------------------------------


def event_log_confs(log_dir: str) -> dict[str, str]:
    """Spark 4.1 defaults to zstd-compressed rolling directories; one
    plain JSON-lines file per application is what ``parse_event_log``
    reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_STAGE_ACCUMS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    # a Python worker's start: process launch plus its imports
    "time to start Python workers": ("worker_start_s", 1e-3),
    "time to initialize Python workers": ("worker_start_s", 1e-3),
    "time to run Python workers": ("udf_s", 1e-3),
    "data sent to Python workers": ("udf_bytes_sent", 1),
}


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group (and per streaming batch, keyed ``<runId>#<batch>``):
    jobs, stages, tasks, task failures, CPU/run/GC seconds, shuffle-write
    and spill bytes, scheduler delay + deserialisation seconds, and the
    Python-worker start/run time and bytes sent. Jobs outside any job
    group (set-up, gates) land under ``"-"``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = props.get("spark.jobGroup.id") or "-"
                desc = props.get("spark.job.description") or ""
                if "batch = " in desc:
                    key = f"{key}#{desc.rsplit('batch = ', 1)[1].split()[0]}"
                groups[key]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = key
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = stage_group.get(info["Stage ID"], "-")
                g = groups[key]
                g["stages"] += 1
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in _STAGE_ACCUMS:
                        out, scale = _STAGE_ACCUMS[name]
                        g[out] += _num(acc.get("Value")) * scale
            elif kind == "SparkListenerTaskEnd":
                key = stage_group.get(ev["Stage ID"], "-")
                g = groups[key]
                g["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["task_failures"] += 1
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                wall = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
                busy = (
                    _num(m.get("Executor Run Time"))
                    + _num(m.get("Result Serialization Time"))
                    + _num(info.get("Getting Result Time"))
                )
                # Spark UI's scheduler delay plus deserialisation: task
                # wall time not spent running or serialising the result
                g["task_wait_s"] += max(0.0, wall - busy) / 1e3
    return {k: dict(v) for k, v in groups.items()}


def progress_row(p: dict) -> dict:
    """One micro-batch's ``StreamingQueryProgress`` (as its JSON dict)
    flattened to seconds and counts."""
    d = p.get("durationMs", {})
    st = (p.get("stateOperators") or [{}])[0]
    ms = lambda k: d.get(k, 0) / 1e3  # noqa: E731
    return {
        "batch": p["batchId"],
        "trigger_s": ms("triggerExecution"),
        "get_batch_s": ms("latestOffset") + ms("getBatch"),
        "add_batch_s": ms("addBatch"),
        "planning_s": ms("queryPlanning"),
        "commit_s": ms("walCommit") + ms("commitOffsets"),
        "input_rows": p.get("numInputRows", 0),
        "state_rows": st.get("numRowsTotal", 0),
        "state_bytes": st.get("memoryUsedBytes", 0),
        "state_commit_s": st.get("commitTimeMs", 0) / 1e3,
        "state_update_s": st.get("allUpdatesTimeMs", 0) / 1e3,
        "state_partitions": st.get("numShufflePartitions", 0),
    }
