"""Span ledger for the traced run, and the Spark event-log fold.

Spans are recorded by the benchmark around its own calls into each layer
(nothing inside ``temporalvault_spark`` is instrumented). While tracing,
every span sets its own Spark job group, so the event log says which span
launched each job. Jobs that a streaming query launches on its own thread
carry no group; they carry the ``streaming.sql.batchId`` job property
instead and are attributed through ``Ledger.bind_batch``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"
GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"
BATCH_KEY = "streaming.sql.batchId"

# Physical operators whose tasks wait on a Python worker: task run time
# minus JVM CPU time on their stages is time spent outside the JVM.
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInPandasWithState",
    "PythonRDD",
)


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Ledger:
    """In-memory spans: name, start, end, parent and one op id per op or
    pass. ``sc`` (a SparkContext) is given only when tracing; then each span
    also tags the jobs it launches with its own job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.batches: dict[int, int] = {}

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty(GROUP_KEY, None)
            self.sc.setLocalProperty(DESC_KEY, None)
        else:
            self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{span.id}")
            self.sc.setLocalProperty(DESC_KEY, span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def group_jobs(self, span: Span) -> list[int]:
        """Job ids the status tracker saw under the span's own group."""
        return list(self.sc.statusTracker().getJobIdsForGroup(f"{GROUP_PREFIX}{span.id}"))

    def bind_batch(self, batch_id: int, span: Span) -> None:
        """Attribute the jobs of streaming micro-batch ``batch_id`` to ``span``."""
        self.batches[batch_id] = span.id

    def dump(self, path: str) -> None:
        """Write the spans out (the traced run does this at exit)."""
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "batches": self.batches,
                },
                f,
            )


# -- event log ---------------------------------------------------------------


def _acc(stage_info: dict) -> dict:
    return {a.get("Name"): a.get("Value") for a in stage_info.get("Accumulables", [])}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _is_python(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        text = f"{rdd.get('Name', '')} {rdd.get('Scope', '')}"
        if any(node in text for node in PYTHON_NODES):
            return True
    return False


def parse_event_log(lines) -> dict:
    """Jobs and completed stages from an uncompressed Spark event log
    (one JSON event per line). Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get(BATCH_KEY)
            jobs[ev["Job ID"]] = {
                "group": props.get(GROUP_KEY),
                "batch": int(batch) if batch not in (None, "") else None,
                "start": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = _acc(info)
            st = stages.setdefault(
                info["Stage ID"],
                {"attempts": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "records_read": 0.0,
                 "python": False},
            )
            st["attempts"] += 1
            st["tasks"] += info.get("Number of Tasks", 0)
            st["run_s"] += _num(acc.get("internal.metrics.executorRunTime")) / 1e3
            st["cpu_s"] += _num(acc.get("internal.metrics.executorCpuTime")) / 1e9
            st["gc_s"] += _num(acc.get("internal.metrics.jvmGCTime")) / 1e3
            st["shuffle_write_bytes"] += _num(acc.get("internal.metrics.shuffle.write.bytesWritten"))
            st["spill_bytes"] += _num(acc.get("internal.metrics.memoryBytesSpilled")) + _num(
                acc.get("internal.metrics.diskBytesSpilled")
            )
            st["records_read"] += _num(acc.get("internal.metrics.input.recordsRead"))
            st["python"] = st["python"] or _is_python(info)
    return {"jobs": jobs, "stages": stages}


def read_event_logs(log_dir: str) -> dict:
    """Every event file under ``log_dir``: Spark 4 writes one directory per
    application holding ``events_<n>_<app>`` parts and an ``appstatus`` marker."""
    lines: list[str] = []
    for base, _dirs, names in sorted(os.walk(log_dir)):
        for name in sorted(names, key=lambda n: (len(n), n)):
            if not name.startswith(("appstatus", ".")):
                with open(os.path.join(base, name)) as f:
                    lines.extend(f)
    return parse_event_log(lines)


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


def attribute(spans: list[Span], batches: dict[int, int], log: dict) -> dict[int, list[int]]:
    """span id -> ids of the jobs it launched itself (not its children's).
    A job's job group names its span; a group-less streaming job goes to the
    span bound to its micro-batch id."""
    own: dict[int, list[int]] = {s.id: [] for s in spans}
    for jid, job in log["jobs"].items():
        sid = None
        group = job["group"] or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
        elif job["batch"] is not None:
            sid = batches.get(job["batch"])
        if sid in own:
            own[sid].append(jid)
    return own


def fold(spans: list[Span], batches: dict[int, int], log: dict) -> dict[int, dict]:
    """Per span, over the jobs of the span and all its descendants: job,
    stage and task counts, in-job time (the union of job intervals, so
    overlapping jobs count once), driver gap (span time outside any job) and
    the summed stage metrics. ``self_s`` is the span's time not covered by
    its child spans."""
    own = attribute(spans, batches, log)
    children: dict[int, list[int]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.id)
    by_id = {s.id: s for s in spans}

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children[cur])
        return out

    out: dict[int, dict] = {}
    for s in spans:
        jids = [j for sid in subtree(s.id) for j in own[sid]]
        jobs = [log["jobs"][j] for j in jids]
        sids = {st for job in jobs for st in job["stages"] if st in log["stages"]}
        stg = [log["stages"][i] for i in sids]
        in_job = _union(
            (max(j["start"], s.start), min(j["end"], s.end))
            for j in jobs
            if j["end"] is not None and min(j["end"], s.end) > max(j["start"], s.start)
        )
        kids = _union((by_id[c].start, by_id[c].end) for c in children[s.id])
        py = [x for x in stg if x["python"]]
        out[s.id] = {
            "jobs": len(jobs),
            "own_jobs": len(own[s.id]),
            "stages": sum(x["attempts"] for x in stg),
            "tasks": sum(x["tasks"] for x in stg),
            "wall_s": s.dur,
            "self_s": max(0.0, s.dur - kids),
            "in_job_s": in_job,
            "driver_gap_s": max(0.0, s.dur - in_job),
            "executor_run_s": sum(x["run_s"] for x in stg),
            "executor_cpu_s": sum(x["cpu_s"] for x in stg),
            "gc_s": sum(x["gc_s"] for x in stg),
            "shuffle_write_bytes": sum(x["shuffle_write_bytes"] for x in stg),
            "spill_bytes": sum(x["spill_bytes"] for x in stg),
            "records_read": sum(x["records_read"] for x in stg),
            "python_wait_s": sum(max(0.0, x["run_s"] - x["cpu_s"]) for x in py),
        }
    return out
