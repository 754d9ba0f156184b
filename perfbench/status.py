"""Spans around calls into the pipeline, and per-span Spark accounting
read back from the driver's status store.

Each span sets a Spark job group ``pb:<span id>:<name>`` for its
duration, so every job it launches (broadcast and subquery jobs inherit
the group from the submitting thread) is attributed to it.  After a build,
``fold`` reads ``statusStore().jobsList``/``lastStageAttempt``/``taskList``
over py4j — the store answers with the Spark UI disabled — and turns the
build's jobs into per-span counters.  Nothing here runs inside a timed
region.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb:"

# per-layer counters, in output order, as fold() returns them
LAYER_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("task_cpu_s", "s"),
    ("core_util", "ratio"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("rows_out", "rows"),
)


class Tracer:
    """Records spans (name, start, end, parent) in memory; ``spans`` is
    written out once, when the benchmark ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span['id']}:{span['name']}", span["name"])

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "rows": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


class StatusReader:
    """Reads the jobs launched since the previous ``read`` call."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def read(self) -> list[dict]:
        """New jobs (ascending id) with their stages that actually ran."""
        self._bus.waitUntilEmpty()  # job/stage end events are delivered async
        jobs = self._store.jobsList(None)  # descending job id
        new = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            if jd.jobId() <= self._seen:
                break
            new.append(jd)
        new.reverse()
        if new:
            self._seen = new[-1].jobId()
        out, claimed = [], set()
        for jd in new:
            group = jd.jobGroup()
            ids = jd.stageIds()
            stages = []
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in claimed:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped: its output came from an earlier job
                claimed.add(sid)
                tasks = self._store.taskList(sid, sd.attemptId(), 1 << 30)
                stages.append(
                    {
                        "tasks": sd.numCompleteTasks(),
                        "run_ms": sd.executorRunTime(),
                        "cpu_ns": sd.executorCpuTime(),
                        "shuffle_write": sd.shuffleWriteBytes(),
                        "spill": sd.diskBytesSpilled(),
                        "task_ms": [
                            tasks.apply(t).taskMetrics().get().executorRunTime()
                            for t in range(tasks.size())
                        ],
                    }
                )
            out.append(
                {
                    "group": group.get() if group.isDefined() else None,
                    "start": jd.submissionTime().get().getTime() / 1000,
                    "end": jd.completionTime().get().getTime() / 1000,
                    "stages": stages,
                }
            )
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _span_of(group: str | None) -> int | None:
    if not group or not group.startswith(GROUP_PREFIX):
        return None
    return int(group[len(GROUP_PREFIX):].split(":", 1)[0])


def fold(spans: list[dict], jobs: list[dict], cores: int) -> dict[str, dict]:
    """Per-layer counters for one build whose root span is ``spans[0]``:
    spans sharing a name (e.g. the six ``lineage.write`` calls of a
    materialized build) add up.  Jobs submitted while the root span was
    open but not attributed to one of its child spans are counted as
    ``unattributed_jobs``; jobs outside the root span (output checks) are
    ignored."""
    root = spans[0]
    by_id = {s["id"]: s for s in spans}
    jobs_of: dict[int, list[dict]] = {}
    unattributed = 0
    for j in jobs:
        sid = _span_of(j["group"])
        if sid in by_id:
            jobs_of.setdefault(sid, []).append(j)
        if root["start"] <= j["start"] <= root["end"] and (sid not in by_id or sid == root["id"]):
            unattributed += 1
    layers: dict[str, dict] = {}
    task_ms: dict[str, list[int]] = {}
    for s in spans:
        js = jobs_of.get(s["id"], [])
        wall = s["end"] - s["start"]
        covered = _covered([(j["start"], j["end"]) for j in js], s["start"], s["end"])
        stages = [st for j in js for st in j["stages"]]
        acc = layers.setdefault(s["name"], dict.fromkeys((k for k, _ in LAYER_METRICS), 0))
        acc["wall_s"] += wall
        acc["driver_s"] += wall - covered
        acc["jobs"] += len(js)
        acc["stages"] += len(stages)
        acc["tasks"] += sum(st["tasks"] for st in stages)
        acc["task_s"] += sum(st["run_ms"] for st in stages) / 1000
        acc["task_cpu_s"] += sum(st["cpu_ns"] for st in stages) / 1e9
        acc["shuffle_write_mb"] += sum(st["shuffle_write"] for st in stages) / 1e6
        acc["spill_mb"] += sum(st["spill"] for st in stages) / 1e6
        acc["rows_out"] += s["rows"] or 0
        task_ms.setdefault(s["name"], []).extend(t for st in stages for t in st["task_ms"])
    for name, acc in layers.items():
        acc["core_util"] = acc["task_s"] / (acc["wall_s"] * cores) if acc["wall_s"] > 0 else 0.0
        ts = task_ms[name]
        med = statistics.median(ts) if ts else 0
        acc["task_skew"] = max(ts) / med if med > 0 else 0.0
    return {"layers": layers, "unattributed_jobs": unattributed}


def final_plan(df) -> str:
    """The executed plan's text without AQE's ``== Initial Plan ==``
    sections, so a strategy AQE replaced at run time is not reported."""
    text = df._jdf.queryExecution().executedPlan().toString()
    out, skip_indent = [], None
    for line in text.splitlines():
        indent = len(line) - len(line.lstrip(" :|"))  # tree depth, before "+-"
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def join_label(plan: str) -> str:
    bcast = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    shuffle = "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    if bcast and shuffle:
        return "mixed"
    return "broadcast" if bcast else "shuffle" if shuffle else "none"
