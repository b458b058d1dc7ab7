"""Layer tracing from outside the engine.

A span is (name, start, end, parent, run id) kept in memory and written
out when the run ends.  Each span also names a Spark job group, so every
job the wrapped call submits is attributed to it; the per-stage executor
counters come from Spark's own status store, which exists with the UI
disabled.  Catalyst phase times come from the query execution's tracker.

Tracing is off in the untraced runs that produce end-to-end metrics:
``Tracer.span`` is then a no-op and no engine function is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

COUNTERS = ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "tasks", "failed_tasks")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jobs: dict[str, list[dict]] | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        rec["group"] = f"{self.run_id}/{rec['id']}"
        self.spans.append(rec)
        previous = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        self._jobs = None
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if previous is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(previous, "")

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` around each call (traced runs only)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # --- derived quantities --------------------------------------------------

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, rec: dict) -> float:
        covered = _union([(c["start"], c["end"]) for c in self.children(rec)], rec["start"], rec["end"])
        return self.duration(rec) - covered

    def named(self, name: str, **attrs) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s.get(k) == v for k, v in attrs.items())
        ]

    def _job_table(self) -> dict[str, list[dict]]:
        """Jobs by group, with their stage counters summed."""
        if self._jobs is not None:
            return self._jobs
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        table: dict[str, list[dict]] = {}
        for k in range(jobs.size()):
            job = jobs.apply(k)
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith(self.run_id + "/"):
                continue
            submitted = job.submissionTime()
            completed = job.completionTime()
            rec = {
                "start": submitted.get().getTime() / 1000 if submitted.isDefined() else None,
                "end": completed.get().getTime() / 1000 if completed.isDefined() else None,
                "stages": 0, "input_records": 0, **{c: 0 for c in COUNTERS},
            }
            stage_ids = job.stageIds()
            for s in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(s))
                except Exception:  # stage evicted or never submitted
                    continue
                rec["stages"] += 1
                rec["executor_run_s"] += st.executorRunTime() / 1000
                rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["tasks"] += st.numTasks()
                rec["failed_tasks"] += st.numFailedTasks()
                rec["input_records"] += st.inputRecords()
            table.setdefault(str(group.get()), []).append(rec)
        self._jobs = table
        return table

    def jobs_of(self, rec: dict) -> list[dict]:
        """Jobs of the span and of every span inside it."""
        table = self._job_table()
        return [j for s in self.subtree(rec) for j in table.get(s["group"], [])]

    def counters(self, rec: dict) -> dict:
        jobs = self.jobs_of(rec)
        out = {c: sum(j[c] for j in jobs) for c in COUNTERS + ("stages", "input_records")}
        out["jobs"] = len(jobs)
        busy = _union([(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]],
                      rec["start"], rec["end"])
        out["driver_s"] = self.duration(rec) - busy
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cursor = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cursor:
            continue
        total += b - max(a, cursor)
        cursor = b
    return total


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning of ``df``, from the tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total / 1000


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(tracer: Tracer, name: str, build) -> dict:
    """Time one public call in three layers: Python build, Catalyst, and a
    noop drain with its executor counters."""
    with tracer.span("probe." + name) as rec:
        t0 = time.time()
        df = build()
        build_s = time.time() - t0
        catalyst_s = catalyst_seconds(df)
        t0 = time.time()
        noop(df)
        exec_s = time.time() - t0
    return {"build_s": build_s, "catalyst_s": catalyst_s, "exec_s": exec_s, **tracer.counters(rec)}


def median(values) -> float:
    """Median of the values that are not None; 0.0 when there are none."""
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def dir_files(path: str) -> dict[str, int]:
    """{relative file: bytes} of the data files under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out
