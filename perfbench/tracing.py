"""The benchmark's own spans and the Spark event-log parser.

Spans wrap every call the benchmark makes into the engine. They live in
memory and are written out once, when the run ends. Each Spark job the
benchmark starts runs under the job group ``<op>/<phase>``, so the
event log ties every job, stage and task back to one span.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    sets no job groups."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, spark=None, phase: str | None = None):
        """Record ``name`` for operation ``op``; with ``spark`` and
        ``phase``, jobs started inside run under group ``op/phase``."""
        if not self.enabled:
            yield
            return
        if spark is not None and phase is not None:
            spark.sparkContext.setJobGroup(f"{op}/{phase}", name)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": op, "name": name, "start": time.time(), "end": None,
               "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if spark is not None and phase is not None:
                spark.sparkContext.setJobGroup("", "")

    def add(self, name: str, op: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a micro-batch, from its
        progress report)."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"id": op, "name": name, "start": start,
                               "end": end, "parent": parent})

    def total(self, name: str, op_prefix: str = "") -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["id"].startswith(op_prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"index": i, **s}) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_NODES = ("InPandas", "Python", "ArrowEval")


def _python_row_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of 'number of output rows' on Python-boundary
    plan nodes (rows returned from the Python workers)."""
    if any(k in plan.get("nodeName", "") for k in _PY_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def _batch_id(description: str | None) -> int | None:
    """Micro-batch id from a streaming job's description."""
    m = re.search(r"^batch = (\d+)$", description or "", re.M)
    return int(m.group(1)) if m else None


def _new_stage() -> dict:
    return {"tasks": 0, "failed": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "fetch_wait_s": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
            "input_records": 0, "output_mb": 0.0, "python_rows": 0,
            "python_mb": 0.0}


def parse_event_log(path: str) -> dict:
    """Parse one uncompressed, non-rolling Spark event log.

    Returns ``jobs`` (group, streaming flag and micro-batch id, SQL
    execution id, start/end seconds, stage ids), ``stages`` (task-metric sums per stage) and ``sql``
    (execution start seconds per execution id).
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, float] = {}
    py_rows: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "stream": "sql.streaming.queryId" in props,
                    "batch": _batch_id(props.get("spark.job.description")),
                    "exec_id": int(exec_id) if exec_id is not None else None,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind.endswith("SQLExecutionStart"):
                sql[ev["executionId"]] = ev["time"] / 1000.0
                _python_row_ids(ev.get("sparkPlanInfo") or {}, py_rows)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _python_row_ids(ev.get("sparkPlanInfo") or {}, py_rows)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                st["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    st["failed"] += 1
                m = ev.get("Task Metrics")
                if m:
                    rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    st["run_s"] += m["Executor Run Time"] / 1000.0
                    st["cpu_s"] += m["Executor CPU Time"] / 1e9
                    st["gc_s"] += m["JVM GC Time"] / 1000.0
                    st["shuffle_write_mb"] += wr["Shuffle Bytes Written"] / MB
                    st["shuffle_read_mb"] += (rd["Remote Bytes Read"]
                                              + rd["Local Bytes Read"]) / MB
                    st["fetch_wait_s"] += rd["Fetch Wait Time"] / 1000.0
                    st["spill_mb"] += m["Disk Bytes Spilled"] / MB
                    st["input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
                    st["input_records"] += m["Input Metrics"]["Records Read"]
                    st["output_mb"] += m["Output Metrics"]["Bytes Written"] / MB
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name in ("data sent to Python workers",
                                "data returned from Python workers"):
                        st["python_mb"] += int(acc.get("Update", 0)) / MB
                    elif acc.get("ID") in py_rows:
                        st["python_rows"] += int(acc.get("Update", 0))
    return {"jobs": jobs, "stages": stages, "sql": sql}


def job_metrics(log: dict, keep) -> dict:
    """Sum the layer metrics over the jobs for which ``keep(job)`` holds.

    A stage listed by several jobs (a reused shuffle) is counted once,
    for the first job that lists it: only that job ran its tasks.
    """
    owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            owner.setdefault(sid, jid)
    chosen = {jid for jid, j in log["jobs"].items() if keep(j)}
    out = _new_stage()
    out.update({"jobs": len(chosen), "stages": 0, "exec_s": 0.0, "plan_s": 0.0})
    first_job: dict[int, float] = {}  # SQL execution -> its first job's start
    for jid in chosen:
        job = log["jobs"][jid]
        if job["end"] is not None:
            out["exec_s"] += job["end"] - job["start"]
        eid = job["exec_id"]
        if eid is not None:
            first_job[eid] = min(first_job.get(eid, job["start"]), job["start"])
    for eid, t in first_job.items():
        if eid in log["sql"]:
            out["plan_s"] += max(0.0, t - log["sql"][eid])
    for sid, st in log["stages"].items():
        if owner.get(sid) in chosen:
            out["stages"] += 1
            for k, v in st.items():
                out[k] += v
    return out


def write_stage_run_s(log: dict, keep) -> float:
    """Task run time of the stage that writes each action's output: the
    last stage of the last job of every SQL execution among the kept
    jobs."""
    last_job: dict[int, int] = {}
    for jid, job in log["jobs"].items():
        if keep(job) and job["exec_id"] is not None and job["stages"]:
            last_job[job["exec_id"]] = max(jid, last_job.get(job["exec_id"], jid))
    total = 0.0
    for jid in last_job.values():
        st = log["stages"].get(max(log["jobs"][jid]["stages"]))
        if st is not None:
            total += st["run_s"]
    return total


def per_unit(m: dict, n: int) -> dict:
    """The shared operator/source layer numbers, divided by ``n`` units."""
    return {
        "sources.input_mb": m["input_mb"] / n,
        "sources.input_records": m["input_records"] / n,
        "operators.exec_s": m["exec_s"] / n,
        "operators.exec_jobs": m["jobs"] / n,
        "operators.exec_stages": m["stages"] / n,
        "operators.exec_tasks": m["tasks"] / n,
        "operators.plan_s": m["plan_s"] / n,
        "operators.task_run_s": m["run_s"] / n,
        "operators.task_cpu_s": m["cpu_s"] / n,
        "operators.gc_s": m["gc_s"] / n,
        "operators.shuffle_write_mb": m["shuffle_write_mb"] / n,
        "operators.shuffle_read_mb": m["shuffle_read_mb"] / n,
        "operators.fetch_wait_s": m["fetch_wait_s"] / n,
        "operators.spill_mb": m["spill_mb"] / n,
        "operators.python_rows": m["python_rows"] / n,
        "operators.python_mb": m["python_mb"] / n,
        "operators.failed_tasks": m["failed"],
        "operators.task_success_ratio": ((m["tasks"] - m["failed"]) / m["tasks"]
                                         if m["tasks"] else 1.0),
    }
