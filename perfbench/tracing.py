"""The traced run's records: Spark's own accounts of the benchmark's calls.

The benchmark gives every call (builder, catalyst, execute, submit,
process) its own job group, so each job Spark records names the call that
launched it. After each traced pass :class:`SparkRecords` reads the jobs,
stages, tasks and Python-operator SQL metrics that Spark recorded since
the previous read, from the live status stores (serialized in the JVM by
Spark's own Jackson mapper, one call per record list). :func:`layer_metrics`
and :func:`spans` turn those records plus the benchmark's call spans into
the per-layer metrics and the span file; both are pure functions of their
inputs.
"""

from __future__ import annotations

import json
import re

#: SQL metric names of the Python operators (``MapInPandas``,
#: ``ArrowEvalPythonUDTF``, ...)
PY_SENT = "data sent to Python workers"
PY_TIMES = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
PY_ROWS = "number of output rows"

#: every per-layer metric the traced run reports, with its unit
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.slot_busy_frac": "frac",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.sched_wait_s": "s",
    "exec.storage_mb": "MB",
    "exec.task_failures": "count",
    "pyworker.time_s": "s",
    "pyworker.rows": "count",
    "pyworker.sent_mb": "MB",
    "operators.submit_s": "s",
    "operators.process_s": "s",
    "operators.collect_mb": "MB",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "trace.overhead_frac": "frac",
    "trace.coverage": "frac",
}

_UNIT = {
    "": 1.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"\s*([\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric as Spark formats it (``"5,000"``, ``"2.0 s"``,
    ``"841.0 KiB"``, or the multi-task ``"total (min, med, max ...)\\n<total>
    (...)"`` form) in base units: rows, bytes or seconds."""
    m = _VALUE.match(text.splitlines()[-1])
    if m is None or m.group(2) not in _UNIT:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class SparkRecords:
    """Reader of the records Spark keeps for the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._all_tasks = jvm.java.util.ArrayList()
        self._last_job = -1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def storage_bytes(self) -> int:
        """Bytes of cached and checkpointed blocks held right now."""
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo())

    def read_new(self, groups: set[str]) -> dict:
        """Jobs ended since the previous read whose job group is in
        ``groups``, with their stages, tasks, and the Python-operator
        metrics of the SQL executions that ran them."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        new = [j for j in self._json(store.jobsList(None)) if j["jobId"] > self._last_job]
        if not new:
            return {"jobs": [], "stages": [], "python": []}
        self._last_job = max(j["jobId"] for j in new)
        jobs = [
            j
            for j in new
            if j.get("jobGroup") in groups and j.get("completionTime") is not None
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._json(
                store.stageList(None, False, False, self._no_quantiles, self._all_tasks)
            )
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
        ]
        for s in stages:
            s["tasks"] = self._json(store.taskList(s["stageId"], s["attemptId"], 2**31 - 1))
        python = []
        for eid in sorted({_execution_id(j) for j in jobs} - {None}):
            python.extend(self._python_metrics(eid))
        return {"jobs": jobs, "stages": stages, "python": python}

    def _python_metrics(self, execution_id: int) -> list[dict]:
        nodes = self._json(self._sql.planGraph(execution_id).allNodes())
        py_nodes = {
            n["id"]: n
            for n in nodes
            if any(m["name"] == PY_SENT for m in n.get("metrics", []))
        }
        if not py_nodes:
            return []
        values = self._json(self._sql.executionMetrics(execution_id))
        out = []
        for n in py_nodes.values():
            rec = {"execution": execution_id, "node": n["name"]}
            for m in n["metrics"]:
                text = values.get(str(m["accumulatorId"]))
                if text is not None:
                    rec[m["name"]] = metric_value(text)
            out.append(rec)
        return out


def _execution_id(job: dict) -> int | None:
    for tag in job.get("jobTags", []):
        head, sep, tail = tag.rpartition("-execution-root-id-")
        if sep and tail.isdigit():
            return int(tail)
    return None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _job_interval(job: dict) -> tuple[float, float]:
    return job["submissionTime"] / 1e3, job["completionTime"] / 1e3


def layer_metrics(calls: list[dict], records: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass.

    ``calls`` are the benchmark's call spans: ``name`` (build, catalyst,
    execute, submit or process), ``group`` (the call's job group),
    ``start``/``end`` in epoch seconds, and optionally ``phases``
    (catalyst ms by phase), ``storage_bytes``, ``bytes_written``,
    ``files_written`` and ``bytes_read``. ``records`` is what
    :meth:`SparkRecords.read_new` returned for the pass."""
    jobs, stages = records["jobs"], records["stages"]
    call_of = {c["group"]: c for c in calls}
    by_call: dict[str, list[dict]] = {}
    for j in jobs:
        by_call.setdefault(j.get("jobGroup"), []).append(j)

    def dur(name: str) -> float:
        return sum(c["end"] - c["start"] for c in calls if c["name"] == name)

    in_builds = [js for g, js in by_call.items() if g in call_of and call_of[g]["name"] == "build"]
    build_job_s = sum(_union_s([_job_interval(j) for j in js]) for js in in_builds)
    op_groups = {g for g, c in call_of.items() if c["name"] in ("submit", "process")}
    op_stage_ids = {s for j in jobs if j.get("jobGroup") in op_groups for s in j["stageIds"]}

    def stage_sum(key: str, only: set | None = None) -> float:
        return float(sum(s[key] for s in stages if only is None or s["stageId"] in only))

    def phase_ms(phase: str) -> float:
        return float(sum(c.get("phases", {}).get(phase, 0) for c in calls))

    wall = _union_s([_job_interval(j) for j in jobs])
    task_run = stage_sum("executorRunTime") / 1e3
    py = records["python"]
    written = sum(c.get("bytes_written", 0) for c in calls)
    read = sum(c.get("bytes_read", 0) for c in calls)
    return {
        "plans.build_s": dur("build"),
        "plans.build_self_s": dur("build") - build_job_s,
        "plans.build_jobs": float(sum(len(js) for js in in_builds)),
        "plans.build_job_s": build_job_s,
        "catalyst.analysis_ms": phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "exec.wall_s": wall,
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": stage_sum("executorCpuTime") / 1e9,
        "exec.gc_s": stage_sum("jvmGcTime") / 1e3,
        "exec.input_mb": stage_sum("inputBytes") / 1e6,
        "exec.shuffle_read_mb": stage_sum("shuffleReadBytes") / 1e6,
        "exec.shuffle_write_mb": stage_sum("shuffleWriteBytes") / 1e6,
        "exec.spill_mb": stage_sum("diskBytesSpilled") / 1e6,
        "exec.slot_busy_frac": task_run / (wall * cores) if wall > 0 else 0.0,
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": stage_sum("numCompleteTasks") + stage_sum("numFailedTasks"),
        "exec.sched_wait_s": sum(
            (s["firstTaskLaunchedTime"] - s["submissionTime"]) / 1e3
            for s in stages
            if s.get("firstTaskLaunchedTime") is not None and s.get("submissionTime") is not None
        ),
        "exec.storage_mb": max((c.get("storage_bytes", 0) for c in calls), default=0) / 1e6,
        "exec.task_failures": stage_sum("numFailedTasks"),
        "pyworker.time_s": sum(r.get(k, 0.0) for r in py for k in PY_TIMES),
        "pyworker.rows": sum(r.get(PY_ROWS, 0.0) for r in py),
        "pyworker.sent_mb": sum(r.get(PY_SENT, 0.0) for r in py) / 1e6,
        "operators.submit_s": dur("submit"),
        "operators.process_s": dur("process"),
        "operators.collect_mb": stage_sum("resultSize", op_stage_ids) / 1e6,
        "sources.bytes_written_mb": written / 1e6,
        "sources.files_written": float(sum(c.get("files_written", 0) for c in calls)),
        "sources.write_amp": written / read if read else 0.0,
    }


def coverage_s(layers: dict[str, float]) -> float:
    """Time the layers account for in a pass: builder self time, the
    optimization and planning that the execute call would otherwise do,
    and the time Spark had jobs running."""
    return (
        layers["plans.build_self_s"]
        + (layers["catalyst.optimization_ms"] + layers["catalyst.planning_ms"]) / 1e3
        + layers["exec.wall_s"]
    )


def spans(pass_no: int, calls: list[dict], records: dict) -> list[dict]:
    """Span records of one traced pass: the pass, one per item, the
    calls, and Spark's jobs, stages and tasks under the call that ran
    them. Times are epoch seconds."""
    out: list[dict] = []
    pass_id = f"p{pass_no}"
    out.append(
        {
            "id": pass_id,
            "name": "pass",
            "item": None,
            "parent": None,
            "start": min((c["start"] for c in calls), default=0.0),
            "end": max((c["end"] for c in calls), default=0.0),
        }
    )
    items: dict[str, list[dict]] = {}
    for c in calls:
        items.setdefault(c["item"], []).append(c)
    for item, cs in items.items():
        out.append(
            {
                "id": f"{pass_id}/{item}",
                "name": "item",
                "item": item,
                "parent": pass_id,
                "start": min(c["start"] for c in cs),
                "end": max(c["end"] for c in cs),
            }
        )
        for c in cs:
            span = {
                "id": c["group"],
                "name": c["name"],
                "item": item,
                "parent": f"{pass_id}/{item}",
                "start": c["start"],
                "end": c["end"],
            }
            if "phases" in c:
                span["phases_ms"] = c["phases"]
            out.append(span)
    call_item = {c["group"]: c["item"] for c in calls}
    stage_parent: dict[int, tuple[str, str | None]] = {}
    for j in records["jobs"]:
        group = j.get("jobGroup")
        job_id = f"job{j['jobId']}"
        start, end = _job_interval(j)
        out.append(
            {
                "id": job_id,
                "name": "job",
                "item": call_item.get(group),
                "parent": group,
                "start": start,
                "end": end,
                "stages": len(j["stageIds"]),
                "tasks": j["numCompletedTasks"] + j["numFailedTasks"],
            }
        )
        for s in j["stageIds"]:
            stage_parent.setdefault(s, (job_id, call_item.get(group)))
    for s in records["stages"]:
        parent, item = stage_parent.get(s["stageId"], (None, None))
        stage_id = f"stage{s['stageId']}.{s['attemptId']}"
        out.append(
            {
                "id": stage_id,
                "name": "stage",
                "item": item,
                "parent": parent,
                "start": s["submissionTime"] / 1e3,
                "end": (s.get("completionTime") or s["submissionTime"]) / 1e3,
                "tasks": s["numCompleteTasks"] + s["numFailedTasks"],
                "run_s": s["executorRunTime"] / 1e3,
                "shuffle_read_bytes": s["shuffleReadBytes"],
                "shuffle_write_bytes": s["shuffleWriteBytes"],
            }
        )
        for t in s.get("tasks", []):
            launch = t["launchTime"] / 1e3
            out.append(
                {
                    "id": f"task{t['taskId']}",
                    "name": "task",
                    "item": item,
                    "parent": stage_id,
                    "start": launch,
                    "end": launch + (t.get("duration") or 0) / 1e3,
                    "status": t["status"],
                }
            )
    return out
