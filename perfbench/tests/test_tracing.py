import pytest

import tracing


@pytest.mark.parametrize(
    "text,value",
    [
        ("5,000", 5000.0),
        ("2.0 s", 2.0),
        ("226 ms", 0.226),
        ("841.0 KiB", 841.0 * 1024),
        ("total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, 0.2 MiB, 0.4 MiB)", 1.5 * 2**20),
    ],
)
def test_metric_value(text, value):
    assert tracing.metric_value(text) == pytest.approx(value)


def test_metric_value_rejects_unknown_units():
    with pytest.raises(ValueError):
        tracing.metric_value("3 parsecs")


def test_union_of_intervals():
    assert tracing._union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union_s([]) == 0


def _job(jid, group, start, end, stages):
    return {
        "jobId": jid,
        "jobGroup": group,
        "submissionTime": start * 1000,
        "completionTime": end * 1000,
        "stageIds": stages,
        "numCompletedTasks": 2,
        "numFailedTasks": 0,
        "jobTags": [f"spark-session-x-execution-root-id-{jid}"],
    }


def _stage(sid, run_ms, failed=0):
    return {
        "stageId": sid,
        "attemptId": 0,
        "status": "COMPLETE",
        "submissionTime": 0,
        "firstTaskLaunchedTime": 100,
        "completionTime": 1000,
        "numCompleteTasks": 2,
        "numFailedTasks": failed,
        "executorRunTime": run_ms,
        "executorCpuTime": run_ms * 1_000_000,
        "jvmGcTime": 10,
        "inputBytes": 1_000_000,
        "shuffleReadBytes": 0,
        "shuffleWriteBytes": 0,
        "diskBytesSpilled": 0,
        "resultSize": 500_000,
        "tasks": [{"taskId": sid * 10, "launchTime": 100, "duration": 800, "status": "SUCCESS"}],
    }


def _pass():
    calls = [
        {"item": "q", "name": "build", "group": "0/q/traced/build", "start": 0.0, "end": 2.0},
        {
            "item": "q",
            "name": "catalyst",
            "group": "0/q/traced/catalyst",
            "start": 2.0,
            "end": 2.1,
            "phases": {"analysis": 5, "optimization": 60, "planning": 40},
        },
        {"item": "q", "name": "execute", "group": "0/q/traced/execute", "start": 2.1, "end": 4.0},
    ]
    records = {
        "jobs": [
            _job(1, "0/q/traced/build", 0.5, 1.5, [1]),
            _job(2, "0/q/traced/execute", 2.2, 3.2, [2]),
            _job(3, "0/q/traced/execute", 2.7, 3.9, [3]),
        ],
        "stages": [_stage(1, 1000), _stage(2, 2000), _stage(3, 3000, failed=1)],
        "python": [
            {
                "execution": 2,
                "node": "MapInPandas",
                tracing.PY_SENT: 2_000_000.0,
                tracing.PY_ROWS: 10.0,
                "time to run Python workers": 1.5,
            }
        ],
    }
    return calls, records


def test_layer_metrics_attribute_jobs_to_the_calls_that_ran_them():
    calls, records = _pass()
    m = tracing.layer_metrics(calls, records, cores=4)
    assert set(m) == set(tracing.PER_LAYER) - {
        "session.get_spark_s",
        "session.warmup_s",
        "trace.overhead_frac",
        "trace.coverage",
    }
    assert m["plans.build_s"] == pytest.approx(2.0)
    assert m["plans.build_jobs"] == 1
    assert m["plans.build_job_s"] == pytest.approx(1.0)
    assert m["plans.build_self_s"] == pytest.approx(1.0)
    assert m["catalyst.optimization_ms"] == 60
    # job intervals 0.5-1.5, 2.2-3.2 and 2.7-3.9 cover 1.0 + 1.7 s
    assert m["exec.wall_s"] == pytest.approx(2.7)
    assert m["exec.task_run_s"] == pytest.approx(6.0)
    assert m["exec.slot_busy_frac"] == pytest.approx(6.0 / (2.7 * 4))
    assert m["exec.jobs"] == 3 and m["exec.stages"] == 3
    assert m["exec.tasks"] == 7 and m["exec.task_failures"] == 1
    assert m["exec.sched_wait_s"] == pytest.approx(0.3)
    assert m["pyworker.sent_mb"] == pytest.approx(2.0)
    assert m["pyworker.time_s"] == pytest.approx(1.5)
    assert m["operators.collect_mb"] == 0
    assert tracing.coverage_s(m) == pytest.approx(1.0 + 0.1 + 2.7)


def test_operator_metrics():
    calls = [
        {
            "item": "wc",
            "name": "submit",
            "group": "0/wc/traced/submit",
            "start": 0.0,
            "end": 3.0,
            "bytes_read": 4_000_000,
            "bytes_written": 1_000_000,
            "files_written": 5,
        },
        {"item": "wc", "name": "process", "group": "0/wc/traced/process", "start": 3.0, "end": 4.0},
    ]
    records = {
        "jobs": [_job(1, "0/wc/traced/submit", 0.1, 2.0, [1])],
        "stages": [_stage(1, 500)],
        "python": [],
    }
    m = tracing.layer_metrics(calls, records, cores=4)
    assert m["operators.submit_s"] == 3.0 and m["operators.process_s"] == 1.0
    assert m["operators.collect_mb"] == pytest.approx(0.5)
    assert m["sources.files_written"] == 5
    assert m["sources.write_amp"] == pytest.approx(0.25)
    assert m["plans.build_s"] == 0


def test_spans_link_spark_records_to_calls():
    calls, records = _pass()
    out = tracing.spans(0, calls, records)
    by_id = {s["id"]: s for s in out}
    assert len(by_id) == len(out)
    for s in out:
        assert s["parent"] is None or s["parent"] in by_id
        assert s["end"] >= s["start"]
    assert by_id["job1"]["parent"] == "0/q/traced/build"
    assert by_id["stage3.0"]["parent"] == "job3"
    assert by_id["task30"]["parent"] == "stage3.0"
    assert {s["item"] for s in out if s["name"] != "pass"} == {"q"}
