"""Per-query stage-level profiler (optimization rounds).

The session runs with the UI off, so the guide's "open the Stages
tab" loop is replaced by event-log parsing: run each named query
through the noop sink with a job description, then attribute wall
time to jobs and stages from the event log — stage wall,
sum-of-task executorRunTime, input/shuffle bytes, task count. This
is the measured basis for choosing what to optimize (guide §1.1).

Usage:
    python tools/profile_query.py q1_pricing_summary join_brand_revenue
    python tools/profile_query.py --set headline   # all 18
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_constants import EXTENDED, HEADLINE

EVLOG_DIR = "/tmp/spark-events-profile"


def get_profile_spark():
    """``session.get_spark()`` plus event logging. ``get_spark`` takes
    no extra confs, so the event-log confs go in through
    ``PYSPARK_SUBMIT_ARGS``, which pyspark reads when it launches the
    JVM: call this before any session exists in the process."""
    os.makedirs(EVLOG_DIR, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file:{EVLOG_DIR}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()]
        + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")]
    )
    from map_reduce_showcase_spark.session import get_spark

    return get_spark(app_name="mrs-profile")


def _open_event_log(app_id: str):
    """Handle both single-file and rolling (v2, zstd) event logs."""
    import glob
    import io

    single = os.path.join(EVLOG_DIR, app_id)
    if os.path.isfile(single):
        return open(single, encoding="utf-8")
    parts = sorted(glob.glob(os.path.join(EVLOG_DIR, f"eventlog_v2_{app_id}", "events_*")))
    if not parts:
        raise FileNotFoundError(f"no event log for {app_id} under {EVLOG_DIR}")
    if parts[0].endswith(".zstd"):
        import subprocess

        proc = subprocess.Popen(
            ["zstd", "-d", "-c", parts[0]], stdout=subprocess.PIPE
        )
        return io.TextIOWrapper(proc.stdout, encoding="utf-8")
    return open(parts[0], encoding="utf-8")


def parse_event_log(app_id: str) -> dict:
    """job id -> {desc, stages}; stage id -> metrics rollup."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with _open_event_log(app_id) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev.get("Submission Time", 0),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time", 0)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(
                    sid,
                    {
                        "run_ms": 0,
                        "input_mb": 0.0,
                        "sh_read_mb": 0.0,
                        "sh_write_mb": 0.0,
                        "spill_mb": 0.0,
                    },
                )
                st["name"] = si.get("Stage Name", "")
                st["n_tasks"] = si.get("Number of Tasks", 0)
                st["wall_ms"] = si.get("Completion Time", 0) - si.get(
                    "Submission Time", 0
                )
                st["details"] = (si.get("Details") or "").split("\n")[0]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    sid,
                    {
                        "name": "",
                        "n_tasks": 0,
                        "wall_ms": 0,
                        "run_ms": 0,
                        "input_mb": 0.0,
                        "sh_read_mb": 0.0,
                        "sh_write_mb": 0.0,
                        "spill_mb": 0.0,
                    },
                )
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["input_mb"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                ) / 1e6
                srm = tm.get("Shuffle Read Metrics") or {}
                st["sh_read_mb"] += (
                    srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                ) / 1e6
                st["sh_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ) / 1e6
                st["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    return {"jobs": jobs, "stages": stages}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--set" in sys.argv:
        which = sys.argv[sys.argv.index("--set") + 1]
        names = {"headline": HEADLINE, "extended": EXTENDED,
                 "all": HEADLINE + EXTENDED}[which]
    else:
        names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    shutil.rmtree(EVLOG_DIR, ignore_errors=True)
    from map_reduce_showcase_spark.plans import REGISTRY
    from map_reduce_showcase_spark.plans.registry import _load_all

    _load_all()
    spark = get_profile_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm-up pass (JVM/codegen/parquet footers) — not profiled
    sc.setJobDescription("warmup")
    for name in names:
        try:
            REGISTRY[name].builder(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
            REGISTRY[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {name} failed: {exc}", file=sys.stderr)

    walls: dict[str, float] = {}
    for name in names:
        sc.setJobDescription(f"Q:{name}")
        t0 = time.time()
        REGISTRY[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        walls[name] = time.time() - t0
        sc.setJobDescription(None)

    app_id = sc.applicationId
    spark.stop()
    time.sleep(1.0)
    rec = parse_event_log(app_id)

    for name in names:
        print(f"\n=== {name}: wall {walls[name]:.3f}s ===")
        q_jobs = {
            jid: j
            for jid, j in rec["jobs"].items()
            if j["desc"] == f"Q:{name}"
        }
        for jid in sorted(q_jobs):
            j = q_jobs[jid]
            jw = (j.get("t1", 0) - j.get("t0", 0)) / 1000.0
            print(f"  job {jid}: {jw:.3f}s wall")
            for sid in sorted(j["stages"]):
                st = rec["stages"].get(sid)
                if st is None or st.get("n_tasks", 0) == 0:
                    continue
                if "details" not in st:
                    continue  # submitted under another job / skipped
                print(
                    f"    stage {sid:>4} [{st['n_tasks']:>3}t] "
                    f"wall {st['wall_ms']/1000:6.3f}s "
                    f"taskSum {st['run_ms']/1000:7.3f}s "
                    f"in {st['input_mb']:7.1f}MB "
                    f"shR {st['sh_read_mb']:6.1f}MB "
                    f"shW {st['sh_write_mb']:6.1f}MB "
                    f" {st['name']}"
                )


if __name__ == "__main__":
    main()
