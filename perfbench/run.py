#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload core-sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. One client process makes one call at a
time into the engine's public functions on ``local[<cores>]``:

* query workloads: ``REGISTRY[name].builder(spark, data_dir)`` then a
  ``noop`` write of the returned DataFrame, for each item;
* ``jobs-files``: ``operators.jobs.submit_job`` then ``process_job`` for
  each reference app, writing ``n_reduce`` output files.

A run generates its inputs (seed-independent tables are built once per
checkout and cached under ``perfbench/.work``), starts the session, runs
one untimed pass whose outputs are checked against DuckDB oracles or the
Python app models (this pass is also the warm-up, followed by the
workload's untimed warm passes, if any), then runs timed passes until
``--seconds`` have passed. The seed orders the items of every pass
and generates the ``jobs-files`` corpus.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
item plain and traced and prints the per-layer metrics (see
``tracing.py``), writing the span file under ``perfbench/.work/results``.
``DESIGN.md`` describes the workloads and metrics.
The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full record, stamped with the input fingerprint.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
# the engine's tree comes first, so that a checkout without it fails fast
sys.path.insert(0, ROOT)

from bench_constants import HEADLINE  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

#: seed of the generated tables; fixed so that every run of a query
#: workload measures the same inputs and oracle digests stay cached
TABLE_SEED = 42
#: ``jobs-files`` corpus size and reduce fan-out
JOBS_TEXT_MB = 4.0
JOBS_EDGE_MB = 4.0
JOBS_N_REDUCE = 5


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "query" or "jobs"
    items: tuple[str, ...]
    sf: float | None = None
    #: untimed passes after the check pass. Right after the check pass a
    #: ``jobs-files`` pass is still about 15% slower than the next one,
    #: and one more pass costs 6 s; a ``core-sf0.1`` pass costs 16-18 s,
    #: which the run budget cannot spare
    warm_passes: int = 0


#: the headline queries plus one UDTF and one ``mapInPandas`` item, so
#: that the Python-worker path is measured too
_CORE = tuple(HEADLINE) + ("udtf_overlap_chunks", "multimodal_decode_meta")

WORKLOADS = {
    w.name: w
    for w in (
        Workload("core-sf0.1", "query", _CORE, sf=0.1),
        Workload("jobs-files", "jobs", ("wc", "grep", "vertex-degree"), warm_passes=1),
    )
}


class Tally:
    """Item executions attempted and failed over a run. An execution
    fails when it raises or when its output fails the check."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []

    def record(self, item: str, phase: str, why: str | None) -> bool:
        self.attempted += 1
        if why is not None:
            self.failures.append({"item": item, "phase": phase, "why": why[:300]})
        return why is None

    @property
    def failed(self) -> int:
        return len(self.failures)

    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate_writes() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout. Must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())


def _prepare_tables(sf: float) -> tuple[str, str]:
    """Directory of the generated tables (built on first use) and their
    fingerprint. The directory is named after the generator's source too,
    so an edited generator never reuses tables an older one wrote."""
    with open(gen.__file__, "rb") as fh:
        gen_hash = hashlib.sha256(fh.read()).hexdigest()[:12]
    data_dir = os.path.join(WORK, "data", f"sf{sf}-seed{TABLE_SEED}-gen{gen_hash}")
    stamp = os.path.join(data_dir, "FINGERPRINT")
    if not os.path.exists(stamp):
        shutil.rmtree(data_dir, ignore_errors=True)
        tmp_dir = f"{data_dir}.tmp"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        paths = gen.write_tables(tmp_dir, sf, TABLE_SEED)
        with open(os.path.join(tmp_dir, "FINGERPRINT"), "w") as fh:
            fh.write(gen.fingerprint(paths))
        os.replace(tmp_dir, data_dir)
    with open(stamp) as fh:
        fp = fh.read().strip()
    return data_dir, fp


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class QueryRunner:
    """Registered queries: a builder call, then a ``noop`` write. The
    tables and the oracle records are prepared before Spark starts."""

    def __init__(self, workload: Workload):
        from map_reduce_showcase_spark.plans.registry import REGISTRY, _load_all

        _load_all()
        self.specs = {n: REGISTRY[n] for n in workload.items}
        oracles = {n: s.oracle for n, s in self.specs.items()}
        missing = [n for n, sql in oracles.items() if sql is None]
        if missing:
            raise ValueError(f"items without an oracle: {missing}")
        self.data_dir, self.fingerprint = _prepare_tables(workload.sf)
        os.makedirs(os.path.join(WORK, "oracle"), exist_ok=True)
        self.want = check.oracle_records(
            self.data_dir,
            oracles,
            os.path.join(WORK, "oracle", f"{self.fingerprint}.json"),
        )

    def check(self, spark, item: str) -> tuple[str | None, float]:
        """Build and collect ``item``; returns (failure or None, seconds
        spent comparing)."""
        spec = self.specs[item]
        spark.sparkContext.setJobGroup(f"check/{item}", "check")
        got = spec.builder(spark, self.data_dir).toPandas()
        t0 = time.perf_counter()
        why = check.query_failure(check.describe(got), self.want[item], spec.tags)
        return why, time.perf_counter() - t0

    def run(self, spark, item: str, group: str, records) -> list[dict]:
        """One timed item; returns its call spans. ``records`` is the
        traced pass's :class:`tracing.SparkRecords`, or None."""
        sc = spark.sparkContext
        calls: list[dict] = []

        def call(name: str, fn):
            sc.setJobGroup(f"{group}/{name}", name)
            start = time.time()
            out = fn()
            span = {"item": item, "name": name, "group": f"{group}/{name}", "start": start}
            span["end"] = time.time()
            if records is not None:
                span["storage_bytes"] = records.storage_bytes()
            calls.append(span)
            return out, span

        df, _ = call("build", lambda: self.specs[item].builder(spark, self.data_dir))
        if records is not None:
            # the noop write plans its own command, so the DataFrame's
            # tracker only holds analysis unless planning is forced here
            qe = df._jdf.queryExecution()
            _, span = call("catalyst", qe.executedPlan)
            span["phases"] = {}
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                span["phases"][kv._1()] = kv._2().durationMs()
        call("execute", lambda: df.write.format("noop").mode("overwrite").save())
        return calls


class JobsRunner:
    """The reference apps: ``submit_job`` then ``process_job``. The
    corpus and the models' expected outputs are built from the seed
    before Spark starts."""

    def __init__(self, seed: int):
        self.root = os.path.join(WORK, "jobs", f"seed{seed}")
        shutil.rmtree(self.root, ignore_errors=True)
        corpus = gen.write_jobs_corpus(
            os.path.join(self.root, "in"), seed, JOBS_TEXT_MB, JOBS_EDGE_MB
        )
        text, edges, term = corpus["text_files"], corpus["edge_files"], corpus["grep_term"]
        self.fingerprint = gen.fingerprint(text + edges)
        self.inputs = {"wc": text, "grep": text, "vertex-degree": edges}
        self.args = {"wc": [], "grep": ["--term", term], "vertex-degree": []}
        self.want = {
            "wc": check.expected_wc(text),
            "grep": check.expected_grep(text, term),
            "vertex-degree": check.expected_vertex_degree(edges),
        }
        self.bytes_in = {
            app: sum(os.path.getsize(p) for p in ps) for app, ps in self.inputs.items()
        }

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def _submit_process(self, spark, app: str, group: str, calls: list[dict]) -> str | None:
        from map_reduce_showcase_spark.operators.jobs import process_job, submit_job

        sc = spark.sparkContext
        out_dir = os.path.join(self.root, "out", app)
        sc.setJobGroup(f"{group}/submit", "submit")
        start = time.time()
        sub = submit_job(
            spark, app, self.inputs[app], out_dir, n_reduce=JOBS_N_REDUCE, args=self.args[app]
        )
        mid = time.time()
        sc.setJobGroup(f"{group}/process", "process")
        proc = process_job(spark, app, out_dir)
        end = time.time()
        parts = [os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.startswith("part-")]
        calls.append(
            {
                "item": app,
                "name": "submit",
                "group": f"{group}/submit",
                "start": start,
                "end": mid,
                "bytes_read": self.bytes_in[app],
                "bytes_written": sum(os.path.getsize(p) for p in parts),
                "files_written": len(parts),
            }
        )
        calls.append(
            {"item": app, "name": "process", "group": f"{group}/process", "start": mid, "end": end}
        )
        if sub.output != self.want[app]:
            return "submit output differs from the model"
        if proc.output != self.want[app]:
            return "process output differs from the model"
        if not 0 < sub.n_output_files <= JOBS_N_REDUCE:
            return f"{sub.n_output_files} output files for n_reduce={JOBS_N_REDUCE}"
        return None

    def check(self, spark, item: str) -> tuple[str | None, float]:
        return self._submit_process(spark, item, f"check/{item}", []), 0.0

    def run(self, spark, item: str, group: str, records) -> list[dict]:
        calls: list[dict] = []
        why = self._submit_process(spark, item, group, calls)
        if why is not None:
            raise RuntimeError(why)
        return calls


def _host_context(steal0, load0) -> dict:
    """Recorded context only: never used to adjust or excuse a number."""
    from bench import cpu_work_probe
    from bench_constants import read_cpu_steal, steal_record

    return {
        "steal": steal_record(steal0, read_cpu_steal()),
        "loadavg_start": load0,
        "loadavg_end": list(os.getloadavg()),
        "cpu_work_probe_s": cpu_work_probe(reps=3, mb=64),
    }


def _item_error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0]


def run(workload: Workload, seed: int, seconds: float, traced_run: bool) -> tuple[dict, dict]:
    """One benchmark run; returns (result object, full record)."""
    t_start = time.perf_counter()
    from bench_constants import read_cpu_steal
    from map_reduce_showcase_spark.session import get_spark

    t0 = time.perf_counter()
    runner = QueryRunner(workload) if workload.kind == "query" else JobsRunner(seed)
    excluded = time.perf_counter() - t0  # input generation and output checks
    _isolate_writes()

    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("FATAL")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tally = Tally()
    rng = random.Random(seed)
    order = list(workload.items)
    try:
        # the check pass, which is also the warm-up
        rng.shuffle(order)
        t0 = time.perf_counter()
        compare_s = 0.0
        for item in order:
            try:
                why, spent = runner.check(spark, item)
            except Exception as exc:  # noqa: BLE001 - a failing item is counted, not fatal
                why, spent = _item_error(exc), 0.0
            compare_s += spent
            tally.record(item, "check", why)
        for k in range(workload.warm_passes):
            rng.shuffle(order)
            for item in order:
                try:
                    runner.run(spark, item, f"warm/{k}/{item}", None)
                    why = None
                except Exception as exc:  # noqa: BLE001
                    why = _item_error(exc)
                tally.record(item, "warm", why)
        warmup_s = time.perf_counter() - t0 - compare_s
        setup_s = time.perf_counter() - t_start - excluded - compare_s

        records = None
        if traced_run:
            records = tracing.SparkRecords(spark)
            records.read_new(set())  # skip the check and warm passes
        steal0, load0 = read_cpu_steal(), list(os.getloadavg())
        passes: list[dict] = []
        plain_s: dict[str, list[float]] = {i: [] for i in workload.items}
        traced_s: dict[str, list[float]] = {i: [] for i in workload.items}
        t_timed = time.perf_counter()
        while not passes or time.perf_counter() - t_timed < seconds:
            pass_no = len(passes)
            rng.shuffle(order)
            calls: list[dict] = []
            t_pass = time.perf_counter()
            for k, item in enumerate(order):
                # a traced run runs each item plain and traced back to
                # back, first one way then the other, so that the
                # overhead compares neighbours in time
                modes = [False]
                if traced_run:
                    modes = [False, True] if (pass_no + k) % 2 == 0 else [True, False]
                for traced in modes:
                    group = f"{pass_no}/{item}/{'traced' if traced else 'plain'}"
                    t_item = time.perf_counter()
                    try:
                        got = runner.run(spark, item, group, records if traced else None)
                        why = None
                    except Exception as exc:  # noqa: BLE001
                        got, why = [], _item_error(exc)
                    (traced_s if traced else plain_s)[item].append(time.perf_counter() - t_item)
                    tally.record(item, "timed", why)
                    if traced:
                        calls += got
            rec = {"wall_s": time.perf_counter() - t_pass}
            if traced_run:
                rec["calls"] = calls
                rec["records"] = records.read_new({c["group"] for c in calls})
            passes.append(rec)
        timed_s = time.perf_counter() - t_timed
        host = _host_context(steal0, load0)
        rss_mb = _vm_hwm_mb(jvm_pid)
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        if isinstance(runner, JobsRunner):
            runner.close()
        teardown_s = time.perf_counter() - t0

    item_medians = {i: stats.median(v) for i, v in plain_s.items()}
    record = {
        "workload": workload.name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced_run),
        "input_fingerprint": runner.fingerprint,
        "cores": _cores(),
        "clients": 1,
        "items": {i: stats.summary(v) for i, v in plain_s.items()},
        "passes": [p["wall_s"] for p in passes],
        "failures": tally.failures,
        "host": host,
        # recorded, not gated: G1 heap growth makes it vary by 20-50%
        # between runs of the same code
        "jvm_peak_rss_mb": rss_mb,
        "run_phases_s": {
            "inputs_and_checks": excluded + compare_s,
            "session": get_spark_s,
            "warmup": warmup_s,
            "timed": timed_s,
            "teardown": teardown_s,
            "total": time.perf_counter() - t_start,
        },
    }
    if not traced_run:
        pass_s = [p["wall_s"] for p in passes]
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (stats.median(pass_s), "s"),
            "query_geomean_s": (stats.geomean(list(item_medians.values())), "s"),
            "ok_frac": (1.0 - tally.fail_frac(), "frac"),
        }
        record["pass_s"] = stats.summary(pass_s)
    else:
        traced_medians = {i: stats.median(v) for i, v in traced_s.items()}
        metrics = _per_layer(passes, get_spark_s, warmup_s, item_medians, traced_medians)
        record["items_traced"] = {i: stats.summary(v) for i, v in traced_s.items()}
        spans_path = os.path.join(WORK, "results", f"{workload.name}-seed{seed}.spans.jsonl")
        _write_spans(spans_path, passes)
        record["spans"] = os.path.relpath(spans_path, ROOT)
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    record["fail_frac"] = tally.fail_frac()
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def _per_layer(passes, get_spark_s, warmup_s, plain_medians, traced_medians) -> dict:
    """Per-layer metrics of a traced run: medians over its passes, plus
    the tracing overhead (traced vs plain item times, summed over items)
    and the share of plain item time the layers account for."""
    per_pass = [tracing.layer_metrics(p["calls"], p["records"], _cores()) for p in passes]
    plain = sum(plain_medians.values())
    out = {
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        "trace.overhead_frac": sum(traced_medians.values()) / plain - 1.0,
        "trace.coverage": stats.median([tracing.coverage_s(m) for m in per_pass]) / plain,
    }
    for name in per_pass[0]:
        out[name] = stats.median([m[name] for m in per_pass])
    return {k: (out[k], unit) for k, unit in tracing.PER_LAYER.items()}


def _write_spans(path: str, passes: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for pass_no, p in enumerate(passes):
            for s in tracing.spans(pass_no, p["calls"], p["records"]):
                fh.write(json.dumps(s) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    result, record = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    w = args.workload
    for name, m in result["metrics"].items():
        print(f"{w} {name} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        p = record["pass_s"]
        print(f"{w} pass_s samples n={p['n']} q1={p['q1']:.6g} q3={p['q3']:.6g}")
    print(f"{w} jvm_peak_rss_mb {record['jvm_peak_rss_mb']:.6g} MB")
    print(f"{w} fail_frac {record['fail_frac']:.6g} frac ({result['failed']}/{result['attempted']})")
    for f in record["failures"]:
        print(f"FAIL {f['item']} ({f['phase']}): {f['why']}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
