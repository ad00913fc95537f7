#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints TWO JSON lines: the full diagnostic record first, then a
compact FINAL line the driver grades:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...}
The split exists because the driver records only a ~2,000-char TAIL
of stdout: round 13's single grown line overflowed it and the head
("value" + 5 query timings) was truncated away (``BENCH_r13.json``
``parsed: null``). The final line is budget-capped at
``FINAL_LINE_BUDGET_BYTES`` and byte-budget-tested in
``tests/test_bench_contract.py``; everything that grows with stamps
(load samples, idle-wait trajectory, protocol prose, error details)
lives only on the diagnostic line.

Each query is fully materialized through the ``noop`` sink (compute
everything, collect nothing) so the number is engine time, not
driver-transfer time. One warm-up action runs first so JVM/codegen
startup is not billed to the first query.

Per-query timing is the MIN over ``$SPARK_GRAFT_BENCH_REPS``
(default 3) same-JVM runs — the scale sweep's protocol
(``tools/scale_sweep.py::run``): min is the noise-robust estimator
on a shared box because GC pauses, page-cache misses, and competing
processes only ever ADD time. Three consecutive rounds (r7-r9) of
cross-round comparisons on this single-run harness were dominated by
box-session variance the artifact could only annotate (r9: +24.7%
on a tree whose headline files were all untouched); the sweep never
had that problem because it adopted min-of-3 from the start.
"""

from __future__ import annotations

import gc
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_showcase_spark.plans import REGISTRY
from map_reduce_showcase_spark.plans.registry import _load_all
from map_reduce_showcase_spark.session import get_spark

# Shared with tools/ab_compare.py and tools/freshness_check.py via
# the engine-free constants module (ADVICE r13) — re-exported here so
# bench.BOX_LOAD_THRESHOLD_1M / bench.HEADLINE readers (tests, docs)
# keep a single source of truth without paying — or inheriting a
# failure from — the full registry import chain.
from bench_constants import (  # noqa: E402,F401
    BOX_LOAD_THRESHOLD_1M,
    BOX_LOAD_THRESHOLD_5M,
    EXTENDED,
    HEADLINE,
    IDLE_SETTLE_MIN_SEC,
    read_cpu_steal,
    steal_record,
)

#: Bounded wait-for-idle (round-12 verdict #2): ``box_load_ok:
#: false`` made a loaded run self-REPORTING, but the r12 driver run
#: still got graded at load 10.4 — the harness should spend bounded
#: wall-clock making the number good, not just annotating that it
#: isn't. Before creating the SparkSession the bench polls the 1m
#: loadavg every ``poll`` seconds until it drops under the threshold
#: or ``cap`` seconds elapse; the full trajectory is stamped so a
#: reader sees exactly what the box did. 600 s cap ≈ two residual
#: sweep/pytest sessions' 1m-average decay; override with
#: $SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC (tests set 0 — pytest itself
#: drives the load the wait would otherwise stall on).
IDLE_WAIT_CAP_SEC = 600.0
IDLE_WAIT_POLL_SEC = 30.0

#: Hard byte budget for the FINAL stdout line (r13 verdict #1). The
#: driver captures only a ~2,000-char stdout tail; 1,500 leaves a 25%
#: margin for trailing whitespace/log bleed. The budget is pinned by
#: tests/test_bench_contract.py against the worst-case shapes the real
#: HEADLINE/EXTENDED lists can produce (all-success with max-width
#: timings, and all-failed).
FINAL_LINE_BUDGET_BYTES = 1500


def compact_record(diag: dict) -> dict:
    """Driver-facing compact record derived from the full diagnostic
    record: everything the driver grades (metric/value/unit/queries/sf
    plus ``box_load_ok`` and the non-anchor extended timings), the
    fixed-size load/steal/probe context, nothing that grows with
    stamps. Error DETAILS stay on the diagnostic line; here failures
    are sorted name lists, so even the all-18-failing worst case stays
    inside the byte budget."""
    steal = diag.get("cpu_steal") or {}
    steal_headline = diag.get("cpu_steal_headline") or {}
    compact = {
        "metric": diag["metric"],
        "value": diag["value"],
        "unit": diag["unit"],
        "queries": diag["queries"],
        "n_measured": diag["n_measured"],
        "n_expected": diag["n_expected"],
        "sf": diag["sf"],
        "runs_per_query": diag["runs_per_query"],
        "box_load_ok": diag["box_load_ok"],
        # Recorded context, all fixed-size (~250 bytes together), so
        # a driver-parsed record carries the box state it ran under.
        # .get(): a stamp-less synthetic diag still compacts.
        # Run-level load and idle-gate stamps:
        "load_1m_at_start": diag.get("load_1m_at_start"),
        "loadavg_final": diag.get("loadavg_final"),
        "box_load_threshold_1m": diag.get("box_load_threshold_1m"),
        "box_settled": diag.get("box_settled"),
        "gate_criterion": diag.get("gate_criterion"),
        # hypervisor steal, % of guest CPU capacity and of demand, over
        # the whole measured span and over the headline window alone
        # (host-side contention no loadavg can see):
        "steal_pct": steal.get("steal_pct_of_capacity"),
        "steal_pct_demand": steal.get("steal_pct_of_demand"),
        "steal_pct_headline": steal_headline.get("steal_pct_of_capacity"),
        "steal_pct_demand_headline": steal_headline.get("steal_pct_of_demand"),
        # fixed-work host-speed probe [gate-pass, post-headline]:
        "cpu_work_probe_sec": diag.get("cpu_work_probe_sec"),
        "extended_queries": diag["extended_queries"],
        "diagnostics": "full record on preceding stdout line",
    }
    if diag.get("errors"):
        compact["failed"] = sorted(diag["errors"])
    if diag.get("extended_errors"):
        compact["extended_failed"] = sorted(diag["extended_errors"])
    # Runtime budget guard: the byte-budget test pins the default
    # HEADLINE/EXTENDED shapes, but SPARK_GRAFT_BENCH_SET=all sweeps
    # the whole registry, and its 171-entry queries dict (~6 KB) — or
    # a registry-wide FAILURE list (ADVICE r14: ~171 sorted names is
    # another ~4-5 KB the old loop never shrank) — would reintroduce
    # the r13 truncation. Degrade, never overflow: replace the
    # unbounded collections with a count (the full record on the
    # PRECEDING line keeps the detail) until the line fits.
    for victim in ("queries", "failed", "extended_queries", "extended_failed"):
        if len(json.dumps(compact).encode()) <= FINAL_LINE_BUDGET_BYTES:
            break
        if isinstance(compact.get(victim), (dict, list)) and compact[victim]:
            compact[victim] = (
                f"<{len(compact[victim])} entries — over final-line "
                "budget, see full record on preceding stdout line>"
            )
    # everything left is fixed-size; a line still over budget here is
    # a bug in THIS function, and overflowing silently is exactly the
    # r13 parsed:null failure — fail loudly instead. RuntimeError, not
    # assert (ADVICE r15): an assert is stripped under python -O /
    # PYTHONOPTIMIZE, silently reintroducing the oversized-line
    # failure mode this guard exists to prevent.
    line = json.dumps(compact).encode()
    if len(line) > FINAL_LINE_BUDGET_BYTES:
        raise RuntimeError(
            f"compact record {len(line)} bytes > {FINAL_LINE_BUDGET_BYTES} "
            "after degrading every unbounded field"
        )
    return compact


def wait_for_idle(
    cap_sec: float,
    poll_sec: float = IDLE_WAIT_POLL_SEC,
    threshold: float = BOX_LOAD_THRESHOLD_1M,
    threshold_5m: float = BOX_LOAD_THRESHOLD_5M,
    settle_min_sec: float = IDLE_SETTLE_MIN_SEC,
    sample=os.getloadavg,
    sleep=time.sleep,
) -> dict:
    """Poll the loadavg until the box is idle AND settled, or
    ``cap_sec`` elapses. Two criteria must hold to pass (r14 verdict
    #2 — the 1m threshold alone passed a run at load 1.58 that still
    read 1.25x its idle twin, because the 1m average decays minutes
    before a heavy job's residue actually drains):

    1. the 1m loadavg is under ``threshold``, and
    2. EITHER the 5m loadavg is under ``threshold_5m`` (idle on the
       5-minute scale too — the instant-pass path on a genuinely
       quiet box) OR at least ``settle_min_sec`` elapsed since the
       trajectory's last above-threshold 1m sample (bounded settle
       when the 5m average would take several more minutes to decay
       below threshold after a long heavy job). The settle clock
       starts at the wait's own start when no hot sample was ever
       observed — arriving mid-drain (1m already decayed, 5m still
       high) gets the same minimum settle.

    Returns a dict with the stamped record: ``load_trajectory_1m``,
    ``load_trajectory_5m``, ``waited_sec``, and ``gate_criterion``
    (``"1m_and_5m_idle"`` | ``"1m_idle_settled"`` |
    ``"cap_exhausted"``) so an unsettled (cap-exhausted) run says so in
    its own record.
    Comparisons use the ROUNDED samples so the stamped trajectory and
    the adjudicated booleans can't disagree at the boundary.
    ``sample`` (returning an ``os.getloadavg()``-shaped triple) and
    ``sleep`` are injectable so the contract test can drive every
    path — including the r14 must-wait trajectory — without a
    10-minute pytest stall."""
    traj_1m: list[float] = []
    traj_5m: list[float] = []
    waited = 0.0
    hot_anchor = None  # waited-time of the last 1m sample >= threshold
    criterion = "cap_exhausted"
    while True:
        la = sample()
        l1, l5 = round(la[0], 2), round(la[1], 2)
        traj_1m.append(l1)
        traj_5m.append(l5)
        if l1 >= threshold:
            hot_anchor = waited
        elif l5 < threshold_5m:
            criterion = "1m_and_5m_idle"
            break
        elif waited - (hot_anchor if hot_anchor is not None else 0.0) >= settle_min_sec:
            criterion = "1m_idle_settled"
            break
        if waited >= cap_sec:
            break
        step = min(poll_sec, cap_sec - waited)
        sleep(step)
        waited += step
    return {
        "load_trajectory_1m": traj_1m,
        "load_trajectory_5m": traj_5m,
        "waited_sec": round(waited, 1),
        "gate_criterion": criterion,
        "settle_min_sec": settle_min_sec,
        "threshold_5m": threshold_5m,
    }


def _measure_set(
    spark, names: list[str], sf_dir: str, reps: int, jvm_gc
) -> tuple[dict[str, float], dict[str, str], dict[str, list[float]]]:
    """Min-of-``reps`` same-JVM timing loop over ``names`` — shared by
    the anchor headline set and the non-anchor extended set so the two
    sections can never drift onto different protocols. Returns
    ``(times, errors, load_1m_samples)``; failure-isolated per query
    (round-2 lesson: one broken query must never destroy the whole
    artifact)."""
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    load_1m: dict[str, list[float]] = {}
    for name in names:
        best = math.inf
        l_before = os.getloadavg()[0]
        try:
            fn = REGISTRY[name].builder
            for _ in range(reps):
                # Drop dead python-side DataFrame refs BEFORE the JVM
                # gc (py4j keeps their JVM objects alive until python
                # collects the wrappers), then nudge the JVM: earlier
                # queries' localCheckpoint blocks are only released
                # when the ContextCleaner runs, which is GC-driven —
                # without this, query N is measured under query N-1's
                # cached partitions squeezing the shared local heap.
                gc.collect()
                jvm_gc()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — record and continue
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:300]
            print(f"bench: {name} FAILED: {msg}", file=sys.stderr)
        finally:
            load_1m[name] = [round(l_before, 2), round(os.getloadavg()[0], 2)]
    return times, errors, load_1m


def cpu_work_probe(reps: int = 3, mb: int = 256) -> float:
    """Min-of-``reps`` seconds for a FIXED unit of engine-independent
    work: memset ``mb`` MiB (memory-bandwidth-bound) + sha256 over it
    (per-core-compute-bound), both C-speed with the GIL released.

    Round 16 observed the failure mode this exists for: a headline
    total of 17.5 s (1.36x its clean baseline) on 0.18% headline-window
    steal — the host degraded the guest's effective speed (frequency
    cap / memory-bandwidth contention) in a way NO steal or loadavg
    stamp can see; only a lucky warm-up-arrival load sample caught it.
    This probe is the direct measurement: the work is constant and
    engine-free, so the stamped seconds track the box's effective
    speed and nothing else. Like steal, it is self-masking-safe: an
    engine regression cannot slow a probe that never touches the
    engine. Stamped before and after the headline loop as recorded
    context; ``perfbench/run.py`` stamps it too."""
    import hashlib

    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        buf = b"\x00" * (mb << 20)
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t0)
        del buf
    return round(best, 4)


def _reps_from_env() -> int:
    # clamp to >= 1: reps=0 would leave every `best` at math.inf and
    # json.dumps would emit the non-RFC `Infinity` token — breaking
    # the one-JSON-line contract with no error recorded anywhere.
    # A NON-NUMERIC value falls back to 3 the same way (ADVICE r10:
    # an uncaught ValueError here aborted before any JSON printed —
    # the exact broken-artifact mode the clamp exists to prevent).
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    except ValueError:
        print(
            "bench: ignoring non-numeric SPARK_GRAFT_BENCH_REPS="
            f"{os.environ['SPARK_GRAFT_BENCH_REPS']!r}, using 3",
            file=sys.stderr,
        )
        return 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # External-load reading taken BEFORE any Spark work (r11 verdict
    # #4): the per-query samples below include the bench's own decay
    # (warm-up alone pushes the 1m average past any idle threshold on
    # local[32]), so the one sample that cleanly discriminates "box
    # was busy when the run started" is this pre-SparkSession one —
    # and since r13 the bench WAITS (bounded) for it to go idle
    # before falling through to ``box_load_ok: false``.
    try:
        idle_cap = max(
            0.0,
            float(
                os.environ.get(
                    "SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC", IDLE_WAIT_CAP_SEC
                )
            ),
        )
    except ValueError:
        print(
            "bench: ignoring non-numeric SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC="
            f"{os.environ['SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC']!r}, "
            f"using {IDLE_WAIT_CAP_SEC}",
            file=sys.stderr,
        )
        idle_cap = IDLE_WAIT_CAP_SEC
    gate = wait_for_idle(idle_cap)
    load_at_start = gate["load_trajectory_1m"][-1]
    # settled iff the gate passed on a criterion, not by burning the
    # cap (r14 verdict #2): a cap-exhausted exit means the box was
    # either still loaded on the 1m scale or inside the settle window
    # of a recent heavy job when measurement began
    box_settled = gate["gate_criterion"] != "cap_exhausted"
    _load_all()
    # SPARK_GRAFT_BENCH_SET=all sweeps every registered query instead
    # of the stable 18-query headline set (which stays the default so
    # cross-round totals compare like sets) — the local profiling mode
    # used to catch scale pathologies outside the headline window.
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_SET") == "all"
    headline = list(REGISTRY) if bench_all else HEADLINE
    # the "all" sweep already contains every extended query — running
    # the section would just measure four names twice in one artifact
    extended = [] if bench_all else [q for q in EXTENDED if q not in headline]
    reps = _reps_from_env()
    # steal window opens AFTER the idle gate (steal during an idle
    # wait is ~0 by construction and would only dilute the percentage)
    steal0 = read_cpu_steal()
    # effective-host-speed probe (r16): fixed engine-free work timed at
    # gate-pass — the only stamp that sees frequency-cap / memory-
    # bandwidth degradation (observed live: 1.36x headline on 0.18%
    # steal). A second reading after the headline shows whether the
    # box's speed CHANGED during the run.
    calib_pre = cpu_work_probe()
    spark = get_spark(app_name="mrs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # The accumulator-GC ERROR spam (Python GC reaps accumulators
    # while late tasks report in) starts during the rapid-fire
    # warm-up, not just the measured loop — silence below FATAL for
    # BOTH phases so the artifact tail stays clean; real failures
    # still surface via the errors dict and stderr prints.
    spark.sparkContext.setLogLevel("FATAL")

    # warm-up: JVM, whole-stage codegen, Python worker pool, parquet
    # footer caches — run EVERY headline query once at the smallest
    # SF so plan construction + codegen compilation (identical plan
    # shapes, cached by the JVM) isn't billed to the measured sf0.1
    # runs. Warm-up failures are ignored; the measured loop records
    # them properly.
    warm_sf = "/root/testdata/sf0.001"
    for name in headline + extended:
        try:
            REGISTRY[name].builder(spark, warm_sf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    jvm_gc = spark.sparkContext._jvm.System.gc  # noqa: SLF001
    # 1-minute loadavg sampled around each query (round-10 verdict
    # #4): the min-of-3 protocol kills within-JVM noise, but a loaded
    # BOX still inflates a whole driver run (r10: 17.2 s driver-graded
    # vs 11.9 s idle on identical code) — with the samples in the
    # artifact that call needs no cross-referencing. On local[32] the
    # bench itself drives load toward ~32 while a query runs; what the
    # samples discriminate is a NONZERO BASELINE before the first
    # query and between-queries floors well above the core count.
    times, errors, load_1m = _measure_set(spark, headline, sf_dir, reps, jvm_gc)
    # HEADLINE-window steal record, closed right here: the run-level
    # window below also spans the extended section, which would dilute
    # (or dominate) a burst that landed in the headline loop. Window =
    # idle gate -> end of the headline loop, including session creation
    # and the warm-up pass.
    cpu_steal_headline = steal_record(steal0, read_cpu_steal())
    calib_post = cpu_work_probe()
    # Non-anchor extended section, same JVM, right after the headline:
    # the headline stays the first measured thing in the process, as it
    # has been since round 10.
    ext_times, ext_errors, ext_load = _measure_set(
        spark, extended, sf_dir, reps, jvm_gc
    )

    spark.sparkContext.setLogLevel("ERROR")
    total = round(sum(times.values()), 3)
    # steal window over the whole measured span (headline + extended):
    # hypervisor-denied cycles are the one external load no guest
    # loadavg stamp can see (round 15: 8.2% of capacity stolen on a
    # clean-gate run). Recorded context, like every load stamp.
    cpu_steal = steal_record(steal0, read_cpu_steal())
    out = {
        "metric": "headline_queries_total_sec",
        # A partial total compares unlike sets across rounds, so when
        # any query failed the headline value is null — consumers must
        # look at "queries"/"errors" instead of misreading a partial
        # sum as a full-run total.
        "value": total if not errors else None,
        "unit": "sec",
        "queries": times,
        "n_measured": len(times),
        "n_expected": len(headline),
        "sf": sf,
        # Self-describing comparability. Since round 10 each query is
        # the MIN over ``runs_per_query`` same-JVM runs (the sweep's
        # protocol) — totals are NOT comparable to the single-run
        # figures of BENCH_r01..r09. Cross-round totals are box state
        # as much as code: only paired runs (``perfbench/compare.py``,
        # ``tools/ab_compare.py``) attribute a difference to a change.
        "runs_per_query": reps,
        "protocol": (
            f"min of {reps} same-JVM runs per query after a full "
            f"sf0.001 warm-up pass; gc.collect + JVM System.gc "
            f"between runs"
        ),
        # per-query [before, after] 1-minute loadavg samples plus the
        # full (1m, 5m, 15m) triple at artifact time: the box state a
        # reader needs to interpret the total, without cross-
        # referencing other artifacts.
        "load_1m_per_query": load_1m,
        "loadavg_final": [round(x, 2) for x in os.getloadavg()],
        # Self-ADJUDICATING box-load verdict (r11 verdict #4 — raw
        # samples still required a grader to interpret them by hand):
        # ok iff the 1m loadavg BEFORE any Spark work was under the
        # threshold. Sampled pre-SparkSession, not pre-first-query —
        # the warm-up pass alone drives the 1m average well past any
        # idle threshold on local[32], so the pre-first-query sample
        # (r11: 4.34 after warm-up) conflates the bench's own load
        # with the box's. 2.0 on this 32-core box = ~6% busy, ample
        # margin over a truly idle baseline while catching any
        # concurrent JVM/sweep/pytest session (those run 8-32 wide).
        # adjudicated on the ROUNDED stamped value so the artifact is
        # self-consistent (a reader re-deriving ok from the fields
        # must get the same boolean, including at the boundary).
        # Since r15 "ok" additionally requires the SETTLE criterion
        # (r14 verdict #2): the 1m threshold alone passed a run at
        # load 1.58 that still read 1.25x its idle twin while the box
        # drained a just-finished heavy job.
        "box_load_threshold_1m": BOX_LOAD_THRESHOLD_1M,
        "load_1m_at_start": round(load_at_start, 2),
        "box_settled": box_settled,
        "gate_criterion": gate["gate_criterion"],
        "box_load_ok": (
            round(load_at_start, 2) < BOX_LOAD_THRESHOLD_1M and box_settled
        ),
        # Bounded wait-for-idle record (r12 verdict #2): the samples
        # the bench took while waiting for the box to go idle, plus
        # how long it actually waited and WHICH criterion let it
        # proceed (r14 verdict #2). ``load_1m_at_start`` above is
        # the LAST trajectory sample — i.e. post-wait — so a run that
        # still stamps ``box_load_ok: false`` did so only after
        # burning the full cap without the box going idle+settled.
        "idle_wait": {
            "cap_sec": idle_cap,
            "poll_sec": IDLE_WAIT_POLL_SEC,
            **gate,
        },
        "cpu_steal": cpu_steal,
        "cpu_steal_headline": cpu_steal_headline,
        # fixed-work host-speed probe (r16), [gate-pass, post-headline]:
        # identical work, so a rise between the two means the box's
        # effective speed DEGRADED during the run — the signal steal
        # cannot see.
        "cpu_work_probe_sec": [calib_pre, calib_post],
    }
    if errors:
        out["errors"] = errors
    # Non-anchor trend section (r12 verdict #4): same min-of-N
    # protocol; NOT in "value" and its failures never null the anchor
    # total — the headline set stays the frozen 18 so totals compare
    # like sets. Per-query [before, after] load samples too (r13
    # verdict #3: pagerank's 1.34x-vs-idle driver point was
    # unexplainable because these samples were measured then dropped).
    out["extended_queries"] = ext_times
    out["extended_note"] = (
        "non-anchor sf-dir trend for the sweep heavies; same JVM, "
        "measured after the headline; excluded from 'value'"
    )
    out["extended_load_1m_per_query"] = ext_load
    if ext_errors:
        out["extended_errors"] = ext_errors
    # Two-line artifact (r13 verdict #1): full diagnostic record
    # first, compact budget-capped record LAST — the driver's ~2,000-
    # char stdout tail capture must always contain the whole final
    # line (BENCH_r13.json parsed:null is what one grown line does).
    print(json.dumps(out))
    print(json.dumps(compact_record(out)))


if __name__ == "__main__":
    main()
